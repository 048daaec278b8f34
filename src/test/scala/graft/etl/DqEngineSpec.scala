package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** DQ engine behavior ≙ reference quality.py semantics: lazy collection
  * of all violations, severity rules, summary counts, gate modes.
  */
class DqEngineSpec extends SparkSpec {
  import spark.implicits._

  private val settings = Settings()

  private def salesRaw(rows: Seq[(String, String, String, String, String, String, String)]) =
    rows.toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")

  test("clean sales produce zero exceptions") {
    val raw = salesRaw(Seq(
      ("2025-12-01", "TLM", "INV-1", "40000001", "USD", "100.5", "ok"),
      ("2025-12-02", "TLM", "INV-2", "40000001", "EUR", "10", "ok")))
    val ex = Audits.of(raw, Dq.salesSchema(settings)).exceptions
    assert(ex.isEmpty)
  }

  test("violations are all collected with the right checks and severities") {
    val raw = salesRaw(Seq(
      ("2025-12-01", "TLM", "INV-1", "40000001", "GBP", "100.5", "bad currency"), // isin → ERROR (currency col)
      ("not-a-date", "TLM", "INV-2", "40000001", "USD", "50", "bad date"),        // dtype → ERROR
      ("2025-12-03", "TLM", "INV-3", "40000001", "USD", "-7", "negative"),        // gt(0) → WARN (amount col)
      ("2025-12-04", "TLM", "INV-4", "40000001", "USD", "oops", "bad amount"),    // dtype → ERROR
      ("2025-12-05", "TLM", "INV-5", "40000001", "USD", "5", "dup"),
      ("2025-12-06", "TLM", "INV-5", "40000001", "USD", "6", "dup")))             // dup keys → WARN
    val ex = Dq.addSeverity(
      Audits.of(raw, Dq.salesSchema(settings)).exceptions).cache()

    val byCheck = ex.groupBy("check").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCheck("isin(USD, TZS, EUR)") == 1)
    assert(byCheck("dtype('date')") == 1)
    assert(byCheck("greater_than(0.0)") == 1)
    assert(byCheck("dtype('double')") == 1)
    assert(byCheck.exists { case (k, v) => k.startsWith("no_duplicates") && v == 1 })

    val sev = ex.select("check", "severity").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sev("isin(USD, TZS, EUR)") == "ERROR")   // currency is a key column
    assert(sev("dtype('date')") == "ERROR")
    assert(sev("greater_than(0.0)") == "WARN")
    assert(sev("dtype('double')") == "ERROR")        // dtype rule
    assert(sev.exists { case (k, v) => k.startsWith("no_duplicates") && v == "WARN" })
  }

  test("payroll identity violation is a single aggregate exception") {
    val raw = Seq(
      ("2025-12", "TLM", "E1", "USD", "1000", "100", "900"),
      ("2025-12", "TLM", "E2", "USD", "1000", "100", "850"))
      .toDF("month", "entity", "employee_id", "currency", "gross", "deductions", "net")
    val ex = Audits.of(raw, Dq.payrollSchema(settings)).exceptions
    assert(ex.filter(col("check") === "payroll_identity").count() == 1)
  }

  test("fx dataset violations are always ERROR") {
    val raw = Seq(("2025-12-01", "TZS", "USD", "-1"))
      .toDF("date", "from_currency", "to_currency", "rate")
    val ex = Dq.addSeverity(Audits.of(raw, Dq.fxSchema(settings)).exceptions)
    assert(ex.count() == 1)
    assert(ex.select("severity").head().getString(0) == "ERROR")
  }

  test("strict header enforcement reports unexpected and missing columns") {
    val raw = salesRaw(Seq(("2025-12-01", "TLM", "INV-1", "40000001", "USD", "1", "x")))
    val ex = Audits.of(raw, Dq.salesSchema(settings),
      header = Some(Seq("date", "entity", "invoice_id", "account_code",
        "currency", "amount", "description", "rogue_extra"))).exceptions
    val checks = ex.select("check").collect().map(_.getString(0))
    assert(checks.contains("column_in_schema"))
  }

  test("account_in_coa RI check finds unknown codes") {
    val df = salesRaw(Seq(
      ("2025-12-01", "TLM", "INV-1", "40000001", "USD", "1", "ok"),
      ("2025-12-02", "TLM", "INV-2", "99999999", "USD", "1", "bad")))
    val coa = Seq("40000001").toDF("account_code")
    // the rows are clean but for the code, so the audit is exactly the RI row
    val ex = Audits.of(df, Dq.salesSchema(settings), Some(coa)).exceptions
    val rows = ex.collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("failure_case") == "99999999")
    assert(Dq.addSeverity(ex).head().getAs[String]("severity") == "ERROR")
  }

  test("account_in_coa rows carry their natural-key index, duplicate keys included") {
    // the RI rows read the audit's one row index: rank in (entity,
    // invoice_id, then every other column) order. TLM/INV-2 is a
    // duplicate natural key whose rows both report, a null code reports
    // once, and a code the COA lists twice matches as if listed once.
    val df = salesRaw(Seq(
      ("2025-12-01", "TLM", "INV-1", "40000001", "USD", "1", "ok"),
      ("2025-12-02", "TLM", "INV-2", "99999999", "USD", "1", "bad"),
      ("2025-12-03", "ARK", "INV-9", "55555555", "USD", "2", "bad2"),
      ("2025-12-04", "TLM", "INV-2", "77777777", "USD", "3", "bad3"),
      ("2025-12-05", "ARK", "INV-10", null, "USD", "4", "no code")))
    val coa = Seq("40000001", "40000001").toDF("account_code")
    val ri = Audits.of(df, Dq.salesSchema(settings), Some(coa)).exceptions
      .filter(col("check") === "account_in_coa")
      .select("dataset", "index", "column", "failure_case", "schema_context", "check_number")
      .as[(String, Long, String, String, String, Option[Int])]
      .collect().sortBy(_._2).toSeq
    assert(ri == Seq(0L -> null, 1L -> "55555555", 3L -> "99999999", 4L -> "77777777")
      .map { case (i, code) => ("sales", i, "account_code", code, "Column", None) })
  }

  test("every exception generator writes exactly the dq_exceptions row") {
    val sales = Dq.salesSchema(settings)
    val typed = Audits.of(salesRaw(Seq(
      ("2025-12-01", "TLM", "INV-1", "99999999", "USD", "-1", "bad amount, unknown code"),
      ("2025-12-02", "TLM", "INV-1", "40000001", "USD", "1", "duplicate key"))), sales).typed
    val payroll = Dq.payrollSchema(settings)
    val payrollTyped = Audits.of(Seq(("2025-12", "TLM", "E1", "USD", "1000", "100", "850"))
      .toDF("month", "entity", "employee_id", "currency", "gross", "deductions", "net"), payroll).typed
    val csv = java.nio.file.Paths.get(tmpDir("generators"), "sales.csv")
    java.nio.file.Files.writeString(csv,
      "date,entity,invoice_id,account_code,currency,amount,description\n2025-12-01,TLM\n")
    val contract = Schemas.dqExceptions.fields.toSeq
    def conforms(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      assert(df.schema.fields.toSeq.map(f => (f.name, f.dataType)) == contract.map(f => (f.name, f.dataType)),
        s"$name: ${df.schema.simpleString}")
      val rows = df.collect()
      assert(rows.nonEmpty, s"$name wrote no row")
      contract.zipWithIndex.filterNot(_._1.nullable).foreach { case (f, i) =>
        assert(rows.forall(!_.isNullAt(i)), s"$name: null ${f.name}")
      }
      assert(rows.forall(_.isNullAt(contract.indexWhere(_.name == "check_number"))), name)
    }
    Seq(
      "column check" -> Dq.columnRows(typed, sales).head,
      "header" -> Dq.headerRows(spark, sales, Seq("date", "rogue")).head,
      "duplicate key" -> Dq.frameRows(typed, sales).head,
      "payroll identity" -> Dq.frameRows(payrollTyped, payroll).head,
      "account_in_coa" -> Dq.columnRows(typed,
        sales.copy(columnChecks = Seq(Dq.inCoa(Seq("40000001").toDF("account_code"))))).head
    ).foreach { case (name, df) => conforms(name, df) }
    graft.core.Caches.scoped { own =>
      conforms("corrupt line",
        EtlIO.readCsvRawAudited(spark, csv.toString, sales.schema, "sales", own).exceptions)
    }
  }

  test("summary has the five-dataset backbone with zero-fill and gate status") {
    val ex = Dq.addSeverity(
      Seq(("sales", 0L, "amount", "greater_than(0.0)", "-1", "Column", null: Integer))
        .toDF("dataset", "index", "column", "check", "failure_case", "schema_context", "check_number")
        .withColumn("check_number", col("check_number").cast("int")))
    // the counts of the collected audit rows feed both the summary and
    // the gate
    val counts = Dq.severityCounts(ex.collect().toSeq)
    assert(counts.size == 10 && counts(("sales", "WARN")) == 1 && counts.values.sum == 1)
    val sum = Dq.summaryTable(spark, counts, FailOn.Error).collect()
    assert(sum.map(_.getString(0)).toSeq ==
      Seq("sales", "expenses", "payroll", "inventory_movements", "fx_rates"))
    val sales = sum.head
    assert(sales.getAs[Long]("warn_count") == 1)
    assert(sales.getAs[Long]("error_count") == 0)
    assert(sales.getAs[String]("status") == "PASS") // ERROR mode ignores warns
    assert(Dq.overallStatus(counts, FailOn.Error) == "PASS")
    assert(Dq.overallStatus(counts, FailOn.Warn) == "FAIL")
    assert(Dq.overallStatus(counts, FailOn.Never) == "PASS")
  }
}
