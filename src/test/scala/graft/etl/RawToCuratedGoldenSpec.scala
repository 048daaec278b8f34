package graft.etl

import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.CacheProbe

import graft.SparkSpec

/** Raw→curated end-to-end golden (VERDICT r1 gap #3): hand-written
  * multi-currency raw CSVs through Pipeline.runMonth with HAND-COMPUTED
  * expected fact and KPI values — closing the FX-join gap that
  * GoldenParitySpec skips by starting from the committed fact.
  * Covers transform.py:19–46 (rate lookup, base pinned at 1.0,
  * amount_base = round(amount·rate, 2)) and :49–110 (per-source
  * conformance: expenses negated, payroll at month-end as −net,
  * inventory qty×unit_cost signed by movement), plus the missing-rate
  * fail-fast (:40–42). The same close then runs through StarSchema and
  * BiExport, pinning without the reference tree what GoldenParitySpec
  * and DqAuditGoldenSpec pin against it: dim surrogate keys, first
  * currency per entity, KPI margins, and the DQ audit and data
  * dictionary bytes, and the dashboard's three chart inputs. A copy of
  * the raw files with one ERROR and one WARN defect pins the rejected
  * close's audit bytes.
  *
  * FX rates are binary-exact (1.25, 0.0004 & friends) so every expected
  * value is a hand-checkable 2-decimal number.
  */
class RawToCuratedGoldenSpec extends SparkSpec {

  private def writeRaw(raw: String, tzsRateRows: Seq[String]): Unit = {
    val dir = java.nio.file.Paths.get(raw)
    java.nio.file.Files.createDirectories(dir)
    def put(name: String, lines: String*): Unit =
      java.nio.file.Files.writeString(dir.resolve(name), lines.mkString("", "\n", "\n"))
    put("sales.csv",
      "date,entity,invoice_id,account_code,currency,amount,description",
      "2025-12-05,TLM,INV-001,40000001,USD,100.50,usd sale",
      "2025-12-06,TLM,INV-002,40000002,EUR,200.00,eur sale",
      "2025-12-07,UPE,INV-003,40000001,TZS,50000,tzs sale")
    put("expenses.csv",
      "date,entity,bill_id,account_code,currency,amount,description",
      "2025-12-08,TLM,BILL-001,62000001,EUR,80.00,eur rent",
      "2025-12-09,UPE,BILL-002,63000001,USD,45.25,usd travel")
    put("payroll.csv",
      "month,entity,employee_id,currency,gross,deductions,net",
      "2025-12,TLM,E-001,USD,1000,100,900",
      "2025-12,UPE,E-002,EUR,500,50,450")
    put("inventory_movements.csv",
      "date,entity,sku,movement_type,qty,unit_cost,currency",
      "2025-12-10,TLM,SKU-1,receipt,3,2.50,USD",
      "2025-12-11,TLM,SKU-2,issue,4,1.25,USD",
      "2025-12-12,UPE,SKU-3,adjustment,2000,3.00,TZS")
    put("fx_rates.csv",
      (Seq("date,from_currency,to_currency,rate",
        "2025-12-06,EUR,USD,1.25",
        "2025-12-08,EUR,USD,1.25",
        "2025-12-31,EUR,USD,1.25") ++ tzsRateRows): _*)
  }

  private val tzsRates = Seq(
    "2025-12-07,TZS,USD,0.0004",
    "2025-12-12,TZS,USD,0.0004")

  /** the multi-currency close, run once and shared by the fact/KPI and
    * the export tests
    */
  private lazy val (base, out) = {
    val base = tmpDir("raw_golden")
    writeRaw(s"$base/raw", tzsRates)
    SampleData.writeChartOfAccounts(s"$base/ref")
    (base, Pipeline.runMonth(spark, Settings(), "2025-12",
      s"$base/raw", s"$base/curated", s"$base/ref"))
  }

  test("multi-currency close produces the hand-computed fact and kpi") {

    val fact = spark.read.parquet(out.fact)
      .orderBy("date", "entity", "source", "document_id")
      .collect()
      .map(r => (r.getAs[String]("txn_id"), r.getAs[java.sql.Date]("date").toString,
        r.getAs[String]("account_code"), r.getAs[String]("currency"),
        r.getAs[Double]("amount"), r.getAs[Double]("rate"), r.getAs[Double]("amount_base")))
      .toSeq

    // (txn_id, date, account, currency, amount, rate, amount_base) —
    // every number computed by hand from the fixture
    val expected = Seq(
      ("TLM|sales|INV-001",            "2025-12-05", "40000001", "USD",    100.50, 1.0,    100.50),
      ("TLM|sales|INV-002",            "2025-12-06", "40000002", "EUR",    200.00, 1.25,   250.00),
      ("UPE|sales|INV-003",            "2025-12-07", "40000001", "TZS",  50000.00, 0.0004,  20.00),
      ("TLM|expenses|BILL-001",        "2025-12-08", "62000001", "EUR",    -80.00, 1.25,  -100.00),
      ("UPE|expenses|BILL-002",        "2025-12-09", "63000001", "USD",    -45.25, 1.0,    -45.25),
      ("TLM|inventory|SKU-1_2025-12-10", "2025-12-10", "10000001", "USD",    7.50, 1.0,      7.50),
      ("TLM|inventory|SKU-2_2025-12-11", "2025-12-11", "50000001", "USD",   -5.00, 1.0,     -5.00),
      ("UPE|inventory|SKU-3_2025-12-12", "2025-12-12", "10000001", "TZS",  6000.00, 0.0004,   2.40),
      ("TLM|payroll|E-001_2025-12",    "2025-12-31", "61000001", "USD",   -900.00, 1.0,   -900.00),
      ("UPE|payroll|E-002_2025-12",    "2025-12-31", "61000001", "EUR",   -450.00, 1.25,  -562.50))
    assert(fact == expected,
      s"fact mismatch:\n got: ${fact.mkString("\n      ")}\nwant: ${expected.mkString("\n      ")}")

    val kpi = spark.read.parquet(out.kpi).orderBy("entity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Double]("Asset"),
        r.getAs[Double]("COGS"), r.getAs[Double]("Expense"), r.getAs[Double]("Revenue"),
        r.getAs[Double]("gross_profit"), r.getAs[Double]("operating_profit"))).toSeq
    // TLM: Rev 100.50+250.00, COGS −5.00, Exp −100.00−900.00, Asset 7.50
    // UPE: Rev 20.00, COGS 0 (unobserved for UPE, zero-filled), Exp
    //      −45.25−562.50, Asset 2.40
    val expectedKpi = Seq(
      ("TLM", "2025-12", 7.50, -5.00, -1000.00, 350.50, 345.50, -654.50),
      ("UPE", "2025-12", 2.40,  0.00,  -607.75,  20.00,  20.00, -587.75))
    assert(kpi == expectedKpi, s"kpi mismatch:\n got $kpi\nwant $expectedKpi")

    // observed-columns-only contract: no Liability column (COA has the
    // type; the fixture never hits it)
    assert(!spark.read.parquet(out.kpi).columns.contains("Liability"))
  }

  test("star and BI exports of the close match hand-computed keys, margins and audit bytes") {
    val fact = spark.read.parquet(out.fact)
    val dim = spark.read.parquet(out.dimAccounts)
    val kpi = spark.read.parquet(out.kpi)
    StarSchema.export(spark, fact, dim, kpi, "2025-12", s"$base/star")
    BiExport.export(spark, fact, dim, kpi, out.dqExceptions, out.dqSummary,
      "2025-12", s"$base/bi")
    def lines(f: String): Seq[String] =
      java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$base/$f"))
        .toArray(Array.empty[String]).toSeq
    def bytes(f: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(s"$base/$f"))

    // entity keys over the sorted entities; currency = each entity's
    // first fact row in (date, source, document_id) order: TLM's
    // INV-001 on 12-05 is USD, UPE's INV-003 on 12-07 is TZS
    assert(lines("star/dim_entity.csv") == Seq(
      "entity_key,entity,currency", "1,TLM,USD", "2,UPE,TZS"))

    // account keys 1..12 over the COA's codes in sorted order, not the
    // file's (revenue-first) order
    assert(lines("star/dim_account.csv") == Seq(
      "account_key,account_code,account_name,account_type",
      "1,10000001,Cash at Bank,Asset",
      "2,11000001,Accounts Receivable,Asset",
      "3,20000001,Accounts Payable,Liability",
      "4,21000001,VAT Payable,Liability",
      "5,40000001,Sales - Export,Revenue",
      "6,40000002,Sales - Local,Revenue",
      "7,50000001,COGS - Inventory,COGS",
      "8,61000001,Salaries & Wages,Expense",
      "9,61000002,Payroll Taxes,Expense",
      "10,62000001,Rent,Expense",
      "11,63000001,Travel & Subsistence,Expense",
      "12,64000001,Bank Charges,Expense"))

    // margin % = profit / Revenue · 100 on the KPI values pinned above:
    // TLM 345.50/350.50 and −654.50/350.50; UPE 20.00/20.00 and
    // −587.75/20.00 (exactly −2938.75)
    val kpiRows = lines("star/fact_kpi_monthly.csv")
    assert(kpiRows.head == "month_key,entity_key,Asset,COGS,Expense,Revenue," +
      "gross_profit,operating_profit,gross_margin_pct,operating_margin_pct")
    val got = kpiRows.tail.map(_.split(",").toSeq)
    assert(got.map(_.take(8)) == Seq(
      Seq("202512", "1", "7.5", "-5.0", "-1000.0", "350.5", "345.5", "-654.5"),
      Seq("202512", "2", "2.4", "0.0", "-607.75", "20.0", "20.0", "-587.75")))
    assert(got.map(r => (r(8).toDouble, r(9).toDouble)) == Seq(
      (345.50 / 350.50 * 100, -654.50 / 350.50 * 100),
      (100.0, -2938.75)))

    // the clean close's audit files, copied byte for byte into the BI
    // export: one PASS row per dataset, and a header-only exceptions file
    assert(bytes("bi/dq_summary.csv") ==
      """dataset,error_count,warn_count,issue_count,status
        |sales,0,0,0,PASS
        |expenses,0,0,0,PASS
        |payroll,0,0,0,PASS
        |inventory_movements,0,0,0,PASS
        |fx_rates,0,0,0,PASS
        |""".stripMargin)
    assert(bytes("bi/dq_exceptions.csv") ==
      "dataset,index,column,check,failure_case,schema_context,check_number,severity\n")
    assert(bytes("bi/data_dictionary.txt") == Seq(
      "month=2025-12",
      "fact_transactions.csv columns=['txn_id', 'date', 'entity', 'source', " +
        "'document_id', 'account_code', 'currency', 'amount', 'rate', " +
        "'amount_base', 'description', 'month']",
      "dim_accounts.csv columns=['account_code', 'account_name', 'account_type']",
      "kpi_monthly.csv columns=['entity', 'month', 'Asset', 'COGS', 'Expense', " +
        "'Revenue', 'gross_profit', 'operating_profit', 'gross_margin_pct', " +
        "'operating_margin_pct']",
      "dq_summary.csv columns=['dataset', 'error_count', 'warn_count', " +
        "'issue_count', 'status']",
      "dq_exceptions.csv columns=['dataset', 'index', 'column', 'check', " +
        "'failure_case', 'schema_context', 'check_number', 'severity']")
      .mkString("\n"))
  }

  test("the dashboard's chart inputs over the close are the hand-computed rows") {
    val fact = spark.read.parquet(out.fact)
    val dim = spark.read.parquet(out.dimAccounts)
    val kpi = spark.read.parquet(out.kpi)
    // Revenue per entity from the KPI test above: TLM 100.50 + 250.00,
    // UPE 20.00
    assert(Dashboard.topEntitiesByRevenue(kpi).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("TLM", 350.50), ("UPE", 20.00)))
    assert(Dashboard.kpiTrend(kpi, Seq("TLM", "UPE")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4))).toSeq ==
      Seq(("TLM", "2025-12", 350.50, 345.50, -654.50),
        ("UPE", "2025-12", 20.00, 20.00, -587.75)))
    // Σ|amount_base| over the Expense accounts: payroll 900.00 + 562.50,
    // rent 100.00 (80 EUR · 1.25), travel 45.25; COGS is not Expense
    assert(Dashboard.topExpenseAccounts(fact, dim).collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getDouble(2))).toSeq ==
      Seq(("61000001", "Salaries & Wages", 1462.50), ("62000001", "Rent", 100.00),
        ("63000001", "Travel & Subsistence", 45.25)))
  }

  test("a rejected close writes the hand-computed audit bytes and releases its caches") {
    val base = tmpDir("raw_golden_defects")
    writeRaw(s"$base/raw", tzsRates)
    def patch(file: String, from: String, to: String): Unit = {
      val p = java.nio.file.Paths.get(s"$base/raw/$file")
      val text = java.nio.file.Files.readString(p)
      assert(text.contains(from), s"$file has no '$from'")
      java.nio.file.Files.writeString(p, text.replace(from, to))
    }
    // ERROR: INV-002's date does not parse (a dtype failure on a key column)
    patch("sales.csv", "2025-12-06,TLM,INV-002", "not-a-date,TLM,INV-002")
    // WARN: E-002's deductions are negative (ge 0 on a non-key column);
    // net moves with them so the payroll identity still holds
    patch("payroll.csv", "2025-12,UPE,E-002,EUR,500,50,450", "2025-12,UPE,E-002,EUR,500,-50,550")
    SampleData.writeChartOfAccounts(s"$base/ref")
    spark.catalog.clearCache() // start from an empty cache, whatever ran before
    val thrown = intercept[Pipeline.DqGateFailedException] {
      Pipeline.runMonth(spark, Settings(), "2025-12",
        s"$base/raw", s"$base/curated", s"$base/ref", FailOn.Error)
    }
    assert(CacheProbe.noCachedPlans(spark), CacheProbe.leaked(spark))
    def bytes(path: String): String =
      java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    // rows sort by (dataset, check, index); both defects sit on row 1 of
    // their table's natural-key order ((TLM, INV-002); (UPE, E-002)), and
    // a null check_number is an empty field
    assert(bytes(thrown.exceptionsPath) ==
      """dataset,index,column,check,failure_case,schema_context,check_number,severity
        |payroll,1,deductions,greater_than_or_equal_to(0.0),-50.0,Column,,WARN
        |sales,1,date,dtype('date'),not-a-date,Column,,ERROR
        |""".stripMargin)
    // fail-on error: only the ERROR fails its dataset
    assert(bytes(thrown.summaryPath) ==
      """dataset,error_count,warn_count,issue_count,status
        |sales,1,0,1,FAIL
        |expenses,0,0,0,PASS
        |payroll,0,1,1,PASS
        |inventory_movements,0,0,0,PASS
        |fx_rates,0,0,0,PASS
        |""".stripMargin)
  }

  test("the dashboard escapes the corrupt input line of a close the gate would reject") {
    val base = tmpDir("raw_golden_html")
    writeRaw(s"$base/raw", tzsRates)
    val corrupt = "2025-12-13,TLM,INV-004,40000001,USD,1.00,<b>&</b>,extra"
    val sales = java.nio.file.Paths.get(s"$base/raw/sales.csv")
    java.nio.file.Files.writeString(sales,
      java.nio.file.Files.readString(sales) + corrupt + "\n")
    SampleData.writeChartOfAccounts(s"$base/ref")
    // the corrupt line is an ERROR, which rejects the close under the
    // default fail-on; fail-on never writes the outputs anyway
    val out = Pipeline.runMonth(spark, Settings(), "2025-12",
      s"$base/raw", s"$base/curated", s"$base/ref", FailOn.Never)
    val csv = spark.read.option("header", "true")
    assert(csv.csv(out.dqSummary).filter(col("dataset") === "sales")
      .select("error_count").collect().map(_.getString(0)).toSeq == Seq("1"))
    val html = Dashboard.buildHtml(spark,
      spark.read.parquet(out.fact), spark.read.parquet(out.dimAccounts),
      spark.read.parquet(out.kpi), csv.csv(out.dqExceptions), csv.csv(out.dqSummary),
      "2025-12")
    assert(html.contains(
      "<td>2025-12-13,TLM,INV-004,40000001,USD,1.00,&lt;b&gt;&amp;&lt;/b&gt;,extra</td>"))
    assert(!html.contains("<b>") && !html.contains("&</b>"))
    // account names reach the SVG labels escaped too
    assert(html.contains(">61000001 Salaries &amp; Wages</text>"))
    assert(!html.contains("Salaries & Wages"))
  }

  test("missing FX rate fail-fasts listing the exact (date, currency) pairs") {
    val base = tmpDir("raw_golden_missing_fx")
    writeRaw(s"$base/raw", tzsRates.tail) // drop the 2025-12-07 TZS rate
    SampleData.writeChartOfAccounts(s"$base/ref")
    val e = intercept[Transform.MissingFxRatesException] {
      Pipeline.runMonth(spark, Settings(), "2025-12",
        s"$base/raw", s"$base/curated", s"$base/ref")
    }
    assert(e.pairs == Seq(("2025-12-07", "TZS")), s"got ${e.pairs}")
  }

  test("more than 20 missing FX pairs list the first 20 in (date, currency) order") {
    val base = tmpDir("raw_golden_many_missing_fx")
    SampleData.write(s"$base/raw", "2025-12")
    SampleData.writeChartOfAccounts(s"$base/ref")
    val raw = java.nio.file.Paths.get(s"$base/raw")
    java.nio.file.Files.writeString(raw.resolve("fx_rates.csv"), "date,from_currency,to_currency,rate\n")
    // every non-USD fact row misses its rate: (date, currency) of the
    // dated sources in the month, and payroll posted on the month's end
    def rows(file: String): Seq[Array[String]] =
      java.nio.file.Files.readAllLines(raw.resolve(file)).toArray(Array.empty[String])
        .toSeq.tail.filter(_.nonEmpty).map(_.split(",", -1))
    val dated = Seq("sales.csv" -> 4, "expenses.csv" -> 4, "inventory_movements.csv" -> 6)
      .flatMap { case (f, cur) => rows(f).map(r => (r(0), r(cur))) }
      .filter(_._1.startsWith("2025-12"))
    val payroll = rows("payroll.csv").filter(_(0) == "2025-12").map(r => ("2025-12-31", r(3)))
    val all = (dated ++ payroll).filter(_._2 != "USD").distinct.sorted
    assert(all.size > 20, s"only ${all.size} missing pairs")
    val e = intercept[Transform.MissingFxRatesException] {
      Pipeline.runMonth(spark, Settings(), "2025-12",
        s"$base/raw", s"$base/curated", s"$base/ref")
    }
    assert(e.pairs == all.take(20), s"got ${e.pairs}")
  }
}
