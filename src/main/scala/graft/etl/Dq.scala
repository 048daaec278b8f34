package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality engine ≙ reference quality.py (SURVEY §2.9
  * V1–V8): per-column and per-dataframe checks compiled to Column
  * predicates, evaluated lazily into a unioned exceptions DataFrame —
  * validation never filters rows, it only reports. Severity, summary and
  * the gate reproduce quality.py:123–249.
  *
  * Scale: every column check is a narrow filter over one scan (Catalyst
  * collapses the per-check filters into one pass via union + column
  * pruning); dataframe checks are single aggregates. Nothing here
  * collects raw data to the driver.
  */
object Dq {

  /** A named violation predicate over one column: a row is an exception
    * when `violation` is true. `checkNo` mirrors pandera's check_number.
    */
  final case class ColumnCheck(column: String, name: String, violation: Column, checkNo: Option[Int] = None)

  /** Whole-dataframe check returning exception rows already in the
    * [[Schemas.dqExceptions]] shape (minus dataset).
    */
  final case class FrameCheck(name: String, exceptions: DataFrame => DataFrame)

  /** Table contract: typed schema + natural-key order (defines the
    * deterministic `index` — SURVEY §7.4.2) + checks. `strict` reports
    * unknown columns like pandera's strict=True.
    */
  final case class TableSchema(
      name: String,
      schema: StructType,
      orderKeys: Seq[String],
      columnChecks: Seq[ColumnCheck],
      frameChecks: Seq[FrameCheck] = Nil)

  // ---- check constructors (the DSL) --------------------------------------
  // Checks run over [[Validator.audit]]'s typed frame: `c` is the typed
  // column, `rawCol(c)` the original string. notNull looks at the raw value
  // so a dtype-coercion failure (raw non-null, typed null) reports exactly
  // once.

  def rawCol(c: String): String = s"__raw_$c"

  def notNull(c: String): ColumnCheck =
    ColumnCheck(c, "not_nullable", col(rawCol(c)).isNull)

  def isin(c: String, values: Seq[String]): ColumnCheck =
    ColumnCheck(c, s"isin(${values.mkString(", ")})",
      col(c).isNotNull && !col(c).isin(values: _*))

  def gt(c: String, bound: Double): ColumnCheck =
    ColumnCheck(c, s"greater_than($bound)", col(c).isNotNull && !(col(c) > bound))

  def ge(c: String, bound: Double): ColumnCheck =
    ColumnCheck(c, s"greater_than_or_equal_to($bound)", col(c).isNotNull && !(col(c) >= bound))

  def ne(c: String, bound: Double): ColumnCheck =
    ColumnCheck(c, s"not_equal_to($bound)", col(c).isNotNull && !(col(c) =!= bound))

  /** pandera coerce=True parity: the raw string is present but doesn't
    * cast to the target type.
    */
  def dtypeCoerce(c: String, to: DataType): ColumnCheck =
    ColumnCheck(c, s"dtype('${to.simpleString}')",
      col(rawCol(c)).isNotNull && col(c).isNull)

  /** duplicate-natural-key check (quality.py:8–14): one exception row per
    * duplicated key tuple.
    */
  def dupKeys(keys: Seq[String]): FrameCheck =
    FrameCheck(s"no_duplicates(${keys.mkString(", ")})", df =>
      df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
        .filter(col("n") > 1)
        .select(
          lit(null).cast("long").as("index"),
          lit(null).cast("string").as("column"),
          lit(s"no_duplicates(${keys.mkString(", ")})").as("check"),
          concat_ws("|", keys.map(col): _*).as("failure_case"),
          lit("DataFrameSchema").as("schema_context"),
          lit(null).cast("int").as("check_number")))

  /** payroll identity |gross − deductions − net| < 0.01 (quality.py:59–65):
    * a single global aggregate exception when violated.
    */
  def payrollIdentity: FrameCheck =
    FrameCheck("payroll_identity", df =>
      df.agg(max(abs(col("gross") - col("deductions") - col("net"))).as("mx"))
        .filter(col("mx") >= 0.01)
        .select(
          lit(null).cast("long").as("index"),
          lit(null).cast("string").as("column"),
          lit("payroll_identity").as("check"),
          col("mx").cast("string").as("failure_case"),
          lit("DataFrameSchema").as("schema_context"),
          lit(null).cast("int").as("check_number")))

  // ---- table contracts ≙ quality.py:16–95 --------------------------------

  def currencyChecks(c: String, allowed: Seq[String]): Seq[ColumnCheck] =
    Seq(notNull(c), isin(c, allowed))

  def salesSchema(s: Settings): TableSchema = TableSchema(
    "sales", Schemas.sales, Seq("entity", "invoice_id"),
    Seq(dtypeCoerce("date", DateType), notNull("date"), notNull("entity"),
      notNull("invoice_id"), notNull("account_code")) ++
      currencyChecks("currency", s.allowedCurrencies) ++
      Seq(dtypeCoerce("amount", DoubleType), notNull("amount"), gt("amount", 0)),
    Seq(dupKeys(Seq("entity", "invoice_id"))))

  def expensesSchema(s: Settings): TableSchema = TableSchema(
    "expenses", Schemas.expenses, Seq("entity", "bill_id"),
    Seq(dtypeCoerce("date", DateType), notNull("date"), notNull("entity"),
      notNull("bill_id"), notNull("account_code")) ++
      currencyChecks("currency", s.allowedCurrencies) ++
      Seq(dtypeCoerce("amount", DoubleType), notNull("amount"), gt("amount", 0)),
    Seq(dupKeys(Seq("entity", "bill_id"))))

  def payrollSchema(s: Settings): TableSchema = TableSchema(
    "payroll", Schemas.payroll, Seq("entity", "employee_id", "month"),
    Seq(notNull("month"), notNull("entity"), notNull("employee_id")) ++
      currencyChecks("currency", s.allowedCurrencies) ++
      Seq("gross", "deductions", "net").flatMap(c =>
        Seq(dtypeCoerce(c, DoubleType), notNull(c), ge(c, 0))),
    Seq(payrollIdentity))

  def inventorySchema(s: Settings): TableSchema = TableSchema(
    "inventory_movements", Schemas.inventory, Seq("entity", "sku", "date"),
    Seq(dtypeCoerce("date", DateType), notNull("date"), notNull("entity"), notNull("sku"),
      notNull("movement_type"), isin("movement_type", Seq("receipt", "issue", "adjustment")),
      dtypeCoerce("qty", DoubleType), notNull("qty"), ne("qty", 0),
      dtypeCoerce("unit_cost", DoubleType), notNull("unit_cost"), ge("unit_cost", 0)) ++
      currencyChecks("currency", s.allowedCurrencies))

  def fxSchema(s: Settings): TableSchema = TableSchema(
    "fx_rates", Schemas.fxRates, Seq("date", "from_currency", "to_currency"),
    Seq(dtypeCoerce("date", DateType), notNull("date"),
      notNull("from_currency"), isin("from_currency", s.allowedCurrencies),
      notNull("to_currency"), isin("to_currency", Seq(s.baseCurrency)),
      dtypeCoerce("rate", DoubleType), notNull("rate"), gt("rate", 0)),
    Seq(dupKeys(Seq("date", "from_currency", "to_currency"))))

  // ---- severity / summary / gate ≙ quality.py:123–249 --------------------

  private val errorColumns = Seq(
    "account_code", "date", "invoice_id", "bill_id", "employee_id", "sku",
    "currency", "from_currency", "to_currency", "rate")

  /** severity rules (quality.py:150–181): default WARN; ERROR for key
    * columns, the fx_rates dataset, required/dtype checks, and COA
    * membership violations.
    *
    * Note: a null violation's check name is `not_nullable` (pandera's
    * string), which does NOT contain "required" — so a null in a non-key
    * column stays WARN, exactly as in the reference. The "required"
    * substring fires for the strict-header `column_required` check.
    */
  def addSeverity(exceptions: DataFrame): DataFrame = {
    val checkLower = graft.functions.Lowercase(col("check"))
    exceptions.withColumn("severity",
      when(col("column").isin(errorColumns: _*), "ERROR")
        .when(col("dataset") === "fx_rates", "ERROR")
        .when(checkLower.contains("required"), "ERROR")
        .when(checkLower.contains("dtype"), "ERROR")
        .when(checkLower.contains("account_in_coa"), "ERROR")
        // a malformed input line is structurally unusable — always ERROR
        .when(checkLower === "corrupt_record", "ERROR")
        .otherwise("WARN"))
  }

  val datasets: Seq[String] =
    Seq("sales", "expenses", "payroll", "inventory_movements", "fx_rates")

  /** exception rows per (dataset, severity): the one grouped count that
    * both the summary and the gate read
    */
  type SeverityCounts = Map[(String, String), Long]

  def severityCounts(exceptions: DataFrame): SeverityCounts =
    exceptions.groupBy("dataset", "severity").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

  /** per-dataset error/warn/issue counts with PASS/FAIL status
    * (quality.py:205–249): the static dataset backbone in the
    * reference's order, zero-filled, as a local frame
    */
  def summaryTable(spark: SparkSession, counts: SeverityCounts, failOn: String): DataFrame = {
    val rows = datasets.map { d =>
      val (errors, warns) = (counts.getOrElse((d, "ERROR"), 0L), counts.getOrElse((d, "WARN"), 0L))
      Row(d, errors, warns, errors + warns, status(errors, warns, failOn))
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("dataset", StringType),
      StructField("error_count", LongType, nullable = false),
      StructField("warn_count", LongType, nullable = false),
      StructField("issue_count", LongType, nullable = false),
      StructField("status", StringType, nullable = false))))
  }

  /** overall gate status (quality.py:186–202) */
  def overallStatus(counts: SeverityCounts, failOn: String): String = {
    val (errors, others) = counts.partition(_._1._2 == "ERROR")
    status(errors.values.sum, others.values.sum, failOn)
  }

  private def status(errors: Long, warns: Long, failOn: String): String = {
    val fails = FailOn.normalize(failOn) match {
      case FailOn.Never => false
      case FailOn.Warn  => errors + warns > 0
      case _            => errors > 0
    }
    if (fails) "FAIL" else "PASS"
  }

  /** empty exceptions frame with the audit schema + severity (V8). */
  def emptyExceptions(spark: SparkSession): DataFrame = {
    val schema = StructType(Schemas.dqExceptions.fields :+
      StructField("severity", StringType, nullable = true))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
