package graft.etl

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Declarative data-quality engine ≙ reference quality.py (SURVEY §2.9
  * V1–V8): per-column and per-dataframe checks compiled to Column
  * predicates, the lazy collection of every failing row into one
  * exceptions frame ([[audit]]), severity, summary and the gate
  * (quality.py:123–249). Validation never filters rows, it only reports.
  *
  * Plan: a table's column checks, account_in_coa included, evaluate in
  * one pass over its typed view (a per-row array of fired-check structs,
  * exploded); each frame check is one aggregate; header and corrupt-line
  * rows come from the read. Every exceptions row, whatever made it, is
  * built by [[auditRows]]. The close collects the sorted audit once and
  * writes those rows; the summary and the gate count them per (dataset,
  * severity) ([[severityCounts]]), not in a second job. Only the audit,
  * audit-sized by contract, reaches the driver.
  */
object Dq {

  /** A named violation predicate over one column: a row is an exception
    * when `violation` is true.
    */
  final case class ColumnCheck(column: String, name: String, violation: Column)

  /** Whole-dataframe check: `failures` returns one `failure_case` string
    * column, one row per failure; the audit adds the rest of the row
    * with `check = name`.
    */
  final case class FrameCheck(name: String, failures: DataFrame => DataFrame)

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

  /** `df` as dq_exceptions rows, exactly [[Schemas.dqExceptions]]
    * (names, types, order): the one place an audit row is built.
    * pandera's `check_number` is always null.
    */
  def auditRows(df: DataFrame, dataset: String, index: Column, column: Column,
      check: Column, failureCase: Column, context: String): DataFrame =
    df.select(
      lit(dataset).as("dataset"),
      index.cast(LongType).as("index"),
      column.cast(StringType).as("column"),
      check.as("check"),
      failureCase.cast(StringType).as("failure_case"),
      lit(context).as("schema_context"),
      lit(null).cast(IntegerType).as("check_number"))

  // ---- check constructors (the DSL) --------------------------------------
  // Checks run over [[audit]]'s typed frame: `c` is the typed
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

  /** referential integrity ≙ pipeline._dq_account_in_coa
    * (pipeline.py:30–47): the code is null or not among the chart of
    * accounts' non-null codes. The codes are one scalar subquery, run
    * once per query that reads the check (audits over one `coa` share
    * it); the COA is reference-sized, so it aggregates in one partition,
    * one job and no exchange.
    */
  def inCoa(coa: DataFrame): ColumnCheck = {
    val codes = coa.coalesce(1).select(collect_set(col("account_code").cast(StringType))).scalar()
    ColumnCheck("account_code", "account_in_coa",
      col("account_code").isNull || !array_contains(codes, col("account_code")))
  }

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
        .select(concat_ws("|", keys.map(col): _*).as("failure_case")))

  /** payroll identity |gross − deductions − net| < 0.01 (quality.py:59–65):
    * a single global aggregate exception when violated.
    */
  def payrollIdentity: FrameCheck =
    FrameCheck("payroll_identity", df =>
      df.agg(max(abs(col("gross") - col("deductions") - col("net"))).as("mx"))
        .filter(col("mx") >= 0.01)
        .select(col("mx").cast("string").as("failure_case")))

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

  // ---- lazy collect ≙ quality.validate_or_collect (quality.py:98–115) ----
  // Every check runs and every failing row is reported; the data rows
  // pass through unfiltered and the gate decides. Contract notes (SURVEY
  // §7.4):
  //  - `index` is the row's rank (0-based) in the table's natural-key
  //    order, not a pandas file index — deterministic under any
  //    partitioning;
  //  - dtype checks mirror pandera coerce=True by validating the raw
  //    string against the target type (the close's all-strings read
  //    happens in [[EtlIO.readCsvRawAudited]]);
  //  - strict=True column-set enforcement compares the actual CSV header
  //    (driver-side) against the contract.

  /** full deterministic ordering: natural keys first, then every other
    * contract column, then the raw strings — duplicate-natural-key rows
    * (the very case dupKeys reports) and rows whose typed values tie
    * but whose raw strings differ (two different unparseable dates)
    * still index by file content alone.
    */
  private def indexOrder(table: TableSchema): Seq[Column] = {
    val names = table.orderKeys ++
      table.schema.fieldNames.filterNot(table.orderKeys.contains)
    (names ++ table.schema.fieldNames.map(rawCol)).map(col)
  }

  /** typed view of an all-strings frame + per-column raw copies */
  private def typedView(raw: DataFrame, table: TableSchema): DataFrame = {
    val fields = table.schema.fields.toSeq
    raw.select(
      fields.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
        fields.map(f => col(f.name).as(rawCol(f.name))): _*)
  }

  /** one table as the close audits it: `typed` is the typed view plus
    * the raw strings and `__idx`, `exceptions` its lazy exception rows,
    * corrupt lines included
    */
  final case class Audit(typed: DataFrame, exceptions: DataFrame)

  /** The close's validation of one audited read, lazily: `typed` is the
    * read in [[indexOrder]] as one sorted partition, and every reader of
    * it (the exception generators, the fact) plans over that one order,
    * so rows that tie downstream (two movements of one sku on one day,
    * in the fact's order) keep the order their index gives them. A table
    * given the chart of accounts `coa` also runs the [[inCoa]] column
    * check. The exceptions are the column-check (account_in_coa
    * included), frame-check, header and corrupt-line rows, in that order.
    */
  def audit(spark: SparkSession, read: EtlIO.AuditedCsv, table: TableSchema,
      coa: Option[DataFrame]): Audit = {
    val typed = typedView(read.clean, table).coalesce(1)
      .sortWithinPartitions(indexOrder(table): _*)
      // in one partition the id is exactly the row's position, 0..n-1
      .withColumn("__idx", monotonically_increasing_id())
    val checked = table.copy(columnChecks = table.columnChecks ++ coa.map(inCoa))
    val exceptions = columnRows(typed, checked) ++ frameRows(typed, table) ++
      headerRows(spark, table, read.header) :+ read.exceptions
    Audit(typed, exceptions.reduce(_.unionByName(_)))
  }

  /** ALL column checks evaluate in ONE pass (SURVEY §2.9 V1): a per-row
    * array of fired-check structs, exploded and null-filtered. One scan
    * and one small plan per table instead of one filter branch per check
    * — with ~12 checks × 5 tables the per-branch plan was dominated by
    * Catalyst analysis time, not data.
    */
  private[etl] def columnRows(typed: DataFrame, table: TableSchema): Seq[DataFrame] =
    if (table.columnChecks.isEmpty) Nil else {
      val fired = table.columnChecks.map { ck =>
        // dtype failures report the raw string; the rest the typed value
        // when it has one
        val failureCase =
          if (ck.name.startsWith("dtype")) col(rawCol(ck.column))
          else coalesce(col(ck.column).cast("string"), col(rawCol(ck.column)))
        when(ck.violation, struct(
          lit(ck.column).as("column"), lit(ck.name).as("check"), failureCase.as("failure_case")))
      }
      Seq(auditRows(
        typed.select(col("__idx"), explode(array(fired: _*)).as("ck")).filter(col("ck").isNotNull),
        table.name, col("__idx"), col("ck.column"), col("ck.check"), col("ck.failure_case"), "Column"))
    }

  /** each frame check's rows, `check` its name */
  private[etl] def frameRows(typed: DataFrame, table: TableSchema): Seq[DataFrame] =
    table.frameChecks.map(fc => auditRows(fc.failures(typed), table.name,
      lit(null), lit(null), lit(fc.name), col("failure_case"), "DataFrameSchema"))

  /** strict=True header rows (driver-side, quality.py:29 etc.): one local
    * frame over the file's unexpected columns, then the contract's
    * missing ones; none when the header matches
    */
  private[etl] def headerRows(spark: SparkSession, table: TableSchema,
      header: Seq[String]): Seq[DataFrame] = {
    import spark.implicits._
    val expected = table.schema.fieldNames.toSeq
    val found = header.filterNot(expected.contains)
      .map(c => (c, "column_in_schema", s"unexpected column '$c'")) ++
      expected.filterNot(header.contains).map(c => (c, "column_required", s"missing column '$c'"))
    if (found.isEmpty) Nil
    else Seq(auditRows(found.toDF("column", "check", "failure_case"), table.name,
      lit(null), col("column"), col("check"), col("failure_case"), "DataFrameSchema"))
  }

  /** the audit's row order: (dataset, check, index), and the rows of one
    * duplicate-key check (null index) by their key, so they do not come
    * out in the order the check's hash aggregate emits them. Header and
    * corrupt-line rows tie on every key and keep their order.
    */
  val auditOrder: Seq[Column] = Seq(col("dataset"), col("check"), col("index"),
    when(col("check").startsWith("no_duplicates("), col("failure_case")))

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

  /** exception rows per (dataset, severity): the counts that both the
    * summary and the gate read
    */
  type SeverityCounts = Map[(String, String), Long]

  /** the audit rows `audit` (with severity) counted per (dataset,
    * severity), zero-filled over [[datasets]] × {ERROR, WARN}
    */
  def severityCounts(audit: Seq[Row]): SeverityCounts = {
    val seen = audit.map(r => (r.getAs[String]("dataset"), r.getAs[String]("severity")))
    (for (d <- datasets; s <- Seq("ERROR", "WARN")) yield (d, s) -> seen.count(_ == (d, s)).toLong).toMap
  }

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
}
