package graft.etl

import org.apache.spark.sql.types._

/** Fixed, declarative raw-table schemas ≙ the reference's pandera
  * DataFrameSchemas (/root/reference/src/finance_etl/quality.py:16–95).
  * IDs/codes are strings (never inferred), money is double (float64 in the
  * reference — NOT decimal, see SURVEY §1.3), dates are day-grain.
  *
  * The close reads through [[EtlIO.readCsvRawAudited]] as all-strings
  * first so the DQ engine can report dtype-coercion failures (pandera
  * `coerce=True` semantics) before the typed cast.
  */
object Schemas {

  val sales: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("invoice_id", StringType, nullable = false),
    StructField("account_code", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("description", StringType, nullable = true)))

  val expenses: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("bill_id", StringType, nullable = false),
    StructField("account_code", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("description", StringType, nullable = true)))

  val payroll: StructType = StructType(Seq(
    StructField("month", StringType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("employee_id", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("gross", DoubleType, nullable = false),
    StructField("deductions", DoubleType, nullable = false),
    StructField("net", DoubleType, nullable = false)))

  val inventory: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("sku", StringType, nullable = false),
    StructField("movement_type", StringType, nullable = false),
    StructField("qty", DoubleType, nullable = false),
    StructField("unit_cost", DoubleType, nullable = false),
    StructField("currency", StringType, nullable = false)))

  val fxRates: StructType = StructType(Seq(
    StructField("date", DateType, nullable = false),
    StructField("from_currency", StringType, nullable = false),
    StructField("to_currency", StringType, nullable = false),
    StructField("rate", DoubleType, nullable = false)))

  val chartOfAccounts: StructType = StructType(Seq(
    StructField("account_code", StringType, nullable = false),
    StructField("account_name", StringType, nullable = false),
    StructField("account_type", StringType, nullable = false)))

  /** curated fact shape (reference transform.py:97–110). */
  val factTransactions: StructType = StructType(Seq(
    StructField("txn_id", StringType, nullable = false),
    StructField("date", DateType, nullable = false),
    StructField("entity", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("document_id", StringType, nullable = false),
    StructField("account_code", StringType, nullable = false),
    StructField("currency", StringType, nullable = false),
    StructField("amount", DoubleType, nullable = false),
    StructField("rate", DoubleType, nullable = false),
    StructField("amount_base", DoubleType, nullable = false),
    StructField("description", StringType, nullable = true)))

  /** DQ exception audit shape (reference pipeline.py:149–160). `index` is
    * a deterministic per-dataset row number over the table's natural-key
    * order — Spark has no pandas row index; SURVEY §7.4.2 documents the
    * redefinition.
    */
  val dqExceptions: StructType = StructType(Seq(
    StructField("dataset", StringType, nullable = false),
    StructField("index", LongType, nullable = true),
    StructField("column", StringType, nullable = true),
    StructField("check", StringType, nullable = false),
    StructField("failure_case", StringType, nullable = true),
    StructField("schema_context", StringType, nullable = false),
    StructField("check_number", IntegerType, nullable = true)))
}
