package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Dq._

/** Lazy-collect validation ≙ reference quality.validate_or_collect
  * (quality.py:98–115): run ALL checks, emit a normalized exceptions
  * frame, never filter data rows (the pipeline proceeds on the raw frame
  * and the gate decides).
  *
  * Contract notes (SURVEY §7.4):
  *  - `index` is the row's rank (0-based) in the table's natural-key
  *    order, not a pandas file index — deterministic under any
  *    partitioning;
  *  - dtype checks mirror pandera coerce=True by validating the raw
  *    string against the target type (the close's all-strings read
  *    happens in [[EtlIO.readCsvRawAudited]]);
  *  - strict=True column-set enforcement compares the actual CSV header
  *    (driver-side) against the contract.
  */
object Validator {

  import Dq.rawCol

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
    * in the fact's order) keep the order their index gives them. `coa`
    * holds the chart of accounts for a table under the account_in_coa
    * check.
    */
  def audit(spark: SparkSession, read: EtlIO.AuditedCsv, table: TableSchema,
      coa: Option[DataFrame]): Audit = {
    val typed = typedView(read.clean, table).coalesce(1)
      .sortWithinPartitions(indexOrder(table): _*)
      // in one partition the id is exactly the row's position, 0..n-1
      .withColumn("__idx", monotonically_increasing_id())
    val exceptions = tableExceptions(spark, typed, table, read.header) +:
      coa.map(accountInCoa(typed, table.name, _)).toSeq :+ read.exceptions
    Audit(typed, exceptions.reduce(_.unionByName(_)))
  }

  /** ALL column checks evaluate in ONE pass (SURVEY §2.9 V1): a per-row
    * array of fired-check structs, exploded and null-filtered. One scan
    * and one small plan per table instead of one filter branch per check
    * — with ~12 checks × 5 tables the per-branch plan was dominated by
    * Catalyst analysis time, not data.
    */
  private def columnExceptions(typed: DataFrame, table: TableSchema): Seq[DataFrame] =
    if (table.columnChecks.isEmpty) Nil else {
      val fired = table.columnChecks.map { ck =>
        val failureCase = ck.name match {
          case n if n.startsWith("dtype") => col(rawCol(ck.column))
          case _ => coalesce(col(ck.column).cast("string"), col(rawCol(ck.column)))
        }
        when(ck.violation, struct(
          lit(ck.column).as("column"),
          lit(ck.name).as("check"),
          failureCase.as("failure_case"),
          lit(ck.checkNo.map(Integer.valueOf).orNull).cast("int").as("check_number")))
      }
      Seq(typed
        .select(col("__idx"), explode(array(fired: _*)).as("ck"))
        .filter(col("ck").isNotNull)
        .select(
          col("__idx").as("index"),
          col("ck.column").as("column"),
          col("ck.check").as("check"),
          col("ck.failure_case").as("failure_case"),
          lit("Column").as("schema_context"),
          col("ck.check_number").as("check_number")))
    }

  /** the table's column-check, frame-check and strict-header rows
    * (`header` is the file's), with the dataset name
    */
  private def tableExceptions(spark: SparkSession, typed: DataFrame,
      table: TableSchema, header: Seq[String]): DataFrame = {

    val frameExceptions = table.frameChecks.map(_.exceptions(typed))

    // strict=True header enforcement (driver-side, quality.py:29 etc.)
    val expected = table.schema.fieldNames.toSeq
    val extra = header.filterNot(expected.contains)
      .map(c => (c, "column_in_schema", s"unexpected column '$c'"))
    val missing = expected.filterNot(header.contains)
      .map(c => (c, "column_required", s"missing column '$c'"))
    val headerExceptions = (extra ++ missing).map { case (c, check, msg) =>
      import spark.implicits._
      Seq((c, check, msg)).toDF("column", "check", "failure_case")
        .select(
          lit(null).cast("long").as("index"),
          col("column"), col("check"), col("failure_case"),
          lit("DataFrameSchema").as("schema_context"),
          lit(null).cast("int").as("check_number"))
    }

    val all = columnExceptions(typed, table) ++ frameExceptions ++ headerExceptions
    val unioned = all.reduceOption(_.unionByName(_))
      .getOrElse(Dq.emptyExceptions(spark).drop("severity", "dataset"))
    unioned.select(lit(table.name).as("dataset"),
      col("index"), col("column"), col("check"), col("failure_case"),
      col("schema_context"), col("check_number"))
  }

  /** referential-integrity exception generator ≙ pipeline._dq_account_in_coa
    * (pipeline.py:30–47): rows of the audited `typed` whose account_code
    * is not in the COA (broadcast, SURVEY J6), a null code included,
    * each reported once at its `__idx`
    */
  private def accountInCoa(typed: DataFrame, dataset: String,
      coaCodes: DataFrame): DataFrame =
    typed
      .join(broadcast(coaCodes.select(col("account_code").cast("string").as("account_code"))),
        Seq("account_code"), "left_anti")
      .select(
        lit(dataset).as("dataset"),
        col("__idx").as("index"),
        lit("account_code").as("column"),
        lit("account_in_coa").as("check"),
        col("account_code").cast("string").as("failure_case"),
        lit("Column").as("schema_context"),
        lit(null).cast("int").as("check_number"))
}
