package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.Caches

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

  /** `df` plus `name` = each row's 0-based rank in `order`: one global
    * sort, numbered in partition order by `zipWithIndex`. The numbering
    * reads the sorted partitions as AQE left them, so coalescing them
    * can neither drop nor repeat a row. Eager: building it runs the
    * sort's sample and shuffle jobs and one per-partition count, so the
    * close builds it only for a table that has a row exception
    * ([[audit]]).
    */
  private def withIndex(df: DataFrame, order: Seq[Column], name: String): DataFrame = {
    val numbered = df.sort(order: _*).rdd.zipWithIndex()
      .map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    df.sparkSession.createDataFrame(numbered,
      df.schema.add(name, LongType, nullable = false))
  }

  /** typed view of an all-strings frame + per-column raw copies */
  private def typedView(raw: DataFrame, table: TableSchema): DataFrame = {
    val fields = table.schema.fields.toSeq
    raw.select(
      fields.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
        fields.map(f => col(f.name).as(rawCol(f.name))): _*)
  }

  /** [[typedView]] + the deterministic row index (built eagerly, see
    * [[withIndex]]).
    */
  def coerce(raw: DataFrame, table: TableSchema): DataFrame =
    withIndex(typedView(raw, table), indexOrder(table), "__idx")

  /** one table as the close audits it: `typed` is the [[coerce]] shape
    * (`__idx` null when the table needed no index), `exceptions` its lazy
    * exception rows, corrupt lines included
    */
  final case class Audit(typed: DataFrame, exceptions: DataFrame)

  /** The close's validation of one audited read, with the row index
    * built only where a row exception needs it. `__idx` is read only by
    * the column-check and account_in_coa rows, so one probe over the
    * read asks whether any of those fires ([[rowChecksFire]]). If one
    * does, the table is indexed and cached by `own` exactly as
    * [[coerce]] does; if none does, `typed` is the unindexed view over
    * the read, in the same row order, and the two generators are left
    * out, having nothing to report. `coa` holds the chart of accounts
    * for a table under the account_in_coa check.
    */
  def audit(spark: SparkSession, read: EtlIO.AuditedCsv, table: TableSchema,
      coa: Option[DataFrame], own: Caches): Audit = {
    val view = typedView(read.clean, table)
    val indexed = rowChecksFire(view, table, coa)
    val typed =
      if (indexed) {
        val coerced = own(withIndex(view, indexOrder(table), "__idx"))
        coerced.count()
        coerced
      } else {
        // one partition in index order, sorted by whoever reads it: rows
        // that tie downstream (two movements of one sku on one day, in
        // the fact's order) keep the order an indexed table gives them
        view.coalesce(1).sortWithinPartitions(indexOrder(table): _*)
          .withColumn("__idx", lit(null).cast(LongType))
      }
    val columnRows = if (indexed) columnExceptions(typed, table) else Nil
    val coaRows = coa.filter(_ => indexed).map(accountInCoaIndexed(typed, table.name, _))
    val exceptions = tableExceptions(spark, typed, table, Some(read.header), columnRows) +:
      coaRows.toSeq :+ read.exceptions
    Audit(typed, exceptions.reduce(_.unionByName(_)))
  }

  /** whether a column check fires on a row of `typed`, or, given the
    * COA, a row's account_code is missing from it: one pass that stops
    * at the first such row. It filters on the generators' own
    * predicates ([[ColumnCheck.violation]], [[markCoa]]), so it fires
    * exactly when they would report a row.
    */
  private def rowChecksFire(typed: DataFrame, table: TableSchema,
      coa: Option[DataFrame]): Boolean = {
    val fires = table.columnChecks.map(_.violation).foldLeft(lit(false))(_ || _)
    val probed = coa.fold(typed.filter(fires))(c =>
      markCoa(typed, c).filter(fires || col(InCoa).isNull))
    !probed.isEmpty
  }

  /** all exception rows for one table (dataset, index, column, check,
    * failure_case, schema_context, check_number).
    */
  def exceptions(
      spark: SparkSession,
      raw: DataFrame,
      table: TableSchema,
      actualColumns: Option[Seq[String]] = None): DataFrame =
    exceptionsFromCoerced(spark, coerce(raw, table), table, actualColumns)

  /** same, over an already-[[coerce]]d (and possibly cached) frame */
  def exceptionsFromCoerced(
      spark: SparkSession,
      typed: DataFrame,
      table: TableSchema,
      actualColumns: Option[Seq[String]] = None): DataFrame =
    tableExceptions(spark, typed, table, actualColumns, columnExceptions(typed, table))

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

  /** `columnRows` plus the table's frame checks and strict-header
    * rows, with the dataset name
    */
  private def tableExceptions(
      spark: SparkSession,
      typed: DataFrame,
      table: TableSchema,
      actualColumns: Option[Seq[String]],
      columnRows: Seq[DataFrame]): DataFrame = {

    val frameExceptions = table.frameChecks.map(_.exceptions(typed))

    // strict=True header enforcement (driver-side, quality.py:29 etc.)
    val headerExceptions = actualColumns.toSeq.flatMap { actual =>
      val expected = table.schema.fieldNames.toSeq
      val extra = actual.filterNot(expected.contains)
        .map(c => (c, "column_in_schema", s"unexpected column '$c'"))
      val missing = expected.filterNot(actual.contains)
        .map(c => (c, "column_required", s"missing column '$c'"))
      (extra ++ missing).map { case (c, check, msg) =>
        import spark.implicits._
        Seq((c, check, msg)).toDF("column", "check", "failure_case")
          .select(
            lit(null).cast("long").as("index"),
            col("column"), col("check"), col("failure_case"),
            lit("DataFrameSchema").as("schema_context"),
            lit(null).cast("int").as("check_number"))
      }
    }

    val all = columnRows ++ frameExceptions ++ headerExceptions
    val unioned = all.reduceOption(_.unionByName(_))
      .getOrElse(Dq.emptyExceptions(spark).drop("severity", "dataset"))
    unioned.select(lit(table.name).as("dataset"),
      col("index"), col("column"), col("check"), col("failure_case"),
      col("schema_context"), col("check_number"))
  }

  /** referential-integrity exception generator ≙ pipeline._dq_account_in_coa
    * (pipeline.py:30–47): rows whose account_code is not in the COA.
    */
  def accountInCoa(df: DataFrame, dataset: String, coaCodes: DataFrame, orderKeys: Seq[String]): DataFrame =
    accountInCoaIndexed(withIndex(df, orderKeys.map(col), "__idx"), dataset, coaCodes)

  /** [[accountInCoa]] over a frame that already carries the coerce-time
    * `__idx`: [[indexOrder]] puts the natural keys first, so the
    * close's RI checks reuse that rank instead of sorting the two
    * biggest tables a second time.
    */
  def accountInCoaIndexed(indexed: DataFrame, dataset: String,
      coaCodes: DataFrame): DataFrame =
    markCoa(indexed, coaCodes)
      .filter(col(InCoa).isNull)
      .select(
        lit(dataset).as("dataset"),
        col("__idx").as("index"),
        lit("account_code").as("column"),
        lit("account_in_coa").as("check"),
        col("account_code").cast("string").as("failure_case"),
        lit("Column").as("schema_context"),
        lit(null).cast("int").as("check_number"))

  private val InCoa = "__in_coa"

  /** `df` left-joined to the COA's codes (broadcast, SURVEY J6):
    * `__in_coa` is null on exactly the rows a left-anti join on
    * account_code keeps, a null code included, and each such row
    * appears once
    */
  private def markCoa(df: DataFrame, coaCodes: DataFrame): DataFrame =
    df.join(broadcast(coaCodes.select(col("account_code").cast("string").as("account_code"))
      .withColumn(InCoa, lit(true))), Seq("account_code"), "left")
}
