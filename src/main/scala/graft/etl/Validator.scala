package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

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
    * sort's sample and shuffle jobs and one per-partition count.
    */
  private def withIndex(df: DataFrame, order: Seq[Column], name: String): DataFrame = {
    val numbered = df.sort(order: _*).rdd.zipWithIndex()
      .map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    df.sparkSession.createDataFrame(numbered,
      df.schema.add(name, LongType, nullable = false))
  }

  /** typed view of an all-strings frame + per-column raw copies + the
    * deterministic row index (built eagerly, see [[withIndex]]).
    */
  def coerce(raw: DataFrame, table: TableSchema): DataFrame = {
    val fields = table.schema.fields.toSeq
    val typed = raw.select(
      fields.map(f => col(f.name).cast(f.dataType).as(f.name)) ++
        fields.map(f => col(f.name).as(rawCol(f.name))): _*)
    withIndex(typed, indexOrder(table), "__idx")
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

  /** same, over an already-[[coerce]]d (and possibly cached) frame — the
    * pipeline uses this so validation and the fact build share one scan.
    */
  def exceptionsFromCoerced(
      spark: SparkSession,
      typed: DataFrame,
      table: TableSchema,
      actualColumns: Option[Seq[String]] = None): DataFrame = {

    // ALL column checks evaluate in ONE pass (SURVEY §2.9 V1): a per-row
    // array of fired-check structs, exploded and null-filtered. One scan
    // and one small plan per table instead of one filter branch per check
    // — with ~12 checks × 5 tables the per-branch plan was dominated by
    // Catalyst analysis time, not data.
    val colExceptions: Seq[DataFrame] = if (table.columnChecks.isEmpty) Nil else {
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

    val all = colExceptions ++ frameExceptions ++ headerExceptions
    val unioned = all.reduceOption(_.unionByName(_))
      .getOrElse(Dq.emptyExceptions(spark).drop("severity", "dataset"))
    unioned.select(lit(table.name).as("dataset"),
      col("index"), col("column"), col("check"), col("failure_case"),
      col("schema_context"), col("check_number"))
  }

  /** referential-integrity exception generator ≙ pipeline._dq_account_in_coa
    * (pipeline.py:30–47): rows whose account_code is not in the COA, via
    * broadcast left-anti join (SURVEY J6).
    */
  def accountInCoa(df: DataFrame, dataset: String, coaCodes: DataFrame, orderKeys: Seq[String]): DataFrame =
    accountInCoaIndexed(withIndex(df, orderKeys.map(col), "__idx"), dataset, coaCodes)

  /** [[accountInCoa]] over a frame that already carries the coerce-time
    * `__idx`: [[indexOrder]] puts the natural keys first, so the
    * pipeline's RI checks reuse that rank instead of sorting the two
    * biggest tables a second time.
    */
  def accountInCoaIndexed(indexed: DataFrame, dataset: String,
      coaCodes: DataFrame): DataFrame = {
    indexed
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
}
