package graft.etl

import java.nio.file.{Files, Paths}

import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.util.Try

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.{Caches, Publish}

/** IO layer ≙ reference io_utils.py + the single-file CSV output contract
  * (SURVEY §2.1 S1–S4, §7.4.6).
  *
  * CSV reads are schema'd, never inferred. [[readCsvRawAudited]] reads
  * every column as string so the DQ engine can report pandera-style
  * dtype-coercion failures; [[Dq.audit]] applies the typed cast
  * afterward. Missing files raise (reference io_utils.py:9–10).
  */
object EtlIO {

  def requireExists(path: String): Unit =
    require(Files.exists(Paths.get(path)), s"Missing file: $path")

  /** actual header of a CSV file (driver-side, first line), parsed
    * RFC-4180-aware — a quoted header field containing a comma stays one
    * field instead of splitting into phantom columns. (Limitation: a
    * header field containing a NEWLINE inside quotes is not supported —
    * the reference's pandas layer never writes such headers.)
    */
  def csvHeader(path: String): Seq[String] = {
    requireExists(path)
    val src = scala.io.Source.fromFile(path)
    val line = try src.getLines().nextOption().getOrElse("") finally src.close()
    if (line.isEmpty) Nil else parseCsvLine(line).map(_.trim)
  }

  /** single-line RFC-4180 field split: quoted fields may contain commas,
    * doubled quotes escape a literal quote.
    */
  private[etl] def parseCsvLine(line: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
          else inQuotes = false
        } else cur += c
      } else c match {
        case '"' => inQuotes = true
        case ',' => out += cur.result(); cur.clear()
        case other => cur += other
      }
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /** the all-strings read schema for a file whose header is `header`,
    * plus `extra` fields, and the projection back to `contract`. Binding
    * is BY HEADER NAME: a supplied schema binds positionally and ignores
    * the header, so a reordered file would be silently misread; pandas
    * binds by name, so must we. Columns come back in the contract's
    * order; contract columns missing from the file come back as nulls
    * (the strict header check reports them), extra file columns are
    * dropped.
    */
  private def bindByHeader(header: Seq[String], contract: StructType,
      extra: StructField*): (StructType, Seq[Column]) = {
    val asStrings = StructType(header.map(name =>
      StructField(name, StringType, nullable = true)) ++ extra)
    val cols = contract.fieldNames.toSeq.map { name =>
      if (header.contains(name)) org.apache.spark.sql.functions.col(name)
      else org.apache.spark.sql.functions.lit(null).cast(StringType).as(name)
    }
    (asStrings, cols)
  }

  /** name of the corrupt-record channel column on audited reads;
    * never collides with a contract column.
    */
  val CorruptCol = "__corrupt_record"

  /** the audited-ingest exceptions frame (dq_exceptions shape): one row
    * per malformed input line, check `corrupt_record`, the raw line as
    * the failure_case. An unparseable line has no stable row identity,
    * so `index`/`column` are null and the context is DataFrameSchema —
    * same contract as the strict-header checks. The reference's
    * defining DQ behavior is REPORTING bad input instead of crashing or
    * silently dropping (quality.py:98–115); without this channel a
    * broken line became silent nulls.
    */
  private def corruptExceptions(raw: DataFrame, dataset: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    Dq.auditRows(raw.filter(col(CorruptCol).isNotNull), dataset,
      lit(null), lit(null), lit("corrupt_record"), col(CorruptCol), "DataFrameSchema")
  }

  /** an audited CSV read: the clean rows in contract order, the
    * corrupt-line exceptions and the file's header as read.
    */
  final case class AuditedCsv(clean: DataFrame, exceptions: DataFrame,
      header: Seq[String])

  /** all-strings CSV read, bound by header name ([[bindByHeader]]), with
    * a corrupt-record audit channel: malformed lines (wrong delimiter
    * count — with an all-strings schema nothing else can fail) surface
    * as `corrupt_record` exception rows instead of being silently
    * padded/truncated by PERMISSIVE mode. The parsed
    * frame is cached by the caller's owner `own`: Spark disallows
    * queries over a raw CSV/JSON scan whose referenced columns are only
    * the corrupt-record column, and the exceptions branch is exactly
    * that query — materializing first is the documented contract (and
    * the pipeline reads both branches, so the scan is shared, not
    * repeated). Both frames are valid while `own`'s scope is open.
    */
  def readCsvRawAudited(spark: SparkSession, path: String, schema: StructType,
      dataset: String, own: Caches): AuditedCsv = {
    val actual = csvHeader(path)
    val (asStrings, cols) = bindByHeader(actual, schema,
      StructField(CorruptCol, StringType, nullable = true))
    val raw = own(spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(asStrings)
      .csv(path))
    val clean = raw
      .filter(org.apache.spark.sql.functions.col(CorruptCol).isNull)
      .select(cols: _*)
    AuditedCsv(clean, corruptExceptions(raw, dataset), actual)
  }

  /** schema'd CSV read (for already-trusted inputs like the COA). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    requireExists(path)
    spark.read.option("header", "true").schema(schema).csv(path)
  }

  /** JSON-lines sink/source — the interchange format most
    * training-data tooling speaks. Schema'd read (never inferred, same
    * policy as CSV); line-delimited so the files split cleanly across
    * executors at any size.
    */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** [[readJsonl]] plus the corrupt-record audit channel: a broken line
    * (unparseable JSON, or a field whose value can't take the schema'd
    * type) becomes a `corrupt_record` exception row carrying the raw
    * line, and is EXCLUDED from the clean frame — reported, not silently
    * nulled. Returns (clean rows, exceptions), valid while `own`'s
    * scope is open; caching rationale as in [[readCsvRawAudited]].
    */
  def readJsonlAudited(spark: SparkSession, path: String, schema: StructType,
      dataset: String, own: Caches): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    val raw = own(spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt)
      .json(path))
    val clean = raw
      .filter(org.apache.spark.sql.functions.col(CorruptCol).isNull)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
    (clean, corruptExceptions(raw, dataset))
  }

  /** Hive-layout partitioned parquet sink (e.g. month=2025-12/…): the
    * data-lake layout that lets a reader's partition filter skip whole
    * directories — at 100 TB the difference between scanning a month and
    * scanning the lake. Callers pick LOW-cardinality columns.
    */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  def writeParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** small-file compaction: rewrite a parquet dataset into files sized
    * near `targetBytesPerFile`, preserving a Hive partition layout when
    * `partitionCols` is given (each partition value's rows co-locate to
    * one task → one file per partition dir).
    *
    * The long-running-pipeline hygiene op: streaming/incremental sinks
    * accrete thousands of KB-sized files and at 100 TB the scan becomes
    * footer- and task-scheduling-bound instead of IO-bound. File count
    * is sized from the dataset's ACTUAL on-disk bytes (not a row
    * guess, listed through the path's Hadoop FileSystem, so a `file:`
    * URI or a cluster path compacts as it reads), the rewrite is one
    * round-robin (or partition-key) repartition — no driver-side row handling — and the rewritten
    * dataset replaces the old one through [[graft.core.Publish.dir]].
    */
  def compactParquet(spark: SparkSession, path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val fs = new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parquetBytes(p: HPath): Long = fs.listStatus(p).iterator.map(st =>
      if (st.isDirectory) parquetBytes(st.getPath)
      else if (st.getPath.getName.endsWith(".parquet")) st.getLen else 0L).sum
    val bytes = parquetBytes(new HPath(path))
    val nFiles = math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    val df = spark.read.parquet(path)
    val rebucketed =
      if (partitionCols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles, partitionCols.map(col): _*)
    Publish.dir(path) { stage =>
      if (partitionCols.isEmpty) writeParquet(rebucketed, stage)
      else writePartitionedParquet(rebucketed, stage, partitionCols)
    }
  }

  /** single-file CSV sink: the reference writes one `name.csv` per table
    * from the rows it holds (io_utils.py:19–21); so do we. The rows are
    * collected and rendered by [[csvFile]]. Output is small by contract
    * (aggregates, audits, one month's fact); caller guarantees
    * deterministic row order.
    */
  def writeSingleCsv(df: DataFrame, path: String): Unit =
    csvFile(df.sparkSession, df.schema, df.collect().toSeq, path)

  /** `rows` of `schema` as one CSV file at `path`, published through
    * [[graft.core.Publish.file]]: the header, then one line per row, as
    * `df.write.option("header", "true").csv` writes one partition. It
    * uses Spark's own CSV generator with the options the writer builds,
    * under the session's conf, so the bytes match by construction.
    */
  private[etl] def csvFile(spark: SparkSession, schema: StructType, rows: Seq[Row],
      path: String): Unit = Publish.file(path) { stage =>
    val conf = spark.sessionState.conf
    SQLConf.withExistingConf(conf) {
      val options = new CSVOptions(Map("header" -> "true"), conf.csvColumnPruning, conf.sessionLocalTimeZone)
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      val gen = new UnivocityGenerator(schema,
        new java.io.OutputStreamWriter(Files.newOutputStream(Paths.get(stage)), options.charset), options)
      try { gen.writeHeaders(); rows.foreach(r => gen.write(toInternal(r).asInstanceOf[InternalRow])) }
      finally gen.close()
    }
  }

  def writeText(path: String, content: String): Unit =
    Publish.file(path)(stage => Files.writeString(Paths.get(stage), content))

  /** `src` copied to `path`, published like every other export */
  def copyFile(src: String, path: String): Unit =
    Publish.file(path)(stage => Files.copy(Paths.get(src), Paths.get(stage)))

  /** `df` in `keys` order as one partition, for outputs that are
    * audit-sized by contract (the DQ audit, dims, KPI tables, dashboard
    * aggregates): a local sort behind a 1-partition exchange costs no
    * range-sampling job, and every reader runs 1-task stages. The
    * exchange (not a coalesce) keeps the work that builds `df` wide.
    * Fact-sized frames keep a parallel `orderBy`.
    */
  def sortedLocally(df: DataFrame, keys: String*): DataFrame =
    df.repartition(1).sortWithinPartitions(keys.map(org.apache.spark.sql.functions.col): _*)

  /** an audit-sized frame computed once and served as a local relation:
    * its readers plan over the rows instead of re-running its plan
    */
  def materialize(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** Runs independent sinks side by side, each in its own future and
    * under its own job description, and returns their results in order
    * once every one has stopped; the first failure in that order is then
    * rethrown. A frame the sinks share is built before this call, never
    * inside it: concurrent first readers of one cache each compute it.
    */
  def concurrently[T](spark: SparkSession, sinks: Seq[(String, () => T)]): Seq[T] =
    settle(sinks.map { case (label, sink) => labelledFuture(spark, label)(sink()) }).map(_.get)

  /** `body` with its jobs under the description `label` (the thread-local
    * label that listener-based attribution reads), reset afterwards
    */
  private[etl] def labelled[T](spark: SparkSession, label: String)(body: => T): T = {
    spark.sparkContext.setJobDescription(label)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  /** [[labelled]] on a pool thread */
  private[etl] def labelledFuture[T](spark: SparkSession, label: String)(body: => T): Future[T] =
    Future(blocking(labelled(spark, label)(body)))

  /** waits for every future, then returns their outcomes in order */
  private[etl] def settle[T](futures: Seq[Future[T]]): Seq[Try[T]] = {
    futures.foreach(Await.ready(_, Duration.Inf))
    futures.map(_.value.get)
  }
}
