package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** IO layer ≙ reference io_utils.py + the single-file CSV output contract
  * (SURVEY §2.1 S1–S4, §7.4.6).
  *
  * CSV reads are schema'd, never inferred. [[readCsvRaw]] reads every
  * column as string so the DQ engine can report pandera-style
  * dtype-coercion failures; [[Validator.coerce]] applies the typed cast
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

  /** all-strings CSV read, bound by header name ([[bindByHeader]]). */
  def readCsvRaw(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val (asStrings, cols) = bindByHeader(csvHeader(path), schema)
    spark.read
      .option("header", "true")
      .schema(asStrings)
      .csv(path)
      .select(cols: _*)
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
  private def corruptExceptions(raw: DataFrame, dataset: String): DataFrame =
    raw.filter(org.apache.spark.sql.functions.col(CorruptCol).isNotNull)
      .select(
        org.apache.spark.sql.functions.lit(dataset).as("dataset"),
        org.apache.spark.sql.functions.lit(null).cast("long").as("index"),
        org.apache.spark.sql.functions.lit(null).cast(StringType).as("column"),
        org.apache.spark.sql.functions.lit("corrupt_record").as("check"),
        org.apache.spark.sql.functions.col(CorruptCol).as("failure_case"),
        org.apache.spark.sql.functions.lit("DataFrameSchema").as("schema_context"),
        org.apache.spark.sql.functions.lit(null).cast("int").as("check_number"))

  /** an audited CSV read: the clean rows in contract order, the
    * corrupt-line exceptions, the file's header as read, and the cached
    * parse both frames read from (the caller unpersists it).
    */
  final case class AuditedCsv(clean: DataFrame, exceptions: DataFrame,
      header: Seq[String], parsed: DataFrame)

  /** [[readCsvRaw]] plus a corrupt-record audit channel: malformed lines
    * (wrong delimiter count — with an all-strings schema nothing else
    * can fail) surface as `corrupt_record` exception rows instead of
    * being silently padded/truncated by PERMISSIVE mode. The parsed
    * frame is cached: Spark disallows queries over a raw CSV/JSON scan
    * whose referenced columns are only the corrupt-record column, and
    * the exceptions branch is exactly that query — materializing first
    * is the documented contract (and the pipeline reads both branches,
    * so the scan is shared, not repeated).
    */
  def readCsvRawAudited(spark: SparkSession, path: String, schema: StructType,
      dataset: String): AuditedCsv = {
    val actual = csvHeader(path)
    val (asStrings, cols) = bindByHeader(actual, schema,
      StructField(CorruptCol, StringType, nullable = true))
    val raw = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(asStrings)
      .csv(path)
      .cache()
    val clean = raw
      .filter(org.apache.spark.sql.functions.col(CorruptCol).isNull)
      .select(cols: _*)
    AuditedCsv(clean, corruptExceptions(raw, dataset), actual, raw)
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
    * nulled. Returns (clean rows, exceptions); caching rationale as in
    * [[readCsvRawAudited]].
    */
  def readJsonlAudited(spark: SparkSession, path: String, schema: StructType,
      dataset: String): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(schema.fields :+
      StructField(CorruptCol, StringType, nullable = true))
    val raw = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", CorruptCol)
      .schema(withCorrupt)
      .json(path)
      .cache()
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
    * guess), the rewrite is one round-robin (or partition-key)
    * repartition — no driver-side row handling — and the swap renames
    * the old dataset aside before renaming the staged one in, so the
    * window with no dataset at `path` is one rename, not a recursive
    * delete, and a crash mid-swap leaves the old data recoverable at
    * `path.compact_old`. Directory renames on one filesystem are not a
    * transaction — a reader racing the swap can still observe a missing
    * path for an instant; serving layers that can't tolerate that need
    * a manifest/pointer swap (object store) or a table format on top.
    */
  def compactParquet(spark: SparkSession, path: String,
      targetBytesPerFile: Long = 128L * 1024 * 1024,
      partitionCols: Seq[String] = Nil): Unit = {
    import org.apache.spark.sql.functions.col
    val walk = Files.walk(Paths.get(path))
    val bytes =
      try walk.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(Files.size).sum
      finally walk.close()
    val nFiles = math.max(1L, (bytes + targetBytesPerFile - 1) / targetBytesPerFile).toInt
    val df = spark.read.parquet(path)
    val staged = s"$path.compact_stage"
    val rebucketed =
      if (partitionCols.isEmpty) df.repartition(nFiles)
      else df.repartition(nFiles, partitionCols.map(col): _*)
    val writer = rebucketed.write.mode("overwrite")
    (if (partitionCols.isEmpty) writer else writer.partitionBy(partitionCols: _*))
      .parquet(staged)
    val old = Paths.get(s"$path.compact_old")
    deleteRecursively(old) // leftover from a previous crashed swap
    Files.move(Paths.get(path), old)
    Files.move(Paths.get(staged), Paths.get(path))
    deleteRecursively(old)
  }

  /** single-file CSV sink: the reference writes one `name.csv` per table
    * (io_utils.py:19–21); Spark writes a directory of parts, so we
    * coalesce(1) (output is already small/aggregated by contract) and
    * rename the part file. Caller guarantees deterministic row order.
    */
  def writeSingleCsv(df: DataFrame, path: String): Unit = {
    val target = Paths.get(path)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempDirectory(
      Option(target.getParent).getOrElse(Paths.get(".")), ".csv_stage").toString
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.startsWith("part-"))
      .getOrElse(sys.error(s"no part file written under $tmp"))
    Files.deleteIfExists(target)
    Files.move(part, target)
    deleteRecursively(Paths.get(tmp))
  }

  def writeText(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.writeString(p, content)
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val ls = Files.list(p)
      try ls.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally ls.close()
    }
    Files.deleteIfExists(p)
  }
}
