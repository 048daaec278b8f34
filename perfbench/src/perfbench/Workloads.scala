package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.corpus.Corpus
import graft.etl._

/** One workload: inputs generated from the seed under `root`, an
  * optional preparation, and an operation with an independent output
  * check.
  */
trait Workload {
  /** the span whose time is reported as `call_s` */
  def callSpan: String

  /** writes the inputs */
  def generate(spark: SparkSession): Unit

  /** builds what the operation reads but does not change */
  def prepare(spark: SparkSession): Unit = ()

  /** input sizes recorded with the result */
  def inputSizes: Seq[(String, Long)]

  /** Runs the operation, writing under `out`; returns the input rows it
    * consumed.
    */
  def run(spark: SparkSession, out: Path, spans: Spans): Long

  /** independent check of the operation's outputs; empty means correct */
  def check(spark: SparkSession, out: Path): Seq[String]

  /** per-layer counters read from the operation's outputs */
  def counters(spark: SparkSession, out: Path): Map[String, Double] = Map.empty
}

object Workloads {
  def apply(name: String, seed: Long, root: Path): Workload = name match {
    case "close_small" => new CleanClose(seed, scale = 1, root)
    case "corpus_ingest" => new CorpusIngest(seed, root)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}

/** The close of one raw month generated by `SampleData` at `scale`; the
  * seed picks the month and the data.
  */
abstract class Close(seed: Long, scale: Int, root: Path) extends Workload {
  protected val month: String =
    java.time.YearMonth.of(2000, 1).plusMonths(Math.floorMod(seed, 240L)).toString
  protected def rawDir: Path = root.resolve("raw")
  protected def refDir: Path = root.resolve("reference")
  val callSpan = "pipeline"

  def generate(spark: SparkSession): Unit = {
    SampleData.write(rawDir.toString, month, seed, scale)
    SampleData.writeChartOfAccounts(refDir.toString)
  }

  protected def runMonth(spark: SparkSession, out: Path, spans: Spans): Pipeline.Outputs =
    spans("pipeline")(Pipeline.runMonth(spark, Settings(), month,
      rawDir.toString, out.resolve("curated").toString, refDir.toString))

  def inputSizes: Seq[(String, Long)] = Seq(
    "scale" -> scale.toLong, "raw_rows" -> Inputs.rawRows(rawDir))

  override def counters(spark: SparkSession, out: Path): Map[String, Double] = {
    val curated = out.resolve("curated")
    val fact = curated.resolve("fact_transactions.parquet")
    Map(
      "dq.exception_rows" -> Checks.csvRows(curated.resolve("dq_exceptions.csv")).toDouble,
      "transform.fact_rows" ->
        (if (Files.exists(fact)) spark.read.parquet(fact.toString).count().toDouble else 0.0),
      "star_schema.bytes_written" -> Workloads.bytesUnder(out.resolve("star")).toDouble,
      "bi_export.bytes_written" -> Workloads.bytesUnder(out.resolve("bi")).toDouble,
      "dashboard.bytes_written" -> Workloads.bytesUnder(out.resolve("dashboard.html")).toDouble)
  }
}

/** A clean month, closed and exported exactly as
  * `Cli run --star-dir --bi-dir --dashboard` does.
  */
final class CleanClose(seed: Long, scale: Int, root: Path) extends Close(seed, scale, root) {
  def run(spark: SparkSession, out: Path, spans: Spans): Long = {
    val o = runMonth(spark, out, spans)
    def curated(): (DataFrame, DataFrame, DataFrame) =
      (spark.read.parquet(o.fact), spark.read.parquet(o.dimAccounts), spark.read.parquet(o.kpi))
    spans("star_schema") {
      val (fact, dim, kpi) = curated()
      StarSchema.export(spark, fact, dim, kpi, month, out.resolve("star").toString)
    }
    spans("bi_export") {
      val (fact, dim, kpi) = curated()
      BiExport.export(spark, fact, dim, kpi, o.dqExceptions, o.dqSummary, month,
        out.resolve("bi").toString)
    }
    spans("dashboard") {
      val (fact, dim, kpi) = curated()
      val html = Dashboard.buildHtml(spark, fact, dim, kpi,
        spark.read.option("header", "true").csv(o.dqExceptions),
        spark.read.option("header", "true").csv(o.dqSummary), month)
      Dashboard.write(out.resolve("dashboard.html").toString, html)
    }
    Inputs.rawRows(rawDir)
  }

  def check(spark: SparkSession, out: Path): Seq[String] =
    Checks.checkClose(spark,
      Checks.expectClose(rawDir, refDir.resolve("chart_of_accounts.csv"), month), month,
      out.resolve("curated"), out.resolve("star"), out.resolve("bi"),
      out.resolve("dashboard.html"))
}

/** One month with injected ERROR defects, closed under the default
  * `fail-on ERROR`: the operation ends when the gate rejects the month.
  * [[SelfCheck]] uses it to hold the injector against a real audit.
  */
final class RejectedClose(seed: Long, scale: Int, defects: Int, root: Path)
    extends Close(seed, scale, root) {
  private var expected: Map[Inputs.AuditKey, Long] = Map.empty
  private var rejected = false

  override def generate(spark: SparkSession): Unit = {
    super.generate(spark)
    expected = Inputs.injectDefects(rawDir, defects, seed)
  }

  def expectedAudit: Map[Inputs.AuditKey, Long] = expected

  def run(spark: SparkSession, out: Path, spans: Spans): Long = {
    rejected =
      try { runMonth(spark, out, spans); false }
      catch { case _: Pipeline.DqGateFailedException => true }
    Inputs.rawRows(rawDir)
  }

  def check(spark: SparkSession, out: Path): Seq[String] =
    (if (rejected) Nil else Seq("gate did not reject the month")) ++
      Checks.checkAudit(expected, out.resolve("curated"))
}

/** The daily corpus ingest against an index and cluster table of 90% of
  * an sf0.1-shaped corpus ([[Inputs.documents]]): curate the remaining
  * tenth, then fold it into the clusters. The seed picks the documents
  * and which tenth is new.
  */
final class CorpusIngest(seed: Long, root: Path) extends Workload {
  val callSpan = "corpus.curate_inc"
  private lazy val corpus = Inputs.documents(seed)
  private lazy val batchIds: Set[Long] = {
    val tenth = Math.floorMod(seed, 10L)
    val order = new scala.util.Random(seed).shuffle(corpus.docs.map(_.doc_id))
    order.zipWithIndex.collect { case (d, k) if k % 10 == tenth => d }.toSet
  }
  private var rounds = 0

  private def batch = root.resolve("batch.parquet").toString
  private def index = root.resolve("index").toString
  private def clusters = root.resolve("clusters.parquet").toString

  def generate(spark: SparkSession): Unit = {
    import spark.implicits._
    val (b, base) = corpus.docs.partition(d => batchIds(d.doc_id))
    EtlIO.writeParquet(b.toDF(), batch)
    EtlIO.writeParquet(base.toDF(), root.resolve("base.parquet").toString)
  }

  override def prepare(spark: SparkSession): Unit = {
    val indexed = spark.read.parquet(root.resolve("base.parquet").toString)
    Corpus.writeLshIndex(indexed, index)
    EtlIO.writeParquet(Corpus.dupClusters(indexed), clusters)
    spark.catalog.clearCache()
  }

  def inputSizes: Seq[(String, Long)] = Seq(
    "indexed_docs" -> (corpus.docs.size - batchIds.size).toLong,
    "batch_docs" -> batchIds.size.toLong)

  def run(spark: SparkSession, out: Path, spans: Spans): Long = {
    spans("corpus.curate_inc") {
      val curated = Corpus.curateIncremental(spark.read.parquet(batch), Seq(index),
        out.resolve("segment").toString)
      EtlIO.writePartitionedParquet(curated, out.resolve("curated").toString, Seq("split"))
    }
    rounds = spans("corpus.update_clusters") {
      val (updated, r) = Corpus.updateClustersWithStats(spark.read.parquet(clusters),
        spark.read.parquet(batch), Seq(index))
      EtlIO.writeParquet(updated, out.resolve("clusters").toString)
      r
    }
    batchIds.size.toLong
  }

  def check(spark: SparkSession, out: Path): Seq[String] =
    Checks.checkIngest(spark, corpus, batchIds, out)

  override def counters(spark: SparkSession, out: Path): Map[String, Double] =
    Map("corpus.cc_rounds" -> rounds.toDouble)
}
