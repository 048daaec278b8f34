package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CacheCheckedSpec, SparkSpec}
import graft.ann.AnnIndex
import graft.corpus.Corpus
import graft.etl.EtlIO
import graft.multimodal.Multimodal
import graft.queries.SimilarityQueries
import graft.streaming.StreamingOps

/** [[Caches]]' rule, held against every library entry point on tiny
  * hand-written inputs:
  *
  *  - (a) a frame the caller cached survives the call, and so does a
  *    caller's cache of the very plan the call builds internally;
  *  - (b) after the caller's one action on what the call returned, and
  *    after the caller unpersists its own frames, no cached plan is left;
  *  - (c) one micro-batch of each streaming ingest loop leaves the
  *    caller's cache in place.
  */
class CacheOwnershipSpec extends SparkSpec with CacheCheckedSpec {
  import spark.implicits._

  private def longText(seed: String): String =
    (seed + " lorem ipsum dolor sit amet consectetur ") * 6

  /** two exact clones, one near-clone, one unrelated doc and a long
    * twin pair (enough frames for the media path to find it)
    */
  private val rows = Seq(
    StreamingOps.DocRow(1L, "web", "alpha beta gamma delta epsilon zeta eta"),
    StreamingOps.DocRow(2L, "web", "alpha beta gamma delta epsilon zeta eta"),
    StreamingOps.DocRow(3L, "web", "alpha beta gamma delta epsilon zeta theta"),
    StreamingOps.DocRow(4L, "news", "one two three four five six seven"),
    StreamingOps.DocRow(5L, "news", longText("twin")),
    StreamingOps.DocRow(6L, "news", longText("twin")))

  private def docsOf(rs: Seq[StreamingOps.DocRow]): DataFrame =
    rs.toDF().withColumn("n_chars", length(col("text")).cast("long"))

  private lazy val docs = docsOf(rows)
  /** the indexed half and the arriving half of the corpus */
  private lazy val indexed = docsOf(rows.filter(_.doc_id % 2 == 1))
  private lazy val batch = docsOf(rows.filter(_.doc_id % 2 == 0))

  /** 24 deterministic 64-dim embeddings (8 PQ subspaces of 8 dims) */
  private def embeddings(ids: Range): DataFrame =
    ids.map { i =>
      (i.toLong, i % 3, Array.tabulate(64)(j => ((i * 31 + j * 7) % 17 + 1) / 17.0f))
    }.toDF("vec_id", "label", "embedding")

  /** a frame only the caller knows about, cached and materialized */
  private def callerCache(): DataFrame = {
    val mine = Seq(7L, 8L, 9L).toDF("mine").cache()
    mine.count()
    mine
  }

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** (a) and (b) for one entry point: `call` runs beside the caller's
    * own caches (an unrelated frame plus `alsoCached`), `act` is the
    * caller's one action on what the call returned.
    */
  private def owns[T](name: String, alsoCached: Seq[DataFrame] = Nil)(call: => T)(
      act: T => Unit): Unit = {
    val mine = callerCache() +: alsoCached.map(_.cache())
    mine.foreach(_.count())
    val out = call
    assert(mine.forall(cached), s"$name dropped a cache its caller made")
    act(out)
    assert(mine.forall(cached), s"$name's result dropped a cache its caller made")
    mine.foreach(_.unpersist())
    assertNoCachedPlans()
  }

  private def count(df: DataFrame): Unit = { df.count(); () }

  test("EtlIO.readJsonlAudited") {
    val p = s"${tmpDir("own_jsonl")}/in.jsonl"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "{\"a\": 1}\n{not json\n")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a", org.apache.spark.sql.types.LongType)))
    owns("readJsonlAudited")(Caches.scoped { own =>
      val (clean, ex) = EtlIO.readJsonlAudited(spark, p, schema, "feed", own)
      (clean.count(), ex.count())
    })(counts => assert(counts == ((1L, 1L))))
  }

  private val nodes = Seq(1L, 2L, 3L, 4L)
  private val edges = Seq((1L, 2L), (2L, 3L))

  test("Corpus.nearDupPairs") {
    owns("nearDupPairs")(Corpus.nearDupPairs(docs))(count)
  }

  test("Corpus.dupClusters") {
    owns("dupClusters")(Corpus.dupClusters(docs))(count)
  }

  test("Corpus.connectedComponents") {
    owns("connectedComponents")(
      Corpus.connectedComponents(nodes.toDF("id"), edges.toDF("src", "dst")))(count)
  }

  test("Corpus.pageRank") {
    owns("pageRank")(Corpus.pageRank(nodes.toDF("id"), edges.toDF("src", "dst")))(count)
  }

  test("Corpus.pageRankConverged") {
    owns("pageRankConverged")(
      Corpus.pageRankConverged(nodes.toDF("id"), edges.toDF("src", "dst")))(r => count(r._1))
  }

  /** the indexed half's LSH index, written once for the tests below */
  private lazy val lshIndex: String = {
    val p = s"${tmpDir("own_lsh")}/index"
    Corpus.writeLshIndex(indexed, p)
    p
  }

  test("Corpus.writeLshIndex") {
    // the caller caches the exact shingle plan writeLshIndex builds
    val p = s"${tmpDir("own_lsh_write")}/index"
    owns("writeLshIndex", Seq(Corpus.withShingles(indexed).select("doc_id", "sh")))(
      Corpus.writeLshIndex(indexed, p))(_ => ())
  }

  test("Corpus.dedupAgainstIndex") {
    val idx = lshIndex
    owns("dedupAgainstIndex")(Corpus.dedupAgainstIndex(batch, idx))(count)
  }

  test("Corpus.curate") {
    owns("curate")(Corpus.curate(docs))(count)
  }

  test("Corpus.curateIncremental") {
    val (idx, seg) = (lshIndex, s"${tmpDir("own_curate_inc")}/seg1")
    owns("curateIncremental", Seq(Corpus.withShingles(batch).select("doc_id", "sh")))(
      Corpus.curateIncremental(batch, Seq(idx), seg))(count)
  }

  test("Corpus.updateClusters") {
    val (idx, old) = (lshIndex, Corpus.dupClusters(indexed).select("doc_id", "cluster_id"))
    owns("updateClusters")(Corpus.updateClusters(old, batch, Seq(idx)))(count)
  }

  /** the indexed half's frame index, written once for the tests below */
  private lazy val frameIndex: String = {
    val p = s"${tmpDir("own_frames")}/index"
    Multimodal.writeFrameIndex(spark, indexed, p)
    p
  }

  test("Multimodal.writeFrameIndex") {
    val p = s"${tmpDir("own_frames_write")}/index"
    owns("writeFrameIndex")(Multimodal.writeFrameIndex(spark, indexed, p))(_ => ())
  }

  test("Multimodal.curateMediaIncremental") {
    val (idx, seg) = (frameIndex, s"${tmpDir("own_media_inc")}/seg1")
    owns("curateMediaIncremental")(
      Multimodal.curateMediaIncremental(batch, Seq(idx), seg))(count)
  }

  /** the first 24 embeddings' ANN index, written once for append */
  private lazy val annIndex: String = {
    val p = s"${tmpDir("own_ann")}/index"
    AnnIndex.write(embeddings(0 until 24), p)
    p
  }

  test("AnnIndex.write") {
    val emb = embeddings(0 until 24)
    val p = s"${tmpDir("own_ann_write")}/index"
    // the caller caches the exact vector plan write builds
    owns("AnnIndex.write", Seq(SimilarityQueries.toVecs(emb)))(AnnIndex.write(emb, p))(_ => ())
  }

  test("AnnIndex.append") {
    val idx = annIndex
    owns("AnnIndex.append")(AnnIndex.append(spark, idx, embeddings(24 until 30)))(_ => ())
  }

  /** (c): one micro-batch of the arriving half through a stream */
  private def oneBatch(name: String)(
      start: DataFrame => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamingOps.DocRow]
    val mine = callerCache()
    val q = start(input.toDF())
    try { input.addData(rows.filter(_.doc_id % 2 == 0)); q.processAllAvailable() }
    finally q.stop()
    assert(cached(mine), s"$name dropped a cache its caller made")
    mine.unpersist()
    assertNoCachedPlans()
  }

  test("StreamingOps.curateStreamIncremental: one micro-batch") {
    val (idx, base) = (lshIndex, tmpDir("own_curate_stream"))
    oneBatch("curateStreamIncremental")(in => StreamingOps.curateStreamIncremental(
      in, Seq(idx), s"$base/segments", s"$base/out", s"$base/ckpt"))
  }

  test("StreamingOps.mediaStreamIncremental: one micro-batch") {
    val (idx, base) = (frameIndex, tmpDir("own_media_stream"))
    oneBatch("mediaStreamIncremental")(in => StreamingOps.mediaStreamIncremental(
      in, Seq(idx), s"$base/segments", s"$base/out", s"$base/ckpt"))
  }

  test("StreamingOps.clusterMaintainStream: one micro-batch") {
    val (idx, base) = (lshIndex, tmpDir("own_cluster_stream"))
    EtlIO.writeParquet(Corpus.dupClusters(indexed).select("doc_id", "cluster_id"),
      s"$base/labels")
    oneBatch("clusterMaintainStream")(in => StreamingOps.clusterMaintainStream(
      in, Seq(idx), s"$base/labels", s"$base/state", s"$base/ckpt"))
  }
}
