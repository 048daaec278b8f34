package graft.corpus

import org.apache.spark.sql.functions._

import graft.{CacheCheckedSpec, SparkSpec}
import graft.core.{Artifacts, Tables}
import graft.etl.EtlIO

/** Corpus.updateClusters — incremental cluster maintenance must EQUAL
  * the full rebuild (the x29 oracle pins this against the recursive
  * closure at sf0.01; here it's pinned on the real sf0.001 corpus and
  * on a hand-built graph whose cross-cluster merge is the case naive
  * assign-to-nearest gets wrong). The daily-batch cases pin that
  * curateIncremental and updateClusters on the same batch, index and
  * threshold build the verified edges once, and that any change to what
  * the edges were built from rebuilds them.
  */
class IncrementalClusterSpec extends SparkSpec with CacheCheckedSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rows(df: org.apache.spark.sql.DataFrame) = df
    .select("doc_id", "cluster_id", "keep").collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet

  test("incremental update equals the full rebuild on the real corpus") {
    val docs = Tables.documents(spark, dir)
    val evens = docs.filter(col("doc_id") % 2 === 0)
    val odds = docs.filter(col("doc_id") % 2 =!= 0)
    val base = tmpDir("inc_cluster")
    Corpus.writeLshIndex(evens, s"$base/index")
    val oldClusters = Corpus.dupClusters(evens)
      .select("doc_id", "cluster_id").cache()
    val (got, rounds) = Corpus.updateClustersWithStats(
      oldClusters, odds, Seq(s"$base/index"))
    val expected = Corpus.dupClusters(docs)
    assert(rows(got) == rows(expected))
    assert(rounds >= 1)
    // the cross path really engaged: some cluster mixes parities
    val mixed = got.groupBy("cluster_id")
      .agg(countDistinct(col("doc_id") % 2).as("parities"))
      .filter(col("parities") === 2)
    assert(!mixed.isEmpty, "no odd doc joined an even cluster — spec is vacuous")
    oldClusters.unpersist()
    assertNoCachedPlans()
  }

  test("a bridging new doc merges two old clusters; untouched clusters keep labels") {
    import spark.implicits._
    // 21 distinct words each ⇒ 20 bigram shingles; the bridge B is A's
    // text + C's text, so jaccard(B, A) = jaccard(B, C) = 20/41 ≈ 0.488
    // (≥ the 0.45 threshold) while jaccard(A, C) = 0 — A and C sit in
    // DIFFERENT old clusters until B arrives. D/E are an unrelated
    // identical pair: their cluster must come through label-untouched.
    // Stems chosen so the deterministic MinHash bands catch BOTH bridge
    // pairs (at s ≈ 0.49 a band collision is ~89% likely per pair;
    // "alpha"/"gamma" happens to miss one side, "alpha"/"omega" hits).
    val wordsA = (1 to 21).map(i => s"alpha$i").mkString(" ")
    val wordsC = (1 to 21).map(i => s"omega$i").mkString(" ")
    val wordsD = (1 to 21).map(i => s"delta$i").mkString(" ")
    val old = Seq((10L, wordsA), (20L, wordsC), (30L, wordsD), (40L, wordsD))
      .toDF("doc_id", "text")
    val bridge = Seq((50L, s"$wordsA $wordsC")).toDF("doc_id", "text")
    val t = 0.45

    val base = tmpDir("inc_bridge")
    Corpus.writeLshIndex(old, s"$base/index")
    val oldClusters = Corpus.dupClusters(old, t).select("doc_id", "cluster_id")
    // precondition: A and C separate, D/E together
    val oldMap = oldClusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oldMap(10L) == 10L && oldMap(20L) == 20L && oldMap(30L) == 30L
      && oldMap(40L) == 30L, s"unexpected old clusters: $oldMap")

    val got = Corpus.updateClusters(oldClusters, bridge, Seq(s"$base/index"), t)
    val gotMap = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // B bridged A and C: all three collapse to min-id 10
    assert(gotMap(10L) == 10L && gotMap(20L) == 10L && gotMap(50L) == 10L,
      s"bridge merge failed: $gotMap")
    // untouched cluster label unchanged
    assert(gotMap(30L) == 30L && gotMap(40L) == 30L)
    // and the whole thing equals the full rebuild at the same threshold
    assert(rows(got) == rows(Corpus.dupClusters(old.unionByName(bridge), t)))
    assertNoCachedPlans()
  }

  /** verified-edge builds so far: it grows exactly when a call builds
    * the edges
    */
  private def edgeBuilds: Long = Artifacts.handOffBuilds(Corpus.EdgeFamily)

  /** the sf0.001 corpus split as the daily batch sees it: the even ids
    * indexed (LSH segment + their clusters at `t`), the odd ids the new
    * batch, written to parquet as a day's input is
    */
  private final class Day(t: Double) {
    val docs = Tables.documents(spark, dir)
    val base = tmpDir("inc_edges")
    val index = Seq(s"$base/index")
    val batchPath = s"$base/batch.parquet"
    Corpus.writeLshIndex(docs.filter(col("doc_id") % 2 === 0), index.head)
    EtlIO.writeParquet(Corpus.dupClusters(docs.filter(col("doc_id") % 2 === 0), t)
      .select("doc_id", "cluster_id"), s"$base/clusters.parquet")
    writeBatch()
    def writeBatch(): Unit =
      EtlIO.writeParquet(docs.filter(col("doc_id") % 2 =!= 0), batchPath)
    def batch = spark.read.parquet(batchPath)
    def old = spark.read.parquet(s"$base/clusters.parquet")
    def curate(gate: Boolean = false): Long = Corpus.curateIncremental(batch, index,
      s"$base/segment", 0.5, qualityGate = gate).count()
    def update(threshold: Double): org.apache.spark.sql.DataFrame =
      Corpus.updateClusters(old, batch, index, threshold)
    def full = Corpus.dupClusters(docs, t)
  }

  test("curate then update on the same batch builds the verified edges once") {
    val day = new Day(0.5)
    val before = edgeBuilds
    assert(day.curate() > 0L)
    assert(edgeBuilds == before + 1, "curateIncremental did not build the edges")
    val got = day.update(0.5)
    assert(edgeBuilds == before + 1, "updateClusters rebuilt the edges curate built")
    assert(rows(got) == rows(day.full))
    // the edges were served once: a second update builds its own
    assert(rows(day.update(0.5)) == rows(day.full) && edgeBuilds == before + 2)
    assertNoCachedPlans()
  }

  test("rewriting the batch between curate and update rebuilds the edges") {
    val day = new Day(0.5)
    day.curate()
    val built = edgeBuilds
    day.writeBatch()
    val got = day.update(0.5)
    assert(edgeBuilds == built + 1, "a rewritten batch was served the old edges")
    assert(rows(got) == rows(day.full))
    assertNoCachedPlans()
  }

  test("a quality-gated curate does not serve an update of the ungated batch") {
    val day = new Day(0.5)
    day.curate(gate = true)
    val built = edgeBuilds
    val got = day.update(0.5)
    assert(edgeBuilds == built + 1, "the gated batch's edges served the ungated batch")
    assert(rows(got) == rows(day.full))
    assertNoCachedPlans()
  }

  test("an update at another threshold rebuilds the edges") {
    val day = new Day(0.45)
    day.curate()
    val built = edgeBuilds
    val got = day.update(0.45)
    assert(edgeBuilds == built + 1, "the 0.5 edges served a 0.45 update")
    assert(rows(got) == rows(day.full))
    assertNoCachedPlans()
  }
}
