package graft.corpus

import org.apache.spark.sql.functions._

import graft.{CacheCheckedSpec, SparkSpec}
import graft.core.Tables

/** The library-surface curation pipeline, end to end. Each building
  * block's VALUES are already pinned by the DuckDB oracles (x2/x11/t5/
  * y1–y4 delegate to Corpus); this spec checks the composition contract:
  * curate() keeps exactly one doc per near-dup cluster, splits partition
  * the kept corpus, and every transform is deterministic across runs.
  */
class CorpusSpec extends SparkSpec with CacheCheckedSpec {

  private val dir = "/root/testdata/sf0.001"
  private def docs = Tables.documents(spark, dir)

  test("curate keeps exactly one doc per cluster and splits partition the keepers") {
    val curated = Corpus.curate(docs).cache()
    val clusters = Corpus.dupClusters(docs).cache()

    // keeper count = distinct clusters; each kept doc IS its cluster head
    assert(curated.count() == clusters.select("cluster_id").distinct().count())
    assert(curated.filter(col("doc_id") =!= col("cluster_id")).isEmpty)
    // no two keepers share a cluster
    assert(curated.groupBy("cluster_id").count().filter(col("count") > 1).isEmpty)
    // splits cover the keepers exactly, with all three classes present
    val bySplit = curated.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet == Set("train", "val", "test"))
    assert(bySplit.values.sum == curated.count())
    // normalization really applied: no double spaces, no digit runs
    assert(curated.filter(col("norm").rlike("[0-9]|  ")).isEmpty)
    curated.unpersist(); clusters.unpersist()
    assertNoCachedPlans()
  }

  test("curate with the LongestText policy keeps each cluster's longest doc") {
    val curated = Corpus.curate(docs, 0.5, qualityGate = false,
      Corpus.KeeperStrategy.LongestText).cache()
    val clusters = Corpus.dupClusters(docs).cache()
    // same cluster count as MinId curation — the policy changes WHICH
    // doc survives, never how many
    assert(curated.count() == clusters.select("cluster_id").distinct().count())
    // every keeper is at least as long as everything in its cluster
    val lens = docs.select(col("doc_id"), length(col("text")).as("len"))
    val maxLen = clusters.join(lens, "doc_id")
      .groupBy("cluster_id").agg(max("len").as("max_len"))
    val shorter = curated.join(lens, "doc_id").join(maxLen, "cluster_id")
      .filter(col("len") < col("max_len"))
    assert(shorter.isEmpty, "a keeper is shorter than a cluster-mate")
    curated.unpersist(); clusters.unpersist()
    assertNoCachedPlans()
  }

  test("dropped docs are exactly the non-head members of multi-doc clusters") {
    val clusters = Corpus.dupClusters(docs)
    val dropped = clusters.filter(!col("keep"))
    // every dropped doc's cluster head is kept and differs from it
    assert(dropped.filter(col("doc_id") === col("cluster_id")).isEmpty)
    val heads = clusters.filter(col("keep")).select(col("cluster_id").as("h"))
    assert(dropped.join(heads, col("cluster_id") === col("h"), "left_anti").isEmpty)
  }

  test("split and sample assignments are stable across runs (content-addressed)") {
    val a = Corpus.withSplit(docs).select("doc_id", "bucket", "split").collect().toSet
    val b = Corpus.withSplit(docs).select("doc_id", "bucket", "split").collect().toSet
    assert(a == b)
    val s1 = Corpus.stratifiedSample(docs, "lang", Map("en" -> 50), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s2 = Corpus.stratifiedSample(docs, "lang", Map("en" -> 50), 20)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty)
  }

  test("dedupAgainstIndex never rescans the indexed batch's text (persisted LSH index)") {
    val base = tmpDir("lsh_index_spec")
    val batch1Path = s"$base/batch1"
    docs.filter(col("doc_id") % 2 =!= 0).write.parquet(batch1Path)
    Corpus.writeLshIndex(spark.read.parquet(batch1Path), s"$base/index")
    // delete batch 1's source files: any attempt to re-shingle the
    // indexed corpus text from here on fails loudly
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(batch1Path)).iterator()
      .asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.delete)
    val got = Corpus
      .dedupAgainstIndex(docs.filter(col("doc_id") % 2 === 0), s"$base/index")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // cross-check: exactly the full-corpus near-dup pairs that straddle
    // the batch boundary, oriented (new, index)
    val expected = Corpus.nearDupPairs(docs)
      .filter((col("doc_a") % 2 === 0) =!= (col("doc_b") % 2 === 0))
      .collect().map { r =>
        if (r.getLong(0) % 2 == 0) (r.getLong(0), r.getLong(1), r.getDouble(2))
        else (r.getLong(1), r.getLong(0), r.getDouble(2))
      }.toSet
    assert(got == expected)
    assert(got.nonEmpty, "batch split produced no cross pairs — spec is vacuous")
    assertNoCachedPlans()
  }

  test("dupClusters: one action per round (convergence via observation) and caches released") {
    spark.catalog.clearCache()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { seen.add(funcName); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Corpus.dupClusters(docs) // propagation rounds run eagerly inside
      // listener delivery is async — wait for the checkpoint actions
      import scala.jdk.CollectionConverters._
      val deadline = System.nanoTime() + 15000000000L
      while (System.nanoTime() < deadline &&
        seen.asScala.count(_.toLowerCase.contains("checkpoint")) < 2)
        Thread.sleep(100)
      Thread.sleep(500) // let any stragglers (a stray count?) arrive
      val names = seen.asScala.toSeq
      assert(names.count(_.toLowerCase.contains("checkpoint")) >= 2,
        s"expected initial + per-round checkpoint actions, saw $names")
      assert(!names.contains("count"),
        s"convergence must not pay a separate count action, saw $names")
    } finally spark.listenerManager.unregister(listener)
    // working set (shingles, signatures, edges) released before returning
    assertNoCachedPlans()
  }

  test("quality-gated curate == curate over the pre-filtered corpus") {
    val gated = Corpus.curate(docs, qualityGate = true)
      .select("doc_id", "cluster_id", "split").collect().toSet
    val prefiltered = Corpus.curate(
        Corpus.qualitySignals(docs).filter(col("keep"))
          .select(docs.columns.map(col): _*))
      .select("doc_id", "cluster_id", "split").collect().toSet
    assert(gated == prefiltered)
    assert(gated.nonEmpty)
    assertNoCachedPlans()
  }

  test("keeperPolicy applies a strategy to a hand-built cluster frame without rebuilding clusters") {
    import spark.implicits._
    val d = Seq(
      (1L, "aa bb cc dd"), (2L, "aa bb"),            // cluster 1
      (3L, "zz yy xx"), (4L, "qq rr ss tt uu vv"),   // cluster 3
      (5L, "solo")                                    // singleton
    ).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L))
      .toDF("doc_id", "cluster_id")
    def keepers(strategy: Corpus.KeeperStrategy): Set[Long] =
      Corpus.keeperPolicy(d, clusters, strategy)
        .filter(col("keep")).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    // longest: doc 1 (11 chars) beats 2; doc 4 (18) beats 3
    assert(keepers(Corpus.KeeperStrategy.LongestText) == Set(1L, 4L, 5L))
    // min id: doc 3 beats 4
    assert(keepers(Corpus.KeeperStrategy.MinId) == Set(1L, 3L, 5L))
    // exactly one keeper per cluster either way
    val kp = Corpus.keeperPolicy(d, clusters)
    assert(kp.filter(col("keep")).groupBy("cluster_id").count()
      .filter(col("count") =!= 1).isEmpty)
    assert(kp.count() == 5)
  }

  test("curateIncremental bootstraps from ZERO segments: day-0 ingest with no prior corpus") {
    // the natural first call has nothing indexed yet — an empty segment
    // list must mean "empty index, nothing is a duplicate", not a crash
    val base = tmpDir("curate_inc_bootstrap")
    val batch = docs.filter(col("doc_id") < 50)
    val out = Corpus.curateIncremental(batch, Seq.empty, s"$base/seg0")
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    // with an empty index, drops can only come from IN-BATCH near-dups:
    // exactly the higher id of each verified pair
    val losers = Corpus.nearDupPairs(batch)
      .select("doc_b").collect().map(_.getLong(0)).toSet
    val ids = batch.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ids -- losers)
    // the appended segment is readable and covers exactly the survivors
    val seg = Corpus.readIndexSignatures(spark, Seq(s"$base/seg0"))
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(seg == kept)
  }

  test("curateIncremental: immutable segments compose and prior batches are never rescanned") {
    val base = tmpDir("curate_inc_spec")
    // the full-corpus verified pair set is ground truth; batch-restricted
    // LSH gives exactly its restriction (candidates don't depend on
    // out-of-batch docs)
    val pairs = Corpus.nearDupPairs(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet // doc_a < doc_b
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    def paired(id: Long, others: Set[Long]): Boolean =
      pairs.exists { case (a, b) => (a == id && others(b)) || (b == id && others(a)) }
    val b1 = ids.filter(_ % 3 == 0)
    val b2 = ids.filter(_ % 3 == 1)
    val b3 = ids.filter(_ % 3 == 2)

    // batch 1 → segment 0; delete its source before anything reads it back
    val b1Path = s"$base/b1"
    docs.filter(col("doc_id") % 3 === 0).write.parquet(b1Path)
    Corpus.writeLshIndex(spark.read.parquet(b1Path), s"$base/seg0")
    deleteTree(b1Path)

    // batch 2 curated against seg0 (batch 1's text is GONE)
    val b2Path = s"$base/b2"
    docs.filter(col("doc_id") % 3 === 1).write.parquet(b2Path)
    val c2 = Corpus.curateIncremental(spark.read.parquet(b2Path),
      Seq(s"$base/seg0"), s"$base/seg1")
    val got2 = c2.select("doc_id").collect().map(_.getLong(0)).toSet
    val drop2 = b2.filter(id => paired(id, b1) ||
      pairs.exists { case (a, b) => b == id && a % 3 == 1 })
    assert(got2 == b2 -- drop2)
    // splits assigned and normalization applied on the survivors
    assert(c2.filter(col("norm").rlike("[0-9]|  ")).isEmpty)
    assert(c2.select("split").distinct().count() >= 2)

    // batch 3 curated against BOTH segments; batch 2's text also gone
    assertNoCachedPlans()
    deleteTree(b2Path)
    val b3Path = s"$base/b3"
    docs.filter(col("doc_id") % 3 === 2).write.parquet(b3Path)
    val c3 = Corpus.curateIncremental(spark.read.parquet(b3Path),
      Seq(s"$base/seg0", s"$base/seg1"), s"$base/seg2")
    val got3 = c3.select("doc_id").collect().map(_.getLong(0)).toSet
    val surv2 = b2 -- drop2
    val drop3 = b3.filter(id => paired(id, b1 ++ surv2) ||
      pairs.exists { case (a, b) => b == id && a % 3 == 2 })
    assert(got3 == b3 -- drop3)
    // the appended segments exist and only hold survivors' signatures
    val seg1Ids = spark.read.parquet(s"$base/seg1/signatures")
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(seg1Ids.subsetOf(surv2))
    assert((drop2 ++ drop3).nonEmpty,
      "no cross-batch or in-batch dups at this sf — spec is vacuous")
    assertNoCachedPlans()
  }

  private def deleteTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(path))
    try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
      .foreach(java.nio.file.Files.delete)
    finally walk.close()
  }

  test("compactSegments: N segments fold into one with byte-equal content and identical probes") {
    val base = tmpDir("compact_spec")
    // three rolling-ingest segments from disjoint quarters of the corpus
    Corpus.writeLshIndex(docs.filter(col("doc_id") % 4 === 0), s"$base/seg0")
    Corpus.writeLshIndex(docs.filter(col("doc_id") % 4 === 1), s"$base/seg1")
    Corpus.writeLshIndex(docs.filter(col("doc_id") % 4 === 2), s"$base/seg2")
    val segs = Seq(s"$base/seg0", s"$base/seg1", s"$base/seg2")
    Corpus.compactSegments(spark, segs, s"$base/compacted")

    // content preservation: the compacted segment's signature and
    // shingle ROW SETS equal the N-segment union exactly
    // via the production multi-segment reader (a raw multi-path read
    // would refuse to infer one partition scheme across the roots)
    def sigRows(paths: Seq[String]) =
      Corpus.readIndexSignatures(spark, paths)
        .select("doc_id", "band_id", "band_key")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq.sorted
    assert(sigRows(segs) == sigRows(Seq(s"$base/compacted")))
    def shRows(paths: Seq[String]) =
      Corpus.readIndexShingles(spark, paths)
        .collect().map(r => (r.getLong(0), r.getSeq[String](1).sorted)).toSeq.sortBy(_._1)
    assert(shRows(segs) == shRows(Seq(s"$base/compacted")))

    // probe equality on the held-out quarter: dedup and incremental
    // curation see NO difference between the N segments and the one
    val probe = docs.filter(col("doc_id") % 4 === 3)
    def pairsAgainst(paths: Seq[String]) = {
      val got = Corpus.dedupAgainstIndex(probe, paths, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assertNoCachedPlans()
      got
    }
    val pN = pairsAgainst(segs)
    val p1 = pairsAgainst(Seq(s"$base/compacted"))
    assert(pN == p1)
    assert(pN.nonEmpty, "no cross-segment dups at this sf — spec is vacuous")
    def curatedAgainst(paths: Seq[String], seg: String) = {
      val got = Corpus.curateIncremental(probe, paths, s"$base/$seg")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assertNoCachedPlans()
      got
    }
    assert(curatedAgainst(segs, "segA") ==
      curatedAgainst(Seq(s"$base/compacted"), "segB"))

    // output-overlaps-input guard (r11 ADVICE): compacting INTO an input
    // — or into a parent/child of one — must refuse up front, before any
    // write, not rely on Spark's read-write-conflict abort mid-write
    val before = sigRows(segs)
    Seq(s"$base/seg1", s"$base/seg1/signatures", base).foreach { bad =>
      val e = intercept[IllegalArgumentException](
        Corpus.compactSegments(spark, segs, bad))
      assert(e.getMessage.contains("overlaps input segment"), bad)
    }
    // the refused calls wrote NOTHING into the existing segments
    assert(sigRows(segs) == before)
  }

  test("packShards respects contiguity: shard ids are non-decreasing in doc order per group") {
    val packed = Corpus.packShards(docs, "source", 2000)
      .select("source", "doc_id", "shard_id").collect()
      .groupBy(_.getString(0))
    packed.values.foreach { rows =>
      val byDoc = rows.sortBy(_.getLong(1)).map(_.getLong(2))
      assert(byDoc.zip(byDoc.tail).forall { case (a, b) => a <= b })
    }
  }
}
