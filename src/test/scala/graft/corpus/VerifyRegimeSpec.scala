package graft.corpus

import org.apache.spark.sql.functions._

import org.apache.spark.sql.graftbridge.CacheProbe

import graft.SparkSpec
import graft.core.{Caches, Tables}

/** The r14 verify-regime dispatch ([[Corpus.dispatchVerifySets]] /
  * [[Corpus.verifyAgainstIndex]]): the regime choice may change the
  * PLAN, never the ANSWER — the same contract x28's probe-volume
  * dispatch operates under (DedupSaltSpec pins that one). Every
  * verify-join caller the r13 verdict named (x4, x20, x2/nearDupPairs,
  * x10/dedupAgainstIndex) must be output-equal under all regimes, with
  * the regime forced through the `graft.verify.broadcastBudget` conf
  * knob — the same override the decade-3 bracketing runs use.
  */
class VerifyRegimeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def withBudget[T](budget: Long)(body: => T): T = {
    spark.conf.set("graft.verify.broadcastBudget", budget.toString)
    try body
    finally {
      spark.conf.unset("graft.verify.broadcastBudget")
      spark.catalog.clearCache()
    }
  }

  test("dispatchVerifySets picks the documented regime per measured bytes") {
    val docs = Tables.documents(spark, dir)
    val sh = Corpus.withShingles(docs).select("doc_id", "sh")
    val full = Corpus.setFrameBytes(sh)
    assert(full > 0, "measured set bytes must be positive on the shipped fixture")
    // a thin candidate set: pruned bytes must sit strictly under full
    val cand = sh.select(col("doc_id").as("doc_a"))
      .orderBy("doc_a").limit(5)
      .withColumn("doc_b", col("doc_a"))
    // the caches each regime leaves with its owner, counted inside the
    // owner's scope from an empty start (withBudget clears after each)
    spark.catalog.clearCache()
    def cachedInScope[T](body: Caches => T): (T, Seq[String]) =
      Caches.scoped { own => val r = body(own); (r, CacheProbe.cachedPlans(spark)) }
    // regime 1: whole-set broadcast — no caches created
    withBudget(Long.MaxValue) {
      val ((c, _), caches) = cachedInScope(own => Corpus.dispatchVerifySets(
        cand, Seq("doc_a", "doc_b"), sh, Corpus.setFrameBytes(sh), own))
      assert(caches.isEmpty, "whole-set regime must not cache anything")
      assert(c eq cand, "whole-set regime must pass candidates through")
    }
    // regime 2: over budget on the full frame, pruned fits — candidate
    // and pruned frames cached
    withBudget(full - 1) {
      val (_, caches) = cachedInScope(own => Corpus.dispatchVerifySets(
        cand, Seq("doc_a", "doc_b"), sh, full, own))
      assert(caches.size == 2,
        s"pruned regime must cache candidates + pruned sets, got $caches")
    }
    // regime 3: nothing fits — SMJ on the natural frames, candidates
    // cached (the prune was attempted and measured, then released)
    withBudget(0L) {
      val ((_, side), caches) = cachedInScope(own => Corpus.dispatchVerifySets(
        cand, Seq("doc_a", "doc_b"), sh, full, own))
      assert(side eq sh, "zero budget must fall back to the natural frame")
      assert(caches.size == 1, s"got $caches")
    }
    assert(CacheProbe.noCachedPlans(spark), CacheProbe.leaked(spark))
  }

  test("x2/x4/x20/x10 are output-equal under every verify regime") {
    def battery(): Map[String, Seq[String]] = {
      val q = graft.SparkEntry.queries
      val out = Seq("x2_dedup_minhash_lsh", "x4_dedup_ngram_jaccard",
        "x20_containment_dedup", "x10_dedup_incremental_lsh").map { name =>
        name -> q(name)(spark, dir).collect().map(_.toString).sorted.toSeq
      }.toMap
      spark.catalog.clearCache()
      out
    }
    val broadcastAll = withBudget(Long.MaxValue)(battery())
    broadcastAll.foreach { case (n, rows) =>
      assert(rows.nonEmpty, s"$n returned no rows — the equality pin is vacuous")
    }
    // the middle budget lands between typical pruned and full set bytes
    // on this fixture; whichever side it falls on per query, the output
    // must not move
    val sh = Corpus.withShingles(Tables.documents(spark, dir))
      .select("doc_id", "sh")
    val mid = math.max(1L, Corpus.setFrameBytes(sh) / 2)
    spark.catalog.clearCache()
    assert(withBudget(mid)(battery()) == broadcastAll,
      "candidate-pruned/middle regime changed a verify answer")
    assert(withBudget(0L)(battery()) == broadcastAll,
      "SMJ regime changed a verify answer")
  }

  test("verifyAgainstIndex dispatch: stream-shared tail equal under both regimes") {
    val docs = Tables.documents(spark, dir)
    val idx = tmpDir("regime_idx")
    Corpus.writeLshIndex(docs.filter(col("doc_id") % 2 =!= 0), idx)
    def pairs(): Set[(Long, Long)] = {
      val r = Corpus.dedupAgainstIndex(docs.filter(col("doc_id") % 2 === 0),
          idx)
        .select("new_id", "index_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      spark.catalog.clearCache()
      r
    }
    val b = withBudget(Long.MaxValue)(pairs())
    assert(b.nonEmpty, "no cross-index pairs — the equality pin is vacuous")
    assert(withBudget(0L)(pairs()) == b,
      "index-verify regime changed the stream-shared tail's answer")
  }
}
