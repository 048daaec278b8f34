package graft.corpus

import org.apache.spark.sql.functions._

import graft.{CacheCheckedSpec, SparkSpec}

/** Pathological-input robustness for the corpus library: empty strings,
  * single words, exact clones, and an outsized document must flow
  * through shingling, LSH dedup, clustering, quality signals, and
  * curate() without exceptions and with sane outputs — these are the
  * first rows a real ingest feed contains.
  */
class CorpusEdgeCaseSpec extends SparkSpec with CacheCheckedSpec {
  import spark.implicits._

  private def weird = Seq(
    (0L, ""),                                   // empty text
    (1L, "word"),                               // single word — no shingles
    (2L, "two words"),                          // minimal shingle
    (3L, "two words"),                          // exact clone of 2
    (4L, ("tok " * 5000).trim),                 // outsized, fully repetitive
    (5L, "1 2 3 4 5 6 7 8 9"),                  // all-numeric words
    (6L, "alpha beta gamma delta eps zeta eta") // normal doc
  ).toDF("doc_id", "text")

  test("shingling and near-dup pairs survive degenerate docs") {
    val sh = Corpus.withShingles(weird).select("doc_id", "sh").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sh(0L).isEmpty && sh(1L).isEmpty)      // <2 words → no shingles
    assert(sh(2L) == Seq("two words"))
    assert(sh(4L) == Seq("tok tok"))              // distinct collapses repeats
    val pairs = Corpus.nearDupPairs(weird).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact clone pair is found at jaccard 1.0; shingle-less docs
    // can never pair (null band keys fall out of the equi-join)
    assert(pairs.contains((2L, 3L, 1.0)))
    assert(!pairs.exists(p => p._1 <= 1 || p._2 <= 1))
    assertNoCachedPlans()
  }

  test("curate with the quality gate handles degenerate docs end to end") {
    val curated = Corpus.curate(weird, qualityGate = true)
      .select("doc_id", "cluster_id", "split").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // gate: doc 0 (0 words), 1/2/3 (<5 words), 4 (dup fraction 1.0),
    // 5 (all symbol words) all fail; only doc 6 survives
    assert(curated.keySet == Set(6L))
    assert(curated(6L) == 6L)
    // without the gate everything flows through and the clone collapses
    val all = Corpus.curate(weird)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(all == Set(0L, 1L, 2L, 4L, 5L, 6L)) // 3 deduped into 2's cluster
    assertNoCachedPlans()
  }

  test("quality signals are well-defined on empty and numeric docs") {
    val q = Corpus.qualitySignals(weird)
      .select("doc_id", "n_words", "dup_word_fraction",
        "numeric_char_fraction", "symbol_word_fraction", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getBoolean(5))).toMap
    assert(q(0L)._1 == 1L)                 // split("") → [""] — one token
    assert(q(5L)._4 == 1.0 && !q(5L)._5)   // all-numeric words → symbol words, dropped
    assert(q(4L)._2 > 0.99 && !q(4L)._5)   // fully repetitive → dropped
    assert(q(6L)._5)                       // normal doc kept
  }

  test("pageRank on an edge-free graph puts every node at the no-in-edge floor") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    val r = Corpus.pageRank(nodes, edges, iters = 2)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val floor = math.floor((1.0 - 0.85) / 4 * 1e10 + 0.5) / 1e10
    assert(r.size == 4 && r.values.forall(_ == floor), s"$r")
    // convergence mode: round 1 moves uniform → floor, round 2 measures
    // stillness and stops
    val (_, rounds) = Corpus.pageRankConverged(nodes, edges)
    assert(rounds == 2, s"edge-free graph took $rounds rounds")
  }

  test("updateClusters with an empty batch is the identity on the labels") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val base = tmpDir("edge_inc_empty")
    Corpus.writeLshIndex(docs, s"$base/idx")
    val old = Corpus.dupClusters(docs).select("doc_id", "cluster_id")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val got = Corpus.updateClusters(old, empty, Seq(s"$base/idx"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == old.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    assertNoCachedPlans()
  }

  test("updateClusters day-0: empty label table and no segments equals a fresh cluster build") {
    import spark.implicits._
    val batch = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "x y z w v u"))
      .toDF("doc_id", "text")
    val noLabels = Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    val got = Corpus.updateClusters(noLabels, batch, Nil)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val expected = Corpus.dupClusters(batch)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(got == expected)
    assertNoCachedPlans()
  }
}
