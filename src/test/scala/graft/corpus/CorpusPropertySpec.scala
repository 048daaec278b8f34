package graft.corpus

import org.apache.spark.sql.functions._

import graft.{CacheCheckedSpec, SparkSpec}

/** Property check for the clustering core: on randomized corpora,
  * [[Corpus.dupClusters]] (distributed min-label propagation + pointer
  * jumping) must produce exactly the connected components of
  * [[Corpus.nearDupPairs]]' verified-pair graph, with the min doc id as
  * the canonical label — verified against an in-memory BFS closure.
  * Randomization catches shapes the fixed corpus doesn't have (longer
  * chains, singletons, dense cliques); seeds are fixed for determinism.
  */
class CorpusPropertySpec extends SparkSpec with CacheCheckedSpec {
  import spark.implicits._

  /** deterministic pseudo-random corpus: texts over a tiny vocabulary so
    * bigram-shingle collisions (and thus multi-hop dup chains) actually
    * occur at n=60 docs.
    */
  private def randomDocs(seed: Long): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(seed)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val rows = (0L until 60L).map { id =>
      val n = 3 + rnd.nextInt(8)
      val text = Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      (id, text)
    }
    rows.toDF("doc_id", "text")
  }

  test("dupClusters == BFS closure of nearDupPairs on random corpora (3 seeds)") {
    for (seed <- Seq(11L, 42L, 1337L)) {
      val docs = randomDocs(seed)
      val pairs = Corpus.nearDupPairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val got = Corpus.dupClusters(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      assertNoCachedPlans()

      // in-memory closure: adjacency BFS, component label = min doc id
      val adj = scala.collection.mutable.Map.empty[Long, List[Long]]
        .withDefaultValue(Nil)
      pairs.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val label = scala.collection.mutable.Map.empty[Long, Long]
      (0L until 60L).foreach { start =>
        if (!label.contains(start)) {
          val comp = scala.collection.mutable.Set(start)
          var frontier = List(start)
          while (frontier.nonEmpty)
            frontier = frontier.flatMap(adj).filter(comp.add)
          val m = comp.min
          comp.foreach(label(_) = m)
        }
      }
      got.foreach { case (doc, cluster, keep) =>
        assert(cluster == label(doc),
          s"seed $seed doc $doc: got cluster $cluster, closure says ${label(doc)}")
        assert(keep == (doc == cluster), s"seed $seed doc $doc keep flag wrong")
      }
      assert(got.length == 60, s"seed $seed: ${got.length} labeled docs")
      // the corpus must actually contain some multi-doc cluster
      assert(got.exists(r => !r._3), s"seed $seed produced only singletons — vacuous")
    }
  }

  test("sequential updateClusters over random batch splits == the full rebuild (3 seeds)") {
    // the incremental-maintenance invariant, randomized: ANY partition
    // of a random corpus into seed + k arrival batches, folded in one
    // batch at a time (each leaving an index segment for the next),
    // must land on exactly dupClusters(everything). Random corpora
    // produce the adversarial shapes — chains that span batches,
    // late-arriving bridges that merge seed-era clusters, batches with
    // no dups at all.
    for (seed <- Seq(7L, 99L, 2024L)) {
      val docs = randomDocs(seed).cache()
      val rnd = new scala.util.Random(seed * 31)
      val assign = (0L until 60L).map(id => id -> rnd.nextInt(3)).toMap
      val batchOf = udf((id: Long) => assign(id))
      val seedDocs = docs.filter(batchOf(col("doc_id")) === 0)
      val batches = Seq(1, 2).map(k => docs.filter(batchOf(col("doc_id")) === k))

      val base = tmpDir(s"prop_inc_$seed")
      Corpus.writeLshIndex(seedDocs, s"$base/seg_0")
      var labels = Corpus.dupClusters(seedDocs).select("doc_id", "cluster_id")
      var segs = Seq(s"$base/seg_0")
      batches.zipWithIndex.foreach { case (b, i) =>
        labels = Corpus.updateClusters(labels, b, segs)
          .select("doc_id", "cluster_id")
          .localCheckpoint() // sever lineage across batches
        Corpus.writeLshIndex(b, s"$base/seg_${i + 1}")
        segs :+= s"$base/seg_${i + 1}"
      }
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val expected = Corpus.dupClusters(docs).select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"seed $seed: incremental != rebuild")
      // non-vacuous: some cluster spans batches
      val spans = expected.groupBy(_._2).values
        .exists(c => c.map(t => assign(t._1)).size > 1 && c.size > 1)
      assert(spans, s"seed $seed: no cluster spans a batch boundary — vacuous")
      docs.unpersist()
      assertNoCachedPlans()
    }
  }
}
