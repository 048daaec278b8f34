package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Caches
import graft.functions.MoneyFunctions._
import graft.queries.SimilarityQueries

/** Persisted IVF-PQ index — the "train once, persist, serve" shape that
  * actually runs at 100 TB: training (the x8 Lloyd coarse quantizer and
  * the x14 PQ codebooks, both oracle-pinned constructions) happens in
  * ONE batch job whose artifacts land on disk, and every later search
  * touches only parquet — no retraining, no rescan of the corpus scan
  * that produced the index (AnnIndexSpec proves it by deleting the
  * source before searching). The on-disk layout is the on-cluster
  * layout:
  *
  *  - `centroids/`   k coarse centroids (default 8, scaled deployments
  *                   pass k = ⌈√n⌉ — broadcast-sized either way: ≤ √n·d)
  *  - `codebooks/`   M=8 × K=16 PQ codebooks (broadcast-sized)
  *  - `postings/`    (cand_id, s, cid) PQ codes Hive-partitioned by
  *                   centroid_id — a query probing nprobe lists READS
  *                   nprobe directories (partition pruning is the IVF
  *                   posting-list seek)
  *  - `vectors/`     exact vectors + norms, partitioned by centroid_id —
  *                   the refine stage reads only probed partitions
  *
  * Search = [[graft.queries.SimilarityQueries]]'s x19 composition
  * (probe → ADC over codes → exact refine of the REFINE_R shortlist)
  * against the files; AnnIndexSpec pins search-from-disk == x19's
  * oracle-checked output row for row.
  */
object AnnIndex {

  /** Train the coarse quantizer + PQ codebooks on `embeddings`
    * (vec_id, label, embedding Array[Float]) and persist the full
    * serving index under `path`. One pass trains, assigns, encodes.
    *
    * `k` is the coarse list count. The default 8 is the oracle-pinned
    * baseline (AnnIndexSpec pins it against x19); a production corpus
    * passes `k = SimilarityQueries.scaledK(n)` — with k FIXED the
    * per-list population is n/k, so every serving cost (probed rows
    * per query, the largest single list a task reads) grows linearly
    * with the corpus, while k = ⌈√n⌉ bounds both at ~√n (the x36/x38
    * scale argument; searches pair it with
    * `nprobe = SimilarityQueries.scaledNprobe(k)`). Past k = 16 the
    * assignment runs the narrow NearestCentroid kernel — no n·k
    * exchange at any k.
    */
  def write(embeddings: DataFrame, path: String, k: Int = 8): Unit = Caches.scoped { own =>
    // the whole index is built under a staging sibling and swapped in
    // with directory renames, so a serving reader never opens an index
    // whose four artifacts are mid-write or from two different builds
    // (a rebuild over a live index would otherwise serve new centroids
    // against old codes). Same staged-swap contract as
    // EtlIO.compactParquet: the no-index window is one rename, and a
    // crash mid-swap leaves the old index recoverable at `.old`.
    val staged = s"$path.stage"
    graft.core.Scratch.deleteTree(java.nio.file.Paths.get(staged))
    val e = own(SimilarityQueries.toVecs(embeddings))
    val centroids = SimilarityQueries.trainedCentroids(e, own, k = k)
    val assigned = SimilarityQueries.assignNearest(e, centroids)
      .select(col("cand_id"), col("centroid_id"))
    val subs = SimilarityQueries.pqSubsOf(e)
    val cb = SimilarityQueries.pqCodebook(subs, own)
    val codes = SimilarityQueries.pqAssign(subs, cb)
      .select(col("vec_id").as("cand_id"), col("s"), col("cid"))
    graft.etl.EtlIO.writeParquet(centroids, s"$staged/centroids")
    graft.etl.EtlIO.writeParquet(cb, s"$staged/codebooks")
    graft.etl.EtlIO.writePartitionedParquet(
      codes.join(assigned, Seq("cand_id")), s"$staged/postings", Seq("centroid_id"))
    graft.etl.EtlIO.writePartitionedParquet(
      e.select(col("vec_id").as("cand_id"), col("v"), col("norm"))
        .join(assigned, Seq("cand_id")),
      s"$staged/vectors", Seq("centroid_id"))
    val target = java.nio.file.Paths.get(path)
    val old = java.nio.file.Paths.get(s"$path.old")
    graft.core.Scratch.deleteTree(old)
    if (java.nio.file.Files.exists(target))
      java.nio.file.Files.move(target, old)
    java.nio.file.Files.move(java.nio.file.Paths.get(staged), target,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    graft.core.Scratch.deleteTree(old)
  }

  /** Extend a persisted index with new vectors WITHOUT retraining — the
    * FAISS `add()` operation, and the ANN twin of the LSH index's
    * incremental segments: assign each new vector to its nearest
    * EXISTING coarse centroid, PQ-encode it with the EXISTING
    * codebooks, and append the rows into the Hive-partitioned
    * `postings/` and `vectors/` layouts. Appends land as new part-files
    * inside the affected `centroid_id=` directories — old files are
    * never touched, and VECTORS commit before POSTINGS: a candidate can
    * only enter the ADC shortlist once its code is visible, and by then
    * its exact vector already exists for the refine join (the reverse
    * order would let a shortlisted candidate silently vanish at refine
    * and return under-filled top-k). Parquet appends are file-by-file,
    * not transactional — a reader racing the append can still see a
    * PARTIAL new batch (some new candidates, not yet all); serving
    * layers that need atomic batch visibility put a manifest swap on
    * top. Touches only the new batch and two broadcast-sized artifacts;
    * the indexed corpus is never rescanned. Quantization error grows as
    * the ingested distribution drifts from the trained one (the
    * standard no-retrain trade) — re-run [[write]] when recall decays.
    */
  def append(spark: SparkSession, path: String,
      newEmbeddings: DataFrame): Unit = Caches.scoped { own =>
    val centroids = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebooks")
    val e = own(SimilarityQueries.toVecs(newEmbeddings))
    val assigned = SimilarityQueries.assignNearest(e, centroids)
      .select(col("cand_id"), col("centroid_id"))
    e.select(col("vec_id").as("cand_id"), col("v"), col("norm"))
      .join(assigned, Seq("cand_id"))
      .write.mode("append").partitionBy("centroid_id").parquet(s"$path/vectors")
    SimilarityQueries.pqAssign(SimilarityQueries.pqSubsOf(e), cb)
      .select(col("vec_id").as("cand_id"), col("s"), col("cid"))
      .join(assigned, Seq("cand_id"))
      .write.mode("append").partitionBy("centroid_id").parquet(s"$path/postings")
  }

  /** Delete vectors from a persisted index WITHOUT retraining or
    * rewriting postings — the curation-delete path: `ids` (any frame
    * with a `cand_id` column) land as a tombstone parquet batch under
    * `tombstones/`, and [[searchIvfPq]] anti-joins them out of the
    * probed postings BEFORE the ADC shortlist is ranked, so a deleted
    * vector neither serves results nor occupies a shortlist slot that
    * would under-fill the survivors' top-k. Without this, curation
    * deletes leave dead vectors serving queries forever. Tombstone
    * batches accrete file-by-file (same append discipline as
    * [[append]]); [[compact]] folds them into the data files and
    * clears the channel.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    ids.select(col("cand_id").cast("long").as("cand_id")).distinct()
      .write.mode("append").parquet(s"$path/tombstones")

  /** the deduplicated tombstone set, or None when nothing was ever
    * deleted (day-one indexes have no `tombstones/` dir).
    */
  private def tombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(path, "tombstones")
    if (!java.nio.file.Files.exists(p)) None
    else Some(spark.read.parquet(p.toString).select("cand_id").distinct())
  }

  /** Fold accumulated tombstones into the index files: rewrite
    * `postings/` and `vectors/` without the deleted candidates (staged
    * + swapped, same crash contract as [[write]]), then drop the
    * tombstone channel. Centroids and codebooks are untouched — no
    * retrain. Run this when the tombstone set grows large enough that
    * the per-search anti-join matters, or on the compaction cadence the
    * corpus already has.
    */
  def compact(spark: SparkSession, path: String): Unit =
    tombstones(spark, path).foreach { ts =>
      val dead = broadcast(ts)
      Seq("postings", "vectors").foreach { part =>
        val dir = s"$path/$part"
        val staged = s"$dir.stage"
        graft.core.Scratch.deleteTree(java.nio.file.Paths.get(staged))
        spark.read.parquet(dir).join(dead, Seq("cand_id"), "left_anti")
          .write.mode("overwrite").partitionBy("centroid_id").parquet(staged)
        val old = java.nio.file.Paths.get(s"$dir.old")
        graft.core.Scratch.deleteTree(old)
        java.nio.file.Files.move(java.nio.file.Paths.get(dir), old)
        java.nio.file.Files.move(java.nio.file.Paths.get(staged),
          java.nio.file.Paths.get(dir),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        graft.core.Scratch.deleteTree(old)
      }
      // tombstones drop LAST: a crash above leaves them in place and the
      // next search/compact still masks the same dead ids (idempotent)
      graft.core.Scratch.deleteTree(java.nio.file.Paths.get(path, "tombstones"))
    }

  /** IVF-PQ search over a persisted index: `queries` is any
    * (query_id, v double array, norm) frame — typically a handful of
    * vectors, broadcast throughout. Probes `nprobe` lists, ADC-scores
    * their codes, exact-refines the top REFINE_R, returns the top `k`
    * per query as (query_id, cand_id, cosine, rank). Reads ONLY the
    * index files; every per-query artifact is bounded. `nprobe = 2` is
    * the fixed-k=8 knee; against a scaled-k index pass
    * `SimilarityQueries.scaledNprobe(k)` (= ⌈√k⌉ — per-query probed
    * volume then rides n^0.75 instead of a constant corpus fraction).
    */
  def searchIvfPq(spark: SparkSession, path: String, queries: DataFrame,
      k: Int = 3, nprobe: Int = 2): DataFrame = {
    val centroids = spark.read.parquet(s"$path/centroids")
    val cb = spark.read.parquet(s"$path/codebooks")
    // deleted candidates are masked at the POSTINGS, before ADC ranking:
    // a tombstoned vector must not hold a shortlist slot (that would
    // under-fill the survivors' top-k), and the broadcast anti-join
    // touches only the nprobe partitions the probe stage prunes to
    val rawPostings = spark.read.parquet(s"$path/postings")
    val postings = tombstones(spark, path) match {
      case Some(ts) => rawPostings.join(broadcast(ts), Seq("cand_id"), "left_anti")
      case None => rawPostings
    }
    val vectors = spark.read.parquet(s"$path/vectors")
    val q = queries.select(col("query_id"), col("v"), col("norm"))

    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("centroid_id"))
    val probes = q.select(col("query_id"), col("v")).as("c")
      .join(broadcast(centroids.as("q")))
      .withColumn("qcos", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("c.query_id").as("query_id"),
        col("q.centroid_id").as("centroid_id"), col("qcos"))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nprobe)
      .select("query_id", "centroid_id")

    // per-query M×K inner-product tables + per-code norms (x15's ADC)
    val qsubs = SimilarityQueries.pqSubsOf(
      q.select(col("query_id").as("vec_id"), lit("").as("label"),
        col("v"), col("norm")))
    val dt = qsubs.as("c")
      .join(broadcast(cb.as("q")), col("c.s") === col("q.s"))
      .select(col("c.vec_id").as("query_id"), col("c.s").as("s"),
        col("q.cid").as("cid"),
        roundAt(expr(
          """aggregate(zip_with(sub, cent, (a, b) -> a * b),
            |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("ipd"))
    val cn2 = cb.select(col("s"), col("cid"), roundAt(expr(
      """aggregate(transform(cent, x -> x * x),
        |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("cn2"))
    val qn = q.select(col("query_id"), col("norm").as("qnorm"))

    val adcW = Window.partitionBy("query_id")
      .orderBy(col("acos").desc, col("cand_id"))
    val shortlist = probes.join(postings, Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id", "s", "cid")
      .join(broadcast(dt), Seq("query_id", "s", "cid"))
      .join(broadcast(cn2), Seq("s", "cid"))
      .groupBy("query_id", "cand_id")
      .agg(sum("ipd").as("ip"), sum("cn2").as("c2"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("acos", roundAt(col("ip") / (col("qnorm") * sqrt(col("c2"))), 6))
      .withColumn("adc_rank", row_number().over(adcW))
      .filter(col("adc_rank") <= SimilarityQueries.REFINE_R)
      .select("query_id", "cand_id")

    val qv = q.select(col("query_id"), col("v").as("q_v"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    shortlist
      .join(vectors.select(col("cand_id"), col("v"), col("norm")), Seq("cand_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", roundAt(expr("cosine_similarity(q_v, v)"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "cand_id", "cosine", "rank")
      .orderBy("query_id", "rank")
  }
}
