package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.core.Caches
import graft.functions.MoneyFunctions._

/** The r16 scaled-k quantizer rung: k = ⌈√n⌉ turns the ANN family's
  * Σ cluster_size² blocking bound from ≈ n²/k (quadratic at any fixed
  * k) into ≈ n^1.5. Correctness of the scaled queries themselves is
  * oracle-pinned (x36/x37 re-derive k and the k-wide Lloyd chain in
  * DuckDB); this spec pins the two pieces the oracle can't see:
  *
  *  1. the [[graft.functions.NearestCentroid]] kernel (the narrow
  *     large-k assignment) is bit-identical to the RELATIONAL rank-1
  *     definition — a broadcast join + (rounded cosine DESC,
  *     centroid_id ASC) window — on a real corpus at a past-inline k,
  *     including the zero-norm all-NaN row semantics;
  *  2. the kernel ≡ the literal-inlined array_max form on the SAME
  *     k ≤ INLINE_K centroid table, so the dispatch bound can move
  *     without moving any answer;
  *  3. [[SimilarityQueries.scaledK]]'s arithmetic.
  */
class AnnScaledSpec extends SparkSpec {

  private def vecsOf(dir: String) =
    SimilarityQueries.toVecs(graft.core.Tables.embeddings(spark, dir))

  /** the original relational assignment — rank 1 by rounded cosine
    * desc, centroid id asc — written independently of the production
    * helpers.
    */
  private def relationalAssign(e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("vec_id")
      .orderBy(col("cos").desc, col("centroid_id"))
    val out = e.select(col("vec_id"), col("v")).as("c")
      .join(broadcast(cents.as("q")))
      .withColumn("cos", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("c.vec_id").as("vec_id"),
        col("q.centroid_id").as("centroid_id"), col("cos"))
      .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    out
  }

  private def kernelAssign(e: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val arr = cents.select(col("centroid_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    val out = e.select(col("vec_id"), col("v"))
      .withColumn("centroid_id", graft.functions.NearestCentroid(arr, col("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    spark.catalog.clearCache()
    out
  }

  test("NearestCentroid equals the relational rank-1 assignment at a past-inline k") {
    val e = vecsOf("/root/testdata/sf0.01")
    val k = SimilarityQueries.scaledK(e.count())
    assert(k > SimilarityQueries.INLINE_K,
      s"sf0.01 must exercise the bulk path: k=$k")
    val cents = SimilarityQueries.trainedCentroids(e, Caches.Harness, k = k)
    val rel = relationalAssign(e, cents)
    val ker = kernelAssign(e, cents)
    assert(ker.size == rel.size && ker == rel,
      "bulk kernel diverged from the relational rank-1 definition")
  }

  test("NearestCentroid equals the literal-inlined form on the same k=8 table") {
    val e = vecsOf("/root/testdata/sf0.01")
    val cents = SimilarityQueries.trainedCentroids(e, Caches.Harness)
    // production inline path (k = 8 ≤ INLINE_K)
    val inline = SimilarityQueries.assignNearest(e, cents)
      .select("cand_id", "centroid_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    val ker = kernelAssign(e, SimilarityQueries.trainedCentroids(e, Caches.Harness))
    assert(inline == ker,
      "inline and kernel assignments diverged on the same centroid table")
  }

  test("a zero-norm vector lands on the lowest centroid id in both forms") {
    import spark.implicits._
    // 3 unit-ish vectors as centroids 0/1/2; row 9 is all-zero — its
    // cosine to everything is 0/0 = NaN, and the contract (Spark window
    // NaN-greatest ordering, DuckDB NaN-first DESC, Double.compare in
    // the kernel) lands it on centroid 0 deterministically
    val cents = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0)),
      (2L, Seq(1.0, 1.0))).toDF("centroid_id", "v")
    val e = Seq((9L, Seq(0.0, 0.0)), (10L, Seq(2.0, 0.1)))
      .toDF("vec_id", "v")
    val rel = relationalAssign(e, cents)
    val ker = kernelAssign(e, cents)
    assert(rel == ker, s"NaN-row semantics diverged: rel=$rel ker=$ker")
    assert(rel(9L) == 0L, s"zero-norm row must land on centroid 0, got ${rel(9L)}")
  }

  test("scaledK arithmetic") {
    assert(SimilarityQueries.scaledK(0) == 8)
    assert(SimilarityQueries.scaledK(64) == 8)
    assert(SimilarityQueries.scaledK(500) == 23)
    assert(SimilarityQueries.scaledK(20000) == 142)
    assert(SimilarityQueries.scaledK(200000) == 448)
  }

  test("scaledNprobe arithmetic") {
    // the floor: ⌈√8⌉ = 3 at scaledK's own floor (np=2 would need
    // k ≤ 4, which scaledK can't produce — the max(2, ·) is a guard,
    // not a reachable operating point)
    assert(SimilarityQueries.scaledNprobe(8) == 3)
    assert(SimilarityQueries.scaledNprobe(4) == 2)
    assert(SimilarityQueries.scaledNprobe(23) == 5)   // sf0.01's point
    assert(SimilarityQueries.scaledNprobe(45) == 7)   // sf0.1's point
    assert(SimilarityQueries.scaledNprobe(142) == 12) // sf1
    assert(SimilarityQueries.scaledNprobe(448) == 22) // sf10
  }
}
