package graft.tools

import org.apache.spark.sql.functions._

import graft.core.{Caches, Sessions, Tables}
import graft.queries.SimilarityQueries

/** Dev probe: the ANN family's BLOCKING pair mass under the fixed-k=8
  * quantizer vs the scaled k = ⌈√n⌉ one — the r15 verdict's quadratic
  * question measured directly. The within-cluster pair count
  * Σ c·(c−1)/2 IS the volume every centroid-blocked operator
  * (x18/x25/x26 fixed; x36/x37 scaled) feeds its pair join, and it is
  * computable exactly from one assignment pass + a cluster-size agg —
  * no pair join runs, so the probe prices a decade in seconds. Also
  * reports the max cluster (the largest single join task) and the
  * trained k, so the decade table can show both the total pair mass
  * (the n² vs n^1.5 axis) and the per-key bound.
  *
  * Usage: runMain graft.tools.AnnScaleProbe <sfDir>
  */
object AnnScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = Sessions.local("ann-scale-probe",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", Sessions.cpus))
    val e = SimilarityQueries.toVecs(Tables.embeddings(spark, dir)).cache()
    val n = e.count()
    def mass(k: Int, label: String): Unit = {
      val t0 = System.nanoTime()
      val cents = SimilarityQueries.trainedCentroids(e, Caches.Harness, k = k)
      val sizes = SimilarityQueries.assignNearest(e, cents)
        .groupBy("centroid_id").agg(count(lit(1)).as("c"))
      val r = sizes.agg(
        coalesce(sum(col("c") * (col("c") - 1) / 2), lit(0L)).as("pairs"),
        coalesce(max("c"), lit(0L)).as("max_cluster"),
        count(lit(1)).as("k_nonempty")).first()
      val sec = math.round((System.nanoTime() - t0) / 1e7) / 100.0
      println(s"""{"annscale":{"dir":"$dir","rule":"$label","n":$n,""" +
        s""""k":$k,"pair_mass":${r.getAs[Number](0).longValue()},""" +
        s""""max_cluster":${r.getLong(1)},"k_nonempty":${r.getLong(2)},""" +
        s""""sec":$sec}}""")
      spark.catalog.clearCache()
      e.cache(); e.count() // re-pin the shared vector frame
    }
    mass(8, "fixed8")
    mass(SimilarityQueries.scaledK(n), "scaled_sqrt")
    // SERVING cost at each quantizer: |ADC-scored candidates| for the
    // 10-query probe set — x19's (k=8, nprobe=2) scans a constant ~1/4
    // of the corpus at every decade; x38's (⌈√n⌉, ⌈√k⌉) rides n^0.75.
    def scanned(label: String, f: => Long): Unit = {
      val t0 = System.nanoTime()
      val c = f
      val sec = math.round((System.nanoTime() - t0) / 1e7) / 100.0
      println(s"""{"annscale_serving":{"dir":"$dir","rule":"$label",""" +
        s""""n":$n,"adc_candidates":$c,""" +
        s""""frac":${math.round(c * 1e4 / (10.0 * (n - 1))) / 1e4},""" +
        s""""sec":$sec}}""")
      spark.catalog.clearCache()
      e.cache(); e.count()
    }
    scanned("fixed8_np2", SimilarityQueries.ivfPqScanned(spark, dir, 2))
    scanned("scaled_sqrt", SimilarityQueries.ivfPqScannedScaled(spark, dir))
    // --edges: the QUALIFYING (cosine ≥ 0.35) pair count under each
    // quantizer — Σ n_dups of the registered dedup queries' own output,
    // i.e. exactly the edge set x26/x37's CC shuffles per round. This
    // runs the real pair joins (minutes at sf10), so it is opt-in.
    if (args.length > 1 && args(1) == "--edges") {
      Seq("x18_semantic_dedup" -> "fixed8",
          "x36_semantic_dedup_scaled" -> "scaled_sqrt").foreach {
        case (q, label) =>
          val t0 = System.nanoTime()
          val r = graft.SparkEntry.queries(q)(spark, dir)
            .agg(coalesce(sum("n_dups"), lit(0L))).first()
          val sec = math.round((System.nanoTime() - t0) / 1e7) / 100.0
          println(s"""{"annscale_edges":{"dir":"$dir","rule":"$label",""" +
            s""""edges":${r.getLong(0)},"sec":$sec}}""")
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
