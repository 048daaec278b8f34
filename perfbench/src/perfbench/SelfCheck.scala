package perfbench

import java.nio.file.Paths

import graft.core.Sessions

/** Checks of the benchmark itself; exits non-zero if any fails.
  *
  *  1. The generated corpus has the recorded sf0.1 shape: 4,617 distinct
  *     (lang, word bigram) keys and a largest document frequency of 152.
  *  2. Two traced `close_small` runs of one seed give identical job and
  *     task counts per layer.
  *  3. The defect injector's expected audit equals the audit a real
  *     close writes, at the reference volume and at 100 times it, and
  *     the audit check rejects an expectation off by one row.
  *
  * Usage: perfbench.SelfCheck --cores C --work-dir D
  */
object SelfCheck {
  def main(args: Array[String]): Unit = {
    val o = Main.options(args)
    val cores = o("cores").toInt
    val dir = Paths.get(o("work-dir"))
    var failed = false
    def verdict(ok: Boolean, msg: String): Unit = {
      println((if (ok) "ok: " else "FAIL: ") + msg)
      if (!ok) failed = true
    }

    // keys and max df within 5% and 20% of the recorded table's, per seed
    Seq(1L, 2L, 3L).foreach { seed =>
      val df = Inputs.documents(seed).docs
        .flatMap(d => Inputs.shingles(d.text).map(d.lang -> _))
        .groupMapReduce(identity)(_ => 1)(_ + _)
      val (keys, maxDf) = (df.size, df.values.max)
      verdict(math.abs(keys - 4617) <= 0.05 * 4617 && math.abs(maxDf - 152) <= 0.2 * 152,
        s"corpus seed $seed: $keys (lang, shingle) keys, max df $maxDf; sf0.1 has 4617 and 152")
    }

    def tracedCounts(run: Int): Map[String, Double] = {
      val result = Runner.run(Runner.Config("close_small", 7, trace = true, cores,
        dir.resolve(s"trace$run")))
      require(result.failed == 0, s"traced run $run failed its output checks")
      result.op.layers.filter { case (k, _) =>
        k.endsWith(".jobs") || k.endsWith(".tasks") || k == "pipeline.unlabeled_jobs"
      }
    }
    val (a, b) = (tracedCounts(1), tracedCounts(2))
    val diff = (a.keySet ++ b.keySet).filter(k => a.get(k) != b.get(k))
    verdict(diff.isEmpty, "two traced close_small runs " + (if (diff.isEmpty)
      s"repeat their job and task counts (${a.getOrElse("pipeline.jobs", 0.0).toInt} pipeline jobs)"
      else "differ: " + diff.toSeq.sorted.map(k => s"$k ${a.get(k)} vs ${b.get(k)}").mkString(", ")))

    // the injector against a real audit: at the reference volume (343 raw
    // rows) and at 100 times it
    val spark = Sessions.local("perfbench-selfcheck", cores.toString)
    try Seq(1, 100).foreach { scale =>
      val w = new RejectedClose(seed = 11, scale, defects = 100 * scale,
        dir.resolve(s"rejected$scale"))
      w.generate(spark)
      val out = dir.resolve(s"rejected$scale-op")
      w.run(spark, out, new Spans)
      val expected = w.expectedAudit
      val problems = w.check(spark, out)
      val (key, count) = expected.head
      val strict = Checks.checkAudit(expected.updated(key, count + 1), out.resolve("curated")).nonEmpty
      spark.catalog.clearCache()
      verdict(problems.isEmpty && strict, s"scale $scale, injected audit of " +
        s"${expected.values.sum} ERROR rows over ${expected.size} checks" +
        (if (problems.isEmpty) " equals the written dq_exceptions.csv and dq_summary.csv"
         else s" differs from the close's: ${problems.mkString("; ")}") +
        (if (strict) "" else "; the check accepted an expectation off by one row"))
    } finally spark.stop()
    if (failed) sys.exit(1)
  }
}
