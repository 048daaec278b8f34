package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.core.Sessions

/** Runs one workload in a fresh JVM: set-up once, then one operation,
  * and writes the result record as JSON.
  *
  * Usage: perfbench.Main --workload W --seed N --trace 0|1 --cores C
  *          --work-dir D --result F
  */
object Main {
  /** `--key value` pairs */
  def options(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap

  def main(args: Array[String]): Unit = {
    val o = options(args)
    val cfg = Runner.Config(o("workload"), o("seed").toLong, o("trace") == "1",
      o("cores").toInt, Paths.get(o("work-dir")))
    Files.writeString(Paths.get(o("result")), Runner.run(cfg).json)
  }
}

object Runner {
  final case class Config(workload: String, seed: Long, trace: Boolean, cores: Int, dir: Path)

  /** the set-up's times: session start, input generation, preparation */
  final case class SetUp(startS: Double, genS: Double, prepareS: Double)

  /** one operation: its times, its per-layer figures (traced only) and
    * the problems its check found
    */
  final case class Op(opS: Double, callS: Double, rows: Long,
      layers: Map[String, Double], problems: Seq[String])

  final case class Result(cfg: Config, inputs: Seq[(String, Long)], setUp: SetUp, op: Op) {
    val failed: Int = if (op.problems.nonEmpty) 1 else 0

    def endToEnd: Seq[(String, Double, String)] = Seq(
      ("op_s", op.opS, "s"),
      ("call_s", op.callS, "s"),
      ("rows_per_s", op.rows / op.opS, "1/s"),
      ("setup_s", setUp.startS + setUp.genS + setUp.prepareS, "s"))

    def perLayer: Seq[(String, Double, String)] = {
      val derived = Map(
        "sample_data.gen_s" -> setUp.genS,
        "sessions.start_s" -> setUp.startS,
        "setup.prepare_s" -> setUp.prepareS,
        "trace.op_s" -> op.opS)
      Layers.catalogue.map { case (name, unit) =>
        (name, derived.getOrElse(name, op.layers.getOrElse(name, 0.0)), unit)
      }
    }

    def json: String = {
      val metrics = (if (cfg.trace) perLayer else endToEnd).map { case (n, v, u) =>
        s""""$n": {"value": ${num(v)}, "unit": "$u"}"""
      }.mkString(", ")
      val info = (Seq(s""""workload": "${cfg.workload}"""", s""""seed": ${cfg.seed}""",
        s""""cores": ${cfg.cores}""", s""""traced": ${cfg.trace}""") ++
        inputs.map { case (k, v) => s""""$k": $v""" }).mkString(", ")
      val problems = op.problems.take(5)
        .map(p => "\"" + p.replace("\\", "\\\\").replace("\"", "'").replace("\n", " ") + "\"")
      s"""{"correct": ${failed == 0}, "attempted": 1, "failed": $failed, """ +
        s""""metrics": {$metrics}, "info": {$info}, "problems": [${problems.mkString(", ")}]}"""
    }
  }

  private def num(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs the operation; a throw other than the workload's expected
    * outcome, or a failed check, marks it failed.
    */
  def runOp(w: Workload, spark: SparkSession, out: Path, tracer: Option[Tracer]): Op = {
    val sc = spark.sparkContext
    val spans = new Spans
    tracer.foreach(sc.addSparkListener)
    val t0 = System.nanoTime()
    val rows = try Right(w.run(spark, out, spans)) catch { case NonFatal(e) => Left(e) }
    val opS = seconds(t0)
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      t.fence(sc)
      sc.removeSparkListener(t)
      val (jobs, tasks) = t.drain()
      Layers.measure(spans.all, jobs, tasks)
    }
    val problems = rows match {
      case Left(e) => Seq(s"operation threw $e")
      case Right(_) =>
        try w.check(spark, out) catch { case NonFatal(e) => Seq(s"check threw $e") }
    }
    val counters = if (tracer.isEmpty || problems.nonEmpty) Map.empty[String, Double]
      else w.counters(spark, out)
    Op(opS, spans.seconds(w.callSpan), rows.getOrElse(0L), layers ++ counters, problems)
  }

  /** Set-up (session start, input generation, preparation), then the
    * operation.
    */
  def run(cfg: Config): Result = {
    val w = Workloads(cfg.workload, cfg.seed, cfg.dir.resolve("inputs"))
    val t0 = System.nanoTime()
    val spark = Sessions.local("perfbench", cfg.cores.toString)
    try {
      val startS = seconds(t0)
      val t1 = System.nanoTime()
      w.generate(spark)
      val genS = seconds(t1)
      val t2 = System.nanoTime()
      w.prepare(spark)
      val setUp = SetUp(startS, genS, seconds(t2))
      val op = runOp(w, spark, cfg.dir.resolve("op"), if (cfg.trace) Some(new Tracer) else None)
      Result(cfg, w.inputSizes, setUp, op)
    } finally spark.stop()
  }
}
