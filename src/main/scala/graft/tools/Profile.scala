package graft.tools

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.SparkEntry
import graft.core.{Caches, Scratch, Sessions, Tables}
import graft.etl.{Pipeline, SampleData, Settings}
import graft.multimodal.Multimodal

/** The one profiler: `runMain graft.tools.Profile <jobs|stages|totals|plan>
  * [target ...]`. Each target runs once warm, then, after `clearCache`,
  * once under one listener that keeps every job and completed stage; the
  * bus is drained before that record is read. `jobs`, `stages` and
  * `totals` print it per label and job, per stage, or per target (each
  * ends with the target's totals line); `plan` prints the formatted
  * physical plan and runs nothing. A target is a [[graft.SparkEntry]]
  * query (none = every query), `close:<scale>` (the SampleData month
  * closed by `Pipeline.runMonth`) or `media-salt:<chunk>` (m6's
  * candidate → verify → partner-agg pipeline at that salt chunk). Query
  * and media-salt targets read `SPARK_GRAFT_SF_DIR`; `SPARK_GRAFT_CPUS`
  * sizes the session; `SPARK_GRAFT_CONF="k=v;k=v"` sets runtime confs.
  * Frames run as `queryExecution.toRdd.count()`: `count()` re-optimizes
  * with zero output columns, so Catalyst drops final left joins whose
  * right side is unique on the key; toRdd runs the query's own plan.
  */
object Profile {
  private val Month = "2025-12"

  /** a query (or any frame built like one), m6's pair pipeline over the
    * corpus in `dir` salted at `chunk`, or a month generated by [[close]]
    */
  sealed trait Target { def name: String }
  final case class Query(name: String, build: SparkSession => DataFrame) extends Target
  final case class MediaSalt(dir: String, chunk: Long) extends Target {
    def name: String = s"media-salt:$chunk"
  }
  final case class Close(scale: Int, base: String) extends Target {
    def name: String = s"close:$scale"
  }

  def close(scale: Int): Close = {
    val base = Scratch.dir(s"profile_close_$scale")
    SampleData.write(s"$base/raw", Month, scale = scale)
    SampleData.writeChartOfAccounts(s"$base/ref")
    Close(scale, base)
  }

  final case class Job(id: Int, label: String, startMs: Long,
      endMs: Option[Long], stages: Int, tasks: Int) {
    def ms: Long = endMs.fold(-1L)(_ - startMs)
  }
  final case class Stage(id: Int, job: Int, tasks: Int, sec: Double,
      inputBytes: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memSpillBytes: Long, diskSpillBytes: Long, scopes: String)
  final case class Run(target: String, rows: Option[Long], sec: Double,
      jobs: Seq[Job], stages: Seq[Stage])

  /** Labels a job by `spark.job.description`, else its SQL execution's
    * description, else its last stage's name. A stage counts toward the
    * first job that lists it.
    */
  private final class Recorder extends SparkListener {
    private val execLabels = mutable.Map.empty[Long, String]
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stages = mutable.ArrayBuffer.empty[Stage]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { execLabels(s.executionId) = s.description }
      case _ => ()
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      val label = prop("spark.job.description")
        .orElse(prop("spark.sql.execution.id").flatMap(id => execLabels.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption
          .map(_.name.takeWhile(_ != '\n')).getOrElse("?"))
      jobs(e.jobId) = Job(e.jobId, label, e.time, None, e.stageInfos.size, 0)
      e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = Some(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages += Stage(si.stageId, stageJob.getOrElse(si.stageId, -1),
        si.numTasks, si.completionTime.flatMap(c => si.submissionTime.map(s => (c - s) / 1000.0))
          .getOrElse(-1.0),
        m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled, m.diskBytesSpilled,
        si.rddInfos.flatMap(_.scope).map(_.name).distinct.mkString("|"))
    }

    def result(target: String, rows: Option[Long], sec: Double): Run = synchronized {
      val tasks = stages.groupMapReduce(_.job)(_.tasks)(_ + _)
      Run(target, rows, sec, jobs.values.map(j => j.copy(tasks = tasks.getOrElse(j.id, 0))).toSeq,
        stages.toSeq)
    }
  }

  /** Warm pass, `clearCache`, recorded pass. The bus is drained before the
    * record starts and before it is read; caches are cleared on the way out.
    */
  def run(spark: SparkSession, t: Target): Run = try {
    val sc = spark.sparkContext
    pass(spark, t, "warm")
    spark.catalog.clearCache()
    ListenerBridge.waitUntilEmpty(sc)
    val rec = new Recorder
    sc.addSparkListener(rec)
    try {
      val t0 = System.nanoTime()
      val rows = pass(spark, t, "recorded")
      val sec = (System.nanoTime() - t0) / 1e9
      ListenerBridge.waitUntilEmpty(sc)
      rec.result(t.name, rows, sec)
    } finally sc.removeSparkListener(rec)
  } finally spark.catalog.clearCache()

  private def pass(spark: SparkSession, t: Target, tag: String): Option[Long] = t match {
    case Close(_, base) =>
      Pipeline.runMonth(spark, Settings(), Month, s"$base/raw", s"$base/curated_$tag", s"$base/ref")
      None
    case _ => Some(frame(spark, t).queryExecution.toRdd.count())
  }

  private def frame(spark: SparkSession, t: Target): DataFrame = t match {
    case Query(_, build) => build(spark)
    case m: MediaSalt => saltPartners(spark, m)
    case c: Close => sys.error(s"${c.name} has no single plan; profile its jobs instead")
  }

  /** the distinct (media_id, fhash48) frame and its df table, cached */
  private def frameHashes(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val media = Multimodal.mediaFromDocuments(spark, Tables.documents(spark, dir),
      width = 32, height = 2)
    val fh = Multimodal.frameHashes(media, everyN = Multimodal.FRAME_EVERY_N)
      .select("media_id", "fhash48").distinct().cache()
    (fh, Multimodal.frameDf(fh).cache())
  }

  /** m6's body minus its report tail. Its output does not depend on the
    * chunk (FrameRecallSpec pins that); only the data movement does.
    */
  private def saltPartners(spark: SparkSession, m: MediaSalt): DataFrame = {
    val (fh, dfm) = frameHashes(spark, m.dir)
    val ev = Multimodal.truthEvidence(fh, dfm, Multimodal.FRAME_TRUTH_DF_CAP).cache()
    val sets = ev.groupBy("media_id").agg(collect_set("fhash48").as("fhs"))
    // cached for the two union branches, as m6 does
    val pairs = Multimodal.verifySetPairs(Multimodal.repCandidatePairs(
      Multimodal.electReps(ev), ev, dfm, m.chunk), sets, minShared = 2, Caches.Harness).cache()
    pairs.select(col("doc_a").as("media_id"), col("doc_b").as("nbr"))
      .union(pairs.select(col("doc_b").as("media_id"), col("doc_a").as("nbr")))
      .groupBy("media_id").agg(count(lit(1)).as("n_partners"), min("nbr").as("min_nbr"))
  }

  /** where the corpus sits against the chunk: with no hash's df above
    * it, every hash gets one salt and two chunks profile the same plan.
    */
  private def dfStats(spark: SparkSession, m: MediaSalt): Seq[(String, Any)] = {
    val d = frameHashes(spark, m.dir)._2.agg(coalesce(max("dfm"), lit(0L)),
      count(lit(1)), count(when(col("dfm") > m.chunk, 1)),
      count(when(col("dfm") > Multimodal.FRAME_DF_CAP, 1))).first()
    Seq("max_df", "n_hashes", "over_chunk", "over_cap").zipWithIndex
      .map { case (k, i) => k -> d.getLong(i) }
  }

  def target(spec: String, queries: Map[String, (SparkSession, String) => DataFrame],
      dir: => String): Target = spec.split(":", 2) match {
    case Array("close", scale) => close(scale.toInt)
    case Array("media-salt", chunk) => MediaSalt(dir, chunk.toLong)
    case Array(q) if queries.contains(q) => val d = dir; Query(q, queries(q)(_, d))
    case _ => sys.error(s"unknown target '$spec': not a query, close:<scale> or media-salt:<chunk>")
  }

  private def mb(bytes: Long): Double = math.round(bytes / 1048.576) / 1000.0

  private def json(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n") + "\""
    case Some(x) => json(x)
    case None => "null"
    case x => x.toString
  }

  private def emit(fields: (String, Any)*): Unit =
    println(fields.map { case (k, v) => s"${json(k)}:${json(v)}" }.mkString("{", ",", "}"))

  /** task count and data movement summed over `ss` */
  private def movement(ss: Seq[Stage]): Seq[(String, Any)] = {
    def mbOf(f: Stage => Long) = mb(ss.map(f).sum)
    Seq("tasks" -> ss.map(_.tasks).sum, "input_mb" -> mbOf(_.inputBytes),
      "shuffle_read_mb" -> mbOf(_.shuffleReadBytes), "shuffle_write_mb" -> mbOf(_.shuffleWriteBytes),
      "mem_spill_mb" -> mbOf(_.memSpillBytes), "disk_spill_mb" -> mbOf(_.diskSpillBytes))
  }

  private def report(mode: String, r: Run): Unit = {
    val tgt = "target" -> r.target
    if (mode == "jobs") {
      r.jobs.groupBy(_.label).toSeq
        .map { case (l, js) => (l, js.size, js.map(_.ms.max(0L)).sum, js.map(_.tasks).sum) }
        .sortBy(-_._3).foreach { case (l, n, ms, tasks) =>
          emit(tgt, "label" -> l, "jobs" -> n, "ms" -> ms, "tasks" -> tasks) }
      val t0 = r.jobs.map(_.startMs).minOption.getOrElse(0L)
      r.jobs.sortBy(-_.ms).foreach(j => emit(tgt, "job" -> j.id, "label" -> j.label,
        "start_ms" -> (j.startMs - t0), "ms" -> j.ms, "stages" -> j.stages, "tasks" -> j.tasks))
    }
    if (mode == "stages") r.stages.sortBy(_.id).foreach(s => emit(Seq(tgt, "stage" -> s.id,
      "job" -> s.job, "sec" -> s.sec) ++ movement(Seq(s)) :+ ("scopes" -> s.scopes): _*))
    emit(Seq(tgt, "rows" -> r.rows, "sec" -> math.round(r.sec * 1000) / 1000.0,
      "jobs" -> r.jobs.size, "stages" -> r.stages.size) ++ movement(r.stages): _*)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.filter(Set("jobs", "stages", "totals", "plan")).getOrElse(
      sys.error("usage: Profile <jobs|stages|totals|plan> [target ...]"))
    // a malformed segment fails before anything runs: a skipped conf
    // would silently change what the whole run measures
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(_.split(";")).filter(_.nonEmpty)
      .map(kv => kv.split("=", 2) match {
        case Array(k, v) if k.nonEmpty => k -> v
        case _ => sys.error(s"SPARK_GRAFT_CONF segment '$kv' is not k=v")
      })
    lazy val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("query and media-salt targets need SPARK_GRAFT_SF_DIR"))
    val queries = SparkEntry.queries
    val targets = (if (args.length > 1) args.toSeq.tail else queries.keys.toSeq.sorted)
      .map(target(_, queries, dir))
    val spark = Sessions.local("profile")
    val failed = mutable.ArrayBuffer.empty[String]
    try {
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      val runs = targets.flatMap { t =>
        try mode match {
          case "plan" =>
            val plan = frame(spark, t).queryExecution.explainString(FormattedMode)
            println(s"\n========== ${t.name} ==========\n$plan"); None
          case _ =>
            Some(t).collect { case m: MediaSalt => emit(("target" -> m.name) +: dfStats(spark, m): _*) }
            val r = run(spark, t)
            report(mode, r)
            Some(r)
        } catch {
          case NonFatal(e) =>
            emit("target" -> t.name, "error" -> e.toString); failed += t.name; None
        }
      }
      if (mode != "plan") emit(Seq("profile" -> mode, "targets" -> runs.size,
        "failed" -> failed.size) ++ movement(runs.flatMap(_.stages)): _*)
    } finally spark.stop()
    if (failed.nonEmpty) sys.error(s"failed: ${failed.mkString(", ")}")
  }
}
