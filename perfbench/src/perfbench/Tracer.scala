package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Wall-clock spans around the public calls one operation makes, in call
  * order. Recorded on every operation: `call_s` comes from them even with
  * tracing off.
  */
final class Spans {
  import Spans.Span
  private val buf = ArrayBuffer[Span]()

  def apply[T](name: String)(body: => T): T = {
    val ms = System.currentTimeMillis()
    val ns = System.nanoTime()
    try body
    finally buf += Span(name, ms, System.currentTimeMillis(), (System.nanoTime() - ns) / 1e9)
  }

  def all: Seq[Span] = buf.toSeq
  def seconds(name: String): Double = buf.filter(_.name == name).map(_.seconds).sum
}

object Spans {
  final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)
}

/** Outside-in tracer: a listener registered around traced operations
  * keeps every job and task in memory; [[Layers.measure]] attributes
  * them to the operation's spans once the operation is over.
  */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = ArrayBuffer[JobRec]()
  private val jobEnds = scala.collection.mutable.Map[Int, Long]()
  private val tasks = ArrayBuffer[TaskRec]()
  private var fences = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs += JobRec(e.jobId, desc, e.time, 0L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnds(e.jobId) = e.time
    if (jobs.exists(j => j.id == e.jobId && j.desc == FenceDesc)) fences += 1
    notifyAll()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  /** Runs a one-task job after the traced work and waits until its end
    * event is delivered: the listener bus is asynchronous, and every
    * event the operation posted is queued ahead of the fence's.
    */
  def fence(sc: SparkContext): Unit = {
    val before = synchronized(fences)
    sc.setJobDescription(FenceDesc)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setJobDescription(null)
    synchronized {
      val deadline = System.currentTimeMillis() + 60000
      while (fences <= before && System.currentTimeMillis() < deadline) wait(100)
      require(fences > before, "listener bus did not deliver the fence job")
    }
  }

  /** everything recorded since the last drain, without the fence jobs */
  def drain(): (Seq[JobRec], Seq[TaskRec]) = synchronized {
    val done = jobs.filter(_.desc != FenceDesc).map(j => j.copy(end = jobEnds.getOrElse(j.id, j.start))).toSeq
    val t = tasks.toSeq
    jobs.clear(); jobEnds.clear(); tasks.clear()
    (done, t)
  }
}

object Tracer {
  val FenceDesc = "perfbench: fence"
  final case class JobRec(id: Int, desc: String, start: Long, end: Long, stages: Seq[Int])
  final case class TaskRec(stage: Int, launch: Long, finish: Long, cpuNs: Long,
      shuffleBytes: Long, spillBytes: Long)
}

/** The layers the benchmark reports and how one traced operation's jobs
  * and tasks are attributed to them.
  */
object Layers {
  import Tracer.{JobRec, TaskRec}

  /** layers timed by a span around their public call */
  val spanLayers: Seq[String] = Seq(
    "pipeline", "star_schema", "bi_export", "dashboard",
    "corpus.curate_inc", "corpus.update_clusters")

  /** layers inside `Pipeline.runMonth`, told apart by the job
    * descriptions the close sets (`close: <phase>`)
    */
  val phaseLayers: Seq[(String, String => Boolean)] = Seq(
    "validator" -> (_.startsWith("close: coerce-")),
    "dq" -> (_.startsWith("close: dq-")),
    "transform" -> (d => d.startsWith("close: ") && d.endsWith("-write")))

  val stats: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "tasks" -> "count", "task_cpu_s" -> "s",
    "driver_only_s" -> "s", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")

  /** counters recorded next to the layer stats */
  val counters: Seq[(String, String)] = Seq(
    "pipeline.unlabeled_jobs" -> "count",
    "dq.exception_rows" -> "rows",
    "transform.fact_rows" -> "rows",
    "star_schema.bytes_written" -> "bytes",
    "bi_export.bytes_written" -> "bytes",
    "dashboard.bytes_written" -> "bytes",
    "corpus.cc_rounds" -> "count",
    "sample_data.gen_s" -> "s",
    "sessions.start_s" -> "s",
    "setup.prepare_s" -> "s",
    "trace.op_s" -> "s")

  /** every per-layer metric, name -> unit, in report order */
  val catalogue: Seq[(String, String)] =
    (spanLayers.take(1) ++ phaseLayers.map(_._1) ++ spanLayers.drop(1))
      .flatMap(l => stats.map { case (s, u) => s"$l.$s" -> u }) ++ counters

  private type Interval = (Long, Long)

  private def merge(xs: Seq[Interval]): List[Interval] =
    xs.filter(i => i._2 > i._1).sortBy(_._1).foldLeft(List.empty[Interval]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, i) => i :: acc
    }.reverse

  private def length(xs: List[Interval]): Long = xs.map(i => i._2 - i._1).sum

  private def overlap(a: List[Interval], b: List[Interval]): Long =
    (for ((s1, e1) <- a; (s2, e2) <- b) yield math.max(0L, math.min(e1, e2) - math.max(s1, s2))).sum

  /** Per-layer figures of one traced operation. Span layers cover the
    * jobs started inside their span; phase layers the jobs of the
    * pipeline span that carry their description. `driver_only_s` is the
    * part of the layer's time during which none of its tasks ran.
    */
  def measure(spans: Seq[Spans.Span], jobs: Seq[JobRec], tasks: Seq[TaskRec]): Map[String, Double] = {
    val stageJob = scala.collection.mutable.Map[Int, Int]()
    jobs.sortBy(_.id).foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val tasksOf = tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))

    def figures(layer: String, js: Seq[JobRec], window: List[Interval], wallS: Double) = {
      val ts = js.flatMap(j => tasksOf.getOrElse(j.id, Nil))
      val busy = overlap(window, merge(ts.map(t => (t.launch, t.finish))))
      Map(
        s"$layer.wall_s" -> wallS,
        s"$layer.jobs" -> js.size.toDouble,
        s"$layer.tasks" -> ts.size.toDouble,
        s"$layer.task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        s"$layer.driver_only_s" -> math.max(0.0, wallS - busy / 1000.0),
        s"$layer.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
        s"$layer.spill_bytes" -> ts.map(_.spillBytes).sum.toDouble)
    }

    val bySpan = spans.map { s =>
      s -> jobs.filter(j => j.start >= s.startMs && j.start <= s.endMs)
    }
    val spanFigures = bySpan.flatMap { case (s, js) =>
      figures(s.name, js, List((s.startMs, s.endMs)), s.seconds)
    }.toMap
    val pipelineJobs = bySpan.filter(_._1.name == "pipeline").flatMap(_._2)
    val phaseFigures = phaseLayers.flatMap { case (layer, matches) =>
      val js = pipelineJobs.filter(j => matches(j.desc))
      val window = merge(js.map(j => (j.start, j.end)))
      figures(layer, js, window, length(window) / 1000.0)
    }.toMap
    val unlabeled = pipelineJobs.count(j => !phaseLayers.exists(_._2(j.desc)))
    spanFigures ++ phaseFigures + ("pipeline.unlabeled_jobs" -> unlabeled.toDouble)
  }
}
