package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Profile's record is complete and repeatable: the listener bus is
  * drained before the record is read, so no job is left without an end,
  * and two runs of a fixed plan over fixed data record the same work.
  */
class ProfileSpec extends SparkSpec {
  /** Runs `body` with a listener that takes 100 ms per job end, ahead of
    * the profiler's on the shared queue: the bus then lags the jobs, as
    * on a loaded box, and only a drained record still sees every end.
    */
  private def withLaggingBus[T](body: => T): T = {
    val lag = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(lag)
    try body finally spark.sparkContext.removeSparkListener(lag)
  }

  private def jobsByLabel(r: Profile.Run): Map[String, Int] =
    r.jobs.groupMapReduce(_.label)(_ => 1)(_ + _)

  test("two profiles of a scale-1 close record the same jobs, tasks and labels") {
    val close = Profile.close(1)
    val Seq(a, b) = withLaggingBus(Seq.fill(2)(Profile.run(spark, close)))
    assert(a.jobs.nonEmpty)
    assert(a.jobs.exists(_.label.startsWith("close: ")))
    assert((a.jobs ++ b.jobs).forall(_.endMs.isDefined))
    assert(a.jobs.size == b.jobs.size)
    assert(a.jobs.map(_.tasks).sum == b.jobs.map(_.tasks).sum)
    assert(a.jobs.map(_.tasks).sum == a.stages.map(_.tasks).sum)
    assert(jobsByLabel(a) == jobsByLabel(b))
  }

  test("two profiles of a fixed query record the same tasks and shuffle-write bytes") {
    val q = Profile.Query("fixed", s => s.range(0, 20000, 1, 4)
      .groupBy((col("id") % 97).as("k")).agg(sum("id").as("s")))
    val Seq(a, b) = withLaggingBus(Seq.fill(2)(Profile.run(spark, q)))
    assert(a.rows.contains(97L) && b.rows.contains(97L))
    val shuffleWrite = (r: Profile.Run) => r.stages.map(_.shuffleWriteBytes).sum
    assert(shuffleWrite(a) > 0)
    assert(shuffleWrite(a) == shuffleWrite(b))
    assert(a.stages.map(_.tasks).sum == b.stages.map(_.tasks).sum)
    assert(a.jobs.forall(_.endMs.isDefined))
  }
}
