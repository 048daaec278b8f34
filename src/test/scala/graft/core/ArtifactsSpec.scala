package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Artifacts]]: keyed by (family, input fingerprint), single-flight
  * per key, build seconds recorded per family; a handed-off frame is
  * served at most once, only to a take with the same origin. Inputs are small
  * hand-written parquet tables; each artifact is the sum of the input's
  * `id` column, so which input it was built from is visible in its
  * contents.
  */
class ArtifactsSpec extends SparkSpec {

  private def writeIds(path: String, ids: Seq[Long]): Unit = {
    val s = spark
    import s.implicits._
    ids.toDF("id").coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def sumArtifact(family: String, in: String,
      builds: AtomicInteger = new AtomicInteger): String =
    Artifacts.dir(family, in) { p =>
      builds.incrementAndGet()
      spark.read.parquet(in).agg(sum("id").as("s"))
        .write.mode("overwrite").parquet(p)
    }

  private def sumOf(artifactDir: String): Long =
    spark.read.parquet(artifactDir).head().getLong(0)

  test("rewriting the input in place rebuilds the artifact and deletes the stale dir") {
    val in = s"${tmpDir("artifacts_rewrite")}/documents.parquet"
    writeIds(in, Seq(1L, 2L, 3L))
    val builds = new AtomicInteger
    val rows = new AtomicInteger
    def count(): Long = Artifacts.value("spec_rewrite", in, "rows") {
      rows.incrementAndGet(); spark.read.parquet(in).count()
    }
    val first = sumArtifact("spec_rewrite", in, builds)
    assert(sumOf(first) == 6L)
    assert(count() == 3L)
    // unchanged input: served from the store
    assert(sumArtifact("spec_rewrite", in, builds) == first)
    assert(count() == 3L)
    assert(builds.get == 1 && rows.get == 1)

    writeIds(in, Seq(10L, 11L))
    val second = sumArtifact("spec_rewrite", in, builds)
    assert(builds.get == 2)
    assert(second != first)
    assert(sumOf(second) == 21L)
    assert(!Files.exists(Paths.get(first)), s"stale artifact $first still on disk")
    assert(count() == 2L && rows.get == 2)
  }

  test("inputs whose dirs sanitize to one scratch key get separate artifacts") {
    val base = tmpDir("artifacts_sanitize")
    val (dirA, dirB) = (s"$base/a-b", s"$base/a_b")
    assert(Scratch.sanitize(dirA) == Scratch.sanitize(dirB))
    val (inA, inB) = (s"$dirA/documents.parquet", s"$dirB/documents.parquet")
    writeIds(inA, Seq(1L, 2L, 3L))
    writeIds(inB, Seq(10L, 11L))
    val a = sumArtifact("spec_sanitize", inA)
    val b = sumArtifact("spec_sanitize", inB)
    assert(a != b)
    assert(sumOf(b) == 21L)
    assert(sumOf(a) == 6L)
    assert(sumOf(sumArtifact("spec_sanitize", inA)) == 6L)
  }

  test("two threads asking for one key at once run the build exactly once") {
    val in = s"${tmpDir("artifacts_flight")}/documents.parquet"
    writeIds(in, Seq(1L, 2L))
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val futures = (1 to 2).map(_ => pool.submit(new Callable[String] {
        def call(): String = {
          start.await()
          Artifacts.dir("spec_flight", in) { p =>
            builds.incrementAndGet()
            Thread.sleep(500) // hold the build open while the other thread arrives
            spark.read.parquet(in).write.mode("overwrite").parquet(p)
          }
        }
      }))
      start.countDown()
      val dirs = futures.map(_.get(120, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(dirs.distinct.size == 1)
      assert(spark.read.parquet(dirs.head).count() == 2L)
    } finally pool.shutdown()
  }

  test("build seconds accumulate under the family name; warm calls add none") {
    val in = s"${tmpDir("artifacts_train")}/embeddings.parquet"
    writeIds(in, Seq(1L))
    def recorded = Artifacts.trainSeconds.toMap.getOrElse("spec_train", 0.0)
    val before = recorded
    Artifacts.dir("spec_train", in) { p =>
      Thread.sleep(300)
      spark.read.parquet(in).write.mode("overwrite").parquet(p)
    }
    val after = recorded
    assert(after - before >= 0.3, s"recorded ${after - before} s for a >= 0.3 s build")
    Artifacts.dir("spec_train", in)(_ => fail("an unchanged input was rebuilt"))
    assert(recorded == after)
    val families = Artifacts.trainSeconds.map(_._1)
    assert(families == families.sorted)
  }

  test("a failed build leaves no dir behind and the next call builds again") {
    val in = s"${tmpDir("artifacts_fail")}/documents.parquet"
    writeIds(in, Seq(5L))
    var failedDir = ""
    intercept[IllegalStateException] {
      Artifacts.dir("spec_fail", in) { p =>
        failedDir = p
        Files.writeString(Paths.get(p, "partial"), "x")
        throw new IllegalStateException("build failed")
      }
    }
    assert(failedDir.nonEmpty && !Files.exists(Paths.get(failedDir)))
    assert(sumOf(sumArtifact("spec_fail", in)) == 5L)
  }

  /** the sum of `frame`'s ids, offered or taken under family
    * "spec_hand" as a localCheckpoint; `builds` counts the builds
    */
  private def handOff(offer: Boolean, frame: org.apache.spark.sql.DataFrame,
      tables: Seq[String], param: String = "0.5"): Long = {
    def build = frame.agg(sum("id").as("s")).localCheckpoint()
    val got =
      if (offer) Artifacts.offer("spec_hand", frame, tables, param)(build)
      else Artifacts.take("spec_hand", frame, tables, param)(build)
    got.head().getLong(0)
  }
  private def handOffBuilds = Artifacts.handOffBuilds("spec_hand")

  test("a handed-off frame is served once, to a take built from the same frame, tables and param") {
    val base = tmpDir("artifacts_hand")
    val (in, table) = (s"$base/batch.parquet", s"$base/index.parquet")
    writeIds(in, Seq(1L, 2L, 3L))
    writeIds(table, Seq(100L))
    def batch = spark.read.parquet(in)
    val b0 = handOffBuilds
    def built = handOffBuilds - b0
    assert(handOff(offer = true, batch, Seq(table)) == 6L && built == 1)
    // a second read of the same files is the same plan: served
    assert(handOff(offer = false, batch, Seq(table)) == 6L && built == 1)
    // served once: the take emptied the slot
    assert(handOff(offer = false, batch, Seq(table)) == 6L && built == 2)

    // rewriting the frame's files in place is a miss
    handOff(offer = true, batch, Seq(table))
    writeIds(in, Seq(10L, 11L))
    assert(handOff(offer = false, batch, Seq(table)) == 21L && built == 4)

    // another plan over the same files is a miss
    handOff(offer = true, batch, Seq(table))
    assert(handOff(offer = false, batch.filter(col("id") > 10L), Seq(table)) == 11L &&
      built == 6)

    // rewriting a table input is a miss, and so is another table list
    handOff(offer = true, batch, Seq(table))
    writeIds(table, Seq(200L))
    assert(handOff(offer = false, batch, Seq(table)) == 21L && built == 8)
    handOff(offer = true, batch, Seq(table))
    assert(handOff(offer = false, batch, Seq(table, in)) == 21L && built == 10)

    // another parameter is another slot
    handOff(offer = true, batch, Seq(table))
    assert(handOff(offer = false, batch, Seq(table), "0.45") == 21L && built == 12)
    assert(handOff(offer = false, batch, Seq(table)) == 21L && built == 12)
  }

  test("hand-off tables are listed through Hadoop's FileSystem, so a file: URI works") {
    val base = tmpDir("artifacts_hand_uri")
    val (in, table) = (s"$base/batch.parquet", s"$base/index.parquet")
    writeIds(in, Seq(1L, 2L))
    writeIds(table, Seq(100L))
    val uri = Paths.get(table).toUri.toString
    assert(uri.startsWith("file:"))
    val b0 = handOffBuilds
    assert(handOff(offer = true, spark.read.parquet(in), Seq(uri)) == 3L)
    // the URI and the plain path name one table
    assert(handOff(offer = false, spark.read.parquet(in), Seq(table)) == 3L)
    assert(handOffBuilds - b0 == 1)
  }

  test("a handed-off frame stays readable while another thread replaces it") {
    val base = tmpDir("artifacts_hand_threads")
    val (a, b, table) = (s"$base/a.parquet", s"$base/b.parquet", s"$base/index.parquet")
    writeIds(a, Seq(1L, 2L, 3L))
    writeIds(b, Seq(5L))
    writeIds(table, Seq(100L))
    val held = Artifacts.offer("spec_hand", spark.read.parquet(a), Seq(table), "0.5")(
      spark.read.parquet(a).localCheckpoint())
    val pool = Executors.newFixedThreadPool(2)
    try {
      // one thread keeps replacing the slot (and asks for collections, so
      // an unreferenced checkpoint would be cleaned); the other keeps
      // reading the frame it was handed
      val replace = pool.submit(new Callable[Unit] {
        def call(): Unit = (1 to 6).foreach { _ =>
          handOff(offer = true, spark.read.parquet(b), Seq(table))
          System.gc()
        }
      })
      val read = pool.submit(new Callable[Seq[Long]] {
        def call(): Seq[Long] = (1 to 6).map(_ => held.agg(sum("id")).head().getLong(0))
      })
      replace.get(2, TimeUnit.MINUTES)
      assert(read.get(2, TimeUnit.MINUTES).forall(_ == 6L))
    } finally pool.shutdownNow()
  }
}
