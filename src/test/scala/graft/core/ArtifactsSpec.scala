package graft.core

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[Artifacts]]: keyed by (family, input fingerprint), single-flight
  * per key, build seconds recorded per family. Inputs are small
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
}
