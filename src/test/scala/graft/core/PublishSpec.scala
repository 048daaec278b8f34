package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A commit protocol that fails the job commit of the `PublishSpec.failAt`-th
  * file write after it is armed: the write's tasks all ran, and the
  * failure comes where a real one would (a lost executor, a full disk).
  */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit = {
    if (PublishSpec.failAt.decrementAndGet() == 0)
      throw new java.io.IOException(s"injected commit failure at $path")
    super.commitJob(jobContext, taskCommits)
  }
}

object PublishSpec {
  val failAt = new AtomicInteger(0)
}

/** [[Publish]]: a failed write leaves the old artifact byte-identical
  * and nothing beside it; a publish replaces, clears crash debris,
  * nests inside another's stage and takes `file:` URIs. The writer
  * cases rewrite a real index with its last table write failing.
  */
class PublishSpec extends SparkSpec {

  private def put(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, s)
  }

  /** relative path -> content of every file under `p` */
  private def contents(p: Path): Map[String, String] = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(f => p.relativize(f).toString -> Files.readString(f)).toMap
    finally walk.close()
  }

  private def names(dir: String): Set[String] = {
    val ls = Files.list(Paths.get(dir))
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  test("a throwing write leaves the old target byte-identical and no stage or aside behind") {
    val base = tmpDir("publish_throw")
    val target = Paths.get(base, "idx")
    put(target.resolve("a/part-0"), "old-a")
    put(target.resolve("b"), "old-b")
    val before = contents(target)
    val e = intercept[IllegalStateException] {
      Publish.dir(target.toString) { stage =>
        put(Paths.get(stage, "a/part-0"), "new-a")
        throw new IllegalStateException("write failed")
      }
    }
    assert(e.getMessage == "write failed")
    assert(contents(target) == before)
    assert(names(base) == Set("idx"))
  }

  test("a publish replaces the target, and a file publish replaces the file") {
    val base = tmpDir("publish_replace")
    val target = Paths.get(base, "idx")
    put(target.resolve("old"), "x")
    Publish.dir(target.toString)(stage => put(Paths.get(stage, "new"), "y"))
    assert(contents(target) == Map("new" -> "y"))
    Publish.file(s"$base/_LATEST")(p => Files.writeString(Paths.get(p), "1"))
    Publish.file(s"$base/_LATEST")(p => Files.writeString(Paths.get(p), "2"))
    intercept[IllegalStateException] {
      Publish.file(s"$base/_LATEST") { p =>
        Files.writeString(Paths.get(p), "3"); throw new IllegalStateException("no")
      }
    }
    assert(Files.readString(Paths.get(base, "_LATEST")) == "2")
    assert(names(base) == Set("idx", "_LATEST"))
  }

  test("a stale stage or aside left by a crash is cleared on the next publish") {
    val base = tmpDir("publish_stale")
    val target = Paths.get(base, "idx")
    put(Paths.get(base, ".stage_idx/junk"), "crashed")
    Publish.dir(target.toString)(stage => put(Paths.get(stage, "v"), "1"))
    assert(contents(target) == Map("v" -> "1"))
    assert(names(base) == Set("idx"))
    // crash after the new version was in place: the aside is deleted
    put(Paths.get(base, ".aside_idx/v"), "0")
    Publish.dir(target.toString)(stage => put(Paths.get(stage, "v"), "2"))
    assert(contents(target) == Map("v" -> "2"))
    assert(names(base) == Set("idx"))
    // crash between the two renames: the old version comes back first,
    // so a failing publish still leaves it in place
    Files.move(target, Paths.get(base, ".aside_idx"))
    intercept[IllegalStateException] {
      Publish.dir(target.toString)(_ => throw new IllegalStateException("no"))
    }
    assert(contents(target) == Map("v" -> "2"))
    assert(names(base) == Set("idx"))
  }

  test("a publish nested in an outer stage publishes with it") {
    val base = tmpDir("publish_nested")
    val out = Paths.get(base, "out")
    Publish.dir(s"$base/seg") { stage =>
      Publish.dir(stage)(inner => put(Paths.get(inner, "index"), "i"))
      put(out, "partition")
      assert(!Files.exists(Paths.get(base, "seg")), "the outer target is visible early")
    }
    assert(contents(Paths.get(base, "seg")) == Map("index" -> "i"))
    assert(names(base) == Set("seg", "out"))
  }

  test("a file: URI target publishes where Spark reads it") {
    val base = tmpDir("publish_uri")
    val s = spark
    import s.implicits._
    Publish.dir(s"file:$base/t") { stage =>
      Seq(1L, 2L, 3L).toDF("id").write.parquet(s"$stage/ids")
    }
    assert(spark.read.parquet(s"file:$base/t/ids").count() == 3L)
    Publish.file(s"file:$base/p")(p => Files.writeString(Paths.get(p), "7"))
    assert(Files.readString(Paths.get(base, "p")) == "7")
    assert(names(base) == Set("t", "p"))
  }

  /** runs `body` with the `n`-th file write's job commit failing */
  private def failingWrite(n: Int)(body: => Unit): Unit = {
    val key = "spark.sql.sources.commitProtocolClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, classOf[FailingCommitProtocol].getName)
    PublishSpec.failAt.set(n)
    try {
      val e = intercept[Exception](body)
      assert(PublishSpec.failAt.get <= 0, s"fewer than $n writes ran: $e")
    } finally {
      PublishSpec.failAt.set(0)
      prior match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private val docs = "/root/testdata/sf0.001"

  test("a failing rewrite of writeLshIndex leaves the old index readable and unchanged") {
    val base = tmpDir("publish_lsh")
    val index = s"$base/index"
    val all = Tables.documents(spark, docs)
    graft.corpus.Corpus.writeLshIndex(all.filter(col("doc_id") % 2 === 0), index)
    def read() = (rows(spark.read.parquet(s"$index/signatures")),
      rows(spark.read.parquet(s"$index/shingles")))
    val before = read()
    // the rewrite's second table (shingles) fails after its signatures landed
    failingWrite(2)(graft.corpus.Corpus.writeLshIndex(all, index))
    assert(read() == before)
    assert(names(base) == Set("index"))
  }

  test("a failing rewrite of AnnIndex.write leaves the old index readable and unchanged") {
    val base = tmpDir("publish_ann")
    val index = s"$base/index"
    val emb = Tables.embeddings(spark, docs)
    graft.ann.AnnIndex.write(emb.filter(col("vec_id") % 2 === 0), index)
    def read() = Seq("centroids", "codebooks", "postings", "vectors")
      .map(t => rows(spark.read.parquet(s"$index/$t")))
    val before = read()
    // the fourth table (vectors) fails after the other three landed
    failingWrite(4)(graft.ann.AnnIndex.write(emb, index))
    assert(read() == before)
    assert(names(base) == Set("index"))
  }

  test("a failing rewrite of writeFrameIndex leaves the old index readable and unchanged") {
    import graft.multimodal.Multimodal
    val base = tmpDir("publish_frame")
    val index = s"$base/index"
    val all = Tables.documents(spark, docs)
    Multimodal.writeFrameIndex(spark, all.filter(col("doc_id") % 2 === 0), index)
    def read() = (rows(spark.read.parquet(s"$index/postings")),
      rows(spark.read.parquet(s"$index/sets")))
    val before = read()
    // the second table (sets) fails after the postings landed
    failingWrite(2)(Multimodal.writeFrameIndex(spark, all, index))
    assert(read() == before)
    Multimodal.requireFrameIndexLayout(index)
    assert(names(base) == Set("index"))
  }
}
