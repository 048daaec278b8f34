package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.TimeUnit

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Process-wide store for derived artifacts (posting and LSH indexes,
  * trained quantizers, BPE merge tables, cluster tables) and for scalar
  * statistics measured over them. Entries are keyed by (family, input
  * fingerprint). The fingerprint is the sorted (relative path, size,
  * mtime) listing of every file under the input table, e.g.
  * `$dir/documents.parquet`. Rewriting an input in place therefore
  * changes the key: the next call rebuilds into a fresh temp dir and
  * deletes the stale one. Reuse across calls is sound only because it
  * is keyed by what the artifact was built from.
  *
  * Builds are single-flight per (family, input). One caller builds while
  * the others wait on that key's own lock; other keys proceed, and no map
  * lock is held during the Spark job. Build seconds accumulate per family
  * ([[trainSeconds]]): the first caller absorbs the training, later ones
  * are served warm, and `Bench` reports the split as
  * `artifact_train_sec`. All dirs live under one temp root that is
  * removed at JVM exit. A frame still reading a dir when its input is
  * rewritten fails loudly: the rebuild deletes that dir.
  *
  * ASSUMPTION: the key holds the input, not the session, so an artifact
  * is built by whichever SparkSession asks first. That holds for one
  * session per process (Verify, Bench, CLI, tests). A JVM whose sessions
  * differ in confs that change a build's output would need the session
  * in the key.
  *
  * A frame one call builds for the next call on the same inputs is not
  * memoized but handed off ([[offer]], [[take]]): it is served at most
  * once, and only to a call whose inputs match everything it was built
  * from (see [[offer]]).
  */
object Artifacts {
  private type Fingerprint = Vector[(String, Long, Long)]

  /** one key's state; read and written only under its own monitor */
  private final class Slot { var fp: Fingerprint = null; var value: Any = null }

  /** (family, absolute input, None for the dir | Some(statistic key)) */
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Option[String]), Slot]()
  private val trainSecs = scala.collection.mutable.TreeMap.empty[String, Double]

  private lazy val root: Path = {
    val p = Files.createTempDirectory("graft_artifacts")
    sys.addShutdownHook(Scratch.deleteTree(p))
    p
  }

  /** the directory of `family`'s artifact over `input`, built by `build`
    * (which writes into the dir it is given) on first use and again
    * whenever the input's fingerprint has changed.
    */
  def dir(family: String, input: String)(build: String => Unit): String =
    memo[String](family, input, None) { old =>
      val p = Files.createTempDirectory(root, family + "_")
      val t0 = System.nanoTime()
      var built = false
      try { build(p.toString); built = true }
      finally if (!built) Scratch.deleteTree(p)
      val sec = (System.nanoTime() - t0) / 1e9
      trainSecs.synchronized(trainSecs(family) = trainSecs.getOrElse(family, 0.0) + sec)
      old.foreach(o => Scratch.deleteTree(Paths.get(o)))
      p.toString
    }

  /** a scalar computed over `family`'s artifact on `input`, memoized per
    * `key` under the same fingerprint rule as [[dir]].
    */
  def value[V](family: String, input: String, key: String)(compute: => V): V =
    memo[V](family, input, Some(key))(_ => compute)

  // ---- hand-offs ----------------------------------------------------------

  /** what an offered frame was built from: the fingerprints of its
    * table inputs, the source frame's file listing and its analyzed plan
    */
  private final case class Origin(tables: Seq[Fingerprint],
      files: Fingerprint, plan: LogicalPlan) {
    def matches(o: Origin): Boolean =
      tables == o.tables && files == o.files && plan.sameResult(o.plan)
  }

  /** (family, param) -> the one offered frame and its origin */
  private val offers =
    new java.util.concurrent.ConcurrentHashMap[(String, String), (Origin, DataFrame)]()
  private val handOffBuilt = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** `build`'s frame, built from the frame `from`, the tables under
    * `inputs` and `param`, and kept for one following [[take]] of the
    * same family and param. `build` must return a frame that reads
    * nothing a later call may delete (a `localCheckpoint`). There is one
    * slot per (family, param): an offer replaces the frame offered
    * before. A replaced frame is never freed explicitly, so a call still
    * reading it keeps working; Spark's context cleaner frees its blocks
    * once no frame refers to it.
    */
  def offer(family: String, from: DataFrame, inputs: Seq[String], param: String)(
      build: => DataFrame): DataFrame = {
    val origin = originOf(from, inputs)
    val frame = built(family, build)
    offers.put((family, param), (origin, frame))
    frame
  }

  /** the frame an [[offer]] of this family and param kept, when it was
    * built from the same tables (same file fingerprints), the same
    * source files and a source plan with the same result (`sameResult`:
    * a plan hash alone can collide); else `build`'s frame. Either way
    * the slot is empty afterwards, so an offered frame is served at most
    * once and repeated calls each build their own.
    */
  def take(family: String, from: DataFrame, inputs: Seq[String], param: String)(
      build: => DataFrame): DataFrame = {
    val origin = originOf(from, inputs)
    Option(offers.remove((family, param))) match {
      case Some((o, frame)) if o.matches(origin) => frame
      case _ => built(family, build)
    }
  }

  /** frames built so far by [[offer]], or by a [[take]] that found no
    * matching offer, for `family`
    */
  def handOffBuilds(family: String): Long = handOffBuilt.getOrDefault(family, 0L)

  private def built(family: String, build: => DataFrame): DataFrame = {
    val frame = build
    handOffBuilt.merge(family, 1L, (a: Long, b: Long) => a + b)
    frame
  }

  /** the origin of a frame built now from `from` and the tables under
    * `inputs`, listed through Hadoop's FileSystem as Spark reads them
    * (so any URI Spark reads works)
    */
  private def originOf(from: DataFrame, inputs: Seq[String]): Origin = {
    val conf = from.sparkSession.sparkContext.hadoopConfiguration
    // sorted (uri, size, mtime in ms) of every file under `path`; a
    // listStatus walk, since `listFiles` also looks up every file's block
    // locations (about 170 ms for a 9-directory index on a local disk)
    def listing(path: String): Fingerprint = {
      val root = new org.apache.hadoop.fs.Path(path)
      val fs = root.getFileSystem(conf)
      def walk(p: org.apache.hadoop.fs.Path): Fingerprint =
        fs.listStatus(p).toVector.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Vector((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      walk(root).sorted
    }
    Origin(inputs.map(listing), from.inputFiles.toVector.flatMap(listing).sorted,
      from.queryExecution.analyzed)
  }

  /** accumulated build seconds per family, sorted by family */
  def trainSeconds: Seq[(String, Double)] = trainSecs.synchronized(trainSecs.toSeq)

  private def memo[V](family: String, input: String, key: Option[String])(
      make: Option[V] => V): V = {
    val abs = Paths.get(input).toAbsolutePath.normalize
    val slot = slots.computeIfAbsent((family, abs.toString, key), _ => new Slot)
    slot.synchronized {
      val fp = fingerprint(abs)
      if (slot.fp != fp) {
        slot.value = make(Option(slot.value).map(_.asInstanceOf[V]))
        slot.fp = fp
      }
      slot.value.asInstanceOf[V]
    }
  }

  /** sorted (relative path, size, mtime in ns) of every file under
    * `input`, which may be one file or a directory tree. A missing input
    * throws.
    */
  private def fingerprint(input: Path): Fingerprint = {
    val walk = Files.walk(input)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { f =>
      (input.relativize(f).toString, Files.size(f),
        Files.getLastModifiedTime(f).to(TimeUnit.NANOSECONDS))
    }.toVector.sorted
    finally walk.close()
  }
}
