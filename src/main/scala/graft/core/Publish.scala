package graft.core

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** How an artifact becomes visible: every index, segment, snapshot,
  * compacted dataset and single-file export is written under a
  * dot-named sibling stage and published by rename, so a reader sees
  * the old artifact or the complete new one, never a half-written one.
  * Dot-names are invisible to the segment and version listings and to
  * Spark's file listing.
  *
  * [[dir]] for a directory `p/name`:
  *  1. `write` fills the stage `p/.stage_name` (it must create it);
  *  1. an existing `p/name` is renamed to `p/.aside_name`;
  *  1. the stage is renamed to `p/name`;
  *  1. the aside is deleted.
  *
  * If `write` throws, the stage is deleted and the target is untouched.
  * A stage left by a crash is deleted on the next publish of the same
  * name; an aside left by a crash is deleted, or renamed back when the
  * crash came between the two renames and left no target. The window
  * with nothing at `p/name` is the one rename between steps 2 and 3; a
  * reader that cannot tolerate it follows a pointer file written by
  * [[file]].
  *
  * [[stage]] runs step 1 now and leaves steps 2–4 to its caller, so
  * outputs that belong together become visible only once all exist.
  * [[file]] publishes one local file the same way, with one replacing
  * rename instead of steps 2–4.
  *
  * Paths resolve through Hadoop's FileSystem, so `file:` URIs and
  * cluster paths publish as they read. On the local filesystem every
  * rename is `ATOMIC_MOVE`: a rename that cannot be atomic throws
  * instead of degrading to copy-and-delete. A publish may be nested in
  * another's stage (a stream's segment wraps the segment writer's own
  * publish); the inner publish then costs one extra rename.
  */
object Publish {

  def dir(target: String)(write: String => Unit): Unit = stage(target)(write).publish()

  /** [[dir]] in two steps: `write` fills the stage now (step 1), and the
    * returned handle later publishes it (steps 2–4) or discards it.
    * Until then the target is untouched and the stage stays readable at
    * [[Staged.path]], so several outputs can be written first and made
    * visible only once all of them exist. If `write` throws, the stage is
    * deleted, as in [[dir]].
    */
  def stage(target: String)(write: String => Unit): Staged = {
    val t = Target(target)
    t.mkdirs(t.parent)
    val (stage, aside) = (t.sibling(".stage_"), t.sibling(".aside_"))
    if (t.exists(aside)) {
      if (t.exists(t.path)) t.delete(aside) else t.rename(aside, t.path)
    }
    t.delete(stage)
    var written = false
    try { write(t.show(stage)); written = true }
    finally if (!written) t.delete(stage)
    new Staged(t, stage, aside)
  }

  /** a written stage of [[stage]]: exactly one of [[publish]] and
    * [[discard]] is called, once
    */
  final class Staged private[Publish] (t: Target, stage: HPath, aside: HPath) {
    /** where the writer left the output */
    val path: String = t.show(stage)

    def publish(): Unit = {
      val replacing = t.exists(t.path)
      if (replacing) t.rename(t.path, aside)
      var published = false
      try { t.rename(stage, t.path); published = true }
      finally if (!published && replacing) t.rename(aside, t.path)
      t.delete(aside)
    }

    def discard(): Unit = t.delete(stage)
  }

  def file(target: String)(write: String => Unit): Unit = {
    val p = Target(target).local.getOrElse(
      throw new IllegalArgumentException(s"Publish.file needs a local path, got $target"))
    Option(p.getParent).foreach(Files.createDirectories(_))
    val stage = p.resolveSibling(".stage_" + p.getFileName)
    Files.deleteIfExists(stage)
    var published = false
    try {
      write(stage.toString)
      Files.move(stage, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      published = true
    } finally if (!published) Files.deleteIfExists(stage)
  }

  /** Fails unless `target` and each of `inputs` are disjoint trees: a
    * publish over a target that holds one of its own inputs renames the
    * input aside and deletes it.
    */
  def requireDisjoint(target: String, inputs: Seq[String], who: String): Unit = {
    val out = Target(target).key
    inputs.foreach { in =>
      val k = Target(in).key
      require(!(out + "/").startsWith(k + "/") && !(k + "/").startsWith(out + "/"),
        s"$who output $target overlaps input segment $in: write it to a fresh path")
    }
  }

  /** a path, qualified on its FileSystem; local paths are renamed and
    * deleted with java.nio, others through Hadoop
    */
  private final case class Target(raw: String) {
    private val fs: FileSystem = {
      val conf = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
        .map(_.sparkContext.hadoopConfiguration)
        .getOrElse(new org.apache.hadoop.conf.Configuration())
      new HPath(raw).getFileSystem(conf)
    }
    val path: HPath = fs.makeQualified(new HPath(raw))
    def parent: HPath = path.getParent
    def sibling(prefix: String): HPath = new HPath(parent, prefix + path.getName)
    val local: Option[java.nio.file.Path] =
      if (fs.getUri.getScheme == "file") Some(Paths.get(path.toUri)) else None
    def key: String = path.toUri.normalize.toString.stripSuffix("/")

    private def nio(p: HPath) = Paths.get(p.toUri)
    /** the form handed to a writer: a plain path when local, so java.nio
      * and Spark both read it, else the qualified URI
      */
    def show(p: HPath): String = if (local.isDefined) nio(p).toString else p.toString
    def exists(p: HPath): Boolean =
      if (local.isDefined) Files.exists(nio(p)) else fs.exists(p)
    def mkdirs(p: HPath): Unit =
      if (local.isDefined) Files.createDirectories(nio(p)) else fs.mkdirs(p)
    def delete(p: HPath): Unit =
      if (local.isDefined) Scratch.deleteTree(nio(p)) else fs.delete(p, true)
    def rename(from: HPath, to: HPath): Unit =
      if (local.isDefined) Files.move(nio(from), nio(to), StandardCopyOption.ATOMIC_MOVE)
      else if (!fs.rename(from, to))
        throw new java.io.IOException(s"rename $from -> $to failed")
  }
}
