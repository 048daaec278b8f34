package graft.core

/** Process-scoped scratch directories — ONE home for the "temp dir per
  * logical key, overwritten per invocation, deleted on JVM exit"
  * machinery that the roundtrip queries (s1/s8/s9), x21's segment
  * target and the bench/profiling mains share. Bench reps and repeated
  * verify passes re-enter the same query functions; allocating a fresh
  * temp dir per call would accumulate full table copies under /tmp for
  * the life of the box. Artifacts derived from an input table belong in
  * [[Artifacts]] instead, which keys them by what they were built from.
  */
object Scratch {
  private val dirs = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** the scratch dir for `key`: created lazily once per process,
    * recursively deleted at JVM exit. Callers overwrite its contents.
    */
  def dir(key: String): String =
    dirs.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files.createTempDirectory(s"graft_$key")
      sys.addShutdownHook(deleteTree(p))
      p.toString
    })

  /** filesystem-safe fragment for composing keys from paths. */
  def sanitize(s: String): String = s.replaceAll("[^A-Za-z0-9.]", "_")

  /** recursive delete of a file or directory tree; a missing `p` is a
    * no-op. Symlinks are deleted, never followed.
    */
  def deleteTree(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
      finally walk.close()
    }
  }
}
