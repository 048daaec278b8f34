package graft.core

import java.util.concurrent.ConcurrentLinkedDeque

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one owner of the working caches a library call creates.
  *
  * Every library entry point runs its body in `Caches.scoped { own => ... }`:
  *  - `own(df)` caches `df` and records it, but only if no one has cached
  *    that plan yet. A plan the caller already cached is used as it is,
  *    so a call never owns, and never drops, its caller's cache.
  *  - On every exit path, normal or exception, the scope unpersists
  *    exactly the frames it recorded, and nothing else.
  *  - A frame an entry point returns depends on no cache. If the result
  *    needs a working set that is costly to recompute, that set is
  *    materialized with `localCheckpoint()`; the ContextCleaner frees its
  *    blocks once the returned frame is unreferenced.
  *
  * An owner is thread-safe: the close's per-table futures share one.
  * Two owners caching the same new plan at the same instant both record
  * it; the first release then drops it and the other recomputes, which
  * costs time but never changes an answer.
  *
  * The `SparkEntry` query families keep the harness contract instead:
  * they return lazy frames, and the harness that runs them (Verify,
  * Bench, Profile) releases their caches with one session-wide
  * `clearCache()`. Where they call a helper that takes an owner, they
  * pass [[Harness]].
  */
final class Caches private (record: Boolean) {
  private val owned = new ConcurrentLinkedDeque[DataFrame]()

  /** cache `df` unless its plan is already cached; returns `df`. */
  def apply(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) {
      df.cache()
      if (record) owned.push(df)
    }
    df
  }

  /** release `df` before the scope ends, if this owner cached it. */
  def drop(df: DataFrame): Unit =
    if (!record || owned.remove(df)) df.unpersist()

  private def release(): Unit =
    Iterator.continually(owned.poll()).takeWhile(_ != null).foreach(_.unpersist())
}

object Caches {

  /** run `body` with a fresh owner; its caches are released on exit. */
  def scoped[T](body: Caches => T): T = {
    val own = new Caches(record = true)
    try body(own) finally own.release()
  }

  /** the owner for `SparkEntry` query families: records nothing, so what
    * it caches lives until the harness's `clearCache()`. [[Caches.drop]]
    * unpersists at once, as those families always did.
    */
  val Harness: Caches = new Caches(record = false)
}
