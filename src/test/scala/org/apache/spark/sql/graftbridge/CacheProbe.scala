package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.execution.{CacheManager, CachedData}

/** Test-only cache introspection: whether the session's Catalyst cache
  * holds any entries — lets specs assert that library transforms release
  * their working caches — and, when it does, which plans they are. Lives
  * under `org.apache.spark.sql` (test scope only) to reach the
  * `private[sql]` shared state.
  */
object CacheProbe {
  private def manager(spark: org.apache.spark.sql.SparkSession): CacheManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager

  def noCachedPlans(spark: org.apache.spark.sql.SparkSession): Boolean =
    manager(spark).isEmpty

  /** one line per cached plan: its root node and output columns, e.g.
    * `Project [doc_id, sh]`. The entry list is private to the cache
    * manager, so it is read reflectively.
    */
  def cachedPlans(spark: org.apache.spark.sql.SparkSession): Seq[String] = {
    val field = classOf[CacheManager].getDeclaredField("cachedData")
    field.setAccessible(true)
    field.get(manager(spark)).asInstanceOf[IndexedSeq[CachedData]].map { d =>
      s"${d.plan.nodeName} [${d.plan.output.map(_.name).mkString(", ")}]"
    }
  }

  /** the failure message for a `noCachedPlans` assertion */
  def leaked(spark: org.apache.spark.sql.SparkSession): String =
    cachedPlans(spark).mkString("cached plans left behind:\n  ", "\n  ", "")
}
