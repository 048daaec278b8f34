package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.CacheProbe
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM under Test/fork). */
object TestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSession.spark

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** the session holds no cached plan; a failure names the ones left */
  def assertNoCachedPlans(): Unit =
    assert(CacheProbe.noCachedPlans(spark), CacheProbe.leaked(spark))
}

/** A spec whose tests each leave the cache as they found it: every test
  * starts from an empty cache, whatever ran before it, so its
  * [[SparkSpec.assertNoCachedPlans]] sees only what the test itself left.
  */
trait CacheCheckedSpec extends BeforeAndAfterEach { this: SparkSpec =>
  override def beforeEach(): Unit = {
    super.beforeEach()
    spark.catalog.clearCache()
  }
}
