package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver-generated TPC-H-ish testdata
  * (`/root/testdata/sf*`, see TESTDATA.md). One parquet file per table.
  *
  * All schemas are fixed by the parquet footers; we never infer. Reads are
  * plain `spark.read.parquet` so Catalyst keeps full pushdown/pruning
  * freedom — at 100 TB these become partitioned scans and every downstream
  * filter/projection in this library is written to reach the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** the table's path under an sf dir: what [[load]] reads and what an
    * [[Artifacts]] entry built from the table is keyed by.
    */
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(path(dir, name))

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")

  /** `events` with `ts` normalized to TimestampType (µs).
    *
    * The testdata's `ts` encoding has changed across driver versions —
    * TIMESTAMP(NANOS) (readable only as a nanosecond Long via
    * `spark.sql.legacy.parquet.nanosAsLong=true`), µs `isAdjustedToUTC=true`
    * (TimestampType directly), and µs `isAdjustedToUTC=false` (inferred as
    * TIMESTAMP_NTZ unless `spark.sql.parquet.inferTimestampNTZ.enabled` is
    * off). [[normalizeEventTs]] is schema-driven so all three land on the
    * same TimestampType column regardless of session conf.
    */
  def eventsTs(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(events(s, d))

  /** same ts normalization for any events-shaped frame (works on
    * streaming DataFrames too).
    */
  def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      // `div`, not `/`: ns epochs (~1.7e18) overflow double precision.
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // Session TZ is pinned UTC (Sessions.local), so NTZ wall-clock values
      // cast to identical instants; `unix_micros` and window exprs then work.
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _                => raw
    }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
