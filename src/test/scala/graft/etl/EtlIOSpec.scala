package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

class EtlIOSpec extends SparkSpec {

  /** the bytes of `df` written by Spark's CSV writer as one part file */
  private def sparkCsv(df: DataFrame): Array[Byte] = {
    val dir = s"${tmpDir("etlio_spark_csv")}/out"
    df.coalesce(1).write.option("header", "true").csv(dir)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1, s"expected one part file, found $parts")
    Files.readAllBytes(parts.head)
  }

  /** the bytes of `df` written by [[EtlIO.writeSingleCsv]] */
  private def singleCsv(df: DataFrame): Array[Byte] = {
    val path = s"${tmpDir("etlio_single_csv")}/out.csv"
    EtlIO.writeSingleCsv(df, path)
    Files.readAllBytes(Paths.get(path))
  }

  private val edgeSchema = StructType(Seq(
    StructField("text", StringType), StructField("amount", DoubleType),
    StructField("day", DateType), StructField("n", LongType)))

  test("writeSingleCsv writes the bytes Spark's CSV writer writes") {
    val day = java.sql.Date.valueOf("2025-12-31")
    val df = spark.createDataFrame(Seq(
      Row("a,b", 1.5, day, 1L),
      Row("say \"hi\"", Double.NaN, day, 2L),
      Row("", -0.0, null, null),
      Row(null, 1.0e7, day, 4L),
      Row("line one\nline two", null, day, 5L)).asJava, edgeSchema)
    val written = singleCsv(df)
    assert(new String(written, "UTF-8").startsWith("text,amount,day,n\n"))
    assert(written.toSeq == sparkCsv(df).toSeq, new String(written, "UTF-8"))
  }

  test("writeSingleCsv writes an empty frame as its header alone") {
    val df = spark.createDataFrame(java.util.List.of[Row](), edgeSchema)
    val written = singleCsv(df)
    assert(new String(written, "UTF-8") == "text,amount,day,n\n")
    assert(written.toSeq == sparkCsv(df).toSeq)
  }

  test("csvHeader parses quoted fields with embedded commas and escaped quotes") {
    val p = s"${tmpDir("etlio")}/h.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "a,\"b, with comma\",\"c \"\"q\"\"\",d\n1,2,3,4\n")
    assert(EtlIO.csvHeader(p) == Seq("a", "b, with comma", "c \"q\"", "d"))
  }

  test("csvHeader on a plain header is unchanged") {
    val p = s"${tmpDir("etlio")}/plain.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "date,entity,amount\n2025-12-01,TLM,1\n")
    assert(EtlIO.csvHeader(p) == Seq("date", "entity", "amount"))
  }

  test("jsonl sink/source round-trips the fact schema") {
    import org.apache.spark.sql.functions._
    val dir = s"${tmpDir("etlio_jsonl")}/fact"
    val base = tmpDir("etlio_jsonl_raw")
    SampleData.write(s"$base/raw", "2025-12")
    SampleData.writeChartOfAccounts(s"$base/ref")
    val out = Pipeline.runMonth(spark, Settings(), "2025-12",
      s"$base/raw", s"$base/curated", s"$base/ref")
    val fact = spark.read.parquet(out.fact)
    EtlIO.writeJsonl(fact, dir)
    val back = EtlIO.readJsonl(spark, dir, fact.schema)
    assert(back.count() == fact.count())
    // cell-level equality via full outer anti-style compare on txn_id
    val mismatches = fact.as("a").join(back.as("b"), Seq("txn_id"))
      .filter(fact.columns.filterNot(_ == "txn_id").map(c =>
        !(col(s"a.$c") <=> col(s"b.$c"))).reduce(_ || _))
    assert(mismatches.isEmpty)
  }

  test("partitioned parquet sink lays out month= dirs and reads prune partitions") {
    import org.apache.spark.sql.functions._
    val dir = s"${tmpDir("etlio_part")}/fact_by_month"
    val df = spark.range(100).toDF("id")
      .withColumn("month", when(col("id") % 2 === 0, "2025-11").otherwise("2025-12"))
      .withColumn("amount", col("id").cast("double"))
    EtlIO.writePartitionedParquet(df, dir, Seq("month"))
    val dirs = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator())
      .asScala.map(_.getFileName.toString).toSeq.filter(_.startsWith("month="))
    assert(dirs.sorted == Seq("month=2025-11", "month=2025-12"))
    val read = spark.read.parquet(dir).filter(col("month") === "2025-12")
    assert(read.count() == 50)
    val plan = read.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PartitionFilters: [isnotnull(month"), plan)
  }

  test("compaction collapses a many-small-file dataset preserving content") {
    import org.apache.spark.sql.functions._
    val dir = s"${tmpDir("etlio_compact")}/wide"
    spark.range(10000).toDF("id")
      .withColumn("amount", col("id").cast("double") * 1.5)
      .repartition(64).write.parquet(dir)
    def parts = scala.jdk.CollectionConverters.IteratorHasAsScala(
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator())
      .asScala.count(_.getFileName.toString.endsWith(".parquet"))
    val before = parts
    assert(before == 64)
    val sumBefore = spark.read.parquet(dir).agg(sum("id")).head.getLong(0)
    // target far above the dataset's bytes → everything fits one file
    EtlIO.compactParquet(spark, dir)
    assert(parts == 1, s"expected 1 file after compaction, found $parts")
    val back = spark.read.parquet(dir)
    assert(back.count() == 10000)
    assert(back.agg(sum("id")).head.getLong(0) == sumBefore)
  }

  test("compaction sizes, reads and publishes a file: URI") {
    val dir = s"${tmpDir("etlio_compact_uri")}/wide"
    spark.range(1000).toDF("id").repartition(8).write.parquet(dir)
    EtlIO.compactParquet(spark, Paths.get(dir).toUri.toString)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parts == 1, s"expected 1 file after compaction, found $parts")
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("partitioned compaction keeps the Hive layout, one file per partition") {
    import org.apache.spark.sql.functions._
    val dir = s"${tmpDir("etlio_compact_part")}/by_month"
    val df = spark.range(1000).toDF("id")
      .withColumn("month", when(col("id") % 2 === 0, "2025-11").otherwise("2025-12"))
    df.repartition(16).write.partitionBy("month").parquet(dir)
    EtlIO.compactParquet(spark, dir, partitionCols = Seq("month"))
    val filesPerPart = Seq("month=2025-11", "month=2025-12").map { d =>
      d -> scala.jdk.CollectionConverters.IteratorHasAsScala(
        java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/$d")).iterator())
        .asScala.count(_.getFileName.toString.endsWith(".parquet"))
    }
    filesPerPart.foreach { case (d, n) => assert(n == 1, s"$d has $n files") }
    assert(spark.read.parquet(dir).count() == 1000)
  }

  test("a quoted comma-bearing header binds columns by name without phantoms") {
    val p = s"${tmpDir("etlio")}/q.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
      "entity,\"note, detail\"\nTLM,hello\n")
    graft.core.Caches.scoped { own =>
      val read = EtlIO.readCsvRawAudited(spark, p,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("entity",
            org.apache.spark.sql.types.StringType))), "q", own)
      assert(read.header == Seq("entity", "note, detail"))
      assert(read.clean.columns.toSeq == Seq("entity"))
      assert(read.clean.collect().map(_.getString(0)).toSeq == Seq("TLM"))
      assert(read.exceptions.isEmpty)
    }
  }
}
