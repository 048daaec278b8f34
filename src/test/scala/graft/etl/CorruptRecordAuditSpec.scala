package graft.etl

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{CacheCheckedSpec, SparkSpec}
import graft.core.Caches

/** Pins the audited-ingest contract (reference quality.py:98–115
  * philosophy: REPORT bad input — never crash on it, never silently
  * drop or null it):
  *
  *  - a malformed JSONL/CSV line becomes exactly one `corrupt_record`
  *    exception row carrying the raw line, severity ERROR;
  *  - the clean frame excludes the malformed line and is otherwise
  *    identical to the unaudited read;
  *  - a clean file produces ZERO corrupt exceptions (the clean-path
  *    goldens stay byte-identical — GoldenParitySpec et al. re-prove
  *    that independently);
  *  - through the pipeline, a dirty raw file fails the DQ gate with the
  *    corrupt line in the audit trail.
  */
class CorruptRecordAuditSpec extends SparkSpec with CacheCheckedSpec {

  private val jsonlSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", StringType)))

  private def writeLines(path: String, lines: Seq[String]): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))

  test("dirty JSONL: broken and type-mismatched lines are audited, clean rows survive") {
    val p = s"${tmpDir("corrupt_jsonl")}/in.jsonl"
    writeLines(p, Seq(
      """{"a": 1, "b": "ok"}""",
      """{"a": 2, "b": "also ok"}""",
      """{not json at all""",
      """{"a": "not-a-long", "b": "typed wrong"}"""))
    Caches.scoped { own =>
      val (clean, ex) = EtlIO.readJsonlAudited(spark, p, jsonlSchema, "feed", own)
      assert(clean.columns.toSeq == Seq("a", "b"))
      assert(clean.orderBy("a").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((1L, "ok"), (2L, "also ok")))
      val exRows = ex.orderBy("failure_case").collect()
      assert(exRows.length == 2)
      assert(exRows.forall(_.getAs[String]("check") == "corrupt_record"))
      assert(exRows.forall(_.getAs[String]("dataset") == "feed"))
      assert(exRows.map(_.getAs[String]("failure_case")).toSet ==
        Set("""{not json at all""", """{"a": "not-a-long", "b": "typed wrong"}"""))
      // structurally unusable input is always ERROR — it must trip the gate
      val sev = Dq.addSeverity(ex).select("severity").distinct().collect()
      assert(sev.map(_.getString(0)).toSeq == Seq("ERROR"))
    }
    assertNoCachedPlans()
  }

  test("clean JSONL: zero corrupt exceptions, clean frame == unaudited read") {
    val p = s"${tmpDir("corrupt_jsonl_clean")}/in.jsonl"
    writeLines(p, Seq("""{"a": 1, "b": "x"}""", """{"a": 2, "b": "y"}"""))
    Caches.scoped { own =>
      val (clean, ex) = EtlIO.readJsonlAudited(spark, p, jsonlSchema, "feed", own)
      assert(ex.isEmpty)
      val plain = EtlIO.readJsonl(spark, p, jsonlSchema)
      assert(clean.exceptAll(plain).isEmpty && plain.exceptAll(clean).isEmpty)
    }
    assertNoCachedPlans()
  }

  test("dirty CSV: a wrong-arity line is audited and excluded from the clean frame") {
    val p = s"${tmpDir("corrupt_csv")}/in.csv"
    val schema = StructType(Seq(
      StructField("x", StringType), StructField("y", StringType)))
    writeLines(p, Seq(
      "x,y",
      "1,one",
      "2,two,EXTRA-FIELD",
      "3,three"))
    Caches.scoped { own =>
      val EtlIO.AuditedCsv(clean, ex, _) = EtlIO.readCsvRawAudited(spark, p, schema, "csvfeed", own)
      assert(clean.orderBy("x").collect().map(r => (r.getString(0), r.getString(1))).toSeq
        == Seq(("1", "one"), ("3", "three")))
      val exRows = ex.collect()
      assert(exRows.length == 1)
      assert(exRows.head.getAs[String]("check") == "corrupt_record")
      assert(exRows.head.getAs[String]("failure_case").contains("EXTRA-FIELD"))
    }
    assertNoCachedPlans()
  }

  test("pipeline: a dirty sales.csv fails the gate and the audit trail names the line") {
    val base = tmpDir("corrupt_pipeline")
    SampleData.write(s"$base/raw", "2025-12")
    SampleData.writeChartOfAccounts(s"$base/ref")
    // append a malformed (wrong-arity) line to sales.csv
    val sales = java.nio.file.Paths.get(s"$base/raw/sales.csv")
    java.nio.file.Files.writeString(sales,
      java.nio.file.Files.readString(sales) +
        "2025-12-03,TLM,INV-BAD,4000,USD,12.5,desc,SPURIOUS,TRAILING\n")
    val thrown = intercept[Pipeline.DqGateFailedException] {
      Pipeline.runMonth(spark, Settings(), "2025-12",
        s"$base/raw", s"$base/curated", s"$base/ref")
    }
    val audit = spark.read.option("header", "true")
      .csv(thrown.exceptionsPath.replace("file:", ""))
    val corrupt = audit.filter(col("check") === "corrupt_record").collect()
    assert(corrupt.length == 1)
    assert(corrupt.head.getAs[String]("dataset") == "sales")
    assert(corrupt.head.getAs[String]("failure_case").contains("SPURIOUS"))
    assert(corrupt.head.getAs[String]("severity") == "ERROR")
    spark.catalog.clearCache()
  }

  test("pipeline clean path: no corrupt exceptions appear for the standard fixture") {
    val base = tmpDir("corrupt_pipeline_clean")
    SampleData.write(s"$base/raw", "2025-12")
    SampleData.writeChartOfAccounts(s"$base/ref")
    val out = Pipeline.runMonth(spark, Settings(), "2025-12",
      s"$base/raw", s"$base/curated", s"$base/ref", failOn = FailOn.Never)
    val audit = spark.read.option("header", "true").csv(out.dqExceptions)
    assert(audit.filter(col("check") === "corrupt_record").isEmpty)
    spark.catalog.clearCache()
  }
}
