package graft.etl

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheProbe

import graft.SparkSpec
import graft.core.Caches

/** The coerce-time row index and the close's cache ownership, on the
  * 4-core AQE test session:
  *
  *  - at 100 times the reference volume every raw row keeps exactly one
  *    index, the indices are 0..n-1 and follow the natural-key order;
  *  - a 100x close reports each hand-injected ERROR defect exactly once;
  *  - rows whose typed values tie index by their raw strings, whatever
  *    the input order;
  *  - a close releases every cache it creates, however it exits.
  *
  * Every expected count is derived by hand from `SampleData`'s row
  * counts and the injection pattern, never from a close's own output.
  */
class CloseIndexSpec extends SparkSpec {
  import spark.implicits._

  private val settings = Settings()
  private val month = "2025-12"

  /** (contract, file) per raw table, in the close's order */
  private val tables = Seq(
    Dq.salesSchema(settings) -> "sales.csv",
    Dq.expensesSchema(settings) -> "expenses.csv",
    Dq.payrollSchema(settings) -> "payroll.csv",
    Dq.inventorySchema(settings) -> "inventory_movements.csv",
    Dq.fxSchema(settings) -> "fx_rates.csv")

  /** `SampleData.write` rows at `scale`, for two entities: 40 sales, 40
    * expenses, 15 payroll and 30 inventory rows per entity and scale
    * unit; three FX rows per day of December.
    */
  private def sampleRows(scale: Int): Map[String, Long] = Map(
    "sales" -> 2L * 40 * scale,
    "expenses" -> 2L * 40 * scale,
    "payroll" -> 2L * 15 * scale,
    "inventory_movements" -> 2L * 30 * scale,
    "fx_rates" -> 3L * 31)

  /** runs `body` under the AQE coalescing floor `Sessions.local` gives
    * every CLI close (64k, not the 1 MB default): with it AQE coalesces
    * the index's shuffles into uneven partitions at 100x volume
    */
  private def withCloseAqe[T](body: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, "64k")
    try body finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** sets field `column` of every data row `i` with `i % every == at` */
  private def inject(file: String, every: Int, at: Int, column: Int, value: String): Unit = {
    val path = Paths.get(file)
    val lines = Files.readAllLines(path).asScala.toVector.filter(_.nonEmpty)
    val rows = lines.tail.zipWithIndex.map { case (line, i) =>
      if (i % every != at) line
      else {
        val cells = line.split(",", -1)
        cells(column) = value
        cells.mkString(",")
      }
    }
    Files.writeString(path, (lines.head +: rows).mkString("", "\n", "\n"))
  }

  test("coerce keeps every raw row at 100x volume, indexed 0..n-1 in natural-key order") {
    val raw = s"${tmpDir("close_index")}/raw"
    SampleData.write(raw, month, seed = 51L, scale = 100)
    val expected = sampleRows(100)
    tables.foreach { case (ts, file) =>
      Caches.scoped { own =>
        val audited = EtlIO.readCsvRawAudited(spark, s"$raw/$file", ts.schema, ts.name, own)
        val keyCols = ts.orderKeys.map(k => col(Dq.rawCol(k)))
        val rows = withCloseAqe(Validator.coerce(audited.clean, ts)
          .select(col("__idx") +: keyCols: _*).collect())
        val n = expected(ts.name)
        assert(rows.length == n, s"${ts.name}: ${rows.length} coerced rows, $n raw")
        val byIdx = rows.sortBy(_.getLong(0))
        val distinct = byIdx.map(_.getLong(0)).distinct.length
        assert(byIdx.indices.forall(i => byIdx(i).getLong(0) == i),
          s"${ts.name}: __idx is not 0..${n - 1} ($distinct distinct values)")
        // every SampleData key is a non-null string or ISO date, so the
        // natural-key order is the lexicographic order of the raw strings
        val keys = byIdx.map(r => (1 to ts.orderKeys.size).map(r.getString).mkString("\u0000")).toSeq
        assert(keys == keys.sorted, s"${ts.name}: __idx does not follow the natural keys")
      }
    }
  }

  test("a 100x close reports exactly the hand-injected ERROR defects, per dataset and check") {
    val base = tmpDir("close_defects")
    SampleData.write(s"$base/raw", month, seed = 51L, scale = 100)
    SampleData.writeChartOfAccounts(s"$base/ref")
    def at(file: String) = s"$base/raw/$file"
    // 8,000 sales rows: every 50th from row 3 gets a bad date, every
    // 50th from row 17 an account missing from the COA (160 each)
    inject(at("sales.csv"), 50, 3, 0, "not-a-date")
    inject(at("sales.csv"), 50, 17, 3, "49999999")
    // 8,000 expense rows: every 40th from row 5 a currency outside the
    // allowed set, every 40th from row 21 an unknown account (200 each)
    inject(at("expenses.csv"), 40, 5, 4, "GBP")
    inject(at("expenses.csv"), 40, 21, 3, "69999999")
    // 3,000 payroll rows, every 100th from row 7 loses its employee_id (30)
    inject(at("payroll.csv"), 100, 7, 2, "")
    // 6,000 inventory rows, every 60th from row 11 loses its sku (100)
    inject(at("inventory_movements.csv"), 60, 11, 2, "")
    // 93 FX rows, rows 4, 35 and 66 get an unparseable rate (3)
    inject(at("fx_rates.csv"), 31, 4, 3, "n/a")
    val expected = Map(
      ("sales", "dtype('date')") -> 160L,
      ("sales", "account_in_coa") -> 160L,
      ("expenses", "isin(USD, TZS, EUR)") -> 200L,
      ("expenses", "account_in_coa") -> 200L,
      ("payroll", "not_nullable") -> 30L,
      ("inventory_movements", "not_nullable") -> 100L,
      ("fx_rates", "dtype('double')") -> 3L)

    spark.catalog.clearCache() // start from an empty cache, whatever ran before
    val thrown = intercept[Pipeline.DqGateFailedException] {
      withCloseAqe {
        Pipeline.runMonth(spark, settings, month, s"$base/raw", s"$base/curated", s"$base/ref")
      }
    }
    assert(CacheProbe.noCachedPlans(spark), CacheProbe.leaked(spark))

    val errors = spark.read.option("header", "true").csv(thrown.exceptionsPath)
      .filter(col("severity") === "ERROR")
    val counts = errors.groupBy("dataset", "check").count()
      .as[(String, String, Long)].collect().map { case (d, c, n) => (d, c) -> n }.toMap
    assert(counts == expected)

    // SampleData writes sales and expenses in natural-key order (entity,
    // then a zero-padded four-digit id), so a defect's index is its data
    // row number
    def indices(dataset: String, check: String): Set[Long] =
      errors.filter(col("dataset") === dataset && col("check") === check)
        .select(col("index").cast("long")).as[Long].collect().toSet
    def rowsAt(every: Int, at: Int): Set[Long] =
      (0L until 8000L).filter(_ % every == at).toSet
    assert(indices("sales", "dtype('date')") == rowsAt(50, 3))
    assert(indices("sales", "account_in_coa") == rowsAt(50, 17))
    assert(indices("expenses", "isin(USD, TZS, EUR)") == rowsAt(40, 5))
    assert(indices("expenses", "account_in_coa") == rowsAt(40, 21))

    val summary = spark.read.option("header", "true").csv(thrown.summaryPath)
      .select("dataset", "error_count").as[(String, String)].collect().toMap
    assert(summary == Map("sales" -> "320", "expenses" -> "400", "payroll" -> "30",
      "inventory_movements" -> "100", "fx_rates" -> "3"))
  }

  test("rows whose typed values tie index by their raw strings, in any input order") {
    // unparseable dates all coerce to null; every other field is equal,
    // so only the raw date string can order the rows
    val dates = Seq("bad-date-a", "bad-date-b", "bad-date-c", "bad-date-d")
    Seq(dates, dates.reverse).foreach { input =>
      val raw = input.map(d => (d, "TLM", "INV-1", "40000001", "USD", "10", "x"))
        .toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")
      val idx = Validator.coerce(raw, Dq.salesSchema(settings))
        .select(Dq.rawCol("date"), "__idx").as[(String, Long)].collect().toMap
      assert(idx == dates.zipWithIndex.map { case (d, i) => d -> i.toLong }.toMap)
    }
  }

  test("a close releases every cache it creates: clean, gate-rejected and missing-FX exits") {
    spark.catalog.clearCache() // start from an empty cache, whatever ran before
    val clean = tmpDir("close_caches_clean")
    SampleData.write(s"$clean/raw", month)
    SampleData.writeChartOfAccounts(s"$clean/ref")
    Pipeline.runMonth(spark, settings, month, s"$clean/raw", s"$clean/curated", s"$clean/ref")
    assert(CacheProbe.noCachedPlans(spark), s"after a clean close: ${CacheProbe.leaked(spark)}")

    inject(s"$clean/raw/sales.csv", 1000, 0, 0, "not-a-date")
    intercept[Pipeline.DqGateFailedException] {
      Pipeline.runMonth(spark, settings, month, s"$clean/raw", s"$clean/rejected", s"$clean/ref")
    }
    assert(CacheProbe.noCachedPlans(spark),
      s"after a gate-rejected close: ${CacheProbe.leaked(spark)}")

    val noFx = tmpDir("close_caches_fx")
    SampleData.write(s"$noFx/raw", month)
    SampleData.writeChartOfAccounts(s"$noFx/ref")
    Files.writeString(Paths.get(s"$noFx/raw/fx_rates.csv"), "date,from_currency,to_currency,rate\n")
    intercept[Transform.MissingFxRatesException] {
      Pipeline.runMonth(spark, settings, month, s"$noFx/raw", s"$noFx/curated", s"$noFx/ref")
    }
    assert(CacheProbe.noCachedPlans(spark),
      s"after a missing-FX close: ${CacheProbe.leaked(spark)}")
  }
}
