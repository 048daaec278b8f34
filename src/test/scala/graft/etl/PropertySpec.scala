package graft.etl

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec
import graft.functions.MoneyFunctions

/** Property-based invariants over generated data (SURVEY §5): the
  * engine-stable rounding idiom, FX normalization identities, KPI
  * derivation identities, and DQ check soundness/completeness.
  * Spark-backed properties use few-but-wide cases (each case is a job).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** deterministic stand-in for forAll: evaluate the property on `n`
    * seeded samples (each Spark-backed case is a full job, so few+wide
    * beats many+narrow; no scalatest-scalacheck bridge in the offline
    * dependency cache).
    */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 8)(body: A => Unit): Unit =
    (1 to n).foreach { i =>
      val a = gen.apply(Gen.Parameters.default, Seed(42L + i))
        .getOrElse(fail(s"generator exhausted at case $i"))
      body(a)
    }

  private val money = Gen.chooseNum(-1e7, 1e7).map(v => math.round(v * 1e4) / 1e4)

  test("roundAt is idempotent and within half-ulp of the grid") {
    forAllSeeded(Gen.listOfN(200, money)) { xs =>
      val df = xs.toDF("x")
        .select(MoneyFunctions.roundAt(col("x"), 2).as("r"))
        .withColumn("rr", MoneyFunctions.roundAt(col("r"), 2))
        .withColumn("delta", abs(col("r") * 100 - round(col("r") * 100)))
      assert(df.filter(col("r") =!= col("rr")).isEmpty)          // idempotent
      assert(df.filter(col("delta") > 1e-6).isEmpty)             // on the 2dp grid
    }
  }

  test("fx normalization: base currency keeps amounts, rates multiply") {
    val row = for {
      amt <- money.map(v => if (v == 0) 1.0 else v) // suchThat can exhaust listOfN
      ccy <- Gen.oneOf("USD", "EUR", "TZS")
      day <- Gen.chooseNum(1, 28)
    } yield (f"2025-12-$day%02d", ccy, amt)
    forAllSeeded(Gen.listOfN(60, row)) { rows =>
      val sales = rows.zipWithIndex.map { case ((d, ccy, amt), i) =>
          (d, "TLM", s"INV-$i", "40000001", ccy, amt, "x") }
        .toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")
        .withColumn("date", to_date(col("date")))
      def none(schema: org.apache.spark.sql.types.StructType) =
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val fx = (1 to 28).flatMap(d => Seq(
        (f"2025-12-$d%02d", "EUR", "USD", 1.1), (f"2025-12-$d%02d", "TZS", "USD", 0.0004)))
        .toDF("date", "from_currency", "to_currency", "rate")
        .withColumn("date", to_date(col("date")))
      val out = Transform.toFactTransactions(sales, none(Schemas.expenses),
        none(Schemas.payroll), none(Schemas.inventory), Transform.fxToBase(fx, "USD"), "USD")
      assert(Transform.missingFxPairs(out).isEmpty)
      assert(out.filter(col("currency") === "USD" &&
        (col("rate") =!= 1.0 || col("amount_base") =!= bround(col("amount"), 2))).isEmpty)
      assert(out.filter(col("currency") =!= "USD" &&
        col("amount_base") =!= bround(col("amount") * col("rate"), 2)).isEmpty)
      assert(out.count() == rows.size)
    }
  }

  test("kpi identities hold for arbitrary facts") {
    val codes = Seq("40000001", "50000001", "62000001", "10000001", "20000001")
    val row = for {
      entity <- Gen.oneOf("A", "B", "C")
      code <- Gen.oneOf(codes)
      amt <- money
      day <- Gen.chooseNum(1, 28)
    } yield (f"2025-12-$day%02d", entity, code, amt)
    forAllSeeded(Gen.listOfN(80, row)) { rows =>
      val fact = rows.toDF("date", "entity", "account_code", "amount_base")
        .withColumn("date", to_date(col("date")))
      val coa = Seq(
        ("40000001", "Sales", "Revenue"), ("50000001", "COGS", "COGS"),
        ("62000001", "Rent", "Expense"), ("10000001", "Cash", "Asset"),
        ("20000001", "AP", "Liability")).toDF("account_code", "account_name", "account_type")
      val kpi = Transform.kpiMonthly(fact, Transform.dimAccounts(coa))
      assert(kpi.filter(
        bround(col("Revenue") + col("COGS"), 2) =!= col("gross_profit")).isEmpty)
      assert(kpi.filter(
        bround(col("gross_profit") + col("Expense"), 2) =!= col("operating_profit")).isEmpty)
      // every (entity, month) in the fact appears exactly once
      val keys = fact.select(col("entity"),
        date_format(col("date"), "yyyy-MM").as("month")).distinct().count()
      assert(kpi.count() == keys)
    }
  }

  test("dq soundness: clean generated sales yield zero exceptions; a planted violation yields exactly one") {
    val clean = for {
      i <- Gen.chooseNum(0, 10000)
      amt <- Gen.chooseNum(1.0, 9999.0)
      day <- Gen.chooseNum(1, 28)
    } yield (f"2025-12-$day%02d", "TLM", s"INV-$i", "40000001", "USD", amt.toString, "ok")
    forAllSeeded(Gen.listOfN(30, clean), n = 4) { rows0 =>
      val rows = rows0.distinctBy(_._3) // unique invoice ids
      val df = rows.toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")
      val ex = Audits.of(df, Dq.salesSchema(Settings())).exceptions
      assert(ex.isEmpty)
      // plant one negative amount → exactly one greater_than(0.0) exception
      val bad = (rows.head.copy(_3 = "INV-BAD", _6 = "-5.0") +: rows.tail)
        .toDF("date", "entity", "invoice_id", "account_code", "currency", "amount", "description")
      val exBad = Audits.of(bad, Dq.salesSchema(Settings())).exceptions.collect()
      assert(exBad.length == 1)
      assert(exBad.head.getAs[String]("check") == "greater_than(0.0)")
    }
  }
}
