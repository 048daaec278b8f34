package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Core curated-layer transforms ≙ reference transform.py. All money math
  * is double + `bround(_, 2)` — pandas `.round(2)` is half-even
  * (SURVEY §7.4.1); all joins here are against dimension-sized tables and
  * marked broadcast so a 1000-executor plan never shuffles the fact side.
  */
object Transform {

  /** COA verbatim with account_code normalized to string
    * (transform.py:6–9).
    */
  def dimAccounts(chartOfAccounts: DataFrame): DataFrame =
    chartOfAccounts.withColumn("account_code", col("account_code").cast("string"))

  /** FX slice that converts into the base currency, day-grain
    * (transform.py:12–16).
    */
  def fxToBase(fxRates: DataFrame, baseCurrency: String): DataFrame =
    fxRates
      .withColumn("date", to_date(col("date")))
      .filter(col("to_currency") === baseCurrency)

  /** Raised when fact rows reference (date, currency) pairs with no FX
    * rate (transform.py:40–42).
    */
  final case class MissingFxRatesException(pairs: Seq[(String, String)])
    extends RuntimeException(
      s"Missing FX rates for: ${pairs.map { case (d, c) => s"($d, $c)" }.mkString(", ")}")

  /** FX-normalize `amount` to the base currency (transform.py:19–46):
    * left-broadcast-join the day-grain rate, base currency pinned at 1.0,
    * hard error listing the distinct missing (date, currency) pairs,
    * amount_base = bround(amount·rate, 2).
    *
    * The missing-rate probe is one small aggregate over the joined plan —
    * the only mid-pipeline action, mirroring the reference's fail-fast
    * contract.
    */
  def addFxAmountBase(df: DataFrame, fx: DataFrame, baseCurrency: String): DataFrame = {
    val fxLookup = fx.select(
      col("date").as("fx_date"),
      col("from_currency"),
      col("rate").as("fx_rate"))
    val joined = df
      .withColumn("date_key", to_date(col("date")))
      .join(broadcast(fxLookup),
        col("date_key") === col("fx_date") && col("currency") === col("from_currency"),
        "left")
      .withColumn("rate",
        when(col("currency") === baseCurrency, lit(1.0)).otherwise(col("fx_rate")))

    val missing = joined.filter(col("rate").isNull)
      .select(col("date_key").cast("string"), col("currency"))
      .distinct().limit(20).collect()
    if (missing.nonEmpty)
      throw MissingFxRatesException(missing.toSeq.map(r => (r.getString(0), r.getString(1))))

    joined
      .withColumn("amount_base", bround(col("amount") * col("rate"), 2))
      .drop("date_key", "fx_date", "from_currency", "fx_rate")
  }

  private val factShape =
    Seq("date", "entity", "source", "document_id", "account_code", "currency", "amount", "description")

  /** Unified GL fact across the four sources (transform.py:49–110):
    * conform each to the common 8-column shape (expenses negated, payroll
    * posted at month-end to 61000001 as −net, inventory priced
    * qty×unit_cost signed by movement type), union-all, FX-normalize,
    * deterministic sort, txn_id concat.
    */
  def toFactTransactions(
      sales: DataFrame,
      expenses: DataFrame,
      payroll: DataFrame,
      inventory: DataFrame,
      fx: DataFrame,
      baseCurrency: String): DataFrame = {

    val s = sales
      .withColumn("source", lit("sales"))
      .withColumn("document_id", col("invoice_id"))
      .select(factShape.map(col): _*)

    val e = expenses
      .withColumn("source", lit("expenses"))
      .withColumn("document_id", col("bill_id"))
      .withColumn("amount", negate(col("amount")))
      .select(factShape.map(col): _*)

    val p = payroll
      .withColumn("source", lit("payroll"))
      .withColumn("date", last_day(to_date(concat(col("month"), lit("-01")))))
      .withColumn("document_id", concat(col("employee_id"), lit("_"), col("month")))
      .withColumn("account_code", lit("61000001"))
      .withColumn("amount", negate(col("net")))
      .withColumn("description", lit("Payroll net"))
      .select(factShape.map(col): _*)

    val inv = inventory
      .withColumn("source", lit("inventory"))
      .withColumn("document_id",
        concat(col("sku"), lit("_"), col("date").cast("string")))
      // movement_type → account map; unmatched → null (pandas .map parity)
      .withColumn("account_code",
        when(col("movement_type") === "issue", "50000001")
          .when(col("movement_type").isin("receipt", "adjustment"), "10000001"))
      .withColumn("amount",
        when(col("movement_type") === "issue",
          negate(bround(col("qty") * col("unit_cost"), 2)))
          .otherwise(bround(col("qty") * col("unit_cost"), 2)))
      .withColumn("description", concat(col("movement_type"), lit(" "), col("sku")))
      .select(factShape.map(col): _*)

    val unioned = s.unionByName(e).unionByName(p).unionByName(inv)
      .withColumn("account_code", col("account_code").cast("string"))
      .withColumn("currency", col("currency").cast("string"))

    addFxAmountBase(unioned, fx, baseCurrency)
      .withColumn("txn_id",
        concat_ws("|", col("entity"), col("source"), col("document_id")))
      .select(("txn_id" +: factShape.patch(6, Seq("amount", "rate", "amount_base"), 1))
        .map(col): _*)
      .orderBy("date", "entity", "source", "document_id")
  }

  /** Monthly KPI wide table (transform.py:113–128): broadcast-join
    * account_type, month string, grouped sum → pivot wide (columns =
    * account types observed in the data, sorted — pandas pivot_table
    * parity), default Revenue/COGS/Expense to 0, derive profits.
    *
    * Scale posture: the pivot domain is pinned from the chart of accounts
    * (dimension-sized — one KB-scale distinct, never a fact scan), so
    * each fact pass is a single shuffle on (entity, month) computing
    * sum + observation count per type. pandas pivot_table emits only
    * OBSERVED types as columns and (dropna=True) drops groups whose every
    * account_type is unmapped — both reproduced here by filtering null
    * types pre-group and pruning unobserved columns post-pivot via one
    * tiny aggregate over the already-grouped (entity×month) frame.
    */
  def kpiMonthly(fact: DataFrame, dimAccounts: DataFrame): DataFrame = {
    val joined = fact
      .join(broadcast(dimAccounts.select("account_code", "account_type")),
        Seq("account_code"), "left")
      .withColumn("month", date_format(col("date"), "yyyy-MM"))

    // every observable type comes from the COA join, so the COA's domain
    // (sorted, as pandas orders pivot columns) is a complete pivot pin
    val coaTypes = dimAccounts.select("account_type").distinct()
      .collect().map(_.getString(0)).sorted.toSeq

    val wide = joined
      .filter(col("account_type").isNotNull) // pivot_table dropna parity
      .groupBy("entity", "month")
      .pivot("account_type", coaTypes)
      .agg(sum("amount_base").as("s"), count(lit(1)).as("c"))

    // prune COA types with zero observations anywhere — pandas emits only
    // observed columns; this global count runs over the tiny wide frame.
    // Not cached: the returned plan re-derives `wide` in a second fact
    // pass, where a cache would outlive the call with no owner to
    // release it
    val obsCounts = wide.select(coaTypes.map(t => sum(col(s"${t}_c")).as(t)): _*)
      .collect().headOption
    val observedTypes = coaTypes.filter { t =>
      obsCounts.exists(r => !r.isNullAt(r.fieldIndex(t)) && r.getLong(r.fieldIndex(t)) > 0)
    }

    val wide0 = wide
      .select((Seq(col("entity"), col("month")) ++
        observedTypes.map(t => col(s"${t}_s").as(t))): _*)
      .na.fill(0.0, observedTypes)

    val withDefaults = Seq("Revenue", "COGS", "Expense").foldLeft(wide0) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(0.0))
    }

    val extraCols = withDefaults.columns.toSeq
      .filterNot(Seq("entity", "month").contains)

    withDefaults
      .withColumn("gross_profit", bround(col("Revenue") + col("COGS"), 2))
      .withColumn("operating_profit", bround(col("gross_profit") + col("Expense"), 2))
      .select((Seq("entity", "month") ++ extraCols ++
        Seq("gross_profit", "operating_profit")).distinct.map(col): _*)
      .orderBy("entity", "month")
  }

  /** margin % enrichment (export_bi_datasets.py:45–55 and star export):
    * profit / Revenue × 100, unrounded. Divergence note (SURVEY §7.4.4):
    * pandas ÷0 yields ±inf, Spark yields null.
    */
  def addMarginCols(kpi: DataFrame): DataFrame = {
    def pct(c: Column) = c / col("Revenue") * 100
    kpi
      .withColumn("gross_margin_pct", pct(col("gross_profit")))
      .withColumn("operating_margin_pct", pct(col("operating_profit")))
  }
}
