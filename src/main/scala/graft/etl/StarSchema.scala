package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import EtlIO.sortedLocally

/** Star-schema BI export ≙ reference scripts/export_powerbi_star_schema.py:
  * dim_date / dim_month / dim_entity / dim_account (dense surrogate keys)
  * + fact_gl / fact_kpi_monthly.
  *
  * Surrogate keys are `row_number` over the sorted dim (SURVEY W1) —
  * dense and deterministic, never `monotonically_increasing_id`. Dims are
  * tiny by definition, so the single-partition window is fine and each
  * dim is [[EtlIO.sortedLocally]]; facts get their keys via broadcast
  * joins (the reference's dict `.map`, J5).
  */
object StarSchema {

  /** fuzzy column resolution ≙ reference `_pick_col`
    * (export_powerbi_star_schema.py:18–23): first candidate present in
    * the frame. Driver-side over df.columns (SURVEY P3).
    */
  def pickCol(df: DataFrame, candidates: Seq[String]): Option[String] =
    candidates.find(df.columns.contains)

  /** the reference's fact date-column candidates (:348). */
  val dateColCandidates: Seq[String] =
    Seq("tx_date", "date", "transaction_date", "posting_date", "invoice_date")

  /** amount resolution ≙ build_fact_gl (:197–206): first of the amount
    * candidates, else debit − credit (null-coerced casts, fillna 0),
    * else null.
    */
  def amountCol(df: DataFrame): org.apache.spark.sql.Column = {
    pickCol(df, Seq("amount_base", "amount", "amount_tzs", "amount_usd")) match {
      case Some(c) => col(c).cast("double")
      case None if df.columns.contains("debit") && df.columns.contains("credit") =>
        coalesce(col("debit").cast("double"), lit(0.0)) -
          coalesce(col("credit").cast("double"), lit(0.0))
      case None => lit(null).cast("double")
    }
  }

  /** sorted distinct entities from fact ∪ kpi, entity_key = 1..n, plus
    * first-per-entity currency in the fact's deterministic sort order
    * (export_powerbi_star_schema.py:76–93; pandas groupby().first() on the
    * date/source/document-sorted fact).
    */
  def dimEntity(factM: DataFrame, kpi: DataFrame): DataFrame = {
    val entities = factM.select(col("entity").cast("string").as("entity"))
      .unionByName(kpi.select(col("entity").cast("string").as("entity")))
      .filter(col("entity").isNotNull && trim(col("entity")) =!= "")
      .distinct()
    val keyed = entities.withColumn("entity_key",
      row_number().over(Window.orderBy("entity")))
    if (!factM.columns.contains("currency"))
      return sortedLocally(keyed.select("entity_key", "entity"), "entity_key")
    // "first per entity" in the fact's deterministic sort order (pandas
    // groupby().first() over the date/source/document-sorted fact); fall
    // back to whichever order keys the fact actually has
    val orderKeys = Seq("date", "source", "document_id").filter(factM.columns.contains)
    val firstCurrency = factM
      .filter(col("entity").isNotNull && col("currency").isNotNull)
      .groupBy("entity")
      .agg(min_by(col("currency"),
        struct((orderKeys :+ "currency").map(col): _*)).as("currency"))
    sortedLocally(keyed.join(broadcast(firstCurrency), Seq("entity"), "left")
      .select("entity_key", "entity", "currency"), "entity_key")
  }

  /** COA with dense account_key over sorted codes
    * (export_powerbi_star_schema.py:96–123).
    */
  def dimAccount(dimAccounts: DataFrame): DataFrame =
    sortedLocally(dimAccounts
      .withColumn("account_code", col("account_code").cast("string"))
      .dropDuplicates("account_code")
      .withColumn("account_key", row_number().over(Window.orderBy("account_code")))
      .select("account_key", "account_code", "account_name", "account_type"), "account_key")

  /** calendar dim over the distinct fact dates
    * (export_powerbi_star_schema.py:126–156).
    */
  def dimDate(factM: DataFrame): DataFrame =
    sortedLocally(factM.select(to_date(col("date")).as("date")).filter(col("date").isNotNull)
      .distinct()
      .select(
        date_format(col("date"), "yyyyMMdd").cast("int").as("date_key"),
        col("date"),
        year(col("date")).as("year"),
        quarter(col("date")).as("quarter"),
        date_format(col("date"), "yyyyMM").cast("int").as("month_key"),
        date_format(col("date"), "yyyy-MM").as("month_label"),
        month(col("date")).as("month"),
        date_format(col("date"), "MMM").as("month_name"),
        weekofyear(col("date")).as("week"),
        dayofmonth(col("date")).as("day")), "date_key")

  /** month dim rolled up from dim_date
    * (export_powerbi_star_schema.py:159–170).
    */
  def dimMonth(dimDate: DataFrame): DataFrame =
    sortedLocally(dimDate.groupBy("month_key", "month_label", "year", "quarter", "month", "month_name")
      .agg(min("date_key").as("month_start_date_key")), "month_key")

  /** GL fact with surrogate keys (export_powerbi_star_schema.py:173–256):
    * amount from amount_base, date/month keys from the date, entity and
    * account keys via broadcast joins (unmatched → null key), description
    * passthrough.
    */
  def factGl(factM: DataFrame, dimEntity: DataFrame, dimAccount: DataFrame): DataFrame =
    factM
      .withColumn("amount", amountCol(factM))
      .withColumn("date_key", date_format(col("date"), "yyyyMMdd").cast("int"))
      .withColumn("month_key", date_format(col("date"), "yyyyMM").cast("int"))
      .join(broadcast(dimEntity.select("entity", "entity_key")), Seq("entity"), "left")
      .join(broadcast(dimAccount.select("account_code", "account_key")), Seq("account_code"), "left")
      .select(("date_key" +: "month_key" +: "entity_key" +: "account_key" +: "amount" +:
        passthroughCols.filter(factM.columns.contains)).map(col): _*)
      .orderBy(("date_key" +: "entity_key" +: "account_key" +: "amount" +:
        passthroughCols.filter(factM.columns.contains)).map(col): _*)

  /** passthrough candidates ≙ build_fact_gl (:239–255), kept if present. */
  private val passthroughCols = Seq(
    "transaction_id", "move_id", "journal_id", "journal_name", "reference",
    "description", "partner", "vendor", "customer", "source_system")

  /** monthly KPI fact keyed by (month_key, entity_key) with margin %
    * (export_powerbi_star_schema.py:259–319).
    */
  def factKpiMonthly(kpi: DataFrame, dimEntity: DataFrame, month: String): DataFrame = {
    val monthKey = month.replace("-", "").toInt
    val filtered = kpi.filter(col("month") === month)
    val kpiCols = Seq("Asset", "COGS", "Expense", "Liability", "Revenue",
      "gross_profit", "operating_profit").filter(filtered.columns.contains)
    sortedLocally(Transform.addMarginCols(filtered)
      .join(broadcast(dimEntity.select("entity", "entity_key")), Seq("entity"), "left")
      .withColumn("month_key", lit(monthKey))
      .select(("month_key" +: "entity_key" +: (kpiCols ++
        Seq("gross_margin_pct", "operating_margin_pct"))).map(col): _*), "entity_key")
  }

  /** full export ≙ the script's main: month-filter the fact, build dims
    * then facts, write 6 single-file CSVs + model notes. The three keyed
    * dims are each computed once, side by side, and served as local
    * frames to their CSVs and the two facts; the six CSVs then write
    * side by side.
    */
  def export(
      spark: SparkSession,
      fact: DataFrame,
      dimAccounts: DataFrame,
      kpi: DataFrame,
      month: String,
      outDir: String): Unit = {
    // resolve the fact's date column fuzzily (P3) and normalize to "date"
    val factM = pickCol(fact, dateColCandidates) match {
      case Some(dc) => fact.filter(date_format(col(dc), "yyyy-MM") === month)
        .withColumn("date", col(dc))
      case None => fact
    }
    val Seq(dEntity, dAccount, dDate) = EtlIO.concurrently(spark, Seq(
      "star: dim_entity" -> (() => EtlIO.materialize(dimEntity(factM, kpi))),
      "star: dim_account" -> (() => EtlIO.materialize(dimAccount(dimAccounts))),
      "star: dim_date" -> (() => EtlIO.materialize(dimDate(factM)))))
    val sinks = Seq(
      "dim_date" -> dDate,
      "dim_month" -> dimMonth(dDate),
      "dim_entity" -> dEntity,
      "dim_account" -> dAccount,
      "fact_gl" -> factGl(factM, dEntity, dAccount),
      "fact_kpi_monthly" -> factKpiMonthly(kpi, dEntity, month))
    EtlIO.concurrently(spark, sinks.map { case (name, df) =>
      s"star: $name.csv" -> (() => EtlIO.writeSingleCsv(df, s"$outDir/$name.csv"))
    })
    EtlIO.writeText(s"$outDir/POWERBI_MODEL_NOTES.txt", modelNotes(month))
  }

  def modelNotes(month: String): String = {
    val files = Seq("dim_date.csv", "dim_month.csv", "dim_entity.csv",
      "dim_account.csv", "fact_gl.csv", "fact_kpi_monthly.csv")
    (Seq(
      s"month=$month", "",
      "Suggested Power BI Relationships:",
      "  fact_gl[date_key] -> dim_date[date_key] (Many-to-1, single)",
      "  fact_gl[entity_key] -> dim_entity[entity_key] (Many-to-1, single)",
      "  fact_gl[account_key] -> dim_account[account_key] (Many-to-1, single)",
      "  fact_gl[month_key] -> dim_month[month_key] (Many-to-1, single) (optional)",
      "  fact_kpi_monthly[entity_key] -> dim_entity[entity_key] (Many-to-1, single)",
      "  fact_kpi_monthly[month_key] -> dim_month[month_key] (Many-to-1, single)",
      "", "Files:") ++ files.map(f => s"  - $f")).mkString("\n")
  }
}
