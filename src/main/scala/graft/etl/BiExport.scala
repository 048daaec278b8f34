package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Flat BI export ≙ reference scripts/export_bi_datasets.py: month-filter
  * the fact, margin-enrich + column-order the KPI, copy the DQ audit
  * files, emit a data dictionary. The three CSVs write side by side.
  */
object BiExport {

  val kpiCols: Seq[String] = Seq(
    "entity", "month", "Asset", "COGS", "Expense", "Revenue",
    "gross_profit", "operating_profit")

  /** latest month across KPI rows (export_bi_datasets.py:30–34). */
  def inferMonth(kpi: DataFrame): Option[String] =
    Option(kpi.agg(max(substring(col("month"), 1, 7))).first().getString(0))

  def factForMonth(fact: DataFrame, month: String): DataFrame =
    fact.filter(date_format(col("date"), "yyyy-MM") === month)
      .withColumn("month", lit(month))

  def kpiForMonth(kpi: DataFrame, month: String): DataFrame = {
    val enriched = Transform.addMarginCols(kpi)
      .filter(col("month") === month)
    val keep = kpiCols.filter(enriched.columns.contains) ++
      Seq("gross_margin_pct", "operating_margin_pct")
    EtlIO.sortedLocally(enriched.select(keep.map(col): _*), "entity", "month")
  }

  def export(
      spark: SparkSession,
      fact: DataFrame,
      dimAccounts: DataFrame,
      kpi: DataFrame,
      dqExceptionsCsv: String,
      dqSummaryCsv: String,
      month: String,
      outDir: String): Unit = {
    val factM = factForMonth(fact, month)
      .orderBy("date", "entity", "source", "document_id")
    val kpiM = kpiForMonth(kpi, month)
    EtlIO.concurrently(spark, Seq(
      "fact_transactions" -> factM, "dim_accounts" -> dimAccounts, "kpi_monthly" -> kpiM)
      .map { case (name, df) =>
        s"bi: $name.csv" -> (() => EtlIO.writeSingleCsv(df, s"$outDir/$name.csv"))
      })
    EtlIO.copyFile(dqSummaryCsv, s"$outDir/dq_summary.csv")
    EtlIO.copyFile(dqExceptionsCsv, s"$outDir/dq_exceptions.csv")
    // pandas-list rendering for byte parity with the reference's
    // data_dictionary.txt (data/bi/2025-12/data_dictionary.txt)
    def pyList(cols: Seq[String]): String = cols.map(c => s"'$c'").mkString("[", ", ", "]")
    val dqSumCols = EtlIO.csvHeader(dqSummaryCsv)
    val dqExCols = EtlIO.csvHeader(dqExceptionsCsv)
    val dd = Seq(
      s"month=$month",
      s"fact_transactions.csv columns=${pyList(factM.columns.toSeq)}",
      s"dim_accounts.csv columns=${pyList(dimAccounts.columns.toSeq)}",
      s"kpi_monthly.csv columns=${pyList(kpiM.columns.toSeq)}",
      s"dq_summary.csv columns=${pyList(dqSumCols)}",
      s"dq_exceptions.csv columns=${pyList(dqExCols)}").mkString("\n")
    EtlIO.writeText(s"$outDir/data_dictionary.txt", dd)
  }
}
