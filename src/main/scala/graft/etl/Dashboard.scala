package graft.etl

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Monthly-close dashboard ≙ reference scripts/build_dashboard.py: KPI
  * trend for the top-8 entities by revenue, top-15 expense accounts by
  * Σ|amount|, DQ tables capped at 200 rows, assembled into a
  * self-contained HTML file.
  *
  * All chart inputs are small aggregates collected to the driver
  * (SURVEY §3.3) — the heavy lifting (groupBy/join/top-k) stays
  * distributed; only the rendered rows cross to the driver. The
  * reference renders with Plotly; we emit dependency-free HTML tables +
  * inline SVG bars, which keeps the sink hermetic.
  */
object Dashboard {

  /** top-8 entities by total Revenue over the KPI table
    * (build_dashboard.py:100).
    */
  def topEntitiesByRevenue(kpi: DataFrame, k: Int = 8): DataFrame =
    kpi.groupBy("entity")
      .agg(bround(sum("Revenue"), 2).as("total_revenue"))
      .orderBy(col("total_revenue").desc, col("entity"))
      .limit(k)

  /** KPI trend rows for the chosen entities (entity, month, metrics). */
  def kpiTrend(kpi: DataFrame, entities: Seq[String]): DataFrame =
    kpi.filter(col("entity").isin(entities: _*))
      .select("entity", "month", "Revenue", "gross_profit", "operating_profit")
      .orderBy("entity", "month")

  /** top-15 expense accounts by Σ|amount_base|
    * (build_dashboard.py:141–166: join COA, case-insensitive 'expense').
    */
  def topExpenseAccounts(fact: DataFrame, dimAccounts: DataFrame, k: Int = 15): DataFrame =
    fact.join(broadcast(dimAccounts.select("account_code", "account_name", "account_type")),
        Seq("account_code"), "left")
      .filter(graft.functions.Lowercase(col("account_type")) === "expense")
      .groupBy("account_code", "account_name")
      .agg(bround(sum(abs(col("amount_base"))), 2).as("total_abs_amount"))
      .orderBy(col("total_abs_amount").desc, col("account_code"))
      .limit(k)

  /** `s` with `& < > " '` as character references: cells, headers and
    * labels carry raw input (a corrupt record's line, account names such
    * as `Salaries & Wages`), which must not be able to break the page
    */
  private def escape(s: String): String = {
    val b = new StringBuilder(s.length)
    s.foreach {
      case '&' => b ++= "&amp;"
      case '<' => b ++= "&lt;"
      case '>' => b ++= "&gt;"
      case '"' => b ++= "&quot;"
      case '\'' => b ++= "&#39;"
      case c => b += c
    }
    b.toString
  }

  private def htmlTable(title: String, header: Seq[String], rows: Seq[Seq[String]]): String = {
    val head = header.map(h => s"<th>${escape(h)}</th>").mkString
    val body = rows.map(r => r.map(c => s"<td>${escape(c)}</td>").mkString("<tr>", "", "</tr>"))
      .mkString("\n")
    s"<h2>${escape(title)}</h2>\n<table border='1' cellspacing='0' cellpadding='4'>\n<tr>$head</tr>\n$body\n</table>"
  }

  private def svgBars(title: String, labeled: Seq[(String, Double)]): String = {
    if (labeled.isEmpty) return s"<h2>${escape(title)}</h2><p>no data</p>"
    val maxV = labeled.map(v => math.abs(v._2)).max.max(1e-9)
    val bars = labeled.zipWithIndex.map { case ((label, v), i) =>
      val w = (math.abs(v) / maxV * 600).toInt
      val y = i * 22
      s"""<rect x="160" y="$y" width="$w" height="18" fill="#4878a8"/>
         |<text x="0" y="${y + 13}" font-size="12">${escape(label)}</text>
         |<text x="${165 + w}" y="${y + 13}" font-size="11">${"%,.2f".format(v)}</text>""".stripMargin
    }.mkString("\n")
    s"""<h2>${escape(title)}</h2>
       |<svg width="820" height="${labeled.size * 22 + 4}" xmlns="http://www.w3.org/2000/svg">
       |$bars
       |</svg>""".stripMargin
  }

  private def fmt(v: Any): String = v match {
    case null => ""
    case d: java.lang.Double => "%,.2f".format(d)
    case x => x.toString
  }

  /** assemble the dashboard HTML from the curated layer. */
  def buildHtml(
      spark: SparkSession,
      fact: DataFrame,
      dimAccounts: DataFrame,
      kpi: DataFrame,
      dqExceptions: DataFrame,
      dqSummary: DataFrame,
      month: String): String = {

    val top = topEntitiesByRevenue(kpi)
    val topRows = top.collect()
    val entities = topRows.map(_.getString(0)).toSeq
    val trend = kpiTrend(kpi, entities).collect()
    val expense = topExpenseAccounts(fact, dimAccounts).collect()
    val exRows = dqExceptions.limit(200).collect()
    val sumRows = dqSummary.collect()

    def rowsOf(rs: Array[Row]): Seq[Seq[String]] =
      rs.map(r => r.toSeq.map(fmt)).toSeq

    val sections = Seq(
      svgBars(s"Top entities by revenue — $month",
        topRows.map(r => r.getString(0) -> r.getDouble(1)).toSeq),
      htmlTable("KPI trend (top entities)",
        Seq("entity", "month", "Revenue", "gross_profit", "operating_profit"), rowsOf(trend)),
      svgBars("Top expense accounts (Σ|amount|)",
        expense.map(r => s"${r.getString(0)} ${Option(r.getString(1)).getOrElse("")}" -> r.getDouble(2)).toSeq),
      htmlTable("DQ summary", sumRows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Nil), rowsOf(sumRows)),
      htmlTable("DQ exceptions (first 200)",
        exRows.headOption.map(_.schema.fieldNames.toSeq).getOrElse(Seq("none")), rowsOf(exRows)))

    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>Monthly close — ${escape(month)}</title></head>
       |<body><h1>Monthly close dashboard — ${escape(month)}</h1>
       |${sections.mkString("\n<hr>\n")}
       |</body></html>""".stripMargin
  }

  def write(path: String, html: String): Unit = EtlIO.writeText(path, html)
}
