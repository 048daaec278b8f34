package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.math.BigDecimal.RoundingMode

import org.apache.spark.sql.SparkSession

import perfbench.Inputs.AuditKey

/** Output checks that recompute the expected results from the generated
  * files in plain Scala, independently of the Spark plans under test.
  * Each check returns the problems it found; empty means correct.
  */
object Checks {

  /** one CSV record, honouring double quotes (Spark quotes any field
    * holding a comma, e.g. the `isin(USD, TZS, EUR)` check name)
    */
  def parseCsvLine(line: String): Vector[String] = {
    val out = ArrayBuffer[String]()
    val cur = new StringBuilder
    var quoted = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (quoted) {
        if (c == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (c == '"') quoted = false
        else cur += c
      } else if (c == '"') quoted = true
      else if (c == ',') { out += cur.result(); cur.clear() }
      else cur += c
      i += 1
    }
    out += cur.result()
    out.toVector
  }

  /** header + records of a CSV sink */
  def readCsv(p: Path): (Vector[String], Vector[Vector[String]]) = {
    val lines = Inputs.dataLines(p)
    (parseCsvLine(Files.readAllLines(p).get(0)), lines.map(parseCsvLine))
  }

  /** data rows of a single-file CSV sink, or -1 if it is missing */
  def csvRows(p: Path): Long =
    if (Files.isRegularFile(p)) Inputs.dataLines(p).size.toLong else -1L

  /** Spark's `bround(x, 2)` on a double: half-even on the decimal rendering */
  private def bround2(x: Double): Double =
    BigDecimal(x).setScale(2, RoundingMode.HALF_EVEN).toDouble

  /** What a clean close of one raw month must produce. */
  final case class CloseExpectation(
      factRows: Long, dates: Int, entities: Int, accounts: Int,
      revenue: Map[String, Double], expense: Map[String, Double])

  /** Recomputes the fact row count and per-entity base-currency
    * Revenue/Expense from the raw CSVs and the chart of accounts.
    */
  def expectClose(rawDir: Path, coaCsv: Path, month: String): CloseExpectation = {
    def rows(t: String) = Inputs.dataLines(rawDir.resolve(t)).map(_.split(",", -1))
    val accountType = Inputs.dataLines(coaCsv).map(_.split(",", -1))
      .map(r => r(0) -> r(2)).toMap
    val rate: Map[(String, String), Double] = rows("fx_rates.csv")
      .filter(_(2) == "USD").map(r => (r(0), r(1)) -> r(3).toDouble).toMap
    def base(date: String, currency: String, amount: Double): Double =
      bround2(amount * (if (currency == "USD") 1.0 else rate((date, currency))))
    val monthEnd = java.time.YearMonth.parse(month).atEndOfMonth().toString
    def inMonth(date: String) = date.startsWith(month + "-")

    // (date, entity, account_code, currency, amount) per fact row
    val sales = rows("sales.csv").filter(r => inMonth(r(0)))
      .map(r => (r(0), r(1), r(3), r(4), r(5).toDouble))
    val expenses = rows("expenses.csv").filter(r => inMonth(r(0)))
      .map(r => (r(0), r(1), r(3), r(4), -r(5).toDouble))
    val payroll = rows("payroll.csv").filter(_(0) == month)
      .map(r => (monthEnd, r(1), "61000001", r(3), -r(6).toDouble))
    val inventory = rows("inventory_movements.csv").filter(r => inMonth(r(0)))
    val ledger = sales ++ expenses ++ payroll
    def total(kind: String): Map[String, Double] =
      ledger.filter(r => accountType.get(r._3).contains(kind))
        .groupMapReduce(_._2)(r => base(r._1, r._4, r._5))(_ + _)
    val dates = (ledger.map(_._1) ++ inventory.map(_(0))).distinct.size
    CloseExpectation(
      ledger.size.toLong + inventory.size, dates,
      (ledger.map(_._2) ++ inventory.map(_(1))).distinct.size,
      accountType.size, total("Revenue"), total("Expense"))
  }

  /** A clean close and its exports against the recomputed expectation. */
  def checkClose(spark: SparkSession, exp: CloseExpectation, month: String,
      curated: Path, star: Path, bi: Path, dashboard: Path): Seq[String] = {
    val problems = ArrayBuffer[String]()
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"$what: got $got, want $want"

    val factRows = spark.read.parquet(curated.resolve("fact_transactions.parquet").toString).count()
    expect("fact rows", factRows, exp.factRows)
    val kpi = spark.read.parquet(curated.resolve("kpi_monthly.parquet").toString)
      .select("entity", "month", "Revenue", "Expense").collect()
    expect("kpi rows", kpi.length, exp.entities)
    kpi.foreach { r =>
      val entity = r.getString(0)
      expect(s"kpi month of $entity", r.getString(1), month)
      Seq("Revenue" -> exp.revenue, "Expense" -> exp.expense).zipWithIndex.foreach {
        case ((kind, want), i) =>
          val got = r.getDouble(2 + i)
          val w = want.getOrElse(entity, 0.0)
          if (!(math.abs(got - w) < 0.005)) problems += f"$kind of $entity: got $got%.4f, want $w%.4f"
      }
    }
    expect("dq_exceptions rows", csvRows(curated.resolve("dq_exceptions.csv")), 0L)
    expect("dq_summary rows", csvRows(curated.resolve("dq_summary.csv")), 5L)

    Seq("dim_date.csv" -> exp.dates.toLong, "dim_month.csv" -> 1L,
      "dim_entity.csv" -> exp.entities.toLong, "dim_account.csv" -> exp.accounts.toLong,
      "fact_gl.csv" -> exp.factRows, "fact_kpi_monthly.csv" -> exp.entities.toLong)
      .foreach { case (f, n) => expect(s"star $f rows", csvRows(star.resolve(f)), n) }
    expect("star model notes", Files.isRegularFile(star.resolve("POWERBI_MODEL_NOTES.txt")), true)
    Seq("fact_transactions.csv" -> exp.factRows, "dim_accounts.csv" -> exp.accounts.toLong,
      "kpi_monthly.csv" -> exp.entities.toLong, "dq_summary.csv" -> 5L,
      "dq_exceptions.csv" -> 0L)
      .foreach { case (f, n) => expect(s"bi $f rows", csvRows(bi.resolve(f)), n) }
    expect("bi data dictionary", Files.isRegularFile(bi.resolve("data_dictionary.txt")), true)
    val html = if (Files.isRegularFile(dashboard)) Files.readString(dashboard) else ""
    expect("dashboard title", html.contains(s"Monthly close dashboard — $month"), true)
    problems.toSeq
  }

  /** The rejected close's audit against what the injector planted. */
  def checkAudit(expected: Map[AuditKey, Long], curated: Path): Seq[String] = {
    val problems = ArrayBuffer[String]()
    val exPath = curated.resolve("dq_exceptions.csv")
    val sumPath = curated.resolve("dq_summary.csv")
    if (!Files.isRegularFile(exPath) || !Files.isRegularFile(sumPath))
      return Seq("audit files missing")
    val (exHead, exRows) = readCsv(exPath)
    def at(name: String) = exHead.indexOf(name)
    val got = exRows
      .groupMapReduce(r => AuditKey(r(at("dataset")), r(at("check")), r(at("severity"))))(_ => 1L)(_ + _)
    if (got != expected)
      problems += s"audit counts: got ${got.toSeq.sortBy(_._1.toString)}, want ${expected.toSeq.sortBy(_._1.toString)}"

    val (sumHead, sumRows) = readCsv(sumPath)
    val errors = expected.filter(_._1.severity == "ERROR").groupMapReduce(_._1.dataset)(_._2)(_ + _)
    val want = Seq("sales", "expenses", "payroll", "inventory_movements", "fx_rates").map { d =>
      val e = errors.getOrElse(d, 0L)
      Vector(d, e.toString, "0", e.toString, if (e > 0) "FAIL" else "PASS")
    }
    val gotSummary = sumRows.map(r => Seq("dataset", "error_count", "warn_count",
      "issue_count", "status").map(c => r(sumHead.indexOf(c))).toVector)
    if (gotSummary != want) problems += s"dq_summary: got $gotSummary, want $want"
    problems.toSeq
  }

  /** LSH recall a near-duplicate pair must reach: banding is
    * probabilistic in the jaccard (the sf0.1 record in BASELINE.md is
    * 252 of 256 true pairs banded), so near-duplicates are held to a
    * share and exact copies, whose signatures are equal, to every pair.
    */
  val nearDupRecall = 0.9

  /** One daily ingest against the generated corpus: survivors and drops
    * partition the batch; every dropped document has a partner at bigram
    * jaccard >= 0.5 in the index or at a lower id in the batch; of each
    * copy pair touching the batch, the member dedup must drop (the one in
    * the batch, or the higher id when both are) is dropped, and both
    * share a cluster; the appended index segment is the survivor set; the
    * cluster table covers the indexed corpus and the batch once each.
    */
  def checkIngest(spark: SparkSession, corpus: Inputs.Documents, batchIds: Set[Long],
      out: Path): Seq[String] = {
    val problems = ArrayBuffer[String]()
    val survivors = spark.read.parquet(out.resolve("curated").toString)
      .select("doc_id").collect().map(_.getLong(0))
    val survivorSet = survivors.toSet
    if (survivors.length != survivorSet.size) problems += "duplicate survivors"
    if (!survivorSet.subsetOf(batchIds)) problems += "survivor outside the batch"
    val dropped = batchIds -- survivorSet
    if (survivorSet.size + dropped.size != batchIds.size)
      problems += s"survivors ${survivorSet.size} + dropped ${dropped.size} != batch ${batchIds.size}"

    val sh = corpus.docs.map(d => d.doc_id -> Inputs.shingles(d.text)).toMap
    val unfounded = dropped.filterNot { d =>
      sh.exists { case (o, s) =>
        o != d && (!batchIds(o) || o < d) && Inputs.jaccard(sh(d), s) >= 0.5
      }
    }
    if (unfounded.nonEmpty)
      problems += s"${unfounded.size} dropped without a duplicate, e.g. ${unfounded.head}"

    val segment = spark.read.parquet(out.resolve("segment/shingles").toString)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    if (segment != survivorSet) problems += "appended segment is not the survivor set"

    val clusters = spark.read.parquet(out.resolve("clusters").toString)
      .select("doc_id", "cluster_id").collect().map(r => r.getLong(0) -> r.getLong(1))
    val label = clusters.toMap
    if (clusters.length != label.size) problems += "doc listed twice in the cluster table"
    val all = corpus.docs.map(_.doc_id).toSet
    if (label.keySet != all)
      problems += s"cluster table covers ${label.size} docs, want ${all.size}"

    def pairs(kind: String, copies: Map[Long, Long], recall: Double): Unit = {
      val touching = copies.toSeq.filter { case (c, o) => batchIds(c) || batchIds(o) }
      def loser(c: Long, o: Long) =
        if (batchIds(c) && batchIds(o)) math.max(c, o) else if (batchIds(c)) c else o
      val kept = touching.count { case (c, o) => !dropped(loser(c, o)) }
      val split = copies.count { case (c, o) => label.get(c) != label.get(o) }
      if (kept > touching.size * (1 - recall))
        problems += s"$kept of ${touching.size} $kind pairs in the batch kept both documents"
      if (split > copies.size * (1 - recall))
        problems += s"$split of ${copies.size} $kind pairs in different clusters"
    }
    pairs("exact-copy", corpus.exactCopies, 1.0)
    pairs("near-duplicate", corpus.nearDups, nearDupRecall)
    problems.toSeq
  }
}
