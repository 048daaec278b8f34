package graft.etl

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBridge

import graft.SparkSpec

/** The close's commit and its audit:
  *
  *  - the three curated tables are published only when the gate passes
  *    and the fact has every FX rate; a rejected or missing-FX close over
  *    an existing curated dir leaves the previous tables byte for byte,
  *    with no staging debris;
  *  - the gate's verdict wins over missing FX rates;
  *  - no job of the close outlives the call;
  *  - the audit's bytes for RI-only, one-dtype and clean months (expected
  *    bytes written by hand from the injected defects' row numbers);
  *  - duplicate-key rows keep one order under any shuffle partitioning;
  *  - under every fail-on mode the summary and the gate follow a recount
  *    of the audit written.
  */
class CloseCommitSpec extends SparkSpec {

  private val month = "2025-12"
  private val tables = Seq("fact_transactions.parquet", "dim_accounts.parquet", "kpi_monthly.parquet")

  private def sample(prefix: String): String = {
    val base = tmpDir(prefix)
    SampleData.write(s"$base/raw", month)
    SampleData.writeChartOfAccounts(s"$base/ref")
    base
  }

  private def close(base: String, failOn: String = FailOn.Error): Pipeline.Outputs =
    Pipeline.runMonth(spark, Settings(), month, s"$base/raw", s"$base/curated", s"$base/ref", failOn)

  /** sets field `column` of data row `row` (0-based) of a raw file */
  private def patchCell(base: String, file: String, row: Int, column: Int, value: String): Unit = {
    val p = Paths.get(s"$base/raw/$file")
    val lines = Files.readAllLines(p).asScala.toVector
    val cells = lines(row + 1).split(",", -1)
    cells(column) = value
    Files.writeString(p, lines.updated(row + 1, cells.mkString(",")).mkString("", "\n", "\n"))
  }

  private def dropEurRates(base: String): Unit = {
    val p = Paths.get(s"$base/raw/fx_rates.csv")
    Files.write(p, Files.readAllLines(p).asScala.filterNot(_.contains("EUR")).asJava)
  }

  /** every file under the three curated tables, by relative path */
  private def curatedBytes(base: String): Map[String, Seq[Byte]] =
    tables.flatMap { t =>
      val root = Paths.get(s"$base/curated/$t")
      val walk = Files.walk(root)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        s"$t/${root.relativize(f)}" -> Files.readAllBytes(f).toSeq).toVector
      finally walk.close()
    }.toMap

  private def debris(base: String): Seq[String] =
    Files.list(Paths.get(s"$base/curated")).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith(".stage_") || n.startsWith(".aside_")).toSeq

  private def read(path: String): String = Files.readString(Paths.get(path))

  test("a gate-rejected and a missing-FX close leave the previous curated tables byte-identical") {
    val base = sample("commit_keep")
    close(base)
    val before = curatedBytes(base)
    assert(before.size >= 6, before.keys)

    patchCell(base, "sales.csv", 0, 0, "not-a-date")
    intercept[Pipeline.DqGateFailedException](close(base))
    assert(curatedBytes(base) == before, "a rejected close changed the curated tables")
    assert(debris(base).isEmpty, debris(base))
    // the audit of the rejected close is written all the same
    assert(read(s"$base/curated/dq_exceptions.csv").contains("not-a-date"))

    val noFx = sample("commit_keep_fx")
    close(noFx)
    val beforeFx = curatedBytes(noFx)
    dropEurRates(noFx)
    intercept[Transform.MissingFxRatesException](close(noFx))
    assert(curatedBytes(noFx) == beforeFx, "a missing-FX close changed the curated tables")
    assert(debris(noFx).isEmpty, debris(noFx))
  }

  test("a close that fails the gate and misses FX rates reports the gate") {
    val base = sample("commit_both")
    patchCell(base, "sales.csv", 0, 0, "not-a-date")
    dropEurRates(base)
    intercept[Pipeline.DqGateFailedException](close(base))
    assert(debris(base).isEmpty, debris(base))
    assert(tables.forall(t => !Files.exists(Paths.get(s"$base/curated/$t"))))
  }

  test("fail-on NEVER publishes all three tables over a month with ERROR rows") {
    val base = sample("commit_never")
    close(base)
    // the bad date is an ERROR and takes its row out of the month window
    patchCell(base, "sales.csv", 0, 0, "not-a-date")
    val out = close(base, FailOn.Never)
    assert(read(out.dqSummary).contains("sales,1,0,1,PASS"))
    assert(spark.read.parquet(out.fact).count() == 80 + 80 + 30 + 60 - 1)
    assert(spark.read.parquet(out.dimAccounts).count() == 12)
    assert(spark.read.parquet(out.kpi).count() == 2)
    assert(debris(base).isEmpty, debris(base))
  }

  test("no job of a close ends after the call returns, clean or rejected") {
    val started = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e.jobId)
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.put(e.jobId, e.time)
    }
    val sc = spark.sparkContext
    val base = sample("commit_jobs")
    sc.addSparkListener(listener)
    try {
      def returnedAt(body: => Unit): Long = { body; System.currentTimeMillis() }
      val clean = returnedAt(close(base))
      ListenerBridge.waitUntilEmpty(sc)
      assert(started.asScala == ended.keySet.asScala, "a clean close left a job running")
      assert(ended.values.asScala.forall(_ <= clean))
      started.clear(); ended.clear()

      patchCell(base, "sales.csv", 0, 0, "not-a-date")
      val rejected = returnedAt(intercept[Pipeline.DqGateFailedException](close(base)))
      ListenerBridge.waitUntilEmpty(sc)
      assert(started.asScala == ended.keySet.asScala, "a rejected close left a job running")
      assert(ended.values.asScala.forall(_ <= rejected))
    } finally sc.removeSparkListener(listener)
  }

  private val header = "dataset,index,column,check,failure_case,schema_context,check_number,severity\n"

  private def summary(sales: String, expenses: String, payroll: String): String =
    s"""dataset,error_count,warn_count,issue_count,status
       |sales,$sales
       |expenses,$expenses
       |payroll,$payroll
       |inventory_movements,0,0,0,PASS
       |fx_rates,0,0,0,PASS
       |""".stripMargin

  test("the audit is the same whether or not a table needed its row index") {
    // RI only: no column check fires anywhere; SampleData writes sales
    // and expenses in natural-key order, so a row's index is its row
    // number
    val ri = sample("lazy_ri")
    patchCell(ri, "sales.csv", 5, 3, "49999999")
    patchCell(ri, "expenses.csv", 7, 3, "69999999")
    val riOut = intercept[Pipeline.DqGateFailedException](close(ri))
    assert(read(riOut.exceptionsPath) == header +
      "expenses,7,account_code,account_in_coa,69999999,Column,,ERROR\n" +
      "sales,5,account_code,account_in_coa,49999999,Column,,ERROR\n")
    assert(read(riOut.summaryPath) ==
      summary("1,0,1,FAIL", "1,0,1,FAIL", "0,0,0,PASS"))

    // one dtype defect in payroll
    val dtype = sample("lazy_dtype")
    patchCell(dtype, "payroll.csv", 3, 4, "abc")
    val dtypeOut = intercept[Pipeline.DqGateFailedException](close(dtype))
    assert(read(dtypeOut.exceptionsPath) == header +
      "payroll,3,gross,dtype('double'),abc,Column,,ERROR\n")
    assert(read(dtypeOut.summaryPath) ==
      summary("0,0,0,PASS", "0,0,0,PASS", "1,0,1,FAIL"))

    // a clean month
    val cleanOut = close(sample("lazy_clean"))
    assert(read(cleanOut.dqExceptions) == header)
    assert(read(cleanOut.dqSummary) ==
      summary("0,0,0,PASS", "0,0,0,PASS", "0,0,0,PASS"))
  }

  test("duplicate-key rows come out in one order under any shuffle partitioning") {
    // three no_duplicates(entity, invoice_id) groups in sales: TLM rows 9
    // and 10 with a blank invoice id, TLM row 12 repeating row 11's id and
    // UPE row 45 repeating row 44's; the audit lists them by failure_case
    // whatever the partition count
    val base = sample("dup_order")
    Seq(9 -> "", 10 -> "", 12 -> "INV-TLM-0011", 45 -> "INV-UPE-0004").foreach {
      case (row, id) => patchCell(base, "sales.csv", row, 2, id)
    }
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    val audits = Seq("1", "7").map { n =>
      spark.conf.set(key, n)
      try read(close(base, FailOn.Never).dqExceptions)
      finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    assert(audits.distinct.size == 1)
    assert(audits.head.linesIterator.filter(_.contains("no_duplicates")).toSeq ==
      Seq("TLM", "TLM|INV-TLM-0011", "UPE|INV-UPE-0004").map(dup =>
        s"""sales,,,"no_duplicates(entity, invoice_id)",$dup,DataFrameSchema,,WARN"""))
  }

  test("the summary and the gate follow a recount of the audit under every fail-on mode") {
    // RI (sales), WARN only (expenses' negative amount), dtype (payroll)
    // and corrupt-line (inventory) defects
    val base = sample("recount")
    patchCell(base, "sales.csv", 5, 3, "49999999")
    patchCell(base, "expenses.csv", 4, 5, "-5")
    patchCell(base, "payroll.csv", 3, 4, "abc")
    val inventory = s"$base/raw/inventory_movements.csv"
    Files.writeString(Paths.get(inventory),
      read(inventory) + "2025-12-03,TLM,SKU-001,receipt,1,2,TZS,SPURIOUS\n")
    Seq(FailOn.Error, FailOn.Warn, FailOn.Never).foreach { mode =>
      val passed =
        try { close(base, mode); true }
        catch { case _: Pipeline.DqGateFailedException => false }
      val recount = spark.read.option("header", "true").csv(s"$base/curated/dq_exceptions.csv")
        .groupBy("dataset", "severity").count().collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(recount.keySet == Set("sales" -> "ERROR", "expenses" -> "WARN",
        "payroll" -> "ERROR", "inventory_movements" -> "ERROR"), mode)
      def fails(errors: Long, warns: Long): Boolean = mode match {
        case FailOn.Never => false
        case FailOn.Warn => errors + warns > 0
        case _ => errors > 0
      }
      val rows = Dq.datasets.map { d =>
        val (e, w) = (recount.getOrElse(d -> "ERROR", 0L), recount.getOrElse(d -> "WARN", 0L))
        s"$d,$e,$w,${e + w},${if (fails(e, w)) "FAIL" else "PASS"}"
      }
      assert(read(s"$base/curated/dq_summary.csv") ==
        rows.mkString("dataset,error_count,warn_count,issue_count,status\n", "\n", "\n"), mode)
      val (errors, warns) = recount.partition(_._1._2 == "ERROR")
      assert(passed == !fails(errors.values.sum, warns.values.sum), mode)
    }
  }

  private def files(dir: Path): Seq[Path] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally walk.close()
  }

  test("a re-run of the exports replaces every file and leaves no stage behind") {
    val base = sample("exports_rerun")
    val out = close(base)
    def exportAll(): Unit = {
      val (fact, dim, kpi) = (spark.read.parquet(out.fact),
        spark.read.parquet(out.dimAccounts), spark.read.parquet(out.kpi))
      StarSchema.export(spark, fact, dim, kpi, month, s"$base/star")
      BiExport.export(spark, fact, dim, kpi, out.dqExceptions, out.dqSummary, month, s"$base/bi")
      Dashboard.write(s"$base/dash/dashboard.html", Dashboard.buildHtml(spark, fact, dim, kpi,
        spark.read.option("header", "true").csv(out.dqExceptions),
        spark.read.option("header", "true").csv(out.dqSummary), month))
    }
    exportAll()
    val written = Seq("star", "bi", "dash").flatMap(d => files(Paths.get(s"$base/$d")))
    assert(written.size == 7 + 6 + 1, written)
    val first = written.map(f => f -> Files.readString(f)).toMap
    written.foreach(Files.writeString(_, "stale"))
    exportAll()
    val again = Seq("star", "bi", "dash").flatMap(d => files(Paths.get(s"$base/$d")))
    assert(again.toSet == written.toSet, again)
    again.foreach(f => assert(Files.readString(f) == first(f), f))
  }
}
