package graft.etl

import scala.concurrent.{blocking, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.util.{Failure, Success}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Publish}

import EtlIO.settle

/** End-to-end monthly close ≙ reference pipeline.run_month
  * (pipeline.py:50–191): scan → validate (lazy-collect) → gate → month
  * filter → FX → fact → KPI → sinks.
  *
  * Plan shape (SURVEY §3.1): after the per-table coerce chains, the
  * close is two concurrent branches over the chains' caches. The DQ
  * branch collects the audit once, writes it, and decides the gate from
  * a count of the rows it wrote.
  * The curated branch writes the fact, then the KPI from the fact's
  * stage, and the dim, each into its own [[graft.core.Publish.stage]].
  * The three tables are published only once the gate has passed and the
  * fact has every FX rate, so a rejected close leaves the previous
  * curated set as it was. Raw frames are cached across both branches to
  * avoid re-scanning (SURVEY §7.4.9).
  */
object Pipeline {

  final case class DqGateFailedException(exceptionsPath: String, summaryPath: String)
    extends RuntimeException(
      s"Data quality checks failed. See $exceptionsPath and $summaryPath")

  final case class Outputs(
      dqExceptions: String,
      dqSummary: String,
      fact: String,
      dimAccounts: String,
      kpi: String)

  def runMonth(
      spark: SparkSession,
      settings: Settings,
      month: String,
      rawDir: String,
      curatedDir: String,
      referenceDir: String,
      failOn: String = FailOn.Error): Outputs = {

    val mode = FailOn.normalize(failOn)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(curatedDir))
    // phase labels (guide §1.5): job descriptions are thread-local and
    // cost nothing; they exist so listener-based attribution (Profile) can
    // split the close's concurrent jobs by pipeline phase
    def phase[T](name: String)(body: => T): T = EtlIO.labelled(spark, s"close: $name")(body)
    def inPhase[T](name: String)(body: => T): Future[T] =
      EtlIO.labelledFuture(spark, s"close: $name")(body)

    // reference COA → dim_accounts (pipeline.py:69–75)
    val coa = EtlIO.readCsv(spark, s"$referenceDir/chart_of_accounts.csv", Schemas.chartOfAccounts)
    val dimAccounts = Transform.dimAccounts(coa)

    // raw scans, all-strings for pandera-style coercion checks; RI checks
    // on sales/expenses (pipeline.py:126–127)
    val tables = Seq(
      (Dq.salesSchema(settings), s"$rawDir/sales.csv", Some(dimAccounts)),
      (Dq.expensesSchema(settings), s"$rawDir/expenses.csv", Some(dimAccounts)),
      (Dq.payrollSchema(settings), s"$rawDir/payroll.csv", None),
      (Dq.inventorySchema(settings), s"$rawDir/inventory_movements.csv", None),
      (Dq.fxSchema(settings), s"$rawDir/fx_rates.csv", None))

    // every cache the close creates is released on every exit path,
    // gate rejection and missing FX rates included
    Caches.scoped { own =>
      // One scan per table: the cached read feeds both the exception
      // plans and the downstream fact build. The audited read splits off
      // malformed lines as corrupt_record exceptions BEFORE coercion — a
      // broken line is reported through the DQ gate, never silently
      // padded into nulls (quality.py:98–115 philosophy).
      //
      // Each table's chain (audited read → indexed typed view →
      // exception plans) is built, and its cached read forced, inside its
      // own labelled future (guide §2.6 overlap-independent-jobs):
      // planning a chain is driver-bound, so on five threads planning and
      // jobs overlap. Every future is awaited before the first failure is
      // rethrown, so no chain is still creating caches when the scope
      // releases them.
      val audits = EtlIO.concurrently(spark, tables.map { case (ts, path, coaCheck) =>
        s"close: coerce-${ts.name}" -> (() => {
          val read = EtlIO.readCsvRawAudited(spark, path, ts.schema, ts.name, own)
          // fills the read's cache in this chain's own job, before either
          // branch reads it (isEmpty: one job; count would take two)
          read.clean.isEmpty
          ts -> Dq.audit(spark, read, ts, coaCheck)
        })
      })

      // exception frames are audit-sized by CONTRACT (human-readable
      // output, quality.py:205–249; the sink below is single-file CSV),
      // so they sort locally as [[EtlIO.sortedLocally]] does, in
      // [[Dq.auditOrder]]. One collect reads them: the rows are written
      // and counted per severity for the summary and the gate.
      val withSeverity = Dq.addSeverity(audits.map(_._2.exceptions).reduce(_.unionByName(_)))
        .repartition(1).sortWithinPartitions(Dq.auditOrder: _*)

      // the curated branch's inputs, built before any branch starts so
      // that nothing between the branches' start and their settling can
      // throw: month window filter (pipeline.py:164–170)
      val typed = audits.map { case (ts, a) =>
        ts.name -> a.typed.select(ts.schema.fieldNames.map(col).toSeq: _*)
      }.toMap
      val start = to_date(lit(s"$month-01"))
      val end = add_months(start, 1)
      def inWindow(df: DataFrame) =
        df.filter(col("date") >= start && col("date") < end)

      val sales = inWindow(typed("sales"))
      val expenses = inWindow(typed("expenses"))
      val inventory = inWindow(typed("inventory_movements"))
      val payroll = typed("payroll").filter(col("month") === month)
      val fx = Transform.fxToBase(typed("fx_rates"), settings.baseCurrency)
      val factFrame = Transform.toFactTransactions(
        sales, expenses, payroll, inventory, fx, settings.baseCurrency)

      // DQ branch: write the audit trail, then decide (pipeline.py:129–162)
      val exPath = s"$curatedDir/dq_exceptions.csv"
      val sumPath = s"$curatedDir/dq_summary.csv"
      val gate = Future(blocking {
        val rows = phase("dq-exceptions")(withSeverity.collect().toSeq)
        EtlIO.csvFile(spark, withSeverity.schema, rows, exPath)
        val counts = Dq.severityCounts(rows)
        phase("dq-summary")(EtlIO.writeSingleCsv(Dq.summaryTable(spark, counts, mode), sumPath))
        Dq.overallStatus(counts, mode) == "PASS"
      })

      // curated branch, beside the DQ branch: the three staged tables
      val outFact = s"$curatedDir/fact_transactions.parquet"
      val outDim = s"$curatedDir/dim_accounts.parquet"
      val outKpi = s"$curatedDir/kpi_monthly.parquet"
      // the missing-rate probe rides the fact write: the write counts the
      // rows without a rate, and only a close that has some pays a second
      // job, over the staged fact, to list them. Readers of the stage
      // take the schema the write wrote, so they infer none.
      def readFact(stage: String) = spark.read.schema(factFrame.schema).parquet(stage)
      val fact = inPhase("fact-write")(Publish.stage(outFact) { stage =>
        val noRate = Observation()
        EtlIO.writeParquet(factFrame.observe(noRate, count(when(col("rate").isNull, 1)).as("rows")), stage)
        if (noRate.get("rows").asInstanceOf[Long] > 0)
          throw Transform.MissingFxRatesException(Transform.missingFxPairs(readFact(stage)))
      })
      val dim = inPhase("dim-write")(Publish.stage(outDim)(EtlIO.writeParquet(dimAccounts, _)))
      // the KPI derives from the fact's stage: one columnar scan of the
      // durable output instead of a second transform or a fact-sized
      // cache (parquet round-trips the columns exactly)
      val kpi = fact.flatMap(f => inPhase("kpi-write")(Publish.stage(outKpi)(
        EtlIO.writeParquet(Transform.kpiMonthly(readFact(f.path), dimAccounts), _))))

      // commit: nothing returns or throws while a branch still runs; the
      // gate's verdict wins over the fact's missing rates, as it did when
      // the gate ran first
      val curated = settle(Seq(fact, dim, kpi))
      val verdict = settle(Seq(gate)).head
        .flatMap(pass => if (pass) Success(()) else Failure(DqGateFailedException(exPath, sumPath)))
        .flatMap(_ => curated.collectFirst { case Failure(e) => Failure(e) }.getOrElse(Success(())))
      verdict match {
        case Success(_) => curated.foreach(_.get.publish())
        case Failure(e) => curated.foreach(_.foreach(_.discard())); throw e
      }
      Outputs(exPath, sumPath, outFact, outDim, outKpi)
    }
  }
}
