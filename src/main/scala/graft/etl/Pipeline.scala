package graft.etl

import scala.concurrent.{blocking, Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** End-to-end monthly close ≙ reference pipeline.run_month
  * (pipeline.py:50–191): scan → validate (lazy-collect) → gate → month
  * filter → FX → fact → KPI → sinks.
  *
  * Plan shape (SURVEY §3.1): stages form one logical plan forest; the DQ
  * gate is the single mid-pipeline action (a count over the unioned
  * exception plans) before the three writes. Raw frames are cached
  * across the gate + fact build to avoid re-scanning (SURVEY §7.4.9).
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
    // split the close's AQE-future jobs by pipeline phase
    val sc = spark.sparkContext
    def phase[T](name: String)(body: => T): T = {
      sc.setJobDescription(s"close: $name")
      try body finally sc.setJobDescription(null)
    }

    // reference COA → dim_accounts (pipeline.py:69–75)
    val coa = EtlIO.readCsv(spark, s"$referenceDir/chart_of_accounts.csv", Schemas.chartOfAccounts)
    val dimAccounts = Transform.dimAccounts(coa)

    // raw scans, all-strings for pandera-style coercion checks
    val tables = Seq(
      Dq.salesSchema(settings) -> s"$rawDir/sales.csv",
      Dq.expensesSchema(settings) -> s"$rawDir/expenses.csv",
      Dq.payrollSchema(settings) -> s"$rawDir/payroll.csv",
      Dq.inventorySchema(settings) -> s"$rawDir/inventory_movements.csv",
      Dq.fxSchema(settings) -> s"$rawDir/fx_rates.csv")

    // every cache the close creates is released on every exit path,
    // gate rejection and missing FX rates included
    Caches.scoped { own =>
      // One scan per table: the cached coerced frame feeds both the
      // exception plans and the downstream fact build. The audited read
      // splits off malformed lines as corrupt_record exceptions BEFORE
      // coercion — a broken line is reported through the DQ gate, never
      // silently padded into nulls (quality.py:98–115 philosophy).
      //
      // Each table's whole chain (audited read → coerce → index → cache
      // → count) is built AND forced inside its own labelled future
      // (guide §2.6 overlap-independent-jobs). Building is not free: the
      // index's sort runs its sample and shuffle jobs while the frame is
      // built, and planning a chain is driver-bound. On one thread the
      // five chains would plan one after another before the first job
      // ran; on five, planning and jobs overlap. Every future is awaited
      // before the first failure is rethrown, so no chain is still
      // creating caches when the scope releases them.
      val chains = tables.map { case (ts, path) =>
        Future(blocking(phase(s"coerce-${ts.name}") {
          val audited = EtlIO.readCsvRawAudited(spark, path, ts.schema, ts.name, own)
          val coerced = own(Validator.coerce(audited.clean, ts))
          coerced.count()
          val ex = Validator.exceptionsFromCoerced(spark, coerced, ts, Some(audited.header))
            .unionByName(audited.exceptions)
          (ts, coerced, ex)
        }))
      }
      chains.foreach(Await.ready(_, Duration.Inf))
      val validated = chains.map(_.value.get.get)
      val coercedByName = validated.map { case (ts, coerced, _) => ts.name -> coerced }.toMap
      val typedByName = validated.map { case (ts, coerced, _) =>
        ts.name -> coerced.select(ts.schema.fieldNames.map(col).toSeq: _*)
      }.toMap

      // RI checks on sales/expenses (pipeline.py:126–127) rank rows by
      // the coerce-time __idx of the cached frames
      val riChecks = Seq(
        Validator.accountInCoaIndexed(coercedByName("sales"), "sales", dimAccounts),
        Validator.accountInCoaIndexed(coercedByName("expenses"), "expenses", dimAccounts))

      val allExceptions = (validated.map(_._3) ++ riChecks).reduce(_.unionByName(_))
      // exception frames are audit-sized by CONTRACT (human-readable output,
      // quality.py:205–249; the sink below is single-file CSV), so their
      // deterministic order comes from a local sort behind a 1-partition
      // exchange instead of a global range sort: no range-sampling job, and
      // every consumer of the cache (summary pivot, gate count, CSV write)
      // runs 1-task stages instead of 32-wide ones — the close is
      // orchestration-bound at bench scale and this is pure orchestration.
      // repartition (not coalesce) keeps the check evaluation itself wide:
      // the narrowing happens at a shuffle boundary, after the per-row
      // checks ran parallel over the raw partitions. The fact/KPI sorts
      // below stay parallel: those scale with the data.
      val withSeverity = own(Dq.addSeverity(allExceptions)
        .repartition(1)
        .sortWithinPartitions("dataset", "check", "index"))

      // gate: write audit trail, then fail if needed (pipeline.py:129–162)
      val exPath = s"$curatedDir/dq_exceptions.csv"
      val sumPath = s"$curatedDir/dq_summary.csv"
      val summary = Dq.summaryTable(spark, withSeverity, mode)
      phase("dq-exceptions")(EtlIO.writeSingleCsv(withSeverity, exPath))
      phase("dq-summary")(EtlIO.writeSingleCsv(summary, sumPath))
      if (phase("dq-gate")(Dq.overallStatus(withSeverity, mode)) == "FAIL" &&
          mode != FailOn.Never)
        throw DqGateFailedException(exPath, sumPath)

      // month window filter (pipeline.py:164–170)
      val start = to_date(lit(s"$month-01"))
      val end = add_months(start, 1)
      def inWindow(df: DataFrame) =
        df.filter(col("date") >= start && col("date") < end)

      val sales = inWindow(typedByName("sales"))
      val expenses = inWindow(typedByName("expenses"))
      val inventory = inWindow(typedByName("inventory_movements"))
      val payroll = typedByName("payroll").filter(col("month") === month)
      val fx = Transform.fxToBase(typedByName("fx_rates"), settings.baseCurrency)

      val outFact = s"$curatedDir/fact_transactions.parquet"
      val outDim = s"$curatedDir/dim_accounts.parquet"
      val outKpi = s"$curatedDir/kpi_monthly.parquet"
      // each build runs inside its sink's phase: the fact build's
      // missing-rate collect and the KPI build's collects are jobs too
      phase("fact-write")(EtlIO.writeParquet(Transform.toFactTransactions(
        sales, expenses, payroll, inventory, fx, settings.baseCurrency), outFact))
      phase("dim-write")(EtlIO.writeParquet(dimAccounts, outDim))
      // KPI derives from the JUST-WRITTEN fact artifact: the fact frame is
      // consumed twice (its own sink + the KPI aggregation), and un-cached
      // that re-ran the whole five-source coerce→union→fx transform per
      // consumer. Reading the materialized artifact back is the
      // production shape — the close's fact table IS the durable output
      // downstream reads — and costs one columnar scan instead of a
      // second transform (or a fact-sized cache pinning executor memory;
      // parquet round-trips the decimal/date/string columns exactly, so
      // kpi_monthly is byte-identical — GoldenParitySpec).
      phase("kpi-write")(EtlIO.writeParquet(
        Transform.kpiMonthly(spark.read.parquet(outFact), dimAccounts), outKpi))

      Outputs(exPath, sumPath, outFact, outDim, outKpi)
    }
  }
}
