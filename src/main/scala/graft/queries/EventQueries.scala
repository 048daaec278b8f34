package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions.MoneyFunctions._

/** Batch analytics over the `events` stream table: time-windowed
  * aggregation, sessionization, JSON prop extraction, and the multimodal
  * binary-column plumbing. These are the batch twins of
  * [[graft.streaming.StreamingOps]] — same window semantics, verifiable
  * against the DuckDB oracle (streaming itself is covered by ScalaTest).
  *
  * Scale: windowed aggs shuffle once on (window, key); sessionization
  * shuffles once on user_id and then runs narrow window functions inside
  * each partition — the canonical 100 TB sessionize plan.
  */
object EventQueries {
  import RelationalQueries.{Q, QFn}

  /** the m3 frame→aHash-48 arithmetic as DuckDB CTEs (docs0 → fr →
    * grid → px → tot → hsh): frame k (sampled ordinal) = payload bytes
    * [2k·64, 2k·64+64) under the 32×2 geometry, each frame decoded,
    * 8×6-resized and aHashed with the exact integer compare 48·u > Σu.
    * Shared by the m3 and m5 oracles so the two can never drift on the
    * hash arithmetic; `hsh` is per (media_id, frame_no), so consumers
    * needing the distinct hash SET add their own dedup layer.
    */
  private val frameHashCtesSql: String =
    """docs0 AS (
      |  SELECT doc_id AS media_id, text, length(text) AS len
      |  FROM documents WHERE text IS NOT NULL),
      |fr AS (
      |  SELECT media_id, CAST(k AS BIGINT) AS frame_no,
      |    substr(text, CAST(k * 128 + 1 AS INT), 64) AS ftext
      |  FROM (SELECT media_id, text,
      |          unnest([i for i in range(0, (len + 127) // 128)]) AS k
      |        FROM docs0)),
      |grid AS (
      |  SELECT media_id, frame_no, ftext, length(ftext) AS flen,
      |    (length(ftext) + 31) // 32 AS nrows, y, x
      |  FROM fr, unnest(range(0, 6)) ty(y), unnest(range(0, 8)) tx(x)),
      |px AS (
      |  SELECT media_id, frame_no, y, x,
      |    ascii(substr(ftext,
      |      CAST(r * 32 + least((x * least(32, flen - r * 32)) // 8,
      |                          least(32, flen - r * 32) - 1) + 1 AS INT), 1)) AS u
      |  FROM (SELECT *, least((y * nrows) // 6, nrows - 1) AS r FROM grid)),
      |tot AS (SELECT media_id, frame_no, sum(u) AS su FROM px GROUP BY 1, 2),
      |hsh AS (
      |  SELECT px.media_id, px.frame_no,
      |    CAST(sum(CASE WHEN 48 * u > su
      |      THEN (CAST(1 AS BIGINT) << (47 - (y * 8 + x))) ELSE 0 END) AS BIGINT) AS fhash
      |  FROM px JOIN tot USING (media_id, frame_no) GROUP BY 1, 2)""".stripMargin

  /** m5's ground-truth sample gate (the x32 discipline applied to the
    * frame path): the exact PAIR computation is the only intrinsically
    * super-linear piece, so it runs over a deterministic md5
    * content-addressed 40% of the media — but the df statistic stays
    * CORPUS-scope (one linear pass), because the production cap is
    * applied at corpus/index scope and a sample-scope df would
    * understate exactly the evictions the report exists to measure.
    * Recall over a content-hash sample is an unbiased estimate of
    * corpus recall (the gate is independent of the payload bytes, and
    * both the truth and the capped side see the same media set). At
    * 100 TB the gate tightens further; it is never removed.
    */
  private[graft] val m5SamplePct = 40

  /** the m5 report body, parameterized by the sample gate (100 =
    * unsampled — the FrameRecallSpec pin). Measures what the
    * production df cap COSTS, continuously (r14 verdict item 1: the
    * cap's recall price was proven real at sf3 — a full index finding
    * 2.5× fewer pairs than a 5% index — but invisible): ground truth =
    * pairs sharing ≥ 2 frame hashes under [[graft.multimodal
    * .Multimodal.FRAME_TRUTH_DF_CAP]] (the boilerplate bound), capped =
    * the same pairing under the production [[graft.multimodal
    * .Multimodal.FRAME_DF_CAP]] — i.e. exactly m3's evidence rule.
    * ev(64) ⊆ ev(4096) makes capped ⊆ truth structurally, so
    * recall = n_capped / n_exact and n_missed is the pair count the cap
    * discards (replica-shared frames of popular content — the
    * population that GROWS with index size). n_evicted_hashes (corpus
    * hashes strictly between the two caps) and max_df locate the
    * corpus on the multiplicity axis. One row, exact longs + one
    * division; vacuously 1.0 on a pair-free sample.
    */
  private[graft] def frameRecallReport(s: SparkSession, dir: String,
      samplePct: Int, boundedRule: Boolean = false): DataFrame = {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir),
      width = 32, height = 2)
    // cached: the distinct hash frame feeds the df pass AND both pair
    // joins; released by the caller's clearCache contract
    val fh = Multimodal.frameHashes(media, everyN = Multimodal.FRAME_EVERY_N)
      .select("media_id", "fhash48").distinct().cache()
    // fh is distinct (media_id, fhash48), so count = distinct media
    val dfm = fh.groupBy("fhash48").agg(count(lit(1)).as("dfm")).cache()
    val sampled =
      if (samplePct >= 100) fh
      else fh.filter(
        graft.functions.Md5Fold(col("media_id").cast("string"), 1, 8)
          % 100 < samplePct)
    def pairsUnder(cap: Int): DataFrame = {
      val ev = sampled
        .join(dfm.filter(col("dfm") <= cap).select("fhash48"), Seq("fhash48"))
      ev.as("a").join(ev.as("b"),
          col("a.fhash48") === col("b.fhash48") &&
            col("a.media_id") < col("b.media_id"))
        .groupBy(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
        .agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= 2)
        .select("doc_a", "doc_b")
    }
    // m7's candidate side: EXACTLY the production ingest rule (r16 —
    // before this the telemetry required ≥ 2 rep-matched hashes per
    // pair while the loop needs one rep-shared candidate hash plus a
    // full set-intersect ≥ 2; the telemetry was a strict lower bound on
    // production recall, and the residual decay it showed — pairs whose
    // ≥2-hash evidence spans different rep sets — is precisely what the
    // set-intersect verify recovers). Candidates and verify are the
    // SHARED production helpers, endpoint-restricted to the sample
    // AFTER the corpus-scope rep selection (production reps are
    // corpus-scope; gating them first would overstate the rule's
    // recall); the verify intersects the pair's FULL corpus-scope
    // evidence sets — the sample gates media, never a sampled media's
    // own hashes.
    def boundedPairs(): DataFrame = {
      import graft.multimodal.Multimodal
      val sampIds = sampled.select("media_id").distinct()
      val ev = Multimodal.truthEvidence(fh, dfm, Multimodal.FRAME_TRUTH_DF_CAP)
      val rep = Multimodal.electReps(ev)
      val cand = Multimodal.repCandidatePairs(
        rep.join(sampIds, Seq("media_id"), "left_semi"),
        ev.join(sampIds, Seq("media_id"), "left_semi"), dfm)
      val sets = ev.groupBy("media_id").agg(collect_set("fhash48").as("fhs"))
      Multimodal.verifySetPairs(cand, sets, minShared = 2)
    }
    // truth NOT cached (r16, measured): both of its consumers (count
    // aggregate + keeper stats) end at the same pair-agg shuffle, so
    // ReusedExchange already dedupes the work within the one report
    // plan — a cache only added write overhead (m5 A/B regressed).
    // The BOUNDED capped frame IS cached (r17): verifySetPairs' tail is
    // a broadcast-join + set-intersect chain ABOVE its dedup exchange
    // (the x12/x35 shape the r16 note contrasts — no reusable exchange
    // at the frame boundary), so its two consumers re-ran the verify
    // intersects and the measuring passes; m6 caches the same frame for
    // the same reason. Tiny (two longs/row); released by the caller's
    // clearCache contract.
    val truth = pairsUnder(Multimodal.FRAME_TRUTH_DF_CAP)
    val capped =
      if (boundedRule) boundedPairs().cache()
      else pairsUnder(Multimodal.FRAME_DF_CAP)
    val dfStats = dfm.agg(
      coalesce(sum(when(col("dfm") > Multimodal.FRAME_DF_CAP &&
          col("dfm") <= Multimodal.FRAME_TRUTH_DF_CAP, 1L)
        .otherwise(0L)), lit(0L)).as("n_evicted_hashes"),
      coalesce(max(col("dfm")), lit(0L)).as("max_df"))
    // keeper agreement — the metric the BOUNDED rule is designed to
    // hold at every scale (pair-list recall is structurally < 1 for it:
    // non-representative pairs route through representatives): for each
    // sampled frame-carrying media, does the candidate rule elect the
    // SAME min-id keeper as the truth rule? Pair recall prices the
    // evidence lost; keeper agreement prices the DEDUP DECISIONS lost.
    def keeperOf(pairs: DataFrame): DataFrame =
      pairs.select(col("doc_a").as("media_id"), col("doc_b").as("nbr"))
        .union(pairs.select(col("doc_b").as("media_id"), col("doc_a").as("nbr")))
        .groupBy("media_id").agg(min("nbr").as("min_nbr"))
    val sampIdsAll = sampled.select("media_id").distinct()
    def keepers(pairs: DataFrame, out: String): DataFrame =
      sampIdsAll.join(keeperOf(pairs), Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(least(col("media_id"), col("min_nbr")), col("media_id"))
            .as(out))
    val keeperStats = keepers(truth, "keep_t")
      .join(keepers(capped, "keep_c"), Seq("media_id"))
      .agg(count(lit(1)).as("n_media"),
        coalesce(sum(when(col("keep_t") === col("keep_c"), 1L)
          .otherwise(0L)), lit(0L)).as("n_keeper_match"))
    truth.agg(count(lit(1)).as("n_exact"))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_capped"))))
      .crossJoin(broadcast(dfStats))
      .crossJoin(broadcast(keeperStats))
      .withColumn("n_missed", col("n_exact") - col("n_capped"))
      .withColumn("recall",
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_capped").cast("double") / col("n_exact")))
      .withColumn("keeper_agreement",
        when(col("n_media") === 0, lit(1.0))
          .otherwise(col("n_keeper_match").cast("double") / col("n_media")))
      .select("n_exact", "n_capped", "n_missed", "recall",
        "n_evicted_hashes", "max_df", "n_media", "n_keeper_match",
        "keeper_agreement")
  }

  /** the DuckDB md5-bucket gate over `media_id` — the same fold as
    * [[graft.corpus.Corpus.withBucket]]'s native kernel (parity pinned
    * in Md5FoldParitySpec), inlined the way x32's sampled oracle does
    * it for `doc_id`.
    */
  private def m5BucketGateSql(pct: Int): String =
    s"""list_reduce([CAST(strpos('0123456789abcdef',
       |    substr(substr(md5(CAST(media_id AS VARCHAR)), 1, 8), i, 1)) - 1 AS BIGINT)
       |  for i in range(1, 9)], (b, c) -> b * 16 + c) % 100 < $pct""".stripMargin

  /** distinct hash sets + corpus-scope df, on top of [[frameHashCtesSql]]
    * — shared by the m5/m6/m7 oracles.
    */
  private val frameSetDfCtesSql: String =
    """hset AS (SELECT DISTINCT media_id, fhash FROM hsh),
      |dfm AS (SELECT fhash, count(*) AS d FROM hset GROUP BY 1)""".stripMargin

  /** the DuckDB twin of `Multimodal.truthEvidence` + `electReps` (ev
    * under the boilerplate bound, rep = the cap lowest ids per hash), on
    * top of [[frameSetDfCtesSql]].
    */
  private val repEvidenceCtesSql: String =
    s"""ev AS (
       |  SELECT h.media_id, h.fhash FROM hset h JOIN dfm USING (fhash)
       |  WHERE d <= ${graft.multimodal.Multimodal.FRAME_TRUTH_DF_CAP}),
       |rep AS (
       |  SELECT media_id, fhash FROM (
       |    SELECT media_id, fhash,
       |      ROW_NUMBER() OVER (PARTITION BY fhash ORDER BY media_id) AS rk
       |    FROM ev) WHERE rk <= ${graft.multimodal.Multimodal.FRAME_DF_CAP})"""
      .stripMargin

  /** [[graft.multimodal.Multimodal.repCandidatePairs]] +
    * `verifySetPairs`' DuckDB twin — the production bounded rule from
    * first principles, on top of [[repEvidenceCtesSql]]: `cand` =
    * distinct rep×evidence pairs sharing ONE hash with the lower id a
    * representative; `p` = the candidates whose FULL truth-capped
    * evidence intersects in ≥ 2 hashes, computed relationally (the
    * ev⋈ev count IS the set intersect — both endpoints' evidence rows
    * on the same hash). Shared by the m6 oracle; m7's sampled `cappd`
    * repeats the shape with sample-gated endpoints.
    */
  private val boundedVerifySql: String =
    """cand AS (
      |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
      |  FROM rep a JOIN ev b
      |    ON a.fhash = b.fhash AND a.media_id < b.media_id),
      |p AS (
      |  SELECT c.ma, c.mb FROM cand c
      |  JOIN ev ea ON ea.media_id = c.ma
      |  JOIN ev eb ON eb.media_id = c.mb AND eb.fhash = ea.fhash
      |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** the sampled ground-truth CTE (pairs sharing ≥ 2 hashes under the
    * boilerplate bound, both endpoints in `samp`) — shared by m5/m7.
    */
  private val frameTruthCteSql: String =
    s"""truth AS (
       |  SELECT a.media_id AS doc_a, b.media_id AS doc_b
       |  FROM (SELECT s2.* FROM samp s2 JOIN dfm USING (fhash)
       |        WHERE d <= ${graft.multimodal.Multimodal.FRAME_TRUTH_DF_CAP}) a
       |  JOIN (SELECT s2.* FROM samp s2 JOIN dfm USING (fhash)
       |        WHERE d <= ${graft.multimodal.Multimodal.FRAME_TRUTH_DF_CAP}) b
       |    ON a.fhash = b.fhash AND a.media_id < b.media_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  /** the one-row report tail over `truth`/`cappd`/`dfm`/`sampids` —
    * shared by the m5/m7 oracles so the two reports can never drift on
    * a column. The keeper CTEs mirror [[frameRecallReport]]'s
    * keeper-agreement block: per sampled frame-carrying media, the
    * truth rule's min-id keeper vs the candidate rule's.
    */
  private val frameReportTailSql: String =
    s"""tk AS (
       |  SELECT s.media_id,
       |    least(s.media_id, coalesce(min(n.nbr), s.media_id)) AS keep_t
       |  FROM sampids s LEFT JOIN
       |    (SELECT doc_a AS media_id, doc_b AS nbr FROM truth
       |     UNION ALL SELECT doc_b, doc_a FROM truth) n USING (media_id)
       |  GROUP BY s.media_id),
       |ck AS (
       |  SELECT s.media_id,
       |    least(s.media_id, coalesce(min(n.nbr), s.media_id)) AS keep_c
       |  FROM sampids s LEFT JOIN
       |    (SELECT doc_a AS media_id, doc_b AS nbr FROM cappd
       |     UNION ALL SELECT doc_b, doc_a FROM cappd) n USING (media_id)
       |  GROUP BY s.media_id),
       |km AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_media,
       |    CAST(coalesce(sum(CASE WHEN tk.keep_t = ck.keep_c
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_keeper_match
       |  FROM tk JOIN ck USING (media_id))
       |SELECT (SELECT count(*) FROM truth) AS n_exact,
       |  (SELECT count(*) FROM cappd) AS n_capped,
       |  (SELECT count(*) FROM truth) - (SELECT count(*) FROM cappd)
       |    AS n_missed,
       |  coalesce(CAST((SELECT count(*) FROM cappd) AS DOUBLE)
       |    / nullif((SELECT count(*) FROM truth), 0), 1.0) AS recall,
       |  (SELECT CAST(coalesce(sum(CASE WHEN d > ${graft.multimodal.Multimodal.FRAME_DF_CAP}
       |      AND d <= ${graft.multimodal.Multimodal.FRAME_TRUTH_DF_CAP}
       |      THEN 1 ELSE 0 END), 0) AS BIGINT) FROM dfm) AS n_evicted_hashes,
       |  (SELECT CAST(coalesce(max(d), 0) AS BIGINT) FROM dfm) AS max_df,
       |  (SELECT n_media FROM km) AS n_media,
       |  (SELECT n_keeper_match FROM km) AS n_keeper_match,
       |  coalesce(CAST((SELECT n_keeper_match FROM km) AS DOUBLE)
       |    / nullif((SELECT n_media FROM km), 0), 1.0) AS keeper_agreement"""
      .stripMargin

  val all: Seq[Q] = Seq(

    Q("e1_tumbling_window",
      (s, dir) => Tables.eventsTs(s, dir)
        .groupBy(date_trunc("hour", col("ts")).cast("string").as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), roundAt(sum(dec2(col("value"))).cast("double"), 6).as("sum_value"))
        .orderBy("hour", "event_type"),
      Some(s"""SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour, event_type,
              |  count(*) AS n, ${roundAtSql(s"CAST(sum(${dec2Sql("value")}) AS DOUBLE)", 6)} AS sum_value
              |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("e2_sessionize",
      (s, dir) => {
        // gap-based sessionization (30-min inactivity): mark session
        // starts with lag, integrate to session ids, aggregate twice.
        val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val sessions = Tables.eventsTs(s, dir)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("new_sess",
            when(col("ts_us") - lag("ts_us", 1).over(byUser) > 30L * 60 * 1000000, 1)
              .otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"), (max("ts_us") - min("ts_us")).as("dur_us"))
        sessions.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum("n_events").as("n_events"),
            max("n_events").as("max_session_events"),
            max("dur_us").as("max_session_dur_us"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |m AS (
             |  SELECT user_id, event_id, ts_us,
             |    CASE WHEN ts_us - lag(ts_us) OVER w > 30 * 60 * 1000000 THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id,
             |    ts_us
             |  FROM m),
             |agg AS (
             |  SELECT user_id, sess_id, count(*) AS n_events,
             |    max(ts_us) - min(ts_us) AS dur_us
             |  FROM sess GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |  CAST(sum(n_events) AS BIGINT) AS n_events,
             |  max(n_events) AS max_session_events,
             |  max(dur_us) AS max_session_dur_us
             |FROM agg GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e12_interarrival_stats",
      (s, dir) => {
        // per-type inter-arrival gap profile (min/avg/max time between
        // consecutive events) — the ingest-health telemetry behind
        // "did source X stall": a max_gap spike IS the outage. One
        // lag window per event_type partition, then a map-side-
        // combinable aggregate; gaps are exact integer micros so only
        // the final avg divides. At 100 TB a per-type ordered window
        // funnels each type through one sort partition — there the
        // window swaps for (type, day)-bucketed lag with boundary
        // stitching (the e7 run-length pattern); type cardinality here
        // keeps the direct form honest.
        val byType = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
        Tables.eventsTs(s, dir)
          .select(col("event_type"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
          .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(byType))
          .filter(col("gap_us").isNotNull)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_gaps"),
            min("gap_us").as("min_gap_us"),
            max("gap_us").as("max_gap_us"),
            (sum("gap_us").cast("double") / count(lit(1))).as("avg_gap_us"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
             |  SELECT event_type, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |g AS (
             |  SELECT event_type,
             |    ts_us - lag(ts_us) OVER (PARTITION BY event_type ORDER BY ts_us, event_id) AS gap_us
             |  FROM e)
             |SELECT event_type, count(*) AS n_gaps,
             |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us,
             |  CAST(sum(gap_us) AS DOUBLE) / count(*) AS avg_gap_us
             |FROM g WHERE gap_us IS NOT NULL
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e14_sliding_window",
      (s, dir) => {
        // HOPPING/SLIDING window aggregation (1 h windows every 15 min)
        // through Spark's BUILT-IN `window()` operator — the API a user
        // migrating from the reference actually calls. e4 pins the
        // window-assignment ARITHMETIC (hand-derived explode, epoch
        // seconds); this pins that the engine's own windowing (the
        // internal Expand + struct window key, epoch-aligned slide
        // origin, rendered window.start) produces the identical
        // assignment — API-level parity on top of e4's math-level one,
        // with the per-type value rollup e4's count-only shape omits.
        // Each event lands in exactly windowDuration/slide = 4 windows
        // (a BOUNDED engine-internal explode), then one
        // map-side-combinable agg keyed by (window, type); at 100 TB the
        // shuffle is 4× the tumbling one, never quadratic.
        Tables.eventsTs(s, dir)
          .groupBy(window(col("ts"), "1 hour", "15 minutes"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), roundAt(sum(dec2(col("value"))).cast("double"), 6).as("sum_value"))
          .select(col("window.start").cast("string").as("win_start"),
            col("event_type"), col("n"), col("sum_value"))
          .orderBy("win_start", "event_type")
      },
      Some(s"""WITH e AS (
              |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_type, value
              |  FROM events),
              |x AS (
              |  SELECT make_timestamp(
              |      (ts_us // 900000000 - CAST(k AS BIGINT)) * 900000000) AS win_start,
              |    event_type, value
              |  FROM e, unnest([0, 1, 2, 3]) t(k))
              |SELECT CAST(win_start AS VARCHAR) AS win_start, event_type,
              |  count(*) AS n, ${roundAtSql(s"CAST(sum(${dec2Sql("value")}) AS DOUBLE)", 6)} AS sum_value
              |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("e15_session_window",
      (s, dir) => {
        // the BUILT-IN `session_window(ts, 30m)` operator — e2 pins
        // gap-sessionization via hand-rolled lag/prefix-sum arithmetic;
        // this pins the engine's own merging session operator (the
        // UpdatingSessions path) against a DuckDB twin of its DOCUMENTED
        // semantics: each event spans [ts, ts+gap), sessions merge on
        // OVERLAP, so a gap of exactly 30 min starts a NEW session
        // (>= in the twin — one fencepost STRICTER than e2's > rule,
        // which is e2's own self-consistent contract) and the session
        // end is last_ts + gap. Scale shape: one (user, session)-keyed
        // agg — Spark sorts within user partitions to merge, never
        // globally.
        Tables.eventsTs(s, dir)
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"))
          .select(col("session_window.start").cast("string").as("sess_start"),
            col("session_window.end").cast("string").as("sess_end"),
            col("user_id"), col("n_events"))
          .orderBy("user_id", "sess_start")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |m AS (
             |  SELECT user_id, ts_us, event_id,
             |    CASE WHEN ts_us - lag(ts_us) OVER w >= 1800000000
             |         THEN 1 ELSE 0 END AS new_sess
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |sess AS (
             |  SELECT user_id, ts_us,
             |    sum(new_sess) OVER (PARTITION BY user_id
             |      ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
             |  FROM m),
             |agg AS (
             |  SELECT user_id, sess_id, min(ts_us) AS start_us,
             |    max(ts_us) + 1800000000 AS end_us, count(*) AS n_events
             |  FROM sess GROUP BY 1, 2)
             |SELECT CAST(make_timestamp(start_us) AS VARCHAR) AS sess_start,
             |  CAST(make_timestamp(end_us) AS VARCHAR) AS sess_end,
             |  user_id, n_events
             |FROM agg ORDER BY user_id, sess_start""".stripMargin)),

    Q("e13_bounded_conversion",
      (s, dir) => {
        // TIME-BOUNDED funnel — e5 asks "did a click ever follow a
        // view"; the realistic attribution question is "within the
        // window" (here 1 h). Per view, conversion = any same-user
        // click in (view_ts, view_ts + 1h] — a user-keyed equi-join
        // with the interval as a RESIDUAL predicate (the j11 shape:
        // per-user event counts bound the pair volume, never a time
        // theta-join across users), LEFT SEMI so each view counts once
        // no matter how many clicks land in its window. Daily report:
        // views, converted views, rate (exact longs, one division).
        val ev = Tables.eventsTs(s, dir)
          .select(col("user_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"),
            to_date(col("ts")).cast("string").as("day"))
        val views = ev.filter(col("event_type") === "view")
          .select("user_id", "ts_us", "day")
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"))
        val converted = views.join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts") > col("ts_us") &&
              col("c_ts") <= col("ts_us") + lit(3600000000L),
            "left_semi")
          .groupBy("day").agg(count(lit(1)).as("n_conv"))
        views.groupBy("day").agg(count(lit(1)).as("n_views"))
          .join(converted, Seq("day"), "left")
          .select(col("day"), col("n_views"),
            coalesce(col("n_conv"), lit(0L)).as("n_conv"))
          .withColumn("rate", col("n_conv").cast("double") / col("n_views"))
          .orderBy("day")
      },
      Some("""WITH v AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             |    CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day
             |  FROM events WHERE event_type = 'view'),
             |c AS (
             |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
             |  FROM events WHERE event_type = 'click'),
             |d AS (
             |  SELECT CAST(day AS VARCHAR) AS day, count(*) AS n_views,
             |    CAST(sum(CASE WHEN EXISTS (
             |      SELECT 1 FROM c WHERE c.user_id = v.user_id
             |        AND c.ts_us > v.ts_us
             |        AND c.ts_us <= v.ts_us + 3600000000) THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
             |  FROM v GROUP BY 1)
             |SELECT day, n_views, n_conv,
             |  CAST(n_conv AS DOUBLE) / n_views AS rate
             |FROM d ORDER BY day""".stripMargin)),

    Q("e3_json_props",
      (s, dir) => Tables.eventsTs(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"),
          sum("k").as("sum_k"), count(when(col("k").isNull, 1)).as("null_k"))
        .orderBy("event_type"),
      Some("""WITH e AS (
             |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |  FROM events)
             |SELECT event_type, count(*) AS n, min(k) AS min_k, max(k) AS max_k,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  count(CASE WHEN k IS NULL THEN 1 END) AS null_k
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e10_variant_extract",
      (s, dir) => Tables.eventsTs(s, dir)
        // the Spark-4-native semi-structured path: props parsed ONCE into
        // a binary VariantType value (shredded, no re-tokenizing per
        // field), then typed variant_get extractions. Same answers as
        // e3's per-field get_json_object, but at 100 TB the parse
        // happens once per row instead of once per extracted field, and
        // a variant column can be stored shredded in parquet so the scan
        // prunes into the semi-structured payload itself.
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'long')").as("k"),
          expr("schema_of_variant(v)").as("vschema"))
        .groupBy("event_type", "vschema")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          count(when(col("k") % 2 === 1, 1)).as("n_odd"))
        .orderBy("event_type", "vschema"),
      Some("""WITH e AS (
             |  SELECT event_type,
             |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
             |  FROM events)
             |SELECT event_type, 'OBJECT<k: BIGINT>' AS vschema, count(*) AS n,
             |  CAST(sum(k) AS BIGINT) AS sum_k,
             |  count(CASE WHEN k % 2 = 1 THEN 1 END) AS n_odd
             |FROM e GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("e5_funnel_stages",
      (s, dir) => {
        // ordered funnel (view → click → purchase): each stage's
        // timestamp is the min event time strictly after the previous
        // stage — the staged-min formulation keeps everything as
        // per-user aggregations + dimension-sized joins (no per-user
        // sequence materialization, no UDF pattern matching), which is
        // the shape that survives a 100 TB event log: three filtered
        // partial-agg passes and two joins on the user key.
        val ev = Tables.eventsTs(s, dir)
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("ts_us"))
        val s1 = ev.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts_us").as("t_view"))
        val s2 = ev.filter(col("event_type") === "click").join(s1, Seq("user_id"))
          .filter(col("ts_us") > col("t_view"))
          .groupBy("user_id").agg(min("ts_us").as("t_click"))
        val s3 = ev.filter(col("event_type") === "purchase").join(s2, Seq("user_id"))
          .filter(col("ts_us") > col("t_click"))
          .groupBy("user_id").agg(min("ts_us").as("t_purchase"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .withColumn("converted", col("t_purchase").isNotNull)
          .select("user_id", "t_view", "t_click", "t_purchase", "converted")
          .orderBy("user_id")
      },
      Some("""WITH ev AS (
             |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |s1 AS (
             |  SELECT user_id, min(ts_us) AS t_view FROM ev
             |  WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (
             |  SELECT ev.user_id, min(ts_us) AS t_click
             |  FROM ev JOIN s1 ON s1.user_id = ev.user_id
             |  WHERE ev.event_type = 'click' AND ev.ts_us > s1.t_view GROUP BY 1),
             |s3 AS (
             |  SELECT ev.user_id, min(ts_us) AS t_purchase
             |  FROM ev JOIN s2 ON s2.user_id = ev.user_id
             |  WHERE ev.event_type = 'purchase' AND ev.ts_us > s2.t_click GROUP BY 1)
             |SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
             |  s3.t_purchase IS NOT NULL AS converted
             |FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
             |        LEFT JOIN s3 ON s3.user_id = s1.user_id
             |ORDER BY s1.user_id""".stripMargin)),

    Q("e6_retention_cohort",
      (s, dir) => {
        // cohort retention matrix: users cohorted by first-seen day,
        // retention = distinct active users at each day offset over the
        // cohort's size. Plan shape at scale: one user-key partial agg
        // for the cohort assignment, one distinct over (user, day) —
        // both map-side combinable — then a join on the user key and a
        // (cohort, offset) rollup; the cohort-size table is
        // calendar-sized, so the planner broadcasts it on its own. No
        // per-user sequence materialization.
        val ev = Tables.eventsTs(s, dir)
          .select(col("user_id"), to_date(col("ts")).as("day"))
        val cohorts = ev.groupBy("user_id").agg(min("day").as("cohort_day"))
        val sizes = cohorts.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
        ev.distinct()
          .join(cohorts, Seq("user_id"))
          .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
          .groupBy("cohort_day", "day_offset")
          .agg(countDistinct("user_id").as("n_active"))
          .join(sizes, Seq("cohort_day"))
          .withColumn("retention",
            roundAt(col("n_active").cast("double") / col("cohort_size"), 6))
          .select(col("cohort_day").cast("string").as("cohort_day"),
            col("day_offset"), col("n_active"), col("cohort_size"), col("retention"))
          .orderBy("cohort_day", "day_offset")
      },
      Some(s"""WITH ev AS (
              |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
              |coh AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1),
              |sizes AS (SELECT cohort_day, count(*) AS cohort_size FROM coh GROUP BY 1),
              |act AS (SELECT DISTINCT user_id, day FROM ev),
              |ret AS (
              |  SELECT c.cohort_day, date_diff('day', c.cohort_day, a.day) AS day_offset,
              |    count(DISTINCT a.user_id) AS n_active
              |  FROM act a JOIN coh c ON c.user_id = a.user_id GROUP BY 1, 2)
              |SELECT CAST(ret.cohort_day AS VARCHAR) AS cohort_day, day_offset, n_active,
              |  sizes.cohort_size,
              |  ${roundAtSql("CAST(n_active AS DOUBLE) / cohort_size", 6)} AS retention
              |FROM ret JOIN sizes ON sizes.cohort_day = ret.cohort_day
              |ORDER BY 1, 2""".stripMargin)),

    Q("e7_scd2_intervals",
      (s, dir) => {
        // SCD-2 dimension build from a change stream: collapse each
        // user's consecutive same-state observations (event_type as the
        // tracked attribute) into validity intervals —
        // [valid_from, valid_to), open-ended for the current state.
        // The run-length encoding is the e2 shape (lag marks changes,
        // running sum numbers the runs): one shuffle on the user key,
        // then narrow window functions inside each partition — the
        // warehouse-standard way to derive a type-2 dimension from CDC
        // events without any driver-side iteration.
        val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
        val runs = Tables.eventsTs(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"))
          .withColumn("chg",
            when(lag("event_type", 1).over(byUser).isNull ||
              col("event_type") =!= lag("event_type", 1).over(byUser), 1).otherwise(0))
          .withColumn("seg", sum("chg").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)).cast("long"))
          .groupBy(col("user_id"), col("seg"), col("event_type").as("state"))
          .agg(min("ts_us").as("valid_from_us"), count(lit(1)).as("n_obs"))
        // order by the strictly-increasing seg, not valid_from_us: two
        // different-state events at the same timestamp would tie on
        // valid_from_us and make valid_to_us nondeterministic (advisor r3)
        val bySeg = Window.partitionBy("user_id").orderBy("seg")
        runs
          .withColumn("valid_to_us", lead("valid_from_us", 1).over(bySeg))
          .select("user_id", "seg", "state", "valid_from_us", "valid_to_us", "n_obs")
          .orderBy("user_id", "seg")
      },
      Some("""WITH e AS (
             |  SELECT user_id, event_id, event_type,
             |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
             |m AS (
             |  SELECT user_id, event_id, event_type, ts_us,
             |    CASE WHEN lag(event_type) OVER w IS NULL
             |           OR event_type <> lag(event_type) OVER w THEN 1 ELSE 0 END AS chg
             |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
             |r AS (
             |  SELECT user_id, event_type, ts_us,
             |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS seg
             |  FROM m),
             |runs AS (
             |  SELECT user_id, seg, event_type AS state,
             |    min(ts_us) AS valid_from_us, count(*) AS n_obs
             |  FROM r GROUP BY 1, 2, 3)
             |SELECT user_id, seg, state, valid_from_us,
             |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY seg) AS valid_to_us,
             |  n_obs
             |FROM runs ORDER BY user_id, seg""".stripMargin)),

    Q("e8_attribution",
      (s, dir) => {
        // first-/last-touch attribution per user — the event-stream
        // rollup behind marketing/source attribution: which event type
        // opened the user's history and which closed it, plus volume
        // and value. One map-side-combinable groupBy on the user key:
        // first/last are min/max over a (ts, event_id, type) struct
        // (lexicographic struct ordering; event_id breaks ts ties), so
        // there is NO window, no sort, no second shuffle — the shape
        // that survives a 100 TB event log.
        Tables.eventsTs(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("ts_us"), col("value"))
          .groupBy("user_id")
          .agg(
            min(struct(col("ts_us"), col("event_id"), col("event_type")))
              .getField("event_type").as("first_touch"),
            max(struct(col("ts_us"), col("event_id"), col("event_type")))
              .getField("event_type").as("last_touch"),
            count(lit(1)).as("n_events"),
            roundAt(sum(dec2(col("value"))).cast("double"), 6).as("total_value"))
          .orderBy("user_id")
      },
      Some(s"""WITH e AS (
              |  SELECT user_id, event_id, event_type,
              |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value FROM events),
              |f AS (
              |  SELECT user_id, event_type, ROW_NUMBER() OVER (
              |    PARTITION BY user_id ORDER BY ts_us, event_id) AS rn FROM e),
              |l AS (
              |  SELECT user_id, event_type, ROW_NUMBER() OVER (
              |    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn FROM e),
              |a AS (
              |  SELECT user_id, count(*) AS n_events,
              |    ${roundAtSql(s"CAST(sum(${dec2Sql("value")}) AS DOUBLE)", 6)} AS total_value
              |  FROM e GROUP BY 1)
              |SELECT a.user_id, f.event_type AS first_touch,
              |  l.event_type AS last_touch, a.n_events, a.total_value
              |FROM a JOIN f ON f.user_id = a.user_id AND f.rn = 1
              |JOIN l ON l.user_id = a.user_id AND l.rn = 1
              |ORDER BY a.user_id""".stripMargin)),

    Q("e11_gap_fill",
      (s, dir) => {
        // time-series resample + linear interpolation — the gap-filling
        // pass every per-entity daily rollup needs before modeling:
        // densify each user's purchase series to a complete daily grid
        // (their own [first, last] span) and fill missing days by linear
        // interpolation between the bracketing observations. Grid
        // generation is a per-user sequence() explode off a 2-column
        // bounds aggregate (never a calendar × users cartesian); the
        // bracketing values come from 4 IGNORE-NULLS running first/last
        // windows — all partitioned by user, so a 100 TB event table
        // fans out by entity and no partition sees more than one user's
        // days. Interpolation arithmetic order is pinned (mul before
        // div) for cross-engine float identity; grid edges are always
        // observed (bounds come FROM the observations) so no
        // extrapolation case exists.
        val daily = Tables.eventsTs(s, dir)
          .filter(col("event_type") === "purchase")
          .groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(roundAt(sum(dec2(col("value"))).cast("double"), 4).as("v"))
        val grid = daily.groupBy("user_id")
          .agg(min("day").as("d0"), max("day").as("d1"))
          .select(col("user_id"),
            explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val wPrev = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, 0)
        val wNext = Window.partitionBy("user_id").orderBy("day")
          .rowsBetween(0, Window.unboundedFollowing)
        grid.join(daily, Seq("user_id", "day"), "left")
          .withColumn("prev_v", last("v", ignoreNulls = true).over(wPrev))
          .withColumn("prev_d",
            last(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wPrev))
          .withColumn("next_v", first("v", ignoreNulls = true).over(wNext))
          .withColumn("next_d",
            first(when(col("v").isNotNull, col("day")), ignoreNulls = true).over(wNext))
          .withColumn("filled", roundAt(
            when(col("v").isNotNull, col("v")).otherwise(
              col("prev_v") + (col("next_v") - col("prev_v")) *
                datediff(col("day"), col("prev_d")) /
                datediff(col("next_d"), col("prev_d"))), 4))
          .withColumn("is_interp", col("v").isNull)
          .select(col("user_id"), col("day").cast("string").as("day"),
            col("filled"), col("is_interp"))
          .orderBy("user_id", "day")
      },
      Some(s"""WITH daily AS (
              |  SELECT user_id, CAST(ts AS DATE) AS day,
              |    ${roundAtSql(s"CAST(sum(${dec2Sql("value")}) AS DOUBLE)", 4)} AS v
              |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
              |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
              |grid AS (
              |  SELECT user_id,
              |    CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
              |  FROM bounds),
              |j AS (
              |  SELECT g.user_id, g.day, d.v FROM grid g
              |  LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day),
              |w AS (
              |  SELECT user_id, day, v,
              |    last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
              |    last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              |      OVER (PARTITION BY user_id ORDER BY day
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_d,
              |    first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
              |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
              |    first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS)
              |      OVER (PARTITION BY user_id ORDER BY day
              |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_d
              |  FROM j)
              |SELECT user_id, CAST(day AS VARCHAR) AS day,
              |  ${roundAtSql("CASE WHEN v IS NOT NULL THEN v ELSE prev_v + (next_v - prev_v) * (day - prev_d) / (next_d - prev_d) END", 4)} AS filled,
              |  v IS NULL AS is_interp
              |FROM w ORDER BY 1, 2""".stripMargin)),

    Q("e9_daily_anomaly",
      (s, dir) => {
        // pipeline monitoring: per-(event_type, day) volumes scored as
        // z-scores against the type's own daily history; |z| ≥ 2 rows
        // are the anomaly report. The shape every ingest pipeline runs
        // nightly over its ops metastore: two tiny aggregations (daily
        // counts → per-type moments), one broadcast-sized join back.
        // Cross-engine float contract: mu and sigma are rounded at 6 dp
        // BEFORE z is computed (the two engines' variance accumulation
        // orders differ below that), and sigma = 0 series are excluded
        // (z undefined).
        val daily = Tables.eventsTs(s, dir)
          .select(col("event_type"), to_date(col("ts")).as("day"))
          .groupBy("event_type", "day").agg(count(lit(1)).as("n"))
        // r12 float-sum audit: day counts are exact longs, so Σn and Σn²
        // are exact integer/decimal sums (n² via decimal so a 100 TB
        // day-count cannot overflow a long) and mu/sigma derive from
        // them in the SAME expression order as the streaming twin
        // (StreamingOps.dailyAnomalyStream) and the DuckDB oracle —
        // the old stddev_samp pin held only empirically at 6 dp.
        val n19 = col("n").cast("decimal(19,0)")
        val stats = daily.groupBy("event_type")
          .agg(count(lit(1)).cast("double").as("nd"),
            sum("n").cast("double").as("s1"),
            sum(n19 * n19).cast("double").as("s2"))
          .select(col("event_type"),
            roundAt(col("s1") / col("nd"), 6).as("mu"),
            // nd = 1 makes the sample-variance quotient 0/0 = NaN and the
            // engines then DISAGREE (Spark's floor-based roundAt maps NaN
            // to 0 so the filter drops the group; DuckDB propagates NaN
            // and NaN > 0 is true there, keeping it) — guard the
            // single-day type explicitly so both engines drop it.
            when(col("nd") > 1, roundAt(sqrt(greatest(
              (col("s2") - col("s1") * col("s1") / col("nd"))
                / (col("nd") - lit(1.0)), lit(0.0))), 6))
              .otherwise(lit(0.0)).as("sigma"))
          .filter(col("sigma") > 0)
        daily.join(stats, Seq("event_type"))
          .withColumn("z", roundAt((col("n") - col("mu")) / col("sigma"), 6))
          .filter(abs(col("z")) >= 2.0)
          .select(col("event_type"), col("day").cast("string").as("day"),
            col("n"), col("mu"), col("sigma"), col("z"))
          .orderBy("event_type", "day")
      },
      Some(s"""WITH daily AS (
              |  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n
              |  FROM events GROUP BY 1, 2),
              |st AS (
              |  SELECT event_type, CAST(count(*) AS DOUBLE) AS nd,
              |    CAST(sum(n) AS DOUBLE) AS s1,
              |    CAST(sum(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))) AS DOUBLE) AS s2
              |  FROM daily GROUP BY 1),
              |stats AS (
              |  SELECT event_type, ${roundAtSql("s1 / nd", 6)} AS mu,
              |    ${roundAtSql("sqrt(greatest((s2 - s1 * s1 / nd) / (nd - 1.0), 0.0))", 6)} AS sigma
              |  FROM st
              |  WHERE nd > 1
              |    AND ${roundAtSql("sqrt(greatest((s2 - s1 * s1 / nd) / (nd - 1.0), 0.0))", 6)} > 0)
              |SELECT daily.event_type, CAST(day AS VARCHAR) AS day, n, mu, sigma,
              |  ${roundAtSql("(n - mu) / sigma", 6)} AS z
              |FROM daily JOIN stats ON stats.event_type = daily.event_type
              |WHERE abs(${roundAtSql("(n - mu) / sigma", 6)}) >= 2.0
              |ORDER BY 1, 2""".stripMargin)),

    Q("m1_binary_plumbing",
      (s, dir) => {
        // multimodal plumbing shape: opaque binary payload + typed
        // metadata; digest + size are the engine-side ops (decode is a
        // library concern — see graft.multimodal).
        Tables.documents(s, dir)
          .withColumn("payload", col("text").cast("binary"))
          .select(col("doc_id"),
            length(col("payload")).cast("long").as("n_bytes"),
            sha2(col("payload"), 256).as("sha256"),
            substring(base64(col("payload")), 1, 16).as("b64_prefix"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
             |  sha256(text) AS sha256,
             |  substr(to_base64(CAST(text AS BLOB)), 1, 16) AS b64_prefix
             |FROM documents ORDER BY doc_id""".stripMargin)),

    Q("m2_media_features",
      (s, dir) => {
        // the multimodal DECODE+FEATURIZE path under the oracle: run the
        // real partition-wise pipeline (graft.multimodal.extractFeatures
        // — one codec session per partition, mapPartitions, typed
        // Dataset out) over the documents-as-media adapter, and verify
        // every value cross-engine. The fake codec is deterministic
        // (payload = ASCII text bytes), so byte statistics, the
        // 8×8-resize dimensions, and the every-4th frame-sample count
        // are all exactly reproducible in SQL: mean byte and Shannon
        // entropy from the per-char histogram, n_frames =
        // ceil(ceil(len/256)/4) for the 32×8 frame geometry.
        import graft.multimodal.Multimodal
        val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
        Multimodal.extractFeatures(media).toDF()
          .select(col("media_id"), col("n_bytes"),
            roundAt(col("mean_byte"), 6).as("mean_byte"),
            roundAt(col("byte_entropy"), 6).as("byte_entropy"),
            col("width"), col("height"),
            col("n_frames_sampled").cast("long").as("n_frames"))
          .orderBy("media_id")
      },
      Some(s"""WITH chars AS (
              |  SELECT doc_id,
              |    unnest([ascii(substr(text, i, 1)) for i in range(1, length(text) + 1)]) AS b
              |  FROM documents),
              |hist AS (
              |  SELECT doc_id, b, count(*) AS c FROM chars GROUP BY 1, 2),
              |totals AS (SELECT doc_id, sum(c) AS n FROM hist GROUP BY 1),
              |stats AS (
              |  SELECT h.doc_id,
              |    sum(h.b * h.c) * 1.0 / max(t.n) AS mean_b,
              |    -sum((h.c * 1.0 / t.n) * ln(h.c * 1.0 / t.n) / ln(2)) AS ent
              |  FROM hist h JOIN totals t ON h.doc_id = t.doc_id
              |  GROUP BY h.doc_id)
              |SELECT d.doc_id AS media_id,
              |  CAST(length(d.text) AS BIGINT) AS n_bytes,
              |  coalesce(${roundAtSql("s.mean_b", 6)}, 0.0) AS mean_byte,
              |  coalesce(${roundAtSql("s.ent", 6)}, 0.0) AS byte_entropy,
              |  8 AS width, 8 AS height,
              |  CAST(ceil(ceil(length(d.text) / 256.0) / 4.0) AS BIGINT) AS n_frames
              |FROM documents d LEFT JOIN stats s ON d.doc_id = s.doc_id
              |WHERE d.text IS NOT NULL
              |ORDER BY 1""".stripMargin)),
              // WHERE text IS NOT NULL mirrors mediaFromDocuments' explicit
              // null-payload drop (an undecodable row never enters the codec
              // pipeline); the LEFT JOIN stays for EMPTY text, whose row
              // survives with zero stats (r13 degencheck find #3). A
              // null-text document row lives in degencheck's battery so a
              // drift here hash-fails rather than lingering (r13 ADVICE).

    Q("m3_video_frame_dedup",
      (s, dir) => {
        // VIDEO near-dup via shared frame hashes (r10) -- the sequence
        // analog of x34: sample every 4th decoded frame per media
        // (partition-wise codec session), aHash-48 each frame with the
        // same integer arithmetic, and call two videos near-dups when
        // they share >= 2 identical sampled-frame hashes (clipped /
        // re-encoded / re-stitched copies keep most frames bit-stable
        // under the hash; a whole-payload hash washes the overlap out).
        // Non-discriminative frames -- hashes carried by > 64 media,
        // the black-frame / intro-card population -- are dropped from
        // the EVIDENCE set before pairing (the STRICT rule), so the
        // pair join is <= 64^2 rows per hash, never df^2 on a
        // boilerplate frame. Since r15 the ingest loop and index layout
        // use the BOUNDED rule instead (m6 -- m5 measured this strict
        // rule's recall decaying with corpus size); m3 stays the strict
        // rule's batch definition, m5/m7 price the two continuously.
        // Plan shape: one shuffle keyed by
        // frame hash + map-side-combinable aggs; output is media-sized
        // (partner count + min-id keeper). The DuckDB twin recomputes
        // frame slicing / decode / resize / hash arithmetically from
        // the payload bytes and brute-forces the pair join -- a frame
        // geometry or hash divergence hash-mismatches per run.
        import graft.multimodal.Multimodal
        // finer 32x2 frame geometry (64-byte frames, every 2nd sampled)
        // than m2's 32x8 -- shipped docs are 48-553 chars, so 256-byte
        // frames left at most one sampled frame per media and the
        // shared-frame rule could never fire
        val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir),
          width = 32, height = 2)
        val fh = Multimodal.frameHashes(media, everyN = Multimodal.FRAME_EVERY_N)
        val byHash = fh.groupBy("fhash48")
          .agg(countDistinct("media_id").as("dfm"))
        val ev = fh.select("media_id", "fhash48").distinct()
          .join(byHash.filter(col("dfm") <= Multimodal.FRAME_DF_CAP), Seq("fhash48"))
          .select("media_id", "fhash48")
        val pairs = ev.as("a").join(ev.as("b"),
            col("a.fhash48") === col("b.fhash48") &&
            col("a.media_id") =!= col("b.media_id"))
          .groupBy(col("a.media_id").as("media_id"), col("b.media_id").as("nbr"))
          .agg(count(lit(1)).as("shared"))
          .filter(col("shared") >= 2)
        val agg = pairs.groupBy("media_id")
          .agg(count(lit(1)).as("n_partners"), min("nbr").as("min_nbr"))
        val nf = fh.groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        media.toDF().select("media_id")
          .join(nf, Seq("media_id"), "left")
          .join(agg, Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("n_frames"), lit(0L)).as("n_frames"),
            coalesce(col("n_partners"), lit(0L)).as("n_partners"),
            coalesce(least(col("media_id"), col("min_nbr")), col("media_id")).as("keep_id"))
          .orderBy("media_id")
      },
      // frame k (sampled ordinal) = payload bytes [2k*64, 2k*64+64);
      // per frame the decode/resize/hash arithmetic is x34's, with the
      // frame's OWN length and row count
      Some(s"""WITH $frameHashCtesSql,
             |dfm AS (SELECT fhash, count(DISTINCT media_id) AS d FROM hsh GROUP BY 1),
             |ev AS (
             |  SELECT DISTINCT media_id, fhash FROM hsh JOIN dfm USING (fhash)
             |  WHERE d <= 64),
             |p AS (
             |  SELECT a.media_id AS media_id, b.media_id AS nbr, count(*) AS shared
             |  FROM ev a JOIN ev b ON a.fhash = b.fhash AND a.media_id <> b.media_id
             |  GROUP BY 1, 2 HAVING count(*) >= 2),
             |agg AS (
             |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_partners,
             |    min(nbr) AS min_nbr
             |  FROM p GROUP BY 1),
             |nf AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames
             |       FROM hsh GROUP BY 1)
             |SELECT d.media_id,
             |  coalesce(nf.n_frames, 0) AS n_frames,
             |  coalesce(agg.n_partners, 0) AS n_partners,
             |  CAST(coalesce(least(d.media_id, agg.min_nbr), d.media_id) AS BIGINT) AS keep_id
             |FROM docs0 d
             |LEFT JOIN nf USING (media_id)
             |LEFT JOIN agg USING (media_id)
             |ORDER BY media_id""".stripMargin)),

    Q("m4_audio_envelope_dedup",
      (s, dir) => {
        // AUDIO near-dup via the windowed energy-envelope hash (r11 --
        // the third modality next to image x34 and video m3): each
        // payload's 48 equal-share windows quantize to one bit each
        // (window mean beats payload mean, integer cross-multiply --
        // arithmetic at Multimodal.envelopeBits), then hamming-<=3
        // neighborhoods ride the SAME capped pigeonhole engine as
        // x31/x34 -- identical fingerprints collapse before any pair
        // join (the silence/constant-tone population, audio's analog of
        // near-black frames), distinct fingerprints block-join with
        // hot-bucket salting. Output is media-sized; the DuckDB oracle
        // recomputes every window sum arithmetically from the payload
        // bytes and brute-forces all pairs, so the blocking's
        // losslessness is re-proven each correctness run.
        import graft.multimodal.Multimodal
        val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir))
        val h = Multimodal.audioEnvelopeHash(media)
        val nbrs = DedupQueries.pigeonhole48Neighbors(h, "media_id", "ehash48")
        h.join(nbrs, Seq("media_id"), "left")
          .select(col("media_id"), col("ehash48"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            coalesce(least(col("media_id"), col("min_nbr")), col("media_id")).as("keep_id"))
          .orderBy("media_id")
      },
      // window s of len covers 0-based byte positions
      // [(s*len)//48, ((s+1)*len)//48); bit iff the window is non-empty
      // and si*len > tot*ni (integer cross-multiplied means, exactly
      // the Scala kernel's compare); payloads are the ASCII text bytes
      Some("""WITH d AS (
             |  SELECT doc_id AS media_id, text, length(text) AS len
             |  FROM documents WHERE text IS NOT NULL),
             |chars AS (
             |  SELECT media_id, i - 1 AS p, ascii(substr(text, CAST(i AS INT), 1)) AS u
             |  FROM d, unnest(range(1, len + 1)) t(i)),
             |tot AS (
             |  SELECT d.media_id, coalesce(sum(c.u), 0) AS su
             |  FROM d LEFT JOIN chars c USING (media_id) GROUP BY 1),
             |seg AS (
             |  SELECT media_id, len, w,
             |    (w * len) // 48 AS lo, ((w + 1) * len) // 48 AS hi
             |  FROM d, unnest(range(0, 48)) t(w)),
             |segsum AS (
             |  SELECT seg.media_id, seg.w, seg.len, seg.hi - seg.lo AS ni,
             |    coalesce(sum(c.u), 0) AS si
             |  FROM seg LEFT JOIN chars c
             |    ON c.media_id = seg.media_id AND c.p >= seg.lo AND c.p < seg.hi
             |  GROUP BY 1, 2, 3, seg.hi - seg.lo),
             |hsh AS (
             |  SELECT ss.media_id,
             |    CAST(coalesce(sum(CASE WHEN ss.ni > 0 AND ss.si * ss.len > t.su * ss.ni
             |      THEN (CAST(1 AS BIGINT) << (47 - CAST(ss.w AS INT))) END), 0) AS BIGINT) AS ehash48
             |  FROM segsum ss JOIN tot t USING (media_id)
             |  GROUP BY 1),
             |p AS (
             |  SELECT a.media_id AS media_id, b.media_id AS nbr
             |  FROM hsh a JOIN hsh b ON a.media_id <> b.media_id
             |  WHERE bit_count(xor(a.ehash48, b.ehash48)) <= 3)
             |SELECT h.media_id, h.ehash48,
             |  CAST(coalesce(nb.n_near, 0) AS BIGINT) AS n_near,
             |  CAST(coalesce(least(h.media_id, nb.min_nbr), h.media_id) AS BIGINT) AS keep_id
             |FROM hsh h LEFT JOIN (
             |  SELECT media_id, count(*) AS n_near, min(nbr) AS min_nbr
             |  FROM p GROUP BY 1) nb USING (media_id)
             |ORDER BY media_id""".stripMargin)),

    Q("m5_frame_recall_report",
      (s, dir) => frameRecallReport(s, dir, m5SamplePct),
      // x32's twin for the frame-hash path (see frameRecallReport's
      // scaladoc): both pair pipelines and the df pass are recomputed
      // arithmetically from the payload bytes here, so the recall
      // number itself is cross-engine-verified every correctness run
      Some(s"""WITH $frameHashCtesSql,
              |$frameSetDfCtesSql,
              |samp AS (
              |  SELECT media_id, fhash FROM hset
              |  WHERE ${m5BucketGateSql(m5SamplePct)}),
              |sampids AS (SELECT DISTINCT media_id FROM samp),
              |$frameTruthCteSql,
              |cappd AS (
              |  SELECT a.media_id AS doc_a, b.media_id AS doc_b
              |  FROM (SELECT s2.* FROM samp s2 JOIN dfm USING (fhash)
              |        WHERE d <= ${graft.multimodal.Multimodal.FRAME_DF_CAP}) a
              |  JOIN (SELECT s2.* FROM samp s2 JOIN dfm USING (fhash)
              |        WHERE d <= ${graft.multimodal.Multimodal.FRAME_DF_CAP}) b
              |    ON a.fhash = b.fhash AND a.media_id < b.media_id
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |$frameReportTailSql""".stripMargin)),

    Q("m6_frame_dedup_bounded",
      (s, dir) => {
        // m3's dedup under the REPRESENTATIVE-BOUNDED evidence rule —
        // since r16 EXACTLY the production ingest loop's in-batch rule,
        // via the shared helpers ([[graft.multimodal.Multimodal
        // .repCandidatePairs]]/`verifySetPairs`): candidates = rep ×
        // evidence pairs sharing ONE hash where the lower id is a
        // representative (per-hash fan-out ≤ cap·df, never df²; hot
        // hashes salted), verified by the FULL truth-capped
        // set-intersect ≥ 2 — so shared evidence through
        // non-representative hashes counts, closing the residual
        // recall loss the r15 ≥2-rep-matched form left (a pair whose
        // evidence spans hashes with different rep sets). Popular
        // clusters stay connected through their min-id members; only
        // true boilerplate past the 64×-cap bound is dropped entirely.
        // Output shape is m3's (n_frames, n_partners, keep_id);
        // n_partners stays bounded (candidates need a rep endpoint),
        // keep_id matches the unbounded keeper wherever the cluster
        // minimum shares a hash.
        import graft.multimodal.Multimodal
        val media = Multimodal.mediaFromDocuments(s, Tables.documents(s, dir),
          width = 32, height = 2)
        // cached raw: feeds the distinct evidence frame AND the
        // per-media frame count; released by the clearCache contract
        val fh0 = Multimodal.frameHashes(media,
          everyN = Multimodal.FRAME_EVERY_N).cache()
        val fh = fh0.select("media_id", "fhash48").distinct()
        val dfm = fh.groupBy("fhash48").agg(count(lit(1)).as("dfm"))
        val ev = Multimodal.truthEvidence(fh, dfm, Multimodal.FRAME_TRUTH_DF_CAP)
        val rep = Multimodal.electReps(ev)
        val sets = ev.groupBy("media_id").agg(collect_set("fhash48").as("fhs"))
        // cached: the two union branches of the partner agg would each
        // re-run the whole candidate+verify subtree (the sf3 profile
        // showed the duplicated stage pair verbatim — exchange reuse
        // does not unify them across the self-join aliases); released
        // by the clearCache contract
        val pairs = Multimodal.verifySetPairs(
            Multimodal.repCandidatePairs(rep, ev, dfm), sets, minShared = 2)
          .select(col("doc_a").as("ma"), col("doc_b").as("mb")).cache()
        val agg = pairs.select(col("ma").as("media_id"), col("mb").as("nbr"))
          .union(pairs.select(col("mb").as("media_id"), col("ma").as("nbr")))
          .groupBy("media_id")
          .agg(count(lit(1)).as("n_partners"), min("nbr").as("min_nbr"))
        val nf = fh0.groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        media.toDF().select("media_id")
          .join(nf, Seq("media_id"), "left")
          .join(agg, Seq("media_id"), "left")
          .select(col("media_id"),
            coalesce(col("n_frames"), lit(0L)).as("n_frames"),
            coalesce(col("n_partners"), lit(0L)).as("n_partners"),
            coalesce(least(col("media_id"), col("min_nbr")), col("media_id"))
              .as("keep_id"))
          .orderBy("media_id")
      },
      Some(s"""WITH $frameHashCtesSql,
              |$frameSetDfCtesSql,
              |$repEvidenceCtesSql,
              |$boundedVerifySql,
              |d2 AS (SELECT ma AS media_id, mb AS nbr FROM p
              |       UNION ALL SELECT mb, ma FROM p),
              |agg AS (
              |  SELECT media_id, CAST(count(*) AS BIGINT) AS n_partners,
              |    min(nbr) AS min_nbr FROM d2 GROUP BY 1),
              |nf AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames
              |       FROM hsh GROUP BY 1)
              |SELECT d.media_id,
              |  coalesce(nf.n_frames, 0) AS n_frames,
              |  coalesce(agg.n_partners, 0) AS n_partners,
              |  CAST(coalesce(least(d.media_id, agg.min_nbr), d.media_id) AS BIGINT) AS keep_id
              |FROM docs0 d
              |LEFT JOIN nf USING (media_id)
              |LEFT JOIN agg USING (media_id)
              |ORDER BY media_id""".stripMargin)),

    Q("m7_bounded_recall_report",
      (s, dir) => frameRecallReport(s, dir, m5SamplePct, boundedRule = true),
      // m5's report with m6's rule — since r16 EXACTLY the production
      // ingest rule (one rep-shared candidate hash + full truth-capped
      // set-intersect ≥ 2) — on the candidate side: same truth, same
      // sample gate, same columns, so recall(m7) − recall(m5) IS the
      // bounded rule's measured gain and m7 prices the rule the loop
      // actually runs, not a lower bound (r15 ADVICE). Reps stay
      // corpus-scope before the endpoint restriction (as in production);
      // a sampled pair whose reps fall outside the sample is counted as
      // missed, so the sampled number never overstates the rule.
      Some(s"""WITH $frameHashCtesSql,
              |$frameSetDfCtesSql,
              |$repEvidenceCtesSql,
              |samp AS (
              |  SELECT media_id, fhash FROM hset
              |  WHERE ${m5BucketGateSql(m5SamplePct)}),
              |sampids AS (SELECT DISTINCT media_id FROM samp),
              |$frameTruthCteSql,
              |scand AS (
              |  SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
              |  FROM (SELECT r.* FROM rep r JOIN sampids USING (media_id)) a
              |  JOIN (SELECT e.* FROM ev e JOIN sampids USING (media_id)) b
              |    ON a.fhash = b.fhash AND a.media_id < b.media_id),
              |cappd AS (
              |  SELECT c.ma AS doc_a, c.mb AS doc_b FROM scand c
              |  JOIN ev ea ON ea.media_id = c.ma
              |  JOIN ev eb ON eb.media_id = c.mb AND eb.fhash = ea.fhash
              |  GROUP BY 1, 2 HAVING count(*) >= 2),
              |$frameReportTailSql""".stripMargin)),
  )

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
