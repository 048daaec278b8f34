package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Tables}
import graft.functions.MoneyFunctions._

/** Dataset-assembly operators for a training-data pipeline: deterministic
  * train/val/test splitting, stratified sampling, and TF-IDF term scoring
  * over the `documents` table.
  *
  * Splits and samples are CONTENT-ADDRESSED (an md5-derived bucket of the
  * doc id), not RNG-based: the same document lands in the same split on
  * every run, on any cluster, from either engine — the property that
  * makes dataset assembly reproducible and incremental (new data never
  * reshuffles old assignments). Each is a narrow per-row map — no
  * shuffle at all for y1/y2; y3 shuffles once on the term key.
  */
object SamplingQueries {
  import RelationalQueries.{Q, QFn}

  /** DuckDB twin of [[graft.corpus.Corpus.withBucket]]: first 8 md5 hex
    * digits of the id string folded to an int (one md5 per row, hoisted
    * as `h8`), mod 100.
    */
  private[queries] val bucketDuckSql =
    """list_reduce([CAST(strpos('0123456789abcdef', substr(h8, i, 1)) - 1 AS BIGINT)
      |             for i in range(1, 9)], (b, c) -> b * 16 + c) % 100""".stripMargin

  val all: Seq[Q] = Seq(

    Q("y1_train_val_test_split",
      // library surface: graft.corpus.Corpus.withSplit
      (s, dir) => graft.corpus.Corpus.withSplit(Tables.documents(s, dir))
        .select("doc_id", "bucket", "split")
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, bucket,
              |  CASE WHEN bucket < 80 THEN 'train'
              |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
              |FROM (
              |  SELECT doc_id, $bucketDuckSql AS bucket
              |  FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |        FROM documents))
              |ORDER BY doc_id""".stripMargin)),

    Q("y2_stratified_sample",
      (s, dir) => {
        // per-stratum deterministic downsampling: keep a doc iff its
        // bucket clears the stratum's rate (en kept at 50%, everything
        // else at 20%) — the hash-gate version of sampleBy, reproducible
        // and join-free (sampleBy's RNG can't be oracle-checked).
        // library surface: graft.corpus.Corpus.withBucket/stratifiedSample
        graft.corpus.Corpus.withBucket(Tables.documents(s, dir))
          .withColumn("rate", when(col("lang") === "en", 50).otherwise(20))
          .filter(col("bucket") < col("rate"))
          .select("doc_id", "lang", "bucket")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, lang, bucket FROM (
              |  SELECT doc_id, lang, $bucketDuckSql AS bucket,
              |    CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS rate
              |  FROM (SELECT doc_id, lang, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |        FROM documents))
              |WHERE bucket < rate ORDER BY doc_id""".stripMargin)),

    Q("y3_tfidf_topk",
      (s, dir) => {
        // classic TF-IDF, top-3 terms per document: tf over exploded
        // words (one shuffle on (doc, term) with map-side combine), df
        // DERIVED FROM tf — tf's group keys are exactly the distinct
        // (doc, term) postings, so df = tf regrouped by term. This both
        // drops a second full scan+explode+distinct shuffle of the corpus
        // AND makes the two tf branches physically identical, so Spark's
        // ReuseExchange serves df's input from tf's shuffle files (the
        // dominant cost at scale is the explode shuffle; it now runs
        // once). idf = ln(N/df); the df table is vocabulary-sized — the
        // planner/AQE picks the join strategy (broadcast when it fits,
        // shuffle on the term key when not).
        val docs = Tables.documents(s, dir)
        val words = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        val tf = words.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("doc_id")
          .orderBy(col("score").desc, col("term").asc)
        tf.join(df, Seq("term"))
          .crossJoin(broadcast(n)) // single-row scalar, always broadcast
          .withColumn("score",
            roundAt(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("doc_id", "rank", "term", "tf", "df", "score")
          .orderBy("doc_id", "rank")
      },
      Some(s"""WITH words AS (
              |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
              |tf AS (
              |  SELECT doc_id, term, count(*) AS tf FROM words GROUP BY 1, 2),
              |df AS (
              |  SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM words)
              |  GROUP BY 1),
              |n AS (SELECT count(*) AS n_docs FROM documents),
              |scored AS (
              |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
              |    ${roundAtSql("tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)", 6)} AS score
              |  FROM tf JOIN df USING (term) CROSS JOIN n),
              |ranked AS (
              |  SELECT doc_id, term, tf, df, score,
              |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS BIGINT) AS rank
              |  FROM scored)
              |SELECT doc_id, rank, term, tf, df, score FROM ranked
              |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin)),
    Q("y4_pack_shards",
      (s, dir) => {
        // sequence packing: assign docs to fixed-token-budget shards
        // (think context-window-sized training shards). Deterministic
        // prefix-sum formulation: within each source, docs in doc_id
        // order fill shards of 2000 tokens; shard = floor(tokens-before-
        // this-doc / budget). One window per source partition — at scale
        // each source's prefix sum runs on its own executor slice; no
        // global sort, no driver loop (a greedy bin-packer would be a
        // sequential driver algorithm — this is the shuffle-friendly
        // assignment the distributed pipeline actually uses).
        // library surface: graft.corpus.Corpus.packShards
        // t1's NULL-text contract (r14 degencheck)
        graft.corpus.Corpus.packShards(
          Tables.documents(s, dir).filter(col("text").isNotNull), "source", 2000)
          .select("source", "doc_id", "n_tokens", "shard_id")
          .orderBy("source", "doc_id")
      },
      Some("""SELECT source, doc_id, n_tokens,
             |  CAST(floor(tokens_before / 2000) AS BIGINT) AS shard_id
             |FROM (
             |  SELECT source, doc_id, n_tokens,
             |    coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
             |  FROM (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |        FROM documents WHERE text IS NOT NULL))
             |ORDER BY source, doc_id""".stripMargin)),

    Q("y5_contamination_check",
      (s, dir) => {
        // train/eval contamination sweep — the check every training-data
        // pipeline must run before shipping a split: eval (val+test)
        // docs that near- or exact-duplicate a train doc. Candidates
        // come from the same LSH band equi-join as x2 (eval signatures ×
        // train signatures — never train × train), survivors pay the
        // exact jaccard verify, and exactness is flagged by content
        // digest. At 100 TB the train side is the persisted x10 index;
        // candidate volume scales with the (small) eval split.
        import graft.corpus.Corpus
        val docs = Corpus.withSplit(Tables.documents(s, dir))
        val sh = Corpus.withShingles(docs)
          .select(col("doc_id"), col("sh"), col("split"),
            md5(col("text")).as("digest")).cache()
        val evalSig = Corpus.bandSignatures(sh.filter(col("split") =!= "train"))
        val trainSig = Corpus.bandSignatures(sh.filter(col("split") === "train"))
        val cand0 = evalSig.as("a").join(trainSig.as("b"),
            col("a.band_id") === col("b.band_id") &&
              col("a.band_key") === col("b.band_key"))
          .select(col("a.doc_id").as("eval_id"), col("b.doc_id").as("train_id"))
          .dropDuplicates("eval_id", "train_id")
        // verify-side regime dispatch (r17): the two shingle-set lookups
        // used to ride Spark's static estimate, which at decade 3 flips
        // them to SortMergeJoin and drags the sh ARRAYS through sorts —
        // the exact r13 failure dispatchVerifySets closed for x2/x4/x20
        // (547 s / 314 GB spill vs 87 s / 0 at sf3). One measured byte
        // statistic picks broadcast / candidate-pruned / natural; both
        // verify joins share one exchange; output identical in every
        // regime (the oracle + VerifyRegimeSpec discipline). Caches fall
        // under the harness contract.
        val sets = sh.select(col("doc_id"), col("sh"), col("digest"))
        val (cand, side) = Corpus.dispatchVerifySets(cand0,
          Seq("eval_id", "train_id"), sets, Corpus.setFrameBytes(sets), Caches.Harness)
        cand
          .join(side.select(col("doc_id").as("eval_id"), col("sh").as("sha"),
            col("digest").as("da")), Seq("eval_id"))
          .join(side.select(col("doc_id").as("train_id"), col("sh").as("shb"),
            col("digest").as("db")), Seq("train_id"))
          .withColumn("jaccard",
            roundAt(graft.functions.JaccardSimilarity(col("sha"), col("shb")), 6))
          .filter(col("jaccard") >= 0.5)
          .withColumn("is_exact", col("da") === col("db"))
          .select("eval_id", "train_id", "jaccard", "is_exact")
          .orderBy("eval_id", "train_id")
      },
      Some(s"""WITH ${DedupQueries.lshSigCtesSql},
              |sp AS (
              |  SELECT doc_id,
              |    CASE WHEN bucket < 80 THEN 'train'
              |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
              |  FROM (
              |    SELECT doc_id, $bucketDuckSql AS bucket
              |    FROM (SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |          FROM documents))),
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS eval_id, b.doc_id AS train_id
              |  FROM sig a
              |  JOIN sig b ON a.band_id = b.band_id AND a.band_key = b.band_key
              |  JOIN sp sa ON sa.doc_id = a.doc_id
              |  JOIN sp sb ON sb.doc_id = b.doc_id
              |  WHERE sa.split <> 'train' AND sb.split = 'train')
              |SELECT eval_id, train_id, jaccard, is_exact FROM (
              |  SELECT cand.eval_id, cand.train_id,
              |    ${roundAtSql(DedupQueries.jaccardSql("x.sh", "y.sh"), 6)} AS jaccard,
              |    md5(dx.text) = md5(dy.text) AS is_exact
              |  FROM cand
              |  JOIN d x ON cand.eval_id = x.doc_id
              |  JOIN d y ON cand.train_id = y.doc_id
              |  JOIN documents dx ON dx.doc_id = cand.eval_id
              |  JOIN documents dy ON dy.doc_id = cand.train_id)
              |WHERE jaccard >= 0.5 ORDER BY eval_id, train_id""".stripMargin)),
    Q("y6_source_mixture",
      (s, dir) => {
        // temperature-weighted source mixture (the mT5/CC multinomial
        // sampling shape, τ=2): each source's target share is
        // sqrt(tokens)/Σ sqrt(tokens) of a half-corpus token budget, its
        // acceptance rate = min(1, budget/tokens), and a doc is kept by
        // the same content-addressed md5 gate as y1/y2 (first 6 hex
        // digits vs floor(rate·16^6) — integer compare, reproducible,
        // join-free per doc). Cross-engine float contract (r14 review
        // find): each sqrt term is fixed to the 6-dp grid as an exact
        // BIGINT micro-unit and SUMMED as integers — order-insensitive,
        // the y11 log-ratio discipline — because rounding an
        // order-sensitive double sum at 6 dp still flakes when the true
        // sum sits within accumulated ulp error of a rounding boundary.
        // Everything after the integer sum is identical scalar IEEE
        // ops. Plan shape at scale: one source-key partial
        // agg for the totals, a source-sized rate table the planner
        // broadcasts, one narrow gate pass over the corpus — no
        // shuffle of the big side.
        val d = Tables.documents(s, dir)
          .filter(col("text").isNotNull) // t1's NULL-text contract
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens"))
        val tot = d.groupBy("source").agg(sum("n_tokens").as("t"))
        val sc = tot.agg(
          sum(floor(sqrt(col("t").cast("double")) * 1e6 + 0.5).cast("long"))
            .as("ss_micro"),
          sum("t").as("tt"))
        val rates = tot.crossJoin(broadcast(sc)) // single-row scalar
          .withColumn("rate", roundAt(least(lit(1.0),
            sqrt(col("t").cast("double"))
              / (col("ss_micro").cast("double") / 1e6)
              * (lit(0.5) * col("tt")) / col("t")), 6))
          .select("source", "rate")
        d.join(rates, Seq("source"))
          .withColumn("h6i",
            graft.functions.Md5Fold(col("doc_id").cast("string"), 1, 6))
          .filter(col("h6i") < floor(col("rate") * 16777216).cast("long"))
          .select("source", "doc_id", "n_tokens", "rate")
          .orderBy("source", "doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT source, doc_id,
              |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
              |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) AS h6
              |  FROM documents WHERE text IS NOT NULL),
              |tot AS (SELECT source, sum(n_tokens) AS t FROM d GROUP BY 1),
              |sc AS (
              |  SELECT sum(CAST(floor(sqrt(CAST(t AS DOUBLE)) * 1000000 + 0.5) AS BIGINT)) AS ss_micro,
              |    sum(t) AS tt FROM tot),
              |rates AS (
              |  SELECT source,
              |    ${roundAtSql("least(1.0, sqrt(CAST(t AS DOUBLE)) / (CAST(ss_micro AS DOUBLE) / 1000000) * (0.5 * tt) / t)", 6)} AS rate
              |  FROM tot CROSS JOIN sc)
              |SELECT source, doc_id, n_tokens, rate
              |FROM d JOIN rates USING (source)
              |WHERE list_reduce([CAST(strpos('0123456789abcdef', substr(h6, i, 1)) - 1 AS BIGINT)
              |                   for i in range(1, 7)], (b, c) -> b * 16 + c)
              |      < CAST(floor(rate * 16777216) AS BIGINT)
              |ORDER BY source, doc_id""".stripMargin)),

    Q("y8_epoch_shuffle",
      (s, dir) => {
        // deterministic epoch shuffle: the training-order assignment —
        // per epoch, docs reorder by md5(epoch:doc_id) WITHIN their
        // token-packed shard (y4's assignment), so every epoch sees a
        // different but fully reproducible "random" order with no RNG
        // state, and new data never perturbs other shards' orders. At
        // scale this is one narrow key map + a per-shard window — the
        // sort is shard-local, never global.
        val epoch = 3
        // t1's NULL-text contract (r14 review find): unfiltered, a NULL
        // text contributes n_tokens = -1 (size(split(NULL)) under ansi
        // off) to the Spark prefix sum while the oracle's NULL is
        // ignored by the window SUM — shard assignments diverge once a
        // boundary is crossed. The filter also restores the comment's
        // claim that shard assignment IS y4's (y4 filters NULL text).
        val packed = graft.corpus.Corpus.packShards(
            Tables.documents(s, dir).filter(col("text").isNotNull),
            "source", 2000L)
          .withColumn("okey",
            md5(concat(lit(s"$epoch:"), col("doc_id").cast("string"))))
        val w = Window.partitionBy("source", "shard_id")
          .orderBy("okey", "doc_id")
        packed
          .withColumn("pos", row_number().over(w).cast("long"))
          .select("doc_id", "source", "shard_id", "pos")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, shard_id,
             |  CAST(ROW_NUMBER() OVER (PARTITION BY source, shard_id
             |    ORDER BY okey, doc_id) AS BIGINT) AS pos
             |FROM (
             |  SELECT source, doc_id,
             |    CAST(floor(tokens_before / 2000) AS BIGINT) AS shard_id,
             |    md5('3:' || CAST(doc_id AS VARCHAR)) AS okey
             |  FROM (
             |    SELECT source, doc_id, n_tokens,
             |      coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tokens_before
             |    FROM (SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
             |          FROM documents WHERE text IS NOT NULL)))
             |ORDER BY doc_id""".stripMargin)),

    Q("y7_curriculum_buckets",
      (s, dir) => {
        // quality-curriculum assembly: tier every doc by its measured
        // quality signals (the t6 Gopher-style battery via
        // Corpus.qualitySignals), then apply a per-tier deterministic
        // sampling rate — high-quality text kept fully, mid down to
        // 50%, low to 10% (the quality-weighted mixture used to tilt a
        // pretraining corpus without discarding the tail outright). The
        // gate is the same content-addressed bucket as y1/y2: join-free,
        // reproducible, incremental. Plan shape: one narrow signal pass
        // + gate; the only aggregation is the tier-level report.
        val tiered = graft.corpus.Corpus.qualitySignals(
            Tables.documents(s, dir))
          .withColumn("tier",
            when(col("n_words").between(5, 5000) &&
              col("dup_word_fraction") <= 0.2 &&
              col("symbol_word_fraction") <= 0.3, "high")
            .when(col("n_words").between(5, 5000) &&
              col("dup_word_fraction") <= 0.4 &&
              col("symbol_word_fraction") <= 0.3, "mid")
            .otherwise("low"))
          .withColumn("rate",
            when(col("tier") === "high", 100L)
              .when(col("tier") === "mid", 50L).otherwise(10L))
        graft.corpus.Corpus.withBucket(tiered)
          .withColumn("kept", col("bucket") < col("rate"))
          .groupBy("tier")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            // r12 float-sum audit: the 6-dp-rounded fraction is exactly
            // decimal-imaged, so the mean's sum is order-free at any SF
            roundAt(sum(col("dup_word_fraction").cast("decimal(18,6)"))
              .cast("double") / count(lit(1)), 6).as("avg_dup_frac"))
          .orderBy("tier")
      },
      Some(s"""WITH sig AS (
              |  SELECT doc_id,
              |    CAST(len(w) AS BIGINT) AS n_words,
              |    floor((1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)) * 1000000 + 0.5) / 1000000 AS dup_word_fraction,
              |    floor((CAST(len(list_filter(w, x -> NOT regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w)) * 1000000 + 0.5) / 1000000 AS symbol_word_fraction
              |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)),
              |tiered AS (
              |  SELECT doc_id, dup_word_fraction,
              |    CASE WHEN n_words BETWEEN 5 AND 5000 AND dup_word_fraction <= 0.2
              |              AND symbol_word_fraction <= 0.3 THEN 'high'
              |         WHEN n_words BETWEEN 5 AND 5000 AND dup_word_fraction <= 0.4
              |              AND symbol_word_fraction <= 0.3 THEN 'mid'
              |         ELSE 'low' END AS tier
              |  FROM sig),
              |gated AS (
              |  SELECT tier, dup_word_fraction,
              |    $bucketDuckSql AS bucket,
              |    CASE WHEN tier = 'high' THEN 100
              |         WHEN tier = 'mid' THEN 50 ELSE 10 END AS rate
              |  FROM (SELECT *, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
              |        FROM tiered))
              |SELECT tier, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN bucket < rate THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
              |  ${roundAtSql("CAST(sum(CAST(dup_word_fraction AS DECIMAL(18,6))) AS DOUBLE) / count(*)", 6)} AS avg_dup_frac
              |FROM gated GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("y9_source_cap",
      (s, dir) => {
        // per-source document cap — the "no domain dominates" intake
        // rule (cap every crawl domain / source at N docs before
        // mixing): docs rank within their source by a content-addressed
        // hash (md5 of the doc id — reproducible across runs and
        // clusters, no RNG state), and only the first CAP survive. The
        // hash order makes the kept subset a uniform draw rather than
        // "first N by id" (which would bias toward old data). Plan
        // shape at 100 TB: one window per source key — a single shuffle
        // of (id, hash) pairs; a skewed mega-source is ONE partition's
        // sort, which is why production caps run after a per-source
        // count pre-filter (sources under the cap skip the window;
        // expressed here as the unconditional window since every source
        // is over cap at bench scale).
        val cap = 10
        val w = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
        Tables.documents(s, dir)
          .withColumn("h", md5(col("doc_id").cast("string")))
          .withColumn("sample_rank", row_number().over(w).cast("long"))
          .filter(col("sample_rank") <= cap)
          .select("doc_id", "source", "sample_rank")
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, source, sample_rank FROM (
             |  SELECT doc_id, source,
             |    CAST(ROW_NUMBER() OVER (PARTITION BY source
             |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS sample_rank
             |  FROM documents)
             |WHERE sample_rank <= 10 ORDER BY doc_id""".stripMargin)),

    Q("y11_importance_sampling",
      (s, dir) => {
        // DSIR-style importance resampling (Xie et al. 2023, "Data
        // Selection for Language Models via Importance Resampling"):
        // hashed-unigram bucket features (B = 64, md5-folded —
        // content-addressed, engine-portable, no RNG), a bucket-level
        // log-likelihood ratio between the target slice (lang = 'en',
        // standing in for the curated target corpus) and the raw corpus
        // with +1 smoothing, per-doc importance weight = Σ count_b ·
        // log-ratio_b, and a deterministic Gumbel acceptance gate — the
        // Gumbel top-k trick with the noise derived from md5(doc_id)
        // and a FIXED threshold instead of a global k, so no global
        // sort/window exists (a production run calibrates the threshold
        // from a weight sketch, z5's machinery).
        // Cross-engine float contract: each bucket log-ratio is fixed
        // to integer micro-units (floor(x·1e6 + 0.5)), so the per-doc Σ
        // is EXACT bigint arithmetic — immune to summation order; only
        // the final render divides by 1e6 and adds the Gumbel term,
        // rounded at 6 dp (t7's ln precedent).
        // Plan at scale: token explode → (doc, bucket) count with
        // map-side combine (≤ 64 bucket cells survive per doc), the
        // 64-row ratio table broadcast back, one doc-key agg — the
        // corpus is never joined to itself and every wide frame is
        // keyed by doc_id.
        val B = 64
        val db = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
          // per-TOKEN hash: the native md5_fold kernel (one fused digest
          // read vs 6 interpreted lambdas + the 32-char hex string per
          // token — the hot scalar stage of this query)
          .withColumn("bucket",
            pmod(graft.functions.Md5Fold(col("w"), 1, 6), lit(B)))
          .groupBy("doc_id", "lang", "bucket")
          .agg(count(lit(1)).as("cnt"))
          // the (doc, bucket) feature frame feeds the ratio build AND
          // the scoring join — cache it so the token explode runs ONCE
          // (the materialize-the-feature-table shape a production DSIR
          // pass uses; ≤ B cells per doc, so it is far smaller than the
          // corpus). Released by spark.catalog.clearCache().
          .cache()
        val bk = db.groupBy("bucket").agg(
          sum("cnt").as("cr"),
          sum(when(col("lang") === "en", col("cnt")).otherwise(0L)).as("ct"))
        val tot = bk.agg(sum("cr").as("totr"), sum("ct").as("tott"))
        val ratio = bk.crossJoin(broadcast(tot)) // single-row scalar
          .withColumn("li", floor(
            (log((col("ct") + 1.0) / (col("tott") + lit(B.toDouble))) -
             log((col("cr") + 1.0) / (col("totr") + lit(B.toDouble))))
              * lit(1e6) + lit(0.5)).cast("long"))
          .select("bucket", "li")
        db.join(broadcast(ratio), Seq("bucket"))
          .groupBy("doc_id", "lang")
          .agg(sum("cnt").as("n_tokens"), sum(col("cnt") * col("li")).as("sm"))
          .withColumn("u",
            (graft.functions.Md5Fold(col("doc_id").cast("string"), 1, 6)
              + lit(0.5)) / lit(16777216.0))
          .withColumn("weight", roundAt(col("sm") / lit(1e6) / col("n_tokens"), 6))
          .withColumn("skey", roundAt(col("sm") / lit(1e6) - log(-log(col("u"))), 6))
          .withColumn("accepted", when(col("skey") > 0, 1L).otherwise(0L))
          .select("doc_id", "lang", "n_tokens", "weight", "skey", "accepted")
          .orderBy("doc_id")
      },
      Some(s"""WITH tok AS (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
              |  FROM documents),
              |tb AS (
              |  SELECT doc_id, lang,
              |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(w), i, 1)) - 1 AS BIGINT)
              |                 for i in range(1, 7)], (b, c) -> b * 16 + c) % 64 AS bucket,
              |    count(*) AS cnt
              |  FROM tok GROUP BY 1, 2, 3),
              |bk AS (
              |  SELECT bucket, sum(cnt) AS cr,
              |    sum(CASE WHEN lang = 'en' THEN cnt ELSE 0 END) AS ct
              |  FROM tb GROUP BY 1),
              |tot AS (SELECT sum(cr) AS totr, sum(ct) AS tott FROM bk),
              |ratio AS (
              |  SELECT bucket,
              |    CAST(floor((ln((ct + 1.0) / (tott + 64.0)) -
              |      ln((cr + 1.0) / (totr + 64.0))) * 1e6 + 0.5) AS BIGINT) AS li
              |  FROM bk CROSS JOIN tot),
              |scored AS (
              |  SELECT tb.doc_id, tb.lang, CAST(sum(cnt) AS BIGINT) AS n_tokens,
              |    CAST(sum(cnt * li) AS BIGINT) AS sm
              |  FROM tb JOIN ratio USING (bucket) GROUP BY 1, 2),
              |gated AS (
              |  SELECT doc_id, lang, n_tokens, sm,
              |    (list_reduce([CAST(strpos('0123456789abcdef',
              |        substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
              |      for i in range(1, 7)], (b, c) -> b * 16 + c) + 0.5)
              |      / 16777216.0 AS u
              |  FROM scored)
              |SELECT doc_id, lang, n_tokens,
              |  ${roundAtSql("sm / 1e6 / n_tokens", 6)} AS weight,
              |  ${roundAtSql("sm / 1e6 - ln(-ln(u))", 6)} AS skey,
              |  CAST(CASE WHEN ${roundAtSql("sm / 1e6 - ln(-ln(u))", 6)} > 0
              |       THEN 1 ELSE 0 END AS BIGINT) AS accepted
              |FROM gated ORDER BY doc_id""".stripMargin)),

    Q("y10_sequence_spans",
      (s, dir) => {
        // fixed-length training-example assembly — the step AFTER y4's
        // shard assignment: concatenate each source's token stream in
        // doc_id order and slice it into exact 64-token training
        // sequences, emitting one (sequence, doc, token-range) span per
        // overlap. Docs crossing a boundary are SPLIT (their tail
        // carries into the next sequence) — the standard pretraining
        // packing semantics, not padding per doc. Plan: one per-source
        // window prefix sum (each source's stream is an independent
        // partition — no global sort), then a narrow sequence() explode
        // bounded by ceil(n/64)+1 spans per doc. Token offsets are
        // absolute within the source stream, so a trainer can rebuild
        // sequence k as the concatenation of its spans with zero other
        // state.
        val L = 64
        val w = Window.partitionBy("source").orderBy("doc_id")
        Tables.documents(s, dir)
          .filter(col("text").isNotNull) // t1's NULL-text contract
          .select(col("source"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n"))
          .withColumn("cend", sum("n").over(w))
          .withColumn("cstart", col("cend") - col("n"))
          .withColumn("seq_no",
            explode(expr(s"sequence(cstart div $L, (cend - 1) div $L)")))
          .select(col("source"), col("seq_no"), col("doc_id"),
            greatest(col("cstart"), col("seq_no") * L).as("tok_from"),
            least(col("cend"), (col("seq_no") + 1) * L).as("tok_to"))
          .orderBy("source", "seq_no", "doc_id")
      },
      Some("""WITH t AS (
             |  SELECT source, doc_id,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
             |  FROM documents WHERE text IS NOT NULL),
             |c AS (
             |  SELECT source, doc_id, n,
             |    CAST(sum(n) OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) AS cend
             |  FROM t),
             |spans AS (SELECT source, doc_id, cend - n AS cstart, cend FROM c),
             |x AS (
             |  SELECT source, doc_id, cstart, cend,
             |    unnest(range(cstart // 64, (cend - 1) // 64 + 1)) AS seq_no
             |  FROM spans)
             |SELECT source, CAST(seq_no AS BIGINT) AS seq_no, doc_id,
             |  greatest(cstart, seq_no * 64) AS tok_from,
             |  least(cend, (seq_no + 1) * 64) AS tok_to
             |FROM x ORDER BY source, seq_no, doc_id""".stripMargin)),
  )

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap

  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
