package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Tables}
import graft.functions.MoneyFunctions._

/** Text-analysis operators over the `documents` table — language ID,
  * quality scoring, token counting, fingerprinting (builder prompt's
  * training-data surface).
  *
  * Everything is a narrow per-row map followed by (optionally) one
  * aggregation — exactly the shape that scales linearly to 100 TB: no
  * shuffles except the final small groupBy, all expressible in
  * whole-stage-codegen built-ins (no UDFs).
  */
object TextQueries {
  import RelationalQueries.{Q, QFn}

  /** per-language marker word lists for the n-gram/stopword language-ID
    * heuristic. Fixed vocabulary, deterministic — the *mechanism* (score
    * texts against per-language profiles, argmax with stable tiebreak) is
    * what matters; swap lists for real marker sets in production.
    */
  private val markers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("hash", "key", "join", "batch"),
    "en" -> Seq("the", "a", "row", "fast"),
    "es" -> Seq("data", "table", "query", "small"),
    "fr" -> Seq("stream", "filter", "sort", "line"),
    "zh" -> Seq("window", "merge", "spark", "big"))

  private def markerPred(ws: Seq[String]): String =
    ws.map(w => s"x = '$w'").mkString(" OR ")

  val all: Seq[Q] = Seq(

    Q("t1_langid_markers",
      (s, dir) => {
        // score = marker-hit ratio per language; pred = argmax with an
        // ascending-lang tiebreak expressed as a CASE cascade (identical
        // text in both engines); output = confusion matrix vs the labeled
        // lang column.
        val langs = markers.map(_._1)
        val scoreExprs = markers.map { case (lang, ws) =>
          lang -> s"(cast(size(filter(w, x -> ${markerPred(ws)})) as double) / size(w))"
        }.toMap
        val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1).map(r => s"${scoreExprs(l)} >= ${scoreExprs(r)}")
          s"WHEN ${rest.mkString(" AND ")} THEN '$l'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
        Tables.documents(s, dir)
          // NULL-text contract (r14 degencheck): per-document text
          // operators define their domain as PRESENT text — Spark's
          // size(NULL) = -1 (ansi off) vs DuckDB's NULL propagation
          // diverge on every derived stat otherwise. Uniform across
          // t1/t2/t3/t4/t6/t8/t15/t17/y4/y6/y10/f21/f22/g1, pinned in
          // DegenerateContractSpec.
          .filter(col("text").isNotNull)
          .withColumn("w", split(col("text"), " "))
          .withColumn("pred", expr(caseSql))
          .groupBy(col("lang").as("actual"), col("pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy("actual", "pred")
      },
      Some {
        val langs = markers.map(_._1)
        val scoreSql = markers.map { case (lang, ws) =>
          lang -> s"(CAST(len(list_filter(w, x -> ${markerPred(ws)})) AS DOUBLE) / len(w))"
        }.toMap
        val caseSql = langs.init.zipWithIndex.map { case (l, i) =>
          val rest = langs.drop(i + 1).map(r => s"${scoreSql(l)} >= ${scoreSql(r)}")
          s"WHEN ${rest.mkString(" AND ")} THEN '$l'"
        }.mkString("CASE ", " ", s" ELSE '${langs.last}' END")
        s"""WITH scored AS (
           |  SELECT lang, $caseSql AS pred
           |  FROM (SELECT lang, string_split(text, ' ') AS w FROM documents
           |        WHERE text IS NOT NULL))
           |SELECT lang AS actual, pred, count(*) AS n FROM scored
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }),

    Q("t2_quality_score",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("text").isNotNull) // t1's NULL-text contract
        .withColumn("w", split(col("text"), " "))
        .select(
          col("doc_id"),
          size(col("w")).cast("long").as("n_tokens"),
          roundAt(length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("w")), 6)
            .as("avg_token_len"),
          roundAt(size(expr("filter(w, x -> x = 'the' OR x = 'a')")).cast("double") / size(col("w")), 6)
            .as("stopword_ratio"))
        .withColumn("quality",
          roundAt(lit(2.0) * least(col("n_tokens") / 100.0, lit(1.0))
            + (lit(1.0) - col("stopword_ratio")), 6))
        .orderBy("doc_id"),
      Some(s"""SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
              |  ${roundAtSql("2.0 * least(n_tokens / 100.0, 1.0) + (1.0 - stopword_ratio)", 6)} AS quality
              |FROM (
              |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
              |    ${roundAtSql("CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(w)", 6)} AS avg_token_len,
              |    ${roundAtSql("CAST(len(list_filter(w, x -> x = 'the' OR x = 'a')) AS DOUBLE) / len(w)", 6)} AS stopword_ratio
              |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
              |        WHERE text IS NOT NULL))
              |ORDER BY doc_id""".stripMargin)),

    Q("t3_token_count",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("text").isNotNull) // t1's NULL-text contract
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("ws_tokens"),
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|\\\\S', 0)")).cast("long").as("re_tokens"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws_tokens").as("sum_ws_tokens"),
          sum("re_tokens").as("sum_re_tokens"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
             |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|\S', 0))) AS BIGINT) AS sum_re_tokens
             |FROM documents WHERE text IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t4_fingerprint",
      (s, dir) => Tables.documents(s, dir)
        .filter(col("text").isNotNull) // t1's NULL-text contract
        .withColumn("canon_fp",
          md5(concat_ws(" ", array_sort(array_distinct(split(col("text"), " "))))))
        // empty text guarded explicitly (r13 degencheck): Spark's
        // sequence(1, 0) infers step −1 and emits [1, 0] instead of an
        // empty list, while DuckDB's list_reduce ERRORS on an empty
        // input — both engines pin roll_hash = 0 for the zero-length
        // payload (the fold's seed, i.e. the hash of no bytes)
        .withColumn("roll_hash", expr(
          """CASE WHEN length(text) = 0 THEN cast(0 as bigint) ELSE
            |aggregate(transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1))),
            |          cast(0 as bigint), (acc, c) -> (acc * 31 + c) % 1000000007) END""".stripMargin))
        .withColumn("n_same_fp", count(lit(1)).over(Window.partitionBy("canon_fp")))
        .select("doc_id", "canon_fp", "roll_hash", "n_same_fp")
        .orderBy("doc_id"),
      Some("""WITH f AS (
             |  SELECT doc_id,
             |    md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS canon_fp,
             |    CASE WHEN length(text) = 0 THEN 0 ELSE
             |    list_reduce([CAST(ascii(substr(text, i, 1)) AS BIGINT) for i in range(1, length(text) + 1)],
             |                (acc, c) -> (acc * 31 + c) % 1000000007) END AS roll_hash
             |  FROM documents WHERE text IS NOT NULL)
             |SELECT doc_id, canon_fp, roll_hash, count(*) OVER (PARTITION BY canon_fp) AS n_same_fp
             |FROM f ORDER BY doc_id""".stripMargin)),
    Q("t5_normalize_redact",
      (s, dir) => {
        // ingest-side text canonicalization: lowercase, redact number
        // runs (the PII-scrub shape — swap the pattern for emails/phones
        // in production), collapse whitespace, trim. Pure narrow
        // codegen'd regex maps; emitted as (md5, length) so the output
        // stays small at any corpus size. Patterns stay in the
        // RE2 ∩ java.util.regex common subset so both engines agree.
        // library surface: graft.corpus.Corpus.normalize
        graft.corpus.Corpus.normalize(Tables.documents(s, dir))
          .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
            length(col("norm")).cast("long").as("norm_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id, md5(norm) AS norm_md5,
             |  CAST(length(norm) AS BIGINT) AS norm_len
             |FROM (
             |  SELECT doc_id, trim(regexp_replace(regexp_replace(
             |    lower(text), '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS norm
             |  FROM documents)
             |ORDER BY doc_id""".stripMargin)),

    Q("t6_quality_signals",
      (s, dir) => {
        // Gopher/C4-style quality-filter suite: repetition
        // (duplicate-word fraction), numeric-character fraction,
        // symbol-word fraction, word-count bounds → keep/drop gate.
        // One narrow codegen'd pass per doc, no shuffle — the filter
        // stage every pretraining pipeline runs before tokenization.
        // library surface: graft.corpus.Corpus.qualitySignals
        graft.corpus.Corpus.qualitySignals(
            Tables.documents(s, dir).filter(col("text").isNotNull))
          .select("doc_id", "n_words", "dup_word_fraction",
            "numeric_char_fraction", "symbol_word_fraction", "keep")
          .orderBy("doc_id")
      },
      Some(s"""SELECT doc_id, n_words, dup_word_fraction, numeric_char_fraction,
              |  symbol_word_fraction,
              |  (n_words BETWEEN 5 AND 5000) AND dup_word_fraction <= 0.6
              |    AND symbol_word_fraction <= 0.3 AS keep
              |FROM (
              |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
              |    ${roundAtSql("1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w)", 6)} AS dup_word_fraction,
              |    ${roundAtSql("CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / greatest(length(text), 1)", 6)} AS numeric_char_fraction,
              |    ${roundAtSql("CAST(len(list_filter(w, x -> NOT regexp_matches(x, '[a-zA-Z]'))) AS DOUBLE) / len(w)", 6)} AS symbol_word_fraction
              |  FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents
              |        WHERE text IS NOT NULL))
              |ORDER BY doc_id""".stripMargin)),

    Q("t7_unigram_logprob",
      (s, dir) => {
        // CCNet/KenLM-style LM quality scoring with a self-trained
        // unigram model: p(w|lang) = corpus count ratios (exact ints →
        // one double division), per-doc score = avg ln p over its words
        // (rounded at 6 dp — ln/exp agree across libms at that
        // precision, the y3 contract), perplexity = exp(−score) of the
        // ROUNDED score so both engines exponentiate the same double.
        // High-perplexity docs are the "unnatural text" a pretraining
        // filter drops. Plan shape: one (lang, word) shuffle with
        // map-side combine for the model, a vocabulary-sized prob table
        // the planner/AQE broadcasts, one (doc, lang) partial agg.
        val words = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"),
            explode(split(col("text"), " ")).as("w"))
        val langTotals = words.groupBy("lang").agg(count(lit(1)).as("n_lang"))
        val probs = words.groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
          .join(langTotals, Seq("lang"))
          .withColumn("lp", log(col("cnt").cast("double") / col("n_lang")))
        words.join(probs.select("lang", "w", "lp"), Seq("lang", "w"))
          .groupBy("doc_id", "lang")
          .agg(count(lit(1)).as("n_words"), roundAt(avg("lp"), 6).as("avg_logprob"))
          .withColumn("perplexity", roundAt(exp(-col("avg_logprob")), 6))
          .orderBy("doc_id")
      },
      Some(s"""WITH words AS (
              |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents),
              |lt AS (SELECT lang, count(*) AS n_lang FROM words GROUP BY 1),
              |probs AS (
              |  SELECT c.lang, c.w, ln(CAST(c.cnt AS DOUBLE) / lt.n_lang) AS lp
              |  FROM (SELECT lang, w, count(*) AS cnt FROM words GROUP BY 1, 2) c
              |  JOIN lt USING (lang)),
              |scored AS (
              |  SELECT words.doc_id, words.lang, count(*) AS n_words,
              |    ${roundAtSql("avg(probs.lp)", 6)} AS avg_logprob
              |  FROM words JOIN probs ON probs.lang = words.lang AND probs.w = words.w
              |  GROUP BY 1, 2)
              |SELECT doc_id, lang, n_words, avg_logprob,
              |  ${roundAtSql("exp(-avg_logprob)", 6)} AS perplexity
              |FROM scored ORDER BY doc_id""".stripMargin)),
    Q("t8_ngram_repetition",
      (s, dir) => {
        // Gopher-style n-gram repetition signals — the word-level
        // repetition filters (top-2-gram occupancy, duplicate 2-/3-gram
        // fractions) that catch boilerplate and looping generations t6's
        // unigram dup fraction misses. Plan shape at scale: trigram
        // dup fraction is a pure narrow per-row map; the bigram mode
        // (most-frequent bigram share) needs one (doc, bigram) shuffle
        // with map-side combine + a per-doc rollup — same cost class as
        // y3's tf stage, linear in corpus tokens. Thresholds are
        // tunable constants; the mechanism is the operator.
        val docs = Tables.documents(s, dir)
          .filter(col("text").isNotNull) // t1's NULL-text contract
          .withColumn("w", split(col("text"), " "))
          .withColumn("bgs", expr(
            """CASE WHEN size(w) >= 2
              |  THEN transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))
              |  ELSE array() END""".stripMargin))
          .withColumn("tgs", expr(
            """CASE WHEN size(w) >= 3
              |  THEN transform(sequence(0, size(w) - 3), i -> concat(w[i], ' ', w[i + 1], ' ', w[i + 2]))
              |  ELSE array() END""".stripMargin))
        val base = docs.select(col("doc_id"),
          when(size(col("tgs")) === 0, 0.0).otherwise(
            roundAt(lit(1.0) - size(array_distinct(col("tgs"))).cast("double")
              / size(col("tgs")), 6)).as("dup_trigram_fraction"))
        val cnt = docs.select(col("doc_id"), explode(col("bgs")).as("bg"))
          .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        val stats = cnt.groupBy("doc_id")
          .agg(sum("c").as("n_bigrams"), count(lit(1)).as("n_distinct"),
            max("c").as("max_c"))
        base.join(stats, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            when(col("n_bigrams").isNull, 0.0).otherwise(
              roundAt(lit(1.0) - col("n_distinct").cast("double") / col("n_bigrams"), 6))
              .as("dup_bigram_fraction"),
            when(col("n_bigrams").isNull, 0.0).otherwise(
              roundAt(col("max_c").cast("double") / col("n_bigrams"), 6))
              .as("top_bigram_fraction"),
            col("dup_trigram_fraction"))
          .withColumn("keep",
            col("top_bigram_fraction") <= 0.05 && col("dup_bigram_fraction") <= 0.06)
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
              |  WHERE text IS NOT NULL),
              |g AS (
              |  SELECT doc_id,
              |    [w[i] || ' ' || w[i + 1] for i in range(1, len(w))] AS bgs,
              |    [w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] for i in range(1, len(w) - 1)] AS tgs
              |  FROM d),
              |base AS (
              |  SELECT doc_id,
              |    CASE WHEN len(tgs) = 0 THEN 0.0
              |         ELSE ${roundAtSql("1.0 - CAST(len(list_distinct(tgs)) AS DOUBLE) / len(tgs)", 6)}
              |    END AS dup_trigram_fraction
              |  FROM g),
              |cnt AS (
              |  SELECT doc_id, bg, count(*) AS c
              |  FROM (SELECT doc_id, unnest(bgs) AS bg FROM g) GROUP BY 1, 2),
              |stats AS (
              |  SELECT doc_id, sum(c) AS n_bigrams, count(*) AS n_distinct, max(c) AS max_c
              |  FROM cnt GROUP BY 1)
              |SELECT doc_id, n_bigrams, dup_bigram_fraction, top_bigram_fraction,
              |  dup_trigram_fraction,
              |  top_bigram_fraction <= 0.05 AND dup_bigram_fraction <= 0.06 AS keep
              |FROM (
              |  SELECT base.doc_id,
              |    CAST(coalesce(stats.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              |    CASE WHEN stats.n_bigrams IS NULL THEN 0.0
              |         ELSE ${roundAtSql("1.0 - CAST(stats.n_distinct AS DOUBLE) / stats.n_bigrams", 6)}
              |    END AS dup_bigram_fraction,
              |    CASE WHEN stats.n_bigrams IS NULL THEN 0.0
              |         ELSE ${roundAtSql("CAST(stats.max_c AS DOUBLE) / stats.n_bigrams", 6)}
              |    END AS top_bigram_fraction,
              |    base.dup_trigram_fraction
              |  FROM base LEFT JOIN stats ON stats.doc_id = base.doc_id)
              |ORDER BY doc_id""".stripMargin)),

    Q("t9_boilerplate_ngrams",
      (s, dir) => {
        // corpus-level boilerplate profiling: the bigrams present in an
        // outsized share of a language's documents — headers, footers,
        // cookie banners, license blurbs — are what a strip-before-dedup
        // policy removes (and what inflates x4/x20's posting lists).
        // Report the top-5 bigrams per lang by DOCUMENT frequency with
        // their share of the lang's docs. Plan shape at 100 TB: distinct
        // shingles per doc (narrow), one (lang, shingle) map-side-
        // combinable count, a |langs|-sized totals table the planner
        // broadcasts, and a window over |langs| partitions of the
        // surviving counts — nothing scales with pairs.
        val docs = Tables.documents(s, dir)
        val dfc = graft.corpus.Corpus.withShingles(docs)
          .select(col("lang"), explode(col("sh")).as("shingle"))
          .groupBy("lang", "shingle").agg(count(lit(1)).as("df"))
        val totals = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        val w = Window.partitionBy("lang").orderBy(col("df").desc, col("shingle"))
        dfc.join(totals, Seq("lang"))
          .withColumn("doc_share",
            roundAt(col("df").cast("double") / col("n_docs"), 6))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 5)
          .select("lang", "rank", "shingle", "df", "doc_share")
          .orderBy("lang", "rank")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang,
              |    list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
              |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
              |c AS (
              |  SELECT lang, shingle, count(*) AS df
              |  FROM (SELECT lang, unnest(sh) AS shingle FROM d) GROUP BY 1, 2),
              |t AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1)
              |SELECT lang, rank, shingle, df, doc_share FROM (
              |  SELECT c.lang, c.shingle, c.df,
              |    ${roundAtSql("CAST(c.df AS DOUBLE) / t.n_docs", 6)} AS doc_share,
              |    ROW_NUMBER() OVER (PARTITION BY c.lang
              |      ORDER BY c.df DESC, c.shingle) AS rank
              |  FROM c JOIN t ON t.lang = c.lang)
              |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin)),

    Q("t10_length_histogram",
      (s, dir) => {
        // corpus length profiling per source: a digit-count histogram
        // (decimal order of magnitude of n_chars — an exact integer op
        // on both engines, unlike float log2 at exact powers) with
        // min/max/avg length per (source, magnitude) cell. The
        // length-distribution report every intake pipeline prints
        // before choosing truncation/packing parameters; one map-side-
        // combinable groupBy on a tiny key space.
        Tables.documents(s, dir)
          .withColumn("magnitude",
            length(col("n_chars").cast("string")).cast("long"))
          .groupBy("source", "magnitude")
          .agg(count(lit(1)).as("n_docs"),
            min("n_chars").as("min_chars"), max("n_chars").as("max_chars"),
            roundAt(avg("n_chars"), 2).as("avg_chars"))
          .orderBy("source", "magnitude")
      },
      Some(s"""SELECT source, CAST(length(CAST(n_chars AS VARCHAR)) AS BIGINT) AS magnitude,
              |  count(*) AS n_docs, min(n_chars) AS min_chars,
              |  max(n_chars) AS max_chars,
              |  ${roundAtSql("avg(n_chars)", 2)} AS avg_chars
              |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    Q("t11_ngram_decontaminate",
      (s, dir) => {
        // exact n-gram collision decontamination (the GPT-3 appendix-C
        // method, 13-grams there, 5-grams here for these ~40-word docs):
        // any eval-set n-gram that literally appears in the training set
        // flags the eval doc as contaminated. Unlike y5's MinHash-band
        // screen (probabilistic, whole-doc), this is the exact,
        // substring-level check run before publishing a benchmark
        // number. Plan shape at 100 TB: both sides reduce to DISTINCT
        // (doc, gram) pairs, the join is a pure equi-join keyed on the
        // gram — shuffled by gram hash, never all-pairs — and the eval
        // side is benchmark-sized (a few thousand docs), so every
        // shuffled partition carries a sliver of eval grams against its
        // share of train grams. Gram df skew (boilerplate) is bounded
        // because eval-side df, not train-side df, multiplies the pairs.
        val N = 5
        val grams = Tables.documents(s, dir)
          .withColumn("w", split(col("text"), " "))
          .filter(size(col("w")) >= N)
          .select(col("doc_id"), explode(expr(
            s"array_distinct(transform(sequence(1, size(w) - ${N - 1}), " +
              s"i -> concat_ws(' ', slice(w, i, $N))))")).as("g"))
        val evalG = grams.filter(col("doc_id") % 20 === 0)
        val trainG = grams.filter(col("doc_id") % 20 =!= 0)
        evalG.as("e").join(trainG.as("t"), col("e.g") === col("t.g"))
          .groupBy(col("e.doc_id").as("eval_doc_id"))
          .agg(countDistinct(col("e.g")).as("n_contaminated_ngrams"),
            countDistinct(col("t.doc_id")).as("n_train_docs"))
          .orderBy("eval_doc_id")
      },
      Some("""WITH g AS (
             |  SELECT doc_id,
             |    unnest(list_distinct([array_to_string(w[i:i+4], ' ')
             |                          for i in range(1, len(w) - 3)])) AS g
             |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
             |  WHERE len(w) >= 5)
             |SELECT e.doc_id AS eval_doc_id,
             |  count(DISTINCT e.g) AS n_contaminated_ngrams,
             |  count(DISTINCT t.doc_id) AS n_train_docs
             |FROM g e JOIN g t ON e.g = t.g
             |WHERE e.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t12_bpe_pair_counts",
      (s, dir) => {
        // one BPE merge round — the inner loop of tokenizer training:
        // count every adjacent symbol pair inside each whitespace token
        // and surface the top candidates (the highest-count pair is the
        // pair BPE would merge next). At 100 TB this is the canonical
        // two-phase count: a narrow explode over the corpus feeding a
        // map-side-combinable groupBy whose key space is bounded by
        // alphabet² — the shuffle carries partial counts, never text.
        // The global ranking window runs over that tiny aggregate.
        val pairs = Tables.documents(s, dir)
          .select(explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) >= 2)
          .select(explode(expr(
            "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
            .as("pair"))
        // single-partition window is over the alphabet²-sized aggregate,
        // not the corpus
        val w = Window.orderBy(col("n").desc, col("pair"))
        pairs.groupBy("pair").agg(count(lit(1)).as("n"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 20)
          .select("rank", "pair", "n")
          .orderBy("rank")
      },
      Some("""WITH toks AS (
             |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
             |p AS (
             |  SELECT unnest([substr(tok, i, 2) for i in range(1, length(tok))]) AS pair
             |  FROM toks WHERE length(tok) >= 2),
             |c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1)
             |SELECT rank, pair, n FROM (
             |  SELECT pair, n, ROW_NUMBER() OVER (ORDER BY n DESC, pair) AS rank
             |  FROM c)
             |WHERE rank <= 20 ORDER BY rank""".stripMargin)),

    Q("t13_zipf_slope",
      (s, dir) => {
        // corpus-health check: the Zipf exponent per source — the
        // least-squares slope of ln(frequency) on ln(rank) over each
        // source's top-20 words. Natural text sits near -1; word-soup,
        // boilerplate or template spam shows up as a flat (near-0)
        // slope, making this a cheap per-source anomaly screen. One
        // (source, word) partial-agg shuffle, a top-20 window per
        // source, then slope = covar_pop/var_pop — the closed-form
        // regression both engines compute from the same 20 points
        // (rounded at 6 dp to absorb partial-merge order).
        val freq = Tables.documents(s, dir)
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .groupBy("source", "word").agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("source").orderBy(col("n").desc, col("word"))
        freq.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 20)
          .withColumn("lr", log(col("rank").cast("double")))
          .withColumn("lf", log(col("n").cast("double")))
          .groupBy("source")
          .agg(count(lit(1)).as("n_words"),
            roundAt(covar_pop("lr", "lf") / var_pop("lr"), 6).as("zipf_slope"))
          .orderBy("source")
      },
      Some(s"""WITH f AS (
              |  SELECT source, unnest(string_split(text, ' ')) AS word FROM documents),
              |c AS (SELECT source, word, count(*) AS n FROM f GROUP BY 1, 2),
              |r AS (
              |  SELECT source, ln(CAST(rank AS DOUBLE)) AS lr, ln(CAST(n AS DOUBLE)) AS lf
              |  FROM (SELECT source, word, n, ROW_NUMBER() OVER (PARTITION BY source
              |          ORDER BY n DESC, word) AS rank FROM c)
              |  WHERE rank <= 20)
              |SELECT source, count(*) AS n_words,
              |  ${roundAtSql("regr_slope(lf, lr)", 6)} AS zipf_slope
              |FROM r GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("t14_substring_dedup",
      (s, dir) => {
        // exact substring-overlap dedup at character grain (the Lee et
        // al. "Deduplicating Training Data" shape, suffix-array result
        // approximated by hashed fixed-width windows): two docs sharing
        // ≥ 8 distinct 32-char windows share long verbatim runs that
        // word-grain shingles (x2/x4) and whole-doc digests (x1) can
        // miss. Window hashes come from the native O(n)-per-row
        // rolling_hash_windows expression (one fused codegen loop, no
        // per-window lambda); the pair stage is x4's inverted-index
        // shape — df=1 postings (the overwhelming majority: windows are
        // near-unique) drop before the self-join, so pair volume scales
        // with Σ df² over genuinely repeated runs, never with the
        // corpus; x4's salt fan-out applies as-is if a boilerplate run
        // ever makes a window's df hot.
        val W = 32
        // cached per-doc hash ARRAYS (r17): the df aggregate and the
        // posting probe are different subtrees (partial-agg exchange vs
        // broadcast-join probe), so ReusedExchange cannot dedupe them and
        // the O(n)-per-row rolling hash + explode ran twice over every
        // document. Caching the compact array form (longs, pre-explode)
        // hashes each text once; MEMORY_AND_DISK degrades gracefully at
        // scale and the frame dies with the caller's clearCache contract.
        val hashed = Tables.documents(s, dir)
          .select(col("doc_id"),
            array_distinct(expr(s"rolling_hash_windows(text, $W)")).as("hs"))
          .cache()
        val wins = hashed.select(col("doc_id"), explode(col("hs")).as("h"))
        val shared = wins.groupBy("h").agg(count(lit(1)).as("df"))
          .filter(col("df") > 1)
        val posting = wins.join(shared.select("h"), Seq("h"))
        posting.as("a").join(posting.as("b"),
            col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("n_shared_windows"))
          .filter(col("n_shared_windows") >= 8)
          .orderBy("doc_a", "doc_b")
      },
      Some("""WITH wins AS (
             |  SELECT doc_id, unnest(list_distinct([
             |    list_reduce([CAST(ascii(substr(text, i + j, 1)) AS BIGINT) for j in range(0, 32)],
             |                (acc, c) -> (acc * 31 + c) % 1000000007)
             |    for i in range(1, length(text) - 30)])) AS h
             |  FROM documents),
             |shared AS (SELECT h FROM wins GROUP BY h HAVING count(*) > 1),
             |p AS (SELECT doc_id, h FROM wins JOIN shared USING (h))
             |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared_windows
             |FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
             |GROUP BY 1, 2 HAVING count(*) >= 8 ORDER BY 1, 2""".stripMargin)),

    Q("t15_segment_dedup",
      (s, dir) => {
        // C4-style line-level dedup, REWRITTEN not REMOVED: instead of
        // dropping whole near-dup documents, drop each duplicated
        // SEGMENT everywhere except its globally-first occurrence and
        // re-stitch the survivors (the C4 "three-sentence span" /
        // line-dedup operator). The synthetic corpus is single-line, so
        // segments are fixed 10-word windows standing in for
        // '\n'-split lines — identical plumbing, swap the splitter in
        // production.
        //
        // Keeper selection is a groupBy(seg).agg(min(struct(doc_id,
        // seg_no))) — a map-side-combinable argmin, NOT a window over
        // PARTITION BY seg: a boilerplate segment repeated 10M times
        // would hot-spot one window sort partition, while the partial
        // agg collapses it to one row per mapper before the shuffle.
        // The keeper join back is on the same seg key the agg just
        // shuffled on, so the exchange is reused; re-stitching is one
        // groupBy(doc_id) with an in-group array_sort — no global sort.
        val segW = 10
        val segs = Tables.documents(s, dir)
          .filter(col("text").isNotNull) // t1's NULL-text contract
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), posexplode(expr(
            s"""transform(sequence(0, cast(ceil(size(w) / $segW.0) as int) - 1),
               |          k -> concat_ws(' ', slice(w, k * $segW + 1, $segW)))"""
              .stripMargin)).as(Seq("seg_no", "seg")))
        val keeper = segs.groupBy("seg")
          .agg(min(struct(col("doc_id"), col("seg_no"))).as("k"))
        segs.join(keeper, "seg")
          .withColumn("keep",
            col("k.doc_id") === col("doc_id") && col("k.seg_no") === col("seg_no"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segs"),
            count(when(col("keep"), 1)).as("n_kept"),
            concat_ws(" ", expr(
              """transform(array_sort(collect_list(
                |  CASE WHEN keep THEN struct(seg_no, seg) END)), x -> x.seg)"""
                .stripMargin)).as("text_dedup"))
          .orderBy("doc_id")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
             |           WHERE text IS NOT NULL),
             |seg AS (
             |  SELECT doc_id, s['seg_no'] AS seg_no, s['seg'] AS seg
             |  FROM (SELECT doc_id, unnest([{'seg_no': k,
             |      'seg': array_to_string(list_slice(w, k * 10 + 1, k * 10 + 10), ' ')}
             |      for k in range(0, CAST(ceil(len(w) / 10.0) AS BIGINT))]) AS s
             |    FROM w)),
             |marked AS (
             |  SELECT doc_id, seg_no, seg,
             |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_no) AS rn
             |  FROM seg)
             |SELECT doc_id,
             |  count(*) AS n_segs,
             |  count(*) FILTER (WHERE rn = 1) AS n_kept,
             |  coalesce(string_agg(seg, ' ' ORDER BY seg_no) FILTER (WHERE rn = 1), '')
             |    AS text_dedup
             |FROM marked GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    Q("t16_stupid_backoff",
      (s, dir) => {
        // Stupid Backoff bigram LM scoring (Brants et al. 2007, "Large
        // Language Models in Machine Translation") — the backoff that was
        // designed FOR distributed web-scale corpora: no discounting
        // renormalization, so the model is nothing but count tables and
        // scoring is a pure count-table join. S(w|v) = c(vw)/c(v·) when
        // the bigram was seen in the training slice, else α·c(w)/N with
        // α = 0.4 (the paper's constant) and a 1/N OOV floor. The model
        // trains on the lang='en' slice and scores EVERY doc (CCNet's
        // held-in/held-out shape — t7's unigram scorer's bigram sibling;
        // unlike t7, scoring off-slice docs genuinely exercises backoff,
        // reported as backoff_fraction). Plan shape at scale: doc
        // bigrams pre-combined to (doc, v, w, c) so the model join
        // carries bigram TYPES not tokens, the (v,w)-keyed join is a
        // shuffle join both sides AQE-sized (the model table is
        // corpus-bigram-type-bounded — exactly the shard-by-ngram layout
        // the paper serves from), one doc-key rollup, no self-join of
        // the corpus. Float contract: counts are exact ints; each ln is
        // one IEEE op on one division; the per-doc weighted mean is
        // rounded at 6 dp (t7/y3's cross-engine summation contract) and
        // ppl exponentiates the ROUNDED mean.
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
        val bigrams = toks
          .select(col("doc_id"), col("lang"), explode(expr(
            """CASE WHEN size(w) >= 2
              |  THEN transform(sequence(0, size(w) - 2),
              |    i -> struct(w[i] AS pw, w[i + 1] AS cw))
              |  ELSE array() END""".stripMargin)).as("b"))
          .select(col("doc_id"), col("lang"), col("b.pw"), col("b.cw"))
        val big = bigrams.filter(col("lang") === "en")
          .groupBy("pw", "cw").agg(count(lit(1)).as("bc"))
        val ctx = big.groupBy("pw").agg(sum("bc").as("cc"))
        val uniT = toks.filter(col("lang") === "en").select(explode(col("w")).as("cw"))
        val uni = uniT.groupBy("cw").agg(count(lit(1)).as("uc"))
        // n_train = Σuc over the vocabulary-bounded unigram table — the
        // exact same integer as re-counting the exploded token stream,
        // without a second corpus-wide explode
        val nScalar = uni.agg(sum("uc").as("n_train"))
        val db = bigrams.groupBy("doc_id", "pw", "cw").agg(count(lit(1)).as("c"))
        val scored = db
          .join(big.join(ctx, Seq("pw")).select("pw", "cw", "bc", "cc"),
            Seq("pw", "cw"), "left")
          .join(uni, Seq("cw"), "left")
          .crossJoin(broadcast(nScalar)) // single-row scalar
          .withColumn("lp",
            when(col("bc").isNotNull, log(col("bc").cast("double") / col("cc")))
              .otherwise(log(lit(0.4) * coalesce(col("uc"), lit(1L)).cast("double")
                / col("n_train"))))
          .withColumn("bo", when(col("bc").isNotNull, lit(0L)).otherwise(col("c")))
        val perDoc = scored.groupBy("doc_id")
          .agg(sum("c").as("n_bigrams"),
            roundAt(sum(col("lp") * col("c")) / sum("c"), 6).as("avg_logscore"),
            roundAt(sum("bo").cast("double") / sum("c"), 6).as("backoff_fraction"))
          .withColumn("ppl", roundAt(exp(-col("avg_logscore")), 6))
        Tables.documents(s, dir).select("doc_id")
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
            coalesce(col("backoff_fraction"), lit(0.0)).as("backoff_fraction"),
            coalesce(col("avg_logscore"), lit(0.0)).as("avg_logscore"),
            coalesce(col("ppl"), lit(1.0)).as("ppl"))
          .orderBy("doc_id")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
              |bg AS (
              |  SELECT doc_id, lang, b['pw'] AS pw, b['cw'] AS cw
              |  FROM (SELECT doc_id, lang,
              |      unnest([{'pw': w[i], 'cw': w[i + 1]} for i in range(1, len(w))]) AS b
              |    FROM d)),
              |big AS (
              |  SELECT pw, cw, count(*) AS bc FROM bg WHERE lang = 'en' GROUP BY 1, 2),
              |ctx AS (SELECT pw, sum(bc) AS cc FROM big GROUP BY 1),
              |uni_t AS (SELECT unnest(w) AS cw FROM d WHERE lang = 'en'),
              |uni AS (SELECT cw, count(*) AS uc FROM uni_t GROUP BY 1),
              |n AS (SELECT count(*) AS n_train FROM uni_t),
              |db AS (SELECT doc_id, pw, cw, count(*) AS c FROM bg GROUP BY 1, 2, 3),
              |scored AS (
              |  SELECT db.doc_id, db.c,
              |    CASE WHEN big.bc IS NOT NULL
              |         THEN ln(CAST(big.bc AS DOUBLE) / ctx.cc)
              |         ELSE ln(0.4 * CAST(coalesce(uni.uc, 1) AS DOUBLE) / n.n_train)
              |    END AS lp,
              |    CASE WHEN big.bc IS NOT NULL THEN 0 ELSE db.c END AS bo
              |  FROM db
              |  LEFT JOIN big ON big.pw = db.pw AND big.cw = db.cw
              |  LEFT JOIN ctx ON ctx.pw = db.pw
              |  LEFT JOIN uni ON uni.cw = db.cw
              |  CROSS JOIN n),
              |perdoc AS (
              |  SELECT doc_id, sum(c) AS n_bigrams,
              |    ${roundAtSql("sum(lp * c) / sum(c)", 6)} AS avg_logscore,
              |    ${roundAtSql("CAST(sum(bo) AS DOUBLE) / sum(c)", 6)} AS backoff_fraction
              |  FROM scored GROUP BY 1)
              |SELECT d.doc_id,
              |  CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
              |  coalesce(p.backoff_fraction, 0.0) AS backoff_fraction,
              |  coalesce(p.avg_logscore, 0.0) AS avg_logscore,
              |  coalesce(${roundAtSql("exp(-p.avg_logscore)", 6)}, 1.0) AS ppl
              |FROM d LEFT JOIN perdoc p USING (doc_id) ORDER BY d.doc_id""".stripMargin)),
    Q("t17_token_estimator_train",
      (s, dir) => {
        // TRAIN a model INSIDE the engine: the token-count estimator a
        // 100 TB pipeline uses for shard sizing and tokenizer-cost
        // planning BEFORE paying for tokenization — tokens predicted
        // from cheap byte-level stats. A 2-feature + intercept linear
        // model fit by the closed-form normal equations: a20 fits
        // per-group single-feature lines with the built-in regr_*
        // aggregates; this is the MULTI-feature solve those can't
        // express — the 3×3 system inverted via Cramer's rule on 9
        // sufficient statistics (n, Σx₁, Σx₂, Σy, Σx₁², Σx₁x₂, Σx₂²,
        // Σx₁y, Σx₂y), each a map-side-combinable sum. The 100 TB
        // shape: training is ONE partial+final agg whose exchange
        // carries 9 doubles — no iterative solver, no driver-side data,
        // no MLlib; prediction is a narrow map under a 1-row broadcast
        // of the weights. Determinism: features and every statistic are
        // 6-dp-rounded (the repo float contract) BEFORE the solve and
        // the predictions after it, so the whole train→predict pipeline
        // is hash-exact cross-engine. Features: x₁ = chars/100 (the
        // byte length), x₂ = duplicate-word fraction (whose near-zero
        // trained weight is the solve correctly discounting a
        // no-signal feature); y = exact token count. Honest evaluation:
        // the model trains ONLY on the content-addressed 80% train
        // split (Corpus.withSplit's md5 bucket — no leakage by
        // construction) and predicts EVERY doc, so held-out rows carry
        // a TRUE generalization residual (ScaleBoundSpec pins the
        // test-slice R²).
        // cached: the doc-grain feature frame feeds BOTH the training
        // sums and the predict-every-doc projection — uncached, the
        // corpus scan + tokenization would run twice. Released by
        // spark.catalog.clearCache().
        val d = graft.corpus.Corpus.withSplit(
            Tables.documents(s, dir).filter(col("text").isNotNull))
          .withColumn("w", split(col("text"), " "))
          .select(col("doc_id"), col("split"),
            roundAt(length(col("text")).cast("double") / 100.0, 6).as("x1"),
            roundAt(lit(1.0) -
              size(array_distinct(col("w"))).cast("double") /
                size(col("w")).cast("double"), 6).as("x2"),
            size(col("w")).cast("double").as("y"))
          .cache()
        // sufficient statistics accumulate in DECIMAL, not double (r10
        // ADVICE): a double Σx₁y at sf0.1 is already ~1e6 and grows with
        // SF, where partial-agg ORDER (a partition-layout accident)
        // moves the low bits — 6-dp rounding of the sum cannot neutralize
        // that once the sum is large, so the old cross-engine pin was
        // empirical. The 6-dp features are EXACT in decimal(18,6), their
        // products exact in decimal(37,12), and decimal sums are
        // order-independent by construction in both engines — the
        // statistics are now identical bit-for-bit regardless of
        // partitioning, at any SF (y11's integer-micro-unit argument,
        // decimal-typed so sf100 magnitudes cannot overflow).
        val x1d = col("x1").cast("decimal(18,6)")
        val x2d = col("x2").cast("decimal(18,6)")
        val yd = col("y").cast("decimal(18,6)")
        val sums = d.filter(col("split") === "train").agg(
          count(lit(1)).cast("double").as("n"),
          roundAt(sum(x1d).cast("double"), 6).as("s1"),
          roundAt(sum(x2d).cast("double"), 6).as("s2"),
          roundAt(sum(yd).cast("double"), 6).as("sy"),
          roundAt(sum(x1d * x1d).cast("double"), 6).as("s11"),
          roundAt(sum(x1d * x2d).cast("double"), 6).as("s12"),
          roundAt(sum(x2d * x2d).cast("double"), 6).as("s22"),
          roundAt(sum(x1d * yd).cast("double"), 6).as("s1y"),
          roundAt(sum(x2d * yd).cast("double"), 6).as("s2y"))
        // Cramer's rule on the 3×3 normal matrix — the SAME expression
        // structure (operand order included) as the DuckDB twin, so the
        // IEEE arithmetic is step-identical from the rounded inputs
        val det = col("n") * (col("s11") * col("s22") - col("s12") * col("s12")) -
          col("s1") * (col("s1") * col("s22") - col("s12") * col("s2")) +
          col("s2") * (col("s1") * col("s12") - col("s11") * col("s2"))
        val det0 = col("sy") * (col("s11") * col("s22") - col("s12") * col("s12")) -
          col("s1") * (col("s1y") * col("s22") - col("s12") * col("s2y")) +
          col("s2") * (col("s1y") * col("s12") - col("s11") * col("s2y"))
        val det1 = col("n") * (col("s1y") * col("s22") - col("s12") * col("s2y")) -
          col("sy") * (col("s1") * col("s22") - col("s12") * col("s2")) +
          col("s2") * (col("s1") * col("s2y") - col("s1y") * col("s2"))
        val det2 = col("n") * (col("s11") * col("s2y") - col("s1y") * col("s12")) -
          col("s1") * (col("s1") * col("s2y") - col("s1y") * col("s2")) +
          col("sy") * (col("s1") * col("s12") - col("s11") * col("s2"))
        val w = sums.select(
          roundAt(det0 / det, 6).as("w0"),
          roundAt(det1 / det, 6).as("w1"),
          roundAt(det2 / det, 6).as("w2"))
        d.crossJoin(broadcast(w))
          .withColumn("pred", roundAt(
            col("w0") + col("w1") * col("x1") + col("w2") * col("x2"), 6))
          .select(col("doc_id"), col("split"),
            col("y").cast("long").as("n_tokens"),
            col("pred"), roundAt(col("y") - col("pred"), 6).as("resid"))
          .orderBy("doc_id")
      },
      Some {
        val det = "(n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) + s2 * (s1 * s12 - s11 * s2))"
        val det0 = "(sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y) + s2 * (s1y * s12 - s11 * s2y))"
        val det1 = "(n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) + s2 * (s1 * s2y - s1y * s2))"
        val det2 = "(n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) + sy * (s1 * s12 - s11 * s2))"
        s"""WITH feats AS (
           |  SELECT doc_id,
           |    CASE WHEN bucket < 80 THEN 'train'
           |         WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
           |    ${roundAtSql("CAST(length(text) AS DOUBLE) / 100.0", 6)} AS x1,
           |    ${roundAtSql("1.0 - CAST(len(list_distinct(w)) AS DOUBLE) / CAST(len(w) AS DOUBLE)", 6)} AS x2,
           |    CAST(len(w) AS DOUBLE) AS y
           |  FROM (
           |    SELECT doc_id, text, string_split(text, ' ') AS w,
           |      ${SamplingQueries.bucketDuckSql} AS bucket
           |    FROM (SELECT doc_id, text,
           |            substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8
           |          FROM documents WHERE text IS NOT NULL))),
           |decf AS (
           |  SELECT split,
           |    CAST(x1 AS DECIMAL(18,6)) AS x1d,
           |    CAST(x2 AS DECIMAL(18,6)) AS x2d,
           |    CAST(y AS DECIMAL(18,6)) AS yd
           |  FROM feats),
           |sums AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n,
           |    ${roundAtSql("CAST(sum(x1d) AS DOUBLE)", 6)} AS s1,
           |    ${roundAtSql("CAST(sum(x2d) AS DOUBLE)", 6)} AS s2,
           |    ${roundAtSql("CAST(sum(yd) AS DOUBLE)", 6)} AS sy,
           |    ${roundAtSql("CAST(sum(x1d * x1d) AS DOUBLE)", 6)} AS s11,
           |    ${roundAtSql("CAST(sum(x1d * x2d) AS DOUBLE)", 6)} AS s12,
           |    ${roundAtSql("CAST(sum(x2d * x2d) AS DOUBLE)", 6)} AS s22,
           |    ${roundAtSql("CAST(sum(x1d * yd) AS DOUBLE)", 6)} AS s1y,
           |    ${roundAtSql("CAST(sum(x2d * yd) AS DOUBLE)", 6)} AS s2y
           |  FROM decf WHERE split = 'train'),
           |w AS (
           |  SELECT ${roundAtSql(s"$det0 / $det", 6)} AS w0,
           |    ${roundAtSql(s"$det1 / $det", 6)} AS w1,
           |    ${roundAtSql(s"$det2 / $det", 6)} AS w2
           |  FROM sums)
           |SELECT doc_id, split, n_tokens, pred, ${roundAtSql("y - pred", 6)} AS resid
           |FROM (
           |  SELECT doc_id, split, CAST(y AS BIGINT) AS n_tokens, y,
           |    ${roundAtSql("w0 + w1 * x1 + w2 * x2", 6)} AS pred
           |  FROM feats CROSS JOIN w)
           |ORDER BY doc_id""".stripMargin
      }),

    Q("t18_bpe_train",
      (s, dir) => {
        // ITERATIVE BPE training — t12 is one merge round; a tokenizer
        // needs K (the training loop itself is shared with t19's
        // encoder in bpeWinners below — see its doc for the plan shape
        // and the 100 TB vocab-reduction argument). Output: the merge
        // table — the trained tokenizer artifact. ScaleBoundSpec pins
        // the BPE invariant that round k+1's winning count never
        // exceeds round k's (any post-merge pair either existed before
        // the merge or contains the merged symbol, capping it at the
        // prior winner).
        bpeWinners(s, dir).reduce(_.unionByName(_))
          .select(col("round"), col("lft"), col("rgt"),
            concat(col("lft"), col("rgt")).as("merged"), col("n"))
          .orderBy("round")
      },
      {
        val sep = BPE_SEP_SQL
        val unions = (1 to BPE_K).map { r =>
          s"""SELECT CAST($r AS BIGINT) AS round, string_split(pair,$sep)[1] AS lft,
             |  string_split(pair,$sep)[2] AS rgt, replace(pair,$sep,'') AS merged, n
             |FROM w$r""".stripMargin
        }.mkString("\nUNION ALL\n")
        Some(
          s"""WITH $bpeTrainCtesSql
             |SELECT * FROM (
             |$unions)
             |ORDER BY round""".stripMargin)
      }),

    Q("t19_bpe_encode",
      (s, dir) => {
        // BPE ENCODE — apply t18's trained merge table to the corpus:
        // per doc, the whitespace-token count and the BPE token count
        // under the K trained merges (the number a shard packer or
        // token-budget planner bills against — t17 ESTIMATES it from
        // cheap features; this computes it exactly with the trained
        // tokenizer, closing the train→apply loop). The 100 TB shape is
        // the same classical vocab reduction as training: the merge
        // chain runs ONCE per distinct token (len ≥ 1 this time —
        // encoding must also cover what training's len ≥ 2 cut ignored;
        // a 1-char token is trivially 1 symbol since every merge needs
        // two), as K chained 1-row-broadcast replaces over the vocab
        // frame, never over corpus rows. Per-doc cost is a
        // map-side-combinable (doc, tok) count, one token-keyed join
        // against the vocab lengths (no broadcast hint — the vocab is
        // corpus-derived and unbounded in principle; AQE sizes it), and
        // a map-side-combinable per-doc sum. Symbol count reads
        // straight off the sentinel arithmetic: each symbol carries
        // exactly 2 sentinels, so n_syms = sentinel_count / 2.
        // ScaleBoundSpec ties t18 and t19 together with the merge-mass
        // identity 0 ≤ Σchars − Σn_bpe ≤ Σ_k n_k.
        val SEP = "\u001f"
        // the trained merges come from the persisted artifact
        // (sharedBpeMerges) as a K-row driver list — the K chained
        // replaces collapse into ONE narrow codegen projection over the
        // vocab (literal search/replace strings via the functions API,
        // never string-interpolated into expr — a corpus token may
        // contain anything), instead of K
        // crossJoin-broadcast rounds over a freshly re-trained chain.
        // The dry-corpus empty-winner stop marker contributes no
        // artifact rows, matching the old !isEmpty filter exactly.
        val merges = sharedBpeMerges(s, dir)
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
          .filter(length(col("tok")) >= 1)
        var vocab = toks.select("tok").distinct()
          .select(col("tok"), concat(lit(SEP), array_join(expr(
            "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
            SEP + SEP), lit(SEP)).as("s"))
        for ((lft, rgt) <- merges) {
          vocab = vocab.select(col("tok"),
            org.apache.spark.sql.functions.replace(col("s"),
              lit(SEP + lft + SEP + SEP + rgt + SEP),
              lit(SEP + lft + rgt + SEP)).as("s"))
        }
        val lens = vocab.select(col("tok"),
          ((length(col("s")) - length(expr(s"replace(s, '$SEP', '')"))) / 2)
            .cast("long").as("bpe_len"))
        toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
          .join(lens, Seq("tok"))
          .groupBy("doc_id")
          .agg(sum(col("cnt")).cast("long").as("n_ws_tokens"),
            sum(col("cnt") * col("bpe_len")).cast("long").as("n_bpe"))
          .orderBy("doc_id")
      },
      {
        val sep = BPE_SEP_SQL
        // LEFT JOIN ON TRUE, not a comma join: an EMPTY w_r (the corpus
        // ran dry before K rounds) must be an identity round for the
        // encoder, not annihilate the vocab -- mirroring the Spark
        // side's skip of empty winner frames
        val encRounds = (1 to BPE_K).map { r =>
          s"""enc$r AS (
             |  SELECT tok, CASE WHEN pair IS NULL THEN s ELSE replace(s,
             |    $sep||string_split(pair,$sep)[1]||$sep||$sep||string_split(pair,$sep)[2]||$sep,
             |    $sep||replace(pair,$sep,'')||$sep) END AS s
             |  FROM enc${r - 1} LEFT JOIN w$r ON TRUE)""".stripMargin
        }.mkString(",\n")
        Some(
          s"""WITH $bpeTrainCtesSql,
             |toks AS (
             |  SELECT doc_id, tok FROM (
             |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
             |    FROM documents)
             |  WHERE length(tok) >= 1),
             |enc0 AS (
             |  SELECT tok, $sep || array_to_string([tok[i:i]
             |           for i in range(1, length(tok)+1)], $sep||$sep) || $sep AS s
             |  FROM (SELECT DISTINCT tok FROM toks)),
             |$encRounds,
             |lens AS (
             |  SELECT tok, CAST((length(s) - length(replace(s, $sep, ''))) / 2 AS BIGINT) AS bpe_len
             |  FROM enc$BPE_K)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ws_tokens,
             |  CAST(sum(bpe_len) AS BIGINT) AS n_bpe
             |FROM toks JOIN lens USING (tok)
             |GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)
      }),
  )

  /** BPE merge-round count shared by t18 (train) and t19 (encode). */
  private def BPE_K = 6
  private def BPE_SEP_SQL = "chr(31)"

  /** t18's training loop: K rounds of count-pairs → merge-winner →
    * recount on the merged stream (Sennrich ACL'16), returned as the K
    * per-round 1-row winner frames (lft, rgt, n, round), each
    * localCheckpointed so callers can chain them freely. The 100 TB
    * shape comes from the classical vocab reduction: the corpus
    * collapses ONCE into (distinct token, frequency) — one corpus-wide
    * shuffle whose key space is the token vocabulary — and all K rounds
    * then run on that vocab-sized frame with pair counts weighted by
    * frequency, so per-round cost is bounded by |vocab|·|word|,
    * independent of corpus row count. Symbol streams are
    * sentinel-wrapped strings (U+001F never occurs in text; every
    * symbol wrapped ␟sym␟, so the merge is ONE codegen'd leftmost
    * non-overlapping replace(␟A␟␟B␟ → ␟AB␟) that can never match
    * mid-symbol — the string-level equivalent of Sennrich's
    * boundary-guarded regex, shared verbatim by the DuckDB twin).
    * Winner selection is a deterministic TakeOrdered over the
    * alphabet²-bounded pair aggregate (count desc, pair asc); the 1-row
    * winner enters the merge as a broadcast scalar crossJoin (the
    * repo's scalar pattern) and localCheckpoint truncates each round's
    * lineage exactly as Corpus.pageRankConverged does, so round k's
    * plan never re-executes rounds 1..k−1.
    */
  /** PERSISTED trained merge table, once per documents table
    * ([[graft.core.Artifacts]]) — the sharedCentroids / sharedPqCodebook
    * rationale applied to the tokenizer artifact: a production
    * tokenizer is trained once per corpus version and then APPLIED
    * everywhere; t19 re-running the whole K-round training loop per
    * encode both mis-times the encode and burns 2K driver-fenced jobs.
    * First caller trains [[bpeWinners]] and writes (round, lft, rgt, n);
    * encode callers read the merges back as a K-row driver list (K =
    * BPE_K = 6 — a dim-sized collect under the repo collect policy; the
    * dry-corpus stop marker is an EMPTY frame, so it contributes no rows
    * and the collected list is exactly the applied merges). t18 keeps
    * in-query training — it IS the training operator; its oracle
    * re-derives the chain in SQL each run.
    */
  private[queries] def sharedBpeMerges(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(String, String)] = {
    val p = Artifacts.dir("bpe_merges", Tables.path(dir, "documents")) { p =>
      bpeWinners(s, dir).reduce(_.unionByName(_))
        .select(col("round"), col("lft"), col("rgt"), col("n"))
        .write.mode("overwrite").parquet(p)
    }
    s.read.parquet(p).orderBy("round").collect()
      .map(r => (r.getString(r.fieldIndex("lft")),
        r.getString(r.fieldIndex("rgt")))).toSeq
  }

  private[queries] def bpeWinners(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[org.apache.spark.sql.DataFrame] = {
    val SEP = "\u001f"
    var stream = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .select(concat(lit(SEP), array_join(expr(
        "transform(sequence(1, length(tok)), i -> substring(tok, i, 1))"),
        SEP + SEP), lit(SEP)).as("s"), col("freq"))
      .localCheckpoint()
    val winners = Seq.newBuilder[org.apache.spark.sql.DataFrame]
    // A corpus can run dry before K rounds (every word collapsed to one
    // symbol → the pair aggregate is EMPTY). Training stops there: the
    // output simply has < K rounds, exactly matching the DuckDB twin,
    // whose empty w_r contributes no union row and collapses every
    // later v_r/w_r. Without the stop, stream.crossJoin(emptyWin)
    // would silently annihilate the stream and burn K − r dead jobs —
    // and encode callers must SKIP the trailing empty frame
    // (t19 filters !isEmpty) or a crossJoin would annihilate the vocab.
    var r = 1
    var dry = false
    while (r <= BPE_K && !dry) {
      val win = stream
        .withColumn("syms", split(trim(col("s"), SEP), SEP + SEP))
        // fully-merged single-symbol streams contribute no pairs; they
        // must be filtered BEFORE the transform -- Spark's
        // sequence(1, 0) is the DESCENDING [1, 0] and element_at(_, 0)
        // throws (the twin's range(1, 1) is just empty). Surfaced by
        // the dry-corpus test: any corpus where a trained merge
        // consumes a whole token crashes round k+1 without this.
        .filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(expr(
          s"transform(sequence(1, size(syms) - 1), " +
            s"i -> concat(element_at(syms, i), '$SEP', element_at(syms, i + 1)))"))
          .as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("n"))
        .orderBy(col("n").desc, col("pair").asc).limit(1)
        .select(split(col("pair"), SEP).getItem(0).as("lft"),
          split(col("pair"), SEP).getItem(1).as("rgt"), col("n"))
        .localCheckpoint()
      winners += win.withColumn("round", lit(r.toLong))
      dry = win.isEmpty
      // syms re-derived from the wrapped string each round: the ONLY
      // carried state is (s, freq)
      if (!dry && r < BPE_K) {
        val merged = stream.crossJoin(broadcast(win.select("lft", "rgt")))
          .select(expr(
            s"replace(s, concat('$SEP', lft, '$SEP', '$SEP', rgt, '$SEP'), " +
              s"concat('$SEP', lft, rgt, '$SEP'))").as("s"), col("freq"))
        val next = merged.localCheckpoint()
        stream.unpersist()
        stream = next
      }
      r += 1
    }
    winners.result()
  }

  /** The DuckDB twin of bpeWinners: CTEs v0 (the freq-weighted len ≥ 2
    * training vocab as sentinel streams) and p_r/w_r/v_r per round —
    * pair counts, the 1-row winner, the merged stream. Shared by the
    * t18 and t19 oracles so both engines' training arithmetic is one
    * text.
    */
  private def bpeTrainCtesSql: String = {
    val sep = BPE_SEP_SQL
    val rounds = (1 to BPE_K).map { r =>
      s"""p$r AS (
         |  SELECT unnest([syms[i] || $sep || syms[i+1]
         |                 for i in range(1, len(syms))]) AS pair, freq
         |  FROM (SELECT string_split(trim(s, $sep), $sep||$sep) AS syms, freq
         |        FROM v${r - 1})),
         |w$r AS (
         |  SELECT pair, CAST(sum(freq) AS BIGINT) AS n FROM p$r
         |  GROUP BY 1 ORDER BY n DESC, pair LIMIT 1),
         |v$r AS (
         |  SELECT replace(s,
         |    $sep||string_split(pair,$sep)[1]||$sep||$sep||string_split(pair,$sep)[2]||$sep,
         |    $sep||replace(pair,$sep,'')||$sep) AS s, freq
         |  FROM v${r - 1}, w$r)""".stripMargin
    }.mkString(",\n")
    s"""v0 AS (
       |  SELECT $sep || array_to_string([tok[i:i]
       |           for i in range(1, length(tok)+1)], $sep||$sep) || $sep AS s,
       |    freq
       |  FROM (SELECT tok, count(*) AS freq FROM (
       |          SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |        WHERE length(tok) >= 2 GROUP BY 1)),
       |$rounds""".stripMargin
  }

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
