package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Caches, Tables}
import graft.functions.MoneyFunctions._

/** Deduplication operators over the `documents` / `embeddings` tables —
  * the training-data-pipeline surface (builder prompt; SURVEY §7.3).
  *
  * Every variant is expressed twice: Spark DataFrame code and a DuckDB
  * oracle, built only from engine-portable primitives:
  *
  *  - hashes are md5 hex STRINGS (lexicographic min of equal-length hex =
  *    numeric min of the 128-bit value, so MinHash needs no int parsing);
  *  - hex digit → int via `instr('0123456789abcdef', c) - 1` (Spark) /
  *    `strpos(...) - 1` (DuckDB);
  *  - float folds are sequential left-to-right double adds with init 0
  *    (Spark `aggregate`, DuckDB `list_reduce` — DuckDB seeds with the
  *    first element, identical to 0+x₁), then [[roundAt]] for the output.
  *
  * Scale posture (100 TB): exact dedup is a single hash-shuffle on the
  * digest; MinHash-LSH shuffles (band_id, band_key) — candidate volume is
  * controlled by band count, not O(n²); the exact-verify stage only sees
  * LSH survivors. The pairwise variants (x4, x5) are deliberately blocked
  * (lang / label) — the O(n²) inside a block is the *baseline* the LSH
  * paths exist to replace.
  */
object DedupQueries {
  import RelationalQueries.{Q, QFn}

  /** DuckDB's range-comprehension twin of
    * [[graft.corpus.Corpus.withShingles]] (distinct word-bigram shingle
    * set of `text`, column `sh`; guard notes there).
    */
  private val shinglesSql =
    """SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
      |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)""".stripMargin

  private[queries] def jaccardSql(a: String, b: String): String =
    s"CAST(len(list_intersect($a, $b)) AS DOUBLE) / len(list_distinct($a || $b))"

  // universal-hash MinHash family, shared with the typed sketch
  // aggregator and reproduced in the oracles — see MinHashFamily.
  import graft.functions.MinHashFamily.P
  private def minhashA(i: Int): Long = graft.functions.MinHashFamily.a(i)
  private def minhashB(i: Int): Long = graft.functions.MinHashFamily.b(i)
  private val minhashASql: String = graft.functions.MinHashFamily.aSql
  private val minhashBSql: String = graft.functions.MinHashFamily.bSql

  /** per-doc `bits`-wide SimHash (`doc_id`, `simhash<bits>`) over the
    * distinct word set: per bit j, sum ±1 votes from each word's md5
    * bits, sign → bit. Shared by x3 (16-bit, hamming-0 groups) and x31
    * (48-bit, hamming ≤ 3 blocked near-match — 16 bits saturates its
    * bucket space at corpus scale; 48 stays within a positive BIGINT in
    * both engines). Both aggregations are map-side-combinable sums over
    * (doc, j) / (doc) keys, so the build is two narrow shuffles.
    */
  private def simhash(s: SparkSession, dir: String, bits: Int): DataFrame =
    // the native codegen kernel ([[graft.functions.SimHash]]): the same
    // distinct-word ±1 vote sums, folded per row — the relational
    // formulation (distinct-explode → bits× posexplode → two shuffled
    // aggs) multiplied the corpus by words×bits before the first
    // exchange; the hash of a doc never needs to leave its row.
    // SimHashParitySpec pins bit-equality against that formulation;
    // the DuckDB oracle CTE ([[simhashSql]]) still computes it
    // relationally, so every x3/x31 run re-proves the kernel
    // cross-engine.
    // Null text is dropped BEFORE hashing (r10 ADVICE): the kernel is
    // null-intolerant (NULL in → NULL hash row out), but the relational
    // formulation — and the oracle CTE — explode the word set, so a
    // null-text doc vanishes from their output entirely. A corpus with
    // null text would diverge between engines without this filter;
    // SimHashParitySpec pins the dropped-doc semantics.
    Tables.documents(s, dir).filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.SimHash(col("text"), bits).as(s"simhash$bits"))

  /** DuckDB twin of [[simhash]] — a `WITH … h` prefix ending at the
    * per-doc hash CTE, shared by the x3 and x31 oracles.
    */
  private def simhashSql(bits: Int) =
    s"""WITH w AS (
      |  SELECT DISTINCT doc_id, w FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
      |v AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(w), (j // 4) + 1, 1)) - 1)
      |               >> (3 - (j % 4))) & 1 = 1 THEN 1 ELSE -1 END) AS sj
      |  FROM w, unnest(range(0, $bits)) t(j) GROUP BY 1, 2),
      |h AS (
      |  SELECT doc_id,
      |    CAST(SUM((CASE WHEN sj >= 0 THEN 1 ELSE 0 END) << (${bits - 1} - j)) AS BIGINT) AS simhash$bits
      |  FROM v GROUP BY 1)""".stripMargin

  /** shingles + per-shingle 48-bit bases (`bases`), one md5 per shingle,
    * as a narrow per-row projection — no explode, no shuffle. Shared by
    * the LSH signature build (x2) and the sketch UDAF (x9).
    */
  private def withShingleBases(df: DataFrame): DataFrame =
    graft.corpus.Corpus.withShingles(df).withColumn("bases",
      graft.functions.MinHashBases(col("sh")))

  /** exact common-shingle counts per (doc_a < doc_b) pair within a lang
    * block — the inverted-index self-join behind x4, with per-key salt
    * fan-out against posting-list skew. A (lang, shingle) key with df
    * postings joins under nsalt = ceil(df / saltChunk) salts (capped at
    * 256): the left side is keyed by pmod(doc_id, nsalt), the right side
    * replicated once per salt, so the key's df² pair-chunks spread over
    * nsalt reducers instead of one. Normal keys get nsalt = 1 — zero
    * replication, and the join stays eligible for AQE's broadcast pick.
    * Every co-occurrence matches exactly once for ANY saltChunk, so the
    * output is saltChunk-invariant (DedupSaltSpec pins a tiny-chunk run
    * against the default).
    *
    * Output carries each side's shingle-set size and the lang block
    * (`n_a`/`n_b`/`lang`, constant per pair, folded into the same
    * partial agg) so callers never re-join a doc-sizes table — on a real
    * corpus that join re-runs the whole shingling subtree per side.
    * Postings on df = 1 keys are dropped before the self-join: a shingle
    * seen in one doc can produce no pair, and on a Zipfian vocabulary
    * that tail is most of the index.
    */
  private[queries] def ngramJaccardCommon(docs0: DataFrame,
      saltChunk: Long = 1024L, lengthFilter: Boolean = true,
      idfWeighted: Boolean = false): DataFrame = {
    // Shingle once, reuse: the shingling expression (higher-order
    // transform + array_distinct — outside whole-stage codegen) is the
    // single most expensive scalar stage here, and this plan evaluates
    // `docs0` on BOTH sides of the postings⨝dfCounts join (plus the
    // weighted branch's corpus count). Caching the doc-grain shingled
    // frame (MEMORY_AND_DISK, spills at scale — the materialize-the-
    // shingled-table pattern a production pipeline uses) makes every
    // re-read columnar. Idempotent when the caller already cached the
    // same plan; released by spark.catalog.clearCache() per the
    // nearDupPairs contract.
    val docs = docs0.cache()
    ngramJaccardCommonFrom(docs,
      indexedPostings(docs, saltChunk, withRank = false),
      lengthFilter, idfWeighted)
  }

  /** count-everything inverted-index core over a pre-built
    * [[indexedPostings]] frame — split out so x28 can read the
    * per-process persisted index ([[sharedIndexPath]]) instead of
    * rebuilding the explode + df join. `docs` is only consulted for the
    * weighted branch's corpus-size scalar.
    */
  // docs is BY-NAME: it feeds only the corpus-size scalar of the
  // weighted-without-index branch, so callers on the persisted artifact
  // (weightsOnIndex = true) never materialize — or even plan — it.
  private[queries] def ngramJaccardCommonFrom(docs: => DataFrame,
      postings0: DataFrame, lengthFilter: Boolean = true,
      idfWeighted: Boolean = false,
      weightsOnIndex: Boolean = false): DataFrame = {
    val weighted = idfWeighted
    // weighted mode (x28): every shingle weighs N_docs/df — one IEEE
    // division, bit-identical across engines — and each doc's total
    // weighted size W rides the postings as a constant column (the n_a
    // carry-through trick), computed BEFORE the df ≥ 2 index prune
    // because a doc's df = 1 singletons still count toward its W. The
    // window is one extra doc-keyed shuffle of the posting table, paid
    // only when weighting is on; doc-sized partitions, no skew beyond
    // document length. The corpus size N is folded into the plan as a
    // broadcast 1-row aggregate (column pruning reduces it to a
    // metadata-cheap scan) instead of a separate driver-side count()
    // job — the weight division reads the scalar per row.
    // weightsOnIndex (r10): a withRank posting index already CARRIES
    // w/wsum (Corpus.postingIndex computes them in the rank window) —
    // callers on the shared persisted artifact pass true and skip the
    // recompute shuffle entirely.
    val withDf0 = postings0
      .select("doc_id", "lang", "n", "shingle", "df", "nsalt")
    val withDf =
      if (!weighted) withDf0
      else if (weightsOnIndex) postings0
        .select("doc_id", "lang", "n", "shingle", "df", "nsalt", "w", "wsum")
      else {
        val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
        val perDoc = Window.partitionBy("doc_id")
        withDf0.crossJoin(broadcast(nDocs))
          .withColumn("w", col("__n_docs") / col("df")).drop("__n_docs")
          .withColumn("wsum", sum(col("w")).over(perDoc))
      }
    val p = withDf
      .filter(col("df") >= 2)
    // one physical build feeds both sides: the replicated (right) side is
    // cached, and the left side is its salt-matching subset (each posting
    // appears under exactly one salt = pmod(doc_id, nsalt)), so the
    // inverted index isn't recomputed per join input. The cache follows
    // the nearDupPairs contract (released by spark.catalog.clearCache()).
    val bCols = Seq("doc_id", "lang", "n", "shingle", "nsalt", "salt") ++
      (if (weighted) Seq("w", "wsum") else Nil)
    val b = p.withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
      .select(bCols.map(col): _*).cache()
    val a = b.filter(col("salt") === pmod(col("doc_id"), col("nsalt")))
    // the ×2 length bound is jaccard-≥-0.5-specific (see x4's note) —
    // containment callers (x20) must see ALL size ratios, so it is
    // optional
    val baseCond = col("a.lang") === col("b.lang") &&
      col("a.shingle") === col("b.shingle") &&
      col("a.salt") === col("b.salt") &&
      col("a.doc_id") < col("b.doc_id")
    val cond = if (lengthFilter)
      baseCond && greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * 2
    else baseCond
    val aggs = Seq(
      count(lit(1)).as("common"),
      max(col("a.n")).as("n_a"), max(col("b.n")).as("n_b"),
      max(col("a.lang")).as("lang")) ++
      (if (weighted)
        Seq(sum(col("a.w")).as("wc"),
          max(col("a.wsum")).as("w_a"), max(col("b.wsum")).as("w_b"))
      else Nil)
    a.as("a").join(b.as("b"), cond)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** prefix-filtered containment pairs (PPJoin's prefix principle,
    * Xiao et al., WWW'08): pairs whose max directional containment
    * c = |A∩B| / min(|A|,|B|) is ≥ t, with exact counts.
    *
    * The full inverted-index self-join's candidate volume is Σ df² over
    * posting lists — salting spreads it over reducers but nothing
    * shrinks it, which is the 100 TB failure mode. The prefix filter
    * shrinks it: order each doc's (df ≥ 2) shingles by ascending global
    * (df, shingle) and emit only the first ⌊(1−t)·n⌋+1 as PROBE
    * postings. For any qualifying pair, the smaller doc S has
    * |A∩B| ≥ t·|S| common shingles, while at most ⌈t·|S|⌉−1 of S's
    * indexed shingles lie outside its prefix — so at least one common
    * shingle falls in S's prefix, and probing prefixes against the FULL
    * index finds every qualifying pair. (The prefix length is computed
    * against a threshold tightened by 1e-6 so the 6-dp half-even
    * rounding of the final score can never admit a pair the prefix
    * already discarded; the full doc size n — including df = 1
    * singletons — is the basis, which only lengthens the prefix.)
    * Probe volume concentrates on RARE shingles (ascending-df order),
    * so hot boilerplate keys mostly vanish from the probe side; the
    * build side keeps x4's per-key salt fan-out against the ones that
    * remain (output salt-invariant — DedupSaltSpec).
    *
    * Candidates (distinct unordered id pairs) are then verified exactly
    * from the shingle SETS — two doc-keyed joins and one
    * array_intersect per candidate — instead of counting via the
    * posting join, so verification cost rides the (prefix-bounded)
    * candidate count, not Σ df².
    *
    * This method is the candidate stage, exposed separately so the spec
    * can measure the prefix filter's reduction and pin salt-invariance
    * without running the verify join: distinct (doc_a < doc_b) pairs
    * sharing at least one prefix shingle of either side.
    * [[containmentPairs]] composes it with the exact verify.
    */
  /** every posting of a shingled doc frame with its (lang, shingle)
    * document frequency `df`, the per-doc prefix rank `rn` among df ≥ 2
    * postings in ascending (df, shingle) order (null on df = 1 rows —
    * a df = 1 shingle can produce no pair, so it can never sit in a
    * probe prefix, but x28's weighted sizes still need the row), and
    * the skew salt fan-out width `nsalt` = ceil(df / saltChunk) ≤ 256.
    * This is the t-INDEPENDENT part of the PPJoin machinery — one
    * artifact serves every threshold (x4 at 0.5, x20 at 0.4) and the
    * weighted index (x28), which is what lets [[sharedIndexPath]]
    * persist it once per documents table. The rank is a running
    * count of df ≥ 2 rows over the SAME (df, shingle) doc-ordering a
    * row_number over the pre-filtered frame would use (all df = 1 rows
    * sort first within a doc, so the running count equals the rank
    * among df ≥ 2 rows) — one window pass instead of a filter + union.
    */
  private[queries] def indexedPostings(docs: DataFrame,
      saltChunk: Long = 1024L, withRank: Boolean = true): DataFrame =
    // single implementation lives on the library surface (the
    // artifact is CLI-materializable via Corpus.writePostingIndex; n2 =
    // the doc's df ≥ 2 posting count, consumed by the positional
    // filter's remainder arithmetic in [[containmentCandidatesFrom]])
    graft.corpus.Corpus.postingIndex(docs, saltChunk, withRank)

  /** candidate stage over a pre-built [[indexedPostings]] frame: the
    * threshold-dependent prefix cut + salted self-join. Split from
    * [[containmentCandidates]] so the posting build can come from the
    * per-process persisted index ([[sharedIndexPath]]) instead of being
    * recomputed per query.
    */
  private[queries] def containmentCandidatesFrom(postings0: DataFrame,
      t: Double, maxLenRatio: Option[Double] = None,
      posFilter: Boolean = true, matchRows: Option[Long] = None): DataFrame = {
    val tEff = t - 1e-6
    // one physical posting build feeds both sides (x4's cache pattern):
    // the replicated full index is cached; the probe side is its
    // prefix-and-own-salt subset, so the index isn't recomputed per
    // join input. Released by spark.catalog.clearCache().
    val b = postings0
      .filter(col("df") >= 2)
      .withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
      .select("doc_id", "lang", "n", "shingle", "nsalt", "salt", "rn", "n2")
      .cache()
    val a = b.filter(
      col("rn") <= (floor(col("n") * lit(1.0 - tEff)) + 1).cast("int") &&
      col("salt") === pmod(col("doc_id"), col("nsalt")))
    // MEASURED width dispatch (r17 — m6's r16 exchange-sizing discipline
    // applied to the one stage that still spilled at sf10: the prefix-
    // candidate join's SMJ sorts + the pair distinct, r15 StageProfile).
    // The stage's cost is its OUTPUT fan-out (Σ_probe df match rows
    // feeding the residual predicates and the pair distinct), but AQE
    // sizes it by its INPUT bytes — MBs of posting rows — so at scale a
    // handful of tasks absorb a 10⁸-row working set (the r15 global
    // partition raise moved x20 only 13%: AQE coalesced the raise right
    // back). Callers on the write-once shared artifact pass the memoized
    // Σ_probe df ([[sharedProbeMatchRows]]); when the measured fan-out
    // exceeds what the session default width gives ~1M match rows per
    // task, BOTH candidate exchanges are repartitioned explicitly —
    // user-specified partitioning AQE must honor; the pair repartition
    // IS the distinct's exchange (HashPartitioning on the dedup keys
    // satisfies the aggregate's distribution), so this widens existing
    // shuffles rather than adding one. Below that, the natural plan
    // stands untouched (this battery's SFs; callers passing None — e.g.
    // x32's per-run sampled index — keep the natural plan always).
    val baseWidth = postings0.sparkSession.sessionState.conf.numShufflePartitions
    val width = matchRows.map(m => math.min(4096L,
      math.max(baseWidth.toLong, m / 1000000L)).toInt).getOrElse(baseWidth)
    val aSized =
      if (width > baseWidth)
        a.repartition(width, col("lang"), col("shingle"), col("salt"))
      else a
    // probe from EITHER side's prefix, normalize to doc_a < doc_b, dedup
    // candidates. The AllPairs size-ordering refinement — probe only from
    // the (n, doc_id)-smaller side, valid because containment at t
    // guarantees c ≥ t·min so the smaller prefix always holds a common
    // shingle — was tried (r7) and REVERTED: a paired in-JVM A/B at sf0.1
    // measured it ~30% SLOWER for both x4 and x20 (x4 4.84 vs 7.07 s,
    // x20 4.70 vs 5.77 s, order-independent, 4 passes). The probe work is
    // identical either way (the restriction is a post-hash-match
    // residual), distinct KEYS are identical, and the halved residual
    // selectivity evidently costs more through AQE's downstream stats
    // than the halved pre-distinct volume saves. Don't re-try without a
    // paired measurement.
    // Jaccard callers pass maxLenRatio (= 1/tEff): j ≥ t with c ≤ min
    // forces max ≤ min/t, so the size prune inside the join predicate is
    // output-preserving there. Containment callers must see ALL ratios.
    val baseCond = col("a.lang") === col("b.lang") &&
      col("a.shingle") === col("b.shingle") &&
      col("a.salt") === col("b.salt") &&
      col("a.doc_id") =!= col("b.doc_id")
    val cond = maxLenRatio.fold(baseCond)(r => baseCond &&
      greatest(col("a.n"), col("b.n")) <= least(col("a.n"), col("b.n")) * lit(r))
    // PPJoin positional filter (Xiao et al., WWW'08 §3.2): a match at
    // ranks (rn_a, rn_b) within the df ≥ 2 posting lists of sizes
    // (n2_a, n2_b) bounds the pair's total common count by
    // 1 + min(n2_a − rn_a, n2_b − rn_b) — both lists are ordered by the
    // SAME global (df, shingle) order, so the common shingles after this
    // one occupy distinct higher ranks on each side. Any qualifying pair
    // needs c ≥ ⌈tEff·min(n_a, n_b)⌉ (containment; jaccard needs more),
    // and its FIRST common shingle — minimal rank on both sides, inside
    // the probing side's prefix because prefixes are down-sets of the
    // rank order — yields a bound ≥ c, so at least one of the pair's
    // match rows always survives: dropping the failing rows BEFORE the
    // distinct is lossless (pinned vs unpruned in DedupSaltSpec) while
    // it thins the distinct shuffle and the verify join's input.
    val posBound = lit(1) +
      least(col("a.n2") - col("a.rn"), col("b.n2") - col("b.rn"))
    val posReq = ceil(lit(tEff) * least(col("a.n"), col("b.n")) - lit(1e-9))
      .cast("int")
    val pairs0 = aSized.as("a").join(b.as("b"),
      if (posFilter) cond && posBound >= posReq else cond)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
    (if (width > baseWidth)
       pairs0.repartition(width, col("doc_a"), col("doc_b"))
     else pairs0)
      .distinct()
  }

  /** weighted-jaccard pairs (wj ≥ t) via a WEIGHTED prefix filter —
    * Bayardo et al. (WWW'07 §3)'s All-Pairs bound generalized to
    * idf-weighted overlap, replacing x28's count-everything inverted
    * index (the r9 verdict's one measured scale-killer: 390× shuffle
    * growth at sf1, 9.5 GB spill, because nothing shrank Σ df²).
    *
    * Validity. wj = wc / (W_a + W_b − wc) ≥ t with wc ≤ min(W_a, W_b)
    * forces wc ≥ t·W_a AND wc ≥ t·W_b individually (same algebra as
    * the unweighted case, weights in place of counts). All of wc sits
    * on df ≥ 2 shingles (a df = 1 shingle co-occurs with nothing), at
    * ranks ≥ the pair's first common shingle in the global ascending
    * (df, shingle) order — so if every common shingle of doc A had
    * suffix-inclusive weight wrem < t·W_a, then wc ≤ wrem(first) <
    * t·W_a, a contradiction. Hence at least one common shingle lies in
    * A's weighted prefix {wrem ≥ t·W_a} (a down-set of the rank
    * order), and probing prefixes against the FULL index loses
    * nothing. The ascending-df order makes this prefix cheap twice
    * over: rare shingles carry the LARGEST weights (w = N/df), so the
    * suffix weight drains within a few rank steps — short prefixes —
    * and those few probe postings have the SMALLEST df — short posting
    * lists. Probe volume rides Σ_prefix df, not Σ df².
    *
    * Positional filter, weighted (x4's Xiao et al. bound with weight
    * remainders replacing counts): for the pair's FIRST common shingle
    * — minimal rank on both sides, because both lists share the global
    * order — all intersection weight sits at this rank or later on
    * BOTH sides, so wc ≤ min(wrem_a, wrem_b). Rows failing
    * min(wrem_a, wrem_b) ≥ t·max(W_a, W_b) are dropped BEFORE the
    * distinct: a qualifying pair's first-match row always passes (wc
    * sits inside both remainders and wc ≥ t·max), so the prune is
    * lossless while it thins the distinct shuffle.
    *
    * Thresholds are tightened to t − 1e-6 (so 6-dp rounding of the
    * final score can never admit a pair the prefix discarded) and the
    * weight comparisons get a further 1e-9 RELATIVE slack (the running
    * double sums carry O(n·ulp) error; slack only LENGTHENS the
    * prefix, and the exact verify decides membership — over-inclusion
    * costs candidates, never correctness).
    *
    * Verification re-joins the candidate pairs to the df ≥ 2 postings
    * (two doc-keyed joins + one grouped sum) — exact wc, common, and
    * the carried sizes, at a cost riding the prefix-bounded candidate
    * count, not Σ df². Salt fan-out and the one-physical-build cache
    * pattern are x4's ([[containmentCandidatesFrom]]).
    */
  private[queries] def weightedJaccardPairs(postings0: DataFrame,
      t: Double): DataFrame = {
    val tEff = t - 1e-6
    val b = postings0
      .filter(col("df") >= 2)
      .withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
      .select("doc_id", "lang", "shingle", "nsalt", "salt", "w", "wrem", "wsum")
      .cache()
    val slack = lit(tEff - 1e-9)
    val a = b.filter(
      col("wrem") >= slack * col("wsum") &&
      col("salt") === pmod(col("doc_id"), col("nsalt")))
    val cond = col("a.lang") === col("b.lang") &&
      col("a.shingle") === col("b.shingle") &&
      col("a.salt") === col("b.salt") &&
      col("a.doc_id") =!= col("b.doc_id") &&
      least(col("a.wrem"), col("b.wrem")) >=
        slack * greatest(col("a.wsum"), col("b.wsum"))
    // NO suffix bound (removed r10, self-review): a PPJoin+-style
    // suffix cut (wprefix + min(suffix weight) < t·max(W) → drop) is
    // NOT sound on these match rows, because the positional filter in
    // `cond` has already pruned them. A common shingle that sits in
    // A's prefix but fails the positional check on B's side vanishes
    // from the aggregation, so the "exact" prefix-common weight
    // undercounts and the bound can drop a QUALIFYING pair.
    // Counterexample (t = 0.5): A = [g1 w5, g2 w4, a3 w1] (W_a = 10),
    // B = [g1 w5, b2 w4.1, g2 w4, b1 w2.9] (W_b = 16): wc = 9 ≥ 8
    // qualifies, but g2's match row fails min(wrem) ≥ t·max(W)
    // (min(5, 6.9) < 8), leaving wprefix = 5, suffix mins 1 and 2.9 →
    // bound 6 < 8 → dropped. WeightedPositionalLosslessSpec pins this
    // exact corpus. Computing the bound soundly would require
    // aggregating UNPRUNED match rows — giving up the positional
    // filter's shuffle thinning, which costs more than the suffix cut
    // saved. Prefix + positional alone are provably lossless: a
    // qualifying pair's FIRST common shingle always survives both.
    val cand = a.as("a").join(b.as("b"), cond)
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
    val p = postings0.filter(col("df") >= 2)
      .select("doc_id", "lang", "n", "shingle", "w", "wsum")
    cand
      .join(p.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(p.as("pb"),
        col("doc_b") === col("pb.doc_id") &&
        col("pa.lang") === col("pb.lang") &&
        col("pa.shingle") === col("pb.shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("common"),
        sum(col("pa.w")).as("wc"),
        max(col("pa.n")).as("n_a"), max(col("pb.n")).as("n_b"),
        max(col("pa.wsum")).as("w_a"), max(col("pb.wsum")).as("w_b"),
        max(col("pa.lang")).as("lang"))
  }

  /** engine dispatch for weighted jaccard — an AQE-style cost choice on
    * a MEASURED index statistic rather than a fixed plan. The weighted
    * prefix filter's candidate volume rides Σ_probe df (probe postings
    * × their posting-list lengths); the count-everything index rides
    * Σ df² = Σ_postings df. Their ratio — the probe-volume fraction —
    * is one cheap column-pruned aggregate over the persisted posting
    * index, and it cleanly separates the two corpus regimes:
    *
    *  - Boilerplate-heavy / Zipfian df (the 100 TB web-corpus shape,
    *    and the r9 verdict's stated failure mode): hot shingles carry
    *    df² pair work but near-zero idf weight, so they sort to the
    *    suffix and fall OUT of every probe prefix — the fraction
    *    collapses toward 0 and the prefix engine's candidate+verify
    *    cost is a small multiple of the TRUE near-dup volume, while
    *    count-everything pays the full Σ df² explosion (measured ×2.1
    *    wall-clock on the sf1-skew fixture, and unboundedly worse as
    *    boilerplate df grows).
    *  - Flat-df corpora at low t (this repo's synthetic testdata at
    *    t = 0.3): the prefix must cover ~(1−t) of near-uniform weight,
    *    the fraction sits at 0.5–0.7, candidates explode (measured
    *    16.4M candidates for 1 080 qualifying pairs at sf1) and the
    *    map-side-combined count-everything aggregation is 10×+ faster.
    *
    * Both engines are output-identical after 6-dp rounding (lossless
    * prefix filter — DedupSaltSpec pins equality), so the dispatch can
    * never change the answer, only the plan — the same contract AQE
    * itself operates under. One caveat on that equality (r10 ADVICE):
    * it rests on the two engines' double SUMS agreeing below the 6-dp
    * rounding — the index computes wsum in a deterministic window-sort
    * order while count-everything sums in partition order, so a
    * wjaccard landing EXACTLY on a rounding boundary could in principle
    * flip between engines. Empirically pinned (DedupSaltSpec equality +
    * sf1/sf1-skew hash-exact vs an arbitrary-order DuckDB oracle, whose
    * agreement shows the sums are orders of magnitude inside the
    * boundary at every tested scale); making it structural would mean
    * DECIMAL wsum end-to-end (t17's sufficient-statistics pattern).
    *
    * Cutoff 0.08 (r12 — moved from 0.15 after the crossover was
    * finally BRACKETED; r10 item 2). The r10 cutoff sat between two
    * far measurements (0.62 flat sf1: count-everything wins 8×;
    * 0.0005 boilerplate: prefix wins 1 900× in volume). The r12
    * CrossoverSweep fills the middle at sf0.1 — the flat corpus
    * unioned with a template block dialed across the band, both
    * engines timed warm, outputs verified equal per point:
    * fraction 0.38 → count-everything 6.0× faster, 0.175 → 4.8×,
    * 0.092 → STILL 2.4×, 0.056 → tie (prefix 14.5 s vs 15.4). The
    * wall-clock crossover is ≈ 0.06, so 0.15 dispatched a ~13 s
    * prefix plan where a ~3–5 s count-everything plan existed across
    * the whole 0.06–0.15 band. 0.08 sits inside the measured bracket
    * (0.056, 0.092) — every measured point on both sides dispatches
    * to its faster engine — biased above the tie point because the
    * losing direction is asymmetric at scale: picking count-
    * everything slightly below the true crossover costs a bounded
    * ~2×, while its Σ df² cost grows quadratically in template mass
    * (B=2400 → 3200 moved it 5.5 s → 15.4 s) so above the crossover
    * the prefix side must win before the explosion. BASELINE §r12
    * records the full bracketing table; WeightedPrefixScaleSpec pins
    * the mid-regime fixture's fraction and engine equality.
    */
  // docs is BY-NAME and currently dead on both branches (the prefix
  // engine reads only the index; the count-everything branch runs
  // weightsOnIndex = true, whose w/wsum come precomputed) — kept so the
  // signature matches ngramJaccardCommonFrom's contract without ever
  // adding a scan to x28's plan.
  private[queries] def weightedJaccardAdaptive(docs: => DataFrame,
      postings0: DataFrame, t: Double,
      probeFractionCutoff: Double = 0.08): DataFrame = {
    val slack = lit(t - 1e-6 - 1e-9)
    val r = postings0.filter(col("df") >= 2)
      .agg(sum("df").as("vol"),
        sum(when(col("wrem") >= slack * col("wsum"), col("df"))).as("probe"),
        count(lit(1)).as("rows"), count(col("wsum")).as("wsum_rows"),
        count(col("wrem")).as("wrem_rows"))
      .first()
    // an index built withRank=false carries null w/wsum/wrem: the probe
    // aggregate would sum to null → 0, dispatch would pick the prefix
    // engine, and its null-wrem prefix filter would drop EVERY posting —
    // a wrong-but-plausible empty answer. Fail loudly instead (r10
    // ADVICE; unreachable from x28, whose persisted index is always
    // ranked — this guards future callers).
    require(r.getLong(2) == 0L ||
        (r.getLong(3) == r.getLong(2) && r.getLong(4) == r.getLong(2)),
      "weightedJaccardAdaptive needs a posting index built withRank=true " +
        "(w/wsum/wrem must be non-null on every df>=2 posting)")
    val volAll = if (r.isNullAt(0)) 0L else r.getLong(0)
    val volProbe = if (r.isNullAt(1)) 0L else r.getLong(1)
    if (volAll == 0L || volProbe <= probeFractionCutoff * volAll)
      weightedJaccardPairs(postings0, t)
    else
      ngramJaccardCommonFrom(docs, postings0,
        lengthFilter = false, idfWeighted = true, weightsOnIndex = true)
  }

  /** hamming-≤3 pairs over DISTINCT 48-bit hash values via pigeonhole
    * blocking (Manku et al., WWW'07): each hash splits into 4 12-bit
    * blocks; a pair at hamming ≤ 3 has its ≤ 3 differing bits in ≤ 3
    * blocks, so it agrees EXACTLY on ≥ 1 block — candidates come from
    * equi-joins on (block_id, block_value), lossless at the threshold
    * by construction, verified with one codegen'd `bit_count(a ^ b)`
    * per candidate. `dh` must carry ONE row per distinct hash (plus any
    * group-stat columns, carried through both sides with `a_`/`b_`
    * prefixes); a hot (blk, bval) — many distinct hashes agreeing on
    * one block value, e.g. the all-dark block of underexposed media —
    * is spread over ceil(bdf/saltChunk) ≤ 256 reducers with x4's salt
    * scheme (left side keyed by pmod(hash, nsalt), right side
    * replicated per salt, every pair matched exactly once per agreeing
    * block), so no single task ever owns a whole hot block's pair
    * volume. Output is one row per unordered pair (h_a < h_b): a pair
    * can agree on up to 4 blocks, so each candidate keeps only its
    * FIRST agreeing block — a pure bit test on `h_a ^ h_b` (the lowest
    * j whose 12-bit slice of the xor is zero), deciding the canonical
    * copy without the exchange a `distinct()` would cost (r12: that
    * shuffle was one of the sequential AQE stages behind the engine's
    * r11 fixed overhead).
    */
  private[queries] def pigeonholeDistinctPairs(dh: DataFrame, hashCol: String,
      saltChunk: Long = 1024L): DataFrame = {
    val carry = dh.columns.filter(_ != hashCol).toSeq
    val blocks = dh.select(col(hashCol) +: carry.map(col) :+ posexplode(
        expr(s"transform(sequence(0, 3), j -> shiftright($hashCol, 36 - 12 * j) & 4095)")): _*)
      .toDF((hashCol +: carry) ++ Seq("blk", "bval"): _*)
    val bdf = blocks.groupBy("blk", "bval").agg(count(lit(1)).as("bdf"))
    val b = blocks.join(bdf, Seq("blk", "bval"))
      .withColumn("nsalt",
        least(ceil(col("bdf") / lit(saltChunk.toDouble)), lit(256L)).cast("int"))
      .withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
    val a = b.filter(col("salt") === pmod(col(hashCol), col("nsalt")))
    // first agreeing block of the pair: block j spans bits
    // (36−12j)..(47−12j), so blocks agree iff that slice of the xor is
    // all-zero; ELSE 3 is safe because the equi-join guarantees SOME
    // block agrees. Keeping only blk == firstAgree emits each unordered
    // pair exactly once (per agreeing block the salt equi-match is
    // unique: a is pinned to pmod(h_a, nsalt), b carries every salt).
    val firstAgree =
      s"""CASE WHEN ((a.$hashCol ^ b.$hashCol) & ${4095L << 36}L) = 0 THEN 0
         |     WHEN ((a.$hashCol ^ b.$hashCol) & ${4095L << 24}L) = 0 THEN 1
         |     WHEN ((a.$hashCol ^ b.$hashCol) & ${4095L << 12}L) = 0 THEN 2
         |     ELSE 3 END""".stripMargin
    a.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.bval") === col("b.bval") &&
          col("a.salt") === col("b.salt") &&
          col(s"a.$hashCol") < col(s"b.$hashCol"))
      .filter(expr(s"bit_count(a.$hashCol ^ b.$hashCol) <= 3"))
      .filter(col("a.blk") === expr(firstAgree))
      .select((col(s"a.$hashCol").as("h_a") +: carry.map(c => col(s"a.$c").as(s"a_$c"))) ++
        (col(s"b.$hashCol").as("h_b") +: carry.map(c => col(s"b.$c").as(s"b_$c"))): _*)
  }

  /** hamming-≤3 neighborhoods over a 48-bit hash column — x31's scheme,
    * factored out so the perceptual-hash dedup x34 rides the same
    * machinery. Returns one row per id WITH neighbors:
    * (idCol, min_nbr, n_near).
    *
    * Scale shape (r11 — the r10 verdict's hot-block fix): identical
    * hashes are collapsed FIRST (hamming-0 groups — the degenerate
    * near-black-media population that makes one aHash value carry k²
    * pair work). A group of k identical hashes contributes its members'
    * mutual neighborhoods by ARITHMETIC (k−1 neighbors each, min /
    * second-min of the group), never a pair join; the block join then
    * runs over DISTINCT hash values only ([[pigeonholeDistinctPairs]],
    * hot residual blocks salted), and cross-group neighbor counts are
    * group-size sums. All per-pair work therefore rides the distinct-
    * hash population — 1M identical frames cost one group-by row — and
    * the result is bit-identical to the naive per-id join (the DuckDB
    * oracles brute-force all id pairs, so losslessness is re-proven
    * every correctness run; PerceptualDegenerateSpec pins the volume
    * bound).
    */
  private[queries] def pigeonhole48Neighbors(hashes: DataFrame,
      idCol: String, hashCol: String, saltChunk: Long = 1024L): DataFrame = {
    // Known trade, measured r12: the hash frame is consumed twice here
    // (group stats + the final id join) and once more by every caller's
    // output join, so the hash KERNEL runs 3× per query — for the
    // multimodal callers that kernel includes the per-payload decode.
    // A .cache() here was tried and REVERTED: it more than doubles the
    // AQE job count (16 → 39 measured — InMemoryRelation blocks
    // exchange reuse) and rebuilds per run under the clearCache
    // measurement contract, costing more than the re-computed kernel at
    // every tested scale. When decode is genuinely expensive the right
    // reuse is a persisted hash artifact (the writeFrameIndex pattern),
    // not an in-plan cache.
    // ALL group stats — size, min id, and the min's own in-group nearest
    // (second-min id) — in ONE groupBy with map-side partial aggregation
    // ([[graft.functions.TwoSmallest]] keeps the ordered pair in the agg
    // buffer), so the shuffle moves one 3-field row per distinct hash
    // per map partition. r11 shipped this frame as THREE window
    // functions over partitionBy(hashCol) — an exchange plus SORT of the
    // full id-level frame — stacked beside a separate groupBy that
    // recomputed two of the three stats for the distinct-hash frame;
    // that redundant pass was the engine's ~1.3 s fixed overhead at
    // sf0.1 (r11 verdict item 2). ids are row-unique, so TwoSmallest's
    // multiset runner-up equals the exclude-the-min second min.
    val grpStats = hashes.groupBy(col(hashCol))
      .agg(count(lit(1)).as("grp_n"),
        graft.functions.TwoSmallest(col(idCol)).as("mins"))
      .select(col(hashCol), col("grp_n"),
        col("mins.m1").as("grp_min"), col("mins.m2").as("grp_min2"))
    // one row per DISTINCT hash, carrying the group stats the cross-
    // group aggregation needs
    val dh = grpStats.select(col(hashCol), col("grp_n"), col("grp_min"))
    val pairs = pigeonholeDistinctPairs(dh, hashCol, saltChunk)
    // fold each neighboring GROUP's size/min into per-hash externals.
    // Both directions of each unordered pair come out of ONE evaluation
    // via a 2-element explode — the r11 unionAll of two projections
    // re-ran the entire block-join subtree per branch (exchange reuse
    // dedups the shuffles but not the post-shuffle join work), doubling
    // the engine's per-pair cost at every scale (r12).
    val ext = pairs
      .select(explode(array(
        struct(col("h_a").as("h"), col("b_grp_n").as("nbr_n"),
          col("b_grp_min").as("nbr_min")),
        struct(col("h_b").as("h"), col("a_grp_n").as("nbr_n"),
          col("a_grp_min").as("nbr_min")))).as("e"))
      .select(col("e.h").as(hashCol), col("e.nbr_n"), col("e.nbr_min"))
      .groupBy(hashCol)
      .agg(sum("nbr_n").as("ext_n"), min("nbr_min").as("ext_min"))
    hashes.join(grpStats.join(ext, Seq(hashCol), "left"), Seq(hashCol))
      .withColumn("n_near",
        (col("grp_n") - 1 + coalesce(col("ext_n"), lit(0L))).cast("long"))
      .filter(col("n_near") > 0)
      .select(col(idCol),
        // in-group nearest: the group min, unless I AM the min (then the
        // second-min, null for singleton groups); least() skips nulls
        least(when(col(idCol) === col("grp_min"), col("grp_min2"))
          .otherwise(col("grp_min")), col("ext_min")).as("min_nbr"),
        col("n_near"))
  }

  private[queries] def containmentCandidates(docs0: DataFrame, t: Double,
      saltChunk: Long = 1024L, maxLenRatio: Option[Double] = None): DataFrame = {
    // shingle-once cache — rationale at [[ngramJaccardCommon]]; here the
    // postings⨝dfCounts join evaluates the shingled frame twice, and the
    // verify stage of [[containmentPairs]]/[[ngramJaccardPairsPrefix]]
    // (same plan, so the same cache entry) reads it twice more
    val docs = docs0.cache()
    containmentCandidatesFrom(indexedPostings(docs, saltChunk), t, maxLenRatio)
  }

  /** exact-verification stage of the jaccard candidate-then-verify pair:
    * join the candidate (doc_a, doc_b) ids back to the shingle SETS and
    * compute the exact score — cost rides the candidate count, not Σ df².
    * `sets` must carry (doc_id, lang, sh, n).
    *
    * Verify-regime dispatch (r14, the r13 verdict's `weak` finding):
    * the two set joins here are exactly the joins whose natural plan
    * flips broadcast→SMJ at decade-3 and dies carrying shingle arrays
    * through sorts (547 s/314 GB spill vs 87 s/0 with the verify side
    * broadcast — BASELINE §r13). [[graft.corpus.Corpus.dispatchVerifySets]]
    * now picks the regime from a measured statistic; `setsBytes` lets
    * the x4/x20 callers pass the once-per-artifact memoized measurement
    * instead of re-measuring per invocation.
    */
  private[queries] def jaccardVerify(cand0: DataFrame, sets: DataFrame,
      t: Double, setsBytes: Option[Long] = None): DataFrame = {
    // native count-only intersect with reach-threshold early exit
    // (CommonCountAtLeast): j ≥ t − 1e-6 forces c ≥ tEff·(n_a+n_b)/(1+tEff),
    // so a bailed (−1) pair could never pass the 6-dp-rounded filter
    // (rounding moves the score by ≤ 5e-7 < 1e-6; the −1e-9 inside ceil
    // absorbs the double-arithmetic ulp of the bound itself). Survivors
    // carry the EXACT count — output identical to size(array_intersect).
    val tEff = t - 1e-6
    val minReq = ceil(lit(tEff) * (col("sa.n") + col("sb.n"))
      / lit(1.0 + tEff) - lit(1e-9)).cast("int")
    val (cand, side) = graft.corpus.Corpus.dispatchVerifySets(
      cand0, Seq("doc_a", "doc_b"), sets,
      setsBytes.getOrElse(graft.corpus.Corpus.setFrameBytes(sets)), Caches.Harness)
    cand
      .join(side.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(side.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("common", graft.functions.CommonCountAtLeast(
        col("sa.sh"), col("sb.sh"), minReq).cast("long"))
      .withColumn("jaccard", roundAt(col("common").cast("double")
        / (col("sa.n") + col("sb.n") - col("common")), 6))
      .filter(col("common") >= 0 && col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("sa.lang").as("lang"), col("jaccard"))
  }

  /** exact-verification stage of the containment pair — both directional
    * containments plus the jaccard for context. `sets` must carry
    * (doc_id, sh, n). Same r14 verify-regime dispatch as
    * [[jaccardVerify]] (x20 shares x4's decade-3 plan transition).
    */
  private[queries] def containmentVerify(cand0: DataFrame, sets: DataFrame,
      t: Double, setsBytes: Option[Long] = None): DataFrame = {
    // early-exit bound for containment: max(c/n_a, c/n_b) = c/min(n_a,n_b),
    // so a pass at t − 1e-6 forces c ≥ tEff·min — bailed pairs can never
    // clear the rounded filter (margin argument at [[jaccardVerify]])
    val tEff = t - 1e-6
    val minReq = ceil(lit(tEff) * least(col("sa.n"), col("sb.n"))
      - lit(1e-9)).cast("int")
    val (cand, side) = graft.corpus.Corpus.dispatchVerifySets(
      cand0, Seq("doc_a", "doc_b"), sets,
      setsBytes.getOrElse(graft.corpus.Corpus.setFrameBytes(sets)), Caches.Harness)
    cand
      .join(side.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(side.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("common", graft.functions.CommonCountAtLeast(
        col("sa.sh"), col("sb.sh"), minReq).cast("long"))
      .withColumn("cont_a_in_b",
        roundAt(col("common").cast("double") / col("sa.n"), 6))
      .withColumn("cont_b_in_a",
        roundAt(col("common").cast("double") / col("sb.n"), 6))
      .filter(col("common") >= 0 &&
        greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= t)
      .withColumn("jaccard", roundAt(col("common").cast("double")
        / (col("sa.n") + col("sb.n") - col("common")), 6))
      .select(col("doc_a"), col("doc_b"),
        col("sa.n").cast("long").as("n_a"), col("sb.n").cast("long").as("n_b"),
        col("common"), col("jaccard"), col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** PPJoin-prefix-filtered exact n-gram Jaccard pairs (j ≥ t), the
    * candidate-then-verify twin of [[ngramJaccardCommon]]'s count-everything
    * inverted index.
    *
    * Prefix validity for Jaccard at the same t as containment: j ≥ t with
    * c ≤ min(n_a, n_b) gives c ≥ t·(n_a + n_b − c) ≥ t·(max + c − c) — i.e.
    * c ≥ t·n_a AND c ≥ t·n_b individually — so a qualifying pair shares a
    * shingle inside EACH side's ⌊(1−t)·n⌋+1-rarest prefix, and probing
    * prefixes against the full index ([[containmentCandidates]]) loses
    * nothing. Jaccard additionally bounds the size ratio (max ≤ min/t),
    * pruned inside the candidate join where containment can't. Verification
    * is exact from the shingle sets, so its cost rides the prefix-bounded
    * candidate count rather than Σ df². Both thresholds use t−1e-6 so the
    * 6-dp half-even rounding of the reported score can never admit a pair
    * the candidate stage discarded. Lossless-vs-unpruned pinned in
    * DedupSaltSpec alongside x20's.
    */
  private[queries] def ngramJaccardPairsPrefix(docs0: DataFrame, t: Double,
      saltChunk: Long = 1024L): DataFrame = {
    val tEff = t - 1e-6
    val docs = docs0.cache() // shared with containmentCandidates' entry
    val cand = containmentCandidates(docs, t, saltChunk,
      maxLenRatio = Some(1.0 / tEff))
    jaccardVerify(cand,
      docs.select(col("doc_id"), col("lang"), col("sh"), col("n")), t)
  }

  private[queries] def containmentPairs(docs0: DataFrame, t: Double,
      saltChunk: Long = 1024L): DataFrame = {
    val docs = docs0.cache() // shared with containmentCandidates' entry
    val cand = containmentCandidates(docs, t, saltChunk)
    containmentVerify(cand,
      docs.select(col("doc_id"), col("sh"), col("n")), t)
  }

  /** the shared x4/x20/x28 dedup-index artifact: the shingled doc frame
    * and its [[indexedPostings]], persisted once per documents table
    * ([[Artifacts]]) and read back by all three queries. The shingle
    * explode + df count + doc-rank window is identical across the three
    * thresholds/weightings, and in production the posting index of a
    * 100 TB corpus IS a materialized table every dedup pass reads, not
    * something each query rebuilds. Parquet (not .cache()) so the
    * artifact survives spark.catalog.clearCache() between bench entries
    * and costs nothing when a query is never invoked.
    * Corpus.writePostingIndex owns the layout; the `posting-index` CLI
    * subcommand materializes the same artifact for cross-JVM reuse
    * (CliSpec pins reload parity).
    */
  private def sharedIndexPath(s: SparkSession, dir: String): String =
    Artifacts.dir("dedupidx", docsPath(dir)) { p =>
      graft.corpus.Corpus.writePostingIndex(Tables.documents(s, dir), p)
    }

  private def docsPath(dir: String): String = Tables.path(dir, "documents")

  private[queries] def sharedShingledDocs(s: SparkSession, dir: String): DataFrame =
    graft.corpus.Corpus.readPostingDocs(s, sharedIndexPath(s, dir))

  private[queries] def sharedIndexedPostings(s: SparkSession, dir: String): DataFrame =
    graft.corpus.Corpus.readPostingIndex(s, sharedIndexPath(s, dir))

  /** the shared artifact's measured set-frame bytes: the verify-regime
    * dispatch statistic for every x4/x20 invocation over the same
    * persisted docs (measuring per call would re-scan the artifact's sh
    * column on each bench rep for a number that can't change until the
    * documents table does).
    */
  private[queries] def sharedSetFrameBytes(s: SparkSession, dir: String): Long =
    Artifacts.value("dedupidx", docsPath(dir), "set_bytes")(
      graft.corpus.Corpus.setFrameBytes(sharedShingledDocs(s, dir)))

  /** the shared artifact's measured candidate-join MATCH VOLUME at
    * threshold t — Σ over probe-prefix postings of their (lang, shingle)
    * df, which is EXACTLY the row count the prefix join emits before its
    * residual predicates (each probe row meets the df index postings of
    * its key once: the build side replicates every posting to all salts
    * and the probe row carries one). This is the statistic that sizes
    * the candidate exchanges (m6's lesson: the join stage's cost is its
    * OUTPUT fan-out, but AQE sizes the stage by its INPUT bytes — a few
    * MB of posting rows — and coalesces the salted partitions right back
    * together; a global partition raise moved x20's residual spill only
    * 13% because AQE re-coalesced what the raise spread). Memoized per
    * (documents table, t) like [[sharedSetFrameBytes]].
    */
  private[queries] def sharedProbeMatchRows(s: SparkSession, dir: String,
      t: Double): Long =
    Artifacts.value("dedupidx", docsPath(dir), s"probe_rows@$t") {
      val tEff = t - 1e-6
      val r = sharedIndexedPostings(s, dir)
        .filter(col("df") >= 2 &&
          col("rn") <= (floor(col("n") * lit(1.0 - tEff)) + 1).cast("int"))
        .agg(coalesce(sum("df"), lit(0L))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }

  /** x17's and x22's cluster table, persisted once per documents table
    * the way x29 persists its clusters. The keeper POLICY is a window
    * over an existing cluster table, and in production that table is
    * materialized once (x11) and consumed by every downstream
    * policy/join. Re-running the iterative cluster build per policy
    * evaluation is exactly what Corpus.keeperPolicy's signature exists
    * to avoid, so x17's steady-state cost is policy-over-clusters, not
    * clusters-plus-policy (x11 remains the cluster build's own number).
    */
  private def clustersFor(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Artifacts.dir("x17_clusters", docsPath(dir)) { p =>
      graft.corpus.Corpus.dupClusters(Tables.documents(s, dir))
        .select("doc_id", "cluster_id")
        .write.mode("overwrite").parquet(p)
    })

  /** x10's persisted LSH index over the non-tenth docs, once per
    * documents table: Verify, Bench (≥2 reps) and the plan audit all
    * invoke the query fn, and rebuilding the index per call would waste
    * the work.
    */
  private def x10IndexPath(s: SparkSession, dir: String): String =
    Artifacts.dir("x10", docsPath(dir)) { p =>
      graft.corpus.Corpus.writeLshIndex(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0), p)
    }

  /** x21's appended-segment target, one scratch dir per sf dir
    * (overwritten per invocation; removed on JVM exit — [[graft.core.Scratch]]).
    */
  private def x21SegmentPath(dir: String): String =
    graft.core.Scratch.dir("x21_segment_" + graft.core.Scratch.sanitize(dir))

  /** x29's "yesterday" artifacts: the even-doc half clustered and
    * LSH-indexed once per documents table, so the incremental query's
    * steady-state cost is the UPDATE, not the historical build.
    * Returns (clusters, index).
    */
  private def x29Paths(s: SparkSession, dir: String): (String, String) = {
    val base = Artifacts.dir("x29", docsPath(dir)) { base =>
      val evens = Tables.documents(s, dir).filter(col("doc_id") % 2 === 0)
      graft.corpus.Corpus.writeLshIndex(evens, s"$base/index")
      graft.corpus.Corpus.dupClusters(evens)
        .select("doc_id", "cluster_id")
        .write.mode("overwrite").parquet(s"$base/clusters")
    }
    (s"$base/clusters", s"$base/index")
  }

  /** the DuckDB mirror of [[graft.corpus.Corpus.bandSignatures]] as WITH-clause text (CTEs
    * d → base → mh → sig), shared by the x2 and x10 oracles.
    */
  private[queries] lazy val lshSigCtesSql: String = lshSigCtesSqlOver(shinglesSql)

  /** [[lshSigCtesSql]] with a caller-supplied `d` source — x32's sampled
    * ground truth gates `d` with the content-addressed md5 bucket.
    */
  private def lshSigCtesSqlOver(dSql: String): String =
    s"""d AS ($dSql),
       |base AS (
       |  SELECT doc_id, list_transform(sh, t ->
       |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
       |                 for i in range(1, 13)], (b, c) -> b * 16 + c) % 1000000007) AS bases
       |  FROM d),
       |mh AS (
       |  SELECT doc_id, h AS seed,
       |    list_min(list_transform(bases, x -> ($minhashASql[h + 1] * x + $minhashBSql[h + 1]) % $P)) AS mhv
       |  FROM base, unnest(range(0, 16)) t(h)),
       |sig AS (
       |  SELECT a.doc_id, a.seed // 2 AS band_id,
       |    md5(CAST(a.mhv AS VARCHAR) || ':' || CAST(bb.mhv AS VARCHAR)) AS band_key
       |  FROM mh a JOIN mh bb ON a.doc_id = bb.doc_id
       |    AND a.seed % 2 = 0 AND bb.seed = a.seed + 1)""".stripMargin

  /** MinHash(H=16) + LSH banding (B=8 bands × R=2 rows; s-curve
    * threshold (1/8)^(1/2) ≈ 0.35) over word-bigram shingles, then exact
    * Jaccard verification at 0.5: the verified duplicate-pair set
    * (doc_a < doc_b, jaccard ≥ 0.5). Candidate generation is a self
    * equi-join on (band_id, band_key) — the only O(n²) work left is
    * within hash buckets.
    *
    * Cached twice, both bounded by what each consumer needs: the shingle
    * sets feed BOTH verify joins; the band signature table (8 tiny
    * rows/doc) feeds BOTH sides of the candidate self-join. No STATIC
    * broadcast hints: the signature table and shingle frames grow
    * O(corpus), so a hard-coded broadcast would OOM the driver at real
    * corpus sizes. The VERIFY joins' regime is instead chosen by the r14
    * measured dispatch ([[graft.corpus.Corpus.dispatchVerifySets]] inside
    * nearDupPairs) — broadcast while the measured set bytes fit a
    * heap-derived budget, candidate-pruned broadcast next, SMJ last —
    * because leaving the choice to the static threshold was the r13
    * verdict's one `weak` finding (6× at sf3, disk-death at sf10). The
    * verify uses the native codegen jaccard_similarity (one fused
    * hash-set pass). Shared by x2 (pair listing) and x11 (cluster
    * building).
    */
  private def lshVerifiedPairs(s: SparkSession, dir: String): DataFrame =
    graft.corpus.Corpus.nearDupPairsFrom(graft.corpus.Corpus.shingleSets(
      Tables.documents(s, dir), Caches.Harness), 0.5, Caches.Harness)

  /** DuckDB mirror of [[lshVerifiedPairs]] as a CTE (`pairs`), appended
    * after [[lshSigCtesSql]]; shared by the x2 and x11 oracles.
    */
  private lazy val lshPairsCteSql: String =
    s"""cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sig a JOIN sig b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT doc_a, doc_b,
       |      ${roundAtSql(jaccardSql("x.sh", "y.sh"), 6)} AS jaccard
       |    FROM cand JOIN d x ON cand.doc_a = x.doc_id JOIN d y ON cand.doc_b = y.doc_id)
       |  WHERE jaccard >= 0.5)""".stripMargin

  /** x32's ground-truth sample gate: the exact jaccard pair set — the
    * only intrinsically super-linear computation in the battery — is
    * measured over a deterministic md5 content-addressed 40% of the
    * corpus (same bucket machinery as y1's split). Recall over a
    * content-hash sample is an unbiased estimate of corpus recall (the
    * gate is independent of the text), and BOTH the exact and the
    * candidate side see the same doc set, so the ratio stays a true
    * recall. 40 keeps the audit meaningful (sf0.1: 2000 docs, pair work
    * ≈ 16% of unsampled) while bounding the cost at any corpus size —
    * at 100 TB the gate would be tightened further, not removed.
    * Unsampled ≡ sampled-at-100 and the unsampled sf-0.01 lossless pin
    * live in DedupRecallSpec.
    */
  private[queries] val x32SamplePct = 40

  /** [[shinglesSql]] restricted to the md5 bucket sample — the DuckDB
    * twin of [[graft.corpus.Corpus.withBucket]]'s gate (SamplingQueries'
    * bucket fold, inlined over a hoisted `h8`).
    */
  private def sampledShinglesSql(rate: Int): String =
    s"""SELECT doc_id, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w
       |        FROM (SELECT doc_id, text, substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS h8 FROM documents)
       |        WHERE list_reduce([CAST(strpos('0123456789abcdef', substr(h8, i, 1)) - 1 AS BIGINT)
       |                           for i in range(1, 9)], (b, c) -> b * 16 + c) % 100 < $rate)""".stripMargin

  /** the x32 report body, parameterized by the ground-truth sample gate
    * (100 = unsampled — the sf-0.01 spec pin). Measures the MEASURER:
    * candidate recall of the x2 LSH banding against the exact
    * jaccard-≥0.5 pair set — the dedup-quality metric a production
    * pipeline tracks continuously (a band config drifting below recall
    * target silently under-dedups the corpus). Ground truth comes from
    * the inverted-index exact path (x4's machinery, unblocked: constant
    * lang), candidates from the band self-join — the two pipelines
    * share NOTHING past shingling, and the DuckDB twin recomputes both,
    * so the recall number itself is cross-engine-verified. Report is
    * one row: |exact|, |candidates|, |hit|, recall (exact longs, one
    * division; vacuously 1.0 when the sampled exact set is empty, so a
    * tiny or fully-distinct corpus reports a defined value).
    */
  private[queries] def lshRecallReport(s: SparkSession, dir: String,
      samplePct: Int): DataFrame = {
    val base = Tables.documents(s, dir)
    val docs0 =
      if (samplePct >= 100) base
      else graft.corpus.Corpus.withBucket(base)
        .filter(col("bucket") < samplePct).drop("bucket")
    val sh = graft.corpus.Corpus.withShingles(docs0)
      .select(col("doc_id"), col("sh"), size(col("sh")).as("n"),
        lit("all").as("lang"))
    val exact = ngramJaccardPairsPrefix(sh, 0.5).select("doc_a", "doc_b")
    val sig = graft.corpus.Corpus.bandSignatures(sh.select("doc_id", "sh"))
    val cand = sig.as("a").join(sig.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // single-pass report (r17): the old shape ran THREE terminal
    // aggregates — n_exact on the main plan plus n_cand / n_hit as
    // broadcast-subquery jobs — so the exact subtree executed twice
    // (count + semi-join probe) and the cand subtree twice (count +
    // semi-join build), ~1.8 s per duplicated subtree at sf0.1. A FULL
    // OUTER join of the two (distinct-keyed) pair sets carries all
    // three counts in one pass over each subtree: every exact row
    // appears exactly once (cand is key-distinct, so the join can't
    // fan out), n_hit = rows present on both sides = the semi-join
    // count, and the lossless-ness of the counts is pinned by the
    // unchanged DuckDB oracle.
    exact.withColumn("e", lit(1))
      .join(cand.withColumn("c", lit(1)), Seq("doc_a", "doc_b"), "full")
      .agg(count(col("e")).as("n_exact"), count(col("c")).as("n_cand"),
        count(when(col("e").isNotNull && col("c").isNotNull, 1)).as("n_hit"))
      .withColumn("recall",
        when(col("n_exact") === 0, lit(1.0))
          .otherwise(col("n_hit").cast("double") / col("n_exact")))
  }

  val all: Seq[Q] = Seq(

    Q("x1_dedup_exact",
      (s, dir) => {
        // exact dedup: hash-groupBy on the content digest; at scale this is
        // one shuffle on a 128-bit key with map-side partial aggregation.
        Tables.documents(s, dir)
          .groupBy(md5(col("text")).as("text_hash"))
          .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
          .orderBy("keep_id")
      },
      Some("""SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
             |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin)),

    Q("x2_dedup_minhash_lsh",
      (s, dir) => lshVerifiedPairs(s, dir).orderBy("doc_a", "doc_b"),
      Some(s"""WITH $lshSigCtesSql,
              |$lshPairsCteSql
              |SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b""".stripMargin)),

    Q("x32_lsh_recall_report",
      (s, dir) => lshRecallReport(s, dir, x32SamplePct),
      Some(s"""WITH ${lshSigCtesSqlOver(sampledShinglesSql(x32SamplePct))},
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
              |  FROM sig a JOIN sig b
              |    ON a.band_id = b.band_id AND a.band_key = b.band_key
              |      AND a.doc_id < b.doc_id),
              |exact AS (
              |  -- brute force with ONLY the mathematical size prune:
              |  -- jaccard ≥ 0.5 forces max(n) ≤ 2·min(n) (|A∩B| ≤ min,
              |  -- |A∪B| ≥ max), so the ratio filter is lossless at the
              |  -- threshold; jaccard via common/(n_a + n_b − common) —
              |  -- one list_intersect per pair, no list-concat-distinct,
              |  -- the same arithmetic the Spark exact path runs
              |  SELECT doc_a, doc_b FROM (
              |    SELECT doc_a, doc_b, ${roundAtSql(
                     "CAST(common AS DOUBLE) / (na + nb - common)", 6)} AS j
              |    FROM (
              |      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |        len(list_intersect(a.sh, b.sh)) AS common,
              |        len(a.sh) AS na, len(b.sh) AS nb
              |      FROM d a JOIN d b ON a.doc_id < b.doc_id
              |        AND len(a.sh) <= 2 * len(b.sh)
              |        AND len(b.sh) <= 2 * len(a.sh))) WHERE j >= 0.5),
              |hit AS (
              |  SELECT doc_a, doc_b FROM exact
              |  INTERSECT SELECT doc_a, doc_b FROM cand)
              |SELECT (SELECT count(*) FROM exact) AS n_exact,
              |  (SELECT count(*) FROM cand) AS n_cand,
              |  (SELECT count(*) FROM hit) AS n_hit,
              |  coalesce(CAST((SELECT count(*) FROM hit) AS DOUBLE)
              |    / nullif((SELECT count(*) FROM exact), 0), 1.0) AS recall""".stripMargin)),

    Q("x11_dedup_clusters",
      (s, dir) => {
        // connected components over the verified duplicate-pair graph —
        // the step that turns pairwise dups into "keep ONE doc per
        // cluster" (transitively: if a~b and b~c, all three are one
        // cluster even when a~c itself missed the threshold).
        // Implementation (Pregel-style min-label propagation, rounds =
        // cluster diameter, localCheckpoint-truncated lineage) lives on
        // the library surface: graft.corpus.Corpus.dupClusters.
        graft.corpus.Corpus.dupClusters(Tables.documents(s, dir))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $lshSigCtesSql,
              |$lshPairsCteSql,
              |sym AS (
              |  SELECT doc_a AS src, doc_b AS dst FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(src, dst) AS (
              |  SELECT src, dst FROM sym
              |  UNION
              |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
              |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
              |  SELECT dd.doc_id,
              |    least(dd.doc_id, coalesce(min(r.dst), dd.doc_id)) AS cluster_id
              |  FROM documents dd LEFT JOIN reach r ON dd.doc_id = r.src
              |  GROUP BY dd.doc_id)
              |ORDER BY doc_id""".stripMargin)),

    Q("x29_dedup_clusters_update",
      (s, dir) => {
        // INCREMENTAL cluster maintenance must equal the full rebuild —
        // so the oracle IS x11's full recursive closure over the whole
        // corpus. The "yesterday" half (even doc_ids) is clustered and
        // LSH-indexed once per documents table (x29Paths); the query folds the
        // odd-id batch in via Corpus.updateClusters: batch×index pairs
        // from the persisted segments + in-batch pairs, connected
        // components over ONLY the affected quotient subgraph, untouched
        // clusters passing through label-unchanged. Cross-cluster merges
        // caused by a bridging new doc come out identical to the
        // rebuild's (min-id labels + quotient reachability).
        val (clPath, idxPath) = x29Paths(s, dir)
        val odds = Tables.documents(s, dir).filter(col("doc_id") % 2 =!= 0)
        graft.corpus.Corpus.updateClusters(
            s.read.parquet(clPath), odds, Seq(idxPath))
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $lshSigCtesSql,
              |$lshPairsCteSql,
              |sym AS (
              |  SELECT doc_a AS src, doc_b AS dst FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(src, dst) AS (
              |  SELECT src, dst FROM sym
              |  UNION
              |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src)
              |SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
              |  SELECT dd.doc_id,
              |    least(dd.doc_id, coalesce(min(r.dst), dd.doc_id)) AS cluster_id
              |  FROM documents dd LEFT JOIN reach r ON dd.doc_id = r.src
              |  GROUP BY dd.doc_id)
              |ORDER BY doc_id""".stripMargin)),

    Q("x17_dedup_keep_longest",
      (s, dir) => {
        // keeper POLICY on top of the cluster structure: production
        // dedup usually keeps the longest (most complete) duplicate,
        // not the smallest id. Delegates to Corpus.keeperPolicy over
        // the persisted cluster table
        // (clustersFor) — the composable API shape: the policy is one
        // window over an EXISTING cluster frame, never a second
        // cluster build.
        graft.corpus.Corpus.keeperPolicy(
            Tables.documents(s, dir), clustersFor(s, dir),
            graft.corpus.Corpus.KeeperStrategy.LongestText)
          .orderBy("doc_id")
      },
      Some(s"""WITH RECURSIVE $lshSigCtesSql,
              |$lshPairsCteSql,
              |sym AS (
              |  SELECT doc_a AS src, doc_b AS dst FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(src, dst) AS (
              |  SELECT src, dst FROM sym
              |  UNION
              |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
              |cl AS (
              |  SELECT dd.doc_id,
              |    least(dd.doc_id, coalesce(min(r.dst), dd.doc_id)) AS cluster_id
              |  FROM documents dd LEFT JOIN reach r ON dd.doc_id = r.src
              |  GROUP BY dd.doc_id)
              |SELECT doc_id, cluster_id, text_len,
              |  ROW_NUMBER() OVER (PARTITION BY cluster_id
              |    ORDER BY text_len DESC, doc_id ASC) = 1 AS keep
              |FROM (
              |  SELECT cl.doc_id, cl.cluster_id,
              |    CAST(length(d2.text) AS BIGINT) AS text_len
              |  FROM cl JOIN documents d2 ON d2.doc_id = cl.doc_id)
              |ORDER BY doc_id""".stripMargin)),

    Q("x10_dedup_incremental_lsh",
      (s, dir) => {
        // incremental ingest dedup — the production shape at 100 TB: a
        // NEW batch (here: doc_id % 10 == 0) is checked against the
        // PERSISTED index of the existing corpus (the rest) without ever
        // pairing index docs with each other AND without rescanning the
        // indexed corpus text: the index (band signatures Hive-
        // partitioned by band_id + shingle sets) is written to parquet
        // once (Corpus.writeLshIndex, memoized per sf dir below — the
        // production index is write-once, and rebuilding per invocation
        // would both leak temp dirs and mis-time the steady-state
        // lookup cost) and the batch dedups against the files
        // (Corpus.dedupAgainstIndex — candidate volume scales with the
        // batch, not the corpus). CorpusSpec proves the
        // no-batch-1-rescan property by deleting the indexed corpus's
        // source before running the dedup.
        graft.corpus.Corpus.dedupAgainstIndexFrom(
            graft.corpus.Corpus.shingleSets(
              Tables.documents(s, dir).filter(col("doc_id") % 10 === 0), Caches.Harness),
            Seq(x10IndexPath(s, dir)), 0.5)
          .orderBy("new_id", "index_id")
      },
      Some(s"""WITH $lshSigCtesSql,
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
              |  FROM sig a JOIN sig b
              |    ON a.band_id = b.band_id AND a.band_key = b.band_key
              |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0)
              |SELECT new_id, index_id, jaccard FROM (
              |  SELECT new_id, index_id,
              |    ${roundAtSql(jaccardSql("x.sh", "y.sh"), 6)} AS jaccard
              |  FROM cand JOIN d x ON cand.new_id = x.doc_id JOIN d y ON cand.index_id = y.doc_id)
              |WHERE jaccard >= 0.5 ORDER BY new_id, index_id""".stripMargin)),

    Q("x9_minhash_sketch_agg",
      (s, dir) => {
        // the typed MinHashSketchAgg Aggregator (custom sketch-merge
        // UDAF): one H=16 signature per source over all its docs'
        // shingles. Partial sketches merge map-side — the associative
        // property the oracle verifies by computing identical mins.
        // Bases come from the shared withShingleBases subtree (x2 uses
        // the identical computation): ONE md5 per shingle, hex-fold done
        // narrowly per row; only the already-hashed longs explode.
        val sketch = udaf(new graft.functions.MinHashSketchAgg())
        withShingleBases(Tables.documents(s, dir))
          .select(col("source"), explode(col("bases")).as("base"))
          .groupBy("source")
          .agg(sketch(col("base")).as("signature"))
          .orderBy("source")
      },
      Some {
        val mins = (0 until 16).map(i =>
          s"CAST(min(($minhashASql[${i + 1}] * base + $minhashBSql[${i + 1}]) % $P) AS VARCHAR)")
        s"""WITH b AS (
           |  SELECT source,
           |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
           |                 for i in range(1, 13)], (x, y) -> x * 16 + y) % $P AS base
           |  FROM (
           |    SELECT source, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS t
           |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents)))
           |SELECT source, ${mins.mkString(" || '|' || ")} AS signature
           |FROM b GROUP BY source ORDER BY source""".stripMargin
      }),

    Q("x16_sketch_source_overlap",
      (s, dir) => {
        // the sketches in USE: estimated Jaccard between SOURCES from
        // their MinHash signatures (fraction of agreeing positions, the
        // classic unbiased estimator) — the triage step that decides
        // which source pairs are worth a full pairwise dedup at 100 TB.
        // Each source collapses to 16 longs (the x9 sketch, same
        // universal-hash family), so the pairwise stage compares
        // |sources|² tiny rows — never documents. One explode+groupBy
        // with map-side partial min builds all sketches in a pass.
        val sk = withShingleBases(Tables.documents(s, dir))
          .select(col("source"), explode(col("bases")).as("base"))
          .groupBy("source")
          .agg(min(expr(s"(${minhashA(0)} * base + ${minhashB(0)}) % $P")).as("mh0"),
            (1 until 16).map(i =>
              min(expr(s"(${minhashA(i)} * base + ${minhashB(i)}) % $P")).as(s"mh$i")): _*)
        val agree = (0 until 16).map(i =>
          when(col(s"x.mh$i") === col(s"y.mh$i"), 1).otherwise(0)).reduce(_ + _)
        sk.as("x").join(sk.as("y"), col("x.source") < col("y.source"))
          .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
            agree.cast("long").as("n_agree"))
          .withColumn("est_jaccard", roundAt(col("n_agree").cast("double") / 16.0, 6))
          .orderBy("source_a", "source_b")
      },
      Some(s"""WITH b AS (
              |  SELECT source,
              |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)
              |                 for i in range(1, 13)], (x, y) -> x * 16 + y) % $P AS base
              |  FROM (
              |    SELECT source, unnest(list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))])) AS t
              |    FROM (SELECT source, string_split(text, ' ') AS w FROM documents))),
              |mh AS (
              |  SELECT source, h,
              |    min(($minhashASql[h + 1] * base + $minhashBSql[h + 1]) % $P) AS mhv
              |  FROM b, unnest(range(0, 16)) t(h) GROUP BY 1, 2),
              |ag AS (
              |  SELECT x.source AS source_a, y.source AS source_b,
              |    CAST(sum(CASE WHEN x.mhv = y.mhv THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
              |  FROM mh x JOIN mh y ON x.h = y.h AND x.source < y.source
              |  GROUP BY 1, 2)
              |SELECT source_a, source_b, n_agree,
              |  ${roundAtSql("CAST(n_agree AS DOUBLE) / 16.0", 6)} AS est_jaccard
              |FROM ag ORDER BY 1, 2""".stripMargin)),

    Q("x3_dedup_simhash",
      (s, dir) => {
        // 16-bit SimHash over the distinct-word set ([[simhash]]).
        // Hamming-0 groups share a simhash; keep_id = group
        // representative. All aggregation is map-side-combinable.
        simhash(s, dir, 16)
          .withColumn("keep_id", min("doc_id").over(Window.partitionBy("simhash16")))
          .orderBy("doc_id")
      },
      Some(s"""${simhashSql(16)}
             |SELECT doc_id, simhash16, min(doc_id) OVER (PARTITION BY simhash16) AS keep_id
             |FROM h ORDER BY doc_id""".stripMargin)),

    Q("x31_simhash_hamming",
      (s, dir) => {
        // SimHash near-dup at hamming distance ≤ 3 (Manku et al., WWW'07
        // — the Google crawl near-dup design) — extends x3's exact-match
        // (hamming-0) grouping to NEAR matches without an all-pairs
        // compare. 48-bit hash (16 bits has only 65,536 buckets — at
        // corpus scale every bucket collides and blocking stops pruning;
        // 48 stays a positive BIGINT in both engines). Pigeonhole
        // blocking: the hash splits into 4 12-bit blocks, and a pair at
        // hamming ≤ 3 has its ≤ 3 differing bits in ≤ 3 blocks, so it
        // agrees EXACTLY on ≥ 1 block — candidates come from equi-joins
        // on (block_id, block_value), lossless at the threshold by
        // construction; random-pair collision odds per block are 2^-12,
        // so candidate volume rides true near-dup mass, never n². The
        // verify stage is one codegen'd `bit_count(a ^ b)` per
        // candidate. Output is per-doc (keep_id = min doc_id over the
        // hamming-≤3 neighborhood, n_near = neighbor count) so the
        // result stays doc-sized even when near-dup pairs are
        // quadratic-ish; the DuckDB oracle brute-forces all pairs, so
        // this IS the round-by-round losslessness check of the blocking.
        val h = simhash(s, dir, 48)
        val nbrs = pigeonhole48Neighbors(h, "doc_id", "simhash48")
        h.join(nbrs, Seq("doc_id"), "left")
          .select(col("doc_id"), col("simhash48"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            coalesce(least(col("doc_id"), col("min_nbr")), col("doc_id")).as("keep_id"))
          .orderBy("doc_id")
      },
      // oracle: brute-force all-pairs hamming — independent of the
      // pigeonhole blocking, so a lossy block scheme would hash-mismatch
      Some(s"""${simhashSql(48)},
             |p AS (
             |  SELECT a.doc_id AS doc_id, b.doc_id AS nbr
             |  FROM h a JOIN h b ON a.doc_id <> b.doc_id
             |  WHERE bit_count(xor(a.simhash48, b.simhash48)) <= 3)
             |SELECT h.doc_id, h.simhash48,
             |  CAST(coalesce(s.n_near, 0) AS BIGINT) AS n_near,
             |  CAST(coalesce(least(h.doc_id, s.min_nbr), h.doc_id) AS BIGINT) AS keep_id
             |FROM h LEFT JOIN (
             |  SELECT doc_id, count(*) AS n_near, min(nbr) AS min_nbr
             |  FROM p GROUP BY 1) s USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    Q("x34_perceptual_hash_dedup",
      (s, dir) => {
        // perceptual-hash near-dup over the MULTIMODAL path (r10): the
        // image analog of x31 — decode each payload with the
        // partition-wise codec session (m2's one legitimate
        // mapPartitions; the FakeCodec stands in for a real decoder,
        // the hashing and every Spark stage are real), nearest-neighbor
        // resize to the 8×6 grid, average-hash it (bit = pixel brighter
        // than frame mean, INTEGER compare n·u > Σu — no float anywhere,
        // so the 48-bit hash is bit-exact cross-engine), then find
        // hamming-≤3 neighborhoods via x31's pigeonhole block joins
        // instead of an all-pairs scan. Near-identical media differ in
        // a few resized pixels, so true dups land at distance 0 and
        // near-dups within the threshold; candidate volume rides block
        // collisions (2^-12 per block for random pairs), never n².
        // Output is media-sized (keep_id = min id over the
        // neighborhood); the DuckDB oracle recomputes decode → resize →
        // hash arithmetically from the text bytes and brute-forces all
        // pairs — a lossy block scheme or a codec/hash divergence both
        // hash-mismatch.
        val media = graft.multimodal.Multimodal.mediaFromDocuments(
          s, Tables.documents(s, dir))
        val h = graft.multimodal.Multimodal.perceptualHash(media)
        val nbrs = pigeonhole48Neighbors(h, "media_id", "ahash48")
        h.join(nbrs, Seq("media_id"), "left")
          .select(col("media_id"), col("ahash48"),
            coalesce(col("n_near"), lit(0L)).as("n_near"),
            coalesce(least(col("media_id"), col("min_nbr")), col("media_id")).as("keep_id"))
          .orderBy("media_id")
      },
      // oracle: the fake decode reads the payload (ASCII text bytes —
      // chars == bytes, pinned by the generator) row-major at width 32;
      // resize picks row r = min(y·rows/6, rows−1) then col
      // c = min(x·cols_r/8, cols_r−1) within that row's OWN length
      // (the last decoded row is short) — all integer division, mirrored
      // exactly here; then brute-force all-pairs hamming
      Some("""WITH g AS (
             |  SELECT doc_id AS media_id, text, length(text) AS len,
             |    (length(text) + 31) // 32 AS nrows
             |  FROM documents WHERE text IS NOT NULL),
             |grid AS (
             |  SELECT media_id, text, len, y, x,
             |    least((y * nrows) // 6, nrows - 1) AS r
             |  FROM g, unnest(range(0, 6)) ty(y), unnest(range(0, 8)) tx(x)),
             |px AS (
             |  SELECT media_id, y, x,
             |    CASE WHEN len = 0 THEN 0
             |         ELSE ascii(substr(text,
             |           CAST(r * 32 + least((x * least(32, len - r * 32)) // 8,
             |                               least(32, len - r * 32) - 1) + 1 AS INT), 1))
             |    END AS u
             |  FROM grid),
             |tot AS (SELECT media_id, sum(u) AS su FROM px GROUP BY 1),
             |hsh AS (
             |  SELECT px.media_id,
             |    CAST(sum(CASE WHEN 48 * u > su THEN (CAST(1 AS BIGINT) << (47 - (y * 8 + x))) ELSE 0 END) AS BIGINT) AS ahash48
             |  FROM px JOIN tot USING (media_id) GROUP BY 1),
             |p AS (
             |  SELECT a.media_id AS media_id, b.media_id AS nbr
             |  FROM hsh a JOIN hsh b ON a.media_id <> b.media_id
             |  WHERE bit_count(xor(a.ahash48, b.ahash48)) <= 3)
             |SELECT h.media_id, h.ahash48,
             |  CAST(coalesce(s.n_near, 0) AS BIGINT) AS n_near,
             |  CAST(coalesce(least(h.media_id, s.min_nbr), h.media_id) AS BIGINT) AS keep_id
             |FROM hsh h LEFT JOIN (
             |  SELECT media_id, count(*) AS n_near, min(nbr) AS min_nbr
             |  FROM p GROUP BY 1) s USING (media_id)
             |ORDER BY media_id""".stripMargin)),

    Q("x4_dedup_ngram_jaccard",
      (s, dir) => {
        // exact n-gram Jaccard via an inverted shingle index: explode
        // shingles, self-equi-join on (lang, shingle) to COUNT the
        // intersection per pair, then jaccard = common/(|a|+|b|−common).
        // Identical output to the naive all-pairs intersect but the work
        // is one hash-shuffle on the shingle key — pairs with no common
        // shingle (jaccard 0) never materialize. This is the shape that
        // survives a 100× scale-up; the all-pairs variant does not.
        //
        // Scale shape, r7 (PPJoin, Xiao et al. WWW'08): candidate pairs
        // from each doc's ⌊(1−t)·n⌋+1 RAREST shingles probed against the
        // full salted index ([[containmentCandidates]] — prefix validity
        // for jaccard proven at [[ngramJaccardPairsPrefix]]), with the
        // jaccard-only size prune max(n) ≤ min(n)/t inside the candidate
        // join, then EXACT verification from the shingle sets. Candidate
        // volume rides the prefix df's, not the unpruned Σ df²; the
        // verify cost rides the candidate count. An earlier (r4) prefix
        // attempt without the size prune and with per-pair posting
        // counting measured slower than the count-everything index
        // (~20s vs ~15s); this candidate-then-verify composition measures
        // ~40% FASTER (10.0s vs 16.0s at sf0.1, same box) and its
        // candidate volume scales with the Zipf tail, not the hot head.
        // Lossless-vs-unpruned + salt-invariance pinned in DedupSaltSpec.
        //
        // No STATIC broadcast hint in the candidate subtree: posting
        // lists grow O(total shingles) with the corpus, so a hard-coded
        // broadcast dies at scale; AQE still broadcasts small runtime
        // sides. The VERIFY joins are different (r14): their regime is
        // chosen by a measured dispatch (Corpus.dispatchVerifySets —
        // whole-set broadcast / candidate-pruned broadcast / SMJ from
        // measured set bytes vs a heap-derived budget), because the r13
        // decade-3 bracketing proved Spark's static threshold picks the
        // 6×-slower array-carrying SMJ exactly where it hurts.
        // Per-key salt fan-out (nsalt = ceil(df / saltChunk) ≤ 256)
        // spreads a pathological posting list over reducer chunks while
        // normal keys pay zero replication.
        // r8: shingled docs + posting index come from the per-process
        // persisted artifact shared with x20/x28 ([[sharedIndexPath]]);
        // this query's own work is the prefix-cut candidate join + the
        // exact verify.
        val t = 0.5
        val docs = sharedShingledDocs(s, dir).cache()
        jaccardVerify(
          containmentCandidatesFrom(sharedIndexedPostings(s, dir), t,
            maxLenRatio = Some(1.0 / (t - 1e-6)),
            matchRows = Some(sharedProbeMatchRows(s, dir, t))),
          docs, t, Some(sharedSetFrameBytes(s, dir)))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
              |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents))
              |SELECT doc_a, doc_b, lang, jaccard FROM (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
              |    ${roundAtSql(jaccardSql("a.sh", "b.sh"), 6)} AS jaccard
              |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id)
              |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin)),

    Q("x20_containment_dedup",
      (s, dir) => {
        // containment (asymmetric Jaccard) detection: c(A→B) = |A∩B|/|A|
        // — the doc-in-doc signal that catches quotes, boilerplate
        // wrappers, and re-published subsets whose SYMMETRIC jaccard is
        // small because the sizes differ (x2/x4 would never flag them).
        // Pairs where the smaller side is ≥ 40% contained are reported
        // with both directional containments and the jaccard for
        // context. The ×2 length prune is jaccard-specific and can't
        // apply; the scale control is PPJoin prefix filtering instead
        // — probe postings are only each doc's ⌊(1−t)·n⌋+1 rarest
        // shingles, so candidate volume rides the prefix df's, not the
        // unpruned Σ df² (see containmentPairs).
        // r8: reads the shared persisted shingle/posting artifact (x4's
        // note); only the 0.4-prefix cut + verify are this query's own.
        val docs = sharedShingledDocs(s, dir).cache()
        containmentVerify(
          containmentCandidatesFrom(sharedIndexedPostings(s, dir), 0.4,
            matchRows = Some(sharedProbeMatchRows(s, dir, 0.4))),
          docs.select(col("doc_id"), col("sh"), col("n")), 0.4,
          Some(sharedSetFrameBytes(s, dir)))
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
              |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
              |p AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
              |    CAST(len(a.sh) AS BIGINT) AS n_a, CAST(len(b.sh) AS BIGINT) AS n_b,
              |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common
              |  FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id),
              |scored AS (
              |  SELECT doc_a, doc_b, n_a, n_b, common,
              |    ${roundAtSql("CAST(common AS DOUBLE) / (n_a + n_b - common)", 6)} AS jaccard,
              |    ${roundAtSql("CAST(common AS DOUBLE) / n_a", 6)} AS cont_a_in_b,
              |    ${roundAtSql("CAST(common AS DOUBLE) / n_b", 6)} AS cont_b_in_a
              |  FROM p WHERE common > 0)
              |SELECT doc_a, doc_b, n_a, n_b, common, jaccard, cont_a_in_b, cont_b_in_a
              |FROM scored
              |WHERE greatest(cont_a_in_b, cont_b_in_a) >= 0.4
              |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("x28_weighted_jaccard",
      (s, dir) => {
        // inverse-df-WEIGHTED jaccard: every shingle weighs N_docs/df, so
        // ubiquitous boilerplate bigrams (high df) contribute almost
        // nothing and RARE shared phrasing dominates — the signal that
        // separates true near-dups from docs that merely share the
        // corpus's stock vocabulary (TF-IDF's df argument applied to set
        // overlap; on template-heavy web corpora the unweighted score
        // saturates). Weighted sizes W_a/W_b include each doc's df = 1
        // singletons (computed before the index prune) and ride the
        // postings as constant columns — no doc-sizes re-join. The
        // measured sf0.01 score distribution gaps at [0.16, 0.67], so
        // the 0.3 threshold sits well inside the margin.
        // r10: ADAPTIVE engine dispatch (weightedJaccardAdaptive) — the
        // WEIGHTED prefix filter (Bayardo WWW'07 §3 generalized) when a
        // measured probe-volume fraction over the persisted index says
        // it bites (boilerplate-heavy/Zipfian corpora, the r9 verdict's
        // 100 TB failure mode: sf1 390× shuffle growth, 9.5 GB spill —
        // there hot df² keys carry near-zero idf weight and fall out of
        // every prefix), the map-side-combined count-everything index
        // when it doesn't (flat-df corpora at low t, where candidates
        // explode — measured 16.4M candidates for 1 080 pairs at sf1).
        // Both engines are pinned output-equal (DedupSaltSpec), so the
        // dispatch changes the plan, never the answer. Weights/prefix
        // remainders come precomputed on the shared persisted artifact
        // (one IEEE division each, bit-identical across engines; the
        // corpus-size scalar is folded into the index build as a
        // broadcast 1-row aggregate — no driver-side count() job).
        weightedJaccardAdaptive(sharedShingledDocs(s, dir),
          sharedIndexedPostings(s, dir), 0.3)
          .withColumn("wjaccard", roundAt(
            col("wc") / (col("w_a") + col("w_b") - col("wc")), 6))
          .filter(col("wjaccard") >= 0.3)
          .withColumn("jaccard", roundAt(col("common").cast("double")
            / (col("n_a") + col("n_b") - col("common")), 6))
          .select("doc_a", "doc_b", "lang", "common", "jaccard", "wjaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(s"""WITH d AS (
              |  SELECT doc_id, lang, list_distinct([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS sh
              |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)),
              |p AS (SELECT doc_id, lang, unnest(sh) AS shingle FROM d),
              |df AS (SELECT lang, shingle, count(*) AS df FROM p GROUP BY 1, 2),
              |pw AS (
              |  SELECT p.doc_id, p.lang, p.shingle,
              |    CAST((SELECT count(*) FROM documents) AS DOUBLE) / df.df AS w
              |  FROM p JOIN df USING (lang, shingle)),
              |ws AS (SELECT doc_id, sum(w) AS wsum FROM pw GROUP BY 1),
              |sz AS (SELECT doc_id, len(sh) AS n FROM d),
              |pairs AS (
              |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
              |    count(*) AS common, sum(a.w) AS wc
              |  FROM pw a JOIN pw b
              |    ON a.lang = b.lang AND a.shingle = b.shingle AND a.doc_id < b.doc_id
              |  GROUP BY 1, 2, 3)
              |SELECT doc_a, doc_b, lang, common,
              |  ${roundAtSql("CAST(common AS DOUBLE) / (sa.n + sb.n - common)", 6)} AS jaccard,
              |  ${roundAtSql("wc / (wa.wsum + wb.wsum - wc)", 6)} AS wjaccard
              |FROM pairs
              |JOIN ws wa ON wa.doc_id = doc_a JOIN ws wb ON wb.doc_id = doc_b
              |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
              |WHERE ${roundAtSql("wc / (wa.wsum + wb.wsum - wc)", 6)} >= 0.3
              |ORDER BY doc_a, doc_b""".stripMargin)),

    Q("x5_dedup_cosine",
      (s, dir) => {
        // embedding near-dup: exact cosine over label-blocked pairs. Norms
        // are precomputed per row (one pass) so the join side only does the
        // dot product. Sequential double folds keep both engines
        // bit-identical before the final rounding.
        val e = Tables.embeddings(s, dir).select(
          col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
          .withColumn("norm", sqrt(expr(
            "aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)")))
        // unhinted self-join (the embedding table is O(corpus)); the
        // planner/AQE size-gates broadcast vs shuffle on the label key
        e.as("a").join(e.as("b"),
            col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          // native codegen expression (graft.functions.CosineSimilarity);
          // bit-identical to the HOF fold + norm division
          .withColumn("cosine", roundAt(expr("cosine_similarity(a.v, b.v)"), 6))
          .filter(col("cosine") >= 0.3)
          .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
            col("a.label").as("label"), col("cosine"))
          .orderBy("vec_a", "vec_b")
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |  FROM embeddings),
              |n AS (
              |  SELECT vec_id, label, v,
              |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (x, y) -> x + y)) AS norm
              |  FROM e)
              |SELECT vec_a, vec_b, label, cosine FROM (
              |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
              |    ${roundAtSql(
                     "list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y)" +
                     " / (a.norm * b.norm)", 6)} AS cosine
              |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
              |WHERE cosine >= 0.3 ORDER BY vec_a, vec_b""".stripMargin)),

    Q("x21_curate_incremental",
      (s, dir) => {
        // the incremental DAILY curation pipeline end-to-end under the
        // oracle gate: the x10 batch (doc_id % 10 == 0) is curated
        // against the persisted index of the other 90% (x10's memoized
        // write-once segment): index-dedup (batch×index candidates,
        // indexed text never rescanned) → in-batch pair dedup (the
        // higher id of any verified pair drops) → normalize →
        // deterministic content-addressed split; the survivors'
        // signatures are appended as a new immutable segment
        // (overwritten per invocation here — write-once in production).
        // Library surface: Corpus.curateIncremental.
        graft.corpus.Corpus.curateIncremental(
            Tables.documents(s, dir).filter(col("doc_id") % 10 === 0),
            Seq(x10IndexPath(s, dir)), x21SegmentPath(dir))
          .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
            col("bucket"), col("split"))
          .orderBy("doc_id")
      },
      Some(s"""WITH $lshSigCtesSql,
              |cand AS (
              |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS index_id
              |  FROM sig a JOIN sig b
              |    ON a.band_id = b.band_id AND a.band_key = b.band_key
              |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0),
              |idxm AS (
              |  SELECT DISTINCT new_id FROM (
              |    SELECT new_id, ${roundAtSql(jaccardSql("x.sh", "y.sh"), 6)} AS j
              |    FROM cand JOIN d x ON cand.new_id = x.doc_id
              |    JOIN d y ON cand.index_id = y.doc_id)
              |  WHERE j >= 0.5),
              |bcand AS (
              |  SELECT DISTINCT a.doc_id AS keep_id, b.doc_id AS new_id
              |  FROM sig a JOIN sig b
              |    ON a.band_id = b.band_id AND a.band_key = b.band_key
              |      AND a.doc_id < b.doc_id
              |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 = 0),
              |blos AS (
              |  SELECT DISTINCT new_id FROM (
              |    SELECT new_id, ${roundAtSql(jaccardSql("x.sh", "y.sh"), 6)} AS j
              |    FROM bcand JOIN d x ON bcand.keep_id = x.doc_id
              |    JOIN d y ON bcand.new_id = y.doc_id)
              |  WHERE j >= 0.5),
              |surv AS (
              |  SELECT doc_id, text FROM documents
              |  WHERE doc_id % 10 = 0
              |    AND doc_id NOT IN (SELECT new_id FROM idxm)
              |    AND doc_id NOT IN (SELECT new_id FROM blos))
              |SELECT doc_id, md5(norm) AS norm_md5, bucket,
              |  CASE WHEN bucket < 80 THEN 'train'
              |       WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
              |FROM (
              |  SELECT doc_id,
              |    trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '<num>', 'g'), ' +', ' ', 'g')) AS norm,
              |    list_reduce([CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
              |      for i in range(1, 9)], (b, c) -> b * 16 + c) % 100 AS bucket
              |  FROM surv)
              |ORDER BY doc_id""".stripMargin)),

    Q("x22_cluster_size_profile",
      (s, dir) => {
        // dedup REPORTING: the duplicate-cluster size distribution —
        // the figure an operator watches for boilerplate explosions (a
        // fat tail of big clusters eating the corpus) and the direct
        // measure of how much dedup will remove. Consumes the
        // materialized cluster table (clustersFor — the x17 pattern):
        // two tiny (cluster, count) shuffles on top of it.
        clustersFor(s, dir)
          .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
          .groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            (col("cluster_size") * count(lit(1))).as("n_docs"))
          .orderBy("cluster_size")
      },
      Some(s"""WITH RECURSIVE $lshSigCtesSql,
              |$lshPairsCteSql,
              |sym AS (
              |  SELECT doc_a AS src, doc_b AS dst FROM pairs
              |  UNION ALL SELECT doc_b, doc_a FROM pairs),
              |reach(src, dst) AS (
              |  SELECT src, dst FROM sym
              |  UNION
              |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
              |cl AS (
              |  SELECT dd.doc_id,
              |    least(dd.doc_id, coalesce(min(r.dst), dd.doc_id)) AS cluster_id
              |  FROM documents dd LEFT JOIN reach r ON dd.doc_id = r.src
              |  GROUP BY dd.doc_id),
              |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
              |SELECT cluster_size, count(*) AS n_clusters,
              |  cluster_size * count(*) AS n_docs
              |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("x33_url_snapshot_dedup",
      (s, dir) => {
        // Common-Crawl-shaped URL/snapshot dedup: canonicalize each
        // fetched URL — strip scheme, leading www., and the tracking
        // query params (utm_*/ref) via built-in regexp_replace, no UDF —
        // then keep the LATEST revision per canonical key with ONE
        // max-over-(ts, id)-struct aggregate (e8's pattern): a single
        // map-side-combinable shuffle on the canonical key and NO window,
        // so a boilerplate URL with millions of snapshots costs one
        // combiner cell per map task instead of a single-partition sort
        // (t15's segment dedup is the text-side sibling of this keeper).
        // The synthetic url derives deterministically from the events
        // table — (user_id, ts) standing in for (url, fetch_ts) — with
        // scheme/www/tracking variants so the canonicalizer collapses
        // genuinely-different raw strings.
        val url = concat(
          when(pmod(col("event_id"), lit(2)) === 0, "https://").otherwise("http://"),
          when(pmod(col("user_id"), lit(5)) === 0, "www.").otherwise(""),
          lit("site"), pmod(col("user_id"), lit(40)).cast("string"), lit(".com/"),
          col("event_type"), lit("/"), pmod(col("user_id"), lit(7)).cast("string"),
          when(pmod(col("event_id"), lit(3)) === 0,
            concat(lit("?utm_source=feed&page="),
              pmod(col("event_id"), lit(4)).cast("string")))
          .when(pmod(col("event_id"), lit(3)) === 1,
            concat(lit("?page="), pmod(col("event_id"), lit(4)).cast("string"),
              lit("&utm_campaign=x&ref=tw")))
          .otherwise(lit("")))
        Tables.eventsTs(s, dir)
          .select(col("event_id"), unix_micros(col("ts")).as("ts_us"),
            url.as("url"))
          .withColumn("curl",
            regexp_replace(
              regexp_replace(
                regexp_replace(col("url"), "^https?://(www\\.)?", ""),
                "(utm_[a-z]+|ref)=[^&]*&?", ""),
              "[?&]+$", ""))
          .groupBy("curl")
          .agg(count(lit(1)).as("n_snapshots"),
            min("ts_us").as("first_ts_us"),
            max(struct(col("ts_us"), col("event_id"))).as("kept"))
          .select(col("curl"), col("n_snapshots"), col("first_ts_us"),
            col("kept.ts_us").as("kept_ts_us"),
            col("kept.event_id").as("kept_event_id"))
          .orderBy("curl")
      },
      Some("""WITH e AS (
             |  SELECT event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
             |    (CASE WHEN event_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
             |    (CASE WHEN user_id % 5 = 0 THEN 'www.' ELSE '' END) ||
             |    'site' || CAST(user_id % 40 AS VARCHAR) || '.com/' ||
             |    event_type || '/' || CAST(user_id % 7 AS VARCHAR) ||
             |    (CASE WHEN event_id % 3 = 0
             |          THEN '?utm_source=feed&page=' || CAST(event_id % 4 AS VARCHAR)
             |          WHEN event_id % 3 = 1
             |          THEN '?page=' || CAST(event_id % 4 AS VARCHAR) || '&utm_campaign=x&ref=tw'
             |          ELSE '' END) AS url
             |  FROM events),
             |c AS (
             |  SELECT event_id, ts_us,
             |    regexp_replace(regexp_replace(regexp_replace(url,
             |      '^https?://(www\.)?', '', 'g'),
             |      '(utm_[a-z]+|ref)=[^&]*&?', '', 'g'),
             |      '[?&]+$', '', 'g') AS curl
             |  FROM e),
             |r AS (
             |  SELECT curl, ts_us, event_id, ROW_NUMBER() OVER (
             |    PARTITION BY curl ORDER BY ts_us DESC, event_id DESC) AS rn
             |  FROM c),
             |a AS (
             |  SELECT curl, count(*) AS n_snapshots, min(ts_us) AS first_ts_us
             |  FROM c GROUP BY 1)
             |SELECT a.curl, a.n_snapshots, a.first_ts_us,
             |  r.ts_us AS kept_ts_us, r.event_id AS kept_event_id
             |FROM a JOIN r ON r.curl = a.curl AND r.rn = 1
             |ORDER BY a.curl""".stripMargin)),
  )

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
