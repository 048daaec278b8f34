package graft.corpus

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.functions.{JaccardSimilarity, MinHashFamily}

/** Reusable corpus-curation transforms over a documents DataFrame
  * (`doc_id` long, `text` string, plus optional strata columns) — the
  * library surface behind the oracle-checked x/y query battery
  * ([[graft.queries.DedupQueries]], [[graft.queries.SamplingQueries]]
  * delegate here, so every transform's semantics are pinned against
  * DuckDB). Compose them with plain DataFrame chaining; [[curate]] is
  * the canonical normalize → near-dup-dedup → split pipeline.
  *
  * Works on a vanilla SparkSession: the native similarity expressions are
  * constructed directly as Columns (no
  * `spark.sql.extensions=graft.GraftExtensions` requirement).
  *
  * Scale posture: every step is either a narrow per-row map (normalize,
  * bucket/split, shingling/signatures) or a key-partitioned
  * shuffle/window (LSH band join, cluster propagation, shard prefix
  * sums). Broadcast hints only through the MEASURED dispatches
  * ([[dispatchVerifySets]], [[dispatchNodeFrame]]) — a static threshold
  * never sees an accurate size for a derived/cached/checkpointed frame,
  * and an unmeasured hint is how joins die at a decade boundary.
  */
object Corpus {

  // ---- shingling + MinHash/LSH signatures --------------------------------

  /** distinct word-bigram shingle set of `text` (column `sh`). Guarded
    * for <2-word texts (Spark's sequence(0,-1) would emit a phantom).
    */
  def withShingles(df: DataFrame): DataFrame =
    // native codegen'd Shingles expression (r7) — one fused pass per row;
    // bit-parity with the HOF chain `array_distinct(transform(sequence(0,
    // size(w)-2), i -> concat_ws(' ', w[i], w[i+1])))` over `w =
    // split(text, ' ')` (incl. the <2-words empty guard) is pinned in
    // NativeShingleParitySpec. `w` kept for source compatibility; column
    // pruning drops it when unused.
    df.withColumn("w", split(col("text"), " "))
      .withColumn("sh", graft.functions.Shingles(col("text")))

  /** MinHash(H=16) → LSH band signature table (doc_id, band_id,
    * band_key; B=8 bands × R=2 rows): one narrow per-row projection over
    * a (doc_id, sh) frame — one md5 per shingle, pure codegen universal
    * hashing, NO explode/shuffle. Docs with <2 words get null band keys,
    * which fall out of any band equi-join.
    */
  def bandSignatures(docsWithSh: DataFrame): DataFrame =
    bandSignaturesCarrying(docsWithSh, Nil)

  /** [[bandSignatures]] with extra input columns carried through to the
    * output (doc_id, carry…, band_id, band_key). The streaming
    * incremental-dedup path carries the shingle set itself so the
    * verify stage never has to join the stream back against itself
    * (a stream-stream self-join would need watermarks; a carried
    * column is free).
    */
  def bandSignaturesCarrying(docsWithSh: DataFrame,
      carry: Seq[String]): DataFrame = {
    val keyCols = col("doc_id") +: carry.map(col)
    // native MinHashBases + MinHashSignature (r7): one fused pass per row
    // instead of H interpreted array_min(transform(...)) lambdas; a null
    // signature (empty shingle set) yields null mh columns, exactly like
    // array_min over an empty transform. Bit-parity pinned in
    // NativeShingleParitySpec.
    val minhash = docsWithSh
      .withColumn("sig", graft.functions.MinHashSignature(
        graft.functions.MinHashBases(col("sh"))))
      .select(keyCols ++ (0 until MinHashFamily.H).map(i =>
        element_at(col("sig"), i + 1).as(s"mh$i")): _*)
    val bandCols = (0 until 8).map(b =>
      md5(concat(col(s"mh${2 * b}"), lit(":"), col(s"mh${2 * b + 1}"))))
    minhash.select(keyCols :+ posexplode(array(bandCols: _*)): _*)
      .toDF(("doc_id" +: carry) ++ Seq("band_id", "band_key"): _*)
  }

  /** [[nearDupPairs]] plus the cached frames backing it (shingle sets +
    * band signatures), so composite callers can release them once their
    * terminal action has run.
    */
  private def nearDupPairsCached(docs: DataFrame,
      threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val sh = withShingles(docs).select("doc_id", "sh").cache()
    val (pairs, cached) = nearDupPairsFrom(sh, threshold)
    (pairs, sh +: cached)
  }

  /** [[nearDupPairsCached]] over a PRE-SHINGLED cached (doc_id, sh)
    * frame — lets [[updateClustersWithStats]] share ONE shingled batch
    * between the in-batch pair stage and the index cross-edge stage
    * (each previously shingled the same docs independently).
    */
  private def nearDupPairsFrom(sh: DataFrame,
      threshold: Double): (DataFrame, Seq[DataFrame]) = {
    val sig = bandSignatures(sh).cache()
    val cand0 = sig.as("a").join(sig.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
    // verify-regime dispatch (r14 — [[dispatchVerifySets]]): the two
    // set joins broadcast when the measured set bytes fit the budget
    // (the measuring agg also materializes sh's cache, work the verify
    // paid anyway), degrade to candidate-pruned broadcast, then SMJ.
    // The hint rides a local reference; bandSignatures above keeps the
    // unhinted sh plan.
    val (cand, side, caches) =
      dispatchVerifySets(cand0, Seq("doc_a", "doc_b"), sh, setFrameBytes(sh))
    val pairs = cand
      .join(side.select(col("doc_id").as("doc_a"), col("sh").as("sha")), Seq("doc_a"))
      .join(side.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("jaccard",
        graft.functions.MoneyFunctions.roundAt(
          JaccardSimilarity(col("sha"), col("shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
    (pairs, sig +: caches)
  }

  /** LSH-verified near-duplicate pairs (doc_a < doc_b, exact Jaccard ≥
    * `threshold` over bigram shingles). Candidates come from the band
    * equi-join; only survivors pay the exact verify (the native codegen
    * jaccard_similarity). Input needs (doc_id, text). The jaccard column
    * is rounded at 6 dp BEFORE thresholding — the deterministic
    * cross-engine contract the DuckDB oracles pin.
    *
    * Caching contract: the returned frame is LAZY and is backed by two
    * cached intermediates (the shingle sets, which feed both verify
    * joins, and the band signature table, which feeds both sides of the
    * candidate self-join). They stay cached after the caller's action —
    * release them with `spark.catalog.clearCache()` (or use
    * [[dupClusters]]/[[curate]], which release their own working set).
    */
  def nearDupPairs(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    nearDupPairsCached(docs, threshold)._1

  /** transitive near-dup clusters: (doc_id, cluster_id, keep) with one
    * canonical keeper (the min id) per connected component of the
    * verified-pair graph. Pregel-style min-label propagation WITH
    * pointer jumping: each round takes the min over (own label, min of
    * neighbors' labels, label of own label) — the label-of-label hop
    * doubles the reach per round, so rounds grow ~log(diameter) instead
    * of linearly in the diameter (a 100-hop chain converges in ~7
    * rounds, not 100). Both hops live in ONE plan per round: a single
    * localCheckpoint action materializes it, and convergence is read
    * from an [[Observation]] metric collected during that same action
    * (the r2 shape paid a second join+count action per round).
    *
    * The working caches (shingles, signatures, symmetric edges) are
    * released before returning — the result is materialized into the
    * final round's checkpoint blocks, which the ContextCleaner frees once
    * the returned frame is unreferenced.
    */
  def dupClusters(docs: DataFrame, threshold: Double = 0.5): DataFrame =
    dupClustersWithStats(docs, threshold)._1

  /** [[dupClusters]] plus the number of label-propagation rounds it took
    * to converge — the figure that tells an operator whether a corpus's
    * duplicate graph is shallow (2–3 rounds: mostly pairs/triangles) or
    * pathological (boilerplate chains). Bench reports it per run.
    */
  def dupClustersWithStats(docs: DataFrame,
      threshold: Double = 0.5): (DataFrame, Int) = {
    val (pairsDf, backing) = nearDupPairsCached(docs, threshold)
    val r = connectedComponentsWithStats(
      docs.select("doc_id"), pairsDf.select("doc_a", "doc_b"))
    backing.foreach(_.unpersist())
    r
  }

  /** Generic distributed connected components — label propagation with
    * pointer jumping over ANY undirected edge list, the graph core
    * shared by lexical dedup clustering ([[dupClusters]]) and semantic
    * KNN-graph clustering (x26). `nodes` is a one-column id frame,
    * `pairs` a two-column edge frame over those ids; each node's final
    * `cluster_id` is the smallest id reachable from it, `keep` marks
    * the representative. Converges in O(log diameter) rounds; each
    * round is ONE action (the convergence counter rides an Observation
    * on the same pass), with localCheckpoint truncating the iterative
    * lineage.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsWithStats(nodes, pairs)._1

  /** [[connectedComponents]] plus the propagation-round count. */
  def connectedComponentsWithStats(nodes: DataFrame,
      pairs: DataFrame): (DataFrame, Int) = {
    val idCol = nodes.columns.head
    val Seq(aCol, bCol) = pairs.columns.take(2).toSeq
    val edges = pairs.select(col(aCol).as("doc_a"), col(bCol).as("doc_b"))
    val sym = edges.union(edges.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").cache()
    // |V| rides an Observation on the seed checkpoint (no extra job): it
    // feeds the per-round node-frame dispatch below. Every frame joined
    // against the cached edge table in the loop is ≤ |V| rows of two
    // fixed-width columns, so [[dispatchNodeFrame]]'s closed-form bytes
    // decide the regime once per call.
    val obs0 = Observation()
    val seed = nodes.select(col(idCol).as("doc_id"))
      .withColumn("label", col("doc_id"))
      .observe(obs0, count(lit(1)).as("n"))
      .localCheckpoint()
    def metric(o: Observation, k: String): Long = o.get(k) match {
      case null => 0L
      case n: java.lang.Number => n.longValue()
    }
    val nNodes = metric(obs0, "n")
    def bcN(df: DataFrame): DataFrame = dispatchNodeFrame(df, nNodes, 2)
    val explainRounds = sym.sparkSession.conf
      .getOption("graft.debug.graphExplain").contains("true")
    def explain(tag: String, df: DataFrame): Unit =
      if (explainRounds)
        // dev-only plan capture: the loop's OUTPUT is checkpoint-backed,
        // so `Profile plan` over the returned frame can never show the
        // per-round join strategy — this prints it where plans evidence
        // is cut
        System.err.println(s"[cc $tag]\n" + df.queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
    // one full label-propagation round (neighbor-label min + pointer
    // jump) over the current labels. node-frame dispatch (r16): the
    // label lookup side, the neighbor-min frame and the pointer-jump
    // frame are all ≤ |V| rows of two longs — under budget they
    // broadcast, so the CACHED edge table never re-exchanges (the
    // un-hinted loop paid one O(E) shuffle of `sym` per round: labels
    // come out of a checkpoint, whose default-sized stats make the
    // static threshold blind, and AQE's runtime rescue still writes the
    // edge map stage first). `carry` columns ride the projection
    // unchanged (the fused first block carries round 1's chg flag
    // through round 2 so ONE Observation reads both rounds' counters).
    def fullRound(lbl: DataFrame, carry: Seq[String]): DataFrame = {
      val nm = sym
        .join(bcN(lbl.select(col("doc_id").as("dst"), col("label"))),
          Seq("dst"))
        .groupBy(col("src").as("doc_id")).agg(min("label").as("nmin"))
      // pointer jump: my label's own current label (labels is keyed by
      // doc_id and labels are doc ids, so this is a self-join on label)
      val hop = lbl.select(col("doc_id").as("label"), col("label").as("lj"))
      lbl.join(bcN(nm), Seq("doc_id"), "left")
        .join(bcN(hop), Seq("label"), "left")
        .select(col("doc_id") +:
          least(col("label"),
            coalesce(col("nmin"), col("label")),
            coalesce(col("lj"), col("label"))).as("label") +:
          (least(coalesce(col("nmin"), col("label")),
            coalesce(col("lj"), col("label"))) < col("label"))
            .cast("long").as("chg") +:
          carry.map(col): _*)
    }
    // Rounds 1+2 run as ONE action (r17 — the per-query fixed-overhead
    // cut the r16 verdict ordered): round 1 runs on identity labels
    // (label == doc_id), so the neighbor-label lookup is the edge list
    // itself and the pointer jump is a no-op — one edge aggregate
    // replaces three joins — and a CONVERGED graph still needs the
    // detector round after it, so the block always executes both and
    // reads both change counters from one Observation on its single
    // checkpoint: one driver round-trip and one checkpoint barrier
    // instead of two, at zero extra compute (shallow duplicate graphs —
    // pairs/triangles, the common corpus case — converge in exactly
    // these 2 rounds; the only overshoot is the no-edges corpus, whose
    // round 2 is an empty-frame no-op). Round 1's node-sized frame is
    // consumed three times by round 2 (neighbor lookup, join base,
    // pointer hop — broadcast-only chains ReusedExchange can't dedupe),
    // so it is cached for the block and released right after the action.
    val nm1 = sym.groupBy(col("src").as("doc_id")).agg(min("dst").as("nmin"))
    val r1 = seed.join(bcN(nm1), Seq("doc_id"), "left")
      .select(col("doc_id"),
        least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
        (coalesce(col("nmin"), col("label")) < col("label"))
          .cast("long").as("chg1"))
      .cache()
    val obsB = Observation()
    val block0 = fullRound(r1, Seq("chg1"))
      .observe(obsB, sum(col("chg1")).as("c1"), sum(col("chg")).as("c2"))
    explain("rounds 1+2 (fused)", block0)
    val block = block0.localCheckpoint()
    val c1 = metric(obsB, "c1")
    val c2 = metric(obsB, "c2")
    r1.unpersist()
    var labels = block.select("doc_id", "label")
    // round 1 already a fixed point ⇒ round 2 re-derived the identical
    // labels (a propagation round is a function of the labels alone), so
    // the block's checkpoint IS the answer and the round count matches
    // the unfused loop's exit round exactly — as it does in every case
    var rounds = if (c1 == 0L) 1 else 2
    var changed = if (c1 == 0L) 0L else c2
    while (changed > 0) {
      rounds += 1
      val obs = Observation()
      val next0 = fullRound(labels, Nil)
        .observe(obs, sum(col("chg")).as("changed"))
      explain(s"round $rounds", next0)
      val next = next0.localCheckpoint()
      changed = metric(obs, "changed")
      labels = next.select("doc_id", "label")
    }
    sym.unpersist()
    (labels.select(col("doc_id").as(idCol), col("label").as("cluster_id"))
      .withColumn("keep", col(idCol) === col("cluster_id")), rounds)
  }

  /** Generic distributed PageRank over a directed edge list — the
    * quality-ranking companion to [[connectedComponents]] in the graph
    * suite (CC → duplicate groups, KNN → adjacency, PageRank → node
    * importance). In a corpus pipeline this ranks sources/domains by
    * their link graph (the Common-Crawl-style quality prior that feeds
    * sampling weights); the operator itself is graph-agnostic.
    *
    * `nodes` is a one-column id frame, `edges` a two-column (src, dst)
    * frame over those ids. Returns (id, rank) after `iters` rounds of
    *   rank' = (1−d)/N + d · Σ_{s→me} rank_s / outdeg_s
    * with every rank ROUNDED to a 1e-10 grid per round: all remaining
    * arithmetic (division, multiply, floor) is IEEE-identical across
    * engines, so an unrolled SQL twin reproduces each iteration
    * bit-for-bit — the same engine-stability idiom as the Lloyd-trained
    * quantizer (x8). Nodes without out-edges simply leak their mass
    * (the standard simplification); nodes without in-edges sit at
    * (1−d)/N.
    *
    * Scale posture: per round ONE join of the (src, dst, outdeg) edge
    * table against the node-sized rank table and one map-side-combinable
    * sum by dst — the canonical iterative join-agg. The rank/degree/
    * inflow sides ride [[dispatchNodeFrame]]'s measured regime (r16):
    * checkpointed rank frames carry default-sized stats, so without the
    * closed-form dispatch the loop re-shuffled the cached O(E) edge
    * table every round; `localCheckpoint` truncates the per-round
    * lineage exactly as in [[connectedComponentsWithStats]]. The only
    * driver-side value is |V| — a scalar in the formula, not a data
    * collect (and the same count feeds the dispatch for free).
    *
    * LIFECYCLE (r16): fixed-horizon mode returns an UNMATERIALIZED lazy
    * plan backed by a query-scoped O(E) cache (eDeg) — run ONE terminal
    * action on it and then release the cache (`spark.catalog.clearCache()`
    * or unpersist), as Verify/Bench/Cli do; a caller running several
    * actions on the result re-executes all rounds per action (previously
    * each round was checkpoint-backed). Library callers needing a
    * multi-action frame should materialize it once (write + read back,
    * or `localCheckpoint`).
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 3,
      damping: Double = 0.85): DataFrame =
    // eps = −1 can never exceed a (non-negative) max |Δrank|, so the
    // loop runs exactly `iters` rounds — one body serves both the
    // fixed-round (oracle-unrollable) and converge-until-still modes
    pageRankConverged(nodes, edges, eps = -1.0, damping = damping,
      maxRounds = iters)._1

  /** [[pageRank]] run to CONVERGENCE: rounds continue while some
    * node's rank moved more than `eps` on the 1e-10 grid, with the
    * movement read from an [[Observation]] metric collected during the
    * SAME action that materializes the round — one job per round,
    * exactly [[connectedComponentsWithStats]]'s convergence shape
    * (fixed-horizon unrolling is for the oracle twin; production runs
    * until the graph says it's done). Returns (ranks, rounds taken);
    * `maxRounds` bounds pathological graphs.
    *
    * Fixed-horizon mode (eps < 0 — the [[pageRank]] entry): no
    * convergence metric is read, so the per-round action, Observation
    * and checkpoint are pure overhead and the loop builds ONE LAZY plan
    * instead (r16). The recursion runs on the INFLOW frame (r17):
    * round k+1 LEFT-joins the edge table with round k's inflow and
    * applies the rank update inline (absent sources take the base rank
    * via the update's coalesce — what the per-round ids join used to
    * provide), and the |V|-row ids join runs once after the loop. Each
    * round's subtree appears exactly once inside round k+1 (linear
    * plan growth, no exponential re-execution, no lineage to truncate
    * at a 3-round horizon), and each round costs ONE broadcast-exchange
    * build on the critical path instead of two. The caller's single
    * terminal action then runs every round in one job: 3 checkpoint
    * write+read barriers and 3 per-round driver round-trips gone.
    * `prev` is only read by the convergence metric, and every edge src
    * is a node id (the round-1 fusion already relies on this), so the
    * two formulations are column-for-column identical (GraphRegimeSpec
    * + the x27 oracle pin it). In this mode the eDeg cache is NOT
    * unpersisted before returning — nothing has materialized yet; it
    * follows the caller's clearCache contract like every other
    * query-scoped cache.
    */
  def pageRankConverged(nodes: DataFrame, edges: DataFrame,
      eps: Double = 1e-8, damping: Double = 0.85,
      maxRounds: Int = 50): (DataFrame, Int) = {
    import graft.functions.MoneyFunctions.roundAt
    val idCol = nodes.columns.head
    val Seq(sCol, dCol) = edges.columns.take(2).toSeq
    val ids = nodes.select(col(idCol).as("id"))
    val n = ids.count()
    // n = 0 would silently turn 1/n and (1-d)/n into Infinity and emit
    // NaN ranks instead of failing where the problem is
    require(n > 0, "pageRank needs a non-empty node set")
    // node-frame dispatch (r16): degree, rank and inflow frames are all
    // ≤ |V| rows of two fixed-width columns — |V| is already counted for
    // the formula, so the regime decision is free, and under budget the
    // cached edge table stays un-exchanged through every round
    def bcN(df: DataFrame): DataFrame = dispatchNodeFrame(df, n, 2)
    // deg as groupBy + broadcast-join, NOT a window (r17, measured): a
    // count().over(partitionBy(src)) window folds the degree into the
    // eDeg build stage and drops the deg broadcast-build job, but it
    // A/B-regressed (x27 min-of-6: 2.69 → 3.36 s) — the window's
    // src-keyed exchange + sort of the O(E) frame costs more than the
    // broadcast build, which AQE overlaps with the other futures anyway
    // (the a22 lesson: concurrent-future work is ~free on a wide box).
    val deg = edges.groupBy(col(sCol).as("src")).agg(count(lit(1)).as("deg"))
    val eDeg = edges.select(col(sCol).as("src"), col(dCol).as("dst"))
      .join(bcN(deg), "src").cache()
    val explainRounds = edges.sparkSession.conf
      .getOption("graft.debug.graphExplain").contains("true")
    val base = (1.0 - damping) / n
    val lazyFixed = eps < 0
    var ranks = ids.withColumn("rank", roundAt(lit(1.0 / n), 10))
    if (!lazyFixed) ranks = ranks.localCheckpoint()
    var rounds = 0
    var moved = Double.MaxValue
    // the uniform start rank as a scala Double, bit-identical to the
    // roundAt column above (same floor(x*1e10+0.5)/1e10 arithmetic)
    val r0 = math.floor(1.0 / n * 1e10 + 0.5) / 1e10
    // the rank-update formula over a (possibly null) inflow column —
    // constant across rounds, shared by both modes
    val update = roundAt(
      lit(base) + lit(damping) * coalesce(col("inflow"), lit(0.0)), 10)
    // lazy mode (r17) recurses on the INFLOW frame, not the rank frame:
    // the |V|-row ids join runs ONCE after the loop, so each round costs
    // one broadcast build (its inflow aggregate) instead of two
    // (inflow + the ids⨝inflow rank frame) — K fewer sequential
    // broadcast-exchange jobs on the lazy plan's critical path
    var lastInflow: DataFrame = null
    while (moved > eps && rounds < maxRounds) {
      rounds += 1
      // round 1 runs on the uniform rank, so the edge⨝rank join is a
      // constant lookup: aggregate the edge table directly (same CC
      // round-1 fusion — every run pays round 1)
      val withRank =
        if (rounds == 1) eDeg.withColumn("rank", lit(r0))
        else if (lazyFixed)
          // lazy round k ≥ 2: attach rank = update(inflow_{k−1}) on the
          // edge table via a LEFT join with the previous inflow — sources
          // absent from it take the base rank through update's coalesce,
          // exactly what the ids⨝inflow rank frame used to provide. Every
          // eDeg src IS a node id (edges are built over the node set; the
          // round-1 fusion above already relies on this), so the
          // inner-join-with-ranks filter this replaces was a no-op.
          eDeg.join(bcN(lastInflow.withColumnRenamed("id", "src")),
              Seq("src"), "left")
            .withColumn("rank", update)
        else eDeg.join(bcN(ranks.withColumnRenamed("id", "src")), "src")
      val inflow = withRank
        .groupBy(col("dst").as("id"))
        .agg(sum(col("rank") / col("deg")).as("inflow"))
      if (lazyFixed) {
        // lazy fixed-horizon round: no action, no checkpoint, no
        // Observation — the round's subtree appears exactly once inside
        // round k+1 (linear plan growth)
        lastInflow = inflow
        if (explainRounds)
          System.err.println(s"[pagerank round $rounds]\n" + inflow.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
      } else {
        val obs = Observation()
        val next0 = ranks.join(bcN(inflow), Seq("id"), "left")
          .select(col("id"), col("rank").as("prev"), update.as("rank"))
          .observe(obs, max(abs(col("rank") - col("prev"))).as("moved"))
        if (explainRounds)
          // dev-only plan capture — the returned frame is checkpoint-backed,
          // so this is the only place the per-round join strategy is visible
          System.err.println(s"[pagerank round $rounds]\n" + next0.queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
        val next = next0.localCheckpoint()
        moved = obs.get("moved") match {
          case null => 0.0
          case x: java.lang.Number => x.doubleValue()
        }
        ranks = next.select("id", "rank")
      }
    }
    if (lazyFixed && lastInflow != null)
      // the single deferred ids join: node ids with no inflow at the
      // final round surface with the base rank, exactly as the per-round
      // ids join produced them (rounds = 0 keeps the uniform start frame)
      ranks = ids.join(bcN(lastInflow), Seq("id"), "left")
        .select(col("id"), update.as("rank"))
    // converged mode materialized every round, so the cache is spent;
    // lazy mode hasn't run yet — the cache serves the caller's action
    // and follows its clearCache contract
    if (!lazyFixed) eDeg.unpersist()
    (ranks.select(col("id").as(idCol), col("rank")), rounds)
  }

  /** Incremental cluster maintenance — the daily operation on a large
    * dedup graph: fold a NEW batch into EXISTING cluster labels without
    * rebuilding the corpus graph. The old graph enters as its QUOTIENT
    * (one node per existing cluster label — old-old connectivity is
    * already encoded in the labels), new edges are (a) batch×index
    * pairs from the persisted LSH segments ([[dedupAgainstIndex]]:
    * candidates scale with the batch, never index×index) and (b)
    * in-batch pairs ([[nearDupPairs]] on the batch alone). Connected
    * components then run ONLY over the affected subgraph — the batch
    * plus the old labels an edge actually touches; every untouched
    * cluster passes through label-unchanged without entering the
    * iteration. Old clusters MERGE correctly when a new doc bridges
    * them (the case naive assign-to-nearest-cluster gets wrong), and
    * because labels are min-ids and the quotient preserves
    * reachability, the result is EQUAL to [[dupClusters]] over the
    * full corpus — IncrementalClusterSpec pins that equality and the
    * x29 oracle re-derives it against the full recursive closure.
    *
    * `oldClusters` is any (doc_id, cluster_id) frame produced at the
    * SAME threshold over exactly the indexed corpus (cross pairs to
    * docs absent from it are dropped). Returns (doc_id, cluster_id,
    * keep) for old + new docs, plus the CC round count.
    */
  def updateClustersWithStats(oldClusters: DataFrame, newDocs: DataFrame,
      indexPaths: Seq[String], threshold: Double = 0.5): (DataFrame, Int) = {
    val oldLab = oldClusters.select(col("doc_id"), col("cluster_id"))
    // ONE shingled+cached batch frame feeds both pair stages (the
    // cross-edge probe against the index and the in-batch self-pairs) —
    // each previously re-shingled the same documents independently
    val shNew = withShingles(newDocs).select("doc_id", "sh").cache()
    // cached (r17): crossEdges has TWO materializing consumers in
    // different ACTIONS — the CC seed checkpoint (through touched/nodes)
    // and the CC edge-table cache build — and exchange reuse never
    // crosses an action boundary, so the whole batch×index probe join
    // ran twice. Two-long rows, released by the caller's clearCache
    // contract.
    val crossEdges = dedupAgainstIndexFrom(shNew, indexPaths, threshold)
      .join(oldLab.withColumnRenamed("doc_id", "index_id"), "index_id")
      .select(col("new_id").as("a"), col("cluster_id").as("b"))
      .cache()
    val batchEdges = nearDupPairsFrom(shNew, threshold)._1
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val touched = crossEdges.select(col("b").as("id")).distinct()
    val nodes = touched
      .union(newDocs.select(col("doc_id").as("id"))).distinct()
    val (qcc, rounds) = connectedComponentsWithStats(
      nodes, crossEdges.union(batchEdges))
    val relabel = qcc.select(col("id"), col("cluster_id").as("new_label"))
    // untouched old clusters never joined the iteration: left join +
    // coalesce passes their labels through unchanged
    val oldOut = oldLab
      .join(relabel.withColumnRenamed("id", "cluster_id"), Seq("cluster_id"), "left")
      .select(col("doc_id"), coalesce(col("new_label"), col("cluster_id")).as("cluster_id"))
    val newOut = newDocs.select(col("doc_id"))
      .join(relabel.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
      .select(col("doc_id"), col("new_label").as("cluster_id"))
    (oldOut.unionByName(newOut)
      .withColumn("keep", col("doc_id") === col("cluster_id")), rounds)
  }

  /** [[updateClustersWithStats]] without the round count. */
  def updateClusters(oldClusters: DataFrame, newDocs: DataFrame,
      indexPaths: Seq[String], threshold: Double = 0.5): DataFrame =
    updateClustersWithStats(oldClusters, newDocs, indexPaths, threshold)._1

  /** Which member of each duplicate cluster survives. */
  sealed trait KeeperStrategy
  object KeeperStrategy {
    /** keep the smallest doc_id — the [[dupClusters]] `keep` default. */
    case object MinId extends KeeperStrategy
    /** keep the longest text, ties by smallest id — the production
      * default (the longest duplicate is usually the most complete).
      */
    case object LongestText extends KeeperStrategy
  }

  /** Keeper policy over an EXISTING cluster table: re-decide `keep` per
    * cluster without re-running the cluster build. `clusters` is any
    * (doc_id, cluster_id) frame — [[dupClusters]]' output, a parquet
    * table from a previous run, or a hand-built one. One window over the
    * cluster key; at 100 TB this is a single shuffle of (id, len, cluster)
    * triples — the cluster build it composes with costs orders of
    * magnitude more, which is exactly why it must be reusable as input
    * here rather than rebuilt per policy change.
    */
  def keeperPolicy(docs: DataFrame, clusters: DataFrame,
      strategy: KeeperStrategy = KeeperStrategy.LongestText): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = strategy match {
      case KeeperStrategy.LongestText => Seq(col("text_len").desc, col("doc_id").asc)
      case KeeperStrategy.MinId => Seq(col("doc_id").asc)
    }
    val w = Window.partitionBy("cluster_id").orderBy(order: _*)
    docs.select(col("doc_id"), length(col("text")).cast("long").as("text_len"))
      .join(clusters.select("doc_id", "cluster_id"), Seq("doc_id"))
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "cluster_id", "text_len", "keep")
  }

  // ---- persisted LSH index (incremental ingest) --------------------------

  /** Persist the LSH dedup index for `docs` under `path`: the band
    * signature table (Hive-partitioned by band_id so a band-targeted
    * reader prunes directories) and the shingle sets (needed by the
    * exact-verify stage). Once written, [[dedupAgainstIndex]] checks any
    * future batch against this corpus WITHOUT rescanning its text — the
    * property that makes incremental ingest dedup affordable at 100 TB
    * (re-shingling the full corpus per batch is exactly what this
    * avoids). For rolling ingest, write each batch's index under its own
    * path (or append); signatures are per-doc, so indexes compose by
    * union.
    */
  /** the x4/x20/x28 dedup posting index — every posting of the shingled
    * doc frame with its (lang, shingle) document frequency `df`, the
    * per-doc PPJoin prefix rank `rn` among df ≥ 2 postings in ascending
    * (df, shingle) order (null on df = 1 rows), the doc's df ≥ 2 posting
    * count `n2` (the positional filter's remainder basis), and the skew
    * salt fan-out width `nsalt` = ceil(df / saltChunk) ≤ 256. This is
    * the threshold-INDEPENDENT part of the prefix-filter machinery: one
    * artifact serves every containment/jaccard threshold and the
    * idf-weighted index. Construction notes live with the single
    * implementation ([[graft.queries.DedupQueries.indexedPostings]]
    * delegates here).
    *
    * The rank pass (withRank = true) also carries the WEIGHTED prefix
    * columns (r10 — Bayardo et al. WWW'07 §3 generalized to weighted
    * overlap): `w` = N_docs / df (the idf weight, one IEEE division —
    * bit-identical across engines), `wsum` = the doc's full weighted
    * size Σw including its df = 1 singletons, and `wrem` = the weight
    * of this df ≥ 2 posting PLUS every later one in the same ascending
    * (df, shingle) order (null on df = 1 rows — a df = 1 shingle can
    * co-occur with nothing, so it never carries intersection weight).
    * `wrem` is the weighted analog of the positional remainder
    * `n2 − rn + 1`: a qualifying weighted-jaccard pair at threshold t
    * has intersection weight wc ≥ t·max(wsum_a, wsum_b), and all of wc
    * sits at ranks ≥ the pair's first common shingle — so postings with
    * wrem < t·wsum can never hold a qualifying pair's first match, and
    * the probe prefix is exactly the down-set {wrem ≥ t·wsum}
    * (DedupQueries.weightedJaccardPairs). Computed in the SAME
    * window sort as rn/n2 (one exchange, one sort, five aggregates) —
    * the columns are threshold-independent, so the persisted artifact
    * still serves every t.
    */
  def postingIndex(docs: DataFrame, saltChunk: Long = 1024L,
      withRank: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val postings = docs.select(col("doc_id"), col("lang"), col("n"),
      explode(col("sh")).as("shingle"))
    val dfCounts = postings.groupBy("lang", "shingle")
      .agg(count(lit(1)).as("df"))
    val byDocRows = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // whole-doc frame over the SAME (df, shingle) sort, so per-doc sums
    // of doubles accumulate in a deterministic order (an orderBy-less
    // partition frame would sum in nondeterministic row order — run-to-
    // run wsum jitter below the 6-dp rounding, but why carry it)
    val byDocAll = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val joined = postings.join(dfCounts, Seq("lang", "shingle"))
    val ranked =
      if (withRank) {
        // corpus size folded into the plan as a broadcast 1-row
        // aggregate (column pruning → metadata-cheap scan), not a
        // driver-side count() job
        val nDocs = docs.agg(count(lit(1)).cast("double").as("__n_docs"))
        val w2 = when(col("df") >= 2, col("w")).otherwise(lit(0.0))
        joined.crossJoin(broadcast(nDocs))
          .withColumn("w", col("__n_docs") / col("df")).drop("__n_docs")
          .withColumn("rn",
            when(col("df") >= 2,
              sum(when(col("df") >= 2, 1).otherwise(0)).over(byDocRows).cast("int")))
          .withColumn("n2", max(col("rn")).over(byDocAll))
          .withColumn("wsum", sum(col("w")).over(byDocAll))
          // wrem = (df ≥ 2 total) − (df ≥ 2 running sum) + w, i.e. this
          // posting's weight plus everything after it in rank order
          .withColumn("wrem", when(col("df") >= 2,
            sum(w2).over(byDocAll) - sum(w2).over(byDocRows) + col("w")))
      } else joined.withColumn("rn", lit(null).cast("int"))
        .withColumn("n2", lit(null).cast("int"))
        .withColumn("w", lit(null).cast("double"))
        .withColumn("wsum", lit(null).cast("double"))
        .withColumn("wrem", lit(null).cast("double"))
    ranked
      .withColumn("nsalt",
        least(ceil(col("df") / lit(saltChunk.toDouble)), lit(256L)).cast("int"))
      .select("doc_id", "lang", "n", "shingle", "df", "rn", "n2", "nsalt",
        "w", "wsum", "wrem")
  }

  /** persist the dedup posting index as a first-class on-disk artifact:
    * `path/docs` = the shingled doc frame (doc_id, lang, sh, n) the
    * exact-verify stages read, `path/postings` = [[postingIndex]] over
    * it. Plain parquet, no session-scoped state — any later JVM reads
    * it back with [[readPostingDocs]]/[[readPostingIndex]]. Rationale
    * (the [[writeLshIndex]] argument applied to prefix-filter dedup):
    * on a production corpus the posting index IS a materialized table
    * every dedup pass reads — the shingle explode + df count + rank
    * window is identical across thresholds/weightings, so it is built
    * once per corpus version, not once per query. x4/x20/x28 consume
    * this layout (via their per-process shared build); the `posting-index`
    * CLI subcommand materializes it for cross-run reuse.
    */
  def writePostingIndex(docs: DataFrame, path: String,
      saltChunk: Long = 1024L): Unit = {
    val sh = withShingles(docs)
      .select(col("doc_id"), col("lang"), col("sh"), size(col("sh")).as("n"))
    graft.etl.EtlIO.writeParquet(sh, s"$path/docs")
    val spark = docs.sparkSession
    graft.etl.EtlIO.writeParquet(
      postingIndex(spark.read.parquet(s"$path/docs"), saltChunk),
      s"$path/postings")
  }

  /** reader for [[writePostingIndex]]'s `docs` half (doc_id, lang, sh, n). */
  def readPostingDocs(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/docs")

  /** reader for [[writePostingIndex]]'s `postings` half. */
  def readPostingIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(s"$path/postings")

  def writeLshIndex(docs: DataFrame, path: String): Unit = {
    val sh = withShingles(docs).select("doc_id", "sh").cache()
    graft.etl.EtlIO.writePartitionedParquet(
      bandSignatures(sh), s"$path/signatures", Seq("band_id"))
    graft.etl.EtlIO.writeParquet(sh, s"$path/shingles")
    sh.unpersist()
  }

  /** persisted-index readers ([[writeLshIndex]]'s layout) — shared by
    * the batch and streaming incremental-dedup paths so the layout has
    * exactly one definition.
    */
  private[graft] def readIndexSignatures(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = readIndexSignatures(spark, Seq(indexPath))

  /** multi-segment read: an index is a SET of immutable segments (one
    * per ingested batch — [[writeLshIndex]] or [[curateIncremental]]'s
    * append), unioned at read time. Signatures are per-doc, so segments
    * compose by file-listing union — no merge job, the object-store-
    * friendly layout (segments are write-once; no dataset is mutated).
    */
  private[graft] def readIndexSignatures(spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String]): DataFrame =
    // one read per segment, unioned: segments are independent Hive-
    // partitioned roots, and a single multi-path read would try (and
    // refuse) to infer one partition scheme across them. NO segments =
    // an empty index (the day-0 bootstrap of incremental curation:
    // nothing indexed yet, so nothing can be a duplicate) — never a
    // reduce-on-Nil crash.
    if (indexPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("band_id",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("band_key",
            org.apache.spark.sql.types.StringType))))
    else
      indexPaths.map(p => spark.read.parquet(s"$p/signatures")
        .select("doc_id", "band_id", "band_key")).reduce(_.unionByName(_))

  private[graft] def readIndexShingles(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame = readIndexShingles(spark, Seq(indexPath))

  private[graft] def readIndexShingles(spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String]): DataFrame =
    if (indexPaths.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sh",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))))
    else
      indexPaths.map(p => spark.read.parquet(s"$p/shingles"))
        .reduce(_.unionByName(_))

  // ---- exact-verify regime dispatch (r14) ---------------------------------

  /** Broadcast budget for the exact-verify joins, derived from task
    * memory: maxHeap / 8 (override: session conf
    * `graft.verify.broadcastBudget`, bytes — the bracketing/spec knob,
    * same role as x28's `probeFractionCutoff` parameter). Rationale: a
    * broadcast relation exists twice at peak (driver build + the
    * executor copy; one JVM in local mode, per-executor on a cluster),
    * so a side ≤ heap/8 keeps peak broadcast footprint ≤ heap/4 —
    * comfortably inside the 0.6·heap unified region next to the probe
    * side's working set. On a cluster the denominator rides
    * per-EXECUTOR heap, the same memory-per-task lever the r9/r13 scale
    * runs turned; the floor keeps tiny test JVMs from degrading to SMJ
    * on KB-sized fixtures.
    */
  private[graft] def verifyBroadcastBudget(
      spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption("graft.verify.broadcastBudget").map(_.toLong)
      .getOrElse(math.max(Runtime.getRuntime.maxMemory() / 8, 64L << 20))

  /** Measured regime dispatch for the NODE-SIZED frames inside the
    * iterative graph loops ([[connectedComponentsWithStats]]'s label /
    * neighbor-min / pointer-jump frames, [[pageRankConverged]]'s rank /
    * degree / inflow frames). Every one of those frames has ≤ `rows`
    * rows of `cols` fixed-width (long/double) columns, so its UnsafeRow
    * footprint is exactly rows × (8-byte null bitset + 8·cols) — a
    * closed form, no measuring scan needed (the row count is already on
    * hand: PageRank counts |V| for its formula, CC observes it on the
    * seed checkpoint). The raw-row bytes are charged a 3× multiplier
    * before the budget compare (r17, r16 ADVICE): the BUILT broadcast
    * relation costs a multiple of its UnsafeRow payload — the hash
    * relation's map structure plus the driver-side copy — and in lazy
    * fixed-horizon PageRank several per-round broadcasts are live inside
    * one job, so an unpadded estimate admitted frames whose true
    * footprint crowded the heap well past the budget's intent. Under
    * [[verifyBroadcastBudget]] the padded frame is hinted broadcast and
    * the per-round edge⨝node join keeps the CACHED edge table
    * un-exchanged (the per-round edge shuffle is the loop's dominant
    * movement — O(E) bytes × O(log diameter) rounds); over budget the
    * natural plan stands (AQE shuffle join — the cluster-scale regime
    * where per-executor memory is the lever). Strict <, so the
    * zero-budget spec knob admits nothing (PlanAuditSpec's no-hint audit
    * reads it literally). The hint may change the PLAN, never the
    * ANSWER — GraphRegimeSpec pins both loops' outputs equal across
    * regimes.
    */
  private[graft] def dispatchNodeFrame(df: DataFrame, rows: Long,
      cols: Int): DataFrame =
    if (rows * (8L + 8L * cols) * 3L < verifyBroadcastBudget(df.sparkSession))
      broadcast(df)
    else df

  /** MEASURED in-memory byte estimate of a shingle-set frame (any frame
    * carrying `sh: array<string>`): one column-pruned aggregate —
    * Σ_rows (Σ_elems (len + 16) + 64), the UnsafeRow array layout's
    * string payload + per-element offset/padding + row overhead. The
    * x28 dispatch's discipline (measure the regime statistic on the
    * real data, never trust a static threshold) applied to the verify
    * join: this is the number Spark's own autoBroadcastJoinThreshold
    * never sees accurately for a cached/derived frame.
    */
  private[graft] def setFrameBytes(sets: DataFrame): Long = {
    val r = sets.agg(sum(coalesce(
        expr("aggregate(sh, 0L, (acc, x) -> acc + length(x) + 16L)"),
        lit(0L)) + lit(64L)).as("b")).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Measured regime dispatch for a BATCH exact-verify join — the r13
    * verdict's one `weak` finding made self-driving. The decade-3
    * bracketing (BASELINE §r13) pinned the failure: at sf1 the two
    * shingle-set verify joins broadcast and the plan is candidate-linear;
    * at sf3 Spark's static threshold flips them to SortMergeJoin and the
    * plan carries shingle-ARRAY rows through sorts — 547 s / 11 GB
    * shuffle / 314 GB spill vs 87 s / 1.1 GB / 0 spill with the verify
    * side broadcast (6×, and at sf10 the SMJ regime exceeds the box's
    * disk entirely while broadcast completes). The exchange bytes are
    * proven linear (fixed-plan 3.32→11.0 GB for 3×), so the PLAN CHOICE
    * is the failure, not the movement — exactly x28's situation before
    * its probe-volume dispatch, so this is the same idea: one measured
    * statistic chooses the regime, and both regimes are output-identical
    * (VerifyRegimeSpec pins it), so the dispatch can change the plan but
    * never the answer.
    *
    * Regimes, in measured order of preference:
    *  1. whole-set broadcast — [[setFrameBytes]](sets) < budget (strict,
    *     so the zero-budget spec knob admits nothing, not even an empty
    *     frame's 0-byte measurement): hint the
    *     verify side; both verify joins share ONE broadcast exchange
    *     (ReusedExchange). This is the regime the 2g diagnostic knob
    *     reached manually at sf3/sf10.
    *  2. candidate-pruned broadcast — the full set frame is over budget
    *     but the DISTINCT-CANDIDATE subset (the only rows the verify can
    *     ever read) fits: semi-join-prune the sets to candidate ids,
    *     re-measure, broadcast the pruned frame. The candidate frame is
    *     cached first (pair ids only — two longs/row) so the measuring
    *     action doesn't re-run the candidate join for the verify.
    *  3. SMJ on the natural frames — nothing fits: the sf10-on-one-box
    *     regime, correct and disk-bound; on a cluster both its terms
    *     (memory per task × aggregate spill disk) scale with the
    *     deployment.
    *
    * The hint wraps a LOCAL reference used only by the verify joins —
    * the r13 `shuffle_hash` experiment proved that hinting the SHARED
    * cached frame poisons the candidate machinery upstream (62 GB W,
    * reverted), so the candidate side always sees the unhinted plan.
    *
    * Returns (candidates to use, verify side to use, caches created) —
    * callers must release the caches (directly or via the existing
    * clearCache contracts).
    */
  private[graft] def dispatchVerifySets(cand0: DataFrame,
      candIdCols: Seq[String], sets: DataFrame,
      setsBytes: Long): (DataFrame, DataFrame, Seq[DataFrame]) = {
    val budget = verifyBroadcastBudget(sets.sparkSession)
    // strict <: a zero/empty-frame measurement must not satisfy the
    // zero-budget spec knob (budget 0 means "never hint", and
    // PlanAuditSpec's no-hint audit depends on that reading literally)
    if (setsBytes < budget) (cand0, broadcast(sets), Nil)
    else {
      val cand = cand0.cache()
      val ids = candIdCols.map(c => cand.select(col(c).as("doc_id")))
        .reduce(_.union(_)).distinct()
      val pruned = sets.join(ids, Seq("doc_id"), "left_semi").cache()
      if (setFrameBytes(pruned) < budget) (cand, broadcast(pruned),
        Seq(cand, pruned))
      else { pruned.unpersist(); (cand, sets, Seq(cand)) }
    }
  }

  /** exact-verify tail shared by the batch and streaming incremental
    * paths: candidates (new_id, sha, index_id) join the index shingle
    * sets, jaccard rounded at 6 dp before thresholding (the oracle
    * contract).
    *
    * Regime dispatch (r14), static-side only: the index shingle frame is
    * broadcast when its file-listing size estimate fits the task-memory
    * budget ([[verifyBroadcastBudget]]) — the estimate is the optimizer's
    * own stats over the parquet read (file bytes; works on any Hadoop
    * FS) × a parquet→UnsafeRow expansion factor, because a MEASURING
    * scan here would be paid once per micro-batch by the streaming
    * callers. No candidate-pruned middle regime on this path: pruning
    * needs an action on the candidate frame, which is illegal when the
    * candidates are a stream ([[graft.streaming.StreamingOps
    * .dedupStreamAgainstIndex]] shares this tail so the contracts can't
    * diverge). Over budget → natural plan (stream-static or SMJ).
    */
  private[graft] val ParquetToRowExpansion = 4L

  private[graft] def verifyAgainstIndex(candWithSha: DataFrame,
      idxSh: DataFrame, threshold: Double): DataFrame = {
    val est = idxSh.queryExecution.optimizedPlan.stats.sizeInBytes *
      ParquetToRowExpansion
    val side =
      if (est < BigInt(verifyBroadcastBudget(idxSh.sparkSession)))
        broadcast(idxSh)
      else idxSh
    candWithSha
      .join(side.select(col("doc_id").as("index_id"), col("sh").as("shb")),
        Seq("index_id"))
      .withColumn("jaccard",
        graft.functions.MoneyFunctions.roundAt(
          JaccardSimilarity(col("sha"), col("shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "index_id", "jaccard")
  }

  /** Dedup a NEW batch against a persisted index (see [[writeLshIndex]]):
    * returns (new_id, index_id, jaccard ≥ threshold). The batch is
    * shingled and signed fresh; the index side comes entirely from
    * parquet — signatures for the band equi-join candidates, shingle
    * sets for the exact verify. Candidate volume scales with the BATCH
    * (new×index band join), never index×index.
    *
    * Caching contract: like [[nearDupPairs]], the returned frame is
    * lazy and backed by the cached batch shingle sets (they feed both
    * the signature build and the verify join) — release with
    * `spark.catalog.clearCache()` between ingests on a long-lived
    * session.
    */
  def dedupAgainstIndex(newDocs: DataFrame, indexPath: String,
      threshold: Double = 0.5): DataFrame =
    dedupAgainstIndex(newDocs, Seq(indexPath), threshold)

  /** [[dedupAgainstIndex]] against a multi-segment index (see
    * [[readIndexSignatures]]): the rolling-ingest shape, where every
    * prior batch contributed one immutable segment.
    */
  def dedupAgainstIndex(newDocs: DataFrame, indexPaths: Seq[String],
      threshold: Double): DataFrame =
    dedupAgainstIndexFrom(
      withShingles(newDocs).select("doc_id", "sh").cache(), indexPaths, threshold)

  /** [[dedupAgainstIndex]] over a PRE-SHINGLED cached (doc_id, sh) frame
    * (see [[nearDupPairsFrom]] — the shared-batch path).
    */
  private def dedupAgainstIndexFrom(sh: DataFrame, indexPaths: Seq[String],
      threshold: Double): DataFrame = {
    val spark = sh.sparkSession
    val cand = bandSignatures(sh).as("a")
      .join(readIndexSignatures(spark, indexPaths).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("index_id"))
      .dropDuplicates("new_id", "index_id")
    verifyAgainstIndex(
      cand.join(sh.select(col("doc_id").as("new_id"), col("sh").as("sha")),
        Seq("new_id")),
      readIndexShingles(spark, indexPaths), threshold)
  }

  // ---- text canonicalization + splits ------------------------------------

  /** ingest canonicalization: lowercase, redact number runs, collapse
    * whitespace, trim — adds `norm` (narrow codegen'd regex maps).
    */
  def normalize(docs: DataFrame): DataFrame =
    docs.withColumn("norm", trim(regexp_replace(regexp_replace(
      lower(col("text")), "[0-9]+", "<num>"), " +", " ")))

  /** Gopher/C4-style quality-filter signals, one narrow codegen'd pass:
    * word count, duplicate-word fraction (repetition), numeric-character
    * fraction, symbol-word fraction (words with no ASCII letter), and
    * the keep/drop decision at fixed thresholds. Fractions are rounded
    * at 6 dp (the cross-engine contract). Swap thresholds per corpus;
    * the *mechanism* — per-doc signals → boolean gate, no shuffle — is
    * the 100 TB shape.
    */
  def qualitySignals(docs: DataFrame): DataFrame = {
    val r6 = (c: org.apache.spark.sql.Column) =>
      graft.functions.MoneyFunctions.roundAt(c, 6)
    docs.withColumn("w", split(col("text"), " "))
      .withColumn("n_words", size(col("w")).cast("long"))
      .withColumn("dup_word_fraction", r6(lit(1.0) -
        size(array_distinct(col("w"))).cast("double") / col("n_words")))
      .withColumn("numeric_char_fraction", r6(
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("double") /
          greatest(length(col("text")), lit(1))))
      .withColumn("symbol_word_fraction", r6(
        size(expr("filter(w, x -> NOT x rlike '[a-zA-Z]')")).cast("double") /
          col("n_words")))
      .withColumn("keep",
        col("n_words").between(5, 5000) &&
          col("dup_word_fraction") <= 0.6 &&
          col("symbol_word_fraction") <= 0.3)
      .drop("w")
  }

  /** content-addressed bucket in [0, 100): first 8 md5 hex digits of the
    * doc id folded to an int — the same document lands in the same
    * bucket on every run, on any cluster.
    */
  def withBucket(docs: DataFrame): DataFrame =
    // the native md5_fold kernel — value-identical to the interpreted
    // `instr` hex fold this replaced (Md5FoldParitySpec), which every
    // split/sample DuckDB oracle still computes relationally
    docs.withColumn("bucket",
      graft.functions.Md5Fold(col("doc_id").cast("string"), 1, 8) % 100)

  /** deterministic train/val/test assignment (80/10/10) — adds
    * `bucket` + `split`; reproducible and incremental (new docs never
    * reshuffle old assignments).
    */
  def withSplit(docs: DataFrame): DataFrame =
    withBucket(docs).withColumn("split",
      when(col("bucket") < 80, "train")
        .when(col("bucket") < 90, "val")
        .otherwise("test"))

  /** per-stratum deterministic downsampling: keep a doc iff its bucket
    * clears the stratum's percentage (the hash-gate version of sampleBy
    * — reproducible, join-free).
    */
  def stratifiedSample(docs: DataFrame, strataCol: String,
      rates: Map[String, Int], defaultRate: Int): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (k, r)) =>
      when(col(strataCol) === k, r).otherwise(acc)
    }
    withBucket(docs).filter(col("bucket") < rate).drop("bucket")
  }

  /** token-budget shard assignment via per-group prefix sums — adds
    * `n_tokens` + `shard_id`; no driver loop, no global sort.
    */
  def packShards(docs: DataFrame, groupCol: String, budget: Long): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .withColumn("shard_id",
        floor(coalesce(sum("n_tokens").over(w), lit(0L)) / budget).cast("long"))
  }

  /** the canonical curation pipeline: (optionally) quality-gate, then
    * normalize text, drop near-dups (keep one doc per cluster), assign
    * deterministic splits. Returns the curated corpus with `norm`,
    * `cluster_id`, `bucket`, `split`. With `qualityGate` on, docs
    * failing [[qualitySignals]]' keep decision are dropped BEFORE
    * dedup — the usual intake order (no point clustering garbage).
    */
  def curate(docs: DataFrame, threshold: Double = 0.5,
      qualityGate: Boolean = false): DataFrame =
    curate(docs, threshold, qualityGate, KeeperStrategy.MinId)

  /** [[curate]] with an explicit keeper policy: the cluster build runs
    * once, then [[keeperPolicy]] re-decides `keep` (one window over the
    * cluster table — e.g. `LongestText`, the production default of
    * keeping the most complete duplicate) before the normalize/split
    * tail. MinId short-circuits to the cluster build's own keep flag.
    */
  def curate(docs: DataFrame, threshold: Double,
      qualityGate: Boolean, strategy: KeeperStrategy): DataFrame = {
    val base =
      if (qualityGate) qualitySignals(docs).filter(col("keep"))
        .select(docs.columns.toIndexedSeq.map(col): _*)
      else docs
    val clusters = dupClusters(base, threshold)
    val kept = strategy match {
      case KeeperStrategy.MinId => clusters.filter(col("keep"))
      case s => keeperPolicy(base, clusters, s).filter(col("keep"))
    }
    withSplit(normalize(base)
      .join(kept.select("doc_id", "cluster_id"), Seq("doc_id")))
  }

  /** LSM-style compaction of LSH index segments (r11 — the small-files
    * problem for the DEDUP INDEX, the same disease the reference's S10
    * parquet compaction treats for data files): under the rolling-
    * ingest discipline every batch appends one immutable segment, so
    * after N ingests each probe pays N directory listings, N parquet
    * footer reads and an N-way union plan — probe cost grows with
    * segment COUNT forever even though total index ROWS barely move.
    * This folds any set of segments into ONE segment with byte-equal
    * content (a pure union of the per-doc signature and shingle rows —
    * no dedup, no rewrite of values, so every read path that consumed
    * the N segments consumes the compacted one identically; CorpusSpec
    * pins curate-against-compacted ≡ curate-against-N-segments).
    * Segments being write-once, the swap is coordination-free: write
    * the compacted segment, point the next ingest's `indexPaths` at it,
    * delete the inputs at leisure — [[gcSegments]] is that deletion for
    * the managed seg_/cmp_ layout, with the replay-safety watermark
    * derived for you.
    */
  def compactSegments(spark: org.apache.spark.sql.SparkSession,
      indexPaths: Seq[String], outPath: String): Unit = {
    require(indexPaths.nonEmpty, "compactSegments needs at least one segment")
    // a compaction that writes INTO one of its own inputs would race the
    // read with the overwrite — Spark aborts on the conflict, but only
    // after the signatures may be half-written while shingles never ran
    // (r11 ADVICE). Segments are write-once: the output must be a fresh
    // path, checked up front in both nesting directions.
    val outAbs = java.nio.file.Paths.get(outPath).toAbsolutePath.normalize
    indexPaths.foreach { p =>
      val in = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      require(!outAbs.startsWith(in) && !in.startsWith(outAbs),
        s"compactSegments output $outPath overlaps input segment $p — " +
          "compacted segments must be written to a fresh path and " +
          "swapped in by pointing the next ingest's indexPaths at them")
    }
    // stage-then-rename: both tables land under a dot-named staging dir
    // (invisible to segment listings) and ONE rename publishes them, so
    // a crash between the two writes can never leave a segment with
    // signatures but no shingles at the published path
    val staging = outAbs.resolveSibling("." + outAbs.getFileName + ".staging")
    graft.core.Scratch.deleteTree(staging)
    graft.etl.EtlIO.writePartitionedParquet(
      readIndexSignatures(spark, indexPaths), s"$staging/signatures",
      Seq("band_id"))
    graft.etl.EtlIO.writeParquet(
      readIndexShingles(spark, indexPaths), s"$staging/shingles")
    graft.core.Scratch.deleteTree(outAbs)
    // ATOMIC_MOVE makes the no-torn-publish guarantee explicit: a plain
    // move could legally fall back to copy+delete (e.g. cross-device) and
    // die mid-copy with a half-populated published path; with the flag the
    // publish either happens as one rename or throws with nothing at
    // outAbs (same contract as StreamingOps.publishDirAtomic).
    java.nio.file.Files.move(staging, outAbs,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** Retention sweep for a MANAGED segment directory (the seg_N/cmp_N
    * layout the ingest streams write) — the dual of [[compactSegments]]:
    * compaction bounds the read set, this reclaims the superseded
    * artifacts no legal replay can reach, bounding on-disk growth too.
    * Thin alias for [[graft.streaming.StreamingOps.gcSegments]], which
    * owns the layout and the watermark derivation (newest compacted
    * artifact at or below the checkpoint-committed batch) — see its
    * scaladoc for the replay-safety argument and the loud-failure
    * contract below the watermark. Returns the deleted paths.
    */
  def gcSegments(segmentBasePath: String,
      lastCommittedBatchId: Long): Seq[String] =
    graft.streaming.StreamingOps.gcSegments(segmentBasePath,
      lastCommittedBatchId)

  /** The DAILY operation of a 100 TB corpus: curate a NEW batch against
    * the already-curated corpus without touching it. Pipeline:
    * (optional) quality gate → dedup against the persisted index
    * segments (`indexPaths` — batch×index candidates only, the indexed
    * corpus's text is never rescanned) → drop in-batch near-dup losers
    * (the higher id of any verified pair, the x18 keeper rule — a full
    * in-batch transitive cluster build is [[curate]]'s job when batches
    * self-duplicate heavily) → normalize + deterministic split → write
    * the SURVIVORS' signatures + shingles as a new immutable index
    * segment under `appendSegmentPath`, so the next batch's `indexPaths`
    * is simply this one plus that path. One shingle/signature build
    * feeds the index probe, the in-batch check AND the appended segment.
    *
    * The segment write runs eagerly (it is the call's side effect); the
    * returned curated batch is lazy on the same cached shingle build —
    * release with `spark.catalog.clearCache()` between ingests.
    */
  def curateIncremental(newDocs: DataFrame, indexPaths: Seq[String],
      appendSegmentPath: String, threshold: Double = 0.5,
      qualityGate: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    val base =
      if (qualityGate) qualitySignals(newDocs).filter(col("keep"))
        .select(newDocs.columns.toIndexedSeq.map(col): _*)
      else newDocs
    val sh = withShingles(base).select("doc_id", "sh").cache()
    val sig = bandSignatures(sh).cache()
    // vs the existing corpus: band-join candidates, exact verify
    val idxCand = sig.as("a")
      .join(readIndexSignatures(spark, indexPaths).as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("index_id"))
      .dropDuplicates("new_id", "index_id")
    val idxMatches = verifyAgainstIndex(
      idxCand.join(sh.select(col("doc_id").as("new_id"), col("sh").as("sha")),
        Seq("new_id")),
      readIndexShingles(spark, indexPaths), threshold)
      .select(col("new_id").as("doc_id")).distinct()
    // within the batch: same band equi-join on the batch's own
    // signatures, drop the higher id of each verified pair (min id of
    // every in-batch dup group always survives)
    val batchCand = sig.as("a").join(sig.as("b"),
        col("a.band_id") === col("b.band_id") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("keep_id"), col("b.doc_id").as("new_id"))
      .dropDuplicates("keep_id", "new_id")
    val batchLosers = batchCand
      .join(sh.select(col("doc_id").as("new_id"), col("sh").as("sha")), Seq("new_id"))
      .join(sh.select(col("doc_id").as("keep_id"), col("sh").as("shb")), Seq("keep_id"))
      .withColumn("jaccard",
        graft.functions.MoneyFunctions.roundAt(
          JaccardSimilarity(col("sha"), col("shb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id").as("doc_id")).distinct()
    // cached (r17): dropIds has THREE materializing consumers in
    // different ACTIONS — the two segment writes below and the caller's
    // terminal action on the returned curated frame — and exchange reuse
    // never crosses an action boundary, so the whole candidate+verify
    // chain (band joins, jaccard verifies, distincts) ran three times
    // per ingest. One-long rows (loser doc_ids only), released by the
    // caller's clearCache contract like sh/sig above.
    val dropIds = idxMatches.union(batchLosers).distinct().cache()
    val survivors = base.join(dropIds, Seq("doc_id"), "left_anti")
    val survivorIds = survivors.select("doc_id")
    graft.etl.EtlIO.writePartitionedParquet(
      sig.join(survivorIds, Seq("doc_id")),
      s"$appendSegmentPath/signatures", Seq("band_id"))
    graft.etl.EtlIO.writeParquet(
      sh.join(survivorIds, Seq("doc_id")), s"$appendSegmentPath/shingles")
    withSplit(normalize(survivors))
  }
}
