package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Artifacts, Caches, Tables}
import graft.functions.MoneyFunctions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (`Array[Float]`, 64-dim) — the similarity-search extension surface.
  *
  * Two paths, per the builder prompt:
  *  - x6: brute-force cosine top-k — the exact baseline. At scale this is
  *    a broadcast of the (small) query set against a full scan of the
  *    corpus: no shuffle of the big side, one narrow pass + per-query
  *    top-k (window over query partitions).
  *  - x7: random-hyperplane LSH bucketing — the scale path. Each vector
  *    hashes to a bucket from the sign pattern of 4 pseudo-random
  *    hyperplanes (md5-derived ±1 components, deterministic in both
  *    engines); candidates are co-bucketed vectors only, so the join is
  *    an equi-join on bucket id that a 1000-executor cluster shuffles by
  *    bucket instead of materializing O(n·q) pairs.
  *
  * Cosine is computed as a sequential double fold (see [[DedupQueries]])
  * and rounded at 6 dp *before* ranking so tie order is cross-engine
  * stable.
  */
object SimilarityQueries {
  import RelationalQueries.{Q, QFn}

  /** raw (vec_id, label, embedding Array[Float]) → double vectors with
    * precomputed L2 norm — the standard vector prep, shared with the
    * persisted-index surface ([[graft.ann.AnnIndex]]).
    */
  private[graft] def toVecs(raw: DataFrame): DataFrame =
    raw.select(
      col("vec_id"), col("label"),
      expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", sqrt(expr(
        "aggregate(transform(v, x -> x * x), cast(0 as double), (acc, x) -> acc + x)")))

  /** embeddings as double vectors with precomputed L2 norm. */
  private def vecs(s: SparkSession, dir: String): DataFrame =
    toVecs(Tables.embeddings(s, dir))

  private val vecsSql =
    """SELECT vec_id, label, v,
      |  sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (x, y) -> x + y)) AS norm
      |FROM (SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |      FROM embeddings)""".stripMargin

  private val dotSql =
    "list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (x, y) -> x + y)"

  /** LSH signature: sign bits of 4 md5-derived hyperplanes → bucket 0..15.
    * Plane p's d-th component is +1 if the first hex digit of
    * md5('p_d') is odd else -1 — deterministic, engine-portable, and
    * (like a seeded RNG) uniform enough for bucketing.
    *
    * The signs are CONSTANTS, so the Spark side precomputes them
    * driver-side and embeds literal ±1 arrays — the per-row work is four
    * 64-element fused folds, no runtime hashing (the original nested
    * md5-in-lambda expression cost ~10s of analysis+interpretation per
    * session). The oracle recomputes the same signs its own way; the
    * plane dot keeps the ascending-d sequential fold order (x·±1.0 is
    * exact) so bucket values stay identical.
    */
  private def planeSign(p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${p}_$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if ("0123456789abcdef".indexOf(hex.head) % 2 == 1) 1.0 else -1.0
  }

  private def bucketCol: org.apache.spark.sql.Column =
    (0 until 4).map { p =>
      when(expr(s"aggregate(zip_with(v, ${planeExprName(p)}, (x, s) -> x * s), " +
        "cast(0 as double), (acc, x) -> acc + x)") >= 0, lit(1 << (3 - p)))
        .otherwise(lit(0))
    }.reduce(_ + _)

  // zip_with needs the plane as a named column; provide planes via
  // withColumn before applying bucketCol
  private def planeExprName(p: Int): String = s"__plane$p"

  private def withPlanes(df: DataFrame): DataFrame =
    (0 until 4).foldLeft(df) { (d, p) =>
      d.withColumn(planeExprName(p),
        array((0 until 64).map(dd => lit(planeSign(p, dd))): _*))
    }

  private val bucketSql =
    """list_reduce([CASE WHEN
      |  list_reduce([CASE WHEN (strpos('0123456789abcdef', substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 1
      |                    THEN v[d] ELSE -v[d] END for d in range(1, len(v) + 1)],
      |              (x, y) -> x + y) >= 0
      |  THEN power(2, 3 - p) ELSE 0 END for p in range(0, 4)], (x, y) -> x + y)""".stripMargin

  private val cosSql =
    "list_reduce([q.v[i] * c.v[i] for i in range(1, len(q.v) + 1)], (x, y) -> x + y)" +
      " / (q.norm * c.norm)"

  /** Lloyd rounds unrolled for the IVF quantizer (x8) — the Spark fold
    * and this CTE chain MUST stay step-for-step identical.
    */
  private val LLOYD_ITERS = 2

  /** x19's refine width: the top-R ADC candidates per query that get the
    * exact-vector re-rank. ADC is a lossy rank — recall@3 was 0.267
    * scoring ADC-only; exact re-scoring of a short ADC shortlist buys
    * it back for queries×R extra dots. 50 is the measured knee of the
    * AnnRecallSpec operating curve (sf0.01: R=10 → 0.467, R=30 → 0.767,
    * R=50 → 0.833 at nprobe=2 — and R dominates nprobe: widening the
    * shortlist costs 20 exact dots per query where another probed list
    * costs an eighth of the corpus in ADC lookups, so the curve's
    * recall-per-cost frontier moves along R, not nprobe).
    */
  private[graft] val REFINE_R = 50

  /** CTE chain cent0 → asg1/clf1/cent1 → … → cent{LLOYD_ITERS}: assign
    * every vector to its nearest previous-round centroid (rounded
    * cosine, ties by centroid id), re-center each (centroid, dim) on the
    * member mean rounded at 6 dp — the rounding that makes both engines'
    * differently-ordered float sums agree — then reassemble ordered
    * arrays + norms for the next round's cosine.
    */
  private def lloydCtesSql: String = (1 to LLOYD_ITERS).map { k =>
    s"""asg$k AS (
       |  SELECT centroid_id, vec_id, v FROM (
       |    SELECT c.vec_id AS vec_id, c.v AS v, q.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${roundAtSql(cosSql, 6)} DESC, q.centroid_id) AS rnk
       |    FROM n c CROSS JOIN cent${k - 1} q)
       |  WHERE rnk = 1),
       |clf$k AS (
       |  SELECT centroid_id, t.i AS i, ${roundAtSql("avg(v[t.i + 1])", 6)} AS c
       |  FROM asg$k, unnest(range(0, len(v))) t(i) GROUP BY 1, 2),
       |cent$k AS (
       |  SELECT centroid_id, v,
       |    sqrt(list_reduce([v[i] * v[i] for i in range(1, len(v) + 1)], (x, y) -> x + y)) AS norm
       |  FROM (SELECT centroid_id, list(c ORDER BY i) AS v FROM clf$k GROUP BY 1))""".stripMargin
  }.mkString(",\n")

  /** LLOYD_ITERS unrolled Lloyd rounds seeded from the first k vectors —
    * the trained coarse quantizer x8 (IVF) and x18 (semantic dedup)
    * share at the oracle-pinned k = 8, and the scaled-k family
    * (x36/x37) at k = ⌈√n⌉. Assignment ranks by 6dp-rounded cosine
    * (ties by centroid id); re-centered means are rounded at 6 dp so
    * the oracle CTE chain reproduces them exactly despite sum-order
    * differences — the contract is k-agnostic, so ONE oracle CTE chain
    * serves every k (only the cent0 seed line changes). Cached by `own`:
    * k rows, consumed by every downstream assignment — training must
    * not re-run per consumer.
    *
    * Two step forms, one contract: at k ≤ [[INLINE_K]] the original
    * broadcast-join + per-vector window (n·k rows through one exchange
    * — fine at k = 8, and byte-for-byte the plan the pinned bench
    * queries always ran); past it the assignment is [[assignNearest]]'s
    * narrow NearestCentroid pass — NO n·k exchange, because at decade
    * scale n·k vector-carrying rows is a ~50 GB shuffle per round that
    * the narrow form simply never materializes. Re-centering is the
    * same (centroid, dim) partial agg either way (n·d skinny rows,
    * map-side combined). Each round collects the k×d centroid table to
    * the driver (the dim-sized collect policy; ≤ √n rows by design).
    */
  private[graft] def trainedCentroids(e: DataFrame, own: Caches,
      iters: Int = LLOYD_ITERS, k: Int = 8): DataFrame = {
    val seed = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("centroid_id"), col("v"))
    def recenter(assigned: DataFrame): DataFrame =
      assigned
        .select(col("centroid_id"), posexplode(col("v")))
        .toDF("centroid_id", "i", "x")
        .groupBy("centroid_id", "i").agg(roundAt(avg("x"), 6).as("c"))
        .groupBy("centroid_id")
        .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
          .as("v"))
    def lloydStep(cents: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("cos").desc, col("centroid_id"))
      recenter(e.select(col("vec_id"), col("v")).as("c")
        .join(broadcast(cents.as("q")))
        .withColumn("cos", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
        .select(col("c.vec_id").as("vec_id"), col("c.v").as("v"),
          col("q.centroid_id").as("centroid_id"), col("cos"))
        .withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1))
    }
    def lloydStepBulk(cents: DataFrame): DataFrame =
      recenter(assignNearest(e, cents)
        .select(col("centroid_id"), col("v")))
    val step: DataFrame => DataFrame =
      if (k <= INLINE_K) lloydStep else lloydStepBulk
    own((1 to iters).foldLeft(seed)((c, _) => step(c)))
  }

  /** the scaled cluster count for the scale-path ANN family: k = ⌈√n⌉
    * (floored at the oracle pin's 8). This is the standard IVF sizing —
    * FAISS's guideline is k between 4√n and 16√n — and it is what turns
    * the family's Σ cluster_size² blocking bound from ≈ n²/k (quadratic
    * at any FIXED k) into ≈ n^1.5: per ×10 corpus growth the pair mass
    * grows ×10^1.5 ≈ 31.6 instead of ×100, while the per-row assignment
    * cost k·d and the per-round training collect k·d both stay ≤ √n·d.
    */
  private[graft] def scaledK(n: Long): Int =
    math.max(8, math.ceil(math.sqrt(n.toDouble)).toInt)

  /** the probe width paired with [[scaledK]]: nprobe = ⌈√k⌉ (floored at
    * the fixed-k pin's 2). With k lists of ~n/k vectors each, a query's
    * ADC scan volume is nprobe·n/k ≈ √k·n/k = n/√k ≈ n^0.75 — SUBLINEAR
    * in corpus rows, where the fixed (k=8, nprobe=2) point scans a
    * constant quarter of the corpus forever. The √k rule also keeps the
    * probed LIST COUNT growing with the index (more, smaller lists need
    * more probes for the same recall — the standard IVF recall/nprobe
    * trade FAISS tunes per deployment; √k is the scale-neutral default).
    */
  private[graft] def scaledNprobe(k: Int): Int =
    math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** PERSISTED trained quantizer, once per embeddings table
    * ([[graft.core.Artifacts]]) — the posting-index / LSH-index
    * rationale applied to ANN training: on a production corpus the
    * quantizer is trained once per corpus version and then READ by
    * every search / cluster / semantic-dedup pass; re-running Lloyd per
    * query both mis-times the steady state and burns the cluster. First
    * caller trains [[trainedCentroids]] (LLOYD_ITERS rounds) and writes
    * the 8-row centroid table to parquet; x18/x25/x26/x19 then read it
    * back. Bit-identical to in-query training: centroid components are
    * 6-dp-rounded doubles, and parquet round-trips doubles exactly —
    * every DuckDB oracle still re-derives the full Lloyd chain in SQL,
    * so the artifact path is re-proved cross-engine on each run.
    * AnnRecallSpec's iteration sweeps keep calling [[trainedCentroids]]
    * directly with explicit `iters`.
    */
  private def sharedCentroids(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Artifacts.dir("centroids", embeddingsPath(dir)) { p =>
      trainedCentroids(vecs(s, dir), Caches.Harness).write.mode("overwrite").parquet(p)
    })

  private def embeddingsPath(dir: String): String = Tables.path(dir, "embeddings")

  /** [[sharedCentroids]] at the SCALED cluster count (k = ⌈√n⌉) — the
    * scale-path quantizer x36/x37 read. Same persisted-artifact
    * rationale; keyed separately so the fixed-k=8 artifact the
    * oracle-pinned family reads is never overwritten. The one count()
    * action is training-time work (once per corpus version, like the
    * Lloyd rounds themselves).
    */
  private def sharedCentroidsScaled(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Artifacts.dir("centroids_sqrtk", embeddingsPath(dir)) { p =>
      val e = vecs(s, dir)
      trainedCentroids(e, Caches.Harness, LLOYD_ITERS, scaledK(e.count()))
        .write.mode("overwrite").parquet(p)
    })

  /** x8's IVF search at an arbitrary Lloyd-round count — AnnRecallSpec
    * sweeps this to put recall@3 vs training depth on the record (the
    * knee justifies LLOYD_ITERS; the oracle CTE chain is parameterized
    * by the same constant).
    */
  private[queries] def ivfSearch(s: SparkSession, dir: String,
      lloydIters: Int): DataFrame = {
    val e = vecs(s, dir)
    val centroids = trainedCentroids(e, Caches.Harness, lloydIters)
    val assigned = assignNearest(e, centroids)
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("centroid_id"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v"), col("norm"))
      .as("c").join(broadcast(centroids.as("q")))
      .withColumn("qcos", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("c.query_id").as("query_id"), col("c.v").as("v"),
        col("c.norm").as("norm"), col("q.centroid_id").as("centroid_id"), col("qcos"))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= 2)
      .drop("qcos", "prnk")
    val rankW = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    assigned.as("c").join(broadcast(probes.as("q")),
        col("q.centroid_id") === col("c.centroid_id") &&
          col("q.query_id") =!= col("c.cand_id"))
      .withColumn("cosine", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("q.query_id").as("query_id"), col("c.cand_id").as("cand_id"), col("cosine"))
      .dropDuplicates("query_id", "cand_id")
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
  }

  /** x19's candidate stage at an arbitrary probe width: every (query,
    * candidate) pair whose candidate lives in one of the query's
    * `nprobe` nearest coarse lists. Factored out so the recall sweep
    * can also COUNT it — |candidates| / queries·(N−1) is the
    * ADC-scanned corpus fraction, the cost axis of the nprobe knob.
    */
  private def ivfPqCandidates(s: SparkSession, dir: String,
      nprobe: Int): DataFrame =
    ivfPqCandidates(s, dir, nprobe, sharedCentroids(s, dir))

  private def ivfPqCandidates(s: SparkSession, dir: String,
      nprobe: Int, centroids: DataFrame): DataFrame = {
    val e = vecs(s, dir)
    val assigned = assignNearest(e, centroids).select("cand_id", "centroid_id")
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("centroid_id"))
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v")).as("c")
      .join(broadcast(centroids.as("q")))
      .withColumn("qcos", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("c.query_id").as("query_id"),
        col("q.centroid_id").as("centroid_id"), col("qcos"))
      .withColumn("prnk", row_number().over(probeW))
      .filter(col("prnk") <= nprobe)
      .select("query_id", "centroid_id")
    probes.join(assigned, Seq("centroid_id"))
      .filter(col("query_id") =!= col("cand_id"))
      .select("query_id", "cand_id")
  }

  /** x19's IVF-PQ search at an arbitrary (nprobe, ADC refine width) —
    * AnnRecallSpec sweeps this grid so x19's production point
    * (nprobe=2, REFINE_R=50) is a measured knee on a recall-vs-cost
    * operating curve, not a guess. nprobe buys recall by scanning more
    * coarse lists with cheap ADC code lookups; refineR buys back the
    * ADC rank loss with queries×R exact dots. The two knobs are the
    * production levers FAISS exposes for the same structure.
    */
  private[queries] def ivfPqSearch(s: SparkSession, dir: String,
      nprobe: Int, refineR: Int): DataFrame =
    ivfPqSearch(s, dir, nprobe, refineR, sharedCentroids(s, dir))

  /** [[ivfPqSearch]] against an arbitrary trained coarse quantizer —
    * the scaled-k serving path (x38) passes [[sharedCentroidsScaled]];
    * the PQ stage is k-independent (codebooks quantize subvectors, not
    * lists), so ONLY the probe/candidate stage changes with k.
    */
  private[queries] def ivfPqSearch(s: SparkSession, dir: String,
      nprobe: Int, refineR: Int, centroids: DataFrame): DataFrame = {
    val e = vecs(s, dir)
    val subs = pqSubs(s, dir)
    // the trained codebooks come from the persisted artifact —
    // serving does not retrain PQ per run
    val cb = sharedPqCodebook(s, dir)
    val codes = pqAssign(subs, cb)
      .select(col("vec_id").as("cand_id"), col("s"), col("cid"))
    val cn2 = cb.select(col("s"), col("cid"), roundAt(expr(
      """aggregate(transform(cent, x -> x * x),
        |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("cn2"))
    val dt = subs.filter(col("vec_id") < 10).as("c")
      .join(broadcast(cb.as("q")), col("c.s") === col("q.s"))
      .select(col("c.vec_id").as("query_id"), col("c.s").as("s"),
        col("q.cid").as("cid"),
        roundAt(expr(
          """aggregate(zip_with(sub, cent, (a, b) -> a * b),
            |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("ipd"))
    val qn = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("norm").as("qnorm"))
    val adcW = Window.partitionBy("query_id")
      .orderBy(col("acos").desc, col("cand_id"))
    val shortlist = ivfPqCandidates(s, dir, nprobe, centroids)
      .join(codes, Seq("cand_id"))
      .join(broadcast(dt), Seq("query_id", "s", "cid"))
      .join(broadcast(cn2), Seq("s", "cid"))
      .groupBy("query_id", "cand_id")
      .agg(sum("ipd").as("ip"), sum("cn2").as("c2"))
      .join(broadcast(qn), Seq("query_id"))
      .withColumn("acos", roundAt(col("ip") / (col("qnorm") * sqrt(col("c2"))), 6))
      .withColumn("adc_rank", row_number().over(adcW))
      .filter(col("adc_rank") <= refineR)
      .select("query_id", "cand_id")
    // refine: exact cosine over the ADC shortlist only — queries ×
    // refineR rows, the query vectors a bounded broadcast
    val qv = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("q_v"),
        col("norm").as("q_norm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    shortlist
      .join(e.select(col("vec_id").as("cand_id"), col("v"), col("norm")),
        Seq("cand_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cosine", roundAt(expr("cosine_similarity(q_v, v)"), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "cand_id", "cosine", "rank")
      .orderBy("query_id", "rank")
  }

  /** |ADC-scored candidate pairs| at a given nprobe — the cost the
    * recall sweep reports next to each recall cell. private[graft]: the
    * AnnScaleProbe decade tool prints the same number as the serving
    * cost axis of the fixed-k vs scaled-k comparison.
    */
  private[graft] def ivfPqScanned(s: SparkSession, dir: String,
      nprobe: Int): Long = ivfPqCandidates(s, dir, nprobe).count()

  /** [[ivfPqScanned]] for the scaled serving point (k = ⌈√n⌉, nprobe =
    * ⌈√k⌉) — x38's ADC scan volume, ≈ n/√k ≈ n^0.75 by construction.
    */
  private[graft] def ivfPqScannedScaled(s: SparkSession, dir: String): Long = {
    val cents = sharedCentroidsScaled(s, dir)
    ivfPqCandidates(s, dir, scaledNprobe(cents.count().toInt), cents).count()
  }

  /** x7's multi-probe LSH search at an arbitrary (hyperplane count,
    * probe Hamming radius) — AnnRecallSpec sweeps this grid to put
    * recall@3 AND scanned-corpus fraction on the record, so x7's
    * production constants (4 planes, radius 1) are a measured knee, not
    * a guess. Probes are every bucket whose code is within `radius` sign
    * flips of the query's own: radius 0 = single-probe,
    * radius = planes = exhaustive scan. The probe fan-out stays on the
    * tiny broadcast query side; the join is a pure bucket equi-join
    * exactly as in x7.
    */
  private def lshBucketed(s: SparkSession, dir: String, planes: Int): DataFrame = {
    val withP = (0 until planes).foldLeft(vecs(s, dir)) { (d, p) =>
      d.withColumn(planeExprName(p),
        array((0 until 64).map(dd => lit(planeSign(p, dd))): _*))
    }
    val bucket = (0 until planes).map { p =>
      when(expr(s"aggregate(zip_with(v, ${planeExprName(p)}, (x, s) -> x * s), " +
        "cast(0 as double), (acc, x) -> acc + x)") >= 0,
        lit(1 << (planes - 1 - p))).otherwise(lit(0))
    }.reduce(_ + _)
    withP.withColumn("bucket", bucket)
      .drop((0 until planes).map(planeExprName): _*)
  }

  private def probeMasks(planes: Int, radius: Int): Seq[Int] =
    (0 until (1 << planes)).filter(Integer.bitCount(_) <= radius)

  private[queries] def lshSearch(s: SparkSession, dir: String,
      planes: Int, radius: Int): DataFrame = {
    val e = lshBucketed(s, dir, planes)
    val masks = probeMasks(planes, radius)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v"), col("norm"), col("bucket"))
      .withColumn("probe",
        explode(array(masks.map(m => expr(s"int(bucket) ^ $m")): _*)))
    val corpus = e.select(col("vec_id").as("cand_id"), col("v"), col("norm"), col("bucket"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("cand_id"))
    corpus.as("c")
      .join(broadcast(queries.as("q")),
        col("q.probe") === col("c.bucket") && col("q.query_id") =!= col("c.cand_id"))
      .withColumn("cosine", roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
      .select(col("q.query_id").as("query_id"), col("c.cand_id").as("cand_id"), col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .orderBy("query_id", "rank")
  }

  /** Candidate volume of [[lshSearch]] at a config: rows surviving the
    * bucket equi-join, i.e. exact-scored candidates. Divided by
    * queries × (corpus − 1) this is the scanned fraction — the cost axis
    * of the recall/cost knee.
    */
  private[queries] def lshScanned(s: SparkSession, dir: String,
      planes: Int, radius: Int): Long = {
    val e = lshBucketed(s, dir, planes)
    val masks = probeMasks(planes, radius)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("bucket"))
      .withColumn("probe",
        explode(array(masks.map(m => expr(s"int(bucket) ^ $m")): _*)))
    e.select(col("vec_id").as("cand_id"), col("bucket")).as("c")
      .join(broadcast(queries.as("q")),
        col("q.probe") === col("c.bucket") && col("q.query_id") =!= col("c.cand_id"))
      .count()
  }

  /** inlining bound for [[assignNearest]]: up to this many centroids
    * the assignment inlines one struct per centroid (k literal subtrees
    * — fine at the quantizer's k = 8, and the PQ assignment's r9 note
    * pins where that collapses: ~3000 expression nodes at M·K = 128);
    * past it the SAME contract runs through the single-node
    * [[graft.functions.NearestCentroid]] kernel (one compiled k·d loop
    * per row). Both forms are narrow — no shuffle at any k — and
    * bit-identical (AnnScaledSpec pins inline ≡ bulk on the same
    * centroid table).
    */
  private[graft] val INLINE_K = 16

  /** corpus → nearest trained centroid (rank 1 by rounded cosine desc,
    * centroid id asc) — one narrow pass against the driver-collected
    * centroid table.
    */
  private[graft] def assignNearest(e: DataFrame, centroids: DataFrame): DataFrame = {
    // the centroid table is quantizer-sized (k ≤ √n rows) by
    // construction — a dim-sized collect under the repo collect policy.
    // Inlining it as literals turns the previous n×k broadcast join +
    // cand_id-window SHUFFLE (every row carrying its full vector
    // through the exchange) into ONE narrow projection: per row, a
    // k-element array of (rounded cosine, −centroid_id) structs reduced
    // by array_max — lexicographic struct max = highest ccos then
    // lowest centroid id, bit-identical to the window's (ccos DESC,
    // centroid_id ASC) rank-1 row the DuckDB twin still computes
    // relationally. Past INLINE_K the same reduction runs inside the
    // NearestCentroid kernel instead of k literal subtrees.
    val cents = centroids.select(col("centroid_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val out = e.select(col("vec_id").as("cand_id"), col("v"), col("norm"))
    if (cents.length <= INLINE_K) {
      val scored = cents.map { case (cid, cv) =>
        struct(
          roundAt(graft.functions.CosineSimilarity(typedLit(cv), col("v")), 6)
            .as("ccos"),
          lit(-cid).as("negid"))
      }
      out
        .withColumn("best", array_max(array(scored.toSeq: _*)))
        .select(col("cand_id"), col("v"), col("norm"),
          (-col("best.negid")).as("centroid_id"))
    } else
      out.withColumn("centroid_id", graft.functions.NearestCentroid(
        cents.map { case (cid, cv) => (cid, cv.toArray) }, col("v")))
  }

  /** MEASURED in-memory byte estimate of an assigned-vector frame
    * (cand_id, centroid_id, norm, v: array<double>) — the
    * [[graft.corpus.Corpus.setFrameBytes]] discipline for the ANN
    * family: one column-pruned aggregate over the CACHED frame, because
    * Spark's static `autoBroadcastJoinThreshold` never sees an accurate
    * size for a derived/cached relation (the r13/r14 failure mode).
    * Per-row arithmetic from the UnsafeRow layout: 8-byte null bitset +
    * 4 fixed 8-byte slots (two longs, one double, the array
    * offset-and-size word) + the array region (8-byte numElements
    * header + 8-byte element null bits + 8 bytes per double) —
    * 8·len(v) + 96 per row, rounded up in the constants.
    */
  private[queries] def assignedFrameBytes(assigned: DataFrame): Long = {
    val r = assigned.agg(coalesce(
      sum(size(col("v")).cast("long") * 8L + 96L), lit(0L)).as("b")).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** Measured regime dispatch for the centroid-blocked pair SELF-joins
    * (x18/x25/x26) — the r14 verdict's remaining `weak`: the self-join
    * of the cached `assigned` frame sat on Spark's static broadcast
    * threshold exactly where the x4/x20 verify joins sat one decade
    * before their sf10 death (the r14 sf3 bracketing already showed the
    * static flip costing a 24.5× one-time shuffle-bytes step). Same
    * discipline as [[graft.corpus.Corpus.dispatchVerifySets]], same
    * budget knob (`graft.verify.broadcastBudget`, heap-derived default)
    * — so PlanAuditSpec's zero-budget no-hint audit and the
    * regime-equality pins govern this family with no second knob: one
    * side of the self-join is hinted while the measured frame fits the
    * budget; over budget the natural plan stands (AQE shuffle join on
    * centroid_id — the cluster-scale regime, where per-executor memory
    * is the lever). The hint may change the PLAN, never the ANSWER
    * (VerifyRegimeSpec's contract, pinned for this family in
    * AnnRegimeSpec).
    */
  private[queries] def dispatchAssigned(assigned: DataFrame): DataFrame =
    if (assignedFrameBytes(assigned) <
        graft.corpus.Corpus.verifyBroadcastBudget(assigned.sparkSession))
      broadcast(assigned)
    else assigned

  /** oracle twin of [[assignNearest]] over [[lloydCtesSql]]'s final
    * centroids — shared by the x8 and x18 oracles.
    */
  private def assignedCteSql: String =
    s"""assigned AS (
       |  SELECT cand_id, v, norm, centroid_id FROM (
       |    SELECT c.vec_id AS cand_id, c.v AS v, c.norm AS norm, q.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${roundAtSql(cosSql, 6)} DESC, q.centroid_id) AS arnk
       |    FROM n c CROSS JOIN cent$LLOYD_ITERS q)
       |  WHERE arnk = 1)""".stripMargin

  /** oracle twin of x8's query-probe stage (nprobe=2 nearest trained
    * centroids per query) — shared by the x8 and x19 oracles.
    */
  private def probesCteSql: String =
    s"""probes AS (
       |  SELECT query_id, v, norm, centroid_id FROM (
       |    SELECT c.vec_id AS query_id, c.v AS v, c.norm AS norm, q.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${roundAtSql(cosSql, 6)} DESC, q.centroid_id) AS prnk
       |    FROM n c CROSS JOIN cent$LLOYD_ITERS q WHERE c.vec_id < 10)
       |  WHERE prnk <= 2)""".stripMargin

  /** [[probesCteSql]] at the SCALED probe width: nprobe = ⌈√k⌉ computed
    * IN the oracle from the `kk` CTE [[scaledCent0Sql]] opens (the same
    * in-oracle-derivation discipline as k itself — the engines cannot
    * disagree on either constant). Shared by the x38 oracle.
    */
  private def probesScaledCteSql: String =
    s"""npk AS (SELECT greatest(2, CAST(ceil(sqrt(k)) AS BIGINT)) AS np FROM kk),
       |probes AS (
       |  SELECT query_id, v, norm, centroid_id FROM (
       |    SELECT c.vec_id AS query_id, c.v AS v, c.norm AS norm, q.centroid_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
       |        ORDER BY ${roundAtSql(cosSql, 6)} DESC, q.centroid_id) AS prnk
       |    FROM n c CROSS JOIN cent$LLOYD_ITERS q WHERE c.vec_id < 10)
       |  WHERE prnk <= (SELECT np FROM npk))""".stripMargin

  /** oracle twin of [[ivfPqSearch]]'s probe→ADC→refine tail from the
    * `assigned` + `probes` CTEs down — quantizer-agnostic (the PQ
    * codebooks quantize subvectors, never lists), so the x19 (fixed
    * k=8, nprobe=2) and x38 (k=⌈√n⌉, nprobe=⌈√k⌉) oracles share it
    * verbatim: only their cent0/probes CTEs differ.
    */
  private def ivfPqTailSql: String =
    s"""fin AS ($pqFinalAssignSql),
       |$pqAdcCtesSql,
       |cands AS (
       |  SELECT p.query_id, a.cand_id
       |  FROM probes p JOIN assigned a ON a.centroid_id = p.centroid_id
       |  WHERE p.query_id <> a.cand_id),
       |agg AS (
       |  SELECT c.query_id, c.cand_id, sum(dt.ipd) AS ip, sum(cn2.cn2) AS c2
       |  FROM cands c
       |  JOIN codes ON codes.cand_id = c.cand_id
       |  JOIN dt ON dt.query_id = c.query_id AND dt.s = codes.s AND dt.cid = codes.cid
       |  JOIN cn2 ON cn2.s = codes.s AND cn2.cid = codes.cid
       |  GROUP BY 1, 2),
       |scored AS (
       |  SELECT agg.query_id, agg.cand_id,
       |    ${roundAtSql("agg.ip / (qn.qnorm * sqrt(agg.c2))", 6)} AS acos
       |  FROM agg JOIN qn ON qn.query_id = agg.query_id),
       |short AS (
       |  SELECT query_id, cand_id FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY acos DESC, cand_id) AS adc_rank FROM scored)
       |  WHERE adc_rank <= $REFINE_R),
       |ref AS (
       |  SELECT sl.query_id, sl.cand_id,
       |    ${roundAtSql(cosSql, 6)} AS cosine
       |  FROM short sl JOIN n q ON q.vec_id = sl.query_id
       |  JOIN n c ON c.vec_id = sl.cand_id)
       |SELECT query_id, cand_id, cosine, rank FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, cand_id) AS rank FROM ref)
       |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- product quantization (x14 reconstruction, x15 ADC search) ---------

  /** per-vector subvectors: (vec_id, label, s, sub) — M=8 subspaces of
    * 8 dims each.
    */
  private def pqSubs(s: SparkSession, dir: String): DataFrame =
    pqSubsOf(vecs(s, dir))

  /** (vec_id, label, v) → per-subspace rows, shared with
    * [[graft.ann.AnnIndex]] (query-side lookup tables need the same
    * subvector slicing the training used).
    */
  private[graft] def pqSubsOf(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("label"),
        posexplode(expr("transform(sequence(0, 7), s -> slice(v, s * 8 + 1, 8))")))
      .toDF("vec_id", "label", "s", "sub")

  /** nearest-centroid assignment per (vector, subspace): squared-L2 as a
    * sequential zip_with fold, rounded at 6 dp BEFORE ranking (the
    * cross-engine tie contract), ties by centroid id.
    */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    // NOTE (r9): a literal-inlined argmin (the assignNearest rewrite:
    // collect the 128-row codebook, per-row array_min over K structs
    // under an 8-branch CASE on s) was tried here and REVERTED — at
    // M·K = 128 the expression tree is ~3000 nodes, codegen degrades
    // and the measured cost was 4–8× WORSE than this join+window form
    // (x14 2.4 → 10.7–18 s at sf0.1). The K=8 centroid assignment is
    // small enough to inline; the PQ codebook is not.
    val w = Window.partitionBy("vec_id", "s").orderBy(col("dist"), col("cid"))
    subs.as("c").join(broadcast(cb.as("q")), col("c.s") === col("q.s"))
      .withColumn("dist", roundAt(expr(
        """aggregate(zip_with(sub, cent, (a, b) -> (a - b) * (a - b)),
          |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6))
      .select(col("c.vec_id").as("vec_id"), col("c.label").as("label"),
        col("c.s").as("s"), col("c.sub").as("sub"),
        col("q.cid").as("cid"), col("q.cent").as("cent"), col("dist"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1).drop("rnk", "dist")
  }

  /** one-Lloyd-round K=16 codebook per subspace: seeds are the first 16
    * vectors' subvectors; re-centered on the 6dp-rounded member means
    * (the x8 training contract, which the oracle CTEs reproduce).
    */
  private val PQ_K = 16

  /** PERSISTED trained PQ codebooks, once per embeddings table — the
    * [[sharedCentroids]] rationale applied to the OTHER trained
    * artifact: on a production corpus the M=8 codebooks are
    * trained once per corpus version and then read by every encode /
    * ADC-search pass; x14/x15/x19/x38 each retraining them per run
    * mis-times the steady state. First caller trains [[pqCodebook]]
    * (one Lloyd round per subspace over the full corpus) and writes
    * the M·K = 128-row table to parquet; the rest read it back.
    * Bit-identical to in-query training: centroid components are
    * 6-dp-rounded doubles and parquet round-trips
    * doubles exactly — every DuckDB oracle still re-derives the full
    * cb0 → asg0 → cb1 chain in SQL, so the artifact path is re-proved
    * cross-engine on each run. AnnRecallSpec and AnnIndex keep calling
    * [[pqCodebook]] directly where they train over non-corpus frames.
    */
  private def sharedPqCodebook(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(Artifacts.dir("pq_codebook", embeddingsPath(dir)) { p =>
      pqCodebook(pqSubs(s, dir), Caches.Harness).write.mode("overwrite").parquet(p)
    })

  private[graft] def pqCodebook(subs: DataFrame, own: Caches): DataFrame = {
    val cb0 = subs.filter(col("vec_id") < PQ_K)
      .select(col("s"), col("vec_id").as("cid"), col("sub").as("cent"))
    // cached by `own`: M·K = 128 rows, and every consumer (final
    // assignment, the per-query lookup tables, the code-norm table) would
    // otherwise re-run the whole training subtree
    own(pqAssign(subs, cb0)
      .select(col("s"), col("cid"), posexplode(col("sub")))
      .toDF("s", "cid", "j", "x")
      .groupBy("s", "cid", "j").agg(roundAt(avg("x"), 6).as("c"))
      .groupBy("s", "cid")
      .agg(expr("transform(array_sort(collect_list(struct(j, c))), t -> t.c)")
        .as("cent")))
  }

  private lazy val pqDistSql = roundAtSql(
    "list_reduce([(c.sub[j] - q.cent[j]) * (c.sub[j] - q.cent[j]) " +
      "for j in range(1, 9)], (x, y) -> x + y)", 6)

  private def pqAssignSql(cbName: String): String =
    s"""SELECT vec_id, label, s, sub, cid, cent FROM (
       |    SELECT c.vec_id, c.label, c.s, c.sub, q.cid, q.cent,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, c.s
       |        ORDER BY $pqDistSql ASC, q.cid ASC) AS rnk
       |    FROM subs c JOIN $cbName q ON c.s = q.s)
       |  WHERE rnk = 1""".stripMargin

  /** shared oracle CTEs n → subs → cb0 → asg0 → cbl → cb1 (the trained
    * codebooks), mirrored by pqSubs/pqCodebook.
    */
  private lazy val pqCtesSql =
    s"""n AS ($vecsSql),
       |subs AS (
       |  SELECT vec_id, label, t.s AS s, v[t.s * 8 + 1 : t.s * 8 + 8] AS sub
       |  FROM n, unnest(range(0, 8)) t(s)),
       |cb0 AS (SELECT s, vec_id AS cid, sub AS cent FROM subs WHERE vec_id < $PQ_K),
       |asg0 AS (${pqAssignSql("cb0")}),
       |cbl AS (
       |  SELECT s, cid, t.j AS j, ${roundAtSql("avg(sub[t.j + 1])", 6)} AS c
       |  FROM asg0, unnest(range(0, 8)) t(j) GROUP BY 1, 2, 3),
       |cb1 AS (SELECT s, cid, list(c ORDER BY j) AS cent FROM cbl GROUP BY 1, 2)""".stripMargin

  private lazy val pqFinalAssignSql = pqAssignSql("cb1")

  /** oracle twin of the ADC building blocks (PQ code table, per-code
    * centroid norms, per-query M×K inner-product lookup tables, query
    * norms) — shared by the x15 and x19 oracles; requires `fin` (the
    * final PQ assignment) and `n` upstream.
    */
  private lazy val pqAdcCtesSql =
    s"""codes AS (SELECT vec_id AS cand_id, s, cid FROM fin),
       |cn2 AS (
       |  SELECT s, cid,
       |    ${roundAtSql("list_reduce([cent[j] * cent[j] for j in range(1, 9)], (x, y) -> x + y)", 6)} AS cn2
       |  FROM cb1),
       |dt AS (
       |  SELECT c.vec_id AS query_id, c.s AS s, q.cid AS cid,
       |    ${roundAtSql("list_reduce([c.sub[j] * q.cent[j] for j in range(1, 9)], (x, y) -> x + y)", 6)} AS ipd
       |  FROM subs c JOIN cb1 q ON c.s = q.s WHERE c.vec_id < 10),
       |qn AS (SELECT vec_id AS query_id, norm AS qnorm FROM n WHERE vec_id < 10)""".stripMargin

  /** the SemDeDup pair-drop tail over a cached assigned frame — shared
    * by x18 (oracle-pinned fixed k = 8) and x36 (scaled k = ⌈√n⌉), so
    * the two differ ONLY in the quantizer: within-cluster pairs at
    * rounded cosine ≥ 0.35, drop the higher id, report each drop's
    * smallest keeper. The self-join rides [[dispatchAssigned]]'s
    * measured regime in both.
    */
  private def semanticDedupTail(assigned: DataFrame): DataFrame =
    assigned.as("a").join(dispatchAssigned(assigned).as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.cand_id") < col("b.cand_id"))
      .withColumn("cosine", roundAt(expr("cosine_similarity(a.v, b.v)"), 6))
      .filter(col("cosine") >= 0.35)
      .select(col("a.centroid_id").as("centroid_id"),
        col("a.cand_id").as("keep_cand"), col("b.cand_id").as("drop_id"),
        col("cosine"))
      .groupBy("centroid_id", "drop_id")
      .agg(min("keep_cand").as("keep_id"), count(lit(1)).as("n_dups"),
        max("cosine").as("max_cosine"))
      .orderBy("drop_id")

  /** [[semanticDedupTail]]'s oracle twin over `assigned` — shared by
    * the x18 and x36 oracles (the scaled one swaps only the cent0 seed).
    */
  private def semanticDedupTailSql: String =
    s"""pairs AS (
       |  SELECT a.centroid_id AS centroid_id, a.cand_id AS keep_cand,
       |    b.cand_id AS drop_id,
       |    ${roundAtSql("list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y) / (a.norm * b.norm)", 6)} AS cosine
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.cand_id < b.cand_id)
       |SELECT centroid_id, drop_id, min(keep_cand) AS keep_id,
       |  count(*) AS n_dups, max(cosine) AS max_cosine
       |FROM pairs WHERE cosine >= 0.35
       |GROUP BY 1, 2 ORDER BY drop_id""".stripMargin

  /** the semantic cluster-detection tail (cluster-blocked cosine graph →
    * generic distributed CC → per-cluster sizes) — shared by x26 and
    * x37 the same way.
    */
  private def semanticClustersTail(assigned: DataFrame): DataFrame = {
    val pairs = assigned.as("a").join(dispatchAssigned(assigned).as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.cand_id") < col("b.cand_id"))
      .filter(roundAt(expr("cosine_similarity(a.v, b.v)"), 6) >= 0.35)
      .select(col("a.cand_id").as("doc_a"), col("b.cand_id").as("doc_b"))
    val cc = graft.corpus.Corpus.connectedComponents(
      assigned.select(col("cand_id")), pairs)
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "cluster_id")
      .select(col("cand_id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy("vec_id")
  }

  /** [[semanticClustersTail]]'s oracle twin (recursive-CTE closure) —
    * shared by the x26 and x37 oracles.
    */
  private def semanticClustersTailSql: String =
    s"""pairs AS (
       |  SELECT a.cand_id AS doc_a, b.cand_id AS doc_b
       |  FROM assigned a JOIN assigned b
       |    ON a.centroid_id = b.centroid_id AND a.cand_id < b.cand_id
       |  WHERE ${roundAtSql("list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y) / (a.norm * b.norm)", 6)} >= 0.35),
       |sym AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(src, dst) AS (
       |  SELECT src, dst FROM sym
       |  UNION
       |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
       |cl AS (
       |  SELECT a.cand_id AS vec_id,
       |    least(a.cand_id, coalesce(min(r.dst), a.cand_id)) AS cluster_id
       |  FROM assigned a LEFT JOIN reach r ON a.cand_id = r.src
       |  GROUP BY a.cand_id),
       |sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
       |SELECT vec_id, cl.cluster_id, cluster_size
       |FROM cl JOIN sz ON cl.cluster_id = sz.cluster_id
       |ORDER BY vec_id""".stripMargin

  /** the scaled quantizer's oracle seed: k = greatest(8, ⌈√n⌉) computed
    * IN the oracle from the same corpus, so the two engines can never
    * disagree on k; the Lloyd CTE chain itself is k-agnostic.
    */
  private def scaledCent0Sql: String =
    """kk AS (SELECT greatest(8, CAST(ceil(sqrt(count(*))) AS BIGINT)) AS k
      |       FROM n),
      |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n
      |          WHERE vec_id < (SELECT k FROM kk))""".stripMargin

  val all: Seq[Q] = Seq(

    Q("x8_ann_ivf",
      (s, dir) => {
        // IVF (inverted-file) ANN: a coarse quantizer of K=8 centroids
        // partitions the corpus into posting lists; a query probes its
        // nprobe=2 nearest lists and exact-reranks only those. At scale
        // the corpus is shuffled once by centroid id and each query
        // touches nprobe/K of the data.
        //
        // The quantizer is TRAINED: LLOYD_ITERS unrolled Lloyd rounds
        // seeded from the first 8 vectors — assign every vector to its
        // nearest centroid (rounded cosine, ties by centroid id), then
        // re-center on the per-dimension member mean. Centroid
        // components are rounded at 6 dp, which is what lets the DuckDB
        // oracle (same unrolled rounds as CTEs) reproduce them exactly
        // despite the engines' different float-summation orders — the
        // same contract x12's centroid oracle relies on. Training is
        // K·N narrow work per round (broadcast of 8 centroids, one
        // corpus pass, (centroid, dim) partial agg) — nothing all-pairs.
        // AnnRecallSpec puts the trained recall@3 on the record, and
        // sweeps the round count via ivfSearch to justify LLOYD_ITERS.
        ivfSearch(s, dir, LLOYD_ITERS)
      },
      Some(s"""WITH n AS ($vecsSql),
              |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n WHERE vec_id < 8),
              |$lloydCtesSql,
              |$assignedCteSql,
              |$probesCteSql,
              |scored AS (
              |  SELECT DISTINCT q.query_id, c.cand_id,
              |    ${roundAtSql(cosSql, 6)} AS cosine
              |  FROM assigned c JOIN probes q ON q.centroid_id = c.centroid_id
              |    AND q.query_id <> c.cand_id)
              |SELECT query_id, cand_id, cosine, rank FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY cosine DESC, cand_id) AS rank FROM scored)
              |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("x6_ann_bruteforce_topk",
      (s, dir) => {
        val e = vecs(s, dir)
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v"), col("norm"))
        val corpus = e.select(col("vec_id").as("cand_id"), col("v"), col("norm"))
        val scored = corpus.as("c")
          .join(broadcast(queries.as("q")), col("q.query_id") =!= col("c.cand_id"))
          .withColumn("cosine",
            roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id"))
        scored
          .select(col("q.query_id").as("query_id"), col("c.cand_id").as("cand_id"), col("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH n AS ($vecsSql),
              |scored AS (
              |  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
              |    ${roundAtSql(dotSql + " / (q.norm * c.norm)", 6)} AS cosine
              |  FROM n q JOIN n c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
              |SELECT query_id, cand_id, cosine, rank FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
              |  FROM scored)
              |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)),

    Q("x7_ann_lsh_bucketed",
      (s, dir) => {
        // bucket the corpus once; each query probes its own bucket PLUS
        // the 4 buckets at Hamming distance 1 (one sign bit flipped) —
        // multi-probe LSH, the standard recall lever that costs probe
        // fan-out on the TINY query side instead of more hash tables on
        // the corpus side. Buckets are disjoint so probes never yield
        // duplicate candidates, and the join stays a pure bucket
        // equi-join (shuffle/broadcast by bucket at scale — never a
        // Hamming-distance theta-join against the corpus). Recall < 1
        // by design — AnnRecallSpec puts the measured recall@3 against
        // brute-force x6 on the record.
        val e = withPlanes(vecs(s, dir)).withColumn("bucket", bucketCol)
          .drop((0 until 4).map(planeExprName): _*)
        val queries = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("v"), col("norm"), col("bucket"))
          .withColumn("probe", explode(array(
            col("bucket") +: (0 until 4).map(p =>
              expr(s"int(bucket) ^ ${1 << (3 - p)}")): _*)))
        val corpus = e.select(col("vec_id").as("cand_id"), col("v"), col("norm"), col("bucket"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("cosine").desc, col("cand_id"))
        corpus.as("c")
          .join(broadcast(queries.as("q")),
            col("q.probe") === col("c.bucket") && col("q.query_id") =!= col("c.cand_id"))
          .withColumn("cosine",
            roundAt(expr("cosine_similarity(q.v, c.v)"), 6))
          .select(col("q.query_id").as("query_id"), col("q.bucket").as("bucket"),
            col("c.cand_id").as("cand_id"), col("cosine"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH n AS ($vecsSql),
              |b AS (SELECT *, CAST($bucketSql AS INT) AS bucket FROM n),
              |probes AS (
              |  SELECT vec_id, v, norm, bucket, p.probe AS probe
              |  FROM b, unnest([bucket, xor(bucket, 8), xor(bucket, 4), xor(bucket, 2), xor(bucket, 1)]) p(probe)
              |  WHERE vec_id < 10),
              |scored AS (
              |  SELECT q.vec_id AS query_id, q.bucket AS bucket, c.vec_id AS cand_id,
              |    ${roundAtSql(dotSql + " / (q.norm * c.norm)", 6)} AS cosine
              |  FROM probes q JOIN b c ON q.probe = c.bucket AND q.vec_id <> c.vec_id)
              |SELECT query_id, bucket, cand_id, cosine, rank FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, cand_id) AS rank
              |  FROM scored)
              |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),
    Q("x12_embedding_centroids",
      (s, dir) => {
        // embedding hygiene for a training corpus: L2-normalize, build
        // the per-label centroid, and report each label's cohesion (avg
        // and min cosine of members to their centroid — low min = likely
        // mislabeled/outlier vectors). Plan shape at scale: one
        // posexplode + (label, dim) map-side-combinable partial agg for
        // the centroid (a |labels|·d tiny shuffle), then the centroid
        // components are rolled back into ONE array per label — a
        // labels-sized table — broadcast-joined on `label` alone, and
        // each member's dot is a narrow zip_with+aggregate fold. The
        // corpus is never exploded for the scoring pass: no n·d
        // component shuffle, one narrow map over the members.
        // cached (r16): `unit` feeds the centroid build (inside the
        // broadcast) AND the scoring join's left side, and its
        // normalize fold is an interpreted higher-order expression —
        // uncached, the corpus re-normalized once per consumer.
        // Released by the caller's clearCache contract.
        val unit = vecs(s, dir)
          .select(col("vec_id"), col("label"),
            expr("transform(v, x -> x / norm)").as("u"))
          .cache()
        val comp = unit.select(col("label"), posexplode(col("u")))
          .toDF("label", "i", "x")
        val centArr = comp.groupBy("label", "i").agg(avg("x").as("c"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
            .as("carr"))
          .withColumn("cnorm", sqrt(expr(
            "aggregate(transform(carr, c -> c * c), cast(0 as double), (acc, y) -> acc + y)")))
        unit.join(broadcast(centArr), Seq("label"))
          .withColumn("cos", expr(
            "aggregate(zip_with(u, carr, (a, b) -> a * b), cast(0 as double), (acc, y) -> acc + y)")
            / col("cnorm"))
          .groupBy("label")
          .agg(count(lit(1)).as("n_members"),
            roundAt(avg("cos"), 6).as("avg_cos"),
            roundAt(min("cos"), 6).as("min_cos"))
          .orderBy("label")
      },
      Some(s"""WITH e AS ($vecsSql),
              |unit AS (
              |  SELECT vec_id, label, list_transform(v, x -> x / norm) AS u FROM e),
              |expanded AS (
              |  SELECT vec_id, label, t.i AS i, u[t.i + 1] AS x
              |  FROM unit, unnest(range(0, len(u))) t(i)),
              |comp AS (
              |  SELECT label, i, avg(x) AS c FROM expanded GROUP BY 1, 2),
              |centnorm AS (
              |  SELECT label, sqrt(sum(c * c)) AS cnorm FROM comp GROUP BY 1),
              |dots AS (
              |  SELECT ex.vec_id, ex.label, sum(ex.x * comp.c) AS dot
              |  FROM expanded ex JOIN comp ON comp.label = ex.label AND comp.i = ex.i
              |  GROUP BY 1, 2),
              |cos AS (
              |  SELECT dots.label, dot / cnorm AS cos
              |  FROM dots JOIN centnorm ON dots.label = centnorm.label)
              |SELECT label, count(*) AS n_members,
              |  ${roundAtSql("avg(cos)", 6)} AS avg_cos,
              |  ${roundAtSql("min(cos)", 6)} AS min_cos
              |FROM cos GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("x35_embedding_outliers",
      (s, dir) => {
        // embedding OUTLIER detection — the curation step after x12's
        // cohesion report: flag the individual vectors far from their
        // label's centroid (likely mislabeled / noise / adversarial
        // rows a training corpus should drop). Each member's cosine to
        // its label centroid rides x12's exact plumbing (labels·d
        // partial agg → labels-sized centroid table broadcast back →
        // one narrow zip_with fold per member, corpus never exploded
        // twice); the per-label score distribution then follows this
        // round's float discipline — the 6-dp-rounded cosine is exactly
        // decimal-imaged, Σ and Σ² accumulate as exact decimals, and
        // mu/sigma/z derive in the e9 formula (same expression
        // structure as the DuckDB twin), so the z-scores are hash-exact
        // at any SF, not just at test scale. Output is corpus-sized
        // (every vector with its z and flag); z ≥ 2 on (mu − cos)
        // flags LOW-cohesion members, one-sided by design. sigma = 0
        // labels (all members identical) flag nothing.
        // cached (r16, x12's note): `unit` feeds the centroid build and
        // the scoring join — one normalize pass instead of one per
        // consumer. Released by the caller's clearCache contract.
        val unit = vecs(s, dir)
          .select(col("vec_id"), col("label"),
            expr("transform(v, x -> x / norm)").as("u"))
          .cache()
        val comp = unit.select(col("label"), posexplode(col("u")))
          .toDF("label", "i", "x")
        val centArr = comp.groupBy("label", "i").agg(avg("x").as("c"))
          .groupBy("label")
          .agg(expr("transform(array_sort(collect_list(struct(i, c))), s -> s.c)")
            .as("carr"))
          .withColumn("cnorm", sqrt(expr(
            "aggregate(transform(carr, c -> c * c), cast(0 as double), (acc, y) -> acc + y)")))
        // cached (r16): `scored` is consumed by the per-label stats
        // broadcast AND the final join — uncached, the stats broadcast
        // build re-ran the whole centroid+cosine subtree
        val scored = unit.join(broadcast(centArr), Seq("label"))
          .withColumn("cos", roundAt(expr(
            "aggregate(zip_with(u, carr, (a, b) -> a * b), cast(0 as double), (acc, y) -> acc + y)")
            / col("cnorm"), 6))
          .select("vec_id", "label", "cos")
          .cache()
        val c6 = col("cos").cast("decimal(18,6)")
        val stats = scored.groupBy("label")
          .agg(count(lit(1)).cast("double").as("nn"),
            sum(c6).cast("double").as("s1"),
            sum(c6 * c6).cast("double").as("s2"))
          .select(col("label"),
            roundAt(col("s1") / col("nn"), 6).as("mu"),
            // nn = 1 would make the sample-variance quotient 0/0 = NaN,
            // and the engines disagree on NaN downstream (Spark's
            // floor-based roundAt maps it to 0; DuckDB propagates it and
            // NaN > 0 is true there) — so the singleton label is guarded
            // EXPLICITLY: sigma := 0, honoring the documented
            // "sigma = 0 labels flag nothing" contract in both engines.
            when(col("nn") > 1, roundAt(sqrt(greatest(
              (col("s2") - col("s1") * col("s1") / col("nn"))
                / (col("nn") - lit(1.0)), lit(0.0))), 6))
              .otherwise(lit(0.0)).as("sigma"))
        scored.join(broadcast(stats), Seq("label"))
          .withColumn("z", when(col("sigma") > 0,
            roundAt((col("mu") - col("cos")) / col("sigma"), 6)))
          .withColumn("outlier", coalesce(col("z") >= 2.0, lit(false)))
          .select("vec_id", "label", "cos", "z", "outlier")
          .orderBy("vec_id")
      },
      Some(s"""WITH e AS ($vecsSql),
              |unit AS (
              |  SELECT vec_id, label, list_transform(v, x -> x / norm) AS u FROM e),
              |expanded AS (
              |  SELECT vec_id, label, t.i AS i, u[t.i + 1] AS x
              |  FROM unit, unnest(range(0, len(u))) t(i)),
              |comp AS (
              |  SELECT label, i, avg(x) AS c FROM expanded GROUP BY 1, 2),
              |centnorm AS (
              |  SELECT label, sqrt(sum(c * c)) AS cnorm FROM comp GROUP BY 1),
              |dots AS (
              |  SELECT ex.vec_id, ex.label, sum(ex.x * comp.c) AS dot
              |  FROM expanded ex JOIN comp ON comp.label = ex.label AND comp.i = ex.i
              |  GROUP BY 1, 2),
              |scored AS (
              |  SELECT dots.vec_id, dots.label,
              |    ${roundAtSql("dot / cnorm", 6)} AS cos
              |  FROM dots JOIN centnorm ON dots.label = centnorm.label),
              |st AS (
              |  SELECT label, CAST(count(*) AS DOUBLE) AS nn,
              |    CAST(sum(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) AS s1,
              |    CAST(sum(CAST(cos AS DECIMAL(18,6)) * CAST(cos AS DECIMAL(18,6))) AS DOUBLE) AS s2
              |  FROM scored GROUP BY 1),
              |stats AS (
              |  SELECT label, ${roundAtSql("s1 / nn", 6)} AS mu,
              |    CASE WHEN nn > 1
              |      THEN ${roundAtSql("sqrt(greatest((s2 - s1 * s1 / nn) / (nn - 1.0), 0.0))", 6)}
              |      ELSE 0.0 END AS sigma
              |  FROM st)
              |SELECT vec_id, scored.label, cos,
              |  CASE WHEN sigma > 0 THEN ${roundAtSql("(mu - cos) / sigma", 6)} END AS z,
              |  coalesce(CASE WHEN sigma > 0 THEN ${roundAtSql("(mu - cos) / sigma", 6)} END >= 2.0, false) AS outlier
              |FROM scored JOIN stats ON scored.label = stats.label
              |ORDER BY vec_id""".stripMargin)),

    Q("x13_embedding_quantization",
      (s, dir) => {
        // int8 scalar quantization of the embedding store — the 4×
        // compression a 100 TB vector corpus takes before anything else.
        // Per-dimension min/max over the corpus (exact — mins/maxes of
        // input floats are order-independent) define the affine code;
        // each component maps to floor((x-mn)/(mx-mn)*255 + 0.5), all
        // scalar IEEE ops, bit-identical across engines. The report is
        // the per-label reconstruction quality (MSE + worst absolute
        // error, 6 dp) — the number that decides whether int8 is safe
        // for the recall target. Plan shape: one posexplode, a
        // dim-keyed (64-row) range table the planner broadcasts on its
        // own, and a (label) partial agg — no all-pairs, no driver math.
        val comp = vecs(s, dir)
          .select(col("vec_id"), col("label"), posexplode(col("v")))
          .toDF("vec_id", "label", "i", "x")
        val rng = comp.groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
        val rec = comp.join(rng, Seq("i"))
          .withColumn("qv", when(col("mx") === col("mn"), lit(0L))
            .otherwise(floor((col("x") - col("mn")) / (col("mx") - col("mn"))
              * 255 + 0.5).cast("long")))
          .withColumn("r",
            col("mn") + col("qv").cast("double") / 255.0 * (col("mx") - col("mn")))
        rec.groupBy("label")
          .agg(countDistinct("vec_id").as("n_members"),
            roundAt(avg((col("x") - col("r")) * (col("x") - col("r"))), 6).as("mse"),
            roundAt(max(abs(col("x") - col("r"))), 6).as("max_abs_err"))
          .orderBy("label")
      },
      Some(s"""WITH e AS (
              |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              |  FROM embeddings),
              |comp AS (
              |  SELECT vec_id, label, t.i AS i, v[t.i + 1] AS x
              |  FROM e, unnest(range(0, len(v))) t(i)),
              |rng AS (
              |  SELECT i, min(x) AS mn, max(x) AS mx FROM comp GROUP BY 1),
              |rec AS (
              |  SELECT vec_id, label, x,
              |    mn + CAST(qv AS DOUBLE) / 255.0 * (mx - mn) AS r
              |  FROM (
              |    SELECT vec_id, label, x, mn, mx,
              |      CASE WHEN mx = mn THEN 0
              |           ELSE CAST(floor((x - mn) / (mx - mn) * 255 + 0.5) AS BIGINT)
              |      END AS qv
              |    FROM comp JOIN rng USING (i)))
              |SELECT label, count(DISTINCT vec_id) AS n_members,
              |  ${roundAtSql("avg((x - r) * (x - r))", 6)} AS mse,
              |  ${roundAtSql("max(abs(x - r))", 6)} AS max_abs_err
              |FROM rec GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("x14_product_quantization",
      (s, dir) => {
        // product quantization — the codebook compression behind IVF-PQ,
        // the structure that actually serves billion-vector ANN: the 64
        // dims split into M=8 subspaces of 8; each subspace learns a
        // K=16-centroid codebook (one Lloyd round seeded from the first 16
        // vectors' subvectors; squared-L2 assignment as a SEQUENTIAL
        // fold so both engines compute bit-identical distances, rounded
        // at 6 dp before ranking; re-centered means rounded at 6 dp —
        // the x8 contract); a vector stores M 4-bit codes (4 bytes vs
        // the raw 256). The report is per-label reconstruction MSE +
        // worst absolute error — directly comparable with x13's int8
        // numbers: the compression-vs-fidelity ladder. Plan shape:
        // codebooks are (M·K)-row broadcasts, assignment is one narrow
        // pass per round, re-centering a (s, cid, dim) partial agg.
        // x15 searches over these codes; shared build in pqSubs/
        // pqCodebook/pqAssign.
        val subs = pqSubs(s, dir)
        pqAssign(subs, pqCodebook(subs, Caches.Harness))
          .select(col("vec_id"), col("label"),
            posexplode(expr("zip_with(sub, cent, (a, b) -> a - b)")))
          .toDF("vec_id", "label", "j", "d")
          .groupBy("label")
          .agg(countDistinct("vec_id").as("n_members"),
            roundAt(avg(col("d") * col("d")), 6).as("mse"),
            roundAt(max(abs(col("d"))), 6).as("max_abs_err"))
          .orderBy("label")
      },
      Some(s"""WITH $pqCtesSql,
              |fin AS ($pqFinalAssignSql),
              |errs AS (
              |  SELECT vec_id, label, sub[t.j + 1] - cent[t.j + 1] AS d
              |  FROM fin, unnest(range(0, 8)) t(j))
              |SELECT label, count(DISTINCT vec_id) AS n_members,
              |  ${roundAtSql("avg(d * d)", 6)} AS mse,
              |  ${roundAtSql("max(abs(d))", 6)} AS max_abs_err
              |FROM errs GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("x15_ann_pq_adc",
      (s, dir) => {
        // ANN search over the PQ codes (x14's trained codebooks) by
        // asymmetric distance computation — the memory-bandwidth play
        // that makes billion-vector search feasible: candidates are
        // never decoded; each query precomputes a tiny per-subspace
        // lookup table (query_sub · centroid, M·K = 128 entries) and a
        // candidate's approximate cosine is table lookups summed over
        // its M codes, normalized by the code-implied norm. Plan shape:
        // the corpus side is the narrow (vec_id, s, cid) code table; the
        // per-query tables and the code-norm table are bounded
        // broadcasts; the only shuffle is the (query, cand) partial-agg
        // over M=8 rows per pair. Recall@3 vs exact x6 is on the record
        // in AnnRecallSpec.
        val subs = pqSubs(s, dir)
        // x14 trains the codebooks (the training operator keeps its
        // in-query Lloyd, like x8); this SEARCH operator reads the
        // persisted artifact instead of retraining
        val cb = sharedPqCodebook(s, dir)
        val codes = pqAssign(subs, cb)
          .select(col("vec_id").as("cand_id"), col("s"), col("cid"))
        // per-(s, cid) squared norm of the centroid — query-independent
        val cn2 = cb.select(col("s"), col("cid"), roundAt(expr(
          """aggregate(transform(cent, x -> x * x),
            |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("cn2"))
        // per-query subspace inner-product tables
        val dt = subs.filter(col("vec_id") < 10).as("c")
          .join(broadcast(cb.as("q")), col("c.s") === col("q.s"))
          .select(col("c.vec_id").as("query_id"), col("c.s").as("s"),
            col("q.cid").as("cid"),
            roundAt(expr(
              """aggregate(zip_with(sub, cent, (a, b) -> a * b),
                |  cast(0 as double), (acc, x) -> acc + x)""".stripMargin), 6).as("ipd"))
        val qn = vecs(s, dir).filter(col("vec_id") < 10)
          .select(col("vec_id").as("query_id"), col("norm").as("qnorm"))
        val w = Window.partitionBy("query_id")
          .orderBy(col("acos").desc, col("cand_id"))
        codes
          .join(broadcast(dt), Seq("s", "cid"))
          .join(broadcast(cn2), Seq("s", "cid"))
          .filter(col("query_id") =!= col("cand_id"))
          .groupBy("query_id", "cand_id")
          .agg(sum("ipd").as("ip"), sum("cn2").as("c2"))
          .join(broadcast(qn), Seq("query_id"))
          .withColumn("acos", roundAt(col("ip") / (col("qnorm") * sqrt(col("c2"))), 6))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .select("query_id", "cand_id", "acos", "rank")
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH $pqCtesSql,
              |fin AS ($pqFinalAssignSql),
              |$pqAdcCtesSql,
              |agg AS (
              |  SELECT dt.query_id, codes.cand_id, sum(dt.ipd) AS ip, sum(cn2.cn2) AS c2
              |  FROM codes
              |  JOIN dt ON dt.s = codes.s AND dt.cid = codes.cid
              |  JOIN cn2 ON cn2.s = codes.s AND cn2.cid = codes.cid
              |  WHERE dt.query_id <> codes.cand_id
              |  GROUP BY 1, 2),
              |scored AS (
              |  SELECT agg.query_id, agg.cand_id,
              |    ${roundAtSql("agg.ip / (qn.qnorm * sqrt(agg.c2))", 6)} AS acos
              |  FROM agg JOIN qn ON qn.query_id = agg.query_id)
              |SELECT query_id, cand_id, acos, rank FROM (
              |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              |    ORDER BY acos DESC, cand_id) AS rank FROM scored)
              |WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin)),

    Q("x18_semantic_dedup",
      (s, dir) => {
        // SemDeDup-style semantic deduplication: cluster the corpus with
        // the trained coarse quantizer (the x8 Lloyd centroids), then
        // find near-duplicate pairs ONLY within a cluster (rounded
        // cosine ≥ 0.35) and drop the higher id, reporting each dropped
        // vector's smallest keeper. The cluster blocking is the whole
        // point at 100 TB: the quadratic term is Σ cluster_size², not
        // n² — k grows with the corpus (k ≈ n/target_cluster_size) so
        // the per-cluster work stays bounded, and the pair join is a
        // pure equi-join on centroid_id (shuffle by cluster, never
        // all-pairs). Embedding-space dedup catches the paraphrases
        // and re-encodings that x2/x4's lexical shingles can't.
        val e = vecs(s, dir)
        // cached: the self-join's two branches would otherwise each
        // re-run training + assignment. Released by clearCache().
        val assigned = assignNearest(e, sharedCentroids(s, dir)).cache()
        semanticDedupTail(assigned)
      },
      Some(s"""WITH n AS ($vecsSql),
              |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n WHERE vec_id < 8),
              |$lloydCtesSql,
              |$assignedCteSql,
              |$semanticDedupTailSql""".stripMargin)),

    Q("x26_semantic_clusters",
      (s, dir) => {
        // semantic CLUSTER DETECTION — the step past x18's pair-drop
        // dedup: connected components over the cluster-blocked cosine
        // graph (edges = within-quantizer-cell pairs ≥ 0.35), labeling
        // every vector with its semantic group and the group's size.
        // Reuses the SAME generic distributed CC as lexical dedup
        // ([[graft.corpus.Corpus.connectedComponents]] — pointer-jumped
        // label propagation, one Observation-metered action per round),
        // proving the graph core is operator-agnostic: hand it lexical
        // near-dup pairs or embedding pairs, same O(log diameter)
        // machinery. Oracle = DuckDB recursive-CTE closure over the
        // identical pair set.
        val e = vecs(s, dir)
        val assigned = assignNearest(e, sharedCentroids(s, dir)).cache()
        semanticClustersTail(assigned)
      },
      Some(s"""WITH RECURSIVE n AS ($vecsSql),
              |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n WHERE vec_id < 8),
              |$lloydCtesSql,
              |$assignedCteSql,
              |$semanticClustersTailSql""".stripMargin)),

    Q("x25_knn_graph",
      (s, dir) => {
        // cluster-blocked KNN graph — each vector's 3 nearest in-corpus
        // neighbors, the adjacency layer under agglomerative semantic
        // clustering, label propagation, and graph-based dedup review.
        // Same Σ cluster_size² blocking as x18 (never n²): pairs exist
        // only within a trained-quantizer cluster, so recall tracks the
        // quantizer quality (x8's 0.900), and the per-node top-k is a
        // window over each node's OWN candidate list — partitioned by
        // vec_id, so a mega-cluster never serializes one sort. Directed
        // edges: both (a→b) and (b→a) come from the one equi-join.
        // zero-norm vectors carry no direction: their cosine to anything
        // is 0/0, and the engines then DISAGREE on the ranking (Spark's
        // expression yields 0.0, DuckDB propagates NaN which sorts as
        // the GREATEST value in a DESC order — a zero vector would rank
        // as everyone's first neighbor there). Excluded from the graph
        // deterministically on both sides (r13 degencheck).
        val e = vecs(s, dir).filter(col("norm") > 0)
        val assigned = assignNearest(e, sharedCentroids(s, dir)).cache()
        val w = Window.partitionBy("vec_id")
          .orderBy(col("cosine").desc, col("neighbor_id"))
        assigned.as("a").join(dispatchAssigned(assigned).as("b"),
            col("a.centroid_id") === col("b.centroid_id") &&
              col("a.cand_id") =!= col("b.cand_id"))
          .select(col("a.cand_id").as("vec_id"), col("b.cand_id").as("neighbor_id"),
            roundAt(expr("cosine_similarity(a.v, b.v)"), 6).as("cosine"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .select("vec_id", "rank", "neighbor_id", "cosine")
          .orderBy("vec_id", "rank")
      },
      Some(s"""WITH n AS ($vecsSql),
              |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n WHERE vec_id < 8),
              |$lloydCtesSql,
              |$assignedCteSql,
              |pairs AS (
              |  SELECT a.cand_id AS vec_id, b.cand_id AS neighbor_id,
              |    ${roundAtSql("list_reduce([a.v[i] * b.v[i] for i in range(1, len(a.v) + 1)], (x, y) -> x + y) / (a.norm * b.norm)", 6)} AS cosine
              |  FROM assigned a JOIN assigned b
              |    ON a.centroid_id = b.centroid_id AND a.cand_id <> b.cand_id
              |    AND a.norm > 0 AND b.norm > 0),
              |ranked AS (
              |  SELECT vec_id, neighbor_id, cosine,
              |    CAST(ROW_NUMBER() OVER (PARTITION BY vec_id
              |      ORDER BY cosine DESC, neighbor_id) AS BIGINT) AS rank
              |  FROM pairs)
              |SELECT vec_id, rank, neighbor_id, cosine FROM ranked
              |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin)),

    Q("x19_ann_ivf_pq",
      (s, dir) => {
        // IVF-PQ — the composed billion-scale ANN index (the FAISS
        // production shape): x8's trained coarse quantizer partitions
        // the corpus into posting lists, x14's trained PQ codebooks
        // compress every vector to M=8 4-bit codes, and a query (a)
        // probes its nprobe nearest lists, (b) scores ONLY those lists'
        // members by asymmetric distance over the codes — never
        // decoding a candidate — and (c) RE-RANKS the top REFINE_R ADC
        // candidates with exact vectors. Body lives in ivfPqSearch,
        // parameterized on (nprobe, refine width) so AnnRecallSpec can
        // sweep the full operating curve; the production point below is
        // the measured knee of that curve (recall 0.833 at nprobe=2 —
        // no measured cell beats it, and the cells that tie cost
        // 1.5–2× the ADC scan volume).
        // At scale the corpus is one code table shuffled by
        // centroid_id; per query the work is nprobe/K of the corpus ×
        // M table lookups + REFINE_R exact dots, and every trained
        // artifact (centroids, codebooks, lookup tables) is a bounded
        // broadcast.
        ivfPqSearch(s, dir, nprobe = 2, refineR = REFINE_R)
      },
      Some(s"""WITH $pqCtesSql,
              |cent0 AS (SELECT vec_id AS centroid_id, v, norm FROM n WHERE vec_id < 8),
              |$lloydCtesSql,
              |$assignedCteSql,
              |$probesCteSql,
              |$ivfPqTailSql""".stripMargin)),


    Q("x23_random_projection",
      (s, dir) => {
        // Johnson–Lindenstrauss random projection 64 → 16: every vector
        // is folded through 16 fixed ±1 hyperplanes (md5-derived, ids
        // 16..31 — disjoint from x7's 4 bucket planes) and similarity is
        // computed in the projected space at a quarter of the FLOPs and
        // memory traffic. The report is the fidelity number that decides
        // whether the 4× cheaper space is usable as an ANN prefilter:
        // per label, avg and worst |cos_projected − cos_exact| over the
        // bounded query set × corpus. Plan shape: the projection is a
        // narrow per-row map (16 codegen'd folds over constant sign
        // arrays — no shuffle), the query side is a 10-row broadcast,
        // and the scoring pass never explodes components. Contrast with
        // x24: JL works for ANY embedding; prefix truncation only works
        // for matryoshka-trained ones — the two reports quantify that.
        errReport(projectJl(vecs(s, dir)))
      },
      Some(projErrOracleSql(
        s"""[list_reduce([CASE WHEN (strpos('0123456789abcdef',
           |    substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d - 1 AS VARCHAR)), 1, 1)) - 1) % 2 = 1
           |  THEN v[d] ELSE -v[d] END for d in range(1, len(v) + 1)],
           |  (x, y) -> x + y) for j in range(16, 32)]""".stripMargin))),

    Q("x24_matryoshka_truncation",
      (s, dir) => {
        // matryoshka-style prefix truncation 64 → 16: keep the first 16
        // dims verbatim (the deployment shortcut for matryoshka-trained
        // embeddings — no projection pass at all, the truncated store is
        // a byte-range read of the full one). Same fidelity report as
        // x23 over the same pairs; on non-matryoshka-trained embeddings
        // like these the prefix discards unordered information, and the
        // gap between this report and x23's is the measured case for
        // spending the JL projection pass before cutting dimensions.
        errReport(vecs(s, dir).withColumn("p", expr("slice(v, 1, 16)"))
          .withColumn("pnorm", sqrt(expr(
            "aggregate(transform(p, x -> x * x), cast(0 as double), (acc, x) -> acc + x)"))))
      },
      Some(projErrOracleSql("v[1:16]"))),

    Q("x36_semantic_dedup_scaled",
      (s, dir) => {
        // x18's SemDeDup at the SCALED quantizer — the r15 verdict's
        // top finding made an operator: with k hard-fixed at 8 the
        // Σ cluster_size² pair bound is ≈ n²/8 (quadratic in corpus
        // rows — visible as x26's ×7.6 shuffle-W step per ×3.33 data at
        // sf10), so the scale path trains k = ⌈√n⌉ centroids
        // ([[scaledK]]) and the bound drops to ≈ n^1.5. Everything else
        // is x18's own tail (same threshold, same keeper rule, same
        // measured self-join dispatch); the assignment runs the narrow
        // [[graft.functions.NearestCentroid]] kernel — one compiled k·d
        // loop per row, NO n·k exchange at any k — and the oracle
        // re-derives k AND the full k-wide Lloyd chain from the corpus,
        // so the scaled discipline is cross-engine-pinned at every
        // correctness run, not just asserted. x18 keeps the fixed-k
        // form: SemDeDup recall depends on the quantizer, so the two
        // are distinct operators (fixed k = the pinned baseline, scaled
        // k = what a 100 TB corpus actually deploys), and AnnScaleProbe
        // puts the pair-mass decade rows for both on the record.
        val e = vecs(s, dir)
        val assigned = assignNearest(e, sharedCentroidsScaled(s, dir)).cache()
        semanticDedupTail(assigned)
      },
      Some(s"""WITH n AS ($vecsSql),
              |$scaledCent0Sql,
              |$lloydCtesSql,
              |$assignedCteSql,
              |$semanticDedupTailSql""".stripMargin)),

    Q("x37_semantic_clusters_scaled",
      (s, dir) => {
        // x26's cluster detection at the scaled quantizer — same CC
        // machinery over the ⌈√n⌉-blocked cosine graph. The edge set is
        // the scale win: within-cluster pair mass rides Σ cluster_size²
        // ≈ n^1.5 instead of n²/8, which is exactly the term x26's
        // decade table showed going super-linear.
        val e = vecs(s, dir)
        val assigned = assignNearest(e, sharedCentroidsScaled(s, dir)).cache()
        semanticClustersTail(assigned)
      },
      Some(s"""WITH RECURSIVE n AS ($vecsSql),
              |$scaledCent0Sql,
              |$lloydCtesSql,
              |$assignedCteSql,
              |$semanticClustersTailSql""".stripMargin)),

    Q("x38_ann_ivf_pq_scaled",
      (s, dir) => {
        // x19's IVF-PQ SERVING path at the scaled quantizer — the last
        // ANN-family consumer of the fixed k=8 artifact (r15 verdict
        // item 1 named the serving path alongside x18/x25/x26). Two
        // constants move together: k = ⌈√n⌉ lists ([[scaledK]]) and
        // nprobe = ⌈√k⌉ probed lists ([[scaledNprobe]]), so a query's
        // ADC scan volume is nprobe·n/k ≈ n/√k ≈ n^0.75 — sublinear in
        // corpus rows, where x19's fixed (8, 2) point ADC-scans a
        // constant quarter of the corpus at every scale. The PQ stage
        // is UNCHANGED (codebooks quantize subvectors, not lists), the
        // refine width stays at the measured REFINE_R knee, and the
        // oracle derives k AND nprobe in-SQL from the corpus
        // ([[scaledCent0Sql]]/[[probesScaledCteSql]]) before re-running
        // the full Lloyd→probe→ADC→refine chain relationally. x19 keeps
        // the fixed form: recall depends on the quantizer, so the two
        // serving points are distinct operators, and AnnRecallSpec puts
        // both recall/cost cells on the record. [[graft.ann.AnnIndex]]
        // persists the same scaled quantizer via its `k` parameter;
        // AnnIndexSpec pins index-served results == this query.
        val cents = sharedCentroidsScaled(s, dir)
        ivfPqSearch(s, dir, scaledNprobe(cents.count().toInt),
          REFINE_R, cents)
      },
      Some(s"""WITH $pqCtesSql,
              |$scaledCent0Sql,
              |$lloydCtesSql,
              |$assignedCteSql,
              |$probesScaledCteSql,
              |$ivfPqTailSql""".stripMargin)),
  )

  /** corpus with a reduced-dimension twin `p` (+ `pnorm`) of each
    * vector, via 16 constant ±1 hyperplane folds (plane ids 16..31).
    */
  private def projectJl(e: DataFrame): DataFrame = {
    val withSigns = (0 until 16).foldLeft(e)((d, j) =>
      d.withColumn(s"__rp$j",
        array((0 until 64).map(dd => lit(planeSign(16 + j, dd))): _*)))
    val withComps = (0 until 16).foldLeft(withSigns)((d, j) =>
      d.withColumn(s"__pc$j", expr(
        s"aggregate(zip_with(v, __rp$j, (x, s) -> x * s), " +
          "cast(0 as double), (acc, x) -> acc + x)")))
    withComps
      .withColumn("p", array((0 until 16).map(j => col(s"__pc$j")): _*))
      .withColumn("pnorm", sqrt(expr(
        "aggregate(transform(p, x -> x * x), cast(0 as double), (acc, x) -> acc + x)")))
      .drop((0 until 16).flatMap(j => Seq(s"__rp$j", s"__pc$j")): _*)
  }

  /** per-label avg/max |cos in reduced space − exact cos| over the
    * 10-query × corpus pairs; both cosines rounded at 6 dp BEFORE the
    * diff so the engines subtract identical doubles (the x12 contract
    * covers the remaining avg-order noise).
    */
  private def errReport(pe: DataFrame): DataFrame = {
    val queries = pe.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("p").as("qp"), col("pnorm").as("qpnorm"))
    pe.select(col("vec_id").as("cand_id"), col("label"),
        col("v"), col("p"), col("pnorm"))
      .join(broadcast(queries), col("query_id") =!= col("cand_id"))
      .withColumn("cos", roundAt(expr("cosine_similarity(qv, v)"), 6))
      .withColumn("cos_p", roundAt(expr(
        "aggregate(zip_with(qp, p, (a, b) -> a * b), cast(0 as double), (acc, x) -> acc + x)")
        / (col("qpnorm") * col("pnorm")), 6))
      .withColumn("err", abs(col("cos_p") - col("cos")))
      .groupBy("label")
      .agg(count(lit(1)).as("n_pairs"),
        roundAt(avg("err"), 6).as("avg_abs_err"),
        roundAt(max("err"), 6).as("max_abs_err"))
      .orderBy("label")
  }

  /** oracle twin of [[errReport]] for a reduced-space expression `pSql`
    * (a DuckDB list expression over `v`).
    */
  private def projErrOracleSql(pSql: String): String =
    s"""WITH n AS ($vecsSql),
       |proj AS (SELECT vec_id, label, v, norm, $pSql AS p FROM n),
       |pn AS (
       |  SELECT *, sqrt(list_reduce([p[i] * p[i] for i in range(1, len(p) + 1)],
       |    (x, y) -> x + y)) AS pnorm
       |  FROM proj),
       |pairs AS (
       |  SELECT c.label AS label,
       |    ${roundAtSql(cosSql, 6)} AS cos,
       |    ${roundAtSql("list_reduce([q.p[i] * c.p[i] for i in range(1, len(q.p) + 1)], (x, y) -> x + y) / (q.pnorm * c.pnorm)", 6)} AS cos_p
       |  FROM pn q JOIN pn c ON q.vec_id < 10 AND q.vec_id <> c.vec_id)
       |SELECT label, count(*) AS n_pairs,
       |  ${roundAtSql("avg(abs(cos_p - cos))", 6)} AS avg_abs_err,
       |  ${roundAtSql("max(abs(cos_p - cos))", 6)} AS max_abs_err
       |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, QFn] = all.map(q => q.name -> q.fn).toMap
  val oracles: Map[String, String] =
    all.collect { case Q(n, _, Some(sql)) => n -> sql }.toMap
}
