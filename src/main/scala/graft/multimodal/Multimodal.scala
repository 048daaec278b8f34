package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Multimodal column plumbing (builder-prompt extension surface): treat
  * image/audio/video as opaque `binary` payloads with typed metadata, and
  * run decode / feature-extraction / resize / frame-sampling as
  * partition-wise batch transforms.
  *
  * The *decode step is a stub by design* — the container ships no
  * image/audio codecs — implemented as a deterministic fake
  * ([[FakeCodec]]) behind the same partition-batched call shape a real
  * JNI/FFI codec would use, so the Spark-side plumbing (schema, encoder
  * round-trip, mapPartitions batching, partition sizing) is real and
  * tested.
  *
  * Scale: payloads never route through the driver; each executor decodes
  * its partition in one codec session (mapPartitions, not per-row UDF).
  * Partition sizing for 100 TB of media = spark.sql.files.maxPartitionBytes
  * tuned so a partition of payloads fits executor memory during decode.
  */
object Multimodal {

  final case class MediaMeta(mime: String, width: Int, height: Int, durationMs: Long)
  final case class MediaRow(media_id: Long, payload: Array[Byte], meta: MediaMeta)
  final case class MediaFeatures(
      media_id: Long, n_bytes: Long, mean_byte: Double, byte_entropy: Double,
      width: Int, height: Int, n_frames_sampled: Int)

  /** Deterministic fake codec standing in for the native decoder.
    * A real implementation replaces these bodies with codec calls; the
    * signatures (bytes in, frames/pixels out, batch-friendly) are the
    * contract the pipeline is built against.
    */
  object FakeCodec {
    /** "decode" = interpret bytes as grayscale pixels row-major. */
    def decode(payload: Array[Byte], meta: MediaMeta): Array[Array[Byte]] = {
      val w = math.max(meta.width, 1)
      payload.grouped(w).toArray
    }

    /** "resize" = nearest-neighbor subsample of decoded rows; empty
      * frames/rows resize to zero-filled output (no OOB on empty
      * payloads).
      */
    def resize(frame: Array[Array[Byte]], w: Int, h: Int): Array[Array[Byte]] = {
      val rows = frame.length
      (0 until h).toArray.map { y =>
        val row = if (rows == 0) Array.empty[Byte]
          else frame(math.min(y * rows / h, rows - 1))
        val cols = row.length
        (0 until w).toArray.map(x =>
          if (cols == 0) 0.toByte else row(math.min(x * cols / w, cols - 1)))
      }
    }

    /** "frame sample" = every nth decoded row block as a frame. */
    def sampleFrames(payload: Array[Byte], meta: MediaMeta, everyN: Int): Seq[Array[Byte]] = {
      val frameSize = math.max(meta.width * meta.height, 1)
      payload.grouped(frameSize).zipWithIndex
        .collect { case (f, i) if i % everyN == 0 => f }.toSeq
    }
  }

  /** documents→media adapter for testing the plumbing on shipped data:
    * text bytes as payload, synthetic meta.
    */
  def mediaFromDocuments(spark: SparkSession, docs: DataFrame,
      width: Int = 32, height: Int = 8): Dataset[MediaRow] = {
    import spark.implicits._
    // Null text would become a null payload and NPE inside the codec's
    // mapPartitions (r10 self-review — the same null-intolerance fixed
    // for the simhash kernel): an undecodable row is dropped here, and
    // the m2/x34 oracles drop it identically (both via an explicit
    // WHERE text IS NOT NULL — m2's moved off its stats inner join in
    // r13 when the empty-text row became a LEFT JOIN so zero-byte
    // payloads survive; null and empty are now distinct contracts,
    // both in degencheck's battery). width × height sets the fake frame
    // geometry — m3 uses a finer 32×2 grid so shipped-corpus payloads
    // carry enough frames for the shared-frame rule to have evidence.
    docs.filter(col("text").isNotNull).select(
      col("doc_id").as("media_id"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("application/x-fake").as("mime"),
        lit(width).as("width"),
        lit(height).as("height"),
        (col("n_chars") * 10).cast("long").as("durationMs")).as("meta"))
      .as[MediaRow]
  }

  /** partition-wise decode + featurize: one codec pass per partition, no
    * per-row lambda dispatch, nothing collected to the driver.
    */
  def extractFeatures(media: Dataset[MediaRow], frameEveryN: Int = 4): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec session would be opened here
      rows.map { r =>
        val bytes = r.payload
        val n = bytes.length.toLong
        val counts = new Array[Long](256)
        var sum = 0L
        bytes.foreach { b => val u = b & 0xff; counts(u) += 1; sum += u }
        val mean = if (n == 0) 0.0 else sum.toDouble / n
        val entropy = if (n == 0) 0.0 else {
          counts.filter(_ > 0).map { c =>
            val p = c.toDouble / n
            -p * math.log(p) / math.log(2)
          }.sum
        }
        val frames = FakeCodec.sampleFrames(bytes, r.meta, frameEveryN)
        val decoded = FakeCodec.decode(bytes, r.meta)
        val resized = FakeCodec.resize(decoded, 8, 8)
        MediaFeatures(r.media_id, n, mean, entropy,
          resized.headOption.map(_.length).getOrElse(0), resized.length, frames.size)
      }
    }
  }

  /** Perceptual hash (average-hash) over the decode → resize path: the
    * frame is decoded, nearest-neighbor-resized to w×h, and each pixel
    * contributes one bit — set iff the pixel is strictly brighter than
    * the frame mean. The mean compare is kept in INTEGER arithmetic
    * (n·u > Σu), so the hash is bit-exact across engines with no float
    * in the pipeline; w·h ≤ 63 keeps it a positive BIGINT in both
    * (x31's 48-bit argument — the default 8×6 grid emits aHash-48,
    * sharing x31's pigeonhole block geometry). Near-identical media
    * differ in a few pixels → small hamming distance; the dedup query
    * (x34) reuses the SimHash blocking instead of an all-pairs scan.
    * Same partition-wise codec-session shape as [[extractFeatures]];
    * a real codec swaps the FakeCodec calls, the hashing is unchanged.
    */
  def perceptualHash(media: Dataset[MediaRow], w: Int = 8, h: Int = 6): DataFrame = {
    import media.sparkSession.implicits._
    require(w >= 1 && h >= 1 && w * h <= 63,
      s"ahash needs 1..63 pixels to stay a positive BIGINT, got ${w}x$h")
    media.mapPartitions { rows =>
      // per-partition codec session would be opened here
      rows.map(r => (r.media_id,
        aHashBits(FakeCodec.resize(FakeCodec.decode(r.payload, r.meta), w, h), w, h)))
    }.toDF("media_id", s"ahash${w * h}")
  }

  /** the integer aHash core shared by [[perceptualHash]] (whole-payload,
    * x34) and [[frameHashes]] (per sampled frame, m3): bit set iff the
    * pixel beats the grid mean under the exact integer compare n·u > Σu.
    */
  private[multimodal] def aHashBits(px: Array[Array[Byte]], w: Int, h: Int): Long = {
    val n = w * h
    val flat = new Array[Int](n)
    var sum = 0L
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { val u = px(y)(x) & 0xff; flat(i) = u; sum += u; i += 1; x += 1 }
      y += 1
    }
    var hash = 0L
    i = 0
    while (i < n) {
      if (flat(i).toLong * n > sum) hash |= 1L << (n - 1 - i)
      i += 1
    }
    hash
  }

  /** per-FRAME perceptual hashes (the video analog of [[perceptualHash]]):
    * sample every `everyN`-th decoded frame, decode + resize + aHash each
    * inside the same partition-wise codec session, emit
    * (media_id, frame_no, fhash) where frame_no is the sampled ordinal.
    * A video is then a SET of frame hashes — m3 joins on hash equality
    * to find videos sharing frames, the sequence-level near-dup signal a
    * whole-payload hash (x34) washes out.
    */
  def frameHashes(media: Dataset[MediaRow], everyN: Int = FRAME_EVERY_N,
      w: Int = 8, h: Int = 6): DataFrame = {
    import media.sparkSession.implicits._
    require(w >= 1 && h >= 1 && w * h <= 63,
      s"ahash needs 1..63 pixels to stay a positive BIGINT, got ${w}x$h")
    media.mapPartitions { rows =>
      // per-partition codec session would be opened here
      rows.flatMap { r =>
        frameHashSeq(r, everyN, w, h).iterator.zipWithIndex
          .map { case (fh, i) => (r.media_id, i.toLong, fh) }
      }
    }.toDF("media_id", "frame_no", s"fhash${w * h}")
  }

  /** one media row's sampled-frame hashes in order — the per-row unit
    * [[frameHashes]] explodes and the streaming dedup carries whole (a
    * stream-side row must bring its own frame set, x10's carried-shingle
    * trick at frame granularity).
    */
  def frameHashSeq(r: MediaRow, everyN: Int = FRAME_EVERY_N,
      w: Int = 8, h: Int = 6): Seq[Long] =
    FakeCodec.sampleFrames(r.payload, r.meta, everyN)
      .map(f => aHashBits(FakeCodec.resize(FakeCodec.decode(f, r.meta), w, h), w, h))

  /** AUDIO energy-envelope fingerprint (m4 — the audio analog of x34's
    * aHash, same integer-arithmetic discipline): the payload is cut
    * into `bits` contiguous equal-share windows (window s = bytes
    * [⌊s·len/bits⌋, ⌊(s+1)·len/bits⌋) — all integer division), and bit
    * s is set iff the window's mean amplitude beats the whole payload's
    * mean, compared cross-multiplied so no float ever enters:
    * si·len > tot·ni. A re-encoded / level-shifted copy keeps its
    * loud-vs-quiet envelope shape, so near-dups land at small hamming
    * distance and ride the SAME capped pigeonhole machinery as
    * x31/x34. Empty windows (len < bits) and empty payloads hash to
    * unset bits — never a divide. Exactness bound: si ≤ 255·ni and
    * tot ≤ 255·len, so both products stay under 2⁶³ for payloads up to
    * ~1.3 GB at bits = 48 (255·len²/48 < 2⁶³); a real codec front-end
    * feeding PCM frames would fingerprint per-minute chunks long before
    * that. Same partition-wise codec-session shape as the other
    * extractors; a real decoder replaces the byte interpretation, the
    * windowing/compare is unchanged.
    */
  def audioEnvelopeHash(media: Dataset[MediaRow], bits: Int = 48): DataFrame = {
    import media.sparkSession.implicits._
    require(bits >= 1 && bits <= 63,
      s"envelope hash needs 1..63 windows to stay a positive BIGINT, got $bits")
    media.mapPartitions { rows =>
      // per-partition codec session would be opened here
      rows.map(r => (r.media_id, envelopeBits(r.payload, bits)))
    }.toDF("media_id", s"ehash$bits")
  }

  private[multimodal] def envelopeBits(bytes: Array[Byte], bits: Int): Long = {
    val len = bytes.length
    var tot = 0L
    var i = 0
    while (i < len) { tot += bytes(i) & 0xff; i += 1 }
    var hash = 0L
    var s = 0
    while (s < bits) {
      val lo = (s.toLong * len / bits).toInt
      val hi = ((s + 1).toLong * len / bits).toInt
      var si = 0L
      var p = lo
      while (p < hi) { si += bytes(p) & 0xff; p += 1 }
      val ni = hi - lo
      if (ni > 0 && si * len > tot * ni) hash |= 1L << (bits - 1 - s)
      s += 1
    }
    hash
  }

  /** the ONE sampling stride shared by the batch (m3, [[frameHashes]]),
    * index ([[writeFrameIndex]]) and stream-carried ([[frameHashSeq]])
    * frame sets — a stride mismatch between any two of them would make
    * the streaming probe silently miss every other frame (r10 ADVICE:
    * the three call sites used to carry their own defaults).
    */
  val FRAME_EVERY_N: Int = 2

  /** the evidence-bounding cap. Two roles, one number:
    *
    *   - m3/x34 (the strict batch rule): a frame hash carried by more
    *     media than this is dropped before any pairing — bounding the
    *     pair join at ≤ cap² rows per hash, never df².
    *   - the index layout + ingest loop (the BOUNDED rule, r15 — m6
    *     promoted after m5/m7 measured the strict rule's recall decaying
    *     0.955 → 0.075 across the sf ladder): instead of evicting a hash
    *     past the cap, keep its cap LOWEST media ids as REPRESENTATIVES
    *     and pair representatives against all holders. Every posting
    *     list stays ≤ cap (the same r10 fan-out bound), per-hash pair
    *     work is cap·df — linear in df, Σ ≤ cap·|postings| — and a
    *     popular-content cluster stays connected through exactly the
    *     ids the min-id keeper rule elects.
    */
  val FRAME_DF_CAP: Int = 64

  /** the boilerplate bound (r15, r14 verdict item 1): the df above
    * which a frame hash is non-evidence under ANY reasonable rule —
    * 64× the representative cap (black frames, intro cards at corpus
    * scale). Three consumers: m5/m7's ground truth (pairs sharing ≥ 2
    * hashes under THIS bound — a pair whose evidence sits between the
    * two caps is a real duplicate the strict rule misses), the m6
    * bounded rule's evidence set, and — since the r15 promotion — the
    * index layout's `sets` table and the ingest loop's verify stage.
    * The bound keeps every evidence pass computable: per-hash fan-out
    * ≤ cap·TRUTH instead of unbounded df² on corpus boilerplate, and
    * the rep-ranking window never sees more than TRUTH rows per key.
    */
  val FRAME_TRUTH_DF_CAP: Int = 4096

  /** sidecar file name + content marking a frame-index artifact as
    * written under the current layout. [[graft.streaming.StreamingOps
    * .frameDedupStream]] REQUIRES it: an index written before the cap
    * moved to write time (r11) still carries unbounded posting lists,
    * and nothing else would detect the stale layout — the probe would
    * quietly re-inherit the r10 hot-hash fan-out (r11 ADVICE). The
    * content records both caps AND the layout version, so a cap change,
    * the r14 postings+sets restructuring and the r15 reps+sets switch
    * are all detected rather than assumed (a v2 artifact's postings are
    * strict-capped evidence and its sets drop every hash past the old
    * cap — a v3 reader probing it would silently lose exactly the
    * popular-content candidates the bounded rule exists to keep).
    */
  val FRAME_INDEX_LAYOUT_FILE: String = "_graft_frame_index_layout"
  def frameIndexLayoutMarker: String =
    frameIndexLayoutMarkerFor(FRAME_DF_CAP, FRAME_TRUTH_DF_CAP)
  private def frameIndexLayoutMarkerFor(repCap: Int, truthCap: Int): String =
    s"repcap=$repCap truthcap=$truthCap\nreps+sets v3\n"

  /** persist a corpus's frame-hash index at m3's geometry — the static
    * side of the streaming frame dedup. Two tables (r14 postings+sets;
    * r15 switched the evidence rule from strict-cap to the bounded m6
    * rule after m5/m7 measured the strict rule's recall decaying with
    * index size):
    *
    *   `$path/postings` — (media_id, fhash48) REPRESENTATIVES: per hash
    *     the [[FRAME_DF_CAP]] lowest media ids among its evidence
    *     holders. Every posting list stays ≤ cap, so a hot frame hash
    *     can never fan a probe row out df-wide (the r10 verdict's
    *     uncapped-index finding — the bound the strict cap bought,
    *     kept), but a popular hash is no longer EVICTED: its cluster
    *     stays reachable through the lowest-id members, which are
    *     exactly the ids the min-id keeper rule elects.
    *   `$path/sets` — (media_id, fhs: array<long>), each indexed media's
    *     whole evidence hash set under [[FRAME_TRUTH_DF_CAP]] (only true
    *     boilerplate — black frames, intro cards — is dropped entirely).
    *     The verify stage intersects these, so shared evidence through
    *     NON-representative hashes still counts once a candidate is
    *     found. Precomputed ONCE here: before r14 the streaming probe
    *     rebuilt this table with a full-index groupBy(collect_set)
    *     EVERY micro-batch — per-batch cost riding index size instead
    *     of batch size, the disease the text path's persisted shingle
    *     table killed.
    */
  def writeFrameIndex(spark: SparkSession, docs: DataFrame, path: String): Unit = {
    val fh = frameHashes(mediaFromDocuments(spark, docs, width = 32, height = 2),
        everyN = FRAME_EVERY_N)
      .select("media_id", "fhash48").distinct()
    writeFrameArtifacts(fh, path)
  }

  /** the ONE writer of the reps+sets layout (shared by
    * [[writeFrameIndex]], the incremental segment append in
    * [[curateMediaIncremental]] and the compactor, so they can never
    * diverge). `fh0` must be a DISTINCT (media_id, fhash48) frame; both
    * caps are applied here at the frame's own scope — boilerplate past
    * `truthCap` is dropped from everything, then per hash the `repCap`
    * lowest ids become postings while sets keep the full evidence. The
    * rep-ranking window runs AFTER the truth-cap filter, so its per-key
    * row count is bounded at `truthCap` — a corpus-scale black-frame
    * hash never concentrates millions of rows on one partition's sort.
    * Non-default caps are a TEST lever (the truth-cap eviction pin needs
    * a reachable bound); the marker records the actual caps, so a
    * custom-cap artifact can never pass the production layout gate.
    */
  private[graft] def writeFrameArtifacts(fh0: DataFrame, path: String,
      repCap: Int = FRAME_DF_CAP,
      truthCap: Int = FRAME_TRUTH_DF_CAP): Unit = Caches.scoped { own =>
    val fh = own(fh0)
    val ev = own(truthEvidence(fh, truthCap))
    electReps(ev, repCap)
      .write.mode("overwrite").parquet(s"$path/postings")
    ev.groupBy("media_id").agg(collect_set("fhash48").as("fhs"))
      .write.mode("overwrite").parquet(s"$path/sets")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, FRAME_INDEX_LAYOUT_FILE),
      frameIndexLayoutMarkerFor(repCap, truthCap))
  }

  /** the evidence bound, once: drop hashes carried by more than
    * `truthCap` distinct media from a DISTINCT (media_id, fhash48)
    * frame. Shared by the layout writer and the in-batch curation stage
    * so the persisted and in-memory evidence rules cannot diverge.
    */
  private[graft] def truthEvidence(fh: DataFrame,
      truthCap: Int = FRAME_TRUTH_DF_CAP): DataFrame =
    truthEvidence(fh, frameDf(fh), truthCap)

  /** per-hash document frequency of a DISTINCT (media_id, fhash48)
    * frame — the one statistic both evidence bounds read.
    */
  private[graft] def frameDf(fh: DataFrame): DataFrame =
    fh.groupBy("fhash48").agg(count(lit(1)).as("dfm"))

  /** [[truthEvidence]] over a PRECOMPUTED df table, for callers that
    * already derived (and usually cached) [[frameDf]] — re-aggregating
    * df per consumer would re-run the frame-hash subtree.
    */
  private[graft] def truthEvidence(fh: DataFrame, dfm: DataFrame,
      truthCap: Int): DataFrame =
    fh.join(
      dfm.filter(col("dfm") <= truthCap).select("fhash48"),
      Seq("fhash48"))
      .select("media_id", "fhash48")

  /** THE bounded-rule candidate stage, once (r16 — shared by the ingest
    * loop's in-batch stage and the m6/m7 batch/telemetry queries so the
    * candidate contract has one definition): representative × evidence
    * pairs on a shared hash, (doc_a < doc_b, doc_a a representative of
    * at least one shared hash), distinct. Per-hash fan-out is ≤ cap·df
    * (never df²); a verified pair needs only ONE rep-shared candidate
    * hash — shared evidence through non-representative hashes counts at
    * the verify stage's full-set intersect, exactly the production
    * loop's contract.
    *
    * SKEW SALT (r16 — the x4 per-key fan-out applied to the m6 spill
    * the r15 profile left open: 11.3 GB mem / 946 MB disk at sf3,
    * partition-raise-invariant because the volume is task-local on
    * replica-hot hashes): the evidence side of a hash with df >
    * `saltChunk` is split over nsalt = ceil(df / saltChunk) ≤ 256
    * sub-keys (salt = pmod(media_id, nsalt)), and the ≤ cap
    * representative rows are replicated once per salt — so a hot hash's
    * cap·df match chunk spreads over nsalt reducers instead of one.
    * Every (rep, holder) co-occurrence matches exactly once for ANY
    * saltChunk (the evidence row carries one salt), so the output is
    * saltChunk-invariant — pinned in FrameRecallSpec the way
    * DedupSaltSpec pins x4. Normal keys get nsalt = 1: zero overhead.
    */
  private[graft] def repCandidatePairs(rep: DataFrame, ev: DataFrame,
      dfm: DataFrame, saltChunk: Long = 1024L): DataFrame = {
    val withSalt = dfm.select(col("fhash48"),
      least(ceil(col("dfm") / lit(saltChunk.toDouble)), lit(256L))
        .cast("int").as("nsalt"))
    val evs = ev.join(withSalt, Seq("fhash48"))
      .withColumn("salt", pmod(col("media_id"), col("nsalt").cast("long")).cast("int"))
      .select("media_id", "fhash48", "salt")
    val reps = rep.join(withSalt, Seq("fhash48"))
      .withColumn("salt", explode(expr("sequence(0, nsalt - 1)")))
      .select("media_id", "fhash48", "salt")
    // MEASURED width dispatch (r16 — the sf3 profile's actual finding):
    // the join stage's cost is its OUTPUT fan-out (Σ min(df, cap)·df
    // match rows feeding the pair partial-dedup), but AQE sizes the
    // stage by its INPUT bytes — a few MB of (media_id, fhash48, salt)
    // rows — and coalesces the salted partitions right back together
    // (sf3: 4 tasks over ~10⁸ match rows, 2.2 GB spill per branch, and
    // salting alone measurably moved NOTHING). The fan-out is exactly
    // computable from the df table the caller already derived, so size
    // the exchange from it: explicit repartition by (fhash48, salt) is
    // user-specified partitioning AQE must honor, one task handles
    // ~2M match rows, and the per-task dedup map stays in memory. The
    // dfm aggregate is one action over a hash-count-sized cached frame
    // (the assignedFrameBytes discipline: measure the statistic the
    // planner structurally cannot see).
    val spark = ev.sparkSession
    val matchRows = {
      val r = dfm.agg(coalesce(sum(
        least(col("dfm"), lit(FRAME_DF_CAP.toLong)) * col("dfm")),
        lit(0L))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val base = spark.sessionState.conf.numShufflePartitions
    val width = math.min(4096L,
      math.max(base.toLong, matchRows / 1000000L)).toInt
    // the pair-dedup reduce side rides the SAME measured width: its
    // input is the match fan-out too, and the session's default
    // partition count (AQE can coalesce down from it, never up past it)
    // is sized for scan-shaped stages, not a 10⁸-row dedup. The
    // explicit repartition IS the dedup's exchange (HashPartitioning on
    // the dedup keys satisfies the aggregate's distribution), so this
    // widens the existing shuffle rather than adding one. BOTH explicit
    // exchanges engage only when the measured volume actually exceeds
    // the session default — an ingest-loop batch whose fan-out fits the
    // default width keeps the natural small-batch plan (AQE broadcasts
    // the candidate join outright there; forcing the shuffle cost the
    // sf1 loop ~40% per batch for nothing).
    val evSide =
      if (width > base) evs.repartition(width, col("fhash48"), col("salt"))
      else evs
    val joined = reps.as("a").join(evSide.as("b"),
        col("a.fhash48") === col("b.fhash48") &&
          col("a.salt") === col("b.salt") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("doc_a"), col("b.media_id").as("doc_b"))
    (if (width > base) joined.repartition(width, col("doc_a"), col("doc_b"))
     else joined)
      .dropDuplicates("doc_a", "doc_b")
  }

  /** MEASURED in-memory byte estimate of a frame-evidence sets frame
    * (media_id, fhs: array<long>) — [[graft.corpus.Corpus
    * .setFrameBytes]]'s arithmetic for the long-array layout: 8 bytes
    * per element + the UnsafeRow fixed slots and array headers
    * (~96 B/row, rounded up).
    */
  private[graft] def frameSetBytes(sets: DataFrame): Long = {
    val r = sets.agg(coalesce(
      sum(size(col("fhs")).cast("long") * 8L + 96L), lit(0L)).as("b")).first()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** THE bounded-rule verify stage, once: a candidate pair survives iff
    * its endpoints' FULL truth-capped evidence sets intersect in
    * ≥ `minShared` hashes — shared evidence through non-representative
    * hashes counts, which is exactly why one rep-shared candidate hash
    * is enough at the candidate stage. `sets0` is (media_id, fhs) —
    * the persisted layout's own sets table or an in-batch
    * groupBy(collect_set) over [[truthEvidence]] output.
    *
    * The sets side rides the [[graft.corpus.Corpus.dispatchVerifySets]]
    * regime dispatch (the sf10 backfill profile showed the verify SMJ
    * dragging both endpoints' evidence ARRAYS through its sorts, 9.3 GB
    * spill on a 1.2 GB exchange, the exact shape the text path's
    * dispatch closed): measure the sets frame from its
    * UnsafeRow layout, broadcast it while it fits the shared
    * heap-derived budget (`graft.verify.broadcastBudget` — the ONE knob
    * every dispatch answers to, so the zero-budget no-hint audit covers
    * this family too); over budget, semi-join-prune to candidate
    * endpoints and re-measure; nothing fits → the natural plan (the
    * cluster-scale regime, memory-per-task the lever). The hint can
    * change the PLAN, never the ANSWER — a pure filter over candidate
    * pairs. The returned frame is lazy on media/candidate-sized caches
    * that belong to `own`.
    */
  private[graft] def verifySetPairs(cand0: DataFrame, sets0: DataFrame,
      minShared: Int, own: Caches): DataFrame = {
    val budget = graft.corpus.Corpus.verifyBroadcastBudget(sets0.sparkSession)
    // cached: the measuring aggregate and the two verify joins would
    // each re-run the sets build (a collect_set over the evidence
    // frame) otherwise
    val sets = own(sets0)
    val (cand, setsSide) =
      if (frameSetBytes(sets) < budget) (cand0, broadcast(sets))
      else {
        val c = own(cand0)
        val ids = c.select(col("doc_a").as("media_id"))
          .union(c.select(col("doc_b").as("media_id"))).distinct()
        val pruned = own(sets.join(ids, Seq("media_id"), "left_semi"))
        if (frameSetBytes(pruned) < budget) (c, broadcast(pruned))
        else { own.drop(pruned); (c, sets) }
      }
    cand
      .join(setsSide.select(col("media_id").as("doc_a"), col("fhs").as("__fha")),
        Seq("doc_a"))
      .join(setsSide.select(col("media_id").as("doc_b"), col("fhs").as("__fhb")),
        Seq("doc_b"))
      .filter(size(array_intersect(col("__fha"), col("__fhb"))) >= minShared)
      .select("doc_a", "doc_b")
  }

  /** THE representative-election rule, once: per hash the `repCap`
    * lowest media ids of a truth-capped evidence frame (row_number so
    * ranking is deterministic — (media_id, fhash48) is distinct). Must
    * only run on [[truthEvidence]] output: the window's per-key row
    * count is then bounded at the truth cap, so a corpus-scale
    * black-frame hash can never concentrate millions of rows on one
    * partition's sort. Shared by the layout writer and the in-batch
    * curation stage so a future tie-break/ordering change cannot make
    * the batch's in-memory reps disagree with the persisted layout's.
    */
  private[graft] def electReps(ev: DataFrame,
      repCap: Int = FRAME_DF_CAP): DataFrame =
    ev.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("fhash48").orderBy("media_id")))
      .filter(col("rk") <= repCap)
      .select("media_id", "fhash48")

  /** readers for [[writeFrameArtifacts]]' layout — multi-path (an index
    * is a set of immutable segments, unioned at read time, the same
    * composition rule as the text LSH index). Empty path list = empty
    * index (day-0 bootstrap).
    */
  private[graft] def readFrameIndexPostings(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyFrame(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("fhash48",
          org.apache.spark.sql.types.LongType))))
    else paths.map(p => spark.read.parquet(s"$p/postings"))
      .reduce(_.unionByName(_))

  private[graft] def readFrameIndexSets(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    if (paths.isEmpty) emptyFrame(spark,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("media_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("fhs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType)))))
    else paths.map(p => spark.read.parquet(s"$p/sets"))
      .reduce(_.unionByName(_))

  private def emptyFrame(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** loud layout gate shared by every frame-index READER path (the
    * r11 ADVICE pattern, marker equality): fails at construction on a
    * missing/stale marker instead of probing a wrong-layout artifact.
    */
  private[graft] def requireFrameIndexLayout(path: String): Unit = {
    val markerPath = java.nio.file.Paths.get(path, FRAME_INDEX_LAYOUT_FILE)
    require(java.nio.file.Files.exists(markerPath) &&
        new String(java.nio.file.Files.readAllBytes(markerPath)) ==
          frameIndexLayoutMarker,
      s"frame index at $path lacks the current layout marker " +
        s"($FRAME_INDEX_LAYOUT_FILE, repcap=$FRAME_DF_CAP, " +
        s"truthcap=$FRAME_TRUTH_DF_CAP, reps+sets v3): rewrite it with " +
        "Multimodal.writeFrameIndex before probing")
  }

  /** Incremental media curation — the frame-hash twin of
    * [[graft.corpus.Corpus.curateIncremental]] (r13 verdict item 3: the
    * text path had the full production loop, media had only a
    * static-index probe that never learned). Evidence rule: the BOUNDED
    * (representative) rule — m6 — since r15; the strict df cap it
    * replaced permanently evicted replica-shared frames of popular
    * content, and m5 measured that under-dedup growing with index size
    * (pair recall 0.955 → 0.075 across the sf ladder) while m7 measured
    * the bounded rule holding 0.89/0.98 at sf1.
    *
    * Pipeline: frame-hash the batch (one codec pass) → collapse exact
    * frame-set duplicates to their min id (uncapped sets, gated at set
    * size ≥ `minShared`) → build the batch's evidence under the
    * boilerplate bound ([[FRAME_TRUTH_DF_CAP]], post-collapse so df
    * counts distinct content) and its per-hash representatives (the
    * [[FRAME_DF_CAP]] lowest ids) → drop media whose truth-capped set
    * intersects an indexed media's set in ≥ `minShared` hashes, where
    * candidates come from batch evidence × index REP postings
    * (per-hash fan-out ≤ cap on the index side — batch×index only, the
    * indexed corpus's payloads are never re-decoded) → drop in-batch
    * losers the same way (candidates from batch reps × batch evidence,
    * ≤ cap·df per hash instead of df²; loser = the higher id, the x18
    * keeper rule) → write the SURVIVORS' evidence as a new immutable
    * reps+sets segment under `appendSegmentPath`, so the next batch's
    * `indexPaths` is this one plus that path. Caps are per-segment
    * (each artifact bounds its own posting lists); a hash hot across
    * MANY segments still fans out at most cap × segments before
    * compaction folds the segments and re-ranks — the same
    * bounded-degradation argument as the text index's per-segment band
    * keys.
    *
    * Returns the surviving batch rows (lazy over `newDocs` and the
    * checkpointed drop set; the batch caches are released once the
    * segment is written); the segment write runs eagerly as the call's
    * side effect.
    */
  def curateMediaIncremental(newDocs: DataFrame, indexPaths: Seq[String],
      appendSegmentPath: String,
      minShared: Int = 2): DataFrame = Caches.scoped { own =>
    val spark = newDocs.sparkSession
    indexPaths.foreach(requireFrameIndexLayout)
    val withChars =
      if (newDocs.columns.contains("n_chars")) newDocs
      else newDocs.withColumn("n_chars", length(col("text")).cast("long"))
    val fh0 = own(frameHashes(
        mediaFromDocuments(spark, withChars, width = 32, height = 2),
        everyN = FRAME_EVERY_N)
      .select("media_id", "fhash48").distinct())
    // collapse-first (r14 review find): media with IDENTICAL uncapped
    // frame-hash sets collapse to their min id BEFORE any df statistic
    // is derived — the x31/x34/m4 pigeonhole discipline at set
    // granularity. Post-collapse, df counts distinct CONTENT (the thing
    // the boilerplate rule means), so a single-batch burst of exact
    // copies collapses to one survivor whose hashes enter the index
    // instead of inflating its own hashes' df. The collapse is gated at
    // size ≥ minShared so a singleton-set pair (one-frame video twins)
    // keeps the pairwise path's minShared contract; grouping is by the
    // exact sorted set (array equality), never a lossy hash of it. One
    // batch-sized shuffle.
    val exactLosers = fh0.groupBy("media_id")
      .agg(sort_array(collect_set(col("fhash48"))).as("fhs_all"))
      .filter(size(col("fhs_all")) >= minShared)
      .withColumn("keep_id", min(col("media_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fhs_all"))))
      .filter(col("media_id") =!= col("keep_id"))
      .select("media_id")
    val fh = own(fh0.join(exactLosers, Seq("media_id"), "left_anti"))
    // batch-scope evidence under the boilerplate bound (post-collapse
    // df, so only hashes shared by > truth-cap distinct CONTENTS are
    // non-evidence) + the batch's per-hash representatives — both via
    // the SAME helpers the layout writer uses, so the in-memory and
    // persisted rules cannot diverge. df is derived once (cached: the
    // evidence filter AND the candidate stage's salt width read it).
    val dfm = own(frameDf(fh))
    val ev = own(truthEvidence(fh, dfm, FRAME_TRUTH_DF_CAP))
    val rep = electReps(ev)
    val sets = own(ev.groupBy("media_id")
      .agg(collect_set("fhash48").as("fhs")))
    // vs the index: batch evidence × index REPRESENTATIVE postings
    // (≤ cap rows per hash on the index side — a popular hash pairs a
    // new arrival with its cluster's lowest-id members, exactly the
    // keeper candidates), then exact set-intersect verify from the
    // PERSISTED sets table (never a per-batch rebuild). Shared evidence
    // through non-rep hashes still counts: the verify intersects FULL
    // truth-capped sets.
    val idxMatches = ev.select(col("media_id").as("new_id"), col("fhash48"))
      .join(readFrameIndexPostings(spark, indexPaths)
        .select(col("media_id").as("index_id"), col("fhash48")), Seq("fhash48"))
      .select("new_id", "index_id").dropDuplicates("new_id", "index_id")
      .join(sets.select(col("media_id").as("new_id"), col("fhs").as("fha")),
        Seq("new_id"))
      .join(readFrameIndexSets(spark, indexPaths)
        .select(col("media_id").as("index_id"), col("fhs").as("fhb")),
        Seq("index_id"))
      .filter(size(array_intersect(col("fha"), col("fhb"))) >= minShared)
      .select(col("new_id").as("media_id")).distinct()
    // within the batch: rep×evidence candidates (≤ cap·df rows per
    // hash, never df² — the m6 fan-out argument; hot hashes salted,
    // see [[repCandidatePairs]]), verified by the same full-set
    // intersect as the index path so the two stages share one evidence
    // contract. Loser = the higher id of a verified pair. Candidate and
    // verify stages are the SHARED helpers the m6/m7 telemetry queries
    // run, so m7's recall/keeper ladder prices exactly this rule.
    val batchLosers =
      verifySetPairs(repCandidatePairs(rep, ev, dfm), sets, minShared, own)
        .select(col("doc_b").as("media_id")).distinct()
    // checkpointed: the two-column drop set is consumed twice — by the
    // segment write below and by the caller's survivors write — and
    // WITHOUT it each consumer re-runs the full index probe (postings +
    // sets parquet scans + both joins), i.e. a per-batch cost riding
    // index size twice in the loop built to keep per-batch cost
    // batch-sized. A checkpoint, not a cache: the returned frame
    // outlives this call's caches.
    val dropIds = exactLosers.union(idxMatches).union(batchLosers).distinct()
      .withColumnRenamed("media_id", "doc_id").localCheckpoint()
    val survivors = newDocs.join(dropIds, Seq("doc_id"), "left_anti")
    // the segment carries the survivors' EVIDENCE (batch-truth-capped:
    // boilerplate the batch already measured stays evicted even if the
    // survivor subset alone would sit under the bound); the writer
    // re-derives reps + sets at segment scope.
    writeFrameArtifacts(
      ev.join(survivors.select(col("doc_id").as("media_id")),
        Seq("media_id")).select("media_id", "fhash48"),
      appendSegmentPath)
    survivors
  }

  /** fold a frame-segment read set into one compacted artifact — the
    * media analog of [[graft.corpus.Corpus.compactSegments]], with one
    * deliberate difference: the union is re-written through the shared
    * layout writer, so reps, sets AND both caps are RE-DERIVED over it.
    * The input is the union of the segments' FULL evidence (the sets
    * tables, exploded — folding the rep postings alone would silently
    * drop every non-representative holder's evidence). Compaction
    * EVICTS hashes that cross the boilerplate bound only ACROSS
    * segments and RE-RANKS representatives globally (per-segment
    * 64-lowest → union 64-lowest), restoring the single-artifact
    * bounds. That makes this compactor content-SHRINKING, not a pure
    * union (a pure union's posting lists would grow without bound over
    * an infinite stream; the re-derivation is the LSM merge policy that
    * keeps every published artifact's posting lists ≤ cap forever —
    * both directions are monotone shrink-only: a global rep was a rep
    * in its own segment, and union df only grows, both pinned in
    * MediaStreamSpec).
    *
    * Replay discipline (r14 self-review find): the segment triad's
    * replay transparency ([[graft.streaming.StreamingOps
    * .segmentReadSet]]) assumes a content-preserving compactor. This
    * one is safe IN-LOOP (a replaying batch's read set excludes cmp
    * ids ≥ its own id, so a replay never probes a cmp that didn't
    * exist on the first attempt) — but an OUT-OF-BAND compaction over
    * cmp-eligible segments BELOW an uncommitted batch's horizon,
    * between a crash and its restart, would hand the replayed batch a
    * shrunken candidate set and silently change its survivors. That
    * precondition is now MECHANICAL, not documentary (r15): this raw
    * fold is `private[graft]` — in-loop use only — and the sole public
    * out-of-band entry, [[graft.streaming.StreamingOps
    * .compactMediaSegmentsOutOfBand]], refuses while the stream's
    * checkpoint shows a started-but-uncommitted batch (MediaStreamSpec
    * pins the refusal).
    *
    * Same fresh-path + stage-then-atomic-rename publish discipline as
    * the text compactor (a crash between the postings and sets writes
    * can never leave a torn artifact at the published path).
    */
  private[graft] def compactFrameSegments(spark: SparkSession,
      paths: Seq[String], outPath: String): Unit = {
    require(paths.nonEmpty, "compactFrameSegments needs at least one segment")
    paths.foreach(requireFrameIndexLayout)
    val outAbs = java.nio.file.Paths.get(outPath).toAbsolutePath.normalize
    paths.foreach { p =>
      val in = java.nio.file.Paths.get(p).toAbsolutePath.normalize
      require(!outAbs.startsWith(in) && !in.startsWith(outAbs),
        s"compactFrameSegments output $outPath overlaps input segment $p")
    }
    val staging = outAbs.resolveSibling("." + outAbs.getFileName + ".staging")
    graft.core.Scratch.deleteTree(staging)
    writeFrameArtifacts(
      readFrameIndexSets(spark, paths)
        .select(col("media_id"), explode(col("fhs")).as("fhash48"))
        .distinct(),
      staging.toString)
    graft.core.Scratch.deleteTree(outAbs)
    java.nio.file.Files.move(staging, outAbs,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** column-level digest/size checks (the oracle-checked slice — see
    * m1_binary_plumbing in [[graft.queries.EventQueries]]).
    */
  def payloadStats(media: DataFrame): DataFrame =
    media.select(
      col("media_id"),
      length(col("payload")).cast("long").as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      col("meta.mime").as("mime"))
}
