package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory with the configuration this engine is designed around.
  *
  * Scale posture: these settings are the local[N] analogue of the cluster
  * profile — AQE on (runtime coalescing + skew-join splitting), broadcast
  * threshold left at default (dims in this engine are KB–MB), shuffle
  * partition count sized to the active parallelism instead of the 200
  * default (at 100 TB this is instead set ~2–3× total executor cores, and
  * AQE coalesces down per-stage).
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** the one session profile — Verify/Bench/CLI/tests all build here so
    * config can't drift between surfaces.
    */
  def local(appName: String = "graft", parallelism: String = cpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", parallelism)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing floor (measured): the default 1 MB floor
      // coalesces KB-sized-but-COMPUTE-heavy exchanges to one task — at
      // sf0.1 the x2 verify stages (1.3 MB of candidate rows carrying
      // seconds of array-intersect work) ran 1-task, serializing 31 of
      // 32 cores; the same input-bytes-vs-work mismatch m6's measured
      // exchange sizing closed (a stage's bytes are not its cost). 64 KB
      // only binds when a stage's total bytes are below cores × 1 MB —
      // at cluster scale such stages are report tails either way, while
      // parallelismFirst (default true) still targets the session
      // parallelism and advisoryPartitionSizeInBytes governs all real
      // volumes, so large-scale behavior is unchanged.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Reference parity: pandas coerces bad casts to NaN and divides by
      // zero to inf/NaN instead of raising (SURVEY §7.4) — ANSI off gives
      // null-on-error cast/arith, matching `errors="coerce"` semantics.
      .config("spark.sql.ansi.enabled", "false")
      // The driver testdata's events.parquet ts encoding has drifted across
      // rounds: TIMESTAMP(NANOS) → µs LTZ → µs isAdjustedToUTC=false. Read
      // nanos as long and convert (Tables.normalizeEventTs), and disable NTZ
      // inference so µs/isAdjustedToUTC=false reads as TimestampType (session
      // TZ is UTC, so instants are identical either way).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // streaming state posture for the 100 TB story: RocksDB keeps
      // operator state (dedup sets, windows, sessions, join buffers)
      // off-heap and spillable instead of on the executor heap, with
      // changelog checkpointing so commits upload deltas, not full
      // snapshots. Harmless for batch-only sessions.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined" warning: audited — every
    // unpartitioned window in this repo is report- or dimension-sized by
    // construction (StarSchema / j5 / w1 bounded dims, t-family
    // alphabet²-sized aggregates, per-day report tails), so the flood of
    // known-benign repeats was drowning the one signal that would matter
    // (an unpartitioned window over a corpus-sized frame). Silenced at
    // the logger; new windows are guarded by review + `Profile plan` instead
    // of log noise.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
