package graft

import org.apache.spark.sql.SparkSession

/**
 * Recommended SparkSession wiring for the engine — one place that
 * encodes the deployment-tuning guidance so every entry point (Verify,
 * Bench, user applications) starts from the same defaults:
 *
 *  - session timezone pinned to UTC: the tier layout derives `date`
 *    partitions from `time`, and the oracles/fold math assume UTC —
 *    a drifting host timezone silently shifts partition boundaries;
 *  - `spark.sql.shuffle.partitions` sized to the cluster (≈2-3× total
 *    cores; 32 for the local[32] test rig), NOT the 200 default — at
 *    100 TB the aggregation shuffles dominate and missized partitions
 *    either spill (too few) or drown in task overhead (too many);
 *  - `spark.sql.files.maxPartitionBytes` raised to 256 MB so a 100 TB
 *    scan schedules ~400k input tasks instead of ~800k — scan tasks
 *    are I/O-bound and amortize better at larger splits;
 *  - AQE left ON (Spark default) — it re-plans skewed joins and
 *    coalesces small shuffle partitions at runtime, which is exactly
 *    what the reference's hot-meter traffic profile needs;
 *  - parquet timestamps written as INT64 TIMESTAMP_MICROS, NOT the
 *    INT96 default: INT96 row groups carry NO min/max statistics (the
 *    type is deprecated in parquet and its stats are ignored), so with
 *    the default every pushed time predicate reads every row group and
 *    the store's time-sorted layout buys nothing — footer-verified, a
 *    time-range scan materialized 100 % of rows until this was set;
 *    with INT64 the same scan prunes to the row groups whose [min, max]
 *    intersect the range;
 *  - `InferFiltersFromGenerate` excluded: the rule copies the entire
 *    generator-input expression into an inferred `size(...) > 0` filter
 *    below the explode. For this engine's fan-out transform — a large
 *    conditional candidate-array expression — that evaluates the whole
 *    expression TWICE per input row (measured 2× on the ingest map
 *    stage); explode of an empty array already emits nothing, so the
 *    filter buys nothing on these shapes (neutral on the dedup posting
 *    explodes, measured);
 *  - the engine's custom SQL functions registered, so the raw-SQL
 *    command surface (S7) can reach them immediately;
 *  - the `file://` scheme served by [[store.NioLocalFileSystem]] and
 *    [[store.NioLocalFs]] ([[localFsConf]]): without libhadoop, Hadoop's
 *    stock local file system forks a `chmod` per created file and
 *    directory and a `readlink` per `FileContext` rename, a fixed cost
 *    of every store write, streaming checkpoint and state-store commit.
 *    Hadoop caches FileSystem instances by scheme, not by configuration,
 *    so the first `file://` FileSystem the JVM creates is the one every
 *    later caller gets: a deployment that does not build its session
 *    through this builder must set both keys (`fs.file.impl` and
 *    `fs.AbstractFileSystem.file.impl`, `spark.hadoop.`-prefixed in a
 *    SparkConf) before its first `file://` access;
 *  - `spark.sql.artifact.isolation.enabled` off, a fixed setting: Spark
 *    keys its generated-code cache by (context class loader, source),
 *    and with isolation on each streaming query runs its tasks under a
 *    class loader of its own, so every new query (each
 *    `Service.reconcileIngest` restart included) recompiles every
 *    generated class, its compiler's class lookups going through RPC —
 *    measured, a second identical aggregator query compiled 13 classes
 *    in its first batch, where on one shared class loader it compiles
 *    none (StoreStreamSpec's codegen budget). Isolation only keeps
 *    session artifacts apart, and the engine adds none (no `addArtifact`
 *    or `addJar`); every entry point builds its session through this
 *    builder.
 */
object GraftSession {

  /** The two Hadoop keys that put `file://` on the in-JVM local file
   *  system ([[store.NioLocalFileSystem]] for `FileSystem`,
   *  [[store.NioLocalFs]] for `FileContext`). */
  val localFsConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[store.NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
      classOf[store.NioLocalFs].getName)

  def builder(shufflePartitions: Int = 32,
      maxPartitionBytes: String = "256m"): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet codec, env-parameterised (optimization guide §6): for a
      // 100 TB deployment set SPARK_GRAFT_PARQUET_CODEC=zstd — smaller
      // files at similar read speed, and scans/compaction/erasure
      // rewrites all price by bytes on disk. The LOCAL default stays
      // Spark's own (snappy): repeated A/B on the write-heavy bench
      // entries at sf0.1 put zstd's extra write CPU inside a noisy
      // ±30% band (12.8 s snappy vs 14.2 s zstd on the four heaviest
      // store writers, quiet runs), so baking zstd in would trade
      // cross-round bench comparability for an I/O win this rig's
      // ~15 MB fixtures cannot see. Scale-dependent knob, local-safe
      // default — the round-16 parameterisation contract.
      .config("spark.sql.parquet.compression.codec",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_CODEC", "snappy"))
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // Shuffle-partition count, env-parameterised like the parquet
      // codec (round-16 contract): this one number also pins a streaming
      // query's STATE partition count at its first checkpointed run, so
      // it is the declared deployment knob for the stateful monitors'
      // state layout (VERDICT-r16 ask #4). Local default stays the
      // caller's value (32 / the bench's core count — bench
      // comparability); a 100 TB deployment sizes it to ≈2-3× total
      // cores so per-partition state fits execution memory (guide §2.2,
      // §5) — and must keep it stable across restarts of a checkpointed
      // stream (state partitioning is immutable per checkpoint).
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
          shufflePartitions.toString))
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // state-store maintenance (snapshot/cleanup) fires on a wall-clock
      // timer (default 60 s) — for the short-lived stateful queries this
      // engine runs (micro-batch monitors, bounded fixture streams) a
      // mid-query maintenance pass is pure timing jitter; push it past
      // any single query's lifetime (long-lived production streams can
      // lower it per session)
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      // one executor class loader for every query: see the scaladoc
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .config(localFsConf)

  /** Build (or reuse) the session and register the engine's SQL functions. */
  def getOrCreate(master: String = "", shufflePartitions: Int = 32,
      maxPartitionBytes: String = "256m"): SparkSession = {
    val b = builder(shufflePartitions, maxPartitionBytes)
    val withMaster = if (master.nonEmpty) b.master(master) else b
    val spark = withMaster.getOrCreate()
    functions.Registry.registerAll(spark)
    spark
  }
}
