package graft.store

import java.time.Instant

import graft.model.Tier
import graft.query.TierPolicy
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Tiered columnar store — the engine's storage layer, replacing the
 * reference's InfluxDB databases + retention policies
 * (reference: src/integration/tsdb/storage/influxdb_v1.go:271-413,
 * storage/ds.go:11-29).
 *
 * Layout: `<root>/tier=<tier>/measurement=<m>/date=<d>/` parquet — one
 * partitioned dataset whose first partition column is the tier. At 100 TB
 * this gives:
 *  - partition pruning for measurement-equality + time-range queries
 *    (every reference query has both);
 *  - retention expiry = dropping whole date partitions, no rewrite;
 *  - append-only micro-batches (the reference's batched writes,
 *    process.go:366-428) land as new files without touching old ones;
 *  - tier-routed ingest is ONE `partitionBy("tier", ...)` write — the
 *    upstream micro-batch plan executes exactly once, mirroring the
 *    reference's single-pass batch writer (process.go:366-428), instead
 *    of once per tier.
 */
/** A registered continuous query: every maintenance pass downsamples
 *  `src` → `target` at `resolutionMinutes` (the reference's AddCQ
 *  surface, ds.go:23; CREATE CONTINUOUS QUERY influxdb_v1.go:333-354). */
final case class ContinuousQuery(name: String, src: String, target: String,
    resolutionMinutes: Long)

final class TierStore(spark: SparkSession, val root: String) {

  private def path(tier: String) = s"$root/tier=$tier"

  /** Physical tier directory (used by the rollup maintenance job). */
  def tierPath(tier: String): String = path(tier)

  // All directory manipulation goes through the Hadoop FileSystem API so
  // the store works unchanged on HDFS/S3A/GCS — the 100 TB deployment
  // target — as well as file:// in tests. Partition-drop semantics are
  // identical to a local-FS walk.
  import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
  private def fs: FileSystem =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def exists(p: String): Boolean = fs.exists(new HPath(p))
  private def rmTree(p: String): Unit = {
    val hp = new HPath(p)
    if (fs.exists(hp)) fs.delete(hp, true)
  }
  private def subDirs(p: String): Seq[HPath] = {
    val hp = new HPath(p)
    if (!fs.exists(hp)) Nil
    else fs.listStatus(hp).filter(_.isDirectory).map(_.getPath).toSeq
  }

  /** Serializes the maintenance passes (compact / replace / erase /
   *  vacuum) within this JVM — the common deployment runs them and the
   *  command API from one driver. Across processes the single-writer
   *  maintenance contract still applies (documented per method). */
  private val maintenanceLock = new Object

  /** Remove a directory ONLY if empty — `delete(recursive = false)`
   *  fails on a non-empty dir, so a concurrent append that landed a
   *  file between our listing and this call survives (an rmTree here
   *  would silently destroy a committed racing batch). */
  private def removeIfEmpty(dir: HPath): Unit =
    try fs.delete(dir, false)
    catch { case _: java.io.IOException => () } // became live again: keep

  /** Prune measurement dirs that hold no partitions — non-recursively,
   *  so one that concurrently received a fresh date partition stays. */
  private def pruneEmptyMeasurementDirs(tierPath: String): Unit =
    subDirs(tierPath).filter(_.getName.startsWith("measurement="))
      .foreach(removeIfEmpty)

  /** Drop one date partition across every measurement of a tier (used by
   *  rollup maintenance to replace a recent window incrementally). */
  def dropDatePartition(tier: Tier, date: String): Unit =
    subDirs(path(tier.name))
      .filter(_.getName.startsWith("measurement="))
      .foreach(m => rmTree(s"$m/date=$date"))

  /** Test seam for the publish race/crash specs: invoked between the
   *  bulk phases of a partition publish ("staged", "swapped") and, per
   *  partition, between a snapshot's rename and its commit ("renamed"). */
  private[graft] val defaultPublishHook: String => Unit = _ => ()
  private[graft] var publishHook: String => Unit = defaultPublishHook

  /** Run independent per-partition publish/vacuum actions on the
   *  store's [[Listing]] pool: each acts on its OWN partition directory
   *  (disjoint FS state, Hadoop FileSystem handles are thread-safe),
   *  and a maintenance window at 100 TB spans thousands of partitions —
   *  a sequential loop of per-partition metadata round trips is a pure
   *  driver bottleneck. Result order matches input order. Runs SERIAL
   *  whenever a test hook is installed, so crash seams keep firing
   *  deterministically. */
  private def perPartition[A, B](items: Seq[A])(f: A => B): Seq[B] =
    if (publishHook ne defaultPublishHook) items.map(f)
    else Listing.inParallel(items)(f)

  /**
   * Publish `staged` as the next [[SnapshotFold]] snapshot of `part`,
   * superseding `live` — the partition's currently-live files, raw
   * appends and `_v=` members alike, so the manifest lists everything
   * the new snapshot replaces. The move into `_v=N` is INVISIBLE to
   * readers (underscore-prefixed, uncommitted), so it may be a slow
   * object-store copy+delete without opening any window; the commit is
   * the atomic appearance of the `_commit_N` manifest. Readers resolve
   * at plan time, so they see the old complete partition or the new
   * complete one — never a partial partition, on ANY FileSystem
   * contract. A `staged` dir that does not exist commits an EMPTY
   * snapshot (a retired or fully-erased partition). The caller vacuums
   * AFTER all commits of the maintenance pass.
   */
  private def publishPartition(part: HPath, staged: HPath,
      live: Seq[FileStatus]): Unit = {
    fs.mkdirs(part)
    fs.mkdirs(staged) // no-op when staged; else the empty snapshot
    val plan = SnapshotFold.planVersion(fs, part, live)
    SnapshotFold.publish(fs, part, plan.version, staged, plan.foldedRels,
      phases = (p, _) => if (p == "staged") publishHook("renamed"))
  }

  /** A retired partition (vacuumed down to an EMPTY snapshot, no raw
   *  data) is logically gone: drop OUR metadata — the snapshot dirs and
   *  markers the vacuum left (`meta`), the floor record — then the dir
   *  itself only-if-empty, so a concurrent append landing in the window
   *  keeps it alive and resolves as plain raw data (see removeIfEmpty). */
  private def dropRetired(part: HPath, meta: Seq[HPath]): Unit = {
    meta.foreach(fs.delete(_, true))
    fs.delete(SnapshotFold.floorFile(part), false)
    removeIfEmpty(part)
  }

  /** Predicate admitting exactly the given (measurement, date)
   *  partitions: ONE `isin` over a `date/measurement` key (the
   *  fixed-width date first keeps the key unambiguous for any
   *  measurement name), which [[TierFileIndex]] evaluates as a
   *  partition filter, so the scan prunes to these partitions. A
   *  per-partition `||` chain recursed once per link in Spark's tree
   *  walks and overflowed the stack at about 2000 partitions. */
  private def inPartitions(parts: Seq[(String, String)]): Column =
    concat(col("date").cast("string"), lit("/"), col("measurement"))
      .isin(parts.map { case (m, d) => s"$d/$m" }: _*)

  /** Append points into a tier (S3 batch write sink; process.go:290-337).
   *  Plain batch appends COMMIT THROUGH THE LEDGER too (writer
   *  namespace "batch", ids allocated from the ledger itself): the
   *  append lands via the same staged protocol as
   *  [[writeRoutedBatch]], so every row this store writes has a ledger
   *  commit record and [[readAsOf]] never falls back to data-file
   *  mtime for the store's own writes (the mtime arm now serves only
   *  FOREIGN files dropped into partition dirs by external tools).
   *  Plain writes are serialized per store instance — the ledger's
   *  as-of attestation rests on per-writer commit-order monotonicity —
   *  and a failed write never leaves a partial batch visible. */
  def write(tier: Tier, points: DataFrame): Unit =
    plainWriteLock.synchronized {
      writeBatchWith(points, nextPlainBatchId(), lit(tier.name), PlainWriter): Unit
    }

  /** Route each point to its write tier (mapping.go:146-168) and append.
   *  The classifier runs as a plan column (TierPolicy.writeTierCol), and the
   *  routed append is a SINGLE write with `tier` as the leading partition
   *  column — the input plan (the whole filter→enrich→transform chain in
   *  the streaming path) executes exactly once per micro-batch, never once
   *  per tier. Tiers that receive no rows simply get no directories.
   *  Ledger-committed like [[write]]. */
  def writeRouted(points: DataFrame, profile: String = Tier.ProfileOptimized): Unit =
    plainWriteLock.synchronized {
      writeBatchWith(points, nextPlainBatchId(),
        TierPolicy.writeTierCol(col("measurement"), profile), PlainWriter): Unit
    }

  /** Serializes plain (non-streaming) writes so the "batch" writer's
   *  ledger ids COMMIT in allocation order — the monotonicity the as-of
   *  attestation needs. Separate from `maintenanceLock` so ingest never
   *  waits behind a long compaction. */
  private val plainWriteLock = new Object
  private val PlainWriter = "batch"

  /** Next unused ledger id for the plain-write namespace (max existing
   *  marker/watermark id + 1). Caller must hold `plainWriteLock`. */
  private def nextPlainBatchId(): Long = {
    val d = BatchLedger.dir(new HPath(root))
    if (!fs.exists(d)) return 0L
    fs.listStatus(d).toSeq.flatMap(e => BatchLedger.entryPos(e.getPath.getName))
      .collect { case (PlainWriter, n) => n }
      .maxOption.map(_ + 1L).getOrElse(0L)
  }

  /** Test seam for the exactly-once replay spec: invoked between the
   *  phases of a batch append ("staged", "manifested", "moved"). */
  private[graft] var batchHook: String => Unit = _ => ()

  /**
   * EXACTLY-ONCE routed append for streaming micro-batches. Structured
   * Streaming's checkpoint gives at-least-once through `foreachBatch`:
   * after a crash between the sink write and the offset commit, the
   * last batch REPLAYS. This append commits through
   * [[StagedBatchAppend.append]] under `writer`'s ledger namespace, so
   * the replay is a no-op: the routed write is staged invisibly, its
   * files move to batch-tagged names in their (tier, measurement, date)
   * partitions, and one ledger marker commits them. Readers never see a
   * partial batch ([[SnapshotFold.resolve]] gates batch-tagged names
   * on the ledger); maintenance folds only what that resolution returns,
   * so it never folds or vacuums an uncommitted one. Returns false when
   * the batch was already committed.
   *
   * NOTE the file-source tail boundary: `streamingHop` tails the tier
   * directory with a PLAIN listing and so may read a batch before its
   * marker lands (at-least-once there, as its scaladoc documents). The
   * DETERMINISTIC destination names (the repartition puts each (tier,
   * measurement, date) in one task) keep that tail from double-counting
   * a replayed batch: the rewrite lands on names its processed-files
   * log already holds.
   */
  def writeRoutedBatch(points: DataFrame, batchId: Long,
      profile: String = Tier.ProfileOptimized,
      writer: String = "ingest"): Boolean =
    writeBatchWith(points, batchId,
      TierPolicy.writeTierCol(col("measurement"), profile), writer)

  /** The staged ledger-committed append, parameterized on the tier
   *  routing column — [[writeRoutedBatch]] passes the policy
   *  classifier, the plain [[write]] a pinned literal. Rows are sorted
   *  by time within each written file so parquet row-group statistics
   *  are tight for the planner's pushed-down time predicates. */
  private def writeBatchWith(points: DataFrame, batchId: Long,
      tierCol: Column, writer: String): Boolean =
    StagedBatchAppend.append(spark, root, writer, batchId,
        phases = p => batchHook(p)) { staging =>
      points
        .withColumn("tier", tierCol)
        .withColumn("date", to_date(col("time")))
        .repartition(col("tier"), col("measurement"), col("date"))
        .sortWithinPartitions(col("tier"), col("measurement"), col("date"), col("time"))
        .write.partitionBy("tier", "measurement", "date")
        .parquet(staging)
    }

  /** Fold old batch markers of `writer` into its ledger watermark
   *  ([[BatchLedger.foldMarkers]]: contiguous committed ids collapse,
   *  gaps stay explicit) so the ledger listing stays O(recent batches)
   *  over an unbounded stream. */
  def vacuumBatchMarkers(writer: String): Unit =
    StagedBatchAppend.foldMarkers(spark, root, writer)

  /** Fold markers for EVERY writer present in the ledger — maintenance
   *  doesn't need to know the set of streams that ever appended (each
   *  streaming query gets its own ledger namespace via
   *  [[graft.ingest.IngestPipeline.writerId]]). */
  def vacuumBatchMarkers(): Unit =
    StagedBatchAppend.foldAllMarkers(spark, root)

  /**
   * Read a tier table (empty DataFrame with points schema if absent or
   * fully expired — an empty partition tree has no schema to infer).
   *
   * Reads go through [[TierFileIndex]]: each (measurement, date)
   * partition resolves through [[SnapshotFold.resolve]] (its committed
   * snapshot plus the appends no commit folded) AT PLAN TIME, so a
   * query holds one coherent snapshot per partition for its whole
   * lifetime even while a compaction publishes underneath it. Still ONE
   * FileSourceScan node — measurement/date partition pruning is
   * evaluated inside the index, before pruned partitions are listed.
   */
  def read(tier: Tier): DataFrame =
    indexedRead(new TierFileIndex(spark, new HPath(path(tier.name))))
      .getOrElse(emptyPoints)

  /**
   * LISTING-SLICED read: like [[read]], but partitions outside the
   * given measurement / inclusive date window are pruned BY NAME before
   * their directory is ever listed or their manifest read. [[read]]'s
   * plan-time pruning already keeps pruned partitions' FILES out of the
   * scan; this keeps their LISTINGS out of planning — at 100 TB
   * (~10⁵ partitions) a 1-hour query lists one or two date directories
   * instead of paying one listStatus per partition of the tier. Derive
   * the window with [[graft.query.Planner.dateWindow]] (the same
   * arithmetic as the scan's partition-filter predicate). `asOf` pins
   * the sliced read exactly like [[readAsOf]].
   */
  def readSlice(tier: Tier, measurement: Option[String],
      fromDate: Option[String], toDate: Option[String],
      asOf: Option[AsOfPin] = None): DataFrame =
    indexedRead(new TierFileIndex(spark, new HPath(path(tier.name)), asOf,
      Some(TierFileIndex.Slice(measurement, fromDate, toDate))))
      .getOrElse(emptyPoints)

  /**
   * TIME-TRAVEL read: the tier as it was when `pin` was captured
   * ([[pinNow]]) — the snapshot each partition had committed by then
   * plus the appends committed by then. The reproducibility contract a
   * training run needs: take `pinNow()` when the run starts and every
   * re-read of its corpus resolves the identical file set, regardless of
   * compactions, rollup maintenance, or later appends. Requires history
   * to still be on disk: run maintenance with `retainHistory = true` and
   * reclaim space explicitly with [[vacuumTier]] once no run needs the
   * old snapshots (the standard commit/vacuum separation — vacuuming
   * bounds how far back reads can travel, and a pin past it fails with
   * IllegalStateException instead of resolving partially).
   *
   * Pin contract: the pin is a LOGICAL position in the store's own
   * commit sequences ([[AsOfPin]] — per-writer ledger batch ids,
   * per-partition snapshot versions), and resolution compares positions
   * only: EVERY append this store makes — streaming micro-batches
   * ([[writeRoutedBatch]]) AND plain [[write]]/[[writeRouted]] calls —
   * is admitted by its batch id against the pin's per-writer position
   * ([[BatchLedger.read]]), every snapshot by its version against the
   * pin's per-partition position. No file time appears in any
   * comparison, so the read is exact on second-granularity,
   * server-assigned, rename-refreshed object-store mtimes — two commits
   * inside one clock tick still pin distinctly, and a rename-by-copy
   * restage that re-dates the data files moves nothing. Only FOREIGN
   * files an external tool dropped directly into a partition directory
   * have no commit record; they alone are admitted by the pin's
   * capture-time mtime, with the usual mtime caveats.
   */
  def readAsOf(tier: Tier, pin: AsOfPin): DataFrame =
    indexedRead(new TierFileIndex(spark, new HPath(path(tier.name)),
      Some(pin))).getOrElse(emptyPoints)

  /**
   * A LOGICAL as-of pin: the store's current position in each of its
   * monotonic commit sequences — per-writer committed batch ids (the
   * [[BatchLedger]]) and per-partition committed snapshot versions
   * (the `_commit_N` markers) — exactly the records [[readAsOf]]
   * resolution consults. Snapshot CONTENTS (`_v=N/` dirs, where the
   * bulk of a compacted store's files live) are deliberately NOT
   * walked: resolution admits a whole snapshot by its committed
   * version, never by its members, so the walk is one listing per
   * partition — the same metadata cost a read's planning pays,
   * independent of how many files compaction has accumulated inside
   * snapshots. `readAsOf(pinNow())` always equals the current read and
   * later commits stay invisible regardless of clock granularity or
   * drift — mtimes ride along only as the pin's display instant and
   * the admission fallback for FOREIGN plain files (everything this
   * store writes itself is ledgered or versioned). Take it between
   * ingest jobs for an exact boundary (a commit in flight lands on
   * whichever side its ledger marker does, the standard snapshot-pin
   * contract).
   */
  def pinNow(): AsOfPin = {
    val rootP = new HPath(root)
    if (!exists(root)) return AsOfPin(Map.empty, Map.empty, 0L)
    // level-parallel partition discovery on the shared bounded listing
    // pool — same fan-out shape as query planning (TierFileIndex.list)
    def level(dirs: Seq[HPath], prefix: String): Seq[HPath] =
      graft.store.Listing.listMany(fs, dirs).flatten.collect {
        case e if e.isDirectory && e.getPath.getName.startsWith(prefix) =>
          e.getPath
      }
    val partDirs =
      level(level(level(Seq(rootP), "tier="), "measurement="), "date=")
    AsOfPin.capture(fs, rootP, partDirs)
  }

  /**
   * CORPUS DIFF between two [[readAsOf]] pins: every row present at
   * `toMillis` but not at `fromMillis` (`change = "added"`) and vice
   * versa (`"removed"`), with row multiplicity respected (exceptAll) —
   * the audit that answers "what exactly changed between the corpus my
   * last run trained on and today's": late appends, maintenance
   * rewrites, erasures. Requires the older pin's history to still be on
   * disk (retainHistory + no intervening [[vacuumTier]] — the same
   * contract as any as-of read).
   *
   * Scale shape: two pinned partition-pruned scans and one hash
   * anti-join per direction on the row hash — no global sort, no
   * window. Catalyst pushes caller filters (measurement, date) into
   * BOTH legs of each Except, so a scoped diff prunes like a scoped
   * read; diffing two pins of a 100 TB tier without a predicate is a
   * full-tier comparison and costs one, deliberately.
   */
  def diffAsOf(tier: Tier, fromPin: AsOfPin, toPin: AsOfPin): DataFrame = {
    val before = readAsOf(tier, fromPin)
    val after = readAsOf(tier, toPin)
    // align on the SHARED columns in a stable order: a pin that predates
    // the tier resolves to the canonical empty points frame, whose
    // column set can differ from the live store's footer schema
    val cols = before.columns.toSeq.filter(after.columns.contains)
    require(cols.nonEmpty, "diffAsOf: pins share no columns")
    val a = after.select(cols.map(col): _*)
    val b = before.select(cols.map(col): _*)
    a.exceptAll(b).withColumn("change", lit("added"))
      .unionAll(b.exceptAll(a).withColumn("change", lit("removed")))
  }

  private def emptyPoints: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.model.Schemas.points.add("date", org.apache.spark.sql.types.DateType))

  /** DataFrame over one ALREADY-CONSTRUCTED index — compaction passes
   *  the index whose pinned resolution it captured, so its staging scan
   *  reads exactly the files its commit will record as folded. */
  private def indexedRead(index: TierFileIndex): Option[DataFrame] =
    index.firstFile.map { f =>
      // data schema from one footer (driver-only read); partition
      // columns come from the index, appended last — same shape the
      // previous hive-style discovery produced
      val dataSchema = spark.read.parquet(f.toString).schema
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        index, index.partitionSchema, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(relation)
    }

  /** SHOW MEASUREMENTS (S8; influxdb_v1.go:376-394) — partition listing,
   *  no data scan. */
  def measurements(tier: Tier): Seq[String] =
    subDirs(path(tier.name)).map(_.getName)
      .filter(_.startsWith("measurement=")).map(_.stripPrefix("measurement=")).sorted

  // --- InfluxQL catalog statements beyond SHOW MEASUREMENTS — the
  // dashboard-compat surface (Grafana's InfluxDB datasource issues
  // these for template variables against the reference's InfluxDB;
  // SURVEY §3.2's raw passthrough is how they reach the engine). The
  // tag/field split mirrors the reference's point assembly: tags are
  // the identity strings (getDefaultTags, transform.go:353-369 — topic,
  // location_id, dev_id, dev_type, + dir/service/src and our
  // series_id/agg_func), fields are the value payload + unit
  // (transform.go:127 `{"value": ..., "unit": ...}`). ---

  /** Column names that are InfluxDB FIELDS in the canonical points
   *  shape; everything else (except measurement/time and the storage
   *  partitions) is a tag. */
  private val FieldCols = Seq("value", "value_bool", "value_str", "unit", "fields_json")
  private val NonSeriesCols = Set("measurement", "time", "date", "tier")

  /** The store's schema for catalog purposes: the first tier holding any
   *  measurement partitions (one canonical schema per store; an empty
   *  tier would answer with the canonical 16-column shape instead of
   *  what this store actually writes), else the canonical shape. */
  private def catalogSchema: org.apache.spark.sql.types.StructType =
    retentionPolicies.find(measurements(_).nonEmpty)
      .map(t => read(t).schema).getOrElse(emptyPoints.schema)

  /** The catalog schema scoped to a measurement when FROM names one:
   *  derived from that measurement's OWN partition directory (footer
   *  reads only, no data scan), so stores whose measurements carry
   *  different columns answer correct per-measurement keys; an unknown
   *  measurement answers through the store-wide schema (and the callers'
   *  measurement cross-product yields nothing for it). */
  private def catalogSchema(
      measurement: Option[String]): org.apache.spark.sql.types.StructType =
    measurement.flatMap { m =>
      populatedTiers.find(measurements(_).contains(m)).map { t =>
        spark.read.parquet(s"${path(t.name)}/measurement=$m").schema
      }
    }.getOrElse(catalogSchema)

  /** Tiers that hold any data — the catalog scans skip the rest. */
  private def populatedTiers: Seq[Tier] =
    retentionPolicies.filter(measurements(_).nonEmpty)

  private def tagCols(schema: org.apache.spark.sql.types.StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType &&
        !NonSeriesCols(f.name) && !FieldCols.contains(f.name) => f.name
    }.toSeq.sorted

  /** SHOW TAG KEYS [FROM m] → (measurement, tag_key). Schema-derived —
   *  a listing plus one schema read, no data scan. */
  def tagKeys(measurement: Option[String]): DataFrame = {
    import spark.implicits._
    // FROM an unknown measurement answers EMPTY (the InfluxDB contract),
    // like tagValues does for an unknown key
    val ms = measurement
      .map(m => Seq(m).filter(x => populatedTiers.exists(measurements(_).contains(x))))
      .getOrElse(retentionPolicies.flatMap(measurements).distinct.sorted)
    ms.flatMap(m => tagCols(catalogSchema(Some(m))).map(k => (m, k)))
      .toDF("measurement", "tag_key")
  }

  /** Gated read of ONE measurement with ITS OWN data schema (footer
   *  from that measurement's resolved files, ledger/snapshot gating
   *  identical to [[read]]) — so stores whose measurements carry
   *  different columns answer per-measurement catalog DATA, not just
   *  keys; None when the measurement resolves no files in this tier. */
  private def measurementRead(tier: Tier, m: String): Option[DataFrame] = {
    val index = new TierFileIndex(spark, new HPath(path(tier.name)),
      slice = Some(TierFileIndex.Slice(Some(m), None, None)))
    val parts = index.resolvedPartitions.filter(_._1 == m).map {
      case (_, d, _, files) =>
        (org.apache.spark.sql.catalyst.InternalRow(
          org.apache.spark.unsafe.types.UTF8String.fromString(m),
          java.time.LocalDate.parse(d).toEpochDay.toInt), files)
    }
    SnapshotFold.dataFrame(spark,
      new org.apache.spark.sql.types.StructType()
        .add("measurement", org.apache.spark.sql.types.StringType)
        .add("date", org.apache.spark.sql.types.DateType),
      parts, Seq(new HPath(path(tier.name))))
  }

  /** SHOW TAG VALUES [FROM m] WITH KEY = k → (key, value). A
   *  column-pruned distinct over the partition-pruned scan — at scale
   *  this reads one column of one measurement's partitions (and with
   *  FROM, through that measurement's OWN schema). */
  def tagValues(measurement: Option[String], key: String): DataFrame = {
    // an unknown (or field-typed) key answers EMPTY, not an error — the
    // InfluxDB contract a ported dashboard's template variables rely on
    // (schema drift must leave the dropdown empty, not break the panel)
    val frames =
      if (!tagCols(catalogSchema(measurement)).contains(key)) Nil
      else measurement match {
        case Some(m) =>
          populatedTiers.filter(measurements(_).contains(m))
            .flatMap(measurementRead(_, m))
            .filter(_.columns.contains(key))
            .map(_.select(col(key).cast("string").as("value")))
        case None =>
          populatedTiers.map(read).filter(_.columns.contains(key))
            .map(_.select(col(key).cast("string").as("value")))
      }
    val values =
      if (frames.isEmpty) emptyPoints.select(lit("").as("value")).limit(0)
      else frames.reduce(_ unionAll _)
    values.filter(col("value").isNotNull && col("value") =!= "")
      .distinct().select(lit(key).as("key"), col("value")).orderBy("value")
  }

  /** SHOW FIELD KEYS [FROM m] → (field_key, field_type) with InfluxDB
   *  type names. Schema-derived (per-measurement when FROM names one;
   *  unknown measurement answers empty), no data scan. Beyond the
   *  canonical field columns, any non-reserved NON-STRING column is a
   *  field too (InfluxDB's rule: tags are strings, fields are typed
   *  values) — the shape `SELECT ... INTO` writes for a multi-item
   *  source, one field column per item. */
  def fieldKeys(measurement: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    if (measurement.exists(m => !populatedTiers.exists(measurements(_).contains(m))))
      return Seq.empty[(String, String)].toDF("field_key", "field_type")
    val schema = catalogSchema(measurement)
    val extras = schema.fields.filter(f =>
      !NonSeriesCols(f.name) && !FieldCols.contains(f.name) &&
        f.dataType != StringType).sortBy(_.name)
    (FieldCols.flatMap(f => schema.fields.find(_.name == f)) ++ extras).map { f =>
      val t = f.dataType match {
        case DoubleType | FloatType => "float"
        case LongType | IntegerType => "integer"
        case BooleanType => "boolean"
        case _ => "string"
      }
      (f.name, t)
    }.toDF("field_key", "field_type")
  }

  /** SHOW SERIES [FROM m] → (key): `m,k1=v1,k2=v2` with tag keys in
   *  sorted order and empty/null tags omitted (the InfluxDB rendering).
   *  A distinct over the tag columns — series-cardinality-sized output,
   *  partition-pruned under FROM. */
  def seriesKeys(measurement: Option[String]): DataFrame = {
    def render(df: DataFrame): DataFrame = {
      val parts = tagCols(df.schema).map { k =>
        when(col(k).isNotNull && col(k) =!= "",
          concat(lit(s",$k="), col(k))).otherwise(lit(""))
      }
      df.select(concat(col("measurement") +: parts: _*).as("key"))
    }
    val rendered = measurement match {
      case Some(m) => // that measurement's own schema + pruned files
        populatedTiers.filter(measurements(_).contains(m))
          .flatMap(measurementRead(_, m)).map(render)
      case None => populatedTiers.map(read).map(render)
    }
    if (rendered.isEmpty) emptyPoints.select(lit("").as("key")).limit(0)
    else rendered.reduce(_ unionAll _).distinct().orderBy("key")
  }

  /** SHOW DATABASES → the store itself (the FROM-clause db part the
   *  shim accepts and ignores resolves here). */
  def databaseName: String = {
    val p = new HPath(root)
    Option(p.getName).filter(_.nonEmpty).getOrElse(p.toString)
  }

  // user-defined retention policies (S9 add/update/delete RP,
  // influxdb_v1.go:300-331); the built-in gen_* hierarchy is fixed.
  // DURABLE: the reference keeps RPs and CQs in InfluxDB's metadata, so
  // they survive process restarts — here they persist as tab-separated
  // registry files under <root>/_meta/ (staged-write + rename, the
  // small-file publish primitive used everywhere in this store) and are
  // loaded when a TierStore attaches to the root.
  private val customTiers = scala.collection.mutable.LinkedHashMap.empty[String, Tier]

  private def metaFile(name: String) = new HPath(root, s"_meta/$name")
  private def writeMeta(name: String, lines: Seq[String]): Unit = {
    val p = metaFile(name)
    fs.mkdirs(p.getParent)
    val staged = new HPath(p.getParent, s".${name}_staging")
    val out = fs.create(staged, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    require(fs.rename(staged, p), s"registry publish failed: $p")
  }
  private def readMeta(name: String): Seq[String] = {
    val p = metaFile(name)
    if (!fs.exists(p)) return Nil
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.linesIterator.filter(_.nonEmpty).toSeq
  }
  private def persistTiers(): Unit = writeMeta("retention.tsv",
    customTiers.values.toSeq.map(t => s"${t.name}\t${t.retention}\t${t.resolution}"))
  private def persistCqs(): Unit = writeMeta("cqs.tsv",
    customCqsM.values.toSeq.map(c =>
      s"${c.name}\t${c.src}\t${c.target}\t${c.resolutionMinutes}"))

  /** SHOW RETENTION POLICIES (S8; influxdb_v1.go:396-413). */
  def retentionPolicies: Seq[Tier] = Tier.all ++ customTiers.values

  /** CREATE RETENTION POLICY (S9; influxdb_v1.go:300-309). */
  def addRetentionPolicy(tier: Tier): Unit = {
    customTiers(tier.name) = tier
    persistTiers()
  }

  /** ALTER RETENTION POLICY (S9; influxdb_v1.go:311-320). */
  def updateRetentionPolicy(tier: Tier): Unit = {
    customTiers(tier.name) = tier
    persistTiers()
  }

  /** DROP RETENTION POLICY (S9; influxdb_v1.go:322-331): unregister and
   *  delete the tier's data directory. */
  def deleteRetentionPolicy(name: String): Unit = {
    customTiers.remove(name)
    persistTiers()
    rmTree(path(name))
  }

  def tierByName(name: String): Option[Tier] = retentionPolicies.find(_.name == name)

  // user-registered continuous queries (the reference's AddCQ/DeleteCQ —
  // the storage interface ds.go:23-24, CREATE CONTINUOUS QUERY templates
  // influxdb_v1.go:333-354, deletable via cmd.tsdb.delete_object type
  // "cq", admin.go:364): each registered CQ downsamples src → target at
  // its own resolution on every maintenance pass, exactly like the
  // built-in cascade hops — how a deployment adds e.g. a 5-minute tier
  // beside the fixed gen_* hierarchy
  private val customCqsM =
    scala.collection.mutable.LinkedHashMap.empty[String, ContinuousQuery]

  /** Register a continuous query (AddCQ). Both retention policies must
   *  exist at registration (the reference lets InfluxDB fail later; we
   *  refuse up front) and the resolution must parse to whole minutes. */
  def addCq(name: String, srcRetentionPolicy: String,
      targetRetentionPolicy: String, every: String): Unit = {
    val res = graft.query.TierPolicy.relativeToMinutes(every)
    require(res > 0, s"unparseable CQ resolution: '$every' (use e.g. 5m, 1h)")
    // maintenance recomputes whole DATE windows; a resolution that does
    // not divide a day would give buckets spanning midnight, splitting a
    // bucket's rows across two per-date recomputes (the built-in cascade
    // resolutions all divide a day for the same reason)
    require(86400 % (res * 60) == 0,
      s"CQ resolution must divide a day: '$every' ($res min) does not")
    require(tierByName(srcRetentionPolicy).isDefined,
      s"unknown source retention policy: $srcRetentionPolicy")
    require(tierByName(targetRetentionPolicy).isDefined,
      s"unknown target retention policy: $targetRetentionPolicy")
    require(srcRetentionPolicy != targetRetentionPolicy,
      "a CQ cannot target its own source")
    customCqsM(name) =
      ContinuousQuery(name, srcRetentionPolicy, targetRetentionPolicy, res)
    persistCqs()
  }

  /** DROP CONTINUOUS QUERY (DeleteCQ, influxdb_v1.go:356-365). */
  def deleteCq(name: String): Unit = {
    customCqsM.remove(name)
    persistCqs()
  }

  /** The registered CQs, in registration order (maintenance runs them
   *  after the built-in cascade, so a CQ chained off a rollup tier sees
   *  that tier already refreshed). */
  def continuousQueries: Seq[ContinuousQuery] = customCqsM.values.toSeq

  // attach-time registry load: a restarted process (or a second reader
  // of the same root) sees the durable RP/CQ registrations
  locally {
    readMeta("retention.tsv").foreach { l =>
      l.split('\t') match {
        case Array(n, ret, res) => customTiers(n) = Tier(n, ret, res)
        case _ => ()
      }
    }
    readMeta("cqs.tsv").foreach { l =>
      l.split('\t') match {
        case Array(n, s, t, res) =>
          res.toLongOption.foreach(r => customCqsM(n) = ContinuousQuery(n, s, t, r))
        case _ => ()
      }
    }
  }

  /** CREATE DATABASE (S9; influxdb_v1.go:271-283 InitDB): materialize the
   *  tier directory skeleton. */
  def init(): Unit =
    Tier.all.foreach(t => fs.mkdirs(new org.apache.hadoop.fs.Path(path(t.name))))

  /** DROP DATABASE (S9; influxdb_v1.go:285-298 DropDB): delete everything
   *  under the store root. */
  def drop(): Unit = rmTree(root)

  /**
   * Retention expiry (S9 / influxdb_v1.go:300-331 retention policies):
   * drop date partitions entirely outside the tier's retention window.
   * Partition-granular delete — no data rewrite, and only directory
   * listings (two levels) of the object store.
   */
  def expire(tier: Tier, now: Instant): Unit = {
    val days = Tier.retentionDays(tier.retention).getOrElse(return)
    val cutoff = java.time.LocalDate.ofInstant(now.minusSeconds(days * 86400), java.time.ZoneOffset.UTC)
    for {
      mDir <- subDirs(path(tier.name)) if mDir.getName.startsWith("measurement=")
      dDir <- subDirs(mDir.toString) if dDir.getName.startsWith("date=")
      dateStr = dDir.getName.stripPrefix("date=")
      if java.time.LocalDate.parse(dateStr).isBefore(cutoff)
    } rmTree(dDir.toString)
  }

  /** DROP MEASUREMENT (S9; influxdb_v1.go:363-373) — partition delete. */
  def dropMeasurement(tier: Tier, measurement: String): Unit =
    rmTree(s"${path(tier.name)}/measurement=$measurement")

  /**
   * Small-file compaction. Streaming ingest appends one parquet file per
   * micro-batch per (measurement, date) partition — at a 5 s trigger
   * that is ~17k files/partition/day, which kills scan planning and
   * object-store listing long before 100 TB.
   *
   * The compaction PLAN is computed from directory metadata only (no data
   * jobs); every qualifying partition (≥ `minFiles` files in its CURRENT
   * snapshot) is then rewritten by ONE Spark job: a single manifest-
   * resolved scan of the qualifying partitions (partition-pruned through
   * [[TierFileIndex]]), hash-bucketed so each partition comes out in
   * ⌈bytes/targetFileBytes⌉ time-sorted files, written to a hidden
   * staging dir and published per partition via [[publishPartition]] —
   * the staged data moves into an invisible `_v=N+1` snapshot (safe even
   * when the move is an object-store copy), becomes visible with one
   * atomic `_commit` marker creation, and superseded snapshots are
   * vacuumed only after every commit of the pass has landed. A
   * concurrent reader resolves the old snapshot or the new one at plan
   * time — never a partial partition, on any FileSystem contract. Still
   * intended to run from the single-writer maintenance job (the same
   * assumption the reference's InfluxDB compactions make). Returns the
   * number of partitions rewritten.
   *
   * `clusterBy` re-clusters each partition by tag columns instead of the
   * default time layout: rows are hash-bucketed on the cluster key (so a
   * given device lands in exactly ONE output file per partition, not a
   * slice of every file), sorted (clusterKey, time) within files (tight
   * per-row-group min/max on the tag → the reader's pushed equality
   * predicate skips every row group but the device's own), and the
   * cluster columns get parquet BLOOM FILTERS (catches the interleaved
   * case min/max can't exclude). For a point-device query over a 100 TB
   * store this turns "scan every file of every date partition in range"
   * into "footer-check every file, materialize one row group per date".
   * Time-range pruning within a day coarsens (a device's file spans the
   * whole day) — use it on measurements whose workload is device-keyed.
   *
   * `zorder = true` (requires `clusterBy`) lays each partition out
   * along a Z-ORDER curve over (hash16(clusterKey), time-of-day16)
   * instead of device-major buckets — every file becomes a curve
   * segment with a BOUNDED time range AND a bounded device subset, so
   * BOTH predicate shapes prune: time ranges via row-group min/max
   * (device-major sort loses this — each device file spans the whole
   * day) and device equality via the bloom filters (hash order has no
   * lexical locality for min/max, but bloom does not care — measured
   * 39× row-group skipping on a hash-scattered layout). The balanced
   * layout for mixed device + time workloads; pure device-keyed
   * workloads still prefer plain `clusterBy`.
   */
  def compact(tier: Tier, targetFileBytes: Long = 128L * 1024 * 1024,
      minFiles: Int = 4, clusterBy: Seq[String] = Nil,
      retainHistory: Boolean = false,
      zorder: Boolean = false): Int = maintenanceLock.synchronized {
    require(!zorder || clusterBy.nonEmpty, "zorder requires clusterBy columns")
    // ONE pinned manifest resolution drives the whole pass: the
    // qualifying check, the staging scan (read through this same
    // index), and each commit's folded-file list all see the identical
    // snapshot — an append landing mid-compaction is in none of them
    // and therefore stays visible and un-vacuumed afterwards.
    val index = new TierFileIndex(spark, new HPath(path(tier.name)))
    val parts = index.resolvedPartitions.filter { case (_, _, _, files) =>
      files.count(_.getPath.getName.endsWith(".parquet")) >= minFiles
    }
    if (parts.isEmpty) return 0

    val staging = new HPath(path(tier.name), "._compacting") // hidden from scans
    rmTree(staging.toString)
    val sparkL = spark
    import sparkL.implicits._
    // one bucket-count rule for the per-partition plan and the pinned
    // shuffle width below
    def bucketCount(files: Seq[org.apache.hadoop.fs.FileStatus]): Int =
      math.max(1, math.ceil(
        files.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    // explicit partition predicate so the scan prunes to the qualifying
    // partitions inside TierFileIndex (a join alone would only filter
    // after listing every partition)
    val base = indexedRead(index).get
      .filter(inPartitions(parts.map { case (m, d, _, _) => (m, d) }))
    // Clustered/zorder rewrites pin the shuffle to the planned bucket
    // count: repartition-by-number is exempt from AQE partition
    // coalescing, which would otherwise merge small buckets back into
    // shared files and erase the layout the pruning relies on. (The
    // default time layout keeps AQE's choice — merged files are fine
    // when row groups are time-sorted either way.)
    val totalBuckets = parts.map { case (_, _, _, files) => bucketCount(files) }.sum
    val distributed =
      if (zorder) {
        // 16-bit device hash interleaved with 16-bit time-of-day; range
        // distribution makes each output file one contiguous curve
        // segment (bounded time range AND bounded device subset). No
        // per-partition plan join: the curve itself drives distribution.
        val dev16 = pmod(xxhash64(clusterBy.map(col): _*), lit(65536L))
        val tod16 = (pmod(unix_seconds(col("time")), lit(86400L))
          * lit(65536L) / lit(86400L)).cast("long")
        val zc = (0 until 16).map { i =>
          shiftleft(shiftright(dev16, i).bitwiseAND(lit(1L)), 2 * i + 1)
            .bitwiseOR(shiftleft(shiftright(tod16, i).bitwiseAND(lit(1L)), 2 * i))
        }.reduce(_ bitwiseOR _)
        base.withColumn("_zc", zc)
          .repartitionByRange(totalBuckets,
            col("measurement"), col("date"), col("_zc"))
          .sortWithinPartitions(col("measurement"), col("date"), col("_zc"))
          .drop("_zc")
      } else {
        val plan = broadcast(parts.map { case (m, d, _, files) =>
          (m, d, bucketCount(files))
        }.toDF("_m", "_d", "_n"))
        val bucketKey =
          if (clusterBy.isEmpty) xxhash64(col("time"))
          else xxhash64(clusterBy.map(col): _*)
        val sortCols = Seq(col("measurement"), col("date")) ++
          clusterBy.map(col) :+ col("time")
        val bucketed = base
          .join(plan, col("measurement") === col("_m") &&
            col("date").cast("string") === col("_d"))
          .withColumn("_fb", pmod(bucketKey, col("_n")))
        (if (clusterBy.isEmpty)
          bucketed.repartition(col("measurement"), col("date"), col("_fb"))
        else
          bucketed.repartition(totalBuckets,
            col("measurement"), col("date"), col("_fb")))
          .sortWithinPartitions(sortCols: _*)
          .drop("_m", "_d", "_n", "_fb")
      }
    val writer = distributed.write.partitionBy("measurement", "date")
    clusterBy.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.parquet(staging.toString)

    publishHook("staged")
    val escape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val published = perPartition(parts) { case (m, d, dir, files) =>
      val fresh = new HPath(staging, s"measurement=${escape(m)}/date=$d")
      if (fs.exists(fresh)) {
        // supersede exactly the files the staging scan read; anything
        // appended since is in no manifest and stays live
        publishPartition(dir, fresh, files)
        Some(dir)
      } else None
    }.flatten
    publishHook("swapped")
    // vacuum superseded snapshots + folded raw files after ALL commits —
    // unless the caller retains history for time-travel reads
    // ([[readAsOf]]); then [[vacuumTier]] reclaims the space later
    if (!retainHistory) perPartition(published)(SnapshotFold.vacuumDir(fs, _)): Unit
    rmTree(staging.toString)
    published.size
  }

  /**
   * Targeted row ERASURE — the right-to-be-forgotten pass a corpus
   * store needs (drop one device's/user's rows) expressed the only way
   * that scales: rewrite ONLY the partitions that contain matching rows
   * and publish each as its next manifest-gated snapshot (readers
   * resolve old-or-new at plan time, never a partial — same contract as
   * [[compact]], safe on rename-by-copy object stores). A partition
   * whose every row matches commits an EMPTY snapshot, so the erasure
   * is complete even where no file remains. Superseded files are
   * vacuumed immediately — erasure must not leave the rows readable —
   * and if earlier maintenance RETAINED history, run [[vacuumTier]] too:
   * old snapshots pinned for [[readAsOf]] may still carry them.
   *
   * Null semantics: `predicate` NULL (e.g. a null tag) keeps the row —
   * only rows that definitely match are erased.
   *
   * Completeness caveats a compliance run must cover: (1) DOWNSAMPLED
   * tiers still aggregate the erased rows' contributions — run the
   * erasure per affected tier, or rebuild the affected window with
   * [[graft.rollup.Downsampler.maintain]]; (2) history retained for
   * [[readAsOf]] still carries them — follow with [[vacuumTier]].
   *
   * Cost shape: one partition-pruned scan finds the hit partitions
   * (driver gets (measurement, date) tuples only), one Spark job
   * rewrites exactly those partitions. Returns the partitions rewritten.
   * Run from the single-writer maintenance job, like [[compact]].
   */
  def deleteWhere(tier: Tier, predicate: Column): Int =
      maintenanceLock.synchronized {
    val index = new TierFileIndex(spark, new HPath(path(tier.name)))
    val base = indexedRead(index).getOrElse(return 0)
    val hits = base.filter(predicate)
      .select(col("measurement"), col("date").cast("string").as("date"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    if (hits.isEmpty) return 0
    val parts = index.resolvedPartitions.filter { case (m, d, _, _) => hits((m, d)) }

    val staging = new HPath(path(tier.name), "._erasing") // hidden from scans
    rmTree(staging.toString)
    base.filter(inPartitions(parts.map { case (m, d, _, _) => (m, d) }))
      .filter(!coalesce(predicate, lit(false)))
      .repartition(col("measurement"), col("date"))
      .sortWithinPartitions(col("measurement"), col("date"), col("time"))
      .write.partitionBy("measurement", "date").parquet(staging.toString)

    publishHook("staged")
    val escape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val published = perPartition(parts) { case (m, d, dir, files) =>
      // every-row-matched partitions have no staged dir → EMPTY snapshot
      publishPartition(dir,
        new HPath(staging, s"measurement=${escape(m)}/date=$d"), files)
      dir
    }
    publishHook("swapped")
    perPartition(published)(SnapshotFold.vacuumDir(fs, _)): Unit
    rmTree(staging.toString)
    published.size
  }

  /**
   * Does this tier's RETAINED HISTORY — data readable only through
   * [[readAsOf]], i.e. the committed files on disk that the current
   * resolution no longer reads ([[SnapshotFold.history]]) — still
   * contain rows matching `predicate`?
   * The erasure command's gate: a [[deleteWhere]] that rewrote nothing
   * proves the CURRENT snapshot is clean, but an earlier maintenance
   * rebuild may have replaced the matching rows while `retainHistory`
   * kept their old snapshot on disk — only then must erasure also
   * [[vacuumTier]] (which destroys every as-of pin tier-wide, so it
   * must not run for e.g. a typo'd device id that never matched
   * anything). Cost: a listing per partition, then one scan over ONLY
   * the history files of partitions that have any (zero Spark jobs when
   * no history exists).
   */
  def retainedHistoryMatches(tier: Tier, predicate: Column): Boolean = {
    val tierRoot = path(tier.name)
    if (!exists(tierRoot)) return false
    val histParts = for {
      mDir <- subDirs(tierRoot) if mDir.getName.startsWith("measurement=")
      m = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(mDir.getName.stripPrefix("measurement="))
      dDir <- subDirs(mDir.toString) if dDir.getName.startsWith("date=")
      d = dDir.getName.stripPrefix("date=")
      files = SnapshotFold.history(fs, dDir, fs.listStatus(dDir).toSeq)
        .map(_.getPath.toString)
      if files.nonEmpty
    } yield (m, d, files)
    if (histParts.isEmpty) return false
    // bounded union width + early exit: a tier-wide retained history
    // could span thousands of partitions, and a single thousand-way
    // union is a driver-side plan bomb — scan 64 partitions per job
    // and stop at the first match (the common erasure hits early)
    histParts.grouped(64).exists { group =>
      val frames = group.map { case (m, d, files) =>
        spark.read.parquet(files: _*)
          .withColumn("measurement", lit(m))
          .withColumn("date", lit(d).cast("date"))
      }
      !frames.reduce(_ unionByName (_, allowMissingColumns = true))
        .filter(coalesce(predicate, lit(false))).isEmpty
    }
  }

  /**
   * Audit-grade PHYSICAL erasure verification for a tier — the
   * [[graft.store.EraseAudit]] stance applied to the corpus store: a
   * resolver-BYPASSING walk of EVERY parquet file still on disk under
   * the tier (current commits, superseded `_v=` snapshots, folded raw
   * files — everything), counting rows that match `predicate`. A
   * [[deleteWhere]] + [[vacuumTier]] compliance pass must leave
   * `found == 0`; `scanned` doubles as the completeness witness (it
   * must equal the survivors' physical row count). Partition columns
   * are re-derived from the directory names ([[retainedHistoryMatches]]'
   * idiom), so measurement/date predicates bind. NULL predicate rows
   * count as non-matching (the [[deleteWhere]] null stance). Returns
   * (files walked, rows scanned, matching rows found). Cost: one full
   * physical scan of the tier — per compliance batch, not per query.
   */
  def auditErasure(tier: Tier, predicate: Column): (Long, Long, Long) = {
    val tierRoot = path(tier.name)
    if (!exists(tierRoot)) return (0L, 0L, 0L)
    val escape = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName _
    // parallel walks (EraseAudit.walkParquet + perPartition over the
    // date dirs): the audit's listing round trips overlap instead of
    // serializing — at thousands of partitions the sequential recursive
    // walk was hours of driver RPC before the scan started
    val datePairs = for {
      mDir <- subDirs(tierRoot) if mDir.getName.startsWith("measurement=")
      m = escape(mDir.getName.stripPrefix("measurement="))
      dDir <- subDirs(mDir.toString) if dDir.getName.startsWith("date=")
      d = dDir.getName.stripPrefix("date=")
    } yield (m, d, dDir)
    val parts = perPartition(datePairs) { case (m, d, dDir) =>
      (m, d, EraseAudit.walkParquet(fs, dDir))
    }.filter(_._3.nonEmpty)
    if (parts.isEmpty) return (0L, 0L, 0L)
    var (nf, ns, nm) = (0L, 0L, 0L)
    // bounded union width (the retainedHistoryMatches 64-partition
    // batching) — but NO early exit: an audit reports totals
    parts.grouped(64).foreach { group =>
      val frames = group.map { case (m, d, files) =>
        spark.read.parquet(files: _*)
          .withColumn("measurement", lit(m))
          .withColumn("date", lit(d).cast("date"))
      }
      val r = frames.reduce(_ unionByName (_, allowMissingColumns = true))
        .agg(org.apache.spark.sql.functions.count(lit(1)),
          org.apache.spark.sql.functions.count(
            when(coalesce(predicate, lit(false)), lit(1)))).collect()(0)
      nf += group.map(_._3.length).sum
      ns += r.getLong(0)
      nm += r.getLong(1)
    }
    (nf, ns, nm)
  }

  /**
   * Reclaim history a `retainHistory` maintenance pass kept for
   * [[readAsOf]]: every partition drops what its commits superseded
   * ([[SnapshotFold.vacuumDir]]) and keeps its CURRENT snapshot. After
   * the vacuum, as-of reads can no longer travel behind the surviving
   * snapshots — run it once no training run still pins an old corpus.
   * Returns the number of partitions vacuumed (those with a commit).
   */
  def vacuumTier(tier: Tier): Int = maintenanceLock.synchronized {
    val index = new TierFileIndex(spark, new HPath(path(tier.name)))
    val parts = index.resolvedPartitions.map(_._3).distinct
    val n = perPartition(parts) { dir =>
      val left = SnapshotFold.vacuumLeft(fs, dir)
      // complete the cleanup a retainHistory pass deferred: a partition
      // whose snapshot is EMPTY and that holds no raw data (a retired
      // rollup window) is logically gone
      if (left.versions.nonEmpty && !left.hasData) dropRetired(dir, left.meta)
      left.versions.nonEmpty
    }.count(identity)
    pruneEmptyMeasurementDirs(path(tier.name))
    n
  }

  /**
   * Replace the `dates` window of a tier with `fresh` rollup rows (the
   * incremental-maintenance commit; [[graft.rollup.Downsampler.maintain]]).
   * The fresh window is STAGED as a complete parquet dataset first, then
   * each affected (measurement, date) partition is published as its next
   * [[SnapshotFold]] snapshot via [[publishPartition]]; live partitions
   * inside the window that got no staged replacement are retired by
   * committing an EMPTY snapshot (they no longer exist in the recomputed
   * rollup). Superseded snapshots are vacuumed, and fully-retired
   * partition directories removed, only AFTER every commit of the pass.
   * Atomicity is PER PARTITION (each partition flips old→new in one
   * marker publish; a reader never sees partial rows of either version,
   * even on rename-by-copy object stores); the pass itself commits
   * partition at a time, so a reader planning mid-pass can observe a
   * commit frontier — some partitions new, the rest still old and
   * complete. The window is one metadata publish per partition, not
   * data-proportional.
   *
   * Partitions of a measurement for which `keep` holds are neither
   * replaced nor retired: the caller does not own them (a rollup hop
   * passes the measurements ingest writes straight into its target
   * tier).
   */
  def replaceDatePartitions(tier: Tier, fresh: DataFrame, dates: Seq[String],
      retainHistory: Boolean = false,
      keep: String => Boolean = _ => false): Unit = maintenanceLock.synchronized {
    val tierPathS = path(tier.name)
    def kept(mDir: String): Boolean = keep(org.apache.spark.sql.catalyst.catalog
      .ExternalCatalogUtils.unescapePathName(mDir.stripPrefix("measurement=")))
    val staging = new HPath(tierPathS, "._restaging")
    rmTree(staging.toString)
    fresh
      .withColumn("date", to_date(col("time")))
      .repartition(col("measurement"), col("date"))
      .sortWithinPartitions(col("measurement"), col("date"), col("time"))
      .write.partitionBy("measurement", "date").parquet(staging.toString)
    publishHook("staged")
    // one ledger read gates every resolution of this pass (an uncommitted
    // batch's files are not live, so no publish supersedes them)
    val committed = BatchLedger.read(fs, new HPath(root))
    // snapshot the staged partition set BEFORE publishing (a publish
    // MOVES the staged dir, so existence checks after it would lie)
    val staged = (for {
      mDir <- subDirs(staging.toString) if mDir.getName.startsWith("measurement=")
      if !kept(mDir.getName)
      dDir <- subDirs(mDir.toString) if dDir.getName.startsWith("date=")
    } yield (mDir.getName, dDir.getName)).toSet
    // replacement semantics: the fresh rollup supersedes the partition's
    // whole live set; a partition with no staged replacement commits an
    // EMPTY snapshot (it is retired)
    def publishWindow(parts: Seq[(String, String)]): Seq[HPath] =
      perPartition(parts) { case (m, d) =>
        val part = new HPath(s"$tierPathS/$m/$d")
        publishPartition(part, new HPath(staging, s"$m/$d"),
          SnapshotFold.resolve(fs, part, committed))
        part
      }
    val published = publishWindow(staged.toSeq)
    val dateSet = dates.toSet
    val retired = publishWindow(for {
      mDir <- subDirs(tierPathS) if mDir.getName.startsWith("measurement=")
      if !kept(mDir.getName)
      dDir <- subDirs(mDir.toString) if dDir.getName.startsWith("date=")
      if dateSet.contains(dDir.getName.stripPrefix("date="))
      if !staged((mDir.getName, dDir.getName))
    } yield (mDir.getName, dDir.getName))
    publishHook("swapped")
    // cleanup phase — every commit is visible, so plan-time resolution
    // cannot land on anything being deleted below. With retainHistory
    // the superseded snapshots (and retired partitions' old files,
    // behind their committed EMPTY snapshot) stay on disk for
    // [[readAsOf]]; [[vacuumTier]] reclaims them later.
    if (!retainHistory) {
      perPartition(published)(SnapshotFold.vacuumDir(fs, _)): Unit
      perPartition(retired)(part =>
        dropRetired(part, SnapshotFold.vacuumLeft(fs, part).meta)): Unit
      pruneEmptyMeasurementDirs(tierPathS)
    }
    rmTree(staging.toString)
  }
}

object CsvSink {
  /** Fixed 11-column CSV header (reference: storage/csv.go:22). */
  val header: Seq[String] = Seq("name", "time", "dev_id", "dev_type", "dir",
    "location_id", "service", "src", "topic", "value", "unit")

  /** S5 CSV sink (storage/csv.go:26-113): append rows in the fixed shape. */
  def write(points: DataFrame, dir: String): Unit =
    points.select(
      col("measurement").as("name"), col("time"), col("dev_id"), col("dev_type"),
      col("dir"), col("location_id"), col("service"), col("src"), col("topic"),
      coalesce(col("value").cast("string"), col("value_str"),
        col("value_bool").cast("string")).as("value"),
      col("unit"))
      .write.mode(SaveMode.Append).option("header", true).csv(dir)
}
