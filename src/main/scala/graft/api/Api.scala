package graft.api

import java.time.Instant

import graft.model._
import graft.query.Planner
import graft.store.TierStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Command API — the reference's MQTT admin surface re-expressed as a
 * transport-agnostic dispatcher (reference: src/api/admin.go:59-416;
 * request DTOs src/api/types.go:8-34). MQTT itself is not the
 * capability — the command set is (SURVEY.md §7 step 9).
 */
object Api {

  /** cmd.tsdb.get_data_points DTO (types.go:8-21). `asOfPin` is an
   *  extension over the reference surface: when non-empty, the encoded
   *  logical pin ([[graft.store.AsOfPin.encoded]], from `pinNow`) pins
   *  the query to that committed store state ([[TierStore.readAsOf]] —
   *  reproducible reads across maintenance, exact on coarse-mtime
   *  object stores). */
  final case class GetDataPointsRequest(
      procId: Int = 1, fieldName: String = "", dataFunction: String = "",
      transformFunction: String = "", measurementName: String = "",
      relativeTime: String = "", fromTime: String = "", toTime: String = "",
      groupByTime: String = "", groupByTag: String = "", fillType: String = "",
      filters: DataPointsFilter = DataPointsFilter(), asOfPin: String = "") {
    def toRequest: DataPointsRequest = DataPointsRequest(
      measurement = measurementName, fieldName = fieldName,
      dataFunction = dataFunction, transformFunction = transformFunction,
      relativeTime = relativeTime, fromTime = fromTime, toTime = toTime,
      groupByTime = groupByTime, groupByTag = groupByTag, fillType = fillType,
      filters = filters)
  }

  /** cmd.tsdb.write_data_points DTO (types.go:23-34, admin.go:179-204). */
  final case class WritePoint(name: String, tags: Map[String, String],
      fields: Map[String, Double], ts: java.sql.Timestamp)

  /** The full write request (types.go:30-34): `bucket` pins the target
   *  retention policy directly — the reference's `WriteDirect(rpName)`,
   *  process.go:313-337 — and empty means "auto calculate based on
   *  measurement name" (the routed path). Divergence kept from round 2:
   *  the reference stamps every point with ITS OWN wall clock and
   *  ignores the submitted `ts` (admin.go:197-198); we honor the
   *  submitted timestamp — a historical import would otherwise be
   *  impossible. */
  final case class WriteDataPointsRequest(procId: Int = 1,
      bucket: String = "", dp: Seq[WritePoint])

  /** cmd.tsdb.compact DTO — ops parity for the round-8 layout surface
   *  (EXTENSION; the reference delegates compaction to InfluxDB's
   *  storage engine, influxdb_v1.go:271-413). Empty `tier` = every
   *  retention tier. `clusterBy`/`zorder` select the device-clustered /
   *  Z-order layouts ([[TierStore.compact]] documents when each wins);
   *  `retainHistory` keeps superseded snapshots for [[TierStore.readAsOf]]
   *  pins until an explicit cmd.tsdb.vacuum. */
  final case class CompactRequest(procId: Int = 1, tier: String = "",
      targetFileBytes: Long = 128L * 1024 * 1024, minFiles: Int = 4,
      clusterBy: Seq[String] = Nil, zorder: Boolean = false,
      retainHistory: Boolean = false)

  /** cmd.tsdb.vacuum DTO (EXTENSION): reclaim history kept by
   *  retainHistory maintenance — after it, as-of reads can no longer
   *  travel behind the surviving snapshots (pins that reach further
   *  fail loudly). `foldBatchMarkers` also compacts the streaming batch
   *  ledger; marker folds are PIN-SAFE — a watermark still attests
   *  every id it covers, so logical pins keep resolving exactly
   *  ([[graft.store.BatchLedger.read]]). */
  final case class VacuumRequest(procId: Int = 1, tier: String = "",
      foldBatchMarkers: Boolean = true)

  /** cmd.tsdb.backfill DTO (EXTENSION): rebuild the rollup cascade for
   *  an explicit historical [fromDate, toDate] window (inclusive,
   *  yyyy-MM-dd) — the repair the recent-window maintenance trigger
   *  cannot reach ([[graft.rollup.Downsampler.backfill]]). */
  final case class BackfillRequest(procId: Int = 1, fromDate: String,
      toDate: String, retainHistory: Boolean = false)

  /** cmd.tsdb.verify_rollup DTO (EXTENSION): the rollup consistency
   *  audit over a date window — per (tier, measurement, date) row-level
   *  expected/actual/missing/extra/value-mismatch counts
   *  ([[graft.rollup.Downsampler.verifyRollups]]); repair findings with
   *  cmd.tsdb.backfill. */
  final case class VerifyRollupRequest(procId: Int = 1, fromDate: String,
      toDate: String, tolerance: Double = 1e-6)

  /** cmd.tsdb.diff_data_points DTO (EXTENSION): row-level corpus diff
   *  between two as-of pins of one tier ([[TierStore.diffAsOf]]) —
   *  requires the older pin's history to be retained. */
  final case class DiffRequest(procId: Int = 1, tier: String,
      fromPin: String, toPin: String)

  /** cmd.tsdb.erase_index_ids DTO (EXTENSION): right-to-be-forgotten
   *  through the DERIVED stores — the IVF index physically retains
   *  erased embeddings and the MinHash index the erased documents'
   *  shingle sets, so a compliance run must purge them alongside the
   *  tiers (cmd.tsdb.delete_data_points). `ids` is the bounded
   *  compliance batch; each named index path erases reader-atomically
   *  with UNCONDITIONAL history reclamation
   *  ([[graft.functions.Similarity.eraseFromIvfIndex]],
   *  [[graft.functions.Dedup.eraseFromMinhashIndex]],
   *  [[graft.functions.Retrieval.eraseFromBm25Index]]). */
  final case class EraseIndexIdsRequest(procId: Int = 1,
      ids: Seq[Long] = Nil, ivf: Seq[String] = Nil,
      minhash: Seq[String] = Nil, bm25: Seq[String] = Nil)

  /** cmd.tsdb.run_maintenance DTO (EXTENSION): the periodic maintenance
   *  trigger the reference gets from InfluxDB continuous queries + its
   *  own retention ticker (influxdb_v1.go:72-78,300-331) — incremental
   *  rollup rebuild, retention expiry, compaction. `retainHistory`
   *  defers every history-destroying step so readAsOf pins survive the
   *  pass (reclaim later with cmd.tsdb.vacuum). */
  final case class MaintenanceRequest(procId: Int = 1, sinceDays: Int = 3,
      retainHistory: Boolean = false)

  /** The pin-aware tier resolver shared by the query commands: a
   *  non-empty encoded pin resolves that snapshot ([[TierStore.readAsOf]]). */
  private def pinnedRead(c: Context, asOfPin: String): Tier => DataFrame =
    if (asOfPin.nonEmpty) {
      val pin = graft.store.AsOfPin.decode(asOfPin)
      t => c.store.readAsOf(t, pin)
    } else t => c.store.read(t)

  /** The LISTING-SLICED, pin-aware store resolver for the planner's
   *  `sliceResolve` arm: the planner hands over its exact planned
   *  (measurement, fromSec, toSec) and the store prunes its partition
   *  LISTING to that window before any directory is listed
   *  ([[TierStore.readSlice]]) — at 100 TB a 1-hour query lists one or
   *  two date directories instead of one listStatus per partition. */
  private def slicedRead(c: Context,
      asOfPin: String): (Tier, String, Long, Long) => DataFrame = {
    val pin =
      if (asOfPin.nonEmpty) Some(graft.store.AsOfPin.decode(asOfPin)) else None
    (t, m, fromSec, toSec) => {
      val (lo, hi) = Planner.dateWindow(fromSec, toSec,
        c.spark.sessionState.conf.sessionLocalTimeZone)
      c.store.readSlice(t, Some(m), Some(lo), Some(hi), pin)
    }
  }

  final case class Context(spark: SparkSession, store: TierStore,
      profile: String = Tier.ProfileOptimized, now: () => Instant = () => Instant.now(),
      state: ProcessState = new ProcessState(ProcessConfig(id = 1)),
      registry: Option[ProcessRegistry] = None)

  /**
   * Storage admission control limits — the reference's disk monitor
   * (integration.go:283-306 StartDiskMonitor, default limit wired at
   * Boot, integration.go:320-321: 85%). `maxBytes` is a byte budget on
   * the store root — the portable formulation for object stores, where
   * "percent of disk" has no meaning; `usedPercentLimit` additionally
   * applies the reference's percent-of-filesystem rule where the
   * underlying FileSystem reports capacity (local disk, HDFS).
   */
  final case class StorageQuota(maxBytes: Long = Long.MaxValue,
      usedPercentLimit: Double = 85.0)

  /**
   * Multi-process manager — the reference's Integration
   * (reference: src/integration/tsdb/integration.go:37-49,239-283): a
   * registry of processes, each with its own config, filter/selector
   * state, and tier store, addressed by ProcID; the admin surface routes
   * every tsdb command through the payload's proc id (admin.go:404-416).
   */
  final class ProcessRegistry(spark: SparkSession, storeRoot: String,
      defaults: Seq[ProcessConfig], quota: Option[StorageQuota] = None) {
    final class Handle(val state: ProcessState, val store: TierStore) {
      @volatile var status: String = "LOADED"
    }
    private val procs = scala.collection.mutable.LinkedHashMap.empty[Int, Handle]
    // Latched by checkStorageQuota on breach, cleared when a tick passes
    // again — the reference stops ALL ingestion on disk alarm
    // (integration.go:296-301), including writes not addressed to any
    // process, so the default-context write path checks this too.
    @volatile private var _alarm = false
    def alarmActive: Boolean = _alarm
    defaults.foreach(initProcess)

    private def initProcess(c: ProcessConfig): Handle = synchronized {
      val h = new Handle(new ProcessState(c), new TierStore(spark, s"$storeRoot/proc_${c.id}"))
      if (c.autostart) h.status = "RUNNING"
      procs(c.id) = h
      h
    }

    def processes: Seq[(ProcessConfig, String)] =
      synchronized { procs.values.map(h => (h.state.config, h.status)).toSeq }
    def byId(id: Int): Option[Handle] = synchronized { procs.get(id) }

    /** AddProcess (integration.go:239-259): clone the default template,
     *  id = max existing + 1 (GetNewID, model.go:113-128), autostart off. */
    def add(procConfig: Option[ProcessConfig]): Int = synchronized {
      val conf = procConfig.getOrElse {
        val newId = (procs.keys.toSeq :+ 0).max + 1
        defaults.headOption.getOrElse(ProcessConfig(id = 0))
          .copy(id = newId, autostart = false)
      }
      initProcess(conf)
      conf.id
    }

    /** start/stop/delete (admin.go:113-150). Reference quirk kept: an
     *  UNKNOWN operation on an existing process falls through the switch
     *  with err == nil and reports "ok" (admin.go:127-139). */
    def ctrl(id: Int, op: String): (String, String) = synchronized {
      procs.get(id) match {
        case None => ("error", "unknown process id")
        case Some(h) =>
          op match {
            case "start" => h.status = "RUNNING"
            case "stop" => h.status = "STOPPED"
            case "delete" => procs.remove(id)
            case _ => () // admin.go quirk: unmatched op → status "ok"
          }
          ("ok", "")
      }
    }

    /** UpdateProcConfig (integration.go:87-103). Divergence: the reference
     *  nil-derefs (panic/recover, no response) on an unknown id
     *  (integration.go:88-89 + admin.go:65-71); we return an error report. */
    def updateConfig(conf: ProcessConfig): (String, String) = synchronized {
      procs.get(conf.id) match {
        case None => ("error", "unknown process id")
        case Some(h) => h.state.config = conf; ("ok", "")
      }
    }

    /** reset_to_default (admin.go:151-155): reload the default template
     *  set. The reference exits the OS process and restarts from defaults;
     *  re-initializing the registry in place is the engine equivalent. */
    def resetToDefault(): Unit = synchronized {
      procs.clear()
      defaults.foreach(initProcess)
    }

    /** Bytes currently held under the registry's store root. */
    def usedStoreBytes: Long = {
      val p = new org.apache.hadoop.fs.Path(storeRoot)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    }

    /**
     * Disk-monitor tick (integration.go:288-306): when the store exceeds
     * the quota, EVERY process is flipped to STOPPED (the reference stops
     * all processes and its metadata store on breach) and subsequent
     * routed writes are rejected until an operator restarts them.
     * Returns (status, error) in the ctrl-report shape: ("alarm", msg) on
     * breach, ("ok", "") otherwise (also when no quota is configured —
     * DisableDiskMonitor semantics).
     */
    def checkStorageQuota(): (String, String) = synchronized {
      quota match {
        case None => ("ok", "")
        case Some(q) =>
          val used = usedStoreBytes
          val overBytes = used > q.maxBytes
          val pct =
            try {
              val st = new org.apache.hadoop.fs.Path(storeRoot)
                .getFileSystem(spark.sparkContext.hadoopConfiguration).getStatus
              if (st.getCapacity > 0) Some(100.0 * st.getUsed / st.getCapacity) else None
            } catch { case _: Exception => None }
          val overPct = pct.exists(_ > q.usedPercentLimit)
          if (overBytes || overPct) {
            procs.values.foreach(_.status = "STOPPED") // integration.go:296-301
            _alarm = true
            val what =
              if (overBytes) s"store size $used B over budget ${q.maxBytes} B"
              else f"disk usage ${pct.get}%.1f%% over limit ${q.usedPercentLimit}%.1f%%"
            ("alarm", s"DISK LOW SPACE: $what; all processes stopped")
          } else { _alarm = false; ("ok", "") }
      }
    }
  }

  /**
   * Mutable filter/selector CRUD — the reference's Process API
   * (reference: src/integration/tsdb/api.go:1-62). Reproduces GetNewID
   * semantics (max id + 1, model.go:113-128) including the reference's
   * quirk that a new SELECTOR id is computed from the FILTERS list
   * (api.go:33 `GetNewID(pr.Config.Filters)`).
   */
  final class ProcessState(initial: ProcessConfig) {
    @volatile var config: ProcessConfig = initial
    private def newId(ids: Seq[Int]): Int = (ids :+ 0).max + 1

    def addFilter(f: Filter): Int = synchronized {
      val id = newId(config.filters.map(_.id))
      config = config.copy(filters = config.filters :+ f.copy(id = id))
      id
    }
    def removeFilter(id: Int): Unit = synchronized {
      config = config.copy(filters = config.filters.filterNot(_.id == id))
    }
    def addSelector(s: Selector): Int = synchronized {
      val id = newId(config.filters.map(_.id)) // reference quirk, api.go:33
      config = config.copy(selectors = config.selectors :+ s.copy(id = id))
      id
    }
    def removeSelector(id: Int): Unit = synchronized {
      config = config.copy(selectors = config.selectors.filterNot(_.id == id))
    }
    def filters: Seq[Filter] = config.filters
    def selectors: Seq[Selector] = config.selectors
  }

  /**
   * Dispatch a command by name — the admin.go onCommand switch. Returns a
   * response DataFrame (query commands) or Unit-like empty frame (admin
   * commands). Raw SQL (S7) goes straight to Spark SQL.
   */
  def dispatch(ctx: Context, command: String, payload: Any): DataFrame = command match {
    case "cmd.tsdb.get_data_points" => // admin.go:206-226
      val req = payload.asInstanceOf[GetDataPointsRequest]
      val c = procCtx(ctx, req.procId)
      Planner.dataPoints(req.toRequest, pinnedRead(c, req.asOfPin), c.now(),
        sliceResolve = Some(slicedRead(c, req.asOfPin)))
    case "cmd.tsdb.get_energy_data_points" => // admin.go:229-247
      val req = payload.asInstanceOf[GetDataPointsRequest]
      val c = procCtx(ctx, req.procId)
      Planner.energyDataPoints(req.relativeTime, req.fromTime, req.toTime,
        req.groupByTime, req.groupByTag, req.filters,
        pinnedRead(c, req.asOfPin), c.now())
    case "cmd.tsdb.delete_data_points" =>
      // EXTENSION over the reference surface (which delegates deletion
      // to InfluxDB retention): targeted erasure via TierStore
      // .deleteWhere's partition-scoped snapshot rewrite. UNBOUNDED in
      // time (the right-to-be-forgotten shape) it runs on EVERY
      // retention tier — rollups keep the tag columns, so the device's
      // aggregated contributions go too. TIME-BOUNDED it corrects the
      // RAW tiers only: rollup rows are bucket-start-stamped aggregates
      // spanning the boundary, so row deletion there either leaves the
      // range's contributions (bucket starts before `from`) or destroys
      // aggregates outside it — rollups are DERIVED data; rebuild the
      // affected window from the corrected raw with Downsampler
      // .maintain. Refuses an unbounded wipe, and refuses half-given
      // time bounds rather than silently erasing full history. Routes
      // through the same single-maintainer assumption as compact — the
      // store serializes maintenance in-process; across processes,
      // deploy the command on the maintenance owner.
      val req = payload.asInstanceOf[GetDataPointsRequest]
      val c = procCtx(ctx, req.procId)
      val f = req.filters
      if (req.measurementName.isEmpty && f.tags.isEmpty && f.devices.isEmpty &&
        f.locations.isEmpty && f.devTypes.isEmpty)
        throw new IllegalArgumentException(
          "refusing an unbounded erasure: give a measurement or tag filters " +
            "(drop whole measurements/retention windows via DDL instead)")
      if (req.relativeTime.nonEmpty ||
        (req.fromTime.nonEmpty != req.toTime.nonEmpty))
        throw new IllegalArgumentException(
          "erasure time bounds must be BOTH absolute fromTime and toTime " +
            "(or neither) — a half-given or relative bound would silently " +
            "erase the full history")
      val bounded = req.fromTime.nonEmpty
      var pred = Planner.filterColumn(f)
      if (req.measurementName.nonEmpty)
        pred = pred && col("measurement") === req.measurementName
      if (bounded)
        pred = pred && Planner.absoluteTimePredicate(
          Instant.parse(req.fromTime).getEpochSecond,
          Instant.parse(req.toTime).getEpochSecond)
      val rollups = Tier.cascade.map(_._2.name).toSet
      val targets = c.store.retentionPolicies
        .filter(t => !bounded || !rollups(t.name))
      import ctx.spark.implicits._
      // the erasure surface itself guarantees the rows are GONE, not
      // merely absent from the current snapshot: rows surviving only in
      // retainHistory snapshots (e.g. a rollup window maintain rebuilt
      // without the device — the new version has no matches for
      // deleteWhere to find) would stay readable via readAsOf, so a
      // targeted tier is also vacuumed — but ONLY when the predicate
      // actually touched it (rows rewritten now, or retained history
      // still holding matches). A predicate that never matched anything
      // (a typo'd device id) must not destroy every as-of pin
      // tier-wide; history_vacuumed > 0 in the response is the signal
      // that pins into that tier's past are now invalid.
      targets.map { t =>
        val rewrote = c.store.deleteWhere(t, pred).toLong
        val vacuumed =
          if (rewrote > 0 || c.store.retainedHistoryMatches(t, pred))
            c.store.vacuumTier(t).toLong
          else 0L
        (t.name, rewrote, vacuumed)
      }.toDF("tier", "partitions_rewritten", "history_vacuumed")

    case "cmd.tsdb.erase_index_ids" =>
      // EXTENSION: the delete_data_points stance carried to the DERIVED
      // stores — refuses an empty request instead of silently attesting
      // a no-op compliance pass; each index erases reader-atomically
      // (manifest folds, no quiesce) and reclaims history
      // unconditionally, so the response's rows_erased is the number of
      // physical index rows that are now GONE, not merely hidden
      val req = payload.asInstanceOf[EraseIndexIdsRequest]
      if (req.ids.isEmpty) throw new IllegalArgumentException(
        "refusing an empty erasure: give the ids to erase")
      if (req.ivf.isEmpty && req.minhash.isEmpty && req.bm25.isEmpty)
        throw new IllegalArgumentException(
          "refusing an index-less erasure: name the ivf/minhash/bm25 index " +
            "paths to purge (erase tiers via cmd.tsdb.delete_data_points)")
      import ctx.spark.implicits._
      // the named indexes are INDEPENDENT stores (disjoint roots,
      // disjoint staging) — erase them concurrently: each pass is a
      // short serial chain of small jobs that alone underfills the
      // executor pool, so a 3-index compliance batch otherwise pays
      // 3× the serial latency (the writeShingledTables idiom, lifted
      // to the command layer). Each list is DEDUPED first: the serial
      // execution tolerated a repeated path, but two concurrent erases
      // of the same root would race on its staging dir and generation
      // publish.
      graft.store.Concurrent.eval(ctx.spark.sparkContext,
        req.ivf.distinct.map(p => () => (s"ivf:$p",
            graft.functions.Similarity.eraseFromIvfIndex(ctx.spark, p, req.ids))) ++
          req.minhash.distinct.map(p => () => (s"minhash:$p",
            graft.functions.Dedup.eraseFromMinhashIndex(ctx.spark, p, req.ids))) ++
          req.bm25.distinct.map(p => () => (s"bm25:$p",
            graft.functions.Retrieval.eraseFromBm25Index(ctx.spark, p, req.ids))))
        .toDF("index", "rows_erased")

    case "cmd.tsdb.verify_tier_erasure" =>
      // EXTENSION: the erasure audit for the CORPUS store — a raw
      // physical walk of every tier file (current, superseded, folded)
      // counting predicate matches ([[TierStore.auditErasure]]); the
      // proof a delete_data_points + vacuum compliance pass hands the
      // auditor. Same filter shape and refusals as the delete command.
      val req = payload.asInstanceOf[GetDataPointsRequest]
      val c = procCtx(ctx, req.procId)
      val f = req.filters
      if (req.measurementName.isEmpty && f.tags.isEmpty && f.devices.isEmpty &&
        f.locations.isEmpty && f.devTypes.isEmpty)
        throw new IllegalArgumentException(
          "refusing an unbounded erasure audit: give a measurement or " +
            "tag filters")
      var pred = Planner.filterColumn(f)
      if (req.measurementName.nonEmpty)
        pred = pred && col("measurement") === req.measurementName
      import ctx.spark.implicits._
      // the per-tier walks are INDEPENDENT read-only scans of disjoint
      // tier roots — fan them out like verify_erasure's per-index walks
      // (guide §2.6): each tier's listing + bounded-union aggregates
      // alone underfill the executor pool
      graft.store.Concurrent.eval(ctx.spark.sparkContext,
        c.store.retentionPolicies.map { t => () =>
          val (files, scanned, found) = c.store.auditErasure(t, pred)
          (t.name, files, scanned, found)
        }).toDF("tier", "files", "rows_scanned", "rows_found")

    case "cmd.tsdb.verify_erasure" =>
      // EXTENSION: audit-grade proof of a completed index erasure —
      // resolver-BYPASSING raw scan of every parquet file still on
      // disk under each named index root ([[graft.store.EraseAudit]]):
      // rows_found must be 0 after a clean erase, and rows_scanned
      // equals the survivors' physical row count (a walk that skipped
      // files is visible too). Same request shape as erase_index_ids.
      val req = payload.asInstanceOf[EraseIndexIdsRequest]
      if (req.ids.isEmpty) throw new IllegalArgumentException(
        "refusing an empty erasure audit: give the ids to verify")
      if (req.ivf.isEmpty && req.minhash.isEmpty && req.bm25.isEmpty)
        throw new IllegalArgumentException(
          "refusing an index-less erasure audit: name the " +
            "ivf/minhash/bm25 index paths to scan")
      import ctx.spark.implicits._
      // independent read-only walks of independent roots — run them
      // concurrently (same rationale as the concurrent erase above)
      graft.store.Concurrent.eval(ctx.spark.sparkContext,
        req.ivf.map { p => () =>
          val (f, s, m) = graft.store.EraseAudit.scan(ctx.spark, p, "vec_id",
            req.ids, skipDirs = Set("centroids"))
          (s"ivf:$p", f, s, m)
        } ++ req.minhash.map { p => () =>
          val (f, s, m) = graft.store.EraseAudit.scan(ctx.spark, p, "id", req.ids)
          (s"minhash:$p", f, s, m)
        } ++ req.bm25.map { p => () =>
          val (f, s, m) = graft.store.EraseAudit.scan(ctx.spark,
            s"$p/postings", "doc_id", req.ids)
          (s"bm25:$p", f, s, m)
        }).toDF("index", "files", "rows_scanned", "rows_found")

    case "cmd.tsdb.compact" =>
      // EXTENSION: the round-8 layout/compaction surface, command-
      // reachable so a deployment drives it without Scala (erasure
      // command is the template). Refusals surface as thrown
      // IllegalArgumentException → dispatchShaped's error envelope:
      // zorder without clusterBy (TierStore.compact's require), unknown
      // tier name (maintenanceTargets).
      val req = payload.asInstanceOf[CompactRequest]
      val c = procCtx(ctx, req.procId)
      import ctx.spark.implicits._
      maintenanceTargets(c, req.tier).map(t => (t.name,
          c.store.compact(t, req.targetFileBytes, req.minFiles,
            req.clusterBy, req.retainHistory, req.zorder).toLong))
        .toDF("tier", "partitions_rewritten")
    case "cmd.tsdb.vacuum" =>
      // EXTENSION: explicit history reclaim (the commit/vacuum
      // separation's second half) — bounds how far back readAsOf travels
      val req = payload.asInstanceOf[VacuumRequest]
      val c = procCtx(ctx, req.procId)
      if (req.foldBatchMarkers) c.store.vacuumBatchMarkers()
      import ctx.spark.implicits._
      maintenanceTargets(c, req.tier)
        .map(t => (t.name, c.store.vacuumTier(t).toLong))
        .toDF("tier", "partitions_vacuumed")
    case "cmd.tsdb.run_maintenance" =>
      // EXTENSION: the full periodic maintenance pass (rollup cascade
      // rebuild + retention + compaction), with the retainHistory knob
      val req = payload.asInstanceOf[MaintenanceRequest]
      val c = procCtx(ctx, req.procId)
      graft.rollup.Downsampler.maintain(c.store, c.now(),
        sinceDays = req.sinceDays, retainHistory = req.retainHistory,
        profile = c.profile)
      ctrlReport(ctx, "run_maintenance", "ok", "", req.procId)

    case "cmd.tsdb.backfill" =>
      // EXTENSION: windowed rollup repair (backfill corrects data; the
      // periodic run_maintenance owns retention/compaction lifecycle)
      val req = payload.asInstanceOf[BackfillRequest]
      val c = procCtx(ctx, req.procId)
      graft.rollup.Downsampler.backfill(c.store, req.fromDate, req.toDate,
        retainHistory = req.retainHistory, profile = c.profile)
      ctrlReport(ctx, "backfill", "ok", "", req.procId)
    case "cmd.tsdb.verify_rollup" =>
      // EXTENSION: the "can I trust my rollups" audit — all-zero
      // mismatch columns = clean; anything else names the (tier,
      // measurement, date) to backfill
      val req = payload.asInstanceOf[VerifyRollupRequest]
      val c = procCtx(ctx, req.procId)
      graft.rollup.Downsampler.verifyRollups(c.store, req.fromDate,
        req.toDate, tolerance = req.tolerance, profile = c.profile)
    case "cmd.tsdb.diff_data_points" =>
      // EXTENSION: what changed between two pinned corpus states
      val req = payload.asInstanceOf[DiffRequest]
      val c = procCtx(ctx, req.procId)
      val t = c.store.tierByName(req.tier).getOrElse(
        throw new IllegalArgumentException(s"unknown tier: ${req.tier}"))
      c.store.diffAsOf(t, graft.store.AsOfPin.decode(req.fromPin),
        graft.store.AsOfPin.decode(req.toPin))

    case "cmd.tsdb.query" => // S7 raw passthrough (admin.go:156-177)
      val (qCtx, sql) = payload match {
        case (procId: Int, s: String) => (procCtx(ctx, procId), s)
        case s: String => (ctx, s)
        case other => throw new IllegalArgumentException(s"bad query payload: $other")
      }
      // InfluxQL compatibility: the reference UI sends InfluxQL strings
      // through this command (docs/api:9,194,251); the documented shapes
      // route through the planner, everything else is Spark SQL
      if (graft.query.InfluxQL.looksLike(sql)) influxQuery(qCtx, sql)
      else qCtx.spark.sql(sql)

    // --- process lifecycle (admin.go:75-155; integration.go manager) ---
    case "cmd.ecprocess.get_list" => { // admin.go:75-77
      import ctx.spark.implicits._
      registryOf(ctx).processes.map { case (c, status) =>
        (c.id, c.name, status, c.profile, c.batchMaxSize, c.saveIntervalMs,
          c.filters.size, c.selectors.size, c.autostart)
      }.toDF("id", "name", "status", "profile", "batch_max_size",
        "save_interval_ms", "n_filters", "n_selectors", "autostart")
    }
    case "cmd.ecprocess.add" => // admin.go:100-112
      val id = registryOf(ctx).add(Option(payload).map(_.asInstanceOf[ProcessConfig]))
      ctrlReport(ctx, "add", "ok", "", id)
    case "cmd.ecprocess.ctrl" => // admin.go:113-150
      val (procId, op) = payload.asInstanceOf[(Int, String)]
      val (status, err) = registryOf(ctx).ctrl(procId, op)
      ctrlReport(ctx, op, status, err, procId)
    case "cmd.ecprocess.update_config" => // admin.go:79-98
      val conf = payload.asInstanceOf[ProcessConfig]
      val (status, err) = registryOf(ctx).updateConfig(conf)
      ctrlReport(ctx, "update_config", status, err, conf.id)
    case "cmd.ecprocess.reset_to_default" => // admin.go:151-155
      registryOf(ctx).resetToDefault()
      ctx.spark.emptyDataFrame
    case "cmd.ecprocess.check_storage" => // disk-monitor tick (integration.go:283-306)
      val (status, err) = registryOf(ctx).checkStorageQuota()
      ctrlReport(ctx, "disk_monitor", status, err, 0)

    case "cmd.log.set_level" => // admin.go:374-388
      val level = payload.asInstanceOf[String].toUpperCase
      val valid = Set("ALL", "DEBUG", "ERROR", "FATAL", "INFO", "OFF", "TRACE", "WARN")
      if (valid(level)) {
        ctx.spark.sparkContext.setLogLevel(level)
        ctrlReport(ctx, "set_level", "ok", "", 0)
      } else
        // reference logs and keeps the old level (admin.go:385-387)
        ctrlReport(ctx, "set_level", "error", s"unknown log level: $level", 0)
    case "cmd.tsdb.write_data_points" => // S6 (admin.go:179-204)
      // WriteDataPointsRequest carries a ProcID and an optional BUCKET
      // (types.go:30-34); legacy (procId, points) / bare-points payload
      // shapes remain accepted
      def admitProc(procId: Int): Unit =
        // admission control: a STOPPED process (operator stop or disk
        // alarm, integration.go:296-301) accepts no writes
        ctx.registry.flatMap(_.byId(procId)).foreach { h =>
          if (h.status == "STOPPED") throw new IllegalStateException(
            s"process $procId is STOPPED: write rejected")
        }
      val (ctxW, bucket, points) = payload match {
        case req: WriteDataPointsRequest =>
          admitProc(req.procId)
          (procCtx(ctx, req.procId), req.bucket, req.dp)
        case (procId: Int, pts: Seq[_]) =>
          admitProc(procId)
          (procCtx(ctx, procId), "", pts.asInstanceOf[Seq[WritePoint]])
        case pts: Seq[_] =>
          // unrouted writes land in the default context, but a latched
          // disk alarm stops ALL ingestion, not just per-process stores
          ctx.registry.foreach { r =>
            if (r.alarmActive) throw new IllegalStateException(
              "storage quota alarm active: write rejected")
          }
          (ctx, "", pts.asInstanceOf[Seq[WritePoint]])
        case other => throw new IllegalArgumentException(s"bad write payload: $other")
      }
      import ctxW.spark.implicits._
      val df = points.map(p => (p.name, p.ts,
          p.tags.getOrElse("dev_id", ""), p.tags.getOrElse("dev_type", ""),
          p.tags.getOrElse("dir", null), p.tags.getOrElse("location_id", ""),
          p.tags.getOrElse("service", null), null: String, p.tags.getOrElse("topic", ""),
          p.fields.getOrElse("value", Double.NaN), p.fields.get("unit").map(_.toString).orNull))
        .toDF("measurement", "time", "dev_id", "dev_type", "dir", "location_id",
          "service", "src", "topic", "value", "unit")
      if (bucket.isEmpty) ctxW.store.writeRouted(df, ctxW.profile)
      else {
        // WriteDirect (process.go:313-337): the caller pinned the target
        // retention policy — no routing; an unknown bucket is refused
        // rather than auto-created (the reference lets InfluxDB error)
        val t = ctxW.store.tierByName(bucket).getOrElse(
          throw new IllegalArgumentException(s"unknown bucket: $bucket"))
        ctxW.store.write(t, df)
      }
      ctx.spark.emptyDataFrame
    case "cmd.tsdb.get_measurements" => // S8 (admin.go / influxdb_v1.go:376-394)
      import ctx.spark.implicits._
      Tier.all.flatMap(t => ctx.store.measurements(t).map(m => (t.name, m)))
        .toDF("tier", "measurement")
    case "cmd.tsdb.get_retention_policies" => // S8 (influxdb_v1.go:396-413)
      import ctx.spark.implicits._
      ctx.store.retentionPolicies.map(t => (t.name, t.retention, t.resolution))
        .toDF("name", "retention", "resolution")
    case "cmd.tsdb.add_retention_policy" => // S9 (admin.go:292-311)
      ctx.store.addRetentionPolicy(payload.asInstanceOf[Tier])
      ctx.spark.emptyDataFrame
    case "cmd.tsdb.update_retention_policy" => // S9 (admin.go:313-332)
      ctx.store.updateRetentionPolicy(payload.asInstanceOf[Tier])
      ctx.spark.emptyDataFrame
    case "cmd.tsdb.add_cq" =>
      // the reference's AddCQ surface (storage interface ds.go:23;
      // CREATE CONTINUOUS QUERY templates influxdb_v1.go:333-354) as a
      // command: register a src→target downsampling hop that every
      // maintenance pass (cmd.tsdb.run_maintenance / Downsampler
      // .maintain) and backfill executes after the built-in cascade
      val (name, src, target, every) =
        payload.asInstanceOf[(String, String, String, String)]
      ctx.store.addCq(name, src, target, every)
      cqsDf(ctx)
    case "cmd.tsdb.get_cqs" => cqsDf(ctx) // SHOW CONTINUOUS QUERIES
    case "cmd.tsdb.delete_object" => // S9 (admin.go:334-370): all four object types
      payload match {
        case ("retention_policy", name: String) =>
          ctx.store.deleteRetentionPolicy(name)
        case ("measurement", name: String) =>
          ctx.store.retentionPolicies.foreach(t => ctx.store.dropMeasurement(t, name))
        case ("cq", name: String) => // admin.go:364 DeleteCQ
          ctx.store.deleteCq(name)
        case ("database", _: String) => // admin.go:360-362 DropDB
          ctx.store.drop()
        case other => throw new IllegalArgumentException(s"unknown object: $other")
      }
      ctx.spark.emptyDataFrame
    case "cmd.tsdb.get_configs" => { // admin.go:372-378
      import ctx.spark.implicits._
      val c = ctx.state.config
      Seq((c.id, c.name, c.profile, c.batchMaxSize, c.saveIntervalMs,
        c.filters.size, c.selectors.size))
        .toDF("id", "name", "profile", "batch_max_size", "save_interval_ms",
          "n_filters", "n_selectors")
    }
    case "cmd.tsdb.add_filter" => // api.go:4-12
      ctx.state.addFilter(payload.asInstanceOf[Filter]); filtersDf(ctx)
    case "cmd.tsdb.remove_filter" => // api.go:15-25
      ctx.state.removeFilter(payload.asInstanceOf[Int]); filtersDf(ctx)
    case "cmd.tsdb.add_selector" => // api.go:28-37
      ctx.state.addSelector(payload.asInstanceOf[Selector]); selectorsDf(ctx)
    case "cmd.tsdb.remove_selector" => // api.go:40-50
      ctx.state.removeSelector(payload.asInstanceOf[Int]); selectorsDf(ctx)
    case "cmd.tsdb.get_filters" => filtersDf(ctx) // api.go:54-56
    case "cmd.tsdb.get_selectors" => selectorsDf(ctx) // api.go:59-61
    case other =>
      throw new IllegalArgumentException(s"unknown command: $other")
  }

  /** Execute a parsed InfluxQL statement against the context's store. */
  private def influxQuery(ctx: Context, sql: String): DataFrame = {
    import graft.query.InfluxQL
    InfluxQL.parse(sql) match {
      case InfluxQL.ShowMeasurements(pattern) =>
        // the pattern filters the CATALOG listing (metadata-sized),
        // unanchored like every other regex surface here
        val cat = dispatch(ctx, "cmd.tsdb.get_measurements", null)
        pattern.fold(cat)(p => cat.filter(col("measurement").rlike(p)))
      case InfluxQL.ShowRetentionPolicies =>
        dispatch(ctx, "cmd.tsdb.get_retention_policies", null)
      case InfluxQL.ShowContinuousQueries => dispatch(ctx, "cmd.tsdb.get_cqs", null)
      case InfluxQL.ShowDatabases =>
        import ctx.spark.implicits._
        Seq(ctx.store.databaseName).toDF("name")
      case InfluxQL.ShowTagKeys(m) => ctx.store.tagKeys(m)
      case InfluxQL.ShowTagValues(m, k) => ctx.store.tagValues(m, k)
      case InfluxQL.ShowFieldKeys(m) => ctx.store.fieldKeys(m)
      case InfluxQL.ShowSeries(m) => ctx.store.seriesKeys(m)
      case sel: InfluxQL.Select =>
        InfluxQL.dataPoints(sel, t => ctx.store.read(t),
          ctx.store.tierByName(_), ctx.now(),
          sliceResolve = Some(slicedRead(ctx, "")))
      case sub: InfluxQL.Subquery =>
        InfluxQL.dataPoints(sub, t => ctx.store.read(t),
          ctx.store.tierByName(_), ctx.now(),
          sliceResolve = Some(slicedRead(ctx, "")))
      case ms: InfluxQL.MultiSelect =>
        InfluxQL.dataPoints(ms, t => ctx.store.read(t),
          ctx.store.tierByName(_), ctx.now(), Some(slicedRead(ctx, "")))
      case rs: InfluxQL.RegexSelect =>
        // the regex matches against the store CATALOG (a listing, not a
        // data scan), across every retention tier the store carries
        InfluxQL.dataPoints(rs, t => ctx.store.read(t),
          ctx.store.tierByName(_), ctx.now(), Some(slicedRead(ctx, "")),
          () => ctx.store.retentionPolicies
            .flatMap(t => ctx.store.measurements(t)).distinct)
      case si: InfluxQL.SelectInto => selectInto(ctx, si)
    }
  }

  /** Execute `SELECT ... INTO`: plan the source select, drop gap-fill
   *  rows (a row where EVERY value column is null is a fill row, not a
   *  point; a partial multi-column row keeps its real cells), write the
   *  result as stored points under the target measurement — an explicit
   *  rp pins the write tier, otherwise the router places the new
   *  measurement by name; a multi-item source writes one FIELD COLUMN
   *  per item under its alias, each readable back via `fieldName` —
   *  and return InfluxDB's `(time=0, written=N)` row. The result frame
   *  is aggregate-sized; persisting it for the write-then-count pair
   *  avoids re-running the source scan.
   *
   *  Columnar-store semantics, documented: a multi row partial in one
   *  field stores that cell as NULL (the columnar encoding of "absent
   *  field"). Aggregate reads skip null cells (InfluxDB-equal); a raw
   *  single-field read renders the row with a null value where InfluxDB
   *  would omit the point — the rendering InfluxDB itself uses for
   *  multi-field selects over partial points. */
  private def selectInto(ctx: Context,
      si: graft.query.InfluxQL.SelectInto): DataFrame = {
    import graft.query.{InfluxQL, Planner}
    // ONE match pairs the plan with the PLANNED value-column names (a
    // single select's fixed `value`; a multi list's aliases as planned —
    // incl. the grouped bare-list mean default — via plannedMultiAliases;
    // a subquery's outer side, whichever form it takes), so the two can
    // never drift
    // a single-item source plans its column as `value`, but InfluxDB
    // stores the written field under the AS alias when one was given
    // (`... AS foo INTO t` → field `foo`); rename at the write boundary
    val singleCol = si.fieldAlias.getOrElse("value")
    def renamed(df: DataFrame): DataFrame =
      if (singleCol == "value") df
      else {
        // reserved-name guard, mirroring the multi-item path's planned-
        // alias check: `AS "time"` (or a group-by tag's name) would
        // produce a duplicate column and a raw AnalysisException later
        if (singleCol == "measurement" || df.columns.contains(singleCol))
          throw new IllegalArgumentException(
            s"SELECT INTO field alias collides with a result column: $singleCol")
        df.withColumnRenamed("value", singleCol)
      }
    def planWithCols(st: InfluxQL.Statement): (DataFrame, Seq[String]) = st match {
      case s: InfluxQL.Select =>
        (renamed(InfluxQL.dataPoints(s, t => ctx.store.read(t),
          ctx.store.tierByName(_),
          ctx.now(), sliceResolve = Some(slicedRead(ctx, "")))), Seq(singleCol))
      case ms: InfluxQL.MultiSelect =>
        (InfluxQL.dataPoints(ms, t => ctx.store.read(t), ctx.store.tierByName(_),
          ctx.now(), Some(slicedRead(ctx, ""))),
          Planner.plannedMultiAliases(ms.items, ms.req))
      case sub: InfluxQL.Subquery =>
        val df = InfluxQL.dataPoints(sub, t => ctx.store.read(t),
          ctx.store.tierByName(_), ctx.now(), Some(slicedRead(ctx, "")))
        sub.outer match {
          case _: InfluxQL.Select => (renamed(df), Seq(singleCol))
          case ms: InfluxQL.MultiSelect =>
            (df, Planner.plannedMultiAliases(ms.items, ms.req))
          case other => throw new IllegalArgumentException(
            s"unsupported SELECT INTO source: $other")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported SELECT INTO source: $other")
    }
    val (planned, valueCols) = planWithCols(si.inner)
    if (!planned.columns.contains("time"))
      throw new IllegalArgumentException(
        "SELECT INTO needs a time axis (GROUP BY time(...) or raw " +
          "points); a whole-range aggregate carries no point time")
    val tagCols = planned.columns.toSeq.filterNot((valueCols :+ "time").toSet)
    val anyReal = valueCols.map(col(_).isNotNull).reduce(_ || _)
    val pts = planned.filter(anyReal)
      .select(lit(si.target).as("measurement") +:
        timestamp_seconds(col("time")).as("time") +:
        (valueCols.map(col) ++ tagCols.map(col)): _*)
      .persist()
    try {
      si.retentionPolicy match {
        case Some(name) =>
          val t = ctx.store.tierByName(name).getOrElse(
            throw new IllegalArgumentException(s"unknown retention policy: $name"))
          ctx.store.write(t, pts)
        case None => ctx.store.writeRouted(pts)
      }
      val n = pts.count()
      import ctx.spark.implicits._
      Seq((0L, n)).toDF("time", "written")
    } finally { pts.unpersist(); () }
  }

  /** Route a command to the process's own store/state when a registry is
   *  configured (admin.go:404-416 getProcAndStorageByProcId). */
  private def procCtx(ctx: Context, procId: Int): Context = ctx.registry match {
    case None => ctx
    case Some(reg) => reg.byId(procId) match {
      case Some(h) => ctx.copy(store = h.store, state = h.state)
      case None => throw new IllegalArgumentException(s"unknown process: $procId")
    }
  }

  /** Tier set a maintenance command targets: one named tier, or every
   *  retention policy of the process's store when unnamed. */
  private def maintenanceTargets(c: Context, tier: String): Seq[Tier] =
    if (tier.isEmpty) c.store.retentionPolicies
    else Seq(c.store.tierByName(tier).getOrElse(
      throw new IllegalArgumentException(s"unknown tier: $tier")))

  private def registryOf(ctx: Context): ProcessRegistry =
    ctx.registry.getOrElse(throw new IllegalStateException(
      "no process registry configured for this context"))

  /** evt.ecprocess.ctrl_report shape (admin.go:96-98,111,148-149). */
  private def ctrlReport(ctx: Context, op: String, status: String,
      error: String, procId: Int): DataFrame = {
    import ctx.spark.implicits._
    Seq((op, status, error, procId)).toDF("op", "status", "error", "proc_id")
  }

  private def filtersDf(ctx: Context): DataFrame = {
    import ctx.spark.implicits._
    ctx.state.filters.map(f => (f.id, f.name, f.topic, f.domain, f.service,
      f.msgType, f.negation, f.linkedFilterBooleanOperation, f.linkedFilterId,
      f.isAtomic))
      .toDF("id", "name", "topic", "domain", "service", "msg_type", "negation",
        "link_op", "linked_filter_id", "is_atomic")
  }

  private def cqsDf(ctx: Context): DataFrame = {
    import ctx.spark.implicits._
    ctx.store.continuousQueries.map(c =>
      (c.name, c.src, c.target, c.resolutionMinutes))
      .toDF("name", "src", "target", "resolution_minutes")
  }

  private def selectorsDf(ctx: Context): DataFrame = {
    import ctx.spark.implicits._
    ctx.state.selectors.map(s => (s.id, s.topic, s.inMemory))
      .toDF("id", "topic", "in_memory")
  }

  /**
   * Shape a planner result into the reference's response JSON:
   * `{"Results":[{"Series":[{"name","tags","columns","values"}]}]}`
   * (reference response fixtures: docs/api:26-176, docs/data-exchange;
   * one Series per group-by-tag value, columns ["time","value"] for the
   * single-value shapes). A multi-item select emits every value column
   * in result order; a regex-FROM result (its own `measurement` column)
   * emits one Series per matched measurement, named by it.
   *
   * The driver-side collect is BOUNDED: at most `maxRows + 1` rows are
   * pulled (aggregated queries are naturally small; a raw-points query
   * over a large range would otherwise collect everything — the reference
   * shares that flaw, admin.go:206-226, but at Spark scale it would take
   * the driver down). When the result is truncated and time-shaped, the
   * JSON carries a `"next"` epoch marker; pass it back as `afterTimeSec`
   * for the next page. Rows sharing the marker's exact second may be
   * skipped across a page boundary — acceptable for the dashboard use case.
   *
   * Driver memory on the tag axis is FLAT in the number of series: the
   * bounded page is sorted by (tag, time) IN THE PLAN, so series arrive
   * contiguous and pre-sorted, and the driver streams group boundaries in
   * a single pass into one output builder — no per-tag maps, no
   * driver-side re-sort, regardless of tag cardinality.
   */
  def shapeResponse(df: DataFrame, measurement: String, groupByTag: String,
      maxRows: Int = 100000, afterTimeSec: Long = Long.MinValue): String = {
    val hasTime = df.columns.contains("time")
    // a regex-FROM result carries its own `measurement` column — one
    // Series per matched measurement, named by it (InfluxDB's shape);
    // a multi-item select carries several value columns, all emitted in
    // result order under their [[graft.query.Planner.itemAliases]] names
    val hasMeas = df.columns.contains("measurement")
    // the multi-tag passthrough form arrives comma-joined (the DTO's
    // encoding, [[graft.model.DataPointsRequest.groupByTagKeys]]); one
    // Series per distinct tag-KEY-TUPLE, its tags JSON carrying every key
    val tagKeys: Seq[String] =
      graft.model.DataPointsRequest.splitTagKeys(groupByTag)
    val valueCols = df.columns.toSeq
      .filterNot(c => c == "time" || c == "measurement" || tagKeys.contains(c))
    // page selection is by TIME order (that is what the next-marker pages
    // over); the (series, time) sort below happens on the bounded page only
    val paged =
      if (hasTime) df.filter(col("time") > afterTimeSec).orderBy(col("time")).limit(maxRows + 1)
      else df.limit(maxRows + 1)
    val sortCols = (if (hasMeas) Seq(col("measurement")) else Nil) ++
      tagKeys.map(col) ++
      (if (hasTime) Seq(col("time")) else Nil)
    val sorted = if (sortCols.nonEmpty) paged.orderBy(sortCols: _*) else paged
    val all = sorted.collect()
    val truncated = all.length > maxRows
    // the page kept the earliest maxRows+1 times; dropping one max-time
    // row (the +1 probe) restores the page and its max is the marker
    val rows: Array[Row] =
      if (!truncated) all
      else if (!hasTime) all.take(maxRows)
      else {
        val maxT = all.iterator.map(_.getAs[Long]("time")).max
        val idx = all.lastIndexWhere(_.getAs[Long]("time") == maxT)
        (all.take(idx) ++ all.drop(idx + 1))
      }
    val nextMarker =
      if (truncated && hasTime)
        s""","next":${rows.iterator.map(_.getAs[Long]("time")).max}"""
      else ""
    // a time-less DATA shape (whole-range aggregate: every value column
    // a typed value — numeric/boolean) still carries a time column at
    // epoch 0, InfluxDB's bare-aggregate convention and the wire
    // contract clients index against; a CATALOG frame (SHOW forms:
    // string columns) renders its own columns without a fabricated time
    val dataShaped = hasTime || (valueCols.nonEmpty &&
      df.schema.fields.filter(f => valueCols.contains(f.name)).forall(f =>
        f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          f.dataType == org.apache.spark.sql.types.BooleanType))
    val columnsJson =
      ((if (dataShaped) Seq("time") else Nil) ++ valueCols).map(jstr).mkString(",")
    // single pass over series-contiguous rows
    val sb = new StringBuilder("[")
    var openKey: (String, Seq[String]) = null
    var anySeries = false
    var firstVal = true
    def open(key: (String, Seq[String])): Unit = {
      if (anySeries) sb.append("]},")
      anySeries = true
      val name = if (hasMeas) key._1 else measurement
      val tagJson = tagKeys.zip(key._2)
        .map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
        .mkString("{", ",", "}")
      sb.append(s"""{"name":${jstr(name)},"tags":$tagJson,"columns":[$columnsJson],"values":[""")
      firstVal = true
      openKey = key
    }
    // an untagged single-measurement response carries one series even
    // when empty; per-measurement (regex) and tagged responses emit
    // exactly the series their rows define
    if (tagKeys.isEmpty && !hasMeas) open(("", Nil))
    rows.foreach { r =>
      val key = (
        if (hasMeas) Option(r.getAs[Any]("measurement")).map(_.toString).getOrElse("") else "",
        tagKeys.map(k =>
          Option(r.getAs[Any](k)).map(_.toString).getOrElse("")))
      if (!anySeries || key != openKey) open(key)
      if (!firstVal) sb.append(",")
      sb.append('[')
      if (dataShaped)
        sb.append(if (hasTime) r.getAs[Long]("time").toString else "0")
      valueCols.zipWithIndex.foreach { case (c, i) =>
        if (dataShaped || i > 0) sb.append(',')
        val v = Option(r.getAs[Any](c))
        sb.append(v match {
          case Some(s: String) => jstr(s) // catalog cells are JSON strings
          case Some(x) => x.toString
          case None => "null"
        })
      }
      sb.append(']')
      firstVal = false
    }
    if (anySeries) sb.append("]}")
    sb.append("]")
    s"""{"Results":[{"Series":$sb}]$nextMarker}"""
  }

  private def jstr(s: String) =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** The reference's error response payload for a failed query:
   *  `{"Results":null,"error":"<message>"}` (docs/api:364-380). */
  def shapeError(e: Throwable): String = {
    val msg = Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
      .linesIterator.take(3).mkString(" ").take(500)
    s"""{"Results":null,"error":${jstr(msg)}}"""
  }

  /**
   * Dispatch with the reference's full response contract: a successful
   * query returns the Series-shaped JSON, a failing one the error
   * envelope instead of a thrown exception (admin.go:165-175 logs and
   * returns the storage error inside the report payload).
   */
  def dispatchShaped(ctx: Context, command: String, payload: Any,
      measurement: String = "", groupByTag: String = "",
      maxRows: Int = 100000, afterTimeSec: Long = Long.MinValue): String =
    try shapeResponse(dispatch(ctx, command, payload), measurement, groupByTag,
      maxRows, afterTimeSec)
    catch { case e: Exception => shapeError(e) }

  /**
   * The reference's complete WIRE shape: the Series payload wrapped in
   * the FIMP message envelope a client actually receives
   * (docs/data-exchange:6-133 — `evt.tsdb.data_points_report` from
   * service "ecollector", `val_t: "object"`, the Results document as
   * `val`, `corid` echoing the request's uid). All identity fields are
   * injectable so responses are reproducible in tests; production
   * callers pass a fresh `uid` and the wall-clock `ctime`.
   */
  def shapeFimpReport(resultsJson: String, corid: String, uid: String,
      ctime: String, msgType: String = "evt.tsdb.data_points_report",
      valT: String = "object"): String =
    s"""{"type":${jstr(msgType)},"serv":"ecollector","val_t":${jstr(valT)},""" +
      s""""val":$resultsJson,"tags":null,"props":null,"ver":"1",""" +
      s""""corid":${if (corid.isEmpty) "null" else jstr(corid)},""" +
      s""""ctime":${jstr(ctime)},"uid":${jstr(uid)}}"""

  /** The catalog's documented wire shape (docs/api:403-440):
   *  `evt.tsdb.measurements_report` with `val_t: "str_array"` — the
   *  DISTINCT measurement names across tiers, sorted, as a flat JSON
   *  string array. */
  def measurementsFimpReport(ctx: Context, corid: String, uid: String,
      ctime: String): String = {
    val names = dispatch(ctx, "cmd.tsdb.get_measurements", null)
      .select("measurement").distinct()
      .collect().map(_.getString(0)).sorted
    shapeFimpReport(names.map(jstr).mkString("[", ",", "]"), corid, uid,
      ctime, msgType = "evt.tsdb.measurements_report", valT = "str_array")
  }

  /** [[dispatchShaped]] delivered in the full FIMP envelope — the exact
   *  bytes-on-the-wire contract of docs/data-exchange (errors ride
   *  inside `val` as the documented error envelope, same as upstream).
   *  The report type follows the command: `cmd.tsdb.query` answers as
   *  `evt.tsdb.query_report` (docs/api:24,209,263,367), the structured
   *  point queries as `evt.tsdb.data_points_report`
   *  (docs/data-exchange:7). */
  def dispatchFimp(ctx: Context, command: String, payload: Any,
      corid: String, uid: String, ctime: String,
      measurement: String = "", groupByTag: String = "",
      maxRows: Int = 100000, afterTimeSec: Long = Long.MinValue): String = {
    val msgType =
      if (command == "cmd.tsdb.query") "evt.tsdb.query_report"
      else "evt.tsdb.data_points_report"
    shapeFimpReport(dispatchShaped(ctx, command, payload, measurement,
      groupByTag, maxRows, afterTimeSec), corid, uid, ctime, msgType)
  }
}
