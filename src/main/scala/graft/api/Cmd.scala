package graft.api

import graft.model.{DataPointsFilter, DataPointsRequest, Filter, ProcessConfig, Selector, Tier}

/**
 * One wire command — the reference's admin.go onCommand switch
 * (admin.go:404-416) as a sealed type. [[CommandCodec.decode]] builds it
 * from the FIMP envelope and [[Api.dispatch]] matches it exhaustively
 * (the build turns a missing arm into a compile error). `wireType` is
 * the message `type` a case answers to; each case names it once.
 */
sealed abstract class Cmd(val wireType: String)

object Cmd {

  /** Commands answered by a data-point Series (the reference's Results
   *  document, [[Api.dispatchShaped]]), not by their rows as a JSON array. */
  sealed abstract class SeriesShaped(w: String) extends Cmd(w)

  /** cmd.tsdb.get_data_points DTO (types.go:8-21), shared by the point
   *  query, energy, erasure and erasure-audit commands. `asOfPin` is an
   *  extension over the reference surface: when non-empty, the encoded
   *  logical pin ([[graft.store.AsOfPin.encoded]], from `pinNow`) pins
   *  the query to that committed store state
   *  ([[graft.store.TierStore.readAsOf]] — reproducible reads across
   *  maintenance, exact on coarse-mtime object stores). */
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

  final case class GetDataPoints(req: GetDataPointsRequest)
    extends SeriesShaped("cmd.tsdb.get_data_points")
  final case class GetEnergyDataPoints(req: GetDataPointsRequest)
    extends SeriesShaped("cmd.tsdb.get_energy_data_points")
  /** S7 raw query (admin.go:156-177): InfluxQL or Spark SQL against the
   *  store of process `procId` when given, else the context's own. */
  final case class Query(sql: String, procId: Option[Int] = None)
    extends SeriesShaped("cmd.tsdb.query")
  final case class DeleteDataPoints(req: GetDataPointsRequest)
    extends Cmd("cmd.tsdb.delete_data_points")
  final case class VerifyTierErasure(req: GetDataPointsRequest)
    extends Cmd("cmd.tsdb.verify_tier_erasure")

  /** cmd.tsdb.write_data_points point (types.go:23-29, admin.go:179-204). */
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
      bucket: String = "", dp: Seq[WritePoint]) extends Cmd("cmd.tsdb.write_data_points")

  /** cmd.tsdb.compact DTO — ops parity for the round-8 layout surface
   *  (EXTENSION; the reference delegates compaction to InfluxDB's
   *  storage engine, influxdb_v1.go:271-413). Empty `tier` = every
   *  retention tier. `clusterBy`/`zorder` select the device-clustered /
   *  Z-order layouts ([[graft.store.TierStore.compact]] documents when
   *  each wins); `retainHistory` keeps superseded snapshots for
   *  [[graft.store.TierStore.readAsOf]] pins until an explicit
   *  cmd.tsdb.vacuum. */
  final case class CompactRequest(procId: Int = 1, tier: String = "",
      targetFileBytes: Long = 128L * 1024 * 1024, minFiles: Int = 4,
      clusterBy: Seq[String] = Nil, zorder: Boolean = false,
      retainHistory: Boolean = false) extends Cmd("cmd.tsdb.compact")

  /** cmd.tsdb.vacuum DTO (EXTENSION): reclaim history kept by
   *  retainHistory maintenance — after it, as-of reads can no longer
   *  travel behind the surviving snapshots (pins that reach further
   *  fail loudly). `foldBatchMarkers` also compacts the streaming batch
   *  ledger; marker folds are PIN-SAFE — a watermark still attests
   *  every id it covers, so logical pins keep resolving exactly
   *  ([[graft.store.BatchLedger.read]]). */
  final case class VacuumRequest(procId: Int = 1, tier: String = "",
      foldBatchMarkers: Boolean = true) extends Cmd("cmd.tsdb.vacuum")

  /** cmd.tsdb.run_maintenance DTO (EXTENSION): the periodic maintenance
   *  trigger the reference gets from InfluxDB continuous queries + its
   *  own retention ticker (influxdb_v1.go:72-78,300-331) — incremental
   *  rollup rebuild, retention expiry, compaction. `retainHistory`
   *  defers every history-destroying step so readAsOf pins survive the
   *  pass (reclaim later with cmd.tsdb.vacuum). */
  final case class MaintenanceRequest(procId: Int = 1, sinceDays: Int = 3,
      retainHistory: Boolean = false) extends Cmd("cmd.tsdb.run_maintenance")

  /** cmd.tsdb.backfill DTO (EXTENSION): rebuild the rollup cascade for
   *  an explicit historical [fromDate, toDate] window (inclusive,
   *  yyyy-MM-dd) — the repair the recent-window maintenance trigger
   *  cannot reach ([[graft.rollup.Downsampler.backfill]]). */
  final case class BackfillRequest(procId: Int = 1, fromDate: String,
      toDate: String, retainHistory: Boolean = false) extends Cmd("cmd.tsdb.backfill")

  /** cmd.tsdb.verify_rollup DTO (EXTENSION): the rollup consistency
   *  audit over a date window — per (tier, measurement, date) row-level
   *  expected/actual/missing/extra/value-mismatch counts
   *  ([[graft.rollup.Downsampler.verifyRollups]]); all-zero mismatch
   *  columns = clean, anything else is repaired with cmd.tsdb.backfill. */
  final case class VerifyRollupRequest(procId: Int = 1, fromDate: String,
      toDate: String, tolerance: Double = 1e-6) extends Cmd("cmd.tsdb.verify_rollup")

  /** cmd.tsdb.diff_data_points DTO (EXTENSION): row-level corpus diff
   *  between two as-of pins of one tier
   *  ([[graft.store.TierStore.diffAsOf]]) — requires the older pin's
   *  history to be retained. */
  final case class DiffRequest(procId: Int = 1, tier: String,
      fromPin: String, toPin: String) extends Cmd("cmd.tsdb.diff_data_points")

  /** cmd.tsdb.erase_index_ids DTO (EXTENSION), shared with its audit
   *  cmd.tsdb.verify_erasure: right-to-be-forgotten through the DERIVED
   *  stores — the IVF index physically retains erased embeddings and the
   *  MinHash index the erased documents' shingle sets, so a compliance
   *  run must purge them alongside the tiers. `ids` is the bounded
   *  compliance batch; `ivf`/`minhash`/`bm25` name the index roots
   *  ([[graft.functions.Similarity.eraseFromIvfIndex]],
   *  [[graft.functions.Dedup.eraseFromMinhashIndex]],
   *  [[graft.functions.Retrieval.eraseFromBm25Index]]). */
  final case class EraseIndexIdsRequest(procId: Int = 1,
      ids: Seq[Long] = Nil, ivf: Seq[String] = Nil,
      minhash: Seq[String] = Nil, bm25: Seq[String] = Nil)

  final case class EraseIndexIds(req: EraseIndexIdsRequest) extends Cmd("cmd.tsdb.erase_index_ids")
  final case class VerifyErasure(req: EraseIndexIdsRequest) extends Cmd("cmd.tsdb.verify_erasure")

  // --- process lifecycle (admin.go:75-155; integration.go manager) ---
  case object GetList extends Cmd("cmd.ecprocess.get_list")
  /** No config clones the default template (integration.go:239-259). */
  final case class AddProcess(config: Option[ProcessConfig] = None) extends Cmd("cmd.ecprocess.add")
  /** The reference's ctrl payload is a str_map with "proc_id"/"op"
   *  (admin.go:44 reads val["proc_id"]). */
  final case class Ctrl(procId: Int, op: String) extends Cmd("cmd.ecprocess.ctrl")
  final case class UpdateConfig(config: ProcessConfig) extends Cmd("cmd.ecprocess.update_config")
  case object ResetToDefault extends Cmd("cmd.ecprocess.reset_to_default")
  case object CheckStorage extends Cmd("cmd.ecprocess.check_storage")
  final case class SetLogLevel(level: String) extends Cmd("cmd.log.set_level")

  // --- catalog and DDL (S8/S9) ---
  case object GetMeasurements extends Cmd("cmd.tsdb.get_measurements")
  case object GetRetentionPolicies extends Cmd("cmd.tsdb.get_retention_policies")
  final case class AddRetentionPolicy(tier: Tier) extends Cmd("cmd.tsdb.add_retention_policy")
  final case class UpdateRetentionPolicy(tier: Tier) extends Cmd("cmd.tsdb.update_retention_policy")
  final case class AddCq(name: String, src: String, target: String, every: String)
    extends Cmd("cmd.tsdb.add_cq")
  case object GetCqs extends Cmd("cmd.tsdb.get_cqs")
  /** `objectType`: retention_policy, measurement, cq or database. */
  final case class DeleteObject(objectType: String, name: String)
    extends Cmd("cmd.tsdb.delete_object")

  // --- process config: filter/selector CRUD (api.go:1-62) ---
  case object GetConfigs extends Cmd("cmd.tsdb.get_configs")
  final case class AddFilter(filter: Filter) extends Cmd("cmd.tsdb.add_filter")
  final case class RemoveFilter(id: Int) extends Cmd("cmd.tsdb.remove_filter")
  case object GetFilters extends Cmd("cmd.tsdb.get_filters")
  final case class AddSelector(selector: Selector) extends Cmd("cmd.tsdb.add_selector")
  final case class RemoveSelector(id: Int) extends Cmd("cmd.tsdb.remove_selector")
  case object GetSelectors extends Cmd("cmd.tsdb.get_selectors")
}
