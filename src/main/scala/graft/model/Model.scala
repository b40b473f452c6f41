package graft.model

import org.apache.spark.sql.types._

/**
 * Canonical data model for the engine.
 *
 * Mirrors the reference's model surface (reference: src/integration/tsdb/model.go:42-108)
 * re-expressed as Spark schemas + plain config case classes.
 */

/** Message filter — config-driven predicate (reference: model.go:57-78). */
final case class Filter(
    id: Int,
    name: String = "",
    topic: String = "",
    domain: String = "",
    service: String = "",
    msgType: String = "",
    negation: Boolean = false,
    linkedFilterBooleanOperation: String = "", // "and" | "or"
    linkedFilterId: Int = 0,
    isAtomic: Boolean = true,
    tags: Map[String, String] = Map.empty,
    measurementId: String = "",
    inMemory: Boolean = false)

/** Message selector — topic subscription (reference: model.go:51-55). */
final case class Selector(id: Int, topic: String, inMemory: Boolean = false)

/** Process configuration subset relevant to the engine (reference: model.go:81-108). */
final case class ProcessConfig(
    id: Int,
    name: String = "",
    batchMaxSize: Int = 1000,   // reference: process.go:447-448
    saveIntervalMs: Long = 5000, // reference: process.go:444-446
    filters: Seq[Filter] = Nil,
    selectors: Seq[Selector] = Nil,
    siteId: String = "",
    profile: String = Tier.ProfileOptimized,
    storagePath: String = "",
    storageType: String = "parquet",
    autostart: Boolean = false) // reference: model.go Autostart, integration.go:253

/** Storage tier (≈ InfluxDB retention policy; reference: storage/influxdb_v1.go:45-58). */
final case class Tier(name: String, retention: String, resolution: String)

object Tier {
  val ProfileOptimized = "optimized"
  val ProfileSimple = "simple"
  val ProfileRaw = "raw"

  // reference: storage/influxdb_v1.go:45-58 (retention), 72-78 (CQ resolutions)
  val GenRaw = Tier("gen_raw", "2 weeks", "")
  val GenDay = Tier("gen_day", "2 weeks", "1 minute")
  val GenWeek = Tier("gen_week", "12 weeks", "10 minutes")
  val GenMonth = Tier("gen_month", "48 weeks", "1 hour")
  val GenYear = Tier("gen_year", "240 weeks", "1 day")
  val GenDefault = Tier("gen_default", "12 weeks", "")

  val all: Seq[Tier] = Seq(GenRaw, GenDay, GenWeek, GenMonth, GenYear, GenDefault)

  /** Parse a retention string ("2 weeks", "90 days", "48w", "30d") to days. */
  def retentionDays(retention: String): Option[Long] = {
    val m = "^(\\d+)\\s*(w|weeks?|d|days?)$".r
    retention.trim.toLowerCase match {
      case m(n, unit) if unit.startsWith("w") => Some(n.toLong * 7)
      case m(n, _) => Some(n.toLong)
      case _ => None
    }
  }
  /** The downsampling cascade raw→day→week→month→year (reference: influxdb_v1.go:72-78). */
  val cascade: Seq[(Tier, Tier)] =
    Seq(GenRaw -> GenDay, GenDay -> GenWeek, GenWeek -> GenMonth, GenMonth -> GenYear)
}

/** Query request DTO (reference: src/api/types.go:8-21). */
final case class DataPointsRequest(
    measurement: String,
    fieldName: String = "",
    dataFunction: String = "",
    transformFunction: String = "",
    relativeTime: String = "",
    fromTime: String = "",
    toTime: String = "",
    groupByTime: String = "",
    groupByTag: String = "",
    fillType: String = "",
    filters: DataPointsFilter = DataPointsFilter(),
    // InfluxQL SELECT modifiers (the `ORDER BY time DESC LIMIT 1`
    // dashboard idiom): descending time order, a per-series point
    // LIMIT/OFFSET (InfluxQL limits points PER SERIES; one untagged
    // result is one series), and a series-level SLIMIT/SOFFSET cut
    // over the tag-grouped series in key order. 0 = unset.
    orderDesc: Boolean = false,
    limit: Int = 0,
    offset: Int = 0,
    sLimit: Int = 0,
    sOffset: Int = 0,
    // raw-InfluxQL-only predicates beyond the reference DTO's equality
    // map: `tag != 'v'`, `tag =~ /re/`, `tag !~ /re/` (the Grafana
    // template-variable WHERE forms) and numeric field conditions
    // (`value > 30`, per-point, pre-aggregation). Not part of the wire
    // codec — the reference's structured command carries equality
    // filters only; these ride the passthrough parse.
    tagPredicates: Seq[TagPredicate] = Nil,
    fieldPredicates: Seq[FieldPredicate] = Nil,
    // parenthesized OR groups — `("host" = 'a' OR "host" = 'b')`, the
    // pre-regex Grafana multi-value variable shape — each group is one
    // AND conjunct whose atoms disjoin (CNF)
    orPredicates: Seq[Seq[WhereAtom]] = Nil) {
  /** The group-by tag keys. The reference API carries at most ONE tag
   *  (influxdb_v1.go:160-171) and `groupByTag` stays its wire field;
   *  the raw InfluxQL passthrough also accepts the multi-tag form
   *  `GROUP BY time(X), tag1, tag2`, parsed into this same field
   *  COMMA-JOINED (tag identifiers cannot carry commas, so the encoding
   *  is unambiguous and every single-tag call site is untouched). This
   *  accessor is the ONE split point consumers read. */
  def groupByTagKeys: Seq[String] = DataPointsRequest.splitTagKeys(groupByTag)
}

object DataPointsRequest {
  /** Split a comma-joined group-by tag string (the multi-tag DTO
   *  encoding above) — THE one split point, shared by the planner
   *  accessor and the wire shaper ([[graft.api.Api.shapeResponse]]),
   *  so the encoding can never drift between them. */
  def splitTagKeys(raw: String): Seq[String] =
    if (raw.isEmpty) Nil
    else raw.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq
}

/** One item of a multi-field/multi-aggregate SELECT list (InfluxQL
 *  `SELECT mean("v") AS a, max("v") AS b ...` — the multi-series Grafana
 *  panel shape the reference forwarded through its open namespace,
 *  influxdb_v1.go:87-95). `alias` empty = name the output column the
 *  InfluxDB way (the outermost function name, or the field name for a
 *  bare projection; duplicates suffixed `_1`, `_2`, ...). */
final case class SelectItem(
    fieldName: String,
    dataFunction: String = "",
    transformFunction: String = "",
    alias: String = "")

/** One non-equality tag predicate from the raw-InfluxQL WHERE clause:
 *  `op` is one of `!=`, `=~`, `!~`; for the regex ops `value` is the
 *  pattern body (Go-re2-style UNANCHORED match, as InfluxDB applies
 *  it). A missing tag compares as the empty string (InfluxDB's tag
 *  model — absent tags are empty, so `tag != 'v'` matches series
 *  without the tag). */
final case class TagPredicate(key: String, op: String, value: String)
    extends WhereAtom

/** One numeric FIELD predicate from the raw-InfluxQL WHERE clause —
 *  `value > 30`, `power <= 0.5` — applied per POINT at the scan,
 *  before any aggregation (InfluxDB's field-condition semantics).
 *  `op` is one of `>`, `>=`, `<`, `<=`, `=`, `!=`. */
final case class FieldPredicate(key: String, op: String, value: Double)
    extends WhereAtom

/** One atom of a raw-InfluxQL WHERE clause — a tag predicate (incl.
 *  plain equality when it rides an OR group), a numeric field
 *  predicate, or one parenthesized AND group of such leaves.
 *  [[DataPointsRequest.orPredicates]] carries parenthesized OR groups
 *  as conjuncts of disjoined atoms (CNF; with [[AndGroup]] atoms the
 *  shape is one level of DNF inside a conjunct). */
sealed trait WhereAtom

/** A parenthesized AND group riding an OR — `("a"='1' AND "b"='2') OR
 *  ("a"='3' AND "b"='4')`, the Grafana multi-template-variable shape.
 *  The atoms are always LEAF tag/field predicates: nested parenthesized
 *  ANDs flatten into the one group at parse time (AND is associative),
 *  and an OR nested back inside DISTRIBUTES into sibling disjuncts —
 *  `(a AND (b OR c))` parses as `(a AND b) OR (a AND c)` — so the model
 *  never carries a nested boolean tree (full two-level DNF, closed
 *  under every Grafana-builder output; expansion capped at parse). */
final case class AndGroup(atoms: Seq[WhereAtom]) extends WhereAtom

/** Tag/device/location filters (reference: storage/influxdb_v1.go:18-23). */
final case class DataPointsFilter(
    tags: Map[String, String] = Map.empty,
    devices: Seq[String] = Nil,
    locations: Seq[String] = Nil,
    devTypes: Seq[String] = Nil)

object Schemas {
  /**
   * Raw FIMP-style event envelope as a flat relational schema
   * (reference: fimpgo message fields used at transform.go:26-336 + the MQTT topic).
   * `val_json` carries the raw value payload; typed extraction happens in Transform.
   */
  val rawEvent: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("serv", StringType),
    StructField("msg_type", StringType),
    StructField("val_t", StringType),
    StructField("val_json", StringType),
    StructField("props", MapType(StringType, StringType)),
    StructField("src", StringType),
    StructField("domain", StringType),
    StructField("time", TimestampType)))

  /**
   * Canonical points table — the fixed 11-column CSV shape
   * (reference: storage/csv.go:22) + measurement/series_id/agg_func and typed
   * value variants (SURVEY.md §1.3). `bucket` is the storage-tier partition.
   */
  val points: StructType = StructType(Seq(
    StructField("measurement", StringType),
    StructField("time", TimestampType),
    StructField("dev_id", StringType),
    StructField("dev_type", StringType),
    StructField("dir", StringType),
    StructField("location_id", StringType),
    StructField("service", StringType),
    StructField("src", StringType),
    StructField("topic", StringType),
    StructField("value", DoubleType),
    StructField("value_bool", BooleanType),
    StructField("value_str", StringType),
    StructField("unit", StringType),
    StructField("series_id", StringType),
    StructField("agg_func", StringType),
    StructField("fields_json", StringType)))

  /** Metadata dimension (reference: src/metadata/interface.go:7-12). */
  val metadata: StructType = StructType(Seq(
    StructField("address", StringType),
    StructField("device_id", IntegerType),
    StructField("location_id", IntegerType),
    StructField("device_type", StringType)))
}
