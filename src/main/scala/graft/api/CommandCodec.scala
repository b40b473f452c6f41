package graft.api

import graft.model.{DataPointsFilter, Filter, ProcessConfig, Selector, Tier}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Wire codec for the command surface: decodes a FIMP-enveloped command
 * message (`{"type":"cmd.tsdb...","val":{...},"uid":...,"corid":...}`
 * — docs/data-exchange:6-133) into the typed [[Cmd]]
 * [[Api.dispatch]] matches, so a transport (the [[graft.Service]] file
 * socket, stdin, or a future broker hop) can carry the SAME commands
 * the reference receives over MQTT (admin.go:404-416 onCommand)
 * without any Scala on the caller's side.
 *
 * Decoding is explicit field navigation, not reflective extraction:
 * every command's payload shape is pinned here, unknown fields are
 * ignored (wire-compatible with clients that send extra FIMP fields),
 * and a malformed value fails with a message naming the field.
 */
object CommandCodec {

  /** JSON string literal with escaping of quotes, backslashes and every
   *  control character — the one escape behind every string on the wire. */
  def q(s: String): String = {
    val b = new StringBuilder("\"")
    Option(s).getOrElse("").foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append("\"").toString
  }

  /** A decoded command message: the typed command, the envelope's
   *  identity fields, and the Series-naming hints its `val` carries. */
  final case class Command(payload: Cmd, uid: String, corid: String,
      measurement: String, groupByTag: String) { def msgType: String = payload.wireType }

  private def str(v: JValue, d: String = ""): String = v match {
    case JString(s) => s
    case JNull | JNothing => d
    case other => other.values.toString
  }
  private def int(v: JValue, d: Int): Int = v match {
    case JInt(n) => n.toInt
    case JLong(n) => n.toInt
    case JDouble(n) => n.toInt
    case JNull | JNothing => d
    case JString(s) => s.toInt
    case other => throw new IllegalArgumentException(s"not an int: $other")
  }
  private def long(v: JValue, d: Long): Long = v match {
    case JInt(n) => n.toLong
    case JLong(n) => n
    case JDouble(n) => n.toLong
    case JNull | JNothing => d
    case JString(s) => s.toLong
    case other => throw new IllegalArgumentException(s"not a long: $other")
  }
  private def dbl(v: JValue, d: Double): Double = v match {
    case JDouble(n) => n
    case JInt(n) => n.toDouble
    case JLong(n) => n.toDouble
    case JDecimal(n) => n.toDouble
    case JNull | JNothing => d
    case other => throw new IllegalArgumentException(s"not a double: $other")
  }
  private def bool(v: JValue, d: Boolean): Boolean = v match {
    case JBool(b) => b
    case JNull | JNothing => d
    case other => throw new IllegalArgumentException(s"not a bool: $other")
  }
  private def strSeq(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.map(str(_))
    case JNull | JNothing => Nil
    case other => throw new IllegalArgumentException(s"not a string array: $other")
  }
  private def longSeq(v: JValue): Seq[Long] = v match {
    // elements are STRICT (no null→0 default): these arrays carry
    // destructive-command id sets (cmd.tsdb.erase_index_ids), and a
    // malformed [1, null, 3] must fail loudly, not erase id 0
    case JArray(xs) => xs.map {
      case JNull | JNothing => throw new IllegalArgumentException(
        "null element in long array")
      case x => long(x, 0L)
    }
    case JNull | JNothing => Nil
    case other => throw new IllegalArgumentException(s"not a long array: $other")
  }
  private def objMap[T](v: JValue)(f: JValue => T): Map[String, T] = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> f(x) }.toMap
    case JNull | JNothing => Map.empty
    case other => throw new IllegalArgumentException(s"not an object: $other")
  }

  /** First present (non-null) field among aliases — the wire-parity
   *  seam: the reference's payloads are snake_case for the query/write
   *  surface (api/types.go:9-34 — proc_id, measurement_name,
   *  data_function, relative_time, group_by_time, fill_type, dev_types;
   *  docs/api:449-477 examples confirm) and Go-default EXPORTED field
   *  names (ID, Name, BatchMaxSize, ...) for the untagged config
   *  structs (integration/tsdb/model.go:51-108). Decoding camelCase
   *  only — the round-10 shape — silently defaulted every reference
   *  field to "" and returned a WRONG result instead of an error. */
  private def field(v: JValue, names: String*): JValue =
    names.iterator.map(v \ _)
      .find(j => j != JNothing && j != JNull).getOrElse(JNothing)

  private def filters(v: JValue): DataPointsFilter = DataPointsFilter(
    tags = objMap(v \ "tags")(str(_)),
    devices = strSeq(v \ "devices"),
    locations = strSeq(v \ "locations"),
    devTypes = strSeq(field(v, "devTypes", "dev_types")))

  private def getDataPoints(v: JValue): Cmd.GetDataPointsRequest =
    Cmd.GetDataPointsRequest(
      procId = procId(v),
      fieldName = str(field(v, "fieldName", "field_name")),
      dataFunction = str(field(v, "dataFunction", "data_function")),
      transformFunction = str(field(v, "transformFunction", "transform_function")),
      measurementName = str(field(v, "measurementName", "measurement_name")),
      relativeTime = str(field(v, "relativeTime", "relative_time")),
      fromTime = str(field(v, "fromTime", "from_time")),
      toTime = str(field(v, "toTime", "to_time")),
      groupByTime = str(field(v, "groupByTime", "group_by_time")),
      groupByTag = str(field(v, "groupByTag", "group_by_tag")),
      fillType = str(field(v, "fillType", "fill_type")),
      filters = filters(v \ "filters"),
      asOfPin = str(field(v, "asOfPin", "as_of_pin")))

  /** The reference MDataPoint.ts is an int64 epoch with 0 meaning
   *  "server sets time" (api/types.go:27; the docs/api write example
   *  sends `"ts": 0`) — so a JSON number decodes as epoch seconds
   *  (or millis when it is plainly too large for seconds, ≥ 1e11:
   *  epoch seconds stay below that until the year 5138), 0 → `now`.
   *  ISO-8601 strings remain accepted for richer clients. */
  private def pointTs(v: JValue, now: () => java.time.Instant): java.sql.Timestamp = {
    val inst = v match {
      case JInt(_) | JLong(_) | JDouble(_) =>
        val n = long(v, 0L)
        if (n == 0L) now()
        else if (n >= 100000000000L) java.time.Instant.ofEpochMilli(n)
        else java.time.Instant.ofEpochSecond(n)
      case JNull | JNothing => now()
      case s => java.time.Instant.parse(str(s))
    }
    java.sql.Timestamp.from(inst)
  }

  private def eraseIndexIds(v: JValue): Cmd.EraseIndexIdsRequest =
    Cmd.EraseIndexIdsRequest(
      procId = procId(v),
      ids = longSeq(v \ "ids"),
      ivf = strSeq(field(v, "ivf", "ivf_paths")),
      minhash = strSeq(field(v, "minhash", "minhash_paths")),
      bm25 = strSeq(field(v, "bm25", "bm25_paths")))

  private def tier(v: JValue): Tier =
    Tier(str(v \ "name"), str(v \ "retention"), str(v \ "resolution"))

  private def writePoint(v: JValue, now: () => java.time.Instant): Cmd.WritePoint =
    Cmd.WritePoint(
      name = str(v \ "name"),
      tags = objMap(v \ "tags")(str(_)),
      fields = objMap(v \ "fields")(dbl(_, 0.0)),
      ts = pointTs(v \ "ts", now))

  /** The reference's ProcessConfig/Filter/Selector structs carry no
   *  json tags, so Go marshals their EXPORTED names verbatim —
   *  accepted here as fallbacks. SaveInterval is a time.Duration
   *  (int64 NANOSECONDS on a Go wire); values ≥ 1e7 are taken as ns
   *  and scaled to ms (no real save interval is ≥ 2.7 h in ms or
   *  < 10 ms in ns, so the split is unambiguous). */
  private def saveIntervalMs(v: JValue, d: Long): Long = {
    val n = long(v, d)
    if (n >= 10000000L) n / 1000000L else n
  }

  private def processConfig(v: JValue): ProcessConfig = ProcessConfig(
    id = int(field(v, "id", "ID"), 0),
    name = str(field(v, "name", "Name")),
    batchMaxSize = int(field(v, "batchMaxSize", "BatchMaxSize"), 1000),
    saveIntervalMs = saveIntervalMs(
      field(v, "saveIntervalMs", "SaveInterval"), 5000L),
    siteId = str(field(v, "siteId", "SiteId")),
    profile = str(field(v, "profile", "Profile"), Tier.ProfileOptimized),
    autostart = bool(field(v, "autostart", "Autostart"), d = false))

  private def procId(v: JValue): Int = int(field(v, "procId", "proc_id"), 1)

  private type Decoder = (JValue, () => java.time.Instant) => Cmd
  private def on(wireType: String)(d: Decoder): (String, Decoder) = wireType -> d

  /** The one place a wire name selects a command: each message type the
   *  transport accepts, with the decoder of its `val`. */
  private val decoders: Map[String, Decoder] = (Seq(
    on("cmd.tsdb.get_data_points")((v, _) => Cmd.GetDataPoints(getDataPoints(v))),
    on("cmd.tsdb.get_energy_data_points")((v, _) =>
      Cmd.GetEnergyDataPoints(getDataPoints(v))),
    on("cmd.tsdb.delete_data_points")((v, _) => Cmd.DeleteDataPoints(getDataPoints(v))),
    on("cmd.tsdb.verify_tier_erasure")((v, _) => Cmd.VerifyTierErasure(getDataPoints(v))),
    on("cmd.tsdb.write_data_points")((v, now) => Cmd.WriteDataPointsRequest(
      procId = procId(v), bucket = str(v \ "bucket"),
      dp = (v \ "dp") match {
        case JArray(xs) => xs.map(writePoint(_, now))
        case _ => throw new IllegalArgumentException("write: 'dp' must be an array")
      })),
    on("cmd.tsdb.compact")((v, _) => Cmd.CompactRequest(
      procId = procId(v), tier = str(v \ "tier"),
      targetFileBytes = long(v \ "targetFileBytes", 128L * 1024 * 1024),
      minFiles = int(v \ "minFiles", 4),
      clusterBy = strSeq(v \ "clusterBy"),
      zorder = bool(v \ "zorder", d = false),
      retainHistory = bool(v \ "retainHistory", d = false))),
    on("cmd.tsdb.erase_index_ids")((v, _) => Cmd.EraseIndexIds(eraseIndexIds(v))),
    on("cmd.tsdb.verify_erasure")((v, _) => Cmd.VerifyErasure(eraseIndexIds(v))),
    on("cmd.tsdb.vacuum")((v, _) => Cmd.VacuumRequest(
      procId = procId(v), tier = str(v \ "tier"),
      foldBatchMarkers = bool(v \ "foldBatchMarkers", d = true))),
    on("cmd.tsdb.run_maintenance")((v, _) => Cmd.MaintenanceRequest(
      procId = procId(v), sinceDays = int(v \ "sinceDays", 3),
      retainHistory = bool(v \ "retainHistory", d = false))),
    on("cmd.tsdb.backfill")((v, _) => Cmd.BackfillRequest(
      procId = procId(v), fromDate = str(v \ "fromDate"),
      toDate = str(v \ "toDate"),
      retainHistory = bool(v \ "retainHistory", d = false))),
    on("cmd.tsdb.verify_rollup")((v, _) => Cmd.VerifyRollupRequest(
      procId = procId(v), fromDate = str(v \ "fromDate"),
      toDate = str(v \ "toDate"), tolerance = dbl(v \ "tolerance", 1e-6))),
    on("cmd.tsdb.diff_data_points")((v, _) => Cmd.DiffRequest(
      procId = procId(v), tier = str(v \ "tier"),
      fromPin = str(field(v, "fromPin", "from_pin")),
      toPin = str(field(v, "toPin", "to_pin")))),
    on("cmd.tsdb.query")((v, _) => v match {
      case JString(sql) => Cmd.Query(sql)
      case o => Cmd.Query(str(o \ "sql"), Some(procId(o)))
    }),
    on("cmd.ecprocess.add")((v, _) => Cmd.AddProcess(
      if (v == JNothing || v == JNull) None else Some(processConfig(v)))),
    on("cmd.ecprocess.ctrl")((v, _) => Cmd.Ctrl(procId(v), str(v \ "op"))),
    on("cmd.ecprocess.update_config")((v, _) => Cmd.UpdateConfig(processConfig(v))),
    on("cmd.log.set_level")((v, _) => Cmd.SetLogLevel(str(v))),
    on("cmd.tsdb.add_retention_policy")((v, _) => Cmd.AddRetentionPolicy(tier(v))),
    on("cmd.tsdb.update_retention_policy")((v, _) => Cmd.UpdateRetentionPolicy(tier(v))),
    on("cmd.tsdb.add_cq")((v, _) => Cmd.AddCq(str(v \ "name"), str(v \ "src"),
      str(v \ "target"), str(v \ "every"))),
    on("cmd.tsdb.delete_object")((v, _) =>
      Cmd.DeleteObject(str(v \ "objectType"), str(v \ "name"))),
    on("cmd.tsdb.add_filter")((v, _) => Cmd.AddFilter(Filter(
      id = int(field(v, "id", "ID"), 0), name = str(field(v, "name", "Name")),
      topic = str(field(v, "topic", "Topic")),
      domain = str(field(v, "domain", "Domain")),
      service = str(field(v, "service", "Service")),
      msgType = str(field(v, "msgType", "MsgType")),
      negation = bool(field(v, "negation", "Negation"), d = false),
      linkedFilterBooleanOperation = str(field(v,
        "linkedFilterBooleanOperation", "LinkedFilterBooleanOperation")),
      linkedFilterId = int(field(v, "linkedFilterId", "LinkedFilterID"), 0),
      isAtomic = bool(field(v, "isAtomic", "IsAtomic"), d = true),
      tags = objMap(field(v, "tags", "Tags"))(str(_)),
      measurementId = str(field(v, "measurementId", "MeasurementID"))))),
    on("cmd.tsdb.remove_filter")((v, _) => Cmd.RemoveFilter(int(v, 0))),
    on("cmd.tsdb.add_selector")((v, _) => Cmd.AddSelector(Selector(
      id = int(field(v, "id", "ID"), 0),
      topic = str(field(v, "topic", "Topic")),
      inMemory = bool(field(v, "inMemory", "InMemory"), d = false)))),
    on("cmd.tsdb.remove_selector")((v, _) => Cmd.RemoveSelector(int(v, 0)))) ++
    // payload-free commands
    Seq(Cmd.GetList, Cmd.ResetToDefault, Cmd.CheckStorage, Cmd.GetMeasurements,
      Cmd.GetRetentionPolicies, Cmd.GetCqs, Cmd.GetConfigs, Cmd.GetFilters,
      Cmd.GetSelectors).map(c => on(c.wireType)((_, _) => c))).toMap

  /** Every message type [[decode]] accepts. */
  private[graft] def wireTypes: Set[String] = decoders.keySet

  /** Decode one command message. Throws IllegalArgumentException on a
   *  malformed envelope or an unknown command type — the transport
   *  reports it through the standard error envelope. `now` supplies the
   *  server-side timestamp for `"ts": 0` write points (injectable for
   *  deterministic tests). */
  def decode(json: String,
      now: () => java.time.Instant = () => java.time.Instant.now()): Command = {
    val env = JsonMethods.parse(json)
    val msgType = str(env \ "type")
    require(msgType.nonEmpty, "command message has no 'type'")
    val decoder = decoders.getOrElse(msgType,
      throw new IllegalArgumentException(s"unknown command: $msgType"))
    val v = env \ "val"
    Command(decoder(v, now), str(env \ "uid"), str(env \ "corid"),
      measurement = str(field(v, "measurementName", "measurement_name")),
      groupByTag = str(field(v, "groupByTag", "group_by_tag")))
  }
}
