package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Device-metadata enrichment dimension
 * (reference: src/metadata/interface.go:7-20, file_store.go:33-47,
 * vinc_store.go:34-61; applied at process.go:141-146).
 *
 * The reference looks each message's topic up in an in-memory map after
 * normalizing it (stripping the `pt:j1/mt:evt` / `pt:j1/mt:cmd` envelope
 * prefix). At Spark scale the same thing is a BROADCAST left join of the
 * (tiny — one row per device) dimension onto the event stream: no shuffle
 * of the 100 TB fact side, metadata miss tolerated as nulls.
 */
object MetadataStore {

  /** Topic → normalized service address (vinc_store.go:37-39). */
  def normalizeTopic(topic: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    regexp_replace(topic, "^pt:j1/mt:(evt|cmd)", "")

  /** Load the file-store JSON format (file_store.go:16-27) as the dimension. */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)
      .select(
        col("Address").as("address"),
        col("DeviceID").cast("int").as("device_id"),
        col("LocationID").cast("int").as("location_id"),
        col("DeviceType").as("device_type"))

  /**
   * Enrich events with dev_id / location_id / dev_type string tags
   * (getDefaultTags seeding, transform.go:353-371: ints rendered as
   * strings, absent metadata → empty handled downstream).
   */
  def enrich(events: DataFrame, metadata: DataFrame): DataFrame = {
    val dim = broadcast(metadata.select(
      col("address"),
      col("device_id").cast("string").as("dev_id"),
      col("location_id").cast("string").as("location_id"),
      col("device_type").as("dev_type")))
    events
      .withColumn("_addr", normalizeTopic(col("topic")))
      .join(dim, col("_addr") === dim("address"), "left")
      .drop("_addr", "address")
  }

  /**
   * Refreshable metadata dimension — the reference's periodic site-cache
   * reload (vinc_store.go:25 `ReloadSiteToCache(30)`, tpflow_store
   * equivalent): metadata edited while the ingest stream runs is picked
   * up on the next refresh interval. The loader runs on the DRIVER once
   * per interval (the dimension is one row per device — tiny); each
   * micro-batch enriches against the freshest cached frame, so a device
   * moved to a new room mid-stream tags correctly from the next batch.
   */
  final class Provider(load: () => DataFrame, refreshIntervalMs: Long,
      clock: () => Long = () => System.currentTimeMillis()) {
    @volatile private var cached: (Long, DataFrame) = (Long.MinValue, null)
    def current(): DataFrame = {
      val (at, df) = cached
      val now = clock()
      if (df == null || now - at >= refreshIntervalMs) {
        val fresh = load()
        cached = (now, fresh)
        fresh
      } else df
    }
  }

  // ------------------------------------------------------------------
  // Transport payload shapes. The reference's other two metadata stores
  // differ from the file store only in TRANSPORT (an MQTT
  // request/response fetching the same kind of document); the engine is
  // transport-agnostic by design, so the capability is parsing the
  // payloads those transports deliver. Point the loaders at wherever the
  // fetched document lands (file, object store); wrap in a Provider for
  // the periodic re-sync.
  // ------------------------------------------------------------------

  import org.apache.spark.sql.types._

  private val vincSiteSchema = StructType(Seq(
    StructField("devices", ArrayType(StructType(Seq(
      StructField("id", LongType),
      StructField("room", LongType),
      StructField("type", MapType(StringType, StringType)),
      StructField("services", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("addr", StringType),
        StructField("address", StringType)))))))))))

  /**
   * Vinculum site-response shape (vinc_store.go:34-61; the primefimp
   * site document): `devices[]` with id, room, a `type{type,subtype}`
   * map and per-service addresses. One dimension row per service
   * address; `device_type` is composed as `type[.subtype]` exactly like
   * the reference's composeType (vinc_store.go:111-123, "" when untyped).
   */
  def loadVincSite(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).schema(vincSiteSchema).json(path)
      .select(explode(col("devices")).as("d"))
      .select(
        col("d.id").cast("int").as("device_id"),
        col("d.room").cast("int").as("location_id"),
        concat_ws(".", element_at(col("d.type"), "type"),
          element_at(col("d.type"), "subtype")).as("device_type"),
        explode(col("d.services")).as("s"))
      .select(
        coalesce(col("s.addr"), col("s.address")).as("address"),
        col("device_id"), col("location_id"), col("device_type"))

  private val tpRegSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("address", StringType),
    StructField("integr_id", StringType),
    StructField("container_id", LongType),
    StructField("container_type", StringType),
    StructField("location_id", LongType)))

  /**
   * Tpflow registry-response shape (tp_store.go:10-17,44-50
   * `cmd.registry.get_services` reply): an array of TpRegService
   * records; DeviceID = container_id, no device type (the reference
   * leaves it empty too).
   */
  def loadTpRegistry(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).schema(tpRegSchema).json(path)
      .select(
        col("address"),
        col("container_id").cast("int").as("device_id"),
        col("location_id").cast("int").as("location_id"),
        lit(null).cast("string").as("device_type"))

  /** Tpflow-registry-shape provider. */
  def tpProvider(spark: SparkSession, path: String,
      refreshIntervalMs: Long = 30000): Provider =
    new Provider(() => loadTpRegistry(spark, path), refreshIntervalMs)

  /**
   * Device → group maps for post-query regrouping
   * (reference: vinc_store.go:63-109 GetDevicesGroupedByLocation/Type;
   * consumed by the dead qframe path, processing/data_frames.go:372-439).
   * Returns (dev_id, group) pairs derived from the dimension.
   */
  def devicesGroupedBy(metadata: DataFrame, by: String): DataFrame = {
    val groupCol = by match {
      case "location" => col("location_id").cast("string")
      case "type" => col("device_type")
      case other => throw new IllegalArgumentException(s"unknown grouping: $other")
    }
    metadata.select(col("device_id").cast("string").as("dev_id"), groupCol.as("group"))
  }
}
