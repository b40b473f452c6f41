package graft

import java.sql.Timestamp

import graft.api.{Api, Cmd}
import graft.model.Tier
import graft.rollup.Downsampler
import graft.store.TierStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-10 hardening: null-aggregate-safe rollup audits, and the
 *  erasure command's vacuum gated on the predicate actually touching
 *  the tier (current rows OR retained history) — a typo'd erasure must
 *  not destroy every as-of pin tier-wide. */
class Round10OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = graft.Fixtures
    .newDir("graft_r10").toFile.getAbsolutePath

  private def pts(vs: (String, String, Option[Double])*): DataFrame =
    vs.map { case (d, dev, v) =>
      ("sensor_click", Timestamp.valueOf(s"$d 10:00:00"), v, dev, "1", "sensor")
    }.toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type")

  test("verifyRollups: a legitimately NULL aggregate value counts as a " +
    "matched key, not a missing/extra pair; NULL-vs-value still mismatches") {
    val store = new TierStore(spark, tmpDir())
    // device 1 carries values, device 2 carries ONLY nulls — its daily
    // avg is legitimately NULL and must audit clean
    store.writeRouted(pts(("2024-01-01", "1", Some(10.0)),
      ("2024-01-01", "2", None), ("2024-01-02", "1", Some(20.0))))
    Downsampler.backfill(store, "2024-01-01", "2024-01-02")
    val hop = Seq(Tier.cascade.head)
    def report(): Map[String, (Long, Long, Long, Long, Long)] =
      Downsampler.verifyRollups(store, "2024-01-01", "2024-01-02", hops = hop)
        .collect().map(r => r.getAs[String]("date") ->
          ((r.getAs[Long]("n_expected"), r.getAs[Long]("n_actual"),
            r.getAs[Long]("n_missing"), r.getAs[Long]("n_extra"),
            r.getAs[Long]("n_value_mismatch")))).toMap
    assert(report() == Map(
      "2024-01-01" -> ((2L, 2L, 0L, 0L, 0L)),
      "2024-01-02" -> ((1L, 1L, 0L, 0L, 0L))),
      "a NULL rollup value must audit as present and matched")

    // corrupt device 2's stored NULL into a value: null-safe comparison
    // must flag a VALUE MISMATCH (key still matched, nothing extra)
    val corrupted = store.read(Tier.GenDay).drop("date")
      .withColumn("value", when(col("dev_id") === "2" &&
        to_date(col("time")) === "2024-01-01", lit(99.0))
        .otherwise(col("value")))
    store.replaceDatePartitions(Tier.GenDay, corrupted,
      Seq("2024-01-01", "2024-01-02"))
    assert(report()("2024-01-01") == ((2L, 2L, 0L, 0L, 1L)),
      "stored value where NULL was recomputed must be a value mismatch")
  }

  test("erasure vacuums history only when the predicate touched the " +
    "tier: a typo'd device id leaves every as-of pin intact") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "7", Some(100.0)),
      ("2024-01-01", "8", Some(300.0))))
    val ctx = Api.Context(spark, store,
      now = () => java.time.Instant.parse("2024-01-02T00:00:00Z"))
    Downsampler.maintain(store, java.time.Instant.parse("2024-01-02T00:00:00Z"),
      retainHistory = true)
    val pinned = store.pinNow() // logical: no clock, no sleep
    // second maintain creates superseded snapshots the pin resolves to
    Downsampler.maintain(store, java.time.Instant.parse("2024-01-02T00:00:00Z"),
      retainHistory = true)

    def devsAsOf(t: Tier): Set[String] =
      store.readAsOf(t, pinned).select("dev_id").as[String].collect().toSet
    assert(devsAsOf(Tier.GenDay) == Set("7", "8"))

    // the typo: device "nope" never existed — nothing rewritten, and
    // crucially NOTHING vacuumed: the pin must survive
    val res = Api.dispatch(ctx,
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "sensor_click",
        filters = graft.model.DataPointsFilter(devices = Seq("nope")))))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(res.values.forall(_ == ((0L, 0L))),
      s"typo'd erasure must rewrite and vacuum nothing: $res")
    assert(devsAsOf(Tier.GenDay) == Set("7", "8"),
      "typo'd erasure destroyed as-of pins")
  }

  test("erasure still vacuums when matches survive ONLY in retained " +
    "history (current snapshot clean, old snapshot dirty)") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "7", Some(100.0)),
      ("2024-01-01", "8", Some(300.0))))
    val now = java.time.Instant.parse("2024-01-02T00:00:00Z")
    val ctx = Api.Context(spark, store, now = () => now)
    // rollups materialize WITH device 7
    Downsampler.maintain(store, now, retainHistory = true)
    // device 7 leaves the RAW tier only; the rollup rebuild then writes
    // a clean current snapshot while history retains the dirty one
    store.deleteWhere(Tier.GenRaw, col("dev_id") === "7")
    Downsampler.maintain(store, now, retainHistory = true)
    assert(!store.read(Tier.GenDay).select("dev_id").as[String]
      .collect().contains("7"), "current rollup snapshot should be clean")
    assert(store.retainedHistoryMatches(Tier.GenDay, col("dev_id") === "7"),
      "fixture must hold device 7 in gen_day history only")

    // erasure of device 7: gen_day's deleteWhere rewrites nothing (the
    // current snapshot is clean) but history still holds the device —
    // the command must vacuum that tier anyway, or the rows stay
    // readable through readAsOf
    val res = Api.dispatch(ctx,
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "sensor_click",
        filters = graft.model.DataPointsFilter(devices = Seq("7")))))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(res("gen_day")._1 == 0L, "current gen_day snapshot was already clean")
    assert(res("gen_day")._2 >= 1L,
      s"history-only matches must still trigger the vacuum: $res")
    assert(!store.retainedHistoryMatches(Tier.GenDay, col("dev_id") === "7"),
      "device 7 still present in retained history after erasure")
  }
}
