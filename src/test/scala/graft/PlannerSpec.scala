package graft

import java.time.Instant
import java.sql.Timestamp

import graft.model.{DataPointsFilter, DataPointsRequest, Tier}
import graft.query.{Planner, TierPolicy}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Query planner + tier policy (reference: influxdb_v1.go:97-264,
 *  mapping.go). */
class PlannerSpec extends SparkSpec {

  private val now = Instant.parse("2024-01-02T00:00:00Z")

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType),
    StructField("location_id", StringType), StructField("dev_type", StringType)))

  private def pts(rows: (String, Long, Double, String)*): DataFrame = {
    val rs = rows.map { case (m, sec, v, dev) =>
      Row(m, new Timestamp(sec * 1000), v, dev, "1", "sensor") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  // --- tier policy (mapping.go:28-45,63-103,146-168) ---

  test("tier by elapsed time") {
    import TierPolicy._
    assert(resolveByElapsedMinutes(60, Tier.ProfileOptimized) == Tier.GenRaw)
    assert(resolveByElapsedMinutes(2 * DayMinutes, Tier.ProfileOptimized) == Tier.GenDay)
    assert(resolveByElapsedMinutes(2 * WeekMinutes, Tier.ProfileOptimized) == Tier.GenWeek)
    assert(resolveByElapsedMinutes(2 * MonthMinutes, Tier.ProfileOptimized) == Tier.GenMonth)
    assert(resolveByElapsedMinutes(13 * MonthMinutes, Tier.ProfileOptimized) == Tier.GenYear)
    // non-optimized profile always raw
    assert(resolveByElapsedMinutes(13 * MonthMinutes, "simple") == Tier.GenRaw)
  }

  test("tier by requested bucket and refinement rule (influxdb_v1.go:127-137)") {
    import TierPolicy._
    assert(resolveByTimeGroup("1d", Tier.ProfileOptimized) == Tier.GenYear)
    assert(resolveByTimeGroup("1h", Tier.ProfileOptimized) == Tier.GenMonth)
    assert(resolveByTimeGroup("10m", Tier.ProfileOptimized) == Tier.GenWeek)
    assert(resolveByTimeGroup("1m", Tier.ProfileOptimized) == Tier.GenDay)
    // 2-day relative window, 1h buckets, mean → refined to gen_month
    assert(resolveQueryTier("sensor_temp", Tier.ProfileOptimized, None, "2d", "1h",
      "mean", now) == Tier.GenMonth)
    // non-mean function → no refinement
    assert(resolveQueryTier("sensor_temp", Tier.ProfileOptimized, None, "2d", "1h",
      "max", now) == Tier.GenDay)
    // low-frequency measurement → gen_default regardless
    assert(resolveQueryTier("app_event", Tier.ProfileOptimized, None, "2d", "1h",
      "mean", now) == Tier.GenDefault)
  }

  test("relative duration parsing incl. reference's contains-order quirk") {
    import TierPolicy._
    assert(relativeToMinutes("90m") == 90)
    assert(relativeToMinutes("2h") == 120)
    assert(relativeToMinutes("1d") == 1440)
    assert(relativeToMinutes("2w") == 20160)
    assert(relativeToMinutes("") == 0)
  }

  test("high-frequency classifier (mapping.go:156-168)") {
    import TierPolicy._
    assert(isHighFrequency("electricity_meter_power"))
    assert(isHighFrequency("sensor_temp.evt.sensor.report"))
    assert(!isHighFrequency("sensor_presence.evt.sensor.report"))
    assert(!isHighFrequency("thermostat.cmd.setpoint.set"))
    assert(resolveWriteTier("electricity_meter_energy_sampled", Tier.ProfileOptimized) == Tier.GenYear)
    assert(resolveWriteTier("app_event", Tier.ProfileOptimized) == Tier.GenDefault)
  }

  test("write routing: the plan form writeTierCol agrees with the driver " +
    "form resolveWriteTier under both profiles") {
    import graft.ingest.Transform
    import org.apache.spark.sql.functions.col
    val ms = Seq(Transform.MeasPower, Transform.MeasEnergy,
      Transform.MeasEnergySampled, Transform.MeasPriceInfo,
      "sensor_presence", "sensor_contact")
    // a data column, not literals: the plan form is evaluated per row,
    // as in the routed write, rather than constant-folded
    val df = spark.createDataFrame(ms.map(Tuple1(_))).toDF("measurement")
    Seq(Tier.ProfileOptimized, Tier.ProfileSimple).foreach { profile =>
      val byPlan = df.select(col("measurement"),
          TierPolicy.writeTierCol(col("measurement"), profile))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      val byDriver = ms.map(m => m -> TierPolicy.resolveWriteTier(m, profile).name).toMap
      assert(byPlan == byDriver, s"routing forms disagree under profile $profile")
    }
  }

  // --- planner shapes ---

  private def plan(req: DataPointsRequest, df: DataFrame) =
    Planner.dataPoints(req, _ => df, now)

  test("time bucketing with fill null produces the complete spine") {
    val df = pts(("app_m", 86400 * 365 * 54 + 100, 10.0, "d1")) // within 1h of now? use relative
    val base = pts(
      ("app_m", now.getEpochSecond - 7000, 10.0, "d1"),
      ("app_m", now.getEpochSecond - 100, 20.0, "d1"))
    val out = plan(DataPointsRequest("app_m", relativeTime = "3h", groupByTime = "1h"),
      base).collect()
    // spine: floor((now-3h)/1h) .. floor(now/1h) = 4 buckets
    assert(out.length == 4)
    assert(out.count(_.isNullAt(1)) == 2)
  }

  test("fill previous carries last value; fill 0 coalesces; fill none omits") {
    val base = pts(
      ("m", now.getEpochSecond - 3 * 3600 + 10, 5.0, "d1"),
      ("m", now.getEpochSecond - 600, 7.0, "d1"))
    def run(fill: String) =
      plan(DataPointsRequest("m", relativeTime = "3h", groupByTime = "1h",
        fillType = fill), base).collect()
        .sortBy(_.getAs[Long]("time")).map(r =>
          if (r.isNullAt(1)) None else Some(r.getAs[Double]("value")))
    // spine: 21:00, 22:00, 23:00, 00:00; data at 21:00:10 (5.0) and 23:50 (7.0)
    assert(run("previous").toSeq == Seq(Some(5.0), Some(5.0), Some(7.0), Some(7.0)))
    assert(run("0").toSeq == Seq(Some(5.0), Some(0.0), Some(7.0), Some(0.0)))
    assert(run("none").length == 2)
  }

  test("group-by-tag echoes raw rows; defaults applied (influxdb_v1.go:102-114)") {
    val base = pts(
      ("m", now.getEpochSecond - 100, 5.0, "d1"),
      ("m", now.getEpochSecond - 50, 7.0, "d2"))
    val out = plan(DataPointsRequest("m", relativeTime = "1h", groupByTag = "dev_id"), base)
    assert(out.columns.toSet == Set("time", "value", "dev_id"))
    assert(out.count() == 2)
  }

  test("tag/device filters (F5) and aggregate-only shape") {
    val base = pts(
      ("m", now.getEpochSecond - 100, 5.0, "d1"),
      ("m", now.getEpochSecond - 50, 7.0, "d2"))
    val out = plan(DataPointsRequest("m", relativeTime = "1h", dataFunction = "sum",
      filters = DataPointsFilter(devices = Seq("d1"))), base).collect()
    assert(out.length == 1 && out.head.getAs[Double]("value") == 5.0)
  }

  test("transform function wrap: abs and difference (P10)") {
    val base = pts(
      ("m", now.getEpochSecond - 3600 - 100, 10.0, "d1"),
      ("m", now.getEpochSecond - 100, 4.0, "d1"))
    val out = plan(DataPointsRequest("m", relativeTime = "3h", groupByTime = "1h",
      fillType = "none", transformFunction = "difference"), base).collect()
      .sortBy(_.getAs[Long]("time"))
    assert(out.length == 2)
    assert(out.head.isNullAt(out.head.fieldIndex("value"))) // first lag is null
    assert(out.last.getAs[Double]("value") == -6.0)
  }

  test("store-backed query prunes date partitions and pushes time to the scan (F6)") {
    import graft.store.TierStore
    val root = graft.Fixtures.newDir("graft_prune").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    // 10 days of data; the query window covers 2 of them
    val base = pts((0 until 240).map { h =>
      ("app_m", Instant.parse("2024-01-01T00:00:00Z").getEpochSecond + h * 3600L, h.toDouble, "d1")
    }: _*)
    store.write(Tier.GenDefault, base)
    val out = Planner.dataPoints(
      DataPointsRequest("app_m", fromTime = "2024-01-03T00:00:00Z",
        toTime = "2024-01-04T12:00:00Z", groupByTime = "1h", dataFunction = "mean",
        fillType = "none"),
      t => store.read(t), now)
    val plan = out.queryExecution.executedPlan.toString
    // partition pruning on measurement + derived date bounds
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.contains("measurement"), plan)
    assert("PartitionFilters: \\[[^\\]]*date".r.findFirstIn(plan).isDefined, plan)
    // native timestamp predicate pushed into the parquet scan
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(time".r.findFirstIn(plan).isDefined, plan)
    // and the result is still correct: 36 hourly buckets, values match input
    val rows = out.collect().sortBy(_.getAs[Long]("time"))
    assert(rows.length == 37) // inclusive 00:00 .. 12:00 on day 4
    assert(rows.head.getAs[Double]("value") == 48.0)
  }

  test("untagged difference / fill-previous avoid global windows (scale guard)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val base = pts((0 until 50).map { i =>
      ("m", now.getEpochSecond - 5 * 3600 + i * 360, i.toDouble, "d1") }: _*)
    def globals(req: DataPointsRequest) =
      plan(req, base).queryExecution.optimizedPlan
        .collect { case w: LWindow if w.partitionSpec.isEmpty => w }
    // blocked prefix-scan paths: zero windows with an EMPTY partition spec
    assert(globals(DataPointsRequest("m", relativeTime = "6h", groupByTime = "1h",
      fillType = "none", transformFunction = "difference")).isEmpty)
    assert(globals(DataPointsRequest("m", relativeTime = "6h", groupByTime = "1h",
      fillType = "previous")).isEmpty)
    // and the blocked results match the single-window semantics exactly:
    // difference across a block boundary uses the previous block's last value
    val span = 3600L * 4096
    val t0 = (now.getEpochSecond / span) * span // block boundary
    val cross = pts(
      ("m", t0 - 1800, 10.0, "d1"), // previous block
      ("m", t0 + 1800, 17.0, "d1")) // next block
    val out = Planner.dataPoints(DataPointsRequest("m",
      fromTime = Instant.ofEpochSecond(t0 - 3600).toString,
      toTime = Instant.ofEpochSecond(t0 + 3600).toString,
      groupByTime = "1h", dataFunction = "mean", fillType = "none",
      transformFunction = "difference"), _ => cross, now)
      .collect().sortBy(_.getAs[Long]("time"))
    assert(out.length == 2)
    assert(out.head.isNullAt(out.head.fieldIndex("value")))
    assert(out.last.getAs[Double]("value") == 7.0) // crosses the block edge
    // fill-previous across a block boundary carries the earlier value
    val outFill = Planner.dataPoints(DataPointsRequest("m",
      fromTime = Instant.ofEpochSecond(t0 - 3600).toString,
      toTime = Instant.ofEpochSecond(t0 + 3600).toString,
      groupByTime = "30m", dataFunction = "mean", fillType = "previous"),
      _ => cross.filter(org.apache.spark.sql.functions.col("value") === 10.0), now)
      .collect().sortBy(_.getAs[Long]("time"))
    assert(outFill.count(r => !r.isNullAt(r.fieldIndex("value")) &&
      r.getAs[Double]("value") == 10.0) >= 3) // carried into the next block
  }

  test("fill linear interpolates gaps; untagged path stays global-window-free") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // tagged path: interpolate between 10 (21:00) and 22 (00:00 next) per tag
    val base = pts(
      ("m", now.getEpochSecond - 3 * 3600 + 10, 10.0, "d1"),
      ("m", now.getEpochSecond - 60, 22.0, "d1"))
    val out = plan(DataPointsRequest("m", relativeTime = "3h", groupByTime = "1h",
      fillType = "linear", groupByTag = "dev_id"), base).collect()
      .sortBy(_.getAs[Long]("time"))
      .map(r => if (r.isNullAt(r.fieldIndex("value"))) None
        else Some(r.getAs[Double]("value")))
    // buckets 21(10), 22(interp 16), 23(22), 00(after last → null)
    assert(out.toSeq == Seq(Some(10.0), Some(16.0), Some(22.0), None))
    // untagged: same result, and no unpartitioned window in the plan
    val dfU = plan(DataPointsRequest("m", relativeTime = "3h", groupByTime = "1h",
      fillType = "linear"), base)
    assert(dfU.queryExecution.optimizedPlan
      .collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty)
    val outU = dfU.collect().sortBy(_.getAs[Long]("time"))
      .map(r => if (r.isNullAt(r.fieldIndex("value"))) None
        else Some(r.getAs[Double]("value")))
    assert(outU.toSeq == Seq(Some(10.0), Some(16.0), Some(22.0), None))
    // interpolation across a BLOCK boundary (blockFactor buckets apart
    // is impractical to build here; instead verify edge nulls): points
    // only in the middle → leading/trailing spine rows stay null
    val mid = pts(("m", now.getEpochSecond - 2 * 3600, 5.0, "d1"))
    val edges = plan(DataPointsRequest("m", relativeTime = "3h", groupByTime = "1h",
      fillType = "linear"), mid).collect().sortBy(_.getAs[Long]("time"))
    assert(edges.count(r => r.isNullAt(r.fieldIndex("value"))) == 3) // only its own bucket non-null
  }

  test("asof join: latest right row at-or-before each left row, per key") {
    import spark.implicits._
    import graft.query.AsofJoin
    val left = Seq(
      ("e1", "u1", 100L), ("e2", "u1", 200L), ("e3", "u1", 250L),
      ("e4", "u2", 100L), ("e5", "u2", 99L), ("e6", "u3", 500L)
    ).toDF("event_id", "user_id", "t")
    val right = Seq(
      ("u1", 100L, 1.0),  // equal timestamp: visible to e1 (<= semantics)
      ("u1", 240L, 2.0),  // after e2, before e3
      ("u2", 100L, 9.0),  // after e5 → e5 gets null
      ("u4", 1L, 7.0)     // key with no left rows
    ).toDF("user_id", "t", "v")
    val out = AsofJoin.asofJoin(left, right, "user_id", "t", Seq("v"))
      .select("event_id", "asof_v").as[(String, Option[Double])]
      .collect().toMap
    assert(out == Map(
      "e1" -> Some(1.0), "e2" -> Some(1.0), "e3" -> Some(2.0),
      "e4" -> Some(9.0), "e5" -> None, "e6" -> None))
    // left columns all preserved; window is keyed (no global sort)
    val full = AsofJoin.asofJoin(left, right, "user_id", "t", Seq("v"))
    assert(full.columns.toSeq == Seq("event_id", "user_id", "t", "asof_v"))
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    assert(full.queryExecution.optimizedPlan
      .collect { case w: LWindow if w.partitionSpec.isEmpty => w }.isEmpty)
  }

  test("bucketed asof join ≡ plain asof join (hot-key sharding is invisible)") {
    import spark.implicits._
    import graft.query.AsofJoin
    val rnd = new scala.util.Random(42)
    val left = (1 to 300).map(i =>
      (s"e$i", s"k${rnd.nextInt(5)}", rnd.nextInt(10000).toLong))
      .toDF("event_id", "user_id", "t")
    // unique (key, time) on the right, per the asof contract
    val right = rnd.shuffle((0 until 5).flatMap(k =>
        rnd.shuffle((0 until 10000).toList).take(40).map(t =>
          (s"k$k", t.toLong, rnd.nextDouble()))))
      .toDF("user_id", "t", "v")
    val plain = AsofJoin.asofJoin(left, right, "user_id", "t", Seq("v"))
      .select("event_id", "asof_v").as[(String, Option[Double])].collect().toMap
    for (span <- Seq(100L, 977L, 100000L)) { // many buckets, odd span, one bucket
      val bucketed = AsofJoin.asofJoinBucketed(left, right, "user_id", "t",
        Seq("v"), bucketSpan = span)
        .select("event_id", "asof_v").as[(String, Option[Double])].collect().toMap
      assert(bucketed == plain, s"span $span diverged")
    }
  }

  test("energy preset: invalid group_by_time forced to 1h (influxdb_v1.go:215-217)") {
    val base = pts(("electricity_meter_energy_sampled", now.getEpochSecond - 100, 5.0, "d1"))
    // note "25h" WOULD pass the reference's 1-2-digit regex; "abc" does not
    val out = Planner.energyDataPoints("2h", "", "", "abc", "dev_id",
      DataPointsFilter(), _ => base, now)
    // forced 1h buckets over 2h relative → 3 spine rows for the one device
    assert(out.count() == 3)
  }
}
