package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import graft.model.Tier
import graft.store.{CsvSink, TierStore}
import graft.stream.Aggregator
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Tier store (S3/S5/S8/S9) and the Structured-Streaming aggregator. */
class StoreStreamSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.Fixtures.newDir("graft_store").toFile.getAbsolutePath

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType)))

  private def pts(rows: (String, String, Double)*) = {
    val rs = rows.map { case (m, day, v) =>
      Row(m, Timestamp.valueOf(s"$day 10:00:00"), v, "d1") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  test("write/read roundtrip with measurement+date partitioning") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, pts(
      ("sensor_temp", "2024-01-01", 1.0), ("sensor_temp", "2024-01-02", 2.0),
      ("sensor_hum", "2024-01-01", 3.0)))
    val back = store.read(Tier.GenRaw)
    assert(back.count() == 3)
    assert(store.measurements(Tier.GenRaw) == Seq("sensor_hum", "sensor_temp"))
    // partition pruning: measurement+date filter must prune input files
    val pruned = back.filter(col("measurement") === "sensor_temp" &&
      col("date") === "2024-01-01")
    assert(pruned.count() == 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"))
  }

  test("routing: sampled → gen_year, sensor_* → gen_raw, rest → gen_default") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(
      ("electricity_meter_energy_sampled", "2024-01-01", 1.0),
      ("sensor_temp", "2024-01-01", 2.0),
      ("thermostat.cmd.setpoint.set", "2024-01-01", 3.0)))
    assert(store.read(Tier.GenYear).count() == 1)
    assert(store.read(Tier.GenRaw).count() == 1)
    assert(store.read(Tier.GenDefault).count() == 1)
  }

  test("writeRouted executes the upstream plan exactly once (S3 single-pass)") {
    val store = new TierStore(spark, tmpDir())
    val acc = spark.sparkContext.longAccumulator("upstream_evals")
    val counted = udf { (v: Double) => acc.add(1L); v }.asNondeterministic()
    val batch = pts(
      ("electricity_meter_energy_sampled", "2024-01-01", 1.0),
      ("sensor_temp", "2024-01-01", 2.0),
      ("thermostat.cmd.setpoint.set", "2024-01-01", 3.0))
      .withColumn("value", counted(col("value")))
    store.writeRouted(batch)
    // the routed write is one partitionBy("tier", ...) pass: each input row
    // is computed once, never re-filtered per tier (was up to 2 jobs × 6
    // tiers over the unpersisted upstream plan before)
    assert(acc.value == 3)
    assert(store.read(Tier.GenYear).count() == 1)
    assert(store.read(Tier.GenRaw).count() == 1)
    assert(store.read(Tier.GenDefault).count() == 1)
  }

  test("init/drop database (S9)") {
    val root = tmpDir() + "/db"
    val store = new TierStore(spark, root)
    store.init()
    assert(new java.io.File(root, "tier=gen_raw").isDirectory)
    assert(new java.io.File(root, "tier=gen_default").isDirectory)
    store.write(Tier.GenRaw, pts(("m", "2024-01-01", 1.0)))
    store.drop()
    assert(!new java.io.File(root).exists())
  }

  test("retention expiry drops only out-of-window date partitions (S9)") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, pts(
      ("m", "2024-01-01", 1.0), ("m", "2024-03-01", 2.0)))
    store.expire(Tier.GenRaw, Instant.parse("2024-03-05T00:00:00Z")) // 2w retention
    val left = store.read(Tier.GenRaw).collect()
    assert(left.length == 1 && left.head.getAs[Double]("value") == 2.0)
  }

  test("drop measurement removes its partition tree (S9)") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, pts(("m1", "2024-01-01", 1.0), ("m2", "2024-01-01", 2.0)))
    store.dropMeasurement(Tier.GenRaw, "m1")
    assert(store.read(Tier.GenRaw).select("measurement").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("m2"))
  }

  test("rollup maintenance rebuilds tiers incrementally and is idempotent (A9/O4)") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, pts(
      ("sensor_temp", "2024-01-01", 10.0), ("sensor_temp", "2024-01-01", 20.0),
      ("sensor_temp", "2024-01-02", 30.0)))
    val now = Instant.parse("2024-01-03T00:00:00Z")
    graft.rollup.Downsampler.maintain(store, now, sinceDays = 5)
    // both points share the 10:00 minute bucket → gen_day has 2 rows
    assert(store.read(Tier.GenDay).count() == 2)
    assert(store.read(Tier.GenYear).count() == 2)
    val day1 = store.read(Tier.GenYear)
      .filter(col("date") === "2024-01-01").collect()
    assert(day1.length == 1 && day1.head.getAs[Double]("value") == 15.0)
    // idempotent: re-running must not duplicate rows
    graft.rollup.Downsampler.maintain(store, now, sinceDays = 5)
    assert(store.read(Tier.GenDay).count() == 2)
    assert(store.read(Tier.GenYear).count() == 2)
  }

  test("rollup maintenance keeps the points ingest routes straight into " +
    "gen_year (electricity_meter_energy_sampled)") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("electricity_meter_energy_sampled", "2024-01-01", 1.5),
      ("electricity_meter_power", "2024-01-01", 40.0)))
    def sampled() = store.read(Tier.GenYear)
      .filter(col("measurement") === "electricity_meter_energy_sampled")
      .collect().map(_.getAs[Double]("value")).toSeq
    assert(sampled() == Seq(1.5))
    val now = Instant.parse("2024-01-03T00:00:00Z")
    graft.rollup.Downsampler.maintain(store, now, sinceDays = 5)
    assert(sampled() == Seq(1.5),
      "the gen_month -> gen_year hop retired an ingest-written partition")
    // the power point still rolls up beside it
    assert(store.read(Tier.GenYear).count() == 2)
    graft.rollup.Downsampler.backfill(store, "2024-01-01", "2024-01-01")
    assert(sampled() == Seq(1.5))
    // and the rollup audit does not count it as a stray rollup row
    val audit = graft.rollup.Downsampler.verifyRollups(store, "2024-01-01",
      "2024-01-01", hops = Seq(Tier.GenMonth -> Tier.GenYear)).collect()
    assert(audit.nonEmpty && audit.forall(r =>
      r.getAs[Long]("n_extra") == 0L && r.getAs[Long]("n_missing") == 0L),
      audit.mkString("; "))
  }

  test("under the simple profile, rollup maintenance still carries " +
    "electricity_meter_energy_sampled into gen_year through the cascade") {
    import graft.api.{Api, Cmd}
    val store = new TierStore(spark, tmpDir())
    // the simple profile routes both points to gen_raw; gen_year is
    // reached only by the cascade, which the energy queries read
    store.writeRouted(pts(("electricity_meter_energy_sampled", "2024-01-01", 1.5),
      ("electricity_meter_power", "2024-01-01", 40.0)), Tier.ProfileSimple)
    assert(store.read(Tier.GenYear).count() == 0)
    val ctx = Api.Context(spark, store, profile = Tier.ProfileSimple,
      now = () => Instant.parse("2024-01-03T00:00:00Z"))
    def sampled() = store.read(Tier.GenYear)
      .filter(col("measurement") === "electricity_meter_energy_sampled")
      .collect().map(_.getAs[Double]("value")).toSeq
    Api.dispatch(ctx,
      Cmd.MaintenanceRequest(sinceDays = 5)).collect()
    assert(sampled() == Seq(1.5), "the cascade did not publish the rollup")
    assert(store.read(Tier.GenYear).count() == 2)
    // a backfill recomputes the same rollup rather than skipping it
    store.write(Tier.GenRaw, pts(("electricity_meter_energy_sampled", "2024-01-01", 2.5)))
    Api.dispatch(ctx,
      Cmd.BackfillRequest(fromDate = "2024-01-01", toDate = "2024-01-01")).collect()
    assert(sampled() == Seq(2.0), "backfill did not replace the stale rollup")
    // and the audit compares the rollup rather than leaving it out
    val audit = Api.dispatch(ctx,
      Cmd.VerifyRollupRequest(fromDate = "2024-01-01", toDate = "2024-01-01"))
      .filter(col("tier") === "gen_year").collect()
    assert(audit.map(_.getAs[String]("measurement")).toSet ==
      Set("electricity_meter_energy_sampled", "electricity_meter_power"))
    assert(audit.forall(r => r.getAs[Long]("n_expected") == 1L &&
      r.getAs[Long]("n_actual") == 1L && r.getAs[Long]("n_missing") == 0L &&
      r.getAs[Long]("n_extra") == 0L), audit.mkString("; "))
  }

  test("compaction rewrites many small files into few, same rows") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    // 6 micro-batch-style appends into the same (measurement, date)
    (1 to 6).foreach(i => store.write(Tier.GenRaw, pts(("sensor_temp", "2024-01-01", i.toDouble))))
    def parquetFiles() = {
      // count through the manifest resolution: compacted data lives in
      // the partition's committed _v=N snapshot, not the dir root
      val part = new org.apache.hadoop.fs.Path(
        s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
      val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.store.SnapshotFold.resolve(fs, part)
        .count(_.getPath.getName.endsWith(".parquet"))
    }
    assert(parquetFiles() >= 6)
    val before = store.read(Tier.GenRaw).collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    val rewritten = store.compact(Tier.GenRaw, minFiles = 2)
    assert(rewritten == 1)
    assert(parquetFiles() == 1) // one target file (tiny partition)
    val after = store.read(Tier.GenRaw).collect()
      .map(_.getAs[Double]("value")).sorted.toSeq
    assert(after == before && after == Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0))
    // below-threshold partitions untouched
    assert(store.compact(Tier.GenRaw, minFiles = 2) == 0)
  }

  test("compaction rewrites many partitions in one pass, single-file threshold respected") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    val sc = spark.sparkContext
    // 3 measurements × 2 dates, 3 small appends each = 6 stale partitions;
    // one partition left below threshold
    for (i <- 1 to 3; m <- Seq("m_a", "m_b", "m_c"); day <- Seq("2024-01-01", "2024-01-02"))
      store.write(Tier.GenRaw, pts((m, day, i.toDouble)))
    store.write(Tier.GenRaw, pts(("m_solo", "2024-01-03", 9.0))) // 1 file only
    val before = store.read(Tier.GenRaw).collect()
      .map(r => (r.getAs[String]("measurement"), r.getAs[Double]("value"))).sorted.toSeq
    val jobsBefore = sc.statusTracker.getJobIdsForGroup(null).length
    assert(store.compact(Tier.GenRaw, minFiles = 3) == 6)
    val jobsUsed = sc.statusTracker.getJobIdsForGroup(null).length - jobsBefore
    // constant job count (listing/schema/broadcast/write), NOT one per
    // partition — 6 partitions must stay well under 6 jobs
    assert(jobsUsed <= 5, s"compaction of 6 partitions ran $jobsUsed jobs — must not scale with partitions")
    for (m <- Seq("m_a", "m_b", "m_c"); day <- Seq("2024-01-01", "2024-01-02")) {
      val part = new org.apache.hadoop.fs.Path(s"$root/tier=gen_raw/measurement=$m/date=$day")
      val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(graft.store.SnapshotFold.resolve(fs, part)
        .count(_.getPath.getName.endsWith(".parquet")) == 1)
    }
    val after = store.read(Tier.GenRaw).collect()
      .map(r => (r.getAs[String]("measurement"), r.getAs[Double]("value"))).sorted.toSeq
    assert(after == before)
  }

  test("streaming rollup hop tails the source tier into the next (CQ analog)") {
    import graft.rollup.Downsampler
    val store = new TierStore(spark, tmpDir())
    // hour 10:00-11:00 of minute data → gen_day (1m) windows
    store.write(Tier.GenRaw, {
      val rs = (0 until 60).map { i =>
        Row("sensor_temp", Timestamp.valueOf(f"2024-01-01 10:$i%02d:00"), i.toDouble, "d1") }
      spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
    })
    val q = Downsampler.streamingHop(store, Tier.GenRaw, Tier.GenDay,
      tmpDir(), watermark = "0 seconds")
    try {
      q.processAllAvailable() // batch 1: watermark advances to 10:59
      // a later file advances event time and triggers emission of the
      // now-finalized windows
      store.write(Tier.GenRaw, pts(("sensor_temp", "2024-01-02", 99.0)))
      q.processAllAvailable()
      val day = store.read(Tier.GenDay).collect()
      assert(day.length == 60) // next-day file put the watermark past every hour-10 window
      assert(day.forall(r => r.getAs[Double]("value") ==
        Timestamp.valueOf(r.getAs[Timestamp]("time").toString).toLocalDateTime.getMinute.toDouble))
    } finally q.stop()
  }

  test("streaming hop emits the batch downsample of every window its " +
    "watermark sealed") {
    import graft.rollup.Downsampler
    val store = new TierStore(spark, tmpDir())
    val target = new TierStore(spark, tmpDir())
    def raw(day: String, n: Int) = {
      val rs = (0 until n).map { i =>
        Row(if (i % 2 == 0) "sensor_temp" else "sensor_hum",
          Timestamp.valueOf(f"$day 10:${i / 3}%02d:${i * 7 % 60}%02d"),
          i * 1.5, s"d${i % 3}")
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
    }
    store.write(Tier.GenRaw, raw("2024-01-01", 90))
    val q = Downsampler.streamingHop(store, Tier.GenRaw, Tier.GenDay,
      tmpDir(), watermark = "0 seconds", target = Some(target))
    try {
      q.processAllAvailable()
      store.write(Tier.GenRaw, raw("2024-01-02", 3)) // seals all of day one
      q.processAllAvailable()
    } finally q.stop()
    def byKey(df: org.apache.spark.sql.DataFrame) =
      df.select("measurement", "time", "dev_id", "value").collect()
        .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)) -> r.getDouble(3))
        .toMap
    val want = byKey(Downsampler.downsample(store.read(Tier.GenRaw).drop("date"), 1)
      .filter(col("time") < Timestamp.valueOf("2024-01-02 00:00:00")))
    val got = byKey(target.read(Tier.GenDay))
    assert(want.size >= 30)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) <= 1e-6, k) }
  }

  test("streaming hop with a separate target store keeps hop output apart from routed rows") {
    import graft.rollup.Downsampler
    val store = new TierStore(spark, tmpDir())
    val target = new TierStore(spark, tmpDir())
    // the source store's OWN gen_day already holds router-placed rows —
    // the hop must not mix its windows into them
    store.write(Tier.GenDay, pts(("low_freq_m", "2024-01-01", 7.0)))
    store.write(Tier.GenRaw, pts(
      ("sensor_temp", "2024-01-01", 1.0), ("sensor_temp", "2024-01-01", 3.0)))
    val q = Downsampler.streamingHop(store, Tier.GenRaw, Tier.GenDay,
      tmpDir(), watermark = "0 seconds", target = Some(target))
    try {
      q.processAllAvailable()
      store.write(Tier.GenRaw, pts(("sensor_temp", "2024-01-02", 9.0)))
      q.processAllAvailable()
    } finally q.stop()
    val hop = target.read(Tier.GenDay).collect()
    assert(hop.nonEmpty && hop.forall(_.getAs[String]("measurement") == "sensor_temp"))
    assert(hop.exists(_.getAs[Double]("value") == 2.0)) // avg(1,3) in one window
    // source store's gen_day untouched by the hop
    val src = store.read(Tier.GenDay).collect()
    assert(src.map(_.getAs[String]("measurement")).toSet == Set("low_freq_m"))
  }

  test("CSV sink writes the fixed 11-column shape (S5, csv.go:22)") {
    val dir = tmpDir() + "/csv"
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row("m", Timestamp.valueOf("2024-01-01 10:00:00"),
        "d1", "t", "import", "11", "svc", "src", "top", 1.5, null, null, "W"))),
      StructType(Seq(
        StructField("measurement", StringType), StructField("time", TimestampType),
        StructField("dev_id", StringType), StructField("dev_type", StringType),
        StructField("dir", StringType), StructField("location_id", StringType),
        StructField("service", StringType), StructField("src", StringType),
        StructField("topic", StringType), StructField("value", DoubleType),
        StructField("value_bool", BooleanType), StructField("value_str", StringType),
        StructField("unit", StringType))))
    CsvSink.write(df, dir)
    val back = spark.read.option("header", true).csv(dir)
    assert(back.columns.toSeq == CsvSink.header)
    assert(back.count() == 1)
  }

  test("streaming aggregator emits per-series aggregates with change suppression") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Aggregator.StreamIn]
    val q = Aggregator.streaming(input.toDS())
      .writeStream.format("memory").queryName("agg_out").outputMode("append").start()
    try {
      val t = new Timestamp(1704067200000L)
      input.addData(
        Aggregator.StreamIn("s1", "m", "mean", t, 10.0, "sensor"),
        Aggregator.StreamIn("s1", "m", "mean", t, 20.0, "sensor"))
      q.processAllAvailable()
      input.addData(Aggregator.StreamIn("s1", "m", "mean", t, 15.0, "sensor"))
      q.processAllAvailable()
      val out = spark.table("agg_out").as[Aggregator.StreamOut].collect()
      // batch 1: mean(10,20)=15 emitted; batch 2: mean(15)=15 → suppressed
      assert(out.map(_.value).toSeq == Seq(15.0))
      assert(out.head.series_id == "s1")
    } finally q.stop()
  }

  test("streaming aggregator: every agg_func arm emits the same rows under " +
    "the RocksDB state store, replays identically, and keeps one state row " +
    "per series") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200L // on a 10-minute tick, so `difference` emits
    val funcs = Seq("mean", "min", "max", "sum", "last", "difference")
    val series = funcs.map(f => (s"s_$f", f, "sensor")) :+
      (("s_hourly", "difference", Aggregator.HourlyProfileDevType))
    val batches = (0 until 3).map { b =>
      val tick = base + b * 600L
      series.flatMap { case (id, f, dev) =>
        Seq(tick - 60, tick).zipWithIndex.map { case (sec, i) =>
          Aggregator.StreamIn(id, "m", f, new Timestamp(sec * 1000),
            100.0 + 3 * b * b + i * (b + 1), dev)
        }
      }
    }
    // one fresh checkpoint per run: (sorted output rows, state rows per batch)
    def run(tag: String): (Seq[Aggregator.StreamOut], Seq[Long]) = {
      val input = MemoryStream[Aggregator.StreamIn]
      val q = Aggregator.streaming(input.toDS())
        .writeStream.format("memory").queryName(s"agg_parity_$tag")
        .option("checkpointLocation", tmpDir()).outputMode("append").start()
      try batches.foreach { b => input.addData(b); q.processAllAvailable() }
      finally q.stop()
      val out = spark.table(s"agg_parity_$tag").as[Aggregator.StreamOut]
        .collect().toSeq.sortBy(o => (o.series_id, o.time.getTime, o.value))
      (out, q.recentProgress.toSeq.flatMap(_.stateOperators.map(_.numRowsTotal)))
    }
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val (hdfs, hdfsState) = run("hdfs")
    spark.conf.set(provider,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val (rocks, rocksState) =
      try run("rocks")
      finally {
        spark.conf.unset(provider)
        org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      }
    val (replay, replayState) = run("replay")

    assert(hdfs.map(_.agg_func).toSet == funcs.toSet, hdfs)
    assert(hdfs.exists(_.series_id == "s_hourly"), hdfs)
    assert(rocks == hdfs)
    assert(replay == hdfs)
    Seq(hdfsState, rocksState, replayState).foreach { st =>
      assert(st.length == batches.length, st)
      assert(st.max <= series.length && st.last == st.max, st)
    }
  }

  test("watermarked streaming window aggregation (A1 windowed form)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Aggregator.StreamIn]
    val src = input.toDF()
    val q = Aggregator.streamingWindowed(src)
      .writeStream.format("memory").queryName("win_out").outputMode("append").start()
    try {
      val base = 1704067200000L
      input.addData(
        Aggregator.StreamIn("s1", "m", "mean", new Timestamp(base), 10.0, "x"),
        Aggregator.StreamIn("s1", "m", "mean", new Timestamp(base + 10000), 20.0, "x"))
      q.processAllAvailable()
      // advance the watermark past the first window to emit it
      input.addData(
        Aggregator.StreamIn("s1", "m", "mean", new Timestamp(base + 3 * 3600 * 1000), 5.0, "x"))
      q.processAllAvailable()
      val out = spark.table("win_out").collect()
        .map(r => (r.getAs[Timestamp]("time").getTime / 1000, r.getAs[Double]("value")))
      assert(out.toSeq == Seq((1704067230L, 15.0)))
    } finally q.stop()
  }

  test("salted aggregation and join match their unsalted plans") {
    import spark.implicits._
    import graft.functions.Salting
    val df = Seq(("k1", 1.0), ("k1", 2.0), ("k1", 3.0), ("k2", 4.0))
      .toDF("k", "v")
    val salted = Salting.saltedAgg(df, Seq("k"), salt = 4,
      Map("v" -> ((c: org.apache.spark.sql.Column) => sum(c),
        (c: org.apache.spark.sql.Column) => sum(c))), saltSource = Seq("v"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(salted == Map("k1" -> 6.0, "k2" -> 4.0))
    val dim = Seq(("k1", "a"), ("k2", "b")).toDF("k", "grp")
    val joined = Salting.saltedJoin(df, dim, "k", salt = 4)
      .groupBy("grp").agg(sum("v").as("s")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(joined == Map("a" -> 6.0, "b" -> 4.0))
  }

  test("streaming exact dedup suppresses repeats across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIn]
    val q = graft.functions.Dedup.streamingExactDedup(input.toDF())
      .select("doc_id")
      .writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      val t0 = new Timestamp(1704067200000L)
      input.addData(DocIn(1L, "Hello  World", t0), DocIn(2L, "other", t0))
      q.processAllAvailable()
      // same normalized content, later batch within the watermark → dropped
      input.addData(DocIn(3L, "hello world", new Timestamp(1704067200000L + 60000)))
      q.processAllAvailable()
      val kept = spark.table("dedup_out").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming corpus cleanup: filter + dedup continuously, batch-parity filters") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DocIn]
    val q = graft.functions.Pipeline.cleanCorpusStream(input.toDF(),
        lang = "en", minQuality = 0.0)
      .select("doc_id")
      .writeStream.format("memory").queryName("clean_stream_out")
      .outputMode("append").start()
    try {
      val t0 = new Timestamp(1704067200000L)
      val en = "the quick brown fox is one of the animals that it mentions"
      val de = "der hund ist nicht mit der katze und von zu"
      input.addData(DocIn(1L, en, t0), DocIn(2L, de, t0))
      q.processAllAvailable()
      // duplicate of doc 1 inside the watermark → suppressed; fresh en doc kept
      input.addData(
        DocIn(3L, en.toUpperCase, new Timestamp(1704067200000L + 60000)),
        DocIn(4L, "it is a fine day for the fox and for the hound", t0))
      q.processAllAvailable()
      val kept = spark.table("clean_stream_out").as[Long].collect().sorted.toSeq
      assert(kept == Seq(1L, 4L)) // 2 fails lang filter, 3 is a dup of 1
    } finally q.stop()
  }

  test("streaming indexed dedup: history never forgotten, intra-batch keep-min") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val idx = graft.Fixtures.newDir("stream_idx").toString
    val ckpt = graft.Fixtures.newDir("stream_idx_ck").toString
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    val input = MemoryStream[DocIn]
    val run = "the quick brown fox jumps over the lazy dog on a sunny day"
    // compactEvery=2: the stream self-folds its index after batch 2 —
    // the in-stream maintenance hook, exercised mid-run so batch 3 must
    // query the COMPACTED index correctly (compactMinFiles=2 so the
    // two per-batch file sets qualify for the selective fold)
    val q = graft.functions.Pipeline.streamingIndexedDedup(
      input.toDF().select($"doc_id", $"text"), idx, ckpt,
      clean => seen.synchronized {
        seen ++= clean.select("doc_id").as[Long].collect()
      }, compactEvery = 2, compactMinFiles = 2)
    try {
      val t0 = new Timestamp(1704067200000L)
      // batch 1: 1 and 2 near-duplicate each other (keep-min -> 1); 3 unique
      input.addData(DocIn(1L, run, t0), DocIn(2L, run + " indeed", t0),
        DocIn(3L, "completely different prose about catalyst optimizer rules", t0))
      q.processAllAvailable()
      // batch 2: 10 duplicates batch-1's doc 1 — BEYOND any watermark,
      // caught by the disk index; 11 fresh
      input.addData(DocIn(10L, run, t0),
        DocIn(11L, "fresh unrelated words never indexed before anywhere", t0))
      q.processAllAvailable()
      assert(seen.sorted.toSeq == Seq(1L, 3L, 11L))
      // after the batch-2 compaction each index table resolves to one
      // live file (the fold's output lives in a committed _v= snapshot
      // — the reader-atomic manifest publish — so the count goes
      // through the snapshot resolver, not a raw listing)
      val fs = new org.apache.hadoop.fs.Path(idx)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      Seq("buckets", "shingles").foreach { t =>
        val n = graft.store.SnapshotFold.resolve(fs,
          new org.apache.hadoop.fs.Path(s"$idx/$t")).length
        assert(n == 1, s"$t not folded: $n live files")
      }
      // batch 3 queries the compacted index: 20 dups doc 11, 21 fresh
      input.addData(DocIn(20L, "fresh unrelated words never indexed before anywhere", t0),
        DocIn(21L, "yet another brand new document body", t0))
      q.processAllAvailable()
      assert(seen.sorted.toSeq == Seq(1L, 3L, 11L, 21L))
    } finally q.stop()
  }

  test("streaming indexed dedup: kill + restart from the checkpoint is " +
    "at-least-once — distinct survivors equal the clean sequential run") {
    import spark.implicits._
    val work = graft.Fixtures.newDir("stream_idx_rs").toString
    // 4 mtime-ordered chunk files (ntile over doc_id → ids 0-9, 10-19,
    // 20-29, 30-39). Planted dups: doc 7 near-dups doc 2 INSIDE chunk 1
    // (intra-batch keep-min), docs 17/27/37 near-dup docs 5/15/25 from
    // the PREVIOUS chunk (the cross-batch index is load-bearing through
    // the restart). A dup copies its target's full text plus one token:
    // 13 shared 3-shingles of 14 → Jaccard ≈ 0.93 ≥ the 0.8 threshold
    // (the round-8 review found the original fixture's dups were both
    // same-chunk and at Jaccard 0.615 — below threshold, so the spec
    // asserted set equality of two runs that never dropped anything).
    val base = "document body with plenty of shared running words number"
    def unique(i: Int) = s"$base $i extra unique suffix ${"x" * (i % 5)} token$i"
    val docs = (0 until 40).map { i =>
      val text =
        if (i == 7) unique(2) + " near"
        else if (i % 10 == 7) unique(i - 12) + " near"
        else unique(i)
      (i.toLong, text)
    }.toDF("doc_id", "text")
    SoakUtil.writeChunks(spark, docs, "doc_id", s"$work/in", 4)

    def start() = graft.functions.Pipeline.streamingIndexedDedup(
      SoakUtil.streamDir(spark, s"$work/in", docs.schema),
      s"$work/idx", s"$work/ckpt",
      clean => clean.write.mode("append").parquet(s"$work/out"))

    // run 1: stop after at least one committed batch (kill point lands
    // anywhere relative to the sink-write / index-append pair)
    val q1 = start()
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (q1.recentProgress.length < 2 && System.nanoTime() < deadline)
      Thread.sleep(50)
    q1.stop()
    val q2 = start()
    try { q2.processAllAvailable() } finally q2.stop()
    val streamed = spark.read.parquet(s"$work/out")
      .select("doc_id").as[Long].collect().toSeq

    // reference: the same per-chunk logic driven sequentially, no restart
    val ref = scala.collection.mutable.Set.empty[Long]
    (1 to 4).foreach { i =>
      val chunk = spark.read.schema(docs.schema)
        .parquet(f"$work/in/chunk_$i%04d_*.parquet")
      val intra = graft.functions.Pipeline.intraBatchNearDedup(chunk)
      ref ++= graft.functions.Dedup.dedupAgainstIndex(spark, intra,
        s"$work/idx_ref", indexSurvivors = true)
        .select("doc_id").as[Long].collect()
    }
    // Non-vacuity first: the planted dups must actually be dropped —
    // keep-min keeps 2 over 7 intra-chunk, the index drops 17/27/37
    // against the prior chunks — otherwise the equality below would
    // pass with dedup logic entirely broken
    assert(ref == (0L until 40L).toSet -- Set(7L, 17L, 27L, 37L),
      s"reference run did not drop the planted dups: $ref")
    // at-least-once: every reference survivor reaches the sink, nothing
    // else does; a replayed batch may duplicate rows but never drops or
    // invents one
    assert(streamed.toSet == ref.toSet,
      s"restart changed the survivor set: ${streamed.toSet.diff(ref)} extra, " +
        s"${ref.diff(streamed.toSet)} missing")
  }

  test("streaming difference carries seed across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Aggregator.StreamIn]
    // samplingMinutes=0 edge-safe: use 1 and rely on the minute-mod check
    val q = Aggregator.streaming(input.toDS(), samplingMinutes = 1)
      .writeStream.format("memory").queryName("diff_out").outputMode("append").start()
    try {
      val t = new Timestamp(1704067200000L)
      input.addData(
        Aggregator.StreamIn("s2", "m", "difference", t, 10.0, "sensor"),
        Aggregator.StreamIn("s2", "m", "difference", t, 14.0, "sensor"))
      q.processAllAvailable()
      input.addData(Aggregator.StreamIn("s2", "m", "difference", t, 20.0, "sensor"))
      q.processAllAvailable()
      val out = spark.table("diff_out").as[Aggregator.StreamOut].collect()
        .map(_.value).toSeq
      // batch 1: diff(10,14)=4; batch 2: seed 14 → diff(14,20)=6
      assert(out == Seq(4.0, 6.0))
    } finally q.stop()
  }
}

/** Top-level for Encoder derivation (streaming dedup input shape). */
case class DocIn(doc_id: Long, text: String, ingest_time: java.sql.Timestamp)
