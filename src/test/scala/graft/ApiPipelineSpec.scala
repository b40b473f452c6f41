package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.time.Instant

import graft.api.{Api, Cmd}
import graft.ingest.IngestPipeline
import graft.model._
import graft.sources.LogReplay
import graft.store.TierStore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end: log replay (S2) → pipeline (§3.3) → tier store → command
 *  API (S6-S9) → response shaping — the reference's full message path. */
class ApiPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    graft.Fixtures.newDir("graft_api").toFile.getAbsolutePath

  test("tai64n round trip") {
    val df = Seq("@4000000065a1c2f000000000 pt:j1/mt:evt/rt:dev/rn:z/ad:1 " +
      """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":21.5,"props":{"unit":"C"},"src":"app"}""")
      .toDF("value")
    val out = LogReplay.parse(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[String]("topic") == "pt:j1/mt:evt/rt:dev/rn:z/ad:1")
    assert(r.getAs[String]("serv") == "sensor_temp")
    assert(r.getAs[String]("val_json") == "21.5")
    assert(r.getAs[String]("domain") == "j1")
    // @4000000065a1c2f0 = 2024-01-12T22:53:36Z
    assert(r.getAs[Timestamp]("time").toInstant == Instant.parse("2024-01-12T22:53:36Z"))
  }

  test("malformed log lines are dropped, valid ones survive") {
    val df = Seq(
      "not a log line",
      "@4000000065a1c2f000000000 no-topic-marker {\"serv\":\"x\"}",
      "@4000000065a1c2f000000000 pt:j1/a {\"serv\":\"s\",\"type\":\"t\",\"val_t\":\"float\",\"val\":1}")
      .toDF("value")
    val out = LogReplay.parse(df).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("serv") == "s")
  }

  test("log format/parse round-trips structured values") {
    val e = Seq(("pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:meter_elec/ad:2", "meter_elec",
      "evt.meter_ext.report", "float_map", """{"e_import":12.5,"p_import":100.0}""",
      Map("u" -> "x"), "app", Timestamp.valueOf("2024-01-01 10:00:00")))
      .toDF("topic", "serv", "msg_type", "val_t", "val_json", "props", "src", "time")
    val lines = e.select(LogReplay.format(e).as("value"))
    val back = LogReplay.parse(lines).collect().head
    assert(back.getAs[String]("val_json") == """{"e_import":12.5,"p_import":100.0}""")
    assert(back.getAs[Timestamp]("time") == Timestamp.valueOf("2024-01-01 10:00:00"))
  }

  test("full path: replayed FIMP log → pipeline → store → planner → response JSON") {
    val store = new TierStore(spark, tmpDir())
    // three power reports over two hours for one device
    val rows = Seq(
      ("2024-01-01 10:05:00", "1200"), ("2024-01-01 10:20:00", "1300"),
      ("2024-01-01 11:05:00", "900")).map { case (t, v) =>
      Row("pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:7", "meter_elec",
        "evt.meter.report", "float", v, Map("unit" -> "W"), "app", "j1",
        Timestamp.valueOf(t))
    }
    val events = spark.createDataFrame(spark.sparkContext.parallelize(rows),
      graft.model.Schemas.rawEvent)
    val config = ProcessConfig(id = 1,
      filters = Seq(Filter(id = 1)), // allow-all
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    IngestPipeline.runBatch(events, config, None, store)

    // power is high-frequency → lands in gen_raw
    assert(store.measurements(Tier.GenRaw) == Seq("electricity_meter_power"))

    // maintain the rollup cascade (A9) — the reference's CQs; the planner's
    // mean+1h query below gets tier-refined to gen_month (O1) and must be
    // served from the materialized rollup
    val casc = graft.rollup.Downsampler.cascade(store.read(Tier.GenRaw).drop("date"))
    Seq(Tier.GenDay, Tier.GenWeek, Tier.GenMonth, Tier.GenYear)
      .foreach(t => store.write(t, casc(t.name)))

    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    val df = Api.dispatch(ctx,
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "electricity_meter_power",
        relativeTime = "3h", groupByTime = "1h", dataFunction = "mean",
        fillType = "none")))
    val got = df.collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSet
    // 10:00 bucket: mean(1200,1300)=1250; 11:00 bucket: 900
    assert(got == Set((1704103200L, 1250.0), (1704106800L, 900.0)))

    val json = Api.shapeResponse(df, "electricity_meter_power", "")
    assert(json ==
      """{"Results":[{"Series":[{"name":"electricity_meter_power","tags":{},""" +
      """"columns":["time","value"],"values":[[1704103200,1250.0],[1704106800,900.0]]}]}]}""")
  }

  test("get_data_points asOfPin pins the query to the store snapshot a " +
    "run recorded, across a retained-history compaction and later ingest") {
    val store = new TierStore(spark, tmpDir())
    def fimp(t: String, v: String) =
      Row("pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:meter_elec/ad:7", "meter_elec",
        "evt.meter.report", "float", v, Map("unit" -> "W"), "app", "j1",
        Timestamp.valueOf(t))
    val config = ProcessConfig(id = 1, filters = Seq(Filter(id = 1)),
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    def ingest(rows: Seq[Row]): Unit = IngestPipeline.runBatch(
      spark.createDataFrame(spark.sparkContext.parallelize(rows),
        graft.model.Schemas.rawEvent), config, None, store)

    ingest(Seq(fimp("2024-01-01 10:05:00", "1200"),
      fimp("2024-01-01 10:20:00", "1300")))
    val pinned = store.pinNow() // logical: no clock, no sleep
    assert(store.compact(Tier.GenRaw, minFiles = 1, retainHistory = true) >= 1)
    ingest(Seq(fimp("2024-01-01 10:40:00", "5000"))) // lands after the pin

    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    def q(asOf: String) = Api.dispatch(ctx,
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "electricity_meter_power",
        relativeTime = "3h", asOfPin = asOf)))
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(q("") == Set(1200.0, 1300.0, 5000.0)) // current read
    assert(q(pinned.encoded) == Set(1200.0, 1300.0)) // the pinned corpus
  }

  test("delete_data_points erases one device across tiers through the " +
    "command API and refuses an unbounded wipe") {
    val store = new TierStore(spark, tmpDir())
    val rows = Seq(("7", 100.0), ("7", 200.0), ("8", 300.0)).map { case (d, v) =>
      ("app_click", java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), v,
        d, "1", "sensor")
    }
    import spark.implicits._
    store.writeRouted(rows.toDF(
      "measurement", "time", "value", "dev_id", "location_id", "dev_type"))
    val ctx = Api.Context(spark, store)
    val res = Api.dispatch(ctx,
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
        filters = graft.model.DataPointsFilter(devices = Seq("7")))))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res("gen_default") == 1L) // the one hit partition rewritten
    assert(store.read(Tier.GenDefault)
      .select("dev_id", "value").as[(String, Double)].collect().toSet ==
      Set(("8", 300.0)))
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest()))
    }
    // half-given or relative time bounds are refused, not silently
    // widened to full history
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
          fromTime = "2024-01-01T00:00:00Z")))
    }
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
          relativeTime = "2h")))
    }
    // a time-bounded erasure corrects RAW tiers only (rollup rows are
    // bucket-start-stamped aggregates — rebuilt via maintain, not
    // row-deleted): the response must not list rollup tiers
    val bounded = Api.dispatch(ctx,
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
        fromTime = "2024-01-01T00:00:00Z", toTime = "2024-01-02T00:00:00Z")))
      .select("tier").collect().map(_.getString(0)).toSet
    assert(!bounded.exists(Set("gen_day", "gen_week", "gen_month", "gen_year")),
      bounded.mkString(","))
    assert(bounded.contains("gen_default"))
  }

  test("compact/vacuum commands: layout rewrite, retained-history pins " +
    "and reclaim, and refusal semantics — all through the command API") {
    val store = new TierStore(spark, tmpDir())
    def pts(vs: (String, Double)*) = vs.map { case (d, v) =>
      ("app_click", Timestamp.valueOf("2024-01-01 10:00:00"), v, d, "1", "sensor")
    }.toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type")
    store.writeRouted(pts(("7", 100.0), ("7", 200.0)))
    store.writeRouted(pts(("8", 300.0), ("8", 400.0)))
    val ctx = Api.Context(spark, store)

    // refusals surface, not silent no-ops
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.CompactRequest(tier = "gen_default", zorder = true))
    }
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx, Cmd.CompactRequest(tier = "nope"))
    }

    // pin the pre-compaction corpus, then drive a device-clustered
    // retained-history compaction through the command
    val pinned = store.pinNow()
    val res = Api.dispatch(ctx,
      Cmd.CompactRequest(tier = "gen_default", minFiles = 2,
        clusterBy = Seq("dev_id"), retainHistory = true))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(res == Map("gen_default" -> 1L))
    def vals(df: org.apache.spark.sql.DataFrame): Set[Double] =
      df.select("value").as[Double].collect().toSet
    assert(vals(store.read(Tier.GenDefault)) == Set(100.0, 200.0, 300.0, 400.0))
    assert(vals(store.readAsOf(Tier.GenDefault, pinned)) ==
      Set(100.0, 200.0, 300.0, 400.0)) // history retained: the pin holds

    // vacuum through the command reclaims the history the pin rode on
    val vac = Api.dispatch(ctx,
      Cmd.VacuumRequest(tier = "gen_default"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(vac("gen_default") >= 1L)
    assert(vals(store.read(Tier.GenDefault)) == Set(100.0, 200.0, 300.0, 400.0))
    // vacuum bounds how far back as-of reads travel — and the bound is
    // LOUD: the pinned raw files were folded and reclaimed, so the pin
    // throws instead of silently resolving empty/partial
    intercept[IllegalStateException] {
      store.readAsOf(Tier.GenDefault, pinned).count()
    }
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx, Cmd.VacuumRequest(tier = "nope"))
    }
  }

  test("run_maintenance command rebuilds the rollup cascade; erasure " +
    "reclaims retained history so deleted rows are gone from old pins too") {
    val store = new TierStore(spark, tmpDir())
    def pts(vs: (String, Double)*) = vs.map { case (d, v) =>
      ("sensor_click", Timestamp.valueOf("2024-01-01 10:00:00"), v, d, "1", "sensor")
    }.toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type")
    store.writeRouted(pts(("7", 100.0), ("8", 300.0)))
    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-02T00:00:00Z"))

    // maintenance trigger with the retainHistory knob (expiry + vacuum
    // deferred): the cascade materializes rollups from the raw tier
    val rep = Api.dispatch(ctx,
      Cmd.MaintenanceRequest(sinceDays = 5, retainHistory = true)).collect()
    assert(rep.head.getAs[String]("status") == "ok")
    assert(store.read(Tier.GenDay).count() > 0L, "cascade did not materialize")

    // pin the corpus WITH device 7, then erase the device: the erasure
    // command must reclaim the retained history in the same call — the
    // pinned read cannot resurrect the erased rows
    val pinned = store.pinNow()
    val res = Api.dispatch(ctx,
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(measurementName = "sensor_click",
        filters = graft.model.DataPointsFilter(devices = Seq("7")))))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(res("gen_raw")._1 >= 1L)
    def devs(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("dev_id").as[String].collect().toSet
    assert(devs(store.read(Tier.GenRaw)) == Set("8"))
    assert(devs(store.read(Tier.GenDay)) == Set("8"))
    // the compliance property: the erased device is unreadable at ANY
    // as-of — the command's vacuum dropped the retained snapshots, so a
    // pre-erasure pin fails LOUDLY (the documented travel bound) rather
    // than resolving history still carrying the device
    intercept[IllegalStateException] {
      devs(store.readAsOf(Tier.GenRaw, pinned))
    }
    intercept[IllegalStateException] {
      devs(store.readAsOf(Tier.GenDay, pinned))
    }
  }

  test("write_data_points bucket pins the target retention policy " +
    "(WriteDirect, process.go:313-337); empty bucket auto-routes; " +
    "unknown bucket refused") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    def pt(name: String) = Cmd.WritePoint(name,
      Map("dev_id" -> "d1", "location_id" -> "1"), Map("value" -> 7.0),
      Timestamp.valueOf("2024-01-01 10:00:00"))
    // app_click would ROUTE to gen_default; the bucket pins gen_week
    Api.dispatch(ctx,
      Cmd.WriteDataPointsRequest(bucket = "gen_week", dp = Seq(pt("app_click"))))
    assert(store.read(Tier.GenWeek).count() == 1L)
    assert(store.read(Tier.GenDefault).count() == 0L)
    // empty bucket = the auto-routing path (types.go:33)
    Api.dispatch(ctx,
      Cmd.WriteDataPointsRequest(dp = Seq(pt("app_click"))))
    assert(store.read(Tier.GenDefault).count() == 1L)
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.WriteDataPointsRequest(bucket = "nope", dp = Seq(pt("app_click"))))
    }
  }

  test("dispatchFimp wraps the Series payload in the documented FIMP " +
    "envelope, echoing the request corid (docs/data-exchange:6-133)") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, Seq(
      ("sensor_temp", Timestamp.valueOf("2024-01-01 10:00:00"), 21.5, "d1", "1", "sensor"))
      .toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type"))
    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    val wire = Api.dispatchFimp(ctx,
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "sensor_temp",
        relativeTime = "3h")),
      corid = "req-123", uid = "resp-456",
      ctime = "2024-01-01T12:00:00.000+00:00",
      measurement = "sensor_temp")
    assert(wire ==
      """{"type":"evt.tsdb.data_points_report","serv":"ecollector","val_t":"object",""" +
        """"val":{"Results":[{"Series":[{"name":"sensor_temp","tags":{},""" +
        """"columns":["time","value"],"values":[[1704103200,21.5]]}]}]},""" +
        """"tags":null,"props":null,"ver":"1","corid":"req-123",""" +
        """"ctime":"2024-01-01T12:00:00.000+00:00","uid":"resp-456"}""", wire)
    // a failing command rides the documented error envelope INSIDE val
    val err = Api.dispatchFimp(ctx,
      Cmd.Query("""SELECT mean("v") FROM "nope_rp"."m" WHERE time > now()-5h GROUP BY time(1m) FILL(null)"""),
      corid = "", uid = "u", ctime = "2024-01-01T12:00:00.000+00:00")
    assert(err.contains(""""val":{"Results":null,"error":"""), err.take(160))
    assert(err.contains(""""corid":null"""), err.take(160))
    // raw-query responses carry the query_report type (docs/api:24)
    assert(err.startsWith("""{"type":"evt.tsdb.query_report","""), err.take(60))

    // the catalog's documented wire shape: str_array of distinct sorted
    // measurement names (docs/api:403-440)
    val cat = Api.measurementsFimpReport(ctx, corid = "c1", uid = "u1",
      ctime = "2024-01-01T12:00:00.000+00:00")
    assert(cat ==
      """{"type":"evt.tsdb.measurements_report","serv":"ecollector",""" +
        """"val_t":"str_array","val":["sensor_temp"],"tags":null,"props":null,""" +
        """"ver":"1","corid":"c1","ctime":"2024-01-01T12:00:00.000+00:00",""" +
        """"uid":"u1"}""", cat)
  }

  test("a raw InfluxQL select on the wire answers one Series per tag " +
    "tuple, named by its measurement (single-tag, multi-tag, regex FROM, " +
    "subquery)") {
    val store = new TierStore(spark, tmpDir())
    store.write(Tier.GenRaw, Seq(
      ("sensor_temp", "2024-01-01 10:05:00", 20.0, "d1", "1"),
      ("sensor_temp", "2024-01-01 10:15:00", 22.0, "d2", "1"),
      ("sensor_temp", "2024-01-01 10:25:00", 24.0, "d2", "2"),
      ("sensor_hum", "2024-01-01 10:05:00", 50.0, "d1", "1"))
      .map { case (m, t, v, d, l) => (m, Timestamp.valueOf(t), v, d, l, "sensor") }
      .toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type"))
    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    def series(q: String): String = {
      val wire = Api.dispatchFimp(ctx, Cmd.Query(q),
        corid = "c", uid = "u", ctime = "2024-01-01T12:00:00.000+00:00")
      wire.substring(wire.indexOf(""""val":""") + 6, wire.indexOf(""","tags":null"""))
    }
    def s(name: String, tags: String, values: String): String =
      s"""{"name":"$name","tags":{$tags},"columns":["time","value"],""" +
        s""""values":[$values]}"""
    def results(ss: String*): String = ss.mkString("""{"Results":[{"Series":[""", ",", "]}]}")
    val byDev = results(
      s("sensor_temp", """"dev_id":"d1"""", "[1704103200,20.0]"),
      s("sensor_temp", """"dev_id":"d2"""", "[1704103200,24.0]"))
    assert(series("""SELECT max("value") FROM "sensor_temp" WHERE time > now()-3h """ +
      """GROUP BY time(1h), "dev_id" FILL(none)""") == byDev)
    assert(series("""SELECT max("value") FROM "sensor_temp" WHERE time > now()-3h """ +
      """GROUP BY time(1h), "dev_id", "location_id" FILL(none)""") == results(
      s("sensor_temp", """"dev_id":"d1","location_id":"1"""", "[1704103200,20.0]"),
      s("sensor_temp", """"dev_id":"d2","location_id":"1"""", "[1704103200,22.0]"),
      s("sensor_temp", """"dev_id":"d2","location_id":"2"""", "[1704103200,24.0]")))
    assert(series("""SELECT max("value") FROM /^sensor_/ WHERE time > now()-3h """ +
      """GROUP BY time(1h), "dev_id" FILL(none)""") == results(
      s("sensor_hum", """"dev_id":"d1"""", "[1704103200,50.0]"),
      s("sensor_temp", """"dev_id":"d1"""", "[1704103200,20.0]"),
      s("sensor_temp", """"dev_id":"d2"""", "[1704103200,24.0]")))
    // a subquery is named by its innermost FROM measurement
    assert(series("""SELECT max("m") FROM (SELECT max("value") AS "m" FROM """ +
      """"sensor_temp" WHERE time > now()-3h GROUP BY time(10m), "dev_id") """ +
      """GROUP BY time(1h), "dev_id" FILL(none)""") == byDev)
    // an untagged select is one Series under its measurement
    assert(series("""SELECT max("value") FROM "sensor_temp" WHERE time > now()-3h""") ==
      results(s("sensor_temp", "", "[0,24.0]")))
  }

  test("shapeResponse bounds the driver collect and pages via the next marker") {
    import spark.implicits._
    val df = spark.range(50).select(
      (col("id") + 1000).as("time"), (col("id") * 2).cast("double").as("value"))
    // page 1: capped at 10 rows + a next marker
    val p1 = Api.shapeResponse(df, "m", "", maxRows = 10)
    assert(p1.endsWith("""],"next":1009}"""), p1)
    assert(p1.sliding(2).count(_ == "[1") >= 10)
    assert(!p1.contains("[1010,")) // nothing past the page
    // page 2 resumes strictly after the marker
    val p2 = Api.shapeResponse(df, "m", "", maxRows = 10, afterTimeSec = 1009L)
    assert(p2.contains("[1010,") && p2.endsWith(""","next":1019}"""), p2)
    // un-truncated result carries no marker (back-compat shape)
    val small = Api.shapeResponse(df.limit(5), "m", "", maxRows = 10)
    assert(!small.contains("\"next\"") && small.endsWith("}]}]}"), small)
  }

  test("process lifecycle: get_list/add/ctrl/update_config/reset (admin.go:75-155)") {
    import graft.model.ProcessConfig
    val root = tmpDir()
    val reg = new Api.ProcessRegistry(spark, root,
      Seq(ProcessConfig(id = 1, name = "default", autostart = true)))
    val ctx = Api.Context(spark, new TierStore(spark, root + "/proc_1"),
      registry = Some(reg))
    // initial list: the default process, RUNNING via autostart
    val l0 = Api.dispatch(ctx, Cmd.GetList).collect()
    assert(l0.length == 1 && l0.head.getAs[String]("status") == "RUNNING")
    // add: template clone, id = max+1, autostart off → LOADED
    val add = Api.dispatch(ctx, Cmd.AddProcess()).collect().head
    assert(add.getAs[String]("status") == "ok" && add.getAs[Int]("proc_id") == 2)
    val l1 = Api.dispatch(ctx, Cmd.GetList).collect()
    assert(l1.map(r => (r.getAs[Int]("id"), r.getAs[String]("status"))).toSet ==
      Set((1, "RUNNING"), (2, "LOADED")))
    // ctrl start/stop; reference quirk: unknown op on live proc reports ok
    assert(Api.dispatch(ctx, Cmd.Ctrl(2, "start"))
      .collect().head.getAs[String]("status") == "ok")
    assert(reg.byId(2).get.status == "RUNNING")
    assert(Api.dispatch(ctx, Cmd.Ctrl(2, "bogus_op"))
      .collect().head.getAs[String]("status") == "ok") // admin.go:127-139 quirk
    assert(Api.dispatch(ctx, Cmd.Ctrl(99, "start"))
      .collect().head.getAs[String]("error") == "unknown process id")
    // update_config replaces the config by id
    val upd = Api.dispatch(ctx,
      Cmd.UpdateConfig(ProcessConfig(id = 2, name = "renamed"))).collect().head
    assert(upd.getAs[String]("status") == "ok")
    assert(reg.byId(2).get.state.config.name == "renamed")
    // ctrl delete, then reset restores the default set
    Api.dispatch(ctx, Cmd.Ctrl(2, "delete"))
    assert(reg.processes.map(_._1.id) == Seq(1))
    Api.dispatch(ctx, Cmd.AddProcess())
    Api.dispatch(ctx, Cmd.ResetToDefault)
    assert(reg.processes.map(_._1.id) == Seq(1))
  }

  test("queries route by procId across processes (admin.go:404-416)") {
    import graft.model.ProcessConfig
    val root = tmpDir()
    val reg = new Api.ProcessRegistry(spark, root,
      Seq(ProcessConfig(id = 1), ProcessConfig(id = 2)))
    val ctx = Api.Context(spark, reg.byId(1).get.store, registry = Some(reg),
      now = () => Instant.parse("2024-01-01T01:00:00Z"))
    // write one point into proc 2's store only
    val rs = Seq(("m_x", Timestamp.valueOf("2024-01-01 00:30:00"), 7.0, "d1", "1", "sensor"))
    import spark.implicits._
    reg.byId(2).get.store.write(Tier.GenDefault, // m_x is low-frequency → gen_default
      rs.toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type"))
    def q(procId: Int) = Api.dispatch(ctx,
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(procId = procId, measurementName = "m_x",
        relativeTime = "2h"))).count()
    assert(q(2) == 1 && q(1) == 0) // same command, different process → different store
    val err = intercept[IllegalArgumentException](q(77))
    assert(err.getMessage.contains("unknown process"))
    // routed WRITE: the request's procId lands it in that process's store
    Api.dispatch(ctx, Cmd.WriteDataPointsRequest(procId = 1,
      dp = Seq(Cmd.WritePoint("m_y", Map("dev_id" -> "d9"), Map("value" -> 3.0),
        Timestamp.valueOf("2024-01-01 00:45:00")))))
    assert(reg.byId(1).get.store.read(Tier.GenDefault)
      .filter(col("measurement") === "m_y").count() == 1)
    assert(reg.byId(2).get.store.read(Tier.GenDefault)
      .filter(col("measurement") === "m_y").count() == 0)
  }

  test("storage quota: disk alarm stops all processes and rejects writes (integration.go:283-321)") {
    import graft.model.ProcessConfig
    val root = tmpDir()
    // tiny byte budget; percent limit kept permissive so the assertion is
    // deterministic on any build machine
    val reg = new Api.ProcessRegistry(spark, root,
      Seq(ProcessConfig(id = 1, autostart = true), ProcessConfig(id = 2, autostart = true)),
      quota = Some(Api.StorageQuota(maxBytes = 1024, usedPercentLimit = 100.0)))
    val ctx = Api.Context(spark, reg.byId(1).get.store, registry = Some(reg))
    def write(procId: Int) = Cmd.WriteDataPointsRequest(procId = procId,
      dp = Seq(Cmd.WritePoint("m_q", Map("dev_id" -> "d1"), Map("value" -> 1.0),
        Timestamp.valueOf("2024-01-01 10:00:00"))))
    def writeOne(procId: Int) = Api.dispatch(ctx, write(procId))
    // under budget: monitor tick reports ok, writes flow
    val ok = Api.dispatch(ctx, Cmd.CheckStorage).collect().head
    assert(ok.getAs[String]("op") == "disk_monitor" && ok.getAs[String]("status") == "ok")
    // blow the budget (a single parquet file's footer alone exceeds 1 KiB)
    writeOne(1)
    assert(reg.usedStoreBytes > 1024)
    val alarm = Api.dispatch(ctx, Cmd.CheckStorage).collect().head
    assert(alarm.getAs[String]("op") == "disk_monitor") // ctrl_report shape
    assert(alarm.getAs[String]("status") == "alarm")
    assert(alarm.getAs[String]("error").contains("DISK LOW SPACE"))
    assert(alarm.getAs[Int]("proc_id") == 0)
    // every process stopped (the reference stops them all), writes rejected
    assert(reg.processes.forall(_._2 == "STOPPED"))
    val rej = intercept[IllegalStateException](writeOne(2))
    assert(rej.getMessage.contains("STOPPED"))
    // operator restart re-admits writes (and the envelope shape carries
    // the rejection for shaped dispatch)
    Api.dispatch(ctx, Cmd.Ctrl(1, "start"))
    writeOne(1)
    assert(Api.dispatchShaped(ctx, write(2))
      .startsWith("""{"Results":null,"error":"""))
  }

  test("error envelope: failing queries return the reference error shape (docs/api:364-380)") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    // bad raw SQL → {"Results":null,"error":...}
    val bad = Api.dispatchShaped(ctx, Cmd.Query("SELEC nonsense FRO"))
    assert(bad.startsWith("""{"Results":null,"error":""""), bad)
    // a good query still returns the Series shape
    val ok = Api.dispatchShaped(ctx, Cmd.Query("SELECT 5 AS value"), "m", "")
    assert(ok.startsWith("""{"Results":[{"Series":"""), ok)
    // log level: valid applies, invalid reports error without throwing
    assert(Api.dispatch(ctx, Cmd.SetLogLevel("ERROR"))
      .collect().head.getAs[String]("status") == "ok")
    assert(Api.dispatch(ctx, Cmd.SetLogLevel("NOISY"))
      .collect().head.getAs[String]("status") == "error")
  }

  test("write_data_points (S6) routes client points into the right tier") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    Api.dispatch(ctx, Cmd.WriteDataPointsRequest(dp = Seq(
      Cmd.WritePoint("custom_metric", Map("dev_id" -> "d1"), Map("value" -> 5.0),
        Timestamp.valueOf("2024-01-01 10:00:00")))))
    assert(store.read(Tier.GenDefault).count() == 1) // non-sensor → gen_default
    val rp = Api.dispatch(ctx, Cmd.GetRetentionPolicies)
    assert(rp.count() == 6)
    val ms = Api.dispatch(ctx, Cmd.GetMeasurements)
    assert(ms.filter(col("measurement") === "custom_metric").count() == 1)
  }

  test("wire JSON escapes control characters in tag values and the " +
    "echoed corid") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    val dev = "a\tb\u0001"
    Api.dispatch(ctx, Cmd.WriteDataPointsRequest(dp = Seq(Cmd.WritePoint("m_ctl",
      Map("dev_id" -> dev), Map("value" -> 2.0), Timestamp.valueOf("2024-01-01 10:00:00")))))
    val body = Api.dispatchShaped(ctx, Cmd.GetDataPoints(Cmd.GetDataPointsRequest(
      measurementName = "m_ctl", dataFunction = "max", relativeTime = "3h",
      groupByTime = "1h", groupByTag = "dev_id", fillType = "none")),
      measurement = "m_ctl", groupByTag = "dev_id")
    assert(parse(body) \\ "tags" \ "dev_id" == JString(dev), body)
    val wire = Api.shapeFimpReport(body, corid = "x\ty", uid = "u", ctime = "t")
    assert(parse(wire) \ "corid" == JString("x\ty"), wire)
  }

  test("a non-finite value reads as JSON null on the wire") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store,
      now = () => Instant.parse("2024-01-01T12:00:00Z"))
    // a written point with no `value` field stores NaN
    Api.dispatch(ctx, Cmd.WriteDataPointsRequest(dp = Seq(Cmd.WritePoint("m_nan",
      Map("dev_id" -> "d1"), Map.empty, Timestamp.valueOf("2024-01-01 10:00:00")))))
    val body = Api.dispatchShaped(ctx, Cmd.GetDataPoints(Cmd.GetDataPointsRequest(
      measurementName = "m_nan", relativeTime = "3h")), measurement = "m_nan")
    assert(parse(body) \\ "values" == JArray(List(JArray(List(JInt(1704103200), JNull)))),
      body)
    val inf = spark.range(1).select(lit(1L).as("time"),
      lit(Double.PositiveInfinity).as("value"))
    assert(Api.shapeResponse(inf, "m", "").contains("[1,null]"))
  }

  test("the measurement catalog lists custom retention policies") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    Api.dispatch(ctx, Cmd.AddRetentionPolicy(Tier("rp_custom", "4 weeks", "")))
    Api.dispatch(ctx, Cmd.WriteDataPointsRequest(bucket = "rp_custom",
      dp = Seq(Cmd.WritePoint("m_rp", Map("dev_id" -> "d1"), Map("value" -> 1.0),
        Timestamp.valueOf("2024-01-01 10:00:00")))))
    assert(store.read(store.tierByName("rp_custom").get).count() == 1L)
    assert(Api.dispatch(ctx, Cmd.GetMeasurements).as[(String, String)].collect()
      .toSeq == Seq(("rp_custom", "m_rp")))
    assert(Api.dispatch(ctx, Cmd.Query("SHOW MEASUREMENTS"))
      .select("measurement").as[String].collect().toSeq == Seq("m_rp"))
  }

  test("raw SQL passthrough (S7)") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    spark.range(3).createOrReplaceTempView("t_s7")
    assert(Api.dispatch(ctx, Cmd.Query("SELECT count(*) AS n FROM t_s7"))
      .collect().head.getAs[Long]("n") == 3)
  }

  test("streaming ingest: readStream → filter/transform → foreachBatch tier append (S1+S3)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Ev]
    val store = new TierStore(spark, tmpDir())
    val config = ProcessConfig(id = 1, saveIntervalMs = 100,
      filters = Seq(Filter(id = 1)),
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    val q = IngestPipeline.runStream(input.toDF(), config, None, store, tmpDir())
    try {
      input.addData(
        Ev("pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2", "sensor_temp",
          "evt.sensor.report", "float", "21.5", Map("unit" -> "C"), "app", "j1",
          Timestamp.valueOf("2024-01-01 10:00:00")),
        Ev("pt:j2/mt:evt/other", "sensor_temp", "evt.sensor.report", "float",
          "9.9", Map("unit" -> "C"), "app", "j2",
          Timestamp.valueOf("2024-01-01 10:00:10"))) // selector-rejected
      q.processAllAvailable()
      val rows = store.read(Tier.GenRaw).collect()
      assert(rows.length == 1) // second event filtered by the selector
      assert(rows.head.getAs[Double]("value") == 21.5)
      assert(rows.head.getAs[String]("measurement") == "sensor_temp.evt.sensor.report")
    } finally q.stop()
  }

  test("streamed ingest across a stop and restart equals the batch " +
    "pipeline, tier by tier") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val t0 = Timestamp.valueOf("2024-01-01 10:00:00").getTime
    def ev(i: Int): Ev = {
      val t = new Timestamp(t0 + i * 60000L)
      val (serv, msg, v, unit) = i % 3 match {
        case 0 => ("sensor_temp", "evt.sensor.report", s"${20 + i}.5", "C")
        case 1 => ("meter_elec", "evt.meter.report", s"${1000 + i}", "W")
        case _ => ("meter_elec", "evt.meter.report", s"${50 + i}", "kWh")
      }
      Ev(s"pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:$serv/ad:${i % 4}", serv, msg,
        "float", v, Map("unit" -> unit), "app", "j1", t)
    }
    val batches = (0 until 3).map(b => (b * 12 until (b + 1) * 12).map(ev))
    val config = ProcessConfig(id = 1, saveIntervalMs = 100,
      filters = Seq(Filter(id = 1)),
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    val streamed = new TierStore(spark, tmpDir())
    val ckpt = tmpDir()
    val input = MemoryStream[Ev]
    def start() = IngestPipeline.runStream(input.toDF(), config, None, streamed, ckpt)
    val q1 = start()
    try batches.take(2).foreach { b => input.addData(b); q1.processAllAvailable() }
    finally q1.stop()
    val q2 = start() // resumes from the checkpoint; committed batches do not replay
    try { input.addData(batches(2)); q2.processAllAvailable() }
    finally q2.stop()

    val batch = new TierStore(spark, tmpDir())
    IngestPipeline.runBatch(batches.flatten.toDF(), config, None, batch)
    def rows(s: TierStore, t: Tier) = s.read(t).collect().map(_.toString).sorted.toSeq
    assert(Tier.all.count(t => rows(batch, t).nonEmpty) >= 2)
    Tier.all.foreach(t => assert(rows(streamed, t) == rows(batch, t), t.name))
  }

  test("pluggable source: log-file front door e2e with in-plan selector pruning (S1)") {
    import graft.sources.StreamSource
    val logDir = tmpDir()
    // two envelopes in the reference's log-line format; only the first
    // matches the selector subscription
    val lines = Seq(
      "@400000006591e6f000000000 pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2 " +
        """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":21.5,"props":{"unit":"C"},"src":"app"}""",
      "@400000006591e6fa00000000 pt:j2/mt:evt/other " +
        """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":9.9,"props":{"unit":"C"},"src":"app"}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(logDir, "a.log"),
      lines.mkString("\n").getBytes)
    val store = new TierStore(spark, tmpDir())
    val config = ProcessConfig(id = 1, saveIntervalMs = 100,
      filters = Seq(Filter(id = 1)),
      selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    val q = IngestPipeline.runFromSource(spark,
      StreamSource.LogFiles(logDir), config, None, store, tmpDir())
    try {
      q.processAllAvailable()
      val rows = store.read(Tier.GenRaw).collect()
      assert(rows.length == 1) // selector pruned the j2 envelope pre-decode
      assert(rows.head.getAs[Double]("value") == 21.5)
      assert(rows.head.getAs[String]("measurement") == "sensor_temp.evt.sensor.report")
    } finally q.stop()
  }

  test("Kafka front door: options contract + wire-frame decode e2e (S1)") {
    import graft.sources.StreamSource
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // 1. the exact option map handed to the connector
    val k = StreamSource.Kafka("broker:9092", Seq("fimp_events", "fimp_cmds"),
      startingOffsets = "earliest", maxOffsetsPerTrigger = Some(10000L))
    assert(k.sourceOptions == Map(
      "kafka.bootstrap.servers" -> "broker:9092",
      "subscribe" -> "fimp_events,fimp_cmds",
      "startingOffsets" -> "earliest",
      "maxOffsetsPerTrigger" -> "10000"))
    assert(!StreamSource.Kafka("b", Seq("t")).sourceOptions.contains("maxOffsetsPerTrigger"))
    // 2. one micro-batch of Kafka-shaped frames (binary key/value, exactly
    // what the connector emits) through decode → selector prune → FIMP
    // decode → transform → routed write
    val input = MemoryStream[KafkaWire]
    def frame(topic: String, json: String, sec: Int) = KafkaWire(
      topic.getBytes("UTF-8"), json.getBytes("UTF-8"), "fimp_events", 0, sec.toLong,
      Timestamp.valueOf(s"2024-01-01 10:00:0$sec"), 0)
    val store = new TierStore(spark, tmpDir())
    val config = ProcessConfig(id = 1, saveIntervalMs = 100,
      filters = Seq(Filter(id = 1)), selectors = Seq(Selector(1, "pt:j1/mt:evt/#")))
    val q = IngestPipeline.runFromSource(spark,
      StreamSource.OfDataFrame(StreamSource.Kafka.decodeFrames(input.toDF())),
      config, None, store, tmpDir())
    try {
      input.addData(
        frame("pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2",
          """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":21.5,"props":{"unit":"C"},"src":"app"}""", 1),
        frame("pt:j2/mt:evt/other",
          """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":9.9,"props":{"unit":"C"},"src":"app"}""", 2))
      q.processAllAvailable()
      val rows = store.read(Tier.GenRaw).collect()
      assert(rows.length == 1) // selector pruned the j2 frame pre-decode
      assert(rows.head.getAs[Double]("value") == 21.5)
      assert(rows.head.getAs[String]("measurement") == "sensor_temp.evt.sensor.report")
    } finally q.stop()
    // 3. load() reaches Spark's data-source resolution for format "kafka"
    // (the connector jar is deliberately absent from the test classpath)
    val err = intercept[Exception] { k.load(spark) }
    assert(err.getMessage.toLowerCase.contains("kafka"))
  }

  test("metadata re-sync: edits land on the next micro-batch (vinc_store.go:25)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.meta.MetadataStore
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def dim(loc: Int) = Seq(("/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2", 7, loc, "sensor"))
      .toDF("address", "device_id", "location_id", "device_type")
    @volatile var currentLoc = 1
    val provider = new MetadataStore.Provider(() => dim(currentLoc), refreshIntervalMs = 0)
    val input = MemoryStream[Ev]
    val store = new TierStore(spark, tmpDir())
    val config = ProcessConfig(id = 1, saveIntervalMs = 100, filters = Seq(Filter(id = 1)))
    val q = IngestPipeline.runStreamRefreshable(input.toDF(), config, provider, store, tmpDir())
    def ev(sec: Int, v: Double) = Ev(
      "pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2", "sensor_temp",
      "evt.sensor.report", "float", v.toString, Map("unit" -> "C"), "app", "j1",
      Timestamp.valueOf(s"2024-01-01 10:00:0$sec"))
    try {
      input.addData(ev(0, 1.0)); q.processAllAvailable()
      currentLoc = 9 // metadata edited while the stream runs
      input.addData(ev(5, 2.0)); q.processAllAvailable()
      val rows = store.read(Tier.GenRaw).collect()
        .map(r => (r.getAs[Double]("value"), r.getAs[String]("location_id"))).toSet
      assert(rows == Set((1.0, "1"), (2.0, "9"))) // second batch saw the new room
    } finally q.stop()
  }

  test("GraftSession wires tuned confs and the SQL function registry") {
    val s = graft.GraftSession.getOrCreate(master = "local[2]")
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.files.maxPartitionBytes") == "256m")
    // custom functions reachable from raw SQL right away
    assert(s.sql("SELECT vec_l2norm(array(3.0D, 4.0D)) AS n")
      .collect().head.getDouble(0) == 5.0)
  }

  test("admin commands: RP lifecycle, delete_object, filter/selector CRUD (S9)") {
    val store = new TierStore(spark, tmpDir())
    val ctx = Api.Context(spark, store)
    // custom retention policy lifecycle
    Api.dispatch(ctx, Cmd.AddRetentionPolicy(Tier("gen_custom", "4 weeks", "")))
    assert(Api.dispatch(ctx, Cmd.GetRetentionPolicies).count() == 7)
    Api.dispatch(ctx, Cmd.UpdateRetentionPolicy(Tier("gen_custom", "8 weeks", "")))
    assert(store.tierByName("gen_custom").get.retention == "8 weeks")
    // write into the custom tier, expire honors the generalized parser
    store.write(store.tierByName("gen_custom").get, spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row("m",
        Timestamp.valueOf("2024-01-01 10:00:00"), 1.0, "d"))),
      StructType(Seq(StructField("measurement", StringType),
        StructField("time", TimestampType), StructField("value", DoubleType),
        StructField("dev_id", StringType)))))
    store.expire(store.tierByName("gen_custom").get,
      Instant.parse("2024-06-01T00:00:00Z")) // > 8 weeks later
    assert(store.read(store.tierByName("gen_custom").get).count() == 0)
    Api.dispatch(ctx, Cmd.DeleteObject("retention_policy", "gen_custom"))
    assert(Api.dispatch(ctx, Cmd.GetRetentionPolicies).count() == 6)
    // filter/selector CRUD with the reference's id semantics
    Api.dispatch(ctx, Cmd.AddFilter(Filter(id = 0, service = "s1")))
    Api.dispatch(ctx, Cmd.AddFilter(Filter(id = 0, service = "s2")))
    assert(Api.dispatch(ctx, Cmd.GetFilters).count() == 2)
    Api.dispatch(ctx, Cmd.RemoveFilter(1))
    val left = Api.dispatch(ctx, Cmd.GetFilters).collect()
    assert(left.length == 1 && left.head.getAs[Int]("id") == 2)
    Api.dispatch(ctx, Cmd.AddSelector(Selector(0, "pt:j1/#")))
    assert(Api.dispatch(ctx, Cmd.GetSelectors).count() == 1)
    assert(Api.dispatch(ctx, Cmd.GetConfigs)
      .collect().head.getAs[Int]("n_selectors") == 1)
  }

  test("response shaping groups series per tag (docs/api:261-361 shape)") {
    val df = Seq((1704103200L, 1.0, "11"), (1704103200L, 2.0, "12"))
      .toDF("time", "value", "location_id")
    val json = Api.shapeResponse(df, "m", "location_id")
    assert(json.contains(""""tags":{"location_id":"11"}"""))
    assert(json.contains(""""tags":{"location_id":"12"}"""))
    assert(json.startsWith("""{"Results":[{"Series":["""))
  }

  test("response shaping streams 10k-tag series in one pass, values time-sorted") {
    // high tag cardinality: the (tag, time) sort happens in the plan; the
    // driver holds only the bounded page and one output builder — no
    // per-tag grouping maps (each tag here yields its own series, with
    // its two points in time order despite shuffled input order)
    val rows = (0 until 10000).flatMap(i =>
      Seq((1704103260L, 2.0 * i, f"tag_$i%05d"), (1704103200L, 1.0 * i, f"tag_$i%05d")))
    val df = spark.createDataFrame(rows).toDF("time", "value", "tag")
      .repartition(8) // arrive unsorted
    val json = Api.shapeResponse(df, "m", "tag")
    assert("\"tags\":".r.findAllIn(json).length == 10000)
    assert(json.contains(
      """"tags":{"tag":"tag_00007"},"columns":["time","value"],"values":[[1704103200,7.0],[1704103260,14.0]]"""))
    assert(!json.contains("next")) // 20k rows < maxRows: no truncation
    // truncation on the same high-cardinality frame: page bounded by time,
    // marker = max kept time
    val paged = Api.shapeResponse(df, "m", "tag", maxRows = 10000)
    assert(paged.endsWith(""","next":1704103200}"""))
  }
}

/** Top-level so Spark can derive an Encoder (needs a TypeTag). */
case class Ev(topic: String, serv: String, msg_type: String, val_t: String,
    val_json: String, props: Map[String, String], src: String, domain: String,
    time: java.sql.Timestamp)

/** The Kafka connector's fixed output schema (binary key/value), for
 *  driving the Kafka source branch without a broker. */
case class KafkaWire(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: java.sql.Timestamp,
    timestampType: Int)
