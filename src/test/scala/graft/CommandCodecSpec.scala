package graft

import graft.api.{Cmd, CommandCodec}
import graft.model.{Filter, ProcessConfig, Selector, Tier}

/** Table-driven coverage of the wire command codec: every command the
 *  transport accepts decodes to exactly the [[Cmd]] `Api.dispatch`
 *  matches — field names, defaults, nested filters, and the error
 *  envelope for malformed input. */
class CommandCodecSpec extends SparkSpec {

  private def decode(t: String, valJson: String): Cmd =
    CommandCodec.decode(s"""{"type":"$t","uid":"u","val":$valJson}""").payload

  test("every wire type decodes to exactly one Cmd case named by it, and " +
    "every Cmd case is reached by exactly one wire type") {
    import scala.reflect.runtime.universe._
    def leaves(c: ClassSymbol): Set[String] = {
      val subs = c.knownDirectSubclasses
      if (subs.isEmpty) Set(c.fullName) else subs.flatMap(s => leaves(s.asClass))
    }
    val cases = leaves(typeOf[Cmd].typeSymbol.asClass)
    // the smallest `val` each type decodes from ({} for the rest)
    val minimal = Map("cmd.tsdb.write_data_points" -> """{"dp":[]}""",
      "cmd.tsdb.query" -> "\"SELECT 1\"", "cmd.log.set_level" -> "\"info\"",
      "cmd.tsdb.remove_filter" -> "1", "cmd.tsdb.remove_selector" -> "1")
    val mirror = runtimeMirror(getClass.getClassLoader)
    val reached = CommandCodec.wireTypes.toSeq.sorted.map { t =>
      val cmd = decode(t, minimal.getOrElse(t, "{}"))
      assert(cmd.wireType == t, s"$t decoded to ${cmd.wireType}")
      t -> mirror.classSymbol(cmd.getClass).fullName
    }
    assert(cases.size > 30, cases)
    assert(reached.map(_._2).distinct.size == reached.size,
      reached.groupBy(_._2).filter(_._2.size > 1))
    assert(reached.map(_._2).toSet == cases,
      s"unreached: ${cases -- reached.map(_._2)}")
  }

  test("query commands: full field set, nested filters, defaults") {
    val Cmd.GetDataPoints(got) = decode("cmd.tsdb.get_data_points",
      """{"measurementName":"m1","dataFunction":"mean","groupByTime":"1h",
        |"fromTime":"2024-01-01T00:00:00Z","toTime":"2024-01-02T00:00:00Z",
        |"fillType":"previous","asOfPin":"m=1234;l=;s=",
        |"filters":{"tags":{"dev_id":"7"},"devices":["7","8"],
        |"locations":["1"],"devTypes":["sensor"]}}""".stripMargin)
    assert(got.measurementName == "m1" && got.dataFunction == "mean" &&
      got.groupByTime == "1h" && got.fillType == "previous" &&
      got.asOfPin == "m=1234;l=;s=" && got.procId == 1)
    assert(got.filters.tags == Map("dev_id" -> "7") &&
      got.filters.devices == Seq("7", "8") &&
      got.filters.locations == Seq("1") && got.filters.devTypes == Seq("sensor"))
    // omitted fields take the DTO defaults
    assert(decode("cmd.tsdb.get_data_points", """{"measurementName":"m2"}""") ==
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "m2")))
    // energy + delete share the same DTO
    assert(decode("cmd.tsdb.get_energy_data_points", """{"relativeTime":"2h"}""") ==
      Cmd.GetEnergyDataPoints(Cmd.GetDataPointsRequest(relativeTime = "2h")))
    assert(decode("cmd.tsdb.delete_data_points",
      """{"filters":{"devices":["9"]}}""") ==
      Cmd.DeleteDataPoints(Cmd.GetDataPointsRequest(
        filters = graft.model.DataPointsFilter(devices = Seq("9")))))
  }

  test("write_data_points: points with tags/fields/ISO timestamp; bucket") {
    val Cmd.WriteDataPointsRequest(_, bucket, dp) = decode("cmd.tsdb.write_data_points",
      """{"bucket":"gen_week","dp":[{"name":"app_click",
        |"tags":{"dev_id":"d1"},"fields":{"value":7.5},
        |"ts":"2024-01-01T10:00:00Z"}]}""".stripMargin)
    assert(bucket == "gen_week" && dp.length == 1)
    val p = dp.head
    assert(p.name == "app_click" && p.tags == Map("dev_id" -> "d1") &&
      p.fields == Map("value" -> 7.5) &&
      p.ts.toInstant == java.time.Instant.parse("2024-01-01T10:00:00Z"))
    intercept[IllegalArgumentException] {
      decode("cmd.tsdb.write_data_points", """{"dp":"not-an-array"}""")
    }
  }

  test("maintenance surface: compact/vacuum/run_maintenance/backfill/" +
    "verify_rollup/diff decode with defaults and overrides") {
    assert(decode("cmd.tsdb.compact",
      """{"tier":"gen_raw","minFiles":2,"clusterBy":["dev_id"],"zorder":true,
        |"retainHistory":true,"targetFileBytes":1024}""".stripMargin) ==
      Cmd.CompactRequest(1, "gen_raw", 1024L, 2, Seq("dev_id"), zorder = true,
        retainHistory = true))
    assert(decode("cmd.tsdb.vacuum", """{"foldBatchMarkers":false}""") ==
      Cmd.VacuumRequest(1, "", foldBatchMarkers = false))
    assert(decode("cmd.tsdb.run_maintenance",
      """{"sinceDays":7,"retainHistory":true}""") ==
      Cmd.MaintenanceRequest(1, 7, retainHistory = true))
    assert(decode("cmd.tsdb.backfill",
      """{"fromDate":"2024-01-01","toDate":"2024-01-05"}""") ==
      Cmd.BackfillRequest(1, "2024-01-01", "2024-01-05"))
    assert(decode("cmd.tsdb.verify_rollup",
      """{"fromDate":"2024-01-01","toDate":"2024-01-02","tolerance":0.5}""") ==
      Cmd.VerifyRollupRequest(1, "2024-01-01", "2024-01-02", 0.5))
    assert(decode("cmd.tsdb.diff_data_points",
      """{"tier":"gen_raw","fromPin":"m=10;l=;s=","toPin":"m=20;l=;s="}""") ==
      Cmd.DiffRequest(1, "gen_raw", "m=10;l=;s=", "m=20;l=;s="))
  }

  test("raw query: string form and (procId, sql) object form") {
    assert(decode("cmd.tsdb.query", """"SELECT 1"""") == Cmd.Query("SELECT 1"))
    assert(decode("cmd.tsdb.query", """{"procId":3,"sql":"SELECT 2"}""") ==
      Cmd.Query("SELECT 2", Some(3)))
  }

  test("process lifecycle, DDL, filter/selector CRUD, log level") {
    assert(decode("cmd.ecprocess.ctrl", """{"procId":2,"op":"stop"}""") ==
      Cmd.Ctrl(2, "stop"))
    assert(decode("cmd.ecprocess.add", "null") == Cmd.AddProcess(None))
    assert(decode("cmd.ecprocess.add",
      """{"id":4,"name":"x","autostart":true}""") ==
      Cmd.AddProcess(Some(ProcessConfig(id = 4, name = "x", autostart = true))))
    val Cmd.UpdateConfig(updated) = decode("cmd.ecprocess.update_config",
      """{"id":1,"saveIntervalMs":250}""")
    assert(updated.saveIntervalMs == 250L)
    assert(decode("cmd.tsdb.add_retention_policy",
      """{"name":"t1","retention":"4 weeks","resolution":"10 minutes"}""") ==
      Cmd.AddRetentionPolicy(Tier("t1", "4 weeks", "10 minutes")))
    assert(decode("cmd.tsdb.add_cq",
      """{"name":"c","src":"gen_raw","target":"t1","every":"10m"}""") ==
      Cmd.AddCq("c", "gen_raw", "t1", "10m"))
    assert(decode("cmd.tsdb.delete_object",
      """{"objectType":"cq","name":"c"}""") == Cmd.DeleteObject("cq", "c"))
    val Cmd.AddFilter(f) = decode("cmd.tsdb.add_filter",
      """{"name":"f","topic":"pt:j1/a","negation":true,
        |"linkedFilterBooleanOperation":"or","linkedFilterId":2,
        |"tags":{"k":"v"}}""".stripMargin)
    assert(f.topic == "pt:j1/a" && f.negation && f.linkedFilterId == 2 &&
      f.linkedFilterBooleanOperation == "or" && f.tags == Map("k" -> "v") &&
      f.isAtomic)
    assert(decode("cmd.tsdb.remove_filter", "5") == Cmd.RemoveFilter(5))
    assert(decode("cmd.tsdb.add_selector",
      """{"topic":"pt:j1/mt:evt/#","inMemory":true}""") ==
      Cmd.AddSelector(Selector(0, "pt:j1/mt:evt/#", inMemory = true)))
    assert(decode("cmd.log.set_level", "\"warn\"") == Cmd.SetLogLevel("warn"))
    // payload-free commands decode to their case object
    Seq(Cmd.GetList, Cmd.GetMeasurements, Cmd.GetRetentionPolicies, Cmd.GetCqs,
      Cmd.GetFilters, Cmd.GetSelectors).foreach { c =>
      assert(CommandCodec.decode(s"""{"type":"${c.wireType}"}""").payload == c, c)
    }
  }

  test("reference wire parity: the docs/api snake_case envelopes decode " +
    "to full payloads, not silently-defaulted ones") {
    // the exact cmd.tsdb.get_energy_data_points envelope from docs/api
    // (:446-470) — snake_case throughout, as api/types.go's json tags pin
    val cmd = CommandCodec.decode(
      """{"serv":"ecollector","type":"cmd.tsdb.get_energy_data_points",
        |"val_t":"object","val":{"proc_id":1,"relative_time":"1d",
        |"from_time":"","to_time":"","group_by_time":"1h",
        |"group_by_tag":"location_id","fill_type":"previous",
        |"filters":{"tags":{"dir":"import"}}},"props":null,"tags":null,
        |"resp_to":"pt:j1/mt:rsp/rt:app/rn:tplex-ui/ad:1","src":"tplex-ui",
        |"ver":"1","uid":"f08f29b0-7db7-472a-887a-1c7427d9fb43",
        |"topic":"pt:j1/mt:cmd/rt:app/rn:ecollector/ad:1"}""".stripMargin)
    val Cmd.GetEnergyDataPoints(got) = cmd.payload
    assert(got.procId == 1 && got.relativeTime == "1d" &&
      got.groupByTime == "1h" && got.groupByTag == "location_id" &&
      got.fillType == "previous" && got.filters.tags == Map("dir" -> "import"))
    assert(cmd.groupByTag == "location_id")
    // full snake_case query surface incl. measurement_name + dev_types
    val Cmd.GetDataPoints(q) = decode("cmd.tsdb.get_data_points",
      """{"proc_id":2,"field_name":"value","data_function":"mean",
        |"transform_function":"abs","measurement_name":"sensor_temp.evt.sensor.report",
        |"relative_time":"2h","group_by_time":"10m","fill_type":"null",
        |"filters":{"dev_types":["sensor"]}}""".stripMargin)
    assert(q.procId == 2 && q.fieldName == "value" && q.dataFunction == "mean" &&
      q.transformFunction == "abs" &&
      q.measurementName == "sensor_temp.evt.sensor.report" &&
      q.relativeTime == "2h" && q.groupByTime == "10m" && q.fillType == "null" &&
      q.filters.devTypes == Seq("sensor"))
  }

  test("reference wire parity: write_data_points int64 ts — 0 means " +
    "server time, seconds and millis both land exactly") {
    val fixed = java.time.Instant.parse("2024-06-01T12:00:00Z")
    def dp(ts: String) = {
      val Cmd.WriteDataPointsRequest(_, _, pts) = CommandCodec.decode(
      // the docs/api write example shape (:474-489): proc_id, bucket,
      // dp with "ts": 0
      s"""{"serv":"ecollector","type":"cmd.tsdb.write_data_points",
         |"val_t":"object","val":{"proc_id":1,"bucket":"gen_default",
         |"dp":[{"name":"test_data_point","tags":{},"fields":{"val":15},
         |"ts":$ts}]}}""".stripMargin, now = () => fixed).payload
      pts.head
    }
    assert(dp("0").ts.toInstant == fixed) // "if 0, server sets local time"
    assert(dp("1717243200").ts.toInstant ==
      java.time.Instant.parse("2024-06-01T12:00:00Z")) // epoch seconds
    assert(dp("1717243200123").ts.toInstant ==
      java.time.Instant.ofEpochMilli(1717243200123L)) // epoch millis
    assert(dp("0").fields == Map("val" -> 15.0))
  }

  test("reference wire parity: untagged Go structs marshal exported " +
    "field names — ProcessConfig/Filter/Selector fallbacks") {
    // Go json.Marshal of the untagged ProcessConfig (model.go:81-108)
    val Cmd.AddProcess(Some(pc)) = decode("cmd.ecprocess.add",
      """{"ID":4,"Name":"house2","BatchMaxSize":500,
        |"SaveInterval":30000000000,"Autostart":true,"SiteId":"s-9",
        |"Profile":"optimized"}""".stripMargin)
    assert(pc.id == 4 && pc.name == "house2" && pc.batchMaxSize == 500 &&
      pc.saveIntervalMs == 30000L && // time.Duration ns → ms
      pc.autostart && pc.siteId == "s-9" && pc.profile == "optimized")
    val Cmd.AddFilter(f) = decode("cmd.tsdb.add_filter",
      """{"ID":3,"Name":"f","Topic":"pt:j1/a","MsgType":"evt.sensor.report",
        |"Negation":true,"LinkedFilterBooleanOperation":"or",
        |"LinkedFilterID":2,"IsAtomic":false,"Tags":{"k":"v"},
        |"MeasurementID":"m9"}""".stripMargin)
    assert(f.id == 3 && f.topic == "pt:j1/a" && f.msgType == "evt.sensor.report" &&
      f.negation && f.linkedFilterBooleanOperation == "or" &&
      f.linkedFilterId == 2 && !f.isAtomic && f.tags == Map("k" -> "v") &&
      f.measurementId == "m9")
    assert(decode("cmd.tsdb.add_selector",
      """{"ID":7,"Topic":"pt:j1/mt:evt/#","InMemory":true}""") ==
      Cmd.AddSelector(Selector(7, "pt:j1/mt:evt/#", inMemory = true)))
    // ctrl's str_map payload uses proc_id (admin.go:44)
    assert(decode("cmd.ecprocess.ctrl", """{"proc_id":"2","op":"stop"}""") ==
      Cmd.Ctrl(2, "stop"))
  }

  test("envelope identity fields ride through; malformed input refuses") {
    val cmd = CommandCodec.decode(
      """{"type":"cmd.tsdb.get_data_points","uid":"u-9","corid":"c-1",
        |"val":{"measurementName":"m","groupByTag":"dev_id"}}""".stripMargin)
    assert(cmd.uid == "u-9" && cmd.corid == "c-1" &&
      cmd.measurement == "m" && cmd.groupByTag == "dev_id")
    intercept[IllegalArgumentException] {
      CommandCodec.decode("""{"val":{}}""") // no type
    }
    intercept[IllegalArgumentException] {
      CommandCodec.decode("""{"type":"cmd.tsdb.nope","val":{}}""")
    }
  }
}
