package graft

import java.nio.file.{Files, Paths}

import graft.model.Tier
import org.apache.spark.sql.functions._

/**
 * The standing service assembly (VERDICT r9 ask #2; reference
 * service.go:95 boot / integration.go:342 command loop): boot from a
 * properties config, ingest frames through the file front door, answer
 * FIMP command files, roll a maintenance cycle, and shut down cleanly.
 */
class ServiceSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.Fixtures.newDir("graft_svc").toFile.getAbsolutePath

  private def await(what: String, timeoutMs: Long = 30000L)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline) fail(s"timed out waiting: $what")
      Thread.sleep(50)
    }
  }

  /** tai64n log-line label for an epoch second. */
  private def tai64n(sec: Long): String =
    f"@${sec + 4611686018427387904L}%016x00000000"

  test("standing service e2e: boot -> file ingest -> command round trips " +
    "-> maintenance cycle rolls partitions -> _stop shuts down cleanly") {
    val root = tmpDir()
    val conf = Service.Config(
      storeRoot = root, framesDir = s"$root/_frames",
      checkpointDir = s"$root/_ck", commandDir = s"$root/_cmds",
      saveIntervalMs = 100L, maintenanceIntervalMs = 500L,
      commandPollMs = 50L, selectors = Seq("pt:j1/mt:evt/#"))
    val svc = new Service(spark, conf).start()
    try {
      // --- ingest: one frame dropped into the tailed frames dir ---
      val evSec = System.currentTimeMillis() / 1000 - 120 // recent: inside
      // the maintenance window, so the cycle below rolls it up
      val line = tai64n(evSec) +
        " pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:2 " +
        """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":21.5,"props":{"unit":"C"},"src":"app"}"""
      Files.write(Paths.get(conf.framesDir, "a.log"), line.getBytes("UTF-8"))
      await("ingested frame visible in gen_raw") {
        svc.store.read(Tier.GenRaw).count() == 1L
      }
      assert(svc.store.read(Tier.GenRaw).select("value")
        .collect().head.getDouble(0) == 21.5)

      // --- command transport: write, then query, by file ---
      val ts = java.time.Instant.ofEpochSecond(evSec).toString
      def issue(name: String, json: String): String = {
        Files.write(Paths.get(conf.commandDir, s"._cmd-$name.json"),
          json.getBytes("UTF-8"))
        // appear atomically under the watched name
        Files.move(Paths.get(conf.commandDir, s"._cmd-$name.json"),
          Paths.get(conf.commandDir, s"cmd-$name.json"))
        val rsp = Paths.get(conf.commandDir, s"rsp-$name.json")
        await(s"response rsp-$name.json")(Files.exists(rsp))
        new String(Files.readAllBytes(rsp), "UTF-8")
      }
      val wrote = issue("001",
        s"""{"type":"cmd.tsdb.write_data_points","serv":"ecollector","uid":"u-1",
           |"val":{"dp":[{"name":"app_click","tags":{"dev_id":"d9","location_id":"3"},
           |"fields":{"value":7.0},"ts":"$ts"}]}}""".stripMargin)
      assert(wrote.contains(""""corid":"u-1""""), wrote)
      val got = issue("002",
        """{"type":"cmd.tsdb.get_data_points","uid":"u-2",
          |"val":{"measurementName":"app_click","relativeTime":"1h"}}""".stripMargin)
      assert(got.contains("evt.tsdb.data_points_report") &&
        got.contains("app_click") && got.contains("7"), got)
      // processed command files are moved aside
      assert(Files.exists(Paths.get(conf.commandDir, "done", "cmd-001.json")))

      // --- maintenance: a cycle fires on its own and rolls the raw
      // event into the gen_day rollup tier ---
      await("a maintenance cycle")(svc.cyclesDone >= 1)
      await("gen_day rollup materialized") {
        svc.store.read(Tier.GenDay)
          .filter(col("measurement").startsWith("sensor_temp")).count() >= 1L
      }
      // and the scheduler keeps firing, not just once
      await("a second maintenance cycle")(svc.cyclesDone >= 2)

      // --- a malformed command still answers on the wire ---
      val bad = issue("003", """{"type":"cmd.tsdb.nonexistent","val":{}}""")
      assert(bad.contains("error"), bad)

      // --- shutdown via the _stop file ---
      Files.write(Paths.get(conf.commandDir, "_stop"), Array.empty[Byte])
      await("service stopped")(!svc.isRunning)
      svc.awaitTermination() // released, does not hang
      // the ingest query is gone from the session's active set
      assert(!spark.streams.active.exists(q =>
        Option(q.lastProgress).exists(_.sources.exists(
          _.description.contains(conf.framesDir)))),
        "ingest query still active after shutdown")
    } finally svc.stop()
  }

  test("ctrl stop halts ingestion; start resumes from the checkpoint " +
    "exactly-once (no duplicates, nothing lost)") {
    val root = tmpDir()
    val conf = Service.Config(
      storeRoot = root, framesDir = s"$root/_frames",
      checkpointDir = s"$root/_ck", commandDir = s"$root/_cmds",
      saveIntervalMs = 100L, maintenanceIntervalMs = 3600000L, // manual only
      commandPollMs = 50L, selectors = Seq("pt:j1/mt:evt/#"))
    val svc = new Service(spark, conf).start()
    def issue(name: String, json: String): String = {
      Files.write(Paths.get(conf.commandDir, s"._cmd-$name.json"),
        json.getBytes("UTF-8"))
      Files.move(Paths.get(conf.commandDir, s"._cmd-$name.json"),
        Paths.get(conf.commandDir, s"cmd-$name.json"))
      val rsp = Paths.get(conf.commandDir, s"rsp-$name.json")
      await(s"response rsp-$name.json")(Files.exists(rsp))
      new String(Files.readAllBytes(rsp), "UTF-8")
    }
    def frame(file: String, ad: Int, v: Double): Unit =
      Files.write(Paths.get(conf.framesDir, file),
        (tai64n(System.currentTimeMillis() / 1000 - 60) +
          s" pt:j1/mt:evt/rt:dev/rn:z/ad:$ad/sv:sensor_temp/ad:$ad " +
          s"""{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":$v,"props":{"unit":"C"},"src":"app"}""")
          .getBytes("UTF-8"))
    def values(): Seq[Double] = svc.store.read(Tier.GenRaw)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    try {
      await("ingest up")(svc.ingestActive)
      frame("a.log", 1, 1.0)
      await("first frame")(values() == Seq(1.0))

      // the reference's ctrl stop halts ALL ingestion (admin.go:113-150)
      issue("stop", """{"type":"cmd.ecprocess.ctrl","uid":"c1",
        |"val":{"procId":1,"op":"stop"}}""".stripMargin)
      await("ingest halted")(!svc.ingestActive)
      frame("b.log", 2, 2.0)
      Thread.sleep(800) // would have been ingested if the stream were up
      assert(values() == Seq(1.0), "stopped process still ingested")

      // start resumes FROM THE CHECKPOINT: the waiting frame lands, the
      // already-committed one does not duplicate (ledger + file log)
      issue("start", """{"type":"cmd.ecprocess.ctrl","uid":"c2",
        |"val":{"procId":1,"op":"start"}}""".stripMargin)
      await("ingest resumed")(svc.ingestActive)
      await("queued frame ingested")(values() == Seq(1.0, 2.0))
    } finally svc.stop()
  }

  test("disk alarm: a storage-quota breach stops every process AND the " +
    "ingest stream on the next maintenance tick") {
    val root = tmpDir()
    val aux = tmpDir() // frames + checkpoint OUTSIDE the quota'd root,
    // and the budget sits above the boot metadata (~200 B) but below
    // any ingested parquet — so the breach is exactly "data landed"
    val conf = Service.Config(
      storeRoot = root, framesDir = s"$aux/_frames",
      checkpointDir = s"$aux/_ck", commandDir = "",
      saveIntervalMs = 100L, maintenanceIntervalMs = 3600000L,
      selectors = Seq("pt:j1/mt:evt/#"),
      quota = Some(graft.api.Api.StorageQuota(maxBytes = 800L)))
    val svc = new Service(spark, conf).start()
    try {
      await("ingest up")(svc.ingestActive)
      Files.write(Paths.get(conf.framesDir, "a.log"),
        (tai64n(System.currentTimeMillis() / 1000 - 60) +
          " pt:j1/mt:evt/rt:dev/rn:z/ad:1/sv:sensor_temp/ad:1 " +
          """{"serv":"sensor_temp","type":"evt.sensor.report","val_t":"float","val":5.0,"props":{"unit":"C"},"src":"app"}""")
          .getBytes("UTF-8"))
      await("frame ingested")(svc.store.read(Tier.GenRaw).count() == 1L)
      // the tick: check_storage alarms (store >> 1 byte) → every
      // process STOPPED (integration.go:296-301) → reconcile halts ingest
      svc.maintenanceCycle()
      assert(!svc.ingestActive, "disk alarm left the ingest stream running")
    } finally svc.stop()
  }

  test("loadConfig: properties parse, defaults derive under store.root, " +
    "missing store.root refuses") {
    val dir = tmpDir()
    val f = Paths.get(dir, "svc.properties")
    Files.write(f,
      ("store.root=/data/graft\nmaintenance.interval.ms=1234\n" +
        "selectors=pt:j1/mt:evt/#,pt:j1/mt:cmd/#\nquota.max.bytes=1000000\n")
        .getBytes("UTF-8"))
    val c = Service.loadConfig(f.toString)
    assert(c.storeRoot == "/data/graft")
    assert(c.framesDir == "/data/graft/_frames")
    assert(c.commandDir == "/data/graft/_commands")
    assert(c.maintenanceIntervalMs == 1234L)
    assert(c.selectors == Seq("pt:j1/mt:evt/#", "pt:j1/mt:cmd/#"))
    assert(c.quota.map(_.maxBytes).contains(1000000L))
    val empty = Paths.get(dir, "empty.properties")
    Files.write(empty, Array.empty[Byte])
    intercept[IllegalArgumentException] { Service.loadConfig(empty.toString) }
  }

  test("execute: the in-process command entry decodes the envelope and " +
    "shapes errors instead of throwing") {
    val root = tmpDir()
    val svc = new Service(spark, Service.Config(storeRoot = root))
    // a valid command against the (empty) store answers with a report
    val r = svc.execute(
      """{"type":"cmd.tsdb.get_retention_policies","uid":"x"}""")
    assert(r.contains("gen_raw") && r.contains(""""corid":"x""""), r)
    // garbage answers an error envelope, not an exception
    val e = svc.execute("""{"type":"cmd.tsdb.query","val":12}""")
    assert(e.contains("error"), e)
    val g = svc.execute("not json at all")
    assert(g.contains("error"), g)
    // an unknown type is refused where the envelope is decoded, and still
    // answers an error report
    val u = svc.execute("""{"type":"cmd.tsdb.nope","uid":"n","val":{}}""")
    assert(u.contains("unknown command: cmd.tsdb.nope"), u)
  }

  test("command-dir retention: the maintenance sweep reclaims old " +
    "rsp-/done/ files while in-flight exchanges survive (r10 ask #4)") {
    val root = tmpDir()
    val conf = Service.Config(storeRoot = root, commandDir = s"$root/_cmds",
      commandRetentionMs = 3600000L) // 1 h
    val svc = new Service(spark, conf)
    val dir = Paths.get(conf.commandDir)
    Files.createDirectories(dir.resolve("done"))
    def put(rel: String, ageMs: Long): java.nio.file.Path = {
      val p = dir.resolve(rel)
      Files.write(p, "{}".getBytes("UTF-8"))
      Files.setLastModifiedTime(p, java.nio.file.attribute.FileTime
        .fromMillis(System.currentTimeMillis() - ageMs))
      p
    }
    val oldRsp = put("rsp-old.json", 7200000L) // 2 h — past retention
    val oldDone = put("done/cmd-old.json", 7200000L)
    val freshRsp = put("rsp-new.json", 1000L) // unread response, in flight
    val freshDone = put("done/cmd-new.json", 1000L)
    val pending = put("cmd-pending.json", 7200000L) // unexecuted work:
    // never swept, however old — sweeping it would silently drop a command
    svc.sweepCommandDir()
    assert(!Files.exists(oldRsp) && !Files.exists(oldDone),
      "aged rsp/done files must be reclaimed")
    assert(Files.exists(freshRsp) && Files.exists(freshDone) &&
      Files.exists(pending), "in-flight files must survive the sweep")
  }

  test("publishAndRetire survives HDFS rename-to-existing semantics: a " +
    "reused command name never re-executes (ADVICE r10)") {
    // rename-to-existing returns FALSE instead of replacing — the HDFS/
    // object-store contract POSIX rename hides (local renames replace)
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def rename(src: org.apache.hadoop.fs.Path,
          dst: org.apache.hadoop.fs.Path): Boolean =
        !exists(dst) && super.rename(src, dst)
    }
    fs.initialize(java.net.URI.create("file:///"),
      spark.sparkContext.hadoopConfiguration)
    val root = tmpDir()
    val dir = new org.apache.hadoop.fs.Path(root)
    val done = new org.apache.hadoop.fs.Path(dir, "done")
    fs.mkdirs(done)
    def write(p: org.apache.hadoop.fs.Path, s: String): Unit = {
      val o = fs.create(p, true); try o.write(s.getBytes("UTF-8")) finally o.close()
    }
    // a PRIOR exchange under the same name already sits in rsp- and done/
    write(new org.apache.hadoop.fs.Path(dir, "rsp-dup.json"), "old-rsp")
    write(new org.apache.hadoop.fs.Path(done, "cmd-dup.json"), "old-cmd")
    val cmd = new org.apache.hadoop.fs.Path(dir, "cmd-dup.json")
    write(cmd, "new-cmd")
    Service.publishAndRetire(fs, dir, done, cmd, "dup", "new-rsp")
    // the command file LEFT the watched dir (else the poll re-executes it
    // every 200 ms forever) and the latest response won
    assert(!fs.exists(cmd), "cmd file must leave the watched dir")
    def readAll(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    assert(readAll(new org.apache.hadoop.fs.Path(dir, "rsp-dup.json")) == "new-rsp")
    assert(readAll(new org.apache.hadoop.fs.Path(done, "cmd-dup.json")) == "new-cmd")
  }
}
