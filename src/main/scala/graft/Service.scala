package graft

import java.util.concurrent.CountDownLatch

import graft.api.{Api, Cmd, CommandCodec}
import graft.ingest.IngestPipeline
import graft.model.{ProcessConfig, Selector}
import graft.sources.StreamSource
import graft.store.TierStore
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession

/**
 * The STANDING SERVICE assembly — the reference's long-running process
 * (service.go:95: config boot → Integration → run forever;
 * integration.go:342: the onCommand loop; integration.go:283-306: the
 * periodic disk monitor; its maintenance comes free from InfluxDB CQs
 * and retention tickers), re-expressed over the engine's own pieces so
 * a deployment stands the engine up WITHOUT writing Scala:
 *
 *  - boot: a properties file ([[Service.loadConfig]]) → SparkSession →
 *    [[Api.ProcessRegistry]] with one autostarted default process;
 *  - ingest: a streaming pipeline ([[IngestPipeline.runFromSource]] →
 *    [[IngestPipeline.runStream]], whose metadata dimension is fixed
 *    when the query starts — the service passes none; the refreshable
 *    form, [[IngestPipeline.runStreamRefreshable]], is not used here)
 *    tailing `frames.dir` for FIMP
 *    envelope log files (the [[StreamSource.LogFiles]] arm of the S1
 *    front door; the live-broker arm stays the documented environment
 *    boundary, KAFKA_CONNECTOR.md — swap the source, nothing else
 *    changes);
 *  - maintenance: a scheduler thread issuing
 *    `cmd.tsdb.run_maintenance` every `maintenance.interval.ms`
 *    (rollup cascade + registered CQs + retention + compaction) and
 *    the disk-monitor tick (`cmd.ecprocess.check_storage`);
 *  - commands: a FILE-SOCKET transport — drop
 *    `<command.dir>/cmd-<name>.json` (the FIMP command envelope,
 *    [[CommandCodec]]) and the service answers
 *    `<command.dir>/rsp-<name>.json` with the full FIMP report wire
 *    shape ([[Api.dispatchFimp]]), then moves the command file to
 *    `<command.dir>/done/`. Polling, not inotify: portable to object
 *    storage where the command dir may be a bucket prefix.
 *  - shutdown: `<command.dir>/_stop` (or [[Service.stop]]) stops the
 *    ingest query through [[graft.stream.StreamOps.stopAndUnload]]
 *    (state-store providers unloaded, not left to the maintenance
 *    tick), halts the loops, and releases [[Service.awaitTermination]].
 */
final class Service(val spark: SparkSession, conf: Service.Config) {

  private val registry = new Api.ProcessRegistry(spark, conf.storeRoot,
    Seq(defaultProcess), conf.quota)
  /** The default process's store — ingest and unrouted commands land here. */
  val store: TierStore = registry.byId(conf.procId).get.store
  val ctx: Api.Context = Api.Context(spark, store,
    state = registry.byId(conf.procId).get.state,
    registry = Some(registry))

  @volatile private var running = false
  @volatile private var ingest: Option[org.apache.spark.sql.streaming.StreamingQuery] = None
  private val stopped = new CountDownLatch(1)
  private var threads: Seq[Thread] = Nil
  /** Serializes every command the service issues (transport + scheduler)
   *  — the reference's onCommand loop is single-threaded too. */
  private val dispatchLock = new Object

  private def defaultProcess: ProcessConfig = ProcessConfig(
    id = conf.procId, name = "default", autostart = true,
    saveIntervalMs = conf.saveIntervalMs,
    // one pass-all atomic filter: the reference's chain admits nothing
    // without an entry filter (FilterCompiler: no atomic hit → false)
    filters = Seq(graft.model.Filter(id = 1)),
    selectors = conf.selectors.zipWithIndex.map { case (t, i) => Selector(i + 1, t) })

  private def fs = new HPath(conf.storeRoot)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  def start(): Service = synchronized {
    require(!running, "service already started")
    running = true
    store.init()
    if (conf.framesDir.nonEmpty) fs.mkdirs(new HPath(conf.framesDir))
    reconcileIngest() // autostarted process → stream comes up here
    threads = Seq(
      daemon("graft-maintenance")(maintenanceLoop()),
      daemon("graft-commands")(commandLoop())).flatten
    this
  }

  /**
   * Reconcile the ingest stream with the process's ctrl status — the
   * reference stops ALL ingestion on `cmd.ecprocess.ctrl stop` AND on
   * the disk alarm (integration.go:296-301, which flips every process
   * to STOPPED) and resumes on `start`. Stopping goes through
   * [[graft.stream.StreamOps.stopAndUnload]]; resuming restarts the
   * query FROM ITS CHECKPOINT, and the store's batch ledger makes the
   * replayed tail batch idempotent — pause/resume is exactly-once end
   * to end. Runs after every command batch and maintenance cycle (the
   * two places status can change).
   */
  private def reconcileIngest(): Unit = synchronized {
    if (!running || conf.framesDir.isEmpty) return
    val status = registry.byId(conf.procId).map(_.status).getOrElse("STOPPED")
    (status, ingest) match {
      case ("RUNNING", None) =>
        ingest = Some(IngestPipeline.runFromSource(spark,
          StreamSource.LogFiles(conf.framesDir), ctx.state.config,
          metadata = None, store = store,
          checkpoint = s"${conf.checkpointDir}/ingest"))
      case (s, Some(q)) if s != "RUNNING" =>
        graft.stream.StreamOps.stopAndUnload(q)
        ingest = None
      case _ => ()
    }
  }

  /** Is the ingest stream currently up? (control-loop observability) */
  private[graft] def ingestActive: Boolean = ingest.exists(_.isActive)

  private def daemon(name: String)(body: => Unit): Option[Thread] = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.start()
    Some(t)
  }

  /** One maintenance cycle: the run_maintenance command + the disk
   *  monitor tick — command-shaped so an operator sees exactly what a
   *  manual `cmd.tsdb.run_maintenance` would do — plus the transport's
   *  own housekeeping ([[sweepCommandDir]]). */
  def maintenanceCycle(): Unit = dispatchLock.synchronized {
    Api.dispatch(ctx, Cmd.MaintenanceRequest(procId = conf.procId,
      sinceDays = conf.maintenanceSinceDays,
      retainHistory = conf.retainHistory)).collect(): Unit
    Api.dispatch(ctx, Cmd.CheckStorage).collect(): Unit
    reconcileIngest() // a disk alarm flips statuses — act on it now
    sweepCommandDir()
    cyclesDone += 1
  }

  /**
   * Transport retention: reclaim `rsp-*.json` responses and `done/`
   * command files older than `command.retention.ms` — without it a
   * long-lived service (the assembly's whole point) grows the command
   * dir without bound, one rsp + one done file per command ever issued
   * (integration.go's housekeeping stance, applied to the file socket).
   * Age-based, so an in-flight exchange is never touched: a response
   * the client has not read yet is by definition younger than the
   * retention window (default 24 h), and `cmd-*.json` files — work not
   * yet executed — are never swept at all.
   */
  private[graft] def sweepCommandDir(): Unit = {
    if (conf.commandDir.isEmpty || conf.commandRetentionMs <= 0) return
    val cutoff = System.currentTimeMillis() - conf.commandRetentionMs
    val dir = new HPath(conf.commandDir)
    if (!fs.exists(dir)) return
    fs.listStatus(dir).foreach { e =>
      val n = e.getPath.getName
      if (e.isFile && n.startsWith("rsp-") && n.endsWith(".json") &&
        e.getModificationTime < cutoff) fs.delete(e.getPath, false): Unit
    }
    val done = new HPath(dir, "done")
    if (fs.exists(done))
      fs.listStatus(done).foreach { e =>
        if (e.isFile && e.getModificationTime < cutoff)
          fs.delete(e.getPath, false): Unit
      }
  }
  @volatile private[graft] var cyclesDone: Int = 0

  private def maintenanceLoop(): Unit =
    while (running) {
      try maintenanceCycle()
      catch { case e: Exception if running =>
        System.err.println(s"[graft.Service] maintenance cycle failed: ${e.getMessage}") }
      // the interval is the IDLE GAP between cycles, not cycle starts: a
      // cycle that outruns the interval must not re-enter back-to-back —
      // it would hold the dispatch lock continuously and starve the
      // command transport
      val next = System.currentTimeMillis() + conf.maintenanceIntervalMs
      while (running && System.currentTimeMillis() < next) Thread.sleep(50)
    }

  /** Execute one command-envelope JSON and return the FIMP report the
   *  transport writes back — also the in-process entry for tests. A
   *  [[Cmd.SeriesShaped]] command answers the reference's Results
   *  document; `cmd.tsdb.get_measurements` answers the documented
   *  `evt.tsdb.measurements_report` string array; everything else
   *  answers its rows as a JSON array in an `evt.<command>_report`
   *  envelope. */
  def execute(json: String): String = dispatchLock.synchronized {
    val ctime = java.time.Instant.now().toString
    val uid = java.util.UUID.randomUUID().toString
    try {
      val cmd = CommandCodec.decode(json)
      cmd.payload match {
        case series: Cmd.SeriesShaped =>
          Api.dispatchFimp(ctx, series, corid = cmd.uid, uid = uid, ctime = ctime,
            measurement = cmd.measurement, groupByTag = cmd.groupByTag)
        case Cmd.GetMeasurements =>
          Api.measurementsFimpReport(ctx, corid = cmd.uid, uid = uid, ctime = ctime)
        case c =>
          val reportType = c.wireType.replaceFirst("^cmd\\.", "evt.") + "_report"
          val body =
            try Api.dispatch(ctx, c).toJSON.collect().mkString("[", ",", "]")
            catch { case e: Exception =>
              s"""{"error":${CommandCodec.q(e.getMessage)}}"""
            }
          Api.shapeFimpReport(body, corid = cmd.uid, uid = uid, ctime = ctime,
            msgType = reportType)
      }
    } catch { case e: Exception =>
      // a malformed envelope still answers on the wire (admin.go logs
      // and reports the error inside the payload)
      Api.shapeFimpReport(
        s"""{"error":${CommandCodec.q(e.getMessage)}}""",
        corid = "", uid = uid, ctime = ctime)
    }
  }

  private def commandLoop(): Unit = {
    if (conf.commandDir.isEmpty) return
    val dir = new HPath(conf.commandDir)
    fs.mkdirs(dir)
    val done = new HPath(dir, "done")
    fs.mkdirs(done)
    while (running) {
      if (fs.exists(new HPath(dir, "_stop"))) { stop(); return }
      val cmds = fs.listStatus(dir).filter { e =>
        val n = e.getPath.getName
        e.isFile && n.startsWith("cmd-") && n.endsWith(".json")
      }.sortBy(_.getPath.getName)
      cmds.foreach { e =>
        try {
          val name = e.getPath.getName.stripPrefix("cmd-").stripSuffix(".json")
          val in = fs.open(e.getPath)
          val json = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          val report = execute(json)
          Service.publishAndRetire(fs, dir, done, e.getPath, name, report)
        } catch { case ex: Exception if running =>
          // a command file that cannot even be read/moved must not kill
          // the transport (execute() itself never throws)
          System.err.println(s"[graft.Service] command ${e.getPath.getName} " +
            s"failed: ${ex.getMessage}")
        }
      }
      // a ctrl command may have changed the process status
      if (cmds.nonEmpty) reconcileIngest()
      Thread.sleep(conf.commandPollMs)
    }
  }

  /** Clean shutdown: ingest stream stopped AND its state-store
   *  providers unloaded, loops halted, awaitTermination released. */
  def stop(): Unit = synchronized {
    if (!running) return
    running = false
    ingest.foreach(graft.stream.StreamOps.stopAndUnload)
    ingest = None
    stopped.countDown()
  }

  def isRunning: Boolean = running

  /** Blocks until [[stop]] (or the `_stop` file) shuts the service down. */
  def awaitTermination(): Unit = stopped.await()
}

object Service {

  /**
   * Publish one command's response and retire its command file. The
   * response appears atomically (staged hidden, then renamed) and BOTH
   * renames are result-checked: on HDFS/object-store semantics
   * rename-to-existing returns FALSE (it does not throw), and ignoring
   * that for the done/ move would leave the cmd file in place — the
   * 200 ms poll would then re-execute a non-idempotent command (a
   * write_data_points, a delete) every cycle, forever. A reused command
   * name first clears the stale destination; if the move STILL fails
   * the command file is dropped — its response was already published,
   * and never-re-execute beats preserving a duplicate audit file.
   */
  private[graft] def publishAndRetire(fs: org.apache.hadoop.fs.FileSystem,
      dir: HPath, done: HPath, cmdFile: HPath, name: String,
      report: String): Unit = {
    val staged = new HPath(dir, s"._rsp-$name.json")
    val out = fs.create(staged, true)
    try out.write(report.getBytes("UTF-8")) finally out.close()
    val rsp = new HPath(dir, s"rsp-$name.json")
    if (!fs.rename(staged, rsp)) {
      fs.delete(rsp, false) // a reused name: the latest response wins
      if (!fs.rename(staged, rsp))
        System.err.println(s"[graft.Service] response publish failed: $rsp")
    }
    val dst = new HPath(done, cmdFile.getName)
    if (!fs.rename(cmdFile, dst)) {
      fs.delete(dst, false)
      if (!fs.rename(cmdFile, dst)) {
        System.err.println(
          s"[graft.Service] done-move failed for ${cmdFile.getName}; dropping")
        fs.delete(cmdFile, false): Unit // never re-execute
      }
    }
  }

  /** Boot configuration — one flat properties file (service.go:95 reads
   *  the reference's JSON config; properties keep the zero-dependency
   *  transport theme). Relative dirs default under `storeRoot`. */
  final case class Config(
      storeRoot: String,
      framesDir: String = "",
      checkpointDir: String = "",
      commandDir: String = "",
      procId: Int = 1,
      saveIntervalMs: Long = 1000L,
      maintenanceIntervalMs: Long = 600000L,
      maintenanceSinceDays: Int = 3,
      retainHistory: Boolean = false,
      commandPollMs: Long = 200L,
      commandRetentionMs: Long = 86400000L,
      selectors: Seq[String] = Nil,
      quota: Option[Api.StorageQuota] = None)

  def loadConfig(path: String): Config = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(path)
    try p.load(in) finally in.close()
    def get(k: String, d: String) = Option(p.getProperty(k)).getOrElse(d)
    val root = Option(p.getProperty("store.root")).getOrElse(
      throw new IllegalArgumentException(s"$path: store.root is required"))
    Config(
      storeRoot = root,
      framesDir = get("frames.dir", s"$root/_frames"),
      checkpointDir = get("checkpoint.dir", s"$root/_checkpoints"),
      commandDir = get("command.dir", s"$root/_commands"),
      procId = get("proc.id", "1").toInt,
      saveIntervalMs = get("save.interval.ms", "1000").toLong,
      maintenanceIntervalMs = get("maintenance.interval.ms", "600000").toLong,
      maintenanceSinceDays = get("maintenance.since.days", "3").toInt,
      retainHistory = get("maintenance.retain.history", "false").toBoolean,
      commandPollMs = get("command.poll.ms", "200").toLong,
      commandRetentionMs = get("command.retention.ms", "86400000").toLong,
      selectors = get("selectors", "").split(',').map(_.trim).filter(_.nonEmpty).toSeq,
      quota = Option(p.getProperty("quota.max.bytes"))
        .map(b => Api.StorageQuota(maxBytes = b.toLong)))
  }

  /** `runMain graft.Service <config.properties>` — boots, runs until a
   *  `_stop` file lands in the command dir (or SIGTERM). */
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: graft.Service <config.properties>")
    val conf = loadConfig(args(0))
    val spark = GraftSession.getOrCreate()
    val svc = new Service(spark, conf).start()
    sys.addShutdownHook(svc.stop())
    svc.awaitTermination()
  }
}
