package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.Service
import graft.stream.StreamOps

/**
 * `service_live`: an open loop against `Service` as deployed. A generator
 * thread drops one frame file into the frames dir every interval at a
 * fixed offered rate, each file carrying one probe frame; one closed-loop
 * client alternates a probe query and a dashboard query through
 * `Service.execute`, contending with the ingest stream for the store and
 * the cores; after the window the benchmark runs and times one
 * `maintenanceCycle()`. Small micro-batches make fixed per-trigger costs
 * dominate.
 */
object ServiceLive {
  val IntervalMs = 100L
  /** Offered rate: 400 frames/s, about twice the reference envelope of
   *  1000 points per 5 s flush. */
  val FramesPerFile = 40
  val TriggerMs = 1000L
  /** Open-loop warm-up inside the set-up. */
  val WarmupMs = 6000L

  /** The deployed Service. A traced run leaves the frames dir out of the
   *  Service's config and runs the benchmark's traced ingest stream over
   *  it into the Service's store instead, so ingest splits by layer. */
  def config(root: String, traced: Boolean): Service.Config = Service.Config(
    storeRoot = root, framesDir = if (traced) "" else s"$root/_frames",
    checkpointDir = s"$root/_ck",
    commandDir = "", saveIntervalMs = TriggerMs,
    // the benchmark runs maintenance itself, on its own schedule
    maintenanceIntervalMs = Long.MaxValue / 4,
    selectors = Gen.Selectors)

  def probeCmd(uid: String): String =
    s"""{"type":"cmd.tsdb.get_data_points","serv":"ecollector","uid":"$uid",""" +
      s""""val":{"measurementName":"${Gen.ProbeMeasurement}","relativeTime":"10m"}}"""
  def dashboardCmd(uid: String): String =
    s"""{"type":"cmd.tsdb.get_data_points","serv":"ecollector","uid":"$uid",""" +
      """"val":{"measurementName":"electricity_meter_power","relativeTime":"1h",""" +
      """"dataFunction":"mean","groupByTime":"1m","groupByTag":"dir"}}"""

  /** Probe numbers in a probe response. */
  def probeValues(rsp: String): Seq[Long] =
    """\[(\d+),(\d+(?:\.\d+)?)\]""".r.findAllMatchIn(rsp).map(_.group(2).toDouble.toLong).toSeq

  /** Writes frame files atomically (hidden name, then rename). */
  final class Writer(r: Run, dir: String) {
    private var file = 0
    private var seq = 0L
    private var probeNo = 0L
    def next(ms: Long): Long = {
      val k = probeNo
      val text = r.gen.frameFile(1000000000L + seq, FramesPerFile, ms - IntervalMs, IntervalMs) +
        r.gen.probe(k, ms) + "\n"
      val tmp = Paths.get(dir, f".f-$file%06d.log")
      Files.write(tmp, text.getBytes(UTF_8))
      Files.move(tmp, Paths.get(dir, f"f-$file%06d.log"), StandardCopyOption.ATOMIC_MOVE)
      file += 1; seq += FramesPerFile; probeNo += 1
      k
    }
  }

  def run(r: Run): Report = {
    val rep = new Report
    val spark = r.spark
    var uid = 0L
    def nextUid() = { uid += 1; s"c$uid" }
    val cmdErrors = mutable.ArrayBuffer.empty[String]
    def execute(svc: Service, cmd: String => String): (String, Double) = {
      val id = nextUid()
      val t0 = System.nanoTime()
      val out = r.tracer.span("api.execute", id)(svc.execute(cmd(id)))
      val ms = (System.nanoTime() - t0) / 1e6
      if (Answers.error(out).nonEmpty) cmdErrors += out.take(300)
      (out, ms)
    }

    /** What one stretch of the open loop saw. */
    final class Window {
      val scheduled = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val lateMs = mutable.ArrayBuffer.empty[Double]
      val visible = mutable.LinkedHashMap.empty[Long, Double]
      val cmdMs = mutable.ArrayBuffer.empty[Double]
      val dupProbes = mutable.ArrayBuffer.empty[String]
      var seconds = 0.0
    }
    def probeOnce(svc: Service, w: Window): Unit = {
      val (rsp, ms) = execute(svc, probeCmd)
      val done = System.currentTimeMillis()
      w.cmdMs += ms
      val vs = probeValues(rsp)
      if (vs.distinct.size != vs.size) w.dupProbes += s"probe response repeats a probe: ${vs.diff(vs.distinct).take(5)}"
      vs.foreach { k =>
        val due = w.scheduled.get(k)
        if (due != 0L && !w.visible.contains(k)) w.visible(k) = (done - due).toDouble
      }
    }
    /** Run the generator thread and the closed-loop client for `ms`. */
    def openLoop(svc: Service, writer: Writer, ms: Long): Window = {
      val w = new Window
      val t0 = System.currentTimeMillis()
      val end = t0 + ms
      val genThread = new Thread(() => {
        var i = 0L
        while (t0 + i * IntervalMs < end) {
          val due = t0 + i * IntervalMs
          val now = System.currentTimeMillis()
          if (due > now) Thread.sleep(due - now)
          w.scheduled.put(writer.next(due), due)
          w.lateMs.synchronized(w.lateMs += (System.currentTimeMillis() - due).toDouble)
          i += 1
        }
      }, "perfbench-generator")
      genThread.start()
      var probeTurn = true
      while (System.currentTimeMillis() < end) {
        if (probeTurn) probeOnce(svc, w)
        else w.cmdMs += execute(svc, dashboardCmd)._2
        probeTurn = !probeTurn
      }
      w.seconds = (System.currentTimeMillis() - t0) / 1000.0
      genThread.join()
      w
    }

    // set-up, once: boot the Service on a fresh store, wait until a probe
    // is visible, then run the open loop for a warm-up stretch so the
    // window starts on a warm JVM and a busy pipeline
    val s0 = System.nanoTime()
    val root = r.dir("sl/store")
    val svc = new Service(spark, config(root, r.traced)).start()
    val frames = r.dir("sl/store/_frames")
    if (r.traced)
      IngestBacklog.start(r, frames, svc.store, s"$root/_ck/traced-ingest",
        Checks.ingestConfig(TriggerMs), traced = true, maxFiles = None)
    val writer = new Writer(r, frames)
    val firstDue = System.currentTimeMillis()
    val first = writer.next(firstDue)
    val deadline0 = System.currentTimeMillis() + 60000
    while (!probeValues(execute(svc, probeCmd)._1).contains(first)) {
      require(System.currentTimeMillis() < deadline0, "warm-up probe never became visible")
      execute(svc, dashboardCmd)
    }
    val warm = openLoop(svc, writer, WarmupMs)
    rep.e2e("setup_s") = ((System.nanoTime() - s0) / 1e9, "s")
    val query = spark.streams.active.head
    val batch0 = Option(query.lastProgress).map(_.batchId).getOrElse(-1L)

    // timed phase
    IngestTrace.drain() // set-up batches
    r.tracer.markTimed()
    val (gc0, gcMs0) = Obs.gcTotals()
    val win = openLoop(svc, writer, r.seconds * 1000L)
    import win.{scheduled, lateMs, visible, cmdMs, dupProbes}
    val timedS = win.seconds
    val cmdsDone = cmdMs.size
    val (gc1, gcMs1) = Obs.gcTotals()
    // drain: every probe must become visible
    val deadline = System.currentTimeMillis() + 60000
    while (visible.size < scheduled.size && System.currentTimeMillis() < deadline) probeOnce(svc, win)
    query.processAllAvailable()
    val heap = Obs.heapAfterGcMb()
    val ps = Frames.progressAfter(query, batch0)
    // one maintenance cycle over what the window ingested, timed on its
    // own: a cycle takes longer than the window, so inside it the window
    // would measure little else
    val before = Checks.dataFiles(root).toSet
    val m0 = System.nanoTime()
    r.tracer.span("rollup.cycle", "m1")(Obs.withGroup(spark, "rollup.cycle")(svc.maintenanceCycle()))
    val maintMs = (System.nanoTime() - m0) / 1e6
    val rewritten = before.diff(Checks.dataFiles(root).toSet).size
    // files written but not yet consumed, sampled at each trigger start of
    // the window; counts run from the stream's start, warm-up included
    val backlog = {
      val due = (warm.scheduled.values.asScala ++ scheduled.values.asScala).toSeq :+ firstDue
      var consumed = 0L
      Frames.progressAfter(query, -1).sortBy(_.batchId).flatMap { p =>
        val at = java.time.Instant.parse(p.timestamp).toEpochMilli
        val b = due.count(_ <= at) - consumed
        consumed += p.numInputRows / (FramesPerFile + 1)
        if (p.batchId > batch0) Some(b) else None
      }.maxOption.getOrElse(0L)
    }
    svc.stop()
    spark.streams.active.foreach(StreamOps.stopAndUnload)

    val offered = scheduled.size.toLong * (FramesPerFile + 1)
    val vis = visible.values.toSeq
    val (_, tp, _) = Obs.tail(vis)
    rep.e2e("throughput_per_s") = (cmdsDone / timedS, "1/s")
    rep.e2e("latency_p50_ms") = (rep.timing("visible ms (latency_p50_ms)", vis, 50), "ms")
    rep.e2e("latency_tail_ms") = (rep.timing("visible ms (latency_tail_ms)", vis, tp), "ms")
    rep.e2e("heap_after_gc_mb") = (heap, "MB")
    val (cmdTail, cp, cn) = Obs.tail(cmdMs.toSeq)
    rep.notes += f"cmd_p50_ms = ${Obs.pct(cmdMs.toSeq, 50)}%.3f ms; cmd_tail_ms = $cmdTail%.3f ms (p$cp%.1f of $cn)"
    rep.notes += f"cmds_per_s = ${cmdsDone / timedS}%.3f 1/s"
    rep.notes += f"maintenance_s = ${maintMs / 1000}%.3f s (one cycle)"
    val lateP99 = Obs.pct(lateMs.toSeq, 99)
    rep.notes += f"gen.late_p99_ms = $lateP99%.1f; offered ${offered} frames over $timedS%.2f s"

    // open-loop validity: a generator that fell behind by more than the
    // latency bound's share of the median visible latency invalidates the run
    val allowedLateMs = 0.25 * Obs.median(vis)
    if (lateP99 > allowedLateMs) {
      System.err.println(f"INVALID run: generator late p99 $lateP99%.1f ms > $allowedLateMs%.1f ms")
      System.out.flush()
      sys.exit(4)
    }

    // correctness: each error, repeated probe, unseen probe and ingest
    // mismatch is one failure
    val unseen = scheduled.size - visible.size
    val landing = Checks.ingest(spark, s"$root/_frames", svc.store,
      r.dir("sl-replay"), Checks.ingestConfig(TriggerMs))
    val problems = cmdErrors.map(e => s"command answered an error: $e") ++
      warm.dupProbes ++ dupProbes ++
      (if (unseen > 0) Seq(s"$unseen probes never became visible") else Nil) ++ landing
    rep.attempted = offered + cmdsDone
    rep.failed = cmdErrors.size + warm.dupProbes.size + dupProbes.size + unseen + landing.size
    problems.foreach(rep.problems += _)

    if (r.traced) {
      Frames.progressLayers(rep, ps)
      rep.layer("sources.files") = (scheduled.size.toDouble, "count")
      rep.layer("sources.backlog_files") = (backlog.toDouble, "count")
      rep.layer("rollup.cycles") = (1.0, "count")
      rep.layer("rollup.cycle_ms") = (maintMs, "ms")
      rep.layer("rollup.files_rewritten") = (rewritten.toDouble, "count")
      val ro = r.obs.sum("rollup.")
      rep.layer("rollup.jobs") = (ro.jobs.toDouble, "count")
      rep.layer("rollup.task_ms") = (ro.taskMs.toDouble, "ms")
      rep.layer("api.cmds") = (cmdsDone.toDouble, "count")
      rep.layer("api.errors") = (cmdErrors.size.toDouble, "count")
      rep.layer("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      rep.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
      rep.layer("gen.offered") = (offered.toDouble, "count")
      rep.layer("gen.offered_per_s") = (offered / timedS, "1/s")
      rep.layer("gen.late_p99_ms") = (lateP99, "ms")
      val (nf, nb) = Checks.storeFiles(root)
      rep.layer("store.files_written") = (nf.toDouble, "count")
      rep.layer("store.bytes_written") = (nb.toDouble, "B")
      rep.layer("store.files_per_batch") = (nf.toDouble / math.max(1, ps.size), "count")
      IngestBacklog.tracedLayers(r, rep)
    }
    rep
  }
}
