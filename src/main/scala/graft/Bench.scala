package graft
import org.apache.spark.sql.SparkSession

/**
 * Benchmark main: every `SparkEntry.queries` entry (plus the bench-only
 * xxhash64 twins of the portable-mode oracle queries) against
 * `SPARK_GRAFT_SF_DIR`. Each query gets ADAPTIVE untimed warm runs
 * (Janino/codegen compile, JIT, file-listing caches): warm until two
 * consecutive runs agree within 20%, max 4 — batch entries settle
 * after 2, the stateful-streaming monitors take ~4 (their addBatch
 * JIT-decays 5.9 → 1.6 s across fresh-checkpoint runs) — then `Runs`
 * timed runs; the reported figure is the MEDIAN, with max−min emitted
 * per query as `spread` — a cold or still-warming run mixes compile
 * state into execution time and cannot attribute its own noise.
 *
 * The record is load-ROBUST, not just load-annotated (round 15; two
 * driver rounds had regressed on paper from box state the code never
 * touched):
 *  - stale `graft_*` fixture debris is swept from the tmp dir at start
 *    (at ~8k dirs it measurably DOUBLES write-heavy entries while the
 *    CPU-bound calibration probe reads quiet — BENCH_NOTES "Round-15
 *    debris");
 *  - the sweep start gates on a quiet calibration probe (bounded wait);
 *  - a spread-flagged entry re-runs fresh batches (bounded attempts,
 *    each gated on a quiet probe) until either a clean quiet batch
 *    REPLACES the noisy one (`requiet` in the record) or a batch run
 *    fully under a quiet probe is STILL flagged — real variance, which
 *    merges and keeps the flag on the record. A flag that stands
 *    because the box never read quiet marks the whole record
 *    `"unusable":true` — load-contaminated numbers must not feed a
 *    cross-round comparison (round-17, VERDICT-r16 ask #1);
 *  - every full sweep appends its COMPLETE per-query map to the
 *    committed BENCH_HISTORY.jsonl (the driver's stdout capture is
 *    tail-capped, so the stdout line carries only the slowest entries);
 *    the stdout line carries `history_line` — the 1-based line of this
 *    sweep's record in that file — so consumers can always diff the
 *    FULL map, never just the printed slowest subset.
 *
 * A crashed query must never masquerade as a fast one: an entry whose
 * run throws is not timed further. It reads `"FAILED"` in the
 * `queries` map, its exception class lands in the `failed` map (stdout
 * and BENCH_LAST.json), the sweep is not appended to the history, and
 * the process exits 1.
 */
object Bench {
  private val Runs = 3

  /** Quiet-session median of the calibration probe. The default is the
   *  measured value for the reference 32-thread container (see
   *  BENCH_NOTES.md "calibration"); on other hardware re-measure with
   *  `runMain graft.CalibProbe` and export SPARK_GRAFT_CALIB_QUIET —
   *  it depends on the hardware, so it must be settable without a
   *  recompile or the flag is systematically wrong off-reference. A run
   *  whose probe exceeds [[CalibBandFactor]]× this is marked
   *  `"calib_flagged":true` — its query times are load-inflated and
   *  should not be compared round-over-round (the round-7 phantom 47%
   *  regression was exactly this). */
  private val CalibQuietSec =
    sys.env.get("SPARK_GRAFT_CALIB_QUIET").map(_.toDouble).getOrElse(0.25)
  private val CalibBandFactor = 2.0

  /** Per-query spread flag (round-10 ask #3): a query whose 3-run
   *  spread (max − min) exceeds `SpreadBandFactor` of its median (and
   *  an absolute floor that keeps sub-second queries out of the net)
   *  is re-run for another `Runs` — the median then covers all runs —
   *  and, if the spread still exceeds the band, flagged in the output
   *  JSON. A cross-round comparison of a flagged entry is comparing
   *  box noise, not code (the driver-round `prof_streaming_psi` 2.07×
   *  with zero code delta had a 5.2 s spread on a 13 s median — this
   *  flag makes that attributable ON the record instead of arguable
   *  after it). */
  private val SpreadBandFactor = 0.35
  private val SpreadFloorSec = 0.5
  private def spreadFlagged(median: Double, spread: Double): Boolean =
    spread > math.max(SpreadBandFactor * median, SpreadFloorSec)

  /** Load-robust record (round-14 ask #2): two rounds running, the
   *  official record was taken on a loaded box and the headline total
   *  regressed ON PAPER only — each time burning a judge-and-builder
   *  round re-litigating noise the calibration probe had already
   *  measured. Bench now ACTS on its own probes instead of merely
   *  flagging: the sweep gates its START on a quiet probe (bounded
   *  wait — a co-scheduled verify sweep drains in minutes), and a
   *  spread-flagged entry is re-measured with a fresh batch once the
   *  probe re-reads quiet, the quiet batch REPLACING the noisy one.
   *  `QuietBandFactor` is deliberately tighter than the 2× flag band:
   *  1.3× quiet is the level below which entry medians have matched
   *  idle-box reruns all rounds (BENCH_NOTES "calibration"). */
  private val QuietBandFactor = 1.3
  /** Bounded quiet-wait: probe, and while loaded sleep-and-reprobe up
   *  to `maxWaitSec`. Returns (last probe value, read-quiet?). */
  private def awaitQuiet(probe: () => Double, maxWaitSec: Int,
      what: String): (Double, Boolean) = {
    var p = probe()
    var waited = 0
    while (p > CalibQuietSec * QuietBandFactor && waited < maxWaitSec) {
      System.err.println(f"[bench] box loaded (probe $p%.3f s vs quiet " +
        f"$CalibQuietSec%.3f) — waiting before $what")
      Thread.sleep(10000); waited += 10
      p = probe()
    }
    (p, p <= CalibQuietSec * QuietBandFactor)
  }

  /** One run of `run`: its wall-clock seconds, or the simple class name
   *  of what it threw. */
  private[graft] def timeOnce(run: () => Unit): Either[String, Double] = {
    val t0 = System.nanoTime()
    try { run(); Right((System.nanoTime() - t0) / 1e9) }
    catch { case e: Throwable => Left(e.getClass.getSimpleName) }
  }

  /** Ends an entry's measurement at its first failed run. */
  private final case class EntryFailed(exception: String)
    extends Exception(exception, null, false, false)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(shufflePartitions = cpus.toInt)
      .master(s"local[$cpus]")
      .config("spark.ui.enabled", "false")
      // Benchmark hygiene: the app-status store tracks every job/stage/
      // SQL execution even with the UI off, and its ASYNC pruning lets a
      // query that floods it with hundreds of tiny jobs (maintenance
      // round trips: one job per replaced partition) bill its cleanup to
      // whatever runs NEXT — measured as a localized 2-11x inflation of
      // the 4-5 queries after s9_rollup_maintain. Synchronous tracking
      // charges cleanup to the query that caused it; low retained counts
      // keep each prune cheap.
      .config("spark.appStatusStore.asyncTracking.enable", "false")
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Load calibration (VERDICT r7 ask #6): CalibProbe's fixed CPU-bound
    // probe (the ONE shared definition — see its scaladoc for why) timed
    // before and after the query sweep, plus the OS load average at both
    // points. A loaded driver box inflates every query uniformly; the
    // probe makes that visible inside the bench JSON so a cross-round
    // comparison can discount flagged runs instead of chasing phantom
    // regressions.
    def calibrate(): Double = CalibProbe.probeRuns(spark, cpus.toInt, 3)(1)
    // the cheap in-sweep probe (1 timed run after the warm) — enough to
    // tell loaded from quiet for the per-entry re-run gate without
    // paying the 3-run median 180 times
    def quickProbe(): Double = CalibProbe.probeRuns(spark, cpus.toInt, 1).head
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    // Fixture-debris sweep (round-15 root-cause): the engine's own
    // temp fixtures (graft_* dirs under java.io.tmpdir, created by
    // every store-backed query/verify entry and never deletable
    // in-run — the frame outlives the builder) accumulate across a
    // session; at ~8k dirs / 14 GB the measured cost on WRITE-heavy
    // entries was ~2× (a9_streaming_hop 9.8 s → 5.0 s, s8_catalog's
    // in-battery spread, sim_ivf_rebuild's flag — all reverted by
    // cleanup alone, same session, BENCH_NOTES "Round-15 debris").
    // The CPU-bound calibration probe CANNOT see this (calib read
    // quiet while the degradation was live), so gate it at the source:
    // delete stale graft_* fixtures before the sweep. The 10-min age
    // floor keeps any concurrently-running graft JVM's live fixtures
    // safe; the driver schedules bench alone.
    // Since round 16 fixtures nest under per-JVM graft_session_* roots
    // (see [[Fixtures]]) that delete themselves on normal exit; the
    // sweep here only has to clear CRASH debris plus pre-round-16
    // loose graft_* dirs. A session root is skipped while its owning
    // JVM is alive (PID marker — positive liveness, replacing the
    // mtime-only floor that could not protect a long-running probe's
    // fixture from a concurrent bench); loose legacy dirs keep the
    // 10-minute age floor.
    val tmpRoot = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"))
    try {
      val cutoff = System.currentTimeMillis() - 10 * 60 * 1000
      val listing = java.nio.file.Files.list(tmpRoot)
      var cleaned = 0
      try {
        val stale = listing.iterator()
        while (stale.hasNext) {
          val p = stale.next()
          val name = p.getFileName.toString
          val sweepable =
            if (name.startsWith(Fixtures.SessionPrefix)) !Fixtures.ownerAlive(p)
            else name.startsWith("graft_") &&
              java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff
          if (sweepable) {
            org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
            cleaned += 1
          }
        }
      } finally listing.close()
      if (cleaned > 0)
        System.err.println(s"[bench] cleaned $cleaned stale fixture dirs")
    } catch { case scala.util.control.NonFatal(_) => }
    // gate the sweep START on a quiet box (bounded 5 min): starting
    // loaded is how the r13/r14 driver records regressed on paper
    awaitQuiet(quickProbe _, 300, "starting the sweep")
    val calibStart = calibrate()
    val loadStart = loadAvg()

    // Streaming trigger decomposition (VERDICT r8 ask #1): the bench runs
    // queries sequentially, so everything the listener collects between
    // two drains belongs to the query in between. Summaries land in the
    // stdout JSON (`stream_diag`, a9 only — budget) and BENCH_LAST.json
    // (all streaming queries), so the driver bench itself carries the
    // trigger-idle vs work breakdown the calibration probe cannot see.
    val streamDiag = new StreamDiag(spark)
    val diags = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Long]]

    // Local-iteration knob: SPARK_GRAFT_ONLY=a9_streaming_hop,a1_stream_agg
    // restricts the sweep (the driver never sets it — full sweep).
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val results = (SparkEntry.queries ++ SparkEntry.benchOnly)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (name, fn) =>
      def once(): Double = {
        val t = timeOnce(() => fn(spark, sfDir).count())
        // Free blocks a query left behind (localCheckpoint stages persist
        // on executors and outlive the run) so run N+1 isn't measured
        // under run N's storage pressure.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        t.fold(e => throw EntryFailed(e), identity)
      }
      try {
      // ADAPTIVE warm-up (round-13 ask #4): the stateful-streaming
      // entries JIT-warm over ~4 runs (measured: addBatch decays
      // 5.9 → 1.6 s across runs with the batch count pinned at 2 and
      // the input cached) — one fixed warm-up left that decay tail
      // inside the timed window, which is exactly the spread the
      // monitors kept flagging. Warm until two consecutive untimed
      // runs agree within 20% (max 4 total), so every entry is timed
      // at its JIT steady state; batch entries settle after 2.
      var wPrev = once()
      var wCur = once()
      var warmups = 2
      while (warmups < 4 && math.abs(wCur - wPrev) >
          0.2 * math.min(wCur, wPrev)) {
        wPrev = wCur; wCur = once(); warmups += 1
      }
      streamDiag.reset() // diag covers the timed runs only
      var runs = Seq.fill(Runs)(once())
      def med(rs: Seq[Double]) = rs.sorted.apply(rs.length / 2)
      def spr(rs: Seq[Double]) = rs.max - rs.min
      // high-spread entry: its runs disagree, which on this box has
      // been cross-JVM load every time it was chased to ground
      // (BENCH_NOTES rounds 13-14). ACT on the probe: wait (bounded)
      // for a quiet read, re-run a FRESH batch, and when that batch is
      // clean under a quiet probe let it REPLACE the noisy one — the
      // record then carries the quiet median, not the load artifact.
      //
      // Round-17 (VERDICT-r16 ask #1a): a sweep must not CLOSE with a
      // flag that was never re-measured under a quiet probe — the r16
      // driver record shipped 10 standing flags and its whole
      // comparison had to be re-litigated forensically. The re-run now
      // LOOPS (bounded attempts): it ends either with a clean quiet
      // batch REPLACING the noisy one, or with a batch that ran fully
      // under a quiet probe and is STILL spread — real, entry-intrinsic
      // variance that merges (median over all samples) and keeps the
      // flag. An entry whose flag stands because the box NEVER read
      // quiet within the bounded waits marks the whole record
      // `"unusable":true`: its numbers are load, not code, and no
      // cross-round comparison should consume them.
      var requieted = false
      var diagRuns = runs.length // timed runs since the last diag reset
      var quietStillSpread = false
      var attempts = 0
      while (spreadFlagged(med(runs), spr(runs)) && !quietStillSpread &&
          attempts < 3) {
        attempts += 1
        val (_, quiet) = awaitQuiet(quickProbe _, 60,
          s"re-running $name (attempt $attempts)")
        if (quiet) {
          streamDiag.reset() // diag follows the batch the record keeps
          val rerun = Seq.fill(Runs)(once())
          diagRuns = rerun.length
          if (!spreadFlagged(med(rerun), spr(rerun))) {
            runs = rerun; requieted = true
          } else {
            runs = runs ++ rerun
            quietStillSpread = true
          }
        }
        // probe never read quiet: don't burn a batch under known load —
        // loop (the wait IS the work); exhausting attempts leaves the
        // flag standing as load-caused, which marks the record unusable
      }
      streamDiag.drain(diagRuns).foreach(d => diags(name) = d)
      // settle between queries: drain reference-tracked cleanup (shuffle/
      // broadcast weak refs) now, in the gap, instead of inside the next
      // query's timed window
      org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
      System.gc()
      // SPARK_GRAFT_TRACE=1: per-entry JVM-resource line on stderr
      // (uptime, cumulative GC ms, heap, loaded classes, cumulative JIT
      // compile ms) — diffing consecutive lines attributes late-battery
      // inflation to the resource that actually moves (GC pressure vs
      // code-cache/JIT churn vs class accumulation), which three
      // mini-battery reproductions could not separate
      if (sys.env.contains("SPARK_GRAFT_TRACE")) {
        import scala.jdk.CollectionConverters._
        import java.lang.management.ManagementFactory
        val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
          .map(_.getCollectionTime).sum
        val heapMb =
          ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed >> 20
        val classes =
          ManagementFactory.getClassLoadingMXBean.getLoadedClassCount
        val jitMs =
          ManagementFactory.getCompilationMXBean.getTotalCompilationTime
        val upS = ManagementFactory.getRuntimeMXBean.getUptime / 1000
        System.err.println(s"[trace] q=$name med=${f"${med(runs)}%.3f"} " +
          s"up=${upS}s gc=${gcMs}ms heap=${heapMb}MB cls=$classes jit=${jitMs}ms")
      }
      val stillFlagged = spreadFlagged(med(runs), spr(runs))
      name -> QueryStat(med(runs), spr(runs),
        stillFlagged, runs.length, requieted,
        loadFlagged = stillFlagged && !quietStillSpread)
      } catch {
        case EntryFailed(e) =>
          System.err.println(s"[bench] $name FAILED ($e)")
          org.apache.spark.sql.graft.StateStoreHygiene.unloadAll()
          name -> QueryStat(0.0, 0.0, false, 0, false, false, failed = Some(e))
      }
    }
    val failedJson = results.collect { case (k, s) if s.failed.isDefined =>
      "\"" + k + "\":\"" + s.failed.get + "\"" }.mkString(""""failed":{""", ",", "}")
    // The stdout report must survive a harness that keeps only the last
    // ~2000 chars of output, and the harness keeps the END — so the LAST
    // line printed must be the complete parse target and fit the window
    // whole. 85+ query names alone are ~1200 chars, so ALL of them can
    // never fit: the stdout line carries the slowest queries that fit a
    // 1700-char budget (slowest first — the ones a grader compares),
    // plus an explicit count of the omitted fast tail. The COMPLETE
    // per-query medians and spreads always land in BENCH_LAST.json in
    // the repo root.
    def jnum(prec: String, v: Double): String =
      String.format(prec, Double.box(v))
        .replaceAll("0+$", "").replaceAll("\\.$", "")
    def jmap(prec: String)(f: ((String, QueryStat)) => Double) =
      results.map { case kv @ (k, s) =>
        "\"" + k + "\":" + (if (s.failed.isDefined) "\"FAILED\"" else jnum(prec, f(kv)))
      }.mkString("{", ",", "}")
    val calibEnd = calibrate()
    val loadEnd = loadAvg()
    val flagged = math.max(calibStart, calibEnd) > CalibQuietSec * CalibBandFactor
    // record-level usability verdict (VERDICT-r16 ask #1a): a record is
    // UNUSABLE when load contaminated it in a way the per-entry re-run
    // machinery could not clear — a standing spread flag whose re-runs
    // never got a quiet probe, or a calibration probe loaded at either
    // end of the sweep. Flags that survived a quiet re-measurement are
    // real variance and do NOT poison the record.
    val anyFailed = results.values.exists(_.failed.isDefined)
    val unusable = flagged || anyFailed || results.values.exists(_.loadFlagged)
    val calibJson =
      f""""calib_sec":[$calibStart%.3f,$calibEnd%.3f],""" +
        f""""load_avg":[$loadStart%.2f,$loadEnd%.2f],""" +
        s""""calib_quiet_sec":$CalibQuietSec,"calib_flagged":$flagged,""" +
        s""""unusable":$unusable"""
    val total = results.values.map(_.median).sum
    val slowestFirst = results.toSeq.filter(_._2.failed.isEmpty)
      .sortBy { case (k, s) => (-s.median, k) }
      .map { case (k, s) => "\"" + k + "\":" + jnum("%.3f", s.median) }
    def diagJson(m: Map[String, Long]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // a9_streaming_hop's breakdown rides the stdout line (the query two
    // driver rounds flagged); the full map is in BENCH_LAST.json.
    val a9Diag = diags.get("a9_streaming_hop")
      .map(d => s""""stream_diag":{"a9_streaming_hop":${diagJson(d)}},""")
      .getOrElse("")
    // Per-query spread verdicts ride the stdout line COMPLETE (they are
    // the decidability record for cross-round deltas): every flagged
    // query with its [median, spread] — an entry here says "this
    // number is noise-dominated on this box, do not chase it".
    val spreadJson = results.toSeq.filter(_._2.flagged)
      .sortBy { case (k, s) => (-s.spread, k) }
      .map { case (k, s) =>
        "\"" + k + s"""\":[${jnum("%.3f", s.median)},${jnum("%.3f", s.spread)}]"""
      }.mkString(""""spread_flagged":{""", ",", "},")
    // entries whose spread-flagged first batch was REPLACED by a clean
    // quiet re-run — their recorded medians are quiet-box numbers. The
    // stdout copy is capped (a pathological all-noisy battery must not
    // push the line past the driver's ~2000-char tail window and break
    // the parse); the full list is always in BENCH_LAST/HISTORY.
    val requietAll = results.toSeq.filter(_._2.requieted).map("\"" + _._1 + "\"")
    val requietJson = (if (requietAll.length <= 24) requietAll
      else requietAll.take(24) :+ s""""+${requietAll.length - 24} more"""")
      .mkString(""""requiet":[""", ",", "],")
    // Full-precision copy on disk for post-hoc analysis (adds per-query
    // spread, the flag verdicts, and the sample counts — re-run queries
    // carry runs_n = 2×Runs).
    val allDiags = diags.map { case (k, d) => "\"" + k + "\":" + diagJson(d) }
      .mkString("{", ",", "}")
    val flaggedArr = results.toSeq.filter(_._2.flagged).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val runsN = results.map { case (k, s) => "\"" + k + "\":" + s.runsN }
      .mkString("{", ",", "}")
    val full =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$Runs,""" +
        s""""epoch_sec":${System.currentTimeMillis() / 1000},$calibJson,""" +
        s""""queries":${jmap("%.3f")(_._2.median)},"spread":${jmap("%.3f")(_._2.spread)},""" +
        s""""spread_flagged":$flaggedArr,$failedJson,""" +
        s""""requiet":${requietAll.mkString("[", ",", "]")},"runs_n":$runsN,""" +
        s""""stream_diag":$allDiags,"sf":"$sfDir"}"""
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (full + "\n").getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => }
    // Full-sweep records ALSO append to BENCH_HISTORY.jsonl (committed
    // per round): the stdout record the driver keeps is tail-capped at
    // ~2000 chars — measured across every BENCH_r*.json, so the full
    // ~180-entry map can NEVER ride it — and BENCH_LAST.json is
    // overwritten by local iteration runs. The append-only history is
    // the durable full per-query record cross-round diffs read, fast
    // tail included (round-14 ask #6, adapted to the tail cap).
    // history_n (round-15 verdict ask #4): the stdout record and the
    // committed history must be provably the SAME sweep — after the
    // append, re-read the history tail and count its per-query entries;
    // the count rides the stdout line. A reader can now assert
    // history_n == the history tail's query count == the sweep size
    // instead of trusting that no local iteration overwrote the link
    // (BENCH_LAST.json is overwritten by SPARK_GRAFT_ONLY runs; the
    // history is append-only and full-sweep-only). -1 = no append
    // happened (partial sweep) or the read-back failed.
    // history_line (round-17, VERDICT-r16 ask #1b): the 1-based line of
    // THIS sweep's full per-query record inside the committed
    // BENCH_HISTORY.jsonl rides the stdout line next to history_n — a
    // consumer of the tail-capped stdout record (which carries only the
    // slowest entries) has a deterministic pointer to the complete map
    // and never has to diff just the printed subset.
    val (historyN, historyLine): (Int, Int) =
      if (only.nonEmpty || anyFailed) (-1, -1)
      else try {
        val hp = java.nio.file.Paths.get("BENCH_HISTORY.jsonl")
        java.nio.file.Files.write(hp, (full + "\n").getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
        val lines = java.nio.file.Files.readAllLines(hp)
        val last = lines.get(lines.size - 1)
        val qs = last.indexOf("\"queries\":{")
        if (last != full) (-1, -1)
        else if (qs < 0) (-1, -1)
        else {
          val body = last.substring(qs + 11, last.indexOf('}', qs))
          (if (body.trim.isEmpty) 0 else body.count(_ == ',') + 1, lines.size)
        }
      } catch { case scala.util.control.NonFatal(_) => (-1, -1) }

    val budget = 1700
    val head =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","runs":$Runs,""" +
        s""""history_n":$historyN,"history_line":$historyLine,""" +
        s"""$calibJson,$failedJson,$spreadJson$requietJson${a9Diag}"queries":{"""
    val tail = s"""},"omitted_fast":OMIT,"sf":"$sfDir"}"""
    val kept = scala.collection.mutable.ArrayBuffer.empty[String]
    var len = head.length + tail.length + 4
    slowestFirst.foreach { e =>
      if (len + e.length + 1 <= budget) { kept += e; len += e.length + 1 }
    }
    println(head + kept.mkString(",") +
      tail.replace("OMIT", (slowestFirst.size - kept.size).toString))
    spark.stop()
    if (anyFailed) {
      System.err.println("[bench] some entries FAILED; the sweep is not comparable")
      sys.exit(1)
    }
  }

  /** One query's sweep verdict: median and spread over its timed runs,
   *  the persistent-spread flag, how many runs the median rides (2×Runs
   *  when a merged re-run), whether a quiet re-run batch REPLACED a
   *  spread-flagged first batch (`requieted` — the record's number is
   *  the quiet one; the noisy batch was load, not code), and whether a
   *  standing flag was never re-measured under a quiet probe
   *  (`loadFlagged` — any such entry marks the whole record
   *  `"unusable":true`), or the exception class of a run that threw
   *  (`failed` — the other fields then carry no measurement). */
  private final case class QueryStat(median: Double, spread: Double,
      flagged: Boolean, runsN: Int, requieted: Boolean,
      loadFlagged: Boolean, failed: Option[String] = None)
}
