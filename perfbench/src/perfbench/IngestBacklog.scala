package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import graft.ingest.{FilterCompiler, IngestPipeline, TopicMatch}
import graft.sources.{LogReplay, StreamSource}
import graft.store.TierStore
import graft.stream.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

/** Helpers shared by the ingest workloads. */
object Frames {
  /** Frames per log file: the reference's batch size. */
  val PerFile = 1000

  /** Write files `from until to` of `PerFile` frames each into `dir`,
   *  frames spread evenly over [startMs, endMs), on at most `threads`
   *  threads. File names sort in write order. */
  def writeBacklog(gen: Gen, dir: String, from: Int, to: Int, startMs: Long,
      endMs: Long, threads: Int): Unit = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      (from until to).map { f =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val span = (endMs - startMs) / math.max(1, to - from)
            val text = gen.frameFile(f.toLong * PerFile, PerFile, startMs + (f - from) * span, span)
            Files.write(Paths.get(dir, f"frames-$f%06d.log"), text.getBytes(UTF_8))
          }
        })
      }.foreach(_.get())
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  /** Progress of `q` for batches past `afterBatch`. */
  def progressAfter(q: StreamingQuery, afterBatch: Long): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(p => p.batchId > afterBatch && p.numInputRows > 0)

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  /** Per-trigger layer metrics from Spark's own progress reports. */
  def progressLayers(rep: Report, ps: Seq[StreamingQueryProgress]): Unit = {
    def med(k: String) = Obs.median(ps.map(dur(_, k)))
    rep.layer("sources.rows_in") = (ps.map(_.numInputRows.toDouble).sum, "count")
    rep.layer("sources.list_ms") = (med("latestOffset"), "ms")
    rep.layer("sources.get_batch_ms") = (med("getBatch"), "ms")
    rep.layer("ingest.plan_ms") = (med("queryPlanning"), "ms")
    rep.layer("stream.batches") = (ps.size.toDouble, "count")
    rep.layer("stream.trigger_ms") = (med("triggerExecution"), "ms")
    rep.layer("stream.add_batch_ms") = (med("addBatch"), "ms")
    rep.layer("stream.wal_ms") = (Obs.median(ps.map(p => dur(p, "walCommit") + dur(p, "commitOffsets"))), "ms")
  }
}

/**
 * `ingest_backlog`: drain a backlog of FIMP log files through the standing
 * ingest plan into a fresh store. Large micro-batches make the per-row
 * cost of decode, transform and write dominate; nothing queries or
 * maintains the store.
 */
object IngestBacklog {
  /** Backlog files per second of run length, and files per trigger: the
   *  program pays a fixed cost per micro-batch, so batches must be large
   *  for the per-row cost to dominate. */
  val FilesPerSecond = 8
  val FilesPerTrigger = 10
  /** Trigger interval short enough that pacing never caps the drain. */
  val TriggerMs = 100L

  def run(r: Run): Report = {
    val rep = new Report
    val spark = r.spark
    val config = Checks.ingestConfig(TriggerMs)
    val files = (FilesPerSecond * r.seconds + FilesPerTrigger - 1) / FilesPerTrigger * FilesPerTrigger
    val threads = math.min(r.cores, 4)

    // set-up, repeated; each repetition builds its own backlog and store
    // and warms the plan on a small separate stream
    case class Stage(frames: String, root: String)
    val setups = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      val frames = r.dir(s"ib$k/frames")
      Frames.writeBacklog(r.gen, frames, 0, files, r.anchorMs - 6 * 3600000L, r.anchorMs, threads)
      val root = r.dir(s"ib$k/store")
      new TierStore(spark, root).init()
      val warm = r.dir(s"ib$k/warm-frames")
      Frames.writeBacklog(r.gen, warm, files, files + 2, r.anchorMs - 7 * 3600000L,
        r.anchorMs - 6 * 3600000L, threads)
      val ws = new TierStore(spark, r.dir(s"ib$k/warm-store"))
      ws.init()
      val wq = start(r, warm, ws, s"${r.work}/ib$k/warm-ck", config, traced = false)
      wq.processAllAvailable()
      StreamOps.stopAndUnload(wq)
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < 3) Checks.rmTree(r.work.resolve(s"ib$k"))
      (dt, Stage(frames, root))
    }
    rep.e2e("setup_s") = (Obs.median(setups.map(_._1)), "s")
    rep.notes += s"setup_s: median of ${setups.size} set-ups: ${setups.map(s => f"${s._1}%.3f").mkString(", ")}"
    val stage = setups.last._2
    val store = new TierStore(spark, stage.root)

    IngestTrace.drain() // set-up batches
    r.tracer.markTimed()
    val (gc0, gcMs0) = Obs.gcTotals()
    val cpu0 = Obs.cpuS()
    val t0 = System.nanoTime()
    val q = start(r, stage.frames, store, s"${r.work}/ib-ck", config, r.traced)
    q.processAllAvailable()
    val drainS = (System.nanoTime() - t0) / 1e9
    val drainCpuS = Obs.cpuS() - cpu0
    val heap = Obs.heapAfterGcMb()
    val (gc1, gcMs1) = Obs.gcTotals()
    val ps = Frames.progressAfter(q, -1)
    StreamOps.stopAndUnload(q)

    val frames = files.toLong * Frames.PerFile
    rep.e2e("throughput_per_s") = (frames / drainS, "1/s")
    val trig = ps.map(Frames.dur(_, "triggerExecution"))
    val (_, tp, _) = Obs.tail(trig)
    rep.notes += f"drain used $drainCpuS%.1f CPU s in $drainS%.1f s (${drainCpuS / drainS}%.2f of ${r.cores} cores)"
    rep.notes += s"micro-batch ms in order: ${trig.map(_.toLong).mkString(" ")}"
    rep.e2e("latency_p50_ms") = (rep.timing("micro-batch trigger ms (latency_p50_ms)", trig, 50), "ms")
    rep.e2e("latency_tail_ms") = (rep.timing("micro-batch trigger ms (latency_tail_ms)", trig, tp), "ms")
    rep.e2e("heap_after_gc_mb") = (heap, "MB")
    rep.notes += f"events_per_s = ${frames / drainS}%.1f 1/s ($frames frames, drain $drainS%.3f s, ${ps.size} micro-batches)"

    // correctness: every frame lands exactly once
    val c0 = System.nanoTime()
    val problems = Checks.ingest(spark, stage.frames, store, r.dir("ib-replay"), config)
    rep.notes += f"check took ${(System.nanoTime() - c0) / 1e9}%.1f s"
    rep.attempted = frames
    rep.failed = if (problems.isEmpty) 0 else math.max(1L, problems.size.toLong)
    problems.foreach(rep.problems += _)

    if (r.traced) {
      Frames.progressLayers(rep, ps)
      rep.layer("sources.files") = (files.toDouble, "count")
      rep.layer("sources.backlog_files") = (0.0, "count")
      val (nf, nb) = Checks.storeFiles(stage.root)
      rep.layer("store.files_written") = (nf.toDouble, "count")
      rep.layer("store.bytes_written") = (nb.toDouble, "B")
      rep.layer("store.files_per_batch") = (nf.toDouble / math.max(1, ps.size), "count")
      rep.layer("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      rep.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
      tracedLayers(r, rep)
    }
    rep
  }

  /**
   * Start the ingest stream. Untraced: the standing plan itself,
   * `IngestPipeline.runFromSource`. Traced: the same public calls that
   * plan makes (selector prune, decode, `IngestPipeline.transform`,
   * `TierStore.writeRoutedBatch`) inside the benchmark's own
   * `foreachBatch`, materialized at each layer boundary so every layer
   * gets its own span and Spark job group.
   */
  def start(r: Run, frames: String, store: TierStore, ck: String,
      config: graft.model.ProcessConfig, traced: Boolean,
      maxFiles: Option[Int] = Some(FilesPerTrigger)): StreamingQuery = {
    val source = StreamSource.LogFiles(frames, maxFiles)
    if (!traced)
      IngestPipeline.runFromSource(r.spark, source, config, None, store, ck)
    else {
      r.obs
      val env = source.load(r.spark)
      val decoded = LogReplay.decodeEnvelope(
        env.filter(TopicMatch.anySelector(env("topic"), config.selectors.map(_.topic))))
      val writer = IngestPipeline.writerId(ck)
      val t = r.tracer
      decoded.writeStream
        .option("checkpointLocation", ck)
        .trigger(Trigger.ProcessingTime(s"${config.saveIntervalMs} milliseconds"))
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val req = id.toString
          t.span("stream.batch", req) {
            val events = batch.persist()
            val selected = t.span("sources.decode", req) {
              Obs.withGroup(r.spark, s"ingest.decode.$id")(events.count())
            }
            val admitted = t.span("ingest.filter", req) {
              Obs.withGroup(r.spark, s"ingest.filter.$id")(
                events.filter(FilterCompiler.compile(config.filters)).count())
            }
            val points = IngestPipeline.transform(events, config, None).persist()
            val out = t.span("ingest.transform", req) {
              Obs.withGroup(r.spark, s"ingest.transform.$id")(points.count())
            }
            val t0 = System.nanoTime()
            val wrote = t.span("store.write", req) {
              Obs.withGroup(r.spark, s"store.write.$id")(
                store.writeRoutedBatch(points, id, config.profile, writer))
            }
            IngestTrace.batches.add(IngestTrace.Batch(id, selected, admitted, out,
              (System.nanoTime() - t0) / 1e6, wrote))
            points.unpersist(); events.unpersist()
          }
          ()
        }
        .start()
    }
  }

  /** Per-layer metrics of a traced ingest stream. */
  def tracedLayers(r: Run, rep: Report): Unit = {
    val bs = IngestTrace.drain()
    val rowsIn = rep.layer.get("sources.rows_in").map(_._1).getOrElse(0.0)
    val sel = bs.map(_.selected).sum.toDouble
    val adm = bs.map(_.admitted).sum.toDouble
    val out = bs.map(_.points).sum.toDouble
    rep.layer("ingest.rows_selected") = (sel, "count")
    rep.layer("ingest.rows_admitted") = (adm, "count")
    rep.layer("ingest.points_out") = (out, "count")
    rep.layer("ingest.admit_ratio") = (if (rowsIn > 0) out / rowsIn else 0.0, "ratio")
    val ing = r.obs.sum("ingest.")
    rep.layer("ingest.task_ms") = (if (rowsIn > 0) ing.taskMs / (rowsIn / 1000) else 0.0, "ms")
    val jobMs = bs.map(b => r.obs.sum(s"store.write.${b.id}").jobWallMs.toDouble)
    rep.layer("store.write_ms") = (Obs.median(bs.map(_.writeMs)), "ms")
    rep.layer("store.job_ms") = (Obs.median(jobMs), "ms")
    rep.layer("store.commit_ms") = (Obs.median(bs.zip(jobMs).map { case (b, j) => b.writeMs - j }), "ms")
    rep.layer("store.batches_replayed") = (bs.count(!_.wrote).toDouble, "count")
    rep.notes += s"traced batches: ${bs.size}; ingest task ms total ${ing.taskMs}"
  }
}

/** Per-batch counts recorded by the traced ingest stream. */
object IngestTrace {
  final case class Batch(id: Long, selected: Long, admitted: Long, points: Long,
      writeMs: Double, wrote: Boolean)
  val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  def drain(): Seq[Batch] = {
    val b = Seq.newBuilder[Batch]
    var x = batches.poll()
    while (x != null) { b += x; x = batches.poll() }
    b.result().sortBy(_.id)
  }
}
