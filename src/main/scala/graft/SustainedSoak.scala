package graft

import graft.model.ProcessConfig
import graft.store.{BatchLedger, TierStore}
import graft.stream.Aggregator
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{Path => HPath}

/**
 * SUSTAINED streaming soak (round-7 VERDICT ask #4): the same stateful
 * paths as [[StreamingSoak]], but driven for hundreds of micro-batches
 * (default 500) so the curves that only bend over long runs are
 * actually observed instead of extrapolated from 10-40 batches:
 *
 *  1. INGEST — `IngestPipeline.runStream` over `batches` chunk files,
 *     with `TierStore.vacuumBatchMarkers()` invoked LIVE every
 *     `sampleEvery` batches while the query runs (the maintenance call
 *     a deployment would cron), sampling the ledger file count, the
 *     store's data-file count, and the checkpoint size at each point.
 *     The run asserts the ledger stays O(recent): after every live
 *     vacuum the marker count must be bounded by the vacuum interval
 *     (+ a small in-flight tail), never by the total batch count — and
 *     the final fold must collapse this writer's ledger to exactly one
 *     watermark file and zero markers. End state: per-tier row counts
 *     equal to the batch pipeline over the same input.
 *  2. STATEFUL AGG — `Aggregator.streaming` over `batches` chunks,
 *     recording state rows AND state bytes per batch (run under sbt:
 *     build.sbt carries the add-opens set SizeEstimator needs — see
 *     [[StreamingSoak]]'s scaladoc for the degradation mode). The run
 *     asserts the state-row curve goes FLAT: max state rows over the
 *     run equals final state rows and never exceeds the input's
 *     distinct series count (state is keyed per series; unbounded
 *     growth here is the bug a days-long deployment would hit).
 *
 * Usage: runMain graft.SustainedSoak [sfDir] [workDir] [batches]
 * Prints one JSON line per phase plus a `sustained_summary` line;
 * per-batch stats land in <workDir>/sustained_progress.jsonl, ledger
 * samples inline in the phase JSON.
 */
object SustainedSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("tmp-sf1")
    val work = args.lift(1).getOrElse("tmp-sustained")
    val batches = args.lift(2).map(_.toInt).getOrElse(500)
    val sampleEvery = 50
    val spark = GraftSession.builder(shufflePartitions = 32)
      .master("local[32]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = new HPath(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(work), true)

    val stats = new java.util.concurrent.ConcurrentLinkedQueue[SoakUtil.BatchStat]()
    @volatile var phase = ""
    SoakUtil.addProgressListener(spark, () => phase, stats)
    // Attribute stats by the started query's runId, not the phase label:
    // a finished query's last listener events can be delivered after the
    // driver moved `phase` on (async bus) and would otherwise leak into
    // the next phase's assertions — e.g. a stateless ingest straggler
    // mis-tagged "agg" spuriously failing the state-flat check below.
    val runs = new SoakUtil.RunRegistry
    def phaseStats(name: String): Array[SoakUtil.BatchStat] = {
      val ids = runs.ids(name)
      stats.toArray(Array.empty[SoakUtil.BatchStat]).filter(s => ids(s.runId))
    }
    val report = scala.collection.mutable.ArrayBuffer.empty[String]

    // Committed-data file count. Walks only the published partition
    // tree: underscore/dot-prefixed dirs (_staging, _batches, Hadoop's
    // _temporary) are skipped — the writer is LIVE during sampling, and
    // listing its in-flight task-attempt dirs races with their deletion
    // (a dir that vanishes between `exists` and `listStatus` throws
    // FileNotFoundException; file creation and mkdir no longer shell
    // out, see store.NioRawLocalFileSystem). Transient disappearance of
    // anything else is tolerated as an empty subtree for the same reason.
    def countFiles(dir: HPath, pred: String => Boolean): Long =
      try {
        if (!fs.exists(dir)) 0L
        else fs.listStatus(dir).toSeq.map { e =>
          val n = e.getPath.getName
          if (e.isDirectory) {
            if (n.startsWith("_") || n.startsWith(".")) 0L
            else countFiles(e.getPath, pred)
          } else if (pred(n)) 1L else 0L
        }.sum
      } catch { case _: java.io.IOException => 0L }

    // ---------------- phase 1: sustained ingest ----------------
    {
      phase = "ingest"
      val raw = SparkEntry.fimp(spark, sfDir)
      SoakUtil.writeChunks(spark, raw, "event_id", s"$work/in_events", batches)
      val config = ProcessConfig(id = 1, saveIntervalMs = 0,
        filters = Seq(graft.model.Filter(id = 1)))
      val store = new TierStore(spark, s"$work/store")
      val ckpt = s"$work/ckpt_ingest"
      val writer = graft.ingest.IngestPipeline.writerId(ckpt)
      val ledgerDir = BatchLedger.dir(new HPath(s"$work/store"))
      val samples = scala.collection.mutable.ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      val q = graft.ingest.IngestPipeline.runStream(
        SoakUtil.streamDir(spark, s"$work/in_events", raw.schema), config, None,
        store, ckpt)
      runs.add("ingest", q)
      // Live-load maintenance loop: fold the ledger every `sampleEvery`
      // batches WHILE the writer commits — the vacuum must be safe
      // against concurrent marker creation, and the marker count after
      // each fold must be bounded by the interval, not the run length.
      var nextSample = sampleEvery
      var lastSeen = -1L
      val deadline = System.nanoTime() + 3600L * 1000 * 1000 * 1000
      while (q.isActive && lastSeen < batches - 1 && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val lp = q.lastProgress
        if (lp != null) lastSeen = lp.batchId
        if (lastSeen >= nextSample) {
          store.vacuumBatchMarkers()
          val names = fs.listStatus(ledgerDir).toSeq.map(_.getPath.getName)
          val markers = names.count(_.startsWith(s"_b_${writer}_"))
          val marks = names.count(_.startsWith(s"_bwm_${writer}_"))
          val dataFiles = countFiles(new HPath(s"$work/store"),
            n => n.endsWith(".parquet"))
          // same live-writer race as countFiles: the checkpoint dir
          // churns temp offset/commit files while we walk it
          val ckptBytes =
            try fs.getContentSummary(new HPath(ckpt)).getLength
            catch { case _: java.io.IOException => -1L }
          require(markers <= sampleEvery + 5,
            s"ledger not O(recent): $markers markers after live vacuum at batch $lastSeen")
          samples += s"""{"batch":$lastSeen,"markers":$markers,"watermarks":$marks,""" +
            s""""data_files":$dataFiles,"ckpt_bytes":$ckptBytes}"""
          nextSample += sampleEvery
        }
      }
      q.processAllAvailable(); q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      store.vacuumBatchMarkers()
      val finalNames = fs.listStatus(ledgerDir).toSeq.map(_.getPath.getName)
      val finalMarkers = finalNames.count(_.startsWith(s"_b_${writer}_"))
      val finalMarks = finalNames.count(_.startsWith(s"_bwm_${writer}_"))
      require(finalMarkers == 0 && finalMarks == 1,
        s"final ledger fold: expected 1 watermark + 0 markers, " +
          s"got $finalMarks + $finalMarkers")
      // end state: per-tier row counts equal the batch pipeline's
      val storeBatch = new TierStore(spark, s"$work/store_batch")
      graft.ingest.IngestPipeline.runBatch(raw, config, None, storeBatch)
      var total = 0L
      graft.model.Tier.all.foreach { t =>
        val sc = store.read(t).count(); val bc = storeBatch.read(t).count()
        require(sc == bc, s"sustained ingest tier ${t.name}: $sc vs batch $bc rows")
        total += sc
      }
      require(total > 0, "sustained ingest wrote no rows")
      val ps = phaseStats("ingest")
      report += f"""{"phase":"ingest","rows":$total,"batches":${ps.length},""" +
        f""""wall_sec":$wall%.1f,"rows_per_sec":${total / math.max(0.001, wall)}%.0f,""" +
        f""""ledger_final":{"markers":$finalMarkers,"watermarks":$finalMarks},""" +
        s""""equal_to_batch":true,"samples":[${samples.mkString(",")}]}"""
    }

    // ---------------- phase 2: sustained stateful agg ----------------
    {
      phase = "agg"
      import spark.implicits._
      val pts = SparkEntry.soakPoints(spark, sfDir)
      SoakUtil.writeChunks(spark, pts.toDF(), "time", s"$work/in_points", batches)
      val series = pts.toDF().select("series_id").distinct().count()
      val t0 = System.nanoTime()
      val src = SoakUtil.streamDir(spark, s"$work/in_points", pts.schema)
        .as[Aggregator.StreamIn]
      val q = Aggregator.streaming(src, samplingMinutes = 10)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$work/ckpt_agg")
        .format("parquet").option("path", s"$work/agg_out").start()
      runs.add("agg", q)
      q.processAllAvailable(); q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val rows = spark.read.parquet(s"$work/agg_out").count()
      // listener events arrive on an async bus: wait until the stat
      // stream drains (count stable across polls) before asserting on it
      def aggStats() = phaseStats("agg")
      var ps = aggStats()
      val drainDeadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var settled = false
      while (!settled && System.nanoTime() < drainDeadline) {
        Thread.sleep(500)
        val now = aggStats()
        settled = now.length == ps.length && ps.nonEmpty
        ps = now
      }
      require(ps.nonEmpty, "no agg progress events delivered")
      val maxState = ps.map(_.stateRows).max
      val finalState = ps.maxBy(_.batchId).stateRows
      val maxBytes = ps.map(_.stateBytes).max
      require(maxState == finalState && maxState <= series,
        s"state-row curve not flat: max $maxState, final $finalState, series $series")
      val degenerate = maxState > 0 && maxBytes <= maxState
      require(!degenerate,
        s"SizeEstimator degraded ($maxBytes bytes for $maxState rows) — run under sbt")
      report += f"""{"phase":"agg","rows":$rows,"batches":${ps.length},""" +
        f""""wall_sec":$wall%.1f,"rows_per_sec":${rows / math.max(0.001, wall)}%.0f,""" +
        f""""max_state_rows":$maxState,"max_state_mb":${maxBytes / 1e6}%.1f,""" +
        s""""state_flat":true,"series":$series}"""
    }

    val progress = stats.toArray(Array.empty[SoakUtil.BatchStat]).map(s =>
      s"""{"phase":"${runs.phaseOf(s.runId).getOrElse(s.phase)}","batch":${s.batchId},"rows":${s.inputRows},""" +
        s""""ms":${s.procMs},"state_rows":${s.stateRows},"state_bytes":${s.stateBytes}}""")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$work/sustained_progress.jsonl"),
      progress.mkString("", "\n", "\n").getBytes("UTF-8"))
    report.foreach(println)
    println(s"""{"sustained_summary":[${report.mkString(",")}],"sf":"$sfDir","batches":$batches}""")
    spark.stop()
  }
}
