package graft

import graft.model.{ProcessConfig, Tier}
import graft.rollup.Downsampler
import graft.store.TierStore
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * OPS-CONCURRENCY soak (VERDICT r9 ask #4): the round-9 maintenance
 * surface — `verifyRollups`, `backfill`, `vacuumTier`, `readAsOf`
 * pins — exercised AGAINST live exactly-once ingest and concurrent
 * `Downsampler.maintain` passes over hundreds of micro-batches,
 * instead of each op alone on a quiet store.
 *
 * One streaming ingest query commits `batches` micro-batches into the
 * store while an ops thread, every `opsEvery` batches, runs a full
 * retain-history maintenance pass, takes a logical
 * [[TierStore.pinNow]] pin and records content signatures of the
 * pinned gen_raw/gen_day reads, runs the rollup audit over the whole
 * date window (recorded, not asserted — live ingest legitimately
 * outruns the last maintain), a one-date [[Downsampler.backfill]], and
 * a [[TierStore.vacuumTier]] of an UNPINNED rollup tier (vacuum
 * destroys pins by contract, so the pinned tiers are left retained).
 *
 * End-state assertions (the soak FAILS if any is violated):
 *  1. after ingest stops and a final maintain, `verifyRollups` over
 *     the full window reports ZERO missing/extra/value-mismatch rows
 *     for every audited hop — concurrent maintenance passes never
 *     corrupted a rollup;
 *  2. every pin taken mid-run re-reads BYTE-IDENTICALLY (row count +
 *     order-independent xxhash) after all later ingest, maintains,
 *     backfills and vacuums;
 *  3. per-tier row counts equal a batch run of the same input
 *     (exactly-once ingest under concurrent maintenance);
 *  4. after a final ledger-marker fold, the OLDEST pin still resolves
 *     byte-identically — logical pins are fold-proof (a watermark at n
 *     attests every id ≤ n), demonstrated at soak scale.
 *
 * Usage: runMain graft.OpsSoak [sfDir] [workDir] [batches]
 * Prints one `ops_soak` JSON line for BENCH_SF1.md.
 */
object OpsSoak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("tmp-sf1")
    val work = args.lift(1).getOrElse("tmp-opssoak")
    val batches = args.lift(2).map(_.toInt).getOrElse(500)
    val opsEvery = 50
    val spark = GraftSession.builder(shufflePartitions = 32)
      .master("local[32]").config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val fs = new HPath(work).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new HPath(work), true)

    val raw = SparkEntry.fimp(spark, sfDir)
    SoakUtil.writeChunks(spark, raw, "event_id", s"$work/in_events", batches)
    val store = new TierStore(spark, s"$work/store")
    val config = ProcessConfig(id = 1, saveIntervalMs = 0,
      filters = Seq(graft.model.Filter(id = 1)))

    // maintenance clock: just past the data, so the recent-window rule
    // covers the whole fixture and retention never expires mid-soak
    val range = raw.agg(min(to_date(col("time"))).cast("string"),
      max(to_date(col("time"))).cast("string")).collect()(0)
    val (minDate, maxDate) = (range.getString(0), range.getString(1))
    val opsNow = java.time.LocalDate.parse(maxDate).plusDays(1)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant
    val sinceDays = java.time.temporal.ChronoUnit.DAYS.between(
      java.time.LocalDate.parse(minDate), java.time.LocalDate.parse(maxDate))
      .toInt + 2

    /** Order-independent content signature of a frame. */
    def signature(df: DataFrame): (Long, Long) = {
      val r = df.selectExpr("count(*)", "coalesce(bit_xor(xxhash64(struct(*))), 0)")
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def auditTotals(): (Long, Long, Long) = {
      val r = Downsampler.verifyRollups(store, minDate, maxDate)
        .agg(sum("n_missing"), sum("n_extra"), sum("n_value_mismatch")).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    val pins = scala.collection.mutable.ArrayBuffer
      .empty[(graft.store.AsOfPin, (Long, Long), (Long, Long))] // (pin, sigRaw, sigDay)
    val opsLog = scala.collection.mutable.ArrayBuffer.empty[String]
    var opsCycles = 0; var backfills = 0; var vacuums = 0L

    val t0 = System.nanoTime()
    val ckpt = s"$work/ckpt_ingest"
    val q = graft.ingest.IngestPipeline.runStream(
      SoakUtil.streamDir(spark, s"$work/in_events", raw.schema), config, None,
      store, ckpt)

    def opsCycle(atBatch: Long): Unit = {
      val c0 = System.nanoTime()
      Downsampler.maintain(store, opsNow, sinceDays = sinceDays,
        retainHistory = true)
      // pin AFTER the maintain: from the store's own records, no driver clock
      val pin = store.pinNow()
      pins += ((pin, signature(store.readAsOf(Tier.GenRaw, pin)),
        signature(store.readAsOf(Tier.GenDay, pin))))
      val (m, x, v) = auditTotals() // live audit: recorded, not asserted
      Downsampler.backfill(store, maxDate, maxDate, retainHistory = true)
      backfills += 1
      vacuums += store.vacuumTier(Tier.GenWeek) // unpinned rollup tier
      opsCycles += 1
      opsLog += f"""{"batch":$atBatch,"pin":${pin.millis},"audit_missing":$m,""" +
        f""""audit_extra":$x,"audit_mismatch":$v,""" +
        f""""cycle_sec":${(System.nanoTime() - c0) / 1e9}%.1f}"""
    }

    var nextOps = opsEvery
    var lastSeen = -1L
    val deadline = System.nanoTime() + 3600L * 1000 * 1000 * 1000
    while (q.isActive && lastSeen < batches - 1 && System.nanoTime() < deadline) {
      Thread.sleep(200)
      val lp = q.lastProgress
      if (lp != null) lastSeen = lp.batchId
      if (lastSeen >= nextOps) { opsCycle(lastSeen); nextOps += opsEvery }
    }
    q.processAllAvailable(); graft.stream.StreamOps.stopAndUnload(q)
    val wallIngest = (System.nanoTime() - t0) / 1e9

    // ---- end state: quiesced final maintain, then the hard gates ----
    Downsampler.maintain(store, opsNow, sinceDays = sinceDays,
      retainHistory = true)
    val (fm, fx, fv) = auditTotals()
    require(fm == 0 && fx == 0 && fv == 0,
      s"final rollup audit dirty: missing=$fm extra=$fx mismatch=$fv")

    val pinDrift = pins.zipWithIndex.flatMap { case ((pin, sr, sd), i) =>
      val nr = signature(store.readAsOf(Tier.GenRaw, pin))
      val nd = signature(store.readAsOf(Tier.GenDay, pin))
      (if (nr != sr) Seq(s"pin$i raw $sr -> $nr") else Nil) ++
        (if (nd != sd) Seq(s"pin$i day $sd -> $nd") else Nil)
    }
    require(pinDrift.isEmpty,
      s"pins drifted after later maintenance: ${pinDrift.mkString("; ")}")

    val storeBatch = new TierStore(spark, s"$work/store_batch")
    graft.ingest.IngestPipeline.runBatch(raw, config, None, storeBatch)
    val rawRows = store.read(Tier.GenRaw).count()
    Seq(Tier.GenRaw, Tier.GenDefault).foreach { t =>
      val sc = store.read(t).count(); val bc = storeBatch.read(t).count()
      require(sc == bc, s"ingest tier ${t.name}: $sc vs batch $bc rows")
    }

    // ---- the attestation contract at soak scale: ledger-marker folds
    // must NOT disturb logical pins — a watermark at n still attests
    // every id ≤ n, so the oldest pin resolves EXACTLY after the fold
    // (the old mtime-attested pins had to fail loudly here) ----
    store.vacuumBatchMarkers()
    val postFoldSig = signature(store.readAsOf(Tier.GenRaw, pins.head._1))
    require(postFoldSig == pins.head._2,
      s"pre-fold pin drifted after the ledger fold: ${pins.head._2} -> $postFoldSig")

    println(f"""{"ops_soak":{"sf":"$sfDir","batches":$batches,""" +
      f""""ingest_wall_sec":$wallIngest%.1f,"raw_rows":$rawRows,""" +
      f""""ops_cycles":$opsCycles,"pins":${pins.length},"backfills":$backfills,""" +
      f""""rollup_vacuums":$vacuums,"final_audit":[$fm,$fx,$fv],""" +
      s""""pins_stable":true,"equal_to_batch":true,"fold_proof_pins":true,""" +
      s""""cycles":[${opsLog.mkString(",")}]}}""")
    spark.stop()
  }
}
