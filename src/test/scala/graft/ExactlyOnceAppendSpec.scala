package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.model.Tier
import graft.store.{BatchLedger, TierStore}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * Exactly-once streaming appends (`TierStore.writeRoutedBatch`): the
 * ledger-gated batch files must make the post-crash replay of a
 * micro-batch idempotent, keep uncommitted batches invisible to
 * readers AND to maintenance, and keep the ledger listing bounded via
 * marker vacuum. Crash points are injected through the `batchHook`
 * seam at each phase boundary the scaladoc names.
 */
class ExactlyOnceAppendSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.Fixtures.newDir("graft_eo").toFile.getAbsolutePath

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType)))

  private def pts(rows: (String, Double)*) = {
    val rs = rows.zipWithIndex.map { case ((m, v), i) =>
      Row(m, Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"), v, "d1") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  private def values(store: TierStore, tier: Tier): Seq[Double] =
    store.read(tier).collect().map(_.getAs[Double]("value")).sorted.toSeq

  test("replayed batch appends once: second call is a committed no-op") {
    val store = new TierStore(spark, tmpDir())
    assert(store.writeRoutedBatch(pts(("sensor_temp", 1.0), ("sensor_temp", 2.0)), 0L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0))
    // the replay: same batch id again — skipped, nothing duplicated
    assert(!store.writeRoutedBatch(pts(("sensor_temp", 1.0), ("sensor_temp", 2.0)), 0L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0))
    assert(store.writeRoutedBatch(pts(("sensor_temp", 3.0)), 1L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0))
  }

  test("replay after a marker fold is still a no-op: the skip check " +
    "reads the folded watermark, not just the explicit marker") {
    val store = new TierStore(spark, tmpDir())
    assert(store.writeRoutedBatch(pts(("sensor_temp", 1.0), ("sensor_temp", 2.0)), 0L))
    store.vacuumBatchMarkers() // _b_ingest_0 folds into _bwm_ingest_0
    assert(!store.writeRoutedBatch(pts(("sensor_temp", 1.0), ("sensor_temp", 2.0)), 0L),
      "a replay of a folded batch must be skipped, not rewritten")
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0))
  }

  test("a rename that reports failure fails the batch before its marker; " +
    "the retry lands it exactly once") {
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.set("fs.failrename.impl", classOf[FailingRenameFileSystem].getName)
    val root = "failrename://" + tmpDir()
    val store = new TierStore(spark, root)
    assert(store.writeRoutedBatch(pts(("sensor_temp", 1.0)), 0L))
    // two partitions, so two files move in parallel and one of them fails
    val batch1 = pts(("sensor_temp", 2.0), ("sensor_hum", 3.0))
    FailingRenameFileSystem.failures.set(1)
    try intercept[java.io.IOException](store.writeRoutedBatch(batch1, 1L))
    finally FailingRenameFileSystem.failures.set(0)
    assert(!graft.store.StagedBatchAppend.committed(spark, root, "ingest", 1L),
      "a batch whose file never arrived was committed")
    assert(values(store, Tier.GenRaw) == Seq(1.0))
    assert(store.writeRoutedBatch(batch1, 1L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0))
  }

  test("crash after moves, before the marker: invisible, replay lands it once") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    store.writeRoutedBatch(pts(("sensor_temp", 1.0)), 0L)
    store.batchHook = {
      case "moved" => throw new RuntimeException("crash")
      case _ => ()
    }
    intercept[RuntimeException] {
      store.writeRoutedBatch(pts(("sensor_temp", 2.0), ("sensor_temp", 3.0)), 1L)
    }
    // files are in place under batch-tagged names but the batch never
    // committed — readers must not see any of it
    assert(values(store, Tier.GenRaw) == Seq(1.0))
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new HPath(s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
    def batchNames() = fs.listStatus(part).map(_.getPath.getName)
      .filter(_.startsWith("b-ingest-1-")).sorted.toSeq
    val firstAttempt = batchNames()
    assert(firstAttempt.nonEmpty)
    store.batchHook = _ => ()
    assert(store.writeRoutedBatch(pts(("sensor_temp", 2.0), ("sensor_temp", 3.0)), 1L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0))
    // deterministic destinations: the replay landed on the SAME names,
    // so a concurrent file-source tail sees no phantom new files
    assert(batchNames() == firstAttempt,
      s"replay changed batch file names: $firstAttempt -> ${batchNames()}")
  }

  test("crash mid-move: manifest-led cleanup removes the partial files") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    store.batchHook = {
      case "manifested" => throw new RuntimeException("crash")
      case _ => ()
    }
    intercept[RuntimeException] {
      store.writeRoutedBatch(pts(("sensor_temp", 5.0)), 0L)
    }
    store.batchHook = _ => ()
    // simulate the crash having landed SOME moves: plant a file at the
    // first destination the manifest records
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = new HPath(root, "_staging/ingest/b=0/_manifest")
    assert(fs.exists(manifest))
    val in = fs.open(manifest)
    val dest = new HPath(
      (try new String(in.readAllBytes(), "UTF-8") finally in.close())
        .linesIterator.next())
    fs.mkdirs(dest.getParent)
    val out = fs.create(dest, true); out.write("partial".getBytes); out.close()
    assert(values(store, Tier.GenRaw).isEmpty) // partial move invisible
    // replay: cleans exactly the manifest's destinations, then redoes —
    // destination names are deterministic, so the real file of the redo
    // lands on the very path the partial occupied, replacing it
    assert(store.writeRoutedBatch(pts(("sensor_temp", 5.0)), 0L))
    assert(values(store, Tier.GenRaw) == Seq(5.0))
    assert(fs.getFileStatus(dest).getLen != "partial".getBytes.length,
      "the partial file's bytes must have been replaced by the redo")
  }

  test("maintenance never folds or vacuums an uncommitted batch") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    // four plain appends -> a compactable partition
    (1 to 4).foreach(i => store.write(Tier.GenRaw, pts(("sensor_temp", i.toDouble))))
    // an in-flight batch crashed after its moves (files present, no marker)
    store.batchHook = {
      case "moved" => throw new RuntimeException("crash")
      case _ => ()
    }
    intercept[RuntimeException] {
      store.writeRoutedBatch(pts(("sensor_temp", 99.0)), 7L)
    }
    store.batchHook = _ => ()
    assert(store.compact(Tier.GenRaw, minFiles = 4) == 1)
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0))
    // the uncommitted file survived the compaction's fold+vacuum …
    val part = new HPath(s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(part).exists(f =>
      graft.store.TierLayout.batchIdOf(f.getPath.getName).contains(("ingest", 7L))))
    // … so the batch can still commit, and lands exactly once
    assert(store.writeRoutedBatch(pts(("sensor_temp", 99.0)), 7L))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0, 99.0))
  }

  test("marker vacuum folds contiguous ids into the watermark, keeps gaps") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    Seq(0L, 1L, 3L).foreach(id =>
      store.writeRoutedBatch(pts(("sensor_temp", id.toDouble)), id))
    store.vacuumBatchMarkers()
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(BatchLedger.dir(new HPath(root)))
      .map(_.getPath.getName).toSet
    // 0,1 fold into the watermark; 3 must stay explicit (2 never committed)
    assert(names == Set("_bwm_ingest_1", "_b_ingest_3"), names.toString)
    assert(values(store, Tier.GenRaw) == Seq(0.0, 1.0, 3.0))
    // batch 2 commits late, a second vacuum folds everything
    store.writeRoutedBatch(pts(("sensor_temp", 2.0)), 2L)
    store.vacuumBatchMarkers()
    val names2 = fs.listStatus(BatchLedger.dir(new HPath(root)))
      .map(_.getPath.getName).toSet
    assert(names2 == Set("_bwm_ingest_3"), names2.toString)
    assert(values(store, Tier.GenRaw) == Seq(0.0, 1.0, 2.0, 3.0))
  }

  test("concurrent plain writes serialize through the ledger: every " +
    "thread's batch commits exactly once, ids are dense, as-of order holds") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      (0 until n).map(i => pool.submit(new Runnable {
        def run(): Unit =
          store.write(Tier.GenRaw, pts(("sensor_temp", i.toDouble)))
      })).foreach(_.get())
    } finally pool.shutdown()
    assert(values(store, Tier.GenRaw) == (0 until n).map(_.toDouble),
      "concurrent plain writes lost or duplicated rows")
    val fs = new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ids = fs.listStatus(BatchLedger.dir(new HPath(root)))
      .map(_.getPath.getName).toSeq
      .collect { case s if s.startsWith("_b_batch_") =>
        s.stripPrefix("_b_batch_").toLong }.sorted
    assert(ids == (0L until n.toLong), s"plain-write ids not dense: $ids")
    // a pin taken NOW covers everything just committed (order-sound)
    assert(store.readAsOf(Tier.GenRaw, store.pinNow()).count() == n.toLong)
  }

  test("as-of pins survive a ledger fold: logical positions stay exact " +
    "where the old mtime attestation had to fail loudly") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    store.writeRoutedBatch(pts(("sensor_temp", 0.0)), 0L)
    val pin = store.pinNow() // attests exactly {batch 0}
    store.writeRoutedBatch(pts(("sensor_temp", 1.0)), 1L)
    store.vacuumBatchMarkers() // folds 0,1 into one watermark
    // the fold deleted the marker that DATED batch 0's commit, but the
    // watermark still attests every id ≤ 1 and the pin's logical
    // position is 0 — the pinned read stays exact over any fold history
    assert(store.readAsOf(Tier.GenRaw, pin).collect()
      .map(_.getAs[Double]("value")).toSeq == Seq(0.0))
    assert(store.readAsOf(Tier.GenRaw, store.pinNow()).collect()
      .map(_.getAs[Double]("value")).sorted.toSeq == Seq(0.0, 1.0))
  }
}
