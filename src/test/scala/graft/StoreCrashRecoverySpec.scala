package graft

import java.nio.file.Files
import java.sql.Timestamp

import graft.model.Tier
import graft.store.{BatchLedger, TierLayout, TierStore}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * Round-7 crash-safety regressions (ADVICE r6):
 *
 *  - a crash BETWEEN a snapshot commit and its vacuum leaves folded raw
 *    files on disk; the NEXT publish's manifest must carry them forward
 *    or their rows resurrect as unfolded appends (duplicates — the data
 *    is also inside the superseded snapshot that fed the new one);
 *  - two streaming queries appending into one store must not share a
 *    batch-ledger namespace (same ids ⇒ the second query's batches are
 *    silently skipped as already-committed);
 *  - the ledger watermark encoding must not let one writer's files
 *    parse as another's (the old `_b_low_<w>_<n>` form read writer
 *    "low_foo"'s batch markers as watermarks for writer "foo").
 */
class StoreCrashRecoverySpec extends SparkSpec {

  private def tmpDir(): String =
    graft.Fixtures.newDir("graft_crash").toFile.getAbsolutePath

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

  private def fsOf(root: String) =
    new HPath(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("compact crash between commit and vacuum: the next compaction " +
    "carries the folded-but-undeleted files forward — no duplicate rows") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    (1 to 4).foreach(i => store.write(Tier.GenRaw, pts(("sensor_temp", i.toDouble))))

    // crash AFTER every commit of the pass, BEFORE vacuum
    store.publishHook = {
      case "swapped" => throw new RuntimeException("crash before vacuum")
      case _ => ()
    }
    intercept[RuntimeException] { store.compact(Tier.GenRaw, minFiles = 4) }
    store.publishHook = _ => ()

    val part = new HPath(s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
    val fs = fsOf(root)
    def rawParquet() = fs.listStatus(part).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSeq
    // commit 1 landed, its folded raw inputs were never vacuumed
    assert(fs.exists(TierLayout.commitFile(part, 1)))
    assert(rawParquet().nonEmpty, "crash scenario needs leftover folded files")
    // readers are already correct (commit 1 excludes the folded files)
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0))

    // a fresh append, then the next maintenance pass over the partition
    store.write(Tier.GenRaw, pts(("sensor_temp", 5.0)))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0, 5.0))
    assert(store.compact(Tier.GenRaw, minFiles = 2) == 1)
    // commit 2's manifest must have carried the leftover folded names:
    // their rows are inside _v=2 via _v=1, so re-admitting them would
    // read every pre-crash row twice
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "pre-crash rows resurrected as duplicates")
    // and this pass's vacuum finally deleted them
    assert(rawParquet().isEmpty, s"leftover raw files survived: ${rawParquet()}")
    assert(fs.exists(TierLayout.commitFile(part, 2)) &&
      !fs.exists(TierLayout.commitFile(part, 1)))
  }

  test("batch ledger namespaces are per writer: same batch id from two " +
    "writers lands twice; a writer named low_* cannot commit another's batches") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    // two streams, both at batch 0 — distinct writers, both must land
    assert(store.writeRoutedBatch(pts(("sensor_temp", 1.0)), 0L, writer = "ingest_a"))
    assert(store.writeRoutedBatch(pts(("sensor_temp", 2.0)), 0L, writer = "ingest_b"))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0))
    // replay of each is still a per-writer no-op
    assert(!store.writeRoutedBatch(pts(("sensor_temp", 1.0)), 0L, writer = "ingest_a"))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0))

    // encoding regression: writer "low_foo" markers must not read as
    // watermarks for writer "foo"
    assert(store.writeRoutedBatch(pts(("sensor_temp", 3.0)), 3L, writer = "low_foo"))
    val committed = BatchLedger.read(fsOf(root), new HPath(root))
    assert(committed("low_foo", 3L))
    assert(!committed("foo", 3L) && !committed("foo", 1L),
      "a low_-prefixed writer's marker spuriously committed another writer's batches")

    // all-writers marker vacuum folds each namespace independently
    assert(store.writeRoutedBatch(pts(("sensor_temp", 4.0)), 1L, writer = "ingest_a"))
    store.vacuumBatchMarkers()
    val names = fsOf(root).listStatus(BatchLedger.dir(new HPath(root)))
      .map(_.getPath.getName).toSet
    assert(names == Set("_bwm_ingest_a_1", "_bwm_ingest_b_0", "_b_low_foo_3"),
      names.toString)
    val after = BatchLedger.read(fsOf(root), new HPath(root))
    assert(after("ingest_a", 0L) && after("ingest_a", 1L) && after("ingest_b", 0L)
      && after("low_foo", 3L) && !after("foo", 3L))
  }

  test("compact crash between snapshot rename and commit: the half-" +
    "published _v dir is invisible to readers and safely superseded") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    (1 to 4).foreach(i => store.write(Tier.GenRaw, pts(("sensor_temp", i.toDouble))))

    // crash AFTER the _v=1 rename, BEFORE the _commit_1 marker
    store.publishHook = {
      case "renamed" => throw new RuntimeException("crash before commit")
      case _ => ()
    }
    intercept[RuntimeException] { store.compact(Tier.GenRaw, minFiles = 4) }
    store.publishHook = _ => ()

    val part = new HPath(s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
    val fs = fsOf(root)
    // the orphan snapshot dir exists, uncommitted — and is INVISIBLE:
    // readers resolve raw appends exactly as before the crashed pass
    assert(fs.exists(TierLayout.versionDir(part, 1)))
    assert(!fs.exists(TierLayout.commitFile(part, 1)))
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0))

    // an append after the crash, then a maintenance pass that completes:
    // the new snapshot must NOT land on the orphan's name (a rename onto
    // an existing dir fails or nests — either way the commit would
    // manifest the crashed attempt's rows and lose the new append)
    store.write(Tier.GenRaw, pts(("sensor_temp", 5.0)))
    assert(store.compact(Tier.GenRaw, minFiles = 2) == 1)
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0, 5.0),
      "rows lost or duplicated across the crash-then-complete sequence")
    // the completed pass committed ABOVE the orphan and vacuumed it
    val committed = fs.listStatus(part).toSeq
      .flatMap(e => TierLayout.parseCommit(e.getPath.getName)).max
    assert(committed == 2, s"expected version 2 above the orphan, got $committed")
    assert(!fs.exists(TierLayout.versionDir(part, 1)),
      "orphan uncommitted snapshot dir survived the vacuum")
  }

  test("writerId is stable per checkpoint and distinct across checkpoints") {
    import graft.ingest.IngestPipeline.writerId
    val a = writerId("/tmp/ckpt/query_a")
    assert(a == writerId("/tmp/ckpt/query_a"), "must be stable across restarts")
    assert(a != writerId("/tmp/ckpt/query_b"), "must differ per query")
    assert(a.matches("[A-Za-z0-9_]+"), s"must be path-safe: $a")
  }

  private def devPts(rows: (String, Double)*) = {
    val rs = rows.zipWithIndex.map { case ((dev, v), i) =>
      Row("sensor_temp", Timestamp.valueOf(f"2024-01-01 10:00:${i % 60}%02d"), v, dev) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  test("deleteWhere crash windows: before any commit nothing is erased; " +
    "after commit before vacuum readers are already clean and the next " +
    "maintenance pass sweeps the leftovers") {
    val root = tmpDir()
    val store = new TierStore(spark, root)
    store.write(Tier.GenRaw, devPts("d_del" -> 1.0, "d_keep" -> 2.0))
    store.write(Tier.GenRaw, devPts("d_del" -> 3.0, "d_keep" -> 4.0))
    import org.apache.spark.sql.functions.col

    // crash with the complement fully staged, before ANY commit: the
    // hidden staging dir is invisible — nothing is erased yet
    store.publishHook = {
      case "staged" => throw new RuntimeException("crash before commit")
      case _ => ()
    }
    intercept[RuntimeException] {
      store.deleteWhere(Tier.GenRaw, col("dev_id") === "d_del") }
    store.publishHook = _ => ()
    assert(values(store, Tier.GenRaw) == Seq(1.0, 2.0, 3.0, 4.0),
      "a crashed pre-commit erasure must not lose rows")

    // crash after the commit, before vacuum: readers already see the
    // erased state (the snapshot excludes the folded raw files)
    store.publishHook = {
      case "swapped" => throw new RuntimeException("crash before vacuum")
      case _ => ()
    }
    intercept[RuntimeException] {
      store.deleteWhere(Tier.GenRaw, col("dev_id") === "d_del") }
    store.publishHook = _ => ()
    assert(values(store, Tier.GenRaw) == Seq(2.0, 4.0))
    val part = new HPath(s"$root/tier=gen_raw/measurement=sensor_temp/date=2024-01-01")
    val fs = fsOf(root)
    def rawParquet() = fs.listStatus(part).map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_")).toSeq
    assert(rawParquet().nonEmpty, "crash scenario needs unvacuumed leftovers")

    // the next maintenance pass (carry-forward) sweeps them; no
    // resurrected rows at any point
    store.write(Tier.GenRaw, devPts("d_keep" -> 5.0))
    assert(store.compact(Tier.GenRaw, minFiles = 2) == 1)
    assert(values(store, Tier.GenRaw) == Seq(2.0, 4.0, 5.0),
      "erased or folded rows resurrected by the follow-up compaction")
    assert(rawParquet().isEmpty, s"leftovers survived: ${rawParquet()}")
  }
}
