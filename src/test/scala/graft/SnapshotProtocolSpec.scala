package graft

import scala.jdk.CollectionConverters._

import graft.model.Tier
import graft.store.{SnapshotFold, TierFileIndex, TierLayout, TierStore}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.functions._

/**
 * The store's one snapshot protocol ([[SnapshotFold]]), which tier
 * partitions and index directories share: marker hygiene on the index
 * side, the round trips the tier reader pays to plan one partition, and
 * the tier maintenance passes at a partition count where a
 * per-partition predicate chain overflowed the stack.
 */
class SnapshotProtocolSpec extends SparkSpec {
  import spark.implicits._

  private def hconf = spark.sparkContext.hadoopConfiguration

  private def rows(m: String, day: java.time.LocalDate, vs: Double*) = vs.map(v =>
    (m, java.sql.Timestamp.valueOf(day.atTime(10, 0)), v, "d1", "1", "sensor"))
    .toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type")

  private val day1 = java.time.LocalDate.parse("2024-01-01")

  test("index vacuumDir drops a half-visible marker below the newest " +
    "valid commit, and never one above it") {
    val fs = FileSystem.getLocal(hconf)
    val dir = new HPath(graft.Fixtures.newDir("graft_idxmark").toFile.getAbsolutePath,
      "table")
    def touch(p: HPath, text: String = "x"): Unit = {
      val out = fs.create(p, true)
      try out.write(text.getBytes("UTF-8")) finally out.close()
    }
    def live(): Set[String] = SnapshotFold.resolve(fs, dir).map { f =>
      val p = f.getPath
      if (p.getParent.getName.startsWith("_v=")) s"${p.getParent.getName}/${p.getName}"
      else p.getName
    }.toSet
    touch(new HPath(dir, "part-a.parquet"))
    touch(new HPath(dir, "part-b.parquet"))
    // commit 1 folds part-a into _v=1
    touch(new HPath(TierLayout.versionDir(dir, 1), "part-1.parquet"))
    TierLayout.commit(fs, dir, 1, Seq("part-a.parquet"))
    // commit 2 crashed mid-copy: marker visible, no `ok` terminator
    touch(TierLayout.commitFile(dir, 2), "version=2\nfolded:part-b.parquet\n")
    // commit 3 folds _v=1's output into _v=3
    touch(new HPath(TierLayout.versionDir(dir, 3), "part-3.parquet"))
    TierLayout.commit(fs, dir, 3, Seq("_v=1/part-1.parquet"))
    assert(live() == Set("part-b.parquet", "_v=3/part-3.parquet"))

    SnapshotFold.vacuumDir(fs, dir)
    assert(!fs.exists(TierLayout.commitFile(dir, 2)),
      "a half-visible marker below the newest valid commit survived vacuum")
    assert(fs.exists(TierLayout.commitFile(dir, 3)))
    assert(!fs.exists(new HPath(dir, "part-a.parquet")) &&
      !fs.exists(TierLayout.versionDir(dir, 1)))
    assert(live() == Set("part-b.parquet", "_v=3/part-3.parquet"))

    // above the newest valid commit it may be a commit still in flight
    touch(TierLayout.commitFile(dir, 4), "version=4\n")
    SnapshotFold.vacuumDir(fs, dir)
    assert(fs.exists(TierLayout.commitFile(dir, 4)))
    assert(live() == Set("part-b.parquet", "_v=3/part-3.parquet"))
  }

  test("vacuumDir keeps the marker of a commit whose folded file " +
    "could not be deleted, so the file is not read again") {
    val dir = new HPath(graft.Fixtures.newDir("graft_stuck").toFile.getAbsolutePath,
      "table")
    // a file system on which deleting one raw file reports failure
    val fs = new org.apache.hadoop.fs.RawLocalFileSystem {
      override def delete(p: HPath, recursive: Boolean): Boolean =
        p.getName != "part-a.parquet" && super.delete(p, recursive)
    }
    fs.initialize(java.net.URI.create("file:///"), hconf)
    def touch(p: HPath): Unit = { val out = fs.create(p, true); out.close() }
    def live(): Set[String] = SnapshotFold.resolve(fs, dir).map(_.getPath.getName).toSet
    touch(new HPath(dir, "part-a.parquet"))
    touch(new HPath(TierLayout.versionDir(dir, 1), "part-1.parquet"))
    TierLayout.commit(fs, dir, 1, Seq("part-a.parquet"))
    touch(new HPath(TierLayout.versionDir(dir, 2), "part-2.parquet"))
    TierLayout.commit(fs, dir, 2, Seq("_v=1/part-1.parquet"))
    assert(live() == Set("part-2.parquet"))

    SnapshotFold.vacuumDir(fs, dir)
    assert(fs.exists(new HPath(dir, "part-a.parquet")) &&
      !fs.exists(TierLayout.versionDir(dir, 1)))
    assert(fs.exists(TierLayout.commitFile(dir, 1)),
      "commit 1 retired while a file it folded is still on disk")
    assert(live() == Set("part-2.parquet"))

    val local = FileSystem.getLocal(hconf)
    SnapshotFold.vacuumDir(local, dir)
    assert(!local.exists(new HPath(dir, "part-a.parquet")) &&
      !local.exists(TierLayout.commitFile(dir, 1)))
    assert(live() == Set("part-2.parquet"))
  }

  test("TierFileIndex plans an unversioned partition with one listing, " +
    "a compacted one with two listings and one manifest read") {
    hconf.set("fs.counting.impl", classOf[CountingFileSystem].getName)
    val root = "counting://" + graft.Fixtures.newDir("graft_count")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.write(Tier.GenDay, rows("m_c", day1, 1.0))
    store.write(Tier.GenDay, rows("m_c", day1, 2.0))
    assert(store.compact(Tier.GenDay, minFiles = 2) == 1)
    store.write(Tier.GenDay, rows("m_u", day1, 3.0))
    store.write(Tier.GenDay, rows("m_u", day1, 4.0))

    CountingFileSystem.reset()
    val index = new TierFileIndex(spark, new HPath(s"$root/tier=gen_day"))
    assert(index.resolvedPartitions.map(p => (p._1, p._4.length)).toSet ==
      Set(("m_c", 1), ("m_u", 2)))
    def calls(m: String) = {
      def under(q: java.util.Collection[String]) =
        q.asScala.count(_.contains(s"/measurement=$m/date="))
      (under(CountingFileSystem.listed), under(CountingFileSystem.opened))
    }
    assert(calls("m_u") == ((1, 0)), s"unversioned partition: ${calls("m_u")}")
    assert(calls("m_c") == ((2, 1)), s"compacted partition: ${calls("m_c")}")
  }

  test("compact and deleteWhere over 2000 date partitions: the " +
    "partition predicate does not overflow the stack") {
    val root = graft.Fixtures.newDir("graft_many").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    val n = 2000
    store.write(Tier.GenDay, (0 until n).map { i =>
      ("m_many", java.sql.Timestamp.valueOf(day1.plusDays(i).atTime(10, 0)),
        2.0 * i, "d1", "1", "sensor")
    }.flatMap(r => Seq(r, r.copy(_3 = r._3 + 1)))
      .toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type"))
    assert(store.compact(Tier.GenDay, minFiles = 1) == n)
    assert(store.deleteWhere(Tier.GenDay, col("value") % 2 === 1) == n)
    val left = store.read(Tier.GenDay).select("value").as[Double].collect()
    assert(left.length == n && left.forall(_ % 2 == 0))
  }
}
