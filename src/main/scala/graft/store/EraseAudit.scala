package graft.store

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Audit-grade PHYSICAL erasure verification — the proof a compliance
 * run hands the auditor: a resolver-BYPASSING scan of every parquet
 * file still on disk under a store root (committed, superseded,
 * staged, hidden — everything the recursive walk finds), counting
 * rows that match the erased ids. An erase's own return value says
 * what the pass removed; this says what is LEFT, measured against the
 * raw bytes rather than any read path that could be hiding rows
 * behind a manifest. `rows_scanned` doubles as the completeness
 * witness: it must equal the survivors' physical row count, so a walk
 * that silently skipped files is visible too.
 *
 * Cost: one full scan of the root's parquet (id column only — parquet
 * prunes the rest). That is the audit contract at 100 TB: run it per
 * compliance batch, not per query.
 */
object EraseAudit {

  /**
   * Parallel breadth-first listing of every parquet data file under
   * `root`, skipping subtrees named in `skipDirs` — each directory
   * LEVEL lists concurrently on [[Listing]], the store's one
   * file-system fan-out pool (FileSystem handles are thread-safe), so
   * the audit's metadata round trips overlap instead of serializing: at
   * millions of files a sequential recursive `listStatus` walk is hours
   * of driver RPC before the scan starts. Called from a task already on
   * that pool (the tier audit's per-partition fan-out), a level lists
   * inline, so total concurrency stays at the pool's width. Result
   * sorted for determinism.
   */
  private[graft] def walkParquet(fs: org.apache.hadoop.fs.FileSystem,
      root: HPath, skipDirs: Set[String] = Set.empty): Seq[String] = {
    if (!fs.exists(root)) return Nil
    var frontier: Seq[HPath] = Seq(root)
    val files = Seq.newBuilder[String]
    while (frontier.nonEmpty) {
      val listed = Listing.listMany(fs, frontier).flatten
      frontier = listed
        .filter(e => e.isDirectory && !skipDirs(e.getPath.getName))
        .map(_.getPath)
      files ++= listed
        .filter(e => !e.isDirectory && e.getPath.getName.endsWith(".parquet"))
        .map(_.getPath.toString)
    }
    files.result().sorted
  }

  /** (files walked, rows scanned, matching rows found). `skipDirs`
   *  excludes subtrees whose schema lacks `idCol` (e.g. IVF
   *  `centroids/`). */
  def scan(spark: SparkSession, root: String, idCol: String,
      ids: Seq[Long], skipDirs: Set[String] = Set.empty): (Long, Long, Long) = {
    require(ids.nonEmpty, "empty audit id set")
    val rootP = new HPath(root)
    val fs = rootP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootP)) return (0L, 0L, 0L)
    val files = walkParquet(fs, rootP, skipDirs)
    if (files.isEmpty) return (0L, 0L, 0L)
    // membership through IdFilter (one pass for both counts): a
    // literal IN-list for a bounded batch, a broadcast left join +
    // marker column for a mass purge
    val r = IdFilter.markIn(
        spark.read.parquet(files: _*).select(col(idCol)), idCol, ids, "_hit")
      .agg(count(lit(1)),
        count(when(col("_hit"), lit(1)))).collect()(0)
    (files.length.toLong, r.getLong(0), r.getLong(1))
  }
}
