package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/**
 * EXACTLY-ONCE staged append of one micro-batch into a parquet
 * directory tree — the store's one implementation of the ledger-gated
 * append (Structured Streaming's idempotent, batch-id-keyed sink). The
 * tier store commits every append through it ([[TierStore.write]],
 * [[TierStore.writeRouted]], [[TierStore.writeRoutedBatch]]), and so do
 * the persisted similarity/dedup indexes
 * ([[graft.functions.Similarity.streamingIvfAppend]],
 * [[graft.functions.Pipeline.streamingIndexedDedup]]): a crash replay of
 * a micro-batch is a no-op, never a second copy of its rows.
 *
 * Protocol per batch (all under `destRoot`):
 *
 *  1. already in the [[BatchLedger]] (explicit marker or folded
 *     watermark)? → the batch fully committed before a crash; skip
 *     (drop leftover staging) and return false;
 *  2. replay cleanup: a previous attempt's `_manifest` lists exactly
 *     the destination files it may have moved — delete them, then
 *     start over (so at any instant each destination name exists at
 *     most ONCE: a replay can make a batch's rows vanish briefly and
 *     come back, but never double);
 *  3. stage: `write(stagingDir)` runs the caller's Spark job into
 *     `destRoot/_staging/<writer>/b=<id>` — `_`-prefixed, invisible
 *     to every plain parquet listing;
 *  4. manifest, then move: each staged data file renames to its
 *     DESTINATION under `destRoot`, preserving the staged RELATIVE
 *     path (partition dirs like `tier=…/measurement=…/date=…/` or
 *     `list_id=7/` ride along) with a DETERMINISTIC batch-tagged name
 *     (`b-<writer>-<id>-<k>.parquet`, [[TierLayout.batchFileName]],
 *     `k` the file's ordinal within its partition dir) — attempt N and
 *     a crash replay produce the same name set, so a file-source tail
 *     that logged the first attempt's files sees no phantom new ones.
 *     The renames are independent metadata operations and fan out on
 *     the [[Listing]] pool; a rename that reports failure fails the
 *     batch BEFORE its marker (a retry cleans up through the manifest);
 *  5. commit: create the ledger marker — atomic, the batch is done.
 *
 * Readers gate on this ledger: [[SnapshotFold.resolve]] (tier store
 * and indexes alike) admits a batch-tagged file only once its marker
 * exists — one ledger listing per query — so readers
 * observe clean BATCH BOUNDARIES: never a half-moved batch, never a
 * crashed attempt's files, and maintenance folds only committed data.
 * Cost per batch: the caller's one write job, one rename per file
 * (metadata-only on HDFS/ABFS; a server-side copy on S3A — the standard
 * commit-protocol trade without conditional PUT), one marker create.
 *
 * The ledger is per-(ledger root, writer); derive `writer` from the
 * stream's checkpoint ([[graft.ingest.IngestPipeline.writerId]] idiom)
 * so two queries never share a namespace. [[foldAllMarkers]] keeps the
 * ledger listing O(recent batches) over an unbounded stream.
 */
object StagedBatchAppend {

  /** Test seam: invoked at the phase boundaries "staged",
   *  "manifested", "moved" of appends that pass no `phases` of their
   *  own ([[TierStore]] passes its per-store `batchHook`). */
  private[graft] var hook: String => Unit = _ => ()

  private def fsOf(spark: SparkSession, p: HPath): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Is `batchId` of `writer` committed at `destRoot` (marker or folded
   *  watermark)? One targeted exists + one ledger listing. */
  def committed(spark: SparkSession, destRoot: String, writer: String,
      batchId: Long): Boolean = {
    val rootP = new HPath(destRoot)
    val fs = fsOf(spark, rootP)
    BatchLedger.read(fs, rootP)(writer, batchId)
  }

  /**
   * Run `write` into a staging dir and commit its output under
   * `destRoot` exactly once. Returns false when `batchId` was already
   * committed (the replay skip) — `write` is then never invoked.
   *
   * `ledgerRoot` (default `destRoot`) splits the COMMIT RECORD's home
   * from the data destination: an index whose data dir moves across
   * atomic REBUILD generations ([[graft.functions.Similarity
   * .rebuildIvfIndex]]) keeps ONE ledger at its stable root, so a
   * crash replay of a batch committed BEFORE a rebuild still skips —
   * the rebuilt corpus already contains that batch's rows, and a
   * per-generation ledger would silently re-append them.
   *
   * `phases` receives the phase boundaries "staged", "manifested",
   * "moved" (the crash-injection seam; default [[hook]]).
   */
  def append(spark: SparkSession, destRoot: String, writer: String,
      batchId: Long, ledgerRoot: Option[String] = None,
      phases: String => Unit = hook)
      (write: String => Unit): Boolean = {
    val rootP = new HPath(destRoot)
    val ledgerP = ledgerRoot.map(new HPath(_)).getOrElse(rootP)
    val fs = fsOf(spark, rootP)
    val marker = BatchLedger.markerFile(ledgerP, writer, batchId)
    val staging = new HPath(rootP, s"_staging/$writer/b=$batchId")
    if (BatchLedger.read(fs, ledgerP)(writer, batchId)) {
      fs.delete(staging, true); return false
    }
    // replay cleanup: delete exactly the destinations a previous
    // attempt may have moved, no tree walk
    val manifest = new HPath(staging, "_manifest")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.linesIterator.filter(_.nonEmpty)
        .foreach(p => fs.delete(new HPath(p), false))
    }
    fs.delete(staging, true)

    write(staging.toString)
    phases("staged")

    def dataFiles(dir: HPath): Seq[HPath] =
      fs.listStatus(dir).toSeq.flatMap { e =>
        val n = e.getPath.getName
        if (e.isDirectory && !n.startsWith("_") && !n.startsWith("."))
          dataFiles(e.getPath)
        else if (TierLayout.isDataFile(e)) Seq(e.getPath)
        else Nil
      }
    val staged = if (fs.exists(staging)) dataFiles(staging) else Nil
    // listStatus returns scheme-qualified paths — qualify the prefix the
    // relative partition path is computed against
    val stagingQ = fs.makeQualified(staging)
    val relocated = staged.map { src =>
      val rel = src.toString.stripPrefix(stagingQ.toString).stripPrefix("/")
      require(rel != src.toString, s"staged file $src outside $stagingQ")
      val parent = rel.lastIndexOf('/') match {
        case -1 => ""
        case i => rel.substring(0, i) + "/"
      }
      (src, parent)
    }
    val moves = relocated.groupBy(_._2).toSeq.flatMap { case (parent, files) =>
      files.sortBy(_._1.getName).zipWithIndex.map { case ((src, _), k) =>
        val name = TierLayout.batchFileName(writer, batchId, s"$k.parquet")
        src -> new HPath(rootP, parent + name)
      }
    }
    if (moves.nonEmpty) {
      val out = fs.create(manifest, true)
      try out.write(moves.map(_._2.toString).mkString("", "\n", "\n")
        .getBytes("UTF-8"))
      finally out.close()
      phases("manifested")
      Listing.inParallel(moves) { case (src, dst) =>
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"rename $src -> $dst failed")
      }: Unit
    }
    phases("moved")
    fs.mkdirs(marker.getParent)
    val m = fs.create(marker, false); m.close() // the atomic commit
    fs.delete(staging, true)
    // the _staging/<writer> parent accumulates nothing (each batch dir
    // is deleted above); leave it — it is invisible to listings
    true
  }

  /** Fold contiguous committed markers of `writer` into a watermark
   *  ([[BatchLedger.foldMarkers]]). */
  def foldMarkers(spark: SparkSession, destRoot: String, writer: String): Unit =
    BatchLedger.foldMarkers(fsOf(spark, new HPath(destRoot)),
      new HPath(destRoot), writer)

  /** Fold EVERY writer present in the ledger at `destRoot` — called by
   *  the index compactions and [[TierStore.vacuumBatchMarkers]] (the
   *  single maintainer) so an unbounded stream's ledger listing stays
   *  O(recent batches) without the deployment knowing the set of
   *  checkpoints that ever appended. A fold loses nothing: replay skips
   *  and as-of pins both read the watermark ([[BatchLedger.read]]). */
  def foldAllMarkers(spark: SparkSession, destRoot: String): Unit = {
    val rootP = new HPath(destRoot)
    val fs = fsOf(spark, rootP)
    val d = BatchLedger.dir(rootP)
    if (!fs.exists(d)) return
    BatchLedger.writers(fs.listStatus(d).toSeq.map(_.getPath.getName))
      .foreach(w => BatchLedger.foldMarkers(fs, rootP, w))
  }
}
