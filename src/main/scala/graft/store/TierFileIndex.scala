package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.{DateType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * File-name and manifest FORMAT helpers of the store's one snapshot
 * protocol, [[SnapshotFold]] — the tier partitions and the index
 * directories share them. Layout inside one directory (a tier store
 * (measurement, date) partition, or an index table):
 *
 *   part-*.parquet, b-<w>-<id>-*  raw data files (plain / batch-tagged)
 *   _v=N/part-*.parquet           snapshot N's data files
 *   _commit_N                     manifest of snapshot N: the relative
 *                                 paths it superseded, `ok`-terminated
 *
 * Publication needs NO atomic primitive beyond "a small file appears
 * atomically with its content" (HDFS rename, one S3 PUT):
 * `_`-prefixed entries are invisible to plain listings, so a snapshot
 * directory can be staged, renamed, even COPIED file by file into
 * place, and the commit is the appearance of the manifest
 * ([[commit]]). Resolution, publication and vacuum are
 * [[SnapshotFold]]'s.
 *
 * ON-DISK BREAK: snapshots resolve by the union of every committed
 * manifest. Tier partitions used to resolve by the newest manifest
 * alone, and their manifests listed only the raw files a publish
 * superseded, so a store written that way with RETAINED history (or
 * with a committed `_v=` dir a crash left behind) would read its
 * superseded snapshots again next to the current one. Run
 * `TierStore.vacuumTier` on every tier with the old build before
 * upgrading; a vacuumed store reads identically.
 *
 * Reference behavior being replaced: the InfluxDB backend's compactions
 * rewrite shards invisibly behind its storage engine
 * (reference storage/influxdb_v1.go:271-413 gives the engine a database
 * per retention tier and delegates shard publication to InfluxDB); this
 * layout is the Spark-native equivalent of that publication guarantee
 * on a plain file/object store.
 */
object TierLayout {

  private val CommitPrefix = "_commit_"

  /** Batch-gated append file name: `b-<writer>-<id>-<original>`. Files
   *  written by [[TierStore.writeRoutedBatch]] carry their micro-batch
   *  identity in the name; readers admit them only when the batch's
   *  ledger marker exists ([[BatchLedger]]) — the exactly-once gate. */
  private val BatchFile = "^b-([A-Za-z0-9_]+)-([0-9]+)-.*".r

  /** (writer, batchId) of a batch-gated file name; None for plain files. */
  def batchIdOf(name: String): Option[(String, Long)] = name match {
    case BatchFile(w, id) => id.toLongOption.map((w, _))
    case _ => None
  }

  def batchFileName(writer: String, id: Long, original: String): String = {
    require(writer.matches("[A-Za-z0-9_]+"), s"writer id must be path-safe: $writer")
    s"b-$writer-$id-$original"
  }

  def versionDir(part: HPath, v: Long): HPath = new HPath(part, f"_v=$v%d")
  def commitFile(part: HPath, v: Long): HPath = new HPath(part, f"$CommitPrefix$v%d")

  /** The version a `_commit_N` marker name commits (by NAME: the
   *  manifest may not be completely visible yet — see [[readManifest]]). */
  def parseCommit(name: String): Option[Long] =
    if (name.startsWith(CommitPrefix))
      name.stripPrefix(CommitPrefix).toLongOption
    else None

  def isDataFile(f: FileStatus): Boolean = {
    val n = f.getPath.getName
    f.isFile && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The manifest of commit `v`, or None when the marker is missing OR
   *  its content is not yet completely visible (no `ok` terminator) —
   *  on a rename-by-copy FileSystem a manifest can appear with partial
   *  content, and trusting it would resolve the snapshot with a short
   *  folded list (superseded files read AGAIN alongside the snapshot).
   *  An unterminated manifest simply isn't a commit yet. */
  def readManifest(fs: FileSystem, part: HPath, v: Long): Option[Set[String]] = {
    val p = commitFile(part, v)
    // ONLY a missing marker means "not a commit yet" (vacuumed, or not
    // yet visible). Any other IOException is a transient storage fault
    // (throttling, network) on a marker that may well be valid — falling
    // back would silently serve an older version, or raw files a vacuum
    // already deleted, as if they were current. Fail the read loudly.
    val text = try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: java.io.FileNotFoundException => return None }
    if (!text.endsWith("ok\n")) None
    else Some(text.linesIterator.collect {
      case l if l.startsWith("folded:") => l.stripPrefix("folded:")
    }.toSet)
  }

  /** Commit snapshot `v`: publish the `_commit_v` manifest. The
   *  manifest records the relative paths this snapshot SUPERSEDES —
   *  readers exclude them, vacuum deletes them, and data files absent
   *  from the list (concurrent/later appends) remain first-class data.
   *
   *  The marker's EXISTENCE is the commit signal, so it must appear
   *  WITH its content: a plain `create → write → close` exposes the
   *  file empty between create and close (observed: a racing reader
   *  resolved the new snapshot with an empty folded list and counted
   *  every superseded raw file TWICE). The manifest is therefore
   *  written under a `.`-hidden staging name — invisible to listings —
   *  and renamed into place: a same-directory file rename is atomic on
   *  HDFS/POSIX, and on S3A it is a single small-object PUT (the
   *  destination appears only with its full content). */
  def commit(fs: FileSystem, part: HPath, v: Long, folded: Seq[String]): Unit = {
    val staged = new HPath(part, f"._commit_staging_$v%d")
    val out = fs.create(staged, true)
    try out.write((s"version=$v\n" +
      folded.map(n => s"folded:$n\n").mkString + "ok\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(staged, commitFile(part, v))) {
      // tolerate a replayed commit: the marker already being there IS
      // success (its content is immutable once visible)
      val already = fs.exists(commitFile(part, v))
      fs.delete(staged, false)
      if (!already)
        throw new java.io.IOException(s"commit rename failed for $part _v=$v")
    }
  }
}

/**
 * The store-level ledger of COMMITTED micro-batches (exactly-once
 * streaming appends, [[TierStore.writeRoutedBatch]]). Lives at
 * `<storeRoot>/_batches/`:
 *
 *   _b_<writer>_<id>      batch `id` of `writer` is committed (the
 *                         marker creation IS the commit — one small
 *                         file, atomic on HDFS create and as an S3 PUT,
 *                         exactly the [[TierLayout]] commit primitive)
 *   _bwm_<writer>_<n>     watermark: every batch of `writer` with
 *                         id <= n is committed (marker compaction —
 *                         [[TierStore.vacuumBatchMarkers]] folds old
 *                         markers so the ledger listing stays O(recent))
 *
 * The two name spaces cannot collide for ANY `[A-Za-z0-9_]+` writer id:
 * `_b_` and `_bwm_` are distinct literal prefixes (the earlier
 * `_b_low_<writer>` watermark form parsed writer "low_foo"'s batch
 * markers as watermarks for writer "foo", spuriously committing all of
 * foo's batches), and within each space the trailing digit run is the
 * id, so underscores inside writer ids parse unambiguously.
 *
 * One directory listing loads the whole ledger; [[TierFileIndex]] reads
 * it once per index construction, so a query's visibility of batches is
 * pinned at plan time like everything else.
 */
object BatchLedger {

  /** Collision-resistant path-safe writer id for a checkpoint-derived
   *  ledger namespace: `<prefix>_<sha256(checkpoint)[0..16)>`. The
   *  previous 32-bit MurmurHash derivation left a real (if small)
   *  birthday window: two checkpoints colliding in 32 bits that share
   *  one index path would share batch-id space, and one stream's append
   *  would be silently skipped as "already committed" — data loss with
   *  no error. 128 bits of SHA-256 closes that for any feasible number
   *  of checkpoints. */
  def writerId(prefix: String, checkpoint: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(checkpoint.getBytes("UTF-8"))
    prefix + "_" + d.take(16).map(b => f"$b%02x").mkString
  }

  def dir(storeRoot: HPath): HPath = new HPath(storeRoot, "_batches")
  def markerFile(storeRoot: HPath, writer: String, id: Long): HPath =
    new HPath(dir(storeRoot), s"_b_${writer}_$id")
  def watermarkFile(storeRoot: HPath, writer: String, n: Long): HPath =
    new HPath(dir(storeRoot), s"_bwm_${writer}_$n")

  private val Marker = "^_b_([A-Za-z0-9_]+?)_([0-9]+)$".r
  private val Low = "^_bwm_([A-Za-z0-9_]+?)_([0-9]+)$".r

  /** Writer ids present in a ledger dir listing (marker + watermark
   *  files) — lets maintenance fold every writer without knowing the
   *  set of streams that ever appended. */
  def writers(names: Seq[String]): Seq[String] = names.flatMap {
    case Low(w, _) => Some(w)
    case Marker(w, _) => Some(w)
    case _ => None
  }.distinct

  /** Fold old batch markers of `writer` into a per-writer watermark so
   *  the ledger listing stays O(recent batches) over an unbounded
   *  stream: markers below the highest CONTIGUOUS committed id (every
   *  id from the current watermark up to it present) collapse into one
   *  `_bwm` watermark file. Gaps stay as explicit markers — a gap is a
   *  batch that never committed, and the watermark must not claim it.
   *  The watermark FILE's mtime records the fold instant the as-of
   *  attestation in [[read]] checks. Shared by the tier store
   *  ([[TierStore.vacuumBatchMarkers]]) and the streaming-index ledgers
   *  ([[StagedBatchAppend.foldMarkers]]). */
  def foldMarkers(fs: FileSystem, storeRoot: HPath, writer: String): Unit = {
    val d = dir(storeRoot)
    if (!fs.exists(d)) return
    val names = fs.listStatus(d).toSeq.map(_.getPath.getName)
    val lowPat = s"^_bwm_${writer}_([0-9]+)$$".r
    val idPat = s"^_b_${writer}_([0-9]+)$$".r
    val oldLow = names.collect { case lowPat(n) => n.toLong }.maxOption.getOrElse(-1L)
    val ids = names.collect { case idPat(n) => n.toLong }.sorted
    var hi = oldLow
    ids.foreach { id => if (id <= hi + 1) hi = math.max(hi, id) }
    if (hi > oldLow) {
      val w = fs.create(watermarkFile(storeRoot, writer, hi), false); w.close()
      ids.filter(_ <= hi).foreach(id =>
        fs.delete(markerFile(storeRoot, writer, id), false))
      names.collect { case lowPat(n) => n.toLong }.filter(_ < hi).foreach(n =>
        fs.delete(watermarkFile(storeRoot, writer, n), false))
    }
  }

  /** (writer, id or watermark position) of a ledger file name. */
  def entryPos(name: String): Option[(String, Long)] = name match {
    case Low(w, n) => n.toLongOption.map((w, _))
    case Marker(w, id) => id.toLongOption.map((w, _))
    case _ => None
  }

  /** Load the ledger: (writer → explicit committed ids, writer → low
   *  watermark). Missing dir = empty ledger (everything plain).
   *
   *  With `pin` set, the predicate answers "was this batch committed at
   *  the pin's capture" — LOGICALLY, from the pin's per-writer position
   *  ([[AsOfPin.ledger]]): per-writer commit order is monotonic (the
   *  streaming path — the only producer of batch-tagged files — runs
   *  foreachBatch sequentially), so the committed set at any instant is
   *  exactly `id ≤ the position captured then`. No file time is
   *  consulted, so the answer is immune to server-assigned mtime
   *  granularity, rename-by-copy refreshes, AND to marker folds:
   *  [[foldMarkers]] replaces markers with a watermark, but a watermark
   *  at n still attests every `id ≤ n`, so `committedNow(id) ∧
   *  id ≤ pin` stays exact over any fold history. (The previous
   *  mtime-attested scheme had to FAIL LOUDLY when a fold postdated the
   *  pin; the logical position needs no such escape hatch.) */
  def read(fs: FileSystem, storeRoot: HPath,
      pin: Option[AsOfPin] = None): (String, Long) => Boolean = {
    val d = dir(storeRoot)
    if (!fs.exists(d)) return (_, _) => false
    val entries = fs.listStatus(d).toSeq
    val ids = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[Long]]
    val low = scala.collection.mutable.Map.empty[String, Long]
    entries.map(_.getPath.getName).foreach {
      case Low(w, n) => n.toLongOption.foreach(v => low(w) = math.max(low.getOrElse(w, -1L), v))
      case Marker(w, id) => id.toLongOption.foreach(ids.getOrElseUpdate(w,
        scala.collection.mutable.Set.empty) += _)
      case _ => ()
    }
    val committedNow: (String, Long) => Boolean =
      (w, id) => id <= low.getOrElse(w, -1L) || ids.get(w).exists(_.contains(id))
    pin match {
      case None => committedNow
      case Some(p) => (w, id) => committedNow(w, id) && id <= p.ledgerPos(w)
    }
  }
}

/**
 * Delta-style [[FileIndex]] over one tier of the store: lists the
 * (measurement, date) partition tree, resolves each partition through
 * [[SnapshotFold.resolve]], and hands Spark the pinned file list —
 * ONE scan node, partition pruning intact (partition filters are
 * evaluated here, before any file of a pruned partition is even
 * listed), and snapshot isolation for free because the resolution
 * happened at plan time.
 *
 * Scale shape: one listing per measurement directory + one per live
 * partition (+1 listing and 1 manifest read per commit of a versioned
 * partition — one commit once vacuumed) — the same RPC count Spark's
 * own InMemoryFileIndex pays to discover the tree, issued from the
 * driver. Pruned partitions cost their parent listing only.
 */
final class TierFileIndex(spark: SparkSession, tierRoot: HPath,
    asOf: Option[AsOfPin] = None,
    slice: Option[TierFileIndex.Slice] = None) extends FileIndex {

  private val fs: FileSystem =
    tierRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override val partitionSchema: StructType = new StructType()
    .add("measurement", StringType).add("date", DateType)

  override def rootPaths: Seq[HPath] = Seq(tierRoot)

  // (measurement, date-days, partition dir, resolved files) — resolved
  // ONCE at construction; `refresh` re-resolves. A new index per query
  // (TierStore.read constructs one) pins that query's snapshot.
  private var cached: Seq[(String, Int, HPath, Seq[FileStatus])] = list()

  private def list(): Seq[(String, Int, HPath, Seq[FileStatus])] = {
    if (!fs.exists(tierRoot)) return Nil
    // one ledger listing pins this index's batch visibility at plan time
    // (as-of pins resolve ledgered files by LOGICAL ledger position, not
    // by any refreshable mtime — see BatchLedger.read)
    val committed = BatchLedger.read(fs, tierRoot.getParent, asOf)
    // level-parallel discovery + per-partition resolution on the shared
    // bounded pool (Listing): a 100 TB tier holds ~10⁵ partitions, and
    // serializing one listStatus per partition on the driver would
    // dominate planning; the pool caps the fan-out store-wide
    // the LISTING slice (round 13): when the caller already knows the
    // measurement / date window (the planner always does), partitions
    // outside it are pruned BY NAME before their directory is ever
    // listed or their manifest read — a 1-hour query over a year of
    // 100 TB history lists one or two date directories, not the tier
    val mDirs = fs.listStatus(tierRoot).toSeq.filter { e =>
      e.isDirectory && e.getPath.getName.startsWith("measurement=") && {
        val m = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(e.getPath.getName.stripPrefix("measurement="))
        slice.forall(_.admitsMeasurement(m))
      }
    }
    val dated = Listing.listMany(fs, mDirs.map(_.getPath))
      .zip(mDirs).flatMap { case (children, mDir) =>
        // hive-style partition-dir escaping, same rule the writer applied
        val m = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .unescapePathName(mDir.getPath.getName.stripPrefix("measurement="))
        children.collect {
          case dDir if dDir.isDirectory &&
              dDir.getPath.getName.startsWith("date=") &&
              slice.forall(_.admitsDate(
                dDir.getPath.getName.stripPrefix("date="))) =>
            (m, dDir.getPath.getName.stripPrefix("date="), dDir.getPath)
        }
      }
    Listing.inParallel(dated) { case (m, d, dir) =>
      scala.util.Try(java.time.LocalDate.parse(d).toEpochDay.toInt).toOption
        .map { days =>
          val entries = fs.listStatus(dir).toSeq
          (m, days, dir,
            SnapshotFold.resolve(fs, dir, entries, committed, asOf))
        }
    }.flatten
  }

  /** First resolved data file (schema inference anchor). */
  def firstFile: Option[HPath] =
    cached.iterator.flatMap(_._4).map(_.getPath).nextOption()

  /** The pinned resolution this index serves: (measurement, date
   *  string, partition dir, resolved files). Compaction uses it to
   *  capture EXACTLY the file set its staging scan reads — the folded
   *  list its commit must record. */
  def resolvedPartitions: Seq[(String, String, HPath, Seq[FileStatus])] =
    cached.map { case (m, days, dir, files) =>
      (m, java.time.LocalDate.ofEpochDay(days.toLong).toString, dir, files)
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val pruned =
      if (partitionFilters.isEmpty) cached
      else {
        // bind by name against the partition schema — same shape as
        // Spark's own PartitioningAwareFileIndex.prunePartitions
        val predicate = Predicate.createInterpreted(
          partitionFilters.reduce(And).transform {
            case a: AttributeReference =>
              val idx = partitionSchema.fieldIndex(a.name)
              BoundReference(idx, partitionSchema(idx).dataType, nullable = true)
          })
        predicate.initialize(0)
        cached.filter { case (m, days, _, _) =>
          predicate.eval(InternalRow(UTF8String.fromString(m), days))
        }
      }
    pruned.map { case (m, days, _, files) =>
      PartitionDirectory(InternalRow(UTF8String.fromString(m), days), files.toArray)
    }
  }

  override def inputFiles: Array[String] =
    cached.flatMap(_._4).map(_.getPath.toString).toArray

  override def refresh(): Unit = { cached = list() }

  override def sizeInBytes: Long = cached.flatMap(_._4).map(_.getLen).sum
}

object TierFileIndex {

  /** A LISTING slice: the partitions a query can possibly touch, known
   *  before any directory is listed. `measurement` is exact;
   *  `fromDate`/`toDate` (yyyy-MM-dd, inclusive) bound the derived date
   *  partition — derive them with [[graft.query.Planner.dateWindow]] so
   *  the slice and the scan's partition-filter predicate can never
   *  disagree. A partition OUTSIDE the slice is pruned by NAME — its
   *  directory is never listed, its manifests never read. */
  final case class Slice(measurement: Option[String],
      fromDate: Option[String], toDate: Option[String]) {
    def admitsMeasurement(m: String): Boolean = measurement.forall(_ == m)
    /** Date dirs are yyyy-MM-dd, so STRING comparison is date order —
     *  malformed names are admitted (then dropped by the date parse in
     *  the main listing, exactly as before). */
    def admitsDate(d: String): Boolean =
      d.length != 10 ||
        (fromDate.forall(_ <= d) && toDate.forall(d <= _))
  }
}
