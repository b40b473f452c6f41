package graft.store

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/**
 * The store's one SNAPSHOT PROTOCOL: reader-atomic publication of
 * rewritten files into an append-mostly parquet directory, safe on
 * object stores WITHOUT atomic rename. It serves the tier store's
 * (measurement, date) partitions ([[TierStore.compact]],
 * [[TierStore.deleteWhere]], [[TierStore.replaceDatePartitions]], read
 * through [[TierFileIndex]]) and the streamed index tables
 * ([[graft.functions.Similarity]] IVF lists, [[graft.functions.Dedup]]
 * MinHash buckets/shingles, the BM25 tables), so maintenance runs
 * under LIVE readers without quiescing them.
 *
 * Layout of one directory (a tier partition `date=D`, an index table
 * dir, or one `list_id=N` partition of the IVF index; names from
 * [[TierLayout]]):
 *
 *   part-*.parquet / b-<writer>-<id>-*   raw appends (plain, or batch-
 *                                        tagged by [[StagedBatchAppend]])
 *   _v=N/part-*.parquet                  version N's rewritten files
 *   _commit_N                            manifest: the relative paths
 *                                        version N superseded (`folded:`
 *                                        lines + `ok` terminator —
 *                                        [[TierLayout.commit]])
 *   _floor                               newest RETIRED version (or
 *                                        generation, at an index root),
 *                                        plus the lowest batch id per
 *                                        writer and plain-file mtime
 *                                        of the raw files vacuum
 *                                        deleted ([[Floor]])
 *
 * One resolution rule, the union of manifests (Delta Lake's): the live
 * file set is every committed version's members plus the raw appends,
 * minus everything any committed manifest lists as folded. A publish
 * lists exactly what it supersedes, so the rule serves both fold
 * shapes: an index fold is SELECTIVE (it rewrites only the small files,
 * and a later fold may fold an earlier version's output by its
 * `_v=K/name` relpath, LSM-style), while a tier compaction, erasure or
 * rollup replacement folds its partition's WHOLE live set — raw names
 * and `_v=K/name` members alike — so the newest version is all that
 * survives of what came before. Invariants:
 *
 *  - `_`-prefixed entries are invisible to plain listings, so fold
 *    output is staged INTO the directory (one rename of an invisible
 *    target, or even a file-by-file copy) without readers observing it;
 *  - the commit is the atomic appearance of the small `_commit_N`
 *    manifest (staged hidden + renamed — one PUT on S3A); a marker
 *    visible without its `ok` terminator is not a commit yet;
 *  - a reader resolves against the commits visible at ITS plan time:
 *    before the marker it sees the complete pre-fold file set, after it
 *    the complete post-fold set, never a mixture — the hammering-reader
 *    contract `StorePublishSpec` pins;
 *  - vacuum runs only after the commit is visible, deletes only what
 *    some manifest folded, and never touches un-folded appends — so
 *    appends racing a fold survive untouched.
 *
 * AS-OF pins ([[AsOfPin]]) resolve through the same records,
 * LOGICALLY: a commit is admitted when its version ≤ the pin's
 * recorded position for this directory; raw ledgered appends resolve
 * through the pin's per-writer ledger positions; only a plain foreign
 * file falls back to the pin's capture-time mtime. Pins are LOUD past
 * reclaimed history: when the pinned version's marker is gone, or a
 * commit NEWER than the pin folded files the pinned view needs and
 * vacuum already deleted them, resolution throws instead of silently
 * serving a partial file set. Once vacuum retires the markers
 * themselves, the `_floor` record keeps pins loud: a pin at or below the
 * newest retired version throws at entry, and a pin older than every
 * commit throws only when it covers a raw file vacuum deleted — the
 * [[BatchLedger]] contract, extended to snapshots.
 *
 * Concurrency contract: any number of READERS at any time; ledgered
 * appends ([[StagedBatchAppend]]) may land DURING a fold (their files
 * are not fold candidates until their ledger marker exists, and the
 * manifest never lists them); folds themselves are single-maintainer
 * per directory (two concurrent folds could collide on a version
 * number).
 */
object SnapshotFold {

  /** Test seam at the fold's phase boundaries ("staged" = version dir
   *  in place, no marker yet; "committed" = marker visible, vacuum not
   *  yet run) of publishes that pass no `phases` of their own — the
   *  [[TierStore.batchHook]] idiom. */
  private[graft] var hook: String => Unit = _ => ()

  /** Like [[hook]] but with the PUBLISHED DIR — lets a crash test pick
   *  a specific table's publish inside a multi-table pass (e.g. "crash
   *  before the BM25 stats correction commits"). */
  private[graft] var dirHook: (String, HPath) => Unit = (_, _) => ()

  /** A planned fold of one directory: `version` is the commit number to
   *  publish, `candidates` the live files it will rewrite, `foldedRels`
   *  their dir-relative paths (the manifest content). */
  final case class Plan(dir: HPath, version: Long,
      candidates: Seq[FileStatus], foldedRels: Seq[String])

  private def versionOfDir(name: String): Option[Long] =
    if (name.startsWith("_v=")) name.stripPrefix("_v=").toLongOption else None

  private[store] def floorFile(dir: HPath) = new HPath(dir, "_floor")

  /** The `_floor` record of a directory: `version` is the newest RETIRED
   *  version (or generation, at an index root); `ledgerLow` and
   *  `plainLow` are the lowest batch id per writer and the lowest mtime
   *  of the plain files among the raw files vacuum deleted. A pin older
   *  than every commit of the directory reads raw files only, so it
   *  needs a reclaimed one exactly when it covers the lowest of them. */
  private[graft] final case class Floor(version: Long = 0L,
      ledgerLow: Map[String, Long] = Map.empty, plainLow: Option[Long] = None) {
    def coversReclaimedRaw(pin: AsOfPin): Boolean =
      ledgerLow.exists { case (w, id) => id <= pin.ledgerPos(w) } ||
        plainLow.exists(_ <= pin.millis)

    /** This record, also covering the raw `files` vacuum deletes. */
    def reclaiming(files: Seq[FileStatus]): Floor = files.foldLeft(this) { (fl, f) =>
      TierLayout.batchIdOf(f.getPath.getName) match {
        case Some((w, id)) => fl.copy(ledgerLow =
          fl.ledgerLow.updated(w, fl.ledgerLow.get(w).fold(id)(math.min(_, id))))
        case None => fl.copy(plainLow = Some(
          fl.plainLow.fold(f.getModificationTime)(math.min(_, f.getModificationTime))))
      }
    }

    def text: String = s"$version\n" +
      ledgerLow.toSeq.sorted.map { case (w, id) => s"ledger:$w:$id\n" }.mkString +
      plainLow.map(t => s"plain:$t\n").getOrElse("")
  }

  /** Shared with the index-generation swap ([[graft.functions
   *  .Similarity.rebuildIvfIndex]]), which keeps the same loud-pin
   *  floor record at the index ROOT for vacuumed generations. */
  private[graft] def readFloor(fs: FileSystem, dir: HPath): Floor = {
    val text = try {
      val in = fs.open(floorFile(dir))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: java.io.FileNotFoundException => return Floor() }
    val lines = text.linesIterator.toSeq
    Floor(lines.headOption.flatMap(_.trim.toLongOption).getOrElse(0L),
      lines.collect { case l if l.startsWith("ledger:") =>
        val i = l.lastIndexOf(':')
        (l.substring("ledger:".length, i), l.substring(i + 1).toLong)
      }.toMap,
      lines.collectFirst { case l if l.startsWith("plain:") =>
        l.stripPrefix("plain:").toLong })
  }

  private def writeFloor(fs: FileSystem, dir: HPath, fl: Floor): Unit = {
    val staged = new HPath(dir, "._floor_staging")
    val out = fs.create(staged, true)
    try out.write(fl.text.getBytes("UTF-8")) finally out.close()
    fs.delete(floorFile(dir), false)
    require(fs.rename(staged, floorFile(dir)), s"floor publish failed: $dir")
  }

  private[graft] def raiseFloor(fs: FileSystem, dir: HPath, t: Long): Unit = {
    val cur = readFloor(fs, dir)
    if (t > cur.version) writeFloor(fs, dir, cur.copy(version = t))
  }

  /** The committed state of `dir`, from its own listing: every commit
   *  whose manifest is completely visible — (version, marker status,
   *  folded relpaths), ascending. One manifest read per marker; readers,
   *  planners, pins ([[AsOfPin.capture]]) and vacuum all start here. */
  private[store] def commits(fs: FileSystem, dir: HPath,
      entries: Seq[FileStatus]): Seq[(Long, FileStatus, Set[String])] =
    entries.flatMap { e =>
      TierLayout.parseCommit(e.getPath.getName)
        .flatMap(v => TierLayout.readManifest(fs, dir, v).map(m => (v, e, m)))
    }.sortBy(_._1)

  /** The data files of `versions`' snapshot dirs plus the raw entries
   *  `admitRaw` accepts, each with its dir-relative path (the manifest
   *  vocabulary). */
  private def members(fs: FileSystem, dir: HPath, entries: Seq[FileStatus],
      versions: Seq[Long],
      admitRaw: FileStatus => Boolean): Seq[(String, FileStatus)] = {
    val snap = versions.flatMap { v =>
      val vd = TierLayout.versionDir(dir, v)
      if (!fs.exists(vd)) Nil
      else fs.listStatus(vd).toSeq.filter(TierLayout.isDataFile)
        .map(f => (s"${vd.getName}/${f.getPath.getName}", f))
    }
    snap ++ entries.filter(f => TierLayout.isDataFile(f) && admitRaw(f))
      .map(f => (f.getPath.getName, f))
  }

  /** [[resolve]] over a fresh listing of `dir` (none when it is absent). */
  def resolve(fs: FileSystem, dir: HPath,
      batchCommitted: (String, Long) => Boolean = (_, _) => true,
      pin: Option[AsOfPin] = None): Seq[FileStatus] =
    if (!fs.exists(dir)) Nil
    else resolve(fs, dir, fs.listStatus(dir).toSeq, batchCommitted, pin)

  /**
   * Resolve `dir` to the exact data files a reader must scan — the
   * committed versions' members plus admitted raw appends, minus
   * everything any admitted manifest folded. `entries` is the
   * directory's own listing, reused so an unversioned directory costs
   * no further round trip (a directory with one commit pays one
   * manifest read and one snapshot-dir listing). A batch-tagged append
   * is data only once its ledger batch is committed (`batchCommitted`),
   * so an uncommitted batch is invisible — and never folded or vacuumed
   * by maintenance either.
   *
   * With `pin`, the set as it was at the pin's capture — committed
   * versions admitted by the pin's LOGICAL position for this directory
   * ([[AsOfPin.seqs]]), ledgered appends by the pin's ledger positions
   * (the caller passes a pin-aware `batchCommitted`, see
   * [[BatchLedger.read]]), plain foreign files by the pin's capture-time
   * mtime — or IllegalStateException when vacuumed history makes that
   * set unrecoverable.
   */
  def resolve(fs: FileSystem, dir: HPath, entries: Seq[FileStatus],
      batchCommitted: (String, Long) => Boolean,
      pin: Option[AsOfPin]): Seq[FileStatus] = {
    val pinV = pin.map(_.seqPos(AsOfPin.dirKey(fs, dir)))
    pin.zip(pinV).foreach { case (p, pv) =>
      val fl = readFloor(fs, dir)
      // the floor's version is the newest RETIRED commit: everything it
      // recorded is reclaimed, so a pin at or below it cannot resolve
      // exactly; nor can a pin whose own marker is gone. A pin older
      // than every commit (-1) reads only raw files: it fails only when
      // vacuum deleted one it covers
      val lost =
        if (pv < 0) fl.coversReclaimedRaw(p)
        else pv <= fl.version ||
          !entries.exists(e => TierLayout.parseCommit(e.getPath.getName).contains(pv))
      if (lost) throw new IllegalStateException(
        s"as-of pin (version $pv) predates the vacuumed history of $dir " +
          s"(floor ${fl.version}) — re-pin, or fold with retainHistory " +
          "and vacuum only after no live pin needs the old snapshots")
    }
    val all = commits(fs, dir, entries)
    val admitted = all.filter { case (v, _, _) => pinV.forall(v <= _) }
    val folded: Set[String] = admitted.flatMap(_._3).toSet
    // pin exactness: a commit NEWER than the pin superseded files the
    // pinned view still needs; if vacuum already deleted any of them the
    // pin cannot resolve — fail loudly, never partially. The pinned view
    // holds no member of a version above the pin, and no ledgered file
    // the pin does not cover (it landed after capture); a plain name
    // cannot be dated without the file
    pinV.foreach { pv =>
      all.filter(_._1 > pv).foreach { case (v, _, m) =>
        (m -- folded).foreach { rel =>
          val needed = rel.split('/') match {
            case Array(vd, _) => versionOfDir(vd).forall(_ <= pv)
            case _ => TierLayout.batchIdOf(rel) match {
              case Some((w, id)) => batchCommitted(w, id)
              case None => true
            }
          }
          if (needed && !fs.exists(new HPath(dir, rel)))
            throw new IllegalStateException(
              s"as-of pin predates the vacuum of $dir/$rel (folded by " +
                s"_commit_$v) — re-pin, or fold with retainHistory and " +
                "vacuum only after no live pin needs the history")
        }
      }
    }
    members(fs, dir, entries, admitted.map(_._1), f =>
      TierLayout.batchIdOf(f.getPath.getName) match {
        case Some((w, id)) => batchCommitted(w, id)
        case None => pin.forall(f.getModificationTime <= _.millis)
      }).collect { case (rel, f) if !folded(rel) => f }
  }

  /** Retained history of `dir`: the committed files still on disk that
   *  no current read resolves — superseded snapshot members and folded
   *  raw appends, kept for [[AsOfPin]] reads by `retainHistory` (or
   *  left by a vacuum that has not run yet). */
  def history(fs: FileSystem, dir: HPath,
      entries: Seq[FileStatus]): Seq[FileStatus] = {
    val all = commits(fs, dir, entries)
    val folded = all.flatMap(_._3).toSet
    // only a LATER commit can fold a version's members, so the newest
    // commit's snapshot dir holds no history and is not listed
    if (folded.isEmpty) Nil
    else members(fs, dir, entries, all.map(_._1).dropRight(1), _ => true)
      .collect { case (rel, f) if folded(rel) => f }
  }

  /**
   * Plan a selective fold: the currently-live files under
   * `targetFileBytes`, when at least `minFiles` of them accumulated
   * (the [[TierStore.compact]] gate). MAINTAINER-ONLY — also discards
   * orphan version dirs (a fold that crashed before its commit marker;
   * invisible to readers, but their numbers must not be reused around
   * stale content).
   */
  def plan(fs: FileSystem, dir: HPath, targetFileBytes: Long,
      minFiles: Int,
      batchCommitted: (String, Long) => Boolean = (_, _) => true): Option[Plan] = {
    if (!fs.exists(dir)) return None
    // sweep crashed-fold orphans BEFORE the minFiles gate: a dir that
    // never re-qualifies for folding must still reclaim the garbage a
    // crashed pre-commit fold left (invisible to readers, but disk)
    val entries = fs.listStatus(dir).toSeq
    sweepOrphans(fs, entries, markerVersions(entries), Long.MaxValue): Unit
    val live = resolve(fs, dir, batchCommitted)
    val smalls = live.filter(_.getLen < targetFileBytes)
    if (smalls.length < minFiles) None
    else planFiles(fs, dir, smalls)
  }

  /** The versions a listing holds `_commit_N` marker NAMES for (valid or
   *  not: an in-flight marker still reserves its number). */
  private def markerVersions(entries: Seq[FileStatus]): Set[Long] =
    entries.flatMap(e => TierLayout.parseCommit(e.getPath.getName)).toSet

  /** Delete what crashed publishes left among `entries`: the marker and
   *  `_v=` dir of every version below `below` that `keep` rejects — a
   *  fold that crashed before its commit, or whose marker never got its
   *  `ok` terminator. Both are invisible to readers, but their numbers
   *  must not be reused around stale content. Returns the names of the
   *  entries deleted. */
  private def sweepOrphans(fs: FileSystem, entries: Seq[FileStatus],
      keep: Long => Boolean, below: Long): Set[String] =
    entries.filter { e =>
      val n = e.getPath.getName
      TierLayout.parseCommit(n).orElse(versionOfDir(n).filter(_ => e.isDirectory))
        .exists(v => v < below && !keep(v))
    }.filter(e => fs.delete(e.getPath, true)).map(_.getPath.getName).toSet

  /**
   * Plan a fold of an EXPLICIT candidate set — the erasure path: the
   * candidates are the files known to carry matching rows, regardless
   * of size or count. None when there is nothing to fold. Same
   * orphan-dir cleanup and version numbering as [[planVersion]].
   * Candidates must be currently-live files of `dir` (from [[resolve]]).
   */
  def planFiles(fs: FileSystem, dir: HPath,
      candidates: Seq[FileStatus]): Option[Plan] =
    if (candidates.isEmpty || !fs.exists(dir)) None
    else Some(planVersion(fs, dir, candidates))

  /**
   * Plan the next version of the existing directory `dir`, superseding
   * exactly `candidates` (currently-live files, from [[resolve]]) —
   * possibly none: a replacement into a fresh directory folds nothing.
   * The version is one above every marker NAME and every `_v=` dir, so
   * neither an in-flight marker's number nor a crashed publish's orphan
   * dir is ever reused; the orphans themselves (invisible to readers)
   * are deleted here. MAINTAINER-ONLY.
   */
  def planVersion(fs: FileSystem, dir: HPath,
      candidates: Seq[FileStatus]): Plan = {
    val entries = fs.listStatus(dir).toSeq
    val named = markerVersions(entries)
    sweepOrphans(fs, entries, named, Long.MaxValue): Unit
    val dirQ = fs.makeQualified(dir).toString
    val rels = candidates.map { f =>
      val rel = fs.makeQualified(f.getPath).toString
        .stripPrefix(dirQ).stripPrefix("/")
      require(rel.nonEmpty && !rel.startsWith("/"), s"bad relpath for $f")
      rel
    }
    val v = (named ++ entries.filter(_.isDirectory)
      .flatMap(e => versionOfDir(e.getPath.getName))).maxOption.getOrElse(0L) + 1
    Plan(dir, v, candidates, rels)
  }

  /**
   * Publish one planned fold whose rewritten output sits in
   * `stagedDir` (an empty dir commits an EMPTY snapshot): move it to
   * `_v=<version>` (invisible), then commit the manifest. Readers
   * racing this see the pre-fold set until the marker's atomic
   * appearance, the post-fold set after. `phases` receives "staged"
   * (version dir in place, no marker yet) and "committed" with the dir
   * (the crash-injection seam; default [[hook]] and [[dirHook]]).
   */
  def publish(fs: FileSystem, dir: HPath, version: Long, stagedDir: HPath,
      foldedRels: Seq[String],
      phases: (String, HPath) => Unit = (p, d) => { hook(p); dirHook(p, d) }): Unit = {
    val vd = TierLayout.versionDir(dir, version)
    fs.delete(vd, true)
    require(fs.rename(stagedDir, vd), s"fold publish: $stagedDir -> $vd failed")
    phases("staged", dir)
    TierLayout.commit(fs, dir, version, foldedRels)
    phases("committed", dir)
  }

  /** What [[vacuumLeft]] left of a directory: the versions whose commits
   *  survive, the snapshot dirs and markers still on disk, and whether
   *  any data file (a raw file or a snapshot member) survives. */
  final case class Vacuumed(versions: Seq[Long], meta: Seq[HPath],
      hasData: Boolean)

  /**
   * Reclaim superseded history: every file some committed manifest
   * folded, version dirs left with no live members, and commit markers
   * whose whole fold has been reclaimed (raising `_floor` so as-of pins
   * older than the reclaimed record fail loudly instead of resolving
   * partially). Below the newest valid commit it also drops what
   * crashed publishes left: a half-visible marker (no `ok` terminator)
   * and a `_v=` dir that never got its marker — both superseded, never
   * to become a commit; at or above it nothing of the kind is touched,
   * since that may be a commit still in flight. Safe after any commit;
   * DESTROYS as-of history — a deployment that pins runs folds with
   * `retainHistory` and calls this only once no live pin needs the old
   * snapshots (the [[TierStore.vacuumTier]] separation).
   */
  def vacuumDir(fs: FileSystem, dir: HPath): Unit = vacuumLeft(fs, dir): Unit

  /** [[vacuumDir]], returning what it left — the tier store's retired-
   *  partition cleanup needs it, and it is already in hand. */
  private[store] def vacuumLeft(fs: FileSystem, dir: HPath): Vacuumed = {
    if (!fs.exists(dir)) return Vacuumed(Nil, Nil, hasData = false)
    val entries = fs.listStatus(dir).toSeq
    // orphan of a commit that crashed before its marker rename —
    // invisible to readers, reclaimed here
    entries.filter(_.getPath.getName.startsWith("._commit_staging_"))
      .foreach(e => fs.delete(e.getPath, false): Unit)
    val all = commits(fs, dir, entries)
    val raw = entries.filter(TierLayout.isDataFile)
    val meta = entries.filter { e =>
      val n = e.getPath.getName
      TierLayout.parseCommit(n).orElse(versionOfDir(n)).isDefined
    }
    if (all.isEmpty) return Vacuumed(Nil, meta.map(_.getPath), raw.nonEmpty)
    val maxV = all.last._1
    val removed = scala.collection.mutable.Set.empty[String] ++=
      sweepOrphans(fs, entries, all.map(_._1).toSet, maxV)
    val foldedU: Set[String] = all.flatMap(_._3).toSet
    val (rawGone, rawKept) = raw.partition(f => foldedU(f.getPath.getName))
    // record the folded raw files BEFORE deleting them: once the commits
    // that folded them retire, the floor is what keeps a pin older than
    // every commit loud when it covered one of them
    if (rawGone.nonEmpty) {
      val fl = readFloor(fs, dir)
      val next = fl.reclaiming(rawGone)
      if (next != fl) writeFloor(fs, dir, next)
    }
    // a folded file whose delete fails stays on disk: every commit that
    // folded it keeps its manifest, or the file would be read again
    val stuck = scala.collection.mutable.Set.empty[String]
    def drop(rel: String, f: FileStatus): Unit =
      if (!fs.delete(f.getPath, false)) stuck += rel
    rawGone.foreach(f => drop(f.getPath.getName, f))
    // folded snapshot members; fully-superseded version dirs (None)
    val left = all.map { case (v, _, _) =>
      val vd = TierLayout.versionDir(dir, v)
      if (!fs.exists(vd)) None
      else {
        val (gone, kept) = fs.listStatus(vd).toSeq.filter(TierLayout.isDataFile)
          .partition(f => foldedU(s"${vd.getName}/${f.getPath.getName}"))
        gone.foreach(f => drop(s"${vd.getName}/${f.getPath.getName}", f))
        if (v < maxV && kept.isEmpty && fs.delete(vd, true)) {
          removed += vd.getName; None
        } else Some(kept)
      }
    }
    // marker retirement: everything a commit recorded is reclaimed once
    // its own version dir is gone and none of its folded files is stuck
    // — raise the floor FIRST (a crash between the two leaves a loud
    // floor and a harmless surviving marker, never a silent partial pin)
    val retired = all.zip(left).collect {
      case ((v, e, m), None) if v < maxV && !m.exists(stuck) => (v, e)
    }
    if (retired.nonEmpty) {
      raiseFloor(fs, dir, retired.last._1) // the newest RETIRED version
      retired.foreach { case (_, e) =>
        if (fs.delete(e.getPath, false)) removed += e.getPath.getName }
    }
    Vacuumed(all.collect { case (v, e, _) if !removed(e.getPath.getName) => v },
      meta.map(_.getPath).filterNot(p => removed(p.getName)),
      rawKept.nonEmpty || stuck.nonEmpty || left.exists(_.exists(_.nonEmpty)))
  }

  // ---------------------------------------------------------------- //

  /** A [[FileIndex]] serving an ALREADY-RESOLVED file set — the
   *  reader-side half of the protocol: resolution happened at plan
   *  time on the driver (snapshot isolation for free), Spark gets one
   *  FileSourceScan over exactly the pinned files, and no hive-style
   *  path inference ever sees the `_v=N` segments (which it would
   *  misparse as a partition column). Partition pruning, when the
   *  caller has partition values, happens at RESOLUTION time — pruned
   *  directories are never even listed. */
  final class PinnedFileIndex(spark: SparkSession,
      override val partitionSchema: StructType,
      parts: Seq[(InternalRow, Seq[FileStatus])],
      roots: Seq[HPath]) extends FileIndex {
    override def rootPaths: Seq[HPath] = roots
    override def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      parts.map { case (row, files) => PartitionDirectory(row, files.toArray) }
    override def inputFiles: Array[String] =
      parts.flatMap(_._2).map(_.getPath.toString).toArray
    override def refresh(): Unit = ()
    override def sizeInBytes: Long = parts.flatMap(_._2).map(_.getLen).sum
  }

  /** DataFrame over pre-resolved files (the [[TierStore]] indexedRead
   *  construction): data schema from one footer, partition columns
   *  appended last. None when no files resolved — the caller supplies
   *  its schema-correct empty frame. */
  def dataFrame(spark: SparkSession, partitionSchema: StructType,
      parts: Seq[(InternalRow, Seq[FileStatus])],
      roots: Seq[HPath]): Option[DataFrame] =
    parts.iterator.flatMap(_._2).map(_.getPath).nextOption().map { first =>
      val dataSchema = spark.read.parquet(first.toString).schema
      val relation = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        new PinnedFileIndex(spark, partitionSchema, parts, roots),
        partitionSchema, dataSchema, None,
        new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
        Map.empty[String, String])(spark)
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .baseRelationToDataFrame(relation)
    }
}
