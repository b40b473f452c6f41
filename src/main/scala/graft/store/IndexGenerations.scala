package graft.store

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/**
 * GENERATION markers for atomic whole-index rebuilds — the shared core
 * behind [[graft.functions.Similarity.rebuildIvfIndex]] (centroid
 * retrain) and [[graft.functions.Dedup.rebuildMinhashIndex]] (banding
 * parameter migration). A rebuild writes its complete table set into
 * `_gen_G/` (underscore-invisible while being built) and commits by
 * the atomic appearance of the small ok-terminated `_commit_gen_G`
 * marker; readers resolve the largest committed generation ONCE at
 * plan time — mid-rebuild they serve the complete old generation,
 * after the marker the complete new one, never a mixture, with no
 * reader quiesce. Generation 0 is the legacy layout at the index root
 * itself (no marker). The batch ledger stays at the stable root
 * across generations (see [[StagedBatchAppend.append]]'s
 * `ledgerRoot`), and vacuumed generations raise the root `_floor`
 * ([[SnapshotFold]]'s record) so as-of pins older than the surviving
 * history fail loudly.
 */
object IndexGenerations {

  private val Marker = "^_commit_gen_([0-9]+)$".r

  def markerPath(path: String, g: Long): HPath =
    new HPath(s"$path/_commit_gen_$g")

  private def complete(fs: FileSystem, p: HPath): Boolean = {
    val text = try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    } catch { case _: java.io.FileNotFoundException => return false }
    text.endsWith("ok\n")
  }

  /** The committed generation number a root-listing entry attests:
   *  a completely-visible (`ok`-terminated) generation marker. The
   *  [[AsOfPin.capture]] hook for the generation sequence. */
  def committedGeneration(fs: FileSystem, e: org.apache.hadoop.fs.FileStatus): Option[Long] =
    e.getPath.getName match {
      case Marker(g) if complete(fs, e.getPath) => Some(g.toLong)
      case _ => None
    }

  /**
   * The root dir of the generation a reader (at `pin`, or now) must
   * serve: the largest committed generation, capped at the pin's
   * LOGICAL generation position ([[AsOfPin.genKey]]) when pinned, or
   * the legacy root. LOUD when the pinned generation's history is
   * gone: pins at or below the vacuum `_floor` (the newest reclaimed
   * generation), or whose generation's `presenceDir` was reclaimed,
   * throw instead of silently serving a stale or empty corpus.
   */
  def currentRoot(fs: FileSystem, path: String, presenceDir: String,
      pin: Option[AsOfPin] = None): String = {
    val rootP = new HPath(path)
    if (!fs.exists(rootP)) return path
    val pinG = pin.map(_.seqPos(AsOfPin.genKey(fs, path)))
    pinG.foreach { g =>
      val fl = SnapshotFold.readFloor(fs, rootP).version
      if (fl >= 1 && g <= fl) throw new IllegalStateException(
        s"as-of pin (generation $g) predates the index's vacuumed-" +
          s"generation floor $fl ($path) — re-pin, or rebuild with " +
          "retainOld and vacuum only after no live pin needs the old " +
          "generation")
    }
    val admitted = fs.listStatus(rootP).toSeq.flatMap { e =>
      committedGeneration(fs, e).filter(g => pinG.forall(g <= _))
    }
    val root = admitted.maxOption match {
      case Some(g) => s"$path/_gen_$g"
      case None => path
    }
    if (pin.isDefined && !fs.exists(new HPath(s"$root/$presenceDir")))
      throw new IllegalStateException(
        s"as-of pin predates the vacuum of generation root $root — re-pin, " +
          "or rebuild with retainOld")
    root
  }

  /** The generation number to build next (one past the largest marker,
   *  committed or not — an orphan crashed attempt's number is reused
   *  only after its dir is deleted, which [[publish]] does). */
  def nextGeneration(fs: FileSystem, path: String, currentRoot: String): Long =
    (if (currentRoot == path) 0L
    else currentRoot.substring(currentRoot.lastIndexOf("_gen_") + 5).toLong) + 1L

  /** Test seam at the swap's phase boundaries ("gen_staged",
   *  "gen_committed") — the [[SnapshotFold.hook]] idiom. */
  private[graft] var hook: String => Unit = _ => ()

  /**
   * Publish a fully-staged generation: rename `stagingDir` to
   * `_gen_G` (invisible target), then commit the marker atomically
   * (staged hidden + renamed, ok-terminated).
   */
  def publish(fs: FileSystem, path: String, g: Long, stagingDir: String): Unit = {
    val genDir = new HPath(s"$path/_gen_$g")
    fs.delete(genDir, true) // an earlier crashed attempt at this number
    require(fs.rename(new HPath(stagingDir), genDir),
      s"generation publish: $stagingDir -> $genDir failed")
    hook("gen_staged")
    val staged = new HPath(s"$path/._commit_gen_staging_$g")
    val out = fs.create(staged, true)
    try out.write(s"generation=$g\nok\n".getBytes("UTF-8"))
    finally out.close()
    require(fs.rename(staged, markerPath(path, g)) ||
      fs.exists(markerPath(path, g)),
      s"generation commit failed for $path generation $g")
    hook("gen_committed")
  }

  /**
   * Drop every generation OLDER than `keepRoot` (plus the legacy
   * `legacyDirs` at the root), raising the root `_floor` to the newest
   * reclaimed GENERATION NUMBER first — a crash between the two leaves
   * a loud floor and a harmless surviving marker, never a silent
   * partial pin. (Reclaiming only the legacy layout — generation 0,
   * which has no marker — floors at `keepG - 1` so legacy pins, whose
   * generation position is -1, fail loudly too.)
   */
  def vacuumOld(fs: FileSystem, path: String, keepRoot: String,
      legacyDirs: Seq[String]): Unit = {
    val rootP = new HPath(path)
    if (!fs.exists(rootP) || keepRoot == path) return // legacy current
    val keepG = keepRoot.substring(keepRoot.lastIndexOf("_gen_") + 5).toLong
    val olderMarkers = fs.listStatus(rootP).toSeq.flatMap { e =>
      e.getPath.getName match {
        case Marker(g) if g.toLong < keepG => Some((g.toLong, e))
        case _ => None
      }
    }
    val legacyPresent = legacyDirs.exists(d => fs.exists(new HPath(s"$path/$d")))
    if (olderMarkers.isEmpty && !legacyPresent) return
    val newestReclaimed =
      olderMarkers.map(_._1).maxOption.getOrElse(keepG - 1)
    SnapshotFold.raiseFloor(fs, rootP, newestReclaimed)
    olderMarkers.foreach { case (g, e) =>
      fs.delete(new HPath(s"$path/_gen_$g"), true)
      fs.delete(e.getPath, false): Unit
    }
    legacyDirs.foreach(d => fs.delete(new HPath(s"$path/$d"), true): Unit)
  }
}
