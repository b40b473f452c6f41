package graft.store

import java.net.{URLDecoder, URLEncoder}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/**
 * LOGICAL as-of pin: a position in each of a store's monotonic commit
 * sequences, captured from the store's own records.
 *
 *  - `ledger` — per-writer highest COMMITTED batch id ([[BatchLedger]]
 *    markers/watermarks). Per-writer commit order is monotonic, so
 *    "id ≤ position" is exactly the set committed at capture.
 *  - `seqs`   — per-directory highest committed snapshot version
 *    (the `_commit_N` markers of [[SnapshotFold]], which tier
 *    partitions and index directories share) and per-index highest
 *    committed generation ([[IndexGenerations]], keyed `<path>#gen`),
 *    keyed by the fs-qualified directory path.
 *  - `millis` — the max storage-reported mtime observed at capture.
 *    DISPLAY and FOREIGN-FILE FALLBACK ONLY: every file the engine
 *    itself writes is either batch-tagged (ledger-resolved) or inside
 *    a versioned snapshot (seq-resolved); only an unledgered plain
 *    file dropped into a partition by an outside writer is admitted
 *    by mtime.
 *
 * Why not a wall-clock pin: object stores report second-granularity,
 * server-assigned, rename-refreshed mtimes — two commits inside one
 * tick are indistinguishable by time, and an as-of read pinned between
 * them could nondeterministically include the later one. The logical
 * sequences are exact regardless of clock behavior, and ledger-marker
 * FOLDS ([[BatchLedger.foldMarkers]]) no longer invalidate old pins:
 * a watermark attests `id ≤ n committed`, and `id ≤ pin.ledger(w)`
 * stays answerable from it.
 *
 * The reference pins nothing (its InfluxDB backend answers only the
 * current state, influxdb_v1.go:87-95); this is the reproducible-read
 * extension the training-pipeline surface needs.
 */
final case class AsOfPin(ledger: Map[String, Long], seqs: Map[String, Long],
    millis: Long) {

  /** Position in a writer's batch-id sequence (-1 = none committed). */
  def ledgerPos(writer: String): Long = ledger.getOrElse(writer, -1L)

  /** Position in a directory's snapshot-version / generation sequence
   *  (-1 = none committed at capture). */
  def seqPos(key: String): Long = seqs.getOrElse(key, -1L)

  /** Compact single-line wire form (API payloads, run-pin manifests):
   *  `m=<millis>;l=<w>:<id>,...;s=<urlenc(key)>:<v>,...` with keys
   *  sorted for a canonical rendering. */
  def encoded: String = {
    def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    val l = ledger.toSeq.sortBy(_._1).map { case (w, id) => s"${enc(w)}:$id" }
    val s = seqs.toSeq.sortBy(_._1).map { case (k, v) => s"${enc(k)}:$v" }
    s"m=$millis;l=${l.mkString(",")};s=${s.mkString(",")}"
  }
}

object AsOfPin {

  /** The `seqs` key of a snapshot-versioned directory — BOTH capture
   *  and resolution must derive it the same way, so it is the
   *  fs-qualified path (scheme + authority normalized). */
  def dirKey(fs: FileSystem, dir: HPath): String =
    fs.makeQualified(dir).toString

  /** The `seqs` key of an index's generation sequence. */
  def genKey(fs: FileSystem, path: String): String =
    dirKey(fs, new HPath(path)) + "#gen"

  def decode(s: String): AsOfPin = {
    def dec(x: String) = URLDecoder.decode(x, "UTF-8")
    def pairs(body: String): Seq[(String, Long)] =
      if (body.isEmpty) Nil
      else body.split(",").toSeq.map { kv =>
        val i = kv.lastIndexOf(':')
        require(i > 0, s"malformed as-of pin entry: $kv")
        (dec(kv.substring(0, i)), kv.substring(i + 1).toLong)
      }
    val fields = s.split(";", -1).map { f =>
      val i = f.indexOf('=')
      require(i > 0, s"malformed as-of pin field: $f")
      (f.substring(0, i), f.substring(i + 1))
    }.toMap
    AsOfPin(
      ledger = pairs(fields.getOrElse("l", "")).toMap,
      seqs = pairs(fields.getOrElse("s", "")).toMap,
      millis = fields.getOrElse("m", "0").toLong)
  }

  /**
   * Capture the pin of one store/index rooted at `root`:
   *
   *  - the [[BatchLedger]] at `root/_batches` contributes per-writer
   *    positions;
   *  - `genPath`, when set, contributes the generation position of
   *    that index root;
   *  - each of `snapDirs` contributes its highest committed snapshot
   *    version (manifest completely visible — an in-flight commit is
   *    not a position yet);
   *  - `millis` accumulates the max mtime of every consulted file plus
   *    the direct-children data files of each snapDir (the foreign-file
   *    fallback coordinate, and the human-readable capture instant).
   *
   * One listing per directory plus one manifest read per commit
   * marker (one, once vacuumed).
   */
  def capture(fs: FileSystem, root: HPath, snapDirs: Seq[HPath],
      genPath: Option[String] = None): AsOfPin = {
    var millis = 0L
    def bump(t: Long): Unit = if (t > millis) millis = t

    val ledger = scala.collection.mutable.Map.empty[String, Long]
    val ledgerDir = BatchLedger.dir(root)
    if (fs.exists(ledgerDir)) fs.listStatus(ledgerDir).foreach { e =>
      bump(e.getModificationTime)
      BatchLedger.entryPos(e.getPath.getName).foreach { case (w, id) =>
        ledger(w) = math.max(ledger.getOrElse(w, -1L), id)
      }
    }

    val seqs = scala.collection.mutable.Map.empty[String, Long]
    genPath.foreach { p =>
      val rootP = new HPath(p)
      if (fs.exists(rootP)) {
        val g = fs.listStatus(rootP).foldLeft(-1L) { (m, e) =>
          bump(e.getModificationTime)
          IndexGenerations.committedGeneration(fs, e) match {
            case Some(v) => math.max(m, v)
            case None => m
          }
        }
        if (g >= 0) seqs(genKey(fs, p)) = g
      }
    }
    // per-directory version discovery fans through the shared bounded
    // listing pool (one listing + the manifest reads per dir; results
    // merged on the caller)
    Listing.inParallel(snapDirs) { d =>
      if (!fs.exists(d)) None
      else {
        val entries = fs.listStatus(d).toSeq
        val maxM = entries.foldLeft(0L)((m, e) =>
          if (e.isFile) math.max(m, e.getModificationTime) else m)
        val v = SnapshotFold.commits(fs, d, entries).lastOption.map(_._1)
        Some((dirKey(fs, d), v, maxM))
      }
    }.flatten.foreach { case (key, v, maxM) =>
      bump(maxM)
      v.foreach(seqs(key) = _)
    }
    AsOfPin(ledger.toMap, seqs.toMap, millis)
  }
}
