package graft.functions

import graft.store.{AsOfPin, BatchLedger, IdFilter, IndexErase, SnapshotFold, StagedBatchAppend}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}

/**
 * Lexical retrieval over the corpus: BM25 top-k (Robertson et al.,
 * Okapi), the standard keyword-relevance baseline a curation stack keeps
 * next to its embedding ANN (functions.Similarity) — targeted corpus
 * inspection ("show me the documents about X"), hybrid-retrieval recall,
 * and query-driven subset export all start here.
 *
 * Scale shape: the exploded (doc, term) stream is filtered to the
 * query's terms BEFORE the first shuffle, so the tf hash-agg moves only
 * matching tuples (a handful per document, not the token stream); df and
 * the corpus stats (N, total length) are one-row/broadcast joins; the
 * final top-k is orderBy+limit → TakeOrderedAndProject (per-partition
 * heaps, never a global sort materialization). The corpus-stats pass
 * re-scans the text column once — a real deployment precomputes doc
 * lengths at ingest; the second scan is the price of statelessness here.
 *
 * Determinism: each per-term contribution is quantized to integer 1e-6
 * BEFORE the per-doc sum, so the sum is long addition — order-independent
 * and reproducible bit-for-bit in any engine that parses the same
 * formula (the ~1e-10 ln() quantization-boundary wobble aside, exactly as
 * documented for Pipeline.topTfidfTerms).
 */
object Retrieval {

  /**
   * Top-k documents for a bag-of-words query under BM25
   * (k1 = 1.2, b = 0.75 are the classic defaults):
   *
   *   idf(t)  = ln((N − df + 0.5) / (df + 0.5) + 1)
   *   s(D, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
   *   score   = Σ_t floor(s(D, t)·1e6 + 0.5)     (integer micro-points)
   *
   * Ties at the cut are broken by ascending doc id.
   */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    val toks = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("dl"),
        explode(col("_toks")).as("term"))
    val tf = toks.filter(col("term").isin(terms.map(lit): _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      sum(size(TextFunctions.tokens(col(textCol))).cast("long")).as("total_dl"))
    // formula shape mirrored verbatim in the SQL oracle — keep the
    // parenthesization in sync with SparkEntry.oracleSql("text_bm25")
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("contrib_q6", floor(contrib * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id").agg(sum("contrib_q6").as("score_q6"))
      .orderBy(col("score_q6").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id").as(idCol), col("score_q6"))
  }

  /** Shard a term for the persisted index layout (64 dirs, stable). */
  private def termShard(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(64L)).cast("int")

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new HPath(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /**
   * PERSISTED BM25 index — build once, append forever, query many
   * times: the same full index LIFECYCLE the persisted MinHash and IVF
   * indexes carry (build / streaming exactly-once appends / selective
   * reader-atomic folds / logical pins + as-of reads / targeted
   * erasure), specialized to the lexical layout. The expensive pass
   * (tokenize + tf over the corpus) runs at build/append time and
   * lands as parquet postings partitioned by a 64-way term-hash shard.
   * A query reads ONLY its terms' shards — the scan is
   * partition-pruned to ~|terms|/64 of the postings — computes df from
   * the loaded postings, and scores identically to [[bm25TopK]].
   *
   * Corpus stats are an ADDITIVE LEDGER, not one mutable row: `stats/`
   * holds (n_docs, total_dl) DELTA rows — one from the build, one per
   * streamed batch — and readers aggregate the resolved set (a sum of
   * a handful of one-row files; folds keep it a handful). That is what
   * makes appends exactly-once end-to-end: a batch's postings AND its
   * stats delta commit under ONE ledger marker, so no read-modify-
   * write of a mutable row races the stream. `zero_docs/` records the
   * ids of documents that produced ZERO tokens (they have no postings
   * to witness them, but they are part of n_docs and must be erasable
   * individually).
   *
   * NOTE: `buildBm25Index(mode overwrite)` over an existing path
   * REPLACES history rather than versioning it — build at a fresh path
   * when pins must survive.
   *
   * NOTE: a build is not atomic. The postings write overlaps the
   * `stats/` and `zero_docs/` writes, so a build that throws can leave
   * fresh stats beside missing or partial postings. Treat any exception
   * as a failed build and rebuild (or build at a fresh path); never
   * query a path whose build failed. Writing stats only after postings
   * succeed was slower on the `text_bm25_*` entries (sf0.1, 4 cores: 7
   * of 8 paired runs, by up to 1.4 s), so the overlap stays. Streamed
   * appends are not affected: their tables commit under one ledger
   * marker.
   */
  def buildBm25Index(docs: DataFrame, path: String,
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    writeBm25Tables(docs, idCol, textCol, s"$path/postings",
      s"$path/stats", s"$path/zero_docs", mode = "overwrite")

  /** The shared tokenize-and-land pass of [[buildBm25Index]] and
   *  [[appendBm25Batch]]: postings (term-hash sharded), the one-row
   *  stats DELTA, and the zero-token doc ids. One tokenize pass feeds
   *  the postings; a second feeds the tiny (doc_id, dl) frame that
   *  serves both stats and zero_docs (cached — two long columns). */
  private def writeBm25Tables(docs: DataFrame, idCol: String, textCol: String,
      postingsDir: String, statsDir: String, zeroDir: String,
      mode: String): Unit = {
    val tok = docs.select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("_toks"))
      .select(col("doc_id"), size(col("_toks")).as("dl"), col("_toks"))
    val dls = tok.select(col("doc_id"), col("dl").cast("long").as("dl")).persist()
    try {
      // the three tables land in DISJOINT dirs with no ordering
      // contract between them (a streamed batch's visibility is the
      // ledger marker, a build's is the caller's) — overlap the heavy
      // postings write with the tiny stats+zero pair instead of paying
      // three serial job latencies per build/micro-batch (guide §2.6)
      graft.store.Concurrent.eval(docs.sparkSession.sparkContext, Seq(
        () => tok.select(col("doc_id"), col("dl"), explode(col("_toks")).as("term"))
          .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
          .withColumn("shard", termShard(col("term")))
          .repartition(col("shard"))
          .write.mode(mode).partitionBy("shard").parquet(postingsDir),
        () => {
          dls.agg(count(lit(1)).as("n_docs"),
              coalesce(sum("dl"), lit(0L)).as("total_dl"))
            .coalesce(1).write.mode(mode).parquet(statsDir)
          dls.filter(col("dl") === 0L).select("doc_id")
            .coalesce(1).write.mode(mode).parquet(zeroDir)
        })): Unit
    } finally dls.unpersist(): Unit
  }

  /**
   * STREAMING index maintenance — the ingest lifecycle the IVF and
   * MinHash indexes already have ([[Similarity.streamingIvfAppend]]
   * contract): per micro-batch, tokenize the arriving documents and
   * append their postings + stats delta + zero-doc ids under ONE
   * exactly-once [[graft.store.StagedBatchAppend]] commit (stage →
   * manifest → move → ledger marker), so a crash replay SKIPS a
   * committed batch instead of double-counting it in both the postings
   * and the corpus stats. Concurrent [[queryBm25Index]] calls observe
   * clean batch boundaries: the snapshot resolver admits a batch's
   * files only once its marker exists, so a query can never see a
   * batch's postings without its stats delta (or vice versa).
   *
   * `compactEvery > 0` runs [[compactBm25Index]] from inside
   * foreachBatch every that many batches (one maintainer by
   * construction); with the default an external scheduler may fold the
   * LIVE index — the manifest publish is reader-atomic and never lists
   * an uncommitted batch's files as candidates.
   *
   * Scale shape: each batch shuffles only its own (doc, term) tuples
   * (one hash-agg + one shard repartition) and writes only its own
   * rows; the index is never rewritten on append.
   */
  def streamingBm25Append(stream: DataFrame, path: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      compactEvery: Int = 0, compactMinFiles: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val spark = stream.sparkSession
    require(fsOf(spark, path).exists(new HPath(s"$path/stats")),
      s"no BM25 index at $path — buildBm25Index first")
    val writer = BatchLedger.writerId("bm25", checkpoint)
    stream.writeStream.outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty)
          appendBm25Batch(batch, path, batchId, writer, idCol, textCol): Unit
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          compactBm25Index(batch.sparkSession, path,
            minFiles = compactMinFiles): Unit
      }
      .start()
  }

  /** One exactly-once micro-batch append (the foreachBatch body,
   *  factored for direct replay testing): stage postings + stats delta
   *  + zero docs under the index root, commit through the batch
   *  ledger. Returns false when `batchId` already committed. */
  private[graft] def appendBm25Batch(batch: DataFrame, path: String,
      batchId: Long, writer: String = "bm25", idCol: String = "doc_id",
      textCol: String = "text"): Boolean =
    StagedBatchAppend.append(batch.sparkSession, path, writer, batchId) {
      staging =>
        writeBm25Tables(batch, idCol, textCol, s"$staging/postings",
          s"$staging/stats", s"$staging/zero_docs", mode = "errorifexists")
    }

  // ---- resolver read path: the SnapshotFold contract the other two
  // persisted indexes carry — reader-atomic folds/erasure, exactly-once
  // ledgered appends, as-of pins. A plain build is generation zero
  // (raw files, no manifests); appends land batch-tagged, folds and
  // erases publish versions. ---- //

  private val shardSchema = new StructType().add("shard", IntegerType)

  private def shardDirsOf(fs: FileSystem, live: HPath): Seq[(Int, HPath)] =
    if (!fs.exists(live)) Nil
    else fs.listStatus(live).toSeq
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("shard="))
      .flatMap(e => e.getPath.getName.stripPrefix("shard=").toIntOption
        .map(_ -> e.getPath))

  /** Snapshot-resolved scan of the postings tree — `onlyShards` prunes
   *  at resolution time (non-queried shard dirs are never even listed,
   *  preserving the ~|terms|/64 partition pruning the layout exists
   *  for); `asOf` pins the read ([[pinBm25Index]]); batch-tagged
   *  streamed appends are admitted only once their ledger marker
   *  exists (clean batch boundaries under a live stream). */
  private[graft] def readPostings(spark: SparkSession,
      path: String, onlyShards: Option[Seq[Int]] = None,
      asOf: Option[AsOfPin] = None): DataFrame =
    readPostingsWith(spark, path,
      BatchLedger.read(fsOf(spark, path), new HPath(path), asOf),
      onlyShards, asOf)

  private def readPostingsWith(spark: SparkSession, path: String,
      committed: (String, Long) => Boolean, onlyShards: Option[Seq[Int]],
      asOf: Option[AsOfPin]): DataFrame = {
    val live = new HPath(s"$path/postings")
    val fs = fsOf(spark, path)
    val parts = shardDirsOf(fs, live)
      .filter { case (id, _) => onlyShards.forall(_.contains(id)) }
      .map { case (id, d) =>
        (InternalRow(id), SnapshotFold.resolve(fs, d, committed, asOf))
      }
      .filter(_._2.nonEmpty)
    SnapshotFold.dataFrame(spark, shardSchema, parts, Seq(live))
      .getOrElse {
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          new StructType().add("doc_id", LongType).add("dl", IntegerType)
            .add("term", StringType).add("tf", LongType)
            .add("shard", IntegerType))
      }
  }

  /** Snapshot-resolved corpus stats: the SUM of the resolved delta
   *  rows (build row + committed batch deltas + erase corrections) —
   *  one row out, always. */
  private[graft] def readBm25Stats(spark: SparkSession,
      path: String, asOf: Option[AsOfPin] = None): DataFrame =
    readBm25StatsWith(spark, path,
      BatchLedger.read(fsOf(spark, path), new HPath(path), asOf), asOf)

  private def readBm25StatsWith(spark: SparkSession, path: String,
      committed: (String, Long) => Boolean, asOf: Option[AsOfPin]): DataFrame = {
    val live = new HPath(s"$path/stats")
    val fs = fsOf(spark, path)
    val files = SnapshotFold.resolve(fs, live, committed, asOf)
    require(files.nonEmpty, s"no BM25 index stats at $path")
    SnapshotFold.dataFrame(spark, new StructType(),
      Seq((InternalRow.empty, files)), Seq(live)).get
      .agg(coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("total_dl"), lit(0L)).as("total_dl"))
  }

  /** Resolved zero-token doc ids (empty frame when none recorded —
   *  including indexes built before the table existed). */
  private[graft] def readZeroDocs(spark: SparkSession, path: String,
      asOf: Option[AsOfPin] = None): DataFrame = {
    val live = new HPath(s"$path/zero_docs")
    val fs = fsOf(spark, path)
    val committed = BatchLedger.read(fs, new HPath(path), asOf)
    val files = SnapshotFold.resolve(fs, live, committed, asOf)
    SnapshotFold.dataFrame(spark, new StructType(),
      Seq((InternalRow.empty, files)), Seq(live))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new StructType().add("doc_id", LongType)))
  }

  /** LOGICAL as-of pin over a persisted BM25 index — the index's
   *  current position in each of its commit sequences (append-ledger
   *  batch ids, per-table/per-shard fold versions — the
   *  [[graft.store.TierStore.pinNow]] contract); feed to the `asOf`
   *  arm of [[queryBm25Index]]. */
  def pinBm25Index(spark: SparkSession, path: String): AsOfPin = {
    val fs = fsOf(spark, path)
    // LOUD on a bad path (pinIvfIndex/pinMinhashIndex parity): a typo'd
    // root must fail at capture time, not months later when an asOf
    // read resolves an empty view against an empty pin
    require(fs.exists(new HPath(s"$path/stats")), s"no BM25 index at $path")
    AsOfPin.capture(fs, new HPath(path),
      Seq(new HPath(s"$path/stats"), new HPath(s"$path/zero_docs")) ++
        shardDirsOf(fs, new HPath(s"$path/postings")).map(_._2))
  }

  /**
   * Selective reader-atomic FOLD of a streamed BM25 index — the
   * [[Similarity.compactIvfLists]] contract on the lexical layout:
   * per term-hash shard, the accumulated small files (streamed batch
   * appends) rewrite into ~targetFileBytes files and publish through
   * the [[SnapshotFold]] manifest under LIVE queries (a racing query
   * resolves the complete pre- or post-fold set, never a mixture);
   * the stats DELTA rows fold into their one-row sum (semantics
   * preserved — readers aggregate either way); the zero-doc ids
   * concatenate. Single maintainer; `retainHistory` keeps superseded
   * snapshots and ledger markers for as-of pins. Returns
   * (live files before, after).
   */
  def compactBm25Index(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L * 1024 * 1024, minFiles: Int = 4,
      retainHistory: Boolean = false): (Int, Int) = {
    val rootP = new HPath(path)
    val fs = fsOf(spark, path)
    require(fs.exists(new HPath(s"$path/stats")), s"no BM25 index at $path")
    // maintainer context: keep the append ledger O(recent) too — unless
    // history is being retained for as-of pins (a marker fold would make
    // pins older than it fail, exactly what retainHistory defers)
    if (!retainHistory) StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = BatchLedger.read(fs, rootP)
    val shardDirs = shardDirsOf(fs, new HPath(s"$path/postings"))
    val statsDir = new HPath(s"$path/stats")
    val zeroDir = new HPath(s"$path/zero_docs")
    def liveCount() = (shardDirs.map(_._2) ++ Seq(statsDir, zeroDir))
      .map(d => SnapshotFold.resolve(fs, d, committed).length).sum
    val before = liveCount()
    // the shared fold core: postings = one concat job over only the
    // touched shards; stats deltas fold into their one-row SUM
    // (readers aggregate either way — semantics preserved); zero-doc
    // ids concatenate
    val published = graft.store.IndexFold.foldPartitioned(spark, fs,
      new HPath(s"$path/postings"),
      shardDirs.map { case (id, d) => (InternalRow(id), d) },
      shardSchema, "shard", new HPath(s"$path/.compact_postings"),
      targetFileBytes, minFiles, committed, retainHistory = retainHistory)
    if (published == 0 && !retainHistory)
      // post-commit crash safety: reclaim what an earlier fold
      // committed but crashed before vacuuming
      shardDirs.foreach { case (_, d) => SnapshotFold.vacuumDir(fs, d) }
    graft.store.IndexFold.foldDir(spark, fs, statsDir,
      new HPath(s"$path/.compact_stats"), targetFileBytes, minFiles,
      committed, shape = _.agg(
        coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
        coalesce(sum("total_dl"), lit(0L)).as("total_dl")),
      coalesceOne = true): Unit
    graft.store.IndexFold.foldDir(spark, fs, zeroDir,
      new HPath(s"$path/.compact_zero"), targetFileBytes, minFiles,
      committed, coalesceOne = true): Unit
    if (!retainHistory) {
      SnapshotFold.vacuumDir(fs, statsDir)
      SnapshotFold.vacuumDir(fs, zeroDir)
    }
    (before, liveCount())
  }

  /**
   * Targeted document ERASURE from a persisted BM25 index — of the
   * three persisted indexes this one retains the MOST reconstructable
   * content: `postings/` stores each erased document's full
   * term-frequency bag. Same contract as
   * [[graft.functions.Similarity.eraseFromIvfIndex]], through the
   * shared [[graft.store.IndexErase]] core: one resolver-pinned scan
   * finds the live files carrying an erased `doc_id` (they scatter
   * across term-hash shards — cost follows the erased docs'
   * distinct-term footprint, never the corpus), one job rewrites
   * exactly those files minus the erased rows, each touched shard
   * publishes through the [[SnapshotFold]] manifest (reader-atomic
   * under live [[queryBm25Index]] calls, EMPTY snapshots where every
   * candidate row was erased), and history is reclaimed
   * UNCONDITIONALLY — pre-erase pins fail loudly. Atomicity
   * granularity is PER DIR (the IVF/MinHash contract): a query racing
   * the pass resolves one complete snapshot of every shard and of the
   * stats table, but mid-pass those snapshots can straddle the erase —
   * a transient, bounded score skew; the completed pass is exact.
   *
   * The corpus stats are RECOMPUTED from the survivors, not
   * delta-corrected — crash safety by construction: after the postings
   * and zero-doc rewrites publish, (n_docs, total_dl) re-derive from
   * the surviving postings' distinct (doc_id, dl) plus the surviving
   * zero-token doc count, and the corrected row publishes as the stats
   * table's next snapshot superseding every live delta. A re-run after
   * a crash ANYWHERE in the pass converges: already-published rewrites
   * are simply no longer hit, and the recompute (which runs whether or
   * not hits remain) re-derives the same corrected row — no pending
   * delta to lose. One full postings scan of two columns per erase
   * pass is the price (a compliance batch, not a query).
   *
   * `ids` scales from a compliance batch (literal IN-list) to a mass
   * purge (broadcast semi/anti join above
   * [[graft.store.IdFilter.InListMax]]). Returns the number of erased
   * documents found in the index (postings or zero-doc witnessed).
   */
  def eraseFromBm25Index(spark: SparkSession,
      path: String, ids: Seq[Long],
      targetFileBytes: Long = 128L * 1024 * 1024): Long = {
    require(ids.nonEmpty, "empty erase set")
    val rootP = new HPath(path)
    val fs = fsOf(spark, path)
    val live = new HPath(s"$path/postings")
    require(fs.exists(live), s"no BM25 index at $path")
    // erasure destroys as-of history by CONTRACT: fold the ledger now —
    // committed batch files must stop being pin-resolvable raw history
    StagedBatchAppend.foldAllMarkers(spark, path)
    val committed = BatchLedger.read(fs, rootP)
    val resolvedShards = shardDirsOf(fs, live).map { case (id, d) =>
      (InternalRow(id), d, SnapshotFold.resolve(fs, d, committed))
    }
    val (_, postingDocs) = IndexErase.eraseRows(spark, fs,
      IndexErase.Target(live, shardSchema, resolvedShards,
        partitionBy = Seq("shard"), repartitionCols = Seq("shard")),
      "doc_id", ids, new HPath(s"$path/.erase_postings"), targetFileBytes)
    val zeroDir = new HPath(s"$path/zero_docs")
    val (_, zeroDocs) = IndexErase.eraseRows(spark, fs,
      IndexErase.Target(zeroDir, new StructType(),
        Seq((InternalRow.empty, zeroDir,
          SnapshotFold.resolve(fs, zeroDir, committed)))),
      "doc_id", ids, new HPath(s"$path/.erase_zero"), targetFileBytes)
    // stats: recompute from the survivors and publish only when the
    // corrected row differs (idempotent; converges after any crash).
    // n_docs is DEFINED as distinct surviving posting docs + distinct
    // recorded zero-token docs — both sides deduped so a client that
    // appended a doc id twice can't skew the recount. An index whose
    // zero_docs/ table predates this library's build path (every build
    // and streaming append here writes it) must be rebuilt before
    // erasing: with no record, zero-token docs silently leave n_docs.
    val cur = readBm25Stats(spark, path).collect()(0)
    // ONE job recounts both sides (guide §1.2): the surviving postings'
    // distinct (doc_id, dl) and the surviving zero-token doc ids union
    // into a single deduped frame — `dl` is NULL only on the zero side,
    // so the aggregate splits them back without a second scan. The
    // per-side distincts are preserved exactly (postings dedup on
    // (doc_id, dl), zero docs on doc_id; the sides cannot collide:
    // zero-side rows carry a NULL dl no posting row has).
    val merged = readPostings(spark, path)
      .select(col("doc_id"), col("dl").cast("long").as("dl"))
      .unionAll(readZeroDocs(spark, path)
        .select(col("doc_id"), lit(null).cast("long").as("dl")))
      .distinct()
      .agg(count(when(col("dl").isNotNull, 1)),
        coalesce(sum("dl"), lit(0L)),
        count(when(col("dl").isNull, 1))).collect()(0)
    val nZero = merged.getLong(2)
    val (newN, newDl) = (merged.getLong(0) + nZero, merged.getLong(1))
    if (newN != cur.getLong(0) || newDl != cur.getLong(1)) {
      val statsDir = new HPath(s"$path/stats")
      val statsFiles = SnapshotFold.resolve(fs, statsDir, committed)
      SnapshotFold.planFiles(fs, statsDir, statsFiles).foreach { p =>
        val freshStats = new HPath(s"$path/.erase_stats")
        fs.delete(freshStats, true)
        import spark.implicits._
        Seq((newN, newDl)).toDF("n_docs", "total_dl").coalesce(1)
          .write.parquet(freshStats.toString)
        SnapshotFold.publish(fs, statsDir, p.version, freshStats,
          p.foldedRels)
      }
    }
    // UNCONDITIONAL vacuum: superseded postings still carry the bags
    resolvedShards.foreach { case (_, d, _) =>
      SnapshotFold.vacuumDir(fs, d)
    }
    SnapshotFold.vacuumDir(fs, new HPath(s"$path/stats"))
    SnapshotFold.vacuumDir(fs, zeroDir)
    postingDocs + zeroDocs
  }

  /** Query a persisted index: identical scores to the direct path;
   *  `asOf` pins the read to a [[pinBm25Index]] instant. */
  def queryBm25Index(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      asOf: Option[AsOfPin] = None): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val terms = queryTerms.map(_.toLowerCase).distinct
    // pmod(xxhash64, 64) ≡ hash & 63 for a power-of-two shard count
    val shards = terms.map(t =>
      (org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
        org.apache.spark.unsafe.types.UTF8String.fromString(t), 42L) & 63L).toInt)
    // ONE ledger read shared by the postings and stats resolution: a
    // micro-batch committing between two separate reads would hand the
    // query the batch's stats delta without its postings (or vice
    // versa) — batch-boundary consistency requires one predicate
    val committed = BatchLedger.read(fsOf(spark, path), new HPath(path), asOf)
    val tf = readPostingsWith(spark, path, committed, Some(shards.distinct), asOf)
      .filter(col("term").isin(terms.map(lit): _*))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val stats = readBm25StatsWith(spark, path, committed, asOf)
    val avgdl = col("total_dl").cast("double") / col("n_docs")
    val idf = log((col("n_docs").cast("double") - col("df") + 0.5) /
      (col("df") + 0.5) + 1.0)
    val contrib = idf * (col("tf").cast("double") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dfreq), "term").crossJoin(broadcast(stats))
      .withColumn("contrib_q6", floor(contrib * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy("doc_id").agg(sum("contrib_q6").as("score_q6"))
      .orderBy(col("score_q6").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("score_q6"))
  }

  /**
   * Reciprocal Rank Fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of N
   * ranked candidate lists: score(d) = Σ_lists 1/(kRrf + rank_d(list)),
   * the standard way to combine a lexical (BM25) and a semantic (cosine
   * ANN) ranking without calibrating their incomparable score scales.
   *
   * Each input carries (`byCols`…, doc_id, rank); a document absent from
   * a list simply contributes nothing for it. Contributions are the
   * integer micro-points floor(1e6/(kRrf+rank)) — pure integer
   * arithmetic, so the fused score is order-independent and reproducible
   * bit-for-bit in any engine (same determinism contract as the BM25
   * quantization above).
   *
   * Scale shape: inputs are per-query top-k pools (each ≤ poolK rows per
   * `byCols` group, limit-bounded upstream), so the union + hash-agg +
   * final top-k move only candidate tuples — never the corpus. With
   * `byCols` (e.g. a query_id for batched multi-query fusion) the final
   * cut is a per-group WindowGroupLimit; without, TakeOrderedAndProject.
   */
  def rrfFuse(rankings: Seq[DataFrame], k: Int, kRrf: Int = 60,
      byCols: Seq[String] = Nil): DataFrame = {
    require(rankings.nonEmpty, "rankings must be non-empty")
    val keyCols = byCols :+ "doc_id"
    val contribs = rankings.map(_.select(keyCols.map(col) :+
      floor(lit(1000000.0) / (lit(kRrf) + col("rank"))).cast("long")
        .as("contrib_q6"): _*))
    val fused = contribs.reduce(_ unionAll _)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("contrib_q6").as("rrf_q6"), count(lit(1)).as("n_lists"))
    if (byCols.isEmpty)
      fused.orderBy(col("rrf_q6").desc, col("doc_id")).limit(k)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(byCols.map(col): _*)
        .orderBy(col("rrf_q6").desc, col("doc_id"))
      fused.withColumn("_r", row_number().over(w)).filter(col("_r") <= k)
        .drop("_r")
    }
  }

  /**
   * Hybrid first-stage retrieval for ONE query: BM25 over the text
   * column fused with brute-force cosine over the embedding column via
   * [[rrfFuse]]. `queryVec` is a one-row DataFrame holding the query
   * embedding (its id is excluded from the semantic list, per
   * Similarity.bruteForceTopK). Batched multi-query fusion composes
   * ranked lists tagged with a query id and calls [[rrfFuse]] with
   * `byCols` directly.
   *
   * The global row_number on the lexical side ranks bm25TopK's OUTPUT —
   * a limit(poolK)-bounded frame, never the corpus (PlanAudit accepts
   * global windows over limit-bounded children for exactly this shape).
   */
  def hybridTopK(docs: DataFrame, embeddings: DataFrame,
      queryTerms: Seq[String], queryVec: DataFrame, k: Int = 10,
      poolK: Int = 100, kRrf: Int = 60,
      idCol: String = "doc_id", textCol: String = "text",
      vecIdCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val lex = bm25TopK(docs, queryTerms, poolK, idCol = idCol, textCol = textCol)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_q6").desc, col(idCol))))
      .select(col(idCol).as("doc_id"), col("rank"))
    val sem = Similarity.bruteForceTopK(embeddings, queryVec, poolK,
        idCol = vecIdCol, vecCol = vecCol)
      .select(col("vec_id").as("doc_id"), col("rank"))
    rrfFuse(Seq(lex, sem), k, kRrf)
  }
}
