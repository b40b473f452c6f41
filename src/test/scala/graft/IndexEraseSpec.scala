package graft

import graft.api.Cmd
import graft.functions.{Dedup, Similarity}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Right-to-be-forgotten through the DERIVED stores: erasing from the
 * corpus is not enough when the IVF index physically retains the
 * erased embeddings and the MinHash index the erased shingle sets.
 * These specs pin the erasure contract end-to-end: reader-visible
 * completeness (probe ≡ brute force over the survivors), PHYSICAL
 * completeness (no surviving parquet file anywhere under the index
 * root carries an erased row — raw reads, not resolver reads),
 * loud pre-erase pins, untouched-file stability, reader atomicity
 * under hammering, and crash re-runnability.
 */
class IndexEraseSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = graft.Fixtures
    .newDir("graft_erase").toFile.getAbsolutePath

  private def fsOf(p: String) =
    new HPath(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def clustered(from: Int, until: Int): DataFrame =
    spark.range(from.toLong, until.toLong).select(col("id").as("vec_id"),
      array(
        when(col("id") % 2 === 0, lit(1.0f) + col("id").cast("float") / 1000f)
          .otherwise(lit(0.01f)).cast("float"),
        when(col("id") % 2 === 1, lit(1.0f) + col("id").cast("float") / 1000f)
          .otherwise(lit(0.01f)).cast("float"),
        lit(0.02f), lit(0.03f)).as("embedding"))

  /** Every parquet data file currently ON DISK under `root`, read RAW
   *  (no resolver, no ledger, superseded snapshots included) — the
   *  physical-completeness witness. */
  private def rawParquetUnder(root: String, skipDir: String => Boolean = _ => false): Seq[String] = {
    val fs = fsOf(root)
    def walk(p: HPath): Seq[String] =
      fs.listStatus(p).toSeq.flatMap { e =>
        if (e.isDirectory) { if (skipDir(e.getPath.getName)) Nil else walk(e.getPath) }
        else if (e.getPath.getName.endsWith(".parquet")) Seq(e.getPath.toString)
        else Nil
      }
    if (fs.exists(new HPath(root))) walk(new HPath(root)) else Nil
  }

  private def assertPhysicallyPurged(root: String, idCol: String,
      ids: Seq[Long], skipDir: String => Boolean = _ => false): Unit = {
    val files = rawParquetUnder(root, skipDir)
    assert(files.nonEmpty, s"fixture: no parquet files survive under $root")
    val leaked = spark.read.parquet(files: _*)
      .filter(col(idCol).isin(ids: _*)).count()
    assert(leaked == 0L,
      s"$leaked erased rows still physically present under $root")
  }

  test("IVF erase: probe ≡ brute force over survivors; every surviving " +
    "file physically clean; untouched files byte-stable; old pin loud") {
    val work = tmpDir()
    val idx = s"$work/idx"
    Similarity.buildIvfIndex(clustered(0, 20), idx, nLists = 4, trainIters = 1)
    assert(Similarity.appendIvfBatch(clustered(100, 110), idx, 0L))
    // history to destroy: a retaining fold keeps superseded snapshots
    Similarity.compactIvfLists(spark, idx, minFiles = 2, retainHistory = true): Unit
    val pin = Similarity.pinIvfIndex(spark, idx)
    val fs = fsOf(idx)
    // the erase set is all-EVEN (plus a never-indexed id — erasing the
    // absent must be a harmless no-op): the odd cluster's lists are
    // untouched by content, so their files must be byte-stable
    val ids = Seq(0L, 4L, 100L, 104L, 999999L)
    val cleanBefore = rawParquetUnder(s"$idx/lists").flatMap { f =>
      val st = fs.getFileStatus(new HPath(f))
      val carries = spark.read.parquet(f)
        .filter(col("vec_id").isin(ids: _*)).count() > 0
      if (carries) None else Some((f, st.getLen, st.getModificationTime))
    }
    val erased = Similarity.eraseFromIvfIndex(spark, idx, ids)
    assert(erased == 4L, s"erased $erased rows, want 4")
    // reader-visible completeness at full probe ≡ brute force over the
    // surviving corpus
    val survivors = clustered(0, 20).unionAll(clustered(100, 110))
      .filter(!col("vec_id").isin(ids: _*))
    val probe = clustered(1, 3)
    val got = Similarity.queryIvfIndex(spark, idx, probe, k = 5, nProbes = 4)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(survivors, probe, k = 5)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(got == want)
    assert(Similarity.readIvfLists(spark, idx).count() == 26L)
    // PHYSICAL completeness: nothing on disk under the index carries an
    // erased vector — superseded snapshots and ledger batch files included
    assertPhysicallyPurged(idx, "vec_id", ids, skipDir = _ == "centroids")
    // untouched SURVIVING files are byte-stable (same path, length,
    // mtime); clean files the unconditional vacuum reclaimed (superseded
    // by the retaining fold) are legitimately gone
    val stillThere = cleanBefore.filter { case (f, _, _) =>
      fs.exists(new HPath(f)) }
    assert(stillThere.nonEmpty,
      "fixture: at least one untouched list file must survive the erase")
    stillThere.foreach { case (f, len, mtime) =>
      val st = fs.getFileStatus(new HPath(f))
      assert(st.getLen == len && st.getModificationTime == mtime,
        s"untouched file rewritten by the erase: $f")
    }
    // idempotent: a re-run with the same ids is a clean no-op
    assert(Similarity.eraseFromIvfIndex(spark, idx, ids) == 0L)
    assert(Similarity.readIvfLists(spark, idx).count() == 26L)
    // a pre-erase pin must fail LOUDLY, never resurrect the erased rows
    val e = intercept[IllegalStateException] {
      Similarity.readIvfLists(spark, idx, asOf = Some(pin)).count()
    }
    assert(e.getMessage.contains("pin"), e.getMessage)
    // the index stays fully serviceable: append + fold + probe
    assert(Similarity.appendIvfBatch(clustered(200, 210), idx, 1L))
    assert(Similarity.readIvfLists(spark, idx).count() == 36L)
  }

  test("IVF erase: a list whose every row is erased commits an EMPTY " +
    "snapshot — complete erasure even where no file remains") {
    val work = tmpDir()
    val idx = s"$work/idx"
    // two tight clusters: evens land in one list, odds in the other
    Similarity.buildIvfIndex(clustered(0, 16), idx, nLists = 2, trainIters = 2)
    val byList = Similarity.readIvfLists(spark, idx)
      .groupBy("list_id").agg(collect_set("vec_id").as("ids"))
      .as[(Long, Seq[Long])].collect().toMap
    // pick one whole list to erase
    val (victimList, victimIds) = byList.maxBy(_._2.size)
    val erased = Similarity.eraseFromIvfIndex(spark, idx, victimIds)
    assert(erased == victimIds.size.toLong)
    val left = Similarity.readIvfLists(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(left == (0L until 16L).toSet -- victimIds)
    assert(!left.exists(victimIds.contains))
    assertPhysicallyPurged(idx, "vec_id", victimIds, skipDir = _ == "centroids")
    // the emptied list still resolves (empty), probes stay exact
    val probe = clustered(0, 2)
    val got = Similarity.queryIvfIndex(spark, idx, probe, k = 3, nProbes = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val want = Similarity.bruteForceTopK(
      clustered(0, 16).filter(!col("vec_id").isin(victimIds: _*)), probe, k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(got == want, s"list $victimList erase broke the probe")
  }

  test("IVF erase under hammering readers: every concurrent read is a " +
    "complete per-list snapshot — no quiesce, bounded between pre and post") {
    val work = tmpDir()
    val idx = s"$work/idx"
    Similarity.buildIvfIndex(clustered(0, 40), idx, nLists = 4, trainIters = 1)
    assert(Similarity.appendIvfBatch(clustered(100, 140), idx, 0L))
    val ids = ((0L until 40L) ++ (100L until 140L)).filter(_ % 3 == 1)
    val pre = 80L
    val post = pre - ids.length
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    var reads = 0
    val t = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val r = Similarity.readIvfLists(spark, idx)
            .agg(count(lit(1)), countDistinct(col("vec_id"))).collect()(0)
          val (n, d) = (r.getLong(0), r.getLong(1))
          assert(n == d, s"torn read: $n rows, $d distinct")
          assert(n >= post && n <= pre, s"torn read: $n rows outside [$post,$pre]")
          reads += 1
        } catch {
          case e: org.scalatest.exceptions.TestFailedException => failure = Some(e)
          case _: Exception => () // vacuum straddle: retry (store contract)
        }
      }
    }, "erase-hammer")
    t.start()
    try Similarity.eraseFromIvfIndex(spark, idx, ids): Unit
    finally { stop = true; t.join(60000) }
    failure.foreach(e => fail(s"reader observed a torn erase: $e", e))
    assert(reads > 0)
    assert(Similarity.readIvfLists(spark, idx).count() == post)
    assertPhysicallyPurged(idx, "vec_id", ids, skipDir = _ == "centroids")
  }

  test("IVF erase: crash after one list's commit, before the vacuum — " +
    "a re-run completes the pass and the purge still holds physically") {
    val work = tmpDir()
    val idx = s"$work/idx"
    Similarity.buildIvfIndex(clustered(0, 30), idx, nLists = 2, trainIters = 2)
    val ids = Seq(2L, 3L) // one even, one odd: both lists touched
    var commits = 0
    graft.store.SnapshotFold.hook = p =>
      if (p == "committed") { commits += 1; if (commits == 1)
        throw new RuntimeException("crash after first list's commit") }
    try intercept[RuntimeException] {
      Similarity.eraseFromIvfIndex(spark, idx, ids)
    } finally graft.store.SnapshotFold.hook = _ => ()
    // mid-crash state: readers still resolve complete snapshots
    val mid = Similarity.readIvfLists(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(mid.subsetOf((0L until 30L).toSet) && ((0L until 30L).toSet -- mid)
      .subsetOf(ids.toSet), s"mid-crash read lost non-erased rows")
    // the re-run completes: remaining hit is erased, vacuum reclaims the
    // crashed pass's superseded files too
    Similarity.eraseFromIvfIndex(spark, idx, ids): Unit
    assert(Similarity.readIvfLists(spark, idx).count() == 28L)
    assertPhysicallyPurged(idx, "vec_id", ids, skipDir = _ == "centroids")
  }

  test("MinHash erase: shingle sets and band buckets physically purged; " +
    "queries equal pre-erase minus erased; old pin loud; index serviceable") {
    val root = tmpDir()
    def doc(i: Int) = (i.toLong,
      s"alpha beta gamma delta epsilon zeta eta theta token$i tail$i")
    Dedup.buildMinhashIndex((0 until 8).map(doc).toDF("doc_id", "text"),
      root, n = 3, k = 16, bands = 4)
    assert(Dedup.appendShingledToIndexBatch(
      Dedup.shingledDocs((100 until 108).map(doc).toDF("doc_id", "text"),
        3, 16, "doc_id", "text"), root, 3, 16, 4, 0L))
    Dedup.compactMinhashIndex(spark, root, minFiles = 2, retainHistory = true): Unit
    val pin = Dedup.pinMinhashIndex(spark, root)
    // probes near-dup both halves; erase one member of each half
    val probes = Seq((9000L, doc(3)._2), (9001L, doc(103)._2)).toDF("doc_id", "text")
    def hits() = Dedup.queryMinhashIndex(spark, probes, root, n = 3, k = 16,
      bands = 4, threshold = 0.3).select("id_idx").as[Long].collect().toSet
    val before = hits()
    val ids = Seq(3L, 103L, 999999L)
    assert(ids.take(2).forall(before.contains),
      s"fixture: erase targets must be query hits ($before)")
    val erased = Dedup.eraseFromMinhashIndex(spark, root, ids)
    assert(erased == 2L, s"erased $erased shingle rows, want 2")
    assert(hits() == before -- ids, "post-erase hits must drop exactly the erased")
    assert(Dedup.readIndexTable(spark, root, "shingles").count() == 14L)
    assert(Dedup.readIndexTable(spark, root, "buckets")
      .filter(col("id").isin(ids: _*)).count() == 0L)
    // PHYSICAL completeness across both tables, superseded files included
    assertPhysicallyPurged(root, "id", ids)
    // idempotent: a re-run with the same ids is a clean no-op
    assert(Dedup.eraseFromMinhashIndex(spark, root, ids) == 0L)
    assert(hits() == before -- ids)
    // pre-erase pin fails loudly
    intercept[IllegalStateException] {
      Dedup.readIndexTable(spark, root, "shingles", asOf = Some(pin)).count()
    }
    // still serviceable: ledgered append + query
    assert(Dedup.appendShingledToIndexBatch(
      Dedup.shingledDocs((200 until 204).map(doc).toDF("doc_id", "text"),
        3, 16, "doc_id", "text"), root, 3, 16, 4, 1L))
    assert(Dedup.readIndexTable(spark, root, "shingles").count() == 18L)
  }

  test("MinHash erase after a retained REBUILD: the superseded " +
    "generation's copies are reclaimed too (no resurrection path)") {
    val root = tmpDir()
    def doc(i: Int) = (i.toLong,
      s"alpha beta gamma delta epsilon zeta eta theta token$i tail$i")
    Dedup.buildMinhashIndex((0 until 8).map(doc).toDF("doc_id", "text"),
      root, n = 3, k = 64, bands = 16)
    // a retained banding migration leaves generation 0 on disk — a
    // corpus-erase that missed it would leave the shingles recoverable
    Dedup.rebuildMinhashIndex(spark, root, n = 3, k = 32, bands = 16,
      retainOld = true)
    val fs = fsOf(root)
    assert(fs.exists(new HPath(s"$root/shingles")),
      "fixture: the retained legacy generation must exist pre-erase")
    val ids = Seq(2L, 5L)
    val erased = Dedup.eraseFromMinhashIndex(spark, root, ids)
    assert(erased == 2L)
    assertPhysicallyPurged(root, "id", ids)
    assert(Dedup.readIndexTable(spark, root, "shingles").count() == 6L)
    val h = Dedup.queryMinhashIndex(spark,
      Seq((9000L, doc(2)._2)).toDF("doc_id", "text"), root,
      n = 3, k = 32, bands = 16, threshold = 0.3)
      .select("id_idx").as[Long].collect().toSet
    assert(!h.exists(ids.contains), s"erased doc resurfaced in a query: $h")
  }

  test("BM25 erase: postings purged physically, stats row corrected to " +
    "a fresh-build-over-survivors, untouched shards byte-stable, old " +
    "pin loud, live queries reader-atomic") {
    import graft.functions.Retrieval
    val root = tmpDir()
    def doc(i: Int) = (i.toLong,
      s"table hash merge scan alpha$i beta$i " + ("pad " * (i % 5)))
    val docs = (0 until 40).map(doc).toDF("doc_id", "text")
    Retrieval.buildBm25Index(docs, root)
    val pin = Retrieval.pinBm25Index(spark, root)
    val ids = Seq(3L, 17L, 999999L)
    val fs = fsOf(root)
    val cleanBefore = rawParquetUnder(s"$root/postings").flatMap { f =>
      val st = fs.getFileStatus(new HPath(f))
      if (spark.read.parquet(f).filter(col("doc_id").isin(ids: _*)).isEmpty)
        Some((f, st.getLen, st.getModificationTime)) else None
    }
    // hammer live queries through the erase: every observation must be
    // complete (a full top-k from ONE snapshot of postings+stats)
    @volatile var stop = false
    @volatile var failure: Option[Throwable] = None
    var reads = 0
    val t = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try {
          val n = Retrieval.queryBm25Index(spark, root,
            Seq("table", "hash"), k = 50).count()
          assert(n == 40L || n == 38L, s"torn BM25 read: $n docs")
          reads += 1
        } catch {
          case e: org.scalatest.exceptions.TestFailedException => failure = Some(e)
          case _: Exception => () // vacuum straddle: retry
        }
      }
    }, "bm25-hammer")
    t.start()
    val erased =
      try Retrieval.eraseFromBm25Index(spark, root, ids)
      finally { stop = true; t.join(60000) }
    failure.foreach(e => fail(s"BM25 reader observed a torn erase: $e", e))
    assert(reads > 0)
    assert(erased == 2L, s"erased $erased docs, want 2")
    // post-erase scores ≡ a fresh build over the survivors (stats
    // correction included — same integer micro-points)
    val survivors = docs.filter(!col("doc_id").isin(ids: _*))
    val fresh = tmpDir()
    Retrieval.buildBm25Index(survivors, fresh)
    val got = Retrieval.queryBm25Index(spark, root,
      Seq("table", "hash", "merge", "scan"), k = 40)
      .as[(Long, Long)].collect().toSeq
    val want = Retrieval.queryBm25Index(spark, fresh,
      Seq("table", "hash", "merge", "scan"), k = 40)
      .as[(Long, Long)].collect().toSeq
    assert(got == want, "post-erase scores diverge from a fresh build")
    // physical purge + untouched-file byte-stability
    assertPhysicallyPurged(s"$root/postings", "doc_id", ids)
    val stillThere = cleanBefore.filter { case (f, _, _) =>
      fs.exists(new HPath(f)) }
    assert(stillThere.nonEmpty,
      "fixture: at least one untouched posting file must survive")
    stillThere.foreach { case (f, len, m) =>
      val st = fs.getFileStatus(new HPath(f))
      assert(st.getLen == len && st.getModificationTime == m,
        s"untouched posting file rewritten: $f")
    }
    // a pre-erase pin fails loudly (unconditional history reclaim)
    intercept[IllegalStateException] {
      Retrieval.queryBm25Index(spark, root, Seq("table"), k = 5,
        asOf = Some(pin)).count()
    }
  }

  test("BM25 as-of pin: reproducible across an erase when read " +
    "BEFORE the erase lands; post-erase pin equals the current read") {
    import graft.functions.Retrieval
    val root = tmpDir()
    def doc(i: Int) = (i.toLong, s"table hash merge scan alpha$i")
    Retrieval.buildBm25Index((0 until 20).map(doc).toDF("doc_id", "text"), root)
    Retrieval.eraseFromBm25Index(spark, root, Seq(5L)): Unit
    val pin = Retrieval.pinBm25Index(spark, root)
    val now = Retrieval.queryBm25Index(spark, root, Seq("table"), k = 30)
      .as[(Long, Long)].collect().toSeq
    val pinned = Retrieval.queryBm25Index(spark, root, Seq("table"), k = 30,
      asOf = Some(pin)).as[(Long, Long)].collect().toSeq
    assert(pinned == now && now.length == 19)
  }

  test("erase_index_ids command: the wire envelope drives both index " +
    "erasures in one dispatch; empty/index-less requests refuse") {
    val work = tmpDir()
    val idx = s"$work/idx"
    val mh = s"$work/mh"
    Similarity.buildIvfIndex(clustered(0, 20), idx, nLists = 2, trainIters = 1)
    def doc(i: Int) = (i.toLong,
      s"alpha beta gamma delta epsilon zeta eta theta token$i tail$i")
    Dedup.buildMinhashIndex((0 until 8).map(doc).toDF("doc_id", "text"),
      mh, n = 3, k = 16, bands = 4)
    val bm = s"$work/bm25"
    graft.functions.Retrieval.buildBm25Index(
      (0 until 8).map(doc).toDF("doc_id", "text"), bm)
    val store = new graft.store.TierStore(spark, s"$work/store")
    val ctx = graft.api.Api.Context(spark, store)
    val cmd = graft.api.CommandCodec.decode(
      s"""{"type":"cmd.tsdb.erase_index_ids","serv":"ecollector",
         |"uid":"e-1","val_t":"object","val":{"ids":[2,5],
         |"ivf_paths":[${graft.api.CommandCodec.q(idx)}],
         |"minhash_paths":[${graft.api.CommandCodec.q(mh)}],
         |"bm25_paths":[${graft.api.CommandCodec.q(bm)}]}}""".stripMargin)
    val rsp = graft.api.Api.dispatch(ctx, cmd.payload)
      .as[(String, Long)].collect().toMap
    assert(rsp == Map(s"ivf:$idx" -> 2L, s"minhash:$mh" -> 2L,
      s"bm25:$bm" -> 2L), rsp.toString)
    assertPhysicallyPurged(idx, "vec_id", Seq(2L, 5L), skipDir = _ == "centroids")
    assertPhysicallyPurged(mh, "id", Seq(2L, 5L))
    assertPhysicallyPurged(s"$bm/postings", "doc_id", Seq(2L, 5L))
    // the AUDIT command over the same wire shape: raw-scan proof that
    // nothing erased remains, with exact survivor row counts
    val auditCmd = graft.api.CommandCodec.decode(
      s"""{"type":"cmd.tsdb.verify_erasure","serv":"ecollector",
         |"uid":"a-1","val_t":"object","val":{"ids":[2,5],
         |"ivf_paths":[${graft.api.CommandCodec.q(idx)}],
         |"minhash_paths":[${graft.api.CommandCodec.q(mh)}],
         |"bm25_paths":[${graft.api.CommandCodec.q(bm)}]}}""".stripMargin)
    val audit = graft.api.Api.dispatch(ctx, auditCmd.payload)
      .as[(String, Long, Long, Long)].collect()
      .map(r => (r._1, (r._3, r._4))).toMap
    assert(audit(s"ivf:$idx") == ((18L, 0L)), audit.toString)
    assert(audit(s"minhash:$mh") == ((6L * 5L, 0L)), audit.toString) // bands+1 per doc
    assert(audit(s"bm25:$bm")._2 == 0L, audit.toString)
    // a DIRTY state is detected: rebuild the bm25 index fresh (ids
    // present again) and the audit reports them found
    graft.functions.Retrieval.buildBm25Index(
      (0 until 8).map(doc).toDF("doc_id", "text"), s"$work/bm25_dirty")
    val dirty = graft.api.Api.dispatch(ctx,
      Cmd.VerifyErasure(Cmd.EraseIndexIdsRequest(ids = Seq(2L, 5L),
        bm25 = Seq(s"$work/bm25_dirty"))))
      .as[(String, Long, Long, Long)].collect()(0)
    assert(dirty._4 > 0L, s"audit failed to flag surviving rows: $dirty")
    // refusals: empty ids, and ids with no index named
    intercept[IllegalArgumentException] {
      graft.api.Api.dispatch(ctx,
        Cmd.EraseIndexIds(Cmd.EraseIndexIdsRequest(ivf = Seq(idx))))
    }
    intercept[IllegalArgumentException] {
      graft.api.Api.dispatch(ctx,
        Cmd.EraseIndexIds(Cmd.EraseIndexIdsRequest(ids = Seq(1L))))
    }
    intercept[IllegalArgumentException] {
      graft.api.Api.dispatch(ctx,
        Cmd.VerifyErasure(Cmd.EraseIndexIdsRequest(ids = Seq(1L))))
    }
  }

  test("tier erasure audit: exact survivor counts, clean after a " +
    "deleteWhere through retained history, and a smuggled-back stale " +
    "file is flagged with its exact remnant count") {
    val work = tmpDir()
    val store = new graft.store.TierStore(spark, s"$work/store")
    val tier = graft.model.Tier.GenRaw
    def pts(devs: Seq[Int]) = devs.map(i =>
      ("m1", new java.sql.Timestamp(1700000000000L + i * 1000L), i.toDouble,
        s"d$i", "0", "sensor", "import", s"m1;$i"))
      .toDF("measurement", "time", "value", "dev_id", "location_id",
        "dev_type", "dir", "series_id")
    store.write(tier, pts(0 until 10))
    val pred = col("dev_id") === "d3"
    // pre-erase: the audit reports the live matching row exactly
    val (_, s0, f0) = store.auditErasure(tier, pred)
    assert(s0 == 10L && f0 == 1L, s"pre-erase audit ($s0, $f0)")
    // deleteWhere vacuums its superseded files in the same pass (the
    // erasure contract) — even through a retained compact snapshot the
    // audit must come back clean with the exact survivor count
    store.compact(tier, minFiles = 1, retainHistory = true): Unit
    assert(store.deleteWhere(tier, pred) > 0)
    val (_, s1, f1) = store.auditErasure(tier, pred)
    assert(s1 == 9L && f1 == 0L, s"post-erase audit ($s1, $f1)")
    // a stale file smuggled back in (foreign restore, operator mistake)
    // is EXACTLY what the raw walk exists to catch — plant one inside
    // the partition dir, bypassing every commit protocol
    val fs = fsOf(s"$work/store")
    val partDir = fs.listStatus(new HPath(fs.listStatus(
      new HPath(s"$work/store/tier=gen_raw")).filter(_.isDirectory)(0)
      .getPath.toString)).filter(_.isDirectory)(0).getPath
    pts(Seq(3)).drop("measurement").coalesce(1)
      .write.parquet(s"$work/stale")
    val staleFile = fs.listStatus(new HPath(s"$work/stale"))
      .filter(_.getPath.getName.endsWith(".parquet"))(0).getPath
    require(fs.rename(staleFile, new HPath(partDir, "restored-stale.parquet")))
    val (_, s2, f2) = store.auditErasure(tier, pred)
    assert(f2 == 1L && s2 == 10L, s"audit missed the planted remnant ($s2, $f2)")
  }

  test("IVF erase after a retained rebuild reclaims the old generation's " +
    "embedding copies as well") {
    val work = tmpDir()
    val idx = s"$work/idx"
    Similarity.buildIvfIndex(clustered(0, 20), idx, nLists = 2, trainIters = 1)
    Similarity.rebuildIvfIndex(spark, idx, nLists = 4, trainIters = 1,
      retainOld = true)
    val fs = fsOf(idx)
    assert(fs.exists(new HPath(s"$idx/lists")),
      "fixture: the retained legacy generation must exist pre-erase")
    val ids = Seq(1L, 8L)
    assert(Similarity.eraseFromIvfIndex(spark, idx, ids) == 2L)
    assertPhysicallyPurged(idx, "vec_id", ids, skipDir = _ == "centroids")
    assert(Similarity.readIvfLists(spark, idx).count() == 18L)
  }
}
