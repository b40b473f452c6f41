package graft

import java.sql.Timestamp

import graft.api.{Api, Cmd}
import graft.model.Tier
import graft.rollup.Downsampler
import graft.store.TierStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-9 store-ops trio: historical backfill, the rollup consistency
 *  audit, and the as-of corpus diff — edge cases the oracles
 *  (`s9_backfill`, `s9_rollup_verify`, `s9_asof_diff`) don't reach,
 *  plus their command-API round trips. */
class Round9OpsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String = graft.Fixtures
    .newDir("graft_r9").toFile.getAbsolutePath

  private def pts(vs: (String, String, Double)*): DataFrame =
    vs.map { case (d, dev, v) =>
      ("sensor_click", Timestamp.valueOf(s"$d 10:00:00"), v, dev, "1", "sensor")
    }.toDF("measurement", "time", "value", "dev_id", "location_id", "dev_type")

  test("backfill retires a rollup date whose source rows vanished, and " +
    "leaves dates outside the window untouched") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "1", 10.0), ("2024-01-02", "1", 20.0),
      ("2024-01-05", "1", 50.0)))
    Downsampler.backfill(store, "2024-01-01", "2024-01-05")
    def days(t: Tier): Set[String] = store.read(t)
      .select(to_date(col("time")).cast("string")).as[String].collect().toSet
    assert(days(Tier.GenDay) == Set("2024-01-01", "2024-01-02", "2024-01-05"))

    // the source for Jan 2 disappears (raw partition dropped); a backfill
    // of [01, 02] must retire Jan 2's stale rollup but NOT touch Jan 5
    // (outside the window)
    store.dropDatePartition(Tier.GenRaw, "2024-01-02")
    Downsampler.backfill(store, "2024-01-01", "2024-01-02")
    assert(days(Tier.GenDay) == Set("2024-01-01", "2024-01-05"))
    // inverted window refuses
    intercept[IllegalArgumentException] {
      Downsampler.backfill(store, "2024-01-05", "2024-01-01")
    }
  }

  test("verifyRollups: clean window is all-zero; missing and extra rows " +
    "are counted on the right dates; repair via backfill re-certifies") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "1", 10.0), ("2024-01-01", "2", 12.0),
      ("2024-01-02", "1", 20.0)))
    Downsampler.backfill(store, "2024-01-01", "2024-01-02")
    val hop = Seq(Tier.cascade.head)
    def report(): Map[String, (Long, Long, Long, Long, Long)] =
      Downsampler.verifyRollups(store, "2024-01-01", "2024-01-02", hops = hop)
        .collect().map(r => r.getAs[String]("date") ->
          ((r.getAs[Long]("n_expected"), r.getAs[Long]("n_actual"),
            r.getAs[Long]("n_missing"), r.getAs[Long]("n_extra"),
            r.getAs[Long]("n_value_mismatch")))).toMap
    assert(report() == Map(
      "2024-01-01" -> ((2L, 2L, 0L, 0L, 0L)),
      "2024-01-02" -> ((1L, 1L, 0L, 0L, 0L))))

    // plant a MISSING row: replace Jan 1's rollup with only device 1's
    val d1 = store.read(Tier.GenRaw)
      .filter(col("date") === "2024-01-01" && col("dev_id") === "1").drop("date")
    store.replaceDatePartitions(Tier.GenDay,
      Downsampler.downsample(d1, 1), Seq("2024-01-01"))
    assert(report()("2024-01-01") == ((2L, 1L, 1L, 0L, 0L)))

    // repair with backfill; the audit must certify clean again
    Downsampler.backfill(store, "2024-01-01", "2024-01-02")
    assert(report()("2024-01-01") == ((2L, 2L, 0L, 0L, 0L)))

    // plant a DUPLICATE-COPY defect: Jan 2's correct rollup appended a
    // second time — the audit counts the surplus copy as extra (value
    // clean, nothing missing), it must not multiply through the join
    store.write(Tier.GenDay, Downsampler.downsample(
      store.read(Tier.GenRaw).filter(col("date") === "2024-01-02")
        .drop("date"), 1))
    assert(report()("2024-01-02") == ((1L, 2L, 0L, 1L, 0L)))
    Downsampler.backfill(store, "2024-01-02", "2024-01-02")
    assert(report()("2024-01-02") == ((1L, 1L, 0L, 0L, 0L)))
  }

  test("diffAsOf: identical pins diff empty; row multiplicity is " +
    "respected; a pre-history pin diffs as all-added") {
    val store = new TierStore(spark, tmpDir())
    // duplicate row: the SAME point twice — multiset semantics must
    // report the second copy's arrival as one added row
    store.writeRouted(pts(("2024-01-01", "1", 10.0)))
    val t1 = store.pinNow() // logical: no clock, no sleep
    store.writeRouted(pts(("2024-01-01", "1", 10.0), ("2024-01-02", "2", 20.0)))
    val t2 = store.pinNow()

    def diff(a: graft.store.AsOfPin, b: graft.store.AsOfPin): Seq[(String, String, Double)] =
      store.diffAsOf(Tier.GenRaw, a, b)
        .select(col("change"), col("dev_id"), col("value"))
        .as[(String, String, Double)].collect().toSeq.sorted
    assert(diff(t1, t1).isEmpty)
    assert(diff(t2, t2).isEmpty)
    assert(diff(t1, t2) == Seq(("added", "1", 10.0), ("added", "2", 20.0)))
    // reversed pins: the same delta, labeled from the other side
    assert(diff(t2, t1) == Seq(("removed", "1", 10.0), ("removed", "2", 20.0)))
    // a pin before any data: everything at t2 is "added"
    val preHistory = graft.store.AsOfPin(Map.empty, Map.empty, 0L)
    assert(diff(preHistory, t2).count(_._1 == "added") == 3)
  }

  test("streamingIvfAppend: a full replay duplicates every streamed " +
    "vector; compactIvfLists repairs it and folds the per-batch files") {
    import graft.functions.Similarity
    val work = tmpDir()
    // deterministic toy corpus: 20 vectors in 4D
    val emb = spark.range(20).select(col("id").as("vec_id"),
      array((0 until 4).map(i =>
        (pmod(col("id") * (i + 3), lit(7)).cast("float") + lit(0.1f))): _*)
        .as("embedding"))
    Similarity.buildIvfIndex(emb.filter(col("vec_id") < 10), s"$work/idx",
      nLists = 2, trainIters = 2)
    val incoming = emb.filter(col("vec_id") >= 10)
    incoming.write.parquet(s"$work/in")
    def streamOnce(tag: String): Unit = {
      val q = Similarity.streamingIvfAppend(
        spark.readStream.schema(incoming.schema).parquet(s"$work/in"),
        s"$work/idx", s"$work/ckpt_$tag")
      q.processAllAvailable(); q.stop()
    }
    streamOnce("a")
    // a FRESH-CHECKPOINT rerun over the same input is a NEW writer in
    // the index ledger (same-checkpoint crash replays are exactly-once
    // — Round10IndexSpec): every streamed vector lands twice
    streamOnce("b")
    // resolver-routed read: after a manifest-publish fold the live rows
    // sit in committed _v= snapshots a plain parquet read cannot see
    val lists = () => Similarity.readIvfLists(spark, s"$work/idx")
    assert(lists().count() == 30L) // 10 built + 2 × 10 streamed
    val (before, after) = Similarity.compactIvfLists(spark, s"$work/idx",
      targetFileBytes = 1L << 30, minFiles = 2)
    assert(after < before, s"no file fold: $before -> $after")
    assert(lists().count() == 20L) // duplicates repaired
    assert(lists().select("vec_id").distinct().count() == 20L)
    // the repaired index answers exactly like brute force at full probe
    val got = Similarity.queryIvfIndex(spark, s"$work/idx",
      emb.filter(col("vec_id") === 0), k = 3, nProbes = 2)
      .select("vec_id").as[Long].collect().toSet
    val want = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") === 0),
      k = 3).select("vec_id").as[Long].collect().toSet
    assert(got == want)
    // the int8 twin columns must survive the streaming append AND the
    // compaction rewrite — the quantized (IVFADC-style) probe reads
    // only q8/nq8 in its candidate phase and would break at deployment
    // if either path dropped them
    val gotQ = Similarity.queryIvfIndexQuantized(spark, s"$work/idx",
      emb.filter(col("vec_id") === 0), k = 3, nProbes = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(gotQ == want)
  }

  test("registered continuous queries: CRUD through the command API, " +
    "refusals, execution by maintenance and backfill, delete_object " +
    "cq/database parity") {
    val storeRoot = tmpDir()
    val store = new TierStore(spark, storeRoot)
    val ctx = Api.Context(spark, store,
      now = () => java.time.Instant.parse("2024-01-03T00:00:00Z"))
    store.addRetentionPolicy(graft.model.Tier("fast", "12 weeks", "5 minutes"))

    // refusals: unknown RPs, self-target, non-day-dividing resolution
    intercept[IllegalArgumentException] {
      store.addCq("x", "nope", "fast", "5m")
    }
    intercept[IllegalArgumentException] {
      store.addCq("x", "gen_raw", "gen_raw", "5m")
    }
    intercept[IllegalArgumentException] {
      store.addCq("x", "gen_raw", "fast", "7m") // 7 min does not divide a day
    }

    val cqs = Api.dispatch(ctx,
      Cmd.AddCq("raw_to_fast", "gen_raw", "fast", "5m"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    assert(cqs.toSeq == Seq(("raw_to_fast", "gen_raw", "fast", 5L)))

    // the SAME maintenance pass executes the registered hop
    store.writeRouted(pts(("2024-01-01", "1", 10.0), ("2024-01-01", "1", 20.0)))
    Downsampler.maintain(store, java.time.Instant.parse("2024-01-03T00:00:00Z"),
      sinceDays = 5)
    val fast = store.tierByName("fast").get
    assert(store.read(fast).select("value").as[Double].collect().toSeq ==
      Seq(15.0)) // both points share the 10:00 5-min bucket
    // ...and backfill honors it too: poison, then window-repair
    store.write(fast, pts(("2024-01-01", "9", 999.0)))
    Downsampler.backfill(store, "2024-01-01", "2024-01-01")
    assert(store.read(fast).select("value").as[Double].collect().toSeq ==
      Seq(15.0))

    // the default audit covers the registered CQ hop too, and certifies
    // the custom tier clean after the repair
    val audit = Downsampler.verifyRollups(store, "2024-01-01", "2024-01-01")
      .filter(col("tier") === "fast").collect()
    assert(audit.length == 1 &&
      audit.head.getAs[Long]("n_missing") == 0L &&
      audit.head.getAs[Long]("n_extra") == 0L &&
      audit.head.getAs[Long]("n_value_mismatch") == 0L)
    // explicit custom hop resolves its resolution from the registration
    assert(Downsampler.verifyRollups(store, "2024-01-01", "2024-01-01",
      hops = Seq((Tier.GenRaw, store.tierByName("fast").get))).count() == 1L)

    // DURABILITY: the reference keeps RPs and CQs in InfluxDB metadata —
    // a fresh TierStore attaching to the same root must see both
    val reattached = new TierStore(spark, storeRoot)
    assert(reattached.tierByName("fast").contains(
      graft.model.Tier("fast", "12 weeks", "5 minutes")))
    assert(reattached.continuousQueries.map(_.name) == Seq("raw_to_fast"))

    // delete_object parity: "cq" unregisters (admin.go:364)...
    Api.dispatch(ctx, Cmd.DeleteObject("cq", "raw_to_fast"))
    assert(Api.dispatch(ctx, Cmd.GetCqs).count() == 0L)
    assert(new TierStore(spark, storeRoot).continuousQueries.isEmpty) // durable
    // ...and "database" drops the store root (admin.go:360-362 DropDB)
    Api.dispatch(ctx, Cmd.DeleteObject("database", "any"))
    assert(store.read(Tier.GenRaw).count() == 0L)
  }

  test("plan assertions: a caller predicate on diffAsOf pushes into BOTH " +
    "Except legs' scans, and verifyRollups' window prunes partitions — " +
    "the scaladoc scale claims, checked against the physical plan") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "1", 10.0)))
    val t1 = store.pinNow()
    store.writeRouted(pts(("2024-01-02", "1", 20.0)))
    val t2 = store.pinNow()
    // a scoped diff must prune like a scoped read: the measurement
    // equality reaches BOTH pins' scans as a partition filter (distinct
    // pins → distinct file sets, so plan reuse cannot merge the legs)
    val scoped = store.diffAsOf(Tier.GenRaw, t1, t2)
      .filter(col("measurement") === "sensor_click")
    val plan = scoped.queryExecution.executedPlan.toString
    val pruned = "PartitionFilters: \\[[^\\]]*measurement[^\\]]*\\]".r
      .findAllIn(plan).toSeq
    assert(pruned.size >= 2,
      s"expected the measurement filter pushed into both pins' scans; " +
        s"found ${pruned.size} in:\n$plan")

    Downsampler.backfill(store, "2024-01-01", "2024-01-02")
    val audit = Downsampler.verifyRollups(store, "2024-01-02", "2024-01-02",
      hops = Seq(Tier.cascade.head))
    val auditScans = audit.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).filter(_.contains("FileScan"))
    assert(auditScans.nonEmpty)
    auditScans.foreach(s => assert(
      "PartitionFilters: \\[[^\\]]*date".r.findFirstIn(s).isDefined,
      s"date window not pushed to partition pruning:\n$s"))
  }

  test("stopAndUnload: deterministic teardown is safe for a concurrent " +
    "stateful query — its providers reload and results stay exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val work = tmpDir()
    def startCount(src: MemoryStream[Int], tag: String) =
      src.toDF().groupBy(col("value") % 3).count()
        .writeStream.outputMode(OutputMode.Complete())
        .option("checkpointLocation", s"$work/ckpt_$tag")
        .format("memory").queryName(s"r9_unload_$tag").start()
    val a = MemoryStream[Int]; val b = MemoryStream[Int]
    val qa = startCount(a, "a"); val qb = startCount(b, "b")
    a.addData(1 to 6: _*); b.addData(1 to 3: _*)
    qa.processAllAvailable(); qb.processAllAvailable()
    // tear down A with the deterministic unload — GLOBAL, so B's
    // providers are dropped too; B must reload them lazily and keep
    // counting exactly
    graft.stream.StreamOps.stopAndUnload(qa)
    assert(!qa.isActive)
    b.addData(4 to 9: _*)
    qb.processAllAvailable()
    val counts = spark.table("r9_unload_b")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(counts == Map(0 -> 3L, 1 -> 3L, 2 -> 3L), counts.toString)
    graft.stream.StreamOps.stopAndUnload(qb)
    graft.stream.StreamOps.stopAndUnload(qb) // idempotent on a stopped query
  }

  test("backfill / verify_rollup / diff_data_points command round trips") {
    val store = new TierStore(spark, tmpDir())
    store.writeRouted(pts(("2024-01-01", "1", 10.0), ("2024-01-02", "1", 20.0)))
    val ctx = Api.Context(spark, store)
    val t1 = store.pinNow()

    val rep = Api.dispatch(ctx,
      Cmd.BackfillRequest(fromDate = "2024-01-01", toDate = "2024-01-02"))
      .collect()
    assert(rep.head.getAs[String]("status") == "ok")
    assert(store.read(Tier.GenDay).count() == 2L)

    val audit = Api.dispatch(ctx,
      Cmd.VerifyRollupRequest(fromDate = "2024-01-01", toDate = "2024-01-02"))
      .filter(col("tier") === "gen_day").collect()
    assert(audit.length == 2 &&
      audit.forall(r => r.getAs[Long]("n_missing") == 0L &&
        r.getAs[Long]("n_extra") == 0L &&
        r.getAs[Long]("n_value_mismatch") == 0L))

    val t2 = store.pinNow()
    val d = Api.dispatch(ctx,
      Cmd.DiffRequest(tier = "gen_day", fromPin = t1.encoded, toPin = t2.encoded))
      .select("change").as[String].collect()
    assert(d.length == 2 && d.forall(_ == "added")) // rollups born after t1
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.DiffRequest(tier = "nope", fromPin = t1.encoded, toPin = t2.encoded))
    }
  }
}
