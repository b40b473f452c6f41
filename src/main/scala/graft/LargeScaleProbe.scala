package graft

import graft.api.Cmd
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Scale evidence one decade past sf1 for the two flagship LLM-pipeline
 * ops with the most machinery (round-14 ask #5): MinHash-LSH dedup
 * END-TO-END ([[graft.functions.Dedup.nearDupClusters]] — the
 * production entry point, hot-bucket cap included) and IVF build+query
 * ([[graft.functions.Similarity.buildIvfIndex]] /
 * [[graft.functions.Similarity.queryIvfIndex]]).
 *
 * Synthesizes a `factor`× sf0.1 corpus ON DISK first (the timed op
 * reads parquet exactly like the real fixture; synthesis is outside
 * the timed window), with [[FixtureScale]]'s replication semantics —
 * per-replica varied filler keeps cross-replica Jaccard ≈ 0.5, under
 * the 0.8 near-dup threshold, so TRUE-pair cardinality stays linear in
 * the factor; per-replica dimension rotation decorrelates cross-replica
 * cosines — but built with a single `explode(sequence(...))` instead of
 * FixtureScale's factor-way union, which stops being a plannable shape
 * around factor 100.
 *
 * Reports one JSON line per op: corpus rows, wall seconds, rows/s, and
 * the driver heap after a GC — the flat-driver-memory evidence (both
 * ops must hold NOTHING corpus-sized on the driver; cluster chasing and
 * centroid tables are bounded by cluster count and nLists, not rows).
 *
 * The `tsdb` op (explicit only — not part of `all`, so prior recorded
 * `all` runs stay comparable) probes the TSDB core instead: the 100 TB
 * claim there is that a FIXED-WINDOW query prices by its window, not
 * the corpus. It grows the event corpus along the TIME axis (replica r
 * shifts one base-span later — same devices, longer history: the way a
 * TSDB actually grows), routed-writes it through [[graft.store
 * .TierStore]], and times (a) the routed write, (b) a 1-hour
 * mean/time(1m) query through the full Api → planner → listing-sliced
 * store chain — expected FLAT across factors (partition pruning +
 * [[graft.store.TierFileIndex.Slice]] listing pruning), and (c) a
 * full-span daily count — the linear yardstick that proves (b)'s
 * flatness is pruning, not a small corpus.
 *
 * The `stream` op (explicit only) probes the stateful streaming
 * aggregator's scale axis: SERIES CARDINALITY. State is one row per
 * series (~435 B — BENCH_SF1.md), so the 100 TB question is how
 * per-batch cost and memory behave as live-series count grows a
 * decade. It synthesizes factor× the sf0.1 series set (each series
 * two points per micro-batch across two batches, so state is created,
 * carried, and re-read), runs [[graft.stream.Aggregator.streaming]]
 * under the RocksDBStateStoreProvider (the provider a large cluster
 * runs), and reports wall, rows/s, driver heap, and the checkpoint's
 * on-disk state size.
 *
 * Usage: runMain graft.LargeScaleProbe <factor> [minhash|ivf|tsdb|stream|all] [srcDir] [workDir]
 */
object LargeScaleProbe {

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.map(_.toInt).getOrElse(100)
    val op = args.lift(1).getOrElse("all")
    val src = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val work = args.lift(3).getOrElse(graft.Fixtures
      .newDir("graft_lsp").toFile.getAbsolutePath)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(shufflePartitions = cpus)
      .master(s"local[$cpus]").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def heapMb(): Long = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed >> 20
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    def report(name: String, rows: Long, sec: Double, extra: String): Unit =
      println(f"""{"probe":"$name","factor":$factor,"rows":$rows,""" +
        f""""sec":$sec%.1f,"rows_per_sec":${rows / sec}%.0f,""" +
        s""""driver_heap_mb":${heapMb()}$extra}""")

    // scaled documents on disk, synthesized once per (work, factor)
    def scaledDocs(): DataFrame = {
      val docsPath = s"$work/documents_x$factor.parquet"
      if (!new java.io.File(docsPath).exists) {
        val base = spark.read.parquet(s"$src/documents.parquet")
        // replicate with per-replica distinct filler (~tokens/2, so
        // cross-replica Jaccard ≈ 0.5 — see FixtureScale's rationale)
        val nFill = greatest(lit(1),
          (size(split(col("text"), "\\s+")) / 2).cast("int"))
        val filler = array_join(transform(sequence(lit(1), nFill),
          k => concat(lit("zf"), col("r"), lit("x"), k)), " ")
        val scaled = base
          .withColumn("r", explode(sequence(lit(0), lit(factor - 1))))
          .withColumn("text", when(col("r") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" "), filler)))
          .withColumn("doc_id", col("doc_id") + col("r") * lit(1000000L))
          .drop("r")
          .withColumn("n_chars", length(col("text")).cast("long"))
        // ~250k docs per output file: the scan parallelizes without a
        // repartition shuffle inside the timed op
        scaled.repartition(math.max(cpus, factor / 50))
          .write.mode("overwrite").parquet(docsPath)
      }
      spark.read.parquet(docsPath)
    }

    if (op == "minhash" || op == "all") {
      val docs = scaledDocs()
      val n = docs.count()
      val ((clusters, members), sec) = timed {
        val cl = graft.functions.Dedup.nearDupClusters(docs)
        val agg = cl.agg(countDistinct(col("cluster")), count(lit(1))).head()
        (agg.getLong(0), agg.getLong(1))
      }
      report("minhash_dedup_e2e", n, sec,
        s""","clusters":$clusters,"clustered_docs":$members""")
    }

    if (op == "bm25" || op == "all") {
      // same documents shape and replication as the minhash op
      val docs = scaledDocs()
      val n = docs.count()
      val idxPath = s"$work/bm25_x$factor"
      val (_, buildSec) = timed {
        graft.functions.Retrieval.buildBm25Index(docs, idxPath)
      }
      report("bm25_build", n, buildSec, "")
      val (hits, querySec) = timed {
        graft.functions.Retrieval.queryBm25Index(spark, idxPath,
          Seq("table", "hash", "merge", "scan"), k = 20).count()
      }
      report("bm25_query", n, querySec, s""","hits":$hits""")
    }

    if (op == "ivf" || op == "all") {
      val vecsPath = s"$work/embeddings_x$factor.parquet"
      val base = spark.read.parquet(s"$src/embeddings.parquet")
      val d = base.head().getAs[Seq[Float]]("embedding").size
      val rotated = transform(sequence(lit(0), lit(d - 1)),
        i => element_at(col("embedding"), pmod(i + col("r") * 7, lit(d)) + 1))
      base.withColumn("r", explode(sequence(lit(0), lit(factor - 1))))
        .withColumn("embedding",
          when(col("r") === 0, col("embedding")).otherwise(rotated))
        .withColumn("vec_id", col("vec_id") + col("r") * lit(1000000L))
        .drop("r")
        .repartition(math.max(cpus, factor / 50))
        .write.mode("overwrite").parquet(vecsPath)
      val vecs = spark.read.parquet(vecsPath)
      val n = vecs.count()
      // nLists: bounded so the N×nLists assignment cross stays linear-ish
      // in N at probe scale (the 100 TB path shards the TRAINING sample,
      // not the assignment — assignment is embarrassingly parallel)
      val nLists = 64
      val idxPath = s"$work/ivf_x$factor"
      val (_, buildSec) = timed {
        graft.functions.Similarity.buildIvfIndex(vecs, idxPath,
          nLists = nLists, trainIters = 1)
      }
      report("ivf_build", n, buildSec, s""","n_lists":$nLists""")
      val queries = vecs.filter(col("vec_id") < 100)
      val (hits, querySec) = timed {
        graft.functions.Similarity.queryIvfIndex(spark, idxPath, queries,
          k = 10, nProbes = 4).count()
      }
      report("ivf_query", n, querySec, s""","queries":100,"hits":$hits""")
    }

    if (op == "tsdb") {
      // scaled points on disk: the sf0.1 events (one month) replicated
      // along the time axis — replica r shifted r whole base spans later
      val ptsPath = s"$work/points_x$factor.parquet"
      val baseSpanSec = 31L * 24 * 3600 // events cover Jan 2024
      if (!new java.io.File(ptsPath).exists) {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$src/events.parquet")
        val ts = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            timestamp_micros(expr("ts div 1000"))
          case _ => col("ts").cast("timestamp")
        }
        raw.withColumn("ts", ts).select(
            concat(lit("app_"), col("event_type")).as("measurement"),
            col("ts").as("time"),
            col("value"),
            col("user_id").cast("string").as("dev_id"),
            (col("user_id") % 5).cast("string").as("location_id"),
            when(col("user_id") % 7 === 0, "meter.main_elec")
              .otherwise("sensor").as("dev_type"),
            concat(lit("app_"), col("event_type"), lit(";"),
              col("user_id")).as("series_id"))
          .withColumn("r", explode(sequence(lit(0), lit(factor - 1))))
          .withColumn("time", // bigint: r * span overflows int at r ≥ 802
            expr(s"timestampadd(SECOND, CAST(r AS BIGINT) * $baseSpanSec, time)"))
          .drop("r")
          .repartition(math.max(cpus, factor / 10))
          .write.mode("overwrite").parquet(ptsPath)
      }
      val pts = spark.read.parquet(ptsPath)
      val n = pts.count()
      val spanEnd = pts.agg(max(col("time"))).head()
        .getTimestamp(0).toInstant.plusSeconds(1)
      val root = s"$work/tsdb_x$factor"
      val store = new graft.store.TierStore(spark, root)
      val (_, wSec) = timed { store.writeRouted(pts) }
      report("tsdb_write", n, wSec,
        s""","days":${(factor * baseSpanSec) / 86400}""")
      val ctx = graft.api.Api.Context(spark, store, now = () => spanEnd)
      // (b) fixed 1-hour window at the span's end, full Api → planner →
      // listing-sliced store chain; cost must track the WINDOW
      val (bRows, bSec) = timed {
        graft.api.Api.dispatch(ctx,
          Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
            dataFunction = "mean", relativeTime = "1h", groupByTime = "1m",
            fillType = "none"))).count()
      }
      report("tsdb_query_1h", n, bSec, s""","result_rows":$bRows""")
      // (c) full-span daily count — touches every date partition of the
      // measurement: the linear yardstick
      val (cRows, cSec) = timed {
        graft.api.Api.dispatch(ctx,
          Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_click",
            dataFunction = "count", fromTime = "2024-01-01T00:00:00Z",
            toTime = spanEnd.toString, groupByTime = "1d",
            fillType = "none"))).count()
      }
      report("tsdb_query_full", n, cSec, s""","result_rows":$cRows""")
    }

    if (op == "stream") {
      import spark.implicits._
      // factor× the sf0.1 series set; one point per series per chunk,
      // two chunks = two micro-batches, so every series' state is
      // created in batch 1 and re-read/advanced in batch 2
      val inDir = s"$work/stream_in_x$factor"
      val nBase = 75000L // sf0.1 distinct series (5 types × 15k users)
      if (!new java.io.File(inDir).exists) {
        def chunk(c: Int): DataFrame =
          spark.range(nBase * factor).select(
            concat(lit("sensor_probe;"), col("id")).as("series_id"),
            lit("sensor_probe").as("measurement"),
            lit("mean").as("agg_func"),
            // 10-min sampling interval; chunk c covers minutes [20c, 20c+20)
            timestamp_seconds(lit(1704067200L) + lit(c * 1200) +
              (col("id") % 2) * 600 + lit(30)).as("time"),
            (col("id") % 97).cast("double").as("value"),
            lit("sensor").as("dev_type"))
        chunk(0).repartition(cpus).write.parquet(s"$inDir/c0")
        chunk(1).repartition(cpus).write.parquet(s"$inDir/c1")
        // the two chunks land as two dirs; a file stream with
        // latestFirst=false + maxFilesPerTrigger bounded to one chunk's
        // file count consumes them as two ordered micro-batches
      }
      val schema = spark.read.parquet(s"$inDir/c0").schema
      val n = nBase * factor * 2 // one point per series per chunk
      val ckpt = s"$work/stream_ckpt_x$factor"
      val out = s"$work/stream_out_x$factor"
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val (outRows, sec) = try {
        timed {
          val src = spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", cpus.toString)
            .parquet(s"$inDir/c*")
            .as[graft.stream.Aggregator.StreamIn]
          val q = graft.stream.Aggregator.streaming(src)
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .format("parquet").option("path", out).start()
          q.processAllAvailable()
          graft.stream.StreamOps.stopAndUnload(q)
          spark.read.parquet(out).count()
        }
      } finally
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      val stateBytes = org.apache.commons.io.FileUtils
        .sizeOfDirectory(new java.io.File(s"$ckpt/state"))
      report("stream_agg", n, sec,
        s""","series":${nBase * factor},"out_rows":$outRows,""" +
          s""""state_mb":${stateBytes >> 20}""")
    }
    spark.stop()
  }
}
