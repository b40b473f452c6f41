package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import scala.collection.mutable

import graft.stream.{Aggregator, StreamOps}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/**
 * `aggregate_stream`: drain a backlog of canonical points through
 * `Aggregator.streaming`, the 30 s pre-aggregation plus 10-min counter
 * differences, one 30 s tick per micro-batch. State size and per-series
 * cost dominate here and nowhere else.
 */
object AggregateStream {
  val Series = 20000
  val TicksPerSecond = 2
  val TickMs = 30000L

  val schema: StructType = StructType(Seq(
    StructField("series_id", StringType), StructField("measurement", StringType),
    StructField("agg_func", StringType), StructField("ms", LongType),
    StructField("value", DoubleType), StructField("dev_type", StringType)))

  /** The points of tick `tick`, as generated. */
  def tickPoints(gen: Gen, tick: Long, startMs: Long)
      : Seq[(String, String, String, Long, Double, String)] =
    (0 until Series).flatMap { s =>
      (0 until gen.seriesRate(s)).map(j => gen.point(s, tick, j, startMs + tick * TickMs))
    }

  /** One CSV file per tick; modification times in tick order, because the
   *  file source takes the oldest files first. */
  def writeTicks(gen: Gen, dir: String, from: Long, to: Long, startMs: Long): Long = {
    var n = 0L
    val base = System.currentTimeMillis() - (to - from + 1) * 1000
    (from until to).foreach { t =>
      val sb = new StringBuilder
      tickPoints(gen, t, startMs).foreach { case (sid, m, a, ms, v, d) =>
        sb.append(sid).append(',').append(m).append(',').append(a).append(',')
          .append(ms).append(',').append(v).append(',').append(d).append('\n')
        n += 1
      }
      val p = Paths.get(dir, f"tick-$t%06d.csv")
      Files.write(p, sb.toString.getBytes(UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(base + (t - from) * 1000))
    }
    n
  }

  def start(r: Run, dir: String, ck: String, sink: java.util.concurrent.ConcurrentLinkedQueue[Row])
      : StreamingQuery = {
    val spark = r.spark
    import spark.implicits._
    val in = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").csv(dir)
      .select(col("series_id"), col("measurement"), col("agg_func"),
        timestamp_millis(col("ms")).as("time"), col("value"), col("dev_type"))
      .as[Aggregator.StreamIn]
    Aggregator.streaming(in).toDF()
      .writeStream
      .option("checkpointLocation", ck)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        r.tracer.span("stream.emit", id.toString)(b.collect().foreach(sink.add))
        ()
      }
      .start()
  }

  def run(r: Run): Report = {
    val rep = new Report
    val spark = r.spark
    val ticks = TicksPerSecond * r.seconds
    val startMs = r.anchorMs / TickMs * TickMs - ticks * TickMs
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
    if (r.traced) r.obs

    val setups = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      val dir = r.dir(s"ag$k/ticks")
      val n = writeTicks(r.gen, dir, 0, ticks, startMs)
      val warm = r.dir(s"ag$k/warm")
      writeTicks(r.gen, warm, ticks, ticks + 2, startMs)
      val wq = start(r, warm, s"${r.work}/ag$k/warm-ck", new java.util.concurrent.ConcurrentLinkedQueue[Row]())
      wq.processAllAvailable()
      StreamOps.stopAndUnload(wq)
      val dt = (System.nanoTime() - t0) / 1e9
      if (k < 3) Checks.rmTree(r.work.resolve(s"ag$k"))
      (dt, (dir, n))
    }
    rep.e2e("setup_s") = (Obs.median(setups.map(_._1)), "s")
    rep.notes += s"setup_s: median of ${setups.size} set-ups: ${setups.map(s => f"${s._1}%.3f").mkString(", ")}"
    val (dir, events) = setups.last._2

    IngestTrace.drain() // set-up batches
    r.tracer.markTimed()
    val (gc0, gcMs0) = Obs.gcTotals()
    val cpu0 = Obs.cpuS()
    val t0 = System.nanoTime()
    val q = start(r, dir, s"${r.work}/ag-ck", sink)
    q.processAllAvailable()
    val drainS = (System.nanoTime() - t0) / 1e9
    val drainCpuS = Obs.cpuS() - cpu0
    val heap = Obs.heapAfterGcMb()
    val (gc1, gcMs1) = Obs.gcTotals()
    val ps = Frames.progressAfter(q, -1)
    val runId = q.runId.toString
    StreamOps.stopAndUnload(q)

    val trig = ps.map(Frames.dur(_, "triggerExecution"))
    val (_, tp, _) = Obs.tail(trig)
    rep.e2e("throughput_per_s") = (events / drainS, "1/s")
    rep.notes += f"drain used $drainCpuS%.1f CPU s in $drainS%.1f s (${drainCpuS / drainS}%.2f of ${r.cores} cores)"
    rep.notes += s"micro-batch ms in order: ${trig.map(_.toLong).mkString(" ")}"
    rep.e2e("latency_p50_ms") = (rep.timing("tick micro-batch ms (latency_p50_ms)", trig, 50), "ms")
    rep.e2e("latency_tail_ms") = (rep.timing("tick micro-batch ms (latency_tail_ms)", trig, tp), "ms")
    rep.e2e("heap_after_gc_mb") = (heap, "MB")
    rep.notes += f"events_per_s = ${events / drainS}%.1f 1/s ($events points, $ticks ticks, drain $drainS%.3f s)"

    // correctness: output equals the fold computed without the operator
    val actual = scala.jdk.CollectionConverters.CollectionHasAsScala(sink).asScala.toSeq.map { x =>
      (x.getAs[String]("series_id"), x.getAs[java.sql.Timestamp]("time").getTime,
        x.getAs[String]("agg_func"), x.getAs[Double]("value"))
    }
    val c0 = System.nanoTime()
    val expected = Expect.run(r.gen, ticks, startMs)
    rep.attempted = math.max(expected.size, actual.size)
    val problems = Expect.compare(actual, expected)
    rep.failed = problems.size
    rep.notes += f"check took ${(System.nanoTime() - c0) / 1e9}%.1f s"
    problems.take(20).foreach(rep.problems += _)

    if (r.traced) {
      Frames.progressLayers(rep, ps)
      rep.layer("sources.files") = (ticks.toDouble, "count")
      val last = ps.lastOption
      val ops = last.toSeq.flatMap(_.stateOperators.toSeq)
      rep.layer("stream.state_rows") = (ops.map(_.numRowsTotal.toDouble).sum, "count")
      rep.layer("stream.state_bytes") = (ops.map(_.memoryUsedBytes.toDouble).sum, "B")
      rep.layer("stream.state_commit_ms") = (Obs.median(ps.map(_.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms")
      rep.layer("stream.shuffle_bytes") = (r.obs.sum(runId).shuffleBytes.toDouble, "B")
      rep.layer("stream.rows_out") = (actual.size.toDouble, "count")
      rep.layer("stream.emit_ratio") = (actual.size.toDouble / events, "ratio")
      rep.layer("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      rep.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
    }
    rep
  }
}

/** The pre-aggregation's expected output, computed tick by tick in plain
 *  Scala from the generated points, without the streaming operator. */
object Expect {
  private final case class St(buffer: Vector[Double], lastEmitted: Double, lastSeen: Long,
      agg: String, devType: String)

  def difference(vs: Seq[Double]): Double =
    vs.zip(vs.drop(1)).map { case (a, b) => if (b >= a) b - a else 0.0 }.sum

  def withoutOutliers(vs: Seq[Double]): Seq[Double] = {
    val drop: Set[Double] =
      if (vs.length < 4) Set.empty
      else {
        val s = vs.sorted
        def med(xs: Seq[Double]) =
          if (xs.isEmpty) 0.0
          else if (xs.length % 2 == 1) xs(xs.length / 2)
          else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2
        val q1 = med(s.take(s.length / 2)); val q3 = med(s.takeRight(s.length / 2))
        val iqr = q3 - q1
        vs.filter(v => v < q1 - 3 * iqr || v > q3 + 3 * iqr).toSet
      }
    vs.filter(v => v != 0.0 && !drop.contains(v))
  }

  /** (series, emit time ms, agg_func, value) */
  def run(gen: Gen, ticks: Int, startMs: Long): Seq[(String, Long, String, Double)] = {
    val state = mutable.Map.empty[String, St]
    val out = mutable.ArrayBuffer.empty[(String, Long, String, Double)]
    (0L until ticks).foreach { t =>
      AggregateStream.tickPoints(gen, t, startMs).groupBy(_._1).foreach { case (sid, rows) =>
        val batch = rows.sortBy(_._4)
        val now = batch.last._4 / 1000
        val prev = state.getOrElse(sid, St(Vector.empty, 0.0, now, batch.head._3, batch.head._6))
        val kept = if (now - prev.lastSeen > 120 * 60) Vector.empty else prev.buffer
        var buffer = if (prev.agg == "last") Vector(batch.last._5) else kept ++ batch.map(_._5)
        var last = prev.lastEmitted
        val isDiff = prev.agg == "difference"
        val hourly = prev.devType == "meter.main_elec"
        if (buffer.nonEmpty && (!isDiff || (now / 60) % 10 == 0)) {
          val v = prev.agg match {
            case "mean" => buffer.sum / buffer.length
            case "min" => buffer.min
            case "max" => buffer.max
            case "sum" => buffer.sum
            case "last" => buffer.last
            case "difference" => difference(if (hourly) buffer else withoutOutliers(buffer))
          }
          buffer = if (isDiff) Vector(buffer.last) else Vector.empty
          if ((!isDiff || v <= 100.0) && v != last && (!isDiff || v != 0.0)) {
            last = v
            val at = if (isDiff && hourly) { val x = now - 3600; x - x % 3600 + 59 * 60 } else now
            out += ((sid, at * 1000, prev.agg, v))
          }
        }
        state(sid) = prev.copy(buffer = buffer, lastEmitted = last, lastSeen = now)
      }
    }
    out.toSeq
  }

  def compare(actual: Seq[(String, Long, String, Double)],
      expected: Seq[(String, Long, String, Double)]): Seq[String] = {
    val a = actual.sortBy(x => (x._1, x._2, x._4))
    val e = expected.sortBy(x => (x._1, x._2, x._4))
    val byKey = a.groupBy(x => (x._1, x._2)).map { case (k, v) => k -> v.map(_._4) }
    val eKey = e.groupBy(x => (x._1, x._2)).map { case (k, v) => k -> v.map(_._4) }
    val missing = eKey.collect { case (k, vs) if !byKey.get(k).exists(g =>
      g.size == vs.size && g.sorted.zip(vs.sorted).forall { case (x, y) => Checks.close(x, y) }) =>
      s"aggregate $k: expected ${vs.mkString("|")}, got ${byKey.get(k).map(_.mkString("|")).getOrElse("nothing")}"
    }
    val extra = byKey.keys.filterNot(eKey.contains).map(k => s"aggregate $k: unexpected ${byKey(k).mkString("|")}")
    (missing ++ extra).toSeq.sorted
  }
}
