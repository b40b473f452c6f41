package graft.stream

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming pre-aggregation — the reference's in-memory DataPointAggregator
 * (reference: src/integration/tsdb/processing/agreggator.go) as Spark
 * operators.
 *
 * Two stages, keyed by `series_id`:
 *  - A1: every 30 s per series, mean/min/max/sum/last of the buffered
 *    values, emitting ONLY when the value changed vs the previous emission
 *    (agreggator.go:158-214, suppression at 203-207).
 *  - A2: every 10 min (wall-clock aligned), the counter difference of
 *    growing series — Σ max(vᵢ₊₁−vᵢ, 0) with meter-reset deltas skipped —
 *    carrying the last value as the seed of the next window
 *    (agreggator.go:217-305, core math 285-305), with zero/IQR-outlier
 *    pre-filtering (311-340), 120-min staleness guard (236-241), the >100
 *    sanity bound (261-264) and the hourly-accumulated profile time shift
 *    (243-246, 307-310).
 *
 * Batch and streaming share the same per-series logic: the batch entry
 * points shuffle once on series_id and run the sequential per-series fold
 * inside `flatMapGroups` / window functions; the streaming entry point is
 * `flatMapGroupsWithState` with the same fold and a processing-time
 * timeout as the staleness guard. Scale: state is O(values per series per
 * window) ≈ a few hundred doubles; series are hash-distributed across
 * executors, so 10M series on 1000 executors is ~10k keys each.
 */
object Aggregator {

  val StaleCutoffMinutes = 120L   // agreggator.go:236-241
  val MaxHourlyEnergy = 100.0     // agreggator.go:261-264
  val HourlyProfileDevType = "meter.main_elec" // process.go:158-162, metadata/interface.go:3-5

  // ---------- pure per-series math (unit-vector parity, FIXTURES.md §6) ----------

  /** Σ of non-negative consecutive deltas; negative delta = meter reset,
   *  skipped (agreggator.go:285-305). [10,12,10,20,30] → 22. */
  def calculateDifference(values: Seq[Double]): Double = {
    if (values.length <= 1) return 0.0
    values.iterator.sliding(2).withPartial(false).map { w =>
      if (w(1) >= w(0)) w(1) - w(0) else 0.0
    }.sum
  }

  /** Quartiles via the median-split (Tukey) method used by
   *  montanaflynn/stats (agreggator.go:338-340). */
  def quartiles(values: Seq[Double]): (Double, Double) = {
    val s = values.sorted
    val n = s.length
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0
      else if (xs.length % 2 == 1) xs(xs.length / 2)
      else (xs(xs.length / 2 - 1) + xs(xs.length / 2)) / 2.0
    val lower = s.take(n / 2)
    val upper = s.takeRight(n / 2)
    (median(lower), median(upper))
  }

  /** Extreme (outer-fence, 3×IQR) outliers (stats.QuartileOutliers).
   *  [100,120,130,400,140,150] → {400}. */
  def extremeOutliers(values: Seq[Double]): Set[Double] = {
    if (values.length < 4) return Set.empty
    val (q1, q3) = quartiles(values)
    val iqr = q3 - q1
    val (lo, hi) = (q1 - 3 * iqr, q3 + 3 * iqr)
    values.filter(v => v < lo || v > hi).toSet
  }

  /** Drop zeros and extreme outliers (agreggator.go:311-340 filterSeries). */
  def filterSeries(values: Seq[Double]): Seq[Double] = {
    val out = extremeOutliers(values)
    values.filter(v => v != 0.0 && !out.contains(v))
  }

  /** Previous hour at :59:00 (agreggator.go:307-310 adjustTimeByOneHour). */
  def adjustTimeByOneHour(epochSec: Long): Long = {
    val t = epochSec - 3600
    t - (t % 3600) + 59 * 60
  }

  // ---------- batch forms ----------

  /**
   * A1 as a batch plan: tumbling `intervalSec` windows per series, the
   * series' agg_func applied, change-suppressed vs the previous emission
   * (first emission compares against 0 — the reference seeds Value=0 on
   * first sight, agreggator.go:129-140). Emission time = window end
   * (reference stamps the tick's wall clock, agreggator.go:196).
   */
  def aggregate(points: DataFrame, intervalSec: Long = 30): DataFrame = {
    val bucket = floor(unix_timestamp(col("time")) / intervalSec) * intervalSec
    val agged = points
      .filter(col("agg_func").isin("mean", "min", "max", "sum", "last"))
      .groupBy(col("series_id"), col("measurement"), col("agg_func"),
        bucket.as("bucket"))
      .agg(
        avg("value").as("_mean"), min("value").as("_min"), max("value").as("_max"),
        sum("value").as("_sum"), max_by(col("value"), col("time")).as("_last"))
      .withColumn("value",
        when(col("agg_func") === "mean", col("_mean"))
          .when(col("agg_func") === "min", col("_min"))
          .when(col("agg_func") === "max", col("_max"))
          .when(col("agg_func") === "sum", col("_sum"))
          .otherwise(col("_last")))
    val w = Window.partitionBy(col("series_id")).orderBy(col("bucket"))
    agged
      .withColumn("_prev", coalesce(lag(col("value"), 1).over(w), lit(0.0)))
      .filter(col("value") =!= col("_prev")) // agreggator.go:203-207
      .select(col("series_id"), col("measurement"), col("agg_func"),
        timestamp_seconds(col("bucket") + intervalSec).as("time"), col("value"))
  }

  /**
   * A2 as a pure window-function plan (the SQL-aggregate route of
   * SURVEY.md A2): per series and 10-minute epoch-aligned window,
   * Σ max(vᵢ₊₁−vᵢ, 0) with the lag crossing window boundaries — the seed
   * carry-over of agreggator.go:258 falls out of lagging over the whole
   * series. No per-row state: one shuffle on series_id, everything else
   * codegen'd window + hash aggregation. This is the query-side/batch
   * counterpart of `difference` (which adds the streaming-side guards:
   * outlier filter, staleness, change suppression).
   */
  def windowedDifference(points: DataFrame, samplingMinutes: Int = 10): DataFrame = {
    val sec = samplingMinutes * 60L
    val w = Window.partitionBy(col("series_id")).orderBy(col("time"), col("value"))
    points
      .withColumn("_delta", col("value") - lag(col("value"), 1).over(w))
      .withColumn("_pos", greatest(col("_delta"), lit(0.0)))
      .filter(col("_delta").isNotNull)
      .groupBy(col("series_id"), col("measurement"),
        (floor(unix_timestamp(col("time")) / sec) * sec).as("bucket"))
      .agg(round(sum(col("_pos")), 6).as("value"))
      .select(col("series_id"), col("measurement"),
        (col("bucket") + sec).as("time_sec"), col("value"))
  }

  case class DiffIn(series_id: String, measurement: String,
      time: Timestamp, value: Double, dev_type: String)
  case class DiffOut(series_id: String, measurement: String,
      time: Timestamp, value: Double)

  /**
   * A2 as a batch plan: one shuffle on series_id with a SECONDARY SORT
   * (`repartition` + `sortWithinPartitions`), then a streaming fold over
   * the sorted iterator inside `mapPartitions`. Nothing materializes a
   * whole series in memory — the old `flatMapGroups` + `toVector.sortBy`
   * form buffered every row of a series on one executor, which a
   * multi-year high-frequency meter would blow up at 100× scale. State
   * per in-flight series is O(values per sampling window).
   *
   * Divergence note: the hourly-profile flag is read from the FIRST row
   * of a series (the reference resolves it from device metadata, constant
   * per series — process.go:158-162; the previous implementation read it
   * from the last row, equivalent for constant dev_type).
   */
  def difference(points: DataFrame, samplingMinutes: Int = 10): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val sampleSec = samplingMinutes * 60L
    val in = points
      .filter(col("agg_func") === "difference")
      .select(col("series_id"), col("measurement"), col("time"),
        col("value").cast("double").as("value"),
        coalesce(col("dev_type"), lit("")).as("dev_type"))
      .as[DiffIn]
    in.repartition(col("series_id"))
      .sortWithinPartitions(col("series_id"), col("time"))
      .mapPartitions(it => foldSortedPartition(it, sampleSec))
      .toDF()
  }

  /** Fold a (series_id, time)-sorted partition iterator, streaming one
   *  run of rows per series through a DiffFold — constant memory in the
   *  series length. */
  private def foldSortedPartition(it: Iterator[DiffIn], sampleSec: Long): Iterator[DiffOut] =
    new Iterator[DiffOut] {
      private val pending = scala.collection.mutable.Queue.empty[DiffOut]
      private var fold: DiffFold = null
      private def advance(): Unit = {
        while (pending.isEmpty && it.hasNext) {
          val r = it.next()
          if (fold == null || fold.seriesId != r.series_id) {
            if (fold != null) pending ++= fold.finish()
            fold = new DiffFold(r.series_id, r.measurement,
              r.dev_type == HourlyProfileDevType, sampleSec)
          }
          pending ++= fold.push(r)
        }
        if (pending.isEmpty && fold != null) { pending ++= fold.finish(); fold = null }
      }
      override def hasNext: Boolean = { advance(); pending.nonEmpty }
      override def next(): DiffOut = { advance(); pending.dequeue() }
    }

  /** The reference's per-series 10-minute sampling loop as an incremental
   *  fold (agreggator.go:217-305): rows are pushed in time order; window
   *  flushes emit as soon as a row crosses a boundary. */
  private final class DiffFold(val seriesId: String, measurement: String,
      hourly: Boolean, sampleSec: Long) {
    private var buffer = Vector.empty[Double]
    private var lastEmitted = 0.0
    private var lastSeen: Long = Long.MinValue
    private var windowEnd: Long = Long.MinValue
    private val out = scala.collection.mutable.ArrayBuffer.empty[DiffOut]

    private def flush(tickSec: Long): Unit = {
      if (buffer.nonEmpty) {
        // staleness: if the newest buffered value is older than 120 min
        // before the tick, discard (agreggator.go:236-241)
        if (tickSec - lastSeen > StaleCutoffMinutes * 60) { buffer = Vector.empty; return }
        val seed = buffer.last
        val vals = if (hourly) buffer else filterSeries(buffer)
        val result = calculateDifference(vals)
        buffer = Vector(seed) // last element seeds the next window (agreggator.go:258)
        val emitTime = if (hourly) adjustTimeByOneHour(tickSec) else tickSec
        if (result <= MaxHourlyEnergy) {
          val suppress = if (hourly) result == 0.0 else result == lastEmitted || result == 0.0
          if (!suppress) {
            lastEmitted = result
            out += DiffOut(seriesId, measurement, new Timestamp(emitTime * 1000), result)
          }
        }
      }
    }

    def push(r: DiffIn): Seq[DiffOut] = {
      val sec = r.time.getTime / 1000
      if (windowEnd == Long.MinValue)
        windowEnd = Math.floorDiv(sec, sampleSec) * sampleSec + sampleSec
      while (sec >= windowEnd) { flush(windowEnd); windowEnd += sampleSec }
      buffer :+= r.value
      lastSeen = sec
      drain()
    }

    def finish(): Seq[DiffOut] = { flush(windowEnd); drain() }

    private def drain(): Seq[DiffOut] = {
      if (out.isEmpty) Nil
      else { val r = out.toVector; out.clear(); r }
    }
  }

  /**
   * A1 as a pure watermarked streaming window aggregation (for the
   * mean/min/max/sum aggregates where change-suppression is not needed):
   * `withWatermark` bounds state, tumbling windows match the reference's
   * 30 s tick. Use `streaming` (flatMapGroupsWithState) when suppression /
   * difference semantics are required.
   */
  def streamingWindowed(points: DataFrame, intervalSec: Long = 30,
      watermark: String = "2 hours"): DataFrame = {
    points
      .filter(col("agg_func").isin("mean", "min", "max", "sum"))
      .withWatermark("time", watermark)
      .groupBy(window(col("time"), s"$intervalSec seconds"),
        col("series_id"), col("measurement"), col("agg_func"))
      .agg(
        avg("value").as("_mean"), min("value").as("_min"), max("value").as("_max"),
        sum("value").as("_sum"))
      .withColumn("value",
        when(col("agg_func") === "mean", col("_mean"))
          .when(col("agg_func") === "min", col("_min"))
          .when(col("agg_func") === "max", col("_max"))
          .otherwise(col("_sum")))
      .select(col("series_id"), col("measurement"), col("agg_func"),
        col("window.end").as("time"), col("value"))
  }

  // ---------- streaming form ----------

  /** One series' state row; `buffer` is the window's values packed by
   *  [[packBuffer]] (layout: see [[streaming]]). */
  case class SeriesState(buffer: Array[Byte], lastEmitted: Double,
      lastSeenSec: Long, aggFunc: String, measurement: String, devType: String)

  private def packBuffer(values: Seq[Double]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(values.length * 8)
    values.foreach(v => bb.putDouble(v))
    bb.array()
  }

  private def unpackBuffer(bytes: Array[Byte]): Vector[Double] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Vector.fill(bytes.length / 8)(bb.getDouble())
  }

  case class StreamIn(series_id: String, measurement: String, agg_func: String,
      time: Timestamp, value: Double, dev_type: String)
  case class StreamOut(series_id: String, measurement: String, time: Timestamp,
      value: Double, agg_func: String)

  /**
   * Structured-Streaming form of A1+A2: per-series state flushed every
   * micro-batch (trigger = the 30 s aggregation interval ≙ the reference's
   * ticker goroutine). The staleness guard is EVENT-time based (difference
   * of the series' own timestamps), which keeps it deterministic under
   * replay — the reference's wall-clock variant (agreggator.go:236-241)
   * diverges on replay, ours does not. An optional state timeout adds
   * state eviction for long-dead series; NOTE ProcessingTimeTimeout makes
   * FlatMapGroupsWithStateExec request micro-batches continuously
   * (shouldRunAnotherBatch=true), so only enable it with a real
   * processing-time trigger, never with processAllAvailable-style tests.
   *
   * Compiled once: the operator groups by the `series_id` column, not by a
   * key function, so the one-task scan stage neither builds a `StreamIn`
   * per row nor serializes an extra key column (no `AppendColumns`). The
   * state row is `SeriesState` with the window's values as one binary
   * column, big-endian doubles 8 bytes each ([[packBuffer]] /
   * [[unpackBuffer]]); the fold itself works on `Vector[Double]`. A
   * collection field (`Vector` or `Array[Double]`) deserializes through
   * `MapObjects`, whose lambda variable takes a new id each time Spark
   * re-resolves the state encoder, i.e. every batch: the generated source
   * differed per batch and missed the codegen cache. StoreStreamSpec's
   * codegen budget pins 0 classes compiled in steady batches.
   *
   * Checkpoint break: the state schema changed from `buffer: array<double>`
   * to `buffer: binary`, so a checkpoint written by an earlier version
   * fails Spark's state-schema check on restart. Nothing persists one
   * (the Service path does not run this operator); there is no migration.
   *
   * State backend at scale: state is one row per series (the 20k-series
   * `aggregate_stream` benchmark reads `stream.state_bytes` ≈ 9.3 MB, about
   * 466 B a series), so the default HDFSBackedStateStoreProvider — which
   * holds every row on the executor heap — is fine to a few million
   * series. Beyond that set
   * `spark.sql.streaming.stateStore.providerClass` to Spark's
   * RocksDBStateStoreProvider (bounded memory, local-disk spill); the
   * operator is provider-agnostic: StoreStreamSpec "every agg_func arm
   * emits the same rows under the RocksDB state store" asserts it.
   */
  def streaming(points: Dataset[StreamIn], samplingMinutes: Int = 10,
      stateTimeout: GroupStateTimeout = GroupStateTimeout.NoTimeout)
      : Dataset[StreamOut] = {
    val spark = points.sparkSession
    import spark.implicits._
    points
      .groupBy(col("series_id")).as[String, StreamIn]
      .flatMapGroupsWithState(OutputMode.Append, stateTimeout)(
        processSeries(samplingMinutes, stateTimeout))
  }

  private def processSeries(samplingMinutes: Int, stateTimeout: GroupStateTimeout)(
      key: String, rows: Iterator[StreamIn], state: GroupState[SeriesState])
      : Iterator[StreamOut] = {
    val batch = rows.toVector.sortBy(_.time.getTime)
    if (state.hasTimedOut) { state.remove(); return Iterator.empty }
    if (batch.isEmpty) return Iterator.empty
    val nowSec = batch.last.time.getTime / 1000 // event-time "now"
    val prev = state.getOption.getOrElse(
      SeriesState(Array.emptyByteArray, 0.0, nowSec,
        batch.head.agg_func, batch.head.measurement, batch.head.dev_type))
    // event-time staleness (agreggator.go:236-241 re-based on event time)
    val stale = nowSec - prev.lastSeenSec > StaleCutoffMinutes * 60
    val kept = if (stale) Vector.empty else unpackBuffer(prev.buffer)
    val buf0 =
      if (prev.aggFunc == "last") Vector(batch.last.value)
      else kept ++ batch.map(_.value)
    val out = Vector.newBuilder[StreamOut]
    var lastEmitted = prev.lastEmitted
    var buffer = buf0
    if (buffer.nonEmpty) {
      val hourly = prev.devType == HourlyProfileDevType
      val isDiff = prev.aggFunc == "difference"
      val tickAligned = !isDiff ||
        (nowSec / 60) % samplingMinutes == 0 // agreggator.go:82 minute-mod alignment
      if (tickAligned) {
        val result = prev.aggFunc match {
          case "mean" => buffer.sum / buffer.length
          case "min" => buffer.min
          case "max" => buffer.max
          case "sum" => buffer.sum
          case "last" => buffer.last
          case "difference" =>
            val vals = if (hourly) buffer else filterSeries(buffer)
            calculateDifference(vals)
        }
        val seed = if (isDiff) Vector(buffer.last) else Vector.empty
        buffer = seed
        val okBound = !isDiff || result <= MaxHourlyEnergy
        val changed = result != lastEmitted && (!isDiff || result != 0.0)
        if (okBound && changed) {
          lastEmitted = result
          val emitSec = if (isDiff && hourly) adjustTimeByOneHour(nowSec) else nowSec
          out += StreamOut(key, prev.measurement, new Timestamp(emitSec * 1000),
            result, prev.aggFunc)
        }
      }
    }
    state.update(prev.copy(buffer = packBuffer(buffer), lastEmitted = lastEmitted,
      lastSeenSec = nowSec))
    if (stateTimeout == GroupStateTimeout.ProcessingTimeTimeout)
      state.setTimeoutDuration(s"$StaleCutoffMinutes minutes")
    out.result().iterator
  }
}
