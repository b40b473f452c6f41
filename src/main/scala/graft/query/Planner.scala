package graft.query

import java.time.Instant

import graft.model.{DataPointsRequest, DataPointsFilter, SelectItem, Tier}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * The data-point query planner — full `GetDataPoints` semantics
 * (reference: src/integration/tsdb/storage/influxdb_v1.go:97-198),
 * compiled to a declarative DataFrame plan instead of an InfluxQL string.
 *
 * Pipeline (mirroring the reference's steps):
 *  defaults → tier selection (TierPolicy) → time predicate → tag filters →
 *  one of four grouping shapes → aggregation function → gap fill →
 *  transform-function wrap.
 *
 * Scale notes:
 *  - measurement + time predicates are plain `filter`s on the scan —
 *    Catalyst pushes them into parquet (partition pruning on the
 *    measurement/date partitions of the tier tables, row-group skipping on
 *    time), so a 1-hour query over 100 TB touches only its own partitions.
 *  - the gap-fill spine is generated PER GROUP KEY via `explode(sequence)`
 *    on the (small) distinct-groups side and joined back — never a
 *    crossJoin of full ranges (SURVEY.md §7 risk (c)).
 *  - time buckets are epoch-aligned longs, matching the reference's
 *    epoch-seconds response precision (`influx.NewQuery(..., "s")`,
 *    influxdb_v1.go:191).
 *
 * Intentional divergence: the reference's devices/locations/devTypes
 * filters iterate Go slice INDICES, not values (bug, influxdb_v1.go:148-156);
 * we implement the evident intent (`isin(values)`).
 */
object Planner {

  /** Aggregation-function whitelist (open InfluxQL namespace in the
   *  reference, influxdb_v1.go:167; docs exercise mean/count/last/sum).
   *  Covers every single-expression InfluxQL aggregate; the multi-pass
   *  ones (MODE, INTEGRAL) and the multi-row selectors (TOP/BOTTOM,
   *  DISTINCT) are planned in `dataPoints` — they need more than one
   *  aggregate expression or change the output cardinality. */
  def aggColumn(fn: String, value: Column, time: Column): Column = fn match {
    case "mean" => avg(value)
    case "count" => count(value)
    case "count_distinct" => count_distinct(value) // InfluxQL COUNT(DISTINCT(f))
    case "sum" => sum(value)
    case "min" => min(value)
    case "max" => max(value)
    case "median" => median(value)
    case "first" => min_by(value, time)
    case "last" => max_by(value, time)
    case "spread" => max(value) - min(value)
    case "stddev" => stddev_samp(value) // InfluxQL STDDEV = sample stddev
    case PercentileFn(p) => // InfluxQL PERCENTILE(n) — "percentile_95" form
      percentile(value, lit(p / 100.0))
    case other => throw new IllegalArgumentException(s"unsupported data_function: $other")
  }

  /** `percentile_<n>` (n in (0,100], decimals allowed) → interpolated
   *  percentile — the engine-side spelling of InfluxQL's PERCENTILE(n),
   *  which the reference forwards through its open function namespace. */
  private object PercentileFn {
    private val Re = "^percentile_(\\d{1,3}(?:\\.\\d+)?)$".r
    def unapply(fn: String): Option[Double] = fn match {
      case Re(n) =>
        val p = n.toDouble
        if (p > 0 && p <= 100) Some(p) else None
      case _ => None
    }
  }

  /** InfluxQL duration literal → seconds. Only whole-second units: the
   *  engine's response precision is epoch seconds (influxdb_v1.go:191). */
  private def durationToSeconds(d: String): Long = {
    val Re = "^(\\d+)([smhdw]?)$".r
    d match {
      case Re(n, u) =>
        val mult = u match {
          case "" | "s" => 1L
          case "m" => 60L
          case "h" => 3600L
          case "d" => 86400L
          case "w" => 604800L
        }
        n.toLong * mult
      case _ => throw new IllegalArgumentException(s"unsupported duration: $d")
    }
  }

  /** `top_<n>` / `bottom_<n>` — the engine-side spelling of InfluxQL's
   *  TOP(field, n) / BOTTOM(field, n) selectors. */
  private object TopBottomFn {
    private val Re = "^(top|bottom)_(\\d{1,4})$".r
    def unapply(fn: String): Option[(Boolean, Int)] = fn match {
      case Re(which, n) if n.toInt > 0 => Some((which == "top", n.toInt))
      case _ => None
    }
  }

  /** `integral` / `integral_<dur>` — InfluxQL INTEGRAL(field[, unit]);
   *  default unit 1 s. */
  private object IntegralFn {
    private val Re = "^integral(?:_(\\d+[smhdw]?))?$".r
    def unapply(fn: String): Option[Long] = fn match {
      case Re(null) => Some(1L)
      case Re(d) => Some(durationToSeconds(d))
      case _ => None
    }
  }

  /** `moving_average_<n>` — InfluxQL MOVING_AVERAGE(expr, n). */
  private object MovingAvgFn {
    private val Re = "^moving_average_(\\d{1,4})$".r
    def unapply(fn: String): Option[Int] = fn match {
      case Re(n) if n.toInt > 1 => Some(n.toInt)
      case _ => None
    }
  }

  /** `derivative[_<dur>]` / `non_negative_derivative[_<dur>]` —
   *  InfluxQL DERIVATIVE(expr[, unit]); default unit 1 s. Returns
   *  (isNonNegative, unitSeconds). */
  private object DerivativeFn {
    private val Re = "^(non_negative_)?derivative(?:_(\\d+[smhdw]?))?$".r
    def unapply(fn: String): Option[(Boolean, Long)] = fn match {
      case Re(nn, d) =>
        Some((nn != null, if (d == null) 1L else durationToSeconds(d)))
      case _ => None
    }
  }

  /** `elapsed[_<dur>]` — InfluxQL ELAPSED(field[, unit]): time since the
   *  previous point, integer-truncated to `unit` (default 1 s). */
  private object ElapsedFn {
    private val Re = "^elapsed(?:_(\\d+[smhdw]?))?$".r
    def unapply(fn: String): Option[Long] = fn match {
      case Re(null) => Some(1L)
      case Re(d) => Some(durationToSeconds(d))
      case _ => None
    }
  }

  /** `exponential_moving_average_<n>` — InfluxQL
   *  EXPONENTIAL_MOVING_AVERAGE(field, n): α = 2/(n+1) (the TA
   *  convention InfluxQL uses), seeded with the first point
   *  (s₁ = v₁, then s_i = α·v_i + (1−α)·s_{i−1}). n = 1 (α = 1,
   *  identity) is refused like moving_average_1. */
  private object EmaFn {
    private val Re = "^exponential_moving_average_(\\d{1,4})$".r
    def unapply(fn: String): Option[Int] = fn match {
      case Re(n) if n.toInt > 1 => Some(n.toInt)
      case _ => None
    }
  }

  /** `pow_<n>` — InfluxQL POW(field, n). */
  private object PowFn {
    private val Re = "^pow_(\\d+(?:\\.\\d+)?)$".r
    def unapply(fn: String): Option[Double] = fn match {
      case Re(n) => Some(n.toDouble)
      case _ => None
    }
  }

  /** Rows per time block for the blocked prefix-scan fallback (below). */
  private val BlockFactor = 4096L

  /**
   * Sequential-over-time operators (lag / carry-forward) on an UNTAGGED
   * series have no natural partition key — a naive global window funnels
   * the whole result through one task. Instead we run a two-pass
   * distributed prefix scan: partition by a coarse time block (bucketSec ×
   * 4096, parallel), then fix up block boundaries by joining a per-block
   * summary whose own ordering window runs over ≤ rows/4096 entries —
   * that summary side is deliberately pinned to a single partition
   * (`partitionBy(lit(0))`), which is bounded and explicit, not accidental.
   */
  private def blockSpanSec(bucketSec: Long): Long =
    math.max(bucketSec, 1L) * BlockFactor

  /**
   * Running carry over the per-block summary (rows/4096 of the result),
   * computed as a streaming fold in one post-shuffle task instead of an
   * unpartitioned window: `repartition(1)` is a shuffle boundary so the
   * upstream aggregation stays parallel, and the fold streams the sorted
   * iterator — no WindowExec funnel anywhere in the plan. For each block
   * this emits the summary value of the closest EARLIER block
   * (`updateOnNonNullOnly` selects fill-previous vs plain-lag update).
   */
  private def blockCarry(summary: DataFrame, updateOnNonNullOnly: Boolean,
      outName: String, ascending: Boolean = true): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val blastIdx = summary.schema.fieldIndex("_blast")
    val outSchema = org.apache.spark.sql.types.StructType(
      summary.schema.fields :+
        org.apache.spark.sql.types.StructField(outName, summary.schema("_blast").dataType))
    val sorted = summary.repartition(1)
      .sortWithinPartitions(if (ascending) col("_blk") else col("_blk").desc)
    sorted
      .mapPartitions { it =>
        var carry: Any = null
        it.map { r =>
          val out = Row.fromSeq(r.toSeq :+ carry)
          val v = r.get(blastIdx)
          if (!updateOnNonNullOnly || v != null) carry = v
          out
        }
      }(Encoders.row(outSchema))
      .select(col("_blk"), col(outName))
  }

  /** Linear interpolation between the bracketing non-null points, given
   *  `p`/`n` structs of (value, time); null outside the bracketed range
   *  (InfluxQL FILL(linear) edge behavior). */
  private def interpolatedAt(v: Column, p: Column, n: Column): Column = {
    val pv = p.getField("value")
    val pt = p.getField("time")
    val nv = n.getField("value")
    val nt = n.getField("time")
    when(v.isNotNull, v)
      .when(p.isNotNull && n.isNotNull,
        pv + (nv - pv) * (col("time") - pt) / (nt - pt))
  }

  /** Blocked `value - lag(value) OVER (ORDER BY time)` with no group key. */
  private def blockedDifference(df: DataFrame, bucketSec: Long): DataFrame = {
    val span = blockSpanSec(bucketSec)
    val withBlk = df.withColumn("_blk", floor(col("time") / span))
    val wIn = Window.partitionBy(col("_blk")).orderBy(col("time"))
    val inBlk = withBlk.withColumn("_lag", lag(col("value"), 1).over(wIn))
    // last value of each block, shifted to the next non-empty block
    val prev = blockCarry(
      withBlk.groupBy(col("_blk")).agg(max_by(col("value"), col("time")).as("_blast")),
      updateOnNonNullOnly = false, "_prev_last")
    inBlk.join(broadcast(prev), Seq("_blk"), "left")
      .withColumn("value", col("value") - coalesce(col("_lag"), col("_prev_last")))
      .drop("_blk", "_lag", "_prev_last")
  }

  /** Attach `_pv`/`_pt` — the previous row's (value, time) in GLOBAL
   *  time order with no group key — via the blocked two-pass prefix scan
   *  (blockedDifference's idiom generalized to carry the pair). Works on
   *  any numeric `time` column (epoch long post-shape, fractional epoch
   *  double for raw-point integrals). */
  private def blockedPrevCols(df: DataFrame, bucketSec: Long): DataFrame = {
    val span = blockSpanSec(bucketSec)
    val mark = struct(col("value"), col("time"))
    val withBlk = df.withColumn("_blk", floor(col("time") / span))
    val wIn = Window.partitionBy(col("_blk")).orderBy(col("time"))
    val inBlk = withBlk.withColumn("_lagm", lag(mark, 1).over(wIn))
    val prev = blockCarry(
      withBlk.groupBy(col("_blk")).agg(max_by(mark, col("time")).as("_blast")),
      updateOnNonNullOnly = false, "_prevm")
    inBlk.join(broadcast(prev), Seq("_blk"), "left")
      .withColumn("_m", coalesce(col("_lagm"), col("_prevm")))
      .withColumn("_pv", col("_m").getField("value"))
      .withColumn("_pt", col("_m").getField("time"))
      .drop("_blk", "_lagm", "_prevm", "_m")
  }

  /** Accumulating twin of `blockCarry`: for each block and each
   *  (in, out) pair, the SUM of all strictly-earlier blocks' `in` (0.0
   *  for the first block; nulls contribute nothing). Same repartition(1)
   *  streaming fold over the rows/4096-sized summary — never the data
   *  stream. All of a transform step's carried sums ride ONE fold and
   *  come back as ONE broadcast-join side, so a step needing k boundary
   *  quantities pays one boundary shuffle, not k. */
  private def blockCarrySums(summary: DataFrame,
      colsOut: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val idxs = colsOut.map { case (in, _) => summary.schema.fieldIndex(in) }
    val outSchema = org.apache.spark.sql.types.StructType(
      summary.schema.fields ++ colsOut.map { case (_, out) =>
        org.apache.spark.sql.types.StructField(out, org.apache.spark.sql.types.DoubleType) })
    summary.repartition(1).sortWithinPartitions(col("_blk"))
      .mapPartitions { it =>
        val acc = Array.fill(idxs.length)(0.0)
        it.map { r =>
          val out = Row.fromSeq(r.toSeq ++ acc.toList)
          var j = 0
          while (j < idxs.length) {
            val v = r.get(idxs(j))
            if (v != null) acc(j) += v.asInstanceOf[Number].doubleValue
            j += 1
          }
          out
        }
      }(Encoders.row(outSchema))
      .select(col("_blk") +: colsOut.map { case (_, out) => col(out) }: _*)
  }

  /** Running sum in global time order with no group key (InfluxQL
   *  CUMULATIVE_SUM): within-block running sums plus an accumulated
   *  carry of the earlier blocks' totals. Null rows (unfilled gap
   *  buckets) stay null and contribute nothing. */
  private def blockedCumSum(df: DataFrame, bucketSec: Long): DataFrame = {
    val span = blockSpanSec(bucketSec)
    val withBlk = df.withColumn("_blk", floor(col("time") / span))
    val wIn = Window.partitionBy(col("_blk")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inBlk = withBlk.withColumn("_ps", sum(col("value")).over(wIn))
    val carry = blockCarrySums(
      withBlk.groupBy(col("_blk")).agg(sum(col("value")).as("_s")), Seq("_s" -> "_acc"))
    inBlk.join(broadcast(carry), Seq("_blk"), "left")
      .withColumn("value",
        when(col("value").isNotNull, col("_ps") + coalesce(col("_acc"), lit(0.0))))
      .drop("_blk", "_ps", "_acc")
  }

  /** Moving average of the last `n` real points in global time order
   *  with no group key (InfluxQL MOVING_AVERAGE): global prefix sums and
   *  row indexes via the blocked scan, then `(ps_i − ps_{i−n}) / n` by a
   *  self-join on the global row index — every stage partition-parallel,
   *  no global window. Points with fewer than n predecessors stay null.
   *  Callers feed only non-null rows (onRealPoints), matching InfluxQL's
   *  point-based window exactly under every FILL mode. */
  private def blockedMovingAverage(df: DataFrame, n: Int, bucketSec: Long): DataFrame = {
    // precondition (onRealPoints): every row's value is non-null, so the
    // n-ROW window holds exactly n values and row index == value count —
    // one block summary (sum + rowcount), ONE boundary fold, ONE
    // broadcast join instead of the former three carries
    val span = blockSpanSec(bucketSec)
    val withBlk = df.withColumn("_blk", floor(col("time") / span))
    val wCum = Window.partitionBy(col("_blk")).orderBy(col("time"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOrd = Window.partitionBy(col("_blk")).orderBy(col("time"))
    val inBlk = withBlk
      .withColumn("_ps", sum(col("value")).over(wCum))
      .withColumn("_ri", row_number().over(wOrd).cast("double"))
    val carries = blockCarrySums(
      withBlk.groupBy(col("_blk")).agg(
        sum(col("value")).as("_s"), count(lit(1)).cast("double").as("_r")),
      Seq("_s" -> "_accs", "_r" -> "_accr"))
    val g = inBlk
      .join(broadcast(carries), Seq("_blk"), "left")
      .withColumn("_gi", (col("_ri") + coalesce(col("_accr"), lit(0.0))).cast("long"))
      .withColumn("_gps", col("_ps") + coalesce(col("_accs"), lit(0.0)))
      .drop("_blk", "_ps", "_ri", "_accs", "_accr")
    val older = g.select((col("_gi") + n).as("_ji"), col("_gps").as("_ps0"))
    g.join(older, g("_gi") === older("_ji"), "left")
      .withColumn("value", when(col("_gi") >= n,
        (col("_gps") - coalesce(col("_ps0"), lit(0.0))) / n))
      .drop("_gi", "_gps", "_ji", "_ps0")
  }

  /** Per-series EMA: the recurrence folded over each key's time-sorted
   *  stream — keys hash-spread over partitions, per-key state reset on
   *  the sorted iterator (the Aggregator.difference idiom). Null rows
   *  (unfilled gap buckets) emit null and do not advance the state. */
  private def keyedEma(df: DataFrame, alpha: Double, partCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val keyIdx = partCols.map(df.schema.fieldIndex)
    val valIdx = df.schema.fieldIndex("value")
    val outSchema = org.apache.spark.sql.types.StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField("_ema",
        org.apache.spark.sql.types.DoubleType))
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions(partCols.map(col) :+ col("time"): _*)
      .mapPartitions { it =>
        var curKey: Seq[Any] = null
        var s = 0.0; var seeded = false
        it.map { r =>
          val k = keyIdx.map(r.get)
          if (k != curKey) { curKey = k; seeded = false }
          if (r.isNullAt(valIdx)) Row.fromSeq(r.toSeq :+ null)
          else {
            val v = r.getDouble(valIdx)
            s = if (!seeded) { seeded = true; v } else alpha * v + (1 - alpha) * s
            Row.fromSeq(r.toSeq :+ s)
          }
        }
      }(Encoders.row(outSchema))
      .withColumn("value", col("_ema")).drop("_ema")
  }

  /** EMA with no group key — the blocked AFFINE scan. The recurrence
   *  s_i = α·v_i + (1−α)·s_{i−1} is linear, so it block-decomposes
   *  EXACTLY: each time block folds its rows locally from s_in = 0
   *  (pass 1, blocks hash-spread over partitions), exposing the block
   *  as an affine map s_out = last_local + decay·s_in with
   *  decay = (1−α)^nonNulls; the rows/4096-sized block summaries fold
   *  left-to-right into the carry INTO each block (seeded with the
   *  globally-first value so s₁ = v₁), and each row finishes as
   *  local_i + (1−α)^{pᵢ}·carry. The sequential dependency rides only
   *  through the tiny summary fold — both data passes are
   *  partition-parallel, no global window, no one-task funnel. */
  private def blockedEma(df: DataFrame, alpha: Double, bucketSec: Long): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val span = blockSpanSec(bucketSec)
    val withBlk = df.withColumn("_blk", floor(col("time") / span))
    val blkIdx = withBlk.schema.fieldIndex("_blk")
    val valIdx = withBlk.schema.fieldIndex("value")
    val stepSchema = StructType(withBlk.schema.fields ++ Seq(
      StructField("_loc", DoubleType), StructField("_dk", DoubleType)))
    // pass 1: per-block local fold, per-block state reset on the sorted
    // stream (blocks hash-spread over partitions)
    val step = withBlk.repartition(col("_blk"))
      .sortWithinPartitions(col("_blk"), col("time"))
      .mapPartitions { it =>
        var cur: Any = null; var local = 0.0; var dk = 1.0
        it.map { r =>
          val b = r.get(blkIdx)
          if (b != cur) { cur = b; local = 0.0; dk = 1.0 }
          if (r.isNullAt(valIdx)) Row.fromSeq(r.toSeq ++ Seq(null, null))
          else {
            local = alpha * r.getDouble(valIdx) + (1 - alpha) * local
            dk *= (1 - alpha)
            Row.fromSeq(r.toSeq ++ Seq(local, dk))
          }
        }
      }(Encoders.row(stepSchema))
    // per-block affine summary: (last local, total decay, first value) —
    // dk is strictly decreasing within a block, so min(dk) = (1−α)^count
    val summary = step.groupBy(col("_blk")).agg(
      max_by(col("_loc"), when(col("value").isNotNull, col("time"))).as("_last"),
      min(col("_dk")).as("_decay"),
      min_by(col("value"), when(col("value").isNotNull, col("time"))).as("_first"))
    // fold the affine maps over the summary (the blockCarry idiom):
    // carry(first non-empty block) = its first value; then
    // carry(b+1) = last_b + decay_b · carry(b); empty blocks pass through
    val carrySchema = StructType(summary.schema.fields :+ StructField("_carry", DoubleType))
    val carries = summary.repartition(1).sortWithinPartitions(col("_blk"))
      .mapPartitions { it =>
        var acc = 0.0; var seeded = false
        it.map { r =>
          val first = if (r.isNullAt(3)) null else r.get(3)
          val carry: Any =
            if (!seeded && first != null) { seeded = true; first }
            else if (seeded) acc
            else null
          val out = Row.fromSeq(r.toSeq :+ carry)
          if (!r.isNullAt(1) && carry != null)
            acc = r.getDouble(1) + r.getDouble(2) * carry.asInstanceOf[Double]
          out
        }
      }(Encoders.row(carrySchema))
      .select(col("_blk"), col("_carry"))
    step.join(broadcast(carries), Seq("_blk"), "left")
      .withColumn("value", when(col("value").isNotNull,
        col("_loc") + col("_dk") * col("_carry")))
      .drop("_blk", "_loc", "_dk", "_carry")
  }

  /** InfluxQL TOP/BOTTOM: the n largest/smallest points per time
   *  bucket (+tag) — or over the whole range — keeping each point's own
   *  timestamp (the InfluxQL output shape). Deterministic under ties:
   *  the sort is (value, time), which is exactly the emitted tuple, so
   *  any tie at the cut line yields identical output rows. Bucketed form
   *  windows on (bucket[, tag]) — numerous short partitions; the
   *  whole-range form is a TakeOrdered (distributed top-k), never a
   *  global window. Gap fill does not apply to multi-row selectors. */
  private def selectorExtremes(filtered: DataFrame, bucket: Option[Column],
      keys: Seq[String], n: Int, largest: Boolean): DataFrame = {
    val tsec = unix_timestamp(col("time"))
    bucket match {
      case Some(b) =>
        val base = filtered.select(
          tsec.as("time") +: col("value") +: b.as("_bkt") +: keys.map(col): _*)
        val vOrd = if (largest) col("value").desc else col("value").asc
        val w = Window.partitionBy(col("_bkt") +: keys.map(col): _*)
          .orderBy(vOrd, col("time").asc)
        base.withColumn("_rn", row_number().over(w)).filter(col("_rn") <= n)
          .select(col("time") +: col("value") +: keys.map(col): _*)
      case None =>
        val base = filtered.select(tsec.as("time"), col("value"))
        val ord =
          if (largest) Seq(col("value").desc, col("time").asc)
          else Seq(col("value").asc, col("time").asc)
        base.orderBy(ord: _*).limit(n)
    }
  }

  /** InfluxQL MODE: the most frequent value per group; ties break to
   *  the LOWEST value (the InfluxQL contract). Two-phase hash
   *  aggregation — counts per (group, value), then argmax by
   *  (count, −value); both shuffles key on bounded group columns. */
  private def modeAgg(filtered: DataFrame, bucket: Option[Column],
      keys: Seq[String]): DataFrame = {
    val gcols = bucket.map(_.as("time")).toSeq ++ keys.map(col)
    val counted = filtered.groupBy(gcols :+ col("value"): _*)
      .agg(count(lit(1)).as("_cnt"))
    val pick = max_by(col("value"), struct(col("_cnt"), negate(col("value")))).as("value")
    val outKeys = bucket.map(_ => col("time")).toSeq ++ keys.map(col)
    counted.groupBy(outKeys: _*).agg(pick)
  }

  /** InfluxQL INTEGRAL(unit): area under the curve by the trapezoid rule
   *  over time-consecutive points within each bucket(+tag) — pairs never
   *  cross a group boundary — in units of `unitSec` seconds, on
   *  fractional-epoch point times. The bucketed form windows on
   *  (bucket[, tag]); the whole-range form runs the blocked prefix scan.
   *  A group with a single point has no trapezoid and yields null. */
  private def integralAgg(filtered: DataFrame, bucket: Option[Column],
      keys: Seq[String], unitSec: Long, bucketSec: Long): DataFrame = {
    val area = sum((col("value") + col("_pv")) / 2
      * (col("_t") - col("_pt")) / unitSec.toDouble).as("value")
    bucket match {
      case Some(b) =>
        val pts = filtered.select(
          col("time").cast("double").as("_t") +: col("value") +: b.as("_bkt") +: keys.map(col): _*)
        val w = Window.partitionBy(col("_bkt") +: keys.map(col): _*).orderBy(col("_t"))
        pts.withColumn("_pv", lag(col("value"), 1).over(w))
          .withColumn("_pt", lag(col("_t"), 1).over(w))
          .groupBy(col("_bkt").as("time") +: keys.map(col): _*)
          .agg(area)
      case None =>
        val p = filtered.select(col("time").cast("double").as("time"), col("value"))
        blockedPrevCols(p, bucketSec).withColumnRenamed("time", "_t").agg(area)
    }
  }

  /** Scalar transform-function wrap (influxdb_v1.go:184-186; `abs` in docs,
   *  `difference` per the commented energy query influxdb_v1.go:229-231).
   *  A comma-chain applies inner-to-outer — "difference,abs" is the
   *  dashboard's `abs(difference(agg(value)))` (influxdb_v1.go:229).
   *  The namespace is the reference's open InfluxQL transform surface:
   *  sequential transforms (difference, non_negative_difference,
   *  derivative[_unit], non_negative_derivative[_unit], elapsed[_unit],
   *  cumulative_sum, moving_average_n) and scalar math (abs, ceil,
   *  floor, round, sqrt, exp, ln, log2, log10, sin/cos/tan + inverses,
   *  pow_n). Null rows from gap fill stay null through the sequential
   *  transforms, and the point-window transforms (elapsed,
   *  moving_average, EMA) run over REAL points only — InfluxDB emits
   *  these only at actual points, so a FILL(null) spine must neither
   *  receive fabricated values nor dilute the n-point window. */
  private def transformWrap(fn: String, df: DataFrame, partCols: Seq[String],
      bucketSec: Long, mayHaveNulls: Boolean = true): DataFrame =
    links(fn).foldLeft(df)((d, f) =>
        transformOne(f, d, partCols, bucketSec, mayHaveNulls))

  private def transformOne(fn: String, df: DataFrame, partCols: Seq[String],
      bucketSec: Long, mayHaveNulls: Boolean = true): DataFrame = {
    // sequential transforms share one lag shape: per-tag windows when a
    // group key exists (numerous short partitions), the blocked global
    // prefix scan otherwise — never an unpartitioned window
    def withPrev(d: DataFrame): DataFrame =
      if (partCols.isEmpty) blockedPrevCols(d, bucketSec)
      else {
        val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
        d.withColumn("_pv", lag(col("value"), 1).over(w))
          .withColumn("_pt", lag(col("time"), 1).over(w))
      }
    // point-window transforms act on REAL points only: compute over the
    // non-null subset, pass gap-fill null rows through unchanged so a
    // FILL(null) spine keeps its shape with nulls intact. When the
    // caller PROVES nulls impossible (FILL(none)/numeric fills drop or
    // coalesce every gap), the split — and its extra exchange — is
    // skipped entirely
    def onRealPoints(d: DataFrame)(f: DataFrame => DataFrame): DataFrame =
      if (!mayHaveNulls) f(d)
      else f(d.filter(col("value").isNotNull))
        .unionByName(d.filter(col("value").isNull))
    fn match {
      case "difference" if partCols.isEmpty => blockedDifference(df, bucketSec)
      case "difference" =>
        val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
        df.withColumn("value", col("value") - lag(col("value"), 1).over(w))
      case "non_negative_difference" =>
        val d = transformOne("difference", df, partCols, bucketSec)
        d.withColumn("value", when(col("value") >= 0, col("value")))
      case DerivativeFn(nonNeg, unitSec) =>
        val rate = (col("value") - col("_pv")) /
          (col("time") - col("_pt")) * unitSec.toDouble
        withPrev(df)
          .withColumn("value", if (nonNeg) when(rate >= 0, rate) else rate)
          .drop("_pv", "_pt")
      case ElapsedFn(unitSec) =>
        // InfluxQL ELAPSED: integer-truncated units since the previous
        // REAL point (gap-fill nulls have a time but are not points)
        onRealPoints(df) { real =>
          withPrev(real)
            .withColumn("value",
              floor((col("time") - col("_pt")) / unitSec.toDouble).cast("double"))
            .drop("_pv", "_pt")
        }
      case "cumulative_sum" if partCols.isEmpty => blockedCumSum(df, bucketSec)
      case "cumulative_sum" =>
        val w = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        df.withColumn("value",
          when(col("value").isNotNull, sum(col("value")).over(w)))
      case MovingAvgFn(n) if partCols.isEmpty =>
        onRealPoints(df)(blockedMovingAverage(_, n, bucketSec))
      case MovingAvgFn(n) =>
        onRealPoints(df) { real =>
          val wOrd = Window.partitionBy(partCols.map(col): _*).orderBy(col("time"))
          val wAvg = wOrd.rowsBetween(-(n - 1), Window.currentRow)
          real.withColumn("value",
            when(row_number().over(wOrd) >= n, avg(col("value")).over(wAvg)))
        }
      case EmaFn(n) if partCols.isEmpty => blockedEma(df, 2.0 / (n + 1), bucketSec)
      case EmaFn(n) => keyedEma(df, 2.0 / (n + 1), partCols)
      case other => scalarTransform(other, col("value"))
        .map(df.withColumn("value", _))
        .getOrElse(throw new IllegalArgumentException(
          s"unsupported transform_function: $other"))
    }
  }

  /** Pointwise scalar math (the InfluxQL transform namespace) as a pure
   *  column rewrite — shared by [[transformWrap]] (which rewrites the
   *  canonical `value` column) and the inline per-item chains of a
   *  multi-item select (which rewrite each item's own output column).
   *  ceil/floor keep the double value-column type. None = not a scalar
   *  transform (the sequential ones need row order, not just the cell). */
  def scalarTransform(fn: String, c: Column): Option[Column] = fn match {
    case "abs" => Some(abs(c))
    case "ceil" => Some(ceil(c).cast("double"))
    case "floor" => Some(floor(c).cast("double"))
    case "round" => Some(round(c, 0))
    case "sqrt" => Some(sqrt(c))
    case "exp" => Some(exp(c))
    case "ln" => Some(log(c))
    case "log2" => Some(log2(c))
    case "log10" => Some(log10(c))
    case "sin" => Some(sin(c))
    case "cos" => Some(cos(c))
    case "tan" => Some(tan(c))
    case "asin" => Some(asin(c))
    case "acos" => Some(acos(c))
    case "atan" => Some(atan(c))
    case PowFn(p) => Some(pow(c, p))
    case _ => None
  }

  /** The reference's absolute time-range convention as ONE shared
   *  predicate — `fromSec <= time < toSec+1`, expressed natively on the
   *  timestamp column so parquet row-group skipping applies. Shared by
   *  the read path and the erasure command: "delete what a query
   *  returns" only holds while both use the identical boundary rule. */
  def absoluteTimePredicate(fromSec: Long, toSec: Long): Column =
    col("time") >= timestamp_seconds(lit(fromSec)) &&
      col("time") < timestamp_seconds(lit(toSec + 1))

  /** The inclusive [yyyy-MM-dd, yyyy-MM-dd] DATE window (given session
   *  zone id) that bounds every row satisfying the engine's time
   *  predicates over [fromSec, toSec] — the +1s end slack matches
   *  [[absoluteTimePredicate]]. ONE derivation shared by the scan's
   *  partition-filter predicate AND the store's LISTING slice
   *  ([[graft.store.TierFileIndex.Slice]]), so they can never drift. */
  def dateWindow(fromSec: Long, toSec: Long,
      zoneId: String): (String, String) = {
    val zone = java.time.ZoneId.of(zoneId)
    def d(sec: Long) =
      java.time.LocalDate.ofInstant(Instant.ofEpochSecond(sec), zone).toString
    (d(fromSec), d(toSec + 1))
  }

  /** The effective [fromSec, toSec] range of a request at `now` — the
   *  exact numbers [[dataPoints]] plans with, exposed so slice-aware
   *  readers (Api's listing-pruned store resolver) derive their window
   *  from the same arithmetic. */
  def timeRange(req: DataPointsRequest, now: Instant): (Long, Long) =
    if (req.fromTime.nonEmpty && req.toTime.nonEmpty)
      (Instant.parse(req.fromTime).getEpochSecond,
        Instant.parse(req.toTime).getEpochSecond)
    else {
      val mins = TierPolicy.relativeToMinutes(req.relativeTime)
      (now.getEpochSecond - mins * 60, now.getEpochSecond)
    }

  /** Compile the tag/device/location/type filters (influxdb_v1.go:145-156).
   *  Tag equality follows the same empty-string-for-missing model as
   *  [[tagAtomColumn]]: `tag = ''` selects rows WITHOUT the tag (NULL or
   *  empty — InfluxDB's absent-tag semantics), spelled without coalesce
   *  so the Or(IsNull, EqualTo) tree still pushes to the scan. Round16Spec
   *  pins the two paths row-equivalent. */
  def filterColumn(f: DataPointsFilter): Column = {
    var c: Column = lit(true)
    f.tags.foreach { case (k, v) =>
      c = c && (if (v.isEmpty) col(k).isNull || col(k) === ""
                else col(k) === v)
    }
    // same model for the id lists: an '' entry selects rows without the
    // tag, so NULL must match when (and only when) '' is listed
    def inList(key: String, vs: Seq[String]): Column =
      if (vs.contains("")) col(key).isin(vs: _*) || col(key).isNull
      else col(key).isin(vs: _*)
    if (f.devices.nonEmpty) c = c && inList("dev_id", f.devices)
    if (f.locations.nonEmpty) c = c && inList("location_id", f.locations)
    if (f.devTypes.nonEmpty) c = c && inList("dev_type", f.devTypes)
    c
  }

  /** The shared scan→filter frame every select shape starts from:
   *  tier-resolved, measurement/time/tag-filtered, partition-pruned —
   *  WITHOUT a value-column binding (each item reads its field by
   *  name). `tierFn` is the
   *  data function offered to the tier policy (rollup tiers only serve
   *  `mean`). Returns (filtered frame, fromSec, toSec).
   *
   *  Time predicate (influxdb_v1.go:119-139): the reference compares
   *  floor-to-second epoch values; the exact native equivalent is
   *    absolute:  fromSec <= time < toSec+1
   *    relative:  time >= fromSec+1        (strict `> fromSec` on floors)
   *  expressed directly on the timestamp column (NOT wrapped in
   *  unix_timestamp) so parquet row-group min/max skipping applies. */
  private def scanFrame(req: DataPointsRequest, resolve: Tier => DataFrame,
      now: Instant, sliceResolve: Option[(Tier, String, Long, Long) => DataFrame],
      tierFn: String, groupByTime: String): (DataFrame, Long, Long) = {
    val fromInstant: Option[Instant] =
      if (req.fromTime.nonEmpty && req.toTime.nonEmpty) Some(Instant.parse(req.fromTime)) else None
    // a numeric FIELD condition references RAW point values — a rollup
    // tier's rows are pre-aggregated means, and filtering those by
    // `value > 30` answers a different question than InfluxDB's
    // per-point semantics. Withhold the mean hint from the tier policy
    // so the coarser-rollup UPGRADE (TierPolicy line "userBucket >=
    // native && mean") never fires; the elapsed-time floor still
    // stands — it reflects which tier still HOLDS the data at all.
    // CHOSEN semantics when retention has already EXPIRED the raw rows
    // (the floor forces a rollup tier): the field predicate then filters
    // that tier's pre-aggregated rows — exactly what InfluxDB does when
    // a query lands on a downsampled RP, where the stored points ARE the
    // aggregates — and never errors or silently drops the predicate.
    // Per-point filtering of data that no longer exists is not on offer;
    // Round15Spec "field predicate over an expired-raw window" pins this.
    // Recurse into AndGroup atoms: a field predicate nested inside
    // `(tag AND field) OR (...)` must withhold the mean upgrade exactly
    // as the same predicate written at top level would — otherwise the
    // rollup tier's pre-aggregated rows get per-point-filtered while
    // raw rows still exist.
    def atomHasField(a: graft.model.WhereAtom): Boolean = a match {
      case _: graft.model.FieldPredicate => true
      case g: graft.model.AndGroup => g.atoms.exists(atomHasField)
      case _ => false
    }
    val hasFieldPred = req.fieldPredicates.nonEmpty ||
      req.orPredicates.exists(_.exists(atomHasField))
    val effTierFn = if (hasFieldPred) "" else tierFn
    val tier = TierPolicy.resolveQueryTier(req.measurement, Tier.ProfileOptimized,
      fromInstant, req.relativeTime, groupByTime, effTierFn, now)

    val (fromSec, toSec): (Long, Long) = timeRange(req, now)
    val base = sliceResolve match {
      case Some(f) => f(tier, req.measurement, fromSec, toSec)
      case None => resolve(tier)
    }
    val timePred = fromInstant match {
      case Some(_) => absoluteTimePredicate(fromSec, toSec)
      case None => col("time") >= timestamp_seconds(lit(fromSec + 1))
    }
    // Derived `date` partition filter: tier tables are partitioned by
    // measurement+date (TierStore.write), so bounding `date` turns the
    // time range into partition pruning — a 1-hour query over a year of
    // history scans one or two date directories, not the full table.
    // Bounds are computed in the session timezone (the zone to_date used
    // at write time) and widened by the sub-second end slack.
    val datePred: Option[Column] =
      if (!base.columns.contains("date")) None
      else {
        val (lo, hi) = dateWindow(fromSec, toSec,
          base.sparkSession.sessionState.conf.sessionLocalTimeZone)
        Some(col("date").between(
          java.sql.Date.valueOf(lo), java.sql.Date.valueOf(hi)))
      }

    val filtered = datePred.foldLeft(base)(_ filter _)
      .filter(col("measurement") === req.measurement)
      .filter(timePred)
      .filter(filterColumn(req.filters))
      .transform(d => tagPredicates(req).foldLeft(d)(_ filter _))
    (filtered, fromSec, toSec)
  }

  /** The raw-InfluxQL non-equality tag predicates (`!=`, `=~`, `!~`) as
   *  scan filters. A missing tag compares as the EMPTY string
   *  (InfluxDB's tag model — absent tags are empty, so `tag != 'v'`
   *  matches series without the tag; plain SQL null semantics would
   *  silently drop them). The regex ops match UNANCHORED (Spark `rlike`
   *  uses java.util.regex find, the same convention as Go re2's
   *  MatchString) — plain equality stays in [[filterColumn]], where the
   *  reference's structured filters live and pushdown applies. */
  private def tagPredicates(req: DataPointsRequest): Seq[Column] = {
    val tagCols = req.tagPredicates.map(tagAtomColumn)
    // numeric FIELD conditions apply per point, pre-aggregation;
    // comparisons on the raw field column keep parquet min/max
    // row-group skipping available to the scan
    val fieldCols = req.fieldPredicates.map(fieldPredColumn)
    // parenthesized OR groups: each group is ONE conjunct whose atoms
    // disjoin (CNF) — the pre-regex Grafana multi-value variable shape;
    // an atom may itself be one parenthesized AND group
    // (`(a AND b) OR (c AND d)`, the multi-template-variable form)
    val orCols = req.orPredicates.map(_.map(whereAtomColumn).reduce(_ || _))
    tagCols ++ fieldCols ++ orCols
  }

  private def whereAtomColumn(a: graft.model.WhereAtom): Column = a match {
    case t: graft.model.TagPredicate => tagAtomColumn(t)
    case f: graft.model.FieldPredicate => fieldPredColumn(f)
    case g: graft.model.AndGroup =>
      g.atoms.map(whereAtomColumn).reduce(_ && _)
  }

  private def tagAtomColumn(p: graft.model.TagPredicate): Column = {
    // The empty-string-for-missing tag model is spelled WITHOUT
    // coalesce for the equality ops: `coalesce(c,'') = v` is opaque to
    // parquet filter translation, while the equivalent
    // `c = v` / `c IS NULL OR c != v` forms translate to
    // EqualTo/IsNull/Not trees the scan pushes down — so a tag-only
    // OR-of-AndGroups reaches PushedFilters and row-group stats can
    // skip (round-16 plan assertion in Round16Spec). Null-semantics
    // equivalence per case is argued inline; regex ops keep coalesce
    // (rlike never pushes anyway).
    p.op match {
      case "=" =>
        if (p.value.isEmpty) col(p.key).isNull || col(p.key) === ""
        else col(p.key) === p.value // null tag -> NULL ≡ false under Filter
      case "!=" =>
        if (p.value.isEmpty) col(p.key).isNotNull && col(p.key) =!= ""
        else col(p.key).isNull || col(p.key) =!= p.value // missing tag matches
      case "=~" => coalesce(col(p.key), lit("")).rlike(p.value)
      case "!~" => !coalesce(col(p.key), lit("")).rlike(p.value)
      case other => throw new IllegalArgumentException(
        s"unsupported tag predicate operator: $other")
    }
  }

  private def fieldPredColumn(p: graft.model.FieldPredicate): Column = {
    val c = col(p.key)
    p.op match {
      case ">" => c > p.value
      case ">=" => c >= p.value
      case "<" => c < p.value
      case "<=" => c <= p.value
      case "=" => c === p.value
      case "!=" => c =!= p.value
      case other => throw new IllegalArgumentException(
        s"unsupported field predicate operator: $other")
    }
  }

  /**
   * Plan a single-field data-points request over the tier tables: the
   * reference's defaults (influxdb_v1.go:102-114) — field `value`, `mean`
   * when tag- or time-grouped — applied to ONE select item named
   * `value`, planned by [[dataPointsMulti]].
   *
   * @param resolve tier → its points DataFrame (columns: measurement,
   *                time: timestamp, value: double, plus tag columns)
   * @param now     query-time "now" for relative windows (injected for
   *                determinism; the reference uses wall clock)
   * @param sliceResolve when given, replaces `resolve` with a reader that
   *                receives (tier, measurement, fromSec, toSec) — the exact
   *                planned range — so a STORE-backed resolver can prune its
   *                partition LISTING to the touched window
   *                ([[graft.store.TierStore.readSlice]]); the planner's own
   *                filters still apply on top, unchanged.
   * @return columns: `time` (epoch seconds, when time-visible), `value`,
   *         plus the group-by tag columns when requested.
   */
  def dataPoints(req: DataPointsRequest, resolve: Tier => DataFrame,
      now: Instant,
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame] = None): DataFrame = {
    val grouped = req.groupByTag.nonEmpty ||
      (req.groupByTime.nonEmpty && req.groupByTime != "auto")
    val item = SelectItem(
      fieldName = if (req.fieldName.isEmpty) "value" else req.fieldName,
      dataFunction =
        if (grouped && req.dataFunction.isEmpty) "mean" else req.dataFunction,
      transformFunction = req.transformFunction,
      alias = "value")
    dataPointsMulti(Seq(item), req, resolve, now, sliceResolve)
  }

  /** The InfluxDB output-column name of one select item: the `AS` alias
   *  when given, else the OUTERMOST function name with any parameter
   *  suffix stripped (`percentile_95` → `percentile`,
   *  `derivative_1h` → `derivative`), else the bare field name.
   *  Duplicates get `_1`, `_2`, ... in occurrence order — exactly
   *  InfluxDB's `mean`, `mean_1` convention. */
  def itemAliases(items: Seq[SelectItem]): Seq[String] = {
    def fnName(fn: String): String =
      fn.replaceAll("_\\d+(?:\\.\\d+)?[smhdw]?$", "")
    val base = items.map { it =>
      if (it.alias.nonEmpty) it.alias
      else {
        val chain = links(it.transformFunction)
        if (chain.nonEmpty) fnName(chain.last)
        else if (it.dataFunction.nonEmpty) fnName(it.dataFunction)
        else it.fieldName
      }
    }
    val seen = scala.collection.mutable.Map.empty[String, Int]
    base.map { b =>
      val n = seen.getOrElse(b, 0)
      seen(b) = n + 1
      if (n == 0) b else s"${b}_$n"
    }
  }

  /** The single-select default applied per list: a time-grouped select
   *  with no function aggregates by mean (influxdb_v1.go:102-114) — but
   *  only when the WHOLE list is bare; one explicit aggregate next to a
   *  bare field is InfluxDB's mixing error, not an invitation to
   *  default. ONE normalization shared by the planner and by consumers
   *  deriving the planned column names (INTO), so they cannot drift.
   *
   *  TAG-ONLY grouping intentionally takes no default here: a bare list
   *  grouped by tag alone is the raw per-series echo — the same echo a
   *  one-item select grouped by tag alone answers whatever its function
   *  (influxdb_v1.go:160-162, the branch ignores the function; the
   *  single-field default still offers `mean` to the tier policy). The
   *  mean default is a TIME-grouped behavior. */
  private def normalizedMultiItems(items: Seq[SelectItem],
      req: DataPointsRequest): Seq[SelectItem] = {
    val groupByTime = if (req.groupByTime == "auto") "" else req.groupByTime
    if (groupByTime.nonEmpty && items.forall(_.dataFunction.isEmpty))
      items.map(_.copy(dataFunction = "mean"))
    else items
  }

  /** The output-column names a multi list carries AS PLANNED — after
   *  the grouped bare-list mean default — the names result consumers
   *  (e.g. SELECT INTO's field columns) must use. */
  def plannedMultiAliases(items: Seq[SelectItem],
      req: DataPointsRequest): Seq[String] =
    itemAliases(normalizedMultiItems(items, req))

  /** Aggregates a select of two or more items cannot express at all:
   *  the multi-row selectors (TOP/BOTTOM, DISTINCT) change the output
   *  cardinality, so their rows cannot share a frame with one-row-per-
   *  bucket columns. They remain available as one-item selects. */
  private def multiPassFn(fn: String): Boolean = fn match {
    case TopBottomFn(_, _) => true
    case "distinct" => true
    case _ => false
  }

  /** Aggregates that need their own plan (MODE's two-phase argmax,
   *  INTEGRAL's trapezoid lag) rather than one expression in the shared
   *  groupBy. In a multi-select each computes from its own aggregation
   *  subtree over the same pruned scan — Spark does not share scans
   *  across aggregation subtrees, so each heavy item RE-READS the
   *  predicate-pushed columnar window (the multi-pass cost these
   *  aggregates carry in InfluxDB too) — and full-outer-joins back on
   *  the (time, tag) bucket key (bucket-count-sized joins). They need
   *  the time-bucketed shape: the unbucketed forms produce keyless
   *  single rows with nothing to join on. */
  private def heavyAggFn(fn: String): Boolean = fn match {
    case "mode" => true
    case IntegralFn(_) => fn.startsWith("integral")
    case _ => false
  }

  /** Is any link of this transform chain sequential (needs row order —
   *  lag/carry/window — rather than a pointwise cell rewrite)? */
  private def hasSequential(chain: String): Boolean =
    links(chain).exists(f => scalarTransform(f, lit(0)).isEmpty)

  /** The links of a comma-chained transform, inner to outer. */
  private def links(chain: String): Seq[String] =
    chain.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /**
   * Plan a SELECT of one or more items — InfluxQL
   * `SELECT mean("v") AS a, max("w") AS b, ... FROM m` (the multi-series
   * Grafana panel shape), and every single-field request through
   * [[dataPoints]] — as ONE scan and ONE shuffle for the whole list:
   * every aggregate is an expression in the same `groupBy` (each gets
   * its own map-side partial), the gap-fill spine joins once against the
   * multi-column frame, and per-item transform chains rewrite their own
   * columns afterwards (scalar chains inline; a chain with sequential
   * links runs through [[transformWrap]] on a projection of the
   * already-aggregated, bucket-count-sized frame and joins back on the
   * (time, tag) key — never a second scan of the data).
   *
   * InfluxDB's mixing rule applies: items are either ALL aggregated or
   * ALL bare field projections ("mixing aggregate and non-aggregate
   * queries is not supported"). Shapes:
   *  - GROUP BY time(X) [, tag] → one row per bucket (per tag), a value
   *    column per item, gap-filled (FILL null/none/<number>/previous/
   *    linear — each value column independently, tagged and untagged,
   *    via [[gapFillMulti]]);
   *  - no grouping, aggregated → one row (whole-range aggregates);
   *  - GROUP BY tag, aggregated → one row per tag value;
   *  - GROUP BY tag, bare items → the raw per-tag echo;
   *  - no grouping, bare items → raw points, one column per field.
   *
   * A ONE-item select keeps the single-field shapes the list form
   * refuses or plans differently: GROUP BY tag alone echoes raw points
   * even with a function (influxdb_v1.go:160-162); TOP/BOTTOM and
   * DISTINCT emit their own rows, and MODE/INTEGRAL over the whole range
   * their own one-row plans; and the item's transform chain — sequential
   * links on raw points included — runs through [[transformWrap]] over
   * the whole shaped frame, with no join-back.
   *
   * `req.fieldName/dataFunction/transformFunction` are ignored — the
   * items carry them. A list's output columns: `time` (when
   * time-visible), then one column per item in list order
   * ([[itemAliases]] naming), then the group-by tags; one item keeps its
   * shape's own column order. The SELECT modifiers apply unchanged (they
   * act on the time/tag axes only).
   */
  def dataPointsMulti(items: Seq[SelectItem], req: DataPointsRequest,
      resolve: Tier => DataFrame, now: Instant,
      sliceResolve: Option[(Tier, String, Long, Long) => DataFrame] = None): DataFrame = {
    require(items.nonEmpty, "a select needs at least one item")
    val groupByTime = if (req.groupByTime == "auto") "" else req.groupByTime
    val fillType = if (req.fillType.isEmpty) "null" else req.fillType
    val its = normalizedMultiItems(items, req)
    val one = its.size == 1
    if (!one) its.foreach { it =>
      if (multiPassFn(it.dataFunction)) throw new IllegalArgumentException(
        s"${it.dataFunction} is not supported in a multi-field SELECT " +
          "(multi-row selector changes the output cardinality); select it " +
          "on its own")
      if (heavyAggFn(it.dataFunction) && groupByTime.isEmpty)
        throw new IllegalArgumentException(
          s"${it.dataFunction} in a multi-field SELECT requires GROUP BY " +
            "time(...) (its own plan joins back on the bucket key); " +
            "select it on its own for the whole-range form")
      if (hasSequential(it.transformFunction) &&
          (groupByTime.isEmpty || it.dataFunction.isEmpty))
        throw new IllegalArgumentException(
          "a sequential transform in a multi-field SELECT requires an " +
            "aggregated GROUP BY time(...) item (a unique (time, tag) row " +
            s"key to join its column back on): ${it.transformFunction}")
    }
    val aggregated = its.forall(_.dataFunction.nonEmpty)
    if (!aggregated && its.exists(_.dataFunction.nonEmpty))
      throw new IllegalArgumentException(
        "mixing aggregate and non-aggregate select items is not supported " +
          "(the InfluxQL rule)")
    val aliases = itemAliases(its)
    val keyNames = req.groupByTagKeys
    aliases.foreach { a =>
      // `measurement` is reserved too: the wire shaper and the regex-FROM
      // union use it as the per-measurement series key
      require(a != "time" && a != "measurement" && !keyNames.contains(a),
        s"select-item alias collides with a reserved result column: $a")
    }

    // rollup tiers only serve mean — offer the policy `mean` only when
    // EVERY item is a plain mean (a max over a mean rollup would lie)
    val tierFn = if (its.forall(_.dataFunction == "mean")) "mean" else ""
    val (filtered0, fromSec, toSec) =
      scanFrame(req, resolve, now, sliceResolve, tierFn, groupByTime)
    // absent tag ≡ '' holds for GROUPING too: a NULL tag groups (and
    // echoes) under the empty value, one group with genuinely-empty
    // tags — not a separate NULL group (same model as the predicate
    // paths; applied after the scan filter so pushdown is unaffected)
    val filtered = keyNames.foldLeft(filtered0)((d, k) =>
      d.withColumn(k, coalesce(col(k), lit(""))))
    val bucketSec = TierPolicy.relativeToMinutes(groupByTime) * 60
    val bucket =
      if (groupByTime.isEmpty) None
      else Some(floor(unix_timestamp(col("time")) / bucketSec) * bucketSec)
    val tagEcho = groupByTime.isEmpty && keyNames.nonEmpty && (one || !aggregated)

    // the one-item shapes with their own plans (see above); each binds
    // the item's field as `value`
    val ownPlan: Option[DataFrame] =
      if (!one || tagEcho) None
      else {
        val f = filtered.withColumn("value", col(its.head.fieldName))
        (its.head.dataFunction match {
          case TopBottomFn(largest, n) =>
            Some(selectorExtremes(f, bucket, keyNames, n, largest))
          case "distinct" =>
            // InfluxQL DISTINCT: the distinct values per bucket (multi-row;
            // fill does not apply)
            Some(f.select(bucket.map(_.as("time")).toSeq ++ keyNames.map(col) :+
              col("value"): _*).distinct())
          case "mode" if bucket.isEmpty => Some(modeAgg(f, None, Nil))
          case IntegralFn(unitSec) if bucket.isEmpty =>
            Some(integralAgg(f, None, Nil, unitSec, bucketSec))
          case _ => None
        }).map(_.withColumnRenamed("value", aliases.head))
      }

    def aggExprs(pairs: Seq[(SelectItem, String)]): Seq[Column] =
      pairs.map { case (it, a) =>
        aggColumn(it.dataFunction, col(it.fieldName), col("time")).as(a)
      }
    val shaped: DataFrame = ownPlan.getOrElse {
      if (!aggregated || tagEcho) {
        if (groupByTime.nonEmpty) throw new IllegalArgumentException(
          "GROUP BY time(...) over bare (non-aggregated) select items " +
            "needs an aggregate per item")
        // raw echo (influxdb_v1.go:160-162, 178-183); a list's scalar
        // chains rewrite inline (the sequential-needs-aggregate rule above
        // already refused the rest), one item's chain runs below
        val cols = its.zip(aliases).map { case (it, a) =>
          val chain = if (one) Nil else links(it.transformFunction)
          chain.foldLeft(col(it.fieldName))((c, f) => scalarTransform(f, c).get)
            .as(a)
        }
        filtered.select(
          unix_timestamp(col("time")).as("time") +: cols ++: keyNames.map(col): _*)
      } else if (bucket.nonEmpty) {
        val bucketCol = bucket.get
        // every simple aggregate is one expression in ONE shared groupBy;
        // each heavy item (mode/integral) aggregates its own subtree over
        // the same pruned window (an extra pass of the pushed-down
        // columnar scan per heavy item — see heavyAggFn) and
        // full-outer-joins back on the bucket key (all joined sides are
        // bucket-count-sized, and a bucket empty for one column but not
        // another keeps its row with a null cell). One item joins nothing.
        val (heavyPairs, simplePairs) =
          its.zip(aliases).partition(p => heavyAggFn(p._1.dataFunction))
        val simpleFrame =
          if (simplePairs.isEmpty) Nil
          else {
            val es = aggExprs(simplePairs)
            Seq(filtered.groupBy(bucketCol.as("time") +: keyNames.map(col): _*)
              .agg(es.head, es.tail: _*))
          }
        val heavyFrames = heavyPairs.map { case (it, a) =>
          val f2 = filtered.withColumn("value", col(it.fieldName))
          val d = it.dataFunction match {
            case "mode" => modeAgg(f2, bucket, keyNames)
            case IntegralFn(unitSec) =>
              integralAgg(f2, bucket, keyNames, unitSec, bucketSec)
            case other => throw new IllegalArgumentException(
              s"unsupported data_function: $other")
          }
          d.withColumnRenamed("value", a)
        }
        // null-SAFE key equality: a USING full_outer never matches a null
        // tag value to itself, which would split the null-tag series into
        // one row per joined frame — one groupBy keeps null groups whole,
        // and the joined form must agree
        val agged = (simpleFrame ++ heavyFrames)
          .reduce(joinKeysNullSafe(_, _, "time" +: keyNames, "full_outer"))
        gapFillMulti(agged, keyNames, aliases, bucketSec, fromSec, toSec, fillType)
      } else {
        // plain aggregate over the range (influxdb_v1.go:173-177) — one
        // row, or one row per tag value when a list is grouped by tag only
        val es = aggExprs(its.zip(aliases))
        filtered.groupBy(keyNames.map(col): _*).agg(es.head, es.tail: _*)
      }
    }

    // nulls reach the transforms ONLY from gap fill: FILL(null) and the
    // edge rows of previous/linear. FILL(none) drops empty buckets and a
    // numeric fill coalesces them, so bucketed shapes under those fills
    // are provably null-free and the real-point split can be elided.
    // (The raw and tag-echo shapes keep the split: a foreign table's
    // value column may carry nulls of its own.)
    val nullFree = groupByTime.nonEmpty &&
      (fillType == "none" || fillType.toDoubleOption.isDefined)
    val transformed =
      if (one) {
        val a = aliases.head
        transformWrap(its.head.transformFunction, shaped.withColumnRenamed(a, "value"),
          keyNames, bucketSec, mayHaveNulls = !nullFree)
          .withColumnRenamed("value", a)
      } else its.zip(aliases).foldLeft(shaped) { case (acc, (it, a)) =>
        val chain = it.transformFunction
        if (chain.isEmpty || !aggregated) acc
        else if (!hasSequential(chain))
          links(chain).foldLeft(acc)((d, f) => d.withColumn(a, scalarTransform(f, col(a)).get))
        else {
          // one item's chain over its own column: project (time, tag,
          // value), reuse the full transform machinery (blocked scans
          // included), join the rewritten column back on the unique row
          // key. Both sides are the bucket-count-sized aggregated frame.
          val proj = acc.select(("time" +: keyNames).map(col) :+ col(a).as("value"): _*)
          val t = transformWrap(chain, proj, keyNames, bucketSec,
            mayHaveNulls = !nullFree)
          joinKeysNullSafe(acc.drop(a), t.withColumnRenamed("value", a),
            "time" +: keyNames, "left")
        }
      }
    // a list's columns: time, the items in list order, the tags. One
    // item keeps its shape's own column order, as single-field results
    // always have: the wire renders a raw query's tags as plain columns
    // in frame order (tags before the value when bucketed, after it when
    // echoed)
    val out =
      if (one) transformed
      else transformed.select(((if (transformed.columns.contains("time")) Seq("time")
        else Nil) ++ aliases ++ keyNames).map(col): _*)
    applySelectModifiers(out, req, keyNames)
  }

  /**
   * Gap fill over epoch-aligned buckets (InfluxQL FILL; influxdb_v1.go
   * query templates; SURVEY.md A8) for an aggregated frame of one or
   * more value columns. The spine is exploded per distinct group key —
   * never a crossJoin; the expensive (fact) side is already aggregated
   * down to one row per (bucket, key) before the join. The fill applies
   * per value column: null/number as column rewrites, previous/linear
   * as window carries that share one window pass across columns (keyed
   * by tag, or — untagged — the blocked prefix scan with broadcast
   * block-count-sized carries; never an unpartitioned window).
   */
  private[graft] def gapFillMulti(agged: DataFrame, tagCols: Seq[String],
      valueCols: Seq[String], bucketSec: Long, fromSec: Long, toSec: Long,
      fillType: String): DataFrame = {
    if (fillType == "none")
      return agged.orderBy((tagCols :+ "time").map(col): _*)
    val lo = Math.floorDiv(fromSec, bucketSec) * bucketSec
    val hi = Math.floorDiv(toSec, bucketSec) * bucketSec
    val spineCol = explode(sequence(lit(lo), lit(hi), lit(bucketSec))).as("time")
    val spine =
      if (tagCols.nonEmpty)
        agged.select(tagCols.map(col): _*).distinct().select(col("*"), spineCol)
      else
        agged.sparkSession.range(1).select(spineCol)
    // null-safe: a null TAG VALUE is a series of its own (the distinct
    // spine carries its row), and a plain USING join would never match
    // it back to its aggregates
    val joined = joinKeysNullSafe(spine, agged, tagCols :+ "time", "left")
    // linear's bracket marks: (value, time) of a non-null cell
    def mark(c: String) = when(col(c).isNotNull,
      struct(col(c).as("value"), col("time").as("time")))
    fillType match {
      case "null" => joined
      case "previous" if tagCols.isEmpty =>
        // untagged carry-forward: the blocked two-pass prefix scan (see
        // blockedDifference) — ONE in-block window pass fills every
        // column, then each column joins the last non-null value of every
        // STRICTLY EARLIER block (a block-count-sized carry, broadcast)
        val span = blockSpanSec(bucketSec)
        val withBlk = joined.withColumn("_blk", floor(col("time") / span))
        val wIn = Window.partitionBy(col("_blk")).orderBy(col("time"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val inBlk = valueCols.foldLeft(withBlk)((d, c) =>
          d.withColumn(s"_fill_$c", last(col(c), ignoreNulls = true).over(wIn)))
        val filled = valueCols.foldLeft(inBlk) { (d, c) =>
          val prev = blockCarry(
            withBlk.groupBy(col("_blk"))
              .agg(max_by(col(c), when(col(c).isNotNull, col("time"))).as("_blast")),
            updateOnNonNullOnly = true, s"_prev_$c")
          d.join(broadcast(prev), Seq("_blk"), "left")
            .withColumn(c, coalesce(col(s"_fill_$c"), col(s"_prev_$c")))
            .drop(s"_fill_$c", s"_prev_$c")
        }
        filled.drop("_blk")
      case "previous" =>
        val w = Window.partitionBy(tagCols.map(col): _*).orderBy(col("time"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        valueCols.foldLeft(joined)((d, c) =>
          d.withColumn(c, last(col(c), ignoreNulls = true).over(w)))
      case num if num.toDoubleOption.isDefined =>
        valueCols.foldLeft(joined)((d, c) =>
          d.withColumn(c, coalesce(col(c), lit(num.toDouble))))
      case "linear" if tagCols.nonEmpty =>
        // ONE window pass interpolates every column: the k (_p, _n)
        // carries share the same two window specs, so they evaluate in a
        // single WindowExec — no per-column joins, no re-derived lineage
        val wP = Window.partitionBy(tagCols.map(col): _*).orderBy(col("time"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wN = Window.partitionBy(tagCols.map(col): _*).orderBy(col("time"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val carried = valueCols.foldLeft(joined)((d, c) => d
          .withColumn(s"_p_$c", last(mark(c), ignoreNulls = true).over(wP))
          .withColumn(s"_n_$c", first(mark(c), ignoreNulls = true).over(wN)))
        valueCols.foldLeft(carried)((d, c) => d
          .withColumn(c, interpolatedAt(col(c), col(s"_p_$c"), col(s"_n_$c")))
          .drop(s"_p_$c", s"_n_$c"))
      case "linear" =>
        // untagged: the blocked two-pass prefix scan run in both
        // directions — ONE in-block window pass carries every column's
        // brackets, then each column joins a forward carry of the last
        // non-null (value, time) and a backward carry of the next one
        // (block-count-sized, broadcast)
        val span = blockSpanSec(bucketSec)
        val withBlk = joined.withColumn("_blk", floor(col("time") / span))
        val wP = Window.partitionBy(col("_blk")).orderBy(col("time"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wN = Window.partitionBy(col("_blk")).orderBy(col("time"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val inBlk = valueCols.foldLeft(withBlk)((d, c) => d
          .withColumn(s"_pin_$c", last(mark(c), ignoreNulls = true).over(wP))
          .withColumn(s"_nin_$c", first(mark(c), ignoreNulls = true).over(wN)))
        valueCols.foldLeft(inBlk) { (d, c) =>
          val prev = blockCarry(
            withBlk.groupBy(col("_blk"))
              .agg(max_by(mark(c), when(col(c).isNotNull, col("time"))).as("_blast")),
            updateOnNonNullOnly = true, s"_pout_$c")
          val nxt = blockCarry(
            withBlk.groupBy(col("_blk"))
              .agg(min_by(mark(c), when(col(c).isNotNull, col("time"))).as("_blast")),
            updateOnNonNullOnly = true, s"_nout_$c", ascending = false)
          d.join(broadcast(prev), Seq("_blk"), "left")
            .join(broadcast(nxt), Seq("_blk"), "left")
            .withColumn(c, interpolatedAt(col(c),
              coalesce(col(s"_pin_$c"), col(s"_pout_$c")),
              coalesce(col(s"_nin_$c"), col(s"_nout_$c"))))
            .drop(s"_pin_$c", s"_nin_$c", s"_pout_$c", s"_nout_$c")
        }.drop("_blk")
      case other => throw new IllegalArgumentException(
        s"unsupported fill type: $other")
    }
  }

  /** InfluxQL SELECT modifiers — `ORDER BY time [ASC|DESC]`,
   *  `LIMIT n [OFFSET m]`, `SLIMIT n [SOFFSET m]` (the dashboard
   *  `ORDER BY time DESC LIMIT 1` idiom and the series-count cut).
   *  InfluxQL limits points PER SERIES: with a tag grouping the
   *  cut runs in a per-tag window (numerous short partitions); untagged,
   *  the result is one series and the cut is a distributed TakeOrdered
   *  (`orderBy.limit`), with OFFSET applied by a row_number over the
   *  already-limit-bounded frame — the sanctioned groups-sized global
   *  window, never the data stream. A time-less shape (a plain
   *  aggregate: one row per series) has nothing to order, but the
   *  series cut and the per-series row cut still apply — SOFFSET ≥ 1
   *  past an untagged single series, or OFFSET ≥ 1 past its one row,
   *  yields empty, exactly as on time-carrying shapes. */
  private def applySelectModifiers(df0: DataFrame, req: DataPointsRequest,
      tagCols: Seq[String]): DataFrame = {
    require(req.limit > 0 || req.offset <= 0, "OFFSET requires LIMIT")
    require(req.sLimit > 0 || req.sOffset <= 0, "SOFFSET requires SLIMIT")
    if (!req.orderDesc && req.limit <= 0 && req.sLimit <= 0) return df0
    // SLIMIT/SOFFSET: the series-level cut — series ordered by their
    // key (the tag value), selected on the groups-sized distinct-tags
    // frame and semi-joined back (broadcast; no window over the data).
    // An untagged result IS one series: SOFFSET ≥ 1 skips past it
    // (empty result, the InfluxDB behavior); SLIMIT ≥ 1 keeps it.
    val df =
      if (req.sLimit <= 0) df0
      else if (tagCols.isEmpty) { if (req.sOffset >= 1) df0.limit(0) else df0 }
      else {
        val keyOrd = tagCols.map(col(_).asc)
        val keep = df0.select(tagCols.map(col): _*).distinct()
          .orderBy(keyOrd: _*).limit(req.sOffset + req.sLimit)
        val kept =
          if (req.sOffset <= 0) keep
          else keep
            .withColumn("_sn", row_number().over(Window.orderBy(keyOrd: _*)))
            .filter(col("_sn") > req.sOffset).drop("_sn")
        df0.join(broadcast(kept), tagCols, "left_semi")
      }
    // a time-less shape (whole-range aggregate: one row per series) has
    // nothing to order; the series cut above still applies, and LIMIT
    // acts on the single row per series (OFFSET >= 1 skips it)
    if (!df.columns.contains("time"))
      return if (req.limit > 0 && req.offset >= 1) df.limit(0) else df
    if (!req.orderDesc && req.limit <= 0 && req.offset <= 0) return df
    val ord = if (req.orderDesc) col("time").desc else col("time").asc
    if (req.limit <= 0) {
      // ORDER BY alone: presentation order (the API edge re-sorts too)
      df.orderBy(tagCols.map(col) :+ ord: _*)
    } else if (tagCols.nonEmpty) {
      val w = Window.partitionBy(tagCols.map(col): _*).orderBy(ord)
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") > req.offset && col("_rn") <= req.offset + req.limit)
        .drop("_rn")
    } else {
      val bounded = df.orderBy(ord).limit(req.offset + req.limit)
      if (req.offset <= 0) bounded
      else bounded
        .withColumn("_rn", row_number().over(Window.orderBy(ord)))
        .filter(col("_rn") > req.offset)
        .drop("_rn")
    }
  }

  /** Join on `keys` with NULL-SAFE equality (`<=>`), keys coalesced back
   *  to their names — a USING join never matches a null tag value to
   *  itself, which would split or drop the null-tag series. Both sides
   *  of every call here are bucket-count-sized aggregated frames. */
  private def joinKeysNullSafe(l: DataFrame, r: DataFrame, keys: Seq[String],
      how: String): DataFrame = {
    val rn = keys.map(k => k -> s"_rk_$k").toMap
    val rr = keys.foldLeft(r)((d, k) => d.withColumnRenamed(k, rn(k)))
    val j = l.join(rr, keys.map(k => col(k) <=> col(rn(k))).reduce(_ && _), how)
    val keyCols = keys.map(k => coalesce(col(k), col(rn(k))).as(k))
    val valCols = j.columns.toSeq
      .filterNot(c => keys.contains(c) || rn.values.exists(_ == c)).map(col)
    j.select(keyCols ++ valCols: _*)
  }

  /**
   * Energy preset (reference: influxdb_v1.go:203-264 GetEnergyDataPoints):
   * `sum(value)` over `gen_year.electricity_meter_energy_sampled`,
   * GROUP BY time(X), tag, FILL(null); group_by_time validated against
   * `^\d{1,2}[mhdw]$` else forced to 1h (regex at influxdb_v1.go:36).
   */
  def energyDataPoints(relativeTime: String, fromTime: String, toTime: String,
      groupByTime: String, groupByTag: String, filters: DataPointsFilter,
      resolve: Tier => DataFrame, now: Instant): DataFrame = {
    val gbt = if (groupByTime != null && groupByTime.matches("^\\d{1,2}[mhdw]$")) groupByTime else "1h"
    val req = DataPointsRequest(
      measurement = "electricity_meter_energy_sampled",
      dataFunction = "sum", relativeTime = relativeTime,
      fromTime = fromTime, toTime = toTime,
      groupByTime = gbt, groupByTag = groupByTag,
      fillType = "null", filters = filters)
    // tier is pinned to gen_year by the reference's SQL template
    dataPoints(req, _ => resolve(Tier.GenYear), now)
  }
}
