package graft

import java.sql.Timestamp

import graft.stream.Aggregator
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/**
 * Streaming aggregator math — exact unit vectors from the reference's
 * tests (agreggator_test.go:65-115, FIXTURES.md §6) plus the batch forms.
 */
class AggregatorSpec extends SparkSpec {

  test("difference with meter reset: [10,12,10,20,30] → 22") {
    assert(Aggregator.calculateDifference(Seq(10, 12, 10, 20, 30)) == 22.0)
  }

  test("difference degenerate: [10] → 0, [] → 0") {
    assert(Aggregator.calculateDifference(Seq(10)) == 0.0)
    assert(Aggregator.calculateDifference(Nil) == 0.0)
  }

  test("difference float precision: exact reference value") {
    val got = Aggregator.calculateDifference(Seq(30.9099998474121, 30.9200000762939))
    assert(got == 0.01000022888180041)
  }

  test("IQR extreme outliers: [100,120,130,400,140,150] → {400}") {
    assert(Aggregator.extremeOutliers(Seq(100, 120, 130, 400, 140, 150)) == Set(400.0))
  }

  test("filterSeries drops zeros and extreme outliers (agreggator.go:311-340)") {
    // no zeros: 400 is outside the outer fences → dropped
    assert(Aggregator.filterSeries(Seq(100, 120, 130, 400, 140, 150)) ==
      Seq(100.0, 120.0, 130.0, 140.0, 150.0))
    // reference quirk: fences are computed on the RAW buffer including
    // zeros — zeros widen the IQR so 400 survives, only zeros are removed
    assert(Aggregator.filterSeries(Seq(100, 0, 120, 130, 400, 140, 0, 150)) ==
      Seq(100.0, 120.0, 130.0, 400.0, 140.0, 150.0))
  }

  test("adjustTimeByOneHour → previous hour at :59:00 (agreggator.go:307-310)") {
    // 2024-01-01 10:23:45 UTC → 2024-01-01 09:59:00 UTC
    val in = 1704104625L
    val out = Aggregator.adjustTimeByOneHour(in)
    assert(out == 1704103140L)
  }

  private val ptsSchema = StructType(Seq(
    StructField("series_id", StringType), StructField("measurement", StringType),
    StructField("agg_func", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_type", StringType)))

  private def mkPoints(rows: (String, String, Long, Double)*) = {
    val rs = rows.map { case (s, f, sec, v) =>
      Row(s, "m", f, new Timestamp(sec * 1000), v, "sensor") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), ptsSchema)
  }

  test("batch 30s aggregate with change suppression (agreggator.go:158-214)") {
    val df = mkPoints(
      ("s1", "mean", 0, 10.0), ("s1", "mean", 10, 20.0),   // window 0: mean 15
      ("s1", "mean", 30, 15.0),                             // window 1: mean 15 → suppressed
      ("s1", "mean", 60, 30.0),                             // window 2: mean 30
      ("s2", "last", 0, 1.0), ("s2", "last", 20, 2.0),     // window 0: last 2
      ("s2", "last", 30, 2.0))                              // window 1: last 2 → suppressed
    val out = Aggregator.aggregate(df, 30).collect()
      .map(r => (r.getAs[String]("series_id"),
        r.getAs[Timestamp]("time").getTime / 1000, r.getAs[Double]("value"))).toSet
    assert(out == Set(("s1", 30L, 15.0), ("s1", 90L, 30.0), ("s2", 30L, 2.0)))
  }

  test("batch difference: windows, reset, seed carry-over (agreggator.go:217-305)") {
    // one series, 10-min windows; values only grow except one reset
    val df = mkPoints(
      ("s1", "difference", 0, 10.0), ("s1", "difference", 100, 12.0),
      ("s1", "difference", 200, 10.0), ("s1", "difference", 300, 20.0),
      ("s1", "difference", 400, 30.0),                     // window [0,600): diff 22
      ("s1", "difference", 700, 35.0))                     // window 2: seed 30 → 5
    val out = Aggregator.difference(df, 10).collect()
      .map(r => (r.getAs[Timestamp]("time").getTime / 1000, r.getAs[Double]("value"))).toSet
    assert(out == Set((600L, 22.0), (1200L, 5.0)))
  }

  test("batch difference: >100 kWh discarded, zero suppressed (agreggator.go:261-275)") {
    val df = mkPoints(
      ("s1", "difference", 0, 10.0), ("s1", "difference", 100, 200.0), // diff 190 > 100 → drop
      ("s2", "difference", 0, 10.0), ("s2", "difference", 100, 10.0))  // diff 0 → suppressed
    assert(Aggregator.difference(df, 10).collect().isEmpty)
  }

  test("batch difference: staleness guard drops old buffers (agreggator.go:236-241)") {
    // values 3h apart: the second window's buffer is stale at its tick
    val df = mkPoints(
      ("s1", "difference", 0, 10.0),
      ("s1", "difference", 3 * 3600 + 100, 20.0), ("s1", "difference", 3 * 3600 + 200, 25.0))
    val out = Aggregator.difference(df, 10).collect()
      .map(r => r.getAs[Double]("value")).toSet
    // first window emits nothing (single value → diff 0 suppressed);
    // stale gap: the 3h-later window only sees its own values: 25-20=5
    assert(out == Set(5.0))
  }

  test("hourly-accumulated profile shifts time to previous hour (A3)") {
    val rs = Seq(
      Row("s1", "m", "difference", new Timestamp(3600L * 1000), 10.0, "meter.main_elec"),
      Row("s1", "m", "difference", new Timestamp(3900L * 1000), 20.0, "meter.main_elec"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rs), ptsSchema)
    val out = Aggregator.difference(df, 10).collect()
    assert(out.length == 1)
    // tick at 4200 (next 10-min boundary) → previous hour :59
    assert(out.head.getAs[Timestamp]("time").getTime / 1000 ==
      Aggregator.adjustTimeByOneHour(4200))
    assert(out.head.getAs[Double]("value") == 10.0)
  }

  test("difference properties: non-negative; reset-invariant; telescoping on monotone input") {
    import org.scalacheck.{Gen, Prop}
    val genVals = Gen.listOf(Gen.choose(0.0, 1000.0))
    checkProp(Prop.forAll(genVals) { vs =>
      Aggregator.calculateDifference(vs) >= 0.0
    })
    // monotone non-decreasing input → difference telescopes to last-first
    val genMono = Gen.listOf(Gen.choose(0.0, 100.0)).map(_.scanLeft(0.0)(_ + _))
    checkProp(Prop.forAll(genMono) { vs =>
      val d = Aggregator.calculateDifference(vs)
      vs.length <= 1 || math.abs(d - (vs.last - vs.head)) < 1e-6
    })
    // a meter reset (drop to ZERO mid-series) never increases the result.
    // NB the tail must reset to a level ≤ the pre-cut value — the old
    // "+1" shift could ADD a boundary delta of (1 − vs(cut−1)) when the
    // series was still below 1, a latent false counterexample ScalaCheck
    // eventually found.
    checkProp(Prop.forAll(genMono.suchThat(_.length >= 2)) { vs =>
      val cut = vs.length / 2
      val withReset = vs.take(cut) ++ vs.drop(cut).map(_ - vs(cut))
      Aggregator.calculateDifference(withReset) <=
        Aggregator.calculateDifference(vs) + 1e-6
    }, minTests = 50)
  }

  test("gap fill produces the complete spine for any range (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.apache.spark.sql.functions._
    val gen = for {
      from <- Gen.choose(0L, 100000L)
      span <- Gen.choose(1L, 50000L)
      bucket <- Gen.oneOf(60L, 600L, 3600L)
    } yield (from, from + span, bucket)
    checkProp(Prop.forAll(gen) { case (from, to, bucket) =>
      val empty = spark.range(0).select(col("id").as("time"),
        col("id").cast("double").as("value"))
      val filled = graft.query.Planner.gapFillMulti(empty, Nil, Seq("value"), bucket,
        from, to, "null")
      val times = filled.collect().map(_.getAs[Long]("time"))
      val lo = Math.floorDiv(from, bucket) * bucket
      val hi = Math.floorDiv(to, bucket) * bucket
      times.toSeq == (lo to hi by bucket).toSeq
    }, minTests = 20)
  }

  test("windowed difference (query-side A2) sums positive deltas per bucket") {
    val df = mkPoints(
      ("s1", "x", 0, 10.0), ("s1", "x", 100, 12.0), ("s1", "x", 200, 10.0),
      ("s1", "x", 300, 20.0), ("s1", "x", 700, 30.0))
    val out = Aggregator.windowedDifference(df, 10).collect()
      .map(r => (r.getAs[Long]("time_sec"), r.getAs[Double]("value"))).toSet
    // bucket [0,600): deltas +2,-2(skip),+10 → 12; bucket [600,1200): +10
    assert(out == Set((600L, 12.0), (1200L, 10.0)))
  }
}
