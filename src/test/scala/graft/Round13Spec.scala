package graft

import java.time.Instant
import java.sql.Timestamp

import graft.api.Cmd
import graft.model.{DataPointsFilter, DataPointsRequest, Tier}
import graft.query.{InfluxQL, Planner}
import graft.store.TierStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Round-13 contract fixes: point-window transforms over FILL(null)
 *  spines act on REAL points only (InfluxDB emits moving_average /
 *  elapsed at actual points, never at gap-filled nulls), SELECT
 *  modifiers cut the time-less plain-aggregate shape, bare
 *  `ORDER BY time` parses (direction defaults ASC), and the catalog
 *  SHOW KEYS statements answer per-measurement schemas. */
class Round13Spec extends SparkSpec {

  private val now = Instant.parse("2024-01-02T00:00:00Z")
  private val base = 1704067200L // 2024-01-01T00:00:00Z

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType),
    StructField("location_id", StringType), StructField("dev_type", StringType)))

  private def pts(rows: (Long, Double)*): DataFrame = {
    val rs = rows.map { case (sec, v) =>
      Row("app_t", new Timestamp(sec * 1000), v, "d1", "1", "sensor") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  private def query(df: DataFrame, dataFunction: String = "",
      transformFunction: String = "", groupByTime: String = "",
      groupByTag: String = "", fill: String = "null",
      toTime: String = "2024-01-01T00:03:59Z"): DataFrame =
    Planner.dataPoints(DataPointsRequest("app_t",
      fromTime = "2024-01-01T00:00:00Z", toTime = toTime,
      dataFunction = dataFunction, transformFunction = transformFunction,
      groupByTime = groupByTime, groupByTag = groupByTag, fillType = fill),
      _ => df, now)

  private def timeValue(df: DataFrame): Seq[(Long, Option[Double])] =
    df.collect().toSeq.map(r =>
      (r.getLong(r.fieldIndex("time")),
        if (r.isNullAt(r.fieldIndex("value"))) None
        else Some(r.getDouble(r.fieldIndex("value"))))).sortBy(_._1)

  // points at minutes 0, 1, 3 — minute 2 is an empty bucket that
  // FILL(null) materializes as a null row
  private def gapped = pts((base, 10.0), (base + 60, 20.0), (base + 180, 30.0))

  test("moving_average over FILL(null): gap rows stay null, window spans real points") {
    // blocked (untagged) path: n=2 window is over the 3 REAL points —
    // the null bucket neither receives a value nor dilutes the window
    val out = timeValue(query(gapped, dataFunction = "mean",
      groupByTime = "1m", transformFunction = "moving_average_2"))
    assert(out == Seq(
      (base, None),             // first real point: < n predecessors
      (base + 60, Some(15.0)),  // avg(10, 20)
      (base + 120, None),       // gap bucket: stays null
      (base + 180, Some(25.0))), // avg(20, 30) ACROSS the gap
      s"got $out")
    // keyed (tagged) path: same contract per series
    val keyed = timeValue(query(gapped, dataFunction = "mean",
      groupByTime = "1m", groupByTag = "location_id",
      transformFunction = "moving_average_2").drop("location_id"))
    assert(keyed == out, s"keyed got $keyed")
  }

  test("elapsed over FILL(null): gap rows stay null, elapsed measured between real points") {
    val out = timeValue(query(gapped, dataFunction = "mean",
      groupByTime = "1m", transformFunction = "elapsed_1m"))
    assert(out == Seq(
      (base, None),            // no previous real point
      (base + 60, Some(1.0)),  // 1 minute since minute 0
      (base + 120, None),      // gap bucket: no fabricated spacing
      (base + 180, Some(2.0))), // 2 minutes since minute 1, not 1 since the gap
      s"got $out")
    val keyed = timeValue(query(gapped, dataFunction = "mean",
      groupByTime = "1m", groupByTag = "location_id",
      transformFunction = "elapsed_1m").drop("location_id"))
    assert(keyed == out, s"keyed got $keyed")
  }

  test("select modifiers cut the time-less plain-aggregate shape") {
    def run(req: DataPointsRequest) =
      Planner.dataPoints(req, _ => gapped, now).collect()
    val agg = DataPointsRequest("app_t",
      fromTime = "2024-01-01T00:00:00Z", toTime = "2024-01-01T23:59:59Z",
      dataFunction = "sum")
    assert(run(agg).map(_.getDouble(0)).toSeq == Seq(60.0))
    // the untagged aggregate IS one series: SLIMIT 1 keeps it,
    // SOFFSET >= 1 skips past it (the round-12 early return leaked the row)
    assert(run(agg.copy(sLimit = 1)).length == 1)
    assert(run(agg.copy(sLimit = 1, sOffset = 1)).isEmpty)
    // LIMIT acts on the single row per series
    assert(run(agg.copy(limit = 1)).length == 1)
    assert(run(agg.copy(limit = 1, offset = 1)).isEmpty)
  }

  test("bare ORDER BY time parses as ASC; swallowed clauses fail in the envelope") {
    val s = InfluxQL.parse(
      """SELECT mean("value") FROM "m" WHERE time > now()-1h GROUP BY time(1m) ORDER BY time LIMIT 5""")
      .asInstanceOf[InfluxQL.Select]
    assert(!s.req.orderDesc && s.req.limit == 5)
    val asc = InfluxQL.parse(
      """SELECT mean("value") FROM "m" GROUP BY time(1m) ORDER BY time ASC""")
      .asInstanceOf[InfluxQL.Select]
    assert(!asc.req.orderDesc)
    // a malformed trailing clause swallowed by the lazy GROUP BY capture
    // must fail as InfluxQL (IllegalArgumentException), not surface later
    // as a Spark AnalysisException on a bogus group column
    intercept[IllegalArgumentException] {
      InfluxQL.parse(
        """SELECT mean("value") FROM "m" GROUP BY time(1m) ORDER BY thyme DESC""")
    }
  }

  test("SHOW TAG/FIELD KEYS answer per-measurement schemas; unknown FROM is empty") {
    val root =
      graft.Fixtures.newDir("graft_r13cat").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.write(Tier.GenRaw, pts((base, 1.0)))
    // a second measurement carrying an extra tag column in ITS files
    val rs = Seq(Row("app_u", new Timestamp((base + 60) * 1000), 2.0,
      "d9", "2", "sensor", "h1"))
    val extra = spark.createDataFrame(spark.sparkContext.parallelize(rs),
      StructType(schema.fields :+ StructField("host", StringType)))
    store.write(Tier.GenRaw, extra)
    def keys(m: String) =
      store.tagKeys(Some(m)).collect().map(_.getString(1)).toSet
    assert(keys("app_u").contains("host"), s"app_u keys: ${keys("app_u")}")
    assert(!keys("app_t").contains("host"), s"app_t keys: ${keys("app_t")}")
    assert(store.tagKeys(Some("nope")).count() == 0)
    assert(store.fieldKeys(Some("app_t")).collect()
      .map(_.getString(0)).contains("value"))
    assert(store.fieldKeys(Some("nope")).count() == 0)
    // DATA statements answer through the measurement's own schema too:
    // host exists only in app_u's files, and TAG VALUES/SERIES must
    // find it there deterministically (the tier-wide footer schema may
    // come from either measurement's files)
    assert(store.tagValues(Some("app_u"), "host").collect()
      .map(_.getString(1)).toSeq == Seq("h1"))
    assert(store.tagValues(Some("app_t"), "host").count() == 0)
    val series = store.seriesKeys(Some("app_u")).collect().map(_.getString(0))
    assert(series.length == 1 && series.head.contains("host=h1"),
      s"series: ${series.toSeq}")
  }

  test("InfluxQL one-level subquery: max-of-mean plans end-to-end; " +
    "deeper nesting and non-SELECT parens refuse in the envelope") {
    def sub(outer: String) = InfluxQL.dataPoints(
      s"""$outer FROM (SELECT mean("value") AS "mv" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND """ +
        """time <= '2024-01-01T00:03:59Z' GROUP BY time(1m))""",
      _ => gapped, _ => None, now)
    // inner 1m means: 10 (min 0), 20 (min 1), 30 (min 3); outer
    // whole-range max with NO outer WHERE (bounds inherited) = 30
    assert(sub("""SELECT max("mv")""").collect()
      .map(_.getDouble(0)).toSeq == Seq(30.0))
    // outer re-buckets the inner's points: 2m buckets -> max(10,20), 30
    val two = InfluxQL.dataPoints(
      """SELECT max("mv") FROM (SELECT mean("value") AS "mv" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND """ +
        """time <= '2024-01-01T00:03:59Z' GROUP BY time(1m)) """ +
        """GROUP BY time(2m) FILL(none)""",
      _ => gapped, _ => None, now)
    assert(timeValue(two) == Seq((base, Some(20.0)), (base + 120, Some(30.0))))
    // deeper nesting PARSES since round 14 (it refused through r13):
    // the inner of the top level is itself a Subquery
    InfluxQL.parse("""SELECT max("v") FROM (SELECT mean("v") AS "v" """ +
      """FROM (SELECT "value" FROM "m") GROUP BY time(1h))""") match {
      case InfluxQL.Subquery(_, inner: InfluxQL.Subquery, aliases) =>
        assert(aliases == Seq("v"))
        assert(inner.innerAliases == Seq("value"))
      case other => fail(s"expected nested Subquery, got: $other")
    }
    // a parenthesized FROM that is not a SELECT refuses too
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT max("v") FROM (VALUES (1))""")
    }
    // a whole-range inner aggregate leaves the outer no time axis
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT max("mv") FROM (SELECT mean("value") AS "mv" """ +
          """FROM "app_t" WHERE time > now()-1h)""",
        _ => gapped, _ => None, now).collect()
    }
    // a tag-grouped inner carries its tag through to a tag-grouped
    // outer (the per-series max-of-mean shape)
    val tagged = InfluxQL.dataPoints(
      """SELECT max("mv") FROM (SELECT mean("value") AS "mv" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND """ +
        """time <= '2024-01-01T00:03:59Z' """ +
        """GROUP BY time(1m), "location_id") """ +
        """GROUP BY time(2m), "location_id" FILL(none)""",
      _ => gapped, _ => None, now)
    assert(tagged.columns.toSet == Set("time", "value", "location_id"))
    assert(tagged.collect().map(r => (r.getLong(r.fieldIndex("time")),
      r.getString(r.fieldIndex("location_id")),
      r.getDouble(r.fieldIndex("value")))).toSet ==
      Set((base, "1", 20.0), (base + 120, "1", 30.0)))
  }

  test("listing slice: only the touched partitions are resolved, and the " +
    "sliced read equals the filtered full read") {
    val root = graft.Fixtures.newDir("graft_r13slice")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    // 2 measurements x 5 dates = 10 partitions
    val rows = for (m <- Seq("app_a", "app_b"); d <- 1 to 5) yield
      Row(m, new java.sql.Timestamp((base + (d - 1) * 86400L) * 1000), d.toDouble,
        "d1", "1", "sensor")
    store.write(Tier.GenDefault,
      spark.createDataFrame(spark.sparkContext.parallelize(rows), schema))
    val full = store.read(Tier.GenDefault)
      .filter(col("measurement") === "app_a" &&
        col("date").between("2024-01-02", "2024-01-03"))
      .select("value").collect().map(_.getDouble(0)).toSet
    val sliced = store.readSlice(Tier.GenDefault, Some("app_a"),
      Some("2024-01-02"), Some("2024-01-03"))
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(sliced == Set(2.0, 3.0) && sliced == full)
    // the CLAIM: partitions outside the slice are never even resolved
    val idx = new graft.store.TierFileIndex(spark,
      new org.apache.hadoop.fs.Path(s"$root/tier=gen_default"),
      slice = Some(graft.store.TierFileIndex.Slice(Some("app_a"),
        Some("2024-01-02"), Some("2024-01-03"))))
    assert(idx.resolvedPartitions.map(p => (p._1, p._2)).toSet ==
      Set(("app_a", "2024-01-02"), ("app_a", "2024-01-03")))
    // Planner arithmetic shared: the window derives from dateWindow
    val (lo, hi) = Planner.dateWindow(base + 86400, base + 2 * 86400, "UTC")
    assert((lo, hi) == ("2024-01-02", "2024-01-03"))
    // and the command path composes: get_data_points answers the same
    // values through the sliced resolver
    val ctx = graft.api.Api.Context(spark, store, now = () => now)
    val viaApi = graft.api.Api.dispatch(ctx,
      Cmd.GetDataPoints(Cmd.GetDataPointsRequest(measurementName = "app_a",
        fromTime = "2024-01-02T00:00:00Z", toTime = "2024-01-03T12:00:00Z")))
      .select("value").collect().map(_.getDouble(0)).toSet
    assert(viaApi == Set(2.0, 3.0), s"api got $viaApi")
  }

  test("two commits inside one forced-identical mtime tick still pin " +
    "distinctly: as-of pins are logical positions, not timestamps") {
    val root =
      graft.Fixtures.newDir("graft_r13tick").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def vals(df: org.apache.spark.sql.DataFrame): Set[Double] =
      df.select("value").collect().map(_.getDouble(0)).toSet
    store.write(Tier.GenRaw, pts((base, 1.0)))
    val pin = store.pinNow()
    store.write(Tier.GenRaw, pts((base + 60, 2.0)))
    // force EVERY record — ledger markers, data files — onto ONE mtime
    // tick, the worst case of a second-granularity object store where
    // both commits land inside the same reported instant
    val tick = 1704067200000L
    def flatten(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { e =>
        if (e.isDirectory) flatten(e.getPath)
        else fs.setTimes(e.getPath, tick, -1)
      }
    flatten(new org.apache.hadoop.fs.Path(root))
    // the pin still resolves exactly {batch 0}: admission is by ledger
    // POSITION (batch id ≤ 0), which no clock coarsening can merge
    assert(vals(store.readAsOf(Tier.GenRaw, pin)) == Set(1.0))
    assert(vals(store.readAsOf(Tier.GenRaw, store.pinNow())) == Set(1.0, 2.0))

    // same property for SNAPSHOT versions: two retained-history
    // compactions in one tick keep distinct pinned views
    val store2 = new TierStore(spark,
      graft.Fixtures.newDir("graft_r13tick2").toFile.getAbsolutePath)
    store2.write(Tier.GenDay, pts((base, 1.0)))
    store2.write(Tier.GenDay, pts((base + 60, 2.0)))
    store2.compact(Tier.GenDay, minFiles = 2, retainHistory = true): Unit
    val pinV1 = store2.pinNow()
    store2.write(Tier.GenDay, pts((base + 120, 3.0)))
    store2.compact(Tier.GenDay, minFiles = 2, retainHistory = true): Unit
    flatten(new org.apache.hadoop.fs.Path(store2.root))
    assert(vals(store2.readAsOf(Tier.GenDay, pinV1)) == Set(1.0, 2.0))
    assert(vals(store2.readAsOf(Tier.GenDay, store2.pinNow())) == Set(1.0, 2.0, 3.0))
  }
}
