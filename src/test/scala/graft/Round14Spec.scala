package graft

import java.time.Instant
import java.sql.Timestamp

import graft.api.{Api, Cmd}
import graft.model.{DataPointsRequest, Tier}
import graft.query.{InfluxQL, Planner}
import graft.store.TierStore
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Round-14 surface: multi-tag `GROUP BY time(X), tag1, tag2` (the one
 *  InfluxQL shape real dashboards emit that still refused — the
 *  reference's own API takes exactly one tag, influxdb_v1.go:160-171,
 *  so this is raw-passthrough surface), SELECT INTO carrying a
 *  single-item `AS` alias as the stored field name, subquery inner
 *  aliases matching the PLANNED inner columns (grouped bare-list mean
 *  default), literal-masked statement sniffing/splicing, and the
 *  as-of pin's foreign-file mtime arm on a coarse (second-granular)
 *  clock. */
class Round14Spec extends SparkSpec {

  private val now = Instant.parse("2024-01-02T00:00:00Z")
  private val base = 1704067200L // 2024-01-01T00:00:00Z

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType),
    StructField("location_id", StringType), StructField("dir", StringType)))

  /** Four series across two tags: location {1,2} × dir {imp,exp}. */
  private def twoTag: DataFrame = {
    val rs = Seq(
      (base, 10.0, "1", "imp"), (base + 60, 20.0, "1", "imp"),
      (base, 30.0, "1", "exp"),
      (base, 40.0, "2", "imp"),
      (base + 3600, 50.0, "2", "exp"), (base + 3660, 70.0, "2", "exp"))
      .map { case (sec, v, loc, d) =>
        Row("app_t", new Timestamp(sec * 1000), v, s"d$loc", loc, d) }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  test("GROUP BY time(1h), location_id, dir aggregates per tag TUPLE") {
    val out = InfluxQL.dataPoints(
      """SELECT mean("value") FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h), "location_id", "dir" FILL(none)""",
      _ => twoTag, _ => None, now)
    assert(out.columns.toSeq == Seq("time", "location_id", "dir", "value"))
    val got = out.collect().map(r => (r.getString(1), r.getString(2),
      r.getLong(0), r.getDouble(3))).toSet
    assert(got == Set(
      ("1", "imp", base, 15.0), ("1", "exp", base, 30.0),
      ("2", "imp", base, 40.0), ("2", "exp", base + 3600, 60.0)))
  }

  test("tag-only multi-tag grouping echoes raw points with both tag columns") {
    val out = Planner.dataPoints(DataPointsRequest("app_t",
      fromTime = "2024-01-01T00:00:00Z", toTime = "2024-01-01T02:00:00Z",
      groupByTag = "location_id,dir"), _ => twoTag, now)
    // tag-only grouping is the raw per-series ECHO (influxdb_v1.go:
    // 160-162 — the branch ignores the aggregate), now keyed by BOTH tags
    assert(out.columns.contains("location_id") && out.columns.contains("dir"))
    val got = out.collect()
      .map(r => (r.getAs[String]("location_id"), r.getAs[String]("dir"),
        r.getAs[Double]("value"))).toSet
    assert(got == Set(
      ("1", "imp", 10.0), ("1", "imp", 20.0), ("1", "exp", 30.0),
      ("2", "imp", 40.0), ("2", "exp", 50.0), ("2", "exp", 70.0)))
  }

  test("multi-item select accepts the multi-tag grouping too") {
    val out = InfluxQL.dataPoints(
      """SELECT mean("value") AS "mu", count("value") AS "n" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h), "location_id", "dir" FILL(none)""",
      _ => twoTag, _ => None, now)
    val got = out.collect().map(r => (r.getAs[String]("location_id"),
      r.getAs[String]("dir"), r.getAs[Long]("time"), r.getAs[Double]("mu"),
      r.getAs[Long]("n"))).toSet
    assert(got == Set(
      ("1", "imp", base, 15.0, 2L), ("1", "exp", base, 30.0, 1L),
      ("2", "imp", base, 40.0, 1L), ("2", "exp", base + 3600, 60.0, 2L)))
  }

  test("shapeResponse renders one Series per tag tuple with every key in tags") {
    val df = InfluxQL.dataPoints(
      """SELECT mean("value") FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h), "location_id", "dir" FILL(none)""",
      _ => twoTag, _ => None, now)
    val json = Api.shapeResponse(df, "app_t", "location_id,dir")
    // four tuples → four Series, each tags object carrying BOTH keys
    assert("\"tags\":\\{\"location_id\":\"[^\"]+\",\"dir\":\"[^\"]+\"\\}".r
      .findAllIn(json).size == 4)
    assert(json.contains(
      """"tags":{"location_id":"2","dir":"exp"},"columns":["time","value"],"values":[[1704070800,60.0]]"""))
  }

  test("SELECT mean AS foo INTO stores the field under the alias") {
    val root = graft.Fixtures.newDir("graft_r14into")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.writeRouted(twoTag.withColumnRenamed("dir", "dev_type"))
    val ctx = Api.Context(spark, store, now = () => now)
    Api.dispatch(ctx,
      Cmd.Query("""SELECT mean("value") AS "foo" INTO "gen_default"."hourly" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h) FILL(none)""")).collect()
    // the written measurement answers a read of FIELD "foo" (InfluxDB
    // stores the alias as the field key — the pre-fix behavior stored
    // `value` and a "foo" read found nothing)
    val back = Api.dispatch(ctx,
      Cmd.Query("""SELECT "foo" FROM "gen_default"."hourly" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z'"""))
    assert(back.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(25.0, 60.0)) // hour-0 mean of {10,20,30,40}, hour-1 of {50,70}
  }

  test("subquery over a bare multi-item inner references the PLANNED names") {
    // inner `SELECT "value", "value" ... GROUP BY time(1h)` takes the
    // grouped bare-list mean default → planned columns mean / mean_1;
    // the outer must see those names (raw-item aliases would resolve to
    // the field names and misclassify the value columns as tags)
    val out = InfluxQL.dataPoints(
      """SELECT max("mean") FROM (SELECT "value", "value" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h)) GROUP BY time(2h) FILL(none)""",
      _ => twoTag, _ => None, now)
    // hourly means: h0 = 25.0, h1 = 60.0 → 2h-max = 60.0 (one bucket)
    assert(out.select("value").collect().map(_.getDouble(0)).toSeq == Seq(60.0))
  }

  test("statement sniffers and splices ignore text inside string literals") {
    // each of these is plain Spark SQL whose LITERAL carries an
    // InfluxQL-looking marker; none may be claimed
    assert(!InfluxQL.looksLike(
      "SELECT * FROM t WHERE msg = 'logged into db from host'"))
    assert(!InfluxQL.looksLike(
      "SELECT * FROM logs WHERE note = 'use fill(null) here'"))
    assert(!InfluxQL.looksLike(
      "SELECT * FROM t WHERE path = 'from /var/log/x'"))
    assert(!InfluxQL.looksLike(
      "SELECT * FROM t WHERE q = 'group by time(1h)'"))
    // still claimed when the marker is real
    assert(InfluxQL.looksLike(
      """SELECT mean("v") FROM "m" GROUP BY time(1h)"""))
    // an InfluxQL statement whose WHERE literal carries `into ... from`
    // parses as its REAL shape (plain select), not as SELECT INTO
    val st = InfluxQL.parse(
      """SELECT "value" FROM "app_t" WHERE "note" = 'went into town from home'""")
    assert(st.isInstanceOf[InfluxQL.Select])
    // and a literal `from (select` does not open a phantom subquery
    val st2 = InfluxQL.parse(
      """SELECT "value" FROM "app_t" WHERE "note" = 'from (select x)'""")
    assert(st2.isInstanceOf[InfluxQL.Select])
  }

  test("subqueries nest to any depth: three levels plan end-to-end") {
    // hourly mean → 2h max → whole-range min, WHERE only innermost:
    // exercises recursive inner planning AND recursive bounds
    // inheritance through two unbounded levels
    val out = InfluxQL.dataPoints(
      """SELECT min("hx") FROM (SELECT max("mu") AS "hx" FROM """ +
        """(SELECT mean("value") AS "mu" FROM "app_t" """ +
        """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
        """GROUP BY time(1h)) GROUP BY time(2h) FILL(none))""",
      _ => twoTag, _ => None, now)
    // hourly means: h0 = 25.0 ({10,20,30,40}), h1 = 60.0 ({50,70});
    // 2h max = 60.0 (single bucket); whole-range min = 60.0
    assert(out.collect().map(_.getDouble(0)).toSeq == Seq(60.0))
  }

  test("nested subquery over a multi-item middle level resolves planned names") {
    // middle level is a MULTI-item list: its planned columns (mu, mx)
    // are what the top level must see in innerAliases
    val st = InfluxQL.parse(
      """SELECT max("mx") FROM (SELECT mean("v") AS "mu", max("v") AS "mx" """ +
        """FROM (SELECT "value" AS "v" FROM "app_t") GROUP BY time(1h))""")
    st match {
      case InfluxQL.Subquery(_, _: InfluxQL.Subquery, aliases) =>
        assert(aliases == Seq("mu", "mx"))
      case other => fail(s"expected nested Subquery, got: $other")
    }
  }

  test("WHERE tag predicates: !=, =~, !~ filter at the scan; absent tags are ''") {
    // a frame where one series has a NULL dir — InfluxDB's tag model
    // treats the absent tag as the empty string, so `dir != 'imp'`
    // and `dir !~ /imp/` must both MATCH the null-dir series
    val rs = Seq(
      (base, 1.0, "1", "imp"), (base + 1, 2.0, "1", "exp"),
      (base + 2, 4.0, "2", null))
      .map { case (sec, v, loc, d) =>
        Row("app_t", new Timestamp(sec * 1000), v, s"d$loc", loc, d) }
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
    def vals(q: String): Seq[Double] = InfluxQL.dataPoints(
      s"""SELECT "value" FROM "app_t" WHERE """ +
        """time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T01:00:00Z' """ +
        s"AND $q", _ => df, _ => None, now)
      .select("value").collect().map(_.getDouble(0)).sorted.toSeq
    assert(vals(""""dir" != 'imp'""") == Seq(2.0, 4.0))
    assert(vals(""""dir" =~ /mp/""") == Seq(1.0)) // unanchored
    assert(vals(""""dir" !~ /^i/""") == Seq(2.0, 4.0))
    assert(vals(""""location_id" =~ /^[12]$/""") == Seq(1.0, 2.0, 4.0))
    // numeric FIELD conditions — per point, before aggregation
    assert(vals(""""value" > 1.5""") == Seq(2.0, 4.0))
    assert(vals(""""value" >= 2 AND "value" != 4""") == Seq(2.0))
    // a parenthesized OR group — tag equality, regex, and field atoms
    // disjoin inside one AND conjunct
    assert(vals("""("dir" = 'imp' OR "value" > 3)""") == Seq(1.0, 4.0))
    assert(vals("""("dir" =~ /^e/ OR "location_id" = '2')""") == Seq(2.0, 4.0))
    // an unsupported WHERE shape still refuses in the envelope
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT "v" FROM "m" WHERE "a" > 'b'""")
    }
    // a time bound may not ride an OR (disjunctive scan ranges refuse)
    intercept[IllegalArgumentException] {
      InfluxQL.parse(
        """SELECT "v" FROM "m" WHERE (time > now()-1h OR "a" = 'b')""")
    }
  }

  test("WHERE parsing survives the review-pass edge cases") {
    def vals(df: DataFrame): Seq[Double] =
      df.select("value").collect().map(_.getDouble(0)).sorted.toSeq
    val timeW = """time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T01:00:00Z'"""
    // redundant parens around a SINGLE condition — Grafana's builder
    // wraps every tag filter in parens; must parse, not refuse
    assert(vals(InfluxQL.dataPoints(
      s"""SELECT "value" FROM "app_t" WHERE ("dir" = 'imp') AND $timeW""",
      _ => twoTag, _ => None, now)) == Seq(10.0, 20.0, 40.0))
    // nested redundant parens unwrap recursively
    assert(vals(InfluxQL.dataPoints(
      s"""SELECT "value" FROM "app_t" WHERE (("dir" = 'imp')) AND $timeW""",
      _ => twoTag, _ => None, now)) == Seq(10.0, 20.0, 40.0))
    // AND inside a snake_case identifier must not split the clause
    val st = InfluxQL.parse(
      """SELECT "v" FROM "m" WHERE "op_and_mode" = 'x' AND time > now()-1h""")
    assert(st.asInstanceOf[InfluxQL.Select].req.filters.tags
      == Map("op_and_mode" -> "x"))
    // a paren or an AND inside a string literal is not structure
    val st2 = InfluxQL.parse(
      """SELECT "v" FROM "m" WHERE "note" = ':-)' AND time > now()-1h""")
    assert(st2.asInstanceOf[InfluxQL.Select].req.filters.tags
      == Map("note" -> ":-)"))
    val st3 = InfluxQL.parse(
      """SELECT "v" FROM "m" WHERE "note" = 'a and b' AND time > now()-1h""")
    assert(st3.asInstanceOf[InfluxQL.Select].req.filters.tags
      == Map("note" -> "a and b"))
    // an unbalanced paren inside a regex body is not structure either
    val st4 = InfluxQL.parse(
      """SELECT "v" FROM "m" WHERE "host" =~ /^\(/ AND time > now()-1h""")
    assert(st4.asInstanceOf[InfluxQL.Select].req.tagPredicates
      == Seq(graft.model.TagPredicate("host", "=~", "^\\(")))
    // a numeric epoch-time bound REFUSES (it must never become a
    // field predicate silently comparing a timestamp to a double)
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT "v" FROM "m" WHERE time > 1703721600000000000""")
    }
    // INTO alias colliding with a result column refuses in the envelope
    val root = graft.Fixtures.newDir("graft_r14col")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.writeRouted(twoTag.withColumnRenamed("dir", "dev_type"))
    val ctx = Api.Context(spark, store, now = () => now)
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.Query("""SELECT mean("value") AS "time" INTO "t2" FROM "app_t" """ +
          """WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-01T02:00:00Z' """ +
          """GROUP BY time(1h) FILL(none)""")).collect()
    }
  }

  test("SHOW MEASUREMENTS accepts ON db and WITH MEASUREMENT =~ /re/") {
    assert(InfluxQL.parse("SHOW MEASUREMENTS") == InfluxQL.ShowMeasurements(None))
    assert(InfluxQL.parse("""SHOW MEASUREMENTS ON "db"""") ==
      InfluxQL.ShowMeasurements(None))
    assert(InfluxQL.parse("SHOW MEASUREMENTS WITH MEASUREMENT =~ /^cpu/") ==
      InfluxQL.ShowMeasurements(Some("^cpu")))
    assert(InfluxQL.parse(
      """SHOW MEASUREMENTS ON mydb WITH MEASUREMENT =~ /a\/b/""") ==
      InfluxQL.ShowMeasurements(Some("a/b")))
    assert(InfluxQL.looksLike("SHOW MEASUREMENTS WITH MEASUREMENT =~ /x/"))
    intercept[IllegalArgumentException] {
      InfluxQL.parse("SHOW MEASUREMENTS WITH BOGUS =~ /x/")
    }
  }

  test("property: literal content never affects WHERE structure") {
    import org.scalacheck.{Gen, Prop}
    // tag values drawn from an alphabet of structural hazards: parens,
    // keywords, slashes, operators — none may leak into the clause
    // structure when they sit inside a single-quoted literal
    val hazard = Gen.oneOf("and", "or", "AND", "(", ")", "((", "/x/",
      "=~", "!=", ":-)", "into t from", "from (select", "fill(null)",
      "group by time(1h)", "a b", "_", "9", "limit 5", "offset 2",
      "order by time desc", "slimit 1", "where x")
    val valueGen = for {
      n <- Gen.choose(1, 4)
      parts <- Gen.listOfN(n, hazard)
    } yield parts.mkString(" ")
    checkProp(Prop.forAll(valueGen) { v =>
      val st = InfluxQL.parse(
        s"""SELECT "v" FROM "m" WHERE "t" = '$v' AND time > now()-1h""")
      val r = st.asInstanceOf[InfluxQL.Select].req
      r.filters.tags == Map("t" -> v) && r.relativeTime == "1h" &&
        r.tagPredicates.isEmpty && r.orPredicates.isEmpty
    })
  }

  test("a numeric field predicate withholds the rollup-mean tier upgrade") {
    // sensor_* + mean + 1h bucket over a short relative range upgrades
    // the scan to a rollup tier (the reference's optimized profile);
    // with `value > 1` in WHERE the upgrade must NOT fire — rollup rows
    // are pre-aggregated means, and a per-point field condition over
    // them answers a different question than InfluxDB's semantics
    val seen = scala.collection.mutable.ArrayBuffer.empty[Tier]
    def q(where: String): Unit = {
      InfluxQL.dataPoints(
        s"""SELECT mean("value") FROM "sensor_t" WHERE time > now()-6h $where """ +
          """GROUP BY time(1h) FILL(none)""",
        t => { seen += t; twoTag.withColumn("measurement", lit("sensor_t")) },
        _ => None, now).collect()
      ()
    }
    q("")
    assert(seen.last == Tier.GenMonth) // the mean upgrade (1h bucket)
    q("""AND "value" > 1""")
    assert(seen.last == Tier.GenRaw) // field predicate pins raw resolution
  }

  test("a field predicate pushes down to the parquet scan on a store read") {
    val root = graft.Fixtures.newDir("graft_r14push")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.writeRouted(twoTag.withColumnRenamed("dir", "dev_type"))
    val ctx = Api.Context(spark, store, now = () => now)
    // relative-time form: carries the now()-dur marker looksLike claims
    // (a bare absolute-range select has no distinctive InfluxQL marker
    // and falls through to Spark SQL by design)
    val df = Api.dispatch(ctx,
      Cmd.Query("""SELECT "value" FROM "app_t" WHERE time > now()-2d AND "value" > 30"""))
    // the predicate must reach the scan as a pushed data filter (so
    // parquet row-group min/max skipping applies at 100 TB), not sit
    // only in a post-scan Filter node. Inspect the scan node's
    // dataFilters directly — the rendered plan string truncates its
    // metadata lists at 100 chars, so substring assertions are fragile
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no parquet scan in the plan"))
    assert(scan.dataFilters.exists {
      case org.apache.spark.sql.catalyst.expressions.GreaterThan(a, lit) =>
        a.references.map(_.name).toSeq == Seq("value") &&
          lit.toString.contains("30")
      case _ => false
    }, s"field predicate not in scan dataFilters: ${scan.dataFilters}")
    assert(df.select("value").collect().map(_.getDouble(0)).sorted.toSeq
      == Seq(40.0, 50.0, 70.0))
  }

  test("as-of pin foreign-file arm is exact on a second-granularity clock") {
    val root = graft.Fixtures.newDir("graft_r14pin")
      .toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.write(Tier.GenDay, twoTag)
    val fs = FileSystem.get(new HPath(root).toUri,
      spark.sparkContext.hadoopConfiguration)
    // locate the partition directory and one committed data file
    def dataFiles(): Seq[HPath] = {
      def walk(p: HPath): Seq[HPath] = fs.listStatus(p).toSeq.flatMap(e =>
        if (e.isDirectory) walk(e.getPath)
        else if (e.getPath.getName.endsWith(".parquet")) Seq(e.getPath)
        else Nil)
      walk(new HPath(root))
    }
    val committed = dataFiles().head
    val part = committed.getParent
    // FOREIGN file A: an unledgered copy an outside tool dropped in,
    // mtime truncated to a whole second in the past (the coarse-clock
    // object-store behavior the arm must survive)
    val secNow = System.currentTimeMillis() / 1000 * 1000
    val fa = new HPath(part, "foreign_a.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, committed, fs, fa, false,
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(fa, secNow - 10000, -1)
    val baseCount = store.read(Tier.GenDay).count()
    val pin = store.pinNow()
    assert(pin.millis >= secNow - 10000)
    // FOREIGN file B lands AFTER the pin, on a later whole second
    val fb = new HPath(part, "foreign_b.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, committed, fs, fb, false,
      spark.sparkContext.hadoopConfiguration)
    fs.setTimes(fb, (pin.millis / 1000 + 1) * 1000, -1)
    // current read sees both foreign files; the pinned read includes A
    // (mtime ≤ capture) and excludes B (a strictly later second)
    val rows = twoTag.count()
    assert(store.read(Tier.GenDay).count() == baseCount + rows)
    assert(store.readAsOf(Tier.GenDay, pin).count() == baseCount)
  }
}
