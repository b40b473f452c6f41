package graft

import java.sql.Timestamp
import java.time.Instant

import graft.api.{Api, Cmd}
import graft.model.{DataPointsFilter, DataPointsRequest, SelectItem, Tier}
import graft.query.{InfluxQL, Planner}
import graft.store.TierStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** InfluxQL compatibility shim (S7) — the reference UI's query dialect
 *  (docs/api:9,194,251, docs/queries:1-2) over the planner. */
class InfluxQLSpec extends SparkSpec {

  private val now = Instant.parse("2024-01-02T00:00:00Z")

  private val schema = StructType(Seq(
    StructField("measurement", StringType), StructField("time", TimestampType),
    StructField("value", DoubleType), StructField("dev_id", StringType),
    StructField("location_id", StringType), StructField("dev_type", StringType)))

  private def pts(rows: (String, Long, Double, String)*): DataFrame = {
    val rs = rows.map { case (m, sec, v, dev) =>
      Row(m, new Timestamp(sec * 1000), v, dev, "1", "sensor") }
    spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
  }

  test("parses the documented query shapes (docs/api:9,194,251, docs/queries:1)") {
    // docs/queries:1 — adapter restarts
    val s1 = InfluxQL.parse("""SELECT count("value") as "mean_value" FROM "default_20w"."zwave-ad.evt.state.report" WHERE time > now()-5h GROUP BY time(1m) fill(null)""")
    assert(s1 == InfluxQL.Select(
      Seq(SelectItem("value", "count", alias = "mean_value")),
      DataPointsRequest(measurement = "zwave-ad.evt.state.report",
        relativeTime = "5h", groupByTime = "1m", fillType = "null"),
      Some("default_20w")))
    // docs/api:9 — presence count with a topic tag filter
    val s2 = InfluxQL.parse("""SELECT count("value") AS "count_value" FROM "gen_default"."sensor_presence.evt.presence.report" WHERE  topic='pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence/ad:9_0' GROUP BY time(30m) FILL(null)""")
    assert(s2 == InfluxQL.Select(
      Seq(SelectItem("value", "count", alias = "count_value")),
      DataPointsRequest(measurement = "sensor_presence.evt.presence.report",
      groupByTime = "30m", fillType = "null",
      filters = DataPointsFilter(tags = Map(
        "topic" -> "pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence/ad:9_0"))),
      Some("gen_default")))
    // docs/api:194 — recent power for one device, raw aggregate, no grouping
    val s3 = InfluxQL.parse("""SELECT mean("value") AS "mean_value" FROM "gen_raw"."electricity_meter_power" WHERE time > now()-10m AND "dev_id"='100'""")
    assert(s3 == InfluxQL.Select(
      Seq(SelectItem("value", "mean", alias = "mean_value")),
      DataPointsRequest(measurement = "electricity_meter_power",
      relativeTime = "10m",
      filters = DataPointsFilter(tags = Map("dev_id" -> "100"))),
      Some("gen_raw")))
    // docs/api:251 — last per location, tag grouping only
    val s4 = InfluxQL.parse("""SELECT last(value) AS count_value FROM "gen_default"."sensor_presence.evt.presence.report" GROUP BY location_id  FILL(null)""")
    assert(s4 == InfluxQL.Select(
      Seq(SelectItem("value", "last", alias = "count_value")),
      DataPointsRequest(measurement = "sensor_presence.evt.presence.report",
        groupByTag = "location_id", fillType = "null"), Some("gen_default")))
    // transform wrap + percentile + absolute range + SHOW forms
    val s5 = InfluxQL.parse("""SELECT difference(mean("value")) FROM "m" WHERE time >= '2024-01-01T00:00:00Z' AND time <= '2024-01-02T00:00:00Z' GROUP BY time(1h) FILL(previous)""")
    assert(s5.asInstanceOf[InfluxQL.Select].items ==
      Seq(SelectItem("value", "mean", "difference")))
    assert(s5.asInstanceOf[InfluxQL.Select].req.fromTime == "2024-01-01T00:00:00Z")
    val s6 = InfluxQL.parse("""SELECT percentile("value", 95) FROM "m" GROUP BY time(1h)""")
    assert(s6.asInstanceOf[InfluxQL.Select].items ==
      Seq(SelectItem("value", "percentile_95")))
    assert(InfluxQL.parse("SHOW MEASUREMENTS") == InfluxQL.ShowMeasurements())
    assert(InfluxQL.parse("show retention policies;") == InfluxQL.ShowRetentionPolicies)
    assert(InfluxQL.parse("SHOW CONTINUOUS QUERIES") == InfluxQL.ShowContinuousQueries)
    assert(InfluxQL.looksLike("show continuous queries"))
  }

  test("reference docs corpus: every documented query string parses " +
    "shape-for-shape; unsupported shapes return the reference error " +
    "envelope (docs/api:364-380), never a Scala exception") {
    // the COMPLETE set of InfluxQL strings in the reference's docs + the
    // server's own dashboard/CQ templates (docs/api:9,194,251,
    // docs/queries:2, influxdb_v1.go:229-233,337) — table-driven so a
    // grammar regression on any documented shape fails by name
    val corpus: Seq[(String, String)] = Seq(
      "docs/api:9" ->
        """SELECT count("value") AS "count_value" FROM "gen_default"."sensor_presence.evt.presence.report" WHERE  topic='pt:j1/mt:evt/rt:dev/rn:zw/ad:1/sv:sensor_presence/ad:9_0' GROUP BY time(30m) FILL(null)""",
      "docs/api:194" ->
        """SELECT mean("value") AS "mean_value" FROM "gen_raw"."electricity_meter_power" WHERE time > now()-10m AND "dev_id"='100'""",
      "docs/api:251" ->
        """SELECT last(value) AS count_value FROM "gen_default"."sensor_presence.evt.presence.report" GROUP BY location_id  FILL(null)""",
      "docs/queries:2" ->
        """SELECT count("value") as "mean_value" FROM "default_20w"."zwave-ad.evt.state.report" WHERE time > now()-5h GROUP BY time(1m) fill(null)""",
      // the dashboard energy queries (influxdb_v1.go:229-233) as Grafana
      // sends them after :dashboardTime: substitution — db.rp.measurement
      // FROM and a chained transform
      "influxdb_v1.go:229" ->
        """SELECT abs(difference(max("value"))) AS "value" FROM "historian"."gen_raw"."electricity_meter_energy" WHERE time > now()-1h GROUP BY time(1h), "dev_id" FILL(previous)""",
      "influxdb_v1.go:233" ->
        """SELECT sum("value") AS "value" FROM "historian"."gen_year"."electricity_meter_energy_sampled" WHERE time > now()-1d GROUP BY time(1h), "dev_id" FILL(null)""",
      "influxdb_v1.go:377" -> "SHOW MEASUREMENTS",
      "influxdb_v1.go:397" -> "SHOW RETENTION POLICIES")
    corpus.foreach { case (src, q) =>
      assert(InfluxQL.looksLike(q), s"$src not claimed as InfluxQL")
      InfluxQL.parse(q) // must parse, not throw
    }
    // shape checks on the two newly-covered dashboard forms
    val s229 = InfluxQL.parse(corpus(4)._2).asInstanceOf[InfluxQL.Select]
    assert(s229.retentionPolicy.contains("gen_raw")) // db "historian" ignored
    assert(s229.req.measurement == "electricity_meter_energy")
    // application order
    assert(s229.items == Seq(SelectItem("value", "max", "difference,abs", "value")))
    assert(s229.req.groupByTime == "1h" && s229.req.groupByTag == "dev_id")
    val s233 = InfluxQL.parse(corpus(5)._2).asInstanceOf[InfluxQL.Select]
    assert(s233.retentionPolicy.contains("gen_year"))
    assert(s233.items == Seq(SelectItem("value", "sum", alias = "value")) &&
      s233.req.groupByTag == "dev_id")

    // unsupported shapes: the UNSUBSTITUTED grafana template (the
    // :dashboardTime: placeholder never reaches a server) and the
    // server-side CQ form — dispatchShaped answers with the reference's
    // error envelope {"Results":null,"error":...}, not a Scala crash
    val store = new TierStore(spark,
      graft.Fixtures.newDir("graft_iqlc").toFile.getAbsolutePath)
    val ctx = Api.Context(spark, store, now = () => now)
    Seq(
      """SELECT abs(difference(max("value"))) AS "value" FROM "historian"."gen_raw"."electricity_meter_energy" WHERE time > :dashboardTime: GROUP BY time(1h), "dev_id" FILL(null)""",
      """SELECT mean(*) INTO "historian"."gen_day".:MEASUREMENT FROM "historian"."gen_raw"./.*/ GROUP BY time(1m),*""")
      .foreach { q =>
        val resp = Api.dispatchShaped(ctx, Cmd.Query(q))
        assert(resp.startsWith("""{"Results":null,"error":"""), resp.take(120))
      }
  }

  test("chained transform e2e: abs(difference(max)) applies inner-to-outer " +
    "per series (the dashboard energy query)") {
    // two devices, falling then rising counters: difference produces
    // negative and positive deltas, abs folds them — per-device windows
    val df = pts(
      ("m", 1704153600L, 10.0, "1"), ("m", 1704157200L, 4.0, "1"),
      ("m", 1704160800L, 9.0, "1"),
      ("m", 1704153600L, 100.0, "2"), ("m", 1704157200L, 130.0, "2"))
    val out = InfluxQL.dataPoints(
      """SELECT abs(difference(max("value"))) FROM "m" WHERE time > now()-24h GROUP BY time(1h), "dev_id" FILL(none)""",
      _ => df, _ => None, now)
      .collect().map(r => (r.getAs[String]("dev_id"), r.getAs[Long]("time"),
        Option(r.getAs[java.lang.Double]("value")).map(_.doubleValue)))
      .toSet
    assert(out == Set(
      ("1", 1704153600L, None), ("1", 1704157200L, Some(6.0)),
      ("1", 1704160800L, Some(5.0)),
      ("2", 1704153600L, None), ("2", 1704157200L, Some(30.0))))
  }

  test("property: a rendered InfluxQL statement parses back to exactly " +
    "the request it was rendered from (100 random grammar shapes)") {
    import org.scalacheck.{Gen, Prop}
    // generator over the documented grammar space: every select-list
    // shape (bare / agg / chained transforms / percentile), 1-3 part
    // FROM, relative or absolute-range or no time bound, tag filters
    // with the reference's ':'-and-'/'-laden values, time+tag grouping,
    // every fill mode — rendered canonically and parsed back
    val meas = Gen.oneOf("sensor_temp", "electricity_meter_power",
      "zwave-ad.evt.state.report", "sensor_presence.evt.presence.report")
    val rpG = Gen.option(Gen.oneOf("gen_raw", "gen_day", "default_20w"))
    val dbG = Gen.oneOf(false, true)
    val aggG = Gen.oneOf("mean", "count", "sum", "min", "max", "median",
      "first", "last", "spread", "stddev", "mode", "distinct")
    // engine spellings; parameterized ones render as fn(expr, arg)
    val chainG = Gen.oneOf(Nil, List("abs"), List("difference"),
      List("difference", "abs"), List("abs", "difference"),
      List("cumulative_sum"), List("non_negative_difference"),
      List("derivative_1h"), List("non_negative_derivative_1m"),
      List("elapsed_1m"), List("moving_average_5"),
      List("exponential_moving_average_3"), List("pow_2"),
      List("sqrt", "log10", "ceil"), List("round", "cumulative_sum"),
      List("derivative_1h", "abs"))
    val ParamT = ("^(derivative|non_negative_derivative|elapsed|moving_average|" +
      "exponential_moving_average|pow)_(\\w+)$").r
    def renderT(t: String, e: String): String = t match {
      case ParamT(f, a) => s"$f($e, $a)"
      case _ => s"$t($e)"
    }
    val selG: Gen[(String, DataPointsRequest => DataPointsRequest)] =
      Gen.oneOf(
        Gen.const(("\"value\"", identity[DataPointsRequest] _)),
        for { a <- aggG; ch <- chainG } yield {
          val inner = s"""$a("value")"""
          val rendered = ch.foldLeft(inner)((e, t) => renderT(t, e))
          (rendered, (r: DataPointsRequest) => r.copy(
            dataFunction = a, transformFunction = ch.mkString(",")))
        },
        Gen.choose(1, 99).map(n => (s"""percentile("value", $n)""",
          (r: DataPointsRequest) => r.copy(dataFunction = s"percentile_$n"))),
        for { w <- Gen.oneOf("top", "bottom"); n <- Gen.choose(1, 9) } yield
          (s"""$w("value", $n)""",
            (r: DataPointsRequest) => r.copy(dataFunction = s"${w}_$n")),
        Gen.option(Gen.oneOf("1s", "30m", "1h")).map { d =>
          val arg = d.map(x => s", $x").getOrElse("")
          (s"""integral("value"$arg)""", (r: DataPointsRequest) =>
            r.copy(dataFunction = d.map(x => s"integral_$x").getOrElse("integral")))
        },
        Gen.const(("""count(distinct("value"))""",
          (r: DataPointsRequest) => r.copy(dataFunction = "count_distinct"))))
    val whereG: Gen[(Seq[String], DataPointsRequest => DataPointsRequest)] =
      Gen.oneOf(
        Gen.const((Nil, identity[DataPointsRequest] _)),
        Gen.oneOf("10m", "5h", "7d", "2w").map(d =>
          (Seq(s"time > now()-$d"), (r: DataPointsRequest) => r.copy(relativeTime = d))),
        Gen.const((Seq("time >= '2024-01-01T00:00:00Z'", "time <= '2024-01-02T00:00:00Z'"),
          (r: DataPointsRequest) => r.copy(
            fromTime = "2024-01-01T00:00:00Z", toTime = "2024-01-02T00:00:00Z"))))
    val tagG: Gen[(Seq[String], DataPointsRequest => DataPointsRequest)] =
      Gen.mapOf(Gen.zip(Gen.oneOf("dev_id", "topic", "location_id"),
        Gen.oneOf("100", "pt:j1/mt:evt/rt:dev/ad:9_0", "3"))).map { m =>
        (m.toSeq.map { case (k, v) => s""""$k"='$v'""" },
          (r: DataPointsRequest) => r.copy(filters = DataPointsFilter(tags = m)))
      }
    val groupG: Gen[(String, DataPointsRequest => DataPointsRequest)] =
      Gen.oneOf(
        Gen.const(("", identity[DataPointsRequest] _)),
        Gen.oneOf("1m", "30m", "1h").map(d => (s" GROUP BY time($d)",
          (r: DataPointsRequest) => r.copy(groupByTime = d))),
        Gen.oneOf("dev_id", "location_id").map(t => (s""" GROUP BY "$t"""",
          (r: DataPointsRequest) => r.copy(groupByTag = t))),
        for { d <- Gen.oneOf("1m", "1h"); t <- Gen.oneOf("dev_id", "location_id") }
          yield (s""" GROUP BY time($d), "$t"""",
            (r: DataPointsRequest) => r.copy(groupByTime = d, groupByTag = t)))
    val fillG: Gen[(String, DataPointsRequest => DataPointsRequest)] =
      Gen.oneOf(Gen.const(("", identity[DataPointsRequest] _)),
        Gen.oneOf("null", "previous", "none", "linear").map(f =>
          (s" FILL($f)", (r: DataPointsRequest) => r.copy(fillType = f))))
    val modG: Gen[(String, DataPointsRequest => DataPointsRequest)] =
      Gen.oneOf(
        Gen.const(("", identity[DataPointsRequest] _)),
        Gen.oneOf("ASC", "DESC").map(d => (s" ORDER BY time $d",
          (r: DataPointsRequest) => r.copy(orderDesc = d == "DESC"))),
        for { n <- Gen.choose(1, 100); o <- Gen.option(Gen.choose(1, 50)) }
          yield (s" LIMIT $n" + o.map(x => s" OFFSET $x").getOrElse(""),
            (r: DataPointsRequest) => r.copy(limit = n, offset = o.getOrElse(0))),
        for { d <- Gen.oneOf("ASC", "DESC"); n <- Gen.choose(1, 100) }
          yield (s" ORDER BY time $d LIMIT $n",
            (r: DataPointsRequest) => r.copy(orderDesc = d == "DESC", limit = n)))
    val stmtG = for {
      m <- meas; rp <- rpG; db <- dbG
      (sel, fSel) <- selG; (conds, fW) <- whereG; (tags, fT) <- tagG
      (grp, fG) <- groupG; (fill, fF) <- fillG; (mods, fM) <- modG
    } yield {
      val from = (if (db && rp.isDefined) Seq("\"historian\"") else Nil) ++
        rp.map(r => s""""$r"""").toSeq :+ s""""$m""""
      val where = conds ++ tags
      val sql = s"SELECT $sel FROM ${from.mkString(".")}" +
        (if (where.nonEmpty) s" WHERE ${where.mkString(" AND ")}" else "") +
        grp + fill + mods
      val want = fM(fF(fG(fT(fW(fSel(DataPointsRequest(measurement = m)))))))
      (sql, InfluxQL.Select(
        Seq(SelectItem("value", want.dataFunction, want.transformFunction)),
        want.copy(dataFunction = "", transformFunction = ""), rp))
    }
    checkProp(Prop.forAll(stmtG) { case (sql, want) =>
      // a sequential transform over an aggregate with no GROUP BY time
      // has no time axis — the grammar refuses it (documented envelope)
      def sequential(t: String): Boolean =
        t == "difference" || t == "non_negative_difference" ||
          t == "cumulative_sum" || t.startsWith("derivative") ||
          t.startsWith("non_negative_derivative") ||
          t.startsWith("elapsed") || t.startsWith("moving_average_") ||
          t.startsWith("exponential_moving_average_")
      val it = want.items.head
      val refused = it.transformFunction.split(",").exists(sequential) &&
        it.dataFunction.nonEmpty && want.req.groupByTime.isEmpty
      if (refused)
        try { InfluxQL.parse(sql); false }
        catch { case _: IllegalArgumentException => true }
      else InfluxQL.parse(sql) == want
    })
  }

  test("subquery grammar: outer-over-inner round-trips across the " +
    "shape space; the inner alias names the outer's field") {
    import org.scalacheck.{Gen, Prop}
    val g = for {
      ia <- Gen.oneOf("mean", "sum", "min", "max", "count")
      oa <- Gen.oneOf("mean", "sum", "min", "max", "count")
      b <- Gen.oneOf("10m", "30m", "1h")
      ob <- Gen.option(Gen.oneOf("6h", "1d"))
      al <- Gen.option(Gen.oneOf("mean_value", "mv"))
      w <- Gen.oneOf("5h", "7d", "2w")
    } yield {
      val alias = al.getOrElse("value")
      val aliasSql = al.map(a => s""" AS "$a"""").getOrElse("")
      val sql = s"""SELECT $oa("$alias") FROM (SELECT $ia("value")$aliasSql """ +
        s"""FROM "m" WHERE time > now()-$w GROUP BY time($b))""" +
        ob.map(x => s" GROUP BY time($x)").getOrElse("")
      val want = InfluxQL.Subquery(
        InfluxQL.Select(Seq(SelectItem(alias, oa)),
          DataPointsRequest(measurement = "__subquery__",
            groupByTime = ob.getOrElse("")), None),
        InfluxQL.Select(Seq(SelectItem("value", ia, alias = al.getOrElse(""))),
          DataPointsRequest(measurement = "m", relativeTime = w,
            groupByTime = b), None),
        Seq(alias))
      (sql, want)
    }
    checkProp(Prop.forAll(g) { case (sql, want) =>
      InfluxQL.looksLike(sql) && InfluxQL.parse(sql) == want })
  }

  test("property: multi-select / regex-FROM / INTO statements round-trip " +
    "through the grammar (the round-13 dialect tail)") {
    import org.scalacheck.{Gen, Prop}
    val itemG: Gen[(String, SelectItem)] = Gen.oneOf(
      Gen.oneOf("value", "power").map(f => (s""""$f"""", SelectItem(f))),
      for {
        a <- Gen.oneOf("mean", "max", "count", "sum", "stddev")
        al <- Gen.option(Gen.oneOf("v", "reading"))
      } yield (s"""$a("value")""" + al.map(x => s""" AS "$x"""").getOrElse(""),
        SelectItem("value", a, alias = al.getOrElse(""))),
      Gen.choose(1, 99).map(n => (s"""percentile("value", $n)""",
        SelectItem("value", s"percentile_$n"))),
      Gen.oneOf("abs", "sqrt").map(t => (s"""$t(mean("value"))""",
        SelectItem("value", "mean", t))),
      // the heavy aggregates (own plans joined back on the bucket key)
      Gen.const(("""mode("value")""", SelectItem("value", "mode"))),
      Gen.option(Gen.oneOf("1h", "30m")).map { d =>
        val arg = d.map(x => s", $x").getOrElse("")
        (s"""integral("value"$arg)""",
          SelectItem("value", d.map(x => s"integral_$x").getOrElse("integral")))
      })
    val frameG: Gen[(String, DataPointsRequest => DataPointsRequest)] = for {
      w <- Gen.option(Gen.oneOf("5h", "2w"))
      g <- Gen.option(Gen.oneOf("30m", "1h"))
      f <- Gen.option(Gen.oneOf("none", "null", "previous"))
    } yield (
      w.map(x => s" WHERE time > now()-$x").getOrElse("") +
        g.map(x => s" GROUP BY time($x)").getOrElse("") +
        f.map(x => s" FILL($x)").getOrElse(""),
      (r: DataPointsRequest) => r.copy(relativeTime = w.getOrElse(""),
        groupByTime = g.getOrElse(""), fillType = f.getOrElse("")))
    val multiG = for {
      n <- Gen.choose(2, 4)
      items <- Gen.listOfN(n, itemG)
      (frame, fR) <- frameG
      rp <- Gen.option(Gen.const("gen_raw"))
    } yield {
      val from = rp.map(r => s""""$r".""").getOrElse("") + "\"m\""
      val sql = s"SELECT ${items.map(_._1).mkString(", ")} FROM $from$frame"
      (sql, InfluxQL.Select(items.map(_._2),
        fR(DataPointsRequest(measurement = "m")), rp))
    }
    checkProp(Prop.forAll(multiG) { case (sql, want) =>
      InfluxQL.parse(sql) == want
    })
    val regexG = for {
      (item, _) <- itemG
      (frame, fR) <- frameG
      pat <- Gen.oneOf("^sensor_", "temp|hum", "power.*meter")
    } yield (s"SELECT $item FROM /$pat/$frame", pat)
    checkProp(Prop.forAll(regexG) { case (sql, pat) =>
      InfluxQL.parse(sql) match {
        case rs: InfluxQL.RegexSelect =>
          rs.pattern == pat && rs.sel.req.measurement == "__regex__"
        case _ => false
      }
    })
    val intoG = for {
      (frame, _) <- frameG
      rp <- Gen.option(Gen.const("gen_day"))
      target <- Gen.oneOf("rollup_out", "hourly.means")
    } yield {
      val tgt = rp.map(r => s""""$r".""").getOrElse("") + s""""$target""""
      (s"""SELECT mean("value") INTO $tgt FROM "m"$frame""", rp, target)
    }
    checkProp(Prop.forAll(intoG) { case (sql, rp, target) =>
      InfluxQL.parse(sql) match {
        case si: InfluxQL.SelectInto =>
          si.retentionPolicy == rp && si.target == target &&
            si.inner.isInstanceOf[InfluxQL.Select]
        case _ => false
      }
    })
  }

  test("difference over an aggregate without GROUP BY time is refused " +
    "through the grammar's error envelope, not a downstream plan error") {
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT difference(max("value")) FROM "m" WHERE time > now()-1h""")
    }
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT abs(difference(mean("value"))) FROM "m" GROUP BY "dev_id"""")
    }
    // raw rows carry their own time column — still supported
    val raw = InfluxQL.parse("""SELECT difference("value") FROM "m" WHERE time > now()-1h""")
    assert(raw.asInstanceOf[InfluxQL.Select].items ==
      Seq(SelectItem("value", "", "difference")))
    // and a time bucket provides the axis for the aggregate form
    val bucketed = InfluxQL.parse(
      """SELECT difference(max("value")) FROM "m" GROUP BY time(1h)""")
    assert(bucketed.asInstanceOf[InfluxQL.Select].items ==
      Seq(SelectItem("value", "max", "difference")))
  }

  test("widened function namespace parses to the engine spellings (round 12)") {
    def sel(q: String): DataPointsRequest =
      InfluxQL.parse(q).asInstanceOf[InfluxQL.Select].req
    def item(q: String): SelectItem =
      InfluxQL.parse(q).asInstanceOf[InfluxQL.Select].items match {
        case Seq(it) => it
        case its => fail(s"expected one item, got: $its")
      }
    // parameterized transforms carry their trailing arg
    val d = item("""SELECT derivative(mean("value"), 1h) FROM "m" GROUP BY time(10m)""")
    assert(d.dataFunction == "mean" && d.transformFunction == "derivative_1h")
    val nn = item("""SELECT non_negative_derivative(mean("value")) FROM "m" GROUP BY time(1h)""")
    assert(nn.transformFunction == "non_negative_derivative")
    val ma = item("""SELECT moving_average(mean("value"), 5) FROM "m" GROUP BY time(1h)""")
    assert(ma.transformFunction == "moving_average_5")
    val ema = item("""SELECT exponential_moving_average(mean("value"), 3) FROM "m" GROUP BY time(1h)""")
    assert(ema.transformFunction == "exponential_moving_average_3")
    val ch = item("""SELECT abs(derivative(mean("value"), 1m)) FROM "m" GROUP BY time(1h)""")
    assert(ch.transformFunction == "derivative_1m,abs")
    val cs = item("""SELECT cumulative_sum(sum("value")) FROM "m" GROUP BY time(1d)""")
    assert(cs.dataFunction == "sum" && cs.transformFunction == "cumulative_sum")
    val el = item("""SELECT elapsed("value", 1m) FROM "m" WHERE time > now()-1h""")
    assert(el.dataFunction == "" && el.transformFunction == "elapsed_1m")
    // selectors / multi-pass aggregates
    assert(item("""SELECT top("value", 3) FROM "m" GROUP BY time(1d)""")
      .dataFunction == "top_3")
    assert(item("""SELECT bottom("value", 2) FROM "m" GROUP BY time(1d)""")
      .dataFunction == "bottom_2")
    assert(item("""SELECT integral("value", 1h) FROM "m" GROUP BY time(6h)""")
      .dataFunction == "integral_1h")
    assert(item("""SELECT integral("value") FROM "m" GROUP BY time(6h)""")
      .dataFunction == "integral")
    assert(item("""SELECT count(distinct("value")) FROM "m" GROUP BY time(1d)""")
      .dataFunction == "count_distinct")
    assert(item("""SELECT mode("value") FROM "m" GROUP BY time(1d)""")
      .dataFunction == "mode")
    assert(item("""SELECT distinct("value") FROM "m" GROUP BY time(1d)""")
      .dataFunction == "distinct")
    // scalar math wraps chain like abs does
    assert(item("""SELECT ceil(log10(sqrt(mean("value")))) FROM "m" GROUP BY time(6h)""")
      .transformFunction == "sqrt,log10,ceil")
    assert(item("""SELECT pow(mean("value"), 2) FROM "m" GROUP BY time(6h)""")
      .transformFunction == "pow_2")
    // SELECT modifiers: the dashboard last-value idiom
    val lv = sel("""SELECT last("value") FROM "m" WHERE time > now()-1h GROUP BY time(1m) ORDER BY time DESC LIMIT 1""")
    assert(lv.orderDesc && lv.limit == 1 && lv.offset == 0)
    val lo = sel("""SELECT mean("value") FROM "m" GROUP BY time(1h) FILL(none) ORDER BY time ASC LIMIT 10 OFFSET 5""")
    assert(!lo.orderDesc && lo.limit == 10 && lo.offset == 5)
    assert(sel("""SELECT "value" FROM "m" LIMIT 100""").limit == 100)
    val sli = sel("""SELECT mean("value") FROM "m" GROUP BY time(1h), "dev_id" SLIMIT 3 SOFFSET 1""")
    assert(sli.sLimit == 3 && sli.sOffset == 1)
    val allMods = sel("""SELECT mean("value") FROM "m" GROUP BY time(1h), "dev_id" ORDER BY time DESC LIMIT 2 OFFSET 1 SLIMIT 3""")
    assert(allMods.orderDesc && allMods.limit == 2 && allMods.offset == 1 &&
      allMods.sLimit == 3 && allMods.sOffset == 0)
    // sequential transforms over an un-bucketed aggregate refuse like
    // difference does
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT derivative(max("value")) FROM "m" WHERE time > now()-1h""")
    }
    intercept[IllegalArgumentException] {
      InfluxQL.parse("""SELECT moving_average(mean("value"), 5) FROM "m" WHERE time > now()-1h""")
    }
  }

  test("widened namespace e2e: string path ≡ structured request (round 12)") {
    val df = pts(
      ("m", 1704153600L, 10.0, "1"), ("m", 1704153660L, 20.0, "1"),
      ("m", 1704157200L, 30.0, "2"), ("m", 1704160800L, 25.0, "2"))
    val viaString = InfluxQL.dataPoints(
      """SELECT derivative(mean("value"), 1h) FROM "m" WHERE time > now()-4h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now).collect().toSeq
    val viaStruct = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = "mean", relativeTime = "4h", groupByTime = "1h",
      fillType = "none", transformFunction = "derivative_1h"),
      _ => df, now).collect().toSeq
    assert(viaString == viaStruct && viaString.nonEmpty)
    val topString = InfluxQL.dataPoints(
      """SELECT top("value", 1) FROM "m" WHERE time > now()-4h GROUP BY time(1h)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(topString == Set((1704153660L, 20.0), (1704157200L, 30.0),
      (1704160800L, 25.0)))
  }

  test("looksLike separates InfluxQL from Spark SQL") {
    assert(InfluxQL.looksLike("""SELECT mean("value") FROM "gen_raw"."m" WHERE time > now()-10m"""))
    assert(InfluxQL.looksLike("""SELECT last(value) AS v FROM "gen_default"."m" GROUP BY location_id FILL(null)"""))
    assert(InfluxQL.looksLike("SHOW MEASUREMENTS"))
    // plain Spark SQL must keep flowing to spark.sql
    assert(!InfluxQL.looksLike(
      "SELECT event_type, count(*) AS n FROM events GROUP BY event_type"))
    assert(!InfluxQL.looksLike("SELECT * FROM lineitem WHERE l_quantity > 5"))
    assert(!InfluxQL.looksLike("WITH t AS (SELECT 1 AS x) SELECT x FROM t"))
    // now() is a valid Spark SQL function — only the InfluxQL
    // bare-duration arithmetic form claims the query
    assert(!InfluxQL.looksLike(
      "SELECT * FROM events WHERE ts > now() - INTERVAL 1 HOUR"))
    assert(!InfluxQL.looksLike("SELECT now() AS t"))
    assert(InfluxQL.looksLike("""SELECT sum("value") FROM "m" WHERE time > now() - 7d"""))
  }

  test("InfluxQL string path ≡ structured request plan") {
    val df = pts(
      ("m", 1704153600L, 10.0, "1"), ("m", 1704153660L, 20.0, "1"),
      ("m", 1704157200L, 30.0, "2"), ("other", 1704153600L, 99.0, "1"))
    val viaString = InfluxQL.dataPoints(
      """SELECT mean("value") FROM "m" WHERE time > now()-2h GROUP BY time(1h) FILL(null)""",
      _ => df, _ => None, now).collect().toSeq
    val viaStruct = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = "mean", relativeTime = "2h", groupByTime = "1h",
      fillType = "null"), _ => df, now).collect().toSeq
    assert(viaString == viaStruct && viaString.nonEmpty)
  }

  test("cmd.tsdb.query dispatch: InfluxQL e2e against the store, SQL fallback intact") {
    val root = graft.Fixtures.newDir("graft_iql").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.write(Tier.GenRaw, pts(
      ("sensor_temp", 1704153600L, 10.0, "1"),
      ("sensor_temp", 1704153660L, 20.0, "1"),
      ("sensor_temp", 1704240000L, 99.0, "1"))) // outside the queried day
    val ctx = Api.Context(spark, store, now = () => now)
    // rp-pinned InfluxQL through the raw-query command
    val out = Api.dispatch(ctx,
      Cmd.Query("""SELECT mean("value") FROM "gen_raw"."sensor_temp" WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z' GROUP BY time(1h) FILL(none)"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSeq
    assert(out == Seq((1704153600L, 15.0)))
    // a one-level subquery through the same dispatch (round 13): daily
    // max of the hourly means, reading through the listing-sliced
    // resolver — 99.0 (next day) must still be excluded by the inner
    val subOut = Api.dispatch(ctx,
      Cmd.Query("""SELECT max("mv") FROM (SELECT mean("value") AS "mv" FROM "gen_raw"."sensor_temp" WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z' GROUP BY time(1h)) GROUP BY time(1d) FILL(none)"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSeq
    assert(subOut == Seq((1704153600L, 15.0)), s"subquery: $subOut")
    // SHOW forms route to the catalog commands
    val ms = Api.dispatch(ctx, Cmd.Query("SHOW MEASUREMENTS"))
      .collect().map(_.getAs[String]("measurement")).toSeq
    assert(ms == Seq("sensor_temp"))
    val rps = Api.dispatch(ctx, Cmd.Query("SHOW RETENTION POLICIES"))
      .collect().map(_.getAs[String]("name")).toSeq
    assert(rps.contains("gen_raw") && rps.contains("gen_year"))
    // unknown rp errors as InfluxQL
    val err = intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.Query("""SELECT mean("value") FROM "default_20w"."sensor_temp" WHERE time > now()-5h GROUP BY time(1m) FILL(null)"""))
    }
    assert(err.getMessage.contains("unknown retention policy"))
    // the Grafana template-variable catalog forms (round 12)
    val tk = Api.dispatch(ctx, Cmd.Query("""SHOW TAG KEYS FROM "sensor_temp""""))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tk == Seq(("sensor_temp", "dev_id"), ("sensor_temp", "dev_type"),
      ("sensor_temp", "location_id")), s"tag keys: $tk")
    val tv = Api.dispatch(ctx,
      Cmd.Query("""SHOW TAG VALUES FROM "sensor_temp" WITH KEY = "dev_id""""))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tv == Seq(("dev_id", "1")), s"tag values: $tv")
    // an unknown (or field-typed) key answers EMPTY, not an error — a
    // ported dashboard's template variable must survive schema drift
    assert(Api.dispatch(ctx,
      Cmd.Query("""SHOW TAG VALUES FROM "sensor_temp" WITH KEY = "host"""")).count() == 0)
    assert(Api.dispatch(ctx,
      Cmd.Query("""SHOW TAG VALUES WITH KEY = "value"""")).count() == 0)
    val fk = Api.dispatch(ctx, Cmd.Query("SHOW FIELD KEYS"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(fk == Seq(("value", "float")), s"field keys: $fk")
    val series = Api.dispatch(ctx, Cmd.Query("""SHOW SERIES FROM "sensor_temp""""))
      .collect().map(_.getString(0)).toSeq
    assert(series ==
      Seq("sensor_temp,dev_id=1,dev_type=sensor,location_id=1"), s"series: $series")
    val dbs = Api.dispatch(ctx, Cmd.Query("SHOW DATABASES"))
      .collect().map(_.getString(0)).toSeq
    assert(dbs.length == 1 && dbs.head.nonEmpty)
    // ON db accepted and ignored; an InfluxQL-claimed SHOW outside the
    // grammar errors as InfluxQL (a non-InfluxQL SHOW keeps flowing to
    // the Spark SQL fallback)
    assert(Api.dispatch(ctx,
      Cmd.Query("""SHOW TAG KEYS ON "historian" FROM "sensor_temp"""")).count() == 3)
    intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.Query("""SHOW TAG KEYS FROM "sensor_temp" WHERE time > now()-1h"""))
    }
    // Spark SQL fallback unaffected
    val n = Api.dispatch(ctx, Cmd.Query("SELECT 1 AS one"))
      .collect().head.getAs[Int]("one")
    assert(n == 1)
  }

  test("multi-field select list parses to items with InfluxDB column naming") {
    val ms = InfluxQL.parse(
      """SELECT mean("value") AS "m", max("value"), percentile("value", 95) """ +
        """FROM "x" WHERE time > now()-1h GROUP BY time(10m) FILL(none)""")
      .asInstanceOf[InfluxQL.Select]
    assert(ms.items == Seq(
      SelectItem("value", "mean", alias = "m"),
      SelectItem("value", "max"),
      SelectItem("value", "percentile_95")))
    assert(ms.req.groupByTime == "10m" && ms.req.fillType == "none" &&
      ms.req.relativeTime == "1h")
    // InfluxDB column naming: alias > function name, `_1` dedup
    assert(Planner.itemAliases(ms.items) == Seq("m", "max", "percentile"))
    assert(Planner.itemAliases(Seq(
      SelectItem("value", "mean"), SelectItem("other", "mean"),
      SelectItem("value", "moving_average_5"))) ==
      Seq("mean", "mean_1", "moving_average"))
    // a comma inside parens stays with its item; bare multi-field lists parse
    val bare = InfluxQL.parse("""SELECT "a", "b" FROM "x" LIMIT 5""")
      .asInstanceOf[InfluxQL.Select]
    assert(bare.items == Seq(SelectItem("a"), SelectItem("b")) &&
      bare.req.limit == 5)
  }

  test("multi-field select e2e: one scan matches the per-item single plans; " +
    "mixing and multi-pass refusals surface in the envelope") {
    val df = pts(
      ("m", 1704153600L, 10.0, "1"), ("m", 1704153660L, 20.0, "1"),
      ("m", 1704157200L, 30.0, "2"), ("m", 1704160800L, 25.0, "2"))
    val multi = InfluxQL.dataPoints(
      """SELECT mean("value") AS "avg_v", max("value") AS "max_v", count("value") AS "n" """ +
        """FROM "m" WHERE time > now()-4h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now)
    assert(multi.columns.toSeq == Seq("time", "avg_v", "max_v", "n"))
    val got = multi.collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("avg_v"),
        r.getAs[Double]("max_v"), r.getAs[Long]("n"))).toSeq
    def single(fn: String) = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = fn, relativeTime = "4h", groupByTime = "1h",
      fillType = "none"), _ => df, now).collect()
      .map(r => (r.getAs[Long]("time"), r.get(1))).toMap
    val (means, maxes, counts) = (single("mean"), single("max"), single("count"))
    assert(got.nonEmpty && got.forall { case (t, a, x, c) =>
      means(t) == a && maxes(t) == x && counts(t) == c })
    // ONE aggregate node scans once: the plan carries exactly one Aggregate
    // chain (no join/union of per-item plans)
    val plan = multi.queryExecution.optimizedPlan.toString()
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
    // per-item transform chains rewrite their own columns
    val tr = InfluxQL.dataPoints(
      """SELECT abs(mean("value")) AS "a", difference(max("value")) AS "d" """ +
        """FROM "m" WHERE time > now()-4h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("a"),
        Option(r.getAs[java.lang.Double]("d")).map(_.toDouble))).toSeq
    assert(tr == Seq(
      (1704153600L, 15.0, None),
      (1704157200L, 30.0, Some(10.0)), // max 30 - max 20
      (1704160800L, 25.0, Some(-5.0))), s"transformed: $tr")
    // group-by-tag multi: per-tag aggregates, tag column last
    val tagged = InfluxQL.dataPoints(
      """SELECT mean("value") AS "a", count("value") AS "n" FROM "m" """ +
        """WHERE time > now()-4h GROUP BY time(2h), "dev_id" FILL(none)""",
      _ => df, _ => None, now)
    assert(tagged.columns.toSeq == Seq("time", "a", "n", "dev_id"))
    assert(tagged.count() == 3)
    // heavy aggregates (own plans) join back on the bucket key: mode and
    // integral next to a simple mean, each equal to its single-item plan
    val heavy = InfluxQL.dataPoints(
      """SELECT mode("value") AS "md", integral("value") AS "ig", mean("value") AS "mu" """ +
        """FROM "m" WHERE time > now()-4h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now)
    assert(heavy.columns.toSeq == Seq("time", "md", "ig", "mu"))
    def singleFn(fn: String) = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = fn, relativeTime = "4h", groupByTime = "1h",
      fillType = "none"), _ => df, now).collect()
      .map(r => (r.getAs[Long]("time"), Option(r.get(1)))).toMap
    val (modes, integrals, mus) =
      (singleFn("mode"), singleFn("integral"), singleFn("mean"))
    val heavyRows = heavy.collect()
    assert(heavyRows.nonEmpty && heavyRows.forall { r =>
      val t = r.getAs[Long]("time")
      modes(t) == Option(r.get(1)) && integrals(t) == Option(r.get(2)) &&
        mus(t) == Option(r.get(3))
    }, heavyRows.mkString(", "))
    // refusals: mixing, multi-row selectors, heavy without a time bucket,
    // multi-column linear fill
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mean("value"), "value" FROM "m" GROUP BY time(1h)""",
        _ => df, _ => None, now)
    }
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mean("value"), top("value", 3) FROM "m" GROUP BY time(1h)""",
        _ => df, _ => None, now)
    }
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mode("value"), mean("value") FROM "m" WHERE time > now()-4h""",
        _ => df, _ => None, now)
    }
    // FILL(linear) interpolates per column, equal to the single plans
    def linSingle(fn: String) = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = fn, relativeTime = "6h", groupByTime = "1h",
      fillType = "linear"), _ => df, now).collect()
      .map(r => (r.getAs[Long]("time"), Option(r.get(1)))).toMap
    val lin = InfluxQL.dataPoints(
      """SELECT mean("value") AS "a", max("value") AS "b" FROM "m" """ +
        """WHERE time > now()-6h GROUP BY time(1h) FILL(linear)""",
      _ => df, _ => None, now).collect()
    val (la, lb) = (linSingle("mean"), linSingle("max"))
    assert(lin.nonEmpty && lin.exists(r => r.get(1) != null) &&
      lin.forall { r =>
        val t = r.getAs[Long]("time")
        la(t) == Option(r.get(1)) && lb(t) == Option(r.get(2))
      }, lin.mkString(", "))
    // an unknown fill still refuses in the envelope
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mean("value"), max("value") FROM "m" GROUP BY time(1h) FILL(bogus)""",
        _ => df, _ => None, now).collect()
    }
  }

  test("regex measurement: catalog match, per-measurement series, " +
    "empty-match shape, SLIMIT refusal") {
    val df = pts(
      ("sensor_temp", 1704153600L, 10.0, "1"),
      ("sensor_temp", 1704153660L, 20.0, "1"),
      ("sensor_hum", 1704153600L, 40.0, "1"),
      ("app_click", 1704153600L, 1.0, "1"))
    val catalog = () => Seq("sensor_temp", "sensor_hum", "app_click")
    val rs = InfluxQL.parse(
      """SELECT mean("value") FROM /^sensor_/ WHERE time > now()-2h """ +
        """GROUP BY time(1h) FILL(none)""").asInstanceOf[InfluxQL.RegexSelect]
    assert(rs.pattern == "^sensor_" && rs.sel.req.measurement == "__regex__")
    val got = InfluxQL.dataPoints(
      """SELECT mean("value") FROM /^sensor_/ WHERE time > now()-2h """ +
        """GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now, catalog).collect()
      .map(r => (r.getAs[String]("measurement"), r.getAs[Long]("time"),
        r.getAs[Double]("value"))).toSet
    assert(got == Set(("sensor_hum", 1704153600L, 40.0),
      ("sensor_temp", 1704153600L, 15.0)), s"regex: $got")
    // unanchored (the Go-re2 convention): /temp/ matches sensor_temp
    val un = InfluxQL.dataPoints(
      """SELECT count("value") FROM /temp/ WHERE time > now()-2h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now, catalog).collect()
    assert(un.map(_.getAs[String]("measurement")).toSet == Set("sensor_temp"))
    // zero matches: EMPTY result (no phantom fill spine), schema intact
    val none = InfluxQL.dataPoints(
      """SELECT mean("value") FROM /nothing_matches/ WHERE time > now()-2h GROUP BY time(1h)""",
      _ => df, _ => None, now, catalog)
    assert(none.columns.toSeq == Seq("time", "value", "measurement") &&
      none.count() == 0)
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mean("value") FROM /^sensor_/ GROUP BY time(1h), "dev_id" SLIMIT 2""",
        _ => df, _ => None, now, catalog)
    }
    // a MULTI-item list composes with the regex (per-measurement series,
    // one scan+shuffle per matched measurement)
    val mr = InfluxQL.dataPoints(
      """SELECT mean("value") AS "a", count("value") AS "n" FROM /^sensor_/ """ +
        """WHERE time > now()-2h GROUP BY time(1h) FILL(none)""",
      _ => df, _ => None, now, catalog)
    assert(mr.columns.toSeq == Seq("time", "a", "n", "measurement"))
    val mrRows = mr.collect()
      .map(r => (r.getAs[String]("measurement"), r.getAs[Double]("a"),
        r.getAs[Long]("n"))).toSet
    assert(mrRows == Set(("sensor_temp", 15.0, 2L), ("sensor_hum", 40.0, 1L)),
      s"multi-regex: $mrRows")
    // an item named `measurement` would be silently replaced — refused
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT mean("value") AS "measurement", count("value") AS "n" """ +
          """FROM /^sensor_/ WHERE time > now()-2h GROUP BY time(1h) FILL(none)""",
        _ => df, _ => None, now, catalog).collect()
    }
  }

  test("SELECT INTO materializes the result through the store and reads back") {
    val root = graft.Fixtures.newDir("graft_into").toFile.getAbsolutePath
    val store = new TierStore(spark, root)
    store.write(Tier.GenRaw, pts(
      ("sensor_temp", 1704153600L, 10.0, "1"),
      ("sensor_temp", 1704153660L, 20.0, "1"),
      ("sensor_temp", 1704157200L, 30.0, "2")))
    val ctx = Api.Context(spark, store, now = () => now)
    val si = InfluxQL.parse(
      """SELECT mean("value") INTO "gen_default"."temp_hourly" FROM "gen_raw"."sensor_temp" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z' """ +
        """GROUP BY time(1h) FILL(none)""")
    assert(si.isInstanceOf[InfluxQL.SelectInto])
    val res = Api.dispatch(ctx,
      Cmd.Query("""SELECT mean("value") INTO "gen_default"."temp_hourly" FROM "gen_raw"."sensor_temp" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z' """ +
        """GROUP BY time(1h) FILL(none)""")).collect()
    assert(res.map(r => (r.getAs[Long]("time"), r.getAs[Long]("written"))).toSeq ==
      Seq((0L, 2L)))
    // read the materialized measurement back through the ordinary grammar
    val back = Api.dispatch(ctx,
      Cmd.Query("""SELECT "value" FROM "gen_default"."temp_hourly" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSet
    assert(back == Set((1704153600L, 15.0), (1704157200L, 30.0)), s"into: $back")
    // a whole-range aggregate has no point time to write at — envelope
    val err = intercept[IllegalArgumentException] {
      Api.dispatch(ctx,
        Cmd.Query("""SELECT mean("value") INTO "t2" FROM "gen_raw"."sensor_temp" WHERE time > now()-1d"""))
    }
    assert(err.getMessage.contains("time axis"))
    // a MULTI-item source writes one field column per item, each
    // readable back by name through fieldName
    val multiRes = Api.dispatch(ctx,
      Cmd.Query("""SELECT mean("value") AS "mu", max("value") AS "mx" INTO "gen_default"."temp_pair" """ +
        """FROM "gen_raw"."sensor_temp" WHERE time >= '2024-01-02T00:00:00Z' """ +
        """AND time <= '2024-01-02T23:59:59Z' GROUP BY time(1h) FILL(none)""")).collect()
    assert(multiRes.head.getAs[Long]("written") == 2L)
    def readField(f: String) = Api.dispatch(ctx,
      Cmd.Query(s"""SELECT "$f" FROM "gen_default"."temp_pair" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSet
    assert(readField("mu") == Set((1704153600L, 15.0), (1704157200L, 30.0)))
    assert(readField("mx") == Set((1704153600L, 20.0), (1704157200L, 30.0)))
    // a subquery with a MULTI outer as the INTO source (the shape that
    // used to crash on an unresolved `value` column) writes both fields
    val subRes = Api.dispatch(ctx,
      Cmd.Query("""SELECT max("mu") AS "dmu", min("mx") AS "dmx" INTO "gen_default"."temp_daily" FROM """ +
        """(SELECT mean("value") AS "mu", max("value") AS "mx" FROM "gen_raw"."sensor_temp" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z' """ +
        """GROUP BY time(1h)) GROUP BY time(1d) FILL(none)""")).collect()
    assert(subRes.head.getAs[Long]("written") == 1L)
    val daily = Api.dispatch(ctx,
      Cmd.Query("""SELECT "dmu" FROM "gen_default"."temp_daily" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSet
    assert(daily == Set((1704153600L, 30.0)), s"sub-multi INTO: $daily")
    // the catalog sees the INTO target's typed columns as FIELDS (tags
    // are strings, fields are typed values), not as tag keys
    val fk = Api.dispatch(ctx,
      Cmd.Query("""SHOW FIELD KEYS FROM "temp_pair""""))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(fk == Set(("mu", "float"), ("mx", "float")), s"INTO field keys: $fk")
    assert(Api.dispatch(ctx,
      Cmd.Query("""SHOW TAG KEYS FROM "temp_pair"""")).count() == 0)
    // a BARE grouped multi source takes the mean default — the INTO
    // column derivation must use the PLANNED aliases (mean, mean_1),
    // not the raw bare names (this shape used to crash)
    val bareRes = Api.dispatch(ctx,
      Cmd.Query("""SELECT "value", "value" INTO "gen_default"."temp_bare" """ +
        """FROM "gen_raw"."sensor_temp" WHERE time >= '2024-01-02T00:00:00Z' """ +
        """AND time <= '2024-01-02T23:59:59Z' GROUP BY time(1h) FILL(none)""")).collect()
    assert(bareRes.head.getAs[Long]("written") == 2L)
    val bareBack = Api.dispatch(ctx,
      Cmd.Query("""SELECT "mean" FROM "gen_default"."temp_bare" """ +
        """WHERE time >= '2024-01-02T00:00:00Z' AND time <= '2024-01-02T23:59:59Z'"""))
      .collect().map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toSet
    assert(bareBack == Set((1704153600L, 15.0), (1704157200L, 30.0)),
      s"bare INTO: $bareBack")
  }

  test("a missing (NULL) tag keys its series as '': fills and multi joins " +
    "keep it whole under the empty-value label") {
    // round-16 model alignment: absent tag ≡ '' holds for grouping too
    // (InfluxDB groups absent-tag series under the empty tag value), so
    // a NULL tag normalizes to '' BEFORE grouping — which also makes the
    // spine/outer joins trivially safe (no null keys remain to lose).
    val rows = Seq(
      Row("m", new Timestamp(1704146400L * 1000), 10.0, null, "1", "sensor"),
      Row("m", new Timestamp(1704146460L * 1000), 20.0, null, "1", "sensor"),
      Row("m", new Timestamp(1704150000L * 1000), 30.0, "d2", "1", "sensor"))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    // single select, FILL(0): the missing-dev series' real buckets keep
    // their aggregates (a lossy spine join would zero them all)
    val single = Planner.dataPoints(DataPointsRequest("m",
      dataFunction = "mean", relativeTime = "3h", groupByTime = "1h",
      fillType = "0", groupByTag = "dev_id"), _ => df, now).collect()
      .map(r => (r.getAs[String]("dev_id"), r.getAs[Long]("time"),
        r.getAs[Double]("value")))
    assert(single.contains(("", 1704146400L, 15.0)), single.mkString(", "))
    assert(single.contains(("d2", 1704150000L, 30.0)))
    // multi with a heavy item: the full-outer joins and the spine join
    // keep the ''-keyed series whole
    val multi = InfluxQL.dataPoints(
      """SELECT mean("value") AS "a", mode("value") AS "b" FROM "m" """ +
        """WHERE time > now()-3h GROUP BY time(1h), "dev_id" FILL(none)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getAs[String]("dev_id"), r.getAs[Long]("time"),
        r.getAs[Double]("a"), r.getAs[Double]("b")))
    assert(multi.toSet == Set(
      ("", 1704146400L, 15.0, 10.0),
      ("d2", 1704150000L, 30.0, 30.0)), multi.mkString(", "))
  }

  test("multi-item subqueries: multi inner columns feed a multi (or single) " +
    "outer; refusals keep the envelope") {
    val df = pts(
      ("m", 1704153600L, 10.0, "1"), ("m", 1704153660L, 20.0, "1"),
      ("m", 1704157200L, 30.0, "2"), ("m", 1704160800L, 25.0, "2"))
    // multi inner (hourly mean + max per bucket), multi outer (daily
    // extremes of each): equal to composing the single-column subqueries
    val got = InfluxQL.dataPoints(
      """SELECT max("mu") AS "daily_mu", min("mx") AS "daily_mx" FROM """ +
        """(SELECT mean("value") AS "mu", max("value") AS "mx" FROM "m" """ +
        """WHERE time > now()-5h GROUP BY time(1h)) GROUP BY time(1d) FILL(none)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("daily_mu"),
        r.getAs[Double]("daily_mx"))).toSeq
    def one(innerFn: String, outerFn: String) = InfluxQL.dataPoints(
      s"""SELECT $outerFn("v") FROM (SELECT $innerFn("value") AS "v" FROM "m" """ +
        """WHERE time > now()-5h GROUP BY time(1h)) GROUP BY time(1d) FILL(none)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toMap
    val (mu, mx) = (one("mean", "max"), one("max", "min"))
    assert(got.nonEmpty && got.forall { case (t, a, b) => mu(t) == a && mx(t) == b },
      s"subquery multi: $got")
    // single outer over a multi inner must NAME the column it selects
    val named = InfluxQL.dataPoints(
      """SELECT max("mu") FROM (SELECT mean("value") AS "mu", max("value") AS "mx" """ +
        """FROM "m" WHERE time > now()-5h GROUP BY time(1h)) GROUP BY time(1d) FILL(none)""",
      _ => df, _ => None, now).collect()
      .map(r => (r.getAs[Long]("time"), r.getAs[Double]("value"))).toMap
    assert(named == mu, s"named-column outer: $named")
    intercept[IllegalArgumentException] {
      InfluxQL.dataPoints(
        """SELECT max("value") FROM (SELECT mean("value") AS "mu", max("value") AS "mx" """ +
          """FROM "m" WHERE time > now()-5h GROUP BY time(1h)) GROUP BY time(1d)""",
        _ => df, _ => None, now)
    }
  }

  test("shapeResponse carries multi-column and per-measurement series " +
    "(the dialect-tail wire shapes), single-value shape unchanged") {
    import spark.implicits._
    // multi-item select: every value column in result order
    val multi = Seq((1704103200L, 1.5, 3.0, 2L), (1704106800L, 2.5, 4.0, 1L))
      .toDF("time", "avg_v", "max_v", "n")
    val mj = Api.shapeResponse(multi, "m", "")
    assert(mj ==
      """{"Results":[{"Series":[{"name":"m","tags":{},""" +
        """"columns":["time","avg_v","max_v","n"],""" +
        """"values":[[1704103200,1.5,3.0,2],[1704106800,2.5,4.0,1]]}]}]}""", mj)
    // regex-FROM result: one Series per measurement, named by it
    val rx = Seq(("sensor_hum", 1704103200L, 40.0), ("sensor_temp", 1704103200L, 15.0))
      .toDF("measurement", "time", "value")
    val rj = Api.shapeResponse(rx, "", "")
    assert(rj ==
      """{"Results":[{"Series":[{"name":"sensor_hum","tags":{},""" +
        """"columns":["time","value"],"values":[[1704103200,40.0]]},""" +
        """{"name":"sensor_temp","tags":{},"columns":["time","value"],""" +
        """"values":[[1704103200,15.0]]}]}]}""", rj)
    // measurement × tag composition splits series on both axes
    val rt = Seq(("a", 1L, 1.0, "x"), ("a", 1L, 2.0, "y"), ("b", 1L, 3.0, "x"))
      .toDF("measurement", "time", "value", "loc")
    val rtj = Api.shapeResponse(rt, "", "loc")
    assert("\"name\":".r.findAllIn(rtj).length == 3, rtj)
    // the single-value shape stays byte-identical (docs/api fixtures)
    val single = Seq((1704103200L, 1250.0)).toDF("time", "value")
    assert(Api.shapeResponse(single, "m", "") ==
      """{"Results":[{"Series":[{"name":"m","tags":{},""" +
        """"columns":["time","value"],"values":[[1704103200,1250.0]]}]}]}""")
    // a time-less frame (whole-range aggregate) keeps the epoch-0 time
    // column — InfluxDB's bare-aggregate convention, the shape clients
    // index values[1] against
    val bare = Seq(42.5).toDF("value")
    assert(Api.shapeResponse(bare, "m", "") ==
      """{"Results":[{"Series":[{"name":"m","tags":{},""" +
        """"columns":["time","value"],"values":[[0,42.5]]}]}]}""")
    // a CATALOG frame (SHOW forms: string columns) renders its own
    // columns — no fabricated time, string cells JSON-quoted
    val cat = Seq(("value", "float")).toDF("field_key", "field_type")
    assert(Api.shapeResponse(cat, "", "") ==
      """{"Results":[{"Series":[{"name":"","tags":{},""" +
        """"columns":["field_key","field_type"],""" +
        """"values":[["value","float"]]}]}]}""")
    // a multi-select item may not take the reserved `measurement` name
    intercept[IllegalArgumentException] {
      Planner.dataPointsMulti(
        Seq(graft.model.SelectItem("value", "mean", alias = "measurement"),
          graft.model.SelectItem("value", "max")),
        DataPointsRequest("m", relativeTime = "1h", groupByTime = "10m"),
        _ => pts(("m", 1704103200L, 1.0, "1")), now)
    }
  }

  test("looksLike claims the dialect-tail forms, not their Spark cousins") {
    assert(InfluxQL.looksLike(
      """SELECT mean("value"), max("value") FROM "m" GROUP BY time(1h) FILL(none)"""))
    assert(InfluxQL.looksLike(
      """SELECT mean("value") FROM /^sensor_/ WHERE time > now()-1h"""))
    assert(InfluxQL.looksLike(
      """SELECT mean("value") INTO "t" FROM "m" GROUP BY time(1h)"""))
    // Spark SQL with a division stays Spark SQL
    assert(!InfluxQL.looksLike("SELECT a/b FROM t"))
    assert(!InfluxQL.looksLike("SELECT cast(x AS int) other FROM t"))
    // a string literal containing the word "into" is not an INTO clause
    assert(!InfluxQL.looksLike("SELECT x, 'into y' FROM t"))
    assert(!InfluxQL.looksLike(
      "SELECT concat(a, ' into ', b) AS msg FROM logs"))
  }
}
