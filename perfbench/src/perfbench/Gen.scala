package perfbench

import java.util.SplittableRandom

/**
 * The one seeded traffic generator every workload draws from. Each item is
 * a pure function of (seed, sequence number, anchor time), so any slice of
 * the stream can be regenerated anywhere — in the benchmark for the frame
 * files, inside Spark tasks for the history build — and the same seed
 * always gives byte-identical frames, points and commands.
 *
 * Times are offsets from an anchor (the run's start, rounded to the
 * second); a fixed anchor makes the output fully reproducible.
 */
final case class Gen(seed: Long, devices: Int = 3000) {

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(stream: Long, seq: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, stream), seq))

  /** Skewed device pick: a power law over device ranks, so a few devices
   *  report often and most rarely. */
  def device(r: SplittableRandom): Int =
    math.min(devices - 1, (math.pow(r.nextDouble(), 2.5) * devices).toInt)

  /** Device kind, fixed per device rank and the same for every seed: a
   *  low-discrepancy spread over the kind shares, so every band of the
   *  activity skew holds the same mix and the volume per measurement does
   *  not swing with the seed. */
  def kind(dev: Int): Int = {
    val u = (dev * 0.6180339887498949) % 1.0
    Gen.kindCut.indexWhere(u < _)
  }

  def topic(dev: Int, serv: String, mt: String = "evt"): String =
    s"pt:j1/mt:$mt/rt:dev/rn:zw/ad:1/sv:$serv/ad:${dev}_0"

  private def tai64n(ms: Long): String = {
    val sec = Math.floorDiv(ms, 1000L)
    val nanos = Math.floorMod(ms, 1000L) * 1000000L
    f"@${sec + 4611686018427387904L}%016x$nanos%08x"
  }

  /** Frames tagged with a sequence number carry it in `src` (which the
   *  transform copies to every point), so exactly-once can be checked per
   *  frame; the rest carry a constant source like real traffic. */
  def tagged(seq: Long): Boolean = seq % 8 == 0
  def src(seq: Long): String = if (tagged(seq)) s"s$seq" else "app"

  /**
   * One FIMP log line (`<tai64n> pt:<topic> {json}`) for frame `seq` at
   * `ms`. The mix: about 10 % on unsubscribed topics (`mt:cmd`), about
   * 5 % ecollector self-traffic, a few percent late by hours to days, and
   * every Transform branch among the rest.
   */
  def frame(seq: Long, ms: Long): String = {
    val r = rng(1, seq)
    val dev = device(r)
    val u = r.nextDouble()
    val late = r.nextDouble() < 0.03
    val t = if (late) ms - 3600000L * (1 + r.nextInt(72)) - r.nextInt(1000) else ms
    val s = src(seq)
    def line(tp: String, serv: String, typ: String, valT: String, v: String,
        props: String = "{}"): String =
      s"""${tai64n(t)} $tp {"serv":"$serv","type":"$typ","val_t":"$valT","val":$v,"props":$props,"src":"$s"}"""
    if (u < 0.10) line(topic(dev, "sensor_temp", "cmd"), "sensor_temp", "cmd.sensor.get_report",
      "string", "\"C\"")
    else if (u < 0.15) line(topic(0, "ecollector"), "ecollector", "evt.ecollector.report",
      "float", f"${r.nextDouble() * 100}%.3f")
    else kind(dev) match {
      case 0 => // meter W / kW
        if (r.nextBoolean())
          line(topic(dev, "meter_elec"), "meter_elec", "evt.meter.report", "float",
            f"${r.nextDouble() * 5000}%.2f", """{"unit":"W"}""")
        else line(topic(dev, "meter_elec"), "meter_elec", "evt.meter.report", "float",
          f"${r.nextDouble() * 5}%.4f", """{"unit":"kW"}""")
      case 1 => // meter kWh counter: also emits the sampled twin → gen_year
        line(topic(dev, "meter_elec"), "meter_elec", "evt.meter.report", "float",
          f"${dev * 10.0 + (t / 1000 % 1000000) * 0.001}%.3f", """{"unit":"kWh"}""")
      case 2 => // extended meter float map
        line(topic(dev, "meter_elec"), "meter_elec", "evt.meter_ext.report", "float_map",
          f"""{"e_import":${dev + (t / 1000 % 1000000) * 0.001}%.3f,"e_export":${r.nextDouble()}%.3f,"p_import":${r.nextDouble() * 3000}%.1f,"p_export":${r.nextDouble() * 100}%.1f}""")
      case 3 => line(topic(dev, "sensor_temp"), "sensor_temp", "evt.sensor.report", "float",
        f"${15 + r.nextDouble() * 10}%.2f", """{"unit":"C"}""")
      case 4 => line(topic(dev, "sensor_humid"), "sensor_humid", "evt.sensor.report", "float",
        f"${30 + r.nextDouble() * 40}%.1f", """{"unit":"%"}""")
      case 5 => line(topic(dev, "thermostat"), "thermostat", "cmd.setpoint.report", "str_map",
        f"""{"temp":"${18 + r.nextInt(8)}.${r.nextInt(10)}","type":"heat","unit":"C"}""")
      case 6 => line(topic(dev, "sensor_presence"), "sensor_presence", "evt.presence.report",
        "bool", r.nextBoolean().toString)
      case 7 => line(topic(dev, "sensor_contact"), "sensor_contact", "evt.open.report",
        "bool", r.nextBoolean().toString)
      case 8 => line(topic(dev, "chargepoint"), "chargepoint", "evt.current_session.report",
        "float", f"${r.nextDouble() * 40}%.3f")
      case _ => // price forecast: an array of hourly prices
        val day = Math.floorDiv(t, 86400000L) * 86400000L
        val items = (0 until 4).map { h =>
          val at = java.time.Instant.ofEpochMilli(day + h * 3600000L)
          f"""{"level":"NORMAL","total":${0.5 + r.nextDouble()}%.4f,"energy":0.3,"tax":0.1,"currency":"NOK","startsAt":"$at"}"""
        }
        line(topic(dev, "price_info_elec"), "price_info_elec", "evt.price_forecast.report",
          "object", items.mkString("[", ",", "]"))
    }
  }

  /**
   * Command `k` of the read-only mix, for a store whose history ends at
   * `endMs` (minute-aligned). The mix is a cycle of [[Gen.Slots]] slots,
   * each a fixed query shape — raw-tier point queries across buckets,
   * tags, a tag filter and fill; low-frequency (gen_default) queries;
   * rollup-tier queries (gen_day, gen_week); energy queries (gen_year);
   * raw InfluxQL statements — so every cycle costs about the same. The
   * seed picks the slot order of each cycle and each slot's aggregate
   * function.
   */
  def command(k: Long, endMs: Long): Cmd = {
    val cycle = k / Gen.Slots
    val order = {
      val r = rng(4, cycle)
      val a = Array.tabulate(Gen.Slots)(identity)
      for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a
    }
    val fn = rng(3, k)
    def f(xs: String*): String = xs(fn.nextInt(xs.length))
    val h = 3600000L; val d = 24 * h
    val power = "electricity_meter_power"
    order((k % Gen.Slots).toInt) match {
      case 0 => Cmd("gdp", power, f("mean", "max", "sum"), "1m", "", "null", endMs - h, endMs, None, "gen_raw")
      case 1 => Cmd("gdp", power, f("mean", "max", "sum", "last"), "10m", "dir", "none",
        endMs - 6 * h, endMs, Some("dir" -> "import"), "gen_raw")
      case 2 => Cmd("gdp", power, f("mean", "max", "sum"), "1h", "dir", "none", endMs - 20 * h, endMs, None, "gen_raw")
      case 3 => Cmd("gdp", "sensor_temp.evt.sensor.report", f("mean", "max"), "10m", "", "none",
        endMs - 12 * h, endMs, None, "gen_raw")
      case 4 => Cmd("gdp", "sensor_humid.evt.sensor.report", f("mean", "max"), "1h", "", "null",
        endMs - 3 * h, endMs, None, "gen_raw")
      case 5 => Cmd("gdp", "thermostat.cmd.setpoint.report", f("mean", "max"), "1h", "", "none",
        endMs - 7 * d, endMs, None, "gen_default")
      case 6 => Cmd("gdp", "chargepoint.evt.current_session.report", f("mean", "max"), "1d", "", "none",
        endMs - 2 * d, endMs, None, "gen_default")
      case 7 => Cmd("gdp", power, "mean", "1h", "", "none", endMs - 6 * d, endMs - 2 * d, None, "gen_day")
      case 8 => Cmd("gdp", power, "mean", "1h", "", "none", endMs - 7 * d - 12 * h, endMs - 7 * d, None, "gen_week")
      case 9 => Cmd("energy", "electricity_meter_energy_sampled", "sum", "1d", "", "null",
        endMs - 3 * d, endMs, None, "gen_year")
      case 10 => Cmd("influx", power, f("mean", "max"), "10m", "dir", "none", endMs - 8 * h, endMs, None, "gen_raw")
      case _ => Cmd("influx", power, f("mean", "max"), "1h", "", "none", endMs - 2 * h, endMs, None, "gen_raw")
    }
  }

  /** The low-rate probe series on its own measurement
   *  ([[Gen.ProbeMeasurement]]); its value is the probe number. */
  def probe(k: Long, ms: Long): String =
    s"""${tai64n(ms)} ${topic(0, "sensor_probe")} {"serv":"sensor_probe","type":"evt.sensor.report","val_t":"float","val":$k,"props":{"unit":"C"},"src":"probe"}"""

  /** A file of `n` frames starting at sequence `seq0`, spread over
   *  [startMs, startMs + spanMs). */
  def frameFile(seq0: Long, n: Int, startMs: Long, spanMs: Long): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      sb.append(frame(seq0 + i, startMs + spanMs * i / n)).append('\n')
      i += 1
    }
    sb.toString
  }

  /**
   * One canonical point for the pre-aggregation stream: series `s` of
   * `series`, at its `j`-th report inside a 30 s tick. Every agg_func is
   * represented; difference (counter) series have meter resets and
   * outliers. Fields: series_id, measurement, agg_func, time ms, value,
   * dev_type.
   */
  def seriesAgg(s: Int): String = Gen.aggFuncs(((mix(seed, s.toLong + 99L) >>> 1) % 6).toInt)
  /** Reports per 30 s tick for series `s`: skewed, 1 to 6. */
  def seriesRate(s: Int): Int = 1 + math.min(5, (math.pow(
    ((mix(seed, s.toLong + 5L) >>> 11).toDouble / (1L << 53)), 4) * 6).toInt)
  def point(s: Int, tick: Long, j: Int, tickMs: Long): (String, String, String, Long, Double, String) = {
    val agg = seriesAgg(s)
    val r = rng(2, tick * 1000003L + s)
    val n = seriesRate(s)
    val time = tickMs + (30000L * j) / n + (s % 97) // distinct times per series
    val value = agg match {
      case "difference" =>
        val base = (s % 50) * 100.0 + (tick * n + j) * 0.05
        if (r.nextDouble() < 0.002) 0.0 // meter reset
        else if (r.nextDouble() < 0.002) base * 40 // outlier
        else base
      case _ => math.rint(r.nextDouble() * 1000) / 10
    }
    val devType = if (agg == "difference" && s % 5 == 0) "meter.main_elec" else "meter"
    (f"ser$s%05d", if (agg == "difference") "electricity_meter_energy_sampled"
      else "electricity_meter_power", agg, time, value, devType)
  }
}

/** One generated command: the wire envelope plus the parameters the
 *  answer checker needs. Times are epoch ms. */
final case class Cmd(kind: String, measurement: String, fn: String, gbt: String,
    tag: String, fill: String, fromMs: Long, toMs: Long, filter: Option[(String, String)],
    tier: String) {
  private def iso(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
  def gbtSec: Long = gbt.init.toLong * (gbt.last match {
    case 'm' => 60L; case 'h' => 3600L; case 'd' => 86400L; case _ => 1L })
  def json(uid: String): String = kind match {
    case "influx" =>
      val where = filter.map { case (k, v) => s""" AND \\"$k\\"='$v'""" }.getOrElse("")
      val by = s"time($gbt)" + (if (tag.nonEmpty) s""", \\"$tag\\"""" else "")
      s"""{"type":"cmd.tsdb.query","serv":"ecollector","uid":"$uid","val":""" +
        s""""SELECT $fn(\\"value\\") FROM \\"$tier\\".\\"$measurement\\" WHERE time >= '${iso(fromMs)}' AND time <= '${iso(toMs)}'$where GROUP BY $by fill($fill)"}"""
    case _ =>
      val typ = if (kind == "energy") "cmd.tsdb.get_energy_data_points" else "cmd.tsdb.get_data_points"
      val f = filter.map { case (k, v) => s""","filters":{"tags":{"$k":"$v"}}""" }.getOrElse("")
      s"""{"type":"$typ","serv":"ecollector","uid":"$uid","val":{"measurementName":"$measurement",""" +
        s""""dataFunction":"$fn","groupByTime":"$gbt","groupByTag":"$tag","fillType":"$fill",""" +
        s""""fromTime":"${iso(fromMs)}","toTime":"${iso(toMs)}"$f}}"""
  }
}

object Gen {
  /** Cumulative device-kind shares: meter W/kW, meter kWh, meter_ext,
   *  sensor_temp, sensor_humid, thermostat, presence, contact,
   *  chargepoint, price forecast. */
  val kindCut: Array[Double] =
    Array(0.25, 0.37, 0.49, 0.64, 0.74, 0.81, 0.89, 0.96, 0.99, 1.01)
  val aggFuncs: Array[String] = Array("mean", "min", "max", "sum", "last", "difference")
  /** Query shapes in one cycle of the read-only mix. */
  val Slots = 12
  val ProbeMeasurement = "sensor_probe.evt.sensor.report"
  val Selectors: Seq[String] = Seq("pt:j1/mt:evt/#")
}
