package perfbench

import scala.collection.mutable

import graft.Service
import graft.api.{Api, CommandCodec}
import graft.ingest.IngestPipeline
import graft.model.Tier
import graft.query.TierPolicy
import graft.sources.LogReplay
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * `query_history`: a read-only closed loop with one client over eight days
 * of seeded history. Nothing is ingested, streamed or rolled up while it
 * is timed, which isolates planning, partition listing, scan and response
 * shaping.
 */
object QueryHistory {
  /** History frames: a dense last day and sparse weeks before it. */
  val RecentFrames = 20000L
  val OldFrames = 8000L
  val Days = 8

  def config(root: String): Service.Config = Service.Config(
    storeRoot = root, commandDir = "", maintenanceIntervalMs = Long.MaxValue / 4)

  /** Event time of history frame `seq`. */
  def frameMs(seq: Long, endMs: Long): Long = {
    val day = 86400000L
    if (seq < RecentFrames) endMs - day + day * seq / RecentFrames
    else endMs - Days * day + (Days - 1) * day * (seq - RecentFrames) / OldFrames
  }

  def run(r: Run): Report = {
    val rep = new Report
    val spark = r.spark
    val endMs = r.anchorMs / 60000 * 60000
    val gen = r.gen
    def events = {
      val lines = spark.range(0, RecentFrames + OldFrames)
        .map(i => gen.frame(i, frameMs(i, endMs)))(Encoders.STRING).toDF("value")
      LogReplay.parse(lines)
    }

    // set-up, once: building the history three times would not fit the
    // run budget. A fresh Service store, the history through the batch
    // form of the ingest plan, then the real rollup cascade.
    val s0 = System.nanoTime()
    val root = r.dir("qh/store")
    val svc = new Service(spark, config(root)).start()
    val s1 = System.nanoTime()
    r.tracer.span("ingest.history", "setup") {
      IngestPipeline.runBatch(events, Checks.ingestConfig(1000), None, svc.store)
    }
    val s2 = System.nanoTime()
    val rsp = r.tracer.span("rollup.cycle", "setup") {
      Obs.withGroup(spark, "rollup.setup")(svc.execute(
        s"""{"type":"cmd.tsdb.run_maintenance","serv":"ecollector","uid":"m","val":{"sinceDays":${Days + 1}}}"""))
    }
    require(Answers.error(rsp).isEmpty, s"maintenance failed: $rsp")
    val s3 = System.nanoTime()
    // warm-up: one whole cycle of the mix, so compiled code and caches
    // have settled before timing
    (0 until Gen.Slots).foreach(k => svc.execute(gen.command(k, endMs).json(s"w$k")))
    val s4 = System.nanoTime()
    rep.e2e("setup_s") = ((s4 - s0) / 1e9, "s")
    rep.notes += f"setup_s: one set-up: boot ${(s1 - s0) / 1e9}%.3f s, history ${(s2 - s1) / 1e9}%.3f s, " +
      f"maintenance ${(s3 - s2) / 1e9}%.3f s, warm-up ${(s4 - s3) / 1e9}%.3f s"
    val maintenanceMs = (s3 - s2) / 1e6

    // timed phase: one closed-loop client
    val answers = mutable.ArrayBuffer.empty[(Cmd, String)]
    val ms = mutable.ArrayBuffer.empty[Double]
    val layer = new QueryTrace(r, svc)
    r.tracer.markTimed()
    val (gc0, gcMs0) = Obs.gcTotals()
    val t0 = System.nanoTime()
    val end = t0 + r.seconds * 1000000000L
    var k = Gen.Slots.toLong
    // whole cycles only, so every run sees the same mix of query shapes
    while (System.nanoTime() < end || k % Gen.Slots != 0) {
      val c = gen.command(k, endMs)
      val uid = s"q$k"
      val a = System.nanoTime()
      val out = if (r.traced) layer.execute(c, uid) else svc.execute(c.json(uid))
      ms += (System.nanoTime() - a) / 1e6
      answers += ((c, out))
      k += 1
    }
    val timedS = (System.nanoTime() - t0) / 1e9
    val heap = Obs.heapAfterGcMb()
    rep.notes += "cmd ms by shape: " + answers.map(_._1).zip(ms).groupBy(x => (x._1.kind, x._1.tier, x._1.gbt))
      .toSeq.sortBy(_._1.toString).map { case (k, xs) => f"$k ${Obs.median(xs.map(_._2).toSeq)}%.0f" }.mkString("; ")
    val (gc1, gcMs1) = Obs.gcTotals()

    val (_, tp, _) = Obs.tail(ms.toSeq)
    rep.e2e("throughput_per_s") = (answers.size / timedS, "1/s")
    rep.e2e("latency_p50_ms") = (rep.timing("cmd ms (latency_p50_ms)", ms.toSeq, 50), "ms")
    rep.e2e("latency_tail_ms") = (rep.timing("cmd ms (latency_tail_ms)", ms.toSeq, tp), "ms")
    rep.e2e("heap_after_gc_mb") = (heap, "MB")
    rep.notes += f"cmds_per_s = ${answers.size / timedS}%.3f 1/s over $timedS%.2f s"

    // correctness: raw and low-frequency answers against an aggregation of
    // the generated points made outside the store and the query planner;
    // rollup tiers through cmd.tsdb.verify_rollup
    val ref = IngestPipeline.transform(events, Checks.ingestConfig(1000), None)
      .filter(col("value").isNotNull)
      .select(col("measurement"), (unix_micros(col("time")) / 1000).cast("long"), col("value"),
        coalesce(col("dir"), lit("")))
      .collect().map(x => Pt(x.getString(0), x.getLong(1), x.getDouble(2), x.getString(3)))
      .groupBy(_.measurement)
    val checked = mutable.Map.empty[String, Option[String]]
    answers.foreach { case (c, out) =>
      val key = c.json("")
      val problem = checked.getOrElseUpdate(key, Answers.check(c, out, ref))
      problem.foreach(p => rep.fail(s"${c.json("")}: $p; answer ${out.take(400)}"))
    }
    val vr = svc.execute(s"""{"type":"cmd.tsdb.verify_rollup","serv":"ecollector","uid":"v",""" +
      s""""val":{"fromDate":"${day(endMs - 7 * 86400000L)}","toDate":"${day(endMs - 86400000L)}"}}""")
    Answers.rollupProblems(vr).foreach(rep.problems += _)
    rep.attempted = answers.size
    rep.notes += s"distinct commands checked: ${checked.size}"
    svc.stop()

    if (r.traced) {
      layer.report(rep)
      rep.layer("jvm.gc_ms") = ((gcMs1 - gcMs0).toDouble, "ms")
      rep.layer("jvm.gc_count") = ((gc1 - gc0).toDouble, "count")
      val ro = r.obs.sum("rollup.")
      rep.layer("rollup.cycles") = (1.0, "count")
      rep.layer("rollup.cycle_ms") = (maintenanceMs, "ms")
      rep.layer("rollup.jobs") = (ro.jobs.toDouble, "count")
      rep.layer("rollup.task_ms") = (ro.taskMs.toDouble, "ms")
      val (nf, nb) = Checks.storeFiles(root)
      rep.layer("store.files_written") = (nf.toDouble, "count")
      rep.layer("store.bytes_written") = (nb.toDouble, "B")
    }
    rep
  }

  private def day(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString.take(10)
}

final case class Pt(measurement: String, ms: Long, value: Double, dir: String)

/** Independent answer checks. */
object Answers {
  implicit val formats: Formats = DefaultFormats

  /** The error message a FIMP report carries, if any. */
  def error(out: String): Option[String] =
    "\"error\":\"((?:[^\"\\\\]|\\\\.)+)\"".r.findFirstMatchIn(out).map(_.group(1))

  /** Series of a FIMP report: (tags, [(time sec, value or None)]). */
  def series(out: String): Either[String, Seq[(Map[String, String], Seq[(Long, Option[Double])])]] = {
    val j = JsonMethods.parse(out)
    val v = j \ "val"
    (v \ "error") match {
      case JString(e) if e.nonEmpty => return Left(s"error: $e")
      case _ =>
    }
    val ss = (v \ "Results")(0) \ "Series" match {
      case JArray(xs) => xs
      case _ => return Left(s"no Series in ${out.take(200)}")
    }
    Right(ss.flatMap { s =>
      val tags = (s \ "tags") match {
        case JObject(fs) => fs.map { case (k, x) => k -> x.extract[String] }.toMap
        case _ => Map.empty[String, String]
      }
      val cols = (s \ "columns").extractOpt[List[String]].getOrElse(Nil)
      // a tag may come back as a string column of one series instead of a
      // series per tag value; read it from there
      val tagCol = cols.indexWhere(c => c != "time" && c != cols.last)
      val rows = (s \ "values") match { case JArray(xs) => xs; case _ => Nil }
      val keyed: Seq[(Map[String, String], JValue)] = rows.map {
        case JArray(cells) if tagCol >= 0 && cells.size == cols.size =>
          (tags + (cols(tagCol) -> (cells(tagCol) match { case JString(x) => x; case _ => "" })),
            JArray(cells.patch(tagCol, Nil, 1)))
        case row => (tags, row)
      }
      keyed.groupBy(_._1).toSeq.map { case (tg, rs) =>
        tg -> rs.map(_._2).map {
          case JArray(t :: x :: _) =>
            val tv = t match { case JInt(n) => n.toLong; case JLong(n) => n; case JDouble(d) => d.toLong; case _ => 0L }
            val xv = x match {
              case JDouble(d) => Some(d); case JInt(n) => Some(n.toDouble)
              case JLong(n) => Some(n.toDouble); case JDecimal(d) => Some(d.toDouble); case _ => None
            }
            (tv, xv)
          case _ => (0L, None)
        }
      }
    })
  }

  /** Problems with one answer, None when it is right. Rollup-tier answers
   *  must be non-empty; their content is audited by verify_rollup. */
  def check(c: Cmd, out: String, ref: Map[String, Array[Pt]]): Option[String] =
    series(out) match {
      case Left(e) => Some(e)
      case Right(ss) if c.tier == "gen_day" || c.tier == "gen_week" =>
        if (ss.exists(_._2.exists(_._2.isDefined))) None else Some("empty rollup answer")
      case Right(ss) =>
        val g = c.gbtSec
        val pts = ref.getOrElse(c.measurement, Array.empty[Pt]).filter { p =>
          p.ms >= c.fromMs / 1000 * 1000 && p.ms < (c.toMs / 1000 + 1) * 1000 &&
            c.filter.forall { case (_, v) => p.dir == v }
        }
        val grouped = pts.groupBy(p => ((if (c.tag.nonEmpty) p.dir else ""),
          Math.floorDiv(p.ms / 1000, g) * g))
        val expected: Map[(String, Long), Seq[Double]] = grouped.map { case (key, ps) =>
          key -> (c.fn match {
            case "mean" => Seq(ps.map(_.value).sum / ps.length)
            case "max" => Seq(ps.map(_.value).max)
            case "sum" => Seq(ps.map(_.value).sum)
            case "last" => val t = ps.map(_.ms).max; ps.filter(_.ms == t).map(_.value).toSeq
          })
        }
        val got: Map[(String, Long), Double] = ss.flatMap { case (tags, vals) =>
          val tv = if (c.tag.nonEmpty) tags.getOrElse(c.tag, "") else ""
          vals.collect { case (t, Some(x)) => (tv, t) -> x }
        }.toMap
        val missing = expected.keys.filterNot(got.contains)
        val wrong = got.collect {
          case (key, x) if expected.get(key).exists(e => !e.exists(Checks.close(_, x))) =>
            s"$key: got $x expected ${expected(key).mkString("|")}"
          case (key, x) if !expected.contains(key) && !(c.fill == "0" && x == 0.0) =>
            s"$key: got $x for an empty bucket"
        }
        if (expected.isEmpty) Some("reference has no points in range")
        else if (missing.nonEmpty) Some(s"${missing.size} buckets missing, e.g. ${missing.take(3)}")
        else if (wrong.nonEmpty) Some(s"${wrong.size} wrong buckets, e.g. ${wrong.take(3)}")
        else None
    }

  /** Problems reported by a verify_rollup answer. */
  def rollupProblems(out: String): Seq[String] = {
    val rows = JsonMethods.parse(out) \ "val" match {
      case JArray(xs) => xs
      case _ => return Seq(s"verify_rollup answered ${out.take(300)}")
    }
    if (rows.isEmpty) return Seq("verify_rollup audited nothing")
    rows.flatMap { row =>
      val bad = Seq("n_missing", "n_extra", "n_value_mismatch")
        .map(k => k -> (row \ k).extractOpt[Long].getOrElse(0L)).filter(_._2 != 0)
      if (bad.isEmpty) None
      else Some(s"verify_rollup ${(row \ "tier").extractOpt[String]} " +
        s"${(row \ "measurement").extractOpt[String]} ${(row \ "date").extractOpt[String]}: $bad")
    }
  }
}

/**
 * The traced command path: the same calls `Service.execute` makes, issued
 * from outside so each layer gets a span — `CommandCodec.decode`,
 * `Api.dispatch` (the DataFrame build), `Api.shapeResponse` (collect and
 * shape), `Api.shapeFimpReport` — plus a separate `TierStore.readSlice`
 * of the command's planned window after it answers.
 */
final class QueryTrace(r: Run, svc: Service) {
  private val t = r.tracer
  private val spark = r.spark
  private val startedMs = System.currentTimeMillis()
  final case class One(decode: Double, build: Double, exec: Double, total: Double,
      slice: Double, files: Int, rows: Int, bytes: Int, error: Boolean, tier: String)
  val done = mutable.ArrayBuffer.empty[One]

  def execute(c: Cmd, uid: String): String = {
    r.obs
    val json = c.json(uid)
    val a = System.nanoTime()
    var d = 0.0; var b = 0.0; var e = 0.0
    val out = t.span("api.execute", uid) {
      Obs.withGroup(spark, s"query.$uid") {
        val x0 = System.nanoTime()
        val cmd = t.span("api.decode", uid)(CommandCodec.decode(json))
        val x1 = System.nanoTime()
        val df = t.span("query.build", uid)(Api.dispatch(svc.ctx, cmd.msgType, cmd.payload))
        val x2 = System.nanoTime()
        val body = t.span("query.exec", uid)(Api.shapeResponse(df, cmd.measurement, cmd.groupByTag))
        val x3 = System.nanoTime()
        d = (x1 - x0) / 1e6; b = (x2 - x1) / 1e6; e = (x3 - x2) / 1e6
        Api.shapeFimpReport(body, corid = uid, uid = uid, ctime = "",
          msgType = if (cmd.msgType == "cmd.tsdb.query") "evt.tsdb.query_report"
            else "evt.tsdb.data_points_report")
      }
    }
    val total = (System.nanoTime() - a) / 1e6
    val now = java.time.Instant.now()
    val tier = if (c.kind == "energy") "gen_year"
      else TierPolicy.resolveQueryTier(c.measurement, Tier.ProfileOptimized,
        Some(java.time.Instant.ofEpochMilli(c.fromMs)), "", c.gbt, c.fn, now).name
    val (sliceMs, files) = t.span("store.slice", uid) {
      val s0 = System.nanoTime()
      val tierObj = svc.store.tierByName(tier).get
      val df = svc.store.readSlice(tierObj, Some(c.measurement), Some(day(c.fromMs)), Some(day(c.toMs + 86400000L)))
      val n = df.inputFiles.length
      ((System.nanoTime() - s0) / 1e6, n)
    }
    val rows = Answers.series(out).map(_.map(_._2.size).sum).getOrElse(0)
    done += One(d, b, e, total, sliceMs, files, rows, out.length, Answers.error(out).nonEmpty, tier)
    out
  }
  private def day(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString.take(10)

  def report(rep: Report): Unit = {
    def med(f: One => Double) = Obs.median(done.map(f).toSeq)
    rep.layer("api.decode_ms") = (med(_.decode), "ms")
    rep.layer("query.build_ms") = (med(_.build), "ms")
    rep.layer("query.exec_ms") = (med(_.exec), "ms")
    rep.layer("api.shape_ms") = (med(o => o.total - o.decode - o.build - o.exec), "ms")
    rep.layer("store.slice_ms") = (med(_.slice), "ms")
    rep.layer("store.files_scanned") = (med(_.files.toDouble), "count")
    rep.layer("query.rows_out") = (done.map(_.rows.toDouble).sum, "count")
    rep.layer("api.cmds") = (done.size.toDouble, "count")
    rep.layer("api.errors") = (done.count(_.error).toDouble, "count")
    rep.layer("api.response_bytes") = (done.map(_.bytes.toDouble).sum, "B")
    val n = math.max(1, done.size)
    val q = r.obs.sum("query.")
    rep.layer("query.jobs") = (q.jobs.toDouble / n, "count")
    rep.layer("query.stages") = (q.stages.toDouble / n, "count")
    rep.layer("query.tasks") = (q.tasks.toDouble / n, "count")
    rep.layer("query.task_ms") = (q.taskMs.toDouble / n, "ms")
    val ph = scala.jdk.CollectionConverters.CollectionHasAsScala(r.obs.planning).asScala.toSeq
      .filter(p => p._1 == "collect" && p._2 >= startedMs)
    rep.layer("query.analysis_ms") = (Obs.median(ph.map(_._3.toDouble)), "ms")
    rep.layer("query.optimize_ms") = (Obs.median(ph.map(_._4.toDouble)), "ms")
    rep.layer("query.physical_ms") = (Obs.median(ph.map(_._5.toDouble)), "ms")
    Tier.all.foreach { tr =>
      rep.layer(s"query.tier_share.${tr.name}") = (done.count(_.tier == tr.name).toDouble / n, "ratio")
    }
  }
}
