package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one run shares: arguments, the session, the tracer and the
 *  listeners. */
final class Run(val workload: String, val seed: Long, val seconds: Int,
    val traced: Boolean, val work: Path, val out: Path) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val master = s"local[$cores]"
  /** The run's time anchor: every generated timestamp is an offset from it. */
  val anchorMs: Long = System.currentTimeMillis() / 1000 * 1000
  val gen = Gen(seed)
  val tracer = new Tracer(traced)
  lazy val spark: SparkSession = {
    val s = graft.GraftSession.builder(shufflePartitions = 2 * cores)
      .master(master)
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("ck-default").toString)
      // Spark's status store keeps every finished job, stage and SQL
      // execution up to these limits; kept small so the heap measured is
      // the program's own state, not how many commands a run got through
      .config("spark.ui.retainedJobs", "50").config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    graft.functions.Registry.registerAll(s)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  /** Job/stage/task and planning listeners: traced runs only. */
  lazy val obs: SparkObs = new SparkObs(spark).install()
  def dir(name: String): String = {
    val p = work.resolve(name); Files.createDirectories(p); p.toString
  }
}

/** What a workload reports. */
final class Report {
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val notes = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def fail(msg: String): Unit = { problems += msg; failed += 1 }
  def correct: Boolean = problems.isEmpty && failed == 0
  /** Timing with its sample count and percentile rank recorded as a note. */
  def timing(name: String, xs: Seq[Double], p: Double): Double = {
    val v = Obs.pct(xs, p)
    notes += f"$name: p$p%.1f of ${xs.length} samples = $v%.3f"
    v
  }
}

object Main {
  /** The end-to-end metrics of the result line, with units. Workloads
   *  print others by name too (`latency_tail_ms`, and per workload
   *  `events_per_s`, `cmd_p50_ms` and the like), outside the result line. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "heap_after_gc_mb" -> "MB")

  /** The per-layer metrics of a traced run's result line: those of the
   *  layers the drains (`ingest_backlog`, `aggregate_stream`) reach, 0
   *  where one of them does not reach a layer. Every traced run prints
   *  all the layer metrics it has by name, the query, api, rollup and
   *  generator ones among them, outside the result line. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.files" -> "count", "sources.rows_in" -> "count",
    "sources.list_ms" -> "ms", "sources.get_batch_ms" -> "ms",
    "ingest.rows_selected" -> "count", "ingest.rows_admitted" -> "count",
    "ingest.points_out" -> "count", "ingest.admit_ratio" -> "ratio",
    "ingest.plan_ms" -> "ms", "ingest.task_ms" -> "ms",
    "store.write_ms" -> "ms", "store.job_ms" -> "ms", "store.commit_ms" -> "ms",
    "store.files_written" -> "count", "store.bytes_written" -> "B",
    "store.files_per_batch" -> "count",
    "stream.batches" -> "count", "stream.trigger_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_ms" -> "ms",
    "stream.state_rows" -> "count", "stream.state_bytes" -> "B",
    "stream.state_commit_ms" -> "ms", "stream.shuffle_bytes" -> "B",
    "stream.rows_out" -> "count", "stream.emit_ratio" -> "ratio",
    "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count", "jvm.heap_after_gc_mb" -> "MB",
    "self.sources_ms" -> "ms", "self.ingest_ms" -> "ms", "self.stream_ms" -> "ms",
    "self.store_ms" -> "ms",
    "traced.throughput_per_s" -> "1/s", "traced.latency_p50_ms" -> "ms")

  val Workloads: Map[String, Run => Report] = Map(
    "ingest_backlog" -> IngestBacklog.run,
    "service_live" -> ServiceLive.run,
    "query_history" -> QueryHistory.run,
    "aggregate_stream" -> AggregateStream.run)

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    Locale.setDefault(Locale.ROOT)
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (a.get("self-test").contains("1")) { SelfTest.run(Paths.get(a("work"))); return }
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("work")), Paths.get(a("out")))
    val body = Workloads.getOrElse(run.workload,
      throw new IllegalArgumentException(s"unknown workload ${run.workload}; one of " +
        Workloads.keys.toSeq.sorted.mkString(", ")))
    if (run.traced) run.obs
    val rep = try body(run) finally {
      if (run.traced) run.tracer.write(run.out.resolve(s"spans-${run.workload}-${run.seed}.jsonl"))
    }
    if (run.traced) {
      val self = run.tracer.selfMsByLayer
      Seq("sources", "ingest", "stream", "store", "rollup", "query", "api").foreach { l =>
        rep.layer(s"self.${l}_ms") = (self.getOrElse(l, 0.0), "ms")
      }
      rep.layer("traced.throughput_per_s") = rep.e2e("throughput_per_s")
      rep.layer("traced.latency_p50_ms") = rep.e2e("latency_p50_ms")
      rep.layer("jvm.heap_after_gc_mb") = rep.e2e("heap_after_gc_mb")
    }
    rep.notes.foreach(n => println(s"# $n"))
    rep.e2e.foreach { case (k, (v, u)) => println(s"# e2e $k = ${fmt(v)} $u") }
    rep.layer.foreach { case (k, (v, u)) => println(s"# layer $k = ${fmt(v)} $u") }
    rep.problems.take(20).foreach(p => println(s"# CHECK FAILED: $p"))
    val chosen = if (run.traced) PerLayer else EndToEnd
    val missing = chosen.map(_._1).filterNot(k => rep.e2e.contains(k) || rep.layer.contains(k))
    val metrics = chosen.map { case (k, unit) =>
      val v = rep.e2e.get(k).orElse(rep.layer.get(k)).map(_._1).getOrElse(0.0)
      s""""$k":{"value":${fmt(v)},"unit":"$unit"}"""
    }
    if (!run.traced) require(missing.isEmpty, s"workload did not report ${missing.mkString(", ")}")
    println(s"""{"correct":${rep.correct},"attempted":${math.max(1L, rep.attempted)},""" +
      s""""failed":${rep.failed},"metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    run.spark.stop()
    System.exit(if (rep.correct) 0 else 3)
  }
}
