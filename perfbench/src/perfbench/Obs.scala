package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced call: `parent` is the span open on the same thread when it
 *  started (0 = none); `req` ties the spans of one request together (the
 *  micro-batch id for frames, the command uid for commands). */
final case class Span(id: Long, parent: Long, name: String, req: String,
    startNs: Long, endNs: Long, thread: Long)

/**
 * Spans kept in memory and written out when the run ends. With tracing off
 * `span` only runs its body, so untraced runs pay nothing.
 */
final class Tracer(val on: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val open = new ThreadLocal[List[Long]] { override def initialValue = Nil }

  def span[A](name: String, req: String = "")(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, stack.headOption.getOrElse(0L), name, req, t0,
          System.nanoTime(), Thread.currentThread().getId))
        open.set(stack)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  @volatile private var timedFrom = 0L
  /** Mark the start of the timed phase; self times count spans after it. */
  def markTimed(): Unit = timedFrom = System.nanoTime()

  /** Self time per layer (the span name up to its first dot) over the timed
   *  phase: a span's duration minus the part of it its children cover. */
  def selfMsByLayer: Map[String, Double] = {
    val all = spans.filter(_.startNs >= timedFrom)
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name.takeWhile(_ != '.')).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = Obs.unionNs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":"${s.req}",""" +
        f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f,"thread":${s.thread}}""")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Per-job-group totals from Spark's own listener events. */
final class GroupTotals {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var jobWallMs = 0L
  var shuffleBytes = 0L
}

/**
 * Spark's public listeners, registered from the benchmark: job/stage/task
 * metrics keyed by the job group the benchmark sets around each call, and
 * query-planning phases. (Streaming progress is read from each query's
 * `recentProgress`.)
 */
final class SparkObs(spark: SparkSession) extends SparkListener {
  private val totals = mutable.Map.empty[String, GroupTotals]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  /** (funcName, end time ms, analysis ms, optimization ms, planning ms) */
  val planning = new ConcurrentLinkedQueue[(String, Long, Long, Long, Long)]()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    totals.getOrElseUpdate(g, new GroupTotals).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    totals.getOrElseUpdate(g, new GroupTotals).jobWallMs +=
      e.time - jobStart.getOrElse(e.jobId, e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageInfo.stageId, ""), new GroupTotals)
    t.stages += 1
    t.tasks += e.stageInfo.numTasks
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new GroupTotals)
      t.taskMs += m.executorRunTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Totals of every group whose id starts with `prefix`. */
  def sum(prefix: String): GroupTotals = synchronized {
    val s = new GroupTotals
    totals.foreach { case (g, t) =>
      if (g.startsWith(prefix)) {
        s.jobs += t.jobs; s.stages += t.stages; s.tasks += t.tasks
        s.taskMs += t.taskMs; s.jobWallMs += t.jobWallMs
        s.shuffleBytes += t.shuffleBytes
      }
    }
    s
  }

  def install(): SparkObs = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        def p(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
        planning.add((funcName, System.currentTimeMillis(), p("analysis"),
          p("optimization"), p("planning")))
      }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    this
  }
}

/** Run the body with a Spark job group set on this thread, so the
 *  listener can attribute its jobs. */
object Obs {
  def withGroup[A](spark: SparkSession, g: String)(body: => A): A = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try body
    finally {
      if (prev == null) sc.clearJobGroup()
      else sc.setJobGroup(prev, prev, interruptOnCancel = false)
    }
  }

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Nearest-rank percentile of a sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100 * s.length).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** The highest of a fixed ladder of percentiles that leaves at least ten
   *  samples beyond it, with the sample count. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    val p = Seq(99.9, 99.0, 95.0, 90.0, 80.0, 75.0, 50.0)
      .find(p => n * (1 - p / 100) >= 10 - 1e-9).getOrElse(50.0)
    (pct(xs, p), p, n)
  }

  def gcTotals(): (Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
  }

  /** CPU seconds this process has used: set against a phase's wall time it
   *  tells whether the phase waited for cores. */
  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Heap in use right after a full collection. Two collections with
   *  finalization between them, so garbage that waits on a finalizer or
   *  cleaner does not count as live. */
  def heapAfterGcMb(): Double = {
    System.gc()
    System.runFinalization()
    System.gc()
    val m = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / (1024.0 * 1024.0)
  }
}
