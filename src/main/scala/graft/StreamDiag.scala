package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/**
 * Per-micro-batch timing collector for the bench's streaming harnesses
 * (VERDICT r8 ask #1). The driver-environment 2× on `a9_streaming_hop`
 * (9.4-10.3 s across two driver rounds vs 4.6 s in quiet sessions)
 * cannot be seen by the CPU calibration probe: a streaming query's wall
 * time includes trigger waits, file-availability polling, and state
 * checkpoint fsyncs that a pure-CPU probe never touches. This listener
 * decomposes every streaming query run during the bench into the
 * engine's own `durationMs` components so the NEXT driver bench carries
 * the answer inside `BENCH_r{N}.json` instead of another guess:
 *
 *  - `trigger_ms`  — sum of `triggerExecution` (total in-trigger time)
 *  - `addBatch_ms` — sink + state work (foreachBatch write, state commit)
 *  - `getBatch_ms` / `latestOffset_ms` — SOURCE side: file-listing and
 *    offset resolution; this is where tmpdir/filesystem slowness lands
 *  - `planning_ms` / `wal_ms` — incremental planning + offset WAL fsync
 *  - `startup_ms`  — queryStarted → first trigger (stream bootstrap:
 *    checkpoint dir creation, initial listing)
 *  - `idle_ms`     — gaps BETWEEN triggers (availability polling waits;
 *    `processAllAvailable` handshake latency)
 *
 * All values are per-timed-run averages (totals / runs) so they are
 * directly comparable to the per-query median seconds, and
 * `wall − startup − trigger − idle` ≈ the harness's batch (non-stream)
 * portion. Attribution is by wall-clock interval, not query id: the
 * bench runs queries sequentially, so everything delivered between two
 * `drain()` calls belongs to the bench query in between. Listener
 * events ride an async bus, so a finished query's last events can
 * arrive after the next query has started; `drain()` therefore waits for
 * the bus to quiesce. StreamingQueryListener rides its own bus (no
 * `listenerBus.waitUntilEmpty()` equivalent), so the wait is a short
 * bounded settle.
 */
final class StreamDiag(spark: SparkSession) {
  import scala.jdk.CollectionConverters._

  private final case class Ev(kind: String, wallMs: Long, tsMs: Long,
      dur: Map[String, Long])
  private val events = new java.util.concurrent.ConcurrentLinkedQueue[Ev]

  private val fmt = java.time.format.DateTimeFormatter.ISO_OFFSET_DATE_TIME
  private def parseTs(s: String): Long =
    try java.time.OffsetDateTime.parse(s, fmt).toInstant.toEpochMilli
    catch { case _: Throwable => System.currentTimeMillis() }

  spark.streams.addListener(new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      events.add(Ev("start", System.currentTimeMillis(), parseTs(e.timestamp), Map.empty))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      events.add(Ev("progress", System.currentTimeMillis(), parseTs(p.timestamp),
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  })

  /** Drop everything collected so far (e.g. the warm-up run). */
  def reset(): Unit = { settle(); events.clear() }

  /** The listener bus is async: a stopped query's last events can land
   *  a beat after `stop()` returns. Bounded settle: wait until no new
   *  event arrives for 50 ms (max 500 ms). */
  private def settle(): Unit = {
    var last = events.size; var waited = 0
    while (waited < 500) {
      Thread.sleep(50); waited += 50
      val n = events.size
      if (n == last) return
      last = n
    }
  }

  /** Summarize and clear. Returns None if no streaming activity.
   *  Values are averaged over `runs` timed runs. */
  def drain(runs: Int): Option[Map[String, Long]] = {
    settle()
    val evs = Iterator.continually(events.poll()).takeWhile(_ != null).toVector
    if (evs.isEmpty) return None
    val prog = evs.filter(_.kind == "progress")
    // startup: each start event to the first progress that follows it
    val startup = evs.sliding(2).collect {
      case Vector(a, b) if a.kind == "start" && b.kind == "progress" =>
        math.max(0L, b.tsMs - a.tsMs)
    }.sum
    // idle: gap between consecutive triggers of the same run-sequence
    // (trigger i's start + its triggerExecution → trigger i+1's start)
    val idle = evs.sliding(2).collect {
      case Vector(a, b) if a.kind == "progress" && b.kind == "progress" =>
        math.max(0L, b.tsMs - (a.tsMs + a.dur.getOrElse("triggerExecution", 0L)))
    }.sum
    def sum(k: String) = prog.map(_.dur.getOrElse(k, 0L)).sum
    Some(Map(
      "batches" -> prog.size.toLong, // total across runs, NOT averaged
      "trigger_ms" -> sum("triggerExecution") / runs,
      "addBatch_ms" -> sum("addBatch") / runs,
      "getBatch_ms" -> sum("getBatch") / runs,
      "latestOffset_ms" -> sum("latestOffset") / runs,
      "planning_ms" -> sum("queryPlanning") / runs,
      "wal_ms" -> (sum("walCommit") + sum("commitOffsets")) / runs,
      "startup_ms" -> startup / runs,
      "idle_ms" -> idle / runs))
  }
}
