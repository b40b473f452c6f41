package graft.store

import scala.util.{Failure, Success, Try}

/**
 * Run independent Spark-action thunks concurrently on the calling
 * session and return their results IN ORDER — independent writes of
 * one commit overlap instead of serializing on per-action fixed
 * overhead, and the API layer fans a multi-index command (erase three
 * indexes, audit three indexes) across its independent targets.
 *
 * The thunks run on the JVM's one bounded pool of ACTION threads
 * (daemon, named `graft-actions`), so concurrent callers never start
 * threads without bound. It is not [[Listing]]'s pool: those tasks are
 * file-system round trips and must never wait on Spark jobs.
 *
 * Nesting rule: a thunk that itself calls `eval` (the Api erase
 * fan-out runs index-level fan-outs inside its thunks) runs that inner
 * list inline, in order, on its own pool thread — a fixed-width pool
 * deadlocks on nested blocking waits ([[Listing.inParallel]]'s rule).
 *
 * All thunks are awaited before any failure propagates — bailing on
 * the first would leave siblings in flight while the caller already
 * handles the error (a retry would then race a half-done commit).
 * Pool threads run OUTSIDE the caller's job group — a
 * `StreamingQuery.stop()` (which cancels by job group) would otherwise
 * leave the jobs running as zombies — so the caller thread's job-group
 * properties are copied onto each action thread, letting cancellation
 * reach them. Pool threads inherit no other Spark local property.
 */
object Concurrent {

  private val PoolWidth = 8
  private val ThreadName = "graft-actions"

  private lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(PoolWidth,
      (r: Runnable) => {
        // no inherited thread locals: Spark's local properties would
        // otherwise stick to the thread from whichever caller created it
        val t = new Thread(null, r, ThreadName, 0, false); t.setDaemon(true); t
      })

  private def onPoolThread: Boolean = Thread.currentThread().getName == ThreadName

  def eval[T](sc: org.apache.spark.SparkContext,
      thunks: Seq[() => T]): Seq[T] =
    if (thunks.lengthCompare(2) < 0 || onPoolThread) thunks.map(_())
    else {
      val props = Seq("spark.jobGroup.id", "spark.job.description",
        "spark.job.interruptOnCancel").map(p => p -> sc.getLocalProperty(p))
      thunks
        .map(a => pool.submit(new java.util.concurrent.Callable[T] {
          def call(): T = {
            props.foreach { case (p, v) => sc.setLocalProperty(p, v) }
            try a() finally props.foreach { case (p, _) => sc.setLocalProperty(p, null) }
          }
        }))
        .map(f => Try(f.get()))
        .map {
          case Success(v) => v
          case Failure(e: java.util.concurrent.ExecutionException) => throw e.getCause
          case Failure(e) => throw e
        }
    }
}
