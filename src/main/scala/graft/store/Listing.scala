package graft.store

import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}

/**
 * The store's one bounded FILE-SYSTEM FAN-OUT pool — one per JVM,
 * capping total concurrent metadata operations against the
 * namenode/object store no matter how many run at once. Everything in
 * `store/` that fans out over files or partitions goes through it:
 * query planning ([[TierFileIndex]] lists one dir per partition), pin
 * capture ([[AsOfPin.capture]] lists one dir per sequence), the audits
 * ([[EraseAudit.walkParquet]]), the staged append's renames
 * ([[StagedBatchAppend.append]]) and the tier store's per-partition
 * publish/vacuum passes. At 100 TB a tier holds ~10⁵ (measurement,
 * date) partitions; a sequential per-partition walk is minutes of
 * serialized driver RPC before the first task launches — 16-wide, it
 * is seconds, and the shared cap keeps N concurrent walks from
 * multiplying into N×16 in-flight operations. Tasks here are metadata
 * round trips, never Spark jobs (those would starve it — see
 * [[Concurrent]]).
 *
 * Nesting rule: tasks submitted here must not THEMSELVES fan out
 * through the pool (fixed-width pools deadlock on nested blocking
 * waits) — [[inParallel]] enforces it by running inline when the
 * caller already IS a pool thread.
 */
private[graft] object Listing {

  private val PoolWidth = 16

  lazy val pool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(PoolWidth,
      (r: Runnable) => {
        val t = new Thread(r, "graft-store-list"); t.setDaemon(true); t
      })

  private def onPoolThread: Boolean =
    Thread.currentThread().getName == "graft-store-list"

  /** Map `xs` through `f` on the shared pool (order-preserving). Every
   *  task is awaited before the first failure rethrows to the caller, so
   *  a failed fan-out leaves nothing in flight behind it (a retry must
   *  not race a straggler). Runs inline when already on a pool thread —
   *  see the nesting rule above. */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(2) < 0 || onPoolThread) xs.map(f)
    else xs
      .map(x => pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = f(x)
      }))
      .map(fut => Try(fut.get()))
      .map {
        case Success(b) => b
        case Failure(e: java.util.concurrent.ExecutionException) => throw e.getCause
        case Failure(e) => throw e
      }

  /** `fs.listStatus` of many directories, concurrently. */
  def listMany(fs: FileSystem, dirs: Seq[HPath]): Seq[Seq[FileStatus]] =
    inParallel(dirs)(d => fs.listStatus(d).toSeq)
}
