package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/**
 * Local FileSystem whose `rename` can be told to report failure
 * (return `false`, touching nothing) — the contract HDFS and the object
 * stores use for a rename they did not perform. Only renames onto a
 * batch-tagged destination name (`b-…`, the staged append's move) are
 * failed, so the Spark committer's own renames during the staging write
 * are unaffected. Registered under the `failrename://` scheme via
 * `fs.failrename.impl` in the Hadoop configuration.
 */
class FailingRenameFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "failrename"
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")

  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.startsWith("b-") &&
        FailingRenameFileSystem.failures.getAndUpdate(n => math.max(0, n - 1)) > 0)
      false
    else super.rename(src, dst)
}

object FailingRenameFileSystem {
  /** How many of the next batch-file renames report failure. */
  val failures = new AtomicInteger(0)
}
