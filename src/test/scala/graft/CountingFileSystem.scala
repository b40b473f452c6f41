package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, Path, RawLocalFileSystem}

/**
 * Local FileSystem that records every `listStatus` and `open` call —
 * the directory listings and manifest reads a planner pays per
 * partition — so a test can pin those round-trip counts. Registered
 * under the `counting://` scheme via `fs.counting.impl` in the Hadoop
 * configuration.
 */
class CountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "counting"
  override def getUri: java.net.URI = java.net.URI.create("counting:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    CountingFileSystem.listed.add(f.toUri.getPath)
    super.listStatus(f)
  }

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingFileSystem.opened.add(f.toUri.getPath)
    super.open(f, bufferSize)
  }
}

object CountingFileSystem {
  /** Paths passed to `listStatus` / `open` since the last [[reset]]. */
  val listed = new ConcurrentLinkedQueue[String]()
  val opened = new ConcurrentLinkedQueue[String]()

  def reset(): Unit = { listed.clear(); opened.clear() }
}
