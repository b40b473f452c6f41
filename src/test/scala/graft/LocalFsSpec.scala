package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem,
  LocalFileSystem, Options, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.store.{NioLocalFileSystem, NioLocalFs, NioRawLocalFileSystem}

/**
 * The in-JVM local file system against Hadoop's stock one, each doing
 * the same operations in its own temp dir: same files, bytes (`.crc`
 * included) and permission bits, same link statuses, and the sticky-bit
 * fallback; plus the `GraftSession` registration of both classes.
 */
class LocalFsSpec extends AnyFunSuite {

  private val root = URI.create("file:///")

  /** A non-default umask, so the umasked bits are visibly the caller's. */
  private def conf(): Configuration = {
    val c = new Configuration()
    c.set("fs.permissions.umask-mode", "027")
    c
  }

  private def stockFs(): FileSystem = {
    val fs = new LocalFileSystem(); fs.initialize(root, conf()); fs
  }

  private def nioFs(): FileSystem = {
    val fs = new NioLocalFileSystem; fs.initialize(root, conf()); fs
  }

  private def stockFc(): FileContext = FileContext.getFileContext(root, conf())

  private def nioFc(): FileContext = {
    val c = conf(); FileContext.getFileContext(new NioLocalFs(root, c), c)
  }

  private def tmp(name: String): JPath = Fixtures.newDir(name)

  /** relative path → (permission string, bytes of a regular file) */
  private def tree(dir: JPath): Map[String, (String, Seq[Byte])] =
    Files.walk(dir).iterator().asScala.filter(_ != dir).map { p =>
      val perm = PosixFilePermissions.toString(
        Files.getPosixFilePermissions(p, LinkOption.NOFOLLOW_LINKS))
      val bytes = if (Files.isRegularFile(p)) Files.readAllBytes(p).toSeq else Nil
      dir.relativize(p).toString -> (perm, bytes)
    }.toMap

  private def fields(s: FileStatus) = (s.getPath, s.isDirectory, s.isSymlink,
    if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime)

  test("files, nested dirs and their .crc files get the stock bytes and " +
    "permission bits under the configured umask") {
    def exercise(fs: FileSystem, fc: FileContext, dir: JPath): Unit = {
      val d = new HPath(dir.toString)
      fs.mkdirs(new HPath(d, "a/b/c"))
      val out = fs.create(new HPath(d, "a/b/c/f"))
      try out.write("payload".getBytes("UTF-8")) finally out.close()
      fs.create(new HPath(d, "x/y/g"), new FsPermission("640"), true, 4096,
        1.toShort, 1L << 20, null).close()
      fs.mkdirs(new HPath(d, "m"), new FsPermission("751"))
      fs.setPermission(new HPath(d, "a/b/c/f"), new FsPermission("604"))
      fc.mkdir(new HPath(d, "fc/p/q"), FsPermission.getDirDefault, true)
      val h = fc.create(new HPath(d, "fc/p/q/h"), EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try h.write(Array[Byte](1, 2, 3)) finally h.close()
    }
    val (s, n) = (tmp("localfs_stock"), tmp("localfs_nio"))
    exercise(stockFs(), stockFc(), s)
    exercise(nioFs(), nioFc(), n)
    val expected = tree(s)
    assert(expected.contains("a/b/c/.f.crc") && expected.contains("fc/p/q/.h.crc"))
    assert(expected("a/b") == (("rwxr-x---", Nil)))
    assert(tree(n) == expected)
  }

  test("FileContext create-temp-then-rename, the checkpoint idiom, works " +
    "as on the stock FileContext") {
    def commit(fc: FileContext, dir: JPath, body: String): Unit = {
      val tmpFile = new HPath(dir.toString, s"offsets/.1.$body.tmp")
      val out = fc.create(tmpFile, EnumSet.of(CreateFlag.CREATE),
        Options.CreateOpts.createParent())
      try out.write(body.getBytes("UTF-8")) finally out.close()
      fc.rename(tmpFile, new HPath(dir.toString, "offsets/1"),
        Options.Rename.OVERWRITE)
    }
    val (s, n) = (tmp("localfs_ck_stock"), tmp("localfs_ck_nio"))
    Seq("v1", "v2").foreach { b => commit(stockFc(), s, b); commit(nioFc(), n, b) }
    assert(new String(Files.readAllBytes(n.resolve("offsets/1")), "UTF-8") == "v2")
    assert(tree(n) == tree(s))
    assert(tree(n).keySet == Set("offsets", "offsets/1", "offsets/.1.crc"))
  }

  test("getFileLinkStatus: getFileStatus for files and dirs, stock for " +
    "symlinks, FileNotFoundException for a missing path") {
    val (stock, nio) = (stockFs(), nioFs())
    val dir = tmp("localfs_link")
    val file = dir.resolve("f")
    Files.write(file, Array[Byte](1, 2))
    val link = Files.createSymbolicLink(dir.resolve("l"), file)
    for (p <- Seq(file, dir)) {
      val hp = new HPath(p.toString)
      assert(fields(nio.getFileLinkStatus(hp)) == fields(nio.getFileStatus(hp)))
      assert(fields(nio.getFileLinkStatus(hp)) == fields(stock.getFileLinkStatus(hp)))
    }
    val hl = new HPath(link.toString)
    val ls = nio.getFileLinkStatus(hl)
    assert(ls.isSymlink && ls.getSymlink.toUri.getScheme == "file" &&
      ls.getSymlink.toUri.getPath == file.toString)
    assert(fields(ls) == fields(stock.getFileLinkStatus(hl)))
    for (fs <- Seq(stock, nio))
      intercept[FileNotFoundException](
        fs.getFileLinkStatus(new HPath(dir.resolve("missing").toString)))
  }

  test("a sticky-bit setPermission falls back to Hadoop's own") {
    def mode(p: JPath): Int =
      Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & Integer.parseInt("7777", 8)
    val sticky = new FsPermission(Integer.parseInt("1777", 8).toShort)
    val dirs = Seq(stockFs() -> tmp("localfs_sticky_stock"),
      nioFs() -> tmp("localfs_sticky_nio"))
    for ((fs, d) <- dirs) fs.setPermission(new HPath(d.toString), sticky)
    // java.nio cannot set the sticky bit: it is there, so Hadoop's path ran
    assert(dirs.map(d => mode(d._2)) == Seq.fill(2)(Integer.parseInt("1777", 8)))
  }

  test("a GraftSession-built session resolves file:/// to the in-JVM " +
    "local file system for FileSystem.get and FileContext") {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = GraftSession.getOrCreate(master = "local[1]")
    try {
      val hconf = s.sparkContext.hadoopConfiguration
      val fs = FileSystem.get(root, hconf)
      assert(fs.getClass == classOf[NioLocalFileSystem])
      assert(FileSystem.getLocal(hconf).getRaw.getClass == classOf[NioRawLocalFileSystem])
      assert(FileContext.getFileContext(root, hconf).getDefaultFileSystem.getClass ==
        classOf[NioLocalFs])
    } finally {
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
