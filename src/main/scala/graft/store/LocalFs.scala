package graft.store

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/**
 * Hadoop's raw local file system without a child process per file.
 * Without libhadoop, stock `RawLocalFileSystem` runs `chmod` in a forked
 * process on every `create` and every new directory, and `readlink` on
 * every `getFileLinkStatus` (which each `FileContext` rename calls twice).
 * A micro-batch touches dozens of files — parquet parts and their `.crc`
 * files, committer and staging dirs, manifests, ledger markers, stream
 * offset/commit logs, state-store deltas — so those forks were a fixed
 * cost of every batch. Here:
 *
 *  - `setPermission` sets the same (already umasked) bits through
 *    `Files.setPosixFilePermissions`, which follows symlinks as `chmod`
 *    does;
 *  - `getFileLinkStatus` of anything but a symlink is `getFileStatus`,
 *    which is what the stock code returns once `readlink` prints nothing.
 *
 * Hadoop's own code still runs where `java.nio` cannot do the same: a
 * sticky bit, a real symlink, and a default file system without POSIX
 * attributes. On-disk bytes, checksums and permission bits are those of
 * the stock file system.
 */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** The checksummed `file://` FileSystem (`fs.file.impl`) over
 *  [[NioRawLocalFileSystem]]: stock `LocalFileSystem` in every other
 *  respect, so `FileSystem.getLocal` and its `.crc` files still work. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `file://` AbstractFileSystem (`fs.AbstractFileSystem.file.impl`)
 *  that `FileContext` — streaming checkpoints and the state store —
 *  resolves: stock `LocalFs` (a `ChecksumFs` over `RawLocalFs`) with
 *  [[NioRawLocalFileSystem]] underneath. `AbstractFileSystem` calls the
 *  (URI, Configuration) constructor; like `LocalFs`, it ignores the URI. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** `RawLocalFs`, whose constructors Hadoop keeps package-private. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
