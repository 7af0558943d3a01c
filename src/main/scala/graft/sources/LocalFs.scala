package graft.sources

import java.io.File
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its per-call subprocesses.
  *
  * Without the native `libhadoop`, Hadoop 3.4's `RawLocalFileSystem` forks
  * `chmod` on every file create and mkdir (`setPermission`), and
  * `readlink` on every `getFileLinkStatus` — twice per `FileContext`
  * rename, which is how Spark's streaming checkpoint and state-store
  * files commit. A fork costs milliseconds; the java.nio call it
  * replaces costs microseconds. `GraftSession.builder` registers these
  * classes for the `file` scheme, for both the `FileSystem` and the
  * `FileContext` APIs. Every other behaviour is Hadoop's own.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `Files.setPosixFilePermissions` in place of a `chmod` subprocess.
    * Like `chmod`, it follows symlinks. A sticky bit (not expressible as
    * a `PosixFilePermission`) or a store without POSIX attributes defers
    * to Hadoop. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(permission.getUserAction,
          permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
      catch {
        case _: UnsupportedOperationException =>
          super.setPermission(p, permission)
      }

  /** Hadoop runs `readlink` on `new File(f.toString)` and, when that is
    * not a symlink, returns `getFileStatus(f)`. The same probe through
    * java.nio takes that branch without the fork; a symlink (or a path
    * java.nio cannot parse) defers to Hadoop, so its status is exactly
    * Hadoop's. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link =
      try Files.isSymbolicLink(new File(f.toString).toPath)
      catch { case _: InvalidPathException => true }
    if (link) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** The `FileSystem`-API local filesystem (`fs.file.impl`): Hadoop's
  * checksummed `LocalFileSystem` over the fork-free raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext`-API local filesystem (`fs.AbstractFileSystem.file.impl`):
  * Hadoop's `LocalFs` (a `ChecksumFs` over `RawLocalFs`) with the
  * fork-free raw filesystem underneath. Hadoop instantiates it through
  * the `(URI, Configuration)` constructor. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** `RawLocalFs` with the raw filesystem swapped; its constructors are
    * package-private, so its four overrides are repeated here. */
  private class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
