package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem, FileStatus,
  FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without a child process per file.
  *
  * Without libhadoop, stock `RawLocalFileSystem.setPermission` runs `chmod`
  * as a child process for every file and directory it creates, and
  * `getFileLinkStatus` runs `readlink` on every call (with or without
  * libhadoop) — FileContext calls it on every checkpoint rename. A pipeline
  * that writes many small files (partitioned parquet, streaming offset and
  * commit logs, state-store deltas) pays a fork+exec for each. The session
  * ([[graft.Graft.session]]) registers these classes for the `file:` scheme
  * on both of Hadoop's APIs; files, bytes and permission bits are the same
  * as stock, only the child processes go away.
  */
object LocalFs {

  /** Session confs that route `file:` through these classes: the
    * FileSystem API (batch parquet/CSV/JSON reads and writes) and the
    * FileContext API (streaming checkpoints, state stores). */
  val confs: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[GraftLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[GraftLocalFs].getName)

  /** Throws unless `conf` resolves `file:` to these classes on both APIs.
    * `FileSystem.get` caches one instance per scheme and user for the
    * JVM's lifetime, so a stock local filesystem created before the session
    * (e.g. by `FileSystem.get` on a bare `new Configuration()`) would win
    * over the session's conf and keep spawning processes. */
  def requireInstalled(conf: Configuration): Unit = {
    val local = URI.create("file:///")
    val fs = FileSystem.get(local, conf).getClass
    val fc = AbstractFileSystem.get(local, conf).getClass
    if (fs != classOf[GraftLocalFileSystem] || fc != classOf[GraftLocalFs])
      throw new IllegalStateException(
        s"file: resolves to ${fs.getName} / ${fc.getName}, not graft.sources.LocalFs: " +
          "a stock local FileSystem was cached before the session was built")
  }

  private[sources] val posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `RawLocalFileSystem` that sets permissions and reads link status
  * in-process. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** Same bits as stock's `chmod %04o`; the sticky bit (no java.nio form)
    * and non-POSIX hosts take stock's path. Without the sticky bit,
    * `FsPermission.toString` is the nine-letter `rwxr-x---` form. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !LocalFs.posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.toString))

  /** Stock answers `getFileStatus` whenever `readlink` finds no link; only
    * an actual symlink needs its path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[GraftRawLocalFileSystem]]. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** FileContext binding of [[GraftRawLocalFileSystem]], with stock
  * `RawLocalFs`'s overrides (its constructors are package-private). */
class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed [[GraftRawLocalFs]],
  * as stock `LocalFs` wraps `RawLocalFs`. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(uri, conf))
