package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}
import java.security.PrivilegedExceptionAction

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.security.UserGroupInformation

import graft.sources.{GraftLocalFileSystem, GraftLocalFs, GraftRawLocalFileSystem, LocalFs}

/** [[LocalFs]] against stock Hadoop on temp dirs: same permission bits,
  * same link status, and the session really routes `file:` through it. */
class LocalFsSpec extends SparkSpec {

  private lazy val conf = spark.sessionState.newHadoopConf()

  /** The session conf with Hadoop's own `file:` classes. */
  private def stockConf(): Configuration = {
    val c = new Configuration(conf)
    c.unset("fs.file.impl")
    c.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    c
  }

  private def mode(p: String): Int =
    Files.getAttribute(Paths.get(p), "unix:mode").asInstanceOf[Int] & 0x0fff

  private def raw(stock: Boolean): RawLocalFileSystem = {
    val fs = if (stock) new RawLocalFileSystem else new GraftRawLocalFileSystem
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  test("create/mkdirs through FileSystem and FileContext: stock bits under the session umask") {
    val stockFs = FileSystem.newInstance(URI.create("file:///"), stockConf())
    try {
      assert(!stockFs.isInstanceOf[GraftLocalFileSystem])
      val graftFs = FileSystem.get(URI.create("file:///"), conf)
      val stockFc = FileContext.getFileContext(stockConf())
      val graftFc = FileContext.getFileContext(conf)
      def made(fs: FileSystem, fc: FileContext, root: String): Seq[Int] = {
        fs.mkdirs(new Path(s"$root/fs/a/b"))
        fs.create(new Path(s"$root/fs/a/b/f")).close()
        fc.mkdir(new Path(s"$root/fc/a/b"), FsPermission.getDirDefault, true)
        fc.create(new Path(s"$root/fc/a/b/f"),
          java.util.EnumSet.of(CreateFlag.CREATE)).close()
        Seq("fs/a", "fs/a/b", "fs/a/b/f", "fs/a/b/.f.crc",
          "fc/a", "fc/a/b", "fc/a/b/f", "fc/a/b/.f.crc").map(p => mode(s"$root/$p"))
      }
      val want = made(stockFs, stockFc, tmpDir("localfs_stock"))
      assert(made(graftFs, graftFc, tmpDir("localfs_graft")) === want)
      val umask = FsPermission.getUMask(conf).toShort
      assert(want.take(2) === Seq.fill(2)(0x1ff & ~umask))
    } finally stockFs.close()
  }

  test("explicit setPermission gives stock's bits; the sticky bit takes stock's path") {
    val (stock, graft) = (raw(stock = true), raw(stock = false))
    val cases = for (bits <- Seq("644", "700", "755"); isDir <- Seq(false, true))
      yield bits -> isDir
    for ((bits, isDir) <- cases :+ ("1777" -> true)) {
      def set(fs: RawLocalFileSystem): Int = {
        val p = new Path(tmpDir("localfs_perm"), "x")
        if (isDir) fs.mkdirs(p) else fs.create(p).close()
        fs.setPermission(p, new FsPermission(Integer.parseInt(bits, 8).toShort))
        mode(p.toString)
      }
      val want = set(stock)
      assert(set(graft) === want, s"$bits dir=$isDir")
      assert(want === Integer.parseInt(bits, 8), s"$bits dir=$isDir")
    }
  }

  test("getFileLinkStatus matches stock for files, dirs, symlinks, dangling links, missing") {
    val (stock, graft) = (raw(stock = true), raw(stock = false))
    val root = Paths.get(tmpDir("localfs_link"))
    val file = Files.writeString(root.resolve("file"), "abc")
    val dir = Files.createDirectory(root.resolve("dir"))
    val link = Files.createSymbolicLink(root.resolve("link"), file)
    val dangling = Files.createSymbolicLink(root.resolve("dangling"), root.resolve("gone"))
    def status(fs: RawLocalFileSystem, p: Path) =
      scala.util.Try(fs.getFileLinkStatus(p)).toEither.map(s => (s.getPath, s.isFile,
        s.isDirectory, s.isSymlink, if (s.isSymlink) Some(s.getSymlink) else None,
        s.getLen, s.getModificationTime)).left.map(_.getClass)
    // stock's `readlink` sees bare paths as links but not qualified file:
    // URIs (a qualified dangling link is FileNotFound there): match both
    for (p <- Seq(file, dir, link, dangling, root.resolve("missing"));
         path <- Seq(new Path(p.toString), new Path(p.toUri)))
      assert(status(graft, path) === status(stock, path), path)
    assert(stock.getFileLinkStatus(new Path(link.toString)).isSymlink)
    assert(stock.getFileLinkStatus(new Path(dangling.toString)).isSymlink)
    val missing = new Path(root.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](graft.getFileLinkStatus(missing))
  }

  test("the session routes file: through LocalFs on both Hadoop APIs") {
    assert(FileSystem.get(URI.create("file:///"), conf).isInstanceOf[GraftLocalFileSystem])
    assert(FileContext.getFileContext(conf).getDefaultFileSystem.isInstanceOf[GraftLocalFs])
    LocalFs.requireInstalled(conf)
  }

  test("a stock file: FileSystem cached before the session fails loudly") {
    // FileSystem.get caches per scheme and user: another user's cache is
    // the one "before the session" without disturbing the shared session
    val ugi = UserGroupInformation.createRemoteUser("localfs-spec")
    try ugi.doAs(new PrivilegedExceptionAction[Unit] {
      def run(): Unit = {
        FileSystem.get(URI.create("file:///"), new Configuration())
        val e = intercept[IllegalStateException](LocalFs.requireInstalled(conf))
        assert(e.getMessage.contains("cached before the session"))
      }
    }) finally FileSystem.closeAllForUGI(ugi)
  }
}
