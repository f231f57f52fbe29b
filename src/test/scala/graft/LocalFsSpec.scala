package graft

import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, FsConstants, Options,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The engine's local filesystem ([[LocalFs]]) leaves the same modes,
  * link statuses and `.crc` sidecars as Hadoop's stock classes
  * (`RawLocalFileSystem`, and `LocalFs` behind `FileContext`): each case
  * runs one operation through both, in two sibling directories, and
  * compares what is on disk. Needs no Spark session. */
class LocalFsSpec extends AnyFunSuite {

  private def conf(umask: String): Configuration = {
    val c = new Configuration()
    c.set(FsPermission.UMASK_LABEL, umask)
    c
  }

  private def raw(fs: RawLocalFileSystem, c: Configuration): RawLocalFileSystem = {
    fs.initialize(FsConstants.LOCAL_FS_URI, c)
    fs
  }

  /** (stock, engine) raw filesystems under `umask`. */
  private def pair(umask: String) =
    (raw(new RawLocalFileSystem, conf(umask)), raw(new NioRawLocalFileSystem, conf(umask)))

  /** The full mode (sticky and set-id bits too) of `p`, not following links. */
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", java.nio.file.LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int] & 0xfff

  /** Runs `op` in a fresh directory per filesystem and returns both dirs. */
  private def both(umask: String)(op: (FileSystem, JPath) => Unit): (JPath, JPath) = {
    val (stock, engine) = pair(umask)
    val base = Files.createTempDirectory("localfs")
    val dirs = Seq(stock -> base.resolve("stock"), engine -> base.resolve("engine")).map {
      case (fs, d) => Files.createDirectory(d); op(fs, d); d
    }
    (dirs.head, dirs(1))
  }

  /** Every entry under `root`, relative, with its mode. */
  private def tree(root: JPath): Map[String, Int] =
    Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(_ != root).map(p => root.relativize(p).toString -> mode(p)).toMap

  test("Hadoop builds the engine's classes from the two keys") {
    val c = new Configuration()
    LocalFs.Conf.foreach { case (k, v) => c.set(k, v) }
    val fs = FileSystem.newInstance(FsConstants.LOCAL_FS_URI, c)
    try assert(fs.isInstanceOf[NioLocalFileSystem]) finally fs.close()
    assert(FileContext.getLocalFSFileContext(c).getDefaultFileSystem.isInstanceOf[NioLocalFs])
  }

  for (umask <- Seq("022", "077"))
    test(s"created files and mkdirs directories get stock modes under umask $umask") {
      val (stock, engine) = both(umask) { (fs, d) =>
        fs.create(new Path(s"$d/f")).close()
        fs.mkdirs(new Path(s"$d/a/b/c"))
        fs.create(new Path(s"$d/a/b/c/g")).close()
      }
      val modes = tree(stock)
      assert(modes.keySet === Set("f", "a", "a/b", "a/b/c", "a/b/c/g"))
      assert(tree(engine) === modes)
      val expectDir = 0x1ff & ~Integer.parseInt(umask, 8)
      assert(modes("a/b") === expectDir)
    }

  test("an explicit setPermission(0750) sets the same mode") {
    val (stock, engine) = both("022") { (fs, d) =>
      fs.create(new Path(s"$d/f")).close()
      fs.mkdirs(new Path(s"$d/d"))
      Seq("f", "d").foreach(n => fs.setPermission(new Path(s"$d/$n"), new FsPermission("750")))
    }
    assert(tree(stock) === Map("f" -> Integer.parseInt("750", 8), "d" -> Integer.parseInt("750", 8)))
    assert(tree(engine) === tree(stock))
  }

  test("a sticky-bit permission falls back to Hadoop's path with the same mode") {
    val sticky = new FsPermission(Integer.parseInt("1755", 8).toShort)
    assert(LocalFs.rwx(sticky.toShort.toInt).isEmpty)
    val (stock, engine) = both("022") { (fs, d) =>
      fs.mkdirs(new Path(s"$d/d"))
      fs.setPermission(new Path(s"$d/d"), sticky)
    }
    assert(tree(stock) === Map("d" -> Integer.parseInt("1755", 8)))
    assert(tree(engine) === tree(stock))
  }

  test("getFileLinkStatus matches stock for a file, a directory, a symlink and a dangling symlink") {
    val (stock, engine) = pair("022")
    val d = Files.createTempDirectory("localfs-links")
    Files.write(d.resolve("file"), "twelve bytes".getBytes)
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("file"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
    def status(fs: FileSystem, p: Path) =
      scala.util.Try(fs.getFileLinkStatus(p)).map(s =>
        (s.isSymlink, if (s.isSymlink) s.getSymlink.toString else "", s.getLen, s.isDirectory))
        .recover { case e => e.getClass.getName }.get
    for (name <- Seq("file", "dir", "link", "dangling"); p <- Seq(
        new Path(d.resolve(name).toString), stock.makeQualified(new Path(d.resolve(name).toString)))) {
      assert(status(engine, p) === status(stock, p), s"$p")
    }
    // the unqualified link paths are seen as links, with qualified targets
    def target(name: String) = stock.makeQualified(new Path(d.resolve(name).toString)).toString
    assert(status(engine, new Path(d.resolve("link").toString)) ===
      ((true, target("file"), 12L, false)))
    assert(status(engine, new Path(d.resolve("dangling").toString)) ===
      ((true, target("missing"), 0L, false)))
  }

  test("FileContext.rename with OVERWRITE moves a file and its .crc over an existing one, as stock") {
    def run(c: Configuration): (Map[String, Int], Seq[String]) = {
      val fc = FileContext.getLocalFSFileContext(c)
      val d = Files.createTempDirectory("localfs-rename")
      def write(name: String, body: String): Unit = {
        val out = fc.create(new Path(s"$d/$name"), EnumSet.of(CreateFlag.CREATE),
          Options.CreateOpts.createParent())
        try out.write(body.getBytes) finally out.close()
      }
      write("1", "old")
      write(".1.tmp", "new")
      fc.rename(new Path(s"$d/.1.tmp"), new Path(s"$d/1"), Options.Rename.OVERWRITE)
      val in = fc.open(new Path(s"$d/1"))
      val body = try new String(in.readAllBytes()) finally in.close()
      (tree(d), Seq(body, fc.getDefaultFileSystem.getClass.getName))
    }
    val engineConf = conf("022")
    LocalFs.Conf.foreach { case (k, v) => engineConf.set(k, v) }
    val (stockTree, Seq(stockBody, stockClass)) = run(conf("022"))
    val (engineTree, Seq(engineBody, engineClass)) = run(engineConf)
    assert(stockClass === "org.apache.hadoop.fs.local.LocalFs")
    assert(engineClass === classOf[NioLocalFs].getName)
    assert(stockTree.keySet === Set("1", ".1.crc"))
    assert(engineTree === stockTree)
    assert(engineBody === "new" && stockBody === "new")
  }
}
