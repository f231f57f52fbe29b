package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's local filesystem: Hadoop's, without the process forks.
  *
  * Without its native library, Hadoop's `RawLocalFileSystem` runs a
  * `chmod` process for every file and directory it creates and a
  * `readlink` for every link-status lookup, which `FileContext` makes four
  * of per renamed file. Every parquet file a table write lands and every
  * streaming checkpoint-log entry pays them (~2.5 ms a fork from a 3 GB
  * JVM). [[NioRawLocalFileSystem]] does both through `java.nio`, and the
  * two classes Hadoop looks up by scheme wrap it:
  *   - [[NioLocalFileSystem]], the `file:` `FileSystem` (`.crc` sidecars
  *     as before);
  *   - [[NioLocalFs]], the `file:` `AbstractFileSystem` behind
  *     `FileContext`, through which streaming writes its checkpoint logs.
  *
  * [[LocalSpark]] installs them on both routes into a session; a host
  * whose Hadoop conf names either key keeps its own classes. */
object LocalFs {
  val FsKey = "fs.file.impl"
  val AbstractFsKey = "fs.AbstractFileSystem.file.impl"

  /** The two keys with the engine's classes. */
  val Conf: Seq[(String, String)] = Seq(
    FsKey -> classOf[NioLocalFileSystem].getName,
    AbstractFsKey -> classOf[NioLocalFs].getName)

  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nio permission set of the nine rwx bits of `mode`, or None when
    * `mode` carries any other bit or the store has no POSIX view. */
  private[graft] def rwx(mode: Int): Option[EnumSet[PosixFilePermission]] =
    if (!posix || (mode & ~0x1ff) != 0) None
    else {
      // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. from bit 8 down
      val set = EnumSet.noneOf(classOf[PosixFilePermission])
      (0 until 9).filter(b => (mode & (1 << b)) != 0)
        .foreach(b => set.add(PosixFilePermission.values()(8 - b)))
      Some(set)
    }

  /** Sets both keys on `conf` unless it names either itself (a default
    * from `core-default.xml` does not count), then closes a cached `file:`
    * FileSystem of another class: closing drops it from Hadoop's cache,
    * its holders keep using it, and the next lookup builds the engine's.
    * Closing also runs the deletions registered on it by `deleteOnExit`. */
  def install(conf: Configuration): Unit = {
    val hostNamed = Seq(FsKey, AbstractFsKey).exists(k =>
      Option(conf.getPropertySources(k)).exists(_.exists(_ != "core-default.xml")))
    if (!hostNamed) {
      Conf.foreach { case (k, v) => conf.set(k, v) }
      val cached = FileSystem.get(FsConstants.LOCAL_FS_URI, conf)
      if (!cached.isInstanceOf[NioLocalFileSystem]) cached.close()
    }
  }
}

/** `RawLocalFileSystem` that sets permissions and reads link status
  * through `java.nio` instead of a `chmod` or `readlink` process. A mode
  * with a bit beyond rwx (sticky, setuid) or a store without POSIX
  * attributes keeps Hadoop's path, and so does a real symlink. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    LocalFs.rwx(permission.toShort.toInt) match {
      case Some(perms) => Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      case None => super.setPermission(p, permission)
    }

  // Hadoop answers a non-link with getFileStatus, after a readlink
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The engine's `file:` FileSystem: Hadoop's checksummed local
  * filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The engine's `file:` AbstractFileSystem for `FileContext`: Hadoop's
  * `LocalFs` (checksums over a raw delegate) with
  * [[NioRawLocalFileSystem]] as the delegate. Hadoop builds it by
  * reflection from (URI, Configuration). */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; Hadoop's own
  * class cannot be reused, its constructors are package-private. */
private[graft] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local stores validate names themselves, as in RawLocalFileSystem
  override def isValidName(src: String): Boolean = true
}
