package graft.streaming

import java.io.{DataOutput, File, FileNotFoundException}
import java.net.URI
import java.nio.file.{FileSystems, Files, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, UserPrincipal}

import scala.annotation.nowarn

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file:`) filesystem every [[graft.LocalSpark]] session uses,
  * without a child process per call.
  *
  * With no native Hadoop library, the stock `RawLocalFileSystem` shells out
  * for three things: `setPermission` forks `chmod` (once per created file
  * and once per `.crc`), a status's permission, owner and group fork
  * `ls -ld` the first time one is read (every `LocatedFileStatus` of a
  * listing reads them), and `getFileLinkStatus` forks `readlink` (four per
  * `FileContext.rename`). Here each is one `java.nio` call:
  *  - `setPermission` sets `unix:mode` to the permission's bits, sticky
  *    bit included, as the native `chmod(2)` path does;
  *  - a status loads permission, owner and group lazily from one
  *    `readAttributes("unix:mode,owner,group")`, of a symlink's target as
  *    the stock `ls -ld` of the canonical path reads them;
  *  - `getFileLinkStatus` takes the stock path only for a real symlink.
  * Everything else (create, open, `rename(2)`, delete, listing) is the
  * stock code. Where the `unix` attribute view is missing, every override
  * falls back to the stock path.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!unixView) super.setPermission(p, permission)
    else nio(p)(Files.setAttribute(pathToFile(p).toPath, "unix:mode",
      Integer.valueOf(permission.toShort & 0x3ff)))

  override def getFileStatus(p: Path): FileStatus =
    if (!unixView) super.getFileStatus(p)
    else {
      val f = pathToFile(p)
      val a = nio(p)(Files.readAttributes(f.toPath, classOf[BasicFileAttributes]))
      new LazyStatus(f, a, getDefaultBlockSize(p),
        new Path(f.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (!unixView || Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)

  /** The stock listing of a file (not a directory) builds its own forking
    * status; a directory's children already come from [[getFileStatus]].
    */
  override def listStatus(p: Path): Array[FileStatus] = {
    val f = pathToFile(p)
    if (unixView && f.isFile) Array(getFileStatus(p)) else super.listStatus(p)
  }
}

object NioRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** `java.nio`'s missing-path error as Hadoop's `FileNotFoundException`. */
  private def nio[T](p: Path)(body: => T): T =
    try body
    catch { case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist") }

  /** The stock status's length, type and times (one `stat`); permission,
    * owner and group load on first read (a second `stat`).
    */
  private final class LazyStatus(file: File, a: BasicFileAttributes, blockSize: Long, qualified: Path)
      extends FileStatus(a.size, a.isDirectory, 1, blockSize, a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, null, null, null, qualified) {
    @volatile private var loaded = false

    private def load(): Unit = synchronized {
      if (!loaded) {
        val u = Files.readAttributes(file.toPath, "unix:mode,owner,group")
        setPermission(new FsPermission((u.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(u.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(u.get("group").asInstanceOf[GroupPrincipal].getName)
        loaded = true
      }
    }

    override def getPermission: FsPermission = { if (!loaded) load(); super.getPermission }
    override def getOwner: String             = { if (!loaded) load(); super.getOwner }
    override def getGroup: String             = { if (!loaded) load(); super.getGroup }
    @nowarn("cat=deprecation") // Writable form, kept as the stock status keeps it
    override def write(out: DataOutput): Unit = { if (!loaded) load(); super.write(out) }
  }
}

/** `fs.file.impl`: the checksummed `LocalFileSystem` (`.crc` files, read
  * verification) over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the `FileContext` side (Spark's
  * streaming checkpoint manager writes through it) — Hadoop's `LocalFs`,
  * a `ChecksumFs` over a raw delegate, with [[NioRawLocalFileSystem]] as
  * the delegate.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioLocalFs.Raw(uri, conf))

object NioLocalFs {
  /** Hadoop's `RawLocalFs` (whose constructors are package-private) over
    * [[NioRawLocalFileSystem]].
    */
  final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
