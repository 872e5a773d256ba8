package graft.sinks

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, GroupPrincipal, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `file:` filesystem that answers from `java.nio.file` instead of a child
  * process. Without the native-hadoop library, Hadoop's RawLocalFileSystem
  * runs `chmod` after every create and mkdir, `readlink` on every
  * FileContext link-status check and `ls -ld` on every permission read —
  * thousands of forks per streaming run (offset/commit logs, state-store
  * deltas, checkpoint checksums, parquet and artifact commits).
  *
  * Same files, same permission bits, same statuses: a permission carrying
  * the sticky bit, a directory carrying setuid/setgid (which `chmod NNNN`
  * keeps and `chmod(2)` clears) and the link status of a symlink all go
  * down Hadoop's own code, as does everything on a JVM without the `unix`
  * attribute view.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  private var blockSize = 0L

  override def initialize(uri: URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    blockSize = getDefaultBlockSize(new Path(uri))
  }

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (!unixView || permission.getStickyBit || keepsSetIdBits(file))
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(permission))
  }

  /** Hadoop's status fields from one `stat`; owner, group and permission
    * load on first use. */
  override def getFileStatus(f: Path): FileStatus =
    if (!unixView) super.getFileStatus(f)
    else {
      val file = pathToFile(f)
      // File.exists() in Hadoop's version: any failed stat reads as absent
      val a = try Files.readAttributes(file.toPath, classOf[BasicFileAttributes])
        catch { case _: IOException =>
          throw new FileNotFoundException(s"File $f does not exist") }
      new LazyPermissionStatus(a.size, a.isDirectory, blockSize,
        a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    }

  // a directory's entries already come from getFileStatus; a plain file
  // lists as itself through Hadoop's own eager-loading status
  override def listStatus(f: Path): Array[FileStatus] = {
    val listed = super.listStatus(f)
    if (unixView && listed.length == 1 &&
        !listed(0).isInstanceOf[LazyPermissionStatus]) Array(getFileStatus(f))
    else listed
  }

  // not a symlink: Hadoop's answer is exactly getFileStatus(f)
  override def getFileLinkStatus(f: Path): FileStatus =
    if (unixView && !Files.isSymbolicLink(pathToFile(f).toPath)) getFileStatus(f)
    else super.getFileLinkStatus(f)
}

object ForkFreeRawLocalFileSystem {
  private val unixView = FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  private val S_IFMT = 0xf000
  private val S_IFDIR = 0x4000

  // a directory's setuid/setgid survive Hadoop's 4-digit `chmod` but not
  // chmod(2); an unreadable mode also takes Hadoop's path (and its error)
  private def keepsSetIdBits(file: java.nio.file.Path): Boolean =
    try {
      val mode = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      (mode & S_IFMT) == S_IFDIR && (mode & 0xc00) != 0
    } catch { case _: IOException => true }

  // PosixFilePermission declares owner r/w/x .. others r/w/x, i.e. 0400 >> ordinal
  private def posix(permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val bits = permission.toShort
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((bits & (0x100 >> p.ordinal)) != 0) set.add(p))
    set
  }

  /** Hadoop's `ls -ld <canonical path>` without the process: the mode
    * bits, owner and group of the path with links followed, read once, on
    * first use. */
  private final class LazyPermissionStatus(len: Long, isDir: Boolean,
      blockSize: Long, mtime: Long, atime: Long, path: Path)
      extends FileStatus(len, isDir, 1, blockSize, mtime, atime, null, null, null, path) {

    private def load(): Unit = synchronized {
      if (super.getOwner.isEmpty) {
        val a = try Files.readAttributes(Paths.get(getPath.toUri), "unix:mode,owner,group")
          catch { case e: IOException =>
            throw new RuntimeException(s"Error while reading file permissions of $getPath", e) }
        setPermission(new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort))
        setOwner(a.get("owner").asInstanceOf[UserPrincipal].getName)
        setGroup(a.get("group").asInstanceOf[GroupPrincipal].getName)
      }
    }

    override def getPermission: FsPermission = { load(); super.getPermission }
    override def getOwner: String = { load(); super.getOwner }
    override def getGroup: String = { load(); super.getGroup }
  }
}

/** [[LocalFileSystem]] (checksummed) over the fork-free raw filesystem —
  * the `fs.file.impl` binding. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** FileContext `file:` binding (`fs.AbstractFileSystem.file.impl`): Hadoop's
  * `LocalFs` shape — a ChecksumFs over a DelegateToFileSystem — with the
  * fork-free raw filesystem inside. Like `LocalFs`, it binds `file:///`
  * whatever URI it is handed. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(conf))

object ForkFreeLocalFs {
  /** Hadoop's `RawLocalFs` (package-private there), delegating to the
    * fork-free filesystem. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
