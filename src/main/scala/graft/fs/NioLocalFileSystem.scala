package graft.fs

import java.io.{File, FileNotFoundException, IOException}
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.{PosixFilePermission, UserPrincipal}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver, FsConstants, FsServerDefaults, LocalFileSystem, LocatedFileStatus, Path, PathFilter, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem without child processes. Without `libhadoop`,
  * Hadoop's `RawLocalFileSystem` runs `chmod` after every file create and
  * mkdir, `readlink` on every link-status lookup (each FileContext rename
  * does two) and `ls -ld` for each entry of a located listing; this one
  * makes the same calls through java.nio and returns the same results
  * (DEPLOY.md "Local filesystem").
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits through `Files.setPosixFilePermissions`, which
    * follows a symlink as `chmod` does; a sticky bit goes to Hadoop's path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, NioRawLocalFileSystem.posix(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** Hadoop's listing iterator; `LocatedFileStatus` copies each entry's
    * mode, owner and group, which Hadoop's status reads with `ls -ld`.
    */
  override protected def listLocatedStatus(f: Path, filter: PathFilter): RemoteIterator[LocatedFileStatus] = {
    val stats = listStatus(f, filter).iterator
    new RemoteIterator[LocatedFileStatus] {
      override def hasNext: Boolean = stats.hasNext
      override def next(): LocatedFileStatus = {
        if (!hasNext) throw new NoSuchElementException(s"No more entries in $f")
        val st = stats.next()
        val locs = if (st.isFile) getFileBlockLocations(st, 0, st.getLen) else null
        lsAttributes(st.getPath).fold(new LocatedFileStatus(st, locs)) { case (perm, owner, group) =>
          new LocatedFileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
            st.getModificationTime, st.getAccessTime, perm, owner, group, null, st.getPath,
            st.hasAcl, st.isEncrypted, st.isErasureCoded, locs)
        }
      }
    }
  }

  /** The mode, owner and group `ls -ld` prints for `p`, which Hadoop hands
    * it as a canonical path (a link's target); None where `ls` would fail
    * or the JVM has no unix attribute view, and the caller takes Hadoop's
    * path.
    */
  private def lsAttributes(p: Path): Option[(FsPermission, String, String)] = try {
    val a = Files.readAttributes(pathToFile(p).toPath, "unix:mode,owner,group")
    def name(k: String) = a.get(k).asInstanceOf[UserPrincipal].getName
    // the rwx bits and the sticky bit, as FsPermission.valueOf parses them
    Some((new FsPermission((a.get("mode").asInstanceOf[Int] & 0x3ff).toShort), name("owner"), name("group")))
  } catch { case _: IOException | _: UnsupportedOperationException | _: IllegalArgumentException => None }

  /** Hadoop's link status, with the link read by java.nio from the same
    * `new File(f.toString)` Hadoop hands to `readlink`: a qualified
    * `file:/…` path names no file, so as before it never reads as a link.
    */
  private def linkStatus(f: Path): FileStatus = {
    val target = try {
      val link = new File(f.toString).toPath
      if (Files.isSymbolicLink(link)) Files.readSymbolicLink(link).toString.trim else ""
    } catch { case _: IOException | _: InvalidPathException => "" }
    try {
      val fs = getFileStatus(f)
      if (target.isEmpty) fs
      else {
        val (perm, owner, group) = lsAttributes(fs.getPath).getOrElse((fs.getPermission, fs.getOwner, fs.getGroup))
        new FileStatus(fs.getLen, false, fs.getReplication, fs.getBlockSize,
          fs.getModificationTime, fs.getAccessTime, perm, owner, group, new Path(target), f)
      }
    } catch {
      // a dangling link
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  /** `PosixFilePermission` declares OWNER_READ … OTHERS_EXECUTE from mode
    * bit 8 down to bit 0.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.filter(p => (mode & (1 << (8 - p.ordinal))) != 0).toSet.asJava
}

/** `fs.file.impl`: the checksummed FileSystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`, what FileContext (Spark's streaming
  * checkpoint files) uses: Hadoop's `LocalFs` over [[NioRawLocalFileSystem]].
  * Like `LocalFs` it ignores the URI it is given.
  */
class NioLocalFs(uri: java.net.URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Hadoop's `RawLocalFs` (whose constructor is package-private) over
  * [[NioRawLocalFileSystem]], with its four overrides.
  */
class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioLocalFs {
  val FileSystemKey = "fs.file.impl"
  val FileContextKey = "fs.AbstractFileSystem.file.impl"
  private val HadoopFileContextDefault = "org.apache.hadoop.fs.local.LocalFs"

  /** Points `conf`'s `file:` FileSystem and FileContext at the classes
    * above, unless a value other than Hadoop's default is already set.
    */
  def register(conf: Configuration): Unit = {
    conf.setIfUnset(FileSystemKey, classOf[NioLocalFileSystem].getName)
    if (conf.get(FileContextKey) == HadoopFileContextDefault)
      conf.set(FileContextKey, classOf[NioLocalFs].getName)
  }
}
