package graft.fs

import java.io.{FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{FileSystems, Files, LinkOption, NoSuchFileException}
import java.nio.file.attribute.{BasicFileAttributes, PosixFilePermissions}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FSLinkResolver,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with its shell calls replaced by `java.nio`.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` runs `chmod` and
  * `getFileLinkStatus`/`getLinkTarget` run `readlink`, one process each.
  * `FileContext.create` sets the new file's permission, and
  * `FileContext.rename` reads the link status of both ends, for the file
  * and for its `.crc`: every `HDFSMetadataLog.add` (the streaming offset
  * WAL and commit log) forked 10 processes. These overrides make the same
  * system calls in-process. `getFileStatus` stays the parent's: it loads
  * permission, owner and group only when asked (an `ls`), and the
  * checkpoint writes never ask.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem.Posix

  override def setPermission(p: Path, permission: FsPermission): Unit =
    // java.nio cannot set the sticky bit
    if (permission.getStickyBit || !Posix) super.setPermission(p, permission)
    else try {
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString))
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
    }

  /** The parent's contract: a symlink's target comes back qualified. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val fi = linkStatus(f)
    if (fi.isSymlink) fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** The unqualified target; throws if `f` is not a symlink. */
  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The status the parent builds from `readlink`, with the same fields.
    * Unlike the parent, which hands `readlink` the path's string form
    * (`file:/…` for a qualified path, which never names a link), the link
    * is looked up at the file the path names. A missing path throws
    * `FileNotFoundException` from `getFileStatus`.
    */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f).toPath
    val isLink = try {
      Files.readAttributes(file, classOf[BasicFileAttributes], LinkOption.NOFOLLOW_LINKS).isSymbolicLink
    } catch { case _: IOException => false }
    if (!isLink) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(file).toString)
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
      } catch { // a dangling link
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }
}

object NioRawLocalFileSystem {
  private val Posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** [[NioRawLocalFileSystem]] under the `AbstractFileSystem` API, with the
  * four overrides of Hadoop's `org.apache.hadoop.fs.local.RawLocalFs`.
  */
class NioRawLocalFs(uri: URI, conf: Configuration) extends DelegateToFileSystem(
    uri, new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The `file:` FileContext: checksummed [[NioRawLocalFs]], in place of
  * Hadoop's `org.apache.hadoop.fs.local.LocalFs`. `core-site.xml` registers
  * it under `fs.AbstractFileSystem.file.impl`; `AbstractFileSystem`
  * builds it through this (URI, Configuration) constructor.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
