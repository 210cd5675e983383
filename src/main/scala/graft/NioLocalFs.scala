package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermission}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system with file status, permissions and
  * symlink reads answered through java.nio. Without the libhadoop
  * native library, [[RawLocalFileSystem]] forks a process for each of
  * them: `chmod` for every `setPermission` (so for every file created
  * with a permission), `readlink` for every `getFileLinkStatus` (twice
  * per `FileContext.rename`) and `ls -ld` for the permission, owner or
  * group of a status. A micro-batch writes an offset-log entry, a
  * commit-log entry and a state delta, each as a temp file renamed into
  * place, so these forks were its fixed cost.
  *
  * Only status, listing and `setPermission` change, and their statuses
  * carry what the stock ones do: a symlink's status is its target's,
  * its link status has `isDirectory` false and a dangling link's has
  * zeros. Checksums and `.crc` sidecars, rename, delete and the
  * on-disk layout stay Hadoop's own, so files written through either
  * file system read back through the other. The known difference: NIO
  * exposes no sticky, setuid or setgid bits, so a status never reports
  * them and `setPermission` drops them. (The stock link status also
  * misses a link named by a `file:` URI, because it runs `readlink` on
  * the URI string; this one sees it.) `setOwner` and `getLinkTarget`
  * keep Hadoop's shell commands; graft calls neither.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val a =
      try Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      catch { case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist") }
    val perm = a.permissions.asScala.foldLeft(0)((m, p) => m | NioRawLocalFileSystem.bit(p))
    new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f),
      a.lastModifiedTime.toMillis, a.lastAccessTime.toMillis, new FsPermission(perm.toShort),
      a.owner.getName, a.group.getName,
      new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = pathToFile(f).toPath
    if (!Files.isSymbolicLink(link)) getFileStatus(f)
    else {
      val target = new Path(Files.readSymbolicLink(link).toString)
      val st =
        try {
          val t = getFileStatus(f)
          new FileStatus(t.getLen, false, t.getReplication, t.getBlockSize, t.getModificationTime,
            t.getAccessTime, t.getPermission, t.getOwner, t.getGroup, target, f)
        } catch {
          case _: FileNotFoundException =>
            new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
        }
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, f, target))
      st
    }
  }

  /** A file's listing is its own status; the stock one reads its
    * permission with `ls -ld`. */
  override def listStatus(f: Path): Array[FileStatus] =
    if (pathToFile(f).isDirectory) super.listStatus(f) else Array(getFileStatus(f))

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermission.values.filter(x => (bits & NioRawLocalFileSystem.bit(x)) != 0).toSet.asJava)
  }
}

object NioRawLocalFileSystem {
  /** `PosixFilePermission` lists OWNER_READ … OTHERS_EXECUTE, i.e.
    * mode bits 0400 down to 0001. */
  private def bit(p: PosixFilePermission): Int = 0x100 >> p.ordinal
}

/** `fs.file.impl`: the checksummed `FileSystem` that parquet writes and
  * file listings use, over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: the checksummed `FileContext`
  * file system that streaming checkpoints (offset and commit logs,
  * state stores) use, over [[NioRawLocalFileSystem]]; Hadoop's `LocalFs`
  * with the raw layer swapped. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]. */
private[graft] class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
