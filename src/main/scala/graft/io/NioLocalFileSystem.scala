package graft.io

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, FSLinkResolver, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its process forks.
  *
  * Without the native Hadoop library, the stock `RawLocalFileSystem` runs
  * `chmod` for every file and directory it creates (`setPermission`) and
  * `readlink` on each side of every rename (`getFileLinkStatus`). One
  * checkpoint-log write — a temp file, its `.crc` file and two renames —
  * costs 2 `chmod` and 8 `readlink` processes. This class answers those
  * three calls through `java.nio.file`, with the stock answers: same mode
  * bits, same link statuses and targets, same exceptions. Everything else,
  * including file names and `.crc` side files, is the stock code.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The nine rwx bits via `Files.setPosixFilePermissions`. A sticky bit,
    * which `java.nio` cannot set, still goes through the stock `chmod`. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NioRawLocalFileSystem.posix(permission.toShort))

  override def getFileLinkStatus(f: Path): FileStatus = {
    val status = linkStatus(f)
    if (status.isSymlink)
      status.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, status.getPath, status.getSymlink))
    status
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** The stock fallback's status of `f` without its `readlink` process.
    * As there, the link is looked up at `new File(f.toString)`, so a
    * scheme-qualified path is never reported as a link, and a link's
    * status carries its target's length and permission (which the stock
    * file status still reads by running `ls`; checkpoints hold no links). */
  private def linkStatus(f: Path): FileStatus = {
    val file = new File(f.toString).toPath
    val target =
      if (!Files.isSymbolicLink(file)) ""
      else try Files.readSymbolicLink(file).toString catch { case _: IOException => "" }
    try {
      val st = getFileStatus(f)
      if (target.isEmpty) st
      else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
        st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
        st.getGroup, new Path(target), f)
    } catch {
      // a dangling link: `getFileStatus` follows it to nothing
      case _: FileNotFoundException if target.nonEmpty =>
        new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", new Path(target), f)
    }
  }
}

object NioRawLocalFileSystem {
  /** The rwx bits of `mode`; `PosixFilePermission` declares them from
    * owner read (bit 8) down to others execute (bit 0). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for ((perm, i) <- PosixFilePermission.values.zipWithIndex if (mode & (0x100 >> i)) != 0)
      set.add(perm)
    set
  }
}

/** `file:` for Hadoop's `FileSystem` API (the file sink, batch writes):
  * the stock `LocalFileSystem` checksum layer over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `file:` for Hadoop's `FileContext` API, which Spark's default streaming
  * checkpoint manager uses for offsets, commits, source and sink logs and
  * state deltas: the stock `LocalFs` (`ChecksumFs` over `RawLocalFs`) with
  * [[NioRawLocalFileSystem]] underneath. Like `LocalFs` it ignores the URI
  * it is constructed with; `AbstractFileSystem.get` needs the signature. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Stock `RawLocalFs`, whose constructor Hadoop keeps package-private,
  * over [[NioRawLocalFileSystem]]. */
private[io] class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
