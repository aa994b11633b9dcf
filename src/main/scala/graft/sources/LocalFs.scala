package graft.sources

import java.io.{File, FileNotFoundException, IOException}
import java.net.URI
import java.nio.file.{Files, InvalidPathException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without the per-call process fork.
  *
  * Without `libhadoop` (the usual case for a pip/tarball Spark),
  * `RawLocalFileSystem` sets permissions by forking `chmod` on every file
  * create and mkdir, and detects symlinks by forking `readlink` on every
  * `getFileLinkStatus` — which a FileContext rename calls several times.
  * A streaming checkpoint (offset/commit logs, state-store deltas,
  * metadata) is a stream of exactly those calls. This subclass makes the
  * same two system calls through `java.nio.file` instead; permission bits,
  * `.crc` sidecars (added by the checksum wrappers below) and atomic rename
  * are unchanged.
  */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through NIO. `PosixFilePermission` has no sticky bit, so a
    * sticky mode, like a file store without a POSIX view, keeps the stock
    * (forking) path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val bits = PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, bits)
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }

  /** Hadoop's deprecated (non-`stat`) link-status logic, line for line,
    * with `Files.readSymbolicLink` where Hadoop forks `readlink`. Like
    * Hadoop it reads the link at `new File(f.toString)`, so results match
    * the stock class for qualified and unqualified paths alike. */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val target = readLink(new File(f.toString))
    val fi =
      try {
        val st = getFileStatus(f)
        if (target.isEmpty) st
        else new FileStatus(st.getLen, false, st.getReplication, st.getBlockSize,
          st.getModificationTime, st.getAccessTime, st.getPermission, st.getOwner,
          st.getGroup, new Path(target), f)
      } catch {
        // a dangling link: report the link itself
        case _: FileNotFoundException if target.nonEmpty =>
          new FileStatus(0L, false, 0, 0L, 0L, 0L, FsPermission.getDefault, "", "",
            new Path(target), f)
      }
    if (fi.isSymlink)
      fi.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, fi.getPath, fi.getSymlink))
    fi
  }

  /** `FileUtil.readLink` without the fork: the raw target, or "" when `f`
    * is not a symlink or cannot be read. */
  private def readLink(f: File): String =
    try Files.readSymbolicLink(f.toPath).toString.trim
    catch { case _: IOException | _: InvalidPathException => "" }
}

/** The FileSystem-API `file:` scheme: checksummed, over the fork-free raw
  * filesystem. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The FileContext-API raw `file:` scheme. Hadoop's `RawLocalFs` has only
  * package-private constructors, so its three overrides are repeated here. */
class ForkFreeRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The FileContext-API `file:` scheme, which Spark's default streaming
  * checkpoint manager uses: checksummed, over [[ForkFreeRawLocalFs]].
  * `AbstractFileSystem` instantiates it reflectively through this
  * (URI, Configuration) constructor. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Plain local-directory helpers for the engine's own scratch dirs
  * (streaming checkpoints, fitted-artifact staging, bench inputs). */
object LocalFs {

  /** Delete `p` and everything under it, children first; a missing `p` is
    * a no-op. The walk's directory stream is closed on every path. */
  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path])
          .iterator.asScala.foreach(Files.deleteIfExists(_))
      } finally s.close()
    }
}
