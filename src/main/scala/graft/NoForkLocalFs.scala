package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a forked process per call.
  * Without `libhadoop` on the classpath, the stock class applies every
  * file and directory mode with a forked `chmod` and answers every
  * `getFileLinkStatus` (each `FileContext` rename) with a forked
  * `readlink`. Here the nine rwx bits go through
  * `Files.setPosixFilePermissions` (same bits, same symlink following as
  * `chmod`), and a path that is not a symlink gets its plain
  * `getFileStatus` — what the stock class returns for it once `readlink`
  * has printed nothing. Sticky bits, non-POSIX stores and real symlinks
  * take the stock path.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0 || !NoForkRawLocalFileSystem.Posix)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      NoForkRawLocalFileSystem.rwx(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NoForkRawLocalFileSystem {
  private val Posix =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits of `mode` (owner read = 0400 … others exec = 01),
    * in `PosixFilePermission`'s declaration order.
    */
  private def rwx(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) s.add(p)
    }
    s
  }
}

/** `file://` for the `FileSystem` API: the stock checksummed
  * `LocalFileSystem` over [[NoForkRawLocalFileSystem]].
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** `org.apache.hadoop.fs.local.RawLocalFs` over [[NoForkRawLocalFileSystem]]. */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file://` for the `FileContext` API (streaming checkpoints): the stock
  * `LocalFs` checksum layer over [[NoForkRawLocalFs]]. Like `LocalFs`, it
  * always roots at `file:///`.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
