package graft

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local filesystem without a child process per file.
  *
  * Without libhadoop, `RawLocalFileSystem` sets the mode of every file
  * and directory it creates by running `chmod`, and asks `readlink`
  * whether a path is a symlink on every `getFileLinkStatus` (which each
  * `FileContext` rename calls). Every flush file, checksum, store file
  * and checkpoint file pays for a process start. These two overrides do
  * the common case with `java.nio`; anything they do not cover goes to
  * Hadoop's own code.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** Plain rwx bits (0777) in process; a sticky bit, or a platform
    * without POSIX attributes, through Hadoop's `chmod`.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if ((permission.toShort & ~0x1ff) != 0 || !GraftRawLocalFileSystem.posix)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        GraftRawLocalFileSystem.rwx(permission.toShort))

  /** A path that is not a symlink gets Hadoop's own non-link answer,
    * `getFileStatus` (which also throws FileNotFoundException when the
    * path is missing); symlinks keep Hadoop's target resolution.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object GraftRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  /** The nine rwx bits as a POSIX set; `values` runs OWNER_READ (0400)
    * down to OTHERS_EXECUTE (0001).
    */
  private def rwx(bits: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((bits & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `FileSystem` face (`fs.file.impl`): the checksummed `LocalFileSystem`
  * over [[GraftRawLocalFileSystem]], so `.crc` files stay as they were.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** `FileContext` face (`fs.AbstractFileSystem.file.impl`), used by
  * streaming checkpoints: Hadoop's `LocalFs` with the raw layer swapped.
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new GraftRawLocalFs(uri, conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]], with its three
  * overrides.
  */
private class GraftRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {

  override def getUriDefaultPort: Int = -1

  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults

  override def isValidName(src: String): Boolean = true
}
