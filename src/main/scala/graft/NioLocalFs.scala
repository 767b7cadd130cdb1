package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** Hadoop's local filesystem without its shell fallback. Without
  * libhadoop, `RawLocalFileSystem` forks `chmod` for every file and dir
  * it creates (`setPermission`) and `readlink` for each end of every
  * FileContext rename (`getFileLinkStatus`). These two overrides do the
  * same through java.nio; the rest — checksum sidecars, rename
  * semantics, the bytes and modes on disk — is the stock classes'.
  * [[Engine.session]] installs them as `file:` for both Hadoop APIs. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  /** The 9 rwx bits, as `chmod` would set them; a sticky bit (never set
    * by Spark or Hadoop on local paths) keeps the stock path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      val mode = permission.toShort
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      // values() runs OWNER_READ (0400) … OTHERS_EXECUTE (0001)
      PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
        if ((mode & (1 << (8 - i))) != 0) perms.add(b)
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  /** A path that is not a symlink has its plain status (the stock answer
    * once `readlink` prints nothing); a symlink keeps the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `file:` for the FileSystem API: `LocalFileSystem`'s checksums over
  * [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `RawLocalFs` (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]], with its overrides. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `file:` for the FileContext API (streaming checkpoints, the state
  * store): `LocalFs`'s checksums over [[NioRawLocalFs]]. Like `LocalFs`,
  * it ignores the URI it is built with. */
class NioLocalFs(conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf)) {
  def this(uri: URI, conf: Configuration) = this(conf)
}
