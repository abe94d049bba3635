package graft.sources

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without its shell-outs. With no native
  * Hadoop library, `RawLocalFileSystem` starts a `chmod` process for every
  * file or directory it creates, and a `readlink` process for every
  * `getFileLinkStatus`: two per FileContext rename, the commit step of
  * every streaming checkpoint, metadata log and state-store version.
  * This class does the same two operations in-process through `java.nio`:
  *
  *   - `setPermission` sets the mode bits `chmod` would, sticky bit
  *     included, and follows a symlink as `chmod` does. Hadoop's callers
  *     have already applied the umask.
  *   - `getFileLinkStatus` of a path that is not a symlink is its
  *     `getFileStatus`: what Hadoop returns once `readlink` prints
  *     nothing, `FileNotFoundException` for a missing path included.
  *
  * Symlinks, and a platform without the `unix` attribute view, keep
  * Hadoop's own path. `GraftSession.builder` installs the checksummed
  * wrappers below for the `file:` scheme, on both the FileSystem and the
  * FileContext API. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    try Files.setAttribute(pathToFile(p).toPath, "unix:mode", Int.box(permission.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: [[NioRawLocalFileSystem]] with `.crc` checksum files. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** Hadoop's `RawLocalFs` over [[NioRawLocalFileSystem]]; its constructors
  * are package-private, so this repeats its four overrides. Like Hadoop's
  * `LocalFs`, it serves `file:///` whatever URI it is asked for. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`, the FileContext twin of
  * [[NioLocalFileSystem]]: streaming checkpoints, metadata logs and
  * state stores commit through it. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
