package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without a child process per metadata call.
  *
  * Without Hadoop's native library (`libhadoop`), the stock class runs
  * `chmod` for every file and directory it creates (`setPermission`) and
  * `readlink` for both sides of every `FileContext.rename`
  * (`getFileLinkStatus`). A daily lakehouse run starts ~2,000 such
  * processes. Two overrides do the same work in-process:
  *  - `setPermission` sets the same 9 bits through
  *    `Files.setPosixFilePermissions`; a sticky bit or a non-POSIX file
  *    system goes to the stock code;
  *  - `getFileLinkStatus` of a path that is not a symbolic link is its
  *    `getFileStatus`, which is what the stock code returns for it; a link
  *    goes to the stock code.
  * Everything else, rename and its `Rename.NONE` / `OVERWRITE` checks
  * included, is the stock code. `GraftExtensions.localFsDefaults` installs
  * it for `file:` paths; [[NioRawLocalFs]] is its `FileContext` side.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit || !NioRawLocalFileSystem.Posix) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction).map(_.SYMBOL).mkString))

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {

  private val Posix: Boolean =
    FileSystems.getDefault.supportedFileAttributeViews.contains("posix")
}

/** `LocalFileSystem` (the checksummed `file:` `FileSystem`) over
  * [[NioRawLocalFileSystem]]: `.crc` files are written exactly as by the
  * stock class. Registered as `fs.file.impl`.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` side, as `org.apache.hadoop.fs.local.RawLocalFs`
  * builds it, over [[NioRawLocalFileSystem]] (or, for a test scheme, over
  * `raw`). One override: an `OVERWRITE` rename of a file onto an existing
  * file is one `rename(2)`, which replaces the destination atomically.
  * Hadoop's generic version deletes the destination first, so a crash
  * between its two steps would leave no file at all — the window
  * [[MetaFile.replace]] exists to close.
  */
class NioRawLocalFs(uri: URI, conf: Configuration, raw: RawLocalFileSystem, scheme: String)
    extends DelegateToFileSystem(uri, raw, conf, scheme, false) {

  def this(uri: URI, conf: Configuration) =
    this(uri, conf, new NioRawLocalFileSystem, FsConstants.LOCAL_FS_URI.getScheme)

  override def getUriDefaultPort: Int = -1 // no default port for file:///

  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    if (overwrite && Files.isRegularFile(raw.pathToFile(src).toPath) &&
        Files.isRegularFile(raw.pathToFile(dst).toPath)) {
      if (!raw.rename(src, dst)) throw new java.io.IOException(s"rename $src -> $dst failed")
    } else super.renameInternal(src, dst, overwrite)

  @deprecated("as in AbstractFileSystem", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults

  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults

  // local file systems differ in their name rules: let the OS decide
  override def isValidName(src: String): Boolean = true
}

/** `ChecksumFs` over [[NioRawLocalFs]], as `org.apache.hadoop.fs.local.LocalFs`
  * wraps `RawLocalFs`. Registered as `fs.AbstractFileSystem.file.impl`.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
