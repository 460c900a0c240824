package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSDataInputStream, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** `RawLocalFileSystem` without process launches. Without native
  * `libhadoop` the stock class runs `chmod` for every file or directory it
  * creates and `readlink` on every link-status probe (two per rename); here
  * both go through java.nio. A sticky bit, a non-POSIX store and a symlink
  * keep the stock path. */
class NioLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      Seq(perm.getUserAction, perm.getGroupAction, perm.getOtherAction).map(_.SYMBOL).mkString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }

  // the stock result when `readlink` prints nothing, FileNotFoundException included
  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** The `file:` `AbstractFileSystem` (used by `FileContext`, so by Spark's
  * checkpoint manager) over [[NioLocalFileSystem]], built like Hadoop's
  * `LocalFs`: `ChecksumFs` over `RawLocalFs` (package-private, so copied),
  * hence the same files, `.crc` sidecars and rename semantics. Unlike
  * `LocalFs` it verifies the `.crc` on every open: `FilterFs.open(Path)`,
  * which Spark's checkpoint manager calls, hands the open to the raw file
  * system and skips the checksum. The URI of the constructor
  * `AbstractFileSystem.newInstance` needs is `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}) {
  override def open(f: Path): FSDataInputStream = open(f, getServerDefaults(f).getFileBufferSize)
}
