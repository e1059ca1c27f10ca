package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file:` filesystem without child processes.
  *
  * Without Hadoop's native library, `RawLocalFileSystem` forks `chmod`
  * for every permission it sets (every file create and every `mkdirs`)
  * and `readlink` for every `getFileLinkStatus` (twice per
  * `FileContext.rename`). The streaming checkpoint logs, the state
  * store's delta and checksum files, `AdsStore.publish` and the
  * `PARQUET` memo all go through those calls, a few milliseconds of
  * fork each. This subclass sets permissions through `java.nio` and
  * answers the link status of a path that is not a symlink from
  * `getFileStatus`, which is what Hadoop's own code returns for it.
  * Symlinks, and permissions with bits `java.nio` cannot express (the
  * sticky bit), still take Hadoop's code. Everything else, `.crc`
  * files and `Rename.NONE` included, is Hadoop's.
  *
  * [[graft.GraftSession]] registers [[ForkFreeLocalFileSystem]] as
  * `fs.file.impl` and [[ForkFreeLocalFs]] as
  * `fs.AbstractFileSystem.file.impl`: the `FileSystem` and the
  * `FileContext` entry points to `file:`. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
    catch {
      case e: NoSuchFileException => throw new FileNotFoundException(e.getMessage)
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }

  override def getFileLinkStatus(p: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(p).toPath)) super.getFileLinkStatus(p)
    else getFileStatus(p)
}

/** `fs.file.impl`: Hadoop's checksummed `LocalFileSystem` over
  * [[ForkFreeRawLocalFileSystem]]. */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl` (the `FileContext` side): Hadoop's
  * `ChecksumFs` over [[ForkFreeRawLocalFileSystem]], as
  * `org.apache.hadoop.fs.local.LocalFs` is over the stock one. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeLocalFs.Raw(uri, conf))

object ForkFreeLocalFs {
  /** `org.apache.hadoop.fs.local.RawLocalFs` over
    * [[ForkFreeRawLocalFileSystem]]. */
  final class Raw(uri: URI, conf: Configuration) extends DelegateToFileSystem(
      uri, new ForkFreeRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
