package graft.io

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileStatus, LocalFileSystem,
  Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its shell forks. With no native
  * Hadoop library, `RawLocalFileSystem` sets every permission by forking
  * `chmod` and resolves every link status by forking `readlink`: a
  * one-file pipeline job forked `chmod` 26 times, and each atomic write of
  * Spark's checkpoint manager 2 `chmod` plus 8 `readlink`. Both calls go
  * through `java.nio` here; every other method is Hadoop's own.
  *
  * Installed for the `file:` scheme by `core-site.xml` on the classpath,
  * twice: [[NioLocalFileSystem]] as `fs.file.impl` (FileSystem API, with
  * `.crc` sidecars) and [[NioLocalFs]] as
  * `fs.AbstractFileSystem.file.impl` (FileContext API, which Spark's
  * checkpoint manager uses and which builds its own raw filesystem). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** The three permission classes; Hadoop's local callers never set the
    * sticky bit. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(
      permission.getUserAction.SYMBOL + permission.getGroupAction.SYMBOL +
        permission.getOtherAction.SYMBOL)): Unit

  /** FileContext asks this on every create and rename; only a symlink
    * needs Hadoop's `readlink`. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: FileContext's local filesystem over
  * [[NioRawLocalFileSystem]], without `.crc` sidecars like Hadoop's `RawLocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  /** Any local name is valid, as in `RawLocalFs`. */
  override def isValidName(src: String): Boolean = true
}
