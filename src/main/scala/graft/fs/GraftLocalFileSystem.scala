package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem over [[GraftRawLocalFileSystem]],
  * which sets file permissions in process instead of forking `chmod`.
  * Everything else is Hadoop's own: the `.crc` sidecars are still written
  * and checked, and the class is still a [[LocalFileSystem]], so
  * `FileSystem.getLocal` keeps working. [[graft.GraftSession.builder]]
  * installs it as `fs.file.impl`. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** Without native Hadoop, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process (and a thread to read its output) for every file
  * `create` makes and every directory `mkdirs` makes; a store write
  * creates a data file, its `.crc` and their directories, so a sync
  * round forked about 76 of them. A plain `rwxrwxrwx`-style permission is
  * set here through `Files.setPosixFilePermissions`, the same mode bits
  * `chmod` would set. A sticky bit, which NIO cannot express, or a
  * filesystem without POSIX attributes takes Hadoop's code. */
class GraftRawLocalFileSystem extends RawLocalFileSystem {

  /** `FileContext.rename` asks for the link status of its source and its
    * target, which Hadoop answers by forking `readlink` for each: a
    * stream's offset and commit logs rename on every trigger. A path that
    * NIO says is no symbolic link has the status `getFileStatus` reports,
    * which is what Hadoop returns for it too (a missing path throws
    * `FileNotFoundException` either way); a link takes Hadoop's code. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    // the masked mode as plain FsPermission text (`toString` of the
    // FsCreateModes that `create` and `mkdirs` pass is not rwx text); a
    // sticky bit shows as a final t or T and so takes Hadoop's code
    val rwx = new FsPermission(permission.toShort).toString
    if (!GraftRawLocalFileSystem.PlainRwx.matches(rwx))
      super.setPermission(p, permission)
    else
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }
}

object GraftRawLocalFileSystem {
  private val PlainRwx = "([r-][w-][x-]){3}".r
}

/** Hadoop's `LocalFs` (the `FileContext` side of `file:`) over
  * [[GraftRawLocalFileSystem]]: checksummed like `LocalFs`, so `.crc`
  * sidecars are still written and checked. Spark's streaming checkpoint
  * log opens its files through `FileContext`, which resolves `file:`
  * through `fs.AbstractFileSystem.file.impl`, not `fs.file.impl`;
  * without this class a stream run forked hundreds of `chmod` and
  * `readlink` processes from that log. [[graft.GraftSession.builder]]
  * installs it. Like `LocalFs`, it serves `file:///` whatever `uri`
  * Hadoop creates it for. */
class GraftLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new GraftRawLocalFs(conf))

/** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. Its
  * constructors are package-private, so its four overrides are repeated
  * here. */
private class GraftRawLocalFs(conf: Configuration)
  extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new GraftRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they accept: the OS decides
  override def isValidName(src: String): Boolean = true
}
