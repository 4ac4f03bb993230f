package graft.fs

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
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
