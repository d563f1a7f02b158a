package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: stock [[LocalFileSystem]] (umask,
  * `create`/`mkdirs` semantics, `.crc` checksum layer) over a raw local
  * filesystem whose `setPermission` is one `chmod` syscall through NIO.
  *
  * Without the native Hadoop library, stock `RawLocalFileSystem`
  * forks a `chmod` process for every file it creates and every
  * directory it makes (parquet part files, their `.crc` sidecars,
  * committer directories, mirror files). Bound as `fs.file.impl` by
  * [[graft.GraftSession.builder]].
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** Raw local filesystem that applies the 9 rwx bits with
    * `Files.setPosixFilePermissions`; modes beyond 0777 (the sticky
    * bit) keep Hadoop's own path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      if ((permission.toShort & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(permission.toString)) // "rwxr-x---"
    }
  }
}
