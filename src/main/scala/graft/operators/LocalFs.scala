package graft.operators

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file://` filesystem [[graft.Engine.session]] installs: Hadoop's
  * checksummed `LocalFileSystem` (`.crc` sidecars written, verified on
  * read) over a raw FS that sets permissions in-process. Without the
  * Hadoop native library, `RawLocalFileSystem.setPermission` forks a
  * `chmod` for every file, `.crc` and directory it creates; here it
  * applies exactly the requested mode bits with NIO. A sticky-bit mode,
  * which NIO cannot express, keeps Hadoop's own path. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else {
        val rwx = Seq(permission.getUserAction, permission.getGroupAction,
          permission.getOtherAction).map(_.SYMBOL).mkString
        Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(rwx))
      }
  }
}
