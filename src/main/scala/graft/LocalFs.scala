package graft

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** graft's `file:` filesystem: Hadoop's checksummed [[LocalFileSystem]]
  * (every file keeps its `.crc` sibling) over [[LocalFs.Raw]].
  *
  * Without Hadoop's native library, stock `RawLocalFileSystem` sets
  * permissions by forking a `chmod` process, and it does so on every
  * file create and every `mkdirs`: each parquet file, `.crc` and
  * directory an ETL sink writes and each file a streaming checkpoint
  * commits. [[Engine.session]] registers this class as `fs.file.impl`,
  * so those calls set the same mode bits in-process instead.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** `RawLocalFileSystem` whose `setPermission` goes through NIO. The
    * sticky bit has no NIO name, so a mode that sets it takes the stock
    * path. The rwx triples are read per action, not from `toString`: a
    * subclass such as `FsCreateModes` prints both its masked and
    * unmasked modes. */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit =
      if (permission.getStickyBit) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath,
        PosixFilePermissions.fromString(Seq(permission.getUserAction,
          permission.getGroupAction, permission.getOtherAction)
          .map(_.SYMBOL).mkString))
  }
}
