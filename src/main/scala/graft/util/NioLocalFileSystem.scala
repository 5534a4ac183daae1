package graft.util

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `LocalFileSystem` (`.crc` sidecars written and
  * verified as before) over a raw file system that sets permissions in
  * process. Without libhadoop, `RawLocalFileSystem.setPermission` execs
  * `chmod`, and it runs for every created file and directory: several
  * forks per checkpoint file, on every micro-batch. `Main.sessionConf`
  * installs it as `fs.file.impl`. */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {
  class Raw extends RawLocalFileSystem {
    /** The mode bits `chmod` would set. A sticky bit, which NIO cannot
      * set, still takes the stock exec path. */
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else {
        // values() runs OWNER_READ .. OTHERS_EXECUTE, i.e. mode bit 8 down to 0
        val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
        PosixFilePermission.values().zipWithIndex.foreach { case (perm, i) =>
          if ((mode & (0x100 >> i)) != 0) perms.add(perm)
        }
        Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
      }
    }
  }
}
