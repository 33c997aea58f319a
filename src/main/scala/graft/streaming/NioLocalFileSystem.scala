package graft.streaming

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local filesystem with permissions set through
  * `java.nio`. Without `libhadoop`, Hadoop's own local filesystem forks a
  * `chmod` for every file, `.crc` sidecar and directory it creates; this
  * one forks nothing and otherwise behaves the same: the same `.crc`
  * sidecars, checked on read, and the same permission bits.
  *
  * Hadoop constructs it by reflection from `fs.file.impl`, so it keeps a
  * public no-argument constructor. [[LocalCheckpointFileManager]] commits
  * checkpoints through one shared instance, and
  * [[MicroBatch.overwriteBatch]] names it in its writer options.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.NioRawLocalFileSystem)

object NioLocalFileSystem {

  /** Hadoop's raw local filesystem with `setPermission` through `java.nio`
    * instead of a forked `chmod`. File creation and `mkdirs` both set
    * permissions through it. */
  private final class NioRawLocalFileSystem extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      // PosixFilePermission's declaration order is owner rwx, group rwx,
      // others rwx: ordinal i is mode bit 8 - i.
      val perms = PosixFilePermission.values.filter(x => (bits & (1 << (8 - x.ordinal))) != 0)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms.toSet.asJava)
    }
  }
}
