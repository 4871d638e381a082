package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}

/** Hadoop's checksummed local filesystem (same `.crc` siblings, same
  * modes) whose `setPermission` runs in-process. Without libhadoop,
  * `RawLocalFileSystem.setPermission` forks a `chmod` for every file and
  * directory a write creates — over 180 forks for the sinks of one carve
  * of an 8 MiB image.
  *
  * Scoped to one write through [[options]]: `fs.file.impl` selects the
  * class, and `fs.file.impl.disable.cache` makes the write's FileSystem
  * lookups bypass an already-filled cache of the stock implementation.
  */
final class InProcessChmodFileSystem extends LocalFileSystem(new InProcessChmodFileSystem.Raw)

object InProcessChmodFileSystem {

  /** DataFrameWriter options routing a write's `file:` paths here. */
  val options: Map[String, String] = Map(
    "fs.file.impl" -> classOf[InProcessChmodFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort
      // PosixFilePermission's declaration order is rwx owner, group, others:
      // ordinal i is mode bit 8 - i
      val perms = PosixFilePermission.values.filter(x => (bits & (1 << (8 - x.ordinal))) != 0)
      try Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(perms: _*))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
