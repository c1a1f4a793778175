package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem with `chmod` done in-process.
  *
  * Without the native `libhadoop`, Hadoop's `RawLocalFileSystem.setPermission`
  * forks a `chmod` process, and every file and directory a write creates
  * gets one: a parquet file and its `.crc` sidecar are `chmod 0644` each,
  * every partition and staging directory `chmod 0755`. A partitioned write
  * of a few hundred files pays a few hundred `fork+exec+wait` round trips,
  * most of them on executor task threads. [[InProcessLocalFileSystem.Raw]]
  * applies the same rwx bits with `Files.setPosixFilePermissions` instead;
  * a mode it cannot express (sticky bit) takes the stock path. Everything
  * else — checksums (the [[LocalFileSystem]] wrapper keeps the `.crc`
  * files), rename, listing — is Hadoop's own code.
  *
  * [[graft.PlatformProvider]] registers it for the `file:` scheme through
  * `spark.hadoop.fs.file.impl`. Hadoop caches one `FileSystem` per scheme
  * and user for the whole JVM, so the setting only takes if the session's
  * Hadoop conf is the first to open `file:`.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessLocalFileSystem.Raw)

object InProcessLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** `PosixFilePermission` lists owner, group, others, each r-w-x: the
    * order of the mode's bits from 0400 down to 0001.
    */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(perm)
    }
    set
  }
}
