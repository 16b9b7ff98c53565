package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.util.EnumSet

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` filesystem every [[graft.GraftSession]] installs
  * (`spark.hadoop.fs.file.impl`): Hadoop's checksummed
  * `LocalFileSystem` (`.crc` files as before) over a raw filesystem
  * that sets permissions in-process.
  *
  * Without Hadoop's native library, `RawLocalFileSystem.setPermission`
  * forks `chmod` — and it runs on every file create and every `mkdir`:
  * each parquet part and its `.crc`, `_SUCCESS`, the `_temporary`
  * attempt directories, manifest temps, DV artifacts. The seven-
  * statement SQL cycle in `LocalFileSystemSpec` (CREATE … OPTIMIZE,
  * CHECKPOINT on a small partitioned table) forked 124 of them. Here
  * the nine permission bits go through
  * `Files.setPosixFilePermissions`, which has the effect of `chmod`
  * (follows symlinks, `IOException` on a missing path) without a
  * process. The sticky bit, which NIO cannot express, and file stores
  * without POSIX attributes take Hadoop's own path.
  *
  * Reads are untouched: `getFileStatus`/`listStatus` still load
  * permissions lazily, and no graft or Spark read path asks for them.
  * A session that sets `spark.hadoop.fs.file.impl` itself keeps its
  * own class. */
class GraftLocalFileSystem extends LocalFileSystem(new GraftLocalFileSystem.Raw)

object GraftLocalFileSystem {

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  /** The NIO permission set for the low nine bits of `mode`
    * (`PosixFilePermission` declares owner rwx, group rwx, others rwx:
    * bit 8 down to bit 0). */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = EnumSet.noneOf(classOf[PosixFilePermission])
    for ((perm, i) <- PosixFilePermission.values.zipWithIndex if (mode & (1 << (8 - i))) != 0)
      set.add(perm)
    set
  }
}
