package graft.pipeline

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system with in-process permission setting.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks a `chmod`
  * process, and Hadoop calls it for every directory it creates
  * (`mkOneDirWithMode`) and every file it creates without append (the
  * `LocalFSFileOutputStream` constructor) — about three processes per
  * written part file once its `.crc` and directory are counted. Both call
  * sites pass a permission the umask has already been applied to, so the
  * nine rwx bits are set as given through NIO. A sticky bit, or a file
  * store without POSIX attributes, falls back to Hadoop's `chmod`. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, perm: FsPermission): Unit =
    if (perm.getStickyBit) super.setPermission(p, perm)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFs.posix(perm.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }
}

/** The checksummed local file system (`.crc` files written and verified,
  * as with Hadoop's default `file:` scheme) over [[NioRawLocalFileSystem]]. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

object LocalFs {

  /** Options every program write passes (`.options(LocalFs.writeOptions)`):
    * Spark merges write options into the write job's Hadoop conf, which
    * reaches the driver-side committer, the task writers and the stats
    * tracker, so `file:` output is created through [[NioLocalFileSystem]].
    * The cache is disabled because Hadoop caches file systems by scheme,
    * authority and user — otherwise the write would get the session's
    * cached default instance. Only `file:` paths are affected; reads keep
    * the default file system and read the same bytes. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  private val bits = PosixFilePermission.values() // owner rwx, group rwx, others rwx

  /** The low nine bits of a Unix mode as a NIO permission set. */
  private[pipeline] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- bits.indices if (mode & (1 << (8 - i))) != 0) set.add(bits(i))
    set
  }
}
