package graft.pipeline

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The local FileSystem table writes go through: Hadoop's checksummed
  * [[LocalFileSystem]] (`.crc` sidecars written, and verified on read)
  * over a raw FS that sets a file's or dir's mode with java.nio.
  *
  * Without libhadoop, `RawLocalFileSystem.setPermission` forks `chmod`
  * for every file and dir a write creates: 3 per written bucket (the
  * `bucket=<i>` dir, the data file and its `.crc`). Here the
  * nine rwx bits are set in-process, to the same mode. Any other bit
  * (sticky) takes Hadoop's own path. Where NativeIO is loaded, Hadoop
  * already chmods in-process, and this changes nothing but the call.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioLocalFileSystem.Raw)

object NioLocalFileSystem {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
    }
  }

  /** The rwx bits of `mode` (0777 mask) as nio permissions. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // enum order is OWNER_READ … OTHERS_EXECUTE: bit 8 down to bit 0
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) perms.add(perm)
    }
    perms
  }

  /** Hadoop conf entries that put a write's `file:` paths on this FS.
    * TableIO's table writer adds them to the session's Hadoop conf for
    * the conf its files are written under; the cache bypass is required,
    * because Hadoop caches a FileSystem by scheme, authority and user,
    * never by conf, and would hand back the session's cached
    * LocalFileSystem. Reads, the session conf and other schemes are
    * untouched.
    */
  val WriterOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}
