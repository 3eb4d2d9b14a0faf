package graft

import graft.pipeline.NioLocalFileSystem
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermission

/** The table writer's local FileSystem: in-process modes equal to Hadoop's
  * forked `chmod`, checksummed like Hadoop's LocalFileSystem, and reached
  * only through the writer options.
  */
class NioLocalFileSystemSpec extends AnyFunSuite with TempDirs {
  private val conf = new Configuration()
  private def initialized[F <: RawLocalFileSystem](fs: F): F = {
    fs.initialize(URI.create("file:///"), conf); fs
  }
  private lazy val nio = initialized(new NioLocalFileSystem.Raw)
  private lazy val hadoop = initialized(new RawLocalFileSystem)

  private def octal(mode: String) = new FsPermission(Integer.parseInt(mode, 8).toShort)
  private def unixMode(p: Path) = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff
  private def hpath(p: Path) = new HPath(p.toUri)
  private def fresh(p: Path, dir: Boolean): Path = {
    if (dir) Files.createDirectory(p) else Files.createFile(p)
    Files.setPosixFilePermissions(p, java.util.EnumSet.noneOf(classOf[PosixFilePermission]))
    p
  }

  test("setPermission: the rwx modes Hadoop's RawLocalFileSystem sets on a sibling path") {
    val root = tempDir("graft-niofs")
    for (mode <- Seq("644", "755", "600", "700"); dir <- Seq(false, true)) {
      val kind = if (dir) "dir" else "file"
      val mine = fresh(root.resolve(s"nio-$kind-$mode"), dir)
      val theirs = fresh(root.resolve(s"hadoop-$kind-$mode"), dir)
      nio.setPermission(hpath(mine), octal(mode))
      hadoop.setPermission(hpath(theirs), octal(mode))
      assert(Files.getPosixFilePermissions(mine) == Files.getPosixFilePermissions(theirs),
        s"$kind $mode")
      assert(unixMode(mine) == Integer.parseInt(mode, 8), s"$kind $mode")
    }
    // nio cannot set the sticky bit: it being set shows Hadoop's method ran
    val sticky = fresh(root.resolve("nio-dir-1755"), dir = true)
    nio.setPermission(hpath(sticky), octal("1755"))
    assert(unixMode(sticky) == Integer.parseInt("1755", 8))
  }

  test("writer options: a checksummed FS of this class, bypassing the cache") {
    val withOpts = new Configuration(conf)
    NioLocalFileSystem.WriterOptions.foreach { case (k, v) => withOpts.set(k, v) }
    val root = tempDir("graft-niofs-rw")
    val file = hpath(root.resolve("f.bin"))
    val fs = file.getFileSystem(withOpts)
    assert(fs.isInstanceOf[NioLocalFileSystem])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NioLocalFileSystem.Raw])
    // without the options: the registered `file:` FS (Hive's subclass of
    // LocalFileSystem on this classpath), cached and shared
    assert(!file.getFileSystem(conf).isInstanceOf[NioLocalFileSystem])
    assert(file.getFileSystem(conf) eq file.getFileSystem(conf))
    assert(file.getFileSystem(withOpts) ne fs, "options bypass the cache")
    val out = fs.create(file)
    out.write(Array.fill[Byte](64)(7))
    out.close()
    val crc = root.resolve(".f.bin.crc")
    assert(Files.exists(crc))
    assert(Files.getPosixFilePermissions(root.resolve("f.bin")) ==
      Files.getPosixFilePermissions(crc))
    // the sidecar is checked on read
    Files.write(root.resolve("f.bin"), Array.fill[Byte](64)(8))
    intercept[ChecksumException] {
      val in = fs.open(file)
      try in.readFully(new Array[Byte](64)) finally in.close()
    }
  }
}
