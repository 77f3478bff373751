package graft

import java.net.URI
import java.nio.file.{Files, Path => JPath}
import java.util.EnumSet
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.Options.CreateOpts
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{NoForkLocalFileSystem, NoForkLocalFs, NoForkRawLocalFileSystem}

/** The session's `file://` binding: both Hadoop APIs resolve to the
  * fork-free local file system, and it writes the mode bits the stock one
  * would.
  */
class LocalFsSpec extends AnyFunSuite with SparkFixture {

  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(URI.create("file:///"), conf)
  private def fc = FileContext.getLocalFSFileContext(conf)

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** (API, create a file, make a directory), each with an explicit mode. */
  private def apis: Seq[(String, (Path, FsPermission) => Unit, (Path, FsPermission) => Unit)] = Seq(
    ("FileSystem",
      (p, perm) => fs.create(p, perm, false, 4096, 1.toShort, fs.getDefaultBlockSize(p), null).close(),
      (p, perm) => assert(fs.mkdirs(p, perm))),
    ("FileContext",
      (p, perm) => fc.create(p, EnumSet.of(CreateFlag.CREATE), CreateOpts.perms(perm)).close(),
      (p, perm) => fc.mkdir(p, perm, false)))

  test("file:// resolves to the no-fork classes through FileSystem and FileContext") {
    // FileSystem.get serves from a JVM-wide cache keyed by scheme, not by
    // conf: a stock LocalFileSystem cached before the session would win
    // over fs.file.impl, and every Spark write would fork again
    assert(fs.isInstanceOf[NoForkLocalFileSystem], fs.getClass)
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[NoForkRawLocalFileSystem])
    assert(fc.getDefaultFileSystem.isInstanceOf[NoForkLocalFs], fc.getDefaultFileSystem.getClass)
  }

  test("files and directories carry exactly the requested POSIX bits (0640 / 0750)") {
    val root = Files.createTempDirectory("localfs")
    for ((api, create, mkdir) <- apis) {
      val file = root.resolve(s"$api.file")
      val dir = root.resolve(s"$api.dir")
      create(new Path(file.toUri), new FsPermission(Integer.parseInt("640", 8).toShort))
      mkdir(new Path(dir.toUri), new FsPermission(Integer.parseInt("750", 8).toShort))
      assert(mode(file) === Integer.parseInt("640", 8), s"$api file")
      assert(mode(dir) === Integer.parseInt("750", 8), s"$api dir")
    }
  }

  test("a sticky bit falls back to the stock path (NIO cannot set it)") {
    // create/mkdir apply the umask, which drops the sticky bit, so only an
    // explicit setPermission reaches the fallback
    val root = Files.createTempDirectory("localfs_sticky")
    val sticky = new FsPermission(Integer.parseInt("1750", 8).toShort)
    val setters = Seq[(String, (Path, FsPermission) => Unit)](
      "FileSystem" -> fs.setPermission, "FileContext" -> fc.setPermission)
    for ((api, setPermission) <- setters) {
      val dir = Files.createDirectory(root.resolve(s"$api.dir"))
      setPermission(new Path(dir.toUri), sticky)
      assert(mode(dir) === sticky.toShort.toInt, s"$api dir")
    }
  }

  test("posixBits maps every rwx mode to the same permission set as its octal string") {
    (0 until 512).foreach { m =>
      val expected = java.nio.file.attribute.PosixFilePermissions.fromString(
        "rwxrwxrwx".zipWithIndex.map { case (c, i) => if ((m & (0x100 >> i)) != 0) c else '-' }.mkString)
      assert(NoForkRawLocalFileSystem.posixBits(m) === expected, f"mode $m%o")
    }
  }
}
