package graft.sources

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local (`file://`) file system without a process spawn per create.
  *
  * Without the native-hadoop library, Hadoop's stock
  * `RawLocalFileSystem.setPermission` runs `chmod` through
  * `Shell.execCommand` — and it is called for EVERY file the engine
  * creates (each parquet part file and its `.crc`) and every directory it
  * makes (`mkOneDirWithMode`): a date-partitioned write of 365 dates
  * forks over a thousand `chmod`s, most of the write's wall. This class
  * sets the same mode bits (`FsPermission.toShort`) through
  * `Files.setPosixFilePermissions`, in-process. The nine rwx bits are all
  * NIO can express: a sticky bit, or a store without a POSIX view, takes
  * the stock path.
  *
  * [[graft.GraftSession]] binds `fs.file.impl` to
  * [[NoForkLocalFileSystem]] (the `FileSystem` API: parquet/json writers,
  * listings) and
  * `fs.AbstractFileSystem.file.impl` to [[NoForkLocalFs]] (the
  * `FileContext` API: streaming checkpoints and state-store files). Bytes,
  * modes and layout are what the stock classes write.
  */
class NoForkRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (!NoForkRawLocalFileSystem.posix || permission.getStickyBit)
      super.setPermission(p, permission)
    else
      Files.setPosixFilePermissions(pathToFile(p).toPath,
        NoForkRawLocalFileSystem.posixBits(permission.toShort))
}

object NoForkRawLocalFileSystem {
  private val posix = FileSystems.getDefault.supportedFileAttributeViews.contains("posix")

  // PosixFilePermission declares OWNER_READ … OTHERS_EXECUTE in the order
  // of the mode bits 0400 … 0001
  private[graft] def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val bits = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((mode & (0x100 >> i)) != 0) bits.add(perm)
    }
    bits
  }
}

/** `fs.file.impl`: the checksummed local file system over
  * [[NoForkRawLocalFileSystem]] (the stock `LocalFileSystem` shape).
  */
class NoForkLocalFileSystem extends LocalFileSystem(new NoForkRawLocalFileSystem)

/** The `FileContext` twin of the raw class, shaped like Hadoop's
  * `org.apache.hadoop.fs.local.RawLocalFs` (whose constructors are
  * package-private).
  */
class NoForkRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NoForkRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort(): Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults()
  // local file systems validate names themselves
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: checksummed, as the stock
  * `org.apache.hadoop.fs.local.LocalFs` is.
  */
class NoForkLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NoForkRawLocalFs(uri, conf))
