package graft.sinks

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, `.crc` files and all, over
  * [[ForkFreeRawLocalFileSystem]]. Hadoop instantiates it by class name
  * (`fs.file.impl`), hence the no-arg constructor.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The `FileContext` side of [[ForkFreeLocalFileSystem]]: Hadoop's
  * `LocalFs` (checksummed, `.crc` files and all) over
  * [[ForkFreeRawLocalFileSystem]]. Hadoop instantiates it by class name
  * (`fs.AbstractFileSystem.file.impl`) with this constructor; like
  * `LocalFs`, it ignores the URI and serves `file:///`. Spark's
  * streaming checkpoints are written through it.
  */
final class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(conf))

/** Hadoop's `RawLocalFs`, its three overrides included, delegating to
  * [[ForkFreeRawLocalFileSystem]] instead of the stock raw file system.
  */
private final class ForkFreeRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new ForkFreeRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  @deprecated("as in Hadoop's RawLocalFs", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** Hadoop's local file system with a `setPermission` and a
  * `getFileLinkStatus` that never start a process. Without Hadoop's
  * native library, the stock one runs `chmod` as a child process, and
  * Hadoop calls it for every file it creates, for the file's `.crc` and
  * for every directory: about 7 ms each. This one makes the same `chmod`
  * system call through java.nio. It sets the mode through the
  * `unix:mode` attribute rather than `PosixFilePermission`s, which cannot
  * carry the sticky bit, and it keeps a directory's setuid and setgid
  * bits, as `chmod` given an octal mode does.
  *
  * The stock `getFileLinkStatus` runs `readlink` for every path, and
  * `FileContext.rename` calls it for both ends. This one asks java.nio
  * first and leaves only a real symbolic link to the stock method.
  */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    try {
      val old = Files.getAttribute(file, "unix:mode").asInstanceOf[Int]
      val kept = if ((old & FileType) == Directory) old & SetIds else 0
      Files.setAttribute(file, "unix:mode", Int.box(permission.toShort & Mode | kept))
    } catch {
      case _: NoSuchFileException => throw new FileNotFoundException(s"File $p does not exist")
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }
}

private object ForkFreeRawLocalFileSystem {
  val Mode = 0x3ff // 01777: sticky bit, then read, write, execute for user, group, others
  val SetIds = 0xc00 // 06000: setuid and setgid
  val FileType = 0xf000 // S_IFMT
  val Directory = 0x4000 // S_IFDIR
}
