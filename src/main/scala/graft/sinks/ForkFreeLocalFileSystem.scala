package graft.sinks

import java.io.FileNotFoundException
import java.nio.file.{Files, NoSuchFileException}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed local file system, `.crc` files and all, over
  * [[ForkFreeRawLocalFileSystem]]. Hadoop instantiates it by class name
  * (`fs.file.impl`), hence the no-arg constructor.
  */
final class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** Hadoop's local file system with a `setPermission` that never starts a
  * process. Without Hadoop's native library, the stock one runs `chmod`
  * as a child process, and Hadoop calls it for every file it creates, for
  * the file's `.crc` and for every directory: about 7 ms each. This one
  * makes the same `chmod` system call through java.nio. It sets the mode
  * through the `unix:mode` attribute rather than `PosixFilePermission`s,
  * which cannot carry the sticky bit, and it keeps a directory's setuid
  * and setgid bits, as `chmod` given an octal mode does.
  */
final class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  import ForkFreeRawLocalFileSystem._

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
