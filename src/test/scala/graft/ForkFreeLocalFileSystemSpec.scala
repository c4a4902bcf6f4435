package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.EnumSet

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, LocalFileSystem, Options, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalFs
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeLocalFs, ForkFreeRawLocalFileSystem, Warehouse}

/** The local file system the warehouse and the streaming checkpoints
  * write through: the same permissions, `.crc` files, renames and link
  * statuses as Hadoop's own, without a `chmod` or `readlink` process.
  */
class ForkFreeLocalFileSystemSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def initialized(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private val stock = initialized(new RawLocalFileSystem)
  private val forkFree = initialized(new ForkFreeRawLocalFileSystem)

  private def mode(p: Path): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int]

  /** A `FileContext` whose `file:` is `impl`, reached as Spark reaches a checkpoint's. */
  private def fileContext(impl: Class[_]): FileContext = {
    val conf = new Configuration()
    conf.set("fs.AbstractFileSystem.file.impl", impl.getName)
    val fc = FileContext.getFileContext(URI.create("file:///"), conf)
    assert(fc.getDefaultFileSystem.getClass == impl)
    fc
  }

  private val contexts = Seq(classOf[LocalFs], classOf[ForkFreeLocalFs]).map(fileContext)

  /** Run `steps` once per file context, each in its own directory, and
    * require both to leave the same outcome.
    */
  private def sameThroughBoth[A](name: String)(steps: (FileContext, Path) => A): A =
    Fixtures.withScratch(name) { dir =>
      val outcomes = contexts.zipWithIndex.map { case (fc, i) =>
        steps(fc, Files.createDirectory(dir.resolve(s"fc$i")))
      }
      assert(outcomes(0) == outcomes(1))
      outcomes(1)
    }

  private def write(fc: FileContext, p: Path, text: String, perm: Int = 0x1a4): Unit = {
    val out = fc.create(new HPath(p.toUri), EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
      Options.CreateOpts.perms(new FsPermission(perm.toShort)))
    try out.write(text.getBytes(UTF_8)) finally out.close()
  }

  private def read(fc: FileContext, p: Path): String = {
    val in = fc.open(new HPath(p.toUri))
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def crc(p: Path): Path = p.resolveSibling(s".${p.getFileName}.crc")

  test("setPermission leaves what Hadoop's stock chmod process leaves, on files and directories") {
    Fixtures.withScratch("fork-free-perm") { dir =>
      val modes = Seq("644", "600", "755", "700", "444", "1777")
      for (m <- modes; isDir <- Seq(false, true); setgid <- Seq(false, true)) {
        val left = Seq(stock, forkFree).map { fs =>
          val p = dir.resolve(s"${fs.getClass.getSimpleName}-$m-$isDir-$setgid")
          if (isDir) Files.createDirectory(p) else Files.createFile(p)
          // chmod given an octal mode keeps a directory's setgid bit
          if (setgid) Files.setAttribute(p, "unix:mode", Int.box(mode(p) | 0x400))
          fs.setPermission(new HPath(p.toUri), new FsPermission(Integer.parseInt(m, 8).toShort))
          (Files.getPosixFilePermissions(p), mode(p))
        }
        assert(left(0) == left(1), s"mode $m, directory $isDir, setgid $setgid")
      }
    }
  }

  test("setPermission of a missing path is a FileNotFoundException") {
    Fixtures.withScratch("fork-free-missing") { dir =>
      intercept[FileNotFoundException] {
        forkFree.setPermission(new HPath(dir.resolve("gone").toUri), new FsPermission(0x1a4.toShort))
      }
    }
  }

  test("FileContext create and mkdir leave the modes and .crc files of Hadoop's LocalFs") {
    val left = sameThroughBoth("fork-free-fc-create") { (fc, dir) =>
      val files = Seq(0x1a4, 0x180).map { perm => // 644, 600
        val p = dir.resolve(Integer.toOctalString(perm))
        write(fc, p, "x" * 1000, perm)
        (mode(p), Files.exists(crc(p)), read(fc, p).length)
      }
      val d = dir.resolve("d/e")
      fc.mkdir(new HPath(d.toUri), new FsPermission(0x1ed.toShort), true) // 755
      (files, mode(d), mode(d.getParent))
    }
    assert(left._1 == Seq((0x81a4, true, 1000), (0x8180, true, 1000)) && left._2 == 0x41ed, left)
  }

  test("FileContext rename refuses or overwrites an existing file as Hadoop's LocalFs does") {
    val left = sameThroughBoth("fork-free-fc-rename") { (fc, dir) =>
      val (a, b) = (dir.resolve("a"), dir.resolve("b"))
      write(fc, a, "new")
      write(fc, b, "old")
      val refused = Try(fc.rename(new HPath(a.toUri), new HPath(b.toUri), Options.Rename.NONE))
        .failed.toOption.map(_.getClass)
      assert(refused.isDefined)
      val kept = (read(fc, a), read(fc, b))
      fc.rename(new HPath(a.toUri), new HPath(b.toUri), Options.Rename.OVERWRITE)
      (refused, kept, Files.exists(a), Files.exists(crc(a)), read(fc, b), Files.exists(crc(b)))
    }
    val (_, kept, aLeft, aCrcLeft, bText, bCrc) = left
    assert(kept == ("new", "old") && !aLeft && !aCrcLeft && bText == "new" && bCrc, left)
  }

  test("getFileLinkStatus answers as the stock one for files, directories, missing paths and links") {
    Fixtures.withScratch("fork-free-link") { dir =>
      val file = Files.writeString(dir.resolve("file"), "abc")
      val sub = Files.createDirectory(dir.resolve("sub"))
      val link = Files.createSymbolicLink(dir.resolve("link"), file)
      for (p <- Seq(file, sub, dir.resolve("missing"), link);
           hp <- Seq(new HPath(p.toString), new HPath(p.toUri))) {
        val answers = Seq(stock, forkFree).map { fs =>
          Try(fs.getFileLinkStatus(hp)).map { st =>
            (st.getPath, st.isFile, st.isDirectory, st.isSymlink,
              if (st.isSymlink) Some(st.getSymlink) else None, st.getLen)
          }.toEither.left.map(_.getClass)
        }
        assert(answers(0) == answers(1), hp)
        if (p.endsWith("missing")) assert(answers(1) == Left(classOf[FileNotFoundException]))
      }
      assert(forkFree.getFileLinkStatus(new HPath(link.toString)).isSymlink)
    }
  }

  test("the warehouse resolves file: paths to the fork-free file system, the session does not") {
    val wh = new Warehouse(spark, Fixtures.scratchDir("graft-wh").toString)
    val root = new HPath(wh.root)
    // first the session's, which Hadoop's file system cache then holds
    val session = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(session.isInstanceOf[LocalFileSystem] && !session.isInstanceOf[ForkFreeLocalFileSystem])
    root.getFileSystem(wh.hconf) match {
      case fs: ForkFreeLocalFileSystem => assert(fs.getRaw.isInstanceOf[ForkFreeRawLocalFileSystem])
      case other => fail(s"file: resolves to ${other.getClass}")
    }
  }
}
