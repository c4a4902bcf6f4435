package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{LocalFileSystem, Path => HPath, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sinks.{ForkFreeLocalFileSystem, ForkFreeRawLocalFileSystem, Warehouse}

/** The local file system the warehouse writes through: the same
  * permissions as Hadoop's own, set without a `chmod` process.
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
