package graft

import java.io.ByteArrayInputStream
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.service.StorageService

/** K11 file-upload util: folder layout and streamed upload. */
class StorageServiceSpec extends AnyFunSuite {

  private val conf = new org.apache.hadoop.conf.Configuration()

  test("getFolderPath is yyyy/M/projectGroupId/recordId, month unpadded") {
    val svc = new StorageService(conf, "/tmp/unused")
    assert(svc.getFolderPath("pg1", "rec9", LocalDate.of(2026, 3, 7)) ==
      "2026/3/pg1/rec9")
    assert(svc.getFolderPath("pg1", "rec9", LocalDate.of(2026, 11, 30)) ==
      "2026/11/pg1/rec9")
  }

  test("uploadFile streams into container and returns the remote url") {
    val root = Fixtures.scratchDir("graft-store").toString
    val svc = new StorageService(conf, root)
    val path = svc.getFolderPath("pg", "r1", LocalDate.of(2026, 8, 12)) + "/data.zip"
    val url = svc.uploadFile(path, body = new ByteArrayInputStream(
      "payload-bytes".getBytes("UTF-8")))
    assert(url.endsWith(s"osw/2026/8/pg/r1/data.zip"))
    val written = Paths.get(root, "osw", "2026", "8", "pg", "r1", "data.zip")
    assert(new String(Files.readAllBytes(written), "UTF-8") == "payload-bytes")
  }
}
