package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Zip
import graft.sources.ZipShardSource

/** Path-level ZIP shard source: random-access EOCD/CD walk off disk,
  * byte-parity with the column operator (one shared state machine),
  * ZIP64 through the seek path, and fail-loud malformed archives.
  */
class ZipShardSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def df(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toDF("id", "content")
  }

  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    dir = Fixtures.scratchDir("zip-shard-src")
  }

  private def write(name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  test("byte-parity with the column operator off disk: stored + " +
      "deflate members, trailing comments, classic AND ZIP64 shapes " +
      "in one glob") {
    val mk = (seed: Int, z64: Boolean) => Zip.buildZip(
      (0 until 4).map { k =>
        (s"a/${seed}_$k.bin",
          Array.tabulate(300 + k)(i => ((i * seed + k) % 251).toByte),
          k % 2 == 1)
      }, comment = if (seed % 2 == 1) s"c$seed" else "", zip64 = z64)
    val classic = mk(1, false)
    val z64 = mk(2, true)
    write("one.zip", classic)
    write("two.zip", z64)
    val streamed = ZipShardSource
      .members(spark, dir.toString + "/*.zip")
      .collect()
      .map(m => (m.shard_path.split('/').last, m.entry_index, m.path,
        m.bytes.toSeq, m.size))
      .sortBy(t => (t._1, t._2))
    val column = Zip.zipEntries(df(1L -> classic, 2L -> z64), "id",
        "content").collect()
      .map(r => (if (r.getAs[Long]("id") == 1L) "one.zip"
        else "two.zip",
        r.getAs[Long]("entry_index"), r.getAs[String]("path"),
        r.getAs[Array[Byte]]("bytes").toSeq, r.getAs[Long]("size")))
      .sortBy(t => (t._1, t._2))
    assert(streamed.length === 8)
    assert(streamed.toSeq === column.toSeq)
  }

  test("malformed archives fail LOUDLY: flipped member byte (CRC), " +
      "truncated file, and an over-cap central directory all raise " +
      "through the job") {
    val good = Zip.buildZip(Seq(
      ("m/1.txt", "member-one".getBytes("UTF-8"), true),
      ("m/2.txt", "member-two".getBytes("UTF-8"), false)))
    val bad = good.clone()
    // flip a byte inside the FIRST member's data (after its 30+8
    // local header)
    bad(38) = (bad(38) ^ 0x55).toByte
    write("bad_crc.zip", bad)
    val e1 = intercept[org.apache.spark.SparkException] {
      ZipShardSource.members(spark,
        dir.resolve("bad_crc.zip").toString).count()
    }
    assert(e1.getCause
      .isInstanceOf[graft.operators.MalformedShardException])
    write("truncated.zip", good.take(good.length - 7))
    val e2 = intercept[org.apache.spark.SparkException] {
      ZipShardSource.members(spark,
        dir.resolve("truncated.zip").toString).count()
    }
    assert(e2.getCause
      .isInstanceOf[graft.operators.MalformedShardException])
    write("good.zip", good)
    val e3 = intercept[org.apache.spark.SparkException] {
      ZipShardSource.members(spark,
        dir.resolve("good.zip").toString, maxCdBytes = 16).count()
    }
    assert(e3.getCause.getMessage.contains("central directory"))
    // and the honest read still works
    assert(ZipShardSource.members(spark,
      dir.resolve("good.zip").toString).count() === 2L)
  }

  test("an archive far over any column-payload comfort zone walks " +
      "off disk with CD + one member resident") {
    // 256 members x 64 KiB stored = ~16 MiB archive; member cap 1 MiB
    val members = (0 until 256).map { k =>
      (s"big/$k.bin",
        Array.tabulate(64 * 1024)(i => ((i * 31 + k) % 256).toByte),
        false)
    }
    write("big.zip", Zip.buildZip(members))
    val rows = ZipShardSource.members(spark,
        dir.resolve("big.zip").toString, maxEntryBytes = 1 << 20)
      .collect().sortBy(_.entry_index)
    assert(rows.length === 256)
    assert(rows.map(_.size).sum === 256L * 64 * 1024)
    rows.zipWithIndex.foreach { case (m, k) =>
      assert(m.path === s"big/$k.bin")
      assert(m.bytes(999) === ((999 * 31 + k) % 256).toByte)
    }
  }
}
