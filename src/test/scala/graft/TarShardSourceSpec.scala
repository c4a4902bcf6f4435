package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Tar
import graft.sources.TarShardSource

/** Path-level streaming tar shard source: byte-parity with the column
  * operator (one shared state machine), gzip dispatch by magic,
  * constant-memory shards BIGGER than the column path's cap,
  * fail-loud malformed shards, and WebDataset splitting with
  * long-path extension records through the stream.
  */
class TarShardSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

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
    dir = Fixtures.scratchDir("tar-shard-src")
  }

  private def write(name: String, bytes: Array[Byte]): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  test("byte-parity with the column operator: identical members, " +
      "order, and bytes off disk — plain and gzipped shards mixed " +
      "in one glob, dispatched by magic not extension") {
    val mk = (seed: Int) => Tar.buildTar(Seq(
      s"s/${seed}_0.png" -> Array.tabulate(700)(i =>
        ((i * seed + 3) % 251).toByte),
      s"s/${seed}_0.txt" -> s"caption $seed".getBytes("UTF-8"),
      s"s/${seed}_1.bin" -> Array.tabulate(13)(i => (i + seed).toByte)))
    val plain = mk(1)
    val gz = Tar.gzipBytes(mk(2))
    write("a.tar", plain)
    write("b.tar.gz", gz)
    val streamed = TarShardSource
      .members(spark, dir.toString + "/*.tar*")
      .collect()
      .map(m => (m.shard_path.split('/').last, m.entry_index, m.path,
        m.bytes.toSeq, m.size))
      .sortBy(t => (t._1, t._2))
    val column = Tar.tarEntries(df(1L -> plain, 2L -> gz), "id",
        "content").collect()
      .map(r => (if (r.getAs[Long]("id") == 1L) "a.tar" else "b.tar.gz",
        r.getAs[Long]("entry_index"), r.getAs[String]("path"),
        r.getAs[Array[Byte]]("bytes").toSeq, r.getAs[Long]("size")))
      .sortBy(t => (t._1, t._2))
    assert(streamed.length === 6)
    assert(streamed.toSeq === column.toSeq)
  }

  test("a shard over the column operator's byte cap streams fine — " +
      "residency is one member, not the shard") {
    // 64 members x 100 KiB = ~6.4 MiB shard; column cap set to 1 MiB
    val members = (0 until 64).map { k =>
      (s"big/${k}.bin",
        Array.tabulate(100 * 1024)(i => ((i * 31 + k) % 256).toByte))
    }
    val shard = Tar.buildTar(members)
    assert(shard.length > (1 << 20))
    val gz = Tar.gzipBytes(shard)
    write("big.tar.gz", gz)
    // the column operator must MATERIALIZE the inflated shard, so its
    // cap refuses the whole thing...
    assert(Tar.tarEntries(df(1L -> gz), "id", "content",
      maxEntryBytes = 1 << 20, maxShardBytes = 1 << 20).count() === 0L)
    // ...the streaming source inflates THROUGH the stream: only the
    // member-level cap exists, and 100 KiB members clear it
    val rows = TarShardSource.members(spark,
        dir.resolve("big.tar.gz").toString, maxEntryBytes = 1 << 20)
      .collect().sortBy(_.entry_index)
    assert(rows.length === 64)
    assert(rows.map(_.size).sum === 64L * 100 * 1024)
    rows.zipWithIndex.foreach { case (m, k) =>
      assert(m.path === s"big/${k}.bin")
      assert(m.bytes(17) === ((17 * 31 + k) % 256).toByte)
    }
  }

  test("malformed shards fail LOUDLY (a streamed walk cannot " +
      "un-emit): flipped checksum, truncation, and a dotless " +
      "WebDataset member all raise through the job") {
    val good = Tar.buildTar(Seq("m/1.txt" -> "ok".getBytes("UTF-8")))
    val badCksum = good.clone(); badCksum(0) = 'q'.toByte
    write("bad_cksum.tar", badCksum)
    write("truncated.tar", good.take(good.length - 512))
    val e1 = intercept[org.apache.spark.SparkException] {
      TarShardSource.members(spark,
        dir.resolve("bad_cksum.tar").toString).count()
    }
    assert(e1.getCause.getMessage.contains("checksum"))
    val e2 = intercept[org.apache.spark.SparkException] {
      TarShardSource.members(spark,
        dir.resolve("truncated.tar").toString).count()
    }
    assert(e2.getCause
      .isInstanceOf[graft.operators.MalformedShardException])
    write("dotless.tar", Tar.buildTar(Seq(
      "w/1.jpg" -> "i".getBytes("UTF-8"),
      "w/README" -> "r".getBytes("UTF-8"))))
    val e3 = intercept[org.apache.spark.SparkException] {
      TarShardSource.webdatasetMembers(spark,
        dir.resolve("dotless.tar").toString).count()
    }
    assert(e3.getCause.getMessage.contains("dotless"))
    // members() itself is happy with the dotless shard
    assert(TarShardSource.members(spark,
      dir.resolve("dotless.tar").toString).count() === 2L)
  }

  test("WebDataset at path level: stems split per member, census " +
      "matches the column operator, and pax long-path records " +
      "resolve through the STREAM") {
    val longDir = "q" * 120
    val shard = Tar.buildTarPax(Seq(
      (s"$longDir/7.png", "img".getBytes("UTF-8")),
      (s"$longDir/7.txt", "cap".getBytes("UTF-8")),
      (s"$longDir/8.png", "im2".getBytes("UTF-8")),
      (s"$longDir/8.txt", "ca2".getBytes("UTF-8"))))
    write("wds.tar", shard)
    val streamed = TarShardSource.webdatasetSamples(spark,
        dir.resolve("wds.tar").toString)
      .orderBy("stem").collect()
      .map(r => (r.getAs[String]("stem"), r.getAs[Long]("n_members"),
        r.getAs[String]("exts"), r.getAs[Long]("total_bytes")))
    val column = Tar.webdatasetSamples(df(1L -> shard), "id",
        "content")
      .orderBy("stem").collect()
      .map(r => (r.getAs[String]("stem"), r.getAs[Long]("n_members"),
        r.getAs[String]("exts"), r.getAs[Long]("total_bytes")))
    assert(streamed.toSeq === column.toSeq)
    assert(streamed.map(_._1).toSeq ===
      Seq(s"$longDir/7", s"$longDir/8"))
    assert(streamed.forall(_._3 == "png,txt"))
  }

  test("empty-file and no-match globs are loud, not silent") {
    intercept[java.io.FileNotFoundException] {
      TarShardSource.members(spark, dir.toString + "/nope_*.tar")
        .count()
    }
    write("empty.tar", Array.emptyByteArray)
    val e = intercept[org.apache.spark.SparkException] {
      TarShardSource.members(spark,
        dir.resolve("empty.tar").toString).count()
    }
    assert(e.getCause.getMessage.contains("EOF"))
  }
}
