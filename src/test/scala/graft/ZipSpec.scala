package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Zip

/** ZIP shard walk (column operator): EOCD location through trailing
  * comments, central-directory authority, stored + deflate members
  * with CRC verification on every member, and the honesty matrix.
  */
class ZipSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("round trip: stored and deflate members, CD order, trailing " +
      "archive comment, directory entries skipped; JVM ZipInputStream " +
      "reads the built archives (writer parity)") {
    val members = Seq(
      ("a/1.txt", "stored member".getBytes("UTF-8"), false),
      ("a/2.bin", Array.tabulate[Byte](5000)(i => (i * 31).toByte), true),
      ("dir/", Array.emptyByteArray, false),
      ("b/3.txt", ("z" * 600).getBytes("UTF-8"), true))
    val zip = Zip.buildZip(members, comment = "shard comment")
    val rows = Zip.zipEntries(df(1L -> zip), "id", "content")
      .orderBy("entry_index").collect()
    assert(rows.length === 3) // dir skipped
    assert(rows.map(_.getAs[String]("path")).toSeq ===
      Seq("a/1.txt", "a/2.bin", "b/3.txt"))
    assert(rows.map(_.getAs[String]("method")).toSeq ===
      Seq("stored", "deflate", "deflate"))
    assert(rows(1).getAs[Array[Byte]]("bytes").toSeq ===
      members(1)._2.toSeq)
    // parity: the JVM's own reader walks the same archive
    val zis = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(zip))
    val seen = Iterator.continually(zis.getNextEntry)
      .takeWhile(_ != null).map(_.getName).toSeq
    assert(seen === Seq("a/1.txt", "a/2.bin", "dir/", "b/3.txt"))
  }

  test("honesty: flipped member byte (CRC mismatch), truncated CD, " +
      "entry-count lie, encrypted flag, unknown method, over-cap " +
      "member, and a bogus EOCD all refuse the WHOLE shard") {
    val good = Zip.buildZip(Seq(
      ("f.txt", "hello zip".getBytes("UTF-8"), false),
      ("g.txt", "deflated".getBytes("UTF-8"), true)))
    def count(b: Array[Byte]) =
      Zip.zipEntries(df(1L -> b), "id", "content").count()
    assert(count(good) === 2L)
    val flipped = good.clone()
    flipped(35) = (flipped(35) ^ 0x20).toByte // inside member 1 data
    assert(count(flipped) === 0L)
    assert(count(good.take(good.length - 4)) === 0L) // EOCD truncated
    val lie = good.clone()
    lie(good.length - 12) = 9 // total-entries field
    lie(good.length - 14) = 9 // this-disk field (kept equal)
    assert(count(lie) === 0L)
    val enc = good.clone()
    // set the encrypted bit in the CD's first entry flags: find the
    // CD by signature
    val cd = (0 until good.length - 4).find(i =>
      good(i) == 'P' && good(i + 1) == 'K' && good(i + 2) == 1 &&
        good(i + 3) == 2).get
    enc(cd + 8) = (enc(cd + 8) | 0x01).toByte
    assert(count(enc) === 0L)
    val badMethod = good.clone()
    badMethod(cd + 10) = 99.toByte
    assert(count(badMethod) === 0L)
    assert(Zip.zipEntries(df(1L -> good), "id", "content",
      maxEntryBytes = 4).count() === 0L)
    assert(count("PKgarbage".getBytes("UTF-8")) === 0L)
  }

  test("overlapping members: two central-directory entries pointing " +
      "at the same local data refuse the shard whole") {
    val data = "same-bytes".getBytes("UTF-8")
    val zip = Zip.buildZip(Seq(
      ("a.txt", data, false), ("b.txt", data, false)))
    assert(Zip.zipEntries(df(1L -> zip), "id", "content")
      .count() === 2L)
    // patch the SECOND CD entry's local-header offset to the first's
    // (identical name lengths + contents keep every per-member check
    // green; only the overlap check can catch it)
    val evil = zip.clone()
    val cdSigs = (0 until evil.length - 4).filter(o =>
      evil(o) == 'P' && evil(o + 1) == 'K' &&
        (evil(o + 2) & 0xFF) == 1 && (evil(o + 3) & 0xFF) == 2)
    assert(cdSigs.length === 2)
    val firstOff = java.util.Arrays.copyOfRange(
      evil, cdSigs(0) + 42, cdSigs(0) + 46)
    System.arraycopy(firstOff, 0, evil, cdSigs(1) + 42, 4)
    assert(Zip.zipEntries(df(1L -> evil), "id", "content")
      .count() === 0L)
  }

  test("ZIP64: sentinel EOCD fields route through the locator + " +
      "ZIP64 EOCD record, per-entry sentinels resolve through the " +
      "0x0001 extra, and members match the classic build exactly") {
    val entries = (0 until 5).map { k =>
      (s"z64/$k.txt", s"member:$k".getBytes("UTF-8"), k % 2 == 1)
    }
    val classic = Zip.buildZip(entries)
    val z64 = Zip.buildZip(entries, zip64 = true)
    assert(z64.length > classic.length) // extras + zip64 EOCD present
    def rows(b: Array[Byte]) =
      Zip.zipEntries(df(1L -> b), "id", "content")
        .orderBy("entry_index").collect()
        .map(r => (r.getAs[Long]("entry_index"),
          r.getAs[String]("path"),
          new String(r.getAs[Array[Byte]]("bytes"), "UTF-8"),
          r.getAs[String]("method")))
    assert(rows(z64).toSeq === rows(classic).toSeq)
    assert(rows(z64).length === 5)
    // JVM reader parity: the stream reader walks the same members
    val zin = new java.util.zip.ZipInputStream(
      new java.io.ByteArrayInputStream(z64))
    val jvmNames = Iterator.continually(zin.getNextEntry)
      .takeWhile(_ != null).map(_.getName).toSeq
    assert(jvmNames === entries.map(_._1))
  }

  test("ZIP64 honesty: a sentinel EOCD with no locator, a corrupted " +
      "ZIP64 EOCD signature, a truncated record, and a per-entry " +
      "sentinel whose 0x0001 extra is missing all refuse whole") {
    val entries = Seq(("a.txt", "data-a".getBytes("UTF-8"), false))
    val z64 = Zip.buildZip(entries, zip64 = true)
    def count(b: Array[Byte]) =
      Zip.zipEntries(df(1L -> b), "id", "content").count()
    assert(count(z64) === 1L)
    // classic build whose EOCD count is patched to the sentinel:
    // sentinel with NOTHING behind it must refuse
    val classic = Zip.buildZip(entries)
    val lied = classic.clone()
    // EOCD is the last 22 bytes (no comment): count fields at +8/+10
    val eocd = lied.length - 22
    lied(eocd + 8) = 0xFF.toByte; lied(eocd + 9) = 0xFF.toByte
    lied(eocd + 10) = 0xFF.toByte; lied(eocd + 11) = 0xFF.toByte
    assert(count(lied) === 0L)
    // corrupt the ZIP64 EOCD record signature
    val badSig = z64.clone()
    val zOff = (0 until badSig.length - 4).find(o =>
      badSig(o) == 'P' && badSig(o + 1) == 'K' &&
        (badSig(o + 2) & 0xFF) == 6 && (badSig(o + 3) & 0xFF) == 6).get
    badSig(zOff + 3) = 9.toByte
    assert(count(badSig) === 0L)
    // truncate the zip64 record's size field (record no longer ends
    // at the locator)
    val badLen = z64.clone()
    badLen(zOff + 4) = 1.toByte
    assert(count(badLen) === 0L)
    // strip the 0x0001 extra id from the CD entry (sentinels left
    // dangling)
    val noExtra = z64.clone()
    val cdSig = (0 until noExtra.length - 4).find(o =>
      noExtra(o) == 'P' && noExtra(o + 1) == 'K' &&
        (noExtra(o + 2) & 0xFF) == 1 && (noExtra(o + 3) & 0xFF) == 2).get
    val nameLen = (noExtra(cdSig + 28) & 0xFF) |
      ((noExtra(cdSig + 29) & 0xFF) << 8)
    noExtra(cdSig + 46 + nameLen) = 0x77.toByte // extra header id
    assert(count(noExtra) === 0L)
  }

  test("listZip + openMember: members stream in small reads past the " +
      "64 KiB chunk and any member cap; the end verifies size and CRC") {
    val rnd = new scala.util.Random(7)
    val big = Array.tabulate[Byte](300000)(i =>
      if (i % 7 == 0) rnd.nextInt(256).toByte else (i % 13).toByte)
    val zip = Zip.buildZip(Seq(("big.bin", big, true),
      ("raw.bin", big.take(70000), false)))
    val in = new Zip.ArrayZipReader(zip)
    val members = Zip.listZip(in, 1 << 20, "t")
    assert(members.map(_.name) === Vector("big.bin", "raw.bin"))
    def drain(s: java.io.InputStream, step: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](step)
      var n = s.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = s.read(buf) }
      out.toByteArray
    }
    assert(members(0).compSize > 65536L)
    for (step <- Seq(1, 4093, 1 << 16)) {
      assert(drain(Zip.openMember(in, members(0), "t"), step).toSeq === big.toSeq)
      assert(drain(Zip.openMember(in, members(1), "t"), step).toSeq ===
        big.take(70000).toSeq)
    }
    // the member cap belongs to materializing walks only
    assert(intercept[graft.operators.MalformedShardException](
      Zip.walkZip(in, 1000, 1 << 20, "t")).getMessage.contains("cap"))
    // a deflate stream cut short, and a CRC that does not match
    val short = members(0).copy(compSize = members(0).compSize / 2)
    assert(intercept[graft.operators.MalformedShardException](
      drain(Zip.openMember(in, short, "t"), 4096)).getMessage
      .contains("corrupt deflate stream"))
    val lie = members(1).copy(crc = members(1).crc ^ 1L)
    assert(intercept[graft.operators.MalformedShardException](
      drain(Zip.openMember(in, lie, "t"), 4096)).getMessage.contains("CRC"))
  }
}
