package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-GiB ZIP64 + bit-3 data-descriptor smoke: proves the
  * path-level [[graft.sources.ZipShardSource]] walks a REAL >4 GiB
  * archive end-to-end through the CD-authoritative path. The archive
  * is streamed to disk the way a streaming writer actually emits it:
  * every local header LIES (general-purpose bit 3 set; crc and both
  * sizes zero, the truth deferred to a ZIP64 data descriptor after
  * the member data), member offsets cross the 4 GiB line so the
  * central directory MUST resolve through 0x0001 ZIP64 extras, and
  * the tail routes sentinel classic EOCD → locator → ZIP64 EOCD.
  * A front-to-back reader believing local headers reads garbage
  * here; the CD-seeking walk reads every member CRC-exact with
  * residency of CD + ONE member. The `zipStream` step of [[ScaleSmoke]].
  */
object ZipStreamSmoke {
  def run(spark: SparkSession, nMembers: Int = 66, memberBytes: Int = 1 << 26): Measure.Counts = {
    val dir = graft.Fixtures.scratchDir("scale-zip64dd")
    val zipPath = dir.resolve("big_dd.zip")
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(zipPath.toFile), 1 << 20)
    var off = 0L
    def w8(v: Int): Unit = { out.write(v & 0xFF); off += 1 }
    def w16(v: Int): Unit = { w8(v); w8(v >> 8) }
    def w32(v: Long): Unit = {
      w8(v.toInt); w8((v >> 8).toInt); w8((v >> 16).toInt)
      w8((v >> 24).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xFFFFFFFFL); w32(v >>> 32) }
    val chunk = new Array[Byte](1 << 20)
    val recs = (0 until nMembers).map { m =>
      val lho = off
      val name = s"big/$m.bin".getBytes("US-ASCII")
      w32(0x04034b50L)
      w16(45)
      w16(0x0008) // bit 3: sizes/crc deferred to the data descriptor
      w16(0) // stored
      w16(0); w16(0) // time/date
      w32(0L); w32(0L); w32(0L) // the LIE: crc + both sizes zero
      w16(name.length); w16(0)
      out.write(name); off += name.length
      // member data streamed through a 1 MiB chunk — the writer holds
      // one chunk, never one member
      val crc = new java.util.zip.CRC32()
      var written = 0
      while (written < memberBytes) {
        val n = math.min(chunk.length, memberBytes - written)
        var i = 0
        while (i < n) {
          chunk(i) = ((m * 131 + (written + i).toLong * 7) % 251).toByte
          i += 1
        }
        crc.update(chunk, 0, n)
        out.write(chunk, 0, n)
        written += n
      }
      off += memberBytes.toLong
      // ZIP64 data descriptor (8-byte sizes — the form APPNOTE
      // prescribes when the CD entry resolves through a 0x0001 extra)
      w32(0x08074b50L)
      w32(crc.getValue)
      w64(memberBytes.toLong); w64(memberBytes.toLong)
      (lho, crc.getValue, name)
    }
    val cdStart = off
    recs.foreach { case (lho, crc, name) =>
      w32(0x02014b50L)
      w16(45); w16(45)
      w16(0x0008) // flags mirror the local header
      w16(0) // stored
      w16(0); w16(0)
      w32(crc)
      w32(0xFFFFFFFFL); w32(0xFFFFFFFFL) // sizes: sentinel -> extra
      w16(name.length)
      w16(28) // 0x0001 extra: header + 3 x 8 bytes
      w16(0)
      w16(0); w16(0)
      w32(0L)
      w32(0xFFFFFFFFL) // offset: sentinel -> extra
      out.write(name); off += name.length
      w16(0x0001); w16(24)
      w64(memberBytes.toLong); w64(memberBytes.toLong); w64(lho)
    }
    val cdSize = off - cdStart
    val z64At = off
    w32(0x06064b50L)
    w64(44L)
    w16(45); w16(45)
    w32(0L); w32(0L)
    w64(nMembers.toLong); w64(nMembers.toLong)
    w64(cdSize); w64(cdStart)
    w32(0x07064b50L)
    w32(0L); w64(z64At); w32(1L)
    w32(0x06054b50L)
    w16(0); w16(0)
    w16(0xFFFF); w16(0xFFFF)
    w32(0xFFFFFFFFL); w32(0xFFFFFFFFL)
    w16(0)
    out.close()
    val fileLen = zipPath.toFile.length()
    require(fileLen > (4L << 30),
      s"archive only $fileLen bytes — not a ZIP64-forcing smoke")

    val members = graft.sources.ZipShardSource.members(spark,
      zipPath.toString, maxEntryBytes = memberBytes)
    val firstByte = udf((b: Array[Byte]) => (b(0) & 0xFF).toLong)
    val agg = members.toDF()
      .agg(count(lit(1)), sum(col("size")),
        sum(firstByte(col("bytes"))))
      .collect()(0)
    val expFirst = (0 until nMembers)
      .map(m => ((m * 131) % 251).toLong).sum
    require(agg.getLong(0) == nMembers.toLong,
      s"member count ${agg.getLong(0)}")
    require(agg.getLong(1) == nMembers.toLong * memberBytes,
      s"byte sum ${agg.getLong(1)}")
    require(agg.getLong(2) == expFirst,
      s"first-byte sum ${agg.getLong(2)} != $expFirst")
    // spot-verify a planted byte DEEP inside a member whose offset
    // sits beyond the 4 GiB line (the offsets only a ZIP64 extra can
    // express)
    val lastName = s"big/${nMembers - 1}.bin"
    val deep = members.filter(col("path") === lastName)
      .toDF().select(col("bytes")).collect()(0).getAs[Array[Byte]](0)
    val pos = memberBytes - 7
    val exp = (((nMembers - 1) * 131 + pos.toLong * 7) % 251).toByte
    require(deep(pos) == exp, s"deep byte ${deep(pos)} != $exp")
    graft.Fixtures.delete(dir)
    Seq("archiveBytes" -> fileLen, "members" -> nMembers, "memberBytes" -> memberBytes)
  }
}
