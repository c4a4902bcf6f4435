package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.operators.LittleEndian.{le16, le32, le64}

/** ZIP shards as a COLUMN operator — the other way image/document
  * corpora ship (the [[Tar]] counterpart; the path-level streaming
  * form lives in `sources.GeoJsonZipSource`). The walk derives
  * entirely from the published ZIP APPNOTE format and reads the
  * archive the way a CORRECT reader must: find the end-of-central-
  * directory record (signature `PK\5\6`, scanned back through the
  * ≤64 KiB trailing comment), walk the CENTRAL directory (the
  * authoritative member list — local headers alone lie when bit 3
  * data descriptors are in play), then each member's local header
  * for the data offset.
  *
  * ZIP64 archives (>4 GiB, >65,535 entries) are WALKED, not refused:
  * sentinel EOCD fields route through the ZIP64 EOCD locator/record
  * (APPNOTE 4.4.1) and per-entry `0xFFFFFFFF` fields resolve through
  * the 0x0001 extended-information extra, so production-sized image
  * and document archives read like any other shard.
  *
  * Honesty contract: the declared entry count must match the walk,
  * every member's CRC-32 is VERIFIED against its decompressed bytes,
  * stored members must declare equal sizes, and encrypted members,
  * sentinel fields with no ZIP64 record behind them, truncated ZIP64
  * records, unknown compression methods, overlapping/overrunning
  * offsets, or a corrupt deflate stream refuse the WHOLE shard — a
  * half-read archive silently drops members. Directory entries (name
  * ending `/`) are skipped.
  *
  * Design for 100 TB: one shard in memory at a time inside
  * `mapPartitions`; the CD walk is O(#entries); `maxEntryBytes`
  * refuses oversized members BEFORE inflating; deflate inflates to
  * exactly the declared size (wrong-size streams refuse). The walk is
  * two steps — [[listZip]] (the central directory, no member data)
  * and [[openMember]] (one member, streamed and verified) — so a
  * caller that needs no whole member can stream each one instead.
  */
object Zip {

  /** One archive member: `path` as stored, decompressed bytes,
    * method (`stored` | `deflate`), central-directory order index.
    */
  case class ZipEntry(id: Long, entryIndex: Long, path: String,
      bytes: Array[Byte], size: Long, method: String)

  /** Explode every file member of every zip payload. Unparseable
    * shards emit nothing.
    */
  def zipEntries(df: DataFrame, idCol: String, binCol: String,
      maxEntryBytes: Int = 1 << 28): DataFrame = {
    require(maxEntryBytes > 0, "maxEntryBytes must be positive")
    implicit val enc = Encoders.product[ZipEntry]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          parseZip(r.getAs[Array[Byte]](1), maxEntryBytes) match {
            case Some(entries) => entries.zipWithIndex.map {
              case ((p, b, m), i) => ZipEntry(id, i.toLong, p, b,
                b.length.toLong, m)
            }
            case None => Nil
          }
        }
    }.toDF().select(col("id"), col("entryIndex").as("entry_index"),
      col("path"), col("bytes"), col("size"), col("method"))
  }

  // ---- imperative internals -------------------------------------------

  /** Random-access view of one archive — the column operator and
    * `sources.GeoJsonZipSource.expandZip` wrap a byte array, the
    * path-level sources (`sources.ZipShardSource`,
    * `sources.GeoJsonZipSource.read`) wrap a seekable Hadoop stream,
    * and ALL of them run [[listZip]] and [[openMember]], so the
    * honesty contracts cannot drift.
    */
  private[graft] trait ZipReader {
    def length: Long
    /** Read exactly `len` bytes at absolute `at` — throws on EOF. */
    def readFully(at: Long, buf: Array[Byte], off: Int, len: Int): Unit
  }

  private[graft] final class ArrayZipReader(b: Array[Byte])
      extends ZipReader {
    def length: Long = b.length.toLong
    def readFully(at: Long, buf: Array[Byte], off: Int,
        len: Int): Unit = {
      if (at < 0L || at + len > b.length)
        throw new MalformedShardException("read past the archive")
      System.arraycopy(b, at.toInt, buf, off, len)
    }
  }

  private[graft] def parseZip(bytes: Array[Byte],
      maxEntryBytes: Int): Option[Vector[(String, Array[Byte], String)]] = {
    if (bytes == null || bytes.length < 22) return None
    try Some(walkZip(new ArrayZipReader(bytes), maxEntryBytes,
      1 << 28, "<column>").toVector)
    catch { case _: MalformedShardException => None }
  }

  /** One file member as the central directory lists it: name, method
    * (0 stored, 8 deflate), declared CRC-32, compressed and
    * uncompressed sizes, and the absolute offset of its data.
    */
  private[graft] final case class ZipMember(name: String, method: Int,
      crc: Long, compSize: Long, size: Long, dataOff: Long)

  /** Materialize every file member: [[listZip]], refuse any member
    * over `maxEntryBytes` before reading one, then read each member
    * through [[openMember]] into an array of its declared size.
    * Residency is the CD plus ONE member. Violations throw
    * [[MalformedShardException]]; the column operator maps that to
    * emit-nothing.
    */
  private[graft] def walkZip(in: ZipReader, maxEntryBytes: Int,
      maxCdBytes: Int, shard: String)
      : Iterator[(String, Array[Byte], String)] = {
    val members = listZip(in, maxCdBytes, shard)
    members.find(_.size > maxEntryBytes).foreach { m =>
      throw new MalformedShardException(s"$shard: member of ${m.size} " +
        s"bytes over the $maxEntryBytes cap")
    }
    members.iterator.map { m =>
      (m.name, materialize(in, m, shard),
        if (m.method == 0) "stored" else "deflate")
    }
  }

  /** The SINGLE ZIP listing over random access: locate the EOCD
    * (through ≤64 KiB of trailing comment), follow the ZIP64
    * locator/record when sentinel fields demand it, materialize the
    * CENTRAL directory (≤ `maxCdBytes` — the authoritative member
    * list), check each member's local header and that no two members'
    * data overlap. Reads no member data; directory entries are
    * skipped. Structural violations throw [[MalformedShardException]].
    */
  private[graft] def listZip(in: ZipReader, maxCdBytes: Int,
      shard: String): Vector[ZipMember] = {
    def fail(why: String): Nothing =
      throw new MalformedShardException(s"$shard: $why")
    val fileLen = in.length
    if (fileLen < 22L) fail("shorter than an EOCD record")
    // tail window: EOCD + up to 64 KiB of comment
    val tailLen = math.min(fileLen, 22L + 0xFFFF).toInt
    val tailAt = fileLen - tailLen
    val tail = new Array[Byte](tailLen)
    in.readFully(tailAt, tail, 0, tailLen)
    var e = tailLen - 22
    var eocdRel = -1
    while (eocdRel < 0 && e >= 0) {
      if (tail(e) == 'P' && tail(e + 1) == 'K' &&
        (tail(e + 2) & 0xFF) == 5 && (tail(e + 3) & 0xFF) == 6 &&
        tailAt + e + 22 + le16(tail, e + 20) == fileLen) eocdRel = e
      else e -= 1
    }
    if (eocdRel < 0) fail("no end-of-central-directory record")
    val eocdAbs = tailAt + eocdRel
    var nEntries = le16(tail, eocdRel + 10).toLong
    if (nEntries != le16(tail, eocdRel + 8)) fail("multi-disk archive")
    var cdSize = le32(tail, eocdRel + 12)
    var cdOff = le32(tail, eocdRel + 16)
    // ZIP64: any sentinel field sends us through the EOCD locator to
    // the ZIP64 EOCD record (the published APPNOTE 4.4.1 escape for
    // >4 GiB archives / >65,535 entries)
    var cdEndAbs = eocdAbs
    if (nEntries == 0xFFFFL || cdSize == 0xFFFFFFFFL ||
      cdOff == 0xFFFFFFFFL) {
      // locator: 20 bytes directly before the EOCD
      val locAbs = eocdAbs - 20
      if (locAbs < 0) fail("sentinel fields without a ZIP64 locator")
      val loc = new Array[Byte](20)
      in.readFully(locAbs, loc, 0, 20)
      if (le32(loc, 0) != 0x07064b50L)
        fail("sentinel fields without a ZIP64 locator")
      if (le32(loc, 4) != 0L) fail("ZIP64 EOCD on another disk")
      if (le32(loc, 16) != 1L) fail("multi-disk archive")
      val z64 = le64(loc, 8)
      if (z64 < 0L || z64 + 56 > locAbs) fail("ZIP64 EOCD out of range")
      val z = new Array[Byte](56)
      in.readFully(z64, z, 0, 56)
      if (le32(z, 0) != 0x06064b50L) fail("bad ZIP64 EOCD signature")
      // record size counts everything after the first 12 bytes; the
      // record must END at the locator (nothing hides between)
      if (z64 + 12 + le64(z, 4) != locAbs) fail("ZIP64 EOCD size lie")
      if (le32(z, 16) != 0L || le32(z, 20) != 0L)
        fail("multi-disk archive")
      nEntries = le64(z, 24)
      if (nEntries != le64(z, 32)) fail("ZIP64 entry-count mismatch")
      if (nEntries < 0L || nEntries > Int.MaxValue.toLong)
        fail("insane ZIP64 entry count")
      cdSize = le64(z, 40)
      cdOff = le64(z, 48)
      if (cdSize < 0L || cdOff < 0L) fail("negative ZIP64 CD fields")
      cdEndAbs = z64
    }
    if (cdOff + cdSize != cdEndAbs)
      fail("central directory does not end at its terminator")
    if (cdSize > maxCdBytes)
      fail(s"central directory of $cdSize bytes over the " +
        s"$maxCdBytes cap")
    val cd = new Array[Byte](cdSize.toInt)
    in.readFully(cdOff, cd, 0, cdSize.toInt)
    val out = Vector.newBuilder[ZipMember]
    val ranges = Vector.newBuilder[(Long, Long)] // member [lho, dataEnd)
    var pos = 0L
    var i = 0L
    while (i < nEntries) {
      if (pos + 46 > cdSize) fail("central directory truncated")
      val o = pos.toInt
      if (le32(cd, o) != 0x02014b50L) fail("bad CD entry signature")
      val flags = le16(cd, o + 8)
      if ((flags & 0x0001) != 0) fail("encrypted member")
      val method = le16(cd, o + 10)
      val crc = le32(cd, o + 16)
      var compSize = le32(cd, o + 20)
      var uncompSize = le32(cd, o + 24)
      val nameLen = le16(cd, o + 28)
      val extraLen = le16(cd, o + 30)
      val commentLen = le16(cd, o + 32)
      var lho = le32(cd, o + 42)
      if (pos + 46 + nameLen + extraLen + commentLen > cdSize)
        fail("CD entry overruns the directory")
      // sentinel fields resolve through the ZIP64 extended-info extra
      // (header id 0x0001): 8-byte values present ONLY for the fields
      // that are 0xFFFFFFFF, in uncomp/comp/offset order
      if (compSize == 0xFFFFFFFFL || uncompSize == 0xFFFFFFFFL ||
        lho == 0xFFFFFFFFL) {
        var e2 = o + 46 + nameLen
        val eEnd = e2 + extraLen
        var found = false
        while (!found && e2 + 4 <= eEnd) {
          val hid = le16(cd, e2)
          val dsz = le16(cd, e2 + 2)
          if (e2 + 4 + dsz > eEnd) fail("extra field overruns")
          if (hid == 0x0001) {
            var f = e2 + 4
            if (uncompSize == 0xFFFFFFFFL) {
              if (f + 8 > e2 + 4 + dsz) fail("short ZIP64 extra")
              uncompSize = le64(cd, f); f += 8
            }
            if (compSize == 0xFFFFFFFFL) {
              if (f + 8 > e2 + 4 + dsz) fail("short ZIP64 extra")
              compSize = le64(cd, f); f += 8
            }
            if (lho == 0xFFFFFFFFL) {
              if (f + 8 > e2 + 4 + dsz) fail("short ZIP64 extra")
              lho = le64(cd, f); f += 8
            }
            found = true
          } else e2 += 4 + dsz
        }
        if (!found) fail("sentinel fields with no ZIP64 extra")
        if (compSize < 0L || uncompSize < 0L || lho < 0L)
          fail("negative ZIP64 member fields")
      }
      val name = new String(cd, o + 46, nameLen, "UTF-8")
      if (!name.endsWith("/")) {
        // deflate worst-case expansion bound: a compSize far beyond
        // it is a crafted field, not compression
        if (compSize > uncompSize + (uncompSize >> 9) + 4096)
          fail("compressed size exceeds the deflate expansion bound")
        // local header: sig + its OWN name/extra lengths (a 30-byte
        // read per member — structure verified UP FRONT so the
        // overlap check can run before any member data is read)
        if (lho + 30 > fileLen) fail("local header out of range")
        val lh = new Array[Byte](30)
        in.readFully(lho, lh, 0, 30)
        if (le32(lh, 0) != 0x04034b50L)
          fail("bad local header signature")
        val dataOff = lho + 30 + le16(lh, 26) + le16(lh, 28)
        if (dataOff + compSize > fileLen) fail("member data overruns")
        ranges += ((lho, dataOff + compSize))
        out += ZipMember(name, method, crc, compSize, uncompSize, dataOff)
      }
      pos += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    if (pos != cdSize) fail("central directory shorter than declared")
    // overlapping members: two CD entries pointing into the same
    // local data are a crafted archive, not a packaging accident
    val sorted = ranges.result().sortBy(_._1)
    var j = 1
    while (j < sorted.length) {
      if (sorted(j)._1 < sorted(j - 1)._2)
        fail("overlapping member data")
      j += 1
    }
    out.result()
  }

  /** Stream one member's bytes: stored data as it lies, deflate data
    * inflated as it is read, in chunks of at most 64 KiB, so a member
    * of any size costs one chunk of memory. Reaching the end verifies
    * the size and CRC-32 the central directory declared; a mismatch, a
    * corrupt or truncated deflate stream, or an unknown method throws
    * [[MalformedShardException]].
    */
  private[graft] def openMember(in: ZipReader, m: ZipMember,
      shard: String): java.io.InputStream = new MemberStream(in, m, shard)

  private final class MemberStream(in: ZipReader, m: ZipMember,
      shard: String) extends java.io.InputStream {
    private def fail(why: String): Nothing =
      throw new MalformedShardException(s"$shard: ${m.name}: $why")
    if (m.method != 0 && m.method != 8)
      fail(s"unknown compression method ${m.method}")
    if (m.method == 0 && m.compSize != m.size)
      fail("stored member with unequal sizes")
    private val inf =
      if (m.method == 8) new java.util.zip.Inflater(true) else null
    private val chunk = if (inf == null) null
      else new Array[Byte](math.max(1L, math.min(m.compSize, 1L << 16)).toInt)
    private val crc = new java.util.zip.CRC32()
    private var consumed = 0L // compressed bytes taken from the archive
    private var produced = 0L
    private var ended = false

    private def take(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = math.min(len.toLong, m.compSize - consumed).toInt
      if (n > 0) in.readFully(m.dataOff + consumed, buf, off, n)
      consumed += n
      n
    }

    private def inflate(b: Array[Byte], off: Int, len: Int): Int = {
      var n = 0
      while (n == 0) {
        n = try inf.inflate(b, off, len) catch {
          case _: java.util.zip.DataFormatException =>
            fail("corrupt deflate stream")
        }
        if (n == 0) {
          if (inf.finished()) return -1
          if (inf.needsDictionary()) fail("corrupt deflate stream")
          if (inf.needsInput()) {
            val c = take(chunk, 0, chunk.length)
            if (c == 0) fail("corrupt deflate stream") // input ran out
            inf.setInput(chunk, 0, c)
          }
        }
      }
      n
    }

    override def read(b: Array[Byte], off: Int, len: Int): Int = {
      if (ended) return -1
      if (len == 0) return 0
      val n = if (inf == null) take(b, off, len) else inflate(b, off, len)
      if (n <= 0) {
        ended = true
        close()
        if (produced != m.size) fail("member size differs from the " +
          "central directory")
        if (crc.getValue != m.crc) fail("member CRC mismatch")
        -1
      } else {
        produced += n
        if (produced > m.size) fail("member longer than declared")
        crc.update(b, off, n)
        n
      }
    }

    override def read(): Int = {
      val one = new Array[Byte](1)
      if (read(one, 0, 1) < 0) -1 else one(0) & 0xFF
    }

    override def close(): Unit = if (inf != null) inf.end()
  }

  /** One member's bytes in an array of its declared size, verified. */
  private def materialize(in: ZipReader, m: ZipMember,
      shard: String): Array[Byte] = {
    val out = new Array[Byte](m.size.toInt)
    val s = openMember(in, m, shard)
    try {
      var pos = 0
      while (pos < out.length) {
        val n = s.read(out, pos, out.length - pos)
        if (n < 0) throw new MalformedShardException(s"$shard: ${m.name}: " +
          "member shorter than declared")
        pos += n
      }
      s.read() // the end: verifies the size and the CRC-32
      out
    } finally s.close()
  }

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** Build a ZIP from (path, bytes, deflate?) members — real CRCs,
    * local headers + central directory + EOCD. With `zip64 = true`
    * the archive ships the FULL ZIP64 shape on small fixture bytes:
    * every CD entry carries sentinel size/offset fields resolved by a
    * 0x0001 extended-info extra, and the classic EOCD's sentinel
    * count/size/offset route through a ZIP64 EOCD record + locator —
    * exactly what a >4 GiB writer emits, exercisable without 4 GiB
    * of fixture.
    */
  def buildZip(entries: Seq[(String, Array[Byte], Boolean)],
      comment: String = "", zip64: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt); bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xFFFFFFFFL); w32(v >>> 32) }
    val recs = entries.map { case (path, data, deflated) =>
      val crc = new java.util.zip.CRC32()
      crc.update(data)
      val comp =
        if (!deflated) data
        else {
          val d = new java.util.zip.Deflater(
            java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
          d.setInput(data); d.finish()
          val out = new java.io.ByteArrayOutputStream()
          val buf = new Array[Byte](8192)
          while (!d.finished()) out.write(buf, 0, d.deflate(buf))
          d.end()
          out.toByteArray
        }
      (path, data, comp, crc.getValue, if (deflated) 8 else 0)
    }
    val offsets = recs.map { case (path, data, comp, crc, method) =>
      val off = bos.size()
      val nb = path.getBytes("UTF-8")
      w32(0x04034b50L)
      w16(20); w16(0); w16(method)
      w16(0); w16(0) // time/date
      w32(crc); w32(comp.length.toLong); w32(data.length.toLong)
      w16(nb.length); w16(0)
      bos.write(nb); bos.write(comp)
      off
    }
    val cdStart = bos.size()
    recs.zip(offsets).foreach {
      case ((path, data, comp, crc, method), off) =>
        val nb = path.getBytes("UTF-8")
        w32(0x02014b50L)
        w16(if (zip64) 45 else 20); w16(if (zip64) 45 else 20)
        w16(0); w16(method)
        w16(0); w16(0)
        w32(crc)
        if (zip64) { w32(0xFFFFFFFFL); w32(0xFFFFFFFFL) }
        else { w32(comp.length.toLong); w32(data.length.toLong) }
        w16(nb.length)
        w16(if (zip64) 28 else 0) // extra: 0x0001 header + 3 x 8 bytes
        w16(0)
        w16(0); w16(0) // disk, internal attrs
        w32(0L) // external attrs
        if (zip64) w32(0xFFFFFFFFL) else w32(off.toLong)
        bos.write(nb)
        if (zip64) {
          w16(0x0001); w16(24)
          w64(data.length.toLong); w64(comp.length.toLong)
          w64(off.toLong)
        }
    }
    val cdSize = bos.size() - cdStart
    val cb = comment.getBytes("UTF-8")
    if (zip64) {
      val z64Off = bos.size()
      w32(0x06064b50L)
      w64(44L) // record size after the first 12 bytes
      w16(45); w16(45)
      w32(0L); w32(0L) // this disk / CD-start disk
      w64(entries.length.toLong); w64(entries.length.toLong)
      w64(cdSize.toLong); w64(cdStart.toLong)
      // locator
      w32(0x07064b50L)
      w32(0L); w64(z64Off.toLong); w32(1L)
      // classic EOCD, all sentinels
      w32(0x06054b50L)
      w16(0); w16(0)
      w16(0xFFFF); w16(0xFFFF)
      w32(0xFFFFFFFFL); w32(0xFFFFFFFFL)
      w16(cb.length)
      bos.write(cb)
    } else {
      w32(0x06054b50L)
      w16(0); w16(0)
      w16(entries.length); w16(entries.length)
      w32(cdSize.toLong); w32(cdStart.toLong)
      w16(cb.length)
      bos.write(cb)
    }
    bos.toByteArray
  }
}
