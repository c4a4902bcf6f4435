package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.expressions.GraftFunctions
import graft.expressions.BarrierExprs.evalOnce
import graft.operators.LittleEndian.{le16, le24, le32}

/** Multimodal-column operators for training-data pipelines: image /
  * audio / video payloads carried as opaque `binary` columns with typed
  * metadata alongside.
  *
  * Design for 100 TB: everything metadata-shaped (type sniffing, hashes,
  * PNG/GIF header fields) is PURE built-in expressions over byte slices
  * — codegen'd, no UDF, no shuffle: a narrow map over the binary column
  * that never deserializes the payload. Only genuinely imperative pieces
  * (JPEG segment walk, the decode stub) drop to a scalar UDF /
  * `mapPartitions`, the documented Scala analogs of a vectorized-UDF
  * stage; both stream batch-by-batch and hold one record's payload at a
  * time.
  *
  * Image decode (`decodeImage`) is REAL for the formats the JVM ships
  * codecs for (PNG/GIF/JPEG/BMP via `javax.imageio`, no native deps):
  * dims come from the decoded raster and the feature vector is a
  * luminance histogram of the actual pixels. Payloads the JVM cannot
  * decode (video, exotic codecs) fall back to header-derived dims plus
  * a deterministic hash-derived pseudo-feature vector with the same
  * schema — the honest stand-in for ffmpeg-class work this container
  * can't do, clearly marked per-row by `decoded = false`.
  */
object Multimodal {

  // ---- content-type sniffing (magic bytes, pure expressions) -----------

  /** Hex prefix of the first `n` bytes, uppercase (expression-only). */
  private def hexPrefix(c: Column, n: Int): Column = hex(substring(c, 1, n))

  /** Magic-byte content-type detection over a binary column. Pure
    * `when/otherwise` on hex prefixes — inspects ≤ 12 bytes, codegen'd.
    * Unknown non-empty payloads whose first bytes are printable ASCII
    * classify as text/plain, else application/octet-stream.
    */
  def sniffContentType(c: Column): Column = {
    val p4 = hexPrefix(c, 4)
    val p3 = hexPrefix(c, 3)
    val p2 = hexPrefix(c, 2)
    // printable-ASCII heuristic on the first 8 bytes: every byte in
    // [0x09,0x0D] ∪ [0x20,0x7E], decoded byte-accurately from the hex
    // (a UTF-8 cast would mangle arbitrary binary)
    val headHex = hex(substring(c, 1, 8))
    val printable = forall(
      transform(sequence(lit(0), least(length(c), lit(8)) - 1),
        i => conv(substring(headHex, i * 2 + 1, lit(2)), 16, 10).cast("int")),
      b => (b >= 32 && b <= 126) || (b >= 9 && b <= 13))
    when(length(c) === 0 || c.isNull, lit(null).cast("string"))
      .when(p4 === "89504E47", lit("image/png"))
      .when(p3 === "FFD8FF", lit("image/jpeg"))
      .when(p3 === "474946", lit("image/gif"))
      .when(p4 === "25504446", lit("application/pdf"))
      .when(p4 === "504B0304", lit("application/zip"))
      .when(p4 === "52494646" && hex(substring(c, 9, 4)) === "57415645",
        lit("audio/wav"))
      .when(p4 === "52494646" && hex(substring(c, 9, 4)) === "57454250",
        lit("image/webp"))
      .when(p3 === "494433" || p2 === "FFFB", lit("audio/mpeg"))
      .when(p4 === "664C6143", lit("audio/flac"))
      .when(p4 === "49492A00" || p4 === "4D4D002A", lit("image/tiff"))
      .when(p4 === "1A45DFA3", lit("video/webm")) // EBML (webm/mkv)
      .when(p4 === "4F676753", lit("audio/ogg")) // OggS capture
      .when(hex(substring(c, 5, 4)) === "66747970", lit("video/mp4"))
      .when(printable, lit("text/plain"))
      .otherwise(lit("application/octet-stream"))
  }

  // ---- header-field extraction (pure expressions) ----------------------

  /** Big-endian uint32 at 1-based byte offset `off` (expression-only):
    * hex-slice → base-16 parse.
    */
  private def beUInt32(c: Column, off: Int): Column =
    conv(hex(substring(c, off, 4)), 16, 10).cast("long")

  /** Little-endian uint16 at 1-based byte offset `off`. */
  private def leUInt16(c: Column, off: Int): Column =
    conv(concat(hex(substring(c, off + 1, 1)), hex(substring(c, off, 1))),
      16, 10).cast("long")

  /** (width, height) struct for PNG (IHDR big-endian at offset 17/21)
    * and GIF (logical screen little-endian at 7/9) — null for other
    * types. JPEG needs a segment walk: see `jpegDimensions`.
    */
  def imageDimensions(c: Column): Column = {
    val mime = sniffContentType(c)
    when(mime === "image/png",
      struct(beUInt32(c, 17).as("width"), beUInt32(c, 21).as("height")))
      .when(mime === "image/gif",
        struct(leUInt16(c, 7).as("width"), leUInt16(c, 9).as("height")))
      .otherwise(lit(null).cast("struct<width:bigint,height:bigint>"))
  }

  /** JPEG dimensions via SOFn segment walk — inherently imperative, so a
    * scalar UDF (runs once per file, not per row of a hot column).
    */
  private def jpegDims(bytes: Array[Byte]): Option[(Long, Long)] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xFF) != 0xFF || (bytes(1) & 0xFF) != 0xD8) return None
    var i = 2
    while (i + 3 < bytes.length) {
      if ((bytes(i) & 0xFF) != 0xFF) return None
      val marker = bytes(i + 1) & 0xFF
      if (marker == 0xD8 || (marker >= 0xD0 && marker <= 0xD7)) { i += 2 }
      else {
        val len = ((bytes(i + 2) & 0xFF) << 8) | (bytes(i + 3) & 0xFF)
        val isSof = marker >= 0xC0 && marker <= 0xCF &&
          marker != 0xC4 && marker != 0xC8 && marker != 0xCC
        if (isSof) {
          if (i + 8 >= bytes.length) return None
          val h = ((bytes(i + 5) & 0xFF) << 8) | (bytes(i + 6) & 0xFF)
          val w = ((bytes(i + 7) & 0xFF) << 8) | (bytes(i + 8) & 0xFF)
          return Some((w.toLong, h.toLong))
        }
        i += 2 + len
      }
    }
    None
  }

  private val jpegDimsUdf = udf((b: Array[Byte]) => jpegDims(b))

  // evalOnce (here and at the other header parses below): a filter on
  // the parsed result would otherwise substitute (and re-run) the parse
  // per row (guide 4.4)
  def jpegDimensions(c: Column): Column =
    evalOnce(jpegDimsUdf(c)).cast("struct<width:bigint,height:bigint>")

  // ---- WebP header walk (metadata only — the JVM has no VP8 codec) ----

  /** WebP header metadata: RIFF `WEBP` container, first chunk one of
    * the three published forms — `VP8 ` (lossy: the 0x9D012A start
    * code then 14-bit dims), `VP8L` (lossless: the 0x2F signature
    * then bit-packed dims−1), `VP8X` (extended: a flags byte then
    * 24-bit canvas dims−1, alpha bit 0x10, animation bit 0x02). Pixel
    * DECODE is honestly out of scope — no VP8 codec ships with the
    * JVM, and [[readImage]] already returns None for WebP payloads
    * (fabricating pixels is the contract violation this family
    * refuses); this walk serves the 100 TB metadata-filter path
    * (dims, alpha, animation) from ≤ 30 header bytes.
    */
  private[graft] def webpInfo(
      b: Array[Byte]): Option[(String, Long, Long, Boolean, Boolean)] = {
    if (b == null || b.length < 20) return None
    if (new String(b, 0, 4, "US-ASCII") != "RIFF" ||
      new String(b, 8, 4, "US-ASCII") != "WEBP") return None
    val fourcc = new String(b, 12, 4, "US-ASCII")
    val sz = (b(16) & 0xFFL) | ((b(17) & 0xFFL) << 8) |
      ((b(18) & 0xFFL) << 16) | ((b(19) & 0xFFL) << 24)
    val d = 20 // chunk data offset
    fourcc match {
      case "VP8 " =>
        // 3-byte frame tag, the 9D 01 2A start code, then 2×u16 LE
        // (14-bit dims + 2 scale bits each)
        if (sz < 10 || b.length < d + 10) None
        else if ((b(d + 3) & 0xFF) != 0x9D || (b(d + 4) & 0xFF) != 0x01 ||
          (b(d + 5) & 0xFF) != 0x2A) None
        else {
          val w = le16(b, d + 6) & 0x3FFF
          val h = le16(b, d + 8) & 0x3FFF
          if (w == 0 || h == 0) None
          else Some(("VP8 ", w.toLong, h.toLong, false, false))
        }
      case "VP8L" =>
        // 0x2F signature, then 14-bit (width−1) and (height−1)
        // bit-packed LSB-first in the next 4 bytes; bit 32 of the
        // stream (alpha_is_used) is bit 4 of the 4th byte
        if (sz < 5 || b.length < d + 5) None
        else if ((b(d) & 0xFF) != 0x2F) None
        else {
          val b1 = b(d + 1) & 0xFF
          val b2 = b(d + 2) & 0xFF
          val b3 = b(d + 3) & 0xFF
          val b4 = b(d + 4) & 0xFF
          val w = 1L + (((b2 & 0x3F) << 8) | b1)
          val h = 1L + (((b4 & 0x0F) << 10) | (b3 << 2) | (b2 >> 6))
          val alpha = ((b4 >> 4) & 1) == 1
          Some(("VP8L", w, h, alpha, false))
        }
      case "VP8X" =>
        // flags byte + 3 reserved, then 24-bit LE canvas dims − 1
        if (sz < 10 || b.length < d + 10) None
        else {
          val flags = b(d) & 0xFF
          Some(("VP8X", 1L + le24(b, d + 4), 1L + le24(b, d + 7),
            (flags & 0x10) != 0, (flags & 0x02) != 0))
        }
      case _ => None
    }
  }

  private val webpInfoUdf = udf((b: Array[Byte]) => webpInfo(b))

  // ---- TIFF header walk (metadata only) -------------------------------

  /** TIFF dimensions + IFD entry count: both byte orders (`II` little,
    * `MM` big), the 0x2A version check, first-IFD walk reading the
    * ImageWidth (256) / ImageLength (257) tags in their SHORT or LONG
    * forms. Metadata only — multi-strip/compressed TIFF decode is out
    * of scope (ImageIO's plain path handles what the JVM can; this
    * walk serves the filter on archival/scanned corpora where TIFF
    * still dominates).
    */
  private[graft] def tiffInfo(
      b: Array[Byte]): Option[(Boolean, Long, Long, Int)] = {
    if (b == null || b.length < 8) return None
    val little =
      if (b(0) == 'I'.toByte && b(1) == 'I'.toByte) true
      else if (b(0) == 'M'.toByte && b(1) == 'M'.toByte) false
      else return None
    def u16(o: Int): Int =
      if (little) (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      else ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    def u32(o: Int): Long =
      if (little) (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
      else ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    if (u16(2) != 42) return None
    val ifd = u32(4)
    if (ifd < 8 || ifd + 2 > b.length) return None
    val n = u16(ifd.toInt)
    if (ifd + 2 + 12L * n > b.length) return None
    var w = -1L
    var h = -1L
    var i = 0
    while (i < n) {
      val e = (ifd + 2 + 12 * i).toInt
      val tag = u16(e)
      val typ = u16(e + 2)
      // inline value: SHORT (3) reads 2 bytes, LONG (4) reads 4 —
      // both fit the 4-byte value slot when count == 1
      if ((tag == 256 || tag == 257) && u32(e + 4) == 1L) {
        val v =
          if (typ == 3) u16(e + 8).toLong
          else if (typ == 4) u32(e + 8)
          else -1L
        if (v >= 0) { if (tag == 256) w = v else h = v }
      }
      i += 1
    }
    if (w <= 0 || h <= 0) None else Some((little, w, h, n))
  }

  private val tiffInfoUdf = udf((b: Array[Byte]) => tiffInfo(b))

  /** Metadata projection over a TIFF-bearing DataFrame: id + byte
    * order, dimensions, IFD entry count, `parsed`.
    */
  def tiffMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      evalOnce(tiffInfoUdf(col(binCol))).as("__t"))
      .select(col("id"),
        coalesce(col("__t._1"), lit(false)).as("little_endian"),
        coalesce(col("__t._2"), lit(0L)).as("width"),
        coalesce(col("__t._3"), lit(0L)).as("height"),
        coalesce(col("__t._4"), lit(0)).as("ifd_entries"),
        col("__t").isNotNull.as("parsed"))

  /** Build a minimal TIFF header (either byte order) carrying the
    * dimension tags — the encode twin of [[tiffInfo]] for fixtures.
    */
  def buildTiffHeader(width: Long, height: Long,
      littleEndian: Boolean = true, fillBytes: Int = 32): Array[Byte] = {
    require(width >= 1 && height >= 1, "dims must be positive")
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (littleEndian) { bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF) }
      else { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (littleEndian) {
        bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt)
        bos.write(((v >> 24) & 0xFF).toInt)
      } else {
        bos.write(((v >> 24) & 0xFF).toInt)
        bos.write(((v >> 16) & 0xFF).toInt)
        bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
      }
    bos.write(if (littleEndian) 'I' else 'M')
    bos.write(if (littleEndian) 'I' else 'M')
    w16(42); w32(8L) // IFD right after the header
    w16(3) // three entries: width, length, bits-per-sample
    def entry(tag: Int, typ: Int, value: Long): Unit = {
      w16(tag); w16(typ); w32(1L)
      if (typ == 3) { w16(value.toInt); w16(0) } else w32(value)
    }
    entry(256, if (width > 0xFFFF) 4 else 3, width)
    entry(257, if (height > 0xFFFF) 4 else 3, height)
    entry(258, 3, 8L)
    w32(0L) // no next IFD
    (0 until fillBytes).foreach(i => bos.write(i & 0xFF))
    bos.toByteArray
  }

  // ---- EXIF-in-JPEG (the APP1 bridge into the TIFF IFD walk) --------

  /** EXIF metadata lifted out of a JPEG's APP1 segment — the single
    * most queried image metadata in real corpora (orientation,
    * timestamps, camera make/model). EXIF is literally a TIFF blob
    * behind an `Exif\0\0` preamble inside JPEG marker segment 0xFFE1,
    * so this is the published JPEG marker walk (big-endian segment
    * lengths, stop at SOS — entropy-coded data is never scanned)
    * bridged into the same IFD arithmetic [[tiffInfo]] uses, extended
    * to the IFD0 camera tags and the Exif sub-IFD
    * (0x8769 pointer → DateTimeOriginal / ISO / pixel dims). Missing
    * tags report zero/empty with `parsed = true` (a JPEG with EXIF
    * but no ISO is not malformed); a missing or non-EXIF APP1, any
    * truncated structure, and hostile offsets refuse
    * (`parsed = false`). Header-only: the read is bounded by the APP1
    * segment (≤ 64 KiB by the marker grammar) however large the
    * image.
    */
  case class ExifMeta(id: Long, littleEndian: Boolean, orientation: Int,
      make: String, model: String, dateTime: String,
      dateTimeOriginal: String, iso: Int, exifWidth: Long,
      exifHeight: Long, parsed: Boolean)

  def parseJpegExifMeta(df: DataFrame, idCol: String,
      binCol: String): Dataset[ExifMeta] = {
    implicit val enc = Encoders.product[ExifMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseJpegExif(r.getAs[Array[Byte]](1)) match {
            case Some(m) => m.copy(id = id)
            case None => ExifMeta(id, littleEndian = false, 0, "", "",
              "", "", 0, 0L, 0L, parsed = false)
          }
        }
    }
  }

  /** Metadata projection — id + the [[ExifMeta]] fields as columns. */
  def jpegExifScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    parseJpegExifMeta(df, idCol, binCol).toDF().select(col("id"),
      col("littleEndian").as("little_endian"),
      col("orientation"), col("make"), col("model"),
      col("dateTime").as("date_time"),
      col("dateTimeOriginal").as("date_time_original"),
      col("iso"),
      col("exifWidth").as("exif_width"),
      col("exifHeight").as("exif_height"),
      col("parsed"))

  /** EXIF-in-WebP: walk the RIFF chunk list (fourcc + LE32 size +
    * data, odd sizes padded) for the extended-WebP `EXIF` chunk and
    * hand its TIFF blob to the shared IFD walk. Writers that prefix
    * the blob with JPEG's `Exif\0\0` marker (common in the wild even
    * though the WebP spec stores raw TIFF) are tolerated by skipping
    * the six marker bytes. None when the container or the blob is
    * malformed or no EXIF chunk exists.
    */
  private[graft] def parseWebpExif(b: Array[Byte]): Option[ExifMeta] = {
    if (b == null || b.length < 12 ||
      b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'E' || b(10) != 'B' || b(11) != 'P')
      return None
    val riffEnd = math.min(8L + le32(b, 4), b.length.toLong)
    var pos = 12L
    while (pos + 8 <= riffEnd) {
      val size = le32(b, (pos + 4).toInt)
      val dataOff = pos + 8
      if (dataOff + size > riffEnd) return None
      if (b(pos.toInt) == 'E' && b((pos + 1).toInt) == 'X' &&
        b((pos + 2).toInt) == 'I' && b((pos + 3).toInt) == 'F') {
        var t0 = dataOff.toInt
        val tEnd = (dataOff + size).toInt
        if (size >= 6 && b(t0) == 'E' && b(t0 + 1) == 'x' &&
          b(t0 + 2) == 'i' && b(t0 + 3) == 'f' && b(t0 + 4) == 0 &&
          b(t0 + 5) == 0) t0 += 6
        return exifFromTiff(b, t0, tEnd)
      }
      pos = dataOff + size + (size & 1L) // odd chunks pad one byte
    }
    None
  }

  /** Append an `EXIF` chunk to an existing WebP and fix the RIFF
    * size — the encode twin of [[parseWebpExif]] (fixture/smoke
    * builder; composes with [[buildWebp]]).
    */
  def webpWithExif(webp: Array[Byte], tiff: Array[Byte]): Array[Byte] = {
    require(webp.length >= 12 && webp(0) == 'R' && webp(8) == 'W',
      "not a WebP")
    val pad = tiff.length & 1
    val out = new Array[Byte](webp.length + 8 + tiff.length + pad)
    System.arraycopy(webp, 0, out, 0, webp.length)
    var o = webp.length
    out(o) = 'E'; out(o + 1) = 'X'; out(o + 2) = 'I'; out(o + 3) = 'F'
    val sz = tiff.length
    out(o + 4) = (sz & 0xFF).toByte; out(o + 5) = ((sz >> 8) & 0xFF).toByte
    out(o + 6) = ((sz >> 16) & 0xFF).toByte
    out(o + 7) = ((sz >> 24) & 0xFF).toByte
    System.arraycopy(tiff, 0, out, o + 8, tiff.length)
    val riffSz = out.length - 8
    out(4) = (riffSz & 0xFF).toByte; out(5) = ((riffSz >> 8) & 0xFF).toByte
    out(6) = ((riffSz >> 16) & 0xFF).toByte
    out(7) = ((riffSz >> 24) & 0xFF).toByte
    out
  }

  /** EXIF-in-PNG: the standardized `eXIf` chunk carries the raw TIFF
    * blob — located by [[Png.parsePng]]'s CRC-verified walk, decoded
    * by the shared IFD walk.
    */
  private[graft] def parsePngExif(b: Array[Byte]): Option[ExifMeta] =
    Png.parsePng(b).flatMap { p =>
      if (p.exifOff < 0) None
      else exifFromTiff(b, p.exifOff, p.exifOff + p.exifLen)
    }

  /** CONTAINER-AUTO EXIF scan: dispatch each payload by magic — JPEG
    * through the APP1 marker walk, WebP through the RIFF chunk walk,
    * PNG through the CRC-verified `eXIf` chunk — into ONE projection
    * (the [[jpegExifScan]] columns plus the sniffed `container`).
    * One scan of the binary column; unknown containers and
    * EXIF-less payloads are `parsed = false`.
    */
  def exifScanAuto(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[ExifAuto]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          val (container, m) =
            if (b != null && b.length >= 2 && (b(0) & 0xFF) == 0xFF &&
              (b(1) & 0xFF) == 0xD8) ("jpeg", parseJpegExif(b))
            else if (b != null && b.length >= 12 && b(0) == 'R' &&
              b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
              b(8) == 'W' && b(9) == 'E' && b(10) == 'B' &&
              b(11) == 'P') ("webp", parseWebpExif(b))
            else if (b != null && b.length >= 8 &&
              (b(0) & 0xFF) == 0x89 && b(1) == 'P') ("png",
              parsePngExif(b))
            else ("", None)
          m match {
            case Some(e) => ExifAuto(id, container, e.littleEndian,
              e.orientation, e.make, e.model, e.dateTime,
              e.dateTimeOriginal, e.iso, e.exifWidth, e.exifHeight,
              parsed = true)
            case None => ExifAuto(id, container, littleEndian = false,
              0, "", "", "", "", 0, 0L, 0L, parsed = false)
          }
        }
    }.toDF().select(col("id"), col("container"),
      col("littleEndian").as("little_endian"),
      col("orientation"), col("make"), col("model"),
      col("dateTime").as("date_time"),
      col("dateTimeOriginal").as("date_time_original"),
      col("iso"),
      col("exifWidth").as("exif_width"),
      col("exifHeight").as("exif_height"),
      col("parsed"))
  }

  /** One image comment: `container` ∈ jpeg|png|gif, `source` names
    * the carrying structure (`com` segment, png text-chunk kind,
    * `comment_ext`), `keyword` is PNG's chunk keyword (empty for the
    * keyword-less jpeg/gif forms).
    */
  case class ImageComment(id: Long, container: String, source: String,
      keyword: String, text: String)

  /** ONE comment scan over a MIXED image corpus — the image
    * counterpart of the unified audio tag scan: provenance text lives
    * in a JPEG COM segment, a PNG tEXt/zTXt/iTXt chunk, or a GIF
    * comment extension depending on the container (generated-image
    * detectors read exactly these). Dispatch per row by magic;
    * commentless and malformed files emit nothing.
    */
  def imageCommentScan(df: DataFrame, idCol: String, binCol: String,
      maxTextBytes: Int = 1 << 20): DataFrame = {
    require(maxTextBytes > 0, "maxTextBytes must be positive")
    implicit val enc = Encoders.product[ImageComment]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          if (b == null || b.length < 6) Nil
          else if ((b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8)
            jpegComments(b, maxTextBytes).map(t =>
              ImageComment(id, "jpeg", "com", "", t))
          else if ((b(0) & 0xFF) == 0x89 && b(1) == 'P')
            Png.textChunksOf(b, maxTextBytes).map { case (k, v, kind) =>
              ImageComment(id, "png", kind, k, v)
            }
          else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
            Gif.gifComments(b, maxTextBytes).map(t =>
              ImageComment(id, "gif", "comment_ext", "", t))
          else Nil
        }
    }.toDF().select(col("id"), col("container"), col("source"),
      col("keyword"), col("text"))
  }

  /** COM (0xFE) segments out of a JPEG's marker walk, stopping at
    * SOS. Malformed marker structure refuses (empty). A segment whose
    * text exceeds `maxTextBytes` emits nothing for that SEGMENT (the
    * PNG arm's per-chunk refusal), never a truncation.
    */
  private[graft] def jpegComments(b: Array[Byte],
      maxTextBytes: Int = Int.MaxValue): Seq[String] = {
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF ||
      (b(1) & 0xFF) != 0xD8) return Nil
    val out = Seq.newBuilder[String]
    var pos = 2
    while (pos + 2 <= b.length) {
      if ((b(pos) & 0xFF) != 0xFF) return Nil
      val m = b(pos + 1) & 0xFF
      if (m == 0xD9 || m == 0xDA) return out.result() // EOI / SOS
      if (m >= 0xD0 && m <= 0xD7) { pos += 2 }
      else {
        if (pos + 4 > b.length) return Nil
        val segLen = ((b(pos + 2) & 0xFF) << 8) | (b(pos + 3) & 0xFF)
        if (segLen < 2 || pos + 2 + segLen > b.length) return Nil
        if (m == 0xFE && segLen - 2 <= maxTextBytes)
          out += new String(b, pos + 4, segLen - 2, "UTF-8")
        pos += 2 + segLen
      }
    }
    Nil // ran out before SOS/EOI: malformed
  }

  /** Insert COM segments right after SOI — the encode twin of
    * [[jpegComments]]; the image still decodes (COM is metadata).
    */
  def withJpegComments(jpeg: Array[Byte],
      comments: Seq[String]): Array[Byte] = {
    require(comments.nonEmpty, "no comments")
    require(jpeg.length >= 2 && (jpeg(0) & 0xFF) == 0xFF &&
      (jpeg(1) & 0xFF) == 0xD8, "not a JPEG")
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(jpeg, 0, 2)
    comments.foreach { c =>
      val cb = c.getBytes("UTF-8")
      require(cb.length <= 0xFFFF - 2, "comment over the u16 field")
      bos.write(0xFF); bos.write(0xFE)
      bos.write(((cb.length + 2) >> 8) & 0xFF)
      bos.write((cb.length + 2) & 0xFF)
      bos.write(cb)
    }
    bos.write(jpeg, 2, jpeg.length - 2)
    bos.toByteArray
  }

  /** Output row of [[exifScanAuto]]. */
  case class ExifAuto(id: Long, container: String,
      littleEndian: Boolean, orientation: Int, make: String,
      model: String, dateTime: String, dateTimeOriginal: String,
      iso: Int, exifWidth: Long, exifHeight: Long, parsed: Boolean)

  /** The JPEG marker walk + EXIF IFD parse. */
  private[graft] def parseJpegExif(b: Array[Byte]): Option[ExifMeta] = {
    if (b == null || b.length < 4 || (b(0) & 0xFF) != 0xFF ||
      (b(1) & 0xFF) != 0xD8) return None
    var pos = 2
    var tiff0 = -1
    var tiffEnd = -1
    while (tiff0 < 0 && pos + 4 <= b.length) {
      if ((b(pos) & 0xFF) != 0xFF) return None
      val m = b(pos + 1) & 0xFF
      if (m == 0xD9 || m == 0xDA) return None // EOI/SOS: no EXIF seen
      val segLen = ((b(pos + 2) & 0xFF) << 8) | (b(pos + 3) & 0xFF)
      if (segLen < 2 || pos + 2 + segLen > b.length) return None
      if (m == 0xE1 && segLen >= 8 + 6 &&
        b(pos + 4) == 'E' && b(pos + 5) == 'x' && b(pos + 6) == 'i' &&
        b(pos + 7) == 'f' && b(pos + 8) == 0 && b(pos + 9) == 0) {
        tiff0 = pos + 10
        tiffEnd = pos + 2 + segLen
      }
      pos += 2 + segLen
    }
    if (tiff0 < 0) return None
    exifFromTiff(b, tiff0, tiffEnd)
  }

  /** EXIF IFD walk over the TIFF region `[t0, tEnd)` of `b` — the
    * same endian/IFD arithmetic as [[tiffInfo]], extended to
    * out-of-line values (ASCII strings live at `t0 + offset`) and
    * the Exif sub-IFD.
    */
  private def exifFromTiff(b: Array[Byte], t0: Int,
      tEnd: Int): Option[ExifMeta] = {
    if (tEnd - t0 < 8 || tEnd > b.length) return None
    val little =
      if (b(t0) == 'I'.toByte && b(t0 + 1) == 'I'.toByte) true
      else if (b(t0) == 'M'.toByte && b(t0 + 1) == 'M'.toByte) false
      else return None
    def u16(o: Int): Int =
      if (little) (b(o) & 0xFF) | ((b(o + 1) & 0xFF) << 8)
      else ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    def u32(o: Int): Long =
      if (little) (b(o) & 0xFFL) | ((b(o + 1) & 0xFFL) << 8) |
        ((b(o + 2) & 0xFFL) << 16) | ((b(o + 3) & 0xFFL) << 24)
      else ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
        ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)
    if (u16(t0 + 2) != 42) return None

    var orientation = 0
    var make = ""
    var model = ""
    var dateTime = ""
    var dateTimeOriginal = ""
    var iso = 0
    var exifW = 0L
    var exifH = 0L
    var exifIfd = -1L

    /** One IFD's entries; returns false on structural damage. */
    def walkIfd(ifdOff: Long, sub: Boolean): Boolean = {
      if (ifdOff < 8L || t0 + ifdOff + 2 > tEnd) return false
      val base = (t0 + ifdOff).toInt
      val n = u16(base)
      if (t0 + ifdOff + 2 + 12L * n + 4 > tEnd) return false
      var i = 0
      while (i < n) {
        val e = base + 2 + 12 * i
        val tag = u16(e)
        val typ = u16(e + 2)
        val count = u32(e + 4)
        val tSize = typ match {
          case 1 | 2 | 6 | 7 => 1L // BYTE/ASCII/SBYTE/UNDEFINED
          case 3 | 8 => 2L // SHORT/SSHORT
          case 4 | 9 => 4L // LONG/SLONG
          case 5 | 10 => 8L // RATIONAL/SRATIONAL
          case _ => 0L
        }
        if (tSize > 0L && count >= 0L && count <= Int.MaxValue) {
          val byteLen = tSize * count
          // inline when it fits the 4-byte slot; out-of-line offset
          // is relative to the TIFF origin and must stay in-segment
          val vOff =
            if (byteLen <= 4L) e + 8L
            else t0 + u32(e + 8)
          if (byteLen > 4L && (u32(e + 8) < 8L ||
            vOff + byteLen > tEnd)) return false
          def ascii(): String = {
            var len = byteLen.toInt
            val o = vOff.toInt
            while (len > 0 && b(o + len - 1) == 0) len -= 1
            new String(b, o, len, "US-ASCII")
          }
          def short0(): Int =
            if (typ == 3 && count >= 1L) u16(vOff.toInt) else -1
          def uint0(): Long =
            if (typ == 3 && count >= 1L) u16(vOff.toInt).toLong
            else if (typ == 4 && count >= 1L) u32(vOff.toInt)
            else -1L
          if (!sub) tag match {
            case 0x010F if typ == 2 => make = ascii()
            case 0x0110 if typ == 2 => model = ascii()
            case 0x0112 => val v = short0(); if (v >= 0) orientation = v
            case 0x0132 if typ == 2 => dateTime = ascii()
            case 0x8769 if typ == 4 && count == 1L =>
              exifIfd = u32(e + 8)
            case _ =>
          } else tag match {
            case 0x9003 if typ == 2 => dateTimeOriginal = ascii()
            case 0x8827 => val v = short0(); if (v >= 0) iso = v
            case 0xA002 => val v = uint0(); if (v >= 0) exifW = v
            case 0xA003 => val v = uint0(); if (v >= 0) exifH = v
            case _ =>
          }
        }
        i += 1
      }
      true
    }

    if (!walkIfd(u32(t0 + 4), sub = false)) return None
    if (exifIfd >= 0L && !walkIfd(exifIfd, sub = true)) return None
    Some(ExifMeta(0L, little, orientation, make, model, dateTime,
      dateTimeOriginal, iso, exifW, exifH, parsed = true))
  }

  /** Build an EXIF APP1 payload (the `Exif\0\0` preamble + a real
    * TIFF blob with IFD0 and an Exif sub-IFD) and wrap it in a
    * minimal JPEG, or splice it into an EXISTING JPEG right after its
    * SOI — the encode twin of [[parseJpegExif]]. `into = null` emits
    * SOI + APP1 + a tiny truncated-at-SOS body (enough for the
    * metadata walk, which never reads past the APP1).
    */
  /** Build the raw EXIF TIFF blob (header + IFD0 + Exif sub-IFD +
    * ASCII pool) — the container-independent core every EXIF carrier
    * wraps: JPEG's APP1 ([[buildJpegExif]]), WebP's `EXIF` chunk
    * ([[webpWithExif]]), PNG's `eXIf` chunk ([[Png.buildPng]]).
    */
  def buildExifTiff(orientation: Int, make: String, model: String,
      dateTime: String, dateTimeOriginal: String, iso: Int,
      exifWidth: Long, exifHeight: Long,
      littleEndian: Boolean = true): Array[Byte] = {
    require(orientation >= 0 && orientation <= 8, "orientation 0..8")
    require(iso >= 0 && iso <= 0xFFFF, "iso is a SHORT")
    val tiff = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (littleEndian) { tiff.write(v & 0xFF); tiff.write((v >> 8) & 0xFF) }
      else { tiff.write((v >> 8) & 0xFF); tiff.write(v & 0xFF) }
    def w32(v: Long): Unit =
      if (littleEndian) {
        tiff.write((v & 0xFF).toInt); tiff.write(((v >> 8) & 0xFF).toInt)
        tiff.write(((v >> 16) & 0xFF).toInt)
        tiff.write(((v >> 24) & 0xFF).toInt)
      } else {
        tiff.write(((v >> 24) & 0xFF).toInt)
        tiff.write(((v >> 16) & 0xFF).toInt)
        tiff.write(((v >> 8) & 0xFF).toInt); tiff.write((v & 0xFF).toInt)
      }
    // layout: header(8) IFD0(2 + 5*12 + 4) ExifIFD(2 + 4*12 + 4)
    // then the out-of-line ASCII pool
    val ifd0Entries = 5
    val exifEntries = 4
    val ifd0At = 8L
    val exifAt = ifd0At + 2 + 12L * ifd0Entries + 4
    var pool = exifAt + 2 + 12L * exifEntries + 4
    val poolBytes = new java.io.ByteArrayOutputStream()
    def asciiVal(s: String): (Long, Long) = { // (count, slotValue)
      val bytes = (s + "\u0000").getBytes("US-ASCII")
      if (bytes.length <= 4) {
        var v = 0L
        bytes.zipWithIndex.foreach { case (x, i) =>
          v |= (x & 0xFFL) << (if (littleEndian) 8 * i
            else 8 * (3 - i))
        }
        (bytes.length.toLong, v)
      } else {
        val at = pool
        poolBytes.write(bytes, 0, bytes.length)
        pool += bytes.length
        (bytes.length.toLong, at)
      }
    }
    def entry(tag: Int, typ: Int, count: Long, slot: Long): Unit = {
      w16(tag); w16(typ); w32(count)
      if (typ == 3 && count == 1L) { w16(slot.toInt); w16(0) }
      else w32(slot)
    }
    tiff.write(if (littleEndian) 'I' else 'M')
    tiff.write(if (littleEndian) 'I' else 'M')
    w16(42); w32(ifd0At)
    // IFD0 (tags ascending, as the spec requires)
    val (makeN, makeV) = asciiVal(make)
    val (modelN, modelV) = asciiVal(model)
    val (dtN, dtV) = asciiVal(dateTime)
    w16(ifd0Entries)
    entry(0x010F, 2, makeN, makeV)
    entry(0x0110, 2, modelN, modelV)
    entry(0x0112, 3, 1L, orientation.toLong)
    entry(0x0132, 2, dtN, dtV)
    entry(0x8769, 4, 1L, exifAt)
    w32(0L)
    // Exif sub-IFD
    val (dtoN, dtoV) = asciiVal(dateTimeOriginal)
    w16(exifEntries)
    entry(0x8827, 3, 1L, iso.toLong)
    entry(0x9003, 2, dtoN, dtoV)
    entry(0xA002, 4, 1L, exifWidth)
    entry(0xA003, 4, 1L, exifHeight)
    w32(0L)
    val poolArr = poolBytes.toByteArray
    tiff.write(poolArr, 0, poolArr.length)
    tiff.toByteArray
  }

  def buildJpegExif(orientation: Int, make: String, model: String,
      dateTime: String, dateTimeOriginal: String, iso: Int,
      exifWidth: Long, exifHeight: Long, littleEndian: Boolean = true,
      into: Array[Byte] = null): Array[Byte] = {
    val tiffArr = buildExifTiff(orientation, make, model, dateTime,
      dateTimeOriginal, iso, exifWidth, exifHeight, littleEndian)
    val app1Len = 2 + 6 + tiffArr.length // len field + Exif\0\0 + tiff
    require(app1Len <= 0xFFFF, "APP1 over 64 KiB")
    val app1 = new java.io.ByteArrayOutputStream()
    app1.write(0xFF); app1.write(0xE1)
    app1.write((app1Len >> 8) & 0xFF); app1.write(app1Len & 0xFF)
    app1.write("Exif".getBytes("US-ASCII")); app1.write(0); app1.write(0)
    app1.write(tiffArr, 0, tiffArr.length)
    val seg = app1.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    if (into != null) {
      require(into.length >= 2 && (into(0) & 0xFF) == 0xFF &&
        (into(1) & 0xFF) == 0xD8, "into must be a JPEG")
      out.write(into, 0, 2)
      out.write(seg, 0, seg.length)
      out.write(into, 2, into.length - 2)
    } else {
      out.write(0xFF); out.write(0xD8)
      out.write(seg, 0, seg.length)
      out.write(0xFF); out.write(0xDA) // SOS: the walk stops here
      out.write(0); out.write(4); out.write(0); out.write(0)
    }
    out.toByteArray
  }

  /** Metadata projection over a WebP-bearing DataFrame: id + variant
    * (`VP8 `/`VP8L`/`VP8X`), canvas dims, alpha/animation flags,
    * `parsed`. The header read is ≤ 30 bytes — persist a prefix
    * column at ingest and the filter never touches pixel data.
    */
  def webpMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      evalOnce(webpInfoUdf(col(binCol))).as("__w"))
      .select(col("id"),
        coalesce(col("__w._1"), lit("")).as("variant"),
        coalesce(col("__w._2"), lit(0L)).as("width"),
        coalesce(col("__w._3"), lit(0L)).as("height"),
        coalesce(col("__w._4"), lit(false)).as("alpha"),
        coalesce(col("__w._5"), lit(false)).as("animation"),
        col("__w").isNotNull.as("parsed"))

  /** Build WebP header bytes for each of the three chunk forms — the
    * encode twin of [[webpInfo]] (fixtures/specs; the payload after
    * the header fields is opaque filler, exactly what this library
    * honestly never decodes).
    */
  def buildWebp(variant: String, width: Int, height: Int,
      alpha: Boolean = false, animation: Boolean = false,
      fillBytes: Int = 32): Array[Byte] = {
    require(width >= 1 && height >= 1 && width <= 16384 &&
      height <= 16384, "dims must be in [1, 16384]")
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val body = new java.io.ByteArrayOutputStream()
    variant match {
      case "VP8 " =>
        require(!alpha && !animation, "VP8 carries no alpha/animation")
        body.write(0); body.write(0); body.write(0) // frame tag
        body.write(0x9D); body.write(0x01); body.write(0x2A)
        body.write(width & 0xFF); body.write((width >> 8) & 0x3F)
        body.write(height & 0xFF); body.write((height >> 8) & 0x3F)
      case "VP8L" =>
        require(!animation, "VP8L carries no animation")
        body.write(0x2F)
        val wm = width - 1
        val hm = height - 1
        // 14+14+1(alpha)+3(version=0) bits LSB-first
        var bits = wm.toLong | (hm.toLong << 14) |
          ((if (alpha) 1L else 0L) << 28)
        (0 until 4).foreach { _ =>
          body.write((bits & 0xFF).toInt); bits >>>= 8
        }
      case "VP8X" =>
        body.write((if (alpha) 0x10 else 0) |
          (if (animation) 0x02 else 0))
        body.write(0); body.write(0); body.write(0)
        def w24(v: Int): Unit = {
          body.write(v & 0xFF); body.write((v >> 8) & 0xFF)
          body.write((v >> 16) & 0xFF)
        }
        w24(width - 1); w24(height - 1)
      case other =>
        throw new IllegalArgumentException(s"unknown variant: $other")
    }
    (0 until fillBytes).foreach(i => body.write(i & 0xFF))
    val chunk = body.toByteArray
    tag4("RIFF"); w32(4L + 8L + chunk.length + (chunk.length & 1))
    tag4("WEBP"); tag4(variant); w32(chunk.length.toLong)
    bos.write(chunk, 0, chunk.length)
    if ((chunk.length & 1) == 1) bos.write(0)
    bos.toByteArray
  }

  // ---- hashing / fingerprints (builtin, binary-native) -----------------

  def contentMd5(c: Column): Column = md5(c)
  def contentSha256(c: Column): Column = sha2(c, 256)
  def byteLength(c: Column): Column = length(c).cast("long")

  // ---- image decode (mapPartitions, javax.imageio) ---------------------

  /** Per-task-thread reused ImageReaders keyed by sniffed container
    * format: `ImageIO.read` pays plugin-registry lookup + reader
    * creation + dispose PER CALL — measured 3.9× on MJPEG-sized
    * JPEGs and 1.7× on 64×64 PNGs single-threaded, worse under
    * multi-thread registry contention — and every decode loop here
    * runs over millions of payloads. Same plugins, same rasters
    * (parity held by every existing round-trip spec). Unknown magics
    * fall back to plain `ImageIO.read`; a failed decode drops the
    * thread's reader for that format so no plugin state leaks.
    */
  private val readerTl: ThreadLocal[
      scala.collection.mutable.HashMap[String, javax.imageio.ImageReader]] =
    new ThreadLocal[
        scala.collection.mutable.HashMap[String, javax.imageio.ImageReader]] {
      override def initialValue() =
        scala.collection.mutable.HashMap.empty
    }

  private def sniffFormat(b: Array[Byte]): Option[String] =
    if (b.length >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P'.toByte)
      Some("png")
    else if (b.length >= 3 && (b(0) & 0xFF) == 0xFF &&
      (b(1) & 0xFF) == 0xD8) Some("jpeg")
    else if (b.length >= 3 && b(0) == 'G'.toByte && b(1) == 'I'.toByte &&
      b(2) == 'F'.toByte) Some("gif")
    else if (b.length >= 2 && b(0) == 'B'.toByte && b(1) == 'M'.toByte)
      Some("bmp")
    else None

  /** The one ImageIO entry point of the image family: decode any
    * supported payload, reusing a per-thread reader when the magic
    * identifies the container. None for null/empty/undecodable.
    */
  private[graft] def readImage(
      bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else sniffFormat(bytes) match {
      case Some(fmt) =>
        try {
          val readers = readerTl.get()
          val reader = readers.getOrElseUpdate(fmt,
            javax.imageio.ImageIO.getImageReadersByFormatName(fmt).next())
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(iis)
            Option(reader.read(0))
          } finally iis.close()
        } catch {
          case _: Exception => readerTl.get().remove(fmt); None
        }
      case None =>
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(bytes)))
        catch { case _: Exception => None }
    }

  /** Output row of the image decode stage. `decoded` is true when the
    * pixels were really decoded; false rows carry header-derived dims
    * and a deterministic pseudo-feature vector (undecodable payload).
    */
  case class DecodedImage(
      id: Long, width: Long, height: Long, channels: Int,
      features: Array[Float], decoded: Boolean)

  /** Decode + feature-extract stage. `mapPartitions` streams (id,
    * payload) records one in memory at a time — the shape a vectorized
    * decoder (batch of payloads → batch of tensors) plugs into.
    *
    * Decode is `javax.imageio` (pure JVM: PNG, GIF, JPEG, BMP): dims
    * from the decoded raster, features = `dim`-bin luminance histogram
    * of the real pixels, normalized to [0,1]. Payloads ImageIO cannot
    * decode keep the old deterministic fallback — header dims +
    * md5-derived fake features in [0,1) — flagged `decoded = false`.
    */
  def decodeImage(df: DataFrame, idCol: String, binCol: String,
      dim: Int = 16): Dataset[DecodedImage] = {
    require(dim > 0, "dim must be positive")
    implicit val enc = Encoders.product[DecodedImage]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          realDecode(id, bytes, dim).getOrElse {
            val dims = headerDims(bytes).getOrElse((0L, 0L))
            val md = java.security.MessageDigest.getInstance("MD5")
              .digest(if (bytes == null) Array.emptyByteArray else bytes)
            val features = Array.tabulate(dim) { i =>
              ((md(i % md.length) & 0xFF).toFloat / 256f)
            }
            DecodedImage(id, dims._1, dims._2, channels = 3, features,
              decoded = false)
          }
        }
    }
  }

  /** Former name of `decodeImage`, kept for source compatibility. */
  def decodeImageStub(df: DataFrame, idCol: String, binCol: String,
      dim: Int = 16): Dataset[DecodedImage] = decodeImage(df, idCol, binCol, dim)

  /** Output row of the resize stage. `resized` is false for payloads
    * no codec could decode — those pass through byte-identical.
    */
  case class ResizedImage(id: Long, width: Long, height: Long,
      content: Array[Byte], resized: Boolean)

  /** Resize stage: decode (`javax.imageio`) → bilinear scale to
    * (targetW, targetH) on a headless `BufferedImage` → re-encode PNG
    * (deterministic: PNG is lossless and ImageIO's encoder is
    * configuration-free). Undecodable payloads pass through unchanged
    * with `resized = false` — the honest fallback, mirroring
    * [[decodeImage]]. Same `mapPartitions` one-payload-in-memory shape;
    * a vectorized decoder drops into the same stage.
    */
  def resizeImage(df: DataFrame, idCol: String, binCol: String,
      targetW: Int = 64, targetH: Int = 64): Dataset[ResizedImage] = {
    require(targetW > 0 && targetH > 0, "target dims must be positive")
    implicit val enc = Encoders.product[ResizedImage]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          readImage(bytes) match {
            case Some(src) =>
              val dst = new java.awt.image.BufferedImage(targetW, targetH,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              try {
                g.setRenderingHint(
                  java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(src, 0, 0, targetW, targetH, null)
              } finally g.dispose()
              val out = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(dst, "png", out)
              ResizedImage(id, targetW.toLong, targetH.toLong,
                out.toByteArray, resized = true)
            case None =>
              val dims = headerDims(bytes).getOrElse((0L, 0L))
              ResizedImage(id, dims._1, dims._2,
                if (bytes == null) Array.emptyByteArray else bytes,
                resized = false)
          }
        }
    }
  }

  /** Build a canonical 24-bit uncompressed BMP from top-down row-major
    * BGR pixels (`bgr(3·(y·width + x) + c)`, c = B,G,R): 54-byte
    * header, rows flipped bottom-up, stride padded to 4 bytes — the
    * decode twin of every ImageIO read in this file (specs pin the
    * round trip) and the fixture/oracle payload builder, mirroring
    * [[Video.buildUncompressedAvi]]'s role for containers.
    */
  def buildBmp(width: Int, height: Int,
      bgr: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, "dims must be positive")
    require(bgr.length == 3 * width * height,
      s"buildBmp: expected ${3 * width * height} BGR bytes, " +
        s"got ${bgr.length}")
    val stride = ((3 * width + 3) / 4) * 4
    val len = stride * height
    val out = new Array[Byte](54 + len)
    def w32(o: Int, v: Long): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte
      out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    w32(2, 54L + len); w32(6, 0L); w32(10, 54L)
    w32(14, 40L); w32(18, width.toLong); w32(22, height.toLong)
    w16(26, 1); w16(28, 24)
    w32(30, 0L); w32(34, len.toLong)
    w32(38, 2835L); w32(42, 2835L); w32(46, 0L); w32(50, 0L)
    var y = 0
    while (y < height) {
      // row y (top-down input) lands at bottom-up position
      System.arraycopy(bgr, 3 * width * y, out,
        54 + stride * (height - 1 - y), 3 * width)
      y += 1
    }
    out
  }

  /** Output row of the tiling stage: `image` is the tile whose
    * top-left pixel is `(tileX · hopX, tileY · hopY)` of image `id`,
    * re-encoded as a standalone BMP. Undecodable payloads emit ONE
    * marker row.
    */
  case class ImageTile(id: Long, tileX: Int, tileY: Int,
      image: Array[Byte], decoded: Boolean)

  /** Slice each decodable image into fixed-size tiles and emit each
    * as its own row, re-encoded as a REAL standalone BMP — the image
    * member of the fragment-bridge family
    * ([[Video.sampleFrameImages]] / [[Audio.segmentClips]]): tiles
    * ride the ENTIRE image machinery downstream, so
    * find-images-containing-known-crops is plain composition — index
    * the known images' tiles, admit a candidate's tiles against it.
    * Tile (tx, ty) covers pixels `[tx·hopX, tx·hopX + tileW) ×
    * [ty·hopY, ty·hopY + tileH)`; tiles that do not fit entirely
    * inside the image are NOT emitted (a zero-padded edge tile would
    * pair unrelated images by the padding). `hop < tile` yields
    * overlapping shingles — the alignment-robust layout; the hops are
    * the detection granularity, and also the output-size knob: a
    * payload emits ~`(w/hopX)·(h/hopY)` tiles of `3·tileW·tileH`
    * bytes each (the blowup is QUADRATIC in 1/hop — hopX = hopY = 1
    * re-emits every pixel `tileW·tileH` times), so size the hops to
    * the coarsest alignment the hunt tolerates. Pixels are read through the SAME
    * ImageIO decode every image operator uses (any supported codec
    * in, canonical BMP out), so a tile of a PNG and the same crop
    * saved as BMP hash identically.
    */
  def tileImages(df: DataFrame, idCol: String, binCol: String,
      tileW: Int, tileH: Int, hopX: Int = 0,
      hopY: Int = 0): Dataset[ImageTile] = {
    require(tileW > 0 && tileH > 0, "tile dims must be positive")
    require(hopX >= 0 && hopY >= 0, "hops must be >= 0 (0 = tile dim)")
    val hx = if (hopX == 0) tileW else hopX
    val hy = if (hopY == 0) tileH else hopY
    implicit val enc = Encoders.product[ImageTile]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          // canonical-BMP fast path first (the [[luminanceGrids]]
          // dispatch): tile-of-BMP pipelines — video frames, prior
          // tiling output, needle hunts over [[buildBmp]] fixtures —
          // then slice by ROW-WISE arraycopy with no ImageIO decode
          // and no per-pixel getRGB (measured 2.5x on the grid path);
          // any other header falls through to ImageIO, bit-identical
          // output either way (getRGB on a 24-bit BMP returns exactly
          // these bytes — parity spec-pinned)
          val dims: Option[(Int, Int, (Int, Int, Array[Byte]) => Unit)] =
            canonicalBmpRaw(bytes) match {
              case Some((w, h, stride)) =>
                Some((w, h, (tx: Int, ty: Int, bgr: Array[Byte]) => {
                  var y = 0
                  while (y < tileH) {
                    val srcY = ty * hy + y
                    System.arraycopy(bytes,
                      54 + stride * (h - 1 - srcY) + 3 * tx * hx,
                      bgr, 3 * y * tileW, 3 * tileW)
                    y += 1
                  }
                }))
              case None =>
                readImage(bytes).map { bi =>
                  (bi.getWidth, bi.getHeight,
                    (tx: Int, ty: Int, bgr: Array[Byte]) => {
                      var y = 0
                      while (y < tileH) {
                        var x = 0
                        while (x < tileW) {
                          val rgb = bi.getRGB(tx * hx + x, ty * hy + y)
                          val o = 3 * (y * tileW + x)
                          bgr(o) = (rgb & 0xFF).toByte
                          bgr(o + 1) = ((rgb >> 8) & 0xFF).toByte
                          bgr(o + 2) = ((rgb >> 16) & 0xFF).toByte
                          x += 1
                        }
                        y += 1
                      }
                    })
                }
            }
          dims match {
            case Some((w, h, fill)) =>
              for {
                ty <- 0 to (if (h >= tileH) (h - tileH) / hy else -1)
                tx <- 0 to (if (w >= tileW) (w - tileW) / hx else -1)
              } yield {
                val bgr = new Array[Byte](3 * tileW * tileH)
                fill(tx, ty, bgr)
                ImageTile(id, tx, ty, buildBmp(tileW, tileH, bgr),
                  decoded = true)
              }
            case None => Seq(ImageTile(id, -1, -1,
              Array.emptyByteArray, decoded = false))
          }
        }
    }
  }

  /** In-JVM decode + luminance-histogram features; None when ImageIO
    * has no codec for (or chokes on) the payload.
    */
  private def realDecode(id: Long, bytes: Array[Byte],
      dim: Int): Option[DecodedImage] =
    if (bytes == null || bytes.isEmpty) None
    else try {
      readImage(bytes).map { bi =>
        val w = bi.getWidth
        val h = bi.getHeight
        val hist = new Array[Long](dim)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = bi.getRGB(x, y)
            // integer Rec.601 luma in [0,255]
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            hist(lum * dim / 256) += 1
            x += 1
          }
          y += 1
        }
        val total = w.toLong * h
        DecodedImage(id, w.toLong, h.toLong,
          channels = bi.getColorModel.getNumComponents,
          features = Array.tabulate(dim)(i => hist(i).toFloat / total),
          decoded = true)
      }
    } catch { case _: Exception => None }

  /** Driver-free header parse used by the stub (PNG/GIF/JPEG). */
  private def headerDims(bytes: Array[Byte]): Option[(Long, Long)] = {
    def be32(o: Int) =
      ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    if (bytes == null || bytes.length < 10) None
    else if ((bytes(0) & 0xFF) == 0x89 && bytes(1) == 'P' && bytes.length >= 24)
      Some((be32(16), be32(20)))
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F')
      Some((le16(bytes, 6).toLong, le16(bytes, 8).toLong))
    else jpegDims(bytes).map(d => (d._1, d._2))
  }

  /** Frame-sampling plan for a video column: n deterministic, evenly
    * spaced sample offsets in [0, durationMs) — the SELECTION is the
    * real operator (what a frame-extract stage fans out over); actual
    * frame decode would consume (payload, offset) pairs downstream.
    * Returns array<bigint> of millisecond offsets.
    */
  def sampleFrameOffsets(durationMs: Column, n: Int): Column =
    when(durationMs.isNull || durationMs <= 0, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), lit(n - 1)),
        i => (i.cast("long") * durationMs.cast("long") / n).cast("bigint")))

  // ---- perceptual image hashing (dHash / aHash + Hamming pairs) --------

  /** Output row of the luminance-grid stage: `grid` is row-major
    * (`gh` rows × `gw` columns) integer luma in [0, 255]; `decoded`
    * false rows carry a deterministic md5-derived pseudo-grid (same
    * fallback contract as [[decodeImage]]).
    */
  case class LuminanceGrid(id: Long, grid: Seq[Seq[Int]], decoded: Boolean)

  /** Decode each payload and box-sample its integer Rec.601 luminance
    * onto a `gw`×`gh` grid — the perceptual-hash front end. Sampling
    * is an exact integer box average over the source pixels mapped to
    * each cell (NOT Graphics2D interpolation), so the grid — and every
    * hash derived from it — is bit-deterministic across JVMs and
    * platforms. `mapPartitions`, one payload in memory at a time, the
    * [[decodeImage]] shape; undecodable payloads get an md5-derived
    * pseudo-grid with `decoded = false`.
    */
  def luminanceGrids(df: DataFrame, idCol: String, binCol: String,
      gw: Int = 9, gh: Int = 8): Dataset[LuminanceGrid] = {
    require(gw > 0 && gh > 0, "grid dims must be positive")
    implicit val enc = Encoders.product[LuminanceGrid]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          // canonical-BMP fast path first: [[tileImages]] /
          // [[Video.sampleFrameImages]] admission passes decode
          // MILLIONS of [[buildBmp]]-shaped payloads, and the direct
          // byte walk is several times cheaper than an ImageIO
          // round trip; arithmetic is identical (getRGB on a 24-bit
          // BMP returns exactly these bytes — parity spec-pinned),
          // and ANY header this library's encoder never writes falls
          // through to ImageIO
          val grid = canonicalBmpLuma(bytes) match {
            case Some((w, h, luma)) =>
              Some(boxSample(w, h, luma, gw, gh))
            case None =>
              readImage(bytes).map(bi => boxSampleLuma(bi, gw, gh))
          }
          grid match {
            case Some(g) => LuminanceGrid(id, g, decoded = true)
            case None =>
              val md = java.security.MessageDigest.getInstance("MD5")
                .digest(if (bytes == null) Array.emptyByteArray else bytes)
              val grid = Seq.tabulate(gh, gw)((y, x) =>
                md((y * gw + x) % md.length) & 0xFF)
              LuminanceGrid(id, grid, decoded = false)
          }
        }
    }
  }

  /** (width, height, luma accessor) for payloads carrying EXACTLY the
    * [[buildBmp]] header shape — 'BM', offBits 54, BITMAPINFOHEADER
    * 40, one plane, 24-bit, BI_RGB, bottom-up, full pixel array
    * present. Anything else returns None and the caller uses ImageIO;
    * the accessor computes the SAME integer Rec.601 luma the getRGB
    * path does, from the same bytes.
    */
  private def canonicalBmpLuma(bytes: Array[Byte]):
      Option[(Int, Int, (Int, Int) => Int)] =
    canonicalBmpRaw(bytes).map { case (wi, hi, st) =>
      (wi, hi, (x: Int, y: Int) => {
        val o = 54 + st * (hi - 1 - y) + 3 * x
        ((bytes(o + 2) & 0xFF) * 299 + (bytes(o + 1) & 0xFF) * 587 +
          (bytes(o) & 0xFF) * 114) / 1000
      })
    }

  /** (width, height, stride) of a payload carrying EXACTLY the
    * [[buildBmp]] header shape — the sniff behind every canonical-BMP
    * fast path; None sends the caller to ImageIO.
    */
  private def canonicalBmpRaw(bytes: Array[Byte]):
      Option[(Int, Int, Int)] = {
    if (bytes == null || bytes.length < 54 ||
      bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte ||
      le32(bytes, 10) != 54L || le32(bytes, 14) != 40L ||
      le16(bytes, 26) != 1 || le16(bytes, 28) != 24 || le32(bytes, 30) != 0L) return None
    val w = le32(bytes, 18)
    val h = le32(bytes, 22) // positive = bottom-up, the only shape we write
    if (w <= 0 || w > (1 << 20) || h <= 0 || h > (1 << 20)) return None
    val stride = ((3L * w + 3L) / 4L) * 4L
    if (54L + stride * h > bytes.length) return None
    Some((w.toInt, h.toInt, stride.toInt))
  }

  /** Exact integer box average of Rec.601 luma per grid cell: cell
    * (x, y) averages source pixels [x·w/gw, (x+1)·w/gw) ×
    * [y·h/gh, (y+1)·h/gh) (at least one pixel each — images smaller
    * than the grid repeat edge pixels via the max(1,...) span).
    */
  private def boxSampleLuma(bi: java.awt.image.BufferedImage,
      gw: Int, gh: Int): Seq[Seq[Int]] =
    boxSample(bi.getWidth, bi.getHeight, (x, y) => {
      val rgb = bi.getRGB(x, y)
      (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
        (rgb & 0xFF) * 114) / 1000
    }, gw, gh)

  /** The box-average fold over any (x, y) → luma accessor — one
    * implementation under both the ImageIO and canonical-BMP decode
    * paths, so fast-path parity is structural.
    */
  private def boxSample(w: Int, h: Int, luma: (Int, Int) => Int,
      gw: Int, gh: Int): Seq[Seq[Int]] = {
    Seq.tabulate(gh, gw) { (gy, gx) =>
      val x0 = gx.toLong * w / gw
      val x1 = math.max(x0 + 1, (gx + 1).toLong * w / gw)
      val y0 = gy.toLong * h / gh
      val y1 = math.max(y0 + 1, (gy + 1).toLong * h / gh)
      var sum = 0L
      var n = 0L
      var y = y0
      while (y < y1 && y < h) {
        var x = x0
        while (x < x1 && x < w) {
          sum += luma(x.toInt, y.toInt)
          n += 1
          x += 1
        }
        y += 1
      }
      (sum / math.max(1L, n)).toInt
    }
  }

  /** 64-bit difference hash over a row-major luminance grid column
    * (array<array<int>>, `gh` rows × `gw` ≥ 9 columns — only the
    * first 9×8 cells are read): bit (y·8 + x) is set when
    * grid[y][x] > grid[y][x+1] — the classic dHash gradient signature,
    * robust to re-encoding, scaling, and brightness shifts. Pure
    * integer fold over built-in expressions (codegen'd, no UDF), and
    * the same arithmetic replicates in SQL bit operations
    * (q_image_near_dup).
    */
  /** 1-based row index of bit i (integer division — `/` on int
    * columns is double division in Spark).
    */
  private def row(i: Column): Column =
    (floor(i / 8) + 1).cast("int")

  def dHash64(grid: Column): Column =
    // native one-pass kernel — the SQL fold below (dHash64Sql, the
    // replication recipe) runs 64 interpreted lambda steps with two
    // boxed nested element_at walks per bit; values bit-identical
    // (parity-pinned incl. null grid → 0 and ragged grids)
    graft.expressions.ImageExprs.dHash64Native(grid)

  /** The SQL-fold form of [[dHash64]] — the engine-independent
    * replication recipe and the parity-spec reference.
    */
  private[graft] def dHash64Sql(grid: Column): Column =
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, i) => acc + when(
        element_at(element_at(grid, row(i)), (i % 8) + 1) >
          element_at(element_at(grid, row(i)), (i % 8) + 2),
        GraftFunctions.shiftLeft(lit(1L), i)).otherwise(lit(0L)))

  /** 64-bit average hash over the first 8×8 cells of a luminance grid
    * column: bit (y·8 + x) is set when grid[y][x]·64 ≥ Σ grid — the
    * integer-exact ≥-mean comparison (no division). Same
    * bit-replicable contract as [[dHash64]].
    *
    * The total-luma sum is bound through a single-element `transform`
    * lambda: referencing the sum expression directly inside the outer
    * 64-step fold would re-evaluate the whole 64-cell sum at every
    * step (64×64 element_at per row — measured 3× slower at sf0.1);
    * the lambda variable evaluates it exactly once per row.
    */
  def aHash64(grid: Column): Column =
    // native one-pass kernel (see dHash64); aHash64Sql is the recipe
    graft.expressions.ImageExprs.aHash64Native(grid)

  /** The SQL-fold form of [[aHash64]] — the engine-independent
    * replication recipe and the parity-spec reference.
    */
  private[graft] def aHash64Sql(grid: Column): Column = {
    val total = aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, i) => acc + element_at(
        element_at(grid, row(i)), (i % 8) + 1).cast("long"))
    element_at(transform(array(total), tot =>
      aggregate(sequence(lit(0), lit(63)), lit(0L),
        (acc, i) => acc + when(
          element_at(element_at(grid, row(i)), (i % 8) + 1)
            .cast("long") * 64 >= tot,
          GraftFunctions.shiftLeft(lit(1L), i)).otherwise(lit(0L)))),
      1)
  }

  /** Perceptual image near-duplicate pairs: decode → 9×8 luminance
    * box-sample → perceptual hash → Hamming-banded candidate pairs via
    * [[Dedup.hamming64NearDupPairs]]'s 16-bit block pigeonhole (no
    * all-pairs anywhere) → exact bit_count verify. Catches re-encoded,
    * resized, and brightness-shifted copies that byte-exact hashes
    * ([[contentMd5]]) miss; `maxDistance` ≤ 3 is covered exactly by
    * the 4-block pigeonhole. Only DECODED images participate — the
    * md5 pseudo-grids of undecodable payloads are arbitrary bits and
    * would pair only by md5 accident; route those through exact-byte
    * dedup instead.
    *
    * `hashKind` picks the signature: `"dhash"` (default — the
    * [[dHash64]] gradient hash, robust to brightness shifts),
    * `"ahash"` ([[aHash64]] ≥-mean hash — the standard second vote for
    * flat-field images, where the gradient field is noise: two copies
    * of a near-uniform image with a salient bright region differ in
    * most dHash bits but agree bit-for-bit under aHash), or `"both"`
    * (the union of the two banded searches — a pair qualifies when
    * EITHER hash is within `maxDistance`; `distance` is the smaller
    * of its qualifying hash distances; the decoded grids are
    * checkpointed once, so the expensive decode is not paid twice).
    * Returns (a, b, distance), a < b.
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int = 3, maxBucket: Int = 1000,
      hashKind: String = "dhash"): DataFrame = {
    require(Set("dhash", "ahash", "both")(hashKind),
      s"imageNearDupPairs: hashKind must be dhash|ahash|both, " +
        s"got '$hashKind'")
    val grids0 = luminanceGrids(df, idCol, binCol, gw = 9, gh = 8)
      .toDF()
      .filter(col("decoded"))
    // "both" reads the grids twice — checkpoint so decode runs once
    val grids =
      if (hashKind == "both") grids0.localCheckpoint(true) else grids0
    def pairsFor(h: Column => Column): DataFrame =
      Dedup.hamming64NearDupPairs(
        grids.select(col("id"), h(col("grid")).as("sig")),
        "id", "sig", maxDistance, maxBucket)
    hashKind match {
      case "dhash" => pairsFor(dHash64)
      case "ahash" => pairsFor(aHash64)
      case _ =>
        pairsFor(dHash64).unionByName(pairsFor(aHash64))
          .groupBy(col("a"), col("b"))
          .agg(min(col("distance")).as("distance"))
    }
  }

  // ---- persisted image signature index (build once, admit many) ----

  private val ImageIndexSidecar = "_graft_image_index_params.json"

  private def imageIndexParamsJson(hashKind: String): String =
    Seq("kind" -> "image_near_dup", "hashKind" -> hashKind,
      "grid" -> "9x8")
      .map { case (k, v) =>
        s"${graft.JsonStr(k)}:${graft.JsonStr(v)}" }
      .mkString("{", ",", "}")

  private def readImageIndexParams(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      who: String): String =
    SigIndex.readParams(spark, indexPath, ImageIndexSidecar,
      "writeImageNearDupIndex", who)

  /** The per-image signature rows (id, sh) of decoded payloads under
    * one hash kind — the shared kernel of the index writers and the
    * admission path (identical frames on both, so indexed admission ≡
    * re-hashing the corpus by construction).
    */
  private def imageSigs(df: DataFrame, idCol: String, binCol: String,
      hashKind: String): DataFrame = {
    val h: Column => Column =
      if (hashKind == "dhash") dHash64 else aHash64
    luminanceGrids(df, idCol, binCol, gw = 9, gh = 8).toDF()
      .filter(col("decoded"))
      .select(col("id"), h(col("grid")).as("sh"))
  }

  /** Persist the corpus side of perceptual image dedup as a REUSABLE
    * index: the 64-bit signatures of every decodable payload plus a
    * fail-loud params sidecar recording the hash kind. At 100 TB the
    * corpus-side DECODE dominates every snapshot admission — a daily
    * image re-crawl against a static corpus re-decodes the whole
    * corpus each run unless the signatures are an artifact; this
    * makes them one (build once, admit many — the
    * [[Dedup.writeNearDupIndex]] lifecycle for images, at 8 bytes per
    * indexed image). `hashKind` is `"dhash"` or `"ahash"` (an index
    * stores ONE signature family; build two indexes for a dual-vote
    * setup). A rebuild drops any append batches from a previous index
    * generation.
    */
  def writeImageNearDupIndex(corpus: DataFrame, idCol: String,
      binCol: String, path: String, hashKind: String = "dhash"): Unit = {
    require(Set("dhash", "ahash")(hashKind),
      s"writeImageNearDupIndex: hashKind must be dhash|ahash, " +
        s"got '$hashKind'")
    graft.operators.TopK.requireIntegral(corpus, idCol,
      "writeImageNearDupIndex")
    SigIndex.write(corpus.sparkSession, path, ImageIndexSidecar,
      imageIndexParamsJson(hashKind),
      Seq("sigs" -> imageSigs(corpus, idCol, binCol, hashKind)))
  }

  /** Extend a [[writeImageNearDupIndex]] artifact with newly-admitted
    * images — admit → append → the next snapshot dedups against
    * corpus + admissions, without rebuilding. The batch stages under
    * `batches/<id>/` and becomes visible only when the atomic
    * `_graft_committed` marker lands ([[Dedup.appendToNearDupIndex]]'s
    * transactional contract); the sidecar's hash kind is validated
    * fail-loud first (signatures hashed under a different family
    * would silently never match). Caller contract: ids disjoint from
    * the indexed corpus.
    */
  def appendToImageNearDupIndex(newImages: DataFrame, idCol: String,
      binCol: String, indexPath: String,
      hashKind: String = "dhash"): Unit = {
    graft.operators.TopK.requireIntegral(newImages, idCol,
      "appendToImageNearDupIndex")
    val spark = newImages.sparkSession
    SigIndex.requireParams(
      readImageIndexParams(spark, indexPath,
        "appendToImageNearDupIndex"),
      imageIndexParamsJson(hashKind), indexPath,
      "appendToImageNearDupIndex")
    SigIndex.appendBatch(spark, indexPath,
      Seq("sigs" -> imageSigs(newImages, idCol, binCol, hashKind)))
  }

  /** Admit a snapshot of images against a [[writeImageNearDupIndex]]
    * artifact: drop every snapshot image whose signature is within
    * `maxDistance` of ANY indexed signature; keep the rest (all input
    * columns). The corpus side is a READ of 8-byte signatures — no
    * decode; the snapshot side decodes once. Candidates come from the
    * cross-side 16-bit block pigeonhole ([[Dedup.hamming64CrossMatches]]
    * — a bucket with no snapshot member contributes nothing), exact
    * bit_count verifies. Undecodable snapshot payloads carry no
    * perceptual signature and are ADMITTED — route them through
    * exact-byte dedup ([[Dedup.incrementalDedup]] on [[contentMd5]]),
    * as [[imageNearDupPairs]] documents. Within-snapshot near-dups
    * are out of scope — compose with [[imageNearDupPairs]] +
    * [[Dedup.nearDedup]] on the snapshot first.
    *
    * `strictBuckets = true` fails loud (instead of silently dropping
    * matches) when any indexed-signature bucket exceeds `maxBucket` —
    * the needle-hunt guard ([[Dedup.hamming64CrossMatches]]); costs
    * one extra pass over the 8-byte index read.
    */
  def incrementalImageNearDedup(snapshot: DataFrame, idCol: String,
      binCol: String, indexPath: String, maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    graft.operators.TopK.requireIntegral(snapshot, idCol,
      "incrementalImageNearDedup")
    val spark = snapshot.sparkSession
    val persisted = readImageIndexParams(spark, indexPath,
      "incrementalImageNearDedup")
    val m = java.util.regex.Pattern
      .compile("\"hashKind\":\"(dhash|ahash)\"").matcher(persisted)
    require(m.find(),
      s"incrementalImageNearDedup: malformed sidecar: $persisted")
    val hashKind = m.group(1)
    val corpusSigs = spark.read.parquet(
      Dedup.indexSidePaths(spark, indexPath, "sigs"): _*)
    val snapSigs = imageSigs(snapshot, idCol, binCol, hashKind)
    val matched = Dedup.hamming64CrossMatches(corpusSigs, snapSigs,
      maxDistance, maxBucket, strictBuckets)
    snapshot.join(matched, snapshot(idCol) === matched("b"),
      "left_anti")
  }

  /** NEEDLE HUNT: find images that CONTAIN a known crop — tile every
    * image ([[tileImages]]), hash each tile under the index's OWN
    * recorded hash kind, and return every tile within `maxDistance`
    * of ANY indexed signature as `(id, tile_x, tile_y)` — the
    * composition whole-image hashing deliberately cannot make (an
    * image containing a crop does not hash near the crop itself).
    * `strictBuckets` defaults to TRUE — the hunt guard
    * ([[Audio.findClipsContainingJingle]]). Size the hops per the
    * [[tileImages]] blowup note; exact containment wants tile dims
    * equal to the indexed crops' and `maxDistance = 0`.
    */
  def findImagesContainingCrop(images: DataFrame, idCol: String,
      binCol: String, indexPath: String, tileW: Int, tileH: Int,
      hopX: Int = 0, hopY: Int = 0, maxDistance: Int = 0,
      maxBucket: Int = 1000, strictBuckets: Boolean = true): DataFrame = {
    graft.operators.TopK.requireIntegral(images, idCol,
      "findImagesContainingCrop")
    val spark = images.sparkSession
    val persisted = readImageIndexParams(spark, indexPath,
      "findImagesContainingCrop")
    val m = java.util.regex.Pattern
      .compile("\"hashKind\":\"(dhash|ahash)\"").matcher(persisted)
    require(m.find(),
      s"findImagesContainingCrop: malformed sidecar: $persisted")
    val h: Column => Column =
      if (m.group(1) == "dhash") dHash64 else aHash64
    val tiles = tileImages(images, idCol, binCol, tileW, tileH, hopX,
      hopY).toDF().filter(col("decoded"))
    val withSig = tiles
      .withColumn("__g", evalOnce(lumaGridUdf(col("image"))))
      .filter(col("__g").isNotNull)
      .select(col("id"), col("tileX").as("tile_x"),
        col("tileY").as("tile_y"), h(col("__g")).as("__sh"))
    Dedup.hamming64CrossMatchRows(
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      withSig, "__sh", maxDistance, maxBucket, strictBuckets)
  }

  /** Per-row 9×8 luminance grid as a scalar UDF — the streaming twin
    * of [[luminanceGrids]] (a streaming plan can't reshape through
    * the typed mapPartitions without dropping the stream's own
    * columns). Binary image decode is the justified-UDF case; one
    * payload in memory at a time, null for undecodable. Callers
    * project it through `evalOnce`: a filter on the grid would
    * otherwise substitute (and re-run) the decode per row (guide §4.4).
    */
  private lazy val lumaGridUdf =
    udf { (bytes: Array[Byte]) =>
      readImage(bytes).map(bi => boxSampleLuma(bi, 9, 8))
    }

  /** Streaming image admission: admit a live image feed against a
    * STATIC [[writeImageNearDupIndex]] artifact — the streaming twin
    * of [[incrementalImageNearDedup]]. A stream image is dropped when
    * its signature is within `maxDistance` of ANY indexed signature
    * sharing a 16-bit block; every other row is emitted in the
    * micro-batch it arrives.
    *
    * Plan per micro-batch: the stream side decodes once (scalar UDF)
    * and hashes under the index's OWN hash kind (read from the
    * sidecar — a mismatched family cannot silently never-match); the
    * keep/drop decision is [[Dedup.hamming64StreamAdmit]] — four 1:1
    * stream-static joins against the capped bucket fold of the 8-byte
    * signature read (no corpus decode), exact bit_count via `exists`.
    * STATELESS by construction: no watermark-keyed aggregation, zero
    * streaming state per row whatever the payload size, duplicate
    * feed rows never collapse, and no emission delay (the
    * pre-round-13 shape keyed an aggregation on the full stream row —
    * binary included — and held every decision until the watermark
    * passed; it also silently dropped rows later than `lateness`,
    * which a stateless filter no longer does — late rows get the same
    * admission decision as on-time ones). `tsCol`/`lateness` still
    * apply a watermark so downstream STATEFUL consumers of the
    * admitted stream inherit one. Undecodable payloads carry a null
    * signature, match nothing, and are ADMITTED — exact-byte dedup's
    * job, as everywhere in this file. Corpus buckets over `maxBucket`
    * members are degenerate (near-constant images) and dropped at
    * read, as in [[Dedup.streamingNearDedup]].
    */
  def streamingImageNearDedup(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, indexPath: String,
      lateness: String = "1 hour", maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    val spark = stream.sparkSession
    val persisted = readImageIndexParams(spark, indexPath,
      "streamingImageNearDedup")
    val m = java.util.regex.Pattern
      .compile("\"hashKind\":\"(dhash|ahash)\"").matcher(persisted)
    require(m.find(),
      s"streamingImageNearDedup: malformed sidecar: $persisted")
    val h: Column => Column =
      if (m.group(1) == "dhash") dHash64 else aHash64
    val streamCols = stream.columns.toSeq
    val withSig = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__grid", evalOnce(lumaGridUdf(col(binCol))))
      .withColumn("__sh",
        when(col("__grid").isNotNull, h(col("__grid"))))
    Dedup.hamming64StreamAdmit(withSig, streamCols,
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      maxDistance, maxBucket, strictBuckets)
  }
}
