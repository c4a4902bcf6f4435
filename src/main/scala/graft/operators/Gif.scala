package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.operators.LittleEndian.le16

/** Animated GIF as COMPRESSED video whose pixels are bit-exact: GIF's
  * LZW is lossless, so a multi-frame GIF decodes to exactly the
  * encoder's palette indices — the compressed-video rung MJPEG cannot
  * provide (DCT output is not oracle-replicable; GIF pixel values
  * are). Everything here derives from the published GIF89a grammar:
  * header + logical screen descriptor, global/local color tables,
  * `0x21` extensions as length-prefixed sub-blocks (the graphic
  * control extension carries per-frame delay/disposal/transparency),
  * `0x2C` image descriptors each followed by an INDEPENDENT LZW code
  * stream (variable code width 3–12 bits LSB-first, clear/EOI codes,
  * 4096-entry dictionary), `0x3B` trailer.
  *
  * The module reuses the [[Video]] family's row shapes verbatim
  * ([[Video.VideoLuma]] / [[Video.SampledFrame]]), so GIF payloads
  * ride the SAME temporal fingerprint, near-dup machinery, and
  * image-family frame bridge with zero new downstream code — and
  * because per-frame luma is the same Σ(r+g+b) definition, a GIF and
  * an uncompressed AVI carrying the SAME pixels fingerprint
  * IDENTICALLY (cross-codec scene detection, spec-pinned).
  *
  * Honesty contract (the [[Video]] one): only full-logical-screen
  * replacement frames decode — a frame with an offset/partial rect,
  * interlacing, a transparent color (pixels showing through from the
  * previous frame), or a restore-type disposal method composites
  * against prior frames, and fabricating that compositing would skew
  * per-frame statistics; such payloads are `decoded = false`. Design
  * for 100 TB: the metadata scan walks only length fields (no LZW
  * work); the sampled decode LZW-decodes ONLY the ≤ `nSamples`
  * sampled frames (each frame's code stream is independent and
  * skipped by its sub-block lengths otherwise); `maxFrameBytes`
  * bounds the decoded raster exactly as in [[Video]].
  */
object Gif {

  /** Header-only GIF metadata: logical screen, frame count, loop-able
    * total delay (centiseconds summed over graphic control
    * extensions), and whether a global color table is present. Cost
    * is a length-field walk — LZW data is skipped by sub-block
    * lengths, never decoded. `parsed = false` rows (bad signature,
    * truncation, malformed block grammar) carry zeros.
    */
  case class GifMeta(id: Long, width: Int, height: Int, frames: Long,
      totalDelayCs: Long, durationMs: Long, globalPalette: Boolean,
      parsed: Boolean)

  def parseGifHeader(df: DataFrame, idCol: String,
      binCol: String): Dataset[GifMeta] = {
    implicit val enc = Encoders.product[GifMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseGif(r.getAs[Array[Byte]](1)) match {
            case Some(g) => GifMeta(id, g.width, g.height,
              g.frames.length, g.totalDelayCs, g.totalDelayCs * 10L,
              g.gct.nonEmpty, parsed = true)
            case None => GifMeta(id, 0, 0, 0L, 0L, 0L,
              globalPalette = false, parsed = false)
          }
        }
    }
  }

  /** Metadata projection — id + the [[GifMeta]] fields as columns. */
  def gifMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame =
    parseGifHeader(df, idCol, binCol).toDF().select(col("id"),
      col("width"), col("height"), col("frames"),
      col("totalDelayCs").as("total_delay_cs"),
      col("durationMs").as("duration_ms"),
      col("globalPalette").as("global_palette"), col("parsed"))

  /** Decode the per-frame luminance of `nSamples` uniformly-sampled
    * frames per GIF — [[Video.decodeSampledLuma]] for the GIF
    * container, emitting the SAME row shape so everything downstream
    * (fingerprint, stats, near-dup) is shared. Luma is the same exact
    * integer Σ(r+g+b) over palette-expanded pixels. Unsampled frames'
    * LZW streams are never decoded.
    */
  def decodeSampledLuma(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): Dataset[Video.VideoLuma] = {
    require(nSamples > 0, "nSamples must be positive")
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    implicit val enc = Encoders.product[Video.VideoLuma]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          decodeLuma(id, r.getAs[Array[Byte]](1), nSamples,
            maxFrameBytes) match {
            case Some(v) => v
            case None => Video.VideoLuma(id, 0, 0, 0L, 0L, Nil, Nil,
              decoded = false)
          }
        }
    }
  }

  /** Sampled GIF frames as REAL standalone BMPs —
    * [[Video.sampleFrameImages]] for the GIF container (the image-
    * family bridge: dHash, grids, the image near-dup index all
    * consume GIF frames with no GIF-specific code). The BMP pixels
    * are the LZW-decoded indices through the palette — bit-exact,
    * unlike any lossy codec.
    */
  def sampleFrameImages(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): Dataset[Video.SampledFrame] = {
    require(nSamples > 0, "nSamples must be positive")
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    implicit val enc = Encoders.product[Video.SampledFrame]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          sampledFrameBmps(r.getAs[Array[Byte]](1), nSamples,
            maxFrameBytes) match {
            case Some((w, h, frames)) => frames.map { case (fi, bmp) =>
              Video.SampledFrame(id, fi, w, h, bmp, decoded = true)
            }
            case None => Seq(Video.SampledFrame(id, -1L, 0, 0,
              Array.emptyByteArray, decoded = false))
          }
        }
    }
  }

  /** (id, sig) 64-bit temporal fingerprints over GIF payloads — the
    * same gradient fold as [[Video.videoSigs]], so a GIF and an AVI
    * of the same pixels carry the SAME signature (cross-codec
    * near-dup by construction).
    */
  def gifSigs(df: DataFrame, idCol: String, binCol: String,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    decodeSampledLuma(df, idCol, binCol, nSamples = 65, maxFrameBytes)
      .toDF().filter(col("decoded"))
      .select(col("id"),
        Audio.audioFingerprint64(col("lumaSums")).as("sig"))

  /** In-corpus perceptual GIF near-dup pairs — [[Video.videoNearDupPairs]]
    * over [[gifSigs]].
    */
  def gifNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int = 3, maxFrameBytes: Int = 1 << 24): DataFrame =
    Dedup.hamming64NearDupPairs(
      gifSigs(df, idCol, binCol, maxFrameBytes), "id", "sig",
      maxDistance)

  /** Decode → exact integer stats — [[Video.videoStats]] for GIF. */
  def gifStats(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    decodeSampledLuma(df, idCol, binCol, nSamples, maxFrameBytes)
      .toDF().filter(col("decoded"))
      .select(col("id"), col("width"), col("height"),
        col("nFrames").as("n_frames"),
        col("durationMs").as("duration_ms"),
        aggregate(col("lumaSums"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        array_max(col("lumaSums")).as("luma_peak"),
        array_min(col("lumaSums")).as("luma_min"))

  // ---- imperative internals (the mapPartitions payload walkers) ------

  /** One frame's structural record: the image-descriptor byte offset
    * (descriptor + optional LCT + LZW stream all re-walkable from
    * it), its graphic-control state, and full-frame eligibility.
    */
  private[graft] final case class FrameRec(descOffset: Int, delayCs: Int,
      disposal: Int, transparent: Boolean)

  private[graft] final case class ParsedGif(width: Int, height: Int,
      gct: Array[Int], totalDelayCs: Long, frames: Vector[FrameRec])

  /** Structural walk: header, screen descriptor, GCT, then the block
    * stream — image descriptors are RECORDED (offset + control
    * state), their LZW data skipped by sub-block lengths. Returns
    * None on bad signature/truncation/malformed grammar. Decode
    * eligibility (full-frame, no interlace, …) is judged per frame at
    * decode time, not here — metadata stays honest for files the
    * decode path refuses.
    */
  private[graft] def parseGif(bytes: Array[Byte]): Option[ParsedGif] = {
    if (bytes == null || bytes.length < 13) return None
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    val w = le16(bytes, 6)
    val h = le16(bytes, 8)
    if (w <= 0 || h <= 0) return None
    val packed = bytes(10) & 0xFF
    var pos = 13
    var gct = Array.emptyIntArray
    if ((packed & 0x80) != 0) {
      val n = 1 << ((packed & 0x07) + 1)
      if (pos + 3 * n > bytes.length) return None
      gct = Array.tabulate(n)(i =>
        ((bytes(pos + 3 * i) & 0xFF) << 16) |
          ((bytes(pos + 3 * i + 1) & 0xFF) << 8) |
          (bytes(pos + 3 * i + 2) & 0xFF))
      pos += 3 * n
    }
    var delayCs = 0
    var disposal = 0
    var transparent = false
    var totalDelay = 0L
    val frames = Vector.newBuilder[FrameRec]
    def skipSubBlocks(): Boolean = {
      while (pos < bytes.length && (bytes(pos) & 0xFF) != 0) {
        val len = bytes(pos) & 0xFF
        if (pos + 1 + len > bytes.length) return false
        pos += 1 + len
      }
      if (pos >= bytes.length) return false
      pos += 1 // the 0 terminator
      true
    }
    while (pos < bytes.length) {
      (bytes(pos) & 0xFF) match {
        case 0x3B => // trailer
          val g = frames.result()
          return Some(ParsedGif(w, h, gct, totalDelay, g))
        case 0x21 => // extension
          if (pos + 2 > bytes.length) return None
          val label = bytes(pos + 1) & 0xFF
          if (label == 0xF9 && pos + 7 <= bytes.length &&
            (bytes(pos + 2) & 0xFF) == 4) {
            val p = bytes(pos + 3) & 0xFF
            disposal = (p >> 2) & 0x07
            transparent = (p & 0x01) != 0
            delayCs = le16(bytes, pos + 4)
          }
          pos += 2
          if (!skipSubBlocks()) return None
        case 0x2C => // image descriptor
          if (pos + 10 > bytes.length) return None
          frames += FrameRec(pos, delayCs, disposal, transparent)
          totalDelay += delayCs
          delayCs = 0; disposal = 0; transparent = false
          val ipacked = bytes(pos + 9) & 0xFF
          pos += 10
          if ((ipacked & 0x80) != 0) { // local color table
            val n = 1 << ((ipacked & 0x07) + 1)
            if (pos + 3 * n > bytes.length) return None
            pos += 3 * n
          }
          if (pos + 1 > bytes.length) return None
          pos += 1 // LZW minimum code size
          if (!skipSubBlocks()) return None
        case _ => return None // unknown block: grammar is broken
      }
    }
    None // ran out before the trailer
  }

  /** What the path-level stream walk ([[parseGifStream]]) can know
    * without frame offsets: the logical screen, frame count, summed
    * GCE delay, and whether a global color table is present —
    * exactly the fields [[parseGifHeader]] projects from
    * [[ParsedGif]].
    */
  private[graft] final case class GifStreamMeta(width: Int,
      height: Int, frames: Long, totalDelayCs: Long,
      globalPalette: Boolean)

  /** The path-level stream form of [[parseGif]]: the same forward
    * block walk — header + logical screen descriptor, color-table
    * skips, `0x21` extensions with the graphic-control delay capture,
    * `0x2C` image descriptors with their LZW sub-blocks hopped by
    * length byte, the `0x3B` trailer — consumed off an `InputStream`
    * with ONE ≤255-byte sub-block resident. The buffered walk needs
    * the whole file in memory; this walk censuses a multi-GiB
    * animation at O(1). On any byte array `b`,
    * `parseGifStream(new ByteArrayInputStream(b))` agrees with
    * `parseGif(b)` on presence and on every [[GifStreamMeta]] field
    * (spec-pinned, including dribbling reads): EOF inside the
    * header, a color table, a descriptor, or a sub-block refuses
    * exactly where the buffered walk's bounds checks do, and both
    * accept at the trailer without reading past it.
    */
  private[graft] def parseGifStream(
      in: java.io.InputStream): Option[GifStreamMeta] = {
    val buf = new Array[Byte](256)
    def readUpTo(off: Int, n: Int): Int = {
      var got = 0
      var r = 0
      while (got < n && r >= 0) {
        r = in.read(buf, off + got, n - got)
        if (r > 0) got += r
      }
      got
    }
    def skipFully(n0: Long): Boolean = {
      var left = n0
      while (left > 0L) {
        val s = in.skip(left)
        if (s > 0L) left -= s
        else if (in.read() < 0) return false
        else left -= 1
      }
      true
    }
    // one byte, or −1 at EOF (dribble-proof by contract of read())
    def byte(): Int = in.read()
    if (readUpTo(0, 13) < 13) return None
    val sig = new String(buf, 0, 6, "US-ASCII")
    if (sig != "GIF89a" && sig != "GIF87a") return None
    val w = le16(buf, 6)
    val h = le16(buf, 8)
    if (w <= 0 || h <= 0) return None
    val packed = buf(10) & 0xFF
    val hasGct = (packed & 0x80) != 0
    if (hasGct && !skipFully(3L * (1 << ((packed & 0x07) + 1))))
      return None
    var delayCs = 0
    var totalDelay = 0L
    var frames = 0L
    while (true) {
      byte() match {
        case 0x3B => // trailer: accept without reading further
          return Some(GifStreamMeta(w, h, frames, totalDelay, hasGct))
        case 0x21 => // extension
          val label = byte()
          if (label < 0) return None
          // the graphic control payload is the extension's FIRST
          // sub-block when its length is 4 — same gate as the
          // buffered walk's `bytes(pos + 2) == 4` peek
          var firstSub = true
          var len = byte()
          if (len < 0) return None
          while (len != 0) {
            if (readUpTo(0, len) < len) return None
            if (firstSub && label == 0xF9 && len == 4)
              delayCs = le16(buf, 1)
            firstSub = false
            len = byte()
            if (len < 0) return None
          }
        case 0x2C => // image descriptor: 9 bytes after the separator
          if (readUpTo(0, 9) < 9) return None
          frames += 1
          totalDelay += delayCs
          delayCs = 0
          val ipacked = buf(8) & 0xFF
          if ((ipacked & 0x80) != 0 &&
            !skipFully(3L * (1 << ((ipacked & 0x07) + 1))))
            return None // truncated local color table
          if (byte() < 0) return None // LZW minimum code size
          var len = byte()
          if (len < 0) return None
          while (len != 0) {
            if (!skipFully(len.toLong)) return None
            len = byte()
            if (len < 0) return None
          }
        case _ => return None // EOF before trailer, or broken grammar
      }
    }
    None // unreachable
  }

  /** GIF-LZW decode of one frame's concatenated sub-block data to
    * exactly `expected` palette indices — the published variable-
    * width (3–12 bit) LSB-first algorithm with clear/EOI codes and
    * the 4096-entry prefix/suffix dictionary. None on any malformed
    * stream (bad code, short data, wrong pixel count).
    */
  /** Comment extensions (label 0xFE): sub-block data concatenated
    * per extension, decoded as UTF-8 — image PROVENANCE text (the
    * GIF counterpart of PNG's tEXt). The file must first pass the
    * container walk; malformed sub-blocks refuse (empty). An
    * extension whose accumulated sub-blocks exceed `maxTextBytes`
    * emits nothing for that EXTENSION (the PNG arm's per-chunk
    * refusal) — buffering stops at the cap, so a degenerate chain
    * costs O(cap) memory, not O(file).
    */
  private[graft] def gifComments(bytes: Array[Byte],
      maxTextBytes: Int = Int.MaxValue): Seq[String] = {
    if (parseGif(bytes).isEmpty) return Nil
    val out = Seq.newBuilder[String]
    // position past header + GCT (same arithmetic as parseGif)
    val packed = bytes(10) & 0xFF
    var pos = 13 + (if ((packed & 0x80) != 0)
      3 * (1 << ((packed & 0x07) + 1)) else 0)
    while (pos < bytes.length && (bytes(pos) & 0xFF) != 0x3B) {
      (bytes(pos) & 0xFF) match {
        case 0x21 =>
          val label = bytes(pos + 1) & 0xFF
          pos += 2
          val buf = new java.io.ByteArrayOutputStream()
          var acc = 0L
          while ((bytes(pos) & 0xFF) != 0) {
            val len = bytes(pos) & 0xFF
            acc += len
            if (acc <= maxTextBytes) buf.write(bytes, pos + 1, len)
            pos += 1 + len
          }
          pos += 1
          if (label == 0xFE && acc <= maxTextBytes)
            out += new String(buf.toByteArray, "UTF-8")
        case 0x2C =>
          val ipacked = bytes(pos + 9) & 0xFF
          pos += 10
          if ((ipacked & 0x80) != 0) pos += 3 * (1 << ((ipacked & 0x07) + 1))
          pos += 1 // LZW min code size
          while ((bytes(pos) & 0xFF) != 0) pos += 1 + (bytes(pos) & 0xFF)
          pos += 1
        case _ => return Nil
      }
    }
    out.result()
  }

  private[graft] def lzwDecode(data: Array[Byte], minCodeSize: Int,
      expected: Int): Option[Array[Byte]] = {
    if (minCodeSize < 2 || minCodeSize > 11) return None
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    val out = new Array[Byte](expected)
    var outPos = 0
    var next = eoi + 1
    var width = minCodeSize + 1
    var prev = -1
    var firstOfPrev: Byte = 0
    var bitBuf = 0L
    var bitCnt = 0
    var pos = 0
    while (true) {
      while (bitCnt < width) {
        if (pos >= data.length) return None
        bitBuf |= (data(pos) & 0xFFL) << bitCnt
        bitCnt += 8
        pos += 1
      }
      val code = (bitBuf & ((1L << width) - 1)).toInt
      bitBuf >>>= width
      bitCnt -= width
      if (code == clear) {
        next = eoi + 1; width = minCodeSize + 1; prev = -1
      } else if (code == eoi) {
        return if (outPos == expected) Some(out) else None
      } else {
        var sp = 0
        var cur = code
        if (code >= next) { // only the KwKwK case is legal
          if (code != next || prev < 0) return None
          stack(sp) = firstOfPrev; sp += 1
          cur = prev
        }
        while (cur >= clear) { // composite codes chain to a literal
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        val first = cur.toByte
        stack(sp) = first; sp += 1
        if (outPos + sp > expected) return None
        while (sp > 0) { sp -= 1; out(outPos) = stack(sp); outPos += 1 }
        if (prev >= 0 && next < 4096) {
          prefix(next) = prev; suffix(next) = first
          next += 1
          if (next == (1 << width) && width < 12) width += 1
        }
        prev = code
        firstOfPrev = first
      }
    }
    None
  }

  /** Decode ONE recorded frame to palette indices: full-logical-
    * screen replacement frames only (offset/partial rects, interlace,
    * transparency, restore-type disposal all return None — they
    * composite against prior frames). Returns (palette, indices).
    */
  private def decodeFrame(bytes: Array[Byte], g: ParsedGif,
      f: FrameRec): Option[(Array[Int], Array[Byte])] = {
    if (f.transparent || f.disposal > 1) return None
    val d = f.descOffset
    if (le16(bytes, d + 1) != 0 || le16(bytes, d + 3) != 0 ||
      le16(bytes, d + 5) != g.width || le16(bytes, d + 7) != g.height)
      return None // not a full-frame replacement
    val ipacked = bytes(d + 9) & 0xFF
    if ((ipacked & 0x40) != 0) return None // interlaced
    var pos = d + 10
    val palette =
      if ((ipacked & 0x80) != 0) {
        val n = 1 << ((ipacked & 0x07) + 1)
        val p = Array.tabulate(n)(i =>
          ((bytes(pos + 3 * i) & 0xFF) << 16) |
            ((bytes(pos + 3 * i + 1) & 0xFF) << 8) |
            (bytes(pos + 3 * i + 2) & 0xFF))
        pos += 3 * n
        p
      } else g.gct
    if (palette.isEmpty) return None
    val minCodeSize = bytes(pos) & 0xFF
    pos += 1
    // concatenate the sub-blocks (bounds were validated by parseGif)
    val data = new java.io.ByteArrayOutputStream()
    while ((bytes(pos) & 0xFF) != 0) {
      val len = bytes(pos) & 0xFF
      data.write(bytes, pos + 1, len)
      pos += 1 + len
    }
    lzwDecode(data.toByteArray, minCodeSize,
      g.width * g.height).flatMap { idx =>
      if (idx.exists(i => (i & 0xFF) >= palette.length)) None
      else Some((palette, idx))
    }
  }

  /** Σ(r+g+b) of one decoded frame — the [[Video]] luma definition
    * through the palette.
    */
  private def lumaOf(palette: Array[Int], idx: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < idx.length) {
      val rgb = palette(idx(i) & 0xFF)
      s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      i += 1
    }
    s
  }

  private[graft] def decodeLuma(id: Long, bytes: Array[Byte],
      nSamples: Int, maxFrameBytes: Int): Option[Video.VideoLuma] = {
    val g = parseGif(bytes).getOrElse(return None)
    if (g.frames.isEmpty) return None
    if (3L * g.width * g.height > maxFrameBytes) return None
    val n = g.frames.length.toLong
    val idx = Video.sampleIndices(n, nSamples)
    val sums = new Array[Long](nSamples)
    var next = 0
    var fi = 0L
    while (fi < n && next < nSamples) {
      if (idx(next) == fi) {
        val s = decodeFrame(bytes, g, g.frames(fi.toInt))
          .map { case (p, ix) => lumaOf(p, ix) }
          .getOrElse(return None)
        while (next < nSamples && idx(next) == fi) {
          sums(next) = s; next += 1
        }
      }
      fi += 1
    }
    if (next < nSamples) return None
    Some(Video.VideoLuma(id, g.width, g.height, n,
      g.totalDelayCs * 10L, idx.toSeq, sums.toSeq, decoded = true))
  }

  /** The sampled-frame walk capturing BMP bytes instead of folding
    * luma — decoded indices expand through the palette to top-down
    * BGR, wrapped as a canonical BMP ([[Multimodal.buildBmp]]).
    */
  private def sampledFrameBmps(bytes: Array[Byte], nSamples: Int,
      maxFrameBytes: Int): Option[(Int, Int, Seq[(Long, Array[Byte])])] = {
    val g = parseGif(bytes).getOrElse(return None)
    if (g.frames.isEmpty) return None
    if (3L * g.width * g.height > maxFrameBytes) return None
    val n = g.frames.length.toLong
    val idxs = Video.sampleIndices(n, nSamples)
    val out = Seq.newBuilder[(Long, Array[Byte])]
    var next = 0
    var fi = 0L
    while (fi < n && next < nSamples) {
      if (idxs(next) == fi) {
        val (palette, ix) = decodeFrame(bytes, g, g.frames(fi.toInt))
          .getOrElse(return None)
        val bgr = new Array[Byte](3 * g.width * g.height)
        var p = 0
        while (p < ix.length) {
          val rgb = palette(ix(p) & 0xFF)
          bgr(3 * p) = (rgb & 0xFF).toByte
          bgr(3 * p + 1) = ((rgb >> 8) & 0xFF).toByte
          bgr(3 * p + 2) = ((rgb >> 16) & 0xFF).toByte
          p += 1
        }
        out += ((fi, Multimodal.buildBmp(g.width, g.height, bgr)))
        while (next < nSamples && idxs(next) == fi) next += 1
      }
      fi += 1
    }
    if (next < nSamples) return None
    Some((g.width, g.height, out.result()))
  }

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** Build an animated GIF89a: logical screen + global color table +
    * per-frame (graphic control extension with `delayCs`, full-frame
    * image descriptor, LZW stream). Codes are emitted UNCOMPRESSED —
    * every pixel index as its own literal code, with a clear code
    * whenever the decoder's dictionary would widen the code width —
    * so the code stream is a closed form of the index stream (the
    * oracle-replicable property this rung exists for; real
    * compressed streams decode through the same
    * [[lzwDecode]], parity-pinned against the JVM's own GIF reader).
    * `frames(f)(p)` is the palette index of pixel p (row-major
    * top-down) of frame f; `palette(i)` is 0xRRGGBB.
    */
  def buildGif(width: Int, height: Int, palette: Array[Int],
      frames: Seq[Array[Byte]], delayCs: Int,
      comments: Seq[String] = Nil): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    require(palette.length >= 2 && palette.length <= 256 &&
      (palette.length & (palette.length - 1)) == 0,
      "palette size must be a power of two in [2, 256]")
    require(delayCs >= 0 && delayCs <= 0xFFFF, "delayCs must be u16")
    frames.foreach { f =>
      require(f.length == width * height,
        s"frame must be ${width * height} indices, got ${f.length}")
      require(f.forall(i => (i & 0xFF) < palette.length),
        "pixel index out of palette")
    }
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    bos.write("GIF89a".getBytes("US-ASCII"))
    w16(width); w16(height)
    val gctBits = Integer.numberOfTrailingZeros(palette.length)
    bos.write(0x80 | ((gctBits - 1) & 0x07)) // GCT present, size
    bos.write(0) // background color index
    bos.write(0) // pixel aspect ratio
    palette.foreach { rgb =>
      bos.write((rgb >> 16) & 0xFF); bos.write((rgb >> 8) & 0xFF)
      bos.write(rgb & 0xFF)
    }
    // comment extensions (label 0xFE) ahead of the frames,
    // sub-block framed at <= 255 bytes each
    comments.foreach { c =>
      bos.write(0x21); bos.write(0xFE)
      val cb = c.getBytes("UTF-8")
      var o = 0
      while (o < cb.length) {
        val n = math.min(255, cb.length - o)
        bos.write(n); bos.write(cb, o, n)
        o += n
      }
      bos.write(0)
    }
    val minCodeSize = math.max(2, gctBits)
    val clear = 1 << minCodeSize
    val eoi = clear + 1
    frames.foreach { f =>
      // graphic control extension: disposal 1 (leave), no transparency
      bos.write(0x21); bos.write(0xF9); bos.write(4)
      bos.write(0x04) // disposal = 1
      w16(delayCs); bos.write(0); bos.write(0)
      // full-frame image descriptor, no LCT, not interlaced
      bos.write(0x2C); w16(0); w16(0); w16(width); w16(height)
      bos.write(0)
      bos.write(minCodeSize)
      // uncompressed codes, mirroring the decoder's dictionary state
      val codes = new java.io.ByteArrayOutputStream()
      var bitBuf = 0L
      var bitCnt = 0
      var next = eoi + 1
      val width0 = minCodeSize + 1
      def emit(code: Int): Unit = {
        bitBuf |= code.toLong << bitCnt
        bitCnt += width0
        while (bitCnt >= 8) {
          codes.write((bitBuf & 0xFF).toInt)
          bitBuf >>>= 8
          bitCnt -= 8
        }
      }
      emit(clear)
      var prevEmitted = false
      var p = 0
      while (p < f.length) {
        // each literal after the first grows the decoder dictionary;
        // clear BEFORE next would reach 1<<width0 (width stays fixed)
        if (prevEmitted && next + 1 == (1 << width0)) {
          emit(clear); next = eoi + 1; prevEmitted = false
        }
        emit(f(p) & 0xFF)
        if (prevEmitted) next += 1
        prevEmitted = true
        p += 1
      }
      emit(eoi)
      if (bitCnt > 0) codes.write((bitBuf & 0xFF).toInt)
      // sub-blocks of at most 255 bytes
      val data = codes.toByteArray
      var o = 0
      while (o < data.length) {
        val len = math.min(255, data.length - o)
        bos.write(len)
        bos.write(data, o, len)
        o += len
      }
      bos.write(0) // sub-block terminator
    }
    bos.write(0x3B) // trailer
    bos.toByteArray
  }
}
