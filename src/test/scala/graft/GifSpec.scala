package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Gif, Multimodal, Video}

/** Animated GIF as bit-exact compressed video: GIF-LZW decode
  * (uncompressed-code fixtures AND genuinely compressed streams),
  * metadata walk, the Video-family row reuse (same temporal
  * fingerprint — cross-codec parity with AVI pinned), the image-
  * family frame bridge, JVM GIF-reader parity, and the full-frame-
  * replacement honesty matrix.
  */
class GifSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** 16-entry palette: entry i is (23i, 47i, 91i) mod 256. */
  private val palette = Array.tabulate(16)(i =>
    (((i * 23) % 256) << 16) | (((i * 47) % 256) << 8) | ((i * 91) % 256))

  private def lumaOfIdx(i: Int): Long =
    ((i * 23) % 256) + ((i * 47) % 256) + ((i * 91) % 256)

  /** Planted index stream: pixel p of frame f in stream `base`. The
    * pixel term is QUADRATIC (p²) — a linear term over a multiple of
    * 16 pixels hits every palette residue uniformly, making per-frame
    * luma constant and every temporal fingerprint degenerate-equal.
    */
  private def idxFrame(base: Int, f: Int, w: Int, h: Int): Array[Byte] =
    Array.tabulate(w * h)(p =>
      ((base * 7 + f * 5 + p * p) % 16).toByte)

  private def gif(base: Int, nFrames: Int, w: Int = 8, h: Int = 4,
      delayCs: Int = 4): Array[Byte] =
    Gif.buildGif(w, h, palette,
      (0 until nFrames).map(f => idxFrame(base, f, w, h)), delayCs)

  test("round trip: metadata (screen, frame count, centisecond " +
      "delays -> millis) and per-frame luma equal the closed form of " +
      "the planted index stream through the palette") {
    val nFrames = 7
    val bytes = gif(3, nFrames)
    val m = Gif.parseGifHeader(df((1L, bytes)), "id", "content")
      .collect().head
    assert(m.parsed && m.width == 8 && m.height == 4)
    assert(m.frames == nFrames && m.totalDelayCs == 4L * nFrames &&
      m.durationMs == 40L * nFrames)
    assert(m.globalPalette)
    val v = Gif.decodeSampledLuma(df((1L, bytes)), "id", "content",
      nSamples = nFrames).collect().head
    assert(v.decoded && v.nFrames == nFrames)
    val expect = (0 until nFrames).map(f =>
      (0 until 32).map(p =>
        lumaOfIdx((3 * 7 + f * 5 + p * p) % 16)).sum)
    assert(v.lumaSums == expect, s"${v.lumaSums} vs $expect")
  }

  test("cross-codec fingerprint parity: a GIF and an uncompressed " +
      "AVI carrying the SAME pixels produce the SAME 64-bit temporal " +
      "signature (lossless decode means codec-invariant dedup)") {
    val nFrames = 70
    val gifBytes = gif(5, nFrames)
    // the same pixels as BGR24 frames: palette-expand the index stream
    val aviFrames = (0 until nFrames).map { f =>
      val idx = idxFrame(5, f, 8, 4)
      val bgr = new Array[Byte](3 * 32)
      idx.indices.foreach { p =>
        val rgb = palette(idx(p) & 0xFF)
        bgr(3 * p) = (rgb & 0xFF).toByte
        bgr(3 * p + 1) = ((rgb >> 8) & 0xFF).toByte
        bgr(3 * p + 2) = ((rgb >> 16) & 0xFF).toByte
      }
      bgr
    }
    val aviBytes = Video.buildUncompressedAvi(8, 4, aviFrames, 40000L)
    val gifSig = Gif.gifSigs(df((1L, gifBytes)), "id", "content")
      .collect().head.getLong(1)
    val aviSig = Video.videoSigs(df((1L, aviBytes)), "id", "content")
      .collect().head.getLong(1)
    assert(gifSig == aviSig,
      s"cross-codec signature mismatch: $gifSig vs $aviSig")
    // and the near-dup machinery pairs them at distance 0
    import spark.implicits._
    val sigs = Seq((1L, gifSig), (2L, aviSig)).toDF("id", "sig")
    val pairs = graft.operators.Dedup.hamming64NearDupPairs(
      sigs, "id", "sig", maxDistance = 0).collect()
    assert(pairs.length == 1)
  }

  test("image-family bridge + JVM parity: sampled GIF frames are " +
      "canonical BMPs whose pixels equal BOTH the palette closed form " +
      "and the JVM's own GIF reader's decode of the same animation") {
    val nFrames = 3
    val bytes = gif(4, nFrames)
    val frames = Gif.sampleFrameImages(df((1L, bytes)), "id",
      "content", nSamples = nFrames).collect().sortBy(_.frameIdx)
    assert(frames.length == nFrames && frames.forall(_.decoded))
    // JVM GIF reader over the same bytes, frame by frame
    val reader = javax.imageio.ImageIO
      .getImageReadersByFormatName("gif").next()
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    reader.setInput(iis)
    try {
      (0 until nFrames).foreach { f =>
        val jvm = reader.read(f)
        val ours = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(frames(f).image))
        assert(ours.getWidth == 8 && ours.getHeight == 4)
        val idx = idxFrame(4, f, 8, 4)
        for (y <- 0 until 4; x <- 0 until 8) {
          val expect = palette(idx(y * 8 + x) & 0xFF) | 0xFF000000
          assert(ours.getRGB(x, y) == expect,
            s"frame $f ($x,$y): ours ${ours.getRGB(x, y)}%08x")
          assert(jvm.getRGB(x, y) == expect,
            s"frame $f ($x,$y): jvm ${jvm.getRGB(x, y)}%08x")
        }
      }
    } finally { iis.close(); reader.dispose() }
  }

  test("lzwDecode handles genuinely COMPRESSED streams: composite " +
      "codes, the KwKwK case, and dictionary growth across a width " +
      "boundary (the uncompressed twin never emits these)") {
    // hand-packed compressed stream, minCodeSize 2 (clear=4, eoi=5):
    // codes [4, 0, 6, 7, 5] decode to A, AA, AAA -> "AAAAAA" (6 px):
    // 0 -> A (literal); 6 = KwKwK (prev 0 + first 'A') -> AA,
    // dict[6]; 7 = KwKwK (prev 6 + first) -> AAA, dict[7]
    def pack(codes: Seq[Int], width: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      var buf = 0L; var cnt = 0
      codes.foreach { c =>
        buf |= c.toLong << cnt; cnt += width
        while (cnt >= 8) { bos.write((buf & 0xFF).toInt); buf >>>= 8; cnt -= 8 }
      }
      if (cnt > 0) bos.write((buf & 0xFF).toInt)
      bos.toByteArray
    }
    val out = Gif.lzwDecode(pack(Seq(4, 0, 6, 7, 5), 3), 2, 6)
    assert(out.isDefined && out.get.toSeq == Seq.fill(6)(0: Byte))
    // width growth: literals 0,1,0 after the clear add dict entries
    // 6 and 7 -> next reaches 8 = 1<<3 on the THIRD literal, so every
    // code after it reads at 4 bits
    val all = {
      val bos = new java.io.ByteArrayOutputStream()
      var buf = 0L; var cnt = 0
      def emit(c: Int, w: Int): Unit = {
        buf |= c.toLong << cnt; cnt += w
        while (cnt >= 8) { bos.write((buf & 0xFF).toInt); buf >>>= 8; cnt -= 8 }
      }
      Seq(4, 0, 1, 0).foreach(emit(_, 3))
      Seq(1, 0, 2, 5).foreach(emit(_, 4)) // incl. a composite-free tail
      if (cnt > 0) bos.write((buf & 0xFF).toInt)
      bos.toByteArray
    }
    val out2 = Gif.lzwDecode(all, 2, 6)
    assert(out2.isDefined &&
      out2.get.toSeq == Seq[Byte](0, 1, 0, 1, 0, 2), out2.toString)
  }

  test("honesty matrix: transparency, restore-type disposal, " +
      "interlace, partial-frame rects, garbage, truncation, and " +
      "oversized rasters are decoded=false; metadata still parses " +
      "structurally-sound refusals") {
    val good = gif(6, 4)
    // flip the GCE transparency bit of frame 0 (packed byte is 3
    // after the 0x21 F9 04 introducer)
    def gceAt(b: Array[Byte]): Int =
      (0 until b.length - 2).find(i => (b(i) & 0xFF) == 0x21 &&
        (b(i + 1) & 0xFF) == 0xF9).get
    val transparent = good.clone()
    transparent(gceAt(good) + 3) = (transparent(gceAt(good) + 3) | 0x01).toByte
    val restore = good.clone()
    restore(gceAt(good) + 3) = 0x08.toByte // disposal 2
    // image descriptor: set interlace bit / shrink the rect
    def descAt(b: Array[Byte]): Int =
      (0 until b.length - 10).find(i => (b(i) & 0xFF) == 0x2C).get
    val interlaced = good.clone()
    interlaced(descAt(good) + 9) =
      (interlaced(descAt(good) + 9) | 0x40).toByte
    val partial = good.clone()
    partial(descAt(good) + 5) = 4 // width 4 of 8
    val garbage = Array.tabulate[Byte](64)(i => (i * 29).toByte)
    val truncated = java.util.Arrays.copyOf(good, good.length - 6)
    val rows = Gif.decodeSampledLuma(
      df((1L, transparent), (2L, restore), (3L, interlaced),
        (4L, partial), (5L, garbage), (6L, truncated), (7L, good)),
      "id", "content", nSamples = 4).collect()
      .map(v => v.id -> v.decoded).toMap
    assert(rows == Map(1L -> false, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> false, 7L -> true), rows.toString)
    // structurally sound refusals still carry honest METADATA
    val metas = Gif.gifMetaScan(
      df((1L, transparent), (5L, garbage)), "id", "content").collect()
      .map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    assert(metas == Map(1L -> true, 5L -> false))
    // decoded-raster bound, as everywhere in the video family
    assert(!Gif.decodeSampledLuma(df((1L, good)), "id", "content",
      nSamples = 4, maxFrameBytes = 64).collect().head.decoded)
  }

  test("one index, all containers: a video signature index built " +
      "from AVIs drops the GIF twin on batch AND streaming " +
      "admission, and mixed-corpus pairs span containers") {
    import spark.implicits._
    def bgrFrames(base: Int, n: Int) = (0 until n).map { f =>
      val idx = idxFrame(base, f, 8, 4)
      val bgr = new Array[Byte](3 * 32)
      idx.indices.foreach { p =>
        val rgb = palette(idx(p) & 0xFF)
        bgr(3 * p) = (rgb & 0xFF).toByte
        bgr(3 * p + 1) = ((rgb >> 8) & 0xFF).toByte
        bgr(3 * p + 2) = ((rgb >> 16) & 0xFF).toByte
      }
      bgr
    }
    val avi7 = Video.buildUncompressedAvi(8, 4, bgrFrames(7, 70), 40000L)
    val gif7 = gif(7, 70)
    val gif9 = gif(9, 70)
    // mixed-corpus pairs: the AVI and its GIF twin pair at distance 0
    val pairs = Video.videoNearDupPairsAuto(
      df((1L, avi7), (2L, gif7), (3L, gif9)), "id", "content",
      maxDistance = 0).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((1L, 2L)), pairs.mkString(","))
    // batch admission: AVI-built index drops the GIF twin
    val dir = Fixtures.scratchDir("graft-cross-container-idx").toString
    Video.writeVideoNearDupIndex(df((1L, avi7)), "id", "content", dir)
    val adm = Video.incrementalVideoNearDedup(
      df((10L, gif7), (20L, gif9)), "id", "content", dir,
      maxDistance = 0).collect().map(_.getLong(0)).toSet
    assert(adm == Set(20L), s"GIF twin not dropped: $adm")
    // streaming admission: the UDF path dispatches containers too
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val admitted = Video.streamingVideoNearDedup(
      mem.toDF().toDF("id", "content", "ts"), "id", "content", "ts",
      dir, maxDistance = 0)
    val q = admitted.writeStream.format("memory")
      .queryName("stream_cross_container").outputMode("append").start()
    try {
      val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      mem.addData((30L, gif7, ts), (40L, gif9, ts))
      q.processAllAvailable()
      val got = spark.table("stream_cross_container")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(40L), s"streaming cross-container: $got")
    } finally q.stop()
  }

  test("cross-modal composition: GIF frames admitted against an " +
      "IMAGE near-dup index find GIFs containing known images") {
    import spark.implicits._
    // index frame 2 of stream 8 as a known image (as a BMP)
    val idx = idxFrame(8, 2, 16, 12)
    val bgr = new Array[Byte](3 * 16 * 12)
    idx.indices.foreach { p =>
      val rgb = palette(idx(p) & 0xFF)
      bgr(3 * p) = (rgb & 0xFF).toByte
      bgr(3 * p + 1) = ((rgb >> 8) & 0xFF).toByte
      bgr(3 * p + 2) = ((rgb >> 16) & 0xFF).toByte
    }
    val known = Multimodal.buildBmp(16, 12, bgr)
    val dir = Fixtures.scratchDir("graft-gif-image-idx").toString
    Multimodal.writeImageNearDupIndex(
      Seq((1L, known)).toDF("id", "content"), "id", "content", dir)
    val carrying = gif(8, 5, w = 16, h = 12) // contains frame 2
    val other = gif(9, 5, w = 16, h = 12)
    val frames = Gif.sampleFrameImages(
      df((10L, carrying), (20L, other)), "id", "content", nSamples = 5)
      .toDF().filter(col("decoded"))
      .select((col("id") * 100 + col("frameIdx")).as("id"),
        col("image"))
    val admitted = Multimodal.incrementalImageNearDedup(frames, "id",
      "image", dir, maxDistance = 0).collect()
      .map(_.getLong(0)).toSet
    val dropped = frames.collect().map(_.getLong(0)).toSet -- admitted
    assert(dropped == Set(1002L),
      s"the carrying GIF's frame 2 must be the only drop: $dropped")
  }

  test("GIF stream walk: agrees with the buffered walk on the whole " +
      "honesty matrix — multi-frame, comments, GIF87a, hand-rolled " +
      "local color table, truncations at every grammar position, " +
      "missing trailer, trailing junk, unknown block, garbage — " +
      "including a dribbling one-byte stream") {
    // a no-GCT GIF with a local color table — buildGif always writes
    // a GCT, so roll the LCT layout by hand (the walk skips LZW data
    // by length, so filler bytes stand in for a real code stream)
    val lctGif: Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      bos.write("GIF89a".getBytes("US-ASCII"))
      bos.write(6); bos.write(0); bos.write(3); bos.write(0) // 6x3
      bos.write(0x00) // no GCT
      bos.write(0); bos.write(0) // bg, aspect
      bos.write(0x2C) // descriptor
      bos.write(0); bos.write(0); bos.write(0); bos.write(0)
      bos.write(6); bos.write(0); bos.write(3); bos.write(0)
      bos.write(0x81) // LCT present, size bits 1 -> 4 entries
      (0 until 12).foreach(i => bos.write(i * 17)) // the LCT
      bos.write(2) // LZW minimum code size
      bos.write(3); bos.write(0x11); bos.write(0x22); bos.write(0x33)
      bos.write(0) // sub-block terminator
      bos.write(0x3B)
      bos.toByteArray
    }
    val base = gif(1, 3, delayCs = 7)
    val gif87 = { val b = gif(2, 2).clone(); b(4) = '7'.toByte; b }
    val unknownBlock = {
      val b = gif(3, 1).clone(); b(b.length - 1) = 0x99.toByte
      b ++ Array[Byte](1, 2, 3)
    }
    val cases = Seq[Array[Byte]](
      base,
      Gif.buildGif(8, 4, palette,
        Seq(idxFrame(4, 0, 8, 4)), delayCs = 0,
        comments = Seq("provenance: synthesized")),
      gif87,
      lctGif,
      base ++ Array[Byte](0x55, 0x66), // trailing junk: both accept
      base.dropRight(1), // missing trailer
      base.dropRight(7), // mid-sub-block
      base.take(20), // inside the GCT
      base.take(13), // header only
      base.take(9), // torn screen descriptor
      unknownBlock,
      Array[Byte](), Array.fill[Byte](40)(0x2C))
    for (b <- cases) {
      val expect = Gif.parseGif(b).map(g => Gif.GifStreamMeta(g.width,
        g.height, g.frames.length.toLong, g.totalDelayCs,
        g.gct.nonEmpty))
      assert(Gif.parseGifStream(
        new java.io.ByteArrayInputStream(b)) === expect)
      val dribble = new java.io.InputStream {
        private var i = 0
        override def read(): Int =
          if (i >= b.length) -1
          else { val v = b(i) & 0xFF; i += 1; v }
        override def read(buf: Array[Byte], off: Int, len: Int): Int = {
          if (i >= b.length) return -1
          buf(off) = b(i); i += 1; 1
        }
        override def skip(n: Long): Long = 0L // force the read path
      }
      assert(Gif.parseGifStream(dribble) === expect)
    }
    // the happy paths must actually parse, with the planted fields
    val parsed = Gif.parseGifStream(
      new java.io.ByteArrayInputStream(base)).get
    assert(parsed === Gif.GifStreamMeta(8, 4, 3L, 21L,
      globalPalette = true))
    val lct = Gif.parseGifStream(
      new java.io.ByteArrayInputStream(lctGif)).get
    assert(lct === Gif.GifStreamMeta(6, 3, 1L, 0L,
      globalPalette = false))
  }
}
