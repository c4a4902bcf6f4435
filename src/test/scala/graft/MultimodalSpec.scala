package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Multimodal

/** Multimodal binary-column operators: magic-byte sniffing, header
  * dimension extraction (PNG/GIF expression-only, JPEG UDF), hashes,
  * the decode-stub plumbing, and frame-offset sampling.
  */
class MultimodalSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  // minimal real headers
  private val png = b(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A, // sig
    0, 0, 0, 0x0D, 'I', 'H', 'D', 'R',
    0, 0, 0, 64, 0, 0, 0, 32, // width 64, height 32 (BE)
    8, 6, 0, 0, 0)
  private val gif = b('G', 'I', 'F', '8', '9', 'a',
    320 % 256, 320 / 256, 240 % 256, 240 / 256, 0, 0, 0) // 320x240 LE
  private val jpeg = b(0xFF, 0xD8, // SOI
    0xFF, 0xE0, 0x00, 0x04, 0x4A, 0x46, // APP0 len 4
    0xFF, 0xC0, 0x00, 0x0B, 0x08, 0x00, 0x64, 0x00, 0xC8, 0x01, 0x11, 0x00, // SOF0 h=100 w=200
    0xFF, 0xD9)
  private val wav = "RIFF1234WAVE".getBytes("ISO-8859-1")
  private val zip = b('P', 'K', 0x03, 0x04, 1, 2, 3)
  private val txt = "hello plain text".getBytes("UTF-8")
  private val junk = b(0x01, 0x02, 0x80, 0xFE, 0x00, 0x11, 0x22, 0x33, 0x44)

  private def df: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, png), (2L, gif), (3L, jpeg), (4L, wav),
      (5L, zip), (6L, txt), (7L, junk)
    ).toDF("id", "content")
  }

  test("sniffContentType detects magic bytes, text, and binary fallback") {
    val got = df.select(col("id"),
      Multimodal.sniffContentType(col("content")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "image/png", 2L -> "image/gif", 3L -> "image/jpeg",
      4L -> "audio/wav", 5L -> "application/zip", 6L -> "text/plain",
      7L -> "application/octet-stream"))
    // the r17 container branches: EBML (webm/mkv) and Ogg, on REAL
    // encoder output
    import spark.implicits._
    val extra = Seq(
      (8L, graft.operators.Webm.buildWebm("webm", 1000000L, 10.0,
        videoCodec = "V_VP8", width = 16, height = 16)),
      (9L, graft.operators.Audio.buildOgg("opus", 1, 48000, 960L)))
      .toDF("id", "content")
    val got2 = extra.select(col("id"),
      Multimodal.sniffContentType(col("content")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == Map(8L -> "video/webm", 9L -> "audio/ogg"), got2)
  }

  test("imageDimensions extracts PNG/GIF header fields as expressions") {
    val got = df.select(col("id"),
      Multimodal.imageDimensions(col("content")).as("d"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getStruct(1)).map(s => (s.getLong(0), s.getLong(1))))
      .toMap
    assert(got(1L).contains((64L, 32L)))
    assert(got(2L).contains((320L, 240L)))
    assert(got(3L).isEmpty && got(6L).isEmpty)
  }

  test("jpegDimensions walks SOF segments") {
    val got = df.filter(col("id") === 3)
      .select(Multimodal.jpegDimensions(col("content"))).collect()(0).getStruct(0)
    assert((got.getLong(0), got.getLong(1)) == (200L, 100L))
  }

  test("hashes and byte length are binary-native") {
    val r = df.filter(col("id") === 6).select(
      Multimodal.contentMd5(col("content")),
      Multimodal.contentSha256(col("content")),
      Multimodal.byteLength(col("content"))).collect()(0)
    val localMd5 = java.security.MessageDigest.getInstance("MD5")
      .digest(txt).map("%02x".format(_)).mkString
    assert(r.getString(0) == localMd5)
    assert(r.getString(1).length == 64)
    assert(r.getLong(2) == txt.length.toLong)
  }

  test("decodeImage fallback: undecodable payloads keep header dims + deterministic features") {
    val out = Multimodal.decodeImage(df, "id", "content", dim = 8)
      .collect().map(d => d.id -> d).toMap
    // fixtures are header-only bytes — ImageIO can't decode them, so
    // every row takes the honest fallback path
    assert(out.values.forall(!_.decoded))
    assert(out(1L).width == 64 && out(1L).height == 32)
    assert(out(2L).width == 320 && out(2L).height == 240)
    assert(out(3L).width == 200 && out(3L).height == 100)
    assert(out(6L).width == 0) // non-image: no dims
    assert(out.values.forall(_.features.length == 8))
    assert(out.values.forall(_.features.forall(f => f >= 0f && f < 1f)))
    // determinism: same input → same fake features
    val again = Multimodal.decodeImage(df, "id", "content", dim = 8)
      .collect().map(d => d.id -> d.features.toSeq).toMap
    assert(out.map { case (k, v) => k -> v.features.toSeq } == again)
  }

  test("decodeImage: a real PNG decodes to real pixels and a luminance histogram") {
    import spark.implicits._
    // 2×2 checkerboard: black, white / white, black
    val bi = new java.awt.image.BufferedImage(
      2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    bi.setRGB(0, 0, 0x000000); bi.setRGB(1, 0, 0xFFFFFF)
    bi.setRGB(0, 1, 0xFFFFFF); bi.setRGB(1, 1, 0x000000)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val png = bos.toByteArray

    val d = Multimodal.decodeImage(
      Seq((7L, png)).toDF("id", "content"), "id", "content", dim = 8)
      .collect().head
    assert(d.decoded, "real PNG must take the ImageIO path")
    assert(d.width == 2 && d.height == 2 && d.channels == 3)
    // luma 0 → bin 0, luma 255 → bin 7, two pixels each
    assert(d.features.toSeq == Seq(0.5f, 0f, 0f, 0f, 0f, 0f, 0f, 0.5f))
  }

  test("resizeImage: real PNG scales and re-decodes; garbage passes through") {
    import spark.implicits._
    val bi = new java.awt.image.BufferedImage(
      4, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 4; y <- 0 until 4)
      bi.setRGB(x, y, if ((x + y) % 2 == 0) 0x000000 else 0xFFFFFF)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(bi, "png", bos))
    val garbage = Array[Byte](1, 2, 3, 4)
    val got = Multimodal.resizeImage(
      Seq((1L, bos.toByteArray), (2L, garbage)).toDF("id", "content"),
      "id", "content", targetW = 2, targetH = 2)
      .collect().map(r => r.id -> r).toMap
    val ok = got(1L)
    assert(ok.resized && ok.width == 2 && ok.height == 2)
    // the emitted PNG must itself decode to the target dims
    val back = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(ok.content))
    assert(back.getWidth == 2 && back.getHeight == 2)
    val pass = got(2L)
    assert(!pass.resized && pass.content.toSeq == garbage.toSeq)
  }

  test("sampleFrameOffsets: n evenly spaced deterministic offsets") {
    import spark.implicits._
    val got = Seq(10000L, 0L).toDF("dur")
      .select(Multimodal.sampleFrameOffsets(col("dur"), 4).as("o"))
      .collect().map(_.getSeq[Long](0))
    assert(got(0) == Seq(0L, 2500L, 5000L, 7500L))
    assert(got(1) == Seq.empty)
  }

  /** A deterministic gradient-plus-pattern test image: visually
    * structured (so dHash bits carry signal), parameterized by `seed`
    * so distinct seeds give genuinely different images.
    */
  private def patternImage(seed: Int, w: Int = 64,
      h: Int = 64): java.awt.image.BufferedImage = {
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val v = (x * 4 + (if (((x / 8) + (y / 8) + seed) % 3 == 0) 128
        else 0) + y * seed) % 256
      bi.setRGB(x, y, (v << 16) | (v << 8) | v)
    }
    bi
  }

  private def encode(bi: java.awt.image.BufferedImage,
      fmt: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, fmt, out)
    out.toByteArray
  }

  test("imageNearDupPairs: re-encoded and resized twins are found, " +
      "distinct images are not; undecodable payloads stay out") {
    import spark.implicits._
    val img1 = patternImage(1)
    val img2 = patternImage(2)
    val img3 = patternImage(5)
    // twins of img1: JPEG re-encode (lossy) and a 48x48 bilinear resize
    val jpegTwin = encode(img1, "jpg")
    val resized = {
      val dst = new java.awt.image.BufferedImage(48, 48,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = dst.createGraphics()
      try {
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img1, 0, 0, 48, 48, null)
      } finally g.dispose()
      encode(dst, "png")
    }
    val rows = Seq(
      (1L, encode(img1, "png")), (2L, jpegTwin), (3L, resized),
      (4L, encode(img2, "png")), (5L, encode(img3, "png")),
      (6L, junk)) // undecodable
    val pairs = Multimodal.imageNearDupPairs(
      rows.toDF("id", "content"), "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"jpeg twin missed: $pairs")
    assert(pairs.contains((1L, 3L)), s"resized twin missed: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L ||
      p._1 == 5L || p._2 == 5L), s"distinct images paired: $pairs")
    assert(!pairs.exists(p => p._1 == 6L || p._2 == 6L),
      s"undecodable payload paired: $pairs")
    // determinism: the whole pipeline (decode, box sample, hash, band)
    // is partitioning-independent
    val again = Multimodal.imageNearDupPairs(
      rows.toDF("id", "content").repartition(5), "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == pairs)
  }

  test("imageNearDupPairs hashKind: flat-field twins (gradient field " +
      "is noise) are found by ahash, missed by dhash; 'both' unions " +
      "the two searches") {
    import spark.implicits._
    // A 9x8 image (one pixel per grid cell): a bright first row (the
    // salient mass) over a near-flat field whose 100/101 alternation
    // is pure gradient noise. `phase` flips the alternation — every
    // in-field dHash comparison inverts (56 differing bits) while the
    // aHash >=-mean bits (bright row above the mean, field below) are
    // IDENTICAL. The classic flat-field failure of gradient hashing.
    def flatFieldTwin(phase: Int): Array[Byte] = {
      val bi = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 9) {
        val v = if (y == 0) 255 else 100 + ((x + phase) % 2)
        bi.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      encode(bi, "png")
    }
    val rows = Seq(
      (1L, flatFieldTwin(0)), (2L, flatFieldTwin(1)),
      // a genuinely distinct image: found by NEITHER hash
      (3L, encode(patternImage(3, 9, 8), "png")),
      // an identical pair: found by BOTH hashes at distance 0
      (4L, encode(patternImage(7), "png")),
      (5L, encode(patternImage(7), "png")))
    val df = rows.toDF("id", "content")
    val dhash = Multimodal.imageNearDupPairs(df, "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!dhash.contains((1L, 2L)),
      s"dhash should be blind to the flat-field twins: $dhash")
    assert(dhash.contains((4L, 5L)), s"identical pair missed: $dhash")
    val ahash = Multimodal.imageNearDupPairs(df, "id", "content",
      hashKind = "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(ahash.contains((1L, 2L, 0L)),
      s"ahash must catch the flat-field twins bit-for-bit: $ahash")
    assert(ahash.contains((4L, 5L, 0L)),
      s"identical pair missed: $ahash")
    val both = Multimodal.imageNearDupPairs(df, "id", "content",
      hashKind = "both")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(both.contains((1L, 2L)) && both.contains((4L, 5L)),
      s"'both' must union the two searches: $both")
    assert(!both.exists(p => p._1 == 3L || p._2 == 3L),
      s"distinct image paired: $both")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDupPairs(df, "id", "content",
        hashKind = "phash")
    }
  }

  test("image near-dup index: build once / admit many; appends are " +
      "transactional (uncommitted batches invisible); fail-loud on " +
      "hash-kind mismatch and missing sidecar; rebuild drops batches") {
    import spark.implicits._
    val dir = Fixtures.scratchDir("graft-img-idx").toString
    val corpus = Seq(
      (1L, encode(patternImage(1), "png")),
      (2L, encode(patternImage(2), "png")),
      (3L, encode(patternImage(5), "png")),
      (4L, junk)) // undecodable: contributes no signature
      .toDF("id", "content")
    Multimodal.writeImageNearDupIndex(corpus, "id", "content", dir)
    // snapshot: a JPEG twin of corpus img1 (near-dup -> dropped), a
    // genuinely new image (admitted), an undecodable payload (no
    // perceptual signature -> admitted; exact-byte dedup's job)
    val snap1 = Seq(
      (10L, encode(patternImage(1), "jpg")),
      (11L, encode(patternImage(9), "png")),
      (12L, junk)).toDF("id", "content")
    val adm1 = Multimodal.incrementalImageNearDedup(snap1, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm1 == Set(11L, 12L), adm1.toString)
    // append the admitted images; the NEXT snapshot dedups against
    // corpus + admissions without any rebuild
    Multimodal.appendToImageNearDupIndex(snap1.filter(col("id") >= 11),
      "id", "content", dir)
    val snap2 = Seq(
      (20L, encode(patternImage(9), "jpg")), // twin of appended 11
      (21L, encode(patternImage(12), "png"))).toDF("id", "content")
    val adm2 = Multimodal.incrementalImageNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm2 == Set(21L), adm2.toString)
    // transactional: a staged batch WITHOUT the commit marker is
    // invisible; the same batch becomes visible the instant the
    // marker lands
    val sig21 = Multimodal.luminanceGrids(
      Seq((999L, encode(patternImage(12), "png"))).toDF("id", "content"),
      "id", "content", gw = 9, gh = 8).toDF()
      .select(col("id"), Multimodal.dHash64(col("grid")).as("sh"))
    sig21.write.parquet(s"$dir/batches/staged-test/sigs")
    val admStaged = Multimodal.incrementalImageNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(admStaged == Set(21L),
      s"uncommitted batch leaked into admission: $admStaged")
    new java.io.File(s"$dir/batches/staged-test/_graft_committed")
      .createNewFile()
    val admCommitted = Multimodal.incrementalImageNearDedup(snap2,
      "id", "content", dir).collect().map(_.getLong(0)).toSet
    assert(admCommitted == Set.empty,
      s"committed batch not read: $admCommitted")
    // fail-loud: hash-kind mismatch on append; not-an-index path
    intercept[IllegalArgumentException] {
      Multimodal.appendToImageNearDupIndex(snap2, "id", "content",
        dir, hashKind = "ahash")
    }
    intercept[IllegalArgumentException] {
      Multimodal.incrementalImageNearDedup(snap2, "id", "content",
        Fixtures.scratchDir("graft-img-noidx")
          .toString)
    }
    // rebuild: batches from the previous generation are dropped, so
    // the twin of (no-longer-indexed) image 11 is admitted again
    Multimodal.writeImageNearDupIndex(corpus, "id", "content", dir)
    val adm3 = Multimodal.incrementalImageNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm3 == Set(20L, 21L), adm3.toString)
  }

  test("streamingImageNearDedup: STATELESS admission — indexed twins " +
      "dropped, fresh/undecodable emitted in their arrival batch, " +
      "duplicates never collapse, zero stateful operators") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val dir = Fixtures.scratchDir("graft-img-stream-idx").toString
    val corpus = Seq(
      (100L, encode(patternImage(1), "png")),
      (101L, encode(patternImage(2), "png"))).toDF("id", "content")
    Multimodal.writeImageNearDupIndex(corpus, "id", "content", dir)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val df = mem.toDF().toDF("id", "ts", "content")
    val q = Multimodal.streamingImageNearDedup(df, "id", "content",
        "ts", dir, lateness = "10 minutes")
      .writeStream.format("memory").queryName("stream_img")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ids() = spark.table("stream_img").collect()
      .map(_.getLong(0)).toSeq
    try {
      // batch 1: a JPEG twin of indexed img 100 (dropped), a
      // genuinely new image, and an EXACT duplicate of that new row
      // (same id/ts/payload) — both copies emit IN THIS BATCH: no
      // watermark delay, no duplicate collapse
      val fresh9 = encode(patternImage(9), "png")
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), encode(patternImage(1), "jpg")),
        (2L, ts("2024-01-01 00:00:01"), fresh9),
        (2L, ts("2024-01-01 00:00:01"), fresh9))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L), s"batch1 got ${ids()}")
      // batch 2: a twin of indexed img 101 (dropped) and an
      // undecodable payload (null signature -> admitted, same batch)
      mem.addData(
        (3L, ts("2024-01-01 00:00:02"), encode(patternImage(2), "jpg")),
        (4L, ts("2024-01-01 00:00:03"), junk))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L, 4L), s"batch2 got ${ids()}")
      // batch 3: fresh image an hour ahead, then a LATE row (before
      // the advanced watermark) — a stateless filter gives late rows
      // the same admission decision instead of silently dropping them
      mem.addData((99L, ts("2024-01-01 01:00:00"),
        encode(patternImage(13), "png")))
      q.processAllAvailable()
      mem.addData((98L, ts("2024-01-01 00:00:05"),
        encode(patternImage(14), "png")))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L, 4L, 98L, 99L),
        s"batch3/4 got ${ids()}")
      // the executed plan carries NO stateful operator: per-row
      // streaming state is zero bytes regardless of payload size
      import org.apache.spark.sql.execution.streaming.operators
        .stateful.StateStoreWriter
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
          .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateOps = exec.collect { case s: StateStoreWriter => s }
      assert(stateOps.isEmpty,
        s"expected zero stateful operators, got $stateOps")
    } finally q.stop()
  }

  test("dHash64/aHash64: known grids produce the documented bit " +
      "patterns; luminanceGrids box-samples exactly") {
    import spark.implicits._
    // 9x8 grid: row y has a single descent at x = y (grid[y][y] = 1,
    // rest 0 except grid[y][y] position) -> dHash bit y*8+y set only
    val grid: Seq[Seq[Int]] = Seq.tabulate(8, 9)((y, x) =>
      if (x == y) 1 else 0)
    val d = Seq(Tuple1(grid)).toDF("g")
      .select(Multimodal.dHash64(col("g")).as("d"),
        Multimodal.aHash64(col("g")).as("a"))
      .collect()(0)
    val expectD = (0 until 8).map(y => 1L << (y * 8 + y)).sum
    assert(d.getLong(0) == expectD,
      s"dhash ${d.getLong(0).toBinaryString} vs ${expectD.toBinaryString}")
    // aHash: total = 8 ones over 64 cells -> bit set iff cell*64 >= 8,
    // i.e. exactly the 8 diagonal ones
    assert(d.getLong(1) == expectD)
    // box sampling: a 2x2-block image downsampled to 1x1 averages all
    // pixels; an exact-size image passes through
    val flat = new java.awt.image.BufferedImage(2, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    flat.setRGB(0, 0, 0xFFFFFF); flat.setRGB(1, 0, 0xFFFFFF)
    flat.setRGB(0, 1, 0x000000); flat.setRGB(1, 1, 0x000000)
    val g1 = Multimodal.luminanceGrids(
      Seq((1L, encode(flat, "png"))).toDF("id", "content"),
      "id", "content", gw = 1, gh = 1).collect()(0)
    assert(g1.decoded && g1.grid == Seq(Seq(127))) // (255+255+0+0)/4
    val g2 = Multimodal.luminanceGrids(
      Seq((1L, encode(flat, "png"))).toDF("id", "content"),
      "id", "content", gw = 2, gh = 2).collect()(0)
    assert(g2.grid == Seq(Seq(255, 255), Seq(0, 0)))
  }

  /** Double-mixed top-down BGR pixel block — unrelated `cls` values
    * give unrelated tiles (absence assertions safe).
    */
  private def mixedBgr(cls: Long, w: Int, h: Int): Array[Byte] = {
    val seed = Fixtures.mix64(cls)
    Array.tabulate(3 * w * h)(k =>
      ((Fixtures.mix64(seed + k) & Long.MaxValue) % 256L).toByte)
  }

  test("tileImages: fixed-size tiles re-encoded as REAL BMPs — " +
      "ImageIO round-trips the exact sub-region through ANY input " +
      "codec; edge tiles that do not fit are dropped; overlapping " +
      "hop; honest marker row") {
    import spark.implicits._
    val bgr = mixedBgr(3L, 32, 24)
    val src = Multimodal.buildBmp(32, 24, bgr)
    val tiles = Multimodal.tileImages(
      Seq((1L, src)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12).collect().sortBy(t => (t.tileY, t.tileX))
    assert(tiles.length == 4 && tiles.forall(_.decoded))
    assert(tiles.map(t => (t.tileX, t.tileY)).toSeq
      == Seq((0, 0), (1, 0), (0, 1), (1, 1)))
    for (t <- tiles) {
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(t.image))
      assert(bi.getWidth == 16 && bi.getHeight == 12)
      for (y <- 0 until 12; x <- 0 until 16) {
        val rgb = bi.getRGB(x, y)
        val k = 3 * ((t.tileY * 12 + y) * 32 + (t.tileX * 16 + x))
        assert((rgb & 0xFF) == (bgr(k) & 0xFF) &&
          ((rgb >> 8) & 0xFF) == (bgr(k + 1) & 0xFF) &&
          ((rgb >> 16) & 0xFF) == (bgr(k + 2) & 0xFF),
          s"tile (${t.tileX},${t.tileY}) pixel ($x,$y) mismatched")
      }
    }
    // codec-in, canonical-BMP-out: the same pixels arriving as PNG
    // tile to byte-identical BMPs (PNG is lossless)
    val asPng = {
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(src))
      encode(bi, "png")
    }
    val pngTiles = Multimodal.tileImages(
      Seq((1L, asPng)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12).collect().sortBy(t => (t.tileY, t.tileX))
    assert(pngTiles.map(_.image.toSeq).toSeq
      == tiles.map(_.image.toSeq).toSeq)
    // a 20-wide image under 16-wide tiles: one column; hop 4 -> two
    val narrow = Multimodal.buildBmp(20, 12, mixedBgr(4L, 20, 12))
    val one = Multimodal.tileImages(
      Seq((1L, narrow)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12).collect()
    assert(one.map(t => (t.tileX, t.tileY)).toSeq == Seq((0, 0)))
    val two = Multimodal.tileImages(
      Seq((1L, narrow)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12, hopX = 4).collect()
    assert(two.map(_.tileX).sorted.toSeq == Seq(0, 1))
    // honesty: undecodable -> one marker row
    val mk = Multimodal.tileImages(
      Seq((2L, junk)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12).collect()
    assert(mk.length == 1 && !mk.head.decoded && mk.head.tileX == -1)
  }

  test("canonical-BMP fast path: grids from the direct byte walk " +
      "equal the ImageIO path bit-for-bit (PNG re-encode of the same " +
      "pixels); non-canonical payloads fall through honestly") {
    import spark.implicits._
    // odd dims exercise the stride padding in the fast path's walk
    val bgr = mixedBgr(11L, 37, 23)
    val bmp = Multimodal.buildBmp(37, 23, bgr)
    val png = {
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bmp))
      encode(bi, "png")
    }
    val g1 = Multimodal.luminanceGrids(
      Seq((1L, bmp)).toDF("id", "content"), "id", "content")
      .collect()(0)
    val g2 = Multimodal.luminanceGrids(
      Seq((1L, png)).toDF("id", "content"), "id", "content")
      .collect()(0)
    assert(g1.decoded && g2.decoded)
    assert(g1.grid == g2.grid,
      s"fast path diverged from ImageIO: ${g1.grid} vs ${g2.grid}")
    // a payload that LOOKS like a BMP but is truncated below its own
    // declared pixel array must not fast-path into garbage
    val truncated = java.util.Arrays.copyOf(bmp, 60)
    val g3 = Multimodal.luminanceGrids(
      Seq((1L, truncated)).toDF("id", "content"), "id", "content")
      .collect()(0)
    assert(!g3.decoded)
  }

  test("crop detection by composition: a candidate equal to one tile " +
      "of an indexed image is dropped against the image's tile index; " +
      "an unrelated candidate admits") {
    import spark.implicits._
    val big = Multimodal.buildBmp(64, 48, mixedBgr(7L, 64, 48))
    val dir = Fixtures.scratchDir("graft-crop-idx").toString
    val bigTiles = Multimodal.tileImages(
      Seq((1L, big)).toDF("id", "content"), "id", "content",
      tileW = 16, tileH = 12).toDF()
      .filter(col("decoded"))
      .select((col("id") * 100 + col("tileY") * 10 + col("tileX"))
        .as("id"), col("image"))
    Multimodal.writeImageNearDupIndex(bigTiles, "id", "image", dir)
    // the crop IS tile (1, 1): pixels [16,32) x [12,24) of the big image
    val crop = {
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(big))
      val bgr = Array.tabulate(3 * 16 * 12) { k =>
        val p = k / 3; val c = k % 3
        val rgb = bi.getRGB(16 + p % 16, 12 + p / 16)
        ((rgb >> (8 * c)) & 0xFF).toByte
      }
      Multimodal.buildBmp(16, 12, bgr)
    }
    val fresh = Multimodal.buildBmp(16, 12, mixedBgr(8L, 16, 12))
    val candTiles = Multimodal.tileImages(
      Seq((2L, crop), (3L, fresh)).toDF("id", "content"),
      "id", "content", tileW = 16, tileH = 12).toDF()
      .filter(col("decoded"))
      .select((col("id") * 100).as("id"), col("image"))
    val admitted = Multimodal.incrementalImageNearDedup(candTiles,
      "id", "image", dir).collect().map(_.getLong(0)).toSet
    assert(admitted == Set(300L),
      s"crop not dropped / fresh not admitted: $admitted")
  }

  test("tileImages canonical-BMP fast path: byte parity with the " +
      "ImageIO path on identical pixels; foreign BMP shapes fall " +
      "back to ImageIO") {
    import spark.implicits._
    // one pixel stream, two carriers: our canonical BMP (fast path)
    // and a PNG of the same pixels (ImageIO path)
    val w = 37; val h = 23 // non-multiple-of-4 width: stride padding
    val bgr = Array.tabulate(3 * w * h)(k => ((k * 7 + 3) % 251).toByte)
    val bmp = Multimodal.buildBmp(w, h, bgr)
    val bi = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val o = 3 * (y * w + x)
      bi.setRGB(x, y, ((bgr(o + 2) & 0xFF) << 16) |
        ((bgr(o + 1) & 0xFF) << 8) | (bgr(o) & 0xFF))
    }
    val png = encode(bi, "png")
    def tilesOf(payload: Array[Byte]) =
      Multimodal.tileImages(Seq((1L, payload)).toDF("id", "content"),
        "id", "content", tileW = 9, tileH = 5, hopX = 4, hopY = 3)
        .collect().map(t => (t.tileX, t.tileY) -> t.image).toMap
    val fast = tilesOf(bmp)
    val slow = tilesOf(png)
    assert(fast.keySet == slow.keySet && fast.nonEmpty)
    fast.foreach { case (k, img) =>
      assert(java.util.Arrays.equals(img, slow(k)), s"tile $k differs")
    }
    // a BMP ImageIO writes (top-down row order differs from ours /
    // different header sizes) must not be mistaken for the canonical
    // shape: same pixels through either path
    val foreignBmp = encode(bi, "bmp")
    val foreign = tilesOf(foreignBmp)
    assert(foreign.keySet == fast.keySet)
    foreign.foreach { case (k, img) =>
      assert(java.util.Arrays.equals(img, fast(k)), s"foreign tile $k")
    }
  }

  test("admission cap semantics: snapshot multiplicity cannot evict a " +
      "corpus needle; over-cap CORPUS buckets drop silently by default " +
      "and strictBuckets=true fails loud") {
    import spark.implicits._
    val dir = Fixtures.scratchDir("graft-img-cap").toString
    Multimodal.writeImageNearDupIndex(
      Seq((1L, encode(patternImage(1), "png"))).toDF("id", "content"),
      "id", "content", dir)
    // 10 snapshot copies of the indexed needle, cap 3: the pre-round-15
    // union fold counted both sides against the cap (bucket size 11 > 3
    // -> ALL matches dropped, every copy wrongly admitted — the
    // ScaleSmoke-measured 1000-copy silent miss); the corpus-side-only
    // fold matches every copy independently
    val twin = encode(patternImage(1), "jpg")
    val snap = (100L until 110L).map(i => (i, twin)).toDF("id", "content")
    val adm = Multimodal.incrementalImageNearDedup(snap, "id",
      "content", dir, maxBucket = 3).collect().map(_.getLong(0)).toSet
    assert(adm == Set.empty,
      s"snapshot multiplicity evicted the corpus needle: $adm admitted")
    // a degenerate CORPUS bucket (5 indexed copies of one signature,
    // cap 3) is still dropped whole: the twin is wrongly admitted and
    // nothing throws by default...
    val dir2 = Fixtures.scratchDir("graft-img-cap2").toString
    Multimodal.writeImageNearDupIndex(
      (1L to 5L).map(i => (i, encode(patternImage(1), "png")))
        .toDF("id", "content"),
      "id", "content", dir2)
    val snap1 = Seq((100L, twin)).toDF("id", "content")
    val silent = Multimodal.incrementalImageNearDedup(snap1, "id",
      "content", dir2, maxBucket = 3).collect().map(_.getLong(0)).toSet
    assert(silent == Set(100L)) // the documented silent miss
    // ...but strictBuckets=true names the drop and the fix
    val e = intercept[IllegalArgumentException] {
      Multimodal.incrementalImageNearDedup(snap1, "id", "content",
        dir2, maxBucket = 3, strictBuckets = true).collect()
    }
    assert(e.getMessage.contains("exceed maxBucket=3"), e.getMessage)
    assert(e.getMessage.contains("raise maxBucket"), e.getMessage)
    // under a sufficient cap, strict mode passes and the twin is
    // dropped against the multiplicity-5 needle
    val strictOk = Multimodal.incrementalImageNearDedup(snap1, "id",
      "content", dir2, maxBucket = 5, strictBuckets = true)
      .collect().map(_.getLong(0)).toSet
    assert(strictOk == Set.empty, strictOk.toString)
  }

  test("streaming admission strictBuckets: over-cap corpus bucket " +
      "fails loud at wiring time, before any micro-batch") {
    import spark.implicits._
    val dir = Fixtures.scratchDir("graft-img-cap-stream").toString
    Multimodal.writeImageNearDupIndex(
      (1L to 5L).map(i => (i, encode(patternImage(1), "png")))
        .toDF("id", "content"),
      "id", "content", dir)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val stream = mem.toDF().toDF("id", "content", "ts")
    val e = intercept[IllegalArgumentException] {
      Multimodal.streamingImageNearDedup(stream, "id", "content",
        "ts", dir, maxBucket = 3, strictBuckets = true)
    }
    assert(e.getMessage.contains("exceed maxBucket=3"), e.getMessage)
  }

  test("unified image comments: JPEG COM segments, PNG text chunks, " +
      "and GIF comment extensions in ONE scan; tagged images still " +
      "decode; commentless and garbage rows emit nothing") {
    import graft.operators.{Gif, Png}
    import spark.implicits._
    def mk(rows: (Long, Array[Byte])*) = rows.toDF("id", "content")
    val realJpeg = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 8).foreach(y => (0 until 8).foreach(x =>
        img.setRGB(x, y, (x * 31 + y * 7) * 1000)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val jpeg = Multimodal.withJpegComments(realJpeg,
      Seq("made with graft", "second note"))
    val png = Png.buildPng(4, 4, 0,
      Array.tabulate(16)(p => (p * 7).toByte),
      texts = Seq(("Software", "graft 2.0", "text"),
        ("parameters", "seed=1", "ztxt")))
    val gif = Gif.buildGif(4, 3, Array.tabulate(16)(i => i * 0x111111),
      Seq(Array.tabulate[Byte](12)(p => (p % 16).toByte)),
      delayCs = 4, comments = Seq("gif provenance " + ("x" * 300)))
    val bare = Gif.buildGif(4, 3, Array.tabulate(16)(i => i * 0x111111),
      Seq(Array.tabulate[Byte](12)(p => (p % 16).toByte)), delayCs = 4)
    val rows = Multimodal.imageCommentScan(mk(1L -> jpeg, 2L -> png,
        3L -> gif, 4L -> bare, 5L -> "garbage".getBytes("UTF-8")),
      "id", "content").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("container"),
        r.getAs[String]("source"), r.getAs[String]("keyword"),
        r.getAs[String]("text")))
    assert(rows.filter(_._1 == 1L).toSet === Set(
      (1L, "jpeg", "com", "", "made with graft"),
      (1L, "jpeg", "com", "", "second note")))
    assert(rows.filter(_._1 == 2L).toSet === Set(
      (2L, "png", "text", "Software", "graft 2.0"),
      (2L, "png", "ztxt", "parameters", "seed=1")))
    // the >255-byte comment crossed GIF sub-block framing intact
    assert(rows.filter(_._1 == 3L).toSeq === Seq(
      (3L, "gif", "comment_ext", "", "gif provenance " + ("x" * 300))))
    assert(rows.count(r => r._1 == 4L || r._1 == 5L) === 0)
    // the commented JPEG still reports its SOF dims; the commented
    // GIF still parses
    val dims = mk(1L -> jpeg)
      .select(Multimodal.jpegDimensions(col("content")).as("d"))
      .collect()(0).getStruct(0)
    assert((dims.getLong(0), dims.getLong(1)) === ((8L, 8L)))
    assert(Gif.gifMetaScan(mk(1L -> gif), "id", "content")
      .collect().head.getAs[Boolean]("parsed"))
  }

  test("image comment cap binds on ALL THREE arms: an over-cap JPEG " +
      "COM segment or GIF comment extension emits nothing for that " +
      "comment (the PNG per-chunk refusal), never a truncation") {
    import graft.operators.{Gif, Png}
    import spark.implicits._
    def mk(rows: (Long, Array[Byte])*) = rows.toDF("id", "content")
    val realJpeg = {
      val img = new java.awt.image.BufferedImage(8, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 8).foreach(y => (0 until 8).foreach(x =>
        img.setRGB(x, y, (x * 31 + y * 7) * 1000)))
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val jpeg = Multimodal.withJpegComments(realJpeg,
      Seq("short", "y" * 100))
    // PNG's cap is an INFLATION bound (zTXt/iTXt decompress), so the
    // over-cap entry is a ztxt chunk — the arm the contract covers
    val png = Png.buildPng(4, 4, 0,
      Array.tabulate(16)(p => (p * 7).toByte),
      texts = Seq(("Software", "graft", "text"),
        ("parameters", "z" * 100, "ztxt")))
    val gif = Gif.buildGif(4, 3, Array.tabulate(16)(i => i * 0x111111),
      Seq(Array.tabulate[Byte](12)(p => (p % 16).toByte)),
      delayCs = 4, comments = Seq("x" * 300))
    val rows = Multimodal.imageCommentScan(
      mk(1L -> jpeg, 2L -> png, 3L -> gif), "id", "content",
      maxTextBytes = 50).collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text")))
    // in-cap comments survive untouched; over-cap ones vanish whole
    assert(rows.filter(_._1 == 1L).map(_._2).toSet === Set("short"))
    assert(rows.filter(_._1 == 2L).map(_._2).toSet === Set("graft"))
    assert(rows.count(_._1 == 3L) === 0)
    // with a cap above every comment the full set is back — proves
    // the refusal path, not a broken walk, removed the rows above
    val wide = Multimodal.imageCommentScan(
      mk(1L -> jpeg, 3L -> gif), "id", "content",
      maxTextBytes = 1 << 20).collect()
    assert(wide.length === 3)
  }
}
