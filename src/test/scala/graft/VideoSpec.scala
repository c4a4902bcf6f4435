package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Audio, Video}

/** Video binary-column operators: RIFF/AVI chunk-walk header parse
  * (full + prefix), two-pass uniformly-sampled BGR24 frame luma
  * decode, and the temporal luminance-gradient fingerprint →
  * Hamming-banded near-dup path. Every AVI here is REAL bytes —
  * either the library encoder's output (round-trip pinning) or
  * hand-corrupted variants of it.
  */
class VideoSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Deterministic BGR frame: pixel byte k of frame f in stream
    * `base` is (base·131 + f·31 + k·7) % 101 — small values so
    * brightness gains stay exact bytes.
    */
  private def frame(base: Int, f: Int, w: Int, h: Int,
      gain: Int = 1, bias: Int = 0): Array[Byte] =
    Array.tabulate(3 * w * h)(k =>
      (((base * 131 + f * 31 + k * 7) % 101) * gain + bias).toByte)

  private def avi(base: Int, nFrames: Int, w: Int = 4, h: Int = 3,
      gain: Int = 1, bias: Int = 0,
      microsPerFrame: Long = 40000L): Array[Byte] =
    Video.buildUncompressedAvi(w, h,
      (0 until nFrames).map(f => frame(base, f, w, h, gain, bias)),
      microsPerFrame)

  private def df(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toDF("id", "content")
  }

  /** First byte offset of a 4CC tag in raw bytes (test-side corruption
    * helper).
    */
  private def indexOfTag(b: Array[Byte], t: String): Int = {
    val pat = t.getBytes("US-ASCII")
    (0 to b.length - 4).find(i =>
      pat.indices.forall(j => b(i + j) == pat(j))).get
  }

  test("parseAviHeader round-trips the encoder: avih fields, strf " +
      "codec info, movi extent, floor-millis duration") {
    val m = Video.parseAviHeader(df((1L, avi(7, 25, w = 4, h = 3))),
      "id", "content").collect().head
    assert(m.parsed)
    assert(m.width == 4 && m.height == 3)
    assert(m.totalFrames == 25 && m.microsPerFrame == 40000L)
    assert(m.streams == 1 && m.bitCount == 24 && m.compression == 0L)
    assert(m.durationMs == 25L * 40000L / 1000L) // exact floor millis
    // movi extent covers exactly the 25 frame chunks: stride(4px)=12,
    // frame=36, chunk=8+36, list type tag = 4
    assert(m.moviLen == 4 + 25 * (8 + 36))
  }

  test("parse honesty: garbage, truncated, non-AVI RIFF, and insane " +
      "dimensions are parsed=false with zeroed fields") {
    val good = avi(1, 3)
    val truncated = java.util.Arrays.copyOf(good, 40)
    val notRiff = "JUNKJUNKJUNKJUNKJUNK".getBytes("US-ASCII")
    val wavNotAvi = {
      val b = good.clone(); "WAVE".getBytes("US-ASCII")
        .copyToArray(b, 8); b
    }
    val rows = Video.parseAviHeader(
      df((1L, truncated), (2L, notRiff), (3L, wavNotAvi), (4L, null)),
      "id", "content").collect()
    assert(rows.forall(!_.parsed))
    assert(rows.forall(m => m.width == 0 && m.totalFrames == 0L &&
      m.durationMs == 0L))
  }

  test("chunk walk is real: junk chunks (odd-sized, word-aligned) " +
      "before hdrl and between hdrl and movi are skipped by size") {
    val good = avi(3, 4)
    // splice an odd-sized 'note' chunk (size 5 + pad) after 'AVI '
    // and a 'JUNK' chunk before movi
    val moviAt = {
      var p = 12; var found = -1
      while (found < 0 && p + 12 <= good.length) {
        if (new String(good, p, 4, "US-ASCII") == "LIST" &&
          new String(good, p + 8, 4, "US-ASCII") == "movi") found = p
        else p += 8 + (good(p + 4) & 0xFF | (good(p + 5) & 0xFF) << 8 |
          (good(p + 6) & 0xFF) << 16 | (good(p + 7) & 0xFF) << 24) +
          (((good(p + 4) & 0xFF) % 2))
      }
      found
    }
    assert(moviAt > 0)
    val note = "note".getBytes("US-ASCII") ++
      Array[Byte](5, 0, 0, 0) ++ Array[Byte](9, 9, 9, 9, 9, 0)
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](4, 0, 0, 0) ++ Array[Byte](1, 2, 3, 4)
    val spliced = good.slice(0, 12) ++ note ++
      good.slice(12, moviAt) ++ junk ++ good.slice(moviAt, good.length)
    // fix the RIFF size
    val newSz = spliced.length - 8
    spliced(4) = (newSz & 0xFF).toByte
    spliced(5) = ((newSz >> 8) & 0xFF).toByte
    spliced(6) = ((newSz >> 16) & 0xFF).toByte
    spliced(7) = ((newSz >> 24) & 0xFF).toByte
    val m = Video.parseAviHeader(df((1L, spliced)), "id", "content")
      .collect().head
    assert(m.parsed && m.totalFrames == 4 && m.width == 4)
    // and the spliced file still decodes identically to the clean one
    val a = Video.decodeSampledLuma(df((1L, good)), "id", "content",
      nSamples = 4).collect().head
    val b = Video.decodeSampledLuma(df((1L, spliced)), "id", "content",
      nSamples = 4).collect().head
    assert(a.decoded && b.decoded && a.lumaSums == b.lumaSums)
  }

  test("prefix parse: parity with the full parse when the header fits; " +
      "structure beyond the prefix is parsed=false, never fabricated") {
    val good = avi(9, 8)
    val full = Video.parseAviHeader(df((1L, good)), "id", "content")
      .collect().head
    // the whole header (hdrl ~ 144 bytes + movi LIST header) fits in 256
    val pfx = Video.parseAviHeaderPrefix(df((1L, good)), "id", "content",
      prefixBytes = 256).collect().head
    assert(pfx == full) // movi len clamps against TRUE length, so equal
    // a prefix that ends inside hdrl must not fabricate
    val tiny = Video.parseAviHeaderPrefix(df((1L, good)), "id", "content",
      prefixBytes = 40).collect().head
    assert(!tiny.parsed)
    // the PERSISTED-prefix-column form (the storage-win layout: the
    // scan never touches the frame blob) agrees with the full parse
    // from narrow columns alone
    val cols = df((1L, good)).select(col("id"),
      substring(col("content"), 1, 256).as("pfx"),
      length(col("content")).cast("long").as("total_len"))
      .drop("content")
    val fromCols = Video.parseAviHeaderPrefixCols(cols, "id", "pfx",
      "total_len").collect().head
    assert(fromCols == full)
  }

  test("Long cursor: a ~2^32 declared chunk size terminates the walk " +
      "(no wrap), and an overstated movi size clamps to the bytes " +
      "actually present — the WAV data-chunk clamp contract") {
    def moviAt(b: Array[Byte]): Int = {
      var p = 12; var found = -1
      while (found < 0 && p + 12 <= b.length) {
        if (new String(b, p, 4, "US-ASCII") == "LIST" &&
          new String(b, p + 8, 4, "US-ASCII") == "movi") found = p
        else {
          val sz = (b(p + 4) & 0xFF) | ((b(p + 5) & 0xFF) << 8) |
            ((b(p + 6) & 0xFF) << 16) | ((b(p + 7) & 0xFF) << 24)
          p += 8 + sz + (sz & 1)
        }
      }
      found
    }
    val clean = Video.decodeSampledLuma(df((1L, avi(2, 2))), "id",
      "content", nSamples = 2).collect().head
    // overstate the movi LIST size to ~2^32: Int arithmetic would wrap
    // the cursor negative; the Long walk clamps to bytes present and
    // decode is unchanged
    val over = avi(2, 2)
    val ma = moviAt(over)
    over(ma + 4) = 0xF0.toByte; over(ma + 5) = 0xFF.toByte
    over(ma + 6) = 0xFF.toByte; over(ma + 7) = 0xFF.toByte
    val m = Video.parseAviHeader(df((1L, over)), "id", "content")
      .collect().head
    // clamp is against the chunk DATA start (ma + 8, list-type tag
    // included, matching the un-corrupted moviLen accounting)
    assert(m.parsed && m.moviLen == over.length - (ma + 8))
    val v = Video.decodeSampledLuma(df((1L, over)), "id", "content",
      nSamples = 2).collect().head
    assert(v.decoded && v.lumaSums == clean.lumaSums)
    // a huge hdrl size likewise terminates (movi unreached -> the
    // payload is honestly undecodable, not an exception or a hang)
    val overH = avi(2, 2)
    overH(16) = 0xF0.toByte; overH(17) = 0xFF.toByte
    overH(18) = 0xFF.toByte; overH(19) = 0xFF.toByte
    val mh = Video.parseAviHeader(df((1L, overH)), "id", "content")
      .collect().head
    assert(mh.moviLen == 0L)
    val vh = Video.decodeSampledLuma(df((1L, overH)), "id", "content",
      nSamples = 2).collect().head
    assert(!vh.decoded)
  }

  test("sampled luma decode: exact integer sums, stride padding " +
      "excluded (width 5 forces a 1-byte row pad), sample indices " +
      "are the floor formula, unsampled frame bytes never validated") {
    val w = 5; val h = 2 // rowBytes 15 -> stride 16: 1 pad byte/row
    val frames = (0 until 10).map(f => frame(4, f, w, h))
    val bytes = Video.buildUncompressedAvi(w, h, frames, 33000L)
    val v = Video.decodeSampledLuma(df((1L, bytes)), "id", "content",
      nSamples = 4).collect().head
    assert(v.decoded && v.nFrames == 10 && v.width == w && v.height == h)
    assert(v.sampleIdx == Seq(0L, 2L, 5L, 7L)) // floor(i*10/4)
    val expected = Seq(0, 2, 5, 7).map(f =>
      frames(f).map(b => (b & 0xFF).toLong).sum)
    assert(v.lumaSums == expected) // pad bytes would add 0 here, but:
    // corrupt CONTENT of an unsampled frame (idx 1) -> decode unchanged
    // (its bytes are skipped by size, never read)
    val frameBytes = 16 * h // stride 16
    val moviData = bytes.length - 10 * (8 + frameBytes)
    val frame1Content = moviData + (8 + frameBytes) + 8
    val dirty = bytes.clone()
    (0 until frameBytes).foreach(i => dirty(frame1Content + i) = 0x7F)
    val v2 = Video.decodeSampledLuma(df((1L, dirty)), "id", "content",
      nSamples = 4).collect().head
    assert(v2.decoded && v2.lumaSums == expected)
    // but corrupting a SAMPLED frame's size header fails the payload
    val bad = bytes.clone()
    bad(moviData + 4) = 1 // frame 0 (sampled) declared size -> junk
    val v3 = Video.decodeSampledLuma(df((1L, bad)), "id", "content",
      nSamples = 4).collect().head
    assert(!v3.decoded && v3.lumaSums.isEmpty)
  }

  test("videos shorter than the sample count repeat frames " +
      "(fixed-length signature for any duration)") {
    val v = Video.decodeSampledLuma(df((1L, avi(5, 3))), "id", "content",
      nSamples = 65).collect().head
    assert(v.decoded && v.nFrames == 3)
    assert(v.sampleIdx.toSet == Set(0L, 1L, 2L))
    assert(v.lumaSums.distinct.size <= 3)
  }

  test("decode honesty: compressed stream (strf biCompression != 0) " +
      "and non-24-bit frames fail; undecodable rows dropped from sigs") {
    val good = avi(6, 5)
    // flip biCompression in strf (offset: find 'strf', data+16)
    val strfAt = {
      var p = 0; var found = -1
      while (found < 0 && p + 4 <= good.length) {
        if (new String(good, p, 4, "US-ASCII") == "strf") found = p
        else p += 1
      }
      found
    }
    val comp = good.clone()
    comp(strfAt + 8 + 16) = 1 // BI_RLE8
    val v = Video.decodeSampledLuma(df((1L, comp)), "id", "content",
      nSamples = 4).collect().head
    assert(!v.decoded)
    val sigs = Video.videoSigs(
      df((1L, good), (2L, comp), (3L, "junk".getBytes("US-ASCII"))),
      "id", "content").collect()
    assert(sigs.map(_.getLong(0)).toSet == Set(1L))
  }

  test("near-dup: brightness-gain twin pairs (gradient invariance), " +
      "bias twin pairs, distinct streams do not pair, planted " +
      "perturbation stays inside the Hamming budget") {
    val n = 70 // frames, > 65 samples
    val rows = Seq(
      1L -> avi(10, n),
      2L -> avi(10, n, gain = 2), // luma doubles: gradient preserved
      3L -> avi(10, n, bias = 50), // uniform bias: gradient preserved
      4L -> avi(11, n), // different stream
      5L -> avi(12, n)) // different stream
    val pairs = Video.videoNearDupPairs(df(rows: _*), "id", "content",
      maxDistance = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    assert(pairSet.contains((1L, 2L)) && pairSet.contains((1L, 3L)) &&
      pairSet.contains((2L, 3L)), s"twin pairs missing: $pairSet")
    assert(pairs.filter(p => p._1 == 1L && p._2 == 2L).head._3 == 0L)
    assert(!pairSet.exists(p => p._2 == 4L || p._1 == 4L))
    assert(!pairSet.exists(p => p._2 == 5L || p._1 == 5L))
  }

  test("video near-dup index: build once / admit many; appends are " +
      "transactional (uncommitted batches invisible); fail-loud on " +
      "params mismatch, missing sidecar, and crash-mid-rewrite; " +
      "rebuild drops batches") {
    val n = 70
    val junk = "junk".getBytes("UTF-8")
    val dir = Fixtures.scratchDir("graft-video-idx").toString
    val corpus = df(1L -> avi(10, n), 2L -> avi(11, n), 3L -> junk)
    Video.writeVideoNearDupIndex(corpus, "id", "content", dir)
    // snapshot: a re-gained twin of corpus video 1 (luma scales
    // uniformly -> identical gradient sig -> dropped), a genuinely
    // new stream (admitted), an undecodable payload (no signature ->
    // admitted; exact-byte dedup's job)
    val snap1 = df(10L -> avi(10, n, gain = 2),
      11L -> avi(12, n), 12L -> junk)
    val adm1 = Video.incrementalVideoNearDedup(snap1, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm1 == Set(11L, 12L), adm1.toString)
    // append the admitted videos; the NEXT snapshot dedups against
    // corpus + admissions without any rebuild
    Video.appendToVideoNearDupIndex(snap1.filter(col("id") >= 11),
      "id", "content", dir)
    val snap2 = df(20L -> avi(12, n, bias = 50), 21L -> avi(13, n))
    val adm2 = Video.incrementalVideoNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm2 == Set(21L), adm2.toString)
    // transactional: a staged batch WITHOUT the commit marker is
    // invisible; the same batch becomes visible the instant the
    // marker lands
    Video.videoSigs(df(999L -> avi(13, n)), "id", "content")
      .select(col("id"), col("sig").as("sh"))
      .write.parquet(s"$dir/batches/staged-test/sigs")
    val admStaged = Video.incrementalVideoNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(admStaged == Set(21L),
      s"uncommitted batch leaked into admission: $admStaged")
    new java.io.File(s"$dir/batches/staged-test/_graft_committed")
      .createNewFile()
    val admCommitted = Video.incrementalVideoNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(admCommitted == Set.empty,
      s"committed batch not read: $admCommitted")
    // fail-loud: frame-cap mismatch on append (the index was built
    // under the default cap); not-an-index path
    intercept[IllegalArgumentException] {
      Video.appendToVideoNearDupIndex(snap2, "id", "content", dir,
        maxFrameBytes = 1024)
    }
    intercept[IllegalArgumentException] {
      Video.incrementalVideoNearDedup(snap2, "id", "content",
        Fixtures.scratchDir("graft-video-noidx")
          .toString)
    }
    // rebuild: batches from the previous generation are dropped, so
    // the twin of (no-longer-indexed) video 11 is admitted again
    Video.writeVideoNearDupIndex(corpus, "id", "content", dir)
    val adm3 = Video.incrementalVideoNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm3 == Set(20L, 21L), adm3.toString)
    // crash-mid-rewrite contract: the writer deletes the sidecar
    // BEFORE touching any data, so a crash leaves a no-sidecar index
    // every reader rejects — never a stale sidecar over mixed
    // generations
    assert(new java.io.File(
      s"$dir/_graft_video_index_params.json").delete())
    intercept[IllegalArgumentException] {
      Video.incrementalVideoNearDedup(snap2, "id", "content", dir)
    }
  }

  test("streamingVideoNearDedup: STATELESS admission at maxDistance=0 " +
      "— byte-identical and re-gained indexed twins dropped (pins " +
      "lumaSumsUdf = mapPartitions-path signature parity), fresh rows " +
      "emitted in their arrival batch without collapsing duplicates, " +
      "zero stateful operators") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val n = 70
    val junk = "junk".getBytes("UTF-8")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val corpus = df(100L -> avi(10, n), 101L -> avi(11, n))
    val dir = Fixtures.scratchDir("graft-video-stream").toString
    Video.writeVideoNearDupIndex(corpus, "id", "content", dir)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val sdf = mem.toDF().toDF("id", "ts", "content")
    // maxDistance = 0: a drop REQUIRES the streaming UDF signature
    // to equal the index's batch-built signature bit-for-bit
    val q = Video.streamingVideoNearDedup(sdf, "id", "content",
        "ts", dir, lateness = "10 minutes", maxDistance = 0)
      .writeStream.format("memory").queryName("stream_video")
      .outputMode("append").start()
    def ids() = spark.table("stream_video").collect()
      .map(_.getLong(0)).toSeq
    try {
      // batch 1: byte-identical twin of indexed video 1 (dropped —
      // the parity pin), a fresh stream, and an EXACT duplicate of
      // that fresh row — both copies emit IN THIS BATCH
      val freshAvi = avi(12, n)
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), avi(10, n)),
        (2L, ts("2024-01-01 00:00:01"), freshAvi),
        (2L, ts("2024-01-01 00:00:01"), freshAvi))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L), s"batch1 got ${ids()}")
      // batch 2: re-gained twin of indexed video 2 (uniform gain
      // preserves the gradient sig exactly -> dropped even at
      // distance 0) and an undecodable payload (admitted, same batch)
      mem.addData(
        (3L, ts("2024-01-01 00:00:02"), avi(11, n, gain = 2)),
        (4L, ts("2024-01-01 00:00:03"), junk))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L, 4L), s"batch2 got ${ids()}")
      // the executed plan carries NO stateful operator: per-row
      // streaming state is zero bytes whatever the payload size
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

  test("sampleFrameImages: sampled frames come back as REAL BMPs — " +
      "ImageIO round-trips the encoder's exact pixels; short videos " +
      "emit each distinct frame once; undecodable and compressed " +
      "payloads emit one honest marker row") {
    val rows = Video.sampleFrameImages(df((1L, avi(14, 6))),
      "id", "content", nSamples = 6).collect().sortBy(_.frameIdx)
    assert(rows.length == 6 && rows.forall(_.decoded))
    assert(rows.map(_.frameIdx).toSeq == (0L until 6L))
    for (r <- rows) {
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.image))
      assert(bi != null && bi.getWidth == 4 && bi.getHeight == 3)
      val planted = frame(14, r.frameIdx.toInt, 4, 3)
      for (y <- 0 until 3; x <- 0 until 4) {
        val rgb = bi.getRGB(x, y)
        val k = 3 * (y * 4 + x)
        assert((rgb & 0xFF) == (planted(k) & 0xFF) &&
          ((rgb >> 8) & 0xFF) == (planted(k + 1) & 0xFF) &&
          ((rgb >> 16) & 0xFF) == (planted(k + 2) & 0xFF),
          s"pixel ($x,$y) of frame ${r.frameIdx} mismatched")
      }
    }
    // 3-frame video under 65 samples: each frame ONCE, not 65 rows
    val short = Video.sampleFrameImages(df((2L, avi(15, 3))),
      "id", "content").collect()
    assert(short.length == 3 && short.map(_.frameIdx).sorted.toSeq
      == Seq(0L, 1L, 2L))
    // honesty: junk and compressed payloads -> one marker row each
    val compressed = {
      val b = avi(16, 3)
      // strf biCompression lives 48 bytes into strf data; flip it by
      // rebuilding via the encoder is not possible, so corrupt the
      // bitCount field instead (any non-BGR24 stream must refuse)
      val i = indexOfTag(b, "strf")
      b(i + 8 + 14) = 8 // biBitCount = 8
      b
    }
    val marks = Video.sampleFrameImages(
      df((3L, "junk".getBytes("UTF-8")), (4L, compressed)),
      "id", "content").collect()
    assert(marks.length == 2 && marks.forall(m =>
      !m.decoded && m.frameIdx == -1L && m.image.isEmpty))
  }

  test("cross-modal composition: sampled-frame BMPs ride the IMAGE " +
      "dedup machinery — identical videos pair at distance 0 through " +
      "luminanceGrids + dHash with zero video-specific code") {
    import graft.operators.Multimodal
    val vids = df(1L -> avi(20, 70), 2L -> avi(20, 70))
    val frames = Video.sampleFrameImages(vids, "id", "content")
      .toDF().filter(col("decoded") && col("frameIdx") === 0L)
      // composite key: one image row per (video, frame)
      .select((col("id") * 1000 + col("frameIdx")).as("id"),
        col("image"))
    val pairs = Multimodal.imageNearDupPairs(frames, "id", "image",
      maxDistance = 0).collect()
    assert(pairs.exists(p => p.getLong(0) == 1000L &&
      p.getLong(1) == 2000L && p.getLong(2) == 0L),
      s"identical first frames did not pair: ${pairs.mkString(",")}")
  }

  test("cross-modal admission: sampled video frames against a " +
      "persisted IMAGE signature index — frames of an indexed video " +
      "are dropped, frames of an unrelated video are admitted (the " +
      "find-videos-containing-known-images pipeline)") {
    import graft.operators.Multimodal
    // double-mixed pixels on 16x12 frames: unrelated classes get
    // unrelated frame hashes, so absence assertions are safe — and
    // the frame must be at least grid-sized for dHash to carry real
    // gradient content (on a 4x3 source most 9x8 box cells repeat the
    // same pixel, adjacent-cell comparisons degenerate, and unrelated
    // classes legitimately land within Hamming 3 of each other)
    def mixedAvi(cls: Long, n: Int): Array[Byte] = {
      val seed = Fixtures.mix64(cls)
      Video.buildUncompressedAvi(16, 12, (0 until n).map { f =>
        val fs = Fixtures.mix64(seed + f * 0x9E3779B97F4A7C15L)
        Array.tabulate(3 * 16 * 12)(k =>
          ((Fixtures.mix64(fs + k) & Long.MaxValue) % 101L).toByte)
      }, 40000L)
    }
    def frames(rows: (Long, Array[Byte])*) =
      Video.sampleFrameImages(df(rows: _*), "id", "content")
        .toDF().filter(col("decoded"))
        .select((col("id") * 1000 + col("frameIdx")).as("id"),
          col("image"))
    val dir = Fixtures.scratchDir("graft-xmodal-idx").toString
    Multimodal.writeImageNearDupIndex(
      frames(1L -> mixedAvi(1L, 70)), "id", "image", dir)
    // snapshot: video 2 is byte-identical to the indexed video (every
    // sampled frame's BMP matches an indexed signature -> dropped),
    // video 3 is an unrelated class (every frame admitted)
    val admitted = Multimodal.incrementalImageNearDedup(
      frames(2L -> mixedAvi(1L, 70), 3L -> mixedAvi(2L, 70)),
      "id", "image", dir).collect().map(_.getLong(0))
    assert(admitted.forall(id => id >= 3000L && id < 4000L),
      s"indexed-video frames leaked through: ${admitted.mkString(",")}")
    assert(admitted.length == 65, // n=70 > 65 samples -> 65 distinct
      s"expected 65 admitted fresh frames, got ${admitted.length}")
  }

  test("videoStats: exact aggregates over the sampled luma") {
    val frames = (0 until 6).map(f => frame(8, f, 4, 3))
    val bytes = Video.buildUncompressedAvi(4, 3, frames, 50000L)
    val r = Video.videoStats(df((1L, bytes)), "id", "content",
      nSamples = 6).collect().head
    val sums = frames.map(_.map(b => (b & 0xFF).toLong).sum)
    assert(r.getAs[Long]("n_frames") == 6L)
    assert(r.getAs[Long]("duration_ms") == 6L * 50000L / 1000L)
    assert(r.getAs[Long]("luma_total") == sums.sum)
    assert(r.getAs[Long]("luma_peak") == sums.max)
    assert(r.getAs[Long]("luma_min") == sums.min)
  }

  /** Two-stream AVI with the AUDIO strl FIRST: its strf is a 20-byte
    * WAVEFORMATEX (wBitsPerSample=16 at offset 14, nonzero bytes at
    * 16 — exactly the fields a fccType-blind walk would misread as
    * BITMAPINFOHEADER biBitCount/biCompression), then the vids strl,
    * then movi interleaving one `01wb` audio chunk among the `00db`
    * frames.
    */
  private def audioFirstAvi(base: Int, nFrames: Int, w: Int,
      h: Int): Array[Byte] = {
    val stride = ((3 * w + 3) / 4) * 4
    val frameBytes = stride * h
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val strhSz = 56; val strfV = 40; val strfA = 20; val avihSz = 56
    val strlA = 4 + (8 + strhSz) + (8 + strfA)
    val strlV = 4 + (8 + strhSz) + (8 + strfV)
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlA) + (8 + strlV)
    val audioData = 64
    val moviSz = 4 + (8 + audioData) + nFrames * (8 + frameBytes)
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    tag4("RIFF"); w32(riffSz); tag4("AVI ")
    tag4("LIST"); w32(hdrlSz); tag4("hdrl")
    tag4("avih"); w32(avihSz)
    w32(40000L); w32(0L); w32(0L); w32(0L)
    w32(nFrames); w32(0L); w32(2L); w32(frameBytes)
    w32(w); w32(h); w32(0L); w32(0L); w32(0L); w32(0L)
    // ---- stream 0: audio ----
    tag4("LIST"); w32(strlA); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("auds"); w32(1L); w32(0L); w32(0L); w32(0L)
    w32(1L); w32(44100L); w32(0L); w32(44100L)
    w32(2L); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(0); w16(0)
    tag4("strf"); w32(strfA) // WAVEFORMATEX + 2 junk bytes
    w16(1); w16(1); w32(44100L); w32(88200L); w16(2)
    w16(16)      // wBitsPerSample at strf offset 14
    w32(0xBEEFL) // nonzero at strf offset 16 (cbSize + junk)
    // ---- stream 1: video ----
    tag4("LIST"); w32(strlV); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("vids"); tag4("DIB "); w32(0L); w32(0L); w32(0L)
    w32(40000L); w32(1000000L); w32(0L); w32(nFrames)
    w32(frameBytes); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(w); w16(h)
    tag4("strf"); w32(strfV)
    w32(40L); w32(w); w32(h); w16(1); w16(24)
    w32(0L); w32(frameBytes); w32(0L); w32(0L); w32(0L); w32(0L)
    // ---- movi: one audio chunk interleaved among the frames ----
    tag4("LIST"); w32(moviSz); tag4("movi")
    tag4("01wb"); w32(audioData)
    (0 until audioData).foreach(i => bos.write(i & 0xFF))
    (0 until nFrames).foreach { f =>
      val fr = frame(base, f, w, h)
      tag4("00db"); w32(frameBytes)
      var row = h - 1
      while (row >= 0) {
        bos.write(fr, row * 3 * w, 3 * w)
        var p = 3 * w
        while (p < stride) { bos.write(0); p += 1 }
        row -= 1
      }
    }
    bos.toByteArray
  }

  test("multi-stream AVI, audio strl first: strf codec fields come " +
      "from the VIDS stream (strh fccType gates the strf), decode " +
      "proceeds, and audio chunks are skipped in the frame walk") {
    val bytes = audioFirstAvi(7, 8, 4, 3)
    val m = Video.parseAviHeader(df((1L, bytes)), "id", "content")
      .collect().head
    assert(m.parsed && m.streams == 2)
    // a fccType-blind walk reads the audio WAVEFORMATEX here:
    // bit_count=16 (wBitsPerSample), compression=0xBEEF — and the
    // decode-eligibility gate then spuriously refuses the payload
    assert(m.bitCount == 24, s"bit_count=${m.bitCount}")
    assert(m.compression == 0L, s"compression=${m.compression}")
    // the sampled-luma decode works and matches the single-stream
    // encoding of the SAME frames (audio chunk skipped by tag)
    val single = avi(7, 8, 4, 3)
    val sigs = Video.videoSigs(
      df((1L, bytes), (2L, single)), "id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet == Set(1L, 2L), sigs.toString)
    assert(sigs(1L) == sigs(2L),
      s"two-stream and single-stream fingerprints differ: $sigs")
  }

  // ---- MJPEG ---------------------------------------------------------

  /** Flat-gray w×h frame JPEG-encoded by ImageIO — flat frames decode
    * flat (DC-only blocks), so per-frame luma ORDER survives the lossy
    * round trip when gray levels step by ≥ 8.
    */
  private def flatJpeg(gray: Int, w: Int = 16, h: Int = 16): Array[Byte] = {
    val bi = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = bi.createGraphics()
    try {
      g.setColor(new java.awt.Color(gray, gray, gray))
      g.fillRect(0, 0, w, h)
    } finally g.dispose()
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "jpg", out)
    out.toByteArray
  }

  /** Gray level of frame f in MJPEG stream `base`: a base-keyed
    * permutation ramp in steps of 16 — distinct bases give distinct
    * up/down gradient patterns, and a bias shift preserves them.
    */
  private def mjpegGray(base: Int, f: Int): Int =
    16 + 16 * (((base * 7 + f * 3) % 11) % 12)

  private def mjpegAvi(base: Int, nFrames: Int, bias: Int = 0,
      w: Int = 16, h: Int = 16): Array[Byte] =
    Video.buildMjpegAvi(w, h,
      (0 until nFrames).map(f =>
        flatJpeg(math.min(255, mjpegGray(base, f) + bias), w, h)),
      40000L)

  test("MJPEG round trip: metadata reports the MJPG fourcc, sampled " +
      "decode goes through the REAL JVM JPEG codec, and luma sums " +
      "equal the direct ImageIO decode of the same frame bytes") {
    val nFrames = 9
    val bytes = mjpegAvi(3, nFrames)
    val m = Video.parseAviHeader(df((1L, bytes)), "id", "content")
      .collect().head
    assert(m.parsed && m.bitCount == 24)
    assert(m.compression == 0x47504A4DL, s"compression=${m.compression}")
    assert(m.totalFrames == nFrames && m.width == 16 && m.height == 16)
    val v = Video.decodeSampledLuma(df((1L, bytes)), "id", "content",
      nSamples = nFrames).collect().head
    assert(v.decoded && v.nFrames == nFrames)
    // expected: decode each frame's OWN jpeg bytes directly and sum
    // r+g+b — bit-identical to the library's walk by construction
    val expect = (0 until nFrames).map { f =>
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(flatJpeg(mjpegGray(3, f))))
      var s = 0L
      for (y <- 0 until 16; x <- 0 until 16) {
        val rgb = bi.getRGB(x, y)
        s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      }
      s
    }
    assert(v.lumaSums == expect, s"${v.lumaSums} vs $expect")
  }

  test("MJPEG metadata through the PREFIX path: header fields equal " +
      "the full parse when the chunk table fits the prefix (JPEG " +
      "frame bytes never touched)") {
    val bytes = mjpegAvi(4, 8)
    val full = Video.parseAviHeader(df((1L, bytes)), "id", "content")
      .collect().head
    val pref = Video.parseAviHeaderPrefix(df((1L, bytes)), "id",
      "content", prefixBytes = 512).collect().head
    assert(pref.parsed)
    assert((pref.microsPerFrame, pref.totalFrames, pref.width,
      pref.height, pref.bitCount, pref.compression, pref.durationMs) ==
      (full.microsPerFrame, full.totalFrames, full.width,
        full.height, full.bitCount, full.compression, full.durationMs))
    assert(pref.compression == 0x47504A4DL)
  }

  test("lowercase 'mjpg' fourcc decodes like 'MJPG' (same codec, " +
      "encoder case variation)") {
    val bytes = mjpegAvi(3, 5)
    val lower = bytes.clone()
    // flip the strf biCompression fourcc to lowercase (strf body+16)
    val strfAt = indexOfTag(bytes, "strf")
    "mjpg".getBytes("US-ASCII").copyToArray(lower, strfAt + 8 + 16)
    val both = Video.decodeSampledLuma(
      df((1L, bytes), (2L, lower)), "id", "content", nSamples = 5)
      .collect().map(v => v.id -> v).toMap
    assert(both(2L).decoded)
    assert(both(1L).lumaSums == both(2L).lumaSums)
  }

  test("MJPEG honesty: garbage frame bytes, dimension-lying frames, " +
      "truncation, and oversized frames are decoded=false; the cost " +
      "cap applies to the COMPRESSED chunk size") {
    val good = mjpegAvi(5, 6)
    // garbage in the FIRST frame chunk body (always sampled)
    val garbage = good.clone()
    val movi = indexOfTag(good, "movi")
    val firstFrame = indexOfTag(good, "00dc")
    (firstFrame + 8 until firstFrame + 16).foreach(i =>
      garbage(i) = 0x55.toByte)
    // a frame whose JPEG decodes to the WRONG dimensions
    val lying = Video.buildMjpegAvi(16, 16,
      Seq(flatJpeg(64), flatJpeg(64, w = 8, h = 8)), 40000L)
    // movi truncated mid-frame
    val truncated = java.util.Arrays.copyOf(good, good.length - 40)
    val rows = Video.decodeSampledLuma(
      df((1L, garbage), (2L, lying), (3L, truncated)),
      "id", "content", nSamples = 6).collect()
    assert(rows.forall(!_.decoded), rows.mkString(","))
    // oversized: the cap is on compressed chunk bytes
    val tiny = Video.decodeSampledLuma(df((1L, good)), "id", "content",
      nSamples = 6, maxFrameBytes = 64).collect().head
    assert(!tiny.decoded)
    assert(Video.decodeSampledLuma(df((1L, good)), "id", "content",
      nSamples = 6).collect().head.decoded)
    assert(movi > 0) // fixture sanity
  }

  test("MJPEG near-dup: bias twins pair through the temporal " +
      "fingerprint (lossy decode preserves flat-frame luma order), " +
      "distinct gradient patterns do not") {
    val rows = df(
      (1L, mjpegAvi(3, 70)), (2L, mjpegAvi(3, 70, bias = 24)),
      (3L, mjpegAvi(4, 70)), (4L, mjpegAvi(4, 70, bias = 24)),
      (5L, mjpegAvi(5, 70)))
    val pairs = Video.videoNearDupPairs(rows, "id", "content",
      maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (3L, 4L)), pairs.toString)
  }

  test("MJPEG sampled frames ride the image family: sampleFrameImages " +
      "re-encodes JPEG frames as canonical BMPs, pixel-identical to a " +
      "direct ImageIO decode of the frame") {
    val bytes = mjpegAvi(7, 4)
    val frames = Video.sampleFrameImages(df((1L, bytes)), "id",
      "content", nSamples = 4).collect()
    assert(frames.length == 4 && frames.forall(_.decoded))
    val f0 = frames.find(_.frameIdx == 0L).get
    val viaBmp = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(f0.image))
    val direct = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(flatJpeg(mjpegGray(7, 0))))
    for (y <- 0 until 16; x <- 0 until 16)
      assert((viaBmp.getRGB(x, y) & 0xFFFFFF) ==
        (direct.getRGB(x, y) & 0xFFFFFF), s"pixel ($x,$y)")
    // and the BMPs are the canonical shape every image operator
    // (incl. the fast-path grid) consumes
    val grids = graft.operators.Multimodal.luminanceGrids(
      df(frames.map(f => (f.frameIdx, f.image)): _*),
      "id", "content").collect()
    assert(grids.forall(_.decoded))
  }

  // ---- scene segments --------------------------------------------------

  test("segmentVideos: overlapping fixed-frame sub-clips re-encode as " +
      "REAL AVIs whose re-decode equals the source frames exactly; " +
      "trailing remainder not emitted; undecodable -> one marker row") {
    val n = 14
    val bytes = avi(3, n, w = 4, h = 3)
    val segs = Video.segmentVideos(df((1L, bytes)), "id", "content",
      segmentFrames = 6, hopFrames = 4).collect()
    assert(segs.forall(_.decoded))
    // starts 0, 4, 8; frames 12..13 are remainder
    assert(segs.map(s => (s.segIdx, s.startFrame)).toSeq.sorted ==
      Seq((0L, 0L), (1L, 4L), (2L, 8L)))
    val frameLuma = (0 until n).map(f =>
      frame(3, f, 4, 3).map(b => (b & 0xFF).toLong).sum)
    segs.foreach { s =>
      val v = Video.decodeSampledLuma(df((9L, s.avi)), "id", "content",
        nSamples = 6).collect().head
      assert(v.decoded && v.nFrames == 6L && v.durationMs == 6L * 40)
      assert(v.lumaSums ==
        (s.startFrame.toInt until s.startFrame.toInt + 6)
          .map(frameLuma), s"segment ${s.segIdx}")
    }
    // honesty: garbage and compressed-unknown payloads -> marker row
    val comp = bytes.clone()
    comp(indexOfTag(bytes, "strf") + 8 + 16) = 1 // BI_RLE8
    val bad = Video.segmentVideos(
      df((1L, "junk".getBytes("US-ASCII")), (2L, comp)),
      "id", "content", segmentFrames = 6).collect()
    assert(bad.length == 2 && bad.forall(s =>
      !s.decoded && s.segIdx == -1L))
  }

  test("segmentVideos on MJPEG: segments re-encode uncompressed, " +
      "pixel-exact with the direct JPEG decode of the source frames") {
    val bytes = mjpegAvi(5, 7)
    val segs = Video.segmentVideos(df((1L, bytes)), "id", "content",
      segmentFrames = 3, hopFrames = 2).collect()
    assert(segs.map(_.startFrame).toSeq.sorted == Seq(0L, 2L, 4L))
    val expectLuma = (0 until 7).map { f =>
      val bi = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(flatJpeg(mjpegGray(5, f))))
      var s = 0L
      for (y <- 0 until 16; x <- 0 until 16) {
        val rgb = bi.getRGB(x, y)
        s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
      }
      s
    }
    segs.foreach { s =>
      val v = Video.decodeSampledLuma(df((9L, s.avi)), "id", "content",
        nSamples = 3).collect().head
      assert(v.decoded && v.lumaSums ==
        (s.startFrame.toInt until s.startFrame.toInt + 3)
          .map(expectLuma), s"segment ${s.segIdx}")
    }
  }

  test("scene hunt by composition: segments of clips CONTAINING a " +
      "known 66-frame scene match the scene's index at distance 0; " +
      "scene-free clips pass") {
    val sceneFrames = (0 until 66).map(f => frame(99, f, 4, 3))
    val scene = Video.buildUncompressedAvi(4, 3, sceneFrames, 40000L)
    val dir = Fixtures.scratchDir("graft-scene-idx").toString
    import spark.implicits._
    Video.writeVideoNearDupIndex(
      Seq((0L, scene)).toDF("id", "content"), "id", "content", dir)
    // clips of 80 frames; planted ids carry the scene at offset 8
    def clip(base: Int, planted: Boolean): Array[Byte] =
      Video.buildUncompressedAvi(4, 3,
        (0 until 80).map(f =>
          if (planted && f >= 8 && f < 74) sceneFrames(f - 8)
          else frame(base, f, 4, 3)),
        40000L)
    val clips = df((1L, clip(1, planted = true)),
      (2L, clip(2, planted = false)), (3L, clip(3, planted = true)))
    val segs = Video.segmentVideos(clips, "id", "content",
      segmentFrames = 66, hopFrames = 8).toDF()
      .filter(col("decoded"))
      .select((col("id") * 10 + col("segIdx")).as("id"), col("avi"))
    // segments per clip start at 0 and 8; the planted clips' segment 1
    // IS the scene
    val matchedContainers = {
      val admitted = Video.incrementalVideoNearDedup(segs, "id", "avi",
        dir, maxDistance = 0).collect().map(_.getLong(0)).toSet
      val all = segs.collect().map(_.getLong(0)).toSet
      (all -- admitted).map(_ / 10)
    }
    assert(matchedContainers == Set(1L, 3L),
      s"scene containers found: $matchedContainers")
  }

  test("MJPEG decoded-raster bound: container dims whose DECODED " +
      "frame exceeds maxFrameBytes fail the payload on all three " +
      "decode paths even when every compressed chunk is tiny") {
    // 64×64 flat frames: each JPEG is a few hundred bytes, but the
    // decoded raster is stride(192)·64 = 12 288 bytes — past a 4 KiB
    // cap. Without the raster bound a hostile highly-compressible
    // JPEG could declare (and decode to) a multi-GB frame.
    val bytes = Video.buildMjpegAvi(64, 64,
      (0 until 6).map(f => flatJpeg(16 + 16 * (f % 12), 64, 64)),
      40000L)
    val jpegMax = (0 until 6)
      .map(f => flatJpeg(16 + 16 * (f % 12), 64, 64).length).max
    assert(jpegMax < 4096, s"fixture: compressed frames must be tiny " +
      s"($jpegMax)")
    val luma = Video.decodeSampledLuma(df((1L, bytes)), "id", "content",
      nSamples = 6, maxFrameBytes = 4096).collect().head
    assert(!luma.decoded, "decodeSampledLuma must refuse")
    val frames = Video.sampleFrameImages(df((1L, bytes)), "id",
      "content", nSamples = 6, maxFrameBytes = 4096).collect()
    assert(frames.length == 1 && !frames.head.decoded,
      "sampleFrameImages must refuse")
    val segs = Video.segmentVideos(df((1L, bytes)), "id", "content",
      segmentFrames = 3, maxFrameBytes = 4096).collect()
    assert(segs.length == 1 && !segs.head.decoded,
      "segmentVideos must refuse")
    // same payload under the default cap still decodes — the bound is
    // the cap, not the codec
    assert(Video.decodeSampledLuma(df((1L, bytes)), "id", "content",
      nSamples = 6).collect().head.decoded)
  }

  // ---- the soundtrack bridge (video -> audio family) -----------------

  test("soundtrack round trip: extractAudioTracks re-concatenates the " +
      "01wb chunks into a WAV byte-identical to the canonical audio " +
      "writer; metadata reports the auds WAVEFORMATEX; the video side " +
      "of the same container still decodes") {
    val samples = Array.tabulate(500)(k => ((k * 37) % 101) - 50)
    val frames = (0 until 10).map(f => frame(3, f, 4, 3))
    val bytes = Video.buildAviWithAudio(4, 3, frames, 40000L,
      samples, 8000)
    val tr = Video.extractAudioTracks(df((1L, bytes)), "id", "content")
      .collect().head
    assert(tr.decoded && tr.format == 1 && tr.channels == 1 &&
      tr.sampleRate == 8000 && tr.bitsPerSample == 16)
    assert(tr.audioBytes == 1000L)
    // byte-identical to the audio family's own canonical writer — the
    // bridge is header-only, zero transcode
    assert(tr.wav.toSeq == Audio.wrapWav(samples, 0, 500, 8000).toSeq)
    // the audio family consumes it with no video-specific code
    val dec = Audio.decodePcm16(df((1L, tr.wav)), "id", "content")
      .collect().head
    assert(dec.decoded && dec.sampleRate == 8000 &&
      dec.samples.toSeq == samples.toSeq)
    // container metadata exposes the audio shape (the 100 TB
    // has-soundtrack filter) and the frame path is untouched
    val m = Video.videoMetaScan(df((1L, bytes)), "id", "content")
      .collect().head
    assert(m.getBoolean(9)) // parsed
    assert(m.getInt(10) == 1 && m.getInt(11) == 1 &&
      m.getInt(12) == 1 && m.getInt(13) == 8000 && m.getInt(14) == 16,
      m.toString)
    val v = Video.decodeSampledLuma(df((1L, bytes),
      (2L, avi(3, 10))), "id", "content", nSamples = 10)
      .collect().map(x => x.id -> x).toMap
    assert(v(1L).decoded && v(1L).lumaSums == v(2L).lumaSums,
      "audio chunks must not disturb the frame walk")
  }

  test("soundtrack honesty: no audio stream, an audio chunk " +
      "overrunning movi, and a soundtrack past maxAudioBytes are " +
      "decoded=false marker rows") {
    val samples = Array.tabulate(300)(k => k % 64)
    val frames = (0 until 5).map(f => frame(4, f, 4, 3))
    val good = Video.buildAviWithAudio(4, 3, frames, 40000L,
      samples, 8000)
    val silent = avi(4, 5)
    // blow up the LAST 01wb chunk's declared size so it overruns movi
    val overrun = good.clone()
    val lastWb = {
      val pat = "01wb".getBytes("US-ASCII")
      (0 to good.length - 4).filter(i =>
        pat.indices.forall(j => good(i + j) == pat(j))).max
    }
    overrun(lastWb + 4) = 0xFF.toByte
    overrun(lastWb + 5) = 0xFF.toByte
    val rows = Video.extractAudioTracks(
      df((1L, silent), (2L, overrun), (3L, good)), "id", "content")
      .collect().map(t => t.id -> t.decoded).toMap
    assert(rows == Map(1L -> false, 2L -> false, 3L -> true), rows)
    val capped = Video.extractAudioTracks(df((1L, good)), "id",
      "content", maxAudioBytes = 100).collect().head
    assert(!capped.decoded, "cap must refuse, never truncate")
  }

  test("MJPEG + PCM soundtrack (the consumer-camera format): " +
      "extraction is container-level — byte-exact WAV out of a LOSSY " +
      "video container — and both families decode the same payload") {
    val samples = Array.tabulate(400)(k => ((k * 29) % 199) - 99)
    val jpegs = (0 until 8).map(f => flatJpeg(mjpegGray(6, f)))
    val bytes = Video.buildMjpegAviWithAudio(16, 16, jpegs, 40000L,
      samples, 8000)
    // soundtrack: byte-exact through the codec-agnostic walk
    val tr = Video.extractAudioTracks(df((1L, bytes)), "id", "content")
      .collect().head
    assert(tr.decoded &&
      tr.wav.toSeq == Audio.wrapWav(samples, 0, 400, 8000).toSeq)
    // video: the MJPEG frames still decode, audio chunks skipped
    val v = Video.decodeSampledLuma(df((1L, bytes),
      (2L, mjpegAvi(6, 8))), "id", "content", nSamples = 8)
      .collect().map(x => x.id -> x).toMap
    assert(v(1L).decoded && v(1L).lumaSums == v(2L).lumaSums,
      "audio chunks must not disturb the MJPEG frame walk")
    // metadata reports BOTH stream shapes
    val m = Video.videoMetaScan(df((1L, bytes)), "id", "content")
      .collect().head
    assert(m.getLong(7) == 0x47504A4DL) // compression = MJPG
    assert(m.getInt(12) == 1 && m.getInt(13) == 8000) // audio shape
  }

  test("jingle-in-a-VIDEO detection is plain composition: extracted " +
      "soundtracks ride the audio segment index admission unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    def noise(n: Int) = Array.fill(n)(rnd.nextInt(16001) - 8000)
    val jingle = noise(65 * 16) // 1040 frames
    val dir = Fixtures.scratchDir("graft-video-jingle-idx").toString
    Audio.writeAudioNearDupIndex(
      Seq(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000))
        .toDF("id", "content"), "id", "content", dir)
    val frames = (0 until 6).map(f => frame(5, f, 4, 3))
    def video(planted: Boolean) = Video.buildAviWithAudio(4, 3,
      frames, 40000L,
      if (planted) noise(1040) ++ jingle ++ noise(1040)
      else noise(3120), 8000)
    val tracks = Video.extractAudioTracks(
      df((10L, video(planted = true)), (20L, video(planted = false))),
      "id", "content").toDF()
      .filter(col("decoded")).select(col("id"), col("wav"))
    val segs = Audio.segmentClips(tracks, "id", "wav",
      segmentFrames = 1040).toDF()
      .filter(col("decoded"))
      .select((col("id") * 100 + col("segIdx")).as("id"), col("wav"))
    val admitted = Audio.incrementalAudioNearDedup(segs, "id", "wav",
      dir, maxDistance = 0).collect().map(_.getLong(0)).toSet
    val dropped = segs.collect().map(_.getLong(0)).toSet -- admitted
    assert(dropped == Set(1001L),
      s"planted video's middle segment must be the only drop: $dropped")
  }
}
