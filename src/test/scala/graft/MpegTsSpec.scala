package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Media, MpegTs}

/** MPEG-TS segment + ADTS-AAC stream walks (container family #11):
  * round trips through the encode twins, PTS-span duration, dims
  * decoded from the CONTAINED SPS (a TS has no container dims to
  * lie with), the ADTS frame chain, the truncation/garbage honesty
  * matrix, and the unified [[Media]] dispatch.
  */
class MpegTsSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  test("ADTS round trip: profile/rate/channels/crc replay, frame " +
      "count and sample-exact duration, multi-block frames") {
    val a = MpegTs.buildAdts(profile = 1, sfIdx = 4, channels = 2,
      frames = 5) // 44100 Hz stereo LC, 5 x 1024 samples
    val b = MpegTs.buildAdts(profile = 0, sfIdx = 8, channels = 1,
      frames = 3, crc = true, rdb = 1) // 16 kHz mono, 2 blocks/frame
    val rows = MpegTs.adtsMetaScan(df(1L -> a, 2L -> b), "id",
      "content").orderBy("id").collect()
    assert(rows(0).getAs[Long]("sample_rate") === 44100L)
    assert(rows(0).getAs[Long]("channels") === 2L)
    assert(rows(0).getAs[String]("profile") === "aac_lc")
    assert(!rows(0).getAs[Boolean]("crc"))
    assert(rows(0).getAs[Long]("frames") === 5L)
    assert(rows(0).getAs[Long]("samples") === 5120L)
    assert(rows(0).getAs[Long]("duration_ms") === 5120L * 1000 / 44100)
    assert(rows(1).getAs[String]("profile") === "aac_main")
    assert(rows(1).getAs[Boolean]("crc"))
    assert(rows(1).getAs[Long]("samples") === 3L * 2048) // rdb = 1
    assert(rows.forall(_.getAs[Boolean]("parsed")))
  }

  test("ADTS honesty: truncated final frame, mid-stream garbage, " +
      "config drift, reserved frequency index, and an MP3 frame " +
      "(layer != 0) all refuse — never a partial count") {
    val good = MpegTs.buildAdts(1, 4, 2, 3)
    assert(MpegTs.adtsMetaScan(df(1L -> good), "id", "content")
      .filter("parsed").count() === 1L)
    // truncated: drop the last 4 bytes — the final frame's declared
    // stride runs past the payload
    val trunc = good.dropRight(4)
    // garbage: flip a byte at the second frame boundary
    val garbled = good.clone()
    garbled(20) = 0x00 // frame 0 is 20 bytes (7 hdr + 13 payload)
    // drift: two VALID streams concatenated (44.1 kHz then 16 kHz)
    val drift = good ++ MpegTs.buildAdts(1, 8, 2, 2)
    // reserved sampling_frequency_index 14
    val badSf = good.clone()
    badSf(2) = ((1 << 6) | (14 << 2)).toByte
    // an MPEG-1 Layer III sync (layer bits 01) must NOT be read as
    // ADTS — that is the MP3 walk's format
    val mp3ish = good.clone()
    mp3ish(1) = 0xFB.toByte
    val rows = MpegTs.adtsMetaScan(
      df(1L -> trunc, 2L -> garbled, 3L -> drift, 4L -> badSf,
        5L -> mp3ish), "id", "content").collect()
    assert(rows.forall(!_.getAs[Boolean]("parsed")))
  }

  test("TS round trip: PAT/PMT routing, dims decoded from the " +
      "contained H.264 SPS, PTS-span duration, ADTS audio fields " +
      "from the SAME header parser as the standalone walk") {
    val adts = MpegTs.buildAdts(profile = 1, sfIdx = 3, channels = 2,
      frames = 2) // 48 kHz stereo
    val ts = MpegTs.buildTs(spsWidth = 322, spsHeight = 182,
      profileIdc = 100, levelIdc = 31,
      videoPts = Seq(90000L, 90000L + 45000L, 90000L + 90000L),
      adts = Some(adts))
    assert(ts.length % 188 === 0)
    val r = MpegTs.tsMetaScan(df(1L -> ts), "id", "content")
      .collect()(0)
    assert(r.getAs[Boolean]("parsed"))
    assert(r.getAs[Long]("programs") === 1L)
    assert(r.getAs[String]("video_codec") === "h264")
    assert(r.getAs[Long]("width") === 322L) // from the SPS crop math
    assert(r.getAs[Long]("height") === 182L)
    assert(r.getAs[Long]("sps_profile") === 100L)
    assert(r.getAs[Long]("sps_level") === 31L)
    assert(r.getAs[String]("audio_codec") === "adts_aac")
    assert(r.getAs[Long]("audio_rate") === 48000L)
    assert(r.getAs[Long]("audio_channels") === 2L)
    assert(r.getAs[Long]("duration_ms") === 1000L) // 90000 ticks
  }

  test("TS h265 arm: stream_type 0x24 routes to the HEVC SPS parser") {
    val ts = MpegTs.buildTs(spsWidth = 640, spsHeight = 360,
      profileIdc = 2, levelIdc = 93, videoPts = Seq(0L, 180000L),
      h265 = true)
    val r = MpegTs.tsMetaScan(df(1L -> ts), "id", "content")
      .collect()(0)
    assert(r.getAs[Boolean]("parsed"))
    assert(r.getAs[String]("video_codec") === "h265")
    assert(r.getAs[Long]("width") === 640L)
    assert(r.getAs[Long]("height") === 360L)
    assert(r.getAs[Long]("sps_profile") === 2L)
    assert(r.getAs[Long]("duration_ms") === 2000L)
  }

  test("TS honesty: a non-188 length, a lost packet sync, a " +
      "corrupted PMT CRC, a scrambled PID, and a declared-H.264 " +
      "stream with no SPS all refuse the whole payload") {
    val ts = MpegTs.buildTs(320, 180, 66, 30, Seq(0L, 90000L))
    assert(MpegTs.tsMetaScan(df(1L -> ts), "id", "content")
      .filter("parsed").count() === 1L)
    val shorted = ts.dropRight(17) // mid-packet truncation
    val desync = ts.clone(); desync(188 * 2) = 0x48
    // flip one CRC byte of the PMT: stuffing precedes payload, so
    // the section (CRC last) ends exactly at the packet boundary
    val badCrc = ts.clone()
    badCrc(188 * 2 - 1) = (badCrc(188 * 2 - 1) ^ 0x01).toByte
    val scrambled = ts.clone()
    scrambled(188 * 2 + 3) = (scrambled(188 * 2 + 3) | 0x80).toByte
    // drop the first video packet (the one carrying the SPS): a
    // declared-H.264 stream whose capped ES scan finds no SPS must
    // refuse, not report zero dims
    val noSps = ts.take(188 * 2) ++ ts.drop(188 * 3)
    val rows = MpegTs.tsMetaScan(
      df(1L -> shorted, 2L -> desync, 3L -> badCrc, 4L -> scrambled,
        5L -> noSps), "id", "content").collect()
    assert(rows.forall(!_.getAs[Boolean]("parsed")))

    // a PMT whose last stream's ES_info_length overruns the CRC is a
    // lying table even when the CRC is RE-SIGNED over the lie — the
    // structural landing check must refuse on its own
    val lying = ts.clone()
    val secEnd = 188 * 2 // stuffing precedes payload: section ends here
    lying(secEnd - 6) = 0; lying(secEnd - 5) = 2 // esLen 0 -> 2
    val s = (188 until secEnd - 4).find { i =>
      (lying(i) & 0xFF) == 0x02 &&
        i + 3 + (((lying(i + 1) & 0x0F) << 8) | (lying(i + 2) & 0xFF)) == secEnd
    }.get
    val crc2 = MpegTs.crc32Mpeg(lying, s, secEnd - 4 - s)
    lying(secEnd - 4) = ((crc2 >>> 24) & 0xFF).toByte
    lying(secEnd - 3) = ((crc2 >>> 16) & 0xFF).toByte
    lying(secEnd - 2) = ((crc2 >>> 8) & 0xFF).toByte
    lying(secEnd - 1) = (crc2 & 0xFF).toByte
    val lrow = MpegTs.tsMetaScan(df(1L -> lying), "id", "content")
      .collect()(0)
    assert(!lrow.getAs[Boolean]("parsed"))
  }

  test("ADTS stream walk: byte-equal to the buffered walk on every " +
      "honesty-matrix shape, one 9-byte header resident — including " +
      "a dribbling one-byte-at-a-time stream") {
    val good = MpegTs.buildAdts(1, 4, 2, 5, payloadPerFrame = 27)
    val crc = MpegTs.buildAdts(0, 8, 1, 3, crc = true, rdb = 1)
    val cases = Seq[Array[Byte]](
      good, crc,
      good.dropRight(4), // truncated final frame
      good ++ MpegTs.buildAdts(1, 8, 2, 2), // config drift
      good.take(7), // lone header, stride past EOF
      crc.take(8), // CRC byte torn off the first header
      Array[Byte](), Array[Byte](0xFF.toByte),
      Array.fill[Byte](64)(0x11)) // garbage
    for (b <- cases) {
      val buffered = MpegTs.parseAdts(b)
      assert(MpegTs.parseAdtsStream(
        new java.io.ByteArrayInputStream(b)) === buffered)
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
      assert(MpegTs.parseAdtsStream(dribble) === buffered)
    }
    assert(MpegTs.parseAdtsStream(
      new java.io.ByteArrayInputStream(good)).isDefined)
  }

  test("packet-bounded ADTS sniff: a PES header leaving fewer than 7 " +
      "payload bytes in the packet must NOT read the next packet's " +
      "sync/PID bytes as ADTS fields — column and stream walks agree") {
    // one audio PES of exactly 184 bytes (no adaptation stuffing):
    // 14-byte PES header + 170 ADTS bytes (5 frames x 34)
    val adts = MpegTs.buildAdts(profile = 1, sfIdx = 3, channels = 2,
      frames = 5, payloadPerFrame = 27)
    assert(adts.length === 170)
    val ts = MpegTs.buildTs(320, 180, 66, 30, Seq(0L, 90000L),
      adts = Some(adts))
    // find the audio PUSI packet (PID 0x101) and inflate its PES
    // header-data length so the ES starts 3 bytes before packet end
    val b = ts.clone()
    val o = (0 until b.length by 188).find { o =>
      (b(o + 1) & 0x40) != 0 &&
        (((b(o + 1) & 0x1F) << 8) | (b(o + 2) & 0xFF)) == 0x101
    }.get
    assert((b(o + 3) & 0x30) === 0x10, "payload-only packet expected")
    val pOff = o + 4
    b(pOff + 8) = 172.toByte // hdrLen 5 -> 172; es = pOff + 181
    java.util.Arrays.fill(b, pOff + 14, o + 185, 0xFF.toByte)
    // the ES tail is a REAL ADTS header start split across packets —
    // the next packet's 0x47 sync would complete it into bogus fields
    b(o + 185) = 0xFF.toByte; b(o + 186) = 0xF1.toByte
    b(o + 187) = 0x4C.toByte
    val viaColumn = MpegTs.parseTs(b)
    val viaStream =
      MpegTs.parseTsStream(new java.io.ByteArrayInputStream(b))
    assert(viaColumn === viaStream)
    assert(viaColumn.isDefined)
    // no whole header fit any audio packet: fields must be 0, not a
    // cross-packet parse (pre-fix the column walk read 48 kHz here)
    assert(viaColumn.get.audioRate === 0)
    assert(viaColumn.get.audioChannels === 0)
  }

  test("multi-program PAT refuses whole (single-valued PMT routing " +
      "would report one arbitrary program's streams); repeated " +
      "single-program PATs stay idempotent") {
    val ts = MpegTs.buildTs(320, 180, 66, 30, Seq(0L, 90000L))
    // hand-build a 2-program PAT section (programs 1 and 2)
    val body = Array[Byte](0x00, 0x01, 0xF0.toByte, 0x00, // 1->0x1000
      0x00, 0x02, 0xF0.toByte, 0x01) // 2 -> 0x1001
    val secLen = 5 + body.length + 4
    val sec = new java.io.ByteArrayOutputStream()
    sec.write(0x00) // tableId
    sec.write(0xB0 | ((secLen >> 8) & 0x0F)); sec.write(secLen & 0xFF)
    sec.write(0x00); sec.write(0x01) // transport_stream_id
    sec.write(0xC1); sec.write(0x00); sec.write(0x00)
    sec.write(body, 0, body.length)
    val sarr = sec.toByteArray
    val crc = MpegTs.crc32Mpeg(sarr, 0, sarr.length)
    sec.write((crc >>> 24) & 0xFF); sec.write((crc >>> 16) & 0xFF)
    sec.write((crc >>> 8) & 0xFF); sec.write(crc & 0xFF)
    val b = ts.clone()
    b(4) = 0x00 // pointer_field
    val s2 = sec.toByteArray
    System.arraycopy(s2, 0, b, 5, s2.length)
    java.util.Arrays.fill(b, 5 + s2.length, 188, 0xFF.toByte)
    // the original PAT packet was payload-only with the section
    // ending at the packet boundary; force the same flags
    b(3) = 0x10
    val rows = MpegTs.tsMetaScan(df(1L -> b), "id", "content")
      .collect()
    assert(!rows(0).getAs[Boolean]("parsed"))
    assert(MpegTs.parseTsStream(
      new java.io.ByteArrayInputStream(b)).isEmpty)
    // idempotent repeats: the SAME single-program PAT twice parses
    val rep = ts.take(188) ++ ts
    assert(MpegTs.parseTs(rep).isDefined)
  }

  test("a declared PTS with PES_header_data_length < 5 is a lying " +
      "header — refused, not read as timestamp-plus-ES") {
    val ts = MpegTs.buildTs(320, 180, 66, 30, Seq(0L, 90000L))
    val b = ts.clone()
    val o = (0 until b.length by 188).find { o =>
      (b(o + 1) & 0x40) != 0 &&
        (((b(o + 1) & 0x1F) << 8) | (b(o + 2) & 0xFF)) == 0x100
    }.get
    val afc = (b(o + 3) >> 4) & 0x3 // skip any adaptation stuffing
    val pOff =
      if (afc >= 2) o + 5 + (b(o + 4) & 0xFF) else o + 4
    assert(b(pOff) === 0 && b(pOff + 1) === 0 && b(pOff + 2) === 1,
      "PES start code expected")
    assert((b(pOff + 7) & 0x80) !== 0, "PTS flag expected")
    b(pOff + 8) = 3 // hdrLen 5 -> 3: too short for the declared PTS
    val rows = MpegTs.tsMetaScan(df(1L -> b), "id", "content")
      .collect()
    assert(!rows(0).getAs[Boolean]("parsed"))
    assert(MpegTs.parseTsStream(
      new java.io.ByteArrayInputStream(b)).isEmpty)
  }

  test("33-bit PTS wraparound: a capture crossing the ~26.5 h wrap " +
      "unwraps to the physical span instead of a ~26 h lie") {
    val wrap = 1L << 33
    // 45000 ticks (500 ms) before the wrap, then 45000 ticks after:
    // the raw values jump from 2^33-45000 down to 45000
    val ts = MpegTs.buildTs(320, 180, 66, 30,
      Seq(wrap - 45000L, 45000L))
    val r = MpegTs.tsMetaScan(df(1L -> ts), "id", "content")
      .collect()(0)
    assert(r.getAs[Boolean]("parsed"))
    assert(r.getAs[Long]("duration_ms") === 1000L) // 90000 ticks
    // stream walk shares the accumulator, so the same unwrap
    assert(MpegTs.parseTsStream(
      new java.io.ByteArrayInputStream(ts)).get.durationMs === 1000L)
  }

  test("path-level stream source: on-disk .ts captures yield EXACTLY " +
      "the column operator's rows through the SAME per-packet state " +
      "machine; a truncated tail packet and garbage refuse as " +
      "parsed = false rows") {
    import org.apache.spark.sql.functions._
    val payloads = (0L until 6L).map { id =>
      val b = (id % 4).toInt
      id -> MpegTs.buildTs(320 + 2 * b, 180 + 2 * b,
        if (id % 2 == 0) 66 else 100, 30 + b,
        videoPts = Seq(0L, 45000L + 900L * id, 90000L + 1800L * id),
        adts = if (id % 3 == 2) None
          else Some(MpegTs.buildAdts(1, 3 + b % 3, 1 + b % 2, 2)),
        h265 = id % 4 == 3)
    }
    val dir = Fixtures.scratchDir("graft-ts-src-spec")
    payloads.foreach { case (id, bytes) =>
      java.nio.file.Files.write(dir.resolve(s"seg_$id.ts"), bytes)
    }
    // a mid-packet truncation and a non-TS file: parsed = false rows
    java.nio.file.Files.write(dir.resolve("seg_97.ts"),
      payloads.head._2.dropRight(17))
    java.nio.file.Files.write(dir.resolve("seg_98.ts"),
      "not a transport stream".getBytes("UTF-8"))

    val cols = Seq("id", "packets", "programs", "video_codec", "width",
      "height", "sps_profile", "sps_level", "audio_codec",
      "audio_rate", "audio_channels", "duration_ms", "parsed")
    val streamed = graft.sources.MpegTsShardSource.metaScanDF(spark,
        dir.toString + "/seg_*.ts")
      .withColumn("id",
        regexp_extract(col("shard_path"), "/seg_(\\d+)\\.", 1)
          .cast("long"))
      .select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val all = payloads ++ Seq(97L -> payloads.head._2.dropRight(17),
      98L -> "not a transport stream".getBytes("UTF-8"))
    val column = MpegTs.tsMetaScan(df(all: _*), "id", "content")
      .select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === column)
    assert(streamed.count(_.contains("true")) === 6)

    // an empty file is no transport stream (the n == 0 stream path)
    java.nio.file.Files.write(dir.resolve("seg_99.ts"),
      Array.emptyByteArray)
    val empty = graft.sources.MpegTsShardSource.metaScanDF(spark,
      dir.toString + "/seg_99.ts").collect()
    assert(empty.length === 1 && !empty(0).getAs[Boolean]("parsed"))

    // a dribbling stream (1 byte per read) must assemble packets
    // correctly through the inner refill loop — same result as the
    // column walk on the same bytes
    val bytes = payloads.head._2
    val dribble = new java.io.InputStream {
      private var i = 0
      override def read(): Int =
        if (i >= bytes.length) -1
        else { val v = bytes(i) & 0xFF; i += 1; v }
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        if (i >= bytes.length) return -1
        b(off) = bytes(i); i += 1; 1 // one byte at a time
      }
    }
    val viaStream = MpegTs.parseTsStream(dribble)
    val viaColumn = MpegTs.parseTs(bytes)
    assert(viaStream === viaColumn && viaStream.isDefined)
  }

  test("unified Media dispatch: .ts and .aac payloads route to the " +
      "new walks; an MP3 still routes to the MP3 walk (the ADTS " +
      "check is layer-exact, not sync-loose); prefix path refuses " +
      "both honestly (their grammars need the tail)") {
    import graft.operators.Mp3
    val ts = MpegTs.buildTs(322, 182, 66, 30, Seq(0L, 90000L),
      adts = Some(MpegTs.buildAdts(1, 3, 2, 2)))
    val aac = MpegTs.buildAdts(1, 4, 1, 4)
    val mp3 = Mp3.buildMp3(3, 0, Seq(5, 5, 5), mono = false, id3Bytes = 0, xingFrames = -1L, id3Frames = Nil, id3Major = 4)
    val rows = Media.mediaMetaScan(
      df(1L -> ts, 2L -> aac, 3L -> mp3), "id", "content")
      .orderBy("id").collect()
    assert(rows.map(_.getAs[String]("container")).toSeq ===
      Seq("mpegts", "adts", "mp3"))
    assert(rows(0).getAs[Int]("width") === 322)
    assert(rows(0).getAs[String]("audio_codec") === "adts_aac")
    assert(rows(0).getAs[Long]("duration_ms") === 1000L)
    assert(rows(1).getAs[String]("audio_codec") === "aac")
    assert(rows(1).getAs[Int]("audio_rate") === 44100)
    assert(rows.forall(_.getAs[Boolean]("parsed")))
    // prefix path: both grammars need the tail (last PTS / to-EOF
    // frame chain), so the prefix scan refuses rather than guesses
    val pre = Media.mediaMetaScanPrefix(df(1L -> ts, 2L -> aac),
      "id", "content", prefixBytes = 4096).orderBy("id").collect()
    assert(pre.forall(!_.getAs[Boolean]("parsed")))
  }
}
