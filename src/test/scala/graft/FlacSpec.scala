package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Audio, Flac}

/** FLAC decode — the bit-exact compressed audio rung: subframe
  * grammar (constant/verbatim/fixed/LPC), Rice residuals (partitions,
  * escapes), wasted bits, stereo decorrelations, CRC integrity, and
  * the honesty matrix. Every payload is REAL bytes from the library
  * encoder (or hand-corrupted variants); every expectation is the
  * planted integer stream itself — FLAC is lossless, so decode must
  * return it EXACTLY.
  */
class FlacSpec extends AnyFunSuite with BeforeAndAfterAll {

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

  /** Noise-like but bounded-delta stream (Rice-friendly, nonlinear —
    * the quadratic term keeps class streams decorrelated, the r16
    * fixture lesson).
    */
  private def stream(seed: Int, n: Int): Array[Int] =
    Array.tabulate(n)(k =>
      ((seed * 53 + k * 17 + k * k % 31) % 201) - 100)

  test("round trip every subframe strategy over multi-frame streams " +
      "with a short last block: constant, verbatim, fixed 0-4, and " +
      "LPC decode back to the planted samples exactly") {
    val s = stream(7, 500) // blockSize 128 -> 4 frames, last 116
    val cases = Seq(
      1L -> Flac.buildFlac(8000, Array(s), strategy = "verbatim",
        blockSize = 128),
      2L -> Flac.buildFlac(8000, Array(s), strategy = "fixed0",
        blockSize = 128, riceParam = 8),
      3L -> Flac.buildFlac(8000, Array(s), strategy = "fixed1",
        blockSize = 128),
      4L -> Flac.buildFlac(8000, Array(s), strategy = "fixed2",
        blockSize = 128),
      5L -> Flac.buildFlac(8000, Array(s), strategy = "fixed3",
        blockSize = 128, riceParam = 7),
      6L -> Flac.buildFlac(8000, Array(s), strategy = "fixed4",
        blockSize = 128, riceParam = 8),
      7L -> Flac.buildFlac(8000, Array(s), strategy = "lpc",
        blockSize = 128, lpcCoefs = Array(25, -9), lpcShift = 4),
      8L -> Flac.buildFlac(8000, Array.fill(1)(Array.fill(300)(-42)),
        strategy = "constant", blockSize = 100))
    val rows = Flac.decodeFlac(df(cases: _*), "id", "content")
      .collect().map(d => d.id -> d).toMap
    (1L to 7L).foreach { id =>
      val d = rows(id)
      assert(d.decoded && d.sampleRate == 8000 && d.channels == 1 &&
        d.nFrames == 500L, s"$id: $d")
      assert(d.samples.toSeq == s.toSeq, s"$id: decoded stream differs")
    }
    assert(rows(8L).decoded &&
      rows(8L).samples.toSeq == Seq.fill(300)(-42), rows(8L).toString)
  }

  test("residual shapes: Rice partitions (varying parameters) and " +
      "the raw-width escape both decode exactly; wasted bits shift " +
      "back; 12- and 24-bit widths scale to the 16-bit range like " +
      "the WAV path") {
    val s = stream(9, 512)
    val s4 = s.map(_ * 4) // divisible by 2^2 for wasted bits
    val s24 = s.map(_ * 40000) // genuinely 24-bit values
    val rows = Flac.decodeFlac(df(
      1L -> Flac.buildFlac(16000, Array(s), strategy = "fixed2",
        blockSize = 128, partitionOrder = 2),
      2L -> Flac.buildFlac(16000, Array(s), strategy = "fixed1",
        blockSize = 128, rawWidth = 12),
      3L -> Flac.buildFlac(16000, Array(s4), strategy = "fixed2",
        blockSize = 128, wastedBits = 2),
      4L -> Flac.buildFlac(16000, Array(s), bps = 12,
        strategy = "fixed2", blockSize = 128),
      5L -> Flac.buildFlac(16000, Array(s24), bps = 24,
        strategy = "fixed2", blockSize = 128, riceParam = 14)),
      "id", "content").collect().map(d => d.id -> d).toMap
    assert(rows(1L).decoded && rows(1L).samples.toSeq == s.toSeq)
    assert(rows(2L).decoded && rows(2L).samples.toSeq == s.toSeq)
    assert(rows(3L).decoded && rows(3L).samples.toSeq == s4.toSeq)
    // 12-bit scales UP by 4 bits, 24-bit scales DOWN by 8 (floor)
    assert(rows(4L).decoded &&
      rows(4L).samples.toSeq == s.map(_ << 4).toSeq)
    assert(rows(5L).decoded &&
      rows(5L).samples.toSeq == s24.map(_ >> 8).toSeq)
  }

  test("stereo: independent, left/side, right/side, and mid/side all " +
      "reconstruct the planted channels and mix down by the family's " +
      "floorDiv") {
    val l = stream(3, 384)
    val r = stream(11, 384)
    val want = (0 until 384).map(i => math.floorDiv(l(i) + r(i), 2))
    val rows = Flac.decodeFlac(df(
      1L -> Flac.buildFlac(8000, Array(l, r), blockSize = 128,
        stereoMode = "independent"),
      2L -> Flac.buildFlac(8000, Array(l, r), blockSize = 128,
        stereoMode = "left_side"),
      3L -> Flac.buildFlac(8000, Array(l, r), blockSize = 128,
        stereoMode = "right_side"),
      4L -> Flac.buildFlac(8000, Array(l, r), blockSize = 128,
        stereoMode = "mid_side")),
      "id", "content").collect().map(d => d.id -> d).toMap
    (1L to 4L).foreach { id =>
      val d = rows(id)
      assert(d.decoded && d.channels == 2 && d.nFrames == 384L,
        s"$id: $d")
      assert(d.samples.toSeq == want, s"$id: stereo mixdown differs")
    }
  }

  test("the decoded stream rides the audio family: a FLAC clip's " +
      "fingerprint admits against a WAV index of the same samples") {
    val s = stream(21, 1040)
    val flac = Flac.buildFlac(8000, Array(s), blockSize = 256)
    val d = Flac.decodeFlac(df(1L -> flac), "id", "content")
      .collect().head
    assert(d.decoded && d.samples.toSeq == s.toSeq)
    // byte-identical signal to the canonical WAV wrap of the stream
    val wav = Audio.wrapWav(s, 0, s.length, 8000)
    val dw = Audio.decodePcm16(df(1L -> wav), "id", "content")
      .collect().head
    assert(dw.samples.toSeq == d.samples.toSeq,
      "FLAC and WAV decodes of the same stream must agree")
  }

  test("honesty matrix: garbage, a flipped payload bit (CRC-16), a " +
      "flipped header bit (CRC-8), truncation, a total-samples lie, " +
      "an over-cap stream, and unsupported widths all refuse") {
    val s = stream(5, 400)
    val good = Flac.buildFlac(8000, Array(s), blockSize = 128)
    def corrupt(at: Int): Array[Byte] = {
      val c = good.clone(); c(at) = (c(at) ^ 0x10).toByte; c
    }
    // find the first frame: after fLaC(4) + block header(4) + 34
    val frame0 = 42
    val payloadFlip = corrupt(frame0 + 20) // inside subframe data
    val headerFlip = corrupt(frame0 + 2) // inside the frame header
    val truncated = good.take(good.length - 3)
    val totalLie = good.clone()
    totalLie(21) = (totalLie(21) ^ 0x01).toByte // STREAMINFO total
    val rows = Flac.decodeFlac(df(
      1L -> "not flac".getBytes("UTF-8"),
      2L -> payloadFlip, 3L -> headerFlip, 4L -> truncated,
      5L -> totalLie, 6L -> good),
      "id", "content").collect().map(d => d.id -> d.decoded).toMap
    assert(rows == Map(1L -> false, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> true), rows.toString)
    // over-cap: refuse entirely, never a truncated signal
    val capped = Flac.decodeFlac(df(1L -> good), "id", "content",
      maxFrames = 100).collect().head
    assert(!capped.decoded && capped.samples.isEmpty)
    // 32-bit STREAMINFO width: honestly unsupported
    val wide = Audio.buildFlacHeader(8000, 1, 32, 100L)
    val w = Flac.decodeFlac(df(1L -> wide), "id", "content")
      .collect().head
    assert(!w.decoded)
  }

  test("cross-container audio: a WAV and a FLAC of the same samples " +
      "carry the SAME signature (pair at distance 0), a WAV-built " +
      "index drops the FLAC twin on admission, and a jingle inside " +
      "a FLAC clip is found by the unchanged hunt") {
    val s1 = stream(2, 1040)
    val s2 = stream(4, 1040)
    val wav1 = Audio.wrapWav(s1, 0, s1.length, 8000)
    val flac1 = Flac.buildFlac(8000, Array(s1), blockSize = 128)
    val flac2 = Flac.buildFlac(8000, Array(s2), blockSize = 128)
    // one signature space: the container twins pair at distance 0
    val pairs = Audio.audioNearDupPairs(
      df(1L -> wav1, 2L -> flac1, 3L -> flac2), "id", "content",
      maxDistance = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // a WAV index drops the FLAC twin, admits the fresh FLAC
    val dir = Fixtures.scratchDir("graft-flac-cross").toString
    Audio.writeAudioNearDupIndex(df(1L -> wav1), "id", "content", dir)
    val admitted = Audio.incrementalAudioNearDedup(
      df(2L -> flac1, 3L -> flac2), "id", "content", dir,
      maxDistance = 0).collect().map(_.getLong(0)).toSet
    assert(admitted == Set(3L),
      s"FLAC twin of the indexed WAV must drop: $admitted")
    // jingle hunt through a FLAC clip — zero new code
    val jingle = stream(9, 1040)
    val jDir = Fixtures.scratchDir("graft-flac-jingle").toString
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", jDir)
    val clip = Flac.buildFlac(8000,
      Array(stream(6, 1040) ++ jingle ++ stream(8, 1040)),
      blockSize = 128)
    val hits = Audio.findClipsContainingJingle(
      df(10L -> clip, 20L -> flac2), "id", "content", jDir,
      segmentFrames = 1040)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits == Set((10L, 1L, 1040L)), hits.toString)
  }

  test("flacStats projection: exact integer folds of the decoded " +
      "stream") {
    val s = stream(13, 300)
    val r = Flac.flacStats(df(7L -> Flac.buildFlac(8000, Array(s),
      blockSize = 100)), "id", "content").collect().head
    assert(r.getLong(0) == 7L && r.getLong(1) == 8000L &&
      r.getLong(2) == 300L)
    assert(r.getLong(3) == s.map(_.toLong).sum &&
      r.getLong(4) == s.max.toLong && r.getLong(5) == s.min.toLong)
  }
}
