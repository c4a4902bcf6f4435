package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Audio, Flac, Gif, Media, Mp3, Mp4, MpegTs, Video, Webm}
import graft.sources.MediaShardSource

/** Unified path-level media census: per-family routing to the
  * cheapest honest walk, field parity with the column census on the
  * same bytes, and the refusal matrix (unknown magic, corrupted
  * streams).
  */
class MediaShardSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def mixedCorpus: Seq[(String, Array[Byte])] = Seq(
    "avi" -> Video.buildUncompressedAvi(4, 3, Seq(
      Array.tabulate[Byte](36)(k => (k * 7 % 101).toByte)), 40000L),
    "gif" -> Gif.buildGif(4, 3, Array.tabulate(16)(i => i * 0x111111),
      Seq(Array.tabulate[Byte](12)(p => (p % 16).toByte)), delayCs = 5),
    "mp4" -> Mp4.toTrailingMoov(Mp4.buildMp4(600L, 3000L, 320, 240,
      "avc1", nFrames = 24L, mdatBytes = 4096)),
    "webm" -> Webm.buildWebm("webm", 1000000L, 1500.0, "V_VP9",
      640, 360, "A_OPUS", 2, 48000.0),
    "wav" -> Audio.wrapWav(Array.tabulate(400)(k => k % 100), 0, 400,
      8000),
    "flac" -> Flac.buildFlac(8000, Array(Array.tabulate(384)(k =>
      k % 100)), blockSize = 128),
    "mp3" -> Mp3.buildMp3(3, 0, Seq.fill(5)(5), mono = true),
    "ogg" -> Audio.buildOgg("opus", channels = 1, sampleRate = 8000,
      granule = 960L),
    "adts" -> MpegTs.buildAdts(1, 4, 2, 3),
    "mpegts" -> MpegTs.buildTs(322, 182, 100, 31,
      Seq(0L, 45000L, 90000L),
      adts = Some(MpegTs.buildAdts(1, 3, 2, 2))))

  private val expectedRoute = Map("avi" -> "prefix", "gif" -> "stream",
    "mp4" -> "seek", "webm" -> "prefix", "wav" -> "prefix",
    "flac" -> "prefix", "mp3" -> "stream", "ogg" -> "stream",
    "adts" -> "stream", "mpegts" -> "stream")

  test("ten-family mixed directory: every file routes to its " +
      "cheapest honest walk and the fields equal the column census " +
      "over the same bytes") {
    import spark.implicits._
    val dir = Fixtures.scratchDir("media-census")
    val corpus = mixedCorpus
    corpus.zipWithIndex.foreach { case ((fam, bytes), i) =>
      java.nio.file.Files.write(dir.resolve(s"f_${i}_$fam.bin"), bytes)
    }
    val colRows = Media.mediaMetaScan(
      corpus.zipWithIndex.map { case ((_, b), i) => (i.toLong, b) }
        .toDF("id", "content"), "id", "content")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val census = MediaShardSource
      .metaScanDF(spark, dir.toString + "/f_*.bin")
      .collect()
      .map { r =>
        val name = r.getString(0).split('/').last
        val i = name.split('_')(1).toLong
        val fam = name.split('_')(2).stripSuffix(".bin")
        (i, fam, r)
      }
    assert(census.length === corpus.length)
    for ((i, fam, r) <- census) {
      assert(r.getAs[String]("route") === expectedRoute(fam),
        s"family $fam routed wrong")
      assert(r.getAs[Boolean]("parsed"), s"family $fam refused")
      // drop shard_path/file_bytes, compare (container..parsed)
      // against the column row minus id, route column excluded
      val got = r.toSeq.drop(2).patch(7, Nil, 1) // drop route
      assert(got === colRows(i), s"family $fam fields drifted")
    }
  }

  test("refusal matrix: unknown magic refuses with an empty route; " +
      "a CRC-corrupted Ogg and a truncated GIF refuse as route " +
      "'stream' — the walk runs, the grammar refuses") {
    val dir = Fixtures.scratchDir("media-refuse")
    java.nio.file.Files.write(dir.resolve("u.bin"),
      Array.fill[Byte](64)(0x11))
    val badOgg = Audio.buildOgg("opus", channels = 1, sampleRate = 8000,
      granule = 960L)
    badOgg(30) = (badOgg(30) ^ 0x01).toByte // flip a body byte: CRC fails
    java.nio.file.Files.write(dir.resolve("badogg.bin"), badOgg)
    val shortGif = Gif.buildGif(4, 3,
      Array.tabulate(16)(i => i * 0x111111),
      Seq(Array.tabulate[Byte](12)(p => (p % 16).toByte)), delayCs = 5)
      .dropRight(3) // lose the last sub-blocks + trailer
    java.nio.file.Files.write(dir.resolve("shortgif.bin"), shortGif)
    val rows = MediaShardSource
      .metaScanDF(spark, dir.toString + "/*.bin")
      .collect()
      .map(r => r.getString(0).split('/').last ->
        (r.getAs[String]("route"), r.getAs[Boolean]("parsed"))).toMap
    assert(rows("u.bin") === (("", false)))
    assert(rows("badogg.bin") === (("stream", false)))
    assert(rows("shortgif.bin") === (("stream", false)))
  }

  test("escalating prefix read: a WAV whose data chunk is pushed " +
      "past the 64 KB first read by a JUNK chunk refuses on the " +
      "small prefix, escalates to the full cap, and matches the " +
      "column census exactly") {
    import spark.implicits._
    val plain = Audio.wrapWav(Array.tabulate(400)(k => k % 100), 0,
      400, 8000)
    // splice a 100 KB JUNK chunk between "WAVE" and the fmt chunk,
    // patching the RIFF size: fmt+data now sit past the 64 KB read
    val junkLen = 100 << 10
    val spliced = new java.io.ByteArrayOutputStream()
    spliced.write(plain, 0, 12) // RIFF size patched below
    spliced.write("JUNK".getBytes("US-ASCII"))
    spliced.write(junkLen & 0xFF); spliced.write((junkLen >> 8) & 0xFF)
    spliced.write((junkLen >> 16) & 0xFF)
    spliced.write((junkLen >> 24) & 0xFF)
    spliced.write(new Array[Byte](junkLen))
    spliced.write(plain, 12, plain.length - 12)
    val big = spliced.toByteArray
    val riffSz = big.length - 8
    big(4) = (riffSz & 0xFF).toByte
    big(5) = ((riffSz >> 8) & 0xFF).toByte
    big(6) = ((riffSz >> 16) & 0xFF).toByte
    big(7) = ((riffSz >> 24) & 0xFF).toByte
    // the small prefix alone must honestly refuse (the escalation's
    // precondition), the full prefix must parse
    assert(Media.mediaMetaPrefix(big.take(64 << 10),
      big.length.toLong).isEmpty)
    assert(Media.mediaMetaPrefix(big, big.length.toLong).isDefined)
    val dir = Fixtures.scratchDir("media-escalate")
    java.nio.file.Files.write(dir.resolve("pushed.bin"), big)
    val row = MediaShardSource
      .metaScanDF(spark, dir.toString + "/pushed.bin")
      .collect()(0)
    assert(row.getAs[String]("route") === "prefix")
    assert(row.getAs[Boolean]("parsed"))
    val colRow = Media.mediaMetaScan(
      Seq((0L, big)).toDF("id", "content"), "id", "content")
      .collect()(0)
    assert(row.toSeq.drop(2).patch(7, Nil, 1) === colRow.toSeq.drop(1),
      "escalated fields must equal the column census")
  }
}
