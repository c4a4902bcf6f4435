package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Mp4
import graft.sources.Mp4ShardSource

/** Path-level seeking MP4 source: byte-parity with the column
  * operator (one shared moov state machine), the trailing-moov
  * archival layout the prefix path cannot answer, the never-reads-
  * the-mdat residency contract, and the honesty refusals.
  */
class Mp4ShardSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private var dir: java.nio.file.Path = _

  override def beforeAll(): Unit = {
    dir = Fixtures.scratchDir("mp4-shard-src")
  }

  /** In-memory reader with a read-range log — the residency probe. */
  private final class ProbeReader(bytes: Array[Byte])
      extends Mp4.Mp4Reader {
    val reads = scala.collection.mutable.ArrayBuffer[(Long, Int)]()
    def length: Long = bytes.length.toLong
    def readFully(at: Long, buf: Array[Byte], off: Int,
        n: Int): Unit = {
      reads += ((at, n))
      System.arraycopy(bytes, at.toInt, buf, off, n)
    }
  }

  private def seek(bytes: Array[Byte],
      maxMoovBytes: Int = 1 << 28): Option[Mp4.ParsedMp4] =
    Mp4.parseMp4Seek(new ProbeReader(bytes), maxMoovBytes)

  private def variants: Seq[Array[Byte]] = Seq(
    Mp4.buildMp4(600L, 3000L, 320, 240, "avc1", nFrames = 24L),
    Mp4.buildMp4(1000L, 4500L, 640, 360, "hvc1", nFrames = 30L,
      audioCodec = "mp4a", audioChannels = 2, audioRate = 44100,
      use64Bit = true),
    Mp4.buildMp4(90000L, 90000L, 0, 0, videoCodec = "",
      audioCodec = "mp4a", audioChannels = 1, audioRate = 8000))

  test("seek/column parity: every builder variant, faststart AND " +
      "trailing-moov, parses to the identical ParsedMp4") {
    for (v <- variants; laid <- Seq(v, Mp4.toTrailingMoov(v))) {
      val col = Mp4.parseMp4(laid)
      assert(col.isDefined)
      assert(seek(laid) === col)
    }
  }

  test("the seek walk never reads a byte of the mdat body — the " +
      "O(headers + moov) residency contract, trailing-moov layout") {
    val fast = Mp4.buildMp4(600L, 3000L, 320, 240, "avc1",
      nFrames = 24L, mdatBytes = 100000)
    val trail = Mp4.toTrailingMoov(fast)
    // locate the mdat body in the trailing layout: ftyp, mdat, moov
    val r = new ProbeReader(trail)
    assert(Mp4.parseMp4Seek(r).isDefined)
    // find mdat offset by scanning the fixture (test-side knowledge)
    var mdatBody = -1L; var mdatEnd = -1L
    var pos = 0
    while (mdatBody < 0) {
      val sz = ((trail(pos) & 0xFF) << 24) | ((trail(pos + 1) & 0xFF) << 16) |
        ((trail(pos + 2) & 0xFF) << 8) | (trail(pos + 3) & 0xFF)
      val typ = new String(trail, pos + 4, 4, "ISO-8859-1")
      if (typ == "mdat") { mdatBody = pos + 8L; mdatEnd = pos + sz }
      else pos += sz
    }
    assert(mdatEnd - mdatBody >= 100000L)
    for ((at, n) <- r.reads)
      assert(at + n <= mdatBody || at >= mdatEnd,
        s"read ($at, $n) touched the mdat body [$mdatBody, $mdatEnd)")
    // and the whole walk read far less than the file
    assert(r.reads.map(_._2.toLong).sum < trail.length / 10)
  }

  test("honesty refusals: no ftyp, truncated file, moov overrunning " +
      "the file, and a moov past the maxMoovBytes cap all refuse") {
    val good = Mp4.buildMp4(600L, 3000L, 320, 240, "avc1", nFrames = 8L)
    assert(seek(Array.fill[Byte](64)(0x11)).isEmpty) // no ftyp
    assert(seek(good.take(12)).isEmpty) // shorter than a header
    assert(seek(good, maxMoovBytes = 16).isEmpty) // moov past the cap
    // truncate inside the moov: the declared moov end overruns EOF
    val ftypEnd = {
      ((good(0) & 0xFF) << 24) | ((good(1) & 0xFF) << 16) |
        ((good(2) & 0xFF) << 8) | (good(3) & 0xFF)
    }
    assert(seek(good.take(ftypEnd + 24)).isEmpty)
    // parity on hostile shapes too: the column walk agrees
    assert(Mp4.parseMp4(good.take(ftypEnd + 24)).isEmpty)
  }

  test("Spark-level parity: on-disk files (both layouts) through " +
      "Mp4ShardSource match the column mp4MetaScan row for row") {
    import spark.implicits._
    val payloads = variants.zipWithIndex.map { case (v, i) =>
      (i.toLong, if (i % 2 == 0) v else Mp4.toTrailingMoov(v))
    }
    payloads.foreach { case (id, bytes) =>
      java.nio.file.Files.write(dir.resolve(s"v_$id.mp4"), bytes)
    }
    val colRows = Mp4.mp4MetaScan(
      payloads.toDF("id", "content"), "id", "content")
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val seekRows = Mp4ShardSource
      .metaScanDF(spark, dir.toString + "/v_*.mp4")
      .collect()
      .map { r =>
        val id = r.getString(0).split('/').last
          .stripPrefix("v_").stripSuffix(".mp4").toLong
        id -> r.toSeq.drop(2) // drop shard_path, file_bytes
      }.toMap
    assert(seekRows.keySet === colRows.keySet)
    for ((id, row) <- seekRows) assert(row === colRows(id), s"id $id")
  }
}
