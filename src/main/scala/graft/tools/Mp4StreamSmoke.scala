package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Mp4

/** Multi-GiB MP4 seek-walk smoke: the path-level source's residency
  * claim is O(box headers + moov) — NOT the file — so a directory of
  * multi-GiB NON-FASTSTART files (huge largesize `mdat` FIRST, the
  * `moov` trailing at the very end, the archival layout no prefix
  * read can answer) must census in the time it takes to read a few
  * KB per file, whatever the media size. Files are streamed to disk
  * (the writer holds one 1 MiB chunk, never a file), walked back
  * through `Mp4ShardSource`, and every metadata field is checked
  * exactly. The `mp4Stream` step of [[ScaleSmoke]].
  */
object Mp4StreamSmoke {
  def run(spark: SparkSession, nFiles: Int = 3, mdatBytes: Long = 1536L << 20): Measure.Counts = {
    val dir = graft.Fixtures.scratchDir("scale-mp4")
    // template per file: the library's own encoder emits
    // ftyp+moov+mdat; split the top-level boxes and re-lay them as
    // ftyp / LARGESIZE mdat (streamed filler) / trailing moov —
    // the metadata is layout-invariant, which is exactly the claim
    def topBoxes(b: Array[Byte]): Seq[(String, Int, Int)] = {
      var pos = 0
      val out = Seq.newBuilder[(String, Int, Int)]
      while (pos + 8 <= b.length) {
        val sz = ((b(pos) & 0xFF) << 24) | ((b(pos + 1) & 0xFF) << 16) |
          ((b(pos + 2) & 0xFF) << 8) | (b(pos + 3) & 0xFF)
        out += ((new String(b, pos + 4, 4, "ISO-8859-1"), pos, pos + sz))
        pos += sz
      }
      out.result()
    }
    (0 until nFiles).foreach { c =>
      val tmpl = Mp4.buildMp4(timescale = 600L + c,
        duration = 9000L + 77L * c, width = 320 + 16 * c,
        height = 180 + 16 * c, videoCodec = "avc1",
        nFrames = 24L + c, audioCodec = "mp4a", audioChannels = 2,
        audioRate = 48000, mdatBytes = 8)
      val boxes = topBoxes(tmpl)
      val ftyp = boxes.find(_._1 == "ftyp").get
      val moov = boxes.find(_._1 == "moov").get
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          dir.resolve(s"rec_$c.mp4").toFile), 1 << 20)
      out.write(tmpl, ftyp._2, ftyp._3 - ftyp._2)
      // largesize mdat: sz32=1, 'mdat', u64 = 16 + payload
      val total = 16L + mdatBytes
      out.write(Array[Byte](0, 0, 0, 1, 'm', 'd', 'a', 't'))
      (56 to 0 by -8).foreach(s => out.write(((total >> s) & 0xFF).toInt))
      val chunk = Array.tabulate[Byte](1 << 20)(i => (i * 31 + c).toByte)
      var left = mdatBytes
      while (left > 0L) {
        val n = math.min(left, chunk.length.toLong).toInt
        out.write(chunk, 0, n)
        left -= n
      }
      out.write(tmpl, moov._2, moov._3 - moov._2)
      out.close()
    }
    val totalBytes = (0 until nFiles)
      .map(c => dir.resolve(s"rec_$c.mp4").toFile.length()).sum

    val agg = graft.sources.Mp4ShardSource.metaScan(spark,
        dir.toString + "/rec_*.mp4").toDF()
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("width")), sum(col("duration_ms")),
        sum(col("video_frames")), sum(col("audio_rate")))
      .collect()(0)
    val n = nFiles.toLong
    val expW = (0 until nFiles).map(c => 320L + 16 * c).sum
    val expDur = (0 until nFiles)
      .map(c => (9000L + 77L * c) * 1000L / (600L + c)).sum
    val expFrames = (0 until nFiles).map(c => 24L + c).sum
    require(agg.getLong(0) == n, s"rows ${agg.getLong(0)}")
    require(agg.getLong(1) == n, s"parsed ${agg.getLong(1)}")
    require(agg.getLong(2) == expW, s"width sum ${agg.getLong(2)}")
    require(agg.getLong(3) == expDur, s"duration sum ${agg.getLong(3)}")
    require(agg.getLong(4) == expFrames, s"frames ${agg.getLong(4)}")
    require(agg.getLong(5) == 48000L * n, s"rate ${agg.getLong(5)}")
    graft.Fixtures.delete(dir)
    Seq("files" -> nFiles, "bytes" -> totalBytes)
  }
}
