package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Multi-GiB MPEG-TS capture smoke: proves the path-level
  * [[graft.sources.MpegTsShardSource]] walks captures FAR beyond any
  * column-operator byte cap with one packet (plus the capped SPS
  * buffer) resident. Each capture is streamed to disk PES-by-PES via
  * [[graft.operators.MpegTs.writeTs]] (the writer never holds the
  * capture either), with a PTS run spanning ~24 hours on the 90 kHz
  * clock — the multi-hour-recording shape the column operator cannot
  * touch — then walked back through the SAME per-packet state
  * machine: packet counts, SPS-decoded dims, and the PTS-span
  * duration all exact. The `tsStream` step of [[ScaleSmoke]].
  */
object TsStreamSmoke {
  def run(spark: SparkSession, nCaptures: Int = 4, nPes: Int = 2000000): Measure.Counts = {
    require(nPes.toLong * 4000L < (1L << 33),
      "PTS run must fit the 33-bit clock")
    val dir = graft.Fixtures.scratchDir("scale-ts")
    (0 until nCaptures).foreach { c =>
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          dir.resolve(s"cap_$c.ts").toFile), 1 << 20)
      graft.operators.MpegTs.writeTs(out,
        spsWidth = 320 + 2 * c, spsHeight = 180 + 2 * c,
        profileIdc = 66, levelIdc = 30,
        videoPts = Iterator.range(0, nPes).map(_.toLong * 4000L))
      out.close()
    }
    val totalBytes = (0 until nCaptures)
      .map(c => dir.resolve(s"cap_$c.ts").toFile.length()).sum

    val agg = graft.sources.MpegTsShardSource.metaScan(spark,
        dir.toString + "/cap_*.ts").toDF()
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("packets")), sum(col("width")), sum(col("duration_ms")))
      .collect()(0)
    // one packet per PES (each PES fits one packet) + PAT + PMT
    val expPackets = nCaptures.toLong * (nPes.toLong + 2L)
    val expW = (0 until nCaptures).map(c => 320L + 2 * c).sum
    val expDur = nCaptures.toLong * ((nPes.toLong - 1L) * 4000L / 90L)
    require(agg.getLong(0) == nCaptures.toLong, s"rows ${agg.getLong(0)}")
    require(agg.getLong(1) == nCaptures.toLong, s"parsed ${agg.getLong(1)}")
    require(agg.getLong(2) == expPackets,
      s"packets ${agg.getLong(2)} != $expPackets")
    require(agg.getLong(3) == expW, s"width sum ${agg.getLong(3)}")
    require(agg.getLong(4) == expDur,
      s"duration sum ${agg.getLong(4)} != $expDur")
    graft.Fixtures.delete(dir)
    Seq("captures" -> nCaptures, "bytes" -> totalBytes, "pesPerCapture" -> nPes,
      "packets" -> expPackets)
  }
}
