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
  * duration all exact. Standalone main, and a section of
  * [[ScaleSmoke]].
  */
object TsStreamSmoke {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.configure(SparkSession.builder())
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    run(spark,
      nCaptures = args.headOption.map(_.toInt).getOrElse(4),
      nPes = args.lift(1).map(_.toInt).getOrElse(2000000))
    spark.stop()
  }

  def run(spark: SparkSession, nCaptures: Int, nPes: Int): Unit = {
    val rt = Runtime.getRuntime
    require(nPes.toLong * 4000L < (1L << 33),
      "PTS run must fit the 33-bit clock")
    val dir = graft.Fixtures.scratchDir("scale-ts")
    val t0 = System.nanoTime()
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
    val built = (System.nanoTime() - t0) / 1e9
    println(f"tsStream: wrote $nCaptures captures " +
      f"(${totalBytes / 1e9}%.2f GB, $nPes%d PES each, ~24 h of PTS " +
      f"per capture) in $built%.1f s")

    val t1 = System.nanoTime()
    val agg = graft.sources.MpegTsShardSource.metaScan(spark,
        dir.toString + "/cap_*.ts").toDF()
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("packets")), sum(col("width")), sum(col("duration_ms")))
      .collect()(0)
    val tWalk = (System.nanoTime() - t1) / 1e9
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
    println(f"tsStream: ${expPackets}%d packets walked off disk in " +
      f"$tWalk%.1f s (${totalBytes / 1e9 / tWalk}%.2f GB/s), " +
      f"dims/durations exact, " +
      f"heapUsed=${(rt.totalMemory - rt.freeMemory) / 1e6}%.0f MB")
    graft.Fixtures.delete(dir)
  }
}
