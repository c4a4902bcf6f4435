package graft.sources

import java.io.BufferedInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.operators.MpegTs

/** One on-disk MPEG-TS capture's metadata. Fields mirror
  * [[graft.operators.MpegTs.MpegTsMeta]] with the path as identity.
  */
final case class TsShardMeta(shard_path: String, packets: Long,
    programs: Int, video_codec: String, width: Int, height: Int,
    sps_profile: Int, sps_level: Int, audio_codec: String,
    audio_rate: Int, audio_channels: Int, duration_ms: Long,
    parsed: Boolean)

/** Path-level STREAMING MPEG-TS source — the HLS drop-directory
  * shape at 100 TB. A transport stream is a CHAINED grammar (a flat
  * run of 188-byte packets), so unlike ZIP its honest streamed form
  * really is the forward walk: file paths distribute as a
  * `Dataset[String]` and each task consumes its capture packet by
  * packet off a Hadoop `FSDataInputStream` through
  * [[MpegTs.parseTsStream]] — the SAME [[MpegTs]] per-packet state
  * machine the column operator runs, so the two paths cannot drift.
  * Residency is one packet plus the capped SPS-scan ES buffer,
  * whatever the capture length — a multi-hour GB-scale recording
  * costs the same executor memory as a 2-second HLS segment (the
  * [[TarShardSource]] bounded-memory principle).
  *
  * Refusals are the column contract verbatim (lost sync, lying
  * adaptation lengths, bad PSI CRCs, scrambled PIDs, SPS-less
  * declared video, a truncated tail packet): the row comes back
  * `parsed = false`, never a guessed field.
  */
object MpegTsShardSource {

  /** Metadata for every capture matched by `path` (file, glob, or
    * directory). Parallelism comes from many files; one capture is
    * inherently serial (PAT→PMT→PES chain by position).
    */
  def metaScan(spark: SparkSession, path: String,
      maxEsScanBytes: Int = 1 << 18): Dataset[TsShardMeta] = {
    import spark.implicits._
    require(maxEsScanBytes > 0, "maxEsScanBytes must be positive")
    val files = StreamUtil.resolveFiles(spark, path)
    val hconf =
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val parallelism = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files)
      .repartition(parallelism)
      .map { p =>
        val fsPath = new Path(p)
        val fs = fsPath.getFileSystem(hconf.value)
        val in = new BufferedInputStream(fs.open(fsPath), 1 << 16)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        val meta =
          try MpegTs.parseTsStream(in, maxEsScanBytes)
          finally in.close()
        meta match {
          case Some(t) => TsShardMeta(p, t.packets, t.programs,
            if (t.videoPid >= 0)
              MpegTs.tsVideoCodecName(t.videoStreamType) else "",
            t.width, t.height, t.spsProfile, t.spsLevel,
            if (t.audioPid >= 0)
              MpegTs.tsAudioCodecName(t.audioStreamType) else "",
            t.audioRate, t.audioChannels, t.durationMs, parsed = true)
          case None => TsShardMeta(p, 0L, 0, "", 0, 0, 0, 0, "", 0, 0,
            0L, parsed = false)
        }
      }
  }

  /** [[metaScan]] projected to the column operator's
    * [[MpegTs.tsMetaScan]] shape (path-keyed instead of id-keyed) —
    * the drop-in the stream/column byte-equality contract is stated
    * over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxEsScanBytes: Int = 1 << 18): DataFrame =
    metaScan(spark, path, maxEsScanBytes).toDF()
      .select(col("shard_path"), col("packets"),
        col("programs").cast("long").as("programs"),
        col("video_codec"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("sps_profile").cast("long").as("sps_profile"),
        col("sps_level").cast("long").as("sps_level"),
        col("audio_codec"),
        col("audio_rate").cast("long").as("audio_rate"),
        col("audio_channels").cast("long").as("audio_channels"),
        col("duration_ms"), col("parsed"))
}
