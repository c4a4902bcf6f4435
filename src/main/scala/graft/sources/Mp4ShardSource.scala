package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Mp4

/** One on-disk MP4/ISO-BMFF file's header metadata. Fields mirror
  * [[graft.operators.Mp4.Mp4Meta]] with the shard path as identity.
  */
final case class Mp4ShardMeta(shard_path: String, file_bytes: Long,
    major_brand: String, timescale: Long, duration: Long,
    duration_ms: Long, tracks: Int, video_codec: String, width: Int,
    height: Int, video_frames: Long, audio_codec: String,
    audio_channels: Int, audio_rate: Int, parsed: Boolean)

/** Path-level SEEKING MP4 metadata source — the 100 TB shape for a
  * drop directory of multi-GiB `.mp4`/`.m4a`/`.mov` files, the most
  * common video format on disk. ISO-BMFF is an INDEXED grammar: the
  * `moov` metadata tree commonly TRAILS the (huge) `mdat` in
  * non-faststart archival files, so neither a forward walk
  * ([[MpegTsShardSource]]'s shape) nor a bounded prefix read
  * ([[WebmShardSource]]'s shape) is its honest streamed form — the
  * honest form is the [[ZipShardSource]] pattern: SEEK over top-level
  * box headers by declared size, hop the media data without reading
  * it, and materialize only the moov subtree wherever it sits.
  * Residency is O(box headers + moov) — KBs-to-MBs for real files —
  * whatever the `mdat` size; a directory of hour-long recordings
  * costs the same executor memory as a directory of clips.
  *
  * The walk is [[Mp4.parseMp4Seek]], which drives the SAME
  * [[Mp4]] moov state machine (`walkMoovBuf`) as the column operator
  * ([[Mp4.mp4MetaScan]]) — one grammar, two carriers, so the paths
  * cannot drift: on any conforming file the row is byte-identical to
  * the column scan of the whole payload. Refusals are the column
  * contract verbatim (no leading `ftyp`, malformed/overrunning box
  * sizes, absent or insane mvhd fields) plus one bounded-memory
  * honesty gate: a moov larger than `maxMoovBytes` refuses
  * (`parsed = false`) rather than buffering unbounded.
  *
  * Parallelism comes from many files (one per task); the per-file
  * walk is a handful of positioned header reads plus one moov read.
  */
object Mp4ShardSource {

  /** Header metadata for every file matched by `path` (file, glob, or
    * directory). `maxMoovBytes` bounds the one materialized structure
    * (the moov subtree; the 256 MiB default covers any real file).
    */
  def metaScan(spark: SparkSession, path: String,
      maxMoovBytes: Int = 1 << 28): Dataset[Mp4ShardMeta] = {
    import spark.implicits._
    require(maxMoovBytes > 0, "maxMoovBytes must be positive")
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
        val len = fs.getFileStatus(fsPath).getLen
        val stream = fs.open(fsPath)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => stream.close()))
        val reader = new Mp4.Mp4Reader {
          def length: Long = len
          def readFully(at: Long, buf: Array[Byte], off: Int,
              n: Int): Unit = {
            if (at < 0L || at + n > len)
              throw new graft.operators.MalformedShardException(
                s"$p: read past the file")
            stream.readFully(at, buf, off, n)
          }
        }
        val meta =
          try Mp4.parseMp4Seek(reader, maxMoovBytes)
          finally stream.close()
        meta match {
          case Some(m) => Mp4ShardMeta(p, len, m.majorBrand,
            m.timescale, m.duration, m.duration * 1000L / m.timescale,
            m.tracks, m.videoCodec, m.width, m.height, m.videoFrames,
            m.audioCodec, m.audioChannels, m.audioRate, parsed = true)
          case None => Mp4ShardMeta(p, len, "", 0L, 0L, 0L, 0, "", 0,
            0, 0L, "", 0, 0, parsed = false)
        }
      }
  }

  /** [[metaScan]] projected to the column operator's
    * [[Mp4.mp4MetaScan]] shape (path-keyed instead of id-keyed) —
    * the drop-in the seek/column byte-equality contract is stated
    * over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxMoovBytes: Int = 1 << 28): DataFrame =
    metaScan(spark, path, maxMoovBytes).toDF()
      .select(col("shard_path"), col("file_bytes"),
        col("major_brand"), col("timescale"), col("duration"),
        col("duration_ms"), col("tracks"), col("video_codec"),
        col("width"), col("height"), col("video_frames"),
        col("audio_codec"), col("audio_channels"), col("audio_rate"),
        col("parsed"))
}
