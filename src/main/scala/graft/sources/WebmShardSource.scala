package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Webm

/** One on-disk Matroska/WebM file's header metadata. Fields mirror
  * [[graft.operators.Webm.WebmMeta]] with the shard path as identity.
  */
final case class WebmShardMeta(shard_path: String, file_bytes: Long,
    doc_type: String, timescale_ns: Long, duration_ms: Long,
    tracks: Int, video_codec: String, width: Int, height: Int,
    audio_codec: String, audio_channels: Int, audio_rate: Int,
    parsed: Boolean)

/** Path-level STREAMING Matroska/WebM metadata source — the 100 TB
  * shape for a directory of large `.webm`/`.mkv` files. The column
  * operator ([[Webm.webmMetaScan]]) needs each payload as a binary
  * column — a whole multi-GiB recording in executor memory. Here file
  * *paths* distribute as a `Dataset[String]` and each task reads only
  * a BOUNDED HEADER PREFIX (`maxHeaderBytes`) off a Hadoop
  * `FSDataInputStream` — every conforming muxer writes the EBML
  * header, `Info`, and `Tracks` ahead of the first cluster, so the
  * prefix answers the whole metadata filter while residency stays
  * O(prefix) whatever the file size (the [[TarShardSource]] /
  * [[GeoJsonZipSource]] bounded-memory principle).
  *
  * The walk is [[Webm.parseWebm]] on the prefix with the TRUE file
  * length — the SAME state machine, honesty refusals, and
  * prefix-boundable contract as the column operator's prefix path
  * ([[Webm.parseWebmHeaderPrefix]]), so the two paths cannot drift:
  * on any file whose metadata sits inside the prefix the row is
  * byte-identical to the column scan's. A cluster-first streamed
  * capture whose `Info`/`Tracks` trail beyond the prefix refuses
  * (`parsed = false`) — never a guessed field; raise `maxHeaderBytes`
  * or route the file to the column operator.
  */
object WebmShardSource {

  /** Header metadata for every file matched by `path` (file, glob,
    * or directory). Parallelism comes from many files — the header
    * read per file is one bounded sequential read, so a directory of
    * N recordings costs N prefix reads, not N full scans.
    */
  def metaScan(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20): Dataset[WebmShardMeta] = {
    import spark.implicits._
    require(maxHeaderBytes >= 8, "maxHeaderBytes must cover a header")
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
        val fileLen = fs.getFileStatus(fsPath).getLen
        // escalating read (the MediaShardSource prefix-arm rule): a
        // faststart recording answers from the first 64 KB; only a
        // header past that pays the full capped read
        val small =
          math.min(fileLen, math.min(64L << 10,
            maxHeaderBytes.toLong)).toInt
        val in = fs.open(fsPath)
        val meta = try {
          val prefix = new Array[Byte](small)
          in.readFully(0L, prefix, 0, small)
          val firstTry = Webm.parseWebm(prefix, fileLen)
          if (firstTry.isDefined || fileLen <= small) firstTry
          else {
            val want = math.min(fileLen, maxHeaderBytes.toLong).toInt
            val full = new Array[Byte](want)
            in.readFully(0L, full, 0, want)
            Webm.parseWebm(full, fileLen)
          }
        } finally in.close()
        meta match {
          case Some(m) => WebmShardMeta(p, fileLen, m.docType,
            m.timescaleNs, m.durationMs, m.tracks, m.videoCodec,
            m.width, m.height, m.audioCodec, m.audioChannels,
            m.audioRate, parsed = true)
          case None => WebmShardMeta(p, fileLen, "", 0L, 0L, 0, "", 0,
            0, "", 0, 0, parsed = false)
        }
      }
  }

  /** [[metaScan]] projected to the column operator's
    * [[Webm.webmMetaScan]] shape (path-keyed instead of id-keyed) —
    * the drop-in the stream/column byte-equality contract is stated
    * over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20): DataFrame =
    metaScan(spark, path, maxHeaderBytes).toDF()
      .select(col("shard_path"), col("file_bytes"), col("doc_type"),
        col("timescale_ns"), col("duration_ms"),
        col("tracks"), col("video_codec"), col("width"),
        col("height"), col("audio_codec"), col("audio_channels"),
        col("audio_rate"), col("parsed"))
}
