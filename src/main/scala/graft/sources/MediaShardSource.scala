package graft.sources

import java.io.BufferedInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{Audio, Gif, Media, Mp4, MpegTs}

/** One on-disk media file's cross-container metadata. Fields mirror
  * [[graft.operators.Media.MediaMeta]] with the path as identity,
  * plus `route` — which honest walk answered (`prefix` / `seek` /
  * `stream`, or `""` for an unknown container).
  */
final case class MediaShardMeta(shard_path: String, file_bytes: Long,
    container: String, duration_ms: Long, width: Int, height: Int,
    video_codec: String, audio_codec: String, audio_rate: Int,
    route: String, parsed: Boolean)

/** The unified PATH-LEVEL media census — the real crawl-landing
  * shape at 100 TB: one directory holding `.mp4`, `.ts`, `.webm`,
  * `.mp3`, `.gif`, `.wav`, `.flac`, `.ogg`, … side by side. The
  * column census ([[Media.mediaMetaScan]]) dispatches binary COLUMN
  * values by magic; this source applies the same dispatch
  * ([[Media.routeOf]] — magic checks and order shared with the
  * column walk) to FILES, routing each to the CHEAPEST walk that is
  * still honest for its grammar:
  *
  *  - **prefix** (AVI, WAV, AIFF, FLAC, AVIF/HEIF, WebM/Matroska):
  *    metadata leads the file — an ESCALATING bounded header read
  *    (64 KB first, the `maxHeaderBytes` cap only when the small
  *    prefix honestly refuses), parsed with the true file length
  *    through [[Media.mediaMetaPrefix]] (the column prefix path's
  *    exact dispatch). Residency O(prefix) whatever the file size;
  *    I/O O(64 KB) for the common front-loaded file.
  *  - **seek** (MP4/ISO-BMFF): indexed grammar, moov may trail the
  *    mdat — [[Mp4.parseMp4Seek]] hops box headers and reads only
  *    the moov ([[Mp4ShardSource]]'s engine). Residency
  *    O(headers + moov).
  *  - **stream** (MPEG-TS, ADTS, MP3, Ogg, GIF): chained grammars —
  *    the forward packet walk through [[MpegTs.parseTsStream]]
  *    ([[MpegTsShardSource]]'s engine), the ADTS frame-header hop
  *    through [[MpegTs.parseAdtsStream]], the MP3 frame hop through
  *    [[graft.operators.Mp3.parseMp3Stream]], the Ogg page hop
  *    through [[Audio.parseOggStream]] (EVERY page's CRC still
  *    verified — a tail seek could not keep that contract, a
  *    forward hop can, with one ≤ 64 KB page resident), or the GIF
  *    block hop through [[Gif.parseGifStream]]. Residency one
  *    packet / frame header / page / sub-block (plus TS's capped
  *    SPS buffer and MP3's one buffered first frame for the Xing
  *    sniff).
  *
  * Every known family routes to a bounded-residency walk — the
  * census never buffers a whole file, whatever lands in the
  * directory.
  *
  * Unknown containers are `parsed = false` with an empty route —
  * never guessed. On every parsed file the metadata fields equal the
  * column census's ([[Media.mediaMetaScan]]) for the same bytes: the
  * prefix arm runs the column prefix dispatch, the seek/stream arms
  * share their state machines AND field mappings
  * ([[Media.mp4ToMedia]] / [[Media.tsToMedia]]) with the column
  * dispatch, and the full arm IS the column dispatch.
  */
object MediaShardSource {

  /** Census row for every file matched by `path` (file, glob, or
    * directory). Parallelism comes from many files, one per task.
    */
  def metaScan(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20,
      maxMoovBytes: Int = 1 << 28,
      maxEsScanBytes: Int = 1 << 18): Dataset[MediaShardMeta] = {
    import spark.implicits._
    require(maxHeaderBytes >= 512, "maxHeaderBytes must cover a sniff")
    require(maxMoovBytes > 0 && maxEsScanBytes > 0,
      "caps must be positive")
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
        def refused(route: String) = MediaShardMeta(p, len, "", 0L,
          0, 0, "", "", 0, route, parsed = false)
        val row = try {
          val sniffLen = math.min(len, 512L).toInt
          val sniff = new Array[Byte](sniffLen)
          if (sniffLen > 0) stream.readFully(0L, sniff, 0, sniffLen)
          val route = Media.routeOf(sniff, len)
          val meta: Option[Media.MediaMeta] = route match {
            case "prefix" =>
              // Escalating read: for most prefix families the
              // metadata sits in the first tens of KB (FLAC's
              // STREAMINFO in 42 bytes, WAV/AIFF fmt chunks within a
              // few hundred, AVI's hdrl and Matroska's Info near the
              // front), so read 64 KB first and escalate to the full
              // cap only when the small prefix honestly refuses — a
              // drop directory of a million WAVs costs 64 KB per
              // file, not `maxHeaderBytes`. A small-prefix success
              // means every field-bearing chunk/box the parser uses
              // sat inside 64 KB; only a NON-STANDARD layout (a
              // duplicate fmt, a fact chunk trailing the data) could
              // place field-bearing metadata past a successful
              // prefix — the exact boundary caveat the single capped
              // read always had at `maxHeaderBytes`, moved to 64 KB
              // for the success path (spec-pinned on a forced-
              // escalation fixture: a refusing small prefix
              // escalates and matches the column census).
              val small =
                math.min(len, math.min(64L << 10,
                  maxHeaderBytes.toLong)).toInt
              val prefix = new Array[Byte](small)
              stream.readFully(0L, prefix, 0, small)
              val firstTry = Media.mediaMetaPrefix(prefix, len)
              if (firstTry.isDefined || len <= small) firstTry
              else {
                val want = math.min(len, maxHeaderBytes.toLong).toInt
                val full = new Array[Byte](want)
                stream.readFully(0L, full, 0, want)
                Media.mediaMetaPrefix(full, len)
              }
            case "seek" =>
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
              Mp4.parseMp4Seek(reader, maxMoovBytes)
                .map(Media.mp4ToMedia)
            case "stream" =>
              stream.seek(0L)
              val buffered = new BufferedInputStream(stream, 1 << 16)
              // five chained grammars stream: TS (packet walk), Ogg
              // (page hop), GIF (block hop), ADTS and MP3
              // (frame-header hops) — disambiguated by the same
              // magics the route decision used
              def sniffIs(s: String): Boolean =
                s.indices.forall(i => sniff(i) == s.charAt(i).toByte)
              // GIF8 before the TS sync check: 'G' IS 0x47, the TS
              // sync byte — routeOf puts the GIF magic first too
              if (sniffIs("GIF8"))
                Gif.parseGifStream(buffered).map(g =>
                  Media.gifToMedia(g.width, g.height, g.totalDelayCs))
              else if ((sniff(0) & 0xFF) == 0x47)
                MpegTs.parseTsStream(buffered, maxEsScanBytes)
                  .map(Media.tsToMedia)
              else if (sniffIs("OggS"))
                Audio.parseOggStream(buffered).map {
                  case (codec, ch, rate, granule) =>
                    Media.oggToMedia(codec, ch, rate, granule)
                }
              else if ((sniff(0) & 0xFF) == 0xFF &&
                (sniff(1) & 0xF0) == 0xF0 && (sniff(1) & 0x06) == 0)
                MpegTs.parseAdtsStream(buffered)
                  .map(Media.adtsToMedia)
              else
                graft.operators.Mp3.parseMp3Stream(buffered)
                  .map(Media.mp3ToMedia)
            case _ => None // unknown container
          }
          meta match {
            case Some(m) => MediaShardMeta(p, len, m.container,
              m.durationMs, m.width, m.height, m.videoCodec,
              m.audioCodec, m.audioRate, route, parsed = true)
            case None => refused(route)
          }
        } finally stream.close()
        row
      }
  }

  /** [[metaScan]] projected to the column operator's
    * [[Media.mediaMetaScan]] shape (path-keyed, plus `route`) — the
    * drop-in the path/column equality contract is stated over.
    */
  def metaScanDF(spark: SparkSession, path: String,
      maxHeaderBytes: Int = 8 << 20,
      maxMoovBytes: Int = 1 << 28,
      maxEsScanBytes: Int = 1 << 18): DataFrame =
    metaScan(spark, path, maxHeaderBytes, maxMoovBytes,
      maxEsScanBytes).toDF()
      .select(col("shard_path"), col("file_bytes"), col("container"),
        col("duration_ms"), col("width"), col("height"),
        col("video_codec"), col("audio_codec"), col("audio_rate"),
        col("route"), col("parsed"))
}
