package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.expressions.BarrierExprs.evalOnce
import graft.operators.LittleEndian.{le16, le32}

/** Video payloads as opaque `binary` columns — the third modality of
  * the multimodal family, built to the exact contract of [[Audio]]
  * and [[Multimodal]]: a REAL RIFF/AVI container walk (header-only,
  * prefix-boundable) for the metadata-filter path, uniform frame
  * sampling with per-payload bounded decode, exact integer per-frame
  * luminance, and a 64-bit temporal luminance-gradient fingerprint
  * that feeds the SAME audited Hamming-banded machinery
  * ([[Dedup.hamming64NearDupPairs]]) — no all-pairs comparison, no
  * UDF downstream of decode.
  *
  * Reference scope: the reference service carries uploads as opaque
  * blobs (`file-upload.ts` streams without decoding); this module is
  * the training-data-pipeline extension the brief names ("treat
  * image/audio/video as opaque binary columns with typed metadata;
  * decode / frame-sample"). Container: AVI is RIFF — the same chunk
  * grammar [[Audio.parseWavHeader]] walks — with nested LIST chunks
  * (`hdrl` carries the `avih` main header, `movi` carries `00db`/
  * `00dc` frame chunks). Codec support is what the JVM can decode
  * honestly: uncompressed BGR24 DIB frames (`00db`, BI_RGB) via an
  * exact byte walk, and MJPEG (`biCompression = 'MJPG'`, each `00dc`
  * chunk one standalone JPEG — the dominant compressed codec in
  * archival/scientific AVI corpora) via the JVM's own JPEG decoder,
  * touching only the ≤ 65 SAMPLED frames. Codecs beyond those
  * (Cinepak, DV, H.26x needing native libs) are honestly
  * `decoded = false` — fabricating pixel statistics from undecoded
  * codecs is the failure mode the image path's md5-pseudo-grid
  * contract exists to avoid.
  *
  * Design for 100 TB:
  *  - header parse reads only the chunk table (and stops at `movi`),
  *    so sample-rate/duration/dimension filters never materialize
  *    multi-GB frame data; the PREFIX form bounds even that read.
  *  - decode never materializes a whole video: frame CONTENT is read
  *    only for the ≤ `nSamples` uniformly-sampled frames (two chunk
  *    walks: count, then seek-by-size), so per-payload decode cost is
  *    O(chunk table) + O(nSamples · frame bytes) regardless of
  *    duration, and `maxFrameBytes` caps the worst single frame.
  *  - fingerprints are 8 bytes per video; near-dup candidates come
  *    from the 16-bit block pigeonhole — the identical shape that
  *    carried image and audio dedup through the 1M ScaleSmokes.
  */
object Video {

  /** Header-only parse of the AVI main header (`avih`) plus the
    * `movi` extent. `durationMs` is exact floor millis
    * (totalFrames · microsPerFrame / 1000). `parsed = false` rows
    * (non-RIFF/AVI, truncated, missing `avih`, insane dimensions)
    * carry zeros — the honest fallback. `bitCount`/`compression`
    * come from the first video `strf` (BITMAPINFOHEADER) when
    * present (−1 when absent) — the decode-eligibility signal.
    */
  case class AviMeta(id: Long, microsPerFrame: Long, totalFrames: Long,
      width: Int, height: Int, streams: Int, bitCount: Int,
      compression: Long, moviOffset: Long, moviLen: Long,
      durationMs: Long, parsed: Boolean, audioStream: Int = -1,
      audioFormat: Int = 0, audioChannels: Int = 0, audioRate: Int = 0,
      audioBits: Int = 0)

  def parseAviHeader(df: DataFrame, idCol: String,
      binCol: String): Dataset[AviMeta] = {
    implicit val enc = Encoders.product[AviMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          toMeta(r.getLong(0), parseAvi(r.getAs[Array[Byte]](1)))
        }
    }
  }

  /** [[parseAviHeader]] over only the first `prefixBytes` of each
    * payload — the 100 TB metadata-filter path (persist the prefix as
    * its own narrow column at ingest and dimension/duration filters
    * never touch the frame data). Same honesty contract as
    * [[Audio.parseWavHeaderPrefix]]: a header structure that extends
    * beyond the prefix yields `parsed = false`, never fabricated
    * fields; `moviLen` is clamped to the TRUE payload length (passed
    * alongside), not the prefix.
    */
  def parseAviHeaderPrefix(df: DataFrame, idCol: String,
      binCol: String, prefixBytes: Int = 64 * 1024): Dataset[AviMeta] = {
    require(prefixBytes >= 12, s"prefixBytes must cover the RIFF form " +
      s"header, got $prefixBytes")
    parseAviHeaderPrefixCols(
      df.select(col(idCol),
        substring(col(binCol), 1, prefixBytes).as("__avi_prefix"),
        length(col(binCol)).cast("long").as("__avi_len")),
      idCol, "__avi_prefix", "__avi_len")
  }

  /** [[parseAviHeader]] over a PERSISTED prefix column — the storage
    * form of the 100 TB metadata-filter path
    * ([[Audio.parseWavHeaderPrefix]] for video containers): persist
    * `substring(bin, 1, prefixBytes)` plus the TRUE payload length as
    * their own narrow columns at ingest, and every dimension /
    * duration / codec filter runs without the parquet reader ever
    * materializing the frame data ([[parseAviHeaderPrefix]] carves
    * in-plan — same task, no storage win). The movi extent is clamped
    * against the true length, not the prefix, so declared frame
    * counts equal the full-parse values whenever the header chunk
    * table fits inside the prefix; header structure beyond the prefix
    * comes back `parsed = false`, never fabricated fields.
    */
  def parseAviHeaderPrefixCols(df: DataFrame, idCol: String,
      prefixCol: String, totalLenCol: String): Dataset[AviMeta] = {
    implicit val enc = Encoders.product[AviMeta]
    df.select(col(idCol).cast("long"), col(prefixCol),
      col(totalLenCol).cast("long")).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          toMeta(r.getLong(0),
            parseAvi(r.getAs[Array[Byte]](1), r.getLong(2)))
        }
    }
  }

  /** Metadata projection over a video-bearing DataFrame: id + the
    * [[AviMeta]] fields as columns. `prefixBytes > 0` routes through
    * the prefix parser.
    */
  def videoMetaScan(df: DataFrame, idCol: String, binCol: String,
      prefixBytes: Int = 0): DataFrame = {
    val ds = if (prefixBytes > 0)
      parseAviHeaderPrefix(df, idCol, binCol, prefixBytes)
    else parseAviHeader(df, idCol, binCol)
    ds.toDF().select(col("id"),
      col("microsPerFrame").as("micros_per_frame"),
      col("totalFrames").as("total_frames"), col("width"),
      col("height"), col("streams"), col("bitCount").as("bit_count"),
      col("compression"), col("durationMs").as("duration_ms"),
      col("parsed"), col("audioStream").as("audio_stream"),
      col("audioFormat").as("audio_format"),
      col("audioChannels").as("audio_channels"),
      col("audioRate").as("audio_rate"),
      col("audioBits").as("audio_bits"))
  }

  /** Uniform sample indices: frame `⌊i · nFrames / nSamples⌋` for
    * `i ∈ [0, nSamples)` — always defined for `nFrames ≥ 1`, repeats
    * frames when the video is shorter than the sample count (the
    * temporal analogue of the image path box-sampling any image onto
    * a fixed grid). Exact integer floor, replicable as
    * `(i * n) // 65` in SQL.
    */
  def sampleIndices(nFrames: Long, nSamples: Int): Array[Long] =
    Array.tabulate(nSamples)(i => i.toLong * nFrames / nSamples)

  /** Output row of the sampled-luma stage: `lumaSums(i)` is the exact
    * integer sum of the BGR channel bytes of sampled frame i (row
    * padding excluded) — Σ(b+g+r) over pixels, the deterministic
    * brightness proxy the temporal fingerprint folds. `decoded =
    * false` (empty arrays) when the container fails to parse, frames
    * are compressed/non-BGR24, a sampled frame chunk is malformed, or
    * a frame exceeds `maxFrameBytes`.
    */
  case class VideoLuma(id: Long, width: Int, height: Int,
      nFrames: Long, durationMs: Long, sampleIdx: Seq[Long],
      lumaSums: Seq[Long], decoded: Boolean)

  /** Decode the per-frame luminance of `nSamples` uniformly-sampled
    * frames per payload. The imperative per-payload step
    * (`mapPartitions`, one payload in memory at a time, the
    * [[Audio.decodePcm16]] shape): walk the `movi` chunk table once
    * to count frames, compute [[sampleIndices]], walk again reading
    * CONTENT only at sampled indices (others are skipped by their
    * declared size — their bytes are never touched). Everything
    * downstream of this Dataset is codegen'd integer arithmetic.
    */
  def decodeSampledLuma(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): Dataset[VideoLuma] = {
    require(nSamples > 0, "nSamples must be positive")
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    implicit val enc = Encoders.product[VideoLuma]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          decodeLuma(id, bytes, nSamples, maxFrameBytes) match {
            case Some(v) => v
            case None => VideoLuma(id, 0, 0, 0L, 0L, Nil, Nil,
              decoded = false)
          }
        }
    }
  }

  /** Output row of the frame-sampling stage: `image` is sampled frame
    * `frameIdx` of video `id` wrapped as a REAL standalone BMP —
    * consumable by every image operator ([[Multimodal.luminanceGrids]]
    * / dHash / aHash / near-dup index / [[Multimodal.decodeImage]])
    * with no video-specific code downstream. Undecodable payloads emit
    * ONE marker row (`decoded = false`, empty image, frameIdx -1) so
    * honesty survives the explode.
    */
  case class SampledFrame(id: Long, frameIdx: Long, width: Int,
      height: Int, image: Array[Byte], decoded: Boolean)

  /** Sample each video's frames uniformly and emit every DISTINCT
    * sampled frame as its own row, the frame content wrapped as a
    * standalone BMP — the frame-sample primitive of a multimodal
    * training pipeline (thumbnail extraction, frame-level features,
    * and cross-modal dedup: near-dup sampled frames against an IMAGE
    * signature index finds videos containing known images). The wrap
    * is header-only: an AVI `00db` DIB payload is byte-identical to a
    * BMP pixel array (bottom-up BGR24 rows, 4-byte stride padding),
    * so frame bytes are prepended with a 54-byte BMP header verbatim
    * — no pixel copy beyond the one arraycopy, no re-encode, and the
    * downstream ImageIO decode sees exactly the encoder's pixels
    * (spec-pinned round trip). Same two-pass walk and honesty
    * contract as [[decodeSampledLuma]]: unsampled frame content is
    * never touched, compressed/malformed payloads are `decoded =
    * false`, per-payload cost is O(chunk table) + O(distinct sampled
    * frames) regardless of duration. Output bounded by `nSamples ×
    * maxFrameBytes` per video.
    */
  def sampleFrameImages(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): Dataset[SampledFrame] = {
    require(nSamples > 0, "nSamples must be positive")
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    implicit val enc = Encoders.product[SampledFrame]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          sampledFrameBmps(r.getAs[Array[Byte]](1), nSamples,
            maxFrameBytes) match {
            case Some((w, h, frames)) => frames.map { case (fi, bmp) =>
              SampledFrame(id, fi, w, h, bmp, decoded = true)
            }
            case None => Seq(SampledFrame(id, -1L, 0, 0,
              Array.emptyByteArray, decoded = false))
          }
        }
    }
  }

  /** The sampled-frame walk: (width, height, distinct (frameIdx, bmp))
    * — [[decodeLuma]]'s two passes, capturing bytes instead of
    * folding luma. Raw BGR24 frames are wrapped header-only (zero
    * re-encode); MJPEG frames decode through the JVM JPEG codec and
    * re-encode as the SAME canonical BMP shape ([[Multimodal.buildBmp]]),
    * so downstream image operators see one payload format either way.
    */
  private def sampledFrameBmps(bytes: Array[Byte], nSamples: Int,
      maxFrameBytes: Int): Option[(Int, Int, Seq[(Long, Array[Byte])])] = {
    val meta = parseAvi(bytes).getOrElse(return None)
    val codec = codecOf(meta).getOrElse(return None)
    val stride = ((3L * meta.width + 3L) / 4L) * 4L
    val frameBytes = stride * meta.height
    // the decoded-raster bound applies to BOTH codecs: an MJPEG chunk a
    // few MB compressed can declare (and decode to) a multi-GB raster —
    // container dims bound it exactly because jpegFrame rejects frames
    // whose decoded dims differ from the declared ones
    if (frameBytes <= 0 || frameBytes > maxFrameBytes) return None
    val moviDataStart = meta.moviOffset + 12
    val moviEnd = math.min(meta.moviOffset + 8 + meta.moviLen,
      bytes.length.toLong)
    def isFrameTag(t: String): Boolean = t == "00db" || t == "00dc"
    var n = 0L
    var pos = moviDataStart
    while (pos + 8 <= moviEnd) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (isFrameTag(t)) n += 1
      pos = pos + 8 + sz + (sz & 1)
    }
    if (n == 0) return None
    val idx = sampleIndices(n, nSamples)
    val out = Seq.newBuilder[(Long, Array[Byte])]
    var next = 0
    var fi = 0L
    pos = moviDataStart
    while (pos + 8 <= moviEnd && next < nSamples) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (isFrameTag(t)) {
        if (next < nSamples && idx(next) == fi) {
          val bmp = codec match {
            case RawBgr24 =>
              if (t != "00db" || sz != frameBytes ||
                pos + 8 + frameBytes > moviEnd) return None
              wrapBmp(bytes, (pos + 8).toInt, frameBytes.toInt,
                meta.width.toInt, meta.height.toInt)
            case Mjpeg =>
              if (t != "00dc" || sz > maxFrameBytes ||
                pos + 8 + sz > moviEnd) return None
              Multimodal.buildBmp(meta.width.toInt, meta.height.toInt,
                biToBgr(jpegFrame(bytes, (pos + 8).toInt, sz.toInt,
                  meta.width, meta.height).getOrElse(return None)))
          }
          out += ((fi, bmp))
          // a frame repeated by short-video sampling is emitted ONCE
          while (next < nSamples && idx(next) == fi) next += 1
        }
        fi += 1
      }
      pos = pos + 8 + sz + (sz & 1)
    }
    if (next < nSamples) return None // declared structure ran short
    Some((meta.width.toInt, meta.height.toInt, out.result()))
  }

  /** Output row of the video scene-segmentation stage: `avi` is the
    * sub-clip covering source frames `[segIdx·hop, segIdx·hop +
    * segmentFrames)` of video `id`, re-encoded as a REAL standalone
    * uncompressed AVI at the source frame rate — consumable by every
    * video operator downstream. Undecodable payloads emit ONE marker
    * row (`decoded = false`, empty avi, segIdx -1).
    */
  case class VideoSegment(id: Long, segIdx: Long, startFrame: Long,
      avi: Array[Byte], decoded: Boolean)

  /** Slice each decodable video into fixed-frame-window sub-clips,
    * each emitted as its own row re-encoded as a standalone
    * uncompressed AVI ([[buildUncompressedAvi]]) — the video member
    * of the fragment-bridge family ([[Audio.segmentClips]] /
    * [[Multimodal.tileImages]] / [[sampleFrameImages]]): segments
    * ride the ENTIRE video family downstream, so
    * find-videos-containing-a-known-SCENE is plain composition —
    * index the known scene, admit a candidate corpus's segments
    * against it. Segment s starts at frame `s·hopFrames` and spans
    * exactly `segmentFrames`; a trailing remainder shorter than the
    * window is NOT emitted. `hopFrames < segmentFrames` yields
    * overlapping shingles — the hop is the detection granularity and
    * the output-size knob (~`nFrames/hop` segments of
    * `segmentFrames·frameBytes` each). MJPEG sources decode through
    * the JVM JPEG codec and re-encode uncompressed, so a scene is
    * found across codecs. Unlike the SAMPLED walks this stage decodes
    * every frame up to the last complete segment (a segmenter re-emits
    * the frames it covers — per-payload working memory is one
    * `segmentFrames`-deep frame ring plus the emitted rows).
    *
    * Discrimination note: the 65-sample temporal fingerprint repeats
    * frames when a clip is shorter than 65 — signature entropy then
    * collapses to `segmentFrames − 1` comparison bits (the time-axis
    * analogue of the tiny-image dHash degeneracy), so scene HUNTS
    * should use `segmentFrames ≥ 65` and admit at `maxDistance = 0`.
    */
  def segmentVideos(df: DataFrame, idCol: String, binCol: String,
      segmentFrames: Int, hopFrames: Int = 0,
      maxFrameBytes: Int = 1 << 24): Dataset[VideoSegment] = {
    require(segmentFrames > 0, "segmentFrames must be positive")
    require(hopFrames >= 0, "hopFrames must be >= 0 (0 = segmentFrames)")
    val hop = if (hopFrames == 0) segmentFrames else hopFrames
    implicit val enc = Encoders.product[VideoSegment]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          segmentAvis(r.getAs[Array[Byte]](1), segmentFrames, hop,
            maxFrameBytes) match {
            case Some(segs) => segs.map { case (s, start, avi) =>
              VideoSegment(id, s, start, avi, decoded = true)
            }
            case None => Seq(VideoSegment(id, -1L, -1L,
              Array.emptyByteArray, decoded = false))
          }
        }
    }
  }

  /** Output row of the soundtrack-extraction stage: `wav` is the
    * container's first audio stream re-wrapped as a REAL standalone
    * WAV (the auds WAVEFORMATEX verbatim + every `NNwb` chunk's bytes
    * concatenated in movi order — byte-level, no resample, no
    * transcode), consumable by the ENTIRE audio family downstream.
    * Containers without a parseable audio stream emit ONE marker row
    * (`decoded = false`, empty wav).
    */
  case class AudioTrack(id: Long, wav: Array[Byte], format: Int,
      channels: Int, sampleRate: Int, bitsPerSample: Int,
      audioBytes: Long, decoded: Boolean)

  /** Extract each video's soundtrack as a standalone WAV — the
    * video→audio member of the fragment-bridge family
    * ([[sampleFrameImages]] emits frames as BMPs; this emits the
    * audio stream as a WAV): the output rides the ENTIRE audio
    * family with no video-specific code downstream, so
    * find-videos-containing-a-known-JINGLE is plain composition —
    * index the jingle ([[Audio.writeAudioNearDupIndex]]), admit the
    * extracted soundtracks (or their [[Audio.segmentClips]] windows)
    * against it. CONTAINER-AUTO, dispatched per payload on magic
    * (like [[videoSigsAuto]]'s signature space): RIFF/AVI payloads
    * take the `NNwb` movi concat, ISO-BMFF/MP4 payloads take
    * [[Mp4.mp4AudioTrackWav]]'s `stsc`/`stsz`/`stco`(/`co64`)
    * sample-table concat — both byte-level. AVI `NNwb` chunks carry
    * the stream's WAVEFORMATEX-format bytes verbatim (for PCM16, raw
    * LE16 samples — the exact layout a canonical WAV data chunk
    * holds), so extraction is two movi walks (size, then copy) + a
    * 44-byte header — zero decode, any audio format the [[Audio]]
    * family parses (PCM/ADPCM/G.711/float) rides through untouched,
    * formats it can't are ITS honest `decoded = false` downstream.
    * The MP4 path supports the uncompressed-PCM sample entries
    * (`sowt`/`twos`/`raw `/`lpcm`-v2-int16); compressed codecs
    * (`mp4a`/AAC) refuse honestly — fabricating samples from an
    * undecoded stream is this family's forbidden move.
    * `maxAudioBytes` bounds per-payload memory; a soundtrack past it
    * fails the row honestly (`decoded = false`), never truncates —
    * a silently-shortened signal would skew every downstream
    * fingerprint.
    */
  def extractAudioTracks(df: DataFrame, idCol: String, binCol: String,
      maxAudioBytes: Int = 1 << 26): Dataset[AudioTrack] = {
    require(maxAudioBytes > 0, "maxAudioBytes must be positive")
    implicit val enc = Encoders.product[AudioTrack]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          anyAudioTrackWav(r.getAs[Array[Byte]](1), maxAudioBytes) match {
            case Some((fmt, ch, rate, bits, wav)) =>
              AudioTrack(id, wav, fmt, ch, rate, bits,
                (wav.length - 44).toLong, decoded = true)
            case None => AudioTrack(id, Array.emptyByteArray, 0, 0, 0,
              0, 0L, decoded = false)
          }
        }
    }
  }

  /** Container dispatch for the soundtrack walk — each payload is
    * read ONCE by exactly one extractor, decided on its magic bytes
    * (RIFF → AVI movi concat; `ftyp` at offset 4 → ISO-BMFF sample
    * tables; EBML magic → Matroska/WebM block walk). Unknown
    * containers refuse.
    */
  private def anyAudioTrackWav(bytes: Array[Byte],
      maxAudioBytes: Int): Option[(Int, Int, Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 12) None
    else if (bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F') audioTrackWav(bytes, maxAudioBytes)
    else if (bytes(4) == 'f' && bytes(5) == 't' && bytes(6) == 'y' &&
      bytes(7) == 'p') Mp4.mp4AudioTrackWav(bytes, maxAudioBytes)
    else if ((bytes(0) & 0xFF) == 0x1A && (bytes(1) & 0xFF) == 0x45 &&
      (bytes(2) & 0xFF) == 0xDF && (bytes(3) & 0xFF) == 0xA3)
      Webm.webmAudioTrackWav(bytes, maxAudioBytes)
    else None
  }

  /** The soundtrack walk: locate the first `auds` strl (its order
    * index is the movi chunk stream number), then two movi passes —
    * total the `NNwb` bytes (bound + truncation checks), then copy
    * them behind a canonical 44-byte WAV header carrying the
    * WAVEFORMATEX fields verbatim.
    */
  private def audioTrackWav(bytes: Array[Byte],
      maxAudioBytes: Int): Option[(Int, Int, Int, Int, Array[Byte])] = {
    val meta = parseAvi(bytes).getOrElse(return None)
    if (meta.audioStream < 0 || meta.audRate <= 0 ||
      meta.audChannels <= 0) return None
    val wbTag = f"${meta.audioStream}%02dwb"
    val moviDataStart = meta.moviOffset + 12
    val moviEnd = math.min(meta.moviOffset + 8 + meta.moviLen,
      bytes.length.toLong)
    var total = 0L
    var pos = moviDataStart
    while (pos + 8 <= moviEnd) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (t == wbTag) {
        if (pos + 8 + sz > moviEnd) return None // truncated chunk
        total += sz
      }
      pos = pos + 8 + sz + (sz & 1)
    }
    if (total == 0L || total > maxAudioBytes) return None
    val n = total.toInt
    val out = new Array[Byte](44 + n)
    def w32(o: Int, v: Long): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte
      out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    def tag4(o: Int, s: String): Unit = {
      var i = 0
      while (i < 4) { out(o + i) = s.charAt(i).toByte; i += 1 }
    }
    tag4(0, "RIFF"); w32(4, 36L + n); tag4(8, "WAVE")
    tag4(12, "fmt "); w32(16, 16L)
    w16(20, meta.audFormat); w16(22, meta.audChannels)
    w32(24, meta.audRate.toLong); w32(28, meta.audByteRate)
    w16(32, meta.audBlockAlign); w16(34, meta.audBits)
    tag4(36, "data"); w32(40, n.toLong)
    var w = 44
    pos = moviDataStart
    while (pos + 8 <= moviEnd) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (t == wbTag) {
        System.arraycopy(bytes, (pos + 8).toInt, out, w, sz.toInt)
        w += sz.toInt
      }
      pos = pos + 8 + sz + (sz & 1)
    }
    Some((meta.audFormat, meta.audChannels, meta.audRate,
      meta.audBits, out))
  }

  /** Top-down unpadded BGR bytes of a decoded frame image. */
  private def biToBgr(bi: java.awt.image.BufferedImage): Array[Byte] = {
    val w = bi.getWidth
    val h = bi.getHeight
    val bgr = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = bi.getRGB(x, y)
        val o = 3 * (y * w + x)
        bgr(o) = (rgb & 0xFF).toByte
        bgr(o + 1) = ((rgb >> 8) & 0xFF).toByte
        bgr(o + 2) = ((rgb >> 16) & 0xFF).toByte
        x += 1
      }
      y += 1
    }
    bgr
  }

  /** The sequential segment walk: every frame up to the last complete
    * window decodes to top-down BGR and flows through a
    * `segmentFrames`-deep ring; a segment is re-encoded whenever the
    * ring holds frames `[s·hop, s·hop + W)`. All-or-marker honesty:
    * any malformed frame fails the whole payload.
    */
  private def segmentAvis(bytes: Array[Byte], w0: Int, hop: Int,
      maxFrameBytes: Int): Option[Seq[(Long, Long, Array[Byte])]] = {
    val meta = parseAvi(bytes).getOrElse(return None)
    val codec = codecOf(meta).getOrElse(return None)
    val stride = ((3L * meta.width + 3L) / 4L) * 4L
    val frameBytes = stride * meta.height
    // decoded-raster bound on both codecs (see sampledFrameBmps) — the
    // ring here holds w0 DECODED frames, so the bound matters doubly
    if (frameBytes <= 0 || frameBytes > maxFrameBytes) return None
    val wI = meta.width.toInt
    val hI = meta.height.toInt
    val moviDataStart = meta.moviOffset + 12
    val moviEnd = math.min(meta.moviOffset + 8 + meta.moviLen,
      bytes.length.toLong)
    val ring = scala.collection.mutable.ArrayDeque.empty[Array[Byte]]
    val out = Seq.newBuilder[(Long, Long, Array[Byte])]
    var fi = 0L
    var nextSeg = 0L
    var pos = moviDataStart
    while (pos + 8 <= moviEnd) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (t == "00db" || t == "00dc") {
        val bgr = codec match {
          case RawBgr24 =>
            if (t != "00db" || sz != frameBytes ||
              pos + 8 + frameBytes > moviEnd) return None
            val b = new Array[Byte](3 * wI * hI)
            var y = 0
            while (y < hI) { // stored bottom-up; emit top-down
              System.arraycopy(bytes,
                (pos + 8 + (hI - 1 - y) * stride).toInt,
                b, y * 3 * wI, 3 * wI)
              y += 1
            }
            b
          case Mjpeg =>
            if (t != "00dc" || sz > maxFrameBytes ||
              pos + 8 + sz > moviEnd) return None
            biToBgr(jpegFrame(bytes, (pos + 8).toInt, sz.toInt,
              meta.width, meta.height).getOrElse(return None))
        }
        ring.append(bgr)
        if (ring.length > w0) ring.removeHead()
        if (fi == nextSeg * hop + w0 - 1) {
          out += ((nextSeg, nextSeg * hop,
            buildUncompressedAvi(wI, hI, ring.toSeq,
              meta.microsPerFrame)))
          nextSeg += 1
        }
        fi += 1
      }
      pos = pos + 8 + sz + (sz & 1)
    }
    Some(out.result())
  }

  /** 54-byte BMP header + the DIB payload verbatim (bottom-up BGR24
    * with 4-byte row stride — the one pixel layout AVI `00db` and BMP
    * share by definition).
    */
  private def wrapBmp(src: Array[Byte], off: Int, len: Int,
      w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](54 + len)
    def w32(o: Int, v: Long): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
      out(o + 2) = ((v >> 16) & 0xFF).toByte
      out(o + 3) = ((v >> 24) & 0xFF).toByte
    }
    def w16(o: Int, v: Int): Unit = {
      out(o) = (v & 0xFF).toByte
      out(o + 1) = ((v >> 8) & 0xFF).toByte
    }
    out(0) = 'B'.toByte; out(1) = 'M'.toByte
    w32(2, 54L + len); w32(6, 0L); w32(10, 54L)
    w32(14, 40L); w32(18, w.toLong); w32(22, h.toLong)
    w16(26, 1); w16(28, 24)
    w32(30, 0L); w32(34, len.toLong)
    w32(38, 2835L); w32(42, 2835L); w32(46, 0L); w32(50, 0L)
    System.arraycopy(src, off, out, 54, len)
    out
  }

  /** (id, sig) 64-bit temporal fingerprint rows: gradient fold over
    * the 65 sampled-frame luma sums — bit i set when
    * `luma(i) > luma(i+1)`, [[Audio.audioFingerprint64]]'s fold
    * applied to the frame axis (dHash on time). Robust to uniform
    * brightness/contrast gain (luma sums scale monotonically) and to
    * resolution-preserving re-encodes of the same frames; NOT a
    * claim about re-scaled videos (luma sums are resolution-
    * dependent — normalize upstream if needed). 8 bytes per video.
    * Undecodable payloads are dropped (exact-byte dedup's job).
    */
  def videoSigs(df: DataFrame, idCol: String, binCol: String,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    decodeSampledLuma(df, idCol, binCol, nSamples = 65, maxFrameBytes)
      .toDF().filter(col("decoded"))
      .select(col("id"),
        Audio.audioFingerprint64(col("lumaSums")).as("sig"))

  /** In-corpus perceptual video near-dup pairs `(a, b, distance)`,
    * `a < b`, Hamming distance ≤ `maxDistance` over the temporal
    * fingerprint — candidates via the 16-bit block pigeonhole, never
    * all-pairs.
    */
  def videoNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      maxDistance: Int = 3, maxFrameBytes: Int = 1 << 24): DataFrame =
    Dedup.hamming64NearDupPairs(
      videoSigs(df, idCol, binCol, maxFrameBytes),
      "id", "sig", maxDistance)

  /** CONTAINER-AUTO temporal fingerprints: dispatch each payload by
    * its magic — RIFF/AVI through the AVI chunk walk, GIF through
    * [[Gif]]'s LZW decode, animated PNG (acTL-bearing) through
    * [[Png]]'s inflate+unfilter — into ONE signature space. The per-frame
    * luma definition (exact integer Σ(r+g+b)) and the 65-sample
    * gradient fold are identical on both paths, so the same pixels
    * fingerprint identically whatever the container (spec-pinned in
    * GifSpec): a mixed 100 TB corpus dedups ACROSS containers with
    * one index, one admission pass, no per-format corpus splits.
    * ONE scan of the binary column: the dispatch happens per row
    * inside [[lumaSumsUdf]] (the AVI walk rejects a non-RIFF payload
    * on its first four bytes, so the fallback probe costs nothing) —
    * a filter-per-container split would read the corpus's heaviest
    * column once per container format (2× I/O at 100 TB for two
    * formats, and growing with each). Plan-pinned in PlanShapeSpec:
    * no Union, a single scan. Unknown containers carry no signature —
    * exact-byte dedup's job, as everywhere in this family.
    */
  def videoSigsAuto(df: DataFrame, idCol: String, binCol: String,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      evalOnce(lumaSumsUdf(maxFrameBytes)(col(binCol))).as("__lu"))
      .filter(col("__lu").isNotNull)
      .select(col("id"), Audio.audioFingerprint64(col("__lu")).as("sig"))

  /** In-corpus near-dup pairs over a MIXED-container corpus —
    * [[videoNearDupPairs]] over [[videoSigsAuto]]: an AVI and a GIF
    * of the same frames pair at distance 0.
    */
  def videoNearDupPairsAuto(df: DataFrame, idCol: String,
      binCol: String, maxDistance: Int = 3,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    Dedup.hamming64NearDupPairs(
      videoSigsAuto(df, idCol, binCol, maxFrameBytes),
      "id", "sig", maxDistance)

  /** Decode → exact integer stats: one row per decoded video with
    * frame geometry, duration, and the sampled-luma aggregates
    * (total, peak, min — brightness envelope over the sampled
    * timeline; the arrays are 65 entries, far below the
    * interpreted-HOF cliff, so the built-in HOFs are fine here).
    */
  def videoStats(df: DataFrame, idCol: String, binCol: String,
      nSamples: Int = 65,
      maxFrameBytes: Int = 1 << 24): DataFrame =
    decodeSampledLuma(df, idCol, binCol, nSamples, maxFrameBytes)
      .toDF().filter(col("decoded"))
      .select(col("id"), col("width"), col("height"),
        col("nFrames").as("n_frames"), col("durationMs").as("duration_ms"),
        aggregate(col("lumaSums"), lit(0L), (a, x) => a + x)
          .as("luma_total"),
        array_max(col("lumaSums")).as("luma_peak"),
        array_min(col("lumaSums")).as("luma_min"))

  // ---- persisted video signature index (build once, admit many) -----

  private val VideoIndexSidecar = "_graft_video_index_params.json"

  private def videoIndexParamsJson(maxFrameBytes: Int): String =
    Seq("kind" -> "video_near_dup", "nSamples" -> "65",
      "maxFrameBytes" -> maxFrameBytes.toString)
      .map { case (k, v) =>
        s"${graft.JsonStr(k)}:${graft.JsonStr(v)}" }
      .mkString("{", ",", "}")

  private def readVideoIndexParams(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      who: String): String =
    SigIndex.readParams(spark, indexPath, VideoIndexSidecar,
      "writeVideoNearDupIndex", who)

  /** `maxFrameBytes` back out of a sidecar — fail-loud on any shape
    * this writer never produced.
    */
  private def parseVideoIndexParams(json: String, who: String): Int = {
    val m = java.util.regex.Pattern
      .compile("\"maxFrameBytes\":\"(\\d+)\"").matcher(json)
    require(m.find(), s"$who: malformed sidecar: $json")
    m.group(1).toInt
  }

  /** Persist the corpus side of perceptual video dedup as a REUSABLE
    * index: the 64-bit temporal fingerprints of every decodable video
    * plus a fail-loud params sidecar recording the sample count and
    * frame-size cap — the [[SigIndex]] lifecycle
    * ([[Audio.writeAudioNearDupIndex]] for the frame axis). At 100 TB
    * the corpus-side container walk + frame decode dominates every
    * snapshot admission; this makes the signatures an artifact (build
    * once, admit many — 8 bytes per indexed video). A signature
    * sampled under a different frame cap could silently never match
    * (a payload decodable under one cap is dropped under a smaller
    * one) — exactly the mismatch the sidecar blocks. Same crash
    * contract as every index here: sidecar deleted BEFORE data, a
    * crash mid-rewrite leaves a reader-rejected no-sidecar index; a
    * rebuild drops append batches from the previous generation.
    */
  def writeVideoNearDupIndex(corpus: DataFrame, idCol: String,
      binCol: String, path: String,
      maxFrameBytes: Int = 1 << 24): Unit = {
    require(maxFrameBytes > 0, "maxFrameBytes must be positive")
    graft.operators.TopK.requireIntegral(corpus, idCol,
      "writeVideoNearDupIndex")
    SigIndex.write(corpus.sparkSession, path, VideoIndexSidecar,
      videoIndexParamsJson(maxFrameBytes),
      Seq("sigs" -> videoSigsAuto(corpus, idCol, binCol, maxFrameBytes)
        .select(col("id"), col("sig").as("sh"))))
  }

  /** Extend a [[writeVideoNearDupIndex]] artifact with newly-admitted
    * videos — admit → append → the next snapshot dedups against
    * corpus + admissions, without rebuilding. The batch stages under
    * `batches/<id>/` and becomes visible only when the atomic
    * `_graft_committed` marker lands ([[SigIndex.appendBatch]]); the
    * sidecar's params are validated fail-loud first. Caller contract:
    * ids disjoint from the indexed corpus.
    */
  def appendToVideoNearDupIndex(newVideos: DataFrame, idCol: String,
      binCol: String, indexPath: String,
      maxFrameBytes: Int = 1 << 24): Unit = {
    graft.operators.TopK.requireIntegral(newVideos, idCol,
      "appendToVideoNearDupIndex")
    val spark = newVideos.sparkSession
    SigIndex.requireParams(
      readVideoIndexParams(spark, indexPath,
        "appendToVideoNearDupIndex"),
      videoIndexParamsJson(maxFrameBytes), indexPath,
      "appendToVideoNearDupIndex")
    SigIndex.appendBatch(spark, indexPath,
      Seq("sigs" -> videoSigsAuto(newVideos, idCol, binCol,
        maxFrameBytes)
        .select(col("id"), col("sig").as("sh"))))
  }

  /** Admit a snapshot of videos against a [[writeVideoNearDupIndex]]
    * artifact: drop every snapshot video whose temporal fingerprint is
    * within `maxDistance` of ANY indexed fingerprint; keep the rest
    * (all input columns). The corpus side is a READ of 8-byte
    * signatures — zero re-decode; the snapshot side decodes once,
    * sampled under the index's OWN recorded frame cap. Candidates come
    * from the cross-side 16-bit block pigeonhole
    * ([[Dedup.hamming64CrossMatches]]), exact bit_count verifies.
    * Undecodable snapshot payloads carry no signature and are ADMITTED
    * — route them through exact-byte dedup, as [[videoNearDupPairs]]
    * documents. Within-snapshot near-dups are out of scope — compose
    * with [[videoNearDupPairs]] + [[Dedup.nearDedup]] on the snapshot
    * first.
    */
  def incrementalVideoNearDedup(snapshot: DataFrame, idCol: String,
      binCol: String, indexPath: String, maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    graft.operators.TopK.requireIntegral(snapshot, idCol,
      "incrementalVideoNearDedup")
    val spark = snapshot.sparkSession
    val maxFrameBytes = parseVideoIndexParams(
      readVideoIndexParams(spark, indexPath,
        "incrementalVideoNearDedup"), "incrementalVideoNearDedup")
    val corpusSigs = spark.read.parquet(
      Dedup.indexSidePaths(spark, indexPath, "sigs"): _*)
    val snapSigs = videoSigsAuto(snapshot, idCol, binCol, maxFrameBytes)
      .select(col("id"), col("sig").as("sh"))
    val matched = Dedup.hamming64CrossMatches(corpusSigs, snapSigs,
      maxDistance, maxBucket, strictBuckets)
    snapshot.join(matched, snapshot(idCol) === matched("b"),
      "left_anti")
  }

  /** NEEDLE HUNT: find videos whose content CONTAINS a known scene —
    * segment every video into `segmentFrames` windows
    * ([[segmentVideos]]), fingerprint each re-encoded sub-clip under
    * the index's OWN recorded frame cap, and return every segment
    * within `maxDistance` of ANY indexed signature as
    * `(id, seg_idx, start_frame)`. `strictBuckets` defaults to TRUE —
    * the hunt guard ([[Audio.findClipsContainingJingle]]): a
    * degenerate over-cap corpus bucket is where the needle lives, and
    * silently dropping it is the one failure a hunt cannot tolerate.
    * Discrimination contract as documented on [[segmentVideos]]: use
    * `segmentFrames ≥ 65` and the default `maxDistance = 0`.
    */
  def findVideosContainingScene(videos: DataFrame, idCol: String,
      binCol: String, indexPath: String, segmentFrames: Int,
      hopFrames: Int = 0, maxDistance: Int = 0, maxBucket: Int = 1000,
      strictBuckets: Boolean = true): DataFrame = {
    graft.operators.TopK.requireIntegral(videos, idCol,
      "findVideosContainingScene")
    val spark = videos.sparkSession
    val maxFrameBytes = parseVideoIndexParams(
      readVideoIndexParams(spark, indexPath,
        "findVideosContainingScene"), "findVideosContainingScene")
    val segs = segmentVideos(videos, idCol, binCol, segmentFrames,
      hopFrames, maxFrameBytes).toDF().filter(col("decoded"))
    val withSig = segs
      .withColumn("__lu", evalOnce(lumaSumsUdf(maxFrameBytes)(col("avi"))))
      .filter(col("__lu").isNotNull)
      .select(col("id"), col("segIdx").as("seg_idx"),
        col("startFrame").as("start_frame"),
        Audio.audioFingerprint64(col("__lu")).as("__sh"))
    Dedup.hamming64CrossMatchRows(
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      withSig, "__sh", maxDistance, maxBucket, strictBuckets)
  }

  /** NEEDLE HUNT through the soundtrack bridge: find videos whose
    * AUDIO TRACK contains a known jingle — [[extractAudioTracks]]
    * (byte-level, zero transcode) composed with
    * [[Audio.findClipsContainingJingle]] against an AUDIO signature
    * index; `(id, seg_idx, start_frame)` locates the hit within the
    * soundtrack. Everything downstream of extraction is the
    * unchanged audio family.
    */
  def findVideosWithJingle(videos: DataFrame, idCol: String,
      binCol: String, audioIndexPath: String, segmentFrames: Int,
      hopFrames: Int = 0, maxDistance: Int = 0, maxBucket: Int = 1000,
      strictBuckets: Boolean = true,
      maxAudioBytes: Int = 1 << 26): DataFrame = {
    val tracks = extractAudioTracks(videos, idCol, binCol,
      maxAudioBytes).toDF().filter(col("decoded"))
      .select(col("id"), col("wav"))
    Audio.findClipsContainingJingle(tracks, "id", "wav",
      audioIndexPath, segmentFrames, hopFrames, maxDistance,
      maxBucket, strictBuckets)
  }

  /** STREAMING scene needle hunt: match a live video feed's frame
    * WINDOWS against a static scene index — the streaming twin of
    * [[findVideosContainingScene]]. A per-row UDF runs the SAME
    * private machinery as the batch path (segment re-encode →
    * sampled-luma decode → gradient fingerprint — bit parity by
    * construction, spec-pinned), `explode` is stateless, and the
    * match kernel returns `(seg_idx, start_frame)` locations per
    * micro-batch with zero streaming state. Same discrimination
    * contract as [[segmentVideos]]: `segmentFrames ≥ 65`, default
    * `maxDistance = 0`; `strictBuckets` TRUE by default, checked once
    * at wiring time.
    */
  def findVideosContainingSceneStream(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, indexPath: String,
      segmentFrames: Int, hopFrames: Int = 0,
      lateness: String = "1 hour", maxDistance: Int = 0,
      maxBucket: Int = 1000, strictBuckets: Boolean = true): DataFrame = {
    require(segmentFrames > 0, "segmentFrames must be positive")
    require(hopFrames >= 0, "hopFrames must be >= 0 (0 = segmentFrames)")
    val spark = stream.sparkSession
    val maxFrameBytes = parseVideoIndexParams(
      readVideoIndexParams(spark, indexPath,
        "findVideosContainingSceneStream"),
      "findVideosContainingSceneStream")
    val hop = if (hopFrames == 0) segmentFrames else hopFrames
    val segSigsUdf = udf { (bytes: Array[Byte]) =>
      segmentAvis(bytes, segmentFrames, hop, maxFrameBytes)
        .map(_.flatMap { case (s, start, avi) =>
          decodeLuma(0L, avi, 65, maxFrameBytes).map { vl =>
            val l = vl.lumaSums
            var sig = 0L
            var i = 0
            while (i < 64) {
              if (l(i) > l(i + 1)) sig |= 1L << i
              i += 1
            }
            (s, start, sig)
          }
        })
    }
    val streamCols = stream.columns.toSeq
    val exploded = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__segs", evalOnce(segSigsUdf(col(binCol)))) // decode once (guide §4.4)
      .filter(col("__segs").isNotNull)
      .select(streamCols.map(col) :+
        explode(col("__segs")).as("__seg"): _*)
      .select(streamCols.map(col) :+
        col("__seg._1").as("seg_idx") :+
        col("__seg._2").as("start_frame") :+
        col("__seg._3").as("__sh"): _*)
    Dedup.hamming64StreamMatchRows(exploded,
      streamCols ++ Seq("seg_idx", "start_frame"),
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      maxDistance, maxBucket, strictBuckets)
  }

  /** STREAMING soundtrack needle hunt: match a live video feed's
    * AUDIO TRACKS against a static jingle index — the streaming twin
    * of [[findVideosWithJingle]] and the deployment shape a
    * production needle-watch runs (new uploads arriving vs a
    * persisted jingle index). Container-auto like the batch bridge
    * (per-row magic dispatch: AVI movi concat / MP4 sample tables,
    * zero transcode), then [[Audio.findClipsContainingJingleStream]]
    * unchanged: one row per matched segment, in the micro-batch the
    * video arrives, zero streaming state, `strictBuckets` TRUE by
    * default (checked once at wiring time). Videos without an
    * extractable PCM soundtrack emit nothing — dropped, never
    * guessed.
    */
  def findVideosWithJingleStream(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, audioIndexPath: String,
      segmentFrames: Int, hopFrames: Int = 0,
      lateness: String = "1 hour", maxDistance: Int = 0,
      maxBucket: Int = 1000, strictBuckets: Boolean = true,
      maxAudioBytes: Int = 1 << 26): DataFrame = {
    require(maxAudioBytes > 0, "maxAudioBytes must be positive")
    val trackUdf = udf { (bytes: Array[Byte]) =>
      anyAudioTrackWav(bytes, maxAudioBytes).map(_._5)
    }
    val withWav = stream
      .withColumn("__wav", evalOnce(trackUdf(col(binCol)))) // decode once (guide §4.4)
      .filter(col("__wav").isNotNull)
    Audio.findClipsContainingJingleStream(withWav, idCol, "__wav",
      tsCol, audioIndexPath, segmentFrames, hopFrames, lateness,
      maxDistance, maxBucket, strictBuckets).drop("__wav")
  }

  /** Per-row sampled-frame luma sums as a scalar UDF — the streaming
    * twin of [[decodeSampledLuma]] (a streaming plan can't reshape
    * through the typed mapPartitions without dropping the stream's own
    * columns). Binary container decode is the justified-UDF case, like
    * [[Audio]]'s `energiesUdf`; one payload in memory at a time, null
    * for undecodable. Both paths call the SAME private [[decodeLuma]]
    * walk, so streaming/batch signature parity holds by construction —
    * and is still spec-pinned by the maxDistance=0 streaming admission
    * tests. Callers filter on the result, so they project it through
    * `evalOnce`: pushdown would otherwise substitute the UDF into the
    * filter and decode every video twice per row (guide §4.4).
    */
  private def lumaSumsUdf(maxFrameBytes: Int) =
    udf { (bytes: Array[Byte]) =>
      // container dispatch, mirroring videoSigsAuto: each walk fails
      // a foreign payload on its magic bytes, so the fallback probes
      // cost nothing off their own path (RIFF → AVI, GIF8 → LZW,
      // \x89PNG + acTL → APNG; still PNGs carry no acTL and refuse —
      // they belong to the image family)
      decodeLuma(0L, bytes, 65, maxFrameBytes)
        .orElse(Gif.decodeLuma(0L, bytes, 65, maxFrameBytes))
        .orElse(Png.decodeAnimLuma(0L, bytes, 65, maxFrameBytes))
        .map(_.lumaSums)
    }

  /** Streaming video admission: admit a live video feed against a
    * STATIC [[writeVideoNearDupIndex]] artifact — the streaming twin
    * of [[incrementalVideoNearDedup]]. A stream video is dropped when
    * its fingerprint is within `maxDistance` of ANY indexed
    * fingerprint; every other row is emitted in the micro-batch it
    * arrives. STATELESS ([[Dedup.hamming64StreamAdmit]]): the stream
    * decodes once per row (scalar UDF) under the index's OWN recorded
    * frame cap, the static side is the capped bucket fold of the
    * 8-byte signature read, four 1:1 joins + `exists`/`bit_count`
    * decide — zero streaming state per row whatever the payload size,
    * no emission delay, duplicate feed rows never collapse.
    * Undecodable payloads carry a null signature and are ADMITTED.
    * `tsCol`/`lateness` apply a watermark only so downstream stateful
    * consumers inherit one.
    */
  def streamingVideoNearDedup(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, indexPath: String,
      lateness: String = "1 hour", maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    val spark = stream.sparkSession
    val maxFrameBytes = parseVideoIndexParams(
      readVideoIndexParams(spark, indexPath,
        "streamingVideoNearDedup"), "streamingVideoNearDedup")
    val streamCols = stream.columns.toSeq
    val withSig = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__lu", evalOnce(lumaSumsUdf(maxFrameBytes)(col(binCol))))
      .withColumn("__sh",
        when(col("__lu").isNotNull,
          Audio.audioFingerprint64(col("__lu"))))
    Dedup.hamming64StreamAdmit(withSig, streamCols,
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      maxDistance, maxBucket, strictBuckets)
  }

  // ---- encoder (round-trip twin; also the fixture/smoke builder) -----

  /** Build a canonical uncompressed AVI: RIFF(AVI ) → LIST(hdrl)
    * [avih + LIST(strl)[strh + strf BITMAPINFOHEADER]] → LIST(movi)
    * [`00db` BGR24 DIB frames, rows bottom-up, stride padded to 4
    * bytes]. Each `frames(i)` must be exactly `3·width·height` bytes
    * of row-major top-down BGR (the builder flips and pads). The
    * decode twin of [[parseAviHeader]]/[[decodeSampledLuma]] — specs
    * pin the round trip.
    */
  def buildUncompressedAvi(width: Int, height: Int,
      frames: Seq[Array[Byte]], microsPerFrame: Long): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    frames.foreach(f => require(f.length == 3 * width * height,
      s"frame must be ${3 * width * height} bytes, got ${f.length}"))
    val stride = ((3 * width + 3) / 4) * 4
    val frameBytes = stride * height
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    // sizes, computed up front (all chunks here are even-sized)
    val strfSz = 40
    val strhSz = 56
    val strlSz = 4 + (8 + strhSz) + (8 + strfSz)
    val avihSz = 56
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlSz)
    val moviSz = 4 + frames.length * (8 + frameBytes)
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    tag4("RIFF"); w32(riffSz); tag4("AVI ")
    tag4("LIST"); w32(hdrlSz); tag4("hdrl")
    tag4("avih"); w32(avihSz)
    w32(microsPerFrame); w32(0L); w32(0L); w32(0L)
    w32(frames.length); w32(0L); w32(1L); w32(frameBytes)
    w32(width); w32(height); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlSz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("vids"); tag4("DIB "); w32(0L); w32(0L); w32(0L)
    w32(microsPerFrame); w32(1000000L); w32(0L); w32(frames.length)
    w32(frameBytes); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(width); w16(height)
    tag4("strf"); w32(strfSz)
    w32(40L); w32(width); w32(height); w16(1); w16(24)
    w32(0L); w32(frameBytes); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(moviSz); tag4("movi")
    frames.foreach { f =>
      tag4("00db"); w32(frameBytes)
      var row = height - 1
      while (row >= 0) { // bottom-up rows, zero pad to stride
        bos.write(f, row * 3 * width, 3 * width)
        var p = 3 * width
        while (p < stride) { bos.write(0); p += 1 }
        row -= 1
      }
    }
    bos.toByteArray
  }

  /** Build a canonical two-stream AVI: the [[buildUncompressedAvi]]
    * RIFF skeleton plus an `auds` strl (WAVEFORMATEX, 16-bit PCM
    * mono) and the soundtrack interleaved into movi as `01wb` chunks,
    * one per video frame (sample range `[⌊f·n/F⌋, ⌊(f+1)·n/F⌋)` —
    * the standard frame-paced interleave, exact integer floor). The
    * encode twin of [[extractAudioTracks]]: extraction concatenates
    * the `01wb` bytes back in order, so the round-tripped WAV is
    * byte-identical to [[Audio.wrapWav]] over `samples` — specs pin
    * it.
    */
  def buildAviWithAudio(width: Int, height: Int,
      frames: Seq[Array[Byte]], microsPerFrame: Long,
      samples: Array[Int], sampleRate: Int): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    require(sampleRate > 0, "sampleRate must be positive")
    require(frames.nonEmpty, "at least one frame")
    frames.foreach(f => require(f.length == 3 * width * height,
      s"frame must be ${3 * width * height} bytes, got ${f.length}"))
    val stride = ((3 * width + 3) / 4) * 4
    val frameBytes = stride * height
    val nF = frames.length
    val nS = samples.length
    // audio chunk f covers samples [f*nS/nF, (f+1)*nS/nF)
    val cuts = Array.tabulate(nF + 1)(f => f.toLong * nS / nF)
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val strhSz = 56
    val strlVSz = 4 + (8 + strhSz) + (8 + 40)
    val strlASz = 4 + (8 + strhSz) + (8 + 16)
    val avihSz = 56
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlVSz) + (8 + strlASz)
    val audioChunkBytes = Array.tabulate(nF) { f =>
      val b = 2L * (cuts(f + 1) - cuts(f))
      b + (b & 1)
    }
    val moviSz = 4 + nF * (8 + frameBytes) +
      audioChunkBytes.map(b => if (b > 0) 8 + b else 0L).sum
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    tag4("RIFF"); w32(riffSz); tag4("AVI ")
    tag4("LIST"); w32(hdrlSz); tag4("hdrl")
    tag4("avih"); w32(avihSz)
    w32(microsPerFrame); w32(0L); w32(0L); w32(0L)
    w32(nF); w32(0L); w32(2L); w32(frameBytes)
    w32(width); w32(height); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlVSz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("vids"); tag4("DIB "); w32(0L); w32(0L); w32(0L)
    w32(microsPerFrame); w32(1000000L); w32(0L); w32(nF)
    w32(frameBytes); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(width); w16(height)
    tag4("strf"); w32(40L)
    w32(40L); w32(width); w32(height); w16(1); w16(24)
    w32(0L); w32(frameBytes); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlASz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("auds"); w32(0L); w32(0L); w32(0L); w32(0L)
    w32(1L); w32(sampleRate.toLong); w32(0L); w32(nS)
    w32(2L * sampleRate); w32(-1L & 0xFFFFFFFFL); w32(2L)
    w16(0); w16(0); w16(0); w16(0)
    tag4("strf"); w32(16L) // WAVEFORMATEX sans cbSize: PCM16 mono
    w16(1); w16(1); w32(sampleRate.toLong); w32(2L * sampleRate)
    w16(2); w16(16)
    tag4("LIST"); w32(moviSz); tag4("movi")
    var f = 0
    while (f < nF) {
      tag4("00db"); w32(frameBytes)
      val fr = frames(f)
      var row = height - 1
      while (row >= 0) { // bottom-up rows, zero pad to stride
        bos.write(fr, row * 3 * width, 3 * width)
        var p = 3 * width
        while (p < stride) { bos.write(0); p += 1 }
        row -= 1
      }
      val from = cuts(f).toInt
      val until = cuts(f + 1).toInt
      if (until > from) {
        val b = 2 * (until - from)
        tag4("01wb"); w32(b.toLong)
        var i = from
        while (i < until) {
          bos.write(samples(i) & 0xFF)
          bos.write((samples(i) >> 8) & 0xFF)
          i += 1
        }
        if ((b & 1) == 1) bos.write(0)
      }
      f += 1
    }
    bos.toByteArray
  }

  /** Build an MJPEG AVI: the same RIFF skeleton as
    * [[buildUncompressedAvi]] but `strf.biCompression = 'MJPG'` and
    * each frame a `00dc` chunk carrying one COMPLETE standalone JPEG
    * (the Motion-JPEG-in-AVI convention: no inter-frame state, every
    * frame independently decodable). `jpegFrames(i)` must already be
    * encoded JPEG bytes (odd-sized frames get the RIFF pad byte).
    * The encode twin of the MJPEG branch of [[decodeSampledLuma]] /
    * [[sampleFrameImages]] — and the fixture/smoke builder for the
    * compressed-codec path.
    */
  def buildMjpegAvi(width: Int, height: Int,
      jpegFrames: Seq[Array[Byte]], microsPerFrame: Long): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    require(jpegFrames.forall(f => f != null && f.length >= 4 &&
      (f(0) & 0xFF) == 0xFF && (f(1) & 0xFF) == 0xD8),
      "every frame must be standalone JPEG bytes (FFD8 SOI)")
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val strfSz = 40
    val strhSz = 56
    val strlSz = 4 + (8 + strhSz) + (8 + strfSz)
    val avihSz = 56
    val padded = jpegFrames.map(f => f.length + (f.length & 1))
    val moviSz = 4 + padded.map(8 + _).sum
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlSz)
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    val maxFrame = (padded :+ 0).max.toLong
    tag4("RIFF"); w32(riffSz); tag4("AVI ")
    tag4("LIST"); w32(hdrlSz); tag4("hdrl")
    tag4("avih"); w32(avihSz)
    w32(microsPerFrame); w32(0L); w32(0L); w32(0L)
    w32(jpegFrames.length); w32(0L); w32(1L); w32(maxFrame)
    w32(width); w32(height); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlSz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("vids"); tag4("MJPG"); w32(0L); w32(0L); w32(0L)
    w32(microsPerFrame); w32(1000000L); w32(0L); w32(jpegFrames.length)
    w32(maxFrame); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(width); w16(height)
    tag4("strf"); w32(strfSz)
    w32(40L); w32(width); w32(height); w16(1); w16(24)
    w32(MjpgFourcc); w32(maxFrame); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(moviSz); tag4("movi")
    jpegFrames.foreach { f =>
      tag4("00dc"); w32(f.length.toLong)
      bos.write(f, 0, f.length)
      if ((f.length & 1) == 1) bos.write(0)
    }
    bos.toByteArray
  }

  /** Build an MJPEG AVI WITH a PCM16 mono soundtrack — the classic
    * consumer-camera format (MJPEG video + PCM audio in one RIFF):
    * the [[buildMjpegAvi]] skeleton plus an `auds` strl and `01wb`
    * chunks interleaved frame-paced as in [[buildAviWithAudio]]. The
    * encode twin for the extract-soundtrack-from-compressed-video
    * path: [[extractAudioTracks]] is container-level (it never
    * touches the video codec), so the round trip is byte-exact even
    * though the FRAMES are lossy JPEG.
    */
  def buildMjpegAviWithAudio(width: Int, height: Int,
      jpegFrames: Seq[Array[Byte]], microsPerFrame: Long,
      samples: Array[Int], sampleRate: Int): Array[Byte] = {
    require(width > 0 && height > 0, "width/height must be positive")
    require(sampleRate > 0, "sampleRate must be positive")
    require(jpegFrames.nonEmpty, "at least one frame")
    require(jpegFrames.forall(f => f != null && f.length >= 4 &&
      (f(0) & 0xFF) == 0xFF && (f(1) & 0xFF) == 0xD8),
      "every frame must be standalone JPEG bytes (FFD8 SOI)")
    val nF = jpegFrames.length
    val nS = samples.length
    val cuts = Array.tabulate(nF + 1)(f => f.toLong * nS / nF)
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w16(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
    }
    def tag4(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    val strhSz = 56
    val strlVSz = 4 + (8 + strhSz) + (8 + 40)
    val strlASz = 4 + (8 + strhSz) + (8 + 16)
    val avihSz = 56
    val hdrlSz = 4 + (8 + avihSz) + (8 + strlVSz) + (8 + strlASz)
    val paddedV = jpegFrames.map(f => f.length + (f.length & 1))
    val audioChunkBytes = Array.tabulate(nF)(f =>
      2L * (cuts(f + 1) - cuts(f))) // even by construction
    val moviSz = 4 + paddedV.map(8 + _).sum +
      audioChunkBytes.map(b => if (b > 0) 8 + b else 0L).sum
    val riffSz = 4 + (8 + hdrlSz) + (8 + moviSz)
    val maxFrame = (paddedV :+ 0).max.toLong
    tag4("RIFF"); w32(riffSz); tag4("AVI ")
    tag4("LIST"); w32(hdrlSz); tag4("hdrl")
    tag4("avih"); w32(avihSz)
    w32(microsPerFrame); w32(0L); w32(0L); w32(0L)
    w32(nF); w32(0L); w32(2L); w32(maxFrame)
    w32(width); w32(height); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlVSz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("vids"); tag4("MJPG"); w32(0L); w32(0L); w32(0L)
    w32(microsPerFrame); w32(1000000L); w32(0L); w32(nF)
    w32(maxFrame); w32(-1L & 0xFFFFFFFFL); w32(0L)
    w16(0); w16(0); w16(width); w16(height)
    tag4("strf"); w32(40L)
    w32(40L); w32(width); w32(height); w16(1); w16(24)
    w32(MjpgFourcc); w32(maxFrame); w32(0L); w32(0L); w32(0L); w32(0L)
    tag4("LIST"); w32(strlASz); tag4("strl")
    tag4("strh"); w32(strhSz)
    tag4("auds"); w32(0L); w32(0L); w32(0L); w32(0L)
    w32(1L); w32(sampleRate.toLong); w32(0L); w32(nS)
    w32(2L * sampleRate); w32(-1L & 0xFFFFFFFFL); w32(2L)
    w16(0); w16(0); w16(0); w16(0)
    tag4("strf"); w32(16L)
    w16(1); w16(1); w32(sampleRate.toLong); w32(2L * sampleRate)
    w16(2); w16(16)
    tag4("LIST"); w32(moviSz); tag4("movi")
    var f = 0
    while (f < nF) {
      val jf = jpegFrames(f)
      tag4("00dc"); w32(jf.length.toLong)
      bos.write(jf, 0, jf.length)
      if ((jf.length & 1) == 1) bos.write(0)
      val from = cuts(f).toInt
      val until = cuts(f + 1).toInt
      if (until > from) {
        tag4("01wb"); w32(2L * (until - from))
        var i = from
        while (i < until) {
          bos.write(samples(i) & 0xFF)
          bos.write((samples(i) >> 8) & 0xFF)
          i += 1
        }
      }
      f += 1
    }
    bos.toByteArray
  }

  // ---- imperative internals (the mapPartitions payload walkers) ------

  /** `strf.biCompression` of Motion JPEG: little-endian "MJPG". */
  private[graft] val MjpgFourcc = 0x47504A4DL

  /** Lowercase "mjpg" — written by some encoders; same codec. */
  private[graft] val MjpgFourccLower = 0x67706A6DL

  /** `audioStream` is the strl ORDER INDEX of the first `auds`
    * stream (movi chunk ids are `NNwb` with NN that index, two ASCII
    * digits), −1 when the container carries no audio; the `aud*`
    * fields are its WAVEFORMATEX verbatim.
    */
  private[graft] final case class ParsedAvi(microsPerFrame: Long,
      totalFrames: Long, width: Int, height: Int, streams: Int,
      bitCount: Int, compression: Long, moviOffset: Long, moviLen: Long,
      audioStream: Int = -1, audFormat: Int = 0, audChannels: Int = 0,
      audRate: Int = 0, audByteRate: Long = 0L, audBlockAlign: Int = 0,
      audBits: Int = 0)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  private def toMeta(id: Long, p: Option[ParsedAvi]): AviMeta = p match {
    case Some(m) => AviMeta(id, m.microsPerFrame, m.totalFrames,
      m.width, m.height, m.streams, m.bitCount, m.compression,
      m.moviOffset, m.moviLen,
      m.totalFrames * m.microsPerFrame / 1000L, parsed = true,
      m.audioStream, m.audFormat, m.audChannels, m.audRate, m.audBits)
    case None => AviMeta(id, 0L, 0L, 0, 0, 0, -1, -1L, 0L, 0L, 0L,
      parsed = false)
  }

  /** RIFF/AVI chunk walk. `trueLen < 0` means `bytes` IS the full
    * payload; otherwise `bytes` is a prefix of a `trueLen`-byte
    * payload and any structure beyond the prefix fails the parse
    * honestly (except `movi` CONTENT, whose extent is clamped against
    * `trueLen` — the header-scan path needs the movi location, not
    * its bytes). Long cursor throughout: a ~2³² declared chunk size
    * ends the walk instead of wrapping.
    */
  private[graft] def parseAvi(bytes: Array[Byte],
      trueLen: Long = -1L): Option[ParsedAvi] = {
    if (bytes == null || bytes.length < 12) return None
    if (tag(bytes, 0) != "RIFF" || tag(bytes, 8) != "AVI ") return None
    val payloadLen = if (trueLen < 0) bytes.length.toLong else trueLen
    val riffEnd = math.min(8L + le32(bytes, 4), payloadLen)
    var avih: Option[(Long, Long, Int, Int, Int)] = None
    var strf: Option[(Int, Long)] = None
    var movi: Option[(Long, Long)] = None
    var strlIdx = 0
    var audStream = -1
    var audFmt = 0
    var audCh = 0
    var audRate = 0
    var audByteRate = 0L
    var audAlign = 0
    var audBits = 0
    var pos = 12L
    // walk top-level chunks; descend only into hdrl (and its strl)
    while (pos + 8 <= riffEnd && (movi.isEmpty || avih.isEmpty)) {
      if (pos + 8 > bytes.length) return None // header beyond prefix
      val ct = tag(bytes, pos.toInt)
      val csz = le32(bytes, pos.toInt + 4)
      val dataStart = pos + 8
      if (ct == "LIST") {
        if (dataStart + 4 > bytes.length) return None
        val lt = tag(bytes, dataStart.toInt)
        if (lt == "hdrl") {
          // child walk (one level of strl nesting)
          var cp = dataStart + 4
          val hdrlEnd = math.min(dataStart + csz, riffEnd)
          while (cp + 8 <= hdrlEnd) {
            if (cp + 8 > bytes.length) return None
            val t2 = tag(bytes, cp.toInt)
            val s2 = le32(bytes, cp.toInt + 4)
            if (t2 == "avih" && s2 >= 40) {
              if (cp + 8 + 40 > bytes.length) return None
              val o = cp.toInt + 8
              avih = Some((le32(bytes, o), le32(bytes, o + 16),
                le32(bytes, o + 24).toInt, le32(bytes, o + 32).toInt,
                le32(bytes, o + 36).toInt))
            } else if (t2 == "LIST") {
              if (cp + 12 > bytes.length) return None
              if (tag(bytes, cp.toInt + 8) == "strl") {
                var sp = cp + 12
                val strlEnd = math.min(cp + 8 + s2, hdrlEnd)
                // strf layout depends on the strh's fccType: a vids
                // strf is a BITMAPINFOHEADER (bit_count/compression —
                // the decode-eligibility signal), an auds strf is a
                // WAVEFORMATEX (the soundtrack-bridge signal). Reading
                // one as the other would misreport codec metadata, so
                // the fccType gates which fields are captured; strl
                // ORDER INDEX is the stream number movi chunk ids
                // carry (`00db`/`01wb`).
                var fcc = ""
                while (sp + 8 <= strlEnd) {
                  if (sp + 8 > bytes.length) return None
                  val t3 = tag(bytes, sp.toInt)
                  val s3 = le32(bytes, sp.toInt + 4)
                  if (t3 == "strh" && s3 >= 4) {
                    if (sp + 8 + 4 > bytes.length) return None
                    fcc = tag(bytes, sp.toInt + 8)
                  } else if (t3 == "strf" && s3 >= 20 &&
                    fcc == "vids" && strf.isEmpty) {
                    if (sp + 8 + 20 > bytes.length) return None
                    val o = sp.toInt + 8
                    strf = Some((le16(bytes, o + 14), le32(bytes, o + 16)))
                  } else if (t3 == "strf" && s3 >= 16 &&
                    fcc == "auds" && audStream < 0) {
                    if (sp + 8 + 16 > bytes.length) return None
                    val o = sp.toInt + 8
                    audStream = strlIdx
                    audFmt = le16(bytes, o)
                    audCh = le16(bytes, o + 2)
                    audRate = le32(bytes, o + 4).toInt
                    audByteRate = le32(bytes, o + 8)
                    audAlign = le16(bytes, o + 12)
                    audBits = le16(bytes, o + 14)
                  }
                  sp += 8 + s3 + (s3 & 1)
                }
                strlIdx += 1
              }
            }
            cp += 8 + s2 + (s2 & 1)
          }
        } else if (lt == "movi") {
          movi = Some((pos, math.min(csz, payloadLen - dataStart)))
        }
      }
      pos = dataStart + csz + (csz & 1)
    }
    avih.flatMap { case (usPerFrame, frames, streams, w, h) =>
      if (w <= 0 || h <= 0 || w > 32768 || h > 32768 || frames < 0)
        None
      else Some(ParsedAvi(usPerFrame, frames, w, h, streams,
        strf.map(_._1).getOrElse(-1), strf.map(_._2).getOrElse(-1L),
        movi.map(_._1).getOrElse(0L), movi.map(_._2).getOrElse(0L),
        audStream, audFmt, audCh, audRate, audByteRate, audAlign,
        audBits))
    }
  }

  /** Codec of a parsed container this library can decode: BI_RGB
    * 24-bit DIB frames (exact byte walk) or MJPEG (`00dc` chunks =
    * one standalone JPEG per frame, decoded via the JVM's own JPEG
    * codec — the dominant compressed format in archival AVI corpora).
    * Anything else (Cinepak, DV, H.26x, …) returns None and the
    * payload is honestly `decoded = false` — fabricating pixel
    * statistics from an undecoded codec is the failure mode the
    * image path's md5-pseudo-grid contract exists to avoid.
    */
  private sealed trait Codec
  private case object RawBgr24 extends Codec
  private case object Mjpeg extends Codec

  private def codecOf(meta: ParsedAvi): Option[Codec] =
    if (meta.compression == 0L && meta.bitCount == 24) Some(RawBgr24)
    else if (meta.compression == MjpgFourcc ||
      meta.compression == MjpgFourccLower) Some(Mjpeg)
    else None

  /** Per-task-thread JPEG ImageReader, reused across frames:
    * `ImageIO.read` pays reader lookup + creation + dispose PER CALL —
    * measured 3.9× slower than a reused reader on MJPEG-sized frames
    * (the decode loop runs ≤ 65 times per payload over millions of
    * payloads). Same plugin, same decoded raster — parity with a
    * direct `ImageIO.read` is pinned by the MJPEG round-trip specs.
    */
  private val jpegReaderTl: ThreadLocal[javax.imageio.ImageReader] =
    new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader =
        javax.imageio.ImageIO.getImageReadersByFormatName("jpeg").next()
    }

  /** Decode one `00dc` MJPEG frame slice to a BufferedImage; None on
    * malformed JPEG bytes or a frame whose decoded dimensions differ
    * from the container's declared ones (a lying header must fail the
    * payload, not silently skew per-frame statistics).
    */
  private def jpegFrame(bytes: Array[Byte], off: Int, len: Int,
      w: Int, h: Int): Option[java.awt.image.BufferedImage] =
    try {
      val reader = jpegReaderTl.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes, off, len))
      try {
        reader.setInput(iis)
        Option(reader.read(0))
          .filter(bi => bi.getWidth == w && bi.getHeight == h)
      } finally iis.close()
    } catch {
      case _: Exception =>
        // a malformed frame can leave plugin state behind — drop this
        // thread's reader so the next frame starts clean
        jpegReaderTl.remove()
        None
    }

  /** Σ(r+g+b) over every pixel — the MJPEG twin of the raw-path BGR
    * byte sum (identical definition: three channel bytes per pixel,
    * stride padding excluded by construction here).
    */
  private def lumaSumOf(bi: java.awt.image.BufferedImage): Long = {
    var s = 0L
    var y = 0
    while (y < bi.getHeight) {
      var x = 0
      while (x < bi.getWidth) {
        val rgb = bi.getRGB(x, y)
        s += ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        x += 1
      }
      y += 1
    }
    s
  }

  /** Two-pass sampled-frame luma decode (see [[decodeSampledLuma]]).
    * Frame chunks are `00db`/`00dc` (stream 0). A sampled frame
    * decodes when it matches the container's codec: BI_RGB 24-bit →
    * `00db` of exactly `stride·height` bytes (raw byte walk); MJPEG →
    * `00dc` carrying one standalone JPEG of the declared dimensions
    * (ImageIO decode, Σ(r+g+b) — the same per-pixel sum). Anything
    * else fails the payload honestly. Unsampled frame CONTENT is
    * skipped by declared size on both paths — an MJPEG sampled decode
    * touches only ≤ `nSamples` JPEGs regardless of duration.
    */
  private def decodeLuma(id: Long, bytes: Array[Byte], nSamples: Int,
      maxFrameBytes: Int): Option[VideoLuma] = {
    val meta = parseAvi(bytes).getOrElse(return None)
    val codec = codecOf(meta).getOrElse(return None)
    val stride = ((3L * meta.width + 3L) / 4L) * 4L
    val frameBytes = stride * meta.height
    // decoded-raster bound on both codecs (see sampledFrameBmps)
    if (frameBytes <= 0 || frameBytes > maxFrameBytes) return None
    val moviDataStart = meta.moviOffset + 12
    val moviEnd = math.min(meta.moviOffset + 8 + meta.moviLen,
      bytes.length.toLong)
    def isFrameTag(t: String): Boolean = t == "00db" || t == "00dc"
    // pass 1: count frames
    var n = 0L
    var pos = moviDataStart
    while (pos + 8 <= moviEnd) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (isFrameTag(t)) n += 1
      pos = pos + 8 + sz + (sz & 1)
    }
    if (n == 0) return None
    val idx = sampleIndices(n, nSamples)
    // pass 2: luma-sum only the sampled frame indices
    val sums = new Array[Long](nSamples)
    var next = 0 // next position in idx to satisfy (idx is sorted)
    var fi = 0L
    pos = moviDataStart
    while (pos + 8 <= moviEnd && next < nSamples) {
      val t = tag(bytes, pos.toInt)
      val sz = le32(bytes, pos.toInt + 4)
      if (isFrameTag(t)) {
        if (next < nSamples && idx(next) == fi) {
          val s = codec match {
            case RawBgr24 =>
              if (t != "00db" || sz != frameBytes ||
                pos + 8 + frameBytes > moviEnd) return None
              var acc = 0L
              var row = 0
              while (row < meta.height) { // pad bytes excluded
                val rowStart = (pos + 8 + row * stride).toInt
                var p = rowStart
                val rowEnd = rowStart + 3 * meta.width
                while (p < rowEnd) { acc += (bytes(p) & 0xFF); p += 1 }
                row += 1
              }
              acc
            case Mjpeg =>
              if (t != "00dc" || sz > maxFrameBytes ||
                pos + 8 + sz > moviEnd) return None
              lumaSumOf(jpegFrame(bytes, (pos + 8).toInt, sz.toInt,
                meta.width, meta.height).getOrElse(return None))
          }
          while (next < nSamples && idx(next) == fi) {
            sums(next) = s; next += 1
          }
        }
        fi += 1
      }
      pos = pos + 8 + sz + (sz & 1)
    }
    if (next < nSamples) return None // declared structure ran short
    Some(VideoLuma(id, meta.width, meta.height, n,
      n * meta.microsPerFrame / 1000L, idx.toSeq, sums.toSeq,
      decoded = true))
  }
}
