package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.expressions.BarrierExprs.evalOnce
import graft.operators.LittleEndian.{le16, le32, le64}

/** Audio payloads as opaque `binary` columns: RIFF/WAV header parse,
  * 16-bit PCM decode (mono mixdown), windowed integer energy/stats, and
  * a 64-bit energy-gradient fingerprint that feeds the SAME audited
  * Hamming-banded machinery as the image path
  * ([[Dedup.hamming64NearDupPairs]] / [[Dedup.hamming64CrossMatches]])
  * — no all-pairs comparison anywhere.
  *
  * Reference scope: the reference service carries uploaded files as
  * opaque blobs and only ever sniffs them (`file-upload.ts` streams
  * without decoding); everything here is the training-data-pipeline
  * extension the brief asks for, built to the same contract as
  * [[Multimodal]]: decode is the ONLY per-payload imperative step
  * (`mapPartitions`, one payload in memory at a time), and every
  * derived statistic downstream of decode is exact integer arithmetic
  * in codegen'd built-in expressions, bit-replicable in SQL
  * (q_audio_stats, q_audio_near_dup).
  *
  * Design for 100 TB: header parse reads only the chunk table (no
  * sample data), so metadata filtering scans cheaply; decode caps
  * frames read (`maxFrames`) so a single pathological payload cannot
  * blow an executor; fingerprints are 8 bytes per clip and near-dup
  * candidates come from the 16-bit block pigeonhole — the identical
  * shape that carried image dedup through the 1M ScaleSmoke.
  */
object Audio {

  /** Header-only parse result. `durationMs` is exact floor millis
    * (nFrames·1000 / sampleRate); `parsed = false` rows (non-RIFF,
    * truncated, missing fmt/data chunks, zero rate/channels) carry
    * zeros — the honest fallback, mirroring [[Multimodal.decodeImage]].
    */
  case class WavMeta(id: Long, format: Int, sampleRate: Int,
      channels: Int, bitsPerSample: Int, nFrames: Long, durationMs: Long,
      dataOffset: Long, dataLen: Long, parsed: Boolean)

  /** Walk the RIFF chunk table of a WAV payload: fmt chunk → format /
    * rate / channels / bits, data chunk → offset / length. A real
    * chunk walk (LIST, fact, cue chunks are skipped by size, word
    * alignment honored), not a fixed-44-byte-header assumption — the
    * imperative-per-payload step the `mapPartitions` contract exists
    * for. `data` sizes are clamped to the bytes actually present
    * (streamed/truncated files commonly overstate the data size).
    */
  def parseWavHeader(df: DataFrame, idCol: String,
      binCol: String): Dataset[WavMeta] = {
    implicit val enc = Encoders.product[WavMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          toMeta(id, parseWav(bytes))
        }
    }
  }

  private def toMeta(id: Long, p: Option[Parsed]): WavMeta = p match {
    case Some(m) =>
      WavMeta(id, m.format, m.sampleRate, m.channels,
        m.bitsPerSample, m.nFrames, m.durationMs, m.dataOffset,
        m.dataLen, parsed = true)
    case None =>
      WavMeta(id, 0, 0, 0, 0, 0L, 0L, 0L, 0L, parsed = false)
  }

  /** Metadata-only scan over PREFIX bytes — the 100 TB filter path:
    * the RIFF chunk table sits at the front of the payload, so a scan
    * that persists `substring(bin, 1, prefixBytes)` (plus the true
    * byte length) as its own narrow column at ingest lets every
    * sample-rate / duration / format filter run WITHOUT the parquet
    * reader ever materializing the multi-MB sample blob. `prefixCol`
    * holds the prefix bytes, `totalLenCol` the FULL payload length —
    * the walk clamps the data-chunk length against the true length
    * (not the prefix), so `nFrames`/`durationMs` equal the full-parse
    * values whenever the chunk table fits inside the prefix. A data
    * chunk whose HEADER lies beyond the prefix comes back
    * `parsed = false` — honest, never a fabricated frame count.
    * [[wavHeaderScan]] is the convenience form that carves the prefix
    * in-plan (same task, no storage win — the persisted-prefix-column
    * layout is where the IO saving comes from).
    */
  def parseWavHeaderPrefix(df: DataFrame, idCol: String,
      prefixCol: String, totalLenCol: String): Dataset[WavMeta] = {
    implicit val enc = Encoders.product[WavMeta]
    df.select(col(idCol).cast("long"), col(prefixCol),
      col(totalLenCol).cast("long")).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          toMeta(id, parseWav(bytes, r.getLong(2)))
        }
    }
  }

  /** [[parseWavHeaderPrefix]] with the prefix carved from the payload
    * column in-plan (`substring` + `length`) — bounds the bytes the
    * chunk walk holds and touches, though the scan still reads the
    * full blob; persist the prefix as its own column at ingest to get
    * the page-skip IO win the prefix form exists for.
    */
  def wavHeaderScan(df: DataFrame, idCol: String, binCol: String,
      prefixBytes: Int = 64 * 1024): Dataset[WavMeta] = {
    require(prefixBytes >= 12, "prefixBytes must cover the RIFF header")
    parseWavHeaderPrefix(
      df.select(col(idCol), substring(col(binCol), 1, prefixBytes)
          .as("__wav_prefix"),
        length(col(binCol)).cast("long").as("__wav_len")),
      idCol, "__wav_prefix", "__wav_len")
  }

  /** Decoded clip: `samples` is mono 16-bit PCM as ints in
    * [-32768, 32767] (multi-channel frames mixed down by
    * floor-division mean — exact integer, channel-order free),
    * truncated to `maxFrames`. Payloads that are not 16-bit integer
    * PCM WAV come back `decoded = false` with empty samples — audio
    * fingerprinting over arbitrary bits would pair only by accident
    * (the [[Multimodal.imageNearDupPairs]] rationale), so undecodable
    * payloads must route through exact-byte dedup instead.
    */
  case class DecodedAudio(id: Long, sampleRate: Int, channels: Int,
      nFrames: Long, samples: Array[Int], decoded: Boolean)

  /** Decode WAV payloads to mono sample arrays: integer PCM at
    * 16/24/32 bits (format 1 — or the same codec wrapped in
    * WAVE_FORMAT_EXTENSIBLE, whose SubFormat tag the parser unwraps —
    * any channel count, floor-mean mixdown, wider samples scaled to
    * the 16-bit range by arithmetic shift of the high bits), IEEE
    * float32 PCM (format 3 — ×2¹⁵ exact power-of-two scaling,
    * half-even rounding, clamped; NaN → 0), IMA ADPCM
    * (format 0x11, 4-bit, mono or interleaved multi-channel — the
    * most common compressed WAV in the wild; a pure integer
    * predictor/step-table codec, decoded exactly, see
    * [[decodeImaBlock]]), or G.711 companded telephony audio
    * (format 6 A-law / 7 µ-law, 8-bit — closed-form per-byte
    * expansion, [[ulawToLinear]]/[[alawToLinear]]). Anything else is
    * honestly `decoded = false`. `maxFrames` bounds memory per
    * payload (1 M
    * frames ≈ 4 MB of ints ≈ 23 s at 44.1 kHz — far more than any
    * fingerprint needs); the cap is a truncation, not a failure, and
    * `nFrames` reports the clip's FULL frame count so downstream can
    * see the truncation.
    */
  def decodePcm16(df: DataFrame, idCol: String, binCol: String,
      maxFrames: Int = 1 << 20): Dataset[DecodedAudio] =
    decodeMono(df, idCol, binCol, maxFrames, canonicalRate = 0)

  /** [[decodePcm16]] with an exact integer linear resample
    * ([[resampleLinear]]) to `canonicalRate` Hz after the mixdown —
    * the rate-robust decode: the same content carried at 8 kHz and
    * 16 kHz comes back as the same sample array (decimation picks
    * exact source samples when the rates divide; other ratios
    * interpolate deterministically). The resample runs inside the
    * same per-payload JVM loop as the decode — no interpreted
    * array-HOF in the hot path. `sampleRate` reports the canonical
    * rate, `nFrames` the RESAMPLED length (the signal the row
    * carries); the decode cap applies to SOURCE frames, before
    * resampling.
    */
  def decodeMonoAtRate(df: DataFrame, idCol: String, binCol: String,
      canonicalRate: Int, maxFrames: Int = 1 << 20): Dataset[DecodedAudio] = {
    require(canonicalRate > 0, "canonicalRate must be positive")
    decodeMono(df, idCol, binCol, maxFrames, canonicalRate)
  }

  private def decodeMono(df: DataFrame, idCol: String, binCol: String,
      maxFrames: Int, canonicalRate: Int): Dataset[DecodedAudio] = {
    require(maxFrames > 0, "maxFrames must be positive")
    implicit val enc = Encoders.product[DecodedAudio]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          decodeSamples(r.getAs[Array[Byte]](1), maxFrames) match {
            case Some((m, out)) if canonicalRate > 0 =>
              resampleChecked(out, m.sampleRate, canonicalRate,
                maxFrames) match {
                case Some(rs) => DecodedAudio(id, canonicalRate,
                  m.channels, rs.length.toLong, rs, decoded = true)
                case None => DecodedAudio(id, 0, 0, 0L,
                  Array.emptyIntArray, decoded = false)
              }
            case Some((m, out)) =>
              DecodedAudio(id, m.sampleRate, m.channels, m.nFrames, out,
                decoded = true)
            case None =>
              DecodedAudio(id, 0, 0, 0L, Array.emptyIntArray,
                decoded = false)
          }
        }
    }
  }

  /** Output row of the segmentation stage: `wav` is mono segment
    * `segIdx` of clip `id` (frames `[segIdx·hop, segIdx·hop +
    * segmentFrames)` after mixdown) re-encoded as a REAL standalone
    * 16-bit PCM WAV at the source sample rate — consumable by every
    * audio operator with no segment-specific code downstream.
    * Undecodable payloads emit ONE marker row (`decoded = false`,
    * empty wav, segIdx -1).
    */
  case class AudioSegment(id: Long, segIdx: Long, startFrame: Long,
      wav: Array[Byte], decoded: Boolean)

  /** Slice each decodable clip into fixed-width mono segments, each
    * emitted as its own row wrapped as a standalone WAV — the audio
    * twin of [[Video.sampleFrameImages]]: segments ride the ENTIRE
    * audio family (stats expressions, fingerprints, the persisted
    * signature index) downstream, so find-clips-containing-a-known-
    * segment (jingle/intro detection — something the duration-
    * normalized whole-clip fingerprint deliberately does NOT pair) is
    * plain composition: [[segmentClips]] → index admission against
    * the known segments. Segment s starts at mono frame `s·hopFrames`
    * and spans exactly `segmentFrames`; a trailing remainder shorter
    * than `segmentFrames` is NOT emitted (a fixed-width fingerprint
    * over a zero-padded tail would pair unrelated clips by silence).
    * `hopFrames < segmentFrames` yields overlapping shingles — the
    * alignment-robust layout; the hop is the detection granularity,
    * and also the output-size knob: a payload emits
    * ~`decodedFrames / hop` rows of `2·segmentFrames` bytes each
    * (hop = 1 re-emits the clip `segmentFrames` times over), so size
    * the hop to the coarsest alignment the hunt tolerates.
    * The wrap re-encodes the mono mixdown (not the raw channel bytes):
    * 44-byte canonical header + LE16 samples, bit-identical to what
    * [[decodePcm16]] would return for the slice (spec-pinned round
    * trip). Decode is capped at `maxFrames`; frames beyond the cap
    * yield no segments, never fabricated ones.
    */
  def segmentClips(df: DataFrame, idCol: String, binCol: String,
      segmentFrames: Int, hopFrames: Int = 0,
      maxFrames: Int = 1 << 20): Dataset[AudioSegment] = {
    require(segmentFrames > 0, "segmentFrames must be positive")
    require(hopFrames >= 0, "hopFrames must be >= 0 (0 = segmentFrames)")
    val hop = if (hopFrames == 0) segmentFrames else hopFrames
    implicit val enc = Encoders.product[AudioSegment]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          decodeSamples(r.getAs[Array[Byte]](1), maxFrames) match {
            case Some((m, samples)) =>
              Iterator.from(0)
                .map(s => (s.toLong, s.toLong * hop))
                .takeWhile { case (_, start) =>
                  start + segmentFrames <= samples.length }
                .map { case (s, start) =>
                  AudioSegment(id, s, start,
                    wrapWav(samples, start.toInt, segmentFrames,
                      m.sampleRate), decoded = true)
                }.toSeq
            case None => Seq(AudioSegment(id, -1L, -1L,
              Array.emptyByteArray, decoded = false))
          }
        }
    }
  }

  /** Canonical mono 16-bit PCM WAV: 44-byte header + LE16 samples —
    * the exact layout [[parseWav]] round-trips. `private[graft]` so
    * oracle fixtures build payloads with the SAME writer the segment
    * path uses.
    */
  private[graft] def wrapWav(samples: Array[Int], from: Int, n: Int,
      rate: Int): Array[Byte] = {
    val out = new Array[Byte](44 + 2 * n)
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
    tag4(0, "RIFF"); w32(4, 36L + 2L * n); tag4(8, "WAVE")
    tag4(12, "fmt "); w32(16, 16L)
    w16(20, 1); w16(22, 1) // PCM, mono
    w32(24, rate.toLong); w32(28, 2L * rate) // rate, byte rate
    w16(32, 2); w16(34, 16) // block align, bits
    tag4(36, "data"); w32(40, 2L * n)
    var i = 0
    while (i < n) {
      val s = samples(from + i)
      out(44 + 2 * i) = (s & 0xFF).toByte
      out(45 + 2 * i) = ((s >> 8) & 0xFF).toByte
      i += 1
    }
    out
  }

  /** Exact integer linear resample of a mono sample array from
    * `fromRate` to `toRate` Hz: output j sits at source position
    * `j·fromRate / toRate` — whole positions copy the source sample,
    * fractional ones interpolate `s0 + ⌊(s1 − s0)·frac / toRate⌋`
    * (floor division, so the arithmetic is {+, ·, floorDiv} and
    * bit-replicable in SQL). Decimation by an integer factor picks
    * exact source samples; upsampling interpolates. Output length
    * `⌊(n−1)·toRate/fromRate⌋ + 1` spans exactly the input's
    * endpoints — no extrapolation, no padding.
    */
  private[graft] def resampleLinear(s: Array[Int], fromRate: Int,
      toRate: Int): Array[Int] = {
    require(fromRate > 0 && toRate > 0, "rates must be positive")
    if (fromRate == toRate || s.length == 0) return s
    val nOutL = ((s.length - 1).toLong * toRate) / fromRate + 1L
    require(nOutL <= Int.MaxValue,
      s"resampled length $nOutL overflows Int — guard with resampleChecked")
    val nOut = nOutL.toInt
    val out = new Array[Int](nOut)
    var j = 0
    while (j < nOut) {
      val pos = j.toLong * fromRate
      val src = (pos / toRate).toInt
      val frac = pos % toRate
      out(j) =
        if (frac == 0L) s(src)
        else s(src) + math.floorDiv(
          (s(src + 1) - s(src)).toLong * frac, toRate).toInt
      j += 1
    }
    out
  }

  /** [[resampleLinear]] behind the malformed-payload guard: a
    * parseable WAV declaring a pathologically low source rate (1 Hz
    * under 16 kHz normalization expands 16 000×) would demand a
    * multi-GB — or Int-overflowed — output array. No honest
    * canonical-rate normalization upsamples more than 16× (4 kHz
    * telephony → 48 kHz studio is 12×), so a resampled length beyond
    * `16 × maxFrames` returns None, which every caller maps to
    * `decoded = false` — the library-wide contract (malformed payload
    * → marker row, never an executor throw).
    */
  private[graft] def resampleChecked(s: Array[Int], fromRate: Int,
      toRate: Int, maxFrames: Int): Option[Array[Int]] = {
    if (fromRate == toRate || s.length == 0) return Some(s)
    val nOutL = ((s.length - 1).toLong * toRate) / fromRate + 1L
    if (nOutL > 16L * maxFrames) None
    else Some(resampleLinear(s, fromRate, toRate))
  }

  /** Synthetic `format` marker for FLAC-decoded payloads — a value
    * no WAVEFORMATEX can carry, so downstream format branches never
    * mistake one for a WAV codec.
    */
  private val FlacFormat = -2

  /** Sentinel for AIFF payloads in [[Parsed]].format (IFF containers
    * have no WAV-style format code).
    */
  private val AiffFormat = -3

  /** The per-payload decode kernel behind [[decodePcm16]] and the
    * streaming signature UDF — identical arithmetic on both paths by
    * construction (parity is spec-pinned). CONTAINER-AUTO since r17
    * (the [[Video.videoSigsAuto]] story applied to audio): `fLaC`
    * payloads decode through the bit-level FLAC walk
    * ([[Flac.decodeFlacSamples]]) into the SAME (meta, mono-16-bit)
    * shape, so the ENTIRE audio family — decode rows, stats,
    * fingerprints, segment windows, persisted indexes, batch AND
    * streaming admission, every needle hunt — consumes FLAC with
    * zero new downstream code, and a WAV and a FLAC of the same
    * samples carry the SAME signature (one dedup space across
    * containers, no per-format corpus splits). Each payload is read
    * by exactly one decode path, decided on its magic bytes.
    */
  private def decodeSamples(bytes: Array[Byte],
      maxFrames: Int): Option[(Parsed, Array[Int])] = {
    if (bytes != null && bytes.length >= 4 && bytes(0) == 'f'.toByte &&
      bytes(1) == 'L'.toByte && bytes(2) == 'a'.toByte &&
      bytes(3) == 'C'.toByte)
      return Flac.decodeFlacSamples(bytes, maxFrames).map {
        case (rate, ch, mono) =>
          (Parsed(FlacFormat, rate, ch, 16, mono.length.toLong,
            mono.length * 1000L / rate, 0L, 0L), mono)
      }
    if (bytes != null && bytes.length >= 12 && bytes(0) == 'F'.toByte &&
      bytes(1) == 'O'.toByte && bytes(2) == 'R'.toByte &&
      bytes(3) == 'M'.toByte && bytes(8) == 'A'.toByte &&
      bytes(9) == 'I'.toByte && bytes(10) == 'F'.toByte &&
      bytes(11) == 'F'.toByte)
      return parseAiff(bytes).map { m =>
        // AIFF PCM is BIG-endian and SIGNED at every width (unlike
        // WAV's unsigned 8-bit); the mixdown mirrors the WAV path so
        // the same samples carry the same signature either way
        val bps = m.bitsPerSample / 8
        val frames = math.min(m.nFrames, maxFrames.toLong).toInt
        val out = new Array[Int](frames)
        val frameBytes = bps * m.channels
        var f = 0
        while (f < frames) {
          val base = m.dataOffset.toInt + f * frameBytes
          var sum = 0L
          var c = 0
          while (c < m.channels) {
            val o = base + bps * c
            sum += (bps match {
              case 1 => bytes(o).toInt << 8
              case 2 => ((bytes(o) << 8) | (bytes(o + 1) & 0xFF))
              case 3 => ((bytes(o) << 16) | ((bytes(o + 1) & 0xFF) << 8)
                | (bytes(o + 2) & 0xFF)) >> 8
              case _ => ((bytes(o) << 24) |
                ((bytes(o + 1) & 0xFF) << 16) |
                ((bytes(o + 2) & 0xFF) << 8) |
                (bytes(o + 3) & 0xFF)) >> 16
            })
            c += 1
          }
          out(f) = math.floorDiv(sum, m.channels).toInt
          f += 1
        }
        (m, out)
      }
    parseWav(bytes) match {
      case Some(m) if m.format == 1 && (m.bitsPerSample == 8 ||
          m.bitsPerSample == 16 || m.bitsPerSample == 24 ||
          m.bitsPerSample == 32) &&
          m.channels > 0 && m.nFrames > 0 =>
        // integer PCM at 8/16/24/32 bits. 8-bit WAV samples are
        // UNSIGNED with a 128 bias (the published format — the only
        // unsigned width); they scale to the 16-bit range by
        // (b − 128) << 8. Wider samples scale by arithmetic shift of
        // the high bits (the standard mixdown; >> is floorDiv by 2^k,
        // deterministic) so every downstream stat/fingerprint sees
        // one sample scale.
        val bps = m.bitsPerSample / 8
        val frames = math.min(m.nFrames, maxFrames.toLong).toInt
        val out = new Array[Int](frames)
        val frameBytes = bps * m.channels
        var f = 0
        while (f < frames) {
          val base = m.dataOffset.toInt + f * frameBytes
          var sum = 0L
          var c = 0
          while (c < m.channels) {
            val o = base + bps * c
            sum += (bps match {
              case 1 =>
                ((bytes(o) & 0xFF) - 128) << 8
              case 2 =>
                ((bytes(o) & 0xFF) | (bytes(o + 1) << 8)).toShort.toInt
              case 3 =>
                ((bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
                  (bytes(o + 2) << 16)) >> 8
              case _ =>
                ((bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
                  ((bytes(o + 2) & 0xFF) << 16) |
                  (bytes(o + 3) << 24)) >> 16
            })
            c += 1
          }
          out(f) = math.floorDiv(sum, m.channels).toInt
          f += 1
        }
        Some((m, out))
      case Some(m) if m.format == ImaAdpcmFormat &&
          m.bitsPerSample == 4 && m.channels >= 1 && m.nFrames > 0 =>
        Some((m, decodeImaPayload(bytes, m, maxFrames)))
      case Some(m) if m.format == FloatFormat &&
          m.bitsPerSample == 32 && m.channels > 0 && m.nFrames > 0 =>
        // IEEE float32 PCM (format 3, or its extensible SubFormat):
        // samples scale by 2^15 and round half-even to the 16-bit
        // range — the power-of-two product is EXACT in binary
        // floating point, so a fixture built from v/32768 decodes to
        // exactly v, and real-world floats round deterministically.
        // NaN maps to 0 (the only honest stand-in), out-of-range
        // clamps.
        val frames = math.min(m.nFrames, maxFrames.toLong).toInt
        val out = new Array[Int](frames)
        val frameBytes = 4 * m.channels
        var f = 0
        while (f < frames) {
          val base = m.dataOffset.toInt + f * frameBytes
          var sum = 0L
          var c = 0
          while (c < m.channels) {
            val o = base + 4 * c
            val bits = (bytes(o) & 0xFF) | ((bytes(o + 1) & 0xFF) << 8) |
              ((bytes(o + 2) & 0xFF) << 16) | (bytes(o + 3) << 24)
            val v = java.lang.Float.intBitsToFloat(bits)
            sum +=
              (if (java.lang.Float.isNaN(v)) 0L
              else math.max(-32768L, math.min(32767L,
                math.rint(v.toDouble * 32768.0).toLong)))
            c += 1
          }
          out(f) = math.floorDiv(sum, m.channels).toInt
          f += 1
        }
        Some((m, out))
      case Some(m) if (m.format == AlawFormat ||
          m.format == MulawFormat) && m.bitsPerSample == 8 &&
          m.channels > 0 && m.nFrames > 0 =>
        val toLinear: Int => Int =
          if (m.format == MulawFormat) ulawToLinear else alawToLinear
        val frames = math.min(m.nFrames, maxFrames.toLong).toInt
        val out = new Array[Int](frames)
        var f = 0
        while (f < frames) {
          val base = m.dataOffset.toInt + f * m.channels
          var sum = 0L
          var c = 0
          while (c < m.channels) {
            sum += toLinear(bytes(base + c) & 0xFF)
            c += 1
          }
          out(f) = math.floorDiv(sum, m.channels).toInt
          f += 1
        }
        Some((m, out))
      case _ => None
    }
  }

  // ---- G.711 companded telephony audio (formats 6 = A-law, 7 = µ-law)

  /** WAVE format tag of IEEE float PCM. */
  private[graft] val FloatFormat = 3

  /** WAVE format tag of G.711 A-law. */
  private[graft] val AlawFormat = 6
  /** WAVE format tag of G.711 µ-law. */
  private[graft] val MulawFormat = 7

  /** G.711 µ-law byte → linear 16-bit sample — the published CCITT
    * expansion: complement, 3-bit segment shift of the biased
    * 4-bit mantissa, bias removal. Pure closed-form integer math per
    * byte (the oracle replays it in SQL).
    */
  private[graft] def ulawToLinear(b: Int): Int = {
    val u = ~b & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law byte → linear 16-bit sample (CCITT expansion: XOR
    * 0x55, segment-shifted mantissa; sign bit SET means positive).
    */
  private[graft] def alawToLinear(b: Int): Int = {
    val a = b ^ 0x55
    var t = (a & 0x0F) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else { t += 0x108; if (seg > 1) t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  // ---- IMA ADPCM (format 0x11) — pure integer-table codec ------------

  /** WAVE format tag of IMA/DVI ADPCM. */
  private[graft] val ImaAdpcmFormat = 0x11

  /** The IMA step-size table (89 entries) — the public reference
    * values from the IMA ADPCM specification (identical in every
    * conforming decoder).
    */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** The IMA index-adjustment table (16 entries, one per 4-bit code). */
  private[graft] val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8)

  /** FRAMES recoverable from `avail` bytes of one IMA block whose
    * full size is `blockAlign`: the per-channel 4-byte headers carry
    * the block's first frame verbatim; mono data is a plain nibble
    * stream (two samples per byte), multi-channel data round-robins
    * 4-byte groups so a frame exists only when EVERY channel has its
    * sample — the last channel's complete rounds bound the count.
    * Capped at `spb`. Truncated trailing blocks decode what is
    * present — never fabricated samples.
    */
  private def imaBlockSamples(avail: Long, spb: Int, ch: Int): Long =
    if (avail < 4L * ch) 0L
    else if (ch == 1) math.min(spb.toLong, 1L + (avail - 4L) * 2L)
    else math.min(spb.toLong,
      1L + 8L * ((avail - 4L * ch) / (4L * ch)))

  /** Exact IMA ADPCM mono-mixdown frame count of a data chunk. */
  private def imaSampleCount(dataLen: Long, blockAlign: Int,
      spb: Int, ch: Int): Long = {
    val full = dataLen / blockAlign
    full * spb + imaBlockSamples(dataLen % blockAlign, spb, ch)
  }

  /** Decode one mono IMA block in place: emits into `out` starting at
    * `at`, returns the new fill position. The exact published
    * algorithm: 3-bit magnitude reconstruction
    * `diff = (step>>3) + (code&1)(step>>2) + (code&2?step>>1) +
    * (code&4?step)`, sign bit 8, predictor clamped to int16, step
    * index walked by [[ImaIndexTable]] and clamped to [0, 88]. A
    * header step index above 88 is clamped, as reference decoders do.
    */
  private def decodeImaBlock(bytes: Array[Byte], off: Int,
      blockLen: Int, spb: Int, out: Array[Int], at: Int,
      maxFill: Int): Int = {
    if (blockLen < 4 || at >= maxFill) return at
    var pos = at
    var pred = ((bytes(off) & 0xFF) | (bytes(off + 1) << 8)).toShort.toInt
    var idx = math.min(88, bytes(off + 2) & 0xFF)
    out(pos) = pred
    pos += 1
    var emitted = 1
    var b = off + 4
    val end = off + blockLen
    while (b < end && emitted < spb && pos < maxFill) {
      val byte = bytes(b) & 0xFF
      var half = 0
      while (half < 2 && emitted < spb && pos < maxFill) {
        val code = if (half == 0) byte & 0x0F else byte >> 4
        val step = ImaStepTable(idx)
        var diff = step >> 3
        if ((code & 1) != 0) diff += step >> 2
        if ((code & 2) != 0) diff += step >> 1
        if ((code & 4) != 0) diff += step
        pred = math.max(-32768,
          math.min(32767, if ((code & 8) != 0) pred - diff
          else pred + diff))
        idx = math.max(0, math.min(88, idx + ImaIndexTable(code)))
        out(pos) = pred
        pos += 1
        emitted += 1
        half += 1
      }
      b += 1
    }
    pos
  }

  /** Decode one multi-channel IMA block to mono frames: one 4-byte
    * header per channel, then round-robin 4-byte data groups (8
    * nibbles each, low nibble first); every channel keeps its own
    * (pred, idx) state, and frame f mixes down by floor-division mean
    * — the same convention as the PCM16 path. Emits only frames every
    * channel reached (the last channel's complete rounds bound a
    * truncated block).
    */
  private def decodeImaBlockMulti(bytes: Array[Byte], off: Int,
      blockLen: Int, spb: Int, ch: Int, out: Array[Int], at: Int,
      maxFill: Int): Int = {
    if (blockLen < 4 * ch || at >= maxFill) return at
    val streams = Array.fill(ch)(new Array[Int](spb))
    val fill = new Array[Int](ch)
    val preds = new Array[Int](ch)
    val idxs = new Array[Int](ch)
    var c = 0
    while (c < ch) {
      val ho = off + 4 * c
      preds(c) = ((bytes(ho) & 0xFF) | (bytes(ho + 1) << 8)).toShort
        .toInt
      idxs(c) = math.min(88, bytes(ho + 2) & 0xFF)
      streams(c)(0) = preds(c)
      fill(c) = 1
      c += 1
    }
    var b = off + 4 * ch
    val end = off + blockLen
    var g = 0L // data group counter (4 bytes each, round-robin)
    while (b + 4 <= end) {
      val cc = (g % ch).toInt
      var bi = 0
      while (bi < 4) {
        val byte = bytes(b + bi) & 0xFF
        var half = 0
        while (half < 2) {
          if (fill(cc) < spb) {
            val code = if (half == 0) byte & 0x0F else byte >> 4
            val step = ImaStepTable(idxs(cc))
            var diff = step >> 3
            if ((code & 1) != 0) diff += step >> 2
            if ((code & 2) != 0) diff += step >> 1
            if ((code & 4) != 0) diff += step
            preds(cc) = math.max(-32768, math.min(32767,
              if ((code & 8) != 0) preds(cc) - diff
              else preds(cc) + diff))
            idxs(cc) = math.max(0,
              math.min(88, idxs(cc) + ImaIndexTable(code)))
            streams(cc)(fill(cc)) = preds(cc)
            fill(cc) += 1
          }
          half += 1
        }
        bi += 1
      }
      b += 4
      g += 1
    }
    val frames = math.min(fill.min, spb)
    var f = 0
    var pos = at
    while (f < frames && pos < maxFill) {
      var sum = 0L
      var c2 = 0
      while (c2 < ch) { sum += streams(c2)(f); c2 += 1 }
      out(pos) = math.floorDiv(sum, ch).toInt
      pos += 1
      f += 1
    }
    pos
  }

  /** Decode a whole IMA ADPCM data chunk to mono frames (all blocks,
    * per-channel predictor and step index re-initialized from each
    * block's own headers).
    */
  private def decodeImaPayload(bytes: Array[Byte], m: Parsed,
      maxFrames: Int): Array[Int] = {
    val total = math.min(m.nFrames, maxFrames.toLong).toInt
    val out = new Array[Int](total)
    var at = 0
    var off = m.dataOffset
    val end = m.dataOffset + m.dataLen
    while (off < end && at < total) {
      val blockLen = math.min(m.blockAlign.toLong, end - off).toInt
      at =
        if (m.channels == 1)
          decodeImaBlock(bytes, off.toInt, blockLen,
            m.samplesPerBlock, out, at, total)
        else decodeImaBlockMulti(bytes, off.toInt, blockLen,
          m.samplesPerBlock, m.channels, out, at, total)
      off += m.blockAlign
    }
    out
  }

  /** Encode mono 16-bit samples as a REAL IMA ADPCM WAV (format 0x11,
    * 4-bit, `blockAlign`-byte blocks, fmt cbSize=2 carrying
    * samples/block, plus the standard `fact` chunk) — the encode twin
    * of the [[decodeImaBlock]] path and the fixture/oracle builder.
    * Each block header stores the block's first sample verbatim and
    * the RUNNING step index (carried across blocks, the common
    * encoder convention); later samples quantize the prediction
    * error through the same tables the decoder walks, so
    * encode→decode is deterministic integer arithmetic end to end.
    */
  def encodeImaAdpcmWav(samples: Array[Int], rate: Int,
      blockAlign: Int = 256): Array[Byte] = {
    require(rate > 0, "rate must be positive")
    require(blockAlign >= 8 && blockAlign % 4 == 0,
      s"blockAlign must be a multiple of 4 and >= 8, got $blockAlign")
    require(samples.nonEmpty, "samples must be non-empty")
    samples.foreach(s => require(s >= -32768 && s <= 32767,
      s"sample $s out of int16 range"))
    val spb = (blockAlign - 4) * 2 + 1
    val nBlocks = (samples.length + spb - 1) / spb
    // trailing block is written FULL (zero-padded codes keep the
    // layout canonical); fact carries the true sample count, and the
    // fmt-declared spb with a short final block would overcount —
    // so the last block's beyond-data nibbles encode silence decay,
    // and nFrames comes from the data length like every decoder does.
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
    val dataLen = nBlocks * blockAlign
    val byteRate = (rate.toLong * blockAlign + spb - 1) / spb
    tag4("RIFF"); w32(4L + (8 + 20) + (8 + 4) + (8 + dataLen))
    tag4("WAVE")
    tag4("fmt "); w32(20L)
    w16(ImaAdpcmFormat); w16(1) // mono
    w32(rate.toLong); w32(byteRate)
    w16(blockAlign); w16(4) // block align, bits per sample
    w16(2); w16(spb) // cbSize, samples per block
    tag4("fact"); w32(4L); w32(samples.length.toLong)
    tag4("data"); w32(dataLen.toLong)
    var idx = 0 // running step index, carried across blocks
    var s = 0
    while (s < samples.length) {
      val blockEnd = s + spb
      var pred = samples(s)
      w16(pred & 0xFFFF)
      bos.write(idx); bos.write(0)
      s += 1
      var written = 0
      var lowNibble = -1
      while (written < spb - 1) {
        val target = if (s < samples.length && s < blockEnd)
          samples(s) else pred // pad: encode toward the last value
        val step = ImaStepTable(idx)
        var diff = target - pred
        var code = 0
        if (diff < 0) { code = 8; diff = -diff }
        if (diff >= step) { code |= 4; diff -= step }
        if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
        if (diff >= (step >> 2)) { code |= 1 }
        // reconstruct exactly as the decoder will
        val st = ImaStepTable(idx)
        var d = st >> 3
        if ((code & 1) != 0) d += st >> 2
        if ((code & 2) != 0) d += st >> 1
        if ((code & 4) != 0) d += st
        pred = math.max(-32768,
          math.min(32767, if ((code & 8) != 0) pred - d else pred + d))
        idx = math.max(0, math.min(88, idx + ImaIndexTable(code)))
        if (lowNibble < 0) lowNibble = code
        else { bos.write(lowNibble | (code << 4)); lowNibble = -1 }
        if (s < blockEnd) s += 1
        written += 1
      }
      if (lowNibble >= 0) bos.write(lowNibble)
      s = blockEnd
    }
    bos.toByteArray
  }

  // ---- exact integer feature expressions (codegen'd, no UDF) ----------

  /** Per-window sum of squared samples over an `array<int>` column:
    * window w (0-based) covers samples [w·window, (w+1)·window); short
    * clips are zero-padded so every clip yields exactly `nWindows`
    * energies (silence has zero energy — the natural pad). Samples are
    * widened to long BEFORE squaring; max |s|² · window = 2³⁰·window
    * stays far inside long for any sane window.
    */
  def windowEnergies(samples: Column, window: Int,
      nWindows: Int): Column = {
    require(window > 0 && nWindows > 0, "window/nWindows must be positive")
    windowEnergiesDyn(samples, lit(window), nWindows)
  }

  /** [[windowEnergies]] with a COLUMN window width — the form behind
    * per-clip auto-sizing ([[autoWindow]]): window w covers samples
    * [w·window, (w+1)·window), zero-padded, Σ s² as long; identical
    * semantics, the width just varies per row.
    */
  def windowEnergiesDyn(samples: Column, window: Column,
      nWindows: Int): Column = {
    require(nWindows > 0, "nWindows must be positive")
    transform(sequence(lit(0), lit(nWindows - 1)), w =>
      aggregate(
        slice(samples, w * window + 1, window),
        lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")))
  }

  /** Per-clip energy-window width spanning the WHOLE clip:
    * ⌈n_samples / nWindows⌉ (min 1) — the audio analogue of the image
    * path box-sampling any image onto a fixed 9×8 grid. With this
    * width the [[audioFingerprint64]] signature covers every sample
    * of the clip, so two clips identical only in a leading prefix do
    * NOT collide (the fixed-width failure mode: a 16-sample window
    * fingerprints just the first 1,040 samples ≈ 24 ms at 44.1 kHz).
    * Exact integer ceil — replicable as `(n + 64) // 65` in SQL.
    */
  def autoWindow(samples: Column, nWindows: Int = 65): Column =
    greatest(lit(1),
      floor((size(samples) + lit(nWindows - 1)) / lit(nWindows.toDouble))
        .cast("int"))

  /** Zero-crossing count over an `array<int>` column: transitions of
    * the (s ≥ 0) sign bit between consecutive samples — the exact
    * integer definition (no epsilon), replicable in SQL.
    */
  def zeroCrossings(samples: Column): Column =
    when(size(samples) < 2, lit(0L)).otherwise(
      aggregate(sequence(lit(1), size(samples) - 1), lit(0L),
        (acc, i) => acc + when(
          (element_at(samples, i) >= 0) =!=
            (element_at(samples, (i + 1).cast("int")) >= 0),
          lit(1L)).otherwise(lit(0L))))

  /** 64-bit energy-gradient fingerprint over an `array<bigint>` of
    * ≥ 65 window energies: bit i is set when energy[i] > energy[i+1] —
    * [[Multimodal.dHash64]]'s gradient fold applied to the time axis.
    * Robust to uniform gain (energy scales monotonically) and to
    * trailing-silence padding; 8 bytes per clip, feeds the 16-bit
    * block pigeonhole unchanged. Same bit-replicable contract
    * (q_audio_near_dup replicates it in SQL HUGEINT arithmetic).
    */
  def audioFingerprint64(energies: Column): Column = {
    // Native kernel (AudioFingerprint64Expr) — the interpreted
    // aggregate(sequence(0,63)) fold ran 64 lambda applications with
    // two boxed element_at walks per row; values are bit-identical
    // (parity pinned in AudioSpec, incl. the null-array → 0 contract).
    graft.expressions.AudioExprs.fingerprint64Native(energies)
  }

  /** Exact per-clip stats over a decoded sample array: frame count,
    * peak |sample|, zero crossings, total energy (Σ s²), and the first
    * `nWindows` window energies as scalar columns `e1..eN`. All
    * integer, computed by the native one-pass kernels
    * ([[graft.expressions.AudioStatsExpr]] /
    * [[graft.expressions.AudioEnergiesExpr]] — spec-pinned
    * bit-identical to the HOF reference folds [[zeroCrossings]] /
    * [[windowEnergies]], which stay as the replication recipe).
    */
  def statsColumns(samples: Column, window: Int,
      nWindows: Int): Seq[Column] = {
    val st = graft.expressions.AudioExprs.statsNative(samples)
    val energies = graft.expressions.AudioExprs.energiesNative(
      samples, lit(window), nWindows)
    Seq(
      size(samples).cast("long").as("n_samples"),
      st.getField("peak_abs").as("peak_abs"),
      st.getField("zero_crossings").as("zero_crossings"),
      st.getField("total_energy").as("total_energy")) ++
      (1 to nWindows).map(w => element_at(energies, w).as(s"e$w"))
  }

  /** Decode → stats: one row per decoded clip with the
    * [[statsColumns]] metrics. Undecodable payloads are dropped (their
    * stats would be fabrications); join back on id to find them.
    */
  def audioStats(df: DataFrame, idCol: String, binCol: String,
      window: Int = 64, nWindows: Int = 4,
      maxFrames: Int = 1 << 20): DataFrame = {
    val dec = decodePcm16(df, idCol, binCol, maxFrames).toDF()
      .filter(col("decoded"))
    dec.select(col("id") +: col("sampleRate").as("sample_rate") +:
      col("channels") +: statsColumns(col("samples"), window, nWindows): _*)
  }

  /** (id, sig) fingerprint rows of the decoded clips — the composition
    * point for the generic 64-bit signature machinery: feed to
    * [[Dedup.hamming64NearDupPairs]] for in-corpus pairs (what
    * [[audioNearDupPairs]] does), or to
    * [[Dedup.hamming64CrossMatches]] for admission against a persisted
    * corpus of audio signatures ([[incrementalAudioNearDedup]]).
    *
    * `window = 0` (the default) auto-sizes the energy window per clip
    * ([[autoWindow]]): the 64-bit signature spans the whole DECODED
    * clip — up to `maxFrames` (default 1 M samples ≈ 24 s mono at
    * 44.1 kHz), past which [[decodePcm16]] truncates — so two clips
    * identical only in a leading prefix do not collide UNLESS both
    * exceed the cap and agree through it; size `maxFrames` to the
    * longest clip for long-form corpora. A positive `window` pins a
    * fixed width:
    * the signature then covers exactly the first `window·65` samples
    * — robust to trailing padding/truncation WITHIN that prefix, but
    * blind to everything after it; use it only when clips are known
    * prefix-aligned and length-varying (and say so at the call site).
    *
    * `canonicalRate > 0` resamples every clip to that rate before
    * windowing ([[resampleLinear]], exact integer math inside the
    * decode loop): the auto window then normalizes by DURATION
    * instead of sample count, so 8 kHz and 16 kHz carriers of the
    * same content fingerprint identically — without it they produce
    * different energy profiles and never pair. The default 0 keeps
    * the rate-naive signature (and matches the persisted-index
    * family, whose sidecars do not record a canonical rate).
    */
  def audioSigs(df: DataFrame, idCol: String, binCol: String,
      window: Int = 0, maxFrames: Int = 1 << 20,
      canonicalRate: Int = 0): DataFrame = {
    require(window >= 0, "window must be >= 0 (0 = auto per clip)")
    require(canonicalRate >= 0,
      "canonicalRate must be >= 0 (0 = no rate normalization)")
    val win =
      if (window == 0) autoWindow(col("samples")) else lit(window)
    decodeMono(df, idCol, binCol, maxFrames, canonicalRate).toDF()
      .filter(col("decoded"))
      .select(col("id"),
        audioFingerprint64(
          // native kernel, not the HOF fold: the interpreted
          // slice-per-window walk is ~25× slower at 1M clips
          // (spec-pinned bit-identical to windowEnergiesDyn)
          graft.expressions.AudioExprs.energiesNative(
            col("samples"), win, 65)).as("sig"))
  }

  /** Perceptual audio near-duplicate pairs: decode → 65-window energy
    * profile (window auto-sized per clip — see [[audioSigs]]) →
    * [[audioFingerprint64]] → Hamming-banded candidates via the
    * 16-bit block pigeonhole → exact bit_count verify. Catches
    * re-gained and re-containered full-length copies that byte-exact
    * hashes miss; under the default auto window the signature covers
    * the whole decoded clip (up to `maxFrames` — size it to the
    * longest clip for long-form corpora, see [[audioSigs]]), so a
    * shared intro alone cannot pair two clips
    * (padding-SHIFTED copies change the window width and are NOT
    * matched — that robustness belongs to the fixed-window mode,
    * within its prefix). Returns (a, b, distance), a < b.
    */
  def audioNearDupPairs(df: DataFrame, idCol: String, binCol: String,
      window: Int = 0, maxDistance: Int = 3, maxBucket: Int = 1000,
      maxFrames: Int = 1 << 20, canonicalRate: Int = 0): DataFrame =
    Dedup.hamming64NearDupPairs(
      audioSigs(df, idCol, binCol, window, maxFrames, canonicalRate),
      "id", "sig", maxDistance, maxBucket)

  // ---- persisted audio signature index (build once, admit many) ------

  private val AudioIndexSidecar = "_graft_audio_index_params.json"

  private def audioIndexParamsJson(window: Int, maxFrames: Int,
      canonicalRate: Int): String =
    Seq("kind" -> "audio_near_dup",
      "window" -> (if (window == 0) "auto" else window.toString),
      "nWindows" -> "65", "maxFrames" -> maxFrames.toString,
      "canonicalRate" -> canonicalRate.toString)
      .map { case (k, v) =>
        s"${graft.JsonStr(k)}:${graft.JsonStr(v)}" }
      .mkString("{", ",", "}")

  private def readAudioIndexParams(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      who: String): String =
    SigIndex.readParams(spark, indexPath, AudioIndexSidecar,
      "writeAudioNearDupIndex", who)

  /** (window, maxFrames, canonicalRate) back out of a sidecar —
    * fail-loud on any shape this writer never produced. The
    * `canonicalRate` key is OPTIONAL and defaults to 0: sidecars
    * persisted before rate normalization existed have no such key,
    * and the writer of that era hashed at the source rate — exactly
    * what canonicalRate = 0 means today, so old indexes keep
    * admitting/appending without a rebuild (a format break here would
    * be silent: every pre-existing on-disk index would refuse reads).
    */
  private def parseAudioIndexParams(json: String,
      who: String): (Int, Int, Int) = {
    val m = java.util.regex.Pattern
      .compile("\"window\":\"(auto|\\d+)\".*\"maxFrames\":\"(\\d+)\"" +
        "(?:.*\"canonicalRate\":\"(\\d+)\")?")
      .matcher(json)
    require(m.find(), s"$who: malformed sidecar: $json")
    (if (m.group(1) == "auto") 0 else m.group(1).toInt,
      m.group(2).toInt,
      Option(m.group(3)).map(_.toInt).getOrElse(0))
  }

  /** Persist the corpus side of perceptual audio dedup as a REUSABLE
    * index: the 64-bit energy-gradient signatures of every decodable
    * clip plus a fail-loud params sidecar recording the window mode,
    * window count, and decode cap (`maxFrames` bounds what the auto
    * window spans — size it to the longest clip for long-form
    * corpora, see [[audioSigs]]). The [[Multimodal.writeImageNearDupIndex]]
    * lifecycle applied to audio — at 100 TB the corpus-side DECODE
    * dominates every snapshot admission, and a signature hashed under
    * different window params would silently never match (exactly the
    * failure the sidecar blocks: admission re-hashes the snapshot
    * under the index's OWN recorded params, and appends refuse
    * mismatched ones). Same crash contract as every artifact here:
    * the sidecar is deleted BEFORE any data is touched, so a crash
    * mid-rewrite leaves a reader-rejected no-sidecar index, never a
    * stale sidecar over mixed-generation parquet; a rebuild drops
    * append batches from the previous generation.
    *
    * `canonicalRate > 0` builds a RATE-NORMALIZED index
    * ([[audioSigs]]): the sidecar records the rate, admissions and
    * appends re-hash under it, and 8 kHz / 16 kHz carriers of one
    * content dedup against each other — an index built at one rate
    * refuses appends declaring another.
    */
  def writeAudioNearDupIndex(corpus: DataFrame, idCol: String,
      binCol: String, path: String, window: Int = 0,
      maxFrames: Int = 1 << 20, canonicalRate: Int = 0): Unit = {
    require(window >= 0, "window must be >= 0 (0 = auto per clip)")
    require(canonicalRate >= 0,
      "canonicalRate must be >= 0 (0 = no rate normalization)")
    graft.operators.TopK.requireIntegral(corpus, idCol,
      "writeAudioNearDupIndex")
    SigIndex.write(corpus.sparkSession, path, AudioIndexSidecar,
      audioIndexParamsJson(window, maxFrames, canonicalRate),
      Seq("sigs" -> audioSigs(corpus, idCol, binCol, window, maxFrames,
        canonicalRate)
        .select(col("id"), col("sig").as("sh"))))
  }

  /** Extend a [[writeAudioNearDupIndex]] artifact with newly-admitted
    * clips — admit → append → the next snapshot dedups against
    * corpus + admissions, without rebuilding. The batch stages under
    * `batches/<id>/` and becomes visible only when the atomic
    * `_graft_committed` marker lands ([[Dedup]]'s transactional
    * append contract); the sidecar's params are validated fail-loud
    * first. Caller contract: ids disjoint from the indexed corpus.
    */
  def appendToAudioNearDupIndex(newClips: DataFrame, idCol: String,
      binCol: String, indexPath: String, window: Int = 0,
      maxFrames: Int = 1 << 20, canonicalRate: Int = 0): Unit = {
    graft.operators.TopK.requireIntegral(newClips, idCol,
      "appendToAudioNearDupIndex")
    val spark = newClips.sparkSession
    // canonicalize the persisted params through the parser before
    // comparing: a pre-rate-normalization sidecar has no canonicalRate
    // key but means rate 0, and must keep accepting appends at 0
    val (pw, pm, pc) = parseAudioIndexParams(
      readAudioIndexParams(spark, indexPath,
        "appendToAudioNearDupIndex"), "appendToAudioNearDupIndex")
    SigIndex.requireParams(audioIndexParamsJson(pw, pm, pc),
      audioIndexParamsJson(window, maxFrames, canonicalRate), indexPath,
      "appendToAudioNearDupIndex")
    SigIndex.appendBatch(spark, indexPath,
      Seq("sigs" -> audioSigs(newClips, idCol, binCol, window, maxFrames,
        canonicalRate)
        .select(col("id"), col("sig").as("sh"))))
  }

  /** Admit a snapshot of clips against a [[writeAudioNearDupIndex]]
    * artifact: drop every snapshot clip whose signature is within
    * `maxDistance` of ANY indexed signature; keep the rest (all input
    * columns). The corpus side is a READ of 8-byte signatures — zero
    * re-decode; the snapshot side decodes once, hashed under the
    * index's OWN recorded params. Candidates come from the cross-side
    * 16-bit block pigeonhole ([[Dedup.hamming64CrossMatches]]), exact
    * bit_count verifies. Undecodable snapshot payloads carry no
    * signature and are ADMITTED — route them through exact-byte
    * dedup, as [[audioNearDupPairs]] documents. Within-snapshot
    * near-dups are out of scope — compose with [[audioNearDupPairs]]
    * + [[Dedup.nearDedup]] on the snapshot first.
    */
  def incrementalAudioNearDedup(snapshot: DataFrame, idCol: String,
      binCol: String, indexPath: String, maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    graft.operators.TopK.requireIntegral(snapshot, idCol,
      "incrementalAudioNearDedup")
    val spark = snapshot.sparkSession
    val (window, maxFrames, canonicalRate) = parseAudioIndexParams(
      readAudioIndexParams(spark, indexPath,
        "incrementalAudioNearDedup"), "incrementalAudioNearDedup")
    val corpusSigs = spark.read.parquet(
      Dedup.indexSidePaths(spark, indexPath, "sigs"): _*)
    val snapSigs = audioSigs(snapshot, idCol, binCol, window, maxFrames,
      canonicalRate)
      .select(col("id"), col("sig").as("sh"))
    val matched = Dedup.hamming64CrossMatches(corpusSigs, snapSigs,
      maxDistance, maxBucket, strictBuckets)
    snapshot.join(matched, snapshot(idCol) === matched("b"),
      "left_anti")
  }

  /** Per-row 65-window energy profile as a scalar UDF — the streaming
    * twin of the decode → [[windowEnergiesDyn]] batch path (a
    * streaming plan can't reshape through the typed mapPartitions
    * without dropping the stream's own columns). Binary audio decode
    * is the justified-UDF case, like [[Multimodal]]'s `lumaGridUdf`;
    * one payload in memory at a time, null for undecodable. The
    * window arithmetic replicates the batch signature path exactly
    * (window w sums squares over [w·window, (w+1)·window),
    * zero-padded — [[graft.expressions.AudioEnergiesExpr]], itself
    * pinned to the [[windowEnergies]] HOF reference) — parity is
    * spec-pinned by the maxDistance=0 streaming admission tests.
    * Callers filter on the energies, so they project them through
    * `evalOnce`: pushdown would otherwise substitute the UDF into the
    * filter and decode every clip twice per row (guide §4.4).
    */
  private def energiesUdf(window: Int, maxFrames: Int,
      canonicalRate: Int = 0) =
    udf { (bytes: Array[Byte]) =>
      decodeSamples(bytes, maxFrames).flatMap { case (m, raw) =>
        (if (canonicalRate > 0)
          resampleChecked(raw, m.sampleRate, canonicalRate, maxFrames)
        else Some(raw)).map { samples =>
        val w =
          if (window > 0) window
          else math.max(1, ((samples.length + 64) / 65))
        Array.tabulate(65) { i =>
          var acc = 0L
          // Long products clamped BEFORE narrowing: a large fixed
          // window recorded in the index (> ~2^25) would overflow
          // i * w into a negative Int index and throw inside the
          // task, where the batch expression path (slice) does not
          var k = math.min(samples.length.toLong, i.toLong * w).toInt
          val end = math.min(samples.length, (i + 1).toLong * w).toInt
          while (k < end) {
            acc += samples(k).toLong * samples(k)
            k += 1
          }
          acc
        }
        }
      }
    }

  /** FLAC STREAMINFO metadata: `fLaC` magic, then metadata blocks
    * (1-byte last-flag + type, 24-bit BE length) — STREAMINFO (type
    * 0, 34 bytes) packs sample rate (20 bits), channels − 1 (3),
    * bits-per-sample − 1 (5), and total samples (36) after the
    * block/frame size bounds. `durationMs` is exact floor millis.
    * DECODE is honestly out of scope (the residual-coded subframes
    * have no closed form here); this is the metadata-filter walk for
    * lossless-audio corpora, reading ≤ 42 header bytes.
    */
  case class FlacMeta(id: Long, sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long, durationMs: Long,
      parsed: Boolean)

  def flacMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[FlacMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseFlacInfo(r.getAs[Array[Byte]](1)) match {
            case Some((sr, ch, bits, n)) => FlacMeta(id, sr, ch, bits,
              n, n * 1000L / sr, parsed = true)
            case None => FlacMeta(id, 0, 0, 0, 0L, 0L, parsed = false)
          }
        }
    }.toDF().select(col("id"),
      col("sampleRate").as("sample_rate"), col("channels"),
      col("bitsPerSample").as("bits_per_sample"),
      col("totalSamples").as("total_samples"),
      col("durationMs").as("duration_ms"), col("parsed"))
  }

  /** (sampleRate, channels, bits, totalSamples) out of the first
    * STREAMINFO block — None on anything malformed.
    */
  private[graft] def parseFlacInfo(
      b: Array[Byte]): Option[(Int, Int, Int, Long)] = {
    if (b == null || b.length < 8 || b(0) != 'f'.toByte ||
      b(1) != 'L'.toByte || b(2) != 'a'.toByte || b(3) != 'C'.toByte)
      return None
    // first metadata block MUST be STREAMINFO per the spec
    val header = b(4) & 0xFF
    if ((header & 0x7F) != 0) return None
    val len = ((b(5) & 0xFF) << 16) | ((b(6) & 0xFF) << 8) | (b(7) & 0xFF)
    if (len != 34 || b.length < 8 + 34) return None
    val o = 8 + 10 // skip block sizes (2×u16) and frame sizes (2×u24)
    val sr = ((b(o) & 0xFF) << 12) | ((b(o + 1) & 0xFF) << 4) |
      ((b(o + 2) & 0xFF) >> 4)
    val ch = (((b(o + 2) & 0xFF) >> 1) & 0x07) + 1
    val bits = ((((b(o + 2) & 0x01) << 4) |
      ((b(o + 3) & 0xFF) >> 4)) & 0x1F) + 1
    val n = ((b(o + 3) & 0x0FL) << 32) | ((b(o + 4) & 0xFFL) << 24) |
      ((b(o + 5) & 0xFFL) << 16) | ((b(o + 6) & 0xFFL) << 8) |
      (b(o + 7) & 0xFFL)
    if (sr <= 0) None else Some((sr, ch, bits, n))
  }

  /** Build a FLAC header (magic + STREAMINFO + opaque filler) — the
    * encode twin of [[parseFlacInfo]] for fixtures; the audio DATA is
    * filler, exactly what this library honestly never decodes.
    */
  def buildFlacHeader(sampleRate: Int, channels: Int,
      bitsPerSample: Int, totalSamples: Long,
      fillBytes: Int = 64, vendor: String = "",
      comments: Seq[(String, String)] = Nil): Array[Byte] = {
    require(sampleRate > 0 && sampleRate < (1 << 20), "sampleRate")
    require(channels >= 1 && channels <= 8, "channels")
    require(bitsPerSample >= 4 && bitsPerSample <= 32, "bits")
    require(totalSamples >= 0 && totalSamples < (1L << 36), "samples")
    val withComments = comments.nonEmpty || vendor.nonEmpty
    val bos = new java.io.ByteArrayOutputStream()
    bos.write("fLaC".getBytes("US-ASCII"))
    // last-block bit clears when a VORBIS_COMMENT block follows
    bos.write(if (withComments) 0x00 else 0x80)
    bos.write(0); bos.write(0); bos.write(34)
    // min/max block size, min/max frame size (structural bounds)
    bos.write(0x10); bos.write(0x00); bos.write(0x10); bos.write(0x00)
    (0 until 6).foreach(_ => bos.write(0))
    bos.write((sampleRate >> 12) & 0xFF)
    bos.write((sampleRate >> 4) & 0xFF)
    bos.write(((sampleRate & 0x0F) << 4) | (((channels - 1) & 0x07) << 1)
      | (((bitsPerSample - 1) >> 4) & 0x01))
    bos.write((((bitsPerSample - 1) & 0x0F) << 4) |
      ((totalSamples >> 32) & 0x0F).toInt)
    bos.write(((totalSamples >> 24) & 0xFF).toInt)
    bos.write(((totalSamples >> 16) & 0xFF).toInt)
    bos.write(((totalSamples >> 8) & 0xFF).toInt)
    bos.write((totalSamples & 0xFF).toInt)
    (0 until 16).foreach(_ => bos.write(0)) // MD5 (unset)
    if (withComments) {
      val body = vorbisCommentBytes(vendor, comments)
      bos.write(0x80 | 4) // last block + VORBIS_COMMENT
      bos.write((body.length >> 16) & 0xFF)
      bos.write((body.length >> 8) & 0xFF)
      bos.write(body.length & 0xFF)
      bos.write(body)
    }
    (0 until fillBytes).foreach(i => bos.write(i & 0xFF))
    bos.toByteArray
  }

  /** The shared comment structure: vendor + "KEY=value" list, all
    * lengths little-endian (the encode twin of
    * [[parseVorbisComments]]).
    */
  private[graft] def vorbisCommentBytes(vendor: String,
      comments: Seq[(String, String)]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      bos.write(v & 0xFF); bos.write((v >> 8) & 0xFF)
      bos.write((v >> 16) & 0xFF); bos.write((v >> 24) & 0xFF)
    }
    val vb = vendor.getBytes("UTF-8")
    le32(vb.length); bos.write(vb)
    le32(comments.length)
    comments.foreach { case (k, v) =>
      val cb = s"$k=$v".getBytes("UTF-8")
      le32(cb.length); bos.write(cb)
    }
    bos.toByteArray
  }

  /** Ogg container metadata: the first page's BOS packet identifies
    * the codec — a Vorbis identification header (packet type 1 +
    * "vorbis": version, channels u8, rate u32 LE, three bitrate
    * fields) or an OpusHead (channels u8, pre-skip u16, INPUT sample
    * rate u32 LE — Opus itself always decodes at 48 kHz; the field
    * records the original rate). The page grammar is the published
    * one: "OggS", version 0, header-type flags, 64-bit granule,
    * serial, sequence, CRC, segment count + lacing table. The LAST
    * page's granule position (found by walking page headers — lacing
    * sums skip packet bytes, nothing is decoded) gives the total
    * sample count: duration = granule / 48 kHz for Opus, granule /
    * declared rate for Vorbis. DECODE honestly out of scope (MDCT /
    * range coding); this is the web-audio metadata-filter walk.
    */
  case class OggMeta(id: Long, codec: String, channels: Int,
      sampleRate: Int, granule: Long, durationMs: Long,
      parsed: Boolean)

  def oggMetaScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[OggMeta]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.map { r =>
          val id = r.getLong(0)
          parseOgg(r.getAs[Array[Byte]](1)) match {
            case Some((codec, ch, rate, granule)) =>
              val clockRate = if (codec == "opus") 48000 else rate
              OggMeta(id, codec, ch, rate, granule,
                if (clockRate > 0 && granule > 0)
                  granule * 1000L / clockRate
                else 0L, parsed = true)
            case None => OggMeta(id, "", 0, 0, 0L, 0L, parsed = false)
          }
        }
    }.toDF().select(col("id"), col("codec"), col("channels"),
      col("sampleRate").as("sample_rate"), col("granule"),
      col("durationMs").as("duration_ms"), col("parsed"))
  }

  /** The Ogg page CRC (RFC 3533 §6): CRC-32, generator 0x04C11DB7,
    * no bit reflection, zero initial value, zero final XOR, computed
    * over the whole page with the CRC field read as zero.
    */
  private val oggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var j = 0
      while (j < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04C11DB7
        else r << 1
        j += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[graft] def oggPageCrc(b: Array[Byte], start: Int,
      len: Int): Long = {
    var crc = 0
    var i = 0
    while (i < len) {
      // the CRC field itself (bytes 22..25 of the page) reads as zero
      val v = if (i >= 22 && i < 26) 0 else b(start + i) & 0xFF
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ v) & 0xFF)
      i += 1
    }
    crc.toLong & 0xFFFFFFFFL
  }

  /** (codec, channels, rate, lastGranule) — None on anything
    * malformed, INCLUDING a page whose CRC-32 does not verify (a
    * half-flipped page silently lying about its granule is the
    * failure mode the field exists for).
    */
  private[graft] def parseOgg(
      b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    if (b == null || b.length < 28) return None
    var codec = ""
    var channels = 0
    var rate = 0
    var granule = -1L
    var pos = 0
    var first = true
    while (pos + 27 <= b.length) {
      if (b(pos) != 'O'.toByte || b(pos + 1) != 'g'.toByte ||
        b(pos + 2) != 'g'.toByte || b(pos + 3) != 'S'.toByte ||
        b(pos + 4) != 0) return None
      val pageGranule = le64(b, pos + 6)
      val nSegs = b(pos + 26) & 0xFF
      if (pos + 27 + nSegs > b.length) return None
      var bodyLen = 0
      var s = 0
      while (s < nSegs) {
        bodyLen += b(pos + 27 + s) & 0xFF
        s += 1
      }
      val body = pos + 27 + nSegs
      if (body + bodyLen > b.length) return None
      if (oggPageCrc(b, pos, 27 + nSegs + bodyLen) !=
        le32(b, pos + 22)) return None // page CRC must verify
      if (first) {
        if ((b(pos + 5) & 0x02) == 0) return None // BOS flag required
        oggIdPacket(b, body, bodyLen) match {
          case Some((c, ch, r)) => codec = c; channels = ch; rate = r
          case None => return None
        }
        if (channels <= 0 || rate <= 0) return None
        first = false
      }
      // -1 marks a page with no completed packet; skip for duration
      if (pageGranule != -1L) granule = pageGranule
      pos = body + bodyLen
    }
    if (first || pos != b.length) return None // trailing junk refuses
    Some((codec, channels, rate, math.max(0L, granule)))
  }

  /** The BOS page's identification packet: (codec, channels, rate)
    * for Vorbis (`0x01 "vorbis" ver(4) ch(1) rate(4) …`) and Opus
    * (`"OpusHead" ver ch preskip(2) rate(4) …`) — the ONE packet
    * parser both the buffered walk ([[parseOgg]]) and the path-level
    * stream walk ([[parseOggStream]]) dispatch through, so the two
    * carriers cannot drift on codec identification.
    */
  private def oggIdPacket(b: Array[Byte], body: Int,
      bodyLen: Int): Option[(String, Int, Int)] = {
    if (bodyLen >= 16 && (b(body) & 0xFF) == 0x01 &&
      new String(b, body + 1, 6, "US-ASCII") == "vorbis")
      Some(("vorbis", b(body + 11) & 0xFF, le32(b, body + 12).toInt))
    else if (bodyLen >= 19 &&
      new String(b, body, 8, "US-ASCII") == "OpusHead")
      Some(("opus", b(body + 9) & 0xFF, le32(b, body + 12).toInt))
    else None
  }

  /** The path-level stream form of [[parseOgg]]: the same forward
    * page walk — magic + version, EVERY page's RFC 3533 CRC, the BOS
    * identification packet through [[oggIdPacket]], the last
    * completed-packet granule — consumed off an `InputStream` with
    * ONE page resident (an Ogg page is ≤ 65,307 bytes by grammar:
    * 27-byte header + ≤255 segment lengths + ≤255·255 body). The
    * buffered walk needs the whole capture in memory; this walk
    * censuses a multi-GiB live-stream dump at O(page). On any byte
    * array `b`, `parseOggStream(new ByteArrayInputStream(b))` equals
    * `parseOgg(b)` (spec-pinned, including dribbling reads): EOF
    * mid-header, mid-segment-table, or mid-body refuses exactly
    * where the buffered walk's bounds checks do, and a clean EOF at
    * a page boundary ends the walk exactly where `pos == b.length`
    * accepts.
    */
  private[graft] def parseOggStream(
      in: java.io.InputStream): Option[(String, Int, Int, Long)] = {
    val page = new Array[Byte](27 + 255 + 255 * 255)
    def readUpTo(off: Int, n: Int): Int = {
      var got = 0
      var r = 0
      while (got < n && r >= 0) {
        r = in.read(page, off + got, n - got)
        if (r > 0) got += r
      }
      got
    }
    var codec = ""
    var channels = 0
    var rate = 0
    var granule = -1L
    var first = true
    var eof = false
    while (!eof) {
      val got = readUpTo(0, 27)
      if (got == 0) eof = true // clean end at a page boundary
      else {
        if (got < 27) return None // torn page header
        if (page(0) != 'O'.toByte || page(1) != 'g'.toByte ||
          page(2) != 'g'.toByte || page(3) != 'S'.toByte ||
          page(4) != 0) return None
        val nSegs = page(26) & 0xFF
        if (readUpTo(27, nSegs) < nSegs) return None
        var bodyLen = 0
        var s = 0
        while (s < nSegs) {
          bodyLen += page(27 + s) & 0xFF
          s += 1
        }
        val body = 27 + nSegs
        if (readUpTo(body, bodyLen) < bodyLen) return None
        if (oggPageCrc(page, 0, body + bodyLen) != le32(page, 22))
          return None // page CRC must verify
        if (first) {
          if ((page(5) & 0x02) == 0) return None // BOS flag required
          oggIdPacket(page, body, bodyLen) match {
            case Some((c, ch, r)) => codec = c; channels = ch; rate = r
            case None => return None
          }
          if (channels <= 0 || rate <= 0) return None
          first = false
        }
        val pageGranule = le32(page, 6) | (le32(page, 10) << 32)
        // -1 marks a page with no completed packet; skip for duration
        if (pageGranule != -1L) granule = pageGranule
      }
    }
    if (first) return None
    Some((codec, channels, rate, math.max(0L, granule)))
  }

  /** Build an Ogg stream (BOS identification page + one data page
    * carrying the final granule) — the encode twin of [[parseOgg]];
    * packet bytes beyond the ID header are opaque filler.
    */
  def buildOgg(codec: String, channels: Int, sampleRate: Int,
      granule: Long, fillBytes: Int = 96, vendor: String = "",
      comments: Seq[(String, String)] = Nil): Array[Byte] = {
    require(codec == "vorbis" || codec == "opus", "codec")
    require(channels >= 1 && channels <= 255 && sampleRate > 0 &&
      granule >= 0, "shape")
    val bos = new java.io.ByteArrayOutputStream()
    def w32(v: Long): Unit = {
      bos.write((v & 0xFF).toInt); bos.write(((v >> 8) & 0xFF).toInt)
      bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 24) & 0xFF).toInt)
    }
    def w64(v: Long): Unit = { w32(v & 0xFFFFFFFFL); w32(v >>> 32) }
    def page(headerType: Int, pGranule: Long, seq: Int,
        body: Array[Byte]): Unit = {
      require(body.length < 255 * 255, "single-page bodies only")
      val at = bos.size()
      bos.write("OggS".getBytes("US-ASCII"))
      bos.write(0); bos.write(headerType)
      w64(pGranule); w32(0x6772616FL); w32(seq.toLong)
      w32(0L) // CRC patched below once the page is complete
      val full = body.length / 255
      val rem = body.length % 255
      bos.write(full + 1)
      (0 until full).foreach(_ => bos.write(255))
      bos.write(rem)
      bos.write(body, 0, body.length)
      // real RFC 3533 page CRC over the finished page
      val all = bos.toByteArray
      val crc = oggPageCrc(all, at, all.length - at)
      all(at + 22) = (crc & 0xFF).toByte
      all(at + 23) = ((crc >> 8) & 0xFF).toByte
      all(at + 24) = ((crc >> 16) & 0xFF).toByte
      all(at + 25) = ((crc >> 24) & 0xFF).toByte
      bos.reset(); bos.write(all, 0, all.length)
    }
    val idPacket = new java.io.ByteArrayOutputStream()
    if (codec == "vorbis") {
      idPacket.write(0x01)
      idPacket.write("vorbis".getBytes("US-ASCII"))
      (0 until 4).foreach(_ => idPacket.write(0)) // version
      idPacket.write(channels)
      idPacket.write(sampleRate & 0xFF)
      idPacket.write((sampleRate >> 8) & 0xFF)
      idPacket.write((sampleRate >> 16) & 0xFF)
      idPacket.write((sampleRate >> 24) & 0xFF)
      (0 until 13).foreach(_ => idPacket.write(0)) // bitrates + tail
    } else {
      idPacket.write("OpusHead".getBytes("US-ASCII"))
      idPacket.write(1) // version
      idPacket.write(channels)
      idPacket.write(0); idPacket.write(0) // pre-skip
      idPacket.write(sampleRate & 0xFF)
      idPacket.write((sampleRate >> 8) & 0xFF)
      idPacket.write((sampleRate >> 16) & 0xFF)
      idPacket.write((sampleRate >> 24) & 0xFF)
      idPacket.write(0); idPacket.write(0) // gain
      idPacket.write(0) // mapping family 0
    }
    page(0x02, -1L, 0, idPacket.toByteArray) // BOS, no packet ends
    var seq = 1
    if (comments.nonEmpty || vendor.nonEmpty) {
      // the comment header is the stream's SECOND logical packet
      val pkt = new java.io.ByteArrayOutputStream()
      if (codec == "vorbis") {
        pkt.write(0x03)
        pkt.write("vorbis".getBytes("US-ASCII"))
        pkt.write(vorbisCommentBytes(vendor, comments))
        pkt.write(0x01) // framing bit
      } else {
        pkt.write("OpusTags".getBytes("US-ASCII"))
        pkt.write(vorbisCommentBytes(vendor, comments))
      }
      page(0x00, -1L, seq, pkt.toByteArray)
      seq += 1
    }
    page(0x04, granule, seq,
      Array.tabulate[Byte](fillBytes)(i => (i * 31).toByte)) // EOS
    bos.toByteArray
  }

  /** One Vorbis comment: the `source` names the carrier (`flac`
    * block, Ogg `vorbis` packet, Ogg `opus` OpusTags), `vendor` is
    * the writer string, and comments are (key, value) in stored
    * order. This is where real audio corpora carry title / artist /
    * language — the curation metadata the text pipeline joins on.
    */
  case class VorbisCommentRow(id: Long, source: String, vendor: String,
      commentIndex: Long, key: String, value: String)

  /** Explode the Vorbis comments of FLAC (VORBIS_COMMENT metadata
    * block, type 4) and Ogg Vorbis/Opus (the second logical packet)
    * payloads — one row per comment, dispatched per row by magic.
    * Malformed structures emit nothing (per-file honesty); files
    * without a comment block emit nothing (absence is not an error).
    */
  def vorbisCommentScan(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    implicit val enc = Encoders.product[VorbisCommentRow]
    df.select(col(idCol).cast("long"), col(binCol)).mapPartitions {
      (rows: Iterator[Row]) =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          val parsed: Option[(String, String, Vector[(String, String)])] =
            if (b != null && b.length >= 8 && b(0) == 'f'.toByte &&
              b(1) == 'L'.toByte && b(2) == 'a'.toByte &&
              b(3) == 'C'.toByte)
              flacVorbisComment(b).map { case (v, cs) => ("flac", v, cs) }
            else if (b != null && b.length >= 28 && b(0) == 'O'.toByte &&
              b(1) == 'g'.toByte && b(2) == 'g'.toByte &&
              b(3) == 'S'.toByte)
              oggVorbisComment(b)
            else None
          parsed match {
            case Some((src, vendor, cs)) => cs.zipWithIndex.map {
              case ((k, v), i) =>
                VorbisCommentRow(id, src, vendor, i.toLong, k, v)
            }
            case None => Nil
          }
        }
    }.toDF().select(col("id"), col("source"), col("vendor"),
      col("commentIndex").as("comment_index"), col("key"),
      col("value"))
  }

  /** The published comment structure (all lengths LITTLE-endian,
    * unlike the rest of FLAC): vendor_length + vendor, count, then
    * per comment length + "KEY=value". `exact` demands the structure
    * end exactly at `end`. Keys must be printable ASCII without '='
    * (the spec grammar) — anything else refuses.
    */
  private[graft] def parseVorbisComments(b: Array[Byte], start: Int,
      end: Int, exact: Boolean)
      : Option[(String, Vector[(String, String)], Int)] = {
    if (start + 4 > end) return None
    val vlen = le32(b, start)
    if (vlen < 0L || start + 4 + vlen > end) return None
    val vendor = new String(b, start + 4, vlen.toInt, "UTF-8")
    var p = start + 4 + vlen.toInt
    if (p + 4 > end) return None
    val n = le32(b, p)
    p += 4
    if (n < 0L || n > (end - p)) return None // each comment is >= 4+1
    val out = Vector.newBuilder[(String, String)]
    var i = 0L
    while (i < n) {
      if (p + 4 > end) return None
      val clen = le32(b, p)
      p += 4
      if (clen < 0L || p + clen > end) return None
      val s = new String(b, p, clen.toInt, "UTF-8")
      val eq = s.indexOf('=')
      if (eq <= 0) return None
      val key = s.substring(0, eq)
      if (!key.forall(c => c >= 0x20 && c <= 0x7D && c != '='))
        return None
      out += ((key, s.substring(eq + 1)))
      p += clen.toInt
      i += 1
    }
    if (exact && p != end) return None
    Some((vendor, out.result(), p))
  }

  /** FLAC: walk the metadata-block chain to the VORBIS_COMMENT block
    * (type 4). None on malformed chains OR absent blocks.
    */
  private[graft] def flacVorbisComment(b: Array[Byte])
      : Option[(String, Vector[(String, String)])] = {
    if (parseFlacInfo(b).isEmpty) return None
    var p = 4
    var last = false
    while (!last) {
      if (p + 4 > b.length) return None
      val h = b(p) & 0xFF
      last = (h & 0x80) != 0
      val typ = h & 0x7F
      val len = ((b(p + 1) & 0xFF) << 16) | ((b(p + 2) & 0xFF) << 8) |
        (b(p + 3) & 0xFF)
      if (p + 4 + len > b.length) return None
      if (typ == 4)
        return parseVorbisComments(b, p + 4, p + 4 + len,
          exact = true).map { case (v, cs, _) => (v, cs) }
      if (typ == 127) return None // invalid block type per spec
      p += 4 + len
    }
    None // no comment block: absence, not structure — emit nothing
  }

  /** Ogg: reassemble the SECOND logical packet through the lacing
    * tables and parse it as a Vorbis comment header (0x03"vorbis" +
    * structure + framing bit) or OpusTags. None on malformed pages
    * or packets.
    */
  private[graft] def oggVorbisComment(b: Array[Byte])
      : Option[(String, String, Vector[(String, String)])] = {
    val codec = parseOgg(b).map(_._1).getOrElse(return None)
    // packet reassembly: concatenate segment runs; a lacing value
    // < 255 ends the packet
    val packets = Vector.newBuilder[Array[Byte]]
    val cur = new java.io.ByteArrayOutputStream()
    var nPackets = 0
    var pos = 0
    while (pos + 27 <= b.length && nPackets < 2) {
      val nSegs = b(pos + 26) & 0xFF
      var body = pos + 27 + nSegs
      var s = 0
      while (s < nSegs && nPackets < 2) {
        val lace = b(pos + 27 + s) & 0xFF
        cur.write(b, body, lace)
        body += lace
        if (lace < 255) {
          packets += cur.toByteArray
          cur.reset()
          nPackets += 1
        }
        s += 1
      }
      // advance to the next page (skip any segments beyond packet 2)
      var full = pos + 27 + nSegs
      var t = 0
      while (t < nSegs) { full += b(pos + 27 + t) & 0xFF; t += 1 }
      pos = full
    }
    val ps = packets.result()
    if (ps.length < 2) return None
    val pkt = ps(1)
    if (codec == "vorbis") {
      // 0x03 "vorbis" + structure + framing bit 0x01
      if (pkt.length < 8 || (pkt(0) & 0xFF) != 0x03 ||
        new String(pkt, 1, 6, "US-ASCII") != "vorbis") return None
      parseVorbisComments(pkt, 7, pkt.length, exact = false).flatMap {
        case (v, cs, endAt) =>
          if (endAt + 1 != pkt.length || (pkt(endAt) & 0x01) != 1) None
          else Some(("vorbis", v, cs))
      }
    } else {
      if (pkt.length < 8 ||
        new String(pkt, 0, 8, "US-ASCII") != "OpusTags") return None
      parseVorbisComments(pkt, 8, pkt.length, exact = true).map {
        case (v, cs, _) => ("opus", v, cs)
      }
    }
  }

  /** RIFF INFO sub-chunks out of a WAV's `LIST`/`INFO` chunk — the
    * published metadata home of the WAV world (INAM title, IART
    * artist, IPRD product/album, ICRD date, IGNR genre, ICMT
    * comment). Values are NUL-terminated text; odd chunks pad one
    * byte per the RIFF rule. Empty on files without the chunk;
    * malformed LIST structure refuses (empty).
    */
  private[graft] def parseRiffInfo(
      b: Array[Byte]): Seq[(String, String)] = {
    if (b == null || b.length < 12 || tag(b, 0) != "RIFF" ||
      tag(b, 8) != "WAVE") return Nil
    val declared = 8L + le32(b, 4)
    val total = math.min(declared, b.length.toLong)
    var pos = 12L
    while (pos + 8 <= total) {
      val ct = tag(b, pos.toInt)
      val len = le32(b, pos.toInt + 4)
      if (len < 0L || pos + 8 + len > total) return Nil
      if (ct == "LIST" && len >= 4 &&
        tag(b, pos.toInt + 8) == "INFO") {
        val out = Seq.newBuilder[(String, String)]
        var q = pos + 12
        val end = pos + 8 + len
        while (q + 8 <= end) {
          val sub = tag(b, q.toInt)
          val sl = le32(b, q.toInt + 4)
          if (sl < 0L || q + 8 + sl > end) return Nil
          var e = (q + 8 + sl).toInt
          while (e > q + 8 && b(e - 1) == 0) e -= 1 // NUL padding
          out += ((sub, new String(b, q.toInt + 8,
            e - (q + 8).toInt, "UTF-8")))
          q += 8 + sl + (sl & 1L) // odd chunks pad
        }
        return out.result()
      }
      pos += 8 + len + (len & 1L)
    }
    Nil
  }

  /** AIFF text chunks (`NAME`, `AUTH`, `ANNO`, `(c) `) — the IFF
    * metadata home. Same refusal/padding rules as the RIFF side.
    */
  private[graft] def parseAiffText(
      b: Array[Byte]): Seq[(String, String)] = {
    if (b == null || b.length < 12 || tag(b, 0) != "FORM" ||
      tag(b, 8) != "AIFF") return Nil
    val declared = 8L + beU32(b, 4)
    val total = math.min(declared, b.length.toLong)
    val wanted = Set("NAME", "AUTH", "ANNO", "(c) ")
    val out = Seq.newBuilder[(String, String)]
    var pos = 12L
    while (pos + 8 <= total) {
      val ct = tag(b, pos.toInt)
      val len = beU32(b, pos.toInt + 4)
      if (len < 0L || pos + 8 + len > total) return Nil
      if (wanted(ct))
        out += ((ct, new String(b, pos.toInt + 8, len.toInt, "UTF-8")))
      pos += 8 + len + (len & 1L)
    }
    out.result()
  }

  private def beU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xFFL) << 24) | ((b(o + 1) & 0xFFL) << 16) |
      ((b(o + 2) & 0xFFL) << 8) | (b(o + 3) & 0xFFL)

  /** Append a `LIST`/`INFO` chunk to a built WAV (RIFF size grown in
    * place) — the encode twin of [[parseRiffInfo]].
    */
  def withRiffInfo(wav: Array[Byte],
      tags: Seq[(String, String)]): Array[Byte] = {
    require(tags.nonEmpty, "no tags")
    val body = new java.io.ByteArrayOutputStream()
    body.write("INFO".getBytes("US-ASCII"))
    tags.foreach { case (k, v) =>
      require(k.length == 4, s"INFO id '$k' not a 4CC")
      val vb = v.getBytes("UTF-8") :+ 0.toByte // NUL-terminated
      body.write(k.getBytes("US-ASCII"))
      body.write(vb.length & 0xFF); body.write((vb.length >> 8) & 0xFF)
      body.write((vb.length >> 16) & 0xFF)
      body.write((vb.length >> 24) & 0xFF)
      body.write(vb)
      if (vb.length % 2 == 1) body.write(0) // pad
    }
    val list = body.toByteArray
    val out = new Array[Byte](wav.length + 8 + list.length)
    System.arraycopy(wav, 0, out, 0, wav.length)
    var o = wav.length
    "LIST".getBytes("US-ASCII").copyToArray(out, o); o += 4
    out(o) = (list.length & 0xFF).toByte
    out(o + 1) = ((list.length >> 8) & 0xFF).toByte
    out(o + 2) = ((list.length >> 16) & 0xFF).toByte
    out(o + 3) = ((list.length >> 24) & 0xFF).toByte
    System.arraycopy(list, 0, out, o + 4, list.length)
    // grow the RIFF size
    val newSz = le32(wav, 4) + 8 + list.length
    out(4) = (newSz & 0xFF).toByte
    out(5) = ((newSz >> 8) & 0xFF).toByte
    out(6) = ((newSz >> 16) & 0xFF).toByte
    out(7) = ((newSz >> 24) & 0xFF).toByte
    out
  }

  /** Append IFF text chunks to a built AIFF (FORM size grown in
    * place) — the encode twin of [[parseAiffText]].
    */
  def withAiffText(aiff: Array[Byte],
      tags: Seq[(String, String)]): Array[Byte] = {
    require(tags.nonEmpty, "no tags")
    val body = new java.io.ByteArrayOutputStream()
    tags.foreach { case (k, v) =>
      require(k.length == 4, s"chunk id '$k' not a 4CC")
      val vb = v.getBytes("UTF-8")
      body.write(k.getBytes("US-ASCII"))
      body.write((vb.length >> 24) & 0xFF)
      body.write((vb.length >> 16) & 0xFF)
      body.write((vb.length >> 8) & 0xFF); body.write(vb.length & 0xFF)
      body.write(vb)
      if (vb.length % 2 == 1) body.write(0)
    }
    val chunks = body.toByteArray
    val out = new Array[Byte](aiff.length + chunks.length)
    System.arraycopy(aiff, 0, out, 0, aiff.length)
    System.arraycopy(chunks, 0, out, aiff.length, chunks.length)
    val newSz = beU32(aiff, 4) + chunks.length
    out(4) = ((newSz >> 24) & 0xFF).toByte
    out(5) = ((newSz >> 16) & 0xFF).toByte
    out(6) = ((newSz >> 8) & 0xFF).toByte
    out(7) = (newSz & 0xFF).toByte
    out
  }

  /** NEEDLE HUNT: find clips whose content CONTAINS a known jingle —
    * segment every clip into `segmentFrames` windows
    * ([[segmentClips]]), fingerprint each under the index's OWN
    * recorded params, and return every segment within `maxDistance`
    * of ANY indexed signature as `(id, seg_idx, start_frame)` — the
    * composition the duration-normalized whole-clip fingerprint
    * deliberately cannot make (a clip containing a jingle does not
    * pair with the jingle itself). `strictBuckets` defaults to TRUE
    * here, unlike the bulk-dedup admissions: a hunt is exactly where
    * a silently-dropped degenerate corpus bucket is most costly (the
    * needle is IN the dropped bucket), and the strict pass is one
    * bounded action over 8-byte reads. Defaults expect exact
    * containment (`maxDistance = 0`); use `hopFrames <
    * segmentFrames` for alignment-robust shingles.
    */
  def findClipsContainingJingle(clips: DataFrame, idCol: String,
      binCol: String, indexPath: String, segmentFrames: Int,
      hopFrames: Int = 0, maxDistance: Int = 0, maxBucket: Int = 1000,
      strictBuckets: Boolean = true): DataFrame = {
    graft.operators.TopK.requireIntegral(clips, idCol,
      "findClipsContainingJingle")
    val spark = clips.sparkSession
    val (window, maxFrames, canonicalRate) = parseAudioIndexParams(
      readAudioIndexParams(spark, indexPath,
        "findClipsContainingJingle"), "findClipsContainingJingle")
    val segs = segmentClips(clips, idCol, binCol, segmentFrames,
      hopFrames).toDF().filter(col("decoded"))
    // the scalar-UDF signature path keeps the segment's identifying
    // columns alongside (the typed decode reshapes them away) — same
    // arithmetic as the batch expression path, parity spec-pinned by
    // the streaming admission tests
    val withSig = segs
      .withColumn("__en",
        evalOnce(energiesUdf(window, maxFrames, canonicalRate)(col("wav"))))
      .filter(col("__en").isNotNull)
      .select(col("id"), col("segIdx").as("seg_idx"),
        col("startFrame").as("start_frame"),
        audioFingerprint64(col("__en")).as("__sh"))
    Dedup.hamming64CrossMatchRows(
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      withSig, "__sh", maxDistance, maxBucket, strictBuckets)
  }

  /** Streaming audio admission: admit a live clip feed against a
    * STATIC [[writeAudioNearDupIndex]] artifact — the streaming twin
    * of [[incrementalAudioNearDedup]]. A stream clip is dropped when
    * its signature is within `maxDistance` of ANY indexed signature;
    * every other row is emitted in the micro-batch it arrives.
    * STATELESS ([[Dedup.hamming64StreamAdmit]]): the stream decodes
    * once per row (scalar UDF) under the index's OWN recorded params,
    * the static side is the capped bucket fold of the 8-byte
    * signature read, four 1:1 joins + `exists`/`bit_count` decide —
    * zero streaming state per row whatever the payload size, no
    * emission delay, duplicate feed rows never collapse. Undecodable
    * payloads carry a null signature and are ADMITTED.
    * `tsCol`/`lateness` apply a watermark only so downstream stateful
    * consumers inherit one.
    */
  def streamingAudioNearDedup(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, indexPath: String,
      lateness: String = "1 hour", maxDistance: Int = 3,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    val spark = stream.sparkSession
    val (window, maxFrames, canonicalRate) = parseAudioIndexParams(
      readAudioIndexParams(spark, indexPath,
        "streamingAudioNearDedup"), "streamingAudioNearDedup")
    val streamCols = stream.columns.toSeq
    val withSig = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__en",
        evalOnce(energiesUdf(window, maxFrames, canonicalRate)(col(binCol))))
      .withColumn("__sh",
        when(col("__en").isNotNull, audioFingerprint64(col("__en"))))
    Dedup.hamming64StreamAdmit(withSig, streamCols,
      spark.read.parquet(
        Dedup.indexSidePaths(spark, indexPath, "sigs"): _*),
      maxDistance, maxBucket, strictBuckets)
  }

  /** Per-row segment fingerprints for the STREAMING hunt — the
    * scalar twin of the batch segment → WAV-wrap → energies chain
    * (bit-parity spec-pinned by the streaming hunt tests): decode the
    * clip once, slice `segmentFrames` windows at `hop`, cap and
    * resample each under the index's OWN recorded params, fold the
    * 65 window energies, emit the gradient fingerprint. One payload
    * in memory at a time; null for undecodable payloads (a hunt
    * cannot match what it cannot read — dropped, never guessed).
    */
  private def segmentSigsUdf(segmentFrames: Int, hop: Int, window: Int,
      maxFrames: Int, canonicalRate: Int) =
    udf { (bytes: Array[Byte]) =>
      decodeSamples(bytes, 1 << 20).map { case (m, samples) =>
        Iterator.from(0)
          .map(s => (s, s * hop))
          .takeWhile { case (_, st) =>
            st.toLong + segmentFrames <= samples.length }
          .flatMap { case (s, st) =>
            // the batch path wraps the FULL segment, then its decode
            // caps at the index's maxFrames — replicate exactly
            val take = math.min(segmentFrames, maxFrames)
            val slice = java.util.Arrays.copyOfRange(samples, st,
              st + take)
            (if (canonicalRate > 0)
              resampleChecked(slice, m.sampleRate, canonicalRate,
                maxFrames)
            else Some(slice)).map { ss =>
              val w =
                if (window > 0) window
                else math.max(1, (ss.length + 64) / 65)
              val e = Array.tabulate(65) { i =>
                var acc = 0L
                var k = math.min(ss.length.toLong, i.toLong * w).toInt
                val end =
                  math.min(ss.length.toLong, (i + 1).toLong * w).toInt
                while (k < end) {
                  acc += ss(k).toLong * ss(k)
                  k += 1
                }
                acc
              }
              var sig = 0L
              var i = 0
              while (i < 64) {
                if (e(i) > e(i + 1)) sig |= 1L << i
                i += 1
              }
              (s.toLong, st.toLong, sig)
            }
          }.toSeq
      }
    }

  /** STREAMING needle hunt: match a live clip feed against a STATIC
    * jingle index ([[writeAudioNearDupIndex]]) — the streaming twin
    * of [[findClipsContainingJingle]], the deployment shape a
    * production needle-watch actually runs (new clips arriving vs a
    * persisted jingle index). Emits one row per MATCHED segment —
    * the stream row's columns plus `(seg_idx, start_frame)` locating
    * the hit — in the micro-batch the clip arrives. STATELESS like
    * the admission twin ([[Dedup]]'s stream kernel): the per-row UDF
    * emits segment fingerprints (8 bytes each), `explode` is
    * stateless, the static side is the capped bucket fold, four 1:1
    * joins + `exists`/`bit_count` decide — zero streaming state
    * however large the payloads, no emission delay, a clip carrying
    * the jingle twice reports both segments. `strictBuckets`
    * defaults TRUE (the hunt guard — checked ONCE at wiring time as
    * a bounded batch action, never per-batch). `tsCol`/`lateness`
    * apply a watermark only so downstream stateful consumers inherit
    * one.
    */
  def findClipsContainingJingleStream(stream: DataFrame, idCol: String,
      binCol: String, tsCol: String, indexPath: String,
      segmentFrames: Int, hopFrames: Int = 0,
      lateness: String = "1 hour", maxDistance: Int = 0,
      maxBucket: Int = 1000, strictBuckets: Boolean = true): DataFrame = {
    require(segmentFrames > 0, "segmentFrames must be positive")
    require(hopFrames >= 0, "hopFrames must be >= 0 (0 = segmentFrames)")
    val spark = stream.sparkSession
    val (window, maxFrames, canonicalRate) = parseAudioIndexParams(
      readAudioIndexParams(spark, indexPath,
        "findClipsContainingJingleStream"),
      "findClipsContainingJingleStream")
    val hop = if (hopFrames == 0) segmentFrames else hopFrames
    val streamCols = stream.columns.toSeq
    val exploded = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__segs", evalOnce( // decode once (guide §4.4)
        segmentSigsUdf(segmentFrames, hop, window, maxFrames,
          canonicalRate)(col(binCol))))
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

  // ---- RIFF chunk walk (per-payload imperative kernel) ----------------

  private[graft] final case class Parsed(format: Int, sampleRate: Int,
      channels: Int, bitsPerSample: Int, nFrames: Long, durationMs: Long,
      dataOffset: Long, dataLen: Long, blockAlign: Int = 0,
      samplesPerBlock: Int = 0)

  private def tag(b: Array[Byte], o: Int): String =
    new String(b, o, 4, java.nio.charset.StandardCharsets.ISO_8859_1)

  /** AIFF (IFF `FORM`/`AIFF`): big-endian chunks, `COMM` (channels,
    * frame count, sample size, the 80-bit extended-float sample
    * rate) and `SSND` (offset/blockSize then data). The rate must be
    * a positive integer that fits an Int — fractional, huge, or
    * negative extended floats refuse. Odd chunks pad one byte (the
    * IFF rule). Returns the [[Parsed]] shape with
    * `format = AiffFormat` so the shared PCM machinery applies.
    */
  private[graft] def parseAiff(bytes: Array[Byte],
      trueLen: Long = -1L): Option[Parsed] = {
    if (bytes == null || bytes.length < 12) return None
    val effLen = if (trueLen < 0) bytes.length.toLong else trueLen
    def be16(o: Int): Int = ((bytes(o) & 0xFF) << 8) | (bytes(o + 1) & 0xFF)
    def be32(o: Int): Long =
      ((bytes(o) & 0xFFL) << 24) | ((bytes(o + 1) & 0xFFL) << 16) |
        ((bytes(o + 2) & 0xFFL) << 8) | (bytes(o + 3) & 0xFFL)
    if (tag(bytes, 0) != "FORM" || tag(bytes, 8) != "AIFF") return None
    val total = math.min(8L + be32(4), effLen)
    var channels = 0; var nFrames = -1L; var bits = 0; var rate = -1L
    var dataOffset = -1L; var dataLen = -1L
    var pos = 12L
    while (pos + 8 <= total) {
      // a chunk header past the buffered prefix refuses honestly
      if (pos + 8 > bytes.length) return None
      val ct = tag(bytes, pos.toInt)
      val sz = be32((pos + 4).toInt)
      val body = pos + 8
      if (body + sz > total) return None
      if (ct == "COMM") {
        if (sz < 18 || body + 18 > bytes.length) return None
        channels = be16(body.toInt)
        nFrames = be32((body + 2).toInt)
        bits = be16((body + 6).toInt)
        rate = extended80(bytes, (body + 8).toInt).getOrElse(return None)
      } else if (ct == "SSND") {
        if (sz < 8 || body + 8 > bytes.length) return None
        val off = be32(body.toInt)
        // blockSize (body+4) is advisory; data begins after offset
        dataOffset = body + 8 + off
        dataLen = sz - 8 - off
        if (dataLen < 0) return None
      }
      pos = body + sz + (sz & 1L) // odd chunks pad one byte
    }
    if (channels <= 0 || channels > 64 || nFrames < 0 || rate <= 0L ||
      rate > Int.MaxValue) return None
    if (bits != 8 && bits != 16 && bits != 24 && bits != 32) return None
    if (dataOffset < 0L) return None
    val need = nFrames * channels * (bits / 8)
    if (need > dataLen || dataOffset + need > effLen) return None
    if (trueLen < 0 && dataOffset + need > bytes.length) return None
    Some(Parsed(AiffFormat, rate.toInt, channels, bits, nFrames,
      nFrames * 1000L / rate, dataOffset, dataLen))
  }

  /** 80-bit IEEE extended float at `o` → exact positive integer, or
    * None for anything that is not one (the honest reading of a
    * sample-rate field).
    */
  private def extended80(b: Array[Byte], o: Int): Option[Long] = {
    val se = ((b(o) & 0xFF) << 8) | (b(o + 1) & 0xFF)
    if ((se & 0x8000) != 0) return None // negative rate
    val exp = se & 0x7FFF
    var mant = 0L
    var i = 0
    while (i < 8) { mant = (mant << 8) | (b(o + 2 + i) & 0xFF); i += 1 }
    if (exp == 0 && mant == 0L) return None // zero
    if (exp == 0x7FFF) return None // inf/nan
    // value = mant * 2^(exp - 16383 - 63); integers need exp <= 16446
    val shift = 16446 - exp
    if (shift < 0 || shift > 63) return None
    val v = mant >>> shift
    if ((v << shift) != mant) return None // fractional rate
    if (v <= 0L) return None
    Some(v)
  }

  /** Build an AIFF: FORM/AIFF + COMM (real 80-bit extended rate) +
    * SSND (with an optional leading offset) — the encode twin of
    * [[parseAiff]]. `samples(f * channels + c)` are 16-bit values
    * stored big-endian.
    */
  def buildAiff(samples: Array[Int], channels: Int, rate: Int,
      ssndOffset: Int = 0, bits: Int = 16): Array[Byte] = {
    require(channels >= 1, "channels")
    require(rate > 0, "rate")
    require(ssndOffset >= 0, "ssndOffset")
    require(bits == 8 || bits == 16, "bits must be 8 or 16")
    require(samples.length % channels == 0, "frame alignment")
    val (lo, hi) = if (bits == 8) (-128, 127)
      else (Short.MinValue.toInt, Short.MaxValue.toInt)
    samples.foreach(v => require(v >= lo && v <= hi,
      s"$bits-bit samples"))
    val nFrames = samples.length / channels
    val bos = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { bos.write((v >> 8) & 0xFF); bos.write(v & 0xFF) }
    def w32(v: Long): Unit = {
      bos.write(((v >> 24) & 0xFF).toInt); bos.write(((v >> 16) & 0xFF).toInt)
      bos.write(((v >> 8) & 0xFF).toInt); bos.write((v & 0xFF).toInt)
    }
    bos.write("FORM".getBytes("US-ASCII"))
    val dataBytes = (bits / 8) * samples.length
    val commSz = 18
    val ssndSz = 8 + ssndOffset + dataBytes
    w32(4L + (8 + commSz) + (8L + ssndSz) + (ssndSz & 1))
    bos.write("AIFF".getBytes("US-ASCII"))
    bos.write("COMM".getBytes("US-ASCII"))
    w32(commSz.toLong)
    w16(channels)
    w32(nFrames.toLong)
    w16(bits)
    // 80-bit extended: normalize rate to mant with the top bit set
    val lead = java.lang.Long.numberOfLeadingZeros(rate.toLong)
    val exp = 16446 - (lead + 1) + 1 // so that mant >>> shift == rate
    val mant = rate.toLong << lead
    w16(exp)
    w32(mant >>> 32); w32(mant & 0xFFFFFFFFL)
    bos.write("SSND".getBytes("US-ASCII"))
    w32(ssndSz.toLong)
    w32(ssndOffset.toLong); w32(0L)
    (0 until ssndOffset).foreach(_ => bos.write(0))
    if (bits == 8) samples.foreach(v => bos.write(v & 0xFF))
    else samples.foreach(w16)
    if ((ssndSz & 1) == 1) bos.write(0) // IFF pad
    bos.toByteArray
  }

  /** `totalLen < 0` means `bytes` IS the whole payload; a
    * non-negative `totalLen` marks `bytes` as a leading PREFIX of a
    * `totalLen`-byte payload ([[parseWavHeaderPrefix]]) — the
    * data-chunk clamp then runs against the true length, so frame
    * counts match a full parse. All walk arithmetic is Long: a
    * declared 32-bit chunk size near 2³² must advance the cursor past
    * the end and stop the walk, never wrap an Int into a negative
    * index (the pre-round-13 overflow: `body + sz.toInt` on a > 1 GB
    * payload threw inside the task instead of returning
    * `parsed = false`).
    */
  private[graft] def parseWav(bytes: Array[Byte],
      totalLen: Long = -1L): Option[Parsed] = {
    if (bytes == null || bytes.length < 12 || tag(bytes, 0) != "RIFF" ||
        tag(bytes, 8) != "WAVE") return None
    val total = if (totalLen >= 0) totalLen else bytes.length.toLong
    var format = -1
    var rate = 0
    var channels = 0
    var bits = 0
    var blockAlign = 0
    var spbDecl = 0
    var factSamples = -1L
    var dataOff = -1L
    var dataLen = 0L
    var o = 12L
    while (o + 8 <= bytes.length) {
      val oi = o.toInt // o + 8 <= length <= Int.MaxValue
      val id = tag(bytes, oi)
      val sz = le32(bytes, oi + 4)
      val body = o + 8
      if (id == "fmt " && sz >= 16 && body + 16 <= bytes.length) {
        format = le16(bytes, body.toInt)
        channels = le16(bytes, body.toInt + 2)
        rate = le32(bytes, body.toInt + 4).toInt
        blockAlign = le16(bytes, body.toInt + 12)
        bits = le16(bytes, body.toInt + 14)
        if (sz >= 20 && body + 20 <= bytes.length)
          spbDecl = le16(bytes, body.toInt + 18) // cbSize extension
        // WAVE_FORMAT_EXTENSIBLE (0xFFFE): the effective codec is the
        // SubFormat GUID's first two bytes (body+24); the +18 union
        // field is wValidBitsPerSample for PCM and wSamplesPerBlock
        // for compressed codecs — exactly what spbDecl already read.
        // A declared cbSize too small for the extension is malformed:
        // leave the 0xFFFE tag in place and the decode gates refuse it
        // honestly.
        if (format == 0xFFFE && sz >= 40 && body + 26 <= bytes.length &&
          le16(bytes, body.toInt + 16) >= 22)
          format = le16(bytes, body.toInt + 24)
      } else if (id == "fact" && sz >= 4 && body + 4 <= bytes.length) {
        factSamples = le32(bytes, body.toInt)
      } else if (id == "data" && dataOff < 0) {
        dataOff = body
        // clamp to bytes present: truncated payloads overstate sizes
        // (prefix parses clamp against the TRUE payload length)
        dataLen = math.max(0L, math.min(sz, total - body))
      }
      // chunks are word-aligned: odd sizes carry a pad byte; Long
      // arithmetic lets an oversized/malformed size run the cursor
      // harmlessly past the end, ending the walk
      o = body + sz + (sz & 1L)
    }
    if (format < 0 || dataOff < 0 || rate <= 0 || channels <= 0 ||
        bits <= 0) return None
    if (format == ImaAdpcmFormat) {
      // 4-bit IMA ADPCM: frames come from the BLOCK layout (the
      // byte-per-frame math below would divide by zero), clamped by
      // the fact chunk's declared sample count when present (the
      // standard contract for compressed WAV — the final block's pad
      // nibbles are layout, not content). Mono data is a plain nibble
      // stream after the 4-byte header; multi-channel blocks carry
      // one 4-byte header per channel then round-robin 4-byte data
      // groups (8 samples per group), so the layout must close on
      // whole rounds. Non-4-bit IMA is honestly unparsed.
      if (bits != 4 || channels < 1 || blockAlign < 4 * channels + 4)
        return None
      if (channels > 1 &&
        (blockAlign - 4 * channels) % (4 * channels) != 0) return None
      val capacity =
        if (channels == 1) (blockAlign - 4) * 2 + 1
        else (blockAlign - 4 * channels) * 2 / channels + 1
      val spb =
        if (spbDecl >= 1) math.min(spbDecl, capacity) else capacity
      var n = imaSampleCount(dataLen, blockAlign, spb, channels)
      if (factSamples >= 0 && factSamples < n) n = factSamples
      return Some(Parsed(format, rate, channels, bits, n,
        n * 1000L / rate, dataOff, dataLen, blockAlign, spb))
    }
    val frameBytes = (bits / 8).toLong * channels
    if (frameBytes <= 0) return None
    val nFrames = dataLen / frameBytes
    Some(Parsed(format, rate, channels, bits, nFrames,
      nFrames * 1000L / rate, dataOff, dataLen))
  }
}
