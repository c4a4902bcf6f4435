package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Audio

/** Audio binary-column operators: RIFF/WAV chunk-walk header parse,
  * 16-bit PCM mono-mixdown decode, exact integer window
  * energies/stats expressions, and the energy-gradient fingerprint →
  * Hamming-banded near-dup path. Every WAV here is REAL bytes built
  * in-test (canonical headers, extra chunks, odd sizes, truncations).
  */
class AudioSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import java.io.ByteArrayOutputStream

  private def le16(v: Int): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
  private def le32(v: Long): Array[Byte] =
    Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  /** Real WAV bytes: RIFF container, optional junk chunks before fmt
    * (LIST) and between fmt and data (odd-sized 'note' chunk + pad
    * byte), 16-byte fmt, then interleaved 16-bit LE data.
    */
  private def wav(samples: Array[Short], channels: Int = 1,
      rate: Int = 8000, format: Int = 1, extraChunks: Boolean = false,
      overstateData: Int = 0): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    if (extraChunks) {
      body.write("LIST".getBytes("ISO-8859-1"))
      body.write(le32(4)); body.write("INFO".getBytes("ISO-8859-1"))
    }
    body.write("fmt ".getBytes("ISO-8859-1"))
    body.write(le32(16))
    body.write(le16(format)); body.write(le16(channels))
    body.write(le32(rate.toLong))
    body.write(le32(rate.toLong * channels * 2)) // byte rate
    body.write(le16(channels * 2)) // block align
    body.write(le16(16)) // bits
    if (extraChunks) { // odd-sized chunk exercises word alignment
      body.write("note".getBytes("ISO-8859-1"))
      body.write(le32(3)); body.write("abc".getBytes("ISO-8859-1"))
      body.write(0) // pad byte
    }
    body.write("data".getBytes("ISO-8859-1"))
    body.write(le32(samples.length * 2L + overstateData))
    samples.foreach(s => body.write(le16(s & 0xFFFF)))
    val b = body.toByteArray
    val out = new ByteArrayOutputStream()
    out.write("RIFF".getBytes("ISO-8859-1"))
    out.write(le32(4L + b.length))
    out.write("WAVE".getBytes("ISO-8859-1"))
    out.write(b)
    out.toByteArray
  }

  private def df(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    rows.toSeq.toDF("id", "content")
  }

  test("parseWavHeader: canonical mono, extra/odd chunks, truncation " +
      "clamp, and non-RIFF fallback") {
    val mono = wav(Array[Short](1, -2, 3, -4), rate = 8000)
    val chunky = wav(Array.fill[Short](16000)(5), channels = 2,
      rate = 16000, extraChunks = true)
    val truncated = wav(Array[Short](1, 2, 3, 4), overstateData = 100)
    val garbage = "not audio at all".getBytes("UTF-8")
    val metas = Audio.parseWavHeader(
      df(1L -> mono, 2L -> chunky, 3L -> truncated, 4L -> garbage),
      "id", "content").collect().map(m => m.id -> m).toMap

    val m1 = metas(1L)
    assert(m1.parsed && m1.format == 1 && m1.sampleRate == 8000 &&
      m1.channels == 1 && m1.bitsPerSample == 16 && m1.nFrames == 4L &&
      m1.durationMs == 0L && m1.dataLen == 8L)

    val m2 = metas(2L) // 16000 interleaved shorts = 8000 stereo frames
    assert(m2.parsed && m2.channels == 2 && m2.sampleRate == 16000 &&
      m2.nFrames == 8000L && m2.durationMs == 500L)

    val m3 = metas(3L) // declared 108 bytes, 8 present -> clamped
    assert(m3.parsed && m3.dataLen == 8L && m3.nFrames == 4L)

    val m4 = metas(4L)
    assert(!m4.parsed && m4.sampleRate == 0 && m4.nFrames == 0L)
  }

  test("decodePcm16: exact samples, floor-division stereo mixdown, " +
      "maxFrames truncation, non-PCM fallback") {
    val monoSamples = Array[Short](100, -200, 32767, -32768, 0)
    val mono = wav(monoSamples)
    // stereo frames: (1,2)->1, (-1,-2)->-2 (floorDiv), (5,-4)->0
    val stereo = wav(Array[Short](1, 2, -1, -2, 5, -4), channels = 2)
    val floatFmt = wav(Array[Short](1, 2, 3), format = 3)
    val dec = Audio.decodePcm16(
      df(1L -> mono, 2L -> stereo, 3L -> floatFmt), "id", "content")
      .collect().map(d => d.id -> d).toMap

    assert(dec(1L).decoded &&
      dec(1L).samples.toSeq == monoSamples.map(_.toInt).toSeq)
    assert(dec(2L).decoded && dec(2L).channels == 2 &&
      dec(2L).samples.toSeq == Seq(1, -2, 0))
    assert(!dec(3L).decoded && dec(3L).samples.isEmpty)

    val capped = Audio.decodePcm16(df(1L -> mono), "id", "content",
      maxFrames = 3).collect().head
    assert(capped.samples.toSeq == Seq(100, -200, 32767) &&
      capped.nFrames == 5L, "cap truncates samples, reports full count")
  }

  test("windowEnergies / zeroCrossings / fingerprint: exact integer " +
      "values, zero-padded tail windows") {
    import spark.implicits._
    val d = Seq((1L, Seq(3, -4, 0, 2, 5))).toDF("id", "samples")
    val r = d.select(
      Audio.windowEnergies(col("samples"), window = 2, nWindows = 4)
        .as("e"),
      Audio.zeroCrossings(col("samples")).as("zc")).collect().head
    assert(r.getSeq[Long](0) == Seq(25L, 4L, 25L, 0L),
      "9+16, 0+4, 25+pad, pad-only window = 0")
    // sign-bit transitions: 3 >=0, -4 <0, 0 >=0, 2 >=0, 5 >=0 -> 2
    assert(r.getLong(1) == 2L)

    // fingerprint: energies strictly decreasing -> all 64 bits set;
    // strictly increasing -> none
    val desc = (0 to 64).map(i => (1000L - i): java.lang.Long)
    val asc = (0 to 64).map(i => (1000L + i): java.lang.Long)
    val fp = Seq((desc, asc)).toDF("d", "a").select(
      Audio.audioFingerprint64(col("d")).as("fd"),
      Audio.audioFingerprint64(col("a")).as("fa")).collect().head
    assert(fp.getLong(0) == -1L && fp.getLong(1) == 0L)
  }

  test("audioStats on real WAVs: exact planted metrics") {
    val s = Array[Short](10, -10, 20, -20, 30, -30, 40, -40)
    val stats = Audio.audioStats(df(1L -> wav(s, rate = 4000)),
      "id", "content", window = 4, nWindows = 2).collect().head
    assert(stats.getAs[Long]("n_samples") == 8L)
    assert(stats.getAs[Long]("peak_abs") == 40L)
    assert(stats.getAs[Long]("zero_crossings") == 7L)
    assert(stats.getAs[Long]("total_energy") ==
      s.map(x => x.toLong * x).sum)
    assert(stats.getAs[Long]("e1") == (100L + 100 + 400 + 400) &&
      stats.getAs[Long]("e2") == (900L + 900 + 1600 + 1600))
    assert(stats.getAs[Int]("sample_rate") == 4000)
  }

  test("audioNearDupPairs: re-gained and one-window-perturbed copies " +
      "found, distinct audio and undecodable payloads not") {
    val rnd = new scala.util.Random(7)
    // 65 windows x 16 frames; |s| <= 8000 so a 4x gain cannot clip
    val base = Array.fill[Short](65 * 16)((rnd.nextInt(16001) - 8000).toShort)
    val gained = base.map(x => (x * 4).toShort)
    val perturbed = base.clone()
    for (i <- 0 until 16) // rewrite window 0 only -> flips at most bit 0
      perturbed(i) = ((base(i) / 2) + 31).toShort
    val distinct = Array.fill[Short](65 * 16)((rnd.nextInt(16001) - 8000).toShort)
    val pairs = Audio.audioNearDupPairs(
      df(1L -> wav(base), 2L -> wav(gained), 3L -> wav(perturbed),
        4L -> wav(distinct), 5L -> "junk".getBytes("UTF-8")),
      "id", "content", window = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "uniform gain preserves the sig")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "one perturbed window is within the Hamming budget")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      "distinct audio must not pair")
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L),
      "undecodable payloads are excluded, not fabricated")
  }

  test("audioNearDupPairs auto window (default): the signature spans " +
      "the WHOLE clip — identical 1040-sample intros with different " +
      "tails do NOT pair; a full-length re-gained copy does") {
    val rnd = new scala.util.Random(11)
    // 65 * 64 = 4160 samples: four windows' worth of the old fixed-16
    // prefix, so the prefix-only failure mode is visible
    val long1 = Array.fill[Short](65 * 64)((rnd.nextInt(16001) - 8000).toShort)
    val gained = long1.map(x => (x * 2).toShort)
    // identical first 1040 samples (the ENTIRE span a fixed window=16
    // signature sees), genuinely different afterward
    val sharedIntro = long1.clone()
    for (i <- 1040 until long1.length)
      sharedIntro(i) = (rnd.nextInt(16001) - 8000).toShort
    val rows = df(1L -> wav(long1), 2L -> wav(gained),
      3L -> wav(sharedIntro))
    val auto = Audio.audioNearDupPairs(rows, "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto.contains((1L, 2L)),
      s"full-length re-gained copy must pair under auto window: $auto")
    assert(!auto.exists(p => p._1 == 3L || p._2 == 3L),
      s"a shared intro alone must NOT pair under auto window: $auto")
    // the fixed-width mode reproduces the documented prefix blindness
    // (it exists for known prefix-aligned corpora, and for the oracle)
    val fixed = Audio.audioNearDupPairs(rows, "id", "content",
      window = 16).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fixed.contains((1L, 3L)),
      s"fixed window=16 sees only the shared prefix: $fixed")
    // auto window on a 1040-sample clip IS window=16: the two modes
    // agree exactly where the oracle fixture lives
    val short1 = Array.fill[Short](65 * 16)((rnd.nextInt(16001) - 8000).toShort)
    val sAuto = Audio.audioSigs(df(9L -> wav(short1)), "id", "content")
      .collect().head.getLong(1)
    val sFixed = Audio.audioSigs(df(9L -> wav(short1)), "id", "content",
      window = 16).collect().head.getLong(1)
    assert(sAuto == sFixed)
  }

  test("parseWav: a declared chunk size near 2^32 ends the walk " +
      "(Long cursor, no Int wrap) instead of failing the task") {
    val out = new ByteArrayOutputStream()
    out.write("RIFF".getBytes("ISO-8859-1"))
    out.write(le32(0xFFFFFFF0L))
    out.write("WAVE".getBytes("ISO-8859-1"))
    out.write("JUNK".getBytes("ISO-8859-1"))
    out.write(le32(0xFFFFFFF0L)) // body + sz.toInt would go negative
    out.write(Array.fill[Byte](64)(0x7F))
    val metas = Audio.parseWavHeader(df(1L -> out.toByteArray),
      "id", "content").collect()
    assert(metas.length == 1 && !metas.head.parsed,
      "oversized chunk must fall out as parsed=false, not throw")
  }

  test("wavHeaderScan: prefix-bounded metadata parse equals the full " +
      "parse when the chunk table fits the prefix; a data chunk " +
      "header beyond the prefix is parsed=false, never fabricated") {
    val samples = Array.fill[Short](8000)(123)
    val full = wav(samples, channels = 2, rate = 16000,
      extraChunks = true)
    val fromFull = Audio.parseWavHeader(df(1L -> full), "id", "content")
      .collect().head
    // 128 bytes comfortably covers RIFF + LIST + fmt + note + the
    // data chunk HEADER, but none of the 32 KB of sample data
    val fromPrefix = Audio.wavHeaderScan(df(1L -> full), "id",
      "content", prefixBytes = 128).collect().head
    assert(fromPrefix == fromFull,
      s"prefix parse must equal full parse: $fromPrefix vs $fromFull")
    // 8000 interleaved stereo shorts = 4000 frames at 16 kHz = 250 ms
    assert(fromPrefix.parsed && fromPrefix.nFrames == 4000L &&
      fromPrefix.durationMs == 250L)
    // a prefix that ends before the data chunk header: honest failure
    val tiny = Audio.wavHeaderScan(df(1L -> full), "id", "content",
      prefixBytes = 40).collect().head
    assert(!tiny.parsed, s"data header beyond prefix must not parse: $tiny")
  }

  test("native audio kernels: audio_energies_native bit-equals the " +
      "windowEnergiesDyn HOF fold (fixed + per-row auto widths, " +
      "zero-padded tails, oversized windows, empty arrays) and " +
      "audio_stats_native bit-equals the three HOF stat folds") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    // shapes: exact multiple of the window, ragged tail, shorter than
    // one window, single sample, empty
    val rows = Seq(
      (1L, Array.fill(65 * 16)(rnd.nextInt(65536) - 32768)),
      (2L, Array.fill(1000)(rnd.nextInt(65536) - 32768)),
      (3L, Array.fill(7)(rnd.nextInt(65536) - 32768)),
      (4L, Array(12345)),
      (5L, Array.emptyIntArray))
    val df5 = rows.toDF("id", "samples")
    for (win <- Seq(1, 3, 16, 100, 5000)) {
      val got = df5.select(col("id"),
        graft.expressions.AudioExprs.energiesNative(col("samples"),
          lit(win), 65).as("n"),
        Audio.windowEnergiesDyn(col("samples"), lit(win), 65).as("h"))
        .collect()
      got.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"window=$win id=${r.getLong(0)}")
      }
    }
    // per-row AUTO width (the production default path)
    val auto = df5.select(col("id"),
      graft.expressions.AudioExprs.energiesNative(col("samples"),
        Audio.autoWindow(col("samples")), 65).as("n"),
      Audio.windowEnergiesDyn(col("samples"),
        Audio.autoWindow(col("samples")), 65).as("h")).collect()
    auto.foreach(r => assert(r.getSeq[Long](1) == r.getSeq[Long](2),
      s"auto id=${r.getLong(0)}"))
    // stats kernel vs the HOF reference folds
    val st = df5.select(col("id"),
      graft.expressions.AudioExprs.statsNative(col("samples")).as("s"),
      coalesce(array_max(transform(col("samples"),
        x => abs(x.cast("long")))), lit(0L)).as("peak"),
      Audio.zeroCrossings(col("samples")).as("zc"),
      aggregate(col("samples"), lit(0L),
        (acc, x) => acc + x.cast("long") * x.cast("long")).as("te"))
      .collect()
    st.foreach { r =>
      val s = r.getStruct(1)
      assert(s.getLong(0) == r.getLong(2), s"peak id=${r.getLong(0)}")
      assert(s.getLong(1) == r.getLong(3), s"zc id=${r.getLong(0)}")
      assert(s.getLong(2) == r.getLong(4), s"te id=${r.getLong(0)}")
    }
    // fail-loud on a non-positive window (the HOF form would silently
    // produce empty slices)
    val err = intercept[Exception] {
      df5.select(graft.expressions.AudioExprs.energiesNative(
        col("samples"), lit(0), 65)).collect()
    }
    assert(err.getMessage != null)
    // the kernels stay inside whole-stage codegen (the point: the HOF
    // fold is CodegenFallback and runs interpreted)
    // route through parquet: ConvertToLocalRelation would otherwise
    // fold the tiny local relation away before any codegen happens
    val pq = Fixtures.scratchDir("graft-audio-kernel-plan").toString
    df5.write.mode("overwrite").parquet(pq)
    val fromPq = spark.read.parquet(pq).select(
      graft.expressions.AudioExprs.energiesNative(col("samples"),
        lit(16), 65).as("n"),
      graft.expressions.AudioExprs.statsNative(col("samples")).as("s"))
    val plan = fromPq.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [audio_energies_native"), plan)
    assert(fromPq.count() == 5) // generated code compiles + runs
  }

  test("native fingerprint + synthetic-PCM kernels bit-equal their " +
      "HOF reference forms (gradient fold incl. null→0; fixture " +
      "arithmetic incl. the >=250 perturb branch and auto widths)") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    // energies arrays are ALWAYS exactly 65 entries in production
    // (energiesNative emits nWindows = 65); the HOF form threw on
    // shorter arrays under ANSI element_at, so the HOF comparison
    // runs on the production shape and short arrays pin the kernel's
    // total extension against a Scala reference
    val rows = Seq(
      (1L, Array.fill(65)(rnd.nextLong() % 1000000L)),
      (2L, Array.fill(65)(rnd.nextLong() % 1000000L)),
      (3L, Array.fill(66)(rnd.nextLong() % 1000000L)))
    // the HOF fold audioFingerprint64 replaced — kept here as the
    // replication recipe (matches the DuckDB oracle's formulation)
    def hofFingerprint(energies: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      aggregate(sequence(lit(0), lit(63)), lit(0L),
        (acc, i) => acc + when(
          element_at(energies, i + 1) > element_at(energies, i + 2),
          call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
    val fp = rows.toDF("id", "en").select(col("id"),
      Audio.audioFingerprint64(col("en")).as("n"),
      hofFingerprint(col("en")).as("h")).collect()
    fp.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"fingerprint id=${r.getLong(0)}"))
    // short arrays: gradient bits over what exists, no throw
    val short = Seq((6L, Array(9L, 3L, 7L)), (7L, Array(5L)),
      (8L, Array.emptyLongArray)).toDF("id", "en")
      .select(col("id"), Audio.audioFingerprint64(col("en"))).collect()
    assert(short.map(r => r.getLong(1)).toSeq == Seq(1L, 0L, 0L))
    // null array → 0, the HOF's when/otherwise contract
    val nullFp = Seq(Tuple1(Option.empty[Array[Long]])).toDF("en")
      .select(Audio.audioFingerprint64(col("en"))).collect()(0)
    assert(!nullFp.isNullAt(0) && nullFp.getLong(0) == 0L)
    // synthetic-PCM fixture kernels vs the HOF forms they replaced in
    // SparkEntry.syntheticPcm / syntheticPcmAutoClassed — ids straddle
    // the >=250 perturb threshold and cover every class base
    val ids = spark.range(0, 300).select(col("id").as("doc_id"))
    def hofPcm(n: Int, classed: Boolean): org.apache.spark.sql.Column = {
      val base =
        if (classed) (col("doc_id") % 64).cast("long") else col("doc_id")
      transform(sequence(lit(0), lit(n - 1)), k =>
        (pmod(base * lit(2654435761L) + k.cast("long") * lit(40503L) +
          (if (classed)
            when(col("doc_id") >= 250 && k < 4, 37L).otherwise(0L)
          else lit(0L)), lit(65536L)) - 32768L).cast("int"))
    }
    def hofPcmAuto: org.apache.spark.sql.Column = {
      val base = (col("doc_id") % 64).cast("long")
      val win = lit(2L) + pmod(base, lit(16L))
      transform(sequence(lit(0L), lit(65L) * win - 1L), k =>
        (pmod(base * lit(2654435761L) + k.cast("long") * lit(40503L) +
          when(col("doc_id") >= 250 && k < win, 37L).otherwise(0L),
          lit(65536L)) - 32768L).cast("int"))
    }
    for ((n, classed) <- Seq((256, false), (65 * 4, true))) {
      val got = ids.select(col("doc_id"),
        graft.expressions.AudioExprs
          .syntheticPcmNative(col("doc_id"), n, classed).as("n"),
        hofPcm(n, classed).as("h")).collect()
      got.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
        s"pcm n=$n classed=$classed id=${r.getLong(0)}"))
    }
    val auto = ids.select(col("doc_id"),
      graft.expressions.AudioExprs
        .syntheticPcmAutoNative(col("doc_id")).as("n"),
      hofPcmAuto.as("h")).collect()
    auto.foreach(r => assert(r.getSeq[Int](1) == r.getSeq[Int](2),
      s"pcmAuto id=${r.getLong(0)}"))
  }

  test("audio near-dup index: build once / admit many; appends are " +
      "transactional (uncommitted batches invisible); fail-loud on " +
      "params mismatch, missing sidecar, and crash-mid-rewrite; " +
      "rebuild drops batches") {
    import spark.implicits._
    val rnd = new scala.util.Random(21)
    def clip() =
      Array.fill[Short](65 * 16)((rnd.nextInt(16001) - 8000).toShort)
    val base1 = clip(); val base2 = clip()
    val freshA = clip(); val freshB = clip()
    val junk = "junk".getBytes("UTF-8")
    val dir = Fixtures.scratchDir("graft-audio-idx").toString
    val corpus = df(1L -> wav(base1), 2L -> wav(base2), 3L -> junk)
    Audio.writeAudioNearDupIndex(corpus, "id", "content", dir)
    // snapshot: a re-gained twin of corpus clip 1 (energy scales
    // uniformly -> identical gradient sig -> dropped), a genuinely
    // new clip (admitted), an undecodable payload (no signature ->
    // admitted; exact-byte dedup's job)
    val snap1 = df(10L -> wav(base1.map(x => (x * 2).toShort)),
      11L -> wav(freshA), 12L -> junk)
    val adm1 = Audio.incrementalAudioNearDedup(snap1, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm1 == Set(11L, 12L), adm1.toString)
    // append the admitted clips; the NEXT snapshot dedups against
    // corpus + admissions without any rebuild
    Audio.appendToAudioNearDupIndex(snap1.filter(col("id") >= 11),
      "id", "content", dir)
    val snap2 = df(20L -> wav(freshA.map(x => (x * 4).toShort)),
      21L -> wav(freshB))
    val adm2 = Audio.incrementalAudioNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm2 == Set(21L), adm2.toString)
    // transactional: a staged batch WITHOUT the commit marker is
    // invisible; the same batch becomes visible the instant the
    // marker lands
    Audio.audioSigs(df(999L -> wav(freshB)), "id", "content")
      .select(col("id"), col("sig").as("sh"))
      .write.parquet(s"$dir/batches/staged-test/sigs")
    val admStaged = Audio.incrementalAudioNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(admStaged == Set(21L),
      s"uncommitted batch leaked into admission: $admStaged")
    new java.io.File(s"$dir/batches/staged-test/_graft_committed")
      .createNewFile()
    val admCommitted = Audio.incrementalAudioNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(admCommitted == Set.empty,
      s"committed batch not read: $admCommitted")
    // fail-loud: window-params mismatch on append (the index was
    // built under the auto window); not-an-index path
    intercept[IllegalArgumentException] {
      Audio.appendToAudioNearDupIndex(snap2, "id", "content", dir,
        window = 16)
    }
    intercept[IllegalArgumentException] {
      Audio.incrementalAudioNearDedup(snap2, "id", "content",
        Fixtures.scratchDir("graft-audio-noidx")
          .toString)
    }
    // rebuild: batches from the previous generation are dropped, so
    // the twin of (no-longer-indexed) clip 11 is admitted again
    Audio.writeAudioNearDupIndex(corpus, "id", "content", dir)
    val adm3 = Audio.incrementalAudioNearDedup(snap2, "id",
      "content", dir).collect().map(_.getLong(0)).toSet
    assert(adm3 == Set(20L, 21L), adm3.toString)
    // crash-mid-rewrite contract: the writer deletes the sidecar
    // BEFORE touching any data, so a crash leaves a no-sidecar index
    // every reader rejects — never a stale sidecar over mixed
    // generations
    assert(new java.io.File(
      s"$dir/_graft_audio_index_params.json").delete())
    intercept[IllegalArgumentException] {
      Audio.incrementalAudioNearDedup(snap2, "id", "content", dir)
    }
  }

  test("streamingAudioNearDedup: STATELESS admission at maxDistance=0 " +
      "— byte-identical and re-gained indexed twins dropped (pins " +
      "energiesUdf = expression-path signature parity), fresh rows " +
      "emitted in their arrival batch without collapsing duplicates, " +
      "zero stateful operators; fixed-window index honored") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val rnd = new scala.util.Random(22)
    def clip() =
      Array.fill[Short](65 * 16)((rnd.nextInt(16001) - 8000).toShort)
    val base1 = clip(); val base2 = clip()
    val fresh = clip()
    val junk = "junk".getBytes("UTF-8")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def run(indexDir: String, table: String): Seq[Long] = {
      val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
      val sdf = mem.toDF().toDF("id", "ts", "content")
      // maxDistance = 0: a drop REQUIRES the streaming UDF signature
      // to equal the index's expression-built signature bit-for-bit
      val q = Audio.streamingAudioNearDedup(sdf, "id", "content",
          "ts", indexDir, lateness = "10 minutes", maxDistance = 0)
        .writeStream.format("memory").queryName(table)
        .outputMode("append").start()
      def ids() = spark.table(table).collect().map(_.getLong(0)).toSeq
      try {
        // batch 1: byte-identical twin of indexed clip 1 (dropped —
        // the parity pin), a fresh clip, and an EXACT duplicate of
        // that fresh row — both copies emit IN THIS BATCH
        val freshWav = wav(fresh)
        mem.addData(
          (1L, ts("2024-01-01 00:00:00"), wav(base1)),
          (2L, ts("2024-01-01 00:00:01"), freshWav),
          (2L, ts("2024-01-01 00:00:01"), freshWav))
        q.processAllAvailable()
        assert(ids().sorted == Seq(2L, 2L), s"batch1 got ${ids()}")
        // batch 2: re-gained twin of indexed clip 2 (uniform gain
        // preserves the gradient sig exactly -> dropped even at
        // distance 0) and an undecodable payload (admitted, same
        // batch)
        mem.addData(
          (3L, ts("2024-01-01 00:00:02"),
            wav(base2.map(x => (x * 2).toShort))),
          (4L, ts("2024-01-01 00:00:03"), junk))
        q.processAllAvailable()
        assert(ids().sorted == Seq(2L, 2L, 4L), s"batch2 got ${ids()}")
        // the executed plan carries NO stateful operator: per-row
        // streaming state is zero bytes whatever the payload size
        import org.apache.spark.sql.execution.streaming.operators
          .stateful.StateStoreWriter
        val exec = q.asInstanceOf[org.apache.spark.sql.execution
            .streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
        val stateOps = exec.collect { case s: StateStoreWriter => s }
        assert(stateOps.isEmpty,
          s"expected zero stateful operators, got $stateOps")
        ids()
      } finally q.stop()
    }
    val corpus = df(100L -> wav(base1), 101L -> wav(base2))
    // auto-window index (the default): pins the UDF's auto path
    val autoDir = Fixtures.scratchDir("graft-audio-stream-auto").toString
    Audio.writeAudioNearDupIndex(corpus, "id", "content", autoDir)
    run(autoDir, "stream_audio_auto")
    // fixed-window index: the stream re-hashes under the sidecar's
    // recorded width — pins the UDF's fixed path
    val fixedDir = Fixtures.scratchDir("graft-audio-stream-fixed").toString
    Audio.writeAudioNearDupIndex(corpus, "id", "content", fixedDir,
      window = 16)
    run(fixedDir, "stream_audio_fixed")
  }

  test("segmentClips: fixed-width mono segments re-encoded as REAL " +
      "WAVs — decodePcm16 round-trips the exact slice at the source " +
      "rate; trailing remainder dropped; overlapping hop; honest " +
      "marker row") {
    val rnd = new scala.util.Random(23)
    val samples =
      Array.fill[Short](100)((rnd.nextInt(16001) - 8000).toShort)
    val segs = Audio.segmentClips(
      df(1L -> wav(samples, rate = 44100)), "id", "content",
      segmentFrames = 40).collect().sortBy(_.segIdx)
    assert(segs.length == 2 && segs.forall(_.decoded)) // 20-frame tail dropped
    assert(segs.map(_.startFrame).toSeq == Seq(0L, 40L))
    for (sg <- segs) {
      val dec = Audio.decodePcm16(df(9L -> sg.wav), "id", "content")
        .collect().head
      assert(dec.decoded && dec.sampleRate == 44100 && dec.nFrames == 40L)
      assert(dec.samples.toSeq == samples
        .slice(sg.startFrame.toInt, sg.startFrame.toInt + 40)
        .map(_.toInt).toSeq)
    }
    // overlapping shingles: hop 20 under width 40 -> starts 0,20,40,60
    val sh = Audio.segmentClips(df(1L -> wav(samples)), "id", "content",
      segmentFrames = 40, hopFrames = 20).collect()
    assert(sh.map(_.startFrame).sorted.toSeq == Seq(0L, 20L, 40L, 60L))
    // honesty: undecodable payload -> one marker row
    val mk = Audio.segmentClips(df(2L -> "junk".getBytes("UTF-8")),
      "id", "content", segmentFrames = 40).collect()
    assert(mk.length == 1 && !mk.head.decoded && mk.head.segIdx == -1L
      && mk.head.wav.isEmpty)
  }

  test("segment-level admission finds a known jingle INSIDE a longer " +
      "clip — the composition the duration-normalized whole-clip " +
      "fingerprint deliberately does not pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(24)
    def noise(n: Int) =
      Array.fill[Short](n)((rnd.nextInt(16001) - 8000).toShort)
    val jingle = noise(65 * 16) // 1040 frames
    val long = noise(1040) ++ jingle ++ noise(1040)
    val dir = Fixtures.scratchDir("graft-jingle-idx").toString
    Audio.writeAudioNearDupIndex(df(1L -> wav(jingle)), "id",
      "content", dir)
    val segs = Audio.segmentClips(df(7L -> wav(long)), "id", "content",
      segmentFrames = 1040).toDF()
      .filter(col("decoded"))
      .select((col("id") * 100 + col("segIdx")).as("id"), col("wav"))
    // maxDistance = 0: the drop REQUIRES the segment's re-encoded WAV
    // to fingerprint bit-identically to the indexed jingle clip
    val admitted = Audio.incrementalAudioNearDedup(segs, "id", "wav",
      dir, maxDistance = 0).collect().map(_.getLong(0)).toSet
    assert(admitted == Set(700L, 702L),
      s"jingle segment not dropped (or noise dropped): $admitted")
    // the whole-clip auto-window fingerprint spans the WHOLE clip, so
    // clip-containing-jingle does NOT pair with the jingle itself —
    // exactly why jingle detection needs the segment layout
    val pairs = Audio.audioNearDupPairs(
      df(1L -> wav(jingle), 2L -> wav(long)), "id", "content")
      .collect()
    assert(pairs.isEmpty, pairs.mkString(","))
  }

  test("oracle fixture link: a real WAV carrying the synthetic stream " +
      "decodes to exactly the expression-built samples") {
    import spark.implicits._
    // q_audio_stats stream for doc_id = 7: pmod(7*2654435761 + k*40503,
    // 65536) - 32768, k in 0..255
    val expect = Array.tabulate(256) { k =>
      (Math.floorMod(7L * 2654435761L + k * 40503L, 65536L) - 32768L).toInt
    }
    val bytes = wav(expect.map(_.toShort))
    val got = Audio.decodePcm16(df(7L -> bytes), "id", "content")
      .collect().head
    assert(got.decoded && got.samples.toSeq == expect.toSeq,
      "the DuckDB-replicable synthetic stream IS real 16-bit PCM")
  }

  // ---- IMA ADPCM (format 0x11) ---------------------------------------

  /** Independent straight-from-the-spec IMA decode of one block's
    * codes — the reference the library walk is pinned against.
    */
  private def imaRef(pred0: Int, idx0: Int, codes: Seq[Int]): Seq[Int] = {
    var pred = pred0
    var idx = idx0
    pred0 +: codes.map { code =>
      val step = Audio.ImaStepTable(idx)
      var d = step >> 3
      if ((code & 1) != 0) d += step >> 2
      if ((code & 2) != 0) d += step >> 1
      if ((code & 4) != 0) d += step
      pred = math.max(-32768,
        math.min(32767, if ((code & 8) != 0) pred - d else pred + d))
      idx = math.max(0, math.min(88, idx + Audio.ImaIndexTable(code)))
      pred
    }
  }

  /** Hand-rolled mono IMA ADPCM WAV: fmt(20) with cbSize=2 +
    * samples/block, optional fact, then raw blocks.
    */
  private def imaWav(blocks: Seq[(Int, Int, Seq[Int])], blockAlign: Int,
      rate: Int = 8000, fact: Long = -1L): Array[Byte] = {
    val spb = (blockAlign - 4) * 2 + 1
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    val dataLen = blocks.length * blockAlign
    val factLen = if (fact >= 0) 12 else 0
    put("RIFF".getBytes("US-ASCII"))
    put(le32(4L + 28 + factLen + 8 + dataLen))
    put("WAVE".getBytes("US-ASCII"))
    put("fmt ".getBytes("US-ASCII")); put(le32(20L))
    put(le16(0x11)); put(le16(1)); put(le32(rate.toLong))
    put(le32(rate.toLong * blockAlign / spb))
    put(le16(blockAlign)); put(le16(4)); put(le16(2)); put(le16(spb))
    if (fact >= 0) {
      put("fact".getBytes("US-ASCII")); put(le32(4L)); put(le32(fact))
    }
    put("data".getBytes("US-ASCII")); put(le32(dataLen.toLong))
    blocks.foreach { case (pred0, idx0, codes) =>
      require(codes.length == 2 * (blockAlign - 4))
      put(le16(pred0 & 0xFFFF)); bos.write(idx0); bos.write(0)
      codes.grouped(2).foreach(p => bos.write(p(0) | (p(1) << 4)))
    }
    bos.toByteArray
  }

  test("IMA ADPCM: reference tables carry the published values and " +
      "the library decode is bit-identical to a straight-from-spec " +
      "reference fold, block state re-initialized per block") {
    assert(Audio.ImaStepTable.length == 89)
    assert(Audio.ImaStepTable(0) == 7 && Audio.ImaStepTable(44) == 494 &&
      Audio.ImaStepTable(88) == 32767)
    assert(Audio.ImaIndexTable.toSeq ==
      Seq(-1, -1, -1, -1, 2, 4, 6, 8, -1, -1, -1, -1, 2, 4, 6, 8))
    val b0 = (1000, 20, (0 until 16).map(k => (k * 7 + 3) % 16))
    val b1 = (-2000, 88, (0 until 16).map(k => (k * 11 + 5) % 16))
    val bytes = imaWav(Seq(b0, b1), blockAlign = 12)
    val got = Audio.decodePcm16(df(1L -> bytes), "id", "content")
      .collect().head
    assert(got.decoded && got.sampleRate == 8000 && got.channels == 1)
    val expect = imaRef(b0._1, b0._2, b0._3) ++ imaRef(b1._1, b1._2, b1._3)
    assert(got.nFrames == 34 && got.samples.toSeq == expect,
      s"${got.samples.toSeq} vs $expect")
  }

  test("IMA ADPCM: encode->decode round trip — exact block-leading " +
      "samples, smooth signals tracked within codec error, fact chunk " +
      "clamps nFrames to the true count, deterministic") {
    val input = Array.tabulate(90)(k =>
      (1000 * math.sin(k / 40.0)).toInt) // smooth: slope ~25/sample
    val bytes = Audio.encodeImaAdpcmWav(input, rate = 8000,
      blockAlign = 16)
    val got = Audio.decodePcm16(df(1L -> bytes), "id", "content")
      .collect().head
    assert(got.decoded)
    // fact clamps nFrames to the true count 90, NOT the 4 x 25 = 100
    // samples the padded block layout could hold
    assert(got.nFrames == 90, s"nFrames=${got.nFrames}")
    assert(got.samples.length == 90)
    // block-leading samples are stored verbatim (spb = 25 here)
    assert(got.samples(0) == input(0) && got.samples(25) == input(25) &&
      got.samples(50) == input(50) && got.samples(75) == input(75))
    val maxErr = input.indices.map(i =>
      math.abs(input(i) - got.samples(i))).max
    assert(maxErr <= 64, s"ADPCM tracking error $maxErr")
    val again = Audio.decodePcm16(df(1L -> bytes), "id", "content")
      .collect().head
    assert(again.samples.toSeq == got.samples.toSeq)
  }

  test("IMA ADPCM honesty: truncated final block decodes only what " +
      "is present; stereo/odd-bit/short-block ADPCM and lying " +
      "declared spb are refused or clamped, never fabricated") {
    val b0 = (500, 10, (0 until 16).map(k => (k * 5 + 1) % 16))
    val full = imaWav(Seq(b0, b0), blockAlign = 12)
    // cut 5 bytes off the final block: 7 bytes remain -> 4 header +
    // 3 data bytes = 1 + 6 samples
    val cut = java.util.Arrays.copyOf(full, full.length - 5)
    val got = Audio.decodePcm16(df(1L -> cut), "id", "content")
      .collect().head
    assert(got.decoded && got.nFrames == 17 + 7,
      s"nFrames=${got.nFrames}")
    assert(got.samples.toSeq ==
      (imaRef(b0._1, b0._2, b0._3) ++
        imaRef(b0._1, b0._2, b0._3.take(6))))
    // a stereo claim over a mono-shaped block (blockAlign 12 cannot
    // close on whole 4-byte-per-channel rounds): honestly unparsed
    val stereo = full.clone()
    stereo(22) = 2 // nChannels field inside fmt
    val m = Audio.parseWavHeader(df(1L -> stereo), "id", "content")
      .collect().head
    assert(!m.parsed)
    // declared spb above block capacity is clamped to capacity
    val lying = full.clone()
    // spb field at fmt body + 18 = offset 20 + 18 = 38
    lying(38) = 0xFF.toByte; lying(39) = 0x7F.toByte
    val lm = Audio.parseWavHeader(df(1L -> lying), "id", "content")
      .collect().head
    assert(lm.parsed && lm.nFrames == 34, s"nFrames=${lm.nFrames}")
  }

  /** Hand-rolled STEREO IMA ADPCM WAV: per-channel 4-byte headers,
    * then round-robin 4-byte data groups (8 nibbles each).
    */
  private def imaWavStereo(
      blocks: Seq[Seq[(Int, Int, Seq[Int])]], blockAlign: Int,
      rate: Int = 8000): Array[Byte] = {
    val ch = 2
    val spb = (blockAlign - 4 * ch) * 2 / ch + 1
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    val dataLen = blocks.length * blockAlign
    put("RIFF".getBytes("US-ASCII"))
    put(le32(4L + 28 + 8 + dataLen))
    put("WAVE".getBytes("US-ASCII"))
    put("fmt ".getBytes("US-ASCII")); put(le32(20L))
    put(le16(0x11)); put(le16(ch)); put(le32(rate.toLong))
    put(le32(rate.toLong * blockAlign / spb))
    put(le16(blockAlign)); put(le16(4)); put(le16(2)); put(le16(spb))
    put("data".getBytes("US-ASCII")); put(le32(dataLen.toLong))
    blocks.foreach { chans =>
      require(chans.length == ch)
      chans.foreach { case (pred0, idx0, codes) =>
        require(codes.length == spb - 1)
        put(le16(pred0 & 0xFFFF)); bos.write(idx0); bos.write(0)
      }
      // round-robin 4-byte groups: 8 nibbles per group per channel
      val groups = (spb - 1) / 8
      (0 until groups).foreach { g =>
        chans.foreach { case (_, _, codes) =>
          codes.slice(8 * g, 8 * g + 8).grouped(2)
            .foreach(p => bos.write(p(0) | (p(1) << 4)))
        }
      }
    }
    bos.toByteArray
  }

  test("stereo IMA ADPCM: per-channel state decodes independently, " +
      "frames mix down by floor-division mean, truncation binds to " +
      "the last channel's complete rounds") {
    // blockAlign 24, ch 2: spb = 17, two 4-byte groups per channel
    val c0 = (800, 12, (0 until 16).map(k => (k * 3 + 2) % 16))
    val c1 = (-900, 30, (0 until 16).map(k => (k * 9 + 7) % 16))
    val bytes = imaWavStereo(Seq(Seq(c0, c1)), blockAlign = 24)
    val m = Audio.parseWavHeader(df(1L -> bytes), "id", "content")
      .collect().head
    assert(m.parsed && m.channels == 2 && m.nFrames == 17)
    val got = Audio.decodePcm16(df(1L -> bytes), "id", "content")
      .collect().head
    assert(got.decoded && got.channels == 2)
    val s0 = imaRef(c0._1, c0._2, c0._3)
    val s1 = imaRef(c1._1, c1._2, c1._3)
    val expect = (0 until 17).map(f =>
      math.floorDiv(s0(f).toLong + s1(f), 2).toInt)
    assert(got.samples.toSeq == expect,
      s"${got.samples.toSeq} vs $expect")
    // truncate away the final 4-byte group (channel 1's second):
    // channel 1 then has 1 complete round -> frames = 1 + 8 = 9
    val cut = java.util.Arrays.copyOf(bytes, bytes.length - 4)
    val gotCut = Audio.decodePcm16(df(1L -> cut), "id", "content")
      .collect().head
    assert(gotCut.nFrames == 9, s"nFrames=${gotCut.nFrames}")
    assert(gotCut.samples.toSeq == expect.take(9))
  }

  test("IMA ADPCM rides the audio family: metadata scan reports the " +
      "compressed format, and the PCM16 re-wrap of the decoded " +
      "samples fingerprints IDENTICALLY (cross-codec bridge)") {
    val input = Array.tabulate(300)(k =>
      (3000 * math.sin(k / 5.0)).toInt)
    val adpcm = Audio.encodeImaAdpcmWav(input, rate = 8000,
      blockAlign = 16)
    val meta = Audio.wavHeaderScan(df(1L -> adpcm), "id", "content")
      .collect().head
    assert(meta.parsed && meta.format == 0x11 && meta.bitsPerSample == 4
      && meta.nFrames == 300 && meta.durationMs == 300 * 1000L / 8000)
    val decoded = Audio.decodePcm16(df(1L -> adpcm), "id", "content")
      .collect().head.samples
    val pcmTwin = Audio.wrapWav(decoded, 0, decoded.length, 8000)
    val sigs = Audio.audioSigs(
      df(1L -> adpcm, 2L -> pcmTwin), "id", "content")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs.keySet == Set(1L, 2L))
    assert(sigs(1L) == sigs(2L),
      s"cross-codec fingerprints differ: $sigs")
    val pairs = Audio.audioNearDupPairs(
      df(1L -> adpcm, 2L -> pcmTwin), "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), pairs.mkString(","))
  }

  // ---- wide PCM (24/32-bit) + WAVE_FORMAT_EXTENSIBLE -------------------

  /** Hand-rolled integer-PCM WAV at 16/24/32 bits, plain fmt or
    * WAVE_FORMAT_EXTENSIBLE (cbSize 22 + PCM SubFormat GUID).
    */
  private def pcmWav(bits: Int, raw: Seq[Int], channels: Int = 1,
      rate: Int = 8000, extensible: Boolean = false): Array[Byte] = {
    val bps = bits / 8
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    val dataLen = raw.length * bps
    val fmtSz = if (extensible) 40 else 16
    put("RIFF".getBytes("US-ASCII")); put(le32(20L + fmtSz + dataLen))
    put("WAVE".getBytes("US-ASCII"))
    put("fmt ".getBytes("US-ASCII")); put(le32(fmtSz.toLong))
    put(le16(if (extensible) 0xFFFE else 1)); put(le16(channels))
    put(le32(rate.toLong)); put(le32(rate.toLong * bps * channels))
    put(le16(bps * channels)); put(le16(bits))
    if (extensible) {
      put(le16(22)); put(le16(bits)); put(le32(0L)) // cbSize, valid, mask
      // KSDATAFORMAT_SUBTYPE_PCM GUID, little-endian layout
      put(Array(0x01, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
        0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)
        .map(_.toByte))
    }
    put("data".getBytes("US-ASCII")); put(le32(dataLen.toLong))
    raw.foreach { v =>
      (0 until bps).foreach(i => bos.write((v >> (8 * i)) & 0xFF))
    }
    bos.toByteArray
  }

  test("8-bit unsigned PCM: the 128-bias scaling is exact (the only " +
      "unsigned WAV width), stereo means after scaling, and the " +
      "extensible wrapper unwraps it too") {
    val raw8 = Seq(0, 128, 255, 1, 200)
    val got = Audio.decodePcm16(df(1L -> pcmWav(8, raw8)), "id",
      "content").collect().head
    assert(got.decoded && got.nFrames == 5 && got.sampleRate == 8000)
    assert(got.samples.toSeq == raw8.map(b => (b - 128) << 8),
      got.samples.toSeq.toString)
    // stereo: scale per channel, then floor-mean
    val st = Audio.decodePcm16(
      df(1L -> pcmWav(8, Seq(0, 255, 128, 130), channels = 2)),
      "id", "content").collect().head
    assert(st.decoded && st.nFrames == 2)
    assert(st.samples.toSeq == Seq(
      math.floorDiv((-128 << 8) + (127 << 8), 2), (2 << 8) / 2),
      st.samples.toSeq.toString)
    val ext = Audio.decodePcm16(
      df(1L -> pcmWav(8, raw8, extensible = true)), "id", "content")
      .collect().head
    assert(ext.decoded && ext.samples.toSeq == got.samples.toSeq)
  }

  test("24/32-bit integer PCM: high-bits scaling is exact (arithmetic " +
      "shift incl. negatives and range corners), stereo mixes after " +
      "scaling; WAVE_FORMAT_EXTENSIBLE unwraps to the SubFormat codec " +
      "and a too-small cbSize is honestly undecodable") {
    val raw24 = Seq(0x123456, -1, -0x800000, 0x7FFFFF, 0)
    val got24 = Audio.decodePcm16(
      df(1L -> pcmWav(24, raw24)), "id", "content").collect().head
    assert(got24.decoded && got24.nFrames == 5)
    assert(got24.samples.toSeq == raw24.map(_ >> 8),
      got24.samples.toSeq.toString)
    val raw32 = Seq(0x12345678, -1, Int.MinValue, Int.MaxValue)
    val got32 = Audio.decodePcm16(
      df(1L -> pcmWav(32, raw32)), "id", "content").collect().head
    assert(got32.samples.toSeq == raw32.map(_ >> 16),
      got32.samples.toSeq.toString)
    // stereo 24-bit: floor-mean of the SCALED samples
    val st = Audio.decodePcm16(
      df(1L -> pcmWav(24, Seq(0x100000, -0x100000, 0x000100, 0x000300),
        channels = 2)), "id", "content").collect().head
    assert(st.channels == 2 && st.samples.toSeq == Seq(
      math.floorDiv((0x100000 >> 8) + (-0x100000 >> 8), 2),
      math.floorDiv((0x000100 >> 8) + (0x000300 >> 8), 2)))
    // extensible PCM16 ≡ plain PCM16, and the scan reports the
    // EFFECTIVE codec
    val samples = Array.tabulate(50)(k => (k * 997 - 25000))
    val plain = Audio.decodePcm16(
      df(1L -> pcmWav(16, samples.toSeq)), "id", "content")
      .collect().head
    val ext = Audio.decodePcm16(
      df(1L -> pcmWav(16, samples.toSeq, extensible = true)),
      "id", "content").collect().head
    assert(ext.decoded && ext.samples.toSeq == plain.samples.toSeq)
    val m = Audio.wavHeaderScan(
      df(1L -> pcmWav(24, raw24, extensible = true)), "id", "content")
      .collect().head
    assert(m.parsed && m.format == 1 && m.bitsPerSample == 24 &&
      m.nFrames == 5)
    // extensible with cbSize < 22: the 0xFFFE tag stays, decode
    // refuses honestly
    val badExt = pcmWav(16, samples.toSeq, extensible = true)
    badExt(36) = 2 // cbSize field (fmt body offset 16)
    val gotBad = Audio.decodePcm16(df(1L -> badExt), "id", "content")
      .collect().head
    assert(!gotBad.decoded)
  }

  /** Hand-rolled IEEE float32 PCM WAV (format 3, or extensible with
    * the float SubFormat GUID).
    */
  private def floatWav(raw: Seq[Float], channels: Int = 1,
      rate: Int = 8000, extensible: Boolean = false): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    val dataLen = raw.length * 4
    val fmtSz = if (extensible) 40 else 16
    put("RIFF".getBytes("US-ASCII")); put(le32(20L + fmtSz + dataLen))
    put("WAVE".getBytes("US-ASCII"))
    put("fmt ".getBytes("US-ASCII")); put(le32(fmtSz.toLong))
    put(le16(if (extensible) 0xFFFE else 3)); put(le16(channels))
    put(le32(rate.toLong)); put(le32(rate.toLong * 4 * channels))
    put(le16(4 * channels)); put(le16(32))
    if (extensible) {
      put(le16(22)); put(le16(32)); put(le32(0L))
      put(Array(0x03, 0x00, 0x00, 0x00, 0x00, 0x00, 0x10, 0x00,
        0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)
        .map(_.toByte))
    }
    put("data".getBytes("US-ASCII")); put(le32(dataLen.toLong))
    raw.foreach { f =>
      val bits = java.lang.Float.floatToIntBits(f)
      (0 until 4).foreach(i => bos.write((bits >> (8 * i)) & 0xFF))
    }
    bos.toByteArray
  }

  test("IEEE float32 PCM: power-of-two scaling is exact (v/32768 " +
      "decodes to exactly v), half-even tie rounding, clamping, " +
      "NaN -> 0; the extensible float SubFormat unwraps") {
    val vs = Seq(0, 1, -1, 100, -5000, 32767, -32768)
    val exact = Audio.decodePcm16(
      df(1L -> floatWav(vs.map(v => v / 32768f))), "id", "content")
      .collect().head
    assert(exact.decoded && exact.samples.toSeq == vs)
    val corners = Audio.decodePcm16(
      df(1L -> floatWav(Seq(1.5f, -2.0f, Float.NaN,
        100.5f / 32768f, 101.5f / 32768f))), "id", "content")
      .collect().head
    // clamp high/low; NaN honest zero; .5 ties round half-even
    assert(corners.samples.toSeq == Seq(32767, -32768, 0, 100, 102),
      corners.samples.toSeq.toString)
    val ext = Audio.decodePcm16(
      df(1L -> floatWav(vs.map(v => v / 32768f), extensible = true)),
      "id", "content").collect().head
    assert(ext.decoded && ext.samples.toSeq == vs)
    val m = Audio.wavHeaderScan(
      df(1L -> floatWav(vs.map(v => v / 32768f), extensible = true)),
      "id", "content").collect().head
    assert(m.parsed && m.format == 3 && m.bitsPerSample == 32)
  }

  // ---- G.711 (A-law / mu-law) ------------------------------------------

  /** Hand-rolled 8-bit G.711 WAV (format 6 or 7). */
  private def g711Wav(format: Int, data: Array[Byte], channels: Int = 1,
      rate: Int = 8000): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    def put(b: Array[Byte]): Unit = bos.write(b, 0, b.length)
    put("RIFF".getBytes("US-ASCII")); put(le32(36L + data.length))
    put("WAVE".getBytes("US-ASCII"))
    put("fmt ".getBytes("US-ASCII")); put(le32(16L))
    put(le16(format)); put(le16(channels)); put(le32(rate.toLong))
    put(le32(rate.toLong * channels)); put(le16(channels)); put(le16(8))
    put("data".getBytes("US-ASCII")); put(le32(data.length.toLong))
    put(data)
    bos.toByteArray
  }

  test("G.711: published expansion reference points decode exactly " +
      "(mu-law +/-0, +/-32124; A-law +/-8, +/-32256), stereo mixes " +
      "by floor mean, and clips ride the audio family") {
    // mu-law byte -> linear, the CCITT table corners
    val mu = g711Wav(7, Array(0xFF, 0x7F, 0x00, 0x80).map(_.toByte))
    val gotMu = Audio.decodePcm16(df(1L -> mu), "id", "content")
      .collect().head
    assert(gotMu.decoded && gotMu.sampleRate == 8000)
    assert(gotMu.samples.toSeq == Seq(0, 0, -32124, 32124),
      gotMu.samples.toSeq.toString)
    // A-law corners
    val al = g711Wav(6, Array(0x55, 0xD5, 0x2A, 0xAA).map(_.toByte))
    val gotAl = Audio.decodePcm16(df(1L -> al), "id", "content")
      .collect().head
    assert(gotAl.samples.toSeq == Seq(-8, 8, -32256, 32256),
      gotAl.samples.toSeq.toString)
    // stereo: floor-division mean of the per-channel expansions
    val st = g711Wav(7, Array(0x00, 0xFF, 0x80, 0x7F).map(_.toByte),
      channels = 2)
    val gotSt = Audio.decodePcm16(df(1L -> st), "id", "content")
      .collect().head
    assert(gotSt.channels == 2 && gotSt.nFrames == 2)
    assert(gotSt.samples.toSeq == Seq(
      math.floorDiv(-32124 + 0, 2), math.floorDiv(32124 + 0, 2)))
    // metadata + family: format visible in the scan; two byte-level
    // copies of one mu-law clip pair at distance 0
    val m = Audio.wavHeaderScan(df(1L -> mu), "id", "content")
      .collect().head
    assert(m.parsed && m.format == 7 && m.bitsPerSample == 8 &&
      m.nFrames == 4)
    val data = Array.tabulate(300)(k => ((k * 37 + 11) % 256).toByte)
    val pairs = Audio.audioNearDupPairs(
      df(1L -> g711Wav(7, data), 2L -> g711Wav(7, data)),
      "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)), pairs.mkString(","))
  }

  // ---- rate-normalized fingerprinting ---------------------------------

  test("resampleLinear: identity at equal rates, exact decimation at " +
      "integer ratios, floor-division interpolation on upsampling " +
      "(negative deltas floor toward -inf)") {
    val s = Array(10, -20, 30, -40, 50)
    assert(Audio.resampleLinear(s, 8000, 8000) eq s)
    // 16k -> 8k: every second sample, exactly
    assert(Audio.resampleLinear(s, 16000, 8000).toSeq == Seq(10, 30, 50))
    // 4k -> 8k: midpoints are s0 + floorDiv(s1-s0, 2) — NOT truncation:
    // (-20-10)/2 = -15 exactly, (30-(-20))/2 = 25, floorDiv(-70,2)=-35
    assert(Audio.resampleLinear(s, 4000, 8000).toSeq ==
      Seq(10, -5, -20, 5, 30, -5, -40, 5, 50))
    // floorDiv on an odd negative delta: 0 -> -5 midpoint is -3, not -2
    assert(Audio.resampleLinear(Array(0, -5), 4000, 8000).toSeq ==
      Seq(0, -3, -5))
    // non-divisible ratio: output spans the endpoints, length
    // floor((n-1)*to/from) + 1
    val r = Audio.resampleLinear(Array(0, 300, 600), 12000, 8000)
    assert(r.toSeq == Seq(0, 450)) // positions 0, 1.5 of source
  }

  test("rate-normalized near-dup: 8k/16k/4k carriers of the SAME " +
      "content pair at distance 0 under canonicalRate, do NOT pair " +
      "rate-naive, distinct content never pairs") {
    // piecewise-linear content with 4 kHz nodes, so every rate's
    // resample to 8 kHz reconstructs the identical canonical array
    def node(cls: Long, k: Int): Int =
      (Math.floorMod(cls * 2654435761L + k * 40503L, 65536L) - 32768L)
        .toInt
    def c8(cls: Long, j: Int): Int =
      if (j % 2 == 0) node(cls, j / 2)
      else {
        val w0 = node(cls, (j - 1) / 2); val w1 = node(cls, (j + 1) / 2)
        w0 + math.floorDiv(w1 - w0, 2)
      }
    def wav8(cls: Long) =
      Audio.wrapWav(Array.tabulate(259)(c8(cls, _)), 0, 259, 8000)
    def wav16(cls: Long) = {
      val s = Array.tabulate(517) { k =>
        if (k % 2 == 0) c8(cls, k / 2)
        else {
          val a = c8(cls, (k - 1) / 2); val b = c8(cls, (k + 1) / 2)
          a + math.floorDiv(b - a, 2)
        }
      }
      Audio.wrapWav(s, 0, 517, 16000)
    }
    def wav4(cls: Long) =
      Audio.wrapWav(Array.tabulate(130)(node(cls, _)), 0, 130, 4000)
    val rows = df(1L -> wav8(0), 2L -> wav16(0), 3L -> wav4(0),
      4L -> wav8(1))
    val rated = Audio.audioNearDupPairs(rows, "id", "content",
      canonicalRate = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(rated == Set((1L, 2L, 0L), (1L, 3L, 0L), (2L, 3L, 0L)),
      rated.toString)
    // rate-naive: the same three carriers do NOT pair (different
    // sample counts -> different auto windows -> different profiles)
    val naive = Audio.audioNearDupPairs(rows, "id", "content")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(naive.isEmpty, naive.mkString(","))
  }

  test("cross-codec rate normalization: ADPCM, G.711, float and wide " +
      "PCM carriers all flow through canonicalRate resampling — " +
      "byte-identical copies pair regardless of codec") {
    // one content, four codecs: each pair of byte-identical copies
    // must pair at distance 0 under a canonical rate (the resample
    // runs AFTER each codec's decode, so every branch reaches it)
    val pcm = Array.tabulate(300)(k => (2000 * math.sin(k / 9.0)).toInt)
    val adpcm = Audio.encodeImaAdpcmWav(pcm, 8000, blockAlign = 16)
    val mu = g711Wav(7, Array.tabulate(300)(k =>
      ((k * 37 + 11) % 256).toByte))
    val fl = floatWav(Array.tabulate(300)(k =>
      ((k * 997 - 150000) % 32768) / 32768f).toSeq)
    val wide = pcmWav(24, Array.tabulate(300)(k =>
      (k * 31013 - 4000000) % 8388608).toSeq)
    val rows = df(
      1L -> adpcm, 2L -> adpcm.clone(),
      3L -> mu, 4L -> mu.clone(),
      5L -> fl, 6L -> fl.clone(),
      7L -> wide, 8L -> wide.clone())
    val pairs = Audio.audioNearDupPairs(rows, "id", "content",
      canonicalRate = 8000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pairs == Set((1L, 2L, 0L), (3L, 4L, 0L), (5L, 6L, 0L),
      (7L, 8L, 0L)), pairs.toString)
  }

  test("rate-normalized index lifecycle: sidecar records the rate, " +
      "admission re-hashes under it (16 kHz twin of an 8 kHz corpus " +
      "clip is dropped, batch AND streaming), mismatched-rate append " +
      "fails loud") {
    import spark.implicits._
    def node(cls: Long, k: Int): Int =
      (Math.floorMod(cls * 2654435761L + k * 40503L, 65536L) - 32768L)
        .toInt
    def c8(cls: Long, j: Int): Int =
      if (j % 2 == 0) node(cls, j / 2)
      else {
        val w0 = node(cls, (j - 1) / 2); val w1 = node(cls, (j + 1) / 2)
        w0 + math.floorDiv(w1 - w0, 2)
      }
    def wav8(cls: Long) =
      Audio.wrapWav(Array.tabulate(259)(c8(cls, _)), 0, 259, 8000)
    def wav16(cls: Long) = {
      val s = Array.tabulate(517) { k =>
        if (k % 2 == 0) c8(cls, k / 2)
        else {
          val a = c8(cls, (k - 1) / 2); val b = c8(cls, (k + 1) / 2)
          a + math.floorDiv(b - a, 2)
        }
      }
      Audio.wrapWav(s, 0, 517, 16000)
    }
    val dir = Fixtures.scratchDir("graft-audio-rate-idx").toString
    Audio.writeAudioNearDupIndex(
      Seq(1L -> wav8(0), 2L -> wav8(1)).toDF("id", "content"),
      "id", "content", dir, canonicalRate = 8000)
    val snap = Seq(10L -> wav16(0), 11L -> wav16(5))
      .toDF("id", "content")
    val adm = Audio.incrementalAudioNearDedup(snap, "id", "content",
      dir, maxDistance = 0).collect().map(_.getLong(0)).toSet
    assert(adm == Set(11L), s"rate-twin not dropped: $adm")
    intercept[IllegalArgumentException] {
      Audio.appendToAudioNearDupIndex(snap, "id", "content", dir,
        canonicalRate = 16000)
    }
    intercept[IllegalArgumentException] {
      Audio.appendToAudioNearDupIndex(snap, "id", "content", dir)
    }
    // streaming twin: the UDF path resamples under the recorded rate
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
    val admitted = Audio.streamingAudioNearDedup(
      mem.toDF().toDF("id", "content", "ts"), "id", "content", "ts",
      dir, maxDistance = 0)
    val q = admitted.writeStream.format("memory")
      .queryName("stream_audio_rate").outputMode("append").start()
    try {
      val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      mem.addData((20L, wav16(1), ts), (21L, wav16(7), ts))
      q.processAllAvailable()
      val got = spark.table("stream_audio_rate")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(21L), s"streaming rate admission: $got")
    } finally q.stop()
  }

  test("resample bound: a parseable WAV declaring a pathologically " +
      "low sample rate comes back decoded=false under canonicalRate " +
      "normalization (never an executor throw), and sane rate pairs " +
      "keep decoding") {
    import spark.implicits._
    // 2000 frames at a DECLARED 1 Hz: normalizing to 16 kHz would
    // demand ~32M output samples — far past 16×maxFrames at the
    // 1024-frame cap below (1023 source frames → ~16.4M out)
    val hostile = Audio.wrapWav(Array.tabulate(2000)(k => k % 7), 0,
      2000, rate = 1)
    val sane = Audio.wrapWav(Array.tabulate(2000)(k => k % 7), 0,
      2000, rate = 8000)
    val rows = Audio.decodeMonoAtRate(
      Seq(1L -> hostile, 2L -> sane).toDF("id", "content"),
      "id", "content", canonicalRate = 16000, maxFrames = 1024)
      .collect().map(r => r.id -> r).toMap
    assert(!rows(1L).decoded && rows(1L).nFrames == 0L,
      s"hostile rate must be decoded=false: ${rows(1L)}")
    assert(rows(2L).decoded && rows(2L).nFrames == 2047L,
      s"sane 8k->16k upsample must survive: ${rows(2L)}")
    // the signature/stats family rides the same kernel: no throw and
    // the hostile row simply carries no signature
    val sigs = Audio.audioSigs(
      Seq(1L -> hostile, 2L -> sane).toDF("id", "content"),
      "id", "content", window = 0, maxFrames = 1024,
      canonicalRate = 16000).collect().map(_.getLong(0)).toSet
    assert(sigs == Set(2L), s"sigs must skip the hostile row: $sigs")
  }

  test("legacy sidecar without canonicalRate reads as rate 0: " +
      "admission and rate-0 appends keep working on a pre-rate-" +
      "normalization index, non-zero appends still refuse") {
    import spark.implicits._
    def clip(cls: Long) = Audio.wrapWav(
      Array.tabulate(300)(k => (((cls * 7 + k) * (cls * 7 + k)) %
        65521).toInt - 32760), 0, 300, 8000)
    val dir = Fixtures.scratchDir("graft-audio-legacy-idx").toString
    Audio.writeAudioNearDupIndex(
      Seq(1L -> clip(0), 2L -> clip(1)).toDF("id", "content"),
      "id", "content", dir)
    // rewrite the sidecar to the pre-rate-normalization shape (no
    // canonicalRate key) — byte-for-byte what the old writer produced
    val sidecar = java.nio.file.Paths.get(dir,
      "_graft_audio_index_params.json")
    val legacy = new String(java.nio.file.Files.readAllBytes(sidecar),
      "UTF-8").replace(",\"canonicalRate\":\"0\"", "")
    assert(!legacy.contains("canonicalRate"), legacy)
    java.nio.file.Files.write(sidecar, legacy.getBytes("UTF-8"))
    // drop the Hadoop local-FS checksum twin of the rewritten file
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir,
      "._graft_audio_index_params.json.crc"))
    // admission: the indexed clip drops, the new one survives
    val adm = Audio.incrementalAudioNearDedup(
      Seq(10L -> clip(0), 11L -> clip(9)).toDF("id", "content"),
      "id", "content", dir, maxDistance = 0)
      .collect().map(_.getLong(0)).toSet
    assert(adm == Set(11L), s"legacy-sidecar admission: $adm")
    // rate-0 append accepted (the old writer's semantics), then the
    // appended clip guards the next admission
    Audio.appendToAudioNearDupIndex(
      Seq(3L -> clip(9)).toDF("id", "content"), "id", "content", dir)
    val adm2 = Audio.incrementalAudioNearDedup(
      Seq(12L -> clip(9), 13L -> clip(4)).toDF("id", "content"),
      "id", "content", dir, maxDistance = 0)
      .collect().map(_.getLong(0)).toSet
    assert(adm2 == Set(13L), s"post-append admission: $adm2")
    // a NON-zero-rate append is a real params mismatch — still refused
    intercept[IllegalArgumentException] {
      Audio.appendToAudioNearDupIndex(
        Seq(4L -> clip(5)).toDF("id", "content"), "id", "content", dir,
        canonicalRate = 8000)
    }
  }

  test("AIFF: big-endian PCM round trips through the container-auto " +
      "decode — stereo mixdown, SSND offsets, SIGNED 8-bit, the " +
      "80-bit extended rate parsed exactly; WAV and AIFF of the " +
      "same samples pair at distance 0") {
    import graft.operators.Audio
    val mono = Array.tabulate(256)(k => (k * 37) % 201 - 100)
    val aiff = Audio.buildAiff(mono, channels = 1, rate = 44100,
      ssndOffset = 3)
    val rows = Audio.decodePcm16(df(1L -> aiff), "id", "content")
      .collect()
    assert(rows.length === 1 && rows.head.decoded)
    assert(rows.head.sampleRate === 44100)
    assert(rows.head.samples.toSeq === mono.toSeq)
    // stereo: floor((a+b)/2) mixdown
    val inter = Array.tabulate(64)(i =>
      if (i % 2 == 0) (i * 3) % 150 else (i * 7) % 150)
    val st = Audio.decodePcm16(df(1L ->
      Audio.buildAiff(inter, channels = 2, rate = 8000)), "id",
      "content").collect().head
    assert(st.samples.toSeq === (0 until 32).map(k =>
      math.floorDiv(inter(2 * k) + inter(2 * k + 1), 2)))
    // 8-bit AIFF is SIGNED (unlike WAV): v scales to v << 8
    val bytes8 = Array.tabulate(100)(k => (k % 201) - 100)
    val s8 = Audio.decodePcm16(df(1L ->
      Audio.buildAiff(bytes8, channels = 1, rate = 8000, bits = 8)),
      "id", "content").collect().head
    assert(s8.samples.toSeq === bytes8.map(_ << 8).toSeq)
    // WAV/AIFF cross-container: same samples, same fingerprint
    val pairs = Audio.audioNearDupPairs(df(
      10L -> Audio.wrapWav(mono, 0, mono.length, 8000),
      11L -> Audio.buildAiff(mono, channels = 1, rate = 8000)),
      "id", "content", maxDistance = 0).collect()
    assert(pairs.length === 1)
    assert(pairs.head.getAs[Long]("a") === 10L &&
      pairs.head.getAs[Long]("b") === 11L &&
      pairs.head.getAs[Long]("distance") === 0L)
  }

  test("AIFF honesty: fractional/negative/non-finite extended rates, " +
      "truncated SSND data, and frame counts past the data all " +
      "refuse (decoded = false)") {
    import graft.operators.Audio
    val mono = Array.tabulate(64)(k => k - 32)
    val good = Audio.buildAiff(mono, channels = 1, rate = 8000)
    // COMM rate field: FORM(12) + "COMM"+size(8) + ch(2)+frames(4)+
    // bits(2) = offset 12+8+8 = 28 for the 10-byte extended field
    def patchedRate(f: Array[Byte] => Unit): Array[Byte] = {
      val b = good.clone(); f(b); b
    }
    val fractional = patchedRate { b =>
      // drop the exponent by one: value halves -> 4000.0? no — make
      // it truly fractional by setting a low mantissa bit the shift
      // would lose: exp for 8000 is 16395 (shift 51); set bit 0
      b(28 + 9) = (b(28 + 9) | 0x01).toByte
    }
    val negative = patchedRate(b => b(28) = (b(28) | 0x80).toByte)
    val infRate = patchedRate { b =>
      b(28) = 0x7F.toByte; b(28 + 1) = 0xFF.toByte
    }
    val truncated = good.take(good.length - 8)
    // frames lie: COMM numSampleFrames at offset 12+8+2 = 22
    val frameLie = good.clone()
    frameLie(22 + 2) = 0x7F.toByte // claim ~8M frames
    val rows = Audio.decodePcm16(df(1L -> fractional, 2L -> negative,
      3L -> infRate, 4L -> truncated, 5L -> frameLie, 6L -> good),
      "id", "content").collect().map(r => r.id -> r.decoded).toMap
    assert(rows === Map(1L -> false, 2L -> false, 3L -> false,
      4L -> false, 5L -> false, 6L -> true), rows.toString)
  }

  test("Vorbis comments: FLAC VORBIS_COMMENT blocks and Ogg " +
      "vorbis/opus second packets round trip (UTF-8 values, '=' in " +
      "values, >255-byte comments across lacing boundaries); absence " +
      "and malformed structures emit nothing") {
    import graft.operators.Audio
    val longVal = "x" * 600 // forces multi-segment lacing in Ogg
    val comments = Seq("TITLE" -> "caf\u00e9 \u2603 nights",
      "ARTIST" -> "a=b=c", "PAD" -> longVal)
    val flac = Audio.buildFlacHeader(8000, 1, 16, 4000,
      vendor = "graft-enc", comments = comments)
    val ogg = Audio.buildOgg("vorbis", 1, 8000, 800L,
      vendor = "graft-ogg", comments = comments)
    val opus = Audio.buildOgg("opus", 2, 48000, 4800L,
      vendor = "graft-opus", comments = comments)
    val bare = Audio.buildFlacHeader(8000, 1, 16, 4000)
    val bareOgg = Audio.buildOgg("vorbis", 1, 8000, 800L)
    val rows = Audio.vorbisCommentScan(df(
        1L -> flac, 2L -> ogg, 3L -> opus, 4L -> bare, 5L -> bareOgg,
        6L -> "garbage".getBytes("UTF-8")),
      "id", "content").orderBy("id", "comment_index").collect()
    assert(rows.length === 9)
    assert(rows.map(_.getAs[Long]("id")).distinct.toSeq ===
      Seq(1L, 2L, 3L))
    Seq((0, "flac", "graft-enc"), (3, "vorbis", "graft-ogg"),
        (6, "opus", "graft-opus")).foreach { case (o, src, vend) =>
      assert(rows(o).getAs[String]("source") === src)
      assert(rows(o).getAs[String]("vendor") === vend)
      assert(rows(o).getAs[String]("key") === "TITLE")
      assert(rows(o).getAs[String]("value") === "caf\u00e9 \u2603 nights")
      assert(rows(o + 1).getAs[String]("value") === "a=b=c")
      assert(rows(o + 2).getAs[String]("value") === longVal)
    }
    // honesty: flip the framing bit off the vorbis comment packet
    val noFraming = ogg.clone()
    // the comment page is the second page; its last body byte is the
    // framing bit
    assert(Audio.vorbisCommentScan(df(1L -> {
      val c = ogg.clone()
      // find "vorbis" of the COMMENT packet (0x03 prefix) and break
      // the structure by zeroing its packet-type byte
      val at = (1 until c.length - 7).find(o =>
        (c(o) & 0xFF) == 0x03 &&
          new String(c, o + 1, 6, "US-ASCII") == "vorbis").get
      c(at) = 0x05.toByte
      c
    }), "id", "content").count() === 0L)
    // truncated FLAC comment block length lies past the file
    val truncated = flac.clone()
    val at = (4 until truncated.length - 4).find(o =>
      (truncated(o) & 0x7F) == 4).get
    truncated(at + 1) = 0x7F.toByte
    assert(Audio.vorbisCommentScan(df(1L -> truncated), "id",
      "content").count() === 0L)
    // a key with a forbidden byte refuses the whole structure
    val badKey = Audio.buildFlacHeader(8000, 1, 16, 4000,
      vendor = "v", comments = Seq("BAD\u0007KEY" -> "v"))
    assert(Audio.vorbisCommentScan(df(1L -> badKey), "id",
      "content").count() === 0L)
  }

  test("Ogg page CRC: builder pages verify against an independent " +
      "bit-by-bit RFC 3533 CRC; any flipped page byte refuses the " +
      "file whole") {
    import graft.operators.Audio
    val ogg = Audio.buildOgg("vorbis", 1, 8000, 1234L)
    // independent bit-level CRC (poly 0x04C11DB7, no reflection)
    def bitCrc(b: Array[Byte], start: Int, len: Int): Long = {
      var crc = 0L
      var i = 0
      while (i < len) {
        val v = if (i >= 22 && i < 26) 0 else b(start + i) & 0xFF
        crc ^= (v.toLong << 24)
        var j = 0
        while (j < 8) {
          crc = if ((crc & 0x80000000L) != 0L)
            ((crc << 1) ^ 0x04C11DB7L) & 0xFFFFFFFFL
          else (crc << 1) & 0xFFFFFFFFL
          j += 1
        }
        i += 1
      }
      crc
    }
    // page 1 spans [0, secondPageAt); its stored CRC at 22..25 LE
    val second = (1 until ogg.length - 4).find(o =>
      ogg(o) == 'O' && ogg(o + 1) == 'g' && ogg(o + 2) == 'g' &&
        ogg(o + 3) == 'S').get
    val stored = (ogg(22) & 0xFFL) | ((ogg(23) & 0xFFL) << 8) |
      ((ogg(24) & 0xFFL) << 16) | ((ogg(25) & 0xFFL) << 24)
    assert(stored === bitCrc(ogg, 0, second))
    assert(Audio.oggMetaScan(df(1L -> ogg), "id", "content")
      .filter(org.apache.spark.sql.functions.col("parsed"))
      .count() === 1L)
    // flip one body byte in the LAST page: granule would lie — CRC
    // refuses the file
    val flipped = ogg.clone()
    flipped(ogg.length - 1) = (flipped(ogg.length - 1) ^ 0x20).toByte
    assert(Audio.oggMetaScan(df(1L -> flipped), "id", "content")
      .filter(org.apache.spark.sql.functions.col("parsed"))
      .count() === 0L)
    // flip the granule field itself
    val granLie = ogg.clone()
    granLie(second + 6) = (granLie(second + 6) ^ 0x01).toByte
    assert(Audio.oggMetaScan(df(1L -> granLie), "id", "content")
      .filter(org.apache.spark.sql.functions.col("parsed"))
      .count() === 0L)
  }

  test("Ogg stream walk: byte-equal to the buffered walk on the " +
      "whole honesty matrix — vorbis, opus, multi-segment comment " +
      "lacing, CRC flip, truncations at every page position, " +
      "trailing junk, cleared BOS, garbage — including a dribbling " +
      "one-byte stream, with one page resident") {
    import graft.operators.Audio
    val vorbis = Audio.buildOgg("vorbis", 1, 8000, 800L)
    val opus = Audio.buildOgg("opus", 2, 48000, 4800L,
      vendor = "v", comments = Seq("PAD" -> ("y" * 600))) // laced page
    val crcFlip = { val c = vorbis.clone()
      c(30) = (c(30) ^ 0x01).toByte; c }
    val noBos = { val c = vorbis.clone()
      c(5) = 0; c } // clears BOS AND breaks the CRC: refuse either way
    val cases = Seq[Array[Byte]](
      vorbis, opus, crcFlip, noBos,
      vorbis ++ opus, // second BOS mid-stream: pages still walk
      vorbis ++ "junk".getBytes("US-ASCII"), // trailing junk refuses
      vorbis.dropRight(3), // mid-body
      vorbis.take(27), // header, no segment table
      vorbis.take(13), // torn header
      Array[Byte](), Array.fill[Byte](64)('O'.toByte))
    for (b <- cases) {
      val buffered = Audio.parseOgg(b)
      assert(Audio.parseOggStream(
        new java.io.ByteArrayInputStream(b)) === buffered)
      val dribble = new java.io.InputStream {
        private var i = 0
        override def read(): Int =
          if (i >= b.length) -1
          else { val v = b(i) & 0xFF; i += 1; v }
        override def read(buf: Array[Byte], off: Int, len: Int): Int = {
          if (i >= b.length) return -1
          buf(off) = b(i); i += 1; 1
        }
      }
      assert(Audio.parseOggStream(dribble) === buffered)
    }
    // the happy paths must actually parse, with the planted fields
    assert(Audio.parseOggStream(new java.io.ByteArrayInputStream(
      vorbis)) === Some(("vorbis", 1, 8000, 800L)))
    assert(Audio.parseOggStream(new java.io.ByteArrayInputStream(
      opus)) === Some(("opus", 2, 48000, 4800L)))
  }
}
