package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Audio, Multimodal, Video}

/** The first-class needle-hunt operators: jingle-in-clip,
  * scene-in-video, jingle-in-video-soundtrack, crop-in-image. Hunts
  * default `strictBuckets = true` — a planted over-cap corpus bucket
  * must FAIL LOUD, never silently miss the needle.
  */
class HuntSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import spark.implicits._

  private def df(rows: (Long, Array[Byte])*) =
    rows.toDF("id", "content")

  private def tmp(prefix: String): String =
    Fixtures.scratchDir(prefix).toString

  private def noise(seed: Int, n: Int): Array[Int] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(rnd.nextInt(16001) - 8000)
  }

  test("findClipsContainingJingle locates the planted segment by " +
      "(id, seg_idx, start_frame); clean clips return no rows") {
    val jingle = noise(7, 65 * 16) // 1040 frames
    val dir = tmp("graft-hunt-jingle")
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", dir)
    def clip(seed: Int, planted: Boolean) = Audio.wrapWav(
      if (planted) noise(seed, 1040) ++ jingle ++ noise(seed + 1, 1040)
      else noise(seed, 3120), 0, 3120, 8000)
    val hits = Audio.findClipsContainingJingle(
      df(10L -> clip(20, planted = true),
        20L -> clip(30, planted = false),
        30L -> clip(40, planted = true)),
      "id", "content", dir, segmentFrames = 1040)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits == Set((10L, 1L, 1040L), (30L, 1L, 1040L)), hits)
  }

  test("findVideosContainingScene locates the planted window; " +
      "findVideosWithJingle finds a jingle in the SOUNDTRACK via the " +
      "extraction bridge") {
    def frame(base: Int, f: Int): Array[Byte] =
      Array.tabulate(3 * 4 * 3)(k =>
        (((base * 131 + f * 31 + k * 7) % 101)).toByte)
    val sceneFrames = (0 until 66).map(f => frame(9, f))
    val sceneDir = tmp("graft-hunt-scene")
    Video.writeVideoNearDupIndex(
      df(1L -> Video.buildUncompressedAvi(4, 3, sceneFrames, 40000L)),
      "id", "content", sceneDir)
    def vid(base: Int, planted: Boolean) =
      Video.buildUncompressedAvi(4, 3,
        (0 until 82).map(f =>
          if (planted && f >= 8 && f < 74) sceneFrames(f - 8)
          else frame(base, f)),
        40000L)
    val hits = Video.findVideosContainingScene(
      df(10L -> vid(1, planted = true), 20L -> vid(2, planted = false)),
      "id", "content", sceneDir, segmentFrames = 66, hopFrames = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits == Set((10L, 1L, 8L)), hits)
    // soundtrack hunt: jingle inside a two-stream AVI's audio
    val jingle = noise(11, 65 * 16)
    val audioDir = tmp("graft-hunt-vjingle")
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", audioDir)
    val frames6 = (0 until 6).map(f => frame(3, f))
    def avi(seed: Int, planted: Boolean) = Video.buildAviWithAudio(
      4, 3, frames6, 40000L,
      if (planted) noise(seed, 1040) ++ jingle ++ noise(seed + 1, 1040)
      else noise(seed, 3120), 8000)
    val vhits = Video.findVideosWithJingle(
      df(10L -> avi(50, planted = true), 20L -> avi(60, planted = false)),
      "id", "content", audioDir, segmentFrames = 1040)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(vhits == Set((10L, 1L, 1040L)), vhits)
  }

  test("findVideosWithJingle is container-auto: the SAME jingle " +
      "index catches the needle inside an MP4 soundtrack (sowt " +
      "sample tables), an AVI soundtrack, AND a WebM PCM soundtrack " +
      "in one mixed-corpus hunt; compressed soundtracks (mp4a, " +
      "A_OPUS) refuse extraction and emit no rows") {
    import graft.operators.{Mp4, Webm}
    val jingle = noise(23, 65 * 16) // 1040 frames
    val dir = tmp("graft-hunt-mp4jingle")
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", dir)
    def stream(seed: Int, planted: Boolean): Array[Int] =
      if (planted) noise(seed, 1040) ++ jingle ++ noise(seed + 1, 1040)
      else noise(seed, 3120)
    def mp4(seed: Int, planted: Boolean) = Mp4.buildMp4Pcm(
      600L, 3120L, "sowt", 1, 8000, stream(seed, planted),
      Seq(1000, 1000, 1120), withVideoTrack = true)
    def frame(f: Int): Array[Byte] = Array.tabulate(3 * 4 * 3)(k =>
      ((7 * 131 + f * 31 + k * 7) % 101).toByte)
    def avi(seed: Int, planted: Boolean) = Video.buildAviWithAudio(
      4, 3, (0 until 6).map(frame), 40000L, stream(seed, planted), 8000)
    def webm(seed: Int, planted: Boolean) = Webm.buildWebm(
      "webm", 1000000L, 390.0, videoCodec = "V_VP8", width = 16,
      height = 16, audioChannels = 1, audioRate = 8000.0,
      audioPcm = stream(seed, planted),
      blockSamples = Seq(1000, 1000, 1120))
    val corpus = df(
      10L -> mp4(50, planted = true),
      20L -> mp4(60, planted = false),
      30L -> avi(70, planted = true),
      40L -> Mp4.buildMp4(600L, 600L, 16, 16, audioCodec = "mp4a",
        audioChannels = 2, audioRate = 44100),
      50L -> webm(80, planted = true),
      60L -> webm(90, planted = false),
      70L -> Webm.buildWebm("webm", 1000000L, 100.0, videoCodec = "",
        audioCodec = "A_OPUS", audioChannels = 1, audioRate = 48000.0))
    val hits = Video.findVideosWithJingle(corpus, "id", "content",
      dir, segmentFrames = 1040)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(hits == Set((10L, 1L, 1040L), (30L, 1L, 1040L),
      (50L, 1L, 1040L)), hits)
  }

  test("findImagesContainingCrop locates the planted tile by " +
      "(id, tile_x, tile_y)") {
    // 32x24 image of 16x12 tiles; the crop IS tile (1, 1)
    def pix(seed: Int, n: Int): Array[Byte] = {
      val rnd = new scala.util.Random(seed)
      Array.fill(n)((rnd.nextInt(256) - 128).toByte)
    }
    val crop = pix(77, 3 * 16 * 12)
    def image(seed: Int, planted: Boolean): Array[Byte] = {
      val bgr = pix(seed, 3 * 32 * 24)
      if (planted) { // paste the crop at pixel (16, 12)
        (0 until 12).foreach { y =>
          System.arraycopy(crop, y * 3 * 16, bgr,
            ((12 + y) * 32 + 16) * 3, 3 * 16)
        }
      }
      Multimodal.buildBmp(32, 24, bgr)
    }
    val dir = tmp("graft-hunt-crop")
    Multimodal.writeImageNearDupIndex(
      df(1L -> Multimodal.buildBmp(16, 12, crop)), "id", "content", dir)
    val hits = Multimodal.findImagesContainingCrop(
      df(10L -> image(5, planted = true),
        20L -> image(6, planted = false)),
      "id", "content", dir, tileW = 16, tileH = 12)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .toSet
    assert(hits == Set((10L, 1, 1)), hits)
  }

  test("strict default: a hunt against an index with an over-cap " +
      "signature bucket THROWS (naming the fix) instead of silently " +
      "missing; strictBuckets=false opts back into the drop") {
    // four byte-identical copies of the NEEDLE itself -> every block
    // bucket of its signature has 4 members; cap 3 is exceeded, and
    // the probe genuinely contains the needle
    val jingle = noise(3, 1040)
    val wav = Audio.wrapWav(jingle, 0, 1040, 8000)
    val dir = tmp("graft-hunt-strict")
    Audio.writeAudioNearDupIndex(
      df(1L -> wav, 2L -> wav.clone(), 3L -> wav.clone(),
        4L -> wav.clone()), "id", "content", dir)
    val probe = df(10L -> Audio.wrapWav(
      noise(4, 1040) ++ jingle, 0, 2080, 8000))
    // sanity: under an adequate cap the hunt finds the needle
    val found = Audio.findClipsContainingJingle(probe, "id", "content",
      dir, segmentFrames = 1040).collect()
    assert(found.length == 1 && found.head.getLong(1) == 1L)
    val ex = intercept[IllegalArgumentException] {
      Audio.findClipsContainingJingle(probe, "id", "content", dir,
        segmentFrames = 1040, maxBucket = 3).collect()
    }
    assert(ex.getMessage.contains("maxBucket"), ex.getMessage)
    // opting out accepts the drop — and the needle IS silently missed
    // (exactly the failure the strict default exists to surface)
    val lax = Audio.findClipsContainingJingle(probe, "id", "content",
      dir, segmentFrames = 1040, maxBucket = 3, strictBuckets = false)
      .collect()
    assert(lax.isEmpty, s"capped bucket must drop: ${lax.mkString(",")}")
  }

  test("findClipsContainingJingleStream: the cross-batch needle is " +
      "caught exactly once, in its arrival batch, at the exact " +
      "(seg_idx, start_frame); rows match the BATCH hunt bit-for-bit; " +
      "zero stateful operators; the strict default throws at wiring " +
      "time on an over-cap index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val jingle = noise(31, 65 * 16)
    val dir = tmp("graft-hunt-stream")
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", dir)
    def clip(seed: Int, planted: Boolean) = Audio.wrapWav(
      if (planted) noise(seed, 1040) ++ jingle ++ noise(seed + 1, 1040)
      else noise(seed, 3120), 0, 3120, 8000)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val sdf = mem.toDF().toDF("id", "ts", "content")
    val q = Audio.findClipsContainingJingleStream(sdf, "id", "content",
        "ts", dir, segmentFrames = 1040)
      .writeStream.format("memory").queryName("hunt_stream")
      .outputMode("append").start()
    def hits() = spark.table("hunt_stream").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    try {
      val b1 = Seq(
        (10L, ts("2024-01-01 00:00:00"), clip(20, planted = true)),
        (20L, ts("2024-01-01 00:00:01"), clip(30, planted = false)))
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 1040L)), s"batch1: ${hits()}")
      // batch 2: another planted clip + an undecodable payload
      val b2 = Seq(
        (30L, ts("2024-01-01 00:00:02"), clip(40, planted = true)),
        (40L, ts("2024-01-01 00:00:03"), "junk".getBytes("UTF-8")))
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 1040L), (30L, 1L, 1040L)),
        s"batch2: ${hits()}")
      // bit-parity with the batch hunt over the same corpus
      val batch = Audio.findClipsContainingJingle(
        df((b1 ++ b2).map(r => r._1 -> r._3): _*), "id", "content",
        dir, segmentFrames = 1040)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(batch == hits(), s"batch $batch != stream ${hits()}")
      // zero stateful operators — the hunt holds no per-row state
      import org.apache.spark.sql.execution.streaming.operators
        .stateful.StateStoreWriter
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
          .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      assert(exec.collect { case s: StateStoreWriter => s }.isEmpty)
    } finally q.stop()
    // strict default: over-cap bucket fails at WIRING time (the
    // check is a bounded batch action, not a per-batch cost)
    val overDir = tmp("graft-hunt-stream-over")
    val w = Audio.wrapWav(jingle, 0, jingle.length, 8000)
    Audio.writeAudioNearDupIndex(
      df(1L -> w, 2L -> w.clone(), 3L -> w.clone(), 4L -> w.clone()),
      "id", "content", overDir)
    val mem2 = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val ex = intercept[IllegalArgumentException] {
      Audio.findClipsContainingJingleStream(
        mem2.toDF().toDF("id", "ts", "content"), "id", "content",
        "ts", overDir, segmentFrames = 1040, maxBucket = 3)
    }
    assert(ex.getMessage.contains("maxBucket"), ex.getMessage)
  }

  test("findVideosContainingSceneStream: the planted frame window is " +
      "caught per micro-batch at the exact (seg_idx, start_frame), " +
      "bit-identical to the batch hunt over the same corpus") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    def frame(base: Int, f: Int): Array[Byte] =
      Array.tabulate(3 * 4 * 3)(k =>
        (((base * 131 + f * 31 + k * 7) % 101)).toByte)
    val sceneFrames = (0 until 66).map(f => frame(13, f))
    val dir = tmp("graft-hunt-scene-stream")
    Video.writeVideoNearDupIndex(
      df(1L -> Video.buildUncompressedAvi(4, 3, sceneFrames, 40000L)),
      "id", "content", dir)
    def vid(base: Int, planted: Boolean) =
      Video.buildUncompressedAvi(4, 3,
        (0 until 82).map(f =>
          if (planted && f >= 8 && f < 74) sceneFrames(f - 8)
          else frame(base, f)),
        40000L)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = Video.findVideosContainingSceneStream(
        mem.toDF().toDF("id", "ts", "content"), "id", "content", "ts",
        dir, segmentFrames = 66, hopFrames = 8)
      .writeStream.format("memory").queryName("scene_stream")
      .outputMode("append").start()
    def hits() = spark.table("scene_stream").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    try {
      val b1 = Seq(
        (10L, ts("2024-01-01 00:00:00"), vid(1, planted = true)),
        (20L, ts("2024-01-01 00:00:01"), vid(2, planted = false)))
      mem.addData(b1: _*)
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 8L)), s"batch1: ${hits()}")
      val b2 = Seq(
        (30L, ts("2024-01-01 00:00:02"), vid(3, planted = true)))
      mem.addData(b2: _*)
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 8L), (30L, 1L, 8L)),
        s"batch2: ${hits()}")
      // bit parity with the batch scene hunt
      val batch = Video.findVideosContainingScene(
        df((b1 ++ b2).map(r => r._1 -> r._3): _*), "id", "content",
        dir, segmentFrames = 66, hopFrames = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(batch == hits(), s"batch $batch != stream ${hits()}")
    } finally q.stop()
  }

  test("findVideosWithJingleStream: the container-auto soundtrack " +
      "bridge runs per micro-batch — an MP4 upload and an AVI upload " +
      "carrying the jingle are both caught, clean and unextractable " +
      "uploads emit nothing") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Mp4
    implicit val sq = spark.sqlContext
    val jingle = noise(47, 65 * 16)
    val dir = tmp("graft-hunt-vstream")
    Audio.writeAudioNearDupIndex(
      df(1L -> Audio.wrapWav(jingle, 0, jingle.length, 8000)),
      "id", "content", dir)
    def stream(seed: Int, planted: Boolean): Array[Int] =
      if (planted) noise(seed, 1040) ++ jingle ++ noise(seed + 1, 1040)
      else noise(seed, 3120)
    def mp4(seed: Int, planted: Boolean) = Mp4.buildMp4Pcm(
      600L, 3120L, "sowt", 1, 8000, stream(seed, planted),
      Seq(1024, 1024, 1072), withVideoTrack = true)
    def frame(f: Int): Array[Byte] = Array.tabulate(3 * 4 * 3)(k =>
      ((5 * 131 + f * 31 + k * 7) % 101).toByte)
    def avi(seed: Int, planted: Boolean) = Video.buildAviWithAudio(
      4, 3, (0 until 6).map(frame), 40000L, stream(seed, planted), 8000)
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = Video.findVideosWithJingleStream(
        mem.toDF().toDF("id", "ts", "content"), "id", "content", "ts",
        dir, segmentFrames = 1040)
      .writeStream.format("memory").queryName("vhunt_stream")
      .outputMode("append").start()
    def hits() = spark.table("vhunt_stream").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSet
    try {
      mem.addData(
        (10L, ts("2024-01-01 00:00:00"), mp4(50, planted = true)),
        (20L, ts("2024-01-01 00:00:01"), mp4(60, planted = false)))
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 1040L)), s"batch1: ${hits()}")
      mem.addData(
        (30L, ts("2024-01-01 00:00:02"), avi(70, planted = true)),
        (40L, ts("2024-01-01 00:00:03"),
          Mp4.buildMp4(600L, 600L, 16, 16, audioCodec = "mp4a",
            audioChannels = 2, audioRate = 44100)))
      q.processAllAvailable()
      assert(hits() == Set((10L, 1L, 1040L), (30L, 1L, 1040L)),
        s"batch2: ${hits()}")
    } finally q.stop()
  }
}
