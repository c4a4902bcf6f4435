package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.Webm
import graft.sources.WebmShardSource

/** Path-level Matroska/WebM source: bounded header reads off the
  * Hadoop stream feed the SAME parseWebm state machine as the column
  * operator — byte-identical rows on conforming files, honest
  * refusal (never a guess) when the metadata outruns the prefix.
  */
class WebmShardSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("stream/column byte-equality: on-disk .webm/.mkv files yield " +
      "EXACTLY the column operator's rows; garbage refuses; a header " +
      "prefix too small for the metadata refuses instead of guessing") {
    import spark.implicits._
    val payloads = (0L until 8L).map { id =>
      val b = (id % 4).toInt
      id -> Webm.buildWebm(
        docType = if (id % 2 == 0) "webm" else "matroska",
        timescaleNs = 1000000L, durationTicks = (500 + id * 7).toDouble,
        videoCodec = "V_VP9", width = 320 + 16 * b, height = 240 + 8 * b,
        audioCodec = "A_OPUS", audioChannels = 2, audioRate = 48000.0,
        nClusters = 2, clusterBytes = 4096,
        unknownSizeSegment = id % 3 == 0)
    }
    val dir = Fixtures.scratchDir("graft-webm-src-spec")
    payloads.foreach { case (id, bytes) =>
      val ext = if (id % 2 == 0) "webm" else "mkv"
      java.nio.file.Files.write(dir.resolve(s"v_$id.$ext"), bytes)
    }
    java.nio.file.Files.write(dir.resolve("v_99.webm"),
      "not an ebml stream at all".getBytes("UTF-8"))

    val cols = Seq("id", "doc_type", "timescale_ns", "duration_ms",
      "tracks", "video_codec", "width", "height", "audio_codec",
      "audio_channels", "audio_rate", "parsed")
    val streamed = WebmShardSource.metaScanDF(spark,
        dir.toString + "/v_*.*", maxHeaderBytes = 1024)
      .withColumn("id",
        regexp_extract(col("shard_path"), "/v_(\\d+)\\.", 1)
          .cast("long"))
      .select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    val column = Webm.webmMetaScan(
        (payloads :+ (99L ->
          "not an ebml stream at all".getBytes("UTF-8")))
          .toDF("id", "content"), "id", "content")
      .select(cols.map(col): _*)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed === column)
    assert(streamed.count(_.contains("true")) === 8)

    // prefix honesty: a header budget smaller than the metadata
    // refuses (parsed = false) — the column operator on full bytes
    // still parses; the stream path must never fabricate fields
    val tiny = WebmShardSource.metaScanDF(spark,
        dir.toString + "/v_0.webm", maxHeaderBytes = 16)
      .collect()
    assert(tiny.length === 1 && !tiny(0).getAs[Boolean]("parsed"))
  }
}
