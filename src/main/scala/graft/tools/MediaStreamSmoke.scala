package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Audio

/** Multi-GiB Ogg + GIF stream-walk smoke: the census's last two
  * families to leave the whole-file read claim O(page) / O(sub-block)
  * residency — so a live-stream Ogg dump and a pathological
  * many-frame GIF, each far beyond any column-operator byte cap,
  * must census at a small fixed heap with every metadata field
  * exact. Fixtures are streamed to disk (the writers hold one page /
  * one frame), then walked back through `MediaShardSource` — the
  * same engine `q_media_stream` oracles at sf scale. The Ogg walk
  * still verifies EVERY page's RFC 3533 CRC on the way through
  * (pages are written with real CRCs here); the GIF walk sums every
  * frame's graphic-control delay. The `mediaStream` step of [[ScaleSmoke]].
  */
object MediaStreamSmoke {
  def run(spark: SparkSession, nFiles: Int = 2, targetBytes: Long = 1536L << 20): Measure.Counts = {
    val dir = graft.Fixtures.scratchDir("scale-media")

    // ---- Ogg: BOS id page + N max-lacing filler pages, real CRCs --
    val granuleStep = 960L
    val oggExpect = (0 until nFiles).map { c =>
      val rate = 8000 * (1 + c % 3)
      // the library's own encoder emits the BOS + one data page
      // (granule = granuleStep); filler pages continue the granule run
      val head = Audio.buildOgg("vorbis", 1 + c % 2, rate, granuleStep)
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          dir.resolve(s"live_$c.ogg").toFile), 1 << 20)
      out.write(head)
      // one max-lacing page: 27 + 255 seg lengths + 255*255 body
      val page = new Array[Byte](27 + 255 + 255 * 255)
      "OggS".getBytes("US-ASCII").copyToArray(page, 0)
      page(5) = 0 // headerType: continuation of the logical stream
      page(26) = 255.toByte
      java.util.Arrays.fill(page, 27, 27 + 255, 255.toByte)
      var i = 27 + 255
      while (i < page.length) { page(i) = (i * 31 + c).toByte; i += 1 }
      var written = head.length.toLong
      var pages = 1L // the data page inside buildOgg's output
      while (written < targetBytes) {
        pages += 1
        val g = granuleStep * pages
        var s = 0
        while (s < 8) { page(6 + s) = ((g >> (8 * s)) & 0xFF).toByte; s += 1 }
        // zero the CRC field, then stamp the real page CRC
        java.util.Arrays.fill(page, 22, 26, 0.toByte)
        val crc = Audio.oggPageCrc(page, 0, page.length)
        var k = 0
        while (k < 4) { page(22 + k) = ((crc >> (8 * k)) & 0xFF).toByte; k += 1 }
        out.write(page)
        written += page.length
      }
      out.close()
      (s"live_$c.ogg", "vorbis", rate,
        granuleStep * pages * 1000L / rate, written)
    }
    val oggBytes = oggExpect.map(_._5).sum

    // ---- GIF: header + GCT, then frames streamed one at a time ----
    val delayCs = 4
    val subBlock = {
      val b = new Array[Byte](256)
      b(0) = 255.toByte
      var i = 1
      while (i < 256) { b(i) = (i * 17).toByte; i += 1 }
      b
    }
    val gifExpect = (0 until nFiles).map { c =>
      val w = 640 + 2 * c
      val h = 360 + c
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(
          dir.resolve(s"anim_$c.gif").toFile), 1 << 20)
      out.write("GIF89a".getBytes("US-ASCII"))
      out.write(w & 0xFF); out.write(w >> 8)
      out.write(h & 0xFF); out.write(h >> 8)
      out.write(0x81) // GCT present, 4 entries
      out.write(0); out.write(0)
      (0 until 12).foreach(i => out.write(i * 19))
      // each frame: GCE + descriptor + LZW filler the walk hops by
      // length byte (the walk never decodes — grammar only)
      val subsPerFrame = 256 // ~64 KB of sub-blocks per frame
      val frameBytes = 8L + 10L + 1L + 256L * subsPerFrame + 1L
      val headerBytes = 13L + 12L + 1L // + trailer
      val nFrames =
        ((targetBytes - headerBytes) / frameBytes + 1L).toInt
      var f = 0
      while (f < nFrames) {
        out.write(0x21); out.write(0xF9); out.write(4)
        out.write(0) // packed: no transparency, no disposal
        out.write(delayCs & 0xFF); out.write(delayCs >> 8)
        out.write(0); out.write(0) // transparent idx, terminator
        out.write(0x2C)
        out.write(0); out.write(0); out.write(0); out.write(0)
        out.write(w & 0xFF); out.write(w >> 8)
        out.write(h & 0xFF); out.write(h >> 8)
        out.write(0) // no LCT
        out.write(2) // LZW minimum code size
        var s = 0
        while (s < subsPerFrame) { out.write(subBlock); s += 1 }
        out.write(0) // sub-block terminator
        f += 1
      }
      out.write(0x3B)
      out.close()
      val len = dir.resolve(s"anim_$c.gif").toFile.length()
      (s"anim_$c.gif", w.toLong, h.toLong,
        nFrames.toLong * delayCs * 10L, len)
    }
    val gifBytes = gifExpect.map(_._5).sum

    // ---- census both directories through the path-level source ----
    val rows = graft.sources.MediaShardSource
      .metaScanDF(spark, dir.toString + "/*.*")
      .select(col("shard_path"), col("container"), col("duration_ms"),
        col("width"), col("height"), col("audio_codec"),
        col("audio_rate"), col("route"), col("parsed"))
      .collect()
      .map(r => r.getString(0).split('/').last -> r).toMap
    require(rows.size == 2 * nFiles, s"rows ${rows.size}")
    oggExpect.foreach { case (name, codec, rate, durMs, _) =>
      val r = rows(name)
      require(r.getAs[Boolean]("parsed"), s"$name refused")
      require(r.getAs[String]("route") == "stream", s"$name route")
      require(r.getAs[String]("container") == "ogg" &&
        r.getAs[String]("audio_codec") == codec &&
        r.getAs[Int]("audio_rate") == rate &&
        r.getAs[Long]("duration_ms") == durMs,
        s"$name fields drifted: $r")
    }
    gifExpect.foreach { case (name, w, h, durMs, _) =>
      val r = rows(name)
      require(r.getAs[Boolean]("parsed"), s"$name refused")
      require(r.getAs[String]("route") == "stream", s"$name route")
      require(r.getAs[String]("container") == "gif" &&
        r.getAs[Int]("width").toLong == w &&
        r.getAs[Int]("height").toLong == h &&
        r.getAs[Long]("duration_ms") == durMs,
        s"$name fields drifted: $r")
    }
    graft.Fixtures.delete(dir)
    Seq("oggFiles" -> nFiles, "oggBytes" -> oggBytes, "gifFiles" -> nFiles,
      "gifBytes" -> gifBytes, "files" -> 2 * nFiles)
  }
}
