package graft.tools

import java.io.FileOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The COMPOSED nine-stage corpus build at 1M docs: a real WET drop
  * dir streamed to disk, then `CorpusBuild.buildCorpus` end-to-end
  * with exact planted attrition per stage — per group of 10 docs, ids
  * k=0..7 are unique 28-token texts, k=8 an exact duplicate of k=0
  * (dedup removes it), k=9 a 3-word text (passes the C4 line scrub,
  * fails Gopher minWords — the gate removes it). The constituent
  * operators all have their own ScaleSmoke sections; this drives
  * their COMPOSITION (staged parquet, lineage tokens, the LM tier
  * pass, the all-skip resume) at corpus scale. The `corpusBuild` step of [[ScaleSmoke]].
  */
object CorpusBuildSmoke {
  def run(spark: SparkSession, nCb: Int): Measure.Counts = {
    require(nCb % 10 == 0, "nCb must be a multiple of 10")
    val warcDir = graft.Fixtures.scratchDir("scale-cb-warc")
    val md = java.security.MessageDigest.getInstance("MD5")
    def h8(s: String): String = {
      val d = md.digest(s.getBytes("UTF-8"))
      d.take(4).map(b => f"${b & 0xFF}%02x").mkString
    }
    def docText(i: Long): String = {
      val k = i % 10
      if (k == 9) "too short now"
      else {
        val seed = if (k == 8) i - 8 else i
        (0 until 4).map(j =>
          s"Word ${h8(s"$seed:$j")} and ${h8(s"$seed:$j:b")} " +
            "mingle quietly today.").mkString("\n")
      }
    }
    val nFiles = 8
    (0 until nFiles).foreach { f =>
      val out = new java.io.BufferedOutputStream(new FileOutputStream(
        new java.io.File(warcDir.toFile, s"wet-$f.warc")), 1 << 20)
      var i = f.toLong
      while (i < nCb) { // round-robin so groups span archives
        val text = docText(i).getBytes("UTF-8")
        val head = ("WARC/1.0\r\nWARC-Type: conversion\r\n" +
          s"WARC-Record-ID: <urn:uuid:graft-cb-$i>\r\n" +
          "WARC-Date: 2024-03-03T00:00:00Z\r\n" +
          s"WARC-Target-URI: http://graft.test/doc/$i\r\n" +
          "Content-Type: text/plain\r\n" +
          s"Content-Length: ${text.length}\r\n\r\n").getBytes("UTF-8")
        out.write(head); out.write(text)
        out.write("\r\n\r\n".getBytes("UTF-8"))
        i += nFiles
      }
      out.close()
    }
    val stageDir = graft.Fixtures.scratchDir("scale-cb-stages").toString
    val report = graft.operators.CorpusBuild.buildCorpus(spark,
      warcDir.toString, stageDir, minWords = 10, minLinesKept = 1,
      minWordsPerLine = 3, nearDupThreshold = 0.8,
      tierRates = Map("head" -> 1.0, "middle" -> 1.0, "tail" -> 1.0),
      packTokens = 256)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    val n = nCb.toLong
    require(report("0_extract") == ((n, n)),
      s"extract ${report("0_extract")}")
    require(report("1_repair") == ((n, n)),
      s"repair ${report("1_repair")}")
    require(report("2_gate") == ((n, n - n / 10)),
      s"gate ${report("2_gate")}")
    // exact-dup removal is exactly n/10; allow a whisker for
    // accidental minhash near-dup pairs across ~1M random texts
    val (dedupIn, dedupOut) = report("3_dedup")
    require(dedupIn == n - n / 10, s"dedup in $dedupIn")
    val dedupTarget = n - 2 * (n / 10)
    require(dedupOut <= dedupTarget && dedupOut >= dedupTarget - 10,
      s"dedup out $dedupOut of $dedupTarget")
    require(report("4_tiers") == ((dedupOut, dedupOut)), "tiers")
    require(report("5_mix") == ((dedupOut, dedupOut)),
      "mix (rates 1.0)")
    // pack geometry: 28-token docs under a 256 cap = 9 docs/pack;
    // the curriculum table must carry EVERY surviving doc
    val cur = spark.read.parquet(s"$stageDir/7_curriculum")
    val curDocs = cur.agg(sum(col("n_docs"))).head.getLong(0)
    require(curDocs == dedupOut,
      s"curriculum docs $curDocs of $dedupOut")
    val overCap = cur.filter(col("pack_tokens") > 256).count()
    require(overCap == 0L, s"$overCap packs over the token cap")
    // resume evidence at scale: a second call on the COMPLETE stage
    // dir must compute NOTHING (pure sidecar/lineage reads)
    val recomputed = scala.collection.mutable.ArrayBuffer[String]()
    graft.operators.CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, minWords = 10, minLinesKept = 1, minWordsPerLine = 3,
      nearDupThreshold = 0.8,
      tierRates = Map("head" -> 1.0, "middle" -> 1.0, "tail" -> 1.0),
      packTokens = 256,
      onStage = (st, _) => { recomputed += st; () }).collect()
    require(recomputed.isEmpty,
      s"all-skip resume recomputed: ${recomputed.mkString(",")}")
    Seq("wetDocs" -> nCb, "gateDropped" -> n / 10, "dedupDropped" -> (dedupIn - dedupOut),
      "packedDocs" -> curDocs)
  }
}
