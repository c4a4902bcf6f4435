package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.CorpusBuild

/** End-to-end corpus build: a drop directory of `.warc.gz` files in,
  * curriculum-ordered training packs out, with the staged-parquet
  * restart contract (resume skips completed stages, param changes
  * fail loudly, deleted stages recompute).
  */
class CorpusBuildSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- byte-precise WARC fixtures (the WarcSourceSpec builders) ----
  private def httpBlock(body: String): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
  }

  private def record(warcType: String, uri: String, block: Array[Byte],
      cType: String = "application/http; msgtype=response"): Array[Byte] =
    (s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
      s"WARC-Record-ID: <urn:uuid:$uri>\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: $cType\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes(UTF_8) ++
      block ++ "\r\n\r\n".getBytes(UTF_8)

  private def gzMembers(recs: Seq[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    recs.foreach { r =>
      val gz = new GZIPOutputStream(bos)
      gz.write(r); gz.close()
    }
    bos.toByteArray
  }

  /** A body of `n` sentence-shaped lines that passes both gates.
    * Every word carries the seed, so distinct seeds share no word
    * trigrams — genuinely different docs, not near-dups of a shared
    * template.
    */
  private val letters = "abcdefghijklmnopqrst"
  private def goodDoc(seed: Int, n: Int = 4): String =
    (0 until n).map(i =>
      (0 until 5).map(j =>
        s"${letters(seed % 20)}${letters(i)}${letters(j)}word")
        .mkString(" ") + " ends.").mkString(" ")

  private def page(body: String): String =
    s"<html><body><p>$body</p></body></html>"

  test("buildCorpus: warc.gz drop dir -> packs; attrition per stage; " +
      "resume skips, param change fails, deleted stage recomputes") {
    val warcDir = Fixtures.scratchDir("graft-build-warc")
    val stageDir = Fixtures.scratchDir("graft-build-stages").toString
    // 12 good docs, one exact duplicate (same text, different uri),
    // one near duplicate (one word appended), one junk page (fails
    // both gates), one WET conversion record (skips the HTML stage)
    val caps = (0 until 12).map(i =>
      record("response", s"http://site$i.test/a",
        httpBlock(page(goodDoc(i))))) ++ Seq(
      record("response", "http://dup.test/exact",
        httpBlock(page(goodDoc(0)))),
      record("response", "http://dup.test/near",
        httpBlock(page(goodDoc(1) + " extraword."))),
      record("response", "http://junk.test/",
        httpBlock("<html><body>no sentences here<br>just fragments" +
          "</body></html>")),
      // two records the EXTRACT stage itself skips — a non-HTML
      // payload and a non-200 capture — so raw attrition (docs_in
      // from the archive record count) exceeds the extract output
      record("response", "http://img.test/logo.png", {
        val b = Array[Byte](0x50, 0x4e, 0x47)
        (s"HTTP/1.1 200 OK\r\nContent-Type: image/png\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
      }),
      record("response", "http://gone.test/", {
        val b = "<html><body>gone</body></html>".getBytes(UTF_8)
        (s"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
      }))
    val wet = record("conversion", "http://wet.test/doc",
      goodDoc(15).getBytes(UTF_8), cType = "text/plain")
    java.nio.file.Files.write(warcDir.resolve("crawl-0.warc.gz"),
      gzMembers(caps))
    java.nio.file.Files.write(warcDir.resolve("crawl-1.warc.gz"),
      gzMembers(Seq(wet)))

    val report = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, nearDupThreshold = 0.7, packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // extract: 15 html + 1 wet = 16 docs (junk still present); the
    // stage's docs_in is the RAW archive record count — 17 response +
    // 1 conversion records — so the png and 404 skips are visible as
    // extract-stage attrition, not silently absorbed
    assert(report("0_extract") == ((18L, 16L)), report.toString)
    // gate drops the junk page
    assert(report("2_gate")._2 == 15, report.toString)
    // dedup drops the exact and the near duplicate
    assert(report("3_dedup")._2 == 13, report.toString)
    // mixture up-samples heads (>= input) and packs consume everything
    assert(report("5_mix")._2 >= report("4_tiers")._2 / 2)
    assert(report("7_curriculum")._1 == report("6_pack")._2)
    // the final artifact: packs with curriculum coordinates and text
    val packs = spark.read.parquet(s"$stageDir/7_curriculum")
    val cols = packs.columns.toSet
    assert(Set("id", "stage", "shard", "position", "pack_tokens",
      "n_docs", "text").subsetOf(cols), cols.toString)
    assert(packs.count() > 0)
    assert(packs.filter(col("stage") < 1 || col("stage") > 3).count() == 0)

    // ---- resume: a second run returns the identical report without
    // recomputing (pin: stage 0's parquet mtime is untouched)
    val s0 = new java.io.File(s"$stageDir/0_extract/_graft_schema.json")
    val mtime = s0.lastModified()
    val report2 = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, nearDupThreshold = 0.7, packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report2 == report)
    assert(s0.lastModified() == mtime, "stage 0 was recomputed")

    // ---- param change on resume fails loudly
    val eP = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        nearDupThreshold = 0.8, packTokens = 64)
    }
    assert(eP.getMessage.contains("DIFFERENT parameters"), eP.getMessage)

    // ---- deleting a late stage recomputes it (and downstream) to the
    // same answer
    for (d <- Seq("5_mix", "6_pack", "7_curriculum", "report")) {
      val dir = java.nio.file.Paths.get(stageDir, d)
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val report3 = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, nearDupThreshold = 0.7, packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report3 == report)
    assert(s0.lastModified() == mtime, "stage 0 recomputed after " +
      "late-stage delete")

    // ---- lineage: recomputing a MID-pipeline stage while later
    // stage directories remain must fail loudly, not resume the
    // later stages onto parquet built from the OLD upstream data
    val dedupDir = java.nio.file.Paths.get(stageDir, "3_dedup")
    java.nio.file.Files.walk(dedupDir)
      .sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.delete(p))
    val eL = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        nearDupThreshold = 0.7, packTokens = 64)
    }
    assert(eL.getMessage.contains("STALE DOWNSTREAM STAGE") &&
      eL.getMessage.contains("4_tiers"), eL.getMessage)
    // deleting the stale downstream recovers to the identical build
    for (d <- Seq("4_tiers", "5_mix", "6_pack", "7_curriculum",
        "report")) {
      val dir = java.nio.file.Paths.get(stageDir, d)
      java.nio.file.Files.walk(dir)
        .sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val report4 = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, nearDupThreshold = 0.7, packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report4 == report)
  }

  test("buildCorpus: the target DataFrame is fingerprinted — resume " +
      "with a mutated target fails loudly, unchanged target resumes " +
      "clean") {
    import spark.implicits._
    val warcDir = Fixtures.scratchDir("graft-build-tgt-warc")
    val stageDir = Fixtures.scratchDir("graft-build-tgt-stages").toString
    val caps = (0 until 8).map(i =>
      record("response", s"http://site$i.test/a",
        httpBlock(page(goodDoc(i)))))
    java.nio.file.Files.write(warcDir.resolve("crawl-0.warc.gz"),
      gzMembers(caps))
    val target = (0 until 4).map(i => (100L + i, goodDoc(i)))
      .toDF("id", "text")
    val report = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, target = target, nearDupThreshold = 0.7,
      packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // unchanged target (even re-built in a different row order)
    // resumes clean — the fingerprint is order-insensitive
    val sameShuffled = (0 until 4).reverse.map(i => (100L + i, goodDoc(i)))
      .toDF("id", "text").repartition(3)
    val report2 = CorpusBuild.buildCorpus(spark, warcDir.toString,
      stageDir, target = sameShuffled, nearDupThreshold = 0.7,
      packTokens = 64)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(report2 == report)
    // a mutated target fails loudly (pre-fix: hasTarget=true matched
    // and stages 4+ silently resumed under the OLD tier regime)
    val mutated = (0 until 5).map(i => (100L + i, goodDoc(i)))
      .toDF("id", "text")
    val eT = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        target = mutated, nearDupThreshold = 0.7, packTokens = 64)
    }
    assert(eT.getMessage.contains("DIFFERENT parameters"), eT.getMessage)
    // SAME ids, DIFFERENT text also fails loudly: the fingerprint
    // hashes (id, text) content, so a swapped-out target corpus with
    // identical ids cannot silently mix tier regimes (pre-fix: the
    // id-only fingerprint matched and stages 4+ resumed under the
    // OLD LM regime)
    val sameIdsNewText = (0 until 4).map(i => (100L + i, goodDoc(i + 7)))
      .toDF("id", "text")
    val eS = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        target = sameIdsNewText, nearDupThreshold = 0.7,
        packTokens = 64)
    }
    assert(eS.getMessage.contains("DIFFERENT parameters"), eS.getMessage)
    // dropping the target entirely also fails
    val eN = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        nearDupThreshold = 0.7, packTokens = 64)
    }
    assert(eN.getMessage.contains("DIFFERENT parameters"), eN.getMessage)
    // null-text rows still contribute their id to the fingerprint: a
    // resume whose target differs ONLY in the id of a null-text row
    // fails loudly (pre-fix: concat NULLed the whole hash term, such
    // rows contributed nothing, and the two targets fingerprinted
    // identically)
    val stageDirN = Fixtures.scratchDir("graft-build-tgt-stages-null").toString
    def withNullRow(id: Long) =
      ((0 until 4).map(i => (100L + i, goodDoc(i))) :+
        (id, null.asInstanceOf[String])).toDF("id", "text")
    CorpusBuild.buildCorpus(spark, warcDir.toString, stageDirN,
      target = withNullRow(900L), nearDupThreshold = 0.7,
      packTokens = 64).collect()
    val eNull = intercept[IllegalArgumentException] {
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDirN,
        target = withNullRow(901L), nearDupThreshold = 0.7,
        packTokens = 64)
    }
    assert(eNull.getMessage.contains("DIFFERENT parameters"),
      eNull.getMessage)
  }

  test("kill-resume determinism: a build KILLED mid-run (right after " +
      "3_dedup commits) and restarted yields a 7_curriculum table " +
      "row-identical to an uninterrupted build") {
    val warcDir = Fixtures.scratchDir("graft-kr-warc")
    val caps0 = (0 until 6).map(i =>
      record("response", s"http://kr$i.test/a",
        httpBlock(page(goodDoc(i)))))
    val caps1 = (6 until 12).map(i =>
      record("response", s"http://kr$i.test/a",
        httpBlock(page(goodDoc(i)))))
    java.nio.file.Files.write(warcDir.resolve("kr-0.warc.gz"),
      gzMembers(caps0))
    java.nio.file.Files.write(warcDir.resolve("kr-1.warc.gz"),
      gzMembers(caps1))
    val clean = Fixtures.scratchDir("graft-kr-clean").toString
    val resumed = Fixtures.scratchDir("graft-kr-resumed").toString
    def run(stageDir: String,
        onStage: (String, Double) => Unit = (_, _) => ()) =
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        nearDupThreshold = 0.7, packTokens = 64, onStage = onStage)
    run(clean).collect()
    // the kill: onStage fires AFTER a stage's parquet + sidecars
    // commit, so aborting on 3_dedup models a worker dying between
    // stage 3 landing and stage 4 starting
    val killed = intercept[RuntimeException] {
      run(resumed, onStage = (st, _) =>
        if (st == "3_dedup")
          throw new RuntimeException("simulated mid-build kill"))
    }
    assert(killed.getMessage.contains("simulated mid-build kill"))
    assert(new java.io.File(
      s"$resumed/3_dedup/_graft_schema.json").exists())
    assert(!new java.io.File(s"$resumed/4_tiers").exists())
    // restart: stages 0-3 resume (lineage-checked), 4-7 compute; the
    // final training table must be ROW-IDENTICAL to the clean build —
    // resume determinism is what makes a mid-build kill at 100 TB a
    // delay, not a different corpus
    run(resumed).collect()
    def rows(dir: String): Seq[String] = {
      val df = spark.read.parquet(s"$dir/7_curriculum")
      df.select("id", "stage", "shard", "position", "pack_tokens",
        "n_docs", "text").collect().map(_.toString).sorted.toSeq
    }
    val (a, b) = (rows(clean), rows(resumed))
    assert(a.nonEmpty && a === b)
  }

  test("resume SKIPS completed stages: after a kill at 3_dedup the " +
      "restarted run computes ONLY 4_tiers..7_curriculum — the " +
      "operational payoff the staged-parquet design buys at 100 TB") {
    val warcDir = Fixtures.scratchDir("graft-rs-warc")
    val caps = (0 until 12).map(i =>
      record("response", s"http://rs$i.test/a",
        httpBlock(page(goodDoc(i)))))
    java.nio.file.Files.write(warcDir.resolve("rs-0.warc.gz"),
      gzMembers(caps))
    val stageDir = Fixtures.scratchDir("graft-rs-stages").toString
    def run(onStage: (String, Double) => Unit) = {
      val t0 = System.nanoTime()
      CorpusBuild.buildCorpus(spark, warcDir.toString, stageDir,
        nearDupThreshold = 0.7, packTokens = 64,
        onStage = onStage).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // full build, killed right after 3_dedup commits
    val firstComputed = scala.collection.mutable.ArrayBuffer[String]()
    intercept[RuntimeException] {
      run { (st, _) =>
        firstComputed += st
        if (st == "3_dedup")
          throw new RuntimeException("simulated mid-build kill")
      }
    }
    assert(firstComputed.toSeq ===
      Seq("0_extract", "1_repair", "2_gate", "3_dedup"))
    // the resume: onStage fires ONLY for stages that actually
    // computed, so the recorded list IS the skip evidence
    val resumedComputed = scala.collection.mutable.ArrayBuffer[String]()
    val tResume = run((st, _) => { resumedComputed += st; () })
    // the report reads every stage, so any recompute invalidates it
    // (its upstream lineage is the whole token chain) — it correctly
    // re-runs here; the DATA stages 0-3 must not
    assert(resumedComputed.toSeq ===
      Seq("4_tiers", "5_mix", "6_pack", "7_curriculum", "report"),
      "resume recomputed a committed stage")
    // and a second resume on a COMPLETE stage dir computes nothing —
    // the all-skip fast path (pure reads, no stage work at all)
    val noopComputed = scala.collection.mutable.ArrayBuffer[String]()
    val tNoop = run((st, _) => { noopComputed += st; () })
    assert(noopComputed.isEmpty, "no-op resume recomputed a stage")
    info(f"resume (4 of 8 stages) took $tResume%.2f s; " +
      f"all-skip resume $tNoop%.2f s")
    assert(tNoop < tResume,
      "the all-skip resume should do strictly less work")
  }
}
