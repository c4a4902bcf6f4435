package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev main: the 100×-scale audit of the four heaviest chains at 10M
  * docs / 10M crawl captures (round-9's story rested on 1M-doc runs) —
  * `curate` (the full 5-stage pipeline), `minHashNearDupPairs →
  * nearDupClustersStar`, `mooreLewisScores`, and the WARC → HTML →
  * clean path — each with planted-structure invariants, not just
  * wall-clock. Corpus generation is a pure distributed projection
  * (spark.range + md5 columns; WARC files are written BY EXECUTORS,
  * one gzip member-per-record file per partition).
  *
  * Run: `SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.Scale10M
  * [nDocs] [nWarcRecords]"`. Numbers land in PLANS.md's round-10
  * section.
  */
object Scale10M {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(10000000L)
    val nWarc = args.lift(1).map(_.toLong).getOrElse(10000000L)
    val spark = graft.GraftSession.configure(SparkSession.builder())
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // see ScaleSmoke: synthetic corpora make side tables corpus-sized
      // and AQE's compressed estimates under-measure them; the library
      // broadcasts explicitly where a side is small by design
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rt = Runtime.getRuntime
    def heap: String = f"${(rt.totalMemory - rt.freeMemory) / 1e9}%.1f GB"

    // --- corpus: groups of 10 — base..base+7 unique, +8 exact dup of
    // base, +9 near-dup (last hex token changed). 50 tokens/doc: every
    // 6th a stopword marker (ratio 0.18 → quality ≈ 0.79, langId en),
    // the rest seed-unique md5 hex — so the SAME corpus legitimately
    // feeds curate's gate AND the dedup/ML chains.
    val k = col("id") % 10
    val base = col("id") - k
    val tokenSeed = when(k >= 8, base).otherwise(col("id"))
    val sw = Seq("the", "and", "of", "is")
    val toks: Seq[Column] = (0 until 50).map { j =>
      if (j % 6 == 0) lit(sw((j / 6) % sw.length))
      else {
        val s = if (j == 49) when(k === 9, col("id")).otherwise(tokenSeed)
                else tokenSeed
        substring(md5(concat_ws(":", s.cast("string"), lit(j))), 1, 8)
      }
    }
    val t0 = System.nanoTime()
    val docs = spark.range(nDocs)
      .select(col("id"), concat_ws(" ", toks: _*).as("text"))
      .localCheckpoint(true)
    println(f"corpus: $nDocs docs materialized in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s, heap=$heap")

    // --- chain 1: minhash pairs → large/small-star CC ----------------
    val t1 = System.nanoTime()
    val pairs = graft.operators.Dedup.minHashNearDupPairs(docs, "id", "text")
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val tPairs = (System.nanoTime() - t1) / 1e9
    val expPairs = 3L * (nDocs / 10L)
    require(nPairs <= expPairs && nPairs >= expPairs - 50,
      s"minhash pairs $nPairs of $expPairs")
    val t2 = System.nanoTime()
    val clusters = graft.operators.Dedup
      .nearDupClustersStar(docs, "id", pairs)
      .groupBy(col("cluster")).count().count()
    val tStar = (System.nanoTime() - t2) / 1e9
    val expClusters = 8L * (nDocs / 10L)
    require(math.abs(clusters - expClusters) <= 50,
      s"star clusters $clusters of $expClusters")
    println(f"nearDupClustersStar: $nPairs pairs in $tPairs%.1f s " +
      f"(${nDocs / tPairs}%.0f docs/s), $clusters components in " +
      f"$tStar%.1f s, heap=$heap")

    // --- chain 2: Moore-Lewis (even half in-domain, odd general) -----
    val t3 = System.nanoTime()
    val ml = graft.operators.LanguageModel.mooreLewisScores(docs,
      docs.filter(col("id") % 2 === 0), docs.filter(col("id") % 2 === 1),
      "id", "text")
      .agg(sum(when(col("selected") && col("id") % 2 === 0, 1L).otherwise(0L)),
        sum(when(col("selected") && col("id") % 2 === 1 &&
          col("id") % 10 =!= 9, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
    val tMl = (System.nanoTime() - t3) / 1e9
    require(ml.getLong(2) == nDocs, s"mooreLewis rows ${ml.getLong(2)}")
    require(ml.getLong(0) == nDocs / 2L,
      s"mooreLewis even-selected ${ml.getLong(0)}")
    require(ml.getLong(1) == 0L, s"mooreLewis odd-selected ${ml.getLong(1)}")
    println(f"mooreLewis: $nDocs docs vs ${nDocs / 2}/${nDocs / 2} models " +
      f"in $tMl%.1f s (${nDocs / tMl}%.0f docs/s), heap=$heap")

    // --- chain 3: full curate ----------------------------------------
    // bench = the base docs of the first 1000 groups (they are IN the
    // corpus, so decontamination must drop exactly the surviving bench
    // bases; their +8/+9 partners already fell to the dedup stages)
    val bench = docs.filter(col("id") % 10 === 0 && col("id") < 10000)
    val t4 = System.nanoTime()
    val report = graft.operators.CorpusAnalysis
      .curate(docs, bench, "id", "text", sampleRate = 0.5, salt = "s10m")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val tCur = (System.nanoTime() - t4) / 1e9
    require(report("1_gate") == ((nDocs, nDocs)),
      s"gate ${report("1_gate")} — synthetic corpus must pass wholly")
    require(report("2_exact_dedup")._2 == nDocs - nDocs / 10L,
      s"exact ${report("2_exact_dedup")}")
    require(report("3_near_dedup")._2 == nDocs - 2L * (nDocs / 10L),
      s"near ${report("3_near_dedup")}")
    require(report("4_decontaminate")._2 ==
      nDocs - 2L * (nDocs / 10L) - 1000L,
      s"decontam ${report("4_decontaminate")}")
    val sampled = report("5_sample")._2
    val sampleIn = report("4_decontaminate")._2
    require(math.abs(sampled - sampleIn / 2L) < sampleIn / 50L,
      s"sample $sampled of $sampleIn")
    println(f"curate: $nDocs docs -> $sampled in $tCur%.1f s " +
      f"(${nDocs / tCur}%.0f docs/s), attrition " +
      report.toSeq.sortBy(_._1).map { case (s, (i, o)) => s"$s:$i->$o" }
        .mkString(" ") + s", heap=$heap")

    // --- chain 4: WARC -> HTML -> clean ------------------------------
    // executors write one member-per-record .warc.gz per partition
    // (Common Crawl layout), then the full read -> htmlResponses ->
    // extractText path runs over the directory. Every page is
    // "<html><body><p>np TEXT</p><div><a>..</a></div></body></html>"
    // so the clean must keep exactly the paragraph and drop the
    // boilerplate nav line.
    val warcDir = graft.Fixtures.scratchDir("10m-warc").toString
    val nFiles = 128
    val perFile = nWarc / nFiles
    val t5 = System.nanoTime()
    spark.range(nFiles).repartition(nFiles.toInt).foreach { fi =>
      // a single gzip member per FILE (not per record) is also legal
      // WARC-gz and parses identically through the chained-member reader
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$warcDir/part-$fi.warc.gz"))
      var i = 0L
      while (i < perFile) {
        val id = fi * perFile + i
        val body = s"<html><body><p>np$id capture text body $id</p>" +
          "<div><a href=\"/h\">Home</a> <a href=\"/a\">About</a></div>" +
          "</body></html>"
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$body"
        val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
          s"WARC-Target-URI: http://t.test/$id\r\n" +
          s"Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n" +
          http + "\r\n\r\n"
        out.write(rec.getBytes("UTF-8"))
        i += 1
      }
      out.close()
    }
    val tGen = (System.nanoTime() - t5) / 1e9
    val t6 = System.nanoTime()
    val pages = graft.operators.HtmlExtract.extractText(
      graft.sources.WarcSource.htmlResponses(
        graft.sources.WarcSource.read(spark, warcDir)).toDF()
        .select(monotonically_increasing_id().as("pid"), col("html")),
      "pid", "html")
    val pAgg = pages.agg(count(lit(1)),
      sum(when(col("n_kept") === 1 && col("text").startsWith("np") &&
        !col("text").contains("Home"), 1L).otherwise(0L))).collect()(0)
    val tWarc = (System.nanoTime() - t6) / 1e9
    require(pAgg.getLong(0) == nFiles * perFile,
      s"warc pages ${pAgg.getLong(0)} of ${nFiles * perFile}")
    require(pAgg.getLong(1) == nFiles * perFile,
      s"warc cleaned ${pAgg.getLong(1)}")
    println(f"warcHtmlClean: ${pAgg.getLong(0)} captures generated in " +
      f"$tGen%.1f s, parsed+cleaned in $tWarc%.1f s " +
      f"(${pAgg.getLong(0) / tWarc}%.0f pages/s), heap=$heap")

    // --- chain 5: tokenizer tier (WordPiece + unigram encode) --------
    // The corpus's 50 tokens/doc are 9 whole-vocab stopwords + 41
    // 8-char hex words, so both encoders have EXACT conservation
    // answers: WordPiece (hex singles + ## continuations + whole
    // stopwords) must emit 9*1 + 41*8 = 337 pieces/doc; unigram
    // (hex singles cost 10, stopwords cost 5) must emit the same 337
    // pieces at total cost 41*80 + 9*5 = 3325/doc. All cluster work is
    // the distinct-word table recipe — the driver holds only the
    // broadcast vocab, so heap stays flat at 10M docs.
    val hexDigits = "0123456789abcdef".map(_.toString)
    val wpVocab = hexDigits ++ hexDigits.map("##" + _) ++ sw
    val t7 = System.nanoTime()
    val wpAgg = graft.operators.WordPieceTokenizer
      .encode(docs, "id", "text", wpVocab)
      .agg(count(lit(1)), sum(col("n_words")), sum(col("n_subwords")),
        sum(when(array_contains(col("wp_tokens"), "[UNK]"), 1L)
          .otherwise(0L)))
      .collect()(0)
    val tWp = (System.nanoTime() - t7) / 1e9
    require(wpAgg.getLong(0) == nDocs, s"wp rows ${wpAgg.getLong(0)}")
    require(wpAgg.getLong(1) == 50L * nDocs,
      s"wp words ${wpAgg.getLong(1)}")
    require(wpAgg.getLong(2) == 337L * nDocs,
      s"wp pieces ${wpAgg.getLong(2)} of ${337L * nDocs}")
    require(wpAgg.getLong(3) == 0L, s"wp unks ${wpAgg.getLong(3)}")
    println(f"wordpiece10m: $nDocs docs, ${50L * nDocs} words -> " +
      f"${wpAgg.getLong(2)} pieces (conserved exactly) in $tWp%.1f s " +
      f"(${nDocs / tWp}%.0f docs/s), heap=$heap")

    val ugVocab = hexDigits.map(_ -> 10L) ++ sw.map(_ -> 5L)
    val t8 = System.nanoTime()
    val ugAgg = graft.operators.UnigramTokenizer
      .encode(docs, "id", "text", ugVocab)
      .agg(count(lit(1)), sum(col("n_pieces")), sum(col("total_cost")))
      .collect()(0)
    val tUg = (System.nanoTime() - t8) / 1e9
    require(ugAgg.getLong(0) == nDocs, s"ug rows ${ugAgg.getLong(0)}")
    require(ugAgg.getLong(1) == 337L * nDocs,
      s"ug pieces ${ugAgg.getLong(1)} of ${337L * nDocs}")
    require(ugAgg.getLong(2) == 3325L * nDocs,
      s"ug cost ${ugAgg.getLong(2)} of ${3325L * nDocs}")
    println(f"unigram10m: $nDocs docs Viterbi-encoded, cost identity " +
      f"exact (${3325L * nDocs}) in $tUg%.1f s " +
      f"(${nDocs / tUg}%.0f docs/s), heap=$heap")
    spark.stop()
  }
}
