package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The 100×-scale audit of the heaviest chains at 10M docs / 10M crawl
  * captures, as named steps timed through [[Measure.Recorder]]:
  * `nearDupClustersStar` (`minHashNearDupPairs → nearDupClustersStar`),
  * `mooreLewis`, `curate` (the full 5-stage pipeline), `warcHtmlClean`
  * (the WARC → HTML → clean path), `wordpiece10m` and `unigram10m` —
  * each with planted-structure invariants, not just wall-clock. Corpus
  * generation is a pure distributed projection (spark.range + md5
  * columns; WARC files are written BY EXECUTORS, one gzip
  * member-per-record file per partition), built afresh by every run of
  * a step. The report goes to `<outDir>/scale10m_<tag>.json` in
  * [[ScaleSmoke]]'s shape.
  *
  * Run: `SPARK_DRIVER_MEM=64g sbt "runMain graft.tools.Scale10M <outDir>
  * <tag> [--runs N] [nDocs [nWarcRecords]] [step...]"`.
  */
object Scale10M {
  def main(args: Array[String]): Unit = {
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
    try println("SCALE10M wrote " + Measure.runSteps(spark, "scale10m", args.toSeq,
      Seq("nDocs" -> 10000000L, "nWarc" -> 10000000L)) {
      case Seq(nDocs, nWarc) => new Scale10MSteps(spark, nDocs, nWarc).steps
    }) finally spark.stop()
  }
}

/** [[Scale10M]]'s steps at one pair of sizes. */
private final class Scale10MSteps(spark: SparkSession, nDocs: Long, nWarc: Long) {
  private val all = Seq.newBuilder[(String, () => Measure.Counts)]
  private def step(name: String)(body: => Measure.Counts): Unit = all += name -> (() => body)

  private val sw = Seq("the", "and", "of", "is")

  /** Groups of 10 — base..base+7 unique, +8 exact dup of base, +9
    * near-dup (last hex token changed). 50 tokens/doc: every 6th a
    * stopword marker (ratio 0.18 → quality ≈ 0.79, langId en), the rest
    * seed-unique md5 hex — so the SAME corpus legitimately feeds
    * curate's gate AND the dedup/ML chains.
    */
  private def corpus(): DataFrame = {
    val k = col("id") % 10
    val base = col("id") - k
    val tokenSeed = when(k >= 8, base).otherwise(col("id"))
    val toks: Seq[Column] = (0 until 50).map { j =>
      if (j % 6 == 0) lit(sw((j / 6) % sw.length))
      else {
        val s = if (j == 49) when(k === 9, col("id")).otherwise(tokenSeed)
                else tokenSeed
        substring(md5(concat_ws(":", s.cast("string"), lit(j))), 1, 8)
      }
    }
    spark.range(nDocs)
      .select(col("id"), concat_ws(" ", toks: _*).as("text"))
      .localCheckpoint(true)
  }

  // --- chain 1: minhash pairs → large/small-star CC ----------------
  step("nearDupClustersStar") {
    val docs = corpus()
    val pairs = graft.operators.Dedup.minHashNearDupPairs(docs, "id", "text")
      .localCheckpoint(true)
    val nPairs = pairs.count()
    val expPairs = 3L * (nDocs / 10L)
    require(nPairs <= expPairs && nPairs >= expPairs - 50,
      s"minhash pairs $nPairs of $expPairs")
    val clusters = graft.operators.Dedup
      .nearDupClustersStar(docs, "id", pairs)
      .groupBy(col("cluster")).count().count()
    val expClusters = 8L * (nDocs / 10L)
    require(math.abs(clusters - expClusters) <= 50,
      s"star clusters $clusters of $expClusters")
    Seq("pairs" -> nPairs, "components" -> clusters)
  }

  // --- chain 2: Moore-Lewis (even half in-domain, odd general) -----
  step("mooreLewis") {
    val docs = corpus()
    val ml = graft.operators.LanguageModel.mooreLewisScores(docs,
      docs.filter(col("id") % 2 === 0), docs.filter(col("id") % 2 === 1),
      "id", "text")
      .agg(sum(when(col("selected") && col("id") % 2 === 0, 1L).otherwise(0L)),
        sum(when(col("selected") && col("id") % 2 === 1 &&
          col("id") % 10 =!= 9, 1L).otherwise(0L)),
        count(lit(1))).collect()(0)
    require(ml.getLong(2) == nDocs, s"mooreLewis rows ${ml.getLong(2)}")
    require(ml.getLong(0) == nDocs / 2L,
      s"mooreLewis even-selected ${ml.getLong(0)}")
    require(ml.getLong(1) == 0L, s"mooreLewis odd-selected ${ml.getLong(1)}")
    Seq("docs" -> nDocs, "evenSelected" -> ml.getLong(0))
  }

  // --- chain 3: full curate ----------------------------------------
  // bench = the base docs of the first 1000 groups (they are IN the
  // corpus, so decontamination must drop exactly the surviving bench
  // bases; their +8/+9 partners already fell to the dedup stages)
  step("curate") {
    val docs = corpus()
    val bench = docs.filter(col("id") % 10 === 0 && col("id") < 10000)
    val report = graft.operators.CorpusAnalysis
      .curate(docs, bench, "id", "text", sampleRate = 0.5, salt = "s10m")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
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
    Seq("docs" -> nDocs, "sampled" -> sampled) ++ report.toSeq.sortBy(_._1)
      .map { case (s, (i, o)) => s -> Seq(i, o) }
  }

  // --- chain 4: WARC -> HTML -> clean ------------------------------
  // executors write one member-per-record .warc.gz per partition
  // (Common Crawl layout), then the full read -> htmlResponses ->
  // extractText path runs over the directory. Every page is
  // "<html><body><p>np TEXT</p><div><a>..</a></div></body></html>"
  // so the clean must keep exactly the paragraph and drop the
  // boilerplate nav line.
  step("warcHtmlClean") {
    val warcDir = graft.Fixtures.scratchDir("10m-warc").toString
    val nFiles = 128
    val perFile = nWarc / nFiles
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
    val pages = graft.operators.HtmlExtract.extractText(
      graft.sources.WarcSource.htmlResponses(
        graft.sources.WarcSource.read(spark, warcDir)).toDF()
        .select(monotonically_increasing_id().as("pid"), col("html")),
      "pid", "html")
    val pAgg = pages.agg(count(lit(1)),
      sum(when(col("n_kept") === 1 && col("text").startsWith("np") &&
        !col("text").contains("Home"), 1L).otherwise(0L))).collect()(0)
    require(pAgg.getLong(0) == nFiles * perFile,
      s"warc pages ${pAgg.getLong(0)} of ${nFiles * perFile}")
    require(pAgg.getLong(1) == nFiles * perFile,
      s"warc cleaned ${pAgg.getLong(1)}")
    Seq("captures" -> pAgg.getLong(0))
  }

  // --- chain 5: tokenizer tier (WordPiece + unigram encode) --------
  // The corpus's 50 tokens/doc are 9 whole-vocab stopwords + 41
  // 8-char hex words, so both encoders have EXACT conservation
  // answers: WordPiece (hex singles + ## continuations + whole
  // stopwords) must emit 9*1 + 41*8 = 337 pieces/doc; unigram
  // (hex singles cost 10, stopwords cost 5) must emit the same 337
  // pieces at total cost 41*80 + 9*5 = 3325/doc. All cluster work is
  // the distinct-word table recipe — the driver holds only the
  // broadcast vocab, so heap stays flat at 10M docs.
  private val hexDigits = "0123456789abcdef".map(_.toString)

  step("wordpiece10m") {
    val wpVocab = hexDigits ++ hexDigits.map("##" + _) ++ sw
    val wpAgg = graft.operators.WordPieceTokenizer
      .encode(corpus(), "id", "text", wpVocab)
      .agg(count(lit(1)), sum(col("n_words")), sum(col("n_subwords")),
        sum(when(array_contains(col("wp_tokens"), "[UNK]"), 1L)
          .otherwise(0L)))
      .collect()(0)
    require(wpAgg.getLong(0) == nDocs, s"wp rows ${wpAgg.getLong(0)}")
    require(wpAgg.getLong(1) == 50L * nDocs,
      s"wp words ${wpAgg.getLong(1)}")
    require(wpAgg.getLong(2) == 337L * nDocs,
      s"wp pieces ${wpAgg.getLong(2)} of ${337L * nDocs}")
    require(wpAgg.getLong(3) == 0L, s"wp unks ${wpAgg.getLong(3)}")
    Seq("docs" -> nDocs, "words" -> 50L * nDocs, "pieces" -> wpAgg.getLong(2))
  }

  step("unigram10m") {
    val ugVocab = hexDigits.map(_ -> 10L) ++ sw.map(_ -> 5L)
    val ugAgg = graft.operators.UnigramTokenizer
      .encode(corpus(), "id", "text", ugVocab)
      .agg(count(lit(1)), sum(col("n_pieces")), sum(col("total_cost")))
      .collect()(0)
    require(ugAgg.getLong(0) == nDocs, s"ug rows ${ugAgg.getLong(0)}")
    require(ugAgg.getLong(1) == 337L * nDocs,
      s"ug pieces ${ugAgg.getLong(1)} of ${337L * nDocs}")
    require(ugAgg.getLong(2) == 3325L * nDocs,
      s"ug cost ${ugAgg.getLong(2)} of ${3325L * nDocs}")
    Seq("docs" -> nDocs, "cost" -> 3325L * nDocs)
  }

  /** Each step by name, in run order. */
  val steps: Seq[(String, () => Measure.Counts)] = all.result()
}
