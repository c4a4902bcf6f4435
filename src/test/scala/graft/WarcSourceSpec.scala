package graft

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.HtmlExtract
import graft.sources.WarcSource

/** WARC source: record framing, HTTP payload split, gzip member
  * chaining, fail-loud corruption handling, and the e2e handoff into
  * HtmlExtract.
  */
class WarcSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // ---- fixture builders (byte-precise WARC 1.0 framing) ----
  private def httpBlock(body: String,
      status: String = "200 OK",
      cType: String = "text/html; charset=utf-8"): Array[Byte] = {
    val b = body.getBytes(UTF_8)
    (s"HTTP/1.1 $status\r\nContent-Type: $cType\r\n" +
      s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
  }

  private def record(warcType: String, uri: String, block: Array[Byte],
      cType: String = "application/http; msgtype=response"): Array[Byte] = {
    (s"WARC/1.0\r\nWARC-Type: $warcType\r\n" +
      s"WARC-Record-ID: <urn:uuid:$uri>\r\n" +
      s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: $cType\r\n" +
      s"Content-Length: ${block.length}\r\n\r\n").getBytes(UTF_8) ++
      block ++ "\r\n\r\n".getBytes(UTF_8)
  }

  private def gzMember(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(b); gz.close()
    bos.toByteArray
  }

  private val warcinfo = record("warcinfo", "",
    "software: graft-test\r\n".getBytes(UTF_8), cType = "application/warc-fields")

  test("two-record WARC parses with exact framing and payload split") {
    val html1 = "<html><body><p>Alpha body text.</p></body></html>"
    val html2 = "<html><body><p>Beta body text.</p></body></html>"
    val bytes = warcinfo ++
      record("response", "http://a.test/1", httpBlock(html1)) ++
      record("response", "http://b.test/2", httpBlock(html2))
    val recs = WarcSource.expandWarc("t.warc", bytes).toVector
    assert(recs.map(_.warc_type) == Vector("warcinfo", "response", "response"))
    assert(recs.map(_.record_seq) == Vector(0, 1, 2))
    val r1 = recs(1)
    assert(r1.target_uri == "http://a.test/1")
    assert(r1.http_status == 200)
    assert(r1.http_content_type == "text/html; charset=utf-8")
    assert(new String(r1.body, UTF_8) == html1)
    assert(r1.content_length > html1.length) // block includes HTTP headers
    // non-http record keeps its whole block as body, status -1
    assert(recs(0).http_status == -1 &&
      new String(recs(0).body, UTF_8).contains("graft-test"))
    assert(new String(recs(2).body, UTF_8) == html2)
  }

  test("non-200 and non-html responses are excluded from htmlResponses") {
    import spark.implicits._
    val bytes = warcinfo ++
      record("response", "http://a.test/ok", httpBlock("<p>keep</p>")) ++
      record("response", "http://a.test/404",
        httpBlock("<p>gone</p>", status = "404 Not Found")) ++
      record("response", "http://a.test/json",
        httpBlock("""{"k":1}""", cType = "application/json")) ++
      record("request", "http://a.test/ok",
        "GET / HTTP/1.1\r\n\r\n".getBytes(UTF_8),
        cType = "application/http; msgtype=request")
    val ds = spark.createDataset(Seq(("m.warc", bytes))).toDF("path", "content")
    val html = WarcSource.htmlResponses(WarcSource.expand(ds)).collect()
    assert(html.map(_.url).toSeq == Seq("http://a.test/ok"))
    assert(html(0).html == "<p>keep</p>")
  }

  test("wetTexts decodes conversion records only, lossy UTF-8") {
    import spark.implicits._
    val txt = "Pre-extracted page text.\nSecond line — naïve café."
    val bytes = warcinfo ++
      record("conversion", "http://a.test/wet", txt.getBytes(UTF_8),
        cType = "text/plain") ++
      record("response", "http://a.test/html", httpBlock("<p>html</p>")) ++
      record("conversion", "http://a.test/json",
        """{"k":1}""".getBytes(UTF_8), cType = "application/json")
    val ds = spark.createDataset(Seq(("w.wet", bytes))).toDF("path", "content")
    val wet = WarcSource.wetTexts(WarcSource.expand(ds)).collect()
    // only the text/plain conversion record survives; the html response
    // and non-plain conversion are excluded
    assert(wet.map(_.url).toSeq == Seq("http://a.test/wet"))
    assert(wet(0).text == txt)
    assert(wet(0).warc_date == "2024-01-01T00:00:00Z")
    // malformed bytes decode lossily to U+FFFD, never throw
    val bad = warcinfo ++ record("conversion", "http://a.test/bad",
      Array[Byte]('o', 'k', 0xFF.toByte), cType = "text/plain")
    val ds2 = spark.createDataset(Seq(("b.wet", bad))).toDF("path", "content")
    val wet2 = WarcSource.wetTexts(WarcSource.expand(ds2)).collect()
    assert(wet2(0).text == "ok�")
  }

  test("gzipped member-per-record WARC reads through the file API") {
    val html = "<html><body><p>Gzip capture body.</p></body></html>"
    // Common Crawl layout: each record its own gzip member, concatenated
    val gz = gzMember(warcinfo) ++
      gzMember(record("response", "http://gz.test/1", httpBlock(html))) ++
      gzMember(record("response", "http://gz.test/2", httpBlock(html)))
    val dir = Fixtures.scratchDir("graft-warc")
    java.nio.file.Files.write(dir.resolve("part-0.warc.gz"), gz)
    // a second, PLAIN file in the same directory: suffix routing
    java.nio.file.Files.write(dir.resolve("part-1.warc"),
      record("response", "http://plain.test/1", httpBlock(html)))
    val recs = WarcSource.read(spark, dir.toString).collect()
    assert(recs.length == 4)
    assert(recs.count(_.warc_type == "response") == 3)
    val urls = recs.filter(_.warc_type == "response").map(_.target_uri).sorted
    assert(urls.toSeq == Seq("http://gz.test/1", "http://gz.test/2",
      "http://plain.test/1"))
    assert(recs.filter(_.warc_type == "response")
      .forall(r => new String(r.body, UTF_8) == html))
  }

  test("a directory resolves RECURSIVELY (crawl segment tree layout)") {
    val html = "<html><body><p>Segment capture.</p></body></html>"
    val root = Fixtures.scratchDir("graft-crawl")
    // crawl-data/CC-MAIN-*/segments/<seg>/warc/*.warc.gz shape
    val w1 = root.resolve("segments/seg-001/warc")
    val w2 = root.resolve("segments/seg-002/warc")
    java.nio.file.Files.createDirectories(w1)
    java.nio.file.Files.createDirectories(w2)
    java.nio.file.Files.write(w1.resolve("part-0.warc.gz"),
      gzMember(record("response", "http://seg1.test/1", httpBlock(html))))
    java.nio.file.Files.write(w2.resolve("part-0.warc.gz"),
      gzMember(record("response", "http://seg2.test/1", httpBlock(html))))
    val recs = WarcSource.read(spark, root.toString).collect()
    assert(recs.map(_.target_uri).sorted.toSeq ==
      Seq("http://seg1.test/1", "http://seg2.test/1"))
  }

  test("chunked transfer-encoding payloads are de-framed; malformed kept raw") {
    val html = "<html><body><p>Chunked capture body, long enough to span chunks.</p></body></html>"
    def chunked(s: String, sizes: Seq[Int]): String = {
      val b = new StringBuilder
      var rest = s
      for (n <- sizes; if rest.nonEmpty) {
        val take = math.min(n, rest.length)
        b ++= take.toHexString ++ "\r\n" ++ rest.take(take) ++ "\r\n"
        rest = rest.drop(take)
      }
      assert(rest.isEmpty, "sizes must cover the payload")
      b ++= "0\r\n\r\n"
      b.toString
    }
    val payload = chunked(html, Seq(10, 25, 1000))
    val block =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n" +
        s"Transfer-Encoding: chunked\r\n\r\n$payload").getBytes(UTF_8)
    val bytes = record("response", "http://chunk.test/1", block) ++
      // chunk-size extension form (`;name=val`) must also de-frame
      record("response", "http://chunk.test/2",
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Transfer-Encoding: chunked\r\n\r\n" +
          "5;x=1\r\n<p>ab\r\n4\r\ncd</\r\n2\r\np>\r\n0\r\n\r\n").getBytes(UTF_8)) ++
      // malformed framing (non-hex size line) stays RAW, not truncated
      record("response", "http://chunk.test/bad",
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Transfer-Encoding: chunked\r\n\r\n" +
          "ZZZ\r\n<p>raw</p>").getBytes(UTF_8))
    val recs = WarcSource.expandWarc("c.warc", bytes).toVector
    assert(new String(recs(0).body, UTF_8) == html)
    assert(new String(recs(1).body, UTF_8) == "<p>abcd</p>")
    assert(new String(recs(2).body, UTF_8) == "ZZZ\r\n<p>raw</p>")
    // …and the de-framed page flows into htmlResponses cleanly
    import spark.implicits._
    val ds = spark.createDataset(Seq(("c.warc", bytes))).toDF("path", "content")
    val pages = WarcSource.htmlResponses(WarcSource.expand(ds)).collect()
      .sortBy(_.record_seq)
    assert(pages(0).html == html)
    assert(!pages.exists(_.html.contains("\r\n0\r\n")), "framing leaked")
  }

  test("corruption fails loudly: truncated block and garbage leader") {
    val good = record("response", "http://a.test/1", httpBlock("<p>x</p>"))
    val truncated = good.dropRight(10) // inside the final block/separator
    val e1 = intercept[Exception] {
      WarcSource.expandWarc("bad.warc", truncated).toVector
    }
    assert(e1.getMessage.contains("truncated"), e1.getMessage)
    val garbage = "NOT-A-WARC\r\n".getBytes(UTF_8) ++ good
    val e2 = intercept[Exception] {
      WarcSource.expandWarc("bad2.warc", garbage).toVector
    }
    assert(e2.getMessage.contains("WARC/ version line"), e2.getMessage)
  }

  test("streaming ingest: a WARC landing directory drains through the parser") {
    import spark.implicits._
    val html = "<html><body><p>Streamed capture.</p></body></html>"
    val dir = Fixtures.scratchDir("graft-warc-stream")
    java.nio.file.Files.write(dir.resolve("batch-0.warc"),
      warcinfo ++ record("response", "http://s.test/1", httpBlock(html)))
    // binaryFile is a FileFormat, so the file-stream source serves it:
    // new crawl files landing in the directory become micro-batches,
    // and the typed expand/filter/map operators compose unchanged on
    // the streaming Dataset — the same continuous-ingest shape as the
    // queue subscription source
    val stream = spark.readStream.format("binaryFile")
      // the file-stream source requires an explicit schema; binaryFile's
      // is fixed by the format
      .schema("path string, modificationTime timestamp, length long, content binary")
      .load(dir.toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, c) => graft.sources.WarcSource.expandWarc(p, c) }
      .filter(r => r.warc_type == "response")
      .map(r => (r.target_uri, new String(r.body, UTF_8)))
    val q = stream.writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // a second file lands mid-stream → next micro-batch picks it up
      java.nio.file.Files.write(dir.resolve("batch-1.warc"),
        record("response", "http://s.test/2", httpBlock(html)))
      q.processAllAvailable()
      val got = spark.table("warc_stream").as[(String, String)]
        .collect().sortBy(_._1)
      assert(got.map(_._1).toSeq == Seq("http://s.test/1", "http://s.test/2"))
      assert(got.forall(_._2 == html))
    } finally q.stop()
  }

  test("e2e stream: warc.gz drop-dir -> html -> clean -> incremental near-dedup") {
    import spark.implicits._
    // 30 distinct tokens; a re-crawl changing the last token alters one
    // of 28 trigrams -> J = 27/29 ~ 0.93 >= 0.8 (the shape the batch
    // incremental spec and ScaleSmoke use)
    def doc(seed: String): String = (0 until 30).map(j => s"$seed$j").mkString(" ")
    val existing = Seq((100L, doc("wa")), (101L, doc("wb")))
      .toDF("doc_id", "text")
    def page(body: String) = s"<html><body><p>$body</p></body></html>"
    def cap(uri: String, body: String, date: String): Array[Byte] =
      gzMember((s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Record-ID: <urn:uuid:$uri>\r\n" +
        s"WARC-Date: $date\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${httpBlock(page(body)).length}\r\n\r\n").getBytes(UTF_8) ++
        httpBlock(page(body)) ++ "\r\n\r\n".getBytes(UTF_8))
    val dir = Fixtures.scratchDir("graft-warc-neardup")
    // batch 0: a near-dup re-crawl of corpus doc wa + a genuinely new page
    java.nio.file.Files.write(dir.resolve("crawl-0.warc.gz"),
      cap("http://c.test/dup", doc("wa").replaceAll("wa29$", "zz"),
        "2024-01-01T00:00:00Z") ++
      cap("http://c.test/new", doc("wf"), "2024-01-01T00:00:01Z"))
    val records = spark.readStream.format("binaryFile")
      .schema("path string, modificationTime timestamp, length long, content binary")
      .load(dir.toString)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (p, c) => WarcSource.expandWarc(p, c) }
    val html = records.toDF()
      .filter(col("warc_type") === "response" && col("http_status") === 200 &&
        lower(col("http_content_type")).contains("text/html"))
      .select(xxhash64(col("target_uri")).as("page_id"),
        col("target_uri").as("url"),
        col("warc_date").cast("timestamp").as("ts"),
        col("body").cast("string").as("html"))
    val cleaned = graft.operators.HtmlExtract
      .extractText(html, "page_id", "html", carryCols = Seq("url", "ts"))
    val admitted = graft.operators.Dedup
      .streamingNearDedup(cleaned, existing, "doc_id", "text", "ts",
        lateness = "10 minutes")
    val q = admitted.writeStream.format("memory").queryName("warc_near")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // stateless admission: batch-0 decisions emit in batch 0; the
      // later crawls just exercise the multi-batch file source
      java.nio.file.Files.write(dir.resolve("crawl-1.warc.gz"),
        cap("http://c.test/new2", doc("wg"), "2024-01-01T01:00:00Z"))
      q.processAllAvailable()
      java.nio.file.Files.write(dir.resolve("crawl-2.warc.gz"),
        cap("http://c.test/new3", doc("wh"), "2024-01-01T02:00:00Z"))
      q.processAllAvailable()
      val got = spark.table("warc_near").select("url", "text").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      // the re-crawl is dropped, the new page admitted with its
      // CLEANED text (tags gone)
      assert(got.contains("http://c.test/new"), s"got ${got.keys}")
      assert(!got.contains("http://c.test/dup"), s"got ${got.keys}")
      assert(got("http://c.test/new") == doc("wf"))
      assert(got.contains("http://c.test/new2"), s"got ${got.keys}")
      assert(got.contains("http://c.test/new3"), s"got ${got.keys}")
    } finally q.stop()
  }

  test("e2e: WARC -> htmlResponses -> HtmlExtract yields the page text") {
    import spark.implicits._
    val page =
      "<html><head><title>T</title></head><body>" +
        "<p>Real paragraph with words.</p>" +
        "<div class=\"nav\"><a href=\"/h\">Home</a> <a href=\"/a\">About</a></div>" +
        "</body></html>"
    val bytes = warcinfo ++
      record("response", "http://e2e.test/1", httpBlock(page)) ++
      record("response", "http://e2e.test/2", httpBlock(page))
    val ds = spark.createDataset(Seq(("e.warc", bytes))).toDF("path", "content")
    val html = WarcSource.htmlResponses(WarcSource.expand(ds))
    val out = HtmlExtract.extractText(html.toDF(), "record_seq", "html")
      .orderBy("id").collect()
    assert(out.length == 2)
    // nav line (pure links) is boilerplate-dropped; title + body kept
    assert(out.forall(_.getString(1) == "T\nReal paragraph with words."),
      out.map(_.getString(1)).mkString("|"))
    assert(out.forall(r => r.getLong(2) == 3L && r.getLong(3) == 2L))
  }
}
