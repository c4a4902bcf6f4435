package graft.sources

import java.io.{ByteArrayInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** One parsed WARC record (ISO 28500 / WARC 1.0–1.1).
  *
  * `http_status`/`http_content_type` are parsed from the embedded HTTP
  * response when the record is `WARC-Type: response` with an
  * `application/http` content type, and are `-1`/`""` otherwise;
  * `body` is then the HTTP payload (bytes after the HTTP header
  * block). For every other record type `body` is the full WARC block.
  * Bodies stay OPAQUE BINARY — the multimodal-column contract: typed
  * metadata beside raw bytes, decoding deferred to the consumer.
  */
final case class WarcRecord(
    warc_path: String,
    record_seq: Int, // 0-based position of the record within its file
    warc_type: String,
    record_id: String,
    target_uri: String,
    warc_date: String,
    content_type: String,
    content_length: Long,
    http_status: Int,
    http_content_type: String,
    body: Array[Byte]
)

/** A decoded HTML capture — the handoff row into
  * [[graft.operators.HtmlExtract.extractText]].
  */
final case class WarcHtml(
    warc_path: String,
    record_seq: Int,
    url: String,
    warc_date: String,
    http_status: Int,
    html: String
)

/** A decoded WET conversion record — pre-extracted page text, the
  * handoff row straight into the cleaning/dedup pipeline (no HTML
  * stage needed).
  */
final case class WetText(
    warc_path: String,
    record_seq: Int,
    url: String,
    warc_date: String,
    text: String
)

/** Raw-crawl WARC source — the entry point a web-scale corpus build
  * starts from (Common Crawl publishes its captures as gzipped WARC;
  * the full pipeline is WARC → HTML → text → clean → dedup → select →
  * tokenize → pack, and every stage downstream of this one already
  * exists in this library). Format: ISO 28500; record layout and the
  * CRLF-CRLF record separator follow the public WARC 1.1 spec.
  *
  * Architecture mirrors [[GeoJsonZipSource]]: archive *paths* are
  * distributed as a Dataset, and each task streams one file through a
  * lazy record iterator — a record's block is the only buffered unit
  * (bounded by `maxRecordBytes`), so a 1 GB WARC costs the same
  * executor memory as a 1 MB one. Parallelism comes from MANY files —
  * the unit Common Crawl itself shards by (100k-file segments) — so a
  * 1000-executor cluster saturates on a directory listing without any
  * in-file split coordination; one stream is inherently serial
  * (gzip members chain back-to-back with no central directory).
  *
  * Gzip: `.warc.gz` files are member-per-record concatenations;
  * `GZIPInputStream` walks concatenated members natively, so the
  * same iterator serves both plain and gzipped streams.
  *
  * Bodies decode to text lazily and LOSSILY (UTF-8, malformed bytes →
  * U+FFFD) in [[htmlResponses]] — deterministic across engines, with
  * charset repair delegated to the downstream mojibake operator
  * ([[graft.operators.TextRepair]]) rather than a per-page charset
  * sniff in the hot parse loop.
  */
object WarcSource {

  /** Per-record block-size ceiling: fail loud on a corrupt length
    * instead of buffering an unbounded block (1 GiB — far above any
    * real capture, far below executor memory).
    */
  val maxRecordBytes: Long = 1L << 30

  /** Read one or more WARC files (path, glob, or directory; `.gz`
    * decided per file by suffix) into a Dataset[WarcRecord],
    * streaming each file — no whole-file materialization.
    */
  def read(spark: SparkSession, path: String): Dataset[WarcRecord] = {
    import spark.implicits._
    val files = resolvePaths(spark, path)
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val parallelism =
      math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files)
      .repartition(parallelism) // one file per task when files ≤ cores
      .flatMap { p =>
        val fsPath = new Path(p)
        val fs = fsPath.getFileSystem(hconf.value)
        val raw = fs.open(fsPath)
        val in: InputStream =
          if (p.endsWith(".gz")) new GZIPInputStream(raw) else raw
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        StreamUtil.closeOnExhaustion(records(p, in), in)
      }
  }

  /** Expand a (path, content) DataFrame of already-materialized WARC
    * blobs (e.g. a `binaryFile` scan or a binary column); `.gz` paths
    * are decompressed.
    */
  def expand(warcs: DataFrame): Dataset[WarcRecord] = {
    val spark = warcs.sparkSession
    import spark.implicits._
    warcs
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, content) =>
        val bin = new ByteArrayInputStream(content)
        val in: InputStream =
          if (p.endsWith(".gz")) new GZIPInputStream(bin) else bin
        records(p, in)
      }
  }

  /** Expand in-memory WARC bytes (tests / small fixtures). */
  def expandWarc(path: String, content: Array[Byte]): Iterator[WarcRecord] = {
    val bin = new ByteArrayInputStream(content)
    val in: InputStream =
      if (path.endsWith(".gz")) new GZIPInputStream(bin) else bin
    records(path, in)
  }

  /** Successful HTML captures, decoded for the text pipeline:
    * `WARC-Type: response`, HTTP 200, `text/html` payload. Composes
    * directly: `HtmlExtract.extractText(htmlResponses(read(...)).toDF,
    * "record_seq", "html")` (or key on `url`).
    */
  def htmlResponses(recs: Dataset[WarcRecord]): Dataset[WarcHtml] = {
    import recs.sparkSession.implicits._
    recs
      .filter(r => r.warc_type == "response" && r.http_status == 200 &&
        r.http_content_type.toLowerCase.contains("text/html"))
      .map(r => WarcHtml(r.warc_path, r.record_seq, r.target_uri,
        r.warc_date, r.http_status,
        new String(r.body, StandardCharsets.UTF_8)))
  }

  /** WET extracted-text records, decoded for the text pipeline.
    * Common Crawl's WET sidecar files are ordinary WARC archives whose
    * payload records are `WARC-Type: conversion` with a `text/plain`
    * block (the crawl's own HTML→text extraction) — reading them
    * skips the HTML stage entirely, so a corpus build can start one
    * step further downstream: `wetTexts(read(spark, wetDir)).toDF`
    * feeds `c4Clean`/`gopherRules`/dedup directly. Decoding is the
    * same deterministic lossy UTF-8 as [[htmlResponses]].
    */
  def wetTexts(recs: Dataset[WarcRecord]): Dataset[WetText] = {
    import recs.sparkSession.implicits._
    recs
      .filter(r => r.warc_type == "conversion" &&
        r.content_type.toLowerCase.startsWith("text/plain"))
      .map(r => WetText(r.warc_path, r.record_seq, r.target_uri,
        r.warc_date, new String(r.body, StandardCharsets.UTF_8)))
  }

  /** Lazily walk one WARC stream. Leading blank lines before a record
    * (the CRLF-CRLF separator, and any padding) are skipped; a stream
    * that ends there ends the iterator cleanly. Anything else that is
    * not a `WARC/` version line — and any record missing the mandatory
    * Content-Length — fails loudly: a streamed format with
    * length-prefixed blocks cannot be resynced after corruption, and
    * silently dropping the tail of a crawl file is the one wrong
    * answer.
    */
  def records(warcPath: String, in: InputStream): Iterator[WarcRecord] =
    new Iterator[WarcRecord] {
      private var idx = 0
      private var nextRec: WarcRecord = _
      private var done = false

      private def advance(): Unit = {
        if (done || nextRec != null) return
        var line = readLine(in)
        while (line != null && line.isEmpty) line = readLine(in)
        if (line == null) { done = true; return }
        require(line.startsWith("WARC/"),
          s"$warcPath: expected a WARC/ version line at record $idx, got '" +
            line.take(80) + "'")
        // WARC named fields: `Name: value`, case-insensitive names
        val fields = scala.collection.mutable.Map.empty[String, String]
        var h = readLine(in)
        while (h != null && h.nonEmpty) {
          val colon = h.indexOf(':')
          if (colon > 0)
            fields(h.substring(0, colon).trim.toLowerCase) =
              h.substring(colon + 1).trim
          h = readLine(in)
        }
        val len = fields.getOrElse("content-length",
          throw new IllegalStateException(
            s"$warcPath: record $idx has no Content-Length")).toLong
        require(len >= 0 && len <= maxRecordBytes,
          s"$warcPath: record $idx Content-Length $len out of range")
        val block = new Array[Byte](len.toInt)
        readFully(in, block, warcPath, idx)
        val warcType = fields.getOrElse("warc-type", "")
        val cType = fields.getOrElse("content-type", "")
        var status = -1
        var httpCType = ""
        var body = block
        if (warcType == "response" &&
            cType.toLowerCase.startsWith("application/http")) {
          val headerEnd = indexOfCrlfCrlf(block)
          if (headerEnd >= 0) {
            val head = new String(block, 0, headerEnd, StandardCharsets.UTF_8)
            val lines = head.split("\r\n")
            status = lines.headOption
              .flatMap(sl => sl.split(" ").lift(1))
              .flatMap(c => scala.util.Try(c.toInt).toOption)
              .getOrElse(-1)
            httpCType = lines.drop(1)
              .find(_.toLowerCase.startsWith("content-type:"))
              .map(l => l.substring(l.indexOf(':') + 1).trim)
              .getOrElse("")
            body = java.util.Arrays.copyOfRange(block, headerEnd + 4, block.length)
            // HTTP/1.1 chunked payloads keep their wire framing in the
            // capture (crawlers store exactly what the server sent);
            // de-frame it here so hex size lines and chunk separators
            // never reach the text pipeline as noise
            val chunked = lines.drop(1)
              .find(_.toLowerCase.startsWith("transfer-encoding:"))
              .exists(_.toLowerCase.contains("chunked"))
            if (chunked) body = dechunk(body)
          }
        }
        nextRec = WarcRecord(warcPath, idx, warcType,
          fields.getOrElse("warc-record-id", ""),
          fields.getOrElse("warc-target-uri", ""),
          fields.getOrElse("warc-date", ""),
          cType, len, status, httpCType, body)
        idx += 1
      }

      def hasNext: Boolean = { advance(); nextRec != null }
      def next(): WarcRecord = {
        advance()
        if (nextRec == null) throw new NoSuchElementException
        val r = nextRec; nextRec = null; r
      }
    }

  /** One header line: bytes to LF, trailing CR stripped (WARC headers
    * are CRLF-delimited UTF-8). Null at clean EOF.
    */
  private def readLine(in: InputStream): String = {
    val buf = new java.io.ByteArrayOutputStream(80)
    var b = in.read()
    if (b < 0) return null
    while (b >= 0 && b != '\n') { buf.write(b); b = in.read() }
    val bytes = buf.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r')
      bytes.length - 1 else bytes.length
    new String(bytes, 0, n, StandardCharsets.UTF_8)
  }

  private def readFully(in: InputStream, dst: Array[Byte],
      path: String, seq: Int): Unit = {
    var off = 0
    while (off < dst.length) {
      val n = in.read(dst, off, dst.length - off)
      if (n < 0) throw new EOFException(
        s"$path: record $seq truncated at $off of ${dst.length} block bytes")
      off += n
    }
  }

  /** De-frame an HTTP/1.1 `Transfer-Encoding: chunked` payload
    * (RFC 9112 §7.1): `size-hex[;ext] CRLF data CRLF` repeated, a `0`
    * last-chunk, optional trailers. On ANY framing violation the
    * input is returned UNCHANGED: a capture holds whatever bytes the
    * server actually sent, so malformed framing is page noise for the
    * downstream cleaners to judge — silently truncating a valid
    * capture on a parse guess is the one wrong answer. (Trailers
    * after the last chunk are dropped with the framing, as every
    * HTTP client does.)
    */
  private[sources] def dechunk(b: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(b.length)
    var i = 0
    while (true) {
      // one chunk-size line, CRLF-terminated
      val start = i
      while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
      if (i + 1 >= b.length) return b // no CRLF → not chunked framing
      val line = new String(b, start, i - start, StandardCharsets.US_ASCII)
      i += 2
      val sizeStr = line.split(";", 2)(0).trim
      val size =
        try java.lang.Long.parseLong(sizeStr, 16)
        catch { case _: NumberFormatException => return b }
      if (size < 0 || size > b.length - i) return b
      if (size == 0) return out.toByteArray // last-chunk; trailers dropped
      out.write(b, i, size.toInt)
      i += size.toInt
      // chunk data must be CRLF-terminated
      if (!(i + 1 < b.length && b(i) == '\r' && b(i + 1) == '\n')) return b
      i += 2
    }
    b // unreachable
  }

  private def indexOfCrlfCrlf(b: Array[Byte]): Int = {
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Driver-side resolution of a path/glob/directory into files —
    * bounded driver RPCs per load; bytes stay on executors (same
    * contract as [[GeoJsonZipSource]]). A directory is walked
    * RECURSIVELY (`listFiles(_, recursive = true)` batches the RPCs):
    * a crawl root is a segment *tree* — crawl-data/CC-MAIN-x/segments/
    * seg/warc/part.warc.gz — and a one-level listing would silently
    * read zero files from it.
    */
  private def resolvePaths(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched: Seq[FileStatus] = Option(fs.globStatus(p)) match {
      case None | Some(Array()) => throw new java.io.FileNotFoundException(path)
      case Some(arr) => arr.toSeq
    }
    matched.flatMap { st =>
      if (st.isDirectory) {
        val it = fs.listFiles(st.getPath, true)
        val files = Seq.newBuilder[String]
        while (it.hasNext) files += it.next().getPath.toString
        files.result()
      } else Seq(st.getPath.toString)
    }
  }
}
