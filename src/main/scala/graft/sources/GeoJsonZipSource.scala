package graft.sources

import java.io.InputStream

import com.fasterxml.jackson.core.{JsonFactory, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.functions.GeoFunctions
import graft.functions.GeoFunctions.GeometryStats
import graft.model.Layer
import graft.operators.{MalformedShardException, Zip}

/** One parsed record out of a dataset ZIP.
  *
  * `kind` is either `"feature"` (one GeoJSON feature, compact JSON in
  * `feature`) or `"header"` (exactly one per .geojson entry, after all of
  * its features; root-level scalar header keys as a JSON object in
  * `header` — the reference's single-pass header capture, including keys
  * that appear AFTER the `features` array).
  *
  * A header record also carries what its entry's features add up to:
  * `feature_count`, the number of feature records the entry emitted, and
  * `stats`, their count and anchor bbox per geometry type (feature
  * records carry 0 and null). Collecting the header records alone
  * therefore yields the per-layer feature counts and the load's stats
  * rows: no aggregation over the features is needed.
  */
final case class ParsedRecord(
    zip_path: String,
    entry_path: String,
    entry_seq: Int, // 0-based position of the entry within its archive
    layer: String,
    kind: String,
    feature: String,
    header: String,
    feature_count: Long,
    stats: Seq[GeometryStats]
)

/** ZIP + GeoJSON source (reference S2–S7).
  *
  * The reference streams a ZIP from blob storage, walks entries serially,
  * and token-streams each `.geojson` so the file is never materialized
  * (`src/service/extract-load-service.ts:210-234,298-318`). Re-expressed
  * for Spark: [[readEntries]] lists each archive's members from its
  * central directory before any task runs ([[Zip.listZip]], a few reads
  * at the end of the file), and each `.geojson` member becomes one task. The task opens the archive as
  * a seekable Hadoop stream, inflates its member as it reads
  * ([[Zip.openMember]], CRC-verified at the end) and walks it with a
  * Jackson-streaming iterator — no member is ever materialized, so a 50 GB
  * entry costs the same executor memory as a 5 MB one (one feature tree at
  * a time). Parallelism comes from entries: the six layer files of one
  * archive parse at once, and many archives add their entries to the same
  * job.
  *
  * An input that is not a readable ZIP (no end-of-central-directory
  * record, a broken central directory or local header) contributes no
  * entries, the way a stream walk finds none in it. A member whose data
  * fails its CRC-32 or does not inflate fails the task.
  *
  * With `transform = true` the per-feature geometry rewrite (P7) is FUSED
  * into the parse loop: the feature tree Jackson just built is rewritten
  * in place and serialized once, instead of serialize → re-parse in a UDF
  * downstream (which would double the dominant CPU cost at scale). The
  * stats fold reads the same tree.
  *
  * Entry filter parity: `.geojson` suffix, skip `__MACOSX/`
  * (`extract-load-service.ts:303`). Header capture parity
  * (`:139-178`): only root-level STRING and NUMBER scalars; string
  * values equal to `"FeatureCollection"` are skipped (that is how `type`
  * is excluded); booleans/nulls/objects/arrays are not captured; the
  * `features` key itself is never captured.
  */
object GeoJsonZipSource {

  private val jsonFactory = new JsonFactory()
  @transient private lazy val mapper = new ObjectMapper()

  def isGeoJsonEntry(path: String): Boolean =
    path.endsWith(".geojson") && !path.contains("__MACOSX/")

  /** Largest central directory an archive may have (~46+name bytes per
    * member: millions of members).
    */
  private val MaxCdBytes = 1 << 28

  /** One `.geojson` member of an archive; `seq` is its position among
    * the archive's `.geojson` members.
    */
  private final case class Entry(zipPath: String, seq: Int, member: Zip.ZipMember)

  /** The `.geojson` members of one archive in central-directory order;
    * none when the input is not a readable ZIP.
    */
  private def geoJsonMembers(in: Zip.ZipReader, zipPath: String): Seq[Zip.ZipMember] =
    try Zip.listZip(in, MaxCdBytes, zipPath).filter(m => isGeoJsonEntry(m.name))
    catch { case _: MalformedShardException => Nil }

  /** Read one or more ZIP archives (path, glob, or directory) into a
    * Dataset of ParsedRecord: the `.geojson` members are listed up front,
    * and each member is streamed and parsed in its own task.
    */
  def read(spark: SparkSession, path: String,
      transform: Boolean = false): Dataset[ParsedRecord] = {
    import spark.implicits._
    spark.createDataset(readEntries(spark, path, transform)._1)
  }

  /** [[read]] as an RDD with one partition per `.geojson` entry, in
    * listing order, together with the entry path of each partition: the
    * driver knows every entry and its layer before any task runs.
    */
  def readEntries(spark: SparkSession, path: String,
      transform: Boolean): (RDD[ParsedRecord], IndexedSeq[String]) = {
    val hconf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val entries = StreamUtil.resolveFiles(spark, path).flatMap { p =>
      val reader = new HadoopZipReader(hconf.value, p)
      try geoJsonMembers(reader, p).zipWithIndex.map { case (m, i) =>
        Entry(p, i, m)
      } finally reader.close()
    }
    // as many slices as entries: slice i holds entry i
    val records = spark.sparkContext.parallelize(entries, math.max(1, entries.size))
      .flatMap { e =>
        val reader = new HadoopZipReader(hconf.value, e.zipPath)
        // Failure backstop: close at task end. The happy path closes
        // eagerly once the entry's records are exhausted.
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => reader.close()))
        val member = Zip.openMember(reader, e.member, e.zipPath)
        StreamUtil.closeOnExhaustion(
          entryRecords(e.zipPath, e.member.name, e.seq, member, transform), reader)
      }
    (records, entries.map(_.member.name).toIndexedSeq)
  }

  /** Expand in-memory ZIP bytes: the same listing as [[read]], then each
    * `.geojson` member in turn.
    */
  def expandZip(zipPath: String, content: Array[Byte],
      transform: Boolean = false): Iterator[ParsedRecord] = {
    if (content == null) return Iterator.empty
    val reader = new Zip.ArrayZipReader(content)
    geoJsonMembers(reader, zipPath).iterator.zipWithIndex.flatMap { case (m, i) =>
      entryRecords(zipPath, m.name, i, Zip.openMember(reader, m, zipPath), transform)
    }
  }

  /** Single-pass parse of one FeatureCollection stream: emits each element
    * of the root `features` array as a compact-JSON "feature" record, then
    * one trailing "header" record with the captured root scalars, the
    * number of feature records emitted before it and their stats per
    * geometry type. Only one feature tree is in memory at a time.
    */
  def entryRecords(zipPath: String, entryPath: String, entrySeq: Int,
      in: InputStream, transform: Boolean = false): Iterator[ParsedRecord] = {
    val layer = Layer.route(entryPath).name
    val parser = jsonFactory.createParser(in)
    val header = mapper.createObjectNode()

    new Iterator[ParsedRecord] {
      private var nextRec: ParsedRecord = null
      private var done = false
      private var headerEmitted = false
      private var inFeatures = false
      private var rootStarted = false
      private var features = 0L
      private val stats = scala.collection.mutable.LinkedHashMap[String, GeometryStats]()

      private def capture(key: String): Unit = {
        // reference: stringValue skipped when value == "FeatureCollection";
        // numberValue captured for any key except `features`
        parser.currentToken() match {
          case JsonToken.VALUE_STRING =>
            val v = parser.getText
            if (key != "features" && v != "FeatureCollection")
              header.put(key, v)
          case JsonToken.VALUE_NUMBER_INT =>
            if (key != "features") header.put(key, parser.getLongValue)
          case JsonToken.VALUE_NUMBER_FLOAT =>
            if (key != "features") header.put(key, parser.getDoubleValue)
          case JsonToken.START_OBJECT | JsonToken.START_ARRAY =>
            parser.skipChildren() // non-scalar root values are not captured
          case _ => // true/false/null: not captured (reference parity)
        }
      }

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null) {
          if (inFeatures) {
            val t = parser.nextToken()
            if (t == JsonToken.END_ARRAY || t == null) { inFeatures = false }
            else {
              var node = mapper.readTree[com.fasterxml.jackson.databind.JsonNode](parser)
              if (transform) node = GeoFunctions.processGeometryNode(node, layer)
              features += 1
              val s = GeometryStats.of(node)
              stats.updateWith(s.geometry_type)(o => Some(o.fold(s)(_.merge(s))))
              nextRec = ParsedRecord(zipPath, entryPath, entrySeq, layer,
                "feature", mapper.writeValueAsString(node), null, 0L, null)
            }
          } else {
            val t = parser.nextToken()
            if (t == null) {
              if (!headerEmitted) {
                headerEmitted = true
                nextRec = ParsedRecord(zipPath, entryPath, entrySeq, layer,
                  "header", null, mapper.writeValueAsString(header), features,
                  stats.values.toSeq)
              } else return
            } else if (!rootStarted) {
              // tolerate any root shape; only objects produce fields
              rootStarted = true
              if (t != JsonToken.START_OBJECT) { parser.skipChildren() }
            } else if (t == JsonToken.FIELD_NAME) {
              val key = parser.currentName()
              parser.nextToken()
              if (key == "features" && parser.currentToken() == JsonToken.START_ARRAY)
                inFeatures = true
              else capture(key)
            } else if (t == JsonToken.END_OBJECT) {
              // fall through; next nextToken() returns null → header record
            }
          }
        }
      }

      override def hasNext: Boolean = {
        if (nextRec == null && !done) {
          advance()
          if (nextRec == null) done = true
        }
        nextRec != null
      }
      override def next(): ParsedRecord = {
        if (!hasNext) throw new NoSuchElementException
        val r = nextRec
        nextRec = null
        r
      }
    }
  }
}
