package graft.service

import java.util.UUID

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoFunctions.GeometryStats
import graft.model.{Layer, LoadResponse, QueueMessage}
import graft.sinks.{StagedPartition, TableWriter, Warehouse}
import graft.sources.{GeoJsonZipSource, ParsedRecord}

/** The extract-load pipeline (reference
  * `src/service/extract-load-service.ts:242-345`), Spark-first.
  *
  * One request = one archive load:
  *   1. pre-clean the dataset's rows (A1; partition delete),
  *   2. streamed ZIP/GeoJSON expansion with the geometry transform (P7)
  *      FUSED into the parse loop (one Jackson parse + one serialize per
  *      feature — never parse-serialize-reparse),
  *   3. per-layer feature files for the `content_*` tables (partitioned
  *      by dataset id), written by the parse itself,
  *   4. header metadata → `dataset` row (K8) and `extension_file` rows
  *      (K9; ids are a per-dataset dense sequence in archive entry
  *      order — the reference's DB sequence is opaque, so the contract
  *      here is ours),
  *   5. stats refresh (A3; a local fold of the header records, which
  *      carry each entry's stats),
  *   6. one commit of everything staged, then the success/failure
  *      response (K10).
  *
  * Spark-action budget per load: ONE job, one task per `.geojson` entry.
  * Each task streams its entry and writes the entry's features into one
  * staged file of its layer's table, opened at the first feature, so an
  * empty entry writes nothing; it returns its header record and the file.
  * The headers' `stats` hold each entry's counts and anchor bboxes per
  * geometry type, so the stats rows need no pass over the features. The
  * driver then writes the `dataset`, `extension_file` and `stats` files
  * itself, through the same [[TableWriter]], and commits every staged
  * partition (see [[Warehouse.commit]]); the response is one more file.
  * No step of a load shuffles or runs a second job.
  *
  * Failure anywhere → failure response, and the load's staging directory
  * is deleted once no task of it is still running. Each table commits on
  * its own, and the first failure is reported with the others attached;
  * a replay replaces the same partitions, which is how the reference's
  * transaction-rollback intent is preserved at Spark scale.
  *
  * [[lastStageTimings]] keys: `pre_clean`; `parse_count`, the parse job
  * with its feature files; `write_features`, the commit of the content
  * tables; `metadata`, the `dataset` and `extension_file` files and their
  * commit; `stats`, the stats file and its commit; `process_files`, the
  * whole load. A stage is the wall interval from its first start to its
  * last end.
  */
class ExtractLoadEngine(spark: SparkSession, warehouseRoot: String) {
  import ExtractLoadEngine.EntryOut
  import spark.implicits._

  val warehouse = new Warehouse(spark, warehouseRoot)

  // ---- A2: per-stage wall-clock metrics ---------------------------------
  // The reference times every stage (`console.time` at
  // `extract-load-service.ts:301,322,327-336,360,...`); same points here.
  // Each load keeps its own clock; loads may run at once on one engine.
  @volatile private var lastTimings = Map.empty[String, Double]

  /** Stage wall times (seconds) of the load that finished last on this
    * engine, all from that one load.
    */
  def lastStageTimings: Map[String, Double] = lastTimings

  def processRequest(msg: QueueMessage): LoadResponse = {
    // failures route through the terminal error translation
    // (ErrorMapping.toResponse = error-handler-middleware.ts:13-22 +
    // the typed-DB bridge), so a unique-key violation publishes the
    // reference's 400/"already exists" form instead of a generic 500
    val resp =
      try {
        msg.data.data_type match {
          case "osw" =>
            processOswDataset(msg)
            LoadResponse(msg.messageId, msg.messageType,
              "Data loaded successfully", success = true)
          case _ => // flex/pathways (:269-274)
            LoadResponse(msg.messageId, msg.messageType,
              "Error loading the data : Method not implemented.",
              success = false, status = 500)
        }
      } catch {
        case e: Exception =>
          val er = ErrorMapping.toResponse(e)
          LoadResponse(msg.messageId, msg.messageType,
            s"Error loading the data : ${er.message}",
            success = false, status = er.status)
      }
    warehouse.appendResponses(Seq(resp))
    resp
  }

  def processOswDataset(msg: QueueMessage): Unit = {
    val clock = new ExtractLoadEngine.StageClock
    try clock.timed("process_files")(load(msg, clock))
    finally lastTimings = clock.seconds
  }

  private def load(msg: QueueMessage, clock: ExtractLoadEngine.StageClock): Unit = {
    import clock.timed
    val datasetId = msg.data.tdei_dataset_id
    val userId = msg.data.user_id

    // A1: idempotent pre-clean across every table.
    timed("pre_clean")(warehouse.deleteDatasetRecords(datasetId))

    // 2. streamed source with the geometry transform fused in: one
    // partition per .geojson entry.
    val (records, entryPaths) =
      GeoJsonZipSource.readEntries(spark, msg.data.file_upload_path, transform = true)
    if (entryPaths.isEmpty)
      throw new RuntimeException("No valid .geojson files found in dataset archive.")
    val layers = entryPaths.map(Layer.route)

    // Extension-file id allocation: dense per-dataset sequence in entry
    // order of the listing (the reference memoizes the DB-generated id,
    // `extract-load-service.ts:59,123,456-458`).
    val extIds = {
      var n = 0
      layers.map(l => if (l == Layer.Extension) { n += 1; n } else 0)
    }

    val loadId = UUID.randomUUID().toString
    try {
      // 3. ONE job: each entry task writes its layer's feature file and
      // returns its header record (rows ≈ entries per archive, bounded by
      // archive layout, not data volume).
      val outs = layers.indices.map { i =>
        val table = layers(i).table
        EntryOut(warehouse.writer(table), warehouse.stagedPartitionPath(loadId, table, datasetId),
          extIds(i))
      }
      val entries = timed("parse_count")(warehouse.runJob(records) { it =>
        ExtractLoadEngine.writeEntry(it, outs(TaskContext.getPartitionId()), userId)
      }).toSeq
      val headers = entries.map(_._1)
      val content = Layer.all.map(_.table).distinct.flatMap { t =>
        val files = entries.zip(layers).collect { case ((_, Some(f)), l) if l.table == t => f }
        Option.when(files.nonEmpty)(StagedPartition(t, datasetId, files))
      }

      val metadata = timed("metadata") {
        // 4a. dataset metadata row (K8): last entry per layer wins,
        // matching the reference's sequential per-entry UPDATEs.
        val infoByLayer: Map[String, String] =
          headers.filter(_.layer != Layer.Extension.name)
            .map(h => h.layer -> additionalInfo(h.header))
            .toMap // toMap keeps the LAST value per key
        val datasetRow = InternalRow.fromSeq(Layer.routingOrder.map(l =>
          UTF8String.fromString(infoByLayer.get(l.name).orNull)))
        // 4b. extension_file rows (K9): name = basename sans extension.
        val extRows = headers.zip(extIds).collect { case (h, id) if id > 0 =>
          InternalRow(id, UTF8String.fromString(baseNameNoExt(h.entry_path)),
            UTF8String.fromString(additionalInfo(h.header)), UTF8String.fromString(userId))
        }
        warehouse.stageRows(loadId, "dataset", datasetId, Seq(datasetRow)).toSeq ++
          warehouse.stageRows(loadId, "extension_file", datasetId, extRows)
      }

      // 5. stats refresh (A3) — the fold of the headers' per-entry stats.
      val stats = timed("stats")(Option.when(content.nonEmpty)(
        warehouse.stageRows(loadId, "stats", datasetId, statsRows(headers.flatMap(h =>
          h.stats.map(tableOf(h.layer) -> _))))).flatten.toSeq)

      Warehouse.eachOnItsOwn(Seq("write_features" -> content, "metadata" -> metadata,
        "stats" -> stats)) { case (stage, parts) => timed(stage)(warehouse.commit(loadId, parts)) }
    } finally warehouse.discard(loadId)
  }

  /** Header map minus `features`/`type` (`extract-load-service.ts:494-502`),
    * serialized as the JSON written to the dataset-info columns.
    */
  private[service] def additionalInfo(headerJson: String): String = {
    val node = ExtractLoadEngine.mapper.readTree(headerJson).asInstanceOf[ObjectNode]
    node.remove("features"); node.remove("type")
    ExtractLoadEngine.mapper.writeValueAsString(node)
  }

  /** `path.parse(file_name).name` (`extract-load-service.ts:531`). */
  private[service] def baseNameNoExt(path: String): String = {
    val base = path.substring(path.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot > 0) base.substring(0, dot) else base
  }

  private def tableOf(layer: String): String = Layer.all.find(_.name == layer).get.table

  /** A3 replacement: the reference calls an opaque stored procedure
    * (`content.tdei_update_osw_stats`); this engine's contract is, per
    * dataset, layer table and geometry type, the feature count plus the
    * bounding box of feature anchor positions (`GeoFunctions.anchor`).
    * `parts` are partial stats per layer table; they merge here into the
    * rows of the stats file.
    */
  private def statsRows(parts: Seq[(String, GeometryStats)]): Seq[InternalRow] =
    GeometryStats.fold(parts.map { case (t, s) => (t, s.geometry_type) -> s }).map {
      case ((t, _), s) =>
        def v(o: Option[Double]): Any = o.getOrElse(null)
        InternalRow(UTF8String.fromString(t), UTF8String.fromString(s.geometry_type),
          s.feature_count, v(s.min_lon), v(s.max_lon), v(s.min_lat), v(s.max_lat))
    }

  /** Legacy entry: stats from the stored tables (used when refreshing
    * without a load in hand, mirroring the stored-proc call shape). Each
    * task folds its stored feature strings through the same definitions
    * as a load; the partial stats are collected and merged here, and
    * written and committed like a load's.
    */
  def updateStats(datasetId: String): Unit = {
    val perLayer = Layer.all.map(_.table).distinct.flatMap { t =>
      if (warehouse.partitionExists(t, datasetId))
        Some(spark.read.schema(warehouse.tableSchema(t)).parquet(warehouse.partitionPath(t, datasetId))
          .select(lit(t).as("layer_table"), $"feature"))
      else None
    }
    if (perLayer.isEmpty) return
    val parts = perLayer.reduce(_ unionAll _).as[(String, String)].mapPartitions { rows =>
      val partial = GeometryStats.fold(rows.map { case (t, f) =>
        val s = GeometryStats.of(f)
        (t, s.geometry_type) -> s
      })
      partial.iterator.map { case ((t, _), s) => (t, s) }
    }.collect()
    val loadId = UUID.randomUUID().toString
    try warehouse.commit(loadId,
      warehouse.stageRows(loadId, "stats", datasetId, statsRows(parts.toSeq)).toSeq)
    finally warehouse.discard(loadId)
  }
}

object ExtractLoadEngine {

  /** Shared by every load: an ObjectMapper is thread-safe once configured. */
  private val mapper = new ObjectMapper()

  /** Where one entry task writes: the staged partition directory of its
    * layer's table, and its extension-file id (0 outside the extension
    * layer).
    */
  private final case class EntryOut(writer: TableWriter, dir: String, extId: Int)

  /** One entry task: streams the entry's records and writes its features
    * into one file of `out.dir`; returns the entry's header record and the
    * file, if the entry had features.
    */
  private def writeEntry(records: Iterator[ParsedRecord], out: EntryOut,
      userId: String): (ParsedRecord, Option[String]) = {
    val tc = TaskContext.get()
    val user = UTF8String.fromString(userId)
    var header: ParsedRecord = null
    val rows = records.filter { r =>
      if (r.kind == "header") header = r
      r.kind == "feature"
    }.map { r =>
      val feature = UTF8String.fromString(r.feature)
      if (out.extId > 0) InternalRow(out.extId, feature, user) else InternalRow(feature, user)
    }
    val file = out.writer.write(f"${out.dir}/part-${tc.partitionId()}%05d-${tc.attemptNumber()}", rows)
    require(header != null, "entry ended without its header record")
    (header, file)
  }

  /** Stage intervals of one load. A stage holds the wall interval its
    * calls covered, from the first start to the last end: the stages of
    * a load interleave (files first, commits after), so the sum of their
    * intervals could exceed the load's own wall time.
    */
  private final class StageClock {
    private val intervals = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()

    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        intervals.synchronized {
          val (a, b) = intervals.getOrElse(stage, (t0, t1))
          intervals(stage) = (math.min(a, t0), math.max(b, t1))
        }
      }
    }

    def seconds: Map[String, Double] = intervals.synchronized(
      intervals.map { case (stage, (t0, t1)) => stage -> (t1 - t0) / 1e9 }.toMap)
  }
}
