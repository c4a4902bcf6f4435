package graft.service

import java.util.UUID

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoFunctions.GeometryStats
import graft.model.{Layer, LoadResponse, QueueMessage}
import graft.sinks.{TableWriter, Warehouse}
import graft.sources.{GeoJsonZipSource, ParsedRecord}

/** The extract-load pipeline (reference
  * `src/service/extract-load-service.ts:242-345`), Spark-first.
  *
  * One request = one archive load:
  *   1. streamed ZIP/GeoJSON expansion with the geometry transform (P7)
  *      FUSED into the parse loop (one Jackson parse + one serialize per
  *      feature — never parse-serialize-reparse),
  *   2. per-layer feature files for the `content_*` tables (partitioned
  *      by dataset id), written by the parse itself,
  *   3. header metadata → `dataset` row (K8) and `extension_file` rows
  *      (K9; ids are a per-dataset dense sequence in archive entry
  *      order — the reference's DB sequence is opaque, so the contract
  *      here is ours),
  *   4. stats refresh (A3; a local fold of the header records, which
  *      carry each entry's stats),
  *   5. one publish of everything staged, which replaces the dataset in
  *      every dataset table (A1), then the success/failure response
  *      (K10).
  *
  * Spark-action budget per load: ONE job, one task per `.geojson` entry.
  * Each task streams its entry and writes the entry's features into one
  * staged file of its layer's table, opened at the first feature, so an
  * empty entry writes nothing; it returns its header record and the file.
  * The headers' `stats` hold each entry's counts and anchor bboxes per
  * geometry type, so the stats rows need no pass over the features. The
  * driver then writes the `dataset`, `extension_file` and `stats` files
  * itself, through the same [[TableWriter]], and publishes them with the
  * feature files (see [[Warehouse.publish]]); the response is one more
  * file. No step of a load shuffles or runs a second job.
  *
  * Failure anywhere → failure response, and the dataset is left empty in
  * every dataset table, as the reference's pre-clean plus rolled-back
  * transaction leaves it: a load that fails before its publish publishes
  * nothing, and a publish that fails empties the dataset itself. The
  * load's staging directory is deleted once no task of it is still
  * running. A replay replaces the dataset whole.
  *
  * [[lastStageTimings]] keys, each stage timed once: `parse_count`, the
  * parse job with its feature files; `metadata`, the `dataset` and
  * `extension_file` files; `stats`, the stats file; `write_features`, the
  * one publish; `process_files`, the whole load.
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
    val datasetId = msg.data.tdei_dataset_id
    val loadId = UUID.randomUUID().toString
    try {
      // a load that fails publishes nothing, which empties its dataset
      val staged =
        try stage(msg, loadId, clock)
        catch {
          case e: Throwable =>
            try warehouse.deleteDatasetRecords(datasetId) catch { case NonFatal(d) => e.addSuppressed(d) }
            throw e
        }
      clock.timed("write_features")(warehouse.publish(datasetId, Warehouse.DatasetTables, staged))
    } finally warehouse.discard(loadId)
  }

  /** Writes every file of the load into its staging directory; returns
    * table -> staged files.
    */
  private def stage(msg: QueueMessage, loadId: String,
      clock: ExtractLoadEngine.StageClock): Map[String, Seq[String]] = {
    import clock.timed
    val datasetId = msg.data.tdei_dataset_id
    val userId = msg.data.user_id

    // 1. streamed source with the geometry transform fused in: one
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

    // 2. ONE job: each entry task writes its layer's feature file and
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
    val content = entries.zip(layers).collect { case ((_, Some(f)), l) => l.table -> f }
      .groupMap(_._1)(_._2)

    val metadata = timed("metadata") {
      // 3a. dataset metadata row (K8): last entry per layer wins,
      // matching the reference's sequential per-entry UPDATEs.
      val infoByLayer: Map[String, String] =
        headers.filter(_.layer != Layer.Extension.name)
          .map(h => h.layer -> additionalInfo(h.header))
          .toMap // toMap keeps the LAST value per key
      val datasetRow = InternalRow.fromSeq(Layer.routingOrder.map(l =>
        UTF8String.fromString(infoByLayer.get(l.name).orNull)))
      // 3b. extension_file rows (K9): name = basename sans extension.
      val extRows = headers.zip(extIds).collect { case (h, id) if id > 0 =>
        InternalRow(id, UTF8String.fromString(baseNameNoExt(h.entry_path)),
          UTF8String.fromString(additionalInfo(h.header)), UTF8String.fromString(userId))
      }
      warehouse.stageRows(loadId, "dataset", datasetId, Seq(datasetRow)) ++
        warehouse.stageRows(loadId, "extension_file", datasetId, extRows)
    }

    // 4. stats refresh (A3) — the fold of the headers' per-entry stats.
    val stats = timed("stats")(Option.when(content.nonEmpty)(
      warehouse.stageRows(loadId, "stats", datasetId, statsRows(headers.flatMap(h =>
        h.stats.map(tableOf(h.layer) -> _))))).flatten)

    content ++ metadata ++ stats
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
    * published as the dataset's stats partition alone.
    */
  def updateStats(datasetId: String): Unit = {
    val features = Layer.all.map(_.table).distinct.map { t =>
      warehouse.table(t).filter(col(Warehouse.PartitionColumn) === datasetId)
        .select(lit(t).as("layer_table"), $"feature")
    }.reduce(_ unionAll _)
    val parts = features.as[(String, String)].mapPartitions { rows =>
      val partial = GeometryStats.fold(rows.map { case (t, f) =>
        val s = GeometryStats.of(f)
        (t, s.geometry_type) -> s
      })
      partial.iterator.map { case ((t, _), s) => (t, s) }
    }.collect()
    val loadId = UUID.randomUUID().toString
    try warehouse.publish(datasetId, Seq("stats"),
      warehouse.stageRows(loadId, "stats", datasetId, statsRows(parts.toSeq)).toMap)
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

  /** Stage wall times of one load, each stage timed once. */
  private final class StageClock {
    private val times = scala.collection.mutable.LinkedHashMap[String, Double]()

    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body
      finally times(stage) = (System.nanoTime() - t0) / 1e9
    }

    def seconds: Map[String, Double] = times.toMap
  }
}
