package graft.service

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.rdd.PartitionPruningRDD
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

import graft.functions.GeoFunctions.GeometryStats
import graft.model.{Layer, LoadResponse, QueueMessage}
import graft.sinks.Warehouse
import graft.sources.{GeoJsonZipSource, ParsedRecord}

/** The extract-load pipeline (reference
  * `src/service/extract-load-service.ts:242-345`), Spark-first.
  *
  * One request = one archive load:
  *   1. pre-clean the dataset's rows (A1; partition delete),
  *   2. streamed ZIP/GeoJSON expansion with the geometry transform (P7)
  *      FUSED into the parse loop (one Jackson parse + one serialize per
  *      feature — never parse-serialize-reparse),
  *   3. per-layer writes to `content_*` tables (partitioned by dataset
  *      id, dynamic overwrite),
  *   4. header metadata → `dataset` row (K8) and `extension_file` rows
  *      (K9; ids are a per-dataset dense sequence in archive entry
  *      order — the reference's DB sequence is opaque, so the contract
  *      here is ours),
  *   5. stats refresh (A3; a local fold of the header records, which
  *      carry each entry's stats),
  *   6. success/failure response (K10).
  *
  * Spark-action budget per load: ONE parse action — the header collect
  * (rows ≈ entries per archive, bounded by archive layout, not data
  * volume) builds the cached parse, one task per `.geojson` entry. Each
  * header's `feature_count` says which layers are live, and its `stats`
  * hold the entry's counts and anchor bboxes per geometry type, so the
  * stats rows need no pass over the features. Then every write of
  * steps 3-5 is submitted AT ONCE: one write per non-empty layer, and
  * the `dataset`, `extension_file` and `stats` upserts of rows built in
  * this process. The writes are independent (distinct tables, each a
  * dynamic overwrite with its own staging directory), and each is a
  * small job, so running them back to back would leave most cores idle.
  * Then one response append. No step of a load shuffles.
  *
  * Failure anywhere → failure response; a replay overwrites the same
  * partitions, which is how the reference's transaction-rollback intent
  * is preserved at Spark scale (no cross-table ACID needed). A failed
  * write does not cancel the others: the load waits for every write to
  * return before it reports the first failure, so nothing of the load
  * is still running once its response is published.
  */
class ExtractLoadEngine(spark: SparkSession, warehouseRoot: String) {
  import ExtractLoadEngine.Write
  import spark.implicits._

  val warehouse = new Warehouse(spark, warehouseRoot)

  // ---- A2: per-stage wall-clock metrics ---------------------------------
  // The reference times every stage (`console.time` at
  // `extract-load-service.ts:301,322,327-336,360,...`); same points here:
  // pre_clean (A1), parse_count (the one parse action), write_features
  // (all layer writes), metadata (K8/K9), stats (A3), process_files total.
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
    warehouse.appendResponses(Seq(resp).toDF())
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
    val (records, layerOf) =
      GeoJsonZipSource.readEntries(spark, msg.data.file_upload_path, transform = true)
    val parsed = records.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // ONE action: the header records, one per entry — bounded by archive
      // layout (a few entries per ZIP), safe to collect. It also builds
      // the cached parse that every write below reads. Presence of any
      // header ⇔ at least one valid .geojson entry; the headers' feature
      // counts decide which layer tables get a write.
      val headers = timed("parse_count")(
        parsed.filter(_.kind == "header").collect().sortBy(_.entry_seq))
      if (headers.isEmpty)
        throw new RuntimeException("No valid .geojson files found in dataset archive.")
      val featureCount: Map[String, Long] =
        headers.groupMapReduce(_.layer)(_.feature_count)(_ + _)

      // Extension-file id allocation: dense per-dataset sequence in entry
      // order (driver-side; the reference memoizes the DB-generated id,
      // `extract-load-service.ts:59,123,456-458`).
      val extEntries = headers.filter(_.layer == Layer.Extension.name)
      val extIds: Map[String, Int] =
        extEntries.zipWithIndex.map { case (h, i) => h.entry_path -> (i + 1) }.toMap

      // 3. per-layer feature writes (K1–K7), non-empty layers only.
      val live = Layer.all.filter(l => featureCount.getOrElse(l.name, 0L) > 0)
      val layerWrites = live.map { layer =>
        // only the cached partitions of this layer's entries
        val name = layer.name
        val slice = spark.createDataset(
          PartitionPruningRDD.create(parsed, i => layerOf.lift(i).contains(name))
            .filter(_.kind == "feature"))(ExtractLoadEngine.recordEncoder)
        val out =
          if (layer == Layer.Extension) {
            val idMap = typedLit(extIds)
            slice.select(
              lit(datasetId).as("tdei_dataset_id"),
              element_at(idMap, $"entry_path").as("ext_file_id"),
              $"feature",
              lit(userId).as("requested_by"))
          } else
            slice.select(
              lit(datasetId).as("tdei_dataset_id"),
              $"feature",
              lit(userId).as("requested_by"))
        Write("write_features", () => warehouse.writeFeatures(layer.table, out))
      }

      // 4a. dataset metadata row (K8): last entry per layer wins, matching
      // the reference's sequential per-entry UPDATEs.
      val infoByLayer: Map[String, String] =
        headers.filter(_.layer != Layer.Extension.name)
          .map(h => h.layer -> additionalInfo(h.header))
          .toMap // toMap keeps the LAST value per key
      val metaCols = Layer.routingOrder.map { l =>
        lit(infoByLayer.get(l.name).orNull).cast(StringType).as(l.metaColumn.get)
      }
      val datasetRow = spark.range(0, 1, 1, 1).select(
        (metaCols :+ lit(datasetId).as("tdei_dataset_id")): _*)
      val datasetWrite = Write("metadata", () => warehouse.upsertByDataset("dataset", datasetRow))

      // 4b. extension_file rows (K9): name = basename sans extension.
      val extFileWrite = Option.when(extEntries.nonEmpty) {
        val extDf = extEntries.toSeq
          .map(h => (extIds(h.entry_path), baseNameNoExt(h.entry_path),
            additionalInfo(h.header), userId))
          .toDF("id", "name", "file_meta", "requested_by")
          .withColumn("tdei_dataset_id", lit(datasetId))
        Write("metadata", () => warehouse.upsertByDataset("extension_file", extDf))
      }

      // 5. stats refresh (A3) — the fold of the headers' per-entry stats.
      val statsWrite = Option.when(layerWrites.nonEmpty) {
        val stats = statsFrame(headers.toSeq.flatMap(h =>
          h.stats.map(tableOf(h.layer) -> _)), datasetId)
        Write("stats", () => warehouse.upsertByDataset("stats", stats))
      }

      writeAll(layerWrites ++ Seq(datasetWrite) ++ extFileWrite ++ statsWrite, clock)
    } finally parsed.unpersist()
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
    * rows of a local relation, written by one task.
    */
  private def statsFrame(parts: Seq[(String, GeometryStats)], datasetId: String): DataFrame =
    GeometryStats.fold(parts.map { case (t, s) => (t, s.geometry_type) -> s })
      .map { case ((t, _), s) =>
        (t, s.geometry_type, s.feature_count, s.min_lon, s.max_lon, s.min_lat, s.max_lat)
      }
      .toDF("layer_table", "geometry_type", "feature_count",
        "min_lon", "max_lon", "min_lat", "max_lat")
      .withColumn("tdei_dataset_id", lit(datasetId))
      .coalesce(1)

  /** Legacy entry: stats from the stored tables (used when refreshing
    * without a load in hand, mirroring the stored-proc call shape). Each
    * task folds its stored feature strings through the same definitions
    * as a load; the partial stats are collected and merged here.
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
    warehouse.upsertByDataset("stats", statsFrame(parts.toSeq, datasetId))
  }

  /** Run the writes of one load at once, on a pool made for this load and
    * shut down after it. The pool's threads are created here, in the
    * calling thread, so they inherit its Spark local properties (job
    * group, scheduler pool) and active session. Waits for every write,
    * then rethrows the first failure in submission order, with the
    * others attached as suppressed.
    */
  private def writeAll(writes: Seq[Write], clock: ExtractLoadEngine.StageClock): Unit = {
    val pool = Executors.newFixedThreadPool(writes.size, ExtractLoadEngine.writerThreads)
    try {
      val inFlight = writes.map { w =>
        pool.submit(new Callable[Unit] { def call(): Unit = clock.timed(w.stage)(w.run()) })
      }
      val failures = inFlight.flatMap { f =>
        try { f.get(); None }
        catch { case e: ExecutionException => Some(e.getCause) }
      }
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally pool.shutdown()
  }
}

object ExtractLoadEngine {

  /** Name of the threads that run a load's writes. */
  private[graft] val WriterThreadName = "extract-load-write"

  private val writerThreads: ThreadFactory = r => new Thread(r, WriterThreadName)

  /** Shared by every load: an ObjectMapper is thread-safe once configured. */
  private val mapper = new ObjectMapper()

  /** Derived once: deriving a product encoder reflects over the class. */
  private val recordEncoder = Encoders.product[ParsedRecord]

  /** One table write of a load, timed under `stage`. */
  private final case class Write(stage: String, run: () => Unit)

  /** Stage intervals of one load. A stage holds the wall interval its
    * calls covered, from the first start to the last end: the writes of
    * a stage overlap, so the sum of their durations could exceed the
    * load's own wall time.
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
