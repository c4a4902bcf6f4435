package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.model.LoadResponse
import graft.sinks.Warehouse
import graft.sources.GeoJsonZipSource

/** Per-layer measurements of the traced run. Each probe calls one layer's
  * public functions under a span, on the workload's own archives; the
  * traced steps supply the queue drains of `queue_small`.
  */
final class Probes(w: Workload, tracer: Tracer, cores: Int) {
  import Workload.median
  private val spark = w.spark
  import spark.implicits._

  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0

  private def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Parquet data files and bytes under one dataset's partitions. */
  private def written(root: String, ds: String): (Long, Long) = {
    val files = Files.list(Path.of(root)).iterator().asScala.toSeq.flatMap { t =>
      val part = t.resolve(s"tdei_dataset_id=$ds")
      if (Files.isDirectory(part))
        Files.list(part).iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
      else Nil
    }
    (files.size.toLong, files.map(Files.size).sum)
  }

  /** Serial loads on a fresh engine: stage times (`lastStageTimings` is
    * only meaningful when one load runs at a time), Spark work per load,
    * written layout, then the read mix over what was loaded and the
    * pre-clean of each dataset.
    */
  def service(): Unit = {
    val root = w.freshDir("probe-warehouse")
    val engine = new TimedEngine(spark, root.toString)
    val loads = w.probeArchives.zipWithIndex.map { case ((a, path), i) =>
      val ds = s"probe-$i"
      tracer.span("service.load", ds)(engine.processRequest(w.request(ds, path)))
      (ds, a, engine.lastStageTimings, written(root.toString, ds))
    }
    attempted += loads.size
    errors ++= Checks.loads(engine.warehouse, loads.map(l => l._1 -> l._2.expect))
      .map { case (d, e) => s"$d $e" }

    Seq("pre_clean", "parse_count", "write_features", "metadata", "stats").foreach { st =>
      put(s"service.stage.${st}_s", median(loads.map(_._3.getOrElse(st, 0.0))), "s")
    }
    val groups = spans("service.load")
    put("service.spark_jobs_per_load", median(groups.map(_._2.jobs.toDouble)), "count")
    put("service.tasks_per_load", median(groups.map(_._2.tasks.toDouble)), "count")
    put("service.max_tasks_per_stage",
      median(groups.map(g => g._2.tasksPerStage.values.maxOption.getOrElse(0).toDouble)), "count")
    put("service.cpu_util", groups.map(_._2.cpuNs).sum / 1e9 /
      (groups.map(_._1.seconds).sum * cores), "ratio")
    put("sinks.files_per_load", median(loads.map(_._4._1.toDouble)), "count")
    put("sinks.bytes_per_input_byte",
      loads.map(_._4._2).sum.toDouble / loads.map(_._2.uncompressedBytes).sum, "ratio")

    queries(engine.warehouse, loads.map(l => l._1 -> l._2.expect.get))
    put("sinks.pre_clean_s", median(loads.map { l =>
      timed(tracer.span("sinks.pre_clean", l._1)(engine.warehouse.deleteDatasetRecords(l._1)))._2
    }), "s")
    Workload.deleteTree(root)
  }

  /** The paged-read mix over the probe loads, one query at a time. */
  private def queries(wh: Warehouse, loads: Seq[(String, LoadExpect)]): Unit = {
    val runs = Queries.mix(w.seed, loads, 20).zipWithIndex.map { case (q, i) =>
      val r = tracer.span("query.query", s"$i ${q.kind}")(Queries.run(wh, q, s"$i", Some(tracer)))
      if (!r.ok) errors += s"query ${q.kind}: rows differ"
      r
    }
    attempted += runs.size
    put("query.build_s", median(runs.map(_.buildNs / 1e9)), "s")
    put("query.exec_s", median(runs.map(_.execNs / 1e9)), "s")
    val read = spans("query.exec").map(_._2.recordsRead).sum
    put("query.rows_read_per_row_returned",
      read.toDouble / math.max(1L, runs.map(_.rows.toLong).sum), "ratio")
    put("query.files_read", median(runs.map(_.files.toDouble)), "count")
  }

  /** `GeoJsonZipSource.read(…, transform = true).count()`, and the
    * single-threaded driver-side `expandZip` with and without the fused
    * transform.
    */
  def sources(): Unit = {
    val archives = w.probeArchives
    val reads = archives.map { case (_, path) =>
      timed(tracer.span("sources.read", path)(
        GeoJsonZipSource.read(spark, path, transform = true).count()))._2
    }
    put("sources.read_s", median(reads), "s")
    put("sources.read_tasks", median(spans("sources.read").map(_._2.tasks.toDouble)), "count")

    // One pass expands every probe archive; passes alternate between the
    // two modes until each has run for a second, and each mode reports
    // its median pass.
    def pass(transform: Boolean): Double = archives.map { case (a, _) =>
      timed(tracer.span("sources.expand", a.name)(
        GeoJsonZipSource.expandZip(a.name, a.bytes, transform).size))._2
    }.sum
    val passes = Map(true -> mutable.ArrayBuffer[Double](), false -> mutable.ArrayBuffer[Double]())
    while (passes.values.exists(p => p.size < 3 || p.sum < 1.0))
      Seq(true, false).foreach(t => passes(t) += pass(t))
    val features = archives.map(_._1.features).sum
    val withTransform = median(passes(true).toSeq)
    val without = median(passes(false).toSeq)
    put("sources.driver_features_per_s", features / withTransform, "1/s")
    put("functions.transform_share", 1 - without / withTransform, "ratio")
  }

  /** `Warehouse.writeFeatures` of one cached layer frame (the largest layer
    * of the first probe archive), and `appendResponses` from two threads
    * at once, lock wait included.
    */
  def sinks(): Unit = {
    val (a, path) = w.probeArchives.head
    val layer = a.featuresPerLayer.maxBy(_._2)._1
    val table = graft.model.Layer.all.find(_.name == layer).get.table
    val frame = GeoJsonZipSource.read(spark, path, transform = true)
      .filter($"kind" === "feature" && $"layer" === layer)
      .select(lit("sink-probe").as("tdei_dataset_id"), $"feature",
        lit(OswGen.User).as("requested_by"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val rows = frame.count()
    val root = w.freshDir("probe-sink")
    val wh = new Warehouse(spark, root.toString)
    put("sinks.write_s", median((0 until 3).map { i =>
      timed(tracer.span("sinks.write", s"$table#$i")(wh.writeFeatures(table, frame)))._2
    }), "s")
    frame.unpersist()
    attempted += 1
    if (wh.table(table).count() != rows) errors += s"sinks.write: row count differs"

    val appends = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val threads = (0 until 2).map { c =>
      val t = new Thread(() => (0 until 10).foreach { i =>
        val df = Seq(LoadResponse(s"append-$c-$i", "workflow", OswGen.Loaded, success = true)).toDF()
        appends.add(timed(tracer.span("sinks.append", s"$c-$i")(wh.appendResponses(df)))._2)
      })
      t.start(); t
    }
    threads.foreach(_.join())
    put("sinks.response_append_s", median(appends.asScala.toSeq), "s")
    attempted += 1
    if (wh.table("response").count() != 20) errors += "sinks.append: response rows differ"
    Workload.deleteTree(root)
  }

  /** Queue metrics from drains: wall, wait before service, busy share of
    * the two workers.
    */
  def streamingMetrics(drains: Seq[DrainRec]): Unit = {
    put("streaming.drain_s", median(drains.map(d => (d.endNs - d.startNs) / 1e9)), "s")
    put("streaming.queue_wait_p50_s",
      median(drains.flatMap(d => d.served.map(s => (s.startNs - d.startNs) / 1e9))), "s")
    put("streaming.busy_share", drains.flatMap(_.served).map(s => s.endNs - s.startNs).sum.toDouble /
      (drains.map(d => d.endNs - d.startNs).sum * 2.0), "ratio")
  }

  /** A drain of the probe archives, for workloads whose loop has none. */
  def streaming(): Unit = {
    val root = w.freshDir("probe-queue")
    val engine = new TimedEngine(spark, root.toString)
    val loads = w.probeArchives.zipWithIndex.map { case ((a, path), i) =>
      (w.request(s"queued-$i", path), a)
    }
    val d = w.drain(engine, loads.map(_._1), Some(tracer))
    attempted += loads.size
    errors ++= Checks.loads(engine.warehouse, loads.map(l => l._1.data.tdei_dataset_id -> l._2.expect))
      .map { case (d, e) => s"$d $e" }
    streamingMetrics(Seq(d))
    Workload.deleteTree(root)
  }

  /** Spans by name with the listener's totals for their job groups. */
  def spans(name: String): Seq[(Span, GroupStats)] =
    tracer.finish().filter(_.name == name).map(s => s -> tracer.listener.groups(s.groups))

  /** Listener totals of the spans that issue each layer's Spark work, and
    * self time per layer over every span of the run.
    */
  def spanMetrics(): Unit = {
    Seq("service.load", "sources.read", "sinks.write", "streaming.drain", "query.exec").foreach { n =>
      val gs = spans(n).map(_._2)
      put(s"$n.executor_cpu_s", gs.map(_.cpuNs).sum / 1e9, "s")
      put(s"$n.gc_share", gs.map(_.gcMs).sum.toDouble / math.max(1L, gs.map(_.runMs).sum), "ratio")
      put(s"$n.shuffle_write_mb", gs.map(_.shuffleWriteBytes).sum / 1048576.0, "MB")
      put(s"$n.spill_mb", gs.map(_.spillBytes).sum / 1048576.0, "MB")
      val skews = gs.filter(_.taskMs.nonEmpty).map { g =>
        g.taskMs.max.toDouble / math.max(1.0, median(g.taskMs.map(_.toDouble).toSeq))
      }
      put(s"$n.task_skew", if (skews.isEmpty) 1.0 else median(skews), "ratio")
    }
    val self = Trace.selfSeconds(tracer.finish())
    Seq("service", "sources", "sinks", "streaming", "query").foreach { l =>
      put(s"self_s.$l", self.getOrElse(l, 0.0), "s")
    }
  }
}
