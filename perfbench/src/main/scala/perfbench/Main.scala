package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Extract-load benchmark driver, one workload per process.
  *
  * {{{
  * perfbench.Main --workload osw_large|queue_small --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE --facts FILE
  * }}}
  *
  * With `--trace 0` it writes the end-to-end metrics to `--out`, measured
  * with tracing off. With `--trace 1` it runs four steps in the order
  * untraced, traced, traced, untraced, so JIT warm-up that continues
  * through the steps weighs on both sides alike, and reports the tracing
  * overhead of each end-to-end metric from them. It then probes each layer
  * under tracing and writes the per-layer metrics. `--facts` receives the
  * host and input facts, every end-to-end figure and, traced, the spans.
  */
object Main {

  /** Features per layer entry of `osw_large`, features per small archive
    * of `queue_small` (spread over 2-3 layers), and requests per queue
    * round. Sized so one run of each workload, cold JVM included, fits the
    * benchmark's time budget on 4 cores.
    */
  val OswPerLayer = 4000
  val QueueFeatures = 1500
  val QueuePool = 6
  val SetupReps = 3

  def main(argv: Array[String]): Unit =
    try { run(argv); sys.exit(0) }
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  def run(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Files.createDirectories(Path.of(args("work")).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val w: Workload = workload match {
      case "osw_large" => new OswLarge(spark, work, seed, OswPerLayer)
      case "queue_small" => new QueueSmall(spark, work, seed, QueuePool, QueueFeatures)
      case other => sys.error(s"unknown workload $other")
    }
    val reps = (0 until SetupReps).map(r => timed(w.prepare(r)))
    val warmS = timed(w.warmUp())
    val setupS = sessionS + Workload.median(reps) + warmS

    val facts = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "nproc" -> cores, "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "session_start_s" -> sessionS, "setup_rep_s" -> reps, "warmup_s" -> warmS,
      // one entry per distinct archive the measured steps load
      "archives" -> w.inputs.map(a => mutable.LinkedHashMap[String, Any](
        "name" -> a.name, "archive_bytes" -> a.bytes.length, "geojson_bytes" -> a.uncompressedBytes,
        "features_per_layer" -> a.featuresPerLayer, "bad" -> a.expect.isEmpty)))

    lazy val tracer = new Tracer(spark.sparkContext)
    val stealBefore = cpuTicks()
    val threadsBefore = cpuByThreadKind()
    val loop =
      if (traced) w.measure(0, 4, i => if (i == 1 || i == 2) Some(tracer) else None)
      else w.measure(seconds, w.minSteps, _ => None)
    facts("host_steal_share") = stealShare(stealBefore, cpuTicks())
    facts("step_s") = loop.steps.map(_.wallS)
    facts("step_cpu_s") = loop.steps.map(_.cpuS)
    facts("step_busy_steal_share") = loop.steps.map(_.busySteal)
    facts("request_s") = loop.steps.flatMap(_.latS)
    facts("jit_cpu_s") = jitCpuNs() / 1e9
    // CPU seconds each kind of thread used in the measured steps
    facts("step_cpu_by_thread") = cpuByThreadKind().map { case (k, v) =>
      k -> (v - threadsBefore.getOrElse(k, 0.0)) }.filter(_._2 > 0.05).toSeq.sortBy(-_._2)
      .to(mutable.LinkedHashMap)

    var errors = loop.errors
    var attempted = loop.ops
    var failed = loop.failed
    val metrics: Seq[(String, (Double, String))] =
      if (!traced) {
        val e2e = ("setup_s" -> (setupS, "s")) +: endToEnd(loop.steps)
        facts("end_to_end") = values(e2e)
        facts("unadjusted") = unadjusted(loop.steps).to(mutable.LinkedHashMap)
        e2e
      } else {
        val t = tracer
        val (withSpans, plain) = loop.steps.partition(_.traced)
        // > 1 means tracing made the metric worse
        val overhead = endToEnd(plain).zip(endToEnd(withSpans)).map {
          case ((k, (u, _)), (_, (v, _))) =>
            s"trace_overhead.$k" -> (if (HigherIsBetter(k)) u / v else v / u, "ratio")
        }
        facts("untraced_steps") = values(endToEnd(plain))
        facts("traced_steps") = values(endToEnd(withSpans))
        val probes = new Probes(w, t, cores)
        probes.service()
        probes.sources()
        probes.sinks()
        if (loop.drains.nonEmpty) probes.streamingMetrics(loop.drains) else probes.streaming()
        probes.spanMetrics()
        val spans = t.finish()
        t.stop()
        Files.writeString(Path.of(args("facts") + ".spans.jsonl"),
          Trace.toJson(spans, spans.map(_.startNs).minOption.getOrElse(0L)) + "\n")
        errors ++= probes.errors
        attempted += probes.attempted
        failed += probes.errors.size
        val cpu = "service.cpu_s_per_request" -> (Workload.median(plain.map(s => s.cpuS / s.ops)), "s")
        probes.metrics.toSeq ++ Seq(cpu) ++ overhead
      }
    facts("errors") = errors.take(20)

    val correct = failed == 0 && errors.isEmpty
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ") +
      "}}"
    Files.writeString(Path.of(args("facts")), json(facts) + "\n")
    Files.writeString(Path.of(args("out")), result + "\n")
    spark.stop()
  }

  val HigherIsBetter = Set("requests_per_s", "features_per_s")

  /** End-to-end metrics of a set of steps, setup aside. A request is one
    * `processRequest`: a serial load of the large archive, or a queued
    * small load served with one other in flight. Times are wall times less
    * the share the hypervisor stole from the guest's CPUs meanwhile (see
    * [[Step.unstolen]]): on a shared virtual machine the stolen share
    * moves wall times more than anything the program does. Rates are the
    * median over steps; the peak RSS is the highest of the steps.
    */
  def endToEnd(steps: Seq[Step]): Seq[(String, (Double, String))] = Seq(
    "request_p50_s" -> (Workload.median(steps.flatMap(s => s.latS.map(s.unstolen))), "s"),
    "requests_per_s" -> (Workload.median(steps.map(s => s.ops / s.unstolen(s.wallS))), "1/s"),
    "features_per_s" -> (Workload.median(steps.map(s => s.features / s.unstolen(s.wallS))), "1/s"),
    "peak_rss_mb" -> (steps.map(_.rssMb).max, "MB"))

  /** The same figures from the plain wall times, and the CPU time a
    * request costs (see [[cpuNs]]), median over steps.
    */
  def unadjusted(steps: Seq[Step]): Seq[(String, Double)] = Seq(
    "request_p50_s" -> Workload.median(steps.flatMap(_.latS)),
    "requests_per_s" -> Workload.median(steps.map(s => s.ops / s.wallS)),
    "features_per_s" -> Workload.median(steps.map(s => s.features / s.wallS)),
    "cpu_s_per_request" -> Workload.median(steps.map(s => s.cpuS / s.ops)))

  private def values(ms: Seq[(String, (Double, String))]) =
    mutable.LinkedHashMap(ms.map { case (k, (v, _)) => k -> v }: _*)

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used, in ns, less that of its JIT compiler
    * threads: the driver, the local executors, Spark's own threads and
    * the garbage collector. Compilation is left out because it is a
    * warm-up cost that falls from step to step, not a cost of the load.
    */
  def cpuNs(): Long = osBean.getProcessCpuTime - jitCpuNs()

  /** CPU time of the JIT compiler threads, in ns (clock-tick resolution). */
  def jitCpuNs(): Long =
    threadCpuNs().collect { case (name, ns) if name.contains("CompilerThre") => ns }.sum

  /** CPU time of each live thread of this JVM, in ns (clock-tick
    * resolution), by thread name.
    */
  def threadCpuNs(): Seq[(String, Long)] = {
    val tasks = Files.list(Path.of("/proc/self/task"))
    try tasks.iterator().asScala.toSeq.flatMap { t =>
      try {
        val stat = Files.readString(t.resolve("stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        // utime and stime are fields 14 and 15, the 12th and 13th after comm
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(comm -> (f(11).toLong + f(12).toLong) * 1000000000L / ClockTicks)
      } catch { case _: java.io.IOException => None } // the thread ended
    }
    finally tasks.close()
  }

  /** CPU seconds by kind of thread, with numbers left out of the names. */
  def cpuByThreadKind(): Map[String, Double] =
    threadCpuNs().groupMapReduce(_._1.replaceAll("[0-9]+", "#"))(_._2 / 1e9)(_ + _)

  /** USER_HZ, the unit of the CPU times in /proc. */
  private val ClockTicks = 100L

  /** Host CPU ticks from /proc/stat: (steal, all, idle and iowait). */
  def cpuTicks(): (Long, Long, Long) = {
    val t = Files.readAllLines(Path.of("/proc/stat")).get(0).trim.split("\\s+").drop(1).take(8).map(_.toLong)
    (t(7), t.sum, t(3) + t(4))
  }

  /** Share of all CPU time the hypervisor took from this host in between. */
  def stealShare(a: (Long, Long, Long), b: (Long, Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  /** Share of the CPU time this host wanted, busy or stolen, that the
    * hypervisor took in between: how much longer its busy threads waited.
    */
  def busyStealShare(a: (Long, Long, Long), b: (Long, Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, (b._2 - a._2) - (b._3 - a._3))

  /** VmHWM of this JVM, which hosts the driver and the local executors. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Path.of("/proc/self/status")).toArray(Array.empty[String])
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Restart the VmHWM count, so each step reports its own peak. */
  def resetPeakRss(): Unit = Files.writeString(Path.of("/proc/self/clear_refs"), "5")

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def json(v: Any): String = v match {
    case s: String => str(s)
    case d: Double => num(d)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => other.toString
  }
}
