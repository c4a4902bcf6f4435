package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.model.{ExtractLoadRequest, LoadResponse, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.streaming.QueueSubscription

/** When one `processRequest` started and ended. */
final case class Served(startNs: Long, endNs: Long)

/** The clocks at one instant: wall, this JVM's CPU time (see
  * [[Main.cpuNs]]) and the host's CPU ticks (see [[Main.cpuTicks]]).
  */
final case class Mark(ns: Long, cpuNs: Long, ticks: (Long, Long, Long))

object Mark {
  def now(): Mark = {
    val ticks = Main.cpuTicks()
    val cpu = Main.cpuNs()
    Mark(System.nanoTime(), cpu, ticks)
  }
}

/** One queue drain: when it started and ended, and the requests it served. */
final case class DrainRec(start: Mark, end: Mark, served: Seq[Served]) {
  def startNs: Long = start.ns
  def endNs: Long = end.ns
}

/** One measured step between two marks: a serial load of the large
  * archive, or one drain of a queue round. `latS` holds one wall latency
  * per request, `rssMb` the JVM's peak RSS during the step.
  */
final case class Step(traced: Boolean, ops: Int, start: Mark, end: Mark,
    latS: Seq[Double], features: Long, rssMb: Double, drain: Option[DrainRec] = None) {
  def wallS: Double = (end.ns - start.ns) / 1e9
  def cpuS: Double = (end.cpuNs - start.cpuNs) / 1e9
  def busySteal: Double = Main.busyStealShare(start.ticks, end.ticks)

  /** A wall time of this step less the share the hypervisor stole from
    * the guest's busy CPUs meanwhile: what it would have taken on a host
    * of its own. A thread that is runnable while its CPU is stolen waits
    * for exactly that long.
    */
  def unstolen(t: Double): Double = t * (1 - busySteal)
}

/** What one measured loop did. `errors` lists every outcome that differs
  * from the expected one, and `failed` counts the loads with at least one.
  */
final case class Loop(steps: Seq[Step], failed: Int, errors: Seq[String]) {
  def ops: Int = steps.map(_.ops).sum
  def drains: Seq[DrainRec] = steps.flatMap(_.drain)
}

/** The engine as the benchmark drives it: it timestamps every
  * `processRequest`, and while `tracer` is set runs it as a
  * `service.request` span whose parent is the drain that dispatched it.
  */
final class TimedEngine(spark: SparkSession, root: String)
    extends ExtractLoadEngine(spark, root) {
  @volatile var tracer: Option[Tracer] = None
  @volatile var parent: Long = 0L
  val served = new ConcurrentLinkedQueue[Served]()

  override def processRequest(msg: QueueMessage): LoadResponse = {
    val t0 = System.nanoTime()
    val r = tracer match {
      case Some(t) => t.span("service.request", msg.messageId, parent)(super.processRequest(msg))
      case None => super.processRequest(msg)
    }
    served.add(Served(t0, System.nanoTime()))
    r
  }
}

/** Shared plumbing of the workloads: a private work directory inside the
  * run's directory, archive files, requests, queue drains and the measured
  * loop.
  */
abstract class Workload(val spark: SparkSession, val work: Path, val seed: Long) {
  /** One set-up repetition: build this workload's inputs from scratch. */
  def prepare(rep: Int): Unit
  /** One-time warm-up after set-up, so the loop runs on compiled code. */
  def warmUp(): Unit
  /** Steps an untraced run measures at least. */
  def minSteps: Int
  /** Run steps until their wall time reaches `seconds` and at least
    * `steps` ran; step `i` is traced when `traceOf(i)` is set. Checks every
    * load against the expected answers afterwards.
    */
  def measure(seconds: Double, steps: Int, traceOf: Int => Option[Tracer]): Loop
  /** Valid archives (with their files) the layer probes load. */
  def probeArchives: Seq[(Archive, String)]
  /** The distinct archives the measured loop loads, for the input facts. */
  def inputs: Seq[Archive]

  private val dirs = new AtomicInteger(0)
  def freshDir(prefix: String): Path = Files.createDirectories(
    work.resolve(s"$prefix-${dirs.incrementAndGet()}"))

  def writeArchive(dir: Path, a: Archive): String = {
    val p = dir.resolve(s"${a.name}.zip")
    Files.write(p, a.bytes)
    p.toString
  }

  def request(datasetId: String, path: String): QueueMessage =
    QueueMessage(s"msg-$datasetId", "workflow",
      ExtractLoadRequest("osw", path, datasetId, OswGen.User))

  /** The step loop of [[measure]]. The peak RSS count restarts before each
    * step; `step` reads it as soon as its timed work is done.
    */
  protected def runSteps(seconds: Double, steps: Int, traceOf: Int => Option[Tracer])(
      step: (Int, Option[Tracer]) => Step): Seq[Step] = {
    val out = scala.collection.mutable.ArrayBuffer[Step]()
    while (out.size < steps || out.map(_.wallS).sum < seconds) {
      Main.resetPeakRss()
      out += step(out.size, traceOf(out.size))
    }
    out.toSeq
  }

  /** Write every request file first, then drain them with
    * `Trigger.AvailableNow` and the reference's two concurrent messages.
    */
  def drain(engine: TimedEngine, msgs: Seq[QueueMessage], tracer: Option[Tracer]): DrainRec = {
    val reqDir = freshDir("requests")
    msgs.foreach { m =>
      val d = m.data
      Files.writeString(reqDir.resolve(s"${m.messageId}.json"),
        s"""{"messageId":"${m.messageId}","messageType":"${m.messageType}",""" +
          s""""data":{"data_type":"${d.data_type}","file_upload_path":"${d.file_upload_path}",""" +
          s""""tdei_dataset_id":"${d.tdei_dataset_id}","user_id":"${d.user_id}"}}""")
    }
    val sub = new QueueSubscription(spark, engine, reqDir.toString,
      freshDir("checkpoint").toString, maxConcurrentMessages = 2)
    engine.served.clear()
    engine.tracer = tracer
    val start = Mark.now()
    tracer match {
      case Some(t) => t.span("streaming.drain", s"${msgs.size} requests") {
        engine.parent = t.current
        val q = sub.start(Trigger.AvailableNow())
        // the stream thread runs its micro-batch jobs under its run id
        t.addGroup(t.current, q.runId.toString)
        q.awaitTermination()
      }
      case None => sub.start(Trigger.AvailableNow()).awaitTermination()
    }
    val d = DrainRec(start, Mark.now(), engine.served.asScala.toSeq)
    engine.tracer = None
    d
  }
}

object Workload {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One large archive, loaded serially again and again into one warehouse,
  * with a fresh dataset id each time. Every set-up repetition generates
  * the archive from the seed again; the loop loads the first one.
  */
final class OswLarge(spark: SparkSession, work: Path, seed: Long, perLayer: Int)
    extends Workload(spark, work, seed) {
  val minSteps = 3
  private var archive: Archive = _
  private var path: String = _

  private def gen(name: String, n: Int, keep: Boolean): Archive =
    OswGen.archive(seed, name, OswGen.layers.map(l => l._1 -> n), Seq("curbs" -> n / 5), keep)

  def prepare(rep: Int): Unit = {
    val dir = freshDir("inputs")
    val a = gen("osw", perLayer, keep = rep == 0)
    val p = writeArchive(dir, a)
    if (rep == 0) { archive = a; path = p }
    else Workload.deleteTree(dir)
  }

  /** Two loads: a small archive of the same shape, which compiles the
    * load's code paths, then the large archive itself.
    */
  def warmUp(): Unit = {
    val dir = freshDir("warm")
    val engine = new TimedEngine(spark, dir.resolve("wh").toString)
    engine.processRequest(request("warm-0", writeArchive(dir, gen("warm", perLayer / 8, keep = false))))
    engine.processRequest(request("warm-1", path))
    Workload.deleteTree(dir)
  }

  def measure(seconds: Double, steps: Int, traceOf: Int => Option[Tracer]): Loop = {
    val root = freshDir("warehouse")
    val engine = new TimedEngine(spark, root.toString)
    val done = runSteps(seconds, steps, traceOf) { (i, tracer) =>
      engine.tracer = tracer
      val start = Mark.now()
      engine.processRequest(request(s"osw-$i", path))
      val end = Mark.now()
      Step(tracer.isDefined, 1, start, end, Seq((end.ns - start.ns) / 1e9), archive.features,
        Main.peakRssMb())
    }
    engine.tracer = None
    val errs = Checks.loads(engine.warehouse, done.indices.map(i => s"osw-$i" -> archive.expect))
    Workload.deleteTree(root)
    Loop(done, errs.map(_._1).distinct.size, errs.map { case (d, e) => s"$d $e" })
  }

  def probeArchives: Seq[(Archive, String)] = Seq(archive -> path)
  def inputs: Seq[Archive] = Seq(archive)
}

/** Rounds of small archives, each request with its own dataset id, drained
  * by `QueueSubscription` with two workers. One request of each round is
  * bad input (a corrupt ZIP or one without `.geojson`) and must get the
  * failure response. Each set-up repetition builds one round of
  * `poolSize` archives. The warm-up drains the first round; measured steps
  * drain the others in turn, each on a fresh warehouse.
  */
final class QueueSmall(spark: SparkSession, work: Path, seed: Long,
    poolSize: Int, featuresPerArchive: Int) extends Workload(spark, work, seed) {
  val minSteps = 2
  private val pools = scala.collection.mutable.ArrayBuffer[Seq[(Archive, String)]]()
  private val BadAt = 2

  def prepare(rep: Int): Unit = {
    val dir = freshDir("inputs")
    val rnd = new java.util.SplittableRandom(seed * 1000 + rep)
    pools += (0 until poolSize).map { i =>
      val name = s"q${rep}_$i"
      // sizes and layer counts follow a fixed pattern; the seed picks the
      // layers and the content
      val a =
        if (i == BadAt) OswGen.badArchive(name, corrupt = rep % 2 == 0)
        else {
          val k = 2 + i % 2
          val layers = new scala.util.Random(rnd.nextLong())
            .shuffle(OswGen.layers.map(_._1)).take(k)
          val n = featuresPerArchive * (1 + i % 3) / 2
          OswGen.archive(rnd.nextLong(), name, layers.map(_ -> n / k),
            if (i % 4 == 0) Seq("trees" -> n / 8) else Nil, keepFeatures = rep == 0 && i < 4)
        }
      (a, writeArchive(dir, a))
    }
  }

  private def messages(round: String, pool: Seq[(Archive, String)]) =
    pool.zipWithIndex.map { case ((a, path), i) =>
      (request(s"$round-$i", path), a)
    }

  def warmUp(): Unit = {
    val root = freshDir("warm")
    drain(new TimedEngine(spark, root.toString), messages("warm", pools.head).map(_._1), None)
    Workload.deleteTree(root)
  }

  def measure(seconds: Double, steps: Int, traceOf: Int => Option[Tracer]): Loop = {
    val errs = scala.collection.mutable.ArrayBuffer[(String, String)]()
    val done = runSteps(seconds, steps, traceOf) { (i, tracer) =>
      val root = freshDir("warehouse")
      val engine = new TimedEngine(spark, root.toString)
      val msgs = messages(s"r$i", pools(1 + i % (pools.size - 1)))
      val d = drain(engine, msgs.map(_._1), tracer)
      val rss = Main.peakRssMb()
      errs ++= Checks.loads(engine.warehouse,
        msgs.map { case (m, a) => m.data.tdei_dataset_id -> a.expect })
      Workload.deleteTree(root)
      Step(tracer.isDefined, msgs.size, d.start, d.end,
        d.served.map(s => (s.endNs - s.startNs) / 1e9), msgs.map(_._2.features).sum, rss, Some(d))
    }
    Loop(done, errs.map(_._1).distinct.size, errs.map { case (d, e) => s"$d $e" }.toSeq)
  }

  def probeArchives: Seq[(Archive, String)] = pools.head.filter(_._1.expect.isDefined).take(3)
  def inputs: Seq[Archive] = pools.drop(1).flatMap(_.map(_._1)).toSeq
}
