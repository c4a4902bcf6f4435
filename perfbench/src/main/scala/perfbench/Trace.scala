package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `groups` are the Spark job groups its
  * work ran under: the one the span set on its thread, plus any group a
  * thread it started set for itself (a streaming query's run id), so the
  * listener's task metrics join back to it.
  */
final case class Span(id: Long, name: String, parent: Long, opId: String,
    startNs: Long, endNs: Long, groups: Seq[String]) {
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Task-level totals of one job group, as the listener saw them. */
final class GroupStats {
  var jobs = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  val taskMs = mutable.ArrayBuffer[Long]()
  val tasksPerStage = mutable.Map[Int, Int]()
}

/** Records every job, stage and task event under its job group. */
final class GroupListener extends SparkListener {
  private val stats = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Trace.GroupKey)))

  private def of(g: String): GroupStats = stats.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    groupOf(e.properties).foreach { g =>
      val s = of(g)
      s.synchronized(s.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val s = of(g)
      val m = e.taskMetrics
      s.synchronized {
        s.tasks += 1
        s.tasksPerStage(e.stageId) = s.tasksPerStage.getOrElse(e.stageId, 0) + 1
        s.taskMs += e.taskInfo.duration
        if (m != null) {
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Totals over the given groups. */
  def groups(gs: Seq[String]): GroupStats = {
    val out = new GroupStats
    gs.flatMap(g => Option(stats.get(g))).foreach { s =>
      s.synchronized {
        out.jobs += s.jobs; out.tasks += s.tasks; out.cpuNs += s.cpuNs
        out.runMs += s.runMs; out.gcMs += s.gcMs
        out.shuffleWriteBytes += s.shuffleWriteBytes; out.spillBytes += s.spillBytes
        out.recordsRead += s.recordsRead; out.taskMs ++= s.taskMs
        out.tasksPerStage ++= s.tasksPerStage
      }
    }
    out
  }
}

/** In-memory span recorder. Spans nest per thread; each span runs its body
  * under a job group of its own, so Spark work is attributed to the
  * innermost span that issued it. Nothing is written until the run ends.
  */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)

  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val extraGroups = new ConcurrentHashMap[Long, List[String]]()

  /** Attribute a job group set by another thread to an open span. */
  def addGroup(spanId: Long, group: String): Unit =
    extraGroups.merge(spanId, List(group), (a, b) => a ++ b)

  /** Id of the innermost open span on this thread, 0 if none. */
  def current: Long = stack.get.headOption.getOrElse(0L)

  /** Run `body` as a span. `parent` names a span opened on another
    * thread (a queue drain whose requests run on worker threads).
    */
  def span[T](name: String, opId: String, parent: Long = -1L)(body: => T): T = {
    val id = ids.incrementAndGet()
    val parentId = if (parent >= 0) parent else current
    val group = s"$name#$id"
    val prevGroup = sc.getLocalProperty(Trace.GroupKey)
    val prevDesc = sc.getLocalProperty(Trace.DescriptionKey)
    sc.setJobGroup(group, s"$name $opId")
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Trace.GroupKey, prevGroup)
      sc.setLocalProperty(Trace.DescriptionKey, prevDesc)
      spans.add(Span(id, name, parentId, opId, t0, t1,
        group :: Option(extraGroups.remove(id)).getOrElse(Nil)))
    }
  }

  /** All spans, after the listener has seen every event posted so far. */
  def finish(): Seq[Span] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    spans.asScala.toSeq.sortBy(_.id)
  }

  def stop(): Unit = sc.removeSparkListener(listener)
}

object Trace {

  /** Local-property keys `SparkContext.setJobGroup` writes. */
  val GroupKey = "spark.jobGroup.id"
  val DescriptionKey = "spark.job.description"

  /** Total length of the union of [a, b) intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var end = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  /** Self time per layer: each span's duration minus the part of it that
    * its child spans cover.
    */
  def selfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        (s.endNs - s.startNs - covered(kids.filter(k => k._2 > k._1))) / 1e9
      }.sum
    }
  }

  /** Spans as JSON lines, for the trace file written at the end. */
  def toJson(spans: Seq[Span], t0: Long): String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"op":"${s.opId}",""" +
      f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
  }.mkString("\n")
}
