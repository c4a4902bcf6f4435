package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.GraftProfiling
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.{SparkEntry, Verify}

/** Profiles named [[SparkEntry]] queries on [[Verify]]'s session. For
  * each query it writes the formatted physical plan to
  * `<outDir>/<q>_<tag>.txt`, then times `N` runs of the query's
  * `count()` through a [[Measure.Recorder]]. The report, with host,
  * cores and data directory, goes to `<outDir>/measure_<tag>.json`. Run:
  * `sbt "runMain graft.tools.Measure <sfDir> <outDir> <tag> [--runs N] q [q...]"`
  * (3 runs by default; `--runs 0` writes the plans only).
  */
object Measure {

  final case class Stage(id: Int, name: String, scopes: Seq[String], wall_ms: Long,
      cpu_ms: Double, run_ms: Long, tasks: Int, spill_bytes: Long, shuffle_write_bytes: Long)
  final case class Run(wall_s: Double, stages: Seq[Stage])
  final case class Query(plan: String, runs: Seq[Run], median_s: Option[Double],
      error: Option[String])
  final case class Report(tag: String, host: String, cores: Int, sf_dir: String,
      queries: Map[String, Query])

  /** What a step checked, by name, in the order it reported them. */
  type Counts = Seq[(String, Any)]
  final case class StepRun(wall_s: Double, heap_used_mb: Long, counts: ListMap[String, Any],
      stages: Seq[Stage], error: Option[String])
  final case class Step(runs: Seq[StepRun], median_s: Option[Double])
  final case class StepReport(tag: String, host: String, cores: Int,
      sizes: ListMap[String, Long], steps: ListMap[String, Step])

  def main(args: Array[String]): Unit = {
    val (sfDir :: outDir :: tag :: rest) = args.toList: @unchecked
    val (runs, queries) = runsOption(rest, 3)
    val spark = Verify.session()
    try println(s"MEASURE wrote ${run(spark, sfDir, outDir, tag, runs, queries)}")
    finally spark.stop()
  }

  /** Measures `queries` on `spark`; returns the path of the JSON report. */
  def run(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      runs: Int, queries: Seq[String]): Path = {
    Files.createDirectories(Paths.get(outDir))
    val recorder = new Recorder(spark)
    val measured = try queries.map { q =>
      val plan = s"${q}_$tag.txt"
      q -> (try {
        Files.writeString(Paths.get(outDir, plan), SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        val timed = (1 to runs).map { i =>
          val (_, wall, stages) =
            recorder.time(s"measure $q #$i")(SparkEntry.queries(q)(spark, sfDir).count())
          Run(wall, stages)
        }
        Query(plan, timed, median(timed.map(_.wall_s)), None)
      } catch {
        case e: Exception => Query(plan, Nil, None, Some(e.toString))
      })
    } finally recorder.close()
    writeJson(Paths.get(outDir, s"measure_$tag.json"), Report(tag, host,
      spark.sparkContext.defaultParallelism, sfDir, measured.toMap))
  }

  /** A step tool's run. `args` are `<outDir> <tag> [--runs N]`, then
    * numbers that replace the defaults of `sizes` in order, then step
    * names (none means all). Runs each named step of `steps(sizes)` `N`
    * times (1 by default) through one [[Recorder]], a failed run included,
    * and writes the report to `<outDir>/<name>_<tag>.json` after every
    * run; then throws if a run failed. What a run persisted (a
    * materialized input) is released when it ends.
    */
  def runSteps(spark: SparkSession, name: String, args: Seq[String], sizes: Seq[(String, Long)])(
      steps: Seq[Long] => Seq[(String, () => Counts)]): Path = {
    val (outDir :: tag :: rest) = args.toList: @unchecked
    val (runs, given) = runsOption(rest, 1)
    val (numbers, names) = given.partition(_.forall(_.isDigit))
    val sized = sizes.zipWithIndex.map { case ((k, v), i) => k -> numbers.lift(i).fold(v)(_.toLong) }
    val all = steps(sized.map(_._2))
    val selected = if (names.isEmpty) all else names.map(n => all.find(_._1 == n).getOrElse(
      throw new IllegalArgumentException(s"unknown step $n; steps: ${all.map(_._1).mkString(" ")}")))
    val out = Files.createDirectories(Paths.get(outDir)).resolve(s"${name}_$tag.json")
    val sc = spark.sparkContext
    val recorder = new Recorder(spark)
    val failed = try selected.flatMap { case (step, body) =>
      (1 to runs).flatMap { _ =>
        val held = sc.getPersistentRDDs.keySet
        try Try(recorder.step(step)(body())).failed.toOption.map(step -> _)
        finally {
          sc.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!held(id)) rdd.unpersist(blocking = false)
          }
          writeJson(out, recorder.report(tag, sized))
        }
      }
    } finally recorder.close()
    if (failed.nonEmpty) throw new IllegalStateException(
      s"failed step runs: ${failed.map(_._1).mkString(" ")}", failed.head._2)
    out
  }

  /** `--runs N` at the head of `args`, else `default`; and the rest. */
  private def runsOption(args: List[String], default: Int): (Int, List[String]) = args match {
    case "--runs" :: n :: rest => (n.toInt, rest)
    case rest => (default, rest)
  }

  /** Times bodies in job groups of their own and records, per group, the
    * Spark stages its jobs ran: wall time, executor CPU and run time, task
    * count, spilled and shuffle-written bytes, and the operators the
    * stage's RDDs came from (their operation scopes: `Exchange`,
    * `Scan parquet`, ...), which name a stage whose call site is Spark's
    * own thread pool. A step is a timed body that returns [[Counts]]; each
    * of its runs also records the used heap after it.
    */
  final class Recorder(spark: SparkSession) extends AutoCloseable {
    private val sc = spark.sparkContext
    private val listener = new StageRecorder
    private val steps = mutable.LinkedHashMap.empty[String, Vector[StepRun]]
    sc.addSparkListener(listener)

    /** Runs `body` in job group `group`; its result, wall seconds and stages. */
    def time[A](group: String)(body: => A): (A, Double, Seq[Stage]) = {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      val result = try body finally sc.clearJobGroup()
      val wall = (System.nanoTime() - t0) / 1e9
      GraftProfiling.drain(sc)
      (result, wall, listener.stagesOf(group))
    }

    /** Runs `body` once as step `name` and records the run, or its error;
      * returns the counts or throws what `body` threw.
      */
    def step(name: String)(body: => Counts): Counts = {
      val done = steps.getOrElse(name, Vector.empty)
      val (result, wall, stages) = time(s"$name #${done.size + 1}")(Try(body))
      val rt = Runtime.getRuntime
      steps(name) = done :+ StepRun(wall, (rt.totalMemory - rt.freeMemory) / 1000000,
        ListMap(result.getOrElse(Nil): _*), stages, result.failed.toOption.map(_.toString))
      result.get
    }

    /** The recorded steps, with this host's name and cores and `sizes`. */
    def report(tag: String, sizes: Seq[(String, Long)]): StepReport =
      StepReport(tag, host, sc.defaultParallelism, ListMap(sizes: _*),
        ListMap(steps.toSeq.map { case (name, runs) =>
          name -> Step(runs, median(runs.filter(_.error.isEmpty).map(_.wall_s)))
        }: _*))

    def close(): Unit = sc.removeSparkListener(listener)
  }

  /** Writes `report` as pretty-printed JSON to `out`; returns `out`. */
  def writeJson(out: Path, report: AnyRef): Path =
    Files.writeString(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(report))

  private def median(walls: Seq[Double]): Option[Double] =
    walls.sorted.lift(walls.size / 2)

  private def host: String = java.net.InetAddress.getLocalHost.getHostName

  /** Each completed stage under the job group its job ran in. A stage's
    * task metrics arrive summed over its tasks in its `StageInfo`.
    */
  private final class StageRecorder extends SparkListener {
    private val groupOfStage = new ConcurrentHashMap[Int, String]()
    private val stages = new ConcurrentLinkedQueue[(String, Stage)]()

    def stagesOf(group: String): Seq[Stage] =
      stages.asScala.collect { case (`group`, s) => s }.toSeq.sortBy(_.id)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
        .foreach(g => e.stageIds.foreach(groupOfStage.put(_, g)))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      Option(groupOfStage.get(si.stageId)).foreach { g =>
        val m = si.taskMetrics
        val wall = (for (end <- si.completionTime; start <- si.submissionTime)
          yield end - start).getOrElse(0L)
        stages.add(g -> Stage(si.stageId, si.name, GraftProfiling.scopes(si), wall,
          m.executorCpuTime / 1e6, m.executorRunTime, si.numTasks,
          m.memoryBytesSpilled + m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten))
      }
    }
  }

  /** The local property `SparkContext.setJobGroup` writes. */
  private val GroupKey = "spark.jobGroup.id"
}
