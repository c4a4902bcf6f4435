package graft.tools

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

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
  * `count()`: each run's wall time and, for every Spark stage the run
  * executed, the stage's wall time, executor CPU and run time, task
  * count, spilled and shuffle-written bytes, and the operators its RDDs
  * came from (their operation scopes: `Exchange`, `Scan parquet`, ...),
  * which name a stage whose call site is Spark's own thread pool. The
  * report, with host, cores and data directory, goes to
  * `<outDir>/measure_<tag>.json`. Run:
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

  def main(args: Array[String]): Unit = {
    val (sfDir :: outDir :: tag :: rest) = args.toList: @unchecked
    val (runs, queries) = rest match {
      case "--runs" :: n :: qs => (n.toInt, qs)
      case qs => (3, qs)
    }
    val spark = Verify.session()
    try println(s"MEASURE wrote ${run(spark, sfDir, outDir, tag, runs, queries)}")
    finally spark.stop()
  }

  /** Measures `queries` on `spark`; returns the path of the JSON report. */
  def run(spark: SparkSession, sfDir: String, outDir: String, tag: String,
      runs: Int, queries: Seq[String]): Path = {
    Files.createDirectories(Paths.get(outDir))
    val sc = spark.sparkContext
    val recorder = new StageRecorder
    sc.addSparkListener(recorder)
    val measured = try queries.map { q =>
      val plan = s"${q}_$tag.txt"
      q -> (try {
        Files.writeString(Paths.get(outDir, plan), SparkEntry.queries(q)(spark, sfDir)
          .queryExecution.explainString(FormattedMode))
        val timed = (1 to runs).map { i =>
          val group = s"measure $q #$i"
          sc.setJobGroup(group, group)
          val t0 = System.nanoTime()
          try SparkEntry.queries(q)(spark, sfDir).count()
          finally sc.clearJobGroup()
          val wall = (System.nanoTime() - t0) / 1e9
          GraftProfiling.drain(sc)
          Run(wall, recorder.stagesOf(group))
        }
        val walls = timed.map(_.wall_s).sorted
        Query(plan, timed, walls.lift(walls.size / 2), None)
      } catch {
        case e: Exception => Query(plan, Nil, None, Some(e.toString))
      })
    } finally sc.removeSparkListener(recorder)
    val report = Report(tag, java.net.InetAddress.getLocalHost.getHostName,
      sc.defaultParallelism, sfDir, measured.toMap)
    val out = Paths.get(outDir, s"measure_$tag.json")
    Files.writeString(out, new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValueAsString(report))
    out
  }

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
