package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.scalatest.LoneElement._

import graft.tools.Measure

/** The profiler: one JSON report of per-run and per-stage figures, and
  * one formatted plan file per query.
  */
class MeasureSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  /** Ids a plan numbers afresh each time a query is built. */
  private def unnumbered(plan: String) =
    plan.replaceAll("#[0-9]+", "#").replaceAll("plan_id=[0-9]+", "plan_id=")

  test("Measure writes per-run and per-stage figures and the formatted plans") {
    val out = Fixtures.scratchDir("measure")
    val queries = Seq("q1_agg", "q_dyn_join")
    val report = new ObjectMapper().readTree(
      Measure.run(spark, sf, out.toString, "t", 1, queries).toFile)
    assert(report.get("tag").asText == "t")
    assert(report.get("host").asText.nonEmpty)
    assert(report.get("cores").asInt == 4)
    assert(report.get("sf_dir").asText == sf)

    val stages = queries.flatMap { q =>
      val m = report.get("queries").get(q)
      assert(m.get("error").isNull, m)
      assert(m.get("plan").asText == s"${q}_t.txt")
      val runs = m.get("runs").elements().asScala.toSeq
      assert(runs.size == 1)
      assert(m.get("median_s").asDouble == runs.head.get("wall_s").asDouble)
      assert(runs.head.get("wall_s").asDouble > 0)
      val ss = runs.head.get("stages").elements().asScala.toSeq
      assert(ss.nonEmpty, q)
      ss.foreach { s =>
        Seq("id", "name", "scopes", "wall_ms", "cpu_ms", "run_ms", "tasks", "spill_bytes",
          "shuffle_write_bytes").foreach(f => assert(s.has(f), s"$q $f"))
        // every stage names the operators it ran, AQE's pool-submitted ones too
        assert(s.get("scopes").isArray && !s.get("scopes").isEmpty, s"$q $s")
      }
      ss
    }
    assert(stages.exists(s => s.get("tasks").asInt > 0 && s.get("cpu_ms").asDouble > 0), stages)
    // both queries shuffle
    assert(stages.exists(_.get("scopes").elements().asScala.exists(_.asText == "Exchange")), stages)

    queries.foreach { q =>
      val expected = SparkEntry.queries(q)(spark, sf).queryExecution.explainString(FormattedMode)
      val written = Files.readString(out.resolve(s"${q}_t.txt"))
      assert(unnumbered(written) == unnumbered(expected), q)
    }
  }

  test("Recorder records each run of a named step: wall, heap, counts, stages or its error") {
    val recorder = new Measure.Recorder(spark)
    try {
      val counts = recorder.step("two jobs") {
        val all = spark.range(1000).count()
        val even = spark.range(1000).repartition(4).filter("id % 2 = 0").count()
        Seq("all" -> all, "even" -> even)
      }
      assert(counts == Seq("all" -> 1000L, "even" -> 500L))
      val thrown = intercept[IllegalStateException](recorder.step("fails") {
        spark.range(10).count()
        throw new IllegalStateException("planted")
      })
      assert(thrown.getMessage == "planted")
    } finally recorder.close()
    val out = Measure.writeJson(Fixtures.scratchDir("measure-step").resolve("scale_t.json"),
      recorder.report("t", Seq("n" -> 1000L)))
    val report = new ObjectMapper().readTree(out.toFile)
    assert(report.get("tag").asText == "t")
    assert(report.get("host").asText.nonEmpty)
    assert(report.get("cores").asInt == 4)
    assert(report.get("sizes").get("n").asLong == 1000L)

    val step = report.get("steps").get("two jobs")
    val runs = step.get("runs").elements().asScala.toSeq
    assert(runs.size == 1)
    val run = runs.head
    assert(run.get("wall_s").asDouble > 0)
    assert(step.get("median_s").asDouble == run.get("wall_s").asDouble)
    assert(run.get("heap_used_mb").asLong > 0)
    assert(run.get("error").isNull, run)
    assert(run.get("counts").get("all").asLong == 1000L)
    assert(run.get("counts").get("even").asLong == 500L)
    val stages = run.get("stages").elements().asScala.toSeq
    assert(stages.size >= 2, run)
    stages.foreach(s => assert(s.get("scopes").isArray && !s.get("scopes").isEmpty, s))
    assert(stages.exists(_.get("scopes").elements().asScala.exists(_.asText == "Exchange")), stages)

    val failed = report.get("steps").get("fails")
    val failedRun = failed.get("runs").elements().asScala.toSeq.loneElement
    assert(failedRun.get("error").asText.contains("planted"), failedRun)
    assert(failedRun.get("counts").isEmpty)
    assert(failedRun.get("stages").size > 0, failedRun)
    assert(failed.get("median_s").isNull)
  }
}
