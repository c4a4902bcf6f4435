package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},
  *   "errors":{...},"rerun_errors":{...},"over_budget":{...},
  *   "load_stages":{...},"sf":...}` (also written to
  * target/bench.json). Keys of "queries"/"errors" are EXACTLY the
  * SparkEntry query names; rerun failures (median or budget passes)
  * live only under "rerun_errors". A failing query is recorded under
  * "errors" (and excluded from "queries"/total) — a broken query must
  * never masquerade as a fast one. Sub-second queries report the
  * median of three runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    // process-level backstop parity (unhandled-exception handler)
    graft.service.ErrorMapping.registerUnhandledHandler(System.err.println)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // engine-tuning confs (object-agg hash path for bounded-buffer
    // aggregators, …) come from the library bootstrap, so this harness
    // measures exactly the plans a GraftSession-configured user gets
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def jsonStr(s: String): String = JsonStr(s)

    // Warm the session (codegen, parquet reader, shuffle machinery) so
    // the first timed query doesn't absorb one-time JVM startup cost.
    try {
      import org.apache.spark.sql.functions.col
      spark.read.parquet(s"$sfDir/lineitem.parquet").limit(100)
        .groupBy(col("l_returnflag")).count().collect()
    } catch { case _: Throwable => () }

    val timings = scala.collection.mutable.LinkedHashMap[String, Double]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // Per-query watchdog (mirrors Verify): a hung query becomes an error
    // marker instead of stalling the whole benchmark.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    // One guarded runner for BOTH passes (first timing and budget
    // reruns): watchdog + job group + error capture — a rerun must not
    // lose the cancel path the first pass has. Returns Right(seconds)
    // or Left(error).
    def timedRun(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Either[String, Double] = {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val t0 = System.nanoTime()
      try {
        Await.result(Future {
          // set on the EXECUTING thread: local properties are inherited
          // at thread creation, so a main-thread setJobGroup leaves
          // pooled workers in a stale group and the timeout cancel
          // below would miss the hung job
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          try fn(spark, sfDir).count()
          finally spark.sparkContext.clearJobGroup()
        }, timeoutSec.seconds)
        Right((System.nanoTime() - t0) / 1e9)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          Left(s"timeout after ${timeoutSec}s")
        case e: Throwable =>
          Left(Option(e.getMessage).getOrElse(e.getClass.getName))
      }
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      timedRun(name, fn) match {
        case Right(t) => timings(name) = t
        case Left(err) => errors(name) = err
      }
    }
    // Sub-second queries swing up to 2× run-to-run (round-6 data:
    // q_nfc 0.17↔0.41 s on identical code) — noise bigger than the
    // signal. Report the MEDIAN of three for them so the checked-in
    // budgets can sit close to the true cost instead of 2× above it.
    // Reruns that fail keep the first timing and are recorded under
    // rerun_errors (never as fake query names).
    val rerunErrors = scala.collection.mutable.LinkedHashMap[String, String]()
    for ((name, first) <- timings.toSeq if first < 1.0) {
      val extra = (1 to 2).flatMap { i =>
        timedRun(name, SparkEntry.queries(name)) match {
          case Right(t) => Some(t)
          case Left(err) =>
            rerunErrors(s"$name#median$i") = err
            None
        }
      }
      if (extra.size == 2) timings(name) = (first +: extra).sorted.apply(1)
    }
    // Regression budget: per-query wall-clock ceilings (prior round's
    // time × 1.5, floored at 0.5 s) checked in as BENCH_BUDGET.json.
    // Single runs swing ±30% (PLANS.md), so a query over its ceiling is
    // re-timed twice more and judged on the MEDIAN of the three; a
    // genuine regression fails loudly — on stderr and as "over_budget"
    // in the JSON line — without corrupting the metric format the
    // driver parses. Queries without a budget row (new this round) are
    // exempt until the next budget refresh.
    val budgetPath = sys.env.getOrElse("SPARK_GRAFT_BUDGET", "BENCH_BUDGET.json")
    val budget: Map[String, Double] =
      try {
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(budgetPath)), "UTF-8")
        "\"([^\"]+)\"\\s*:\\s*([0-9.Ee+-]+)".r.findAllMatchIn(txt)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      } catch { case e: Throwable =>
        // an inactive gate must be VISIBLE — a missing/corrupt file
        // silently disabling every check is how regressions ship
        System.err.println(s"BENCH BUDGET INACTIVE: $budgetPath " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage})")
        Map.empty
      }
    val overBudget = scala.collection.mutable.LinkedHashMap[String, Double]()
    for ((name, first) <- timings.toSeq
         if budget.get(name).exists(first > _)) {
      // a failing rerun contributes +∞, never a bogus time-to-failure:
      // the median then rests on the valid samples, the query stays
      // over budget, and the error is recorded — a broken query must
      // never masquerade as a fast one
      val reruns = (1 to 2).map { i =>
        timedRun(name, SparkEntry.queries(name)) match {
          case Right(t) => t
          case Left(err) =>
            // separate map: a driver that treats error keys as query
            // names must never see synthetic "<query>_rerunN" entries
            rerunErrors(s"$name#budget$i") = err
            Double.PositiveInfinity
        }
      }
      val median = (first +: reruns).sorted.apply(1)
      timings(name) = if (median.isInfinity) first else median
      if (median > budget(name)) overBudget(name) = timings(name)
    }
    if (overBudget.nonEmpty)
      System.err.println("BENCH BUDGET EXCEEDED: " + overBudget.map {
        case (k, v) => f"$k $v%.2fs > ${budget(k)}%.2fs (median of 3)"
      }.mkString(", "))

    // A2 parity: per-stage wall times for one fixture ingest (the
    // reference's console.time points: parse, metadata, stats, and the
    // one publish as write_features).
    val stages: Map[String, Double] =
      try benchIngest(spark)
      catch { case e: Throwable =>
        errors("_ingest_fixture") = Option(e.getMessage).getOrElse(e.getClass.getName)
        Map.empty
      }

    // 3-decimal timings: ms resolution is below run-to-run noise, and
    // the compact line must fit the driver's bounded stdout tail
    // capture in one piece (round 6's full-precision line got its
    // first four queries truncated away). Locale.ROOT: a comma-decimal
    // default locale would render 1,576 and corrupt the JSON.
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = timings.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val re = rerunErrors.map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val st = stages.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }.mkString("{", ",", "}")
    val ob = overBudget.map { case (k, v) => s"${jsonStr(k)}:${num(v)}" }
      .mkString("{", ",", "}")
    val total = timings.values.sum
    val line = s"""{"metric":"total","value":${num(total)},"unit":"sec","queries":$qs,"errors":$es,"rerun_errors":$re,"over_budget":$ob,"load_stages":$st,"sf":${jsonStr(sfDir)}}"""
    println(line)
    // Also persist to a file: the stdout line rides inside sbt's [info]
    // noise and has proven fragile to parse driver-side.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/bench.json"), line + "\n")
    spark.stop()
  }

  /** Build a synthetic 10k-feature archive, ingest it through the full
    * pipeline, and return the engine's per-stage timings.
    */
  private def benchIngest(spark: SparkSession): Map[String, Double] =
    Fixtures.withScratch("bench") { dir =>
      def layer(features: Int, geom: Int => String) =
        Fixtures.featureCollection("", Iterator.range(0, features).map(i =>
          s"""{"type":"Feature","geometry":${geom(i)},"properties":{"_id":"f$i","len":$i}}"""),
          lateHeader = """"name":"bench"""")
      val zipFile = Fixtures.writeZip(dir.resolve("bench.zip"),
        "nodes.geojson" -> layer(5000,
          i => s"""{"type":"Point","coordinates":[${i * 0.001},${i * 0.002},${i % 7}]}"""),
        "edges.geojson" -> layer(5000,
          i => s"""{"type":"LineString","coordinates":[[${i * 0.001},1.0,5.0],[2.0,${i * 0.002},6.0]]}"""))
      val engine = new graft.service.ExtractLoadEngine(spark, dir.resolve("wh").toString)
      val resp = engine.processRequest(graft.model.QueueMessage("bench|1", "wf",
        graft.model.ExtractLoadRequest("osw", zipFile.toString, "bench_ds", "bench")))
      require(resp.success, s"fixture ingest failed: ${resp.message}")
      engine.lastStageTimings
    }
}
