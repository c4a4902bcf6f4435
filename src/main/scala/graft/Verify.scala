package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** The session the query set is checked on: `SPARK_GRAFT_CPUS` cores
    * (default 4) and as many shuffle partitions. Engine-tuning confs come
    * from the library bootstrap (see GraftSession): bounded-buffer object
    * aggs stay on the hash path.
    */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    // process-level backstop parity (unhandled-exception handler)
    graft.service.ErrorMapping.registerUnhandledHandler(System.err.println)
    val Array(sfDir, outDir) = args
    val spark = session()
    new java.io.File(outDir).mkdirs()
    // Per-query watchdog: one pathological query must not hang the whole
    // correctness dump (and zero the round) — cancel its job group after
    // the timeout and move on.
    val timeoutSec = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "300").toLong
    // Optional local-dev filter (comma-separated names); unset = all.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      try {
        val work = Future {
          // Job group must be set on the EXECUTING thread: Spark local
          // properties are inherited at thread creation, so setting it on
          // the main thread leaves pooled workers in a stale group and
          // cancelJobGroup would miss the hung job.
          spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
          val df = fn(spark, sfDir)
          // Canonical row order: every oracle ends with ORDER BY ALL NULLS
          // FIRST (left-to-right over the projection); sort the Spark side
          // identically so the compare is order-insensitive by construction.
          val sorted =
            try df.orderBy(df.columns.map(c =>
              org.apache.spark.sql.functions.col(c).asc_nulls_first): _*)
            catch { case _: Throwable => df } // unorderable col types
          sorted.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
          spark.sparkContext.clearJobGroup()
        }
        Await.result(work, timeoutSec.seconds)
      } catch {
        case _: java.util.concurrent.TimeoutException =>
          spark.sparkContext.cancelJobGroup(name)
          System.err.println(s"[verify] $name timed out after ${timeoutSec}s")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.sparkContext.clearJobGroup()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
