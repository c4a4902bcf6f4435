package graft

import org.apache.spark.sql.SparkSession

/** Library-level session bootstrap — the ONE place the engine's tuned
  * Spark confs live, so a production session gets the same plans the
  * committed benchmarks measure instead of silently falling off them
  * at Spark's defaults. Use either form:
  *
  * {{{
  * val spark = GraftSession.configure(SparkSession.builder()
  *   .master(...)).getOrCreate()      // at build time
  * GraftSession.configure(spark)      // or on an existing session
  * }}}
  *
  * Every conf here is a RUNTIME session conf (settable post-startup), so
  * both forms are equivalent; `Bench`/`Verify` and the dev harnesses
  * go through this object rather than re-stating the values.
  */
object GraftSession {

  /** The engine's tuned runtime confs.
    *
    * `objectHashAggregate.sortBased.fallbackThreshold`: the library's
    * typed aggregators (TopK / bounded collects) hold BOUNDED buffers
    * (≤ k / ≤ cap entries), so the object-agg hash map stays small
    * even with many grouping keys; Spark's default 128-key sort-based
    * fallback is tuned for unbounded percentile-style buffers and
    * demotes every bucket-keyed bounded collect to a per-task sort —
    * the cardinality cliff PLANS.md documents. 16384 keys × ≤1 KB
    * buffer ≈ 16 MB per task — safely hash-aggregated; the fallback
    * remains the backstop beyond that.
    *
    * `fs.AbstractFileSystem.file.impl`: the checkpoint file system.
    * Spark writes a streaming query's checkpoint through `FileContext`
    * over a Hadoop conf it builds from the session's conf, and Hadoop's
    * stock `LocalFs` starts a `chmod` process per file and directory and
    * a `readlink` process per rename end (44 per `QueueSubscription`
    * drain) without Hadoop's native library. [[sinks.ForkFreeLocalFs]]
    * makes the same system calls through java.nio and writes the same
    * files, `.crc` included, so a checkpoint written under either one
    * resumes under the other. `FileContext` caches no file system, so
    * the session conf reaches every new query.
    */
  val tunedConfs: Map[String, String] = Map(
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "16384",
    "fs.AbstractFileSystem.file.impl" -> classOf[sinks.ForkFreeLocalFs].getName)

  /** Apply the tuned confs to a session builder. */
  def configure(builder: SparkSession.Builder): SparkSession.Builder =
    tunedConfs.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }

  /** Apply the tuned confs to an already-running session (all tuned
    * confs are runtime session confs, so this is complete, not partial).
    */
  def configure(spark: SparkSession): SparkSession = {
    tunedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
