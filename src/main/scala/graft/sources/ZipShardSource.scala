package graft.sources

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.SerializableConfiguration

import graft.operators.Zip

/** Path-level ZIP shard source over RANDOM-ACCESS Hadoop streams —
  * the honest streamed form of a central-directory format. ZIP
  * cannot be walked front-to-back like tar (local headers lie when
  * bit-3 data descriptors are in play; the CENTRAL directory at the
  * END is the authoritative member list), so "streaming" a ZIP
  * correctly means SEEKING: read the tail for the EOCD (+ ZIP64
  * record), materialize the central directory, then seek to each
  * member and read it alone. Residency is the CD plus ONE member —
  * a 50 GB archive costs the same executor memory as a 5 MB one —
  * while `Zip.zipEntries` (the column operator) holds the whole
  * archive as a column value.
  *
  * The walk itself is [[Zip.walkZip]] — the SAME state machine the
  * column operator runs (EOCD/ZIP64 routing, per-member CRC-32,
  * overlap check, refuse-whole honesty) — so the two paths cannot
  * drift; here violations fail the task loudly
  * ([[graft.operators.MalformedShardException]]), since members may
  * already have been emitted.
  *
  * Parallelism comes from many archives (one per task); members
  * within one archive read serially in CD order.
  */
object ZipShardSource {

  /** Stream every file member of every archive matched by `path`
    * (file, glob, or directory). `maxCdBytes` bounds the one
    * materialized structure (the central directory; ~46+name bytes
    * per member — the default 256 MiB covers millions of members).
    */
  def members(spark: SparkSession, path: String,
      maxEntryBytes: Int = 1 << 28,
      maxCdBytes: Int = 1 << 28): Dataset[ShardMember] = {
    import spark.implicits._
    require(maxEntryBytes > 0, "maxEntryBytes must be positive")
    require(maxCdBytes > 0, "maxCdBytes must be positive")
    val files = StreamUtil.resolveFiles(spark, path)
    val hconf =
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val parallelism = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files)
      .repartition(parallelism)
      .flatMap { p =>
        val reader = new HadoopZipReader(hconf.value, p)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => reader.close()))
        StreamUtil.closeOnExhaustion(
          Zip.walkZip(reader, maxEntryBytes, maxCdBytes, p)
            .zipWithIndex.map { case ((name, bytes, _), i) =>
              ShardMember(p, i.toLong, name, bytes, bytes.length.toLong)
            }, reader)
      }
  }
}
