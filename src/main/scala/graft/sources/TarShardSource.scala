package graft.sources

import java.io.{BufferedInputStream, InputStream}
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{MalformedShardException, Tar}

/** One member of one on-disk shard, in archive order. */
final case class ShardMember(shard_path: String, entry_index: Long,
    path: String, bytes: Array[Byte], size: Long)

/** One WebDataset member of one on-disk shard: basename-stem split. */
final case class ShardWdsMember(shard_path: String, stem: String,
    ext: String, bytes: Array[Byte], size: Long)

/** Path-level STREAMING tar/WebDataset shard source — the 100 TB
  * shape. `Tar.tarEntries` is a column operator: the whole shard
  * (decompressed) sits in executor memory, which a real 1 GiB+
  * WebDataset shard blows through immediately. Here archive *paths*
  * are distributed as a `Dataset[String]` and each task walks its
  * shard member-by-member off a Hadoop `FSDataInputStream` (gzip
  * inflating THROUGH the stream, dispatched by the `1F 8B` magic) —
  * residency is ONE member, whatever the shard size, the same
  * bounded-memory principle as [[GeoJsonZipSource]] (and the
  * reference's own streamed-entry design,
  * `src/service/extract-load-service.ts:298-318`). TAR needs no
  * central directory, so unlike ZIP the streamed walk loses nothing.
  *
  * The walk itself is [[Tar.streamTarEntries]] — the SAME state
  * machine the column operator runs (checksum verification on every
  * header, GNU 'L'/pax 'x' long-path records honored, honesty
  * refusals), so the two paths cannot drift. One difference is forced
  * by streaming: members may already have been emitted when a
  * violation is met, so "refuse the whole shard" becomes a LOUD task
  * failure ([[graft.operators.MalformedShardException]]) instead of
  * emit-nothing — at 100 TB a silently half-read shard is the failure
  * mode that matters.
  *
  * Parallelism comes from many shards (one per task); a single shard
  * is inherently serial in any tar reader (headers chain by size).
  */
object TarShardSource {

  /** Stream every regular-file member of every shard matched by
    * `path` (file, glob, or directory; `.tar` and `.tar.gz` mix
    * freely — dispatch is per file by magic, not by extension).
    */
  def members(spark: SparkSession, path: String,
      maxEntryBytes: Int = 1 << 28): Dataset[ShardMember] = {
    import spark.implicits._
    require(maxEntryBytes > 0, "maxEntryBytes must be positive")
    val files = StreamUtil.resolveFiles(spark, path)
    val hconf =
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    val parallelism = math.max(1,
      math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files)
      .repartition(parallelism) // one shard per task when shards ≤ cores
      .flatMap { p =>
        val fsPath = new Path(p)
        val fs = fsPath.getFileSystem(hconf.value)
        val raw = new BufferedInputStream(fs.open(fsPath), 1 << 16)
        raw.mark(2)
        val b0 = raw.read(); val b1 = raw.read()
        raw.reset()
        val in: InputStream =
          if (b0 == 0x1F && b1 == 0x8B)
            new GZIPInputStream(raw, 1 << 16)
          else raw
        // failure backstop: close at task end (the happy path closes
        // eagerly on exhaustion below)
        Option(TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => in.close()))
        StreamUtil.closeOnExhaustion(
          Tar.streamTarEntries(in, maxEntryBytes, p).zipWithIndex.map {
            case ((name, bytes), i) =>
              ShardMember(p, i.toLong, name, bytes, bytes.length.toLong)
          }, in)
      }
  }

  /** [[members]] with WebDataset basename-stem splitting (stem = path
    * up to the FIRST dot of the basename; extensions may be dotted).
    * A dotless member belongs to no sample — it fails the shard
    * loudly, matching the column operator's refuse-whole contract.
    */
  def webdatasetMembers(spark: SparkSession, path: String,
      maxEntryBytes: Int = 1 << 28): Dataset[ShardWdsMember] = {
    import spark.implicits._
    members(spark, path, maxEntryBytes).map { m =>
      val slash = m.path.lastIndexOf('/')
      val base = m.path.substring(slash + 1)
      val dot = base.indexOf('.')
      if (dot <= 0)
        throw new MalformedShardException(
          s"${m.shard_path}: dotless member '${m.path}' belongs to " +
            "no WebDataset sample")
      ShardWdsMember(m.shard_path,
        m.path.substring(0, slash + 1) + base.substring(0, dot),
        base.substring(dot + 1), m.bytes, m.size)
    }
  }

  /** The per-sample census over on-disk shards — `Tar
    * .webdatasetSamples` at path level: one row per (shard, stem)
    * with sorted member extensions and total bytes.
    */
  def webdatasetSamples(spark: SparkSession, path: String,
      maxEntryBytes: Int = 1 << 28): DataFrame = {
    import org.apache.spark.sql.functions._
    webdatasetMembers(spark, path, maxEntryBytes).toDF()
      .groupBy(col("shard_path"), col("stem"))
      .agg(count(lit(1)).as("n_members"),
        array_join(array_sort(collect_list(col("ext"))), ",")
          .as("exts"),
        sum(col("size")).as("total_bytes"))
  }
}
