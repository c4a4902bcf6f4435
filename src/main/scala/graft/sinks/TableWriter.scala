package graft.sinks

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Writes rows of one data schema (a table's columns but the partition
  * column) as parquet files, on the driver or inside a task. It is
  * Spark's own parquet `OutputWriterFactory`, prepared once on the
  * driver; the Hadoop conf that preparation filled in travels to tasks as
  * a broadcast. That conf is the one its [[Warehouse]] gives it, so a
  * file under a local root is created through [[ForkFreeLocalFileSystem]]:
  * with its `.crc`, and without a `chmod` process.
  *
  * Inside a task, a killed task stops before it creates a file and at the
  * next row it writes, and a file whose writing failed is deleted: a
  * killed or failed attempt leaves nothing behind.
  */
final class TableWriter private (dataSchema: StructType, factory: OutputWriterFactory,
    conf: Broadcast[SerializableConfiguration]) extends Serializable {

  /** A new file at `base` plus the codec's extension, for example
    * `part-00003-0.snappy.parquet`. Creating it creates its missing
    * parent directories.
    */
  def open(base: String): TableWriter.File = {
    val tc = TaskContext.get()
    val attempt =
      if (tc == null) new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
      else {
        TableWriter.stopIfKilled(tc)
        new TaskAttemptID(new TaskID(new JobID("graft", tc.stageId()), TaskType.MAP,
          tc.partitionId()), tc.attemptNumber())
      }
    // a JobConf is used as it is; a plain Configuration would be copied again
    val ctx = new TaskAttemptContextImpl(new JobConf(conf.value.value), attempt)
    val path = base + factory.getFileExtension(ctx)
    val fs = new Path(path).getFileSystem(ctx.getConfiguration)
    new TableWriter.File(path, factory.newInstance(path, dataSchema, ctx), tc, fs)
  }

  /** `rows` as one new file at `base`: its path, or None (no file) when
    * there are no rows.
    */
  def write(base: String, rows: Iterator[InternalRow]): Option[String] =
    if (!rows.hasNext) None
    else {
      val f = open(base)
      try rows.foreach(f.write)
      catch { case e: Throwable => f.abort(); throw e }
      Some(f.close())
    }
}

object TableWriter {

  /** Prepares the writer of `dataSchema` from the session's parquet
    * settings, over the Hadoop conf `hconf`.
    */
  def prepare(spark: SparkSession, hconf: Configuration, dataSchema: StructType): TableWriter = {
    val job = Job.getInstance(hconf)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, dataSchema)
    new TableWriter(dataSchema, factory,
      spark.sparkContext.broadcast(new SerializableConfiguration(job.getConfiguration)))
  }

  /** One open file. */
  final class File private[TableWriter] (val path: String, out: OutputWriter, tc: TaskContext,
      fs: FileSystem) {
    def write(row: InternalRow): Unit = {
      if (tc != null) stopIfKilled(tc)
      out.write(row)
    }

    /** Finishes the file; returns its path. */
    def close(): String = { out.close(); path }

    /** Closes and deletes the file, after a failure. */
    def abort(): Unit = {
      try out.close() catch { case NonFatal(_) => () }
      fs.delete(new Path(path), false)
    }
  }

  private def stopIfKilled(tc: TaskContext): Unit =
    if (tc.isInterrupted()) throw new TaskKilledException("task killed")
}
