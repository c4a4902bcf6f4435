package graft.sinks

import java.io.IOException
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import scala.util.{Failure, Success}
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{JobExecutionStatus, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.model.{Layer, LoadResponse}

/** Table layout of the engine — the Spark-native replacement for the
  * reference's Postgres `content.*` schema.
  *
  * Every per-feature table is parquet partitioned by `tdei_dataset_id`.
  * A write never lands in a live partition: its files are written into
  * the staging directory of its load, `<root>/_staging-<load id>/
  * content_<table>/tdei_dataset_id=<id>/`, and one [[publish]] then
  * replaces the dataset's partition in every table the write covers: a
  * table with staged files gets them (delete, then one directory rename),
  * every other table loses its partition. Publishes of one dataset run
  * one at a time in the JVM, and a publish that fails leaves the dataset
  * empty. That is the Spark idiom for the reference's
  * `delete_dataset_records_by_id($1)` pre-clean followed by one
  * transactional reload that rolls back on failure
  * (`src/service/extract-load-service.ts:291-295`,
  * `src/database/data-source.ts:33-65`): a dataset holds one whole load
  * or nothing, and a re-load of the same dataset is idempotent.
  *
  * Files are written through one [[TableWriter]] per data schema: Spark's
  * own parquet `OutputWriterFactory`, prepared once on the driver, which
  * tasks and the driver write through alike. A load's feature files come
  * from the tasks of its one parse job, its metadata files from the
  * driver; neither pays a Spark job or the commit protocol of a
  * `DataFrameWriter` per table. Every file the warehouse writes, renames
  * or deletes goes through its own copy of the Hadoop conf, in which a
  * local root is Hadoop's checksummed local file system with a
  * `setPermission` that starts no `chmod` process
  * ([[ForkFreeLocalFileSystem]]); any other root is the session's.
  *
  * Every table has a FIXED schema (the reference's DDL is fixed too), so
  * reads never rely on parquet schema inference: a table whose last
  * partition was deleted reads as an empty, correctly-typed DataFrame
  * instead of failing schema inference.
  *
  * Scale note: partitioning by dataset id means a 1000-executor load of N
  * archives touches only its own partitions (no global shuffle, no table
  * lock).
  */
final class Warehouse(spark: SparkSession, val root: String) {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The Hadoop conf of every file the warehouse writes, renames or
    * deletes: the session's, copied, with `file:` paths going through
    * [[ForkFreeLocalFileSystem]], Hadoop's checksummed local file system
    * without the `chmod` process it starts for every file and directory
    * it creates. Hadoop caches file systems by scheme and user, not by
    * conf, so the cache is off for `file:` in this conf; other schemes
    * resolve as in the session.
    */
  private[graft] val hconf: Configuration = {
    val conf = new Configuration(spark.sparkContext.hadoopConfiguration)
    conf.setClass("fs.file.impl", classOf[ForkFreeLocalFileSystem], classOf[FileSystem])
    conf.setBoolean("fs.file.impl.disable.cache", true)
    conf
  }

  /** The file system of the root, through [[hconf]]. */
  private val fs: FileSystem = new Path(root).getFileSystem(hconf)

  /** Publishes of one dataset share a lock stripe with this key. */
  private val lockKey = fs.makeQualified(new Path(root)).toString

  def tablePath(table: String): String = s"$root/content_$table"

  def tableSchema(name: String): StructType = Warehouse.schemas(name)

  /** Where the files of load `loadId` wait for [[publish]]. */
  def stagingPath(loadId: String): String = s"$root/_staging-$loadId"

  /** Staged directory of one dataset's partition of `table`. */
  def stagedPartitionPath(loadId: String, table: String, datasetId: String): String =
    Warehouse.partitionDir(stagingPath(loadId), table, datasetId)

  private val writers = new ConcurrentHashMap[StructType, TableWriter]()

  /** The writer of `table`'s files, prepared on first use. */
  def writer(table: String): TableWriter =
    writers.computeIfAbsent(Warehouse.dataSchema(table), TableWriter.prepare(spark, hconf, _))

  /** Replaces the partitions of `df`'s dataset ids in `table` by `df`'s
    * rows: for the feature tables (node, edge, zone, extension_*) and the
    * keyed metadata tables (dataset, stats, extension_file) alike, where
    * one partition per dataset id makes it an upsert.
    */
  def writeFeatures(table: String, df: DataFrame): Unit = replace(table, df)

  /** One job writes `df`'s rows into staged files, one file per task and
    * dataset id; then each dataset's partition of `table` is published.
    */
  private def replace(table: String, df: DataFrame): Unit = {
    val data = Warehouse.dataSchema(table)
    val rows = df.select(struct(data.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*),
      col(Warehouse.PartitionColumn).cast(StringType)).queryExecution.toRdd
    val w = writer(table)
    val width = data.size
    val loadId = UUID.randomUUID().toString
    val dir = stagingPath(loadId)
    try {
      val files = runJob(rows) { it =>
        val tc = TaskContext.get()
        val open = scala.collection.mutable.LinkedHashMap[String, TableWriter.File]()
        try {
          it.foreach { r =>
            val id = if (r.isNullAt(1)) "" else r.getUTF8String(1).toString
            open.getOrElseUpdate(id, w.open(f"${Warehouse.partitionDir(dir, table, id)}/" +
              f"part-${tc.partitionId()}%05d-${tc.attemptNumber()}")).write(r.getStruct(0, width))
          }
          open.toSeq.map { case (id, f) => id -> f.close() }
        } catch {
          case e: Throwable => open.values.foreach(_.abort()); throw e
        }
      }
      files.toSeq.flatten.groupMap(_._1)(_._2).foreach { case (id, staged) =>
        publish(id, Seq(table), Map(table -> staged))
      }
    } finally discard(loadId)
  }

  /** Writes `rows` on the driver as the one staged file of a dataset's
    * partition of `table`: `table` -> that file, or None (no file) when
    * there are no rows.
    */
  def stageRows(loadId: String, table: String, datasetId: String,
      rows: Seq[InternalRow]): Option[(String, Seq[String])] =
    writer(table).write(s"${stagedPartitionPath(loadId, table, datasetId)}/part-driver", rows.iterator)
      .map(f => table -> Seq(f))

  /** Runs `f` over every partition of `rdd` as one Spark job, from the
    * calling thread (its job group and local properties apply), and
    * returns the results in partition order. It is `SparkContext.runJob`
    * with the job id kept: should the job fail, this returns only once
    * the status tracker shows no task of it still running, so no task
    * writes into a staging directory after its load discarded it.
    */
  private[graft] def runJob[T, U: ClassTag](rdd: RDD[T])(f: Iterator[T] => U): Array[U] = {
    val results = new Array[U](rdd.partitions.length)
    val job = spark.sparkContext.submitJob(rdd, f, results.indices,
      (i: Int, u: U) => results(i) = u, ())
    try Await.ready(job, Duration.Inf)
    catch { case e: Throwable => job.cancel(); awaitTasks(job.jobIds); throw e }
    job.value.get match {
      case Success(_) => results
      case Failure(e) => awaitTasks(job.jobIds); throw e
    }
  }

  /** Waits until the jobs have ended and none of their stages has a
    * running task, as far as the status tracker has heard; at most a
    * minute, so events the listener bus dropped cannot hang a load.
    */
  private def awaitTasks(jobIds: Seq[Int]): Unit = {
    val tracker = spark.sparkContext.statusTracker
    def running(id: Int): Boolean = tracker.getJobInfo(id).forall { j =>
      j.status == JobExecutionStatus.RUNNING ||
        j.stageIds.exists(s => tracker.getStageInfo(s).exists(_.numActiveTasks > 0))
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (jobIds.exists(running) && System.nanoTime() < deadline) Thread.sleep(5)
    if (jobIds.exists(running))
      log.warn(s"jobs ${jobIds.mkString(",")} still report running tasks; discarding their files anyway")
  }

  /** Replaces dataset `datasetId`'s partition of every table in `tables`.
    * A table in `staged` gets its staged files, which all lie in one
    * staged partition directory; every other table loses its partition.
    * Publishes of one (root, dataset id) run one at a time in the JVM. If
    * the publish fails, it deletes the dataset's partition of every table
    * in `tables` before it rethrows: the dataset is left empty, never
    * partly replaced.
    */
  def publish(datasetId: String, tables: Seq[String], staged: Map[String, Seq[String]]): Unit = {
    require(staged.keySet.subsetOf(tables.toSet), s"staged tables ${staged.keySet} not all in $tables")
    val live = tables.map(t => t -> new Path(partitionPath(t, datasetId)))
    Warehouse.lockOf(lockKey, datasetId).synchronized {
      try live.foreach { case (t, p) =>
        fs.delete(p, true)
        staged.get(t).foreach(moveIn(_, p))
      } catch {
        case e: Throwable =>
          live.foreach { case (_, p) =>
            try fs.delete(p, true) catch { case NonFatal(d) => e.addSuppressed(d) }
          }
          throw e
      }
    }
  }

  /** Renames the staged partition directory holding `files` to `live`,
    * which does not exist. Only the files successful tasks returned are
    * published: anything else in the staged partition (a failed attempt's
    * leftover, a stray) is deleted first. The rename never targets an
    * existing path: Hadoop would move the staged directory INTO it.
    */
  private def moveIn(files: Seq[String], live: Path): Unit = {
    val staged = new Path(files.head).getParent
    val keep = files.map(new Path(_).getName).toSet
    val found = fs.listStatus(staged).map(_.getPath)
    found.filterNot(f => keep(f.getName)).foreach(fs.delete(_, true))
    val missing = keep -- found.map(_.getName)
    if (missing.nonEmpty)
      throw new IOException(s"staged files missing from $staged: ${missing.mkString(", ")}")
    fs.mkdirs(live.getParent)
    if (fs.exists(live) || !fs.rename(staged, live))
      throw new IOException(s"cannot publish $staged as $live")
  }

  /** Deletes what is left of load `loadId`'s staging directory. */
  def discard(loadId: String): Unit = fs.delete(new Path(stagingPath(loadId)), true)

  /** Append-only response log (K10): each call writes one uniquely named
    * file under a hidden name, then renames it into place, so readers
    * never list a partial file and concurrent appends need no lock.
    */
  def appendResponses(df: DataFrame): Unit = {
    val schema = Warehouse.schemas("response")
    val toRow = CatalystTypeConverters.createToCatalystConverter(schema)
    appendResponseRows(df.select(schema.fields.toIndexedSeq.map(f => col(f.name).cast(f.dataType)): _*)
      .collect().iterator.map(toRow(_).asInstanceOf[InternalRow]))
  }

  /** [[appendResponses]] of responses in hand, with no query to plan. */
  def appendResponses(responses: Seq[LoadResponse]): Unit =
    appendResponseRows(responses.iterator.map(r => InternalRow(UTF8String.fromString(r.messageId),
      UTF8String.fromString(r.messageType), UTF8String.fromString(r.message), r.success, r.status)))

  private def appendResponseRows(rows: Iterator[InternalRow]): Unit = {
    val dir = tablePath("response")
    writer("response").write(s"$dir/.${UUID.randomUUID()}", rows).foreach { hidden =>
      val from = new Path(hidden)
      val to = new Path(dir, "part-" + from.getName.drop(1))
      if (!fs.rename(from, to))
        throw new IOException(s"cannot publish $from as $to")
    }
  }

  /** B1 JDBC parity sink: the reference's real load target is Postgres
    * with 1000-row multi-VALUES INSERT batches
    * (`extract-load-service.ts:363-384`, `BULK_INSERT_BATCH_SIZE` in
    * `src/environment/environment.ts:26`) over a pool of ≤ 20
    * connections (`POSTGRES_POOL_SIZE`, `:21`). Spark equivalent:
    * `DataFrameWriter.jdbc` with `batchsize=1000` (executeBatch chunks)
    * and `numPartitions ≤ 20` (connection bound). For Postgres, pass
    * `reWriteBatchedInserts=true` in `props` so the driver rewrites each
    * batch into the same multi-row INSERT the reference emits.
    */
  def writeFeaturesJdbc(url: String, table: String, df: DataFrame,
      batchSize: Int = 1000, maxConnections: Int = 20,
      writerOptions: Map[String, String] = Map.empty,
      props: java.util.Properties = new java.util.Properties): Unit =
    Warehouse.mapDbErrors {
      val bounded =
        if (df.rdd.getNumPartitions > maxConnections)
          df.coalesce(maxConnections)
        else df
      bounded.write
        .mode(SaveMode.Append)
        .option("batchsize", batchSize.toLong)
        .options(writerOptions) // e.g. createTableColumnTypes for DDL control
        .jdbc(url, table, props)
    }

  /** A1 parity on the JDBC target: delete one dataset's rows from the
    * given tables before re-appending — the reference's
    * `delete_dataset_records_by_id($1)` pre-clean
    * (`src/service/extract-load-service.ts:291-295`). Tables that don't
    * exist yet (first load) are skipped. Driver-side, one connection:
    * the delete is a single keyed statement per table, not data-volume
    * work.
    */
  def deleteDatasetRecordsJdbc(url: String, datasetId: String,
      tables: Seq[String],
      props: java.util.Properties = new java.util.Properties): Unit =
    Warehouse.mapDbErrors {
      val conn = java.sql.DriverManager.getConnection(url, props)
      try tables.foreach { t =>
        // Only a table that genuinely doesn't exist yet (first load) may
        // be skipped; probing DatabaseMetaData first — instead of
        // swallowing undefined-table SQLStates around the DELETE — keeps a
        // typo'd or case-folded name from turning the pre-clean into a
        // silent no-op (the reload would quietly duplicate rows).
        if (jdbcTableExists(conn, t)) {
          // Spark's JDBC writer creates case-exact quoted identifiers;
          // quote to match (standard double quotes: Derby + Postgres)
          val st = conn.prepareStatement(
            s"""DELETE FROM $t WHERE "tdei_dataset_id" = ?""")
          try { st.setString(1, datasetId); st.executeUpdate() }
          finally st.close()
        } else
          log.info(s"pre-clean: table $t does not exist yet, skipping")
      } finally conn.close()
    }

  /** True if `name` resolves to an existing table: checks the exact
    * (quoted-identifier) spelling plus both case foldings, matching how
    * Derby (upper) and Postgres (lower) fold unquoted DDL names.
    */
  private def jdbcTableExists(conn: java.sql.Connection, name: String): Boolean = {
    val md = conn.getMetaData
    // '_' and '%' are LIKE wildcards in DatabaseMetaData patterns — a raw
    // probe for content_docs would also match a sibling contentXdocs,
    // false-positive the existence check, and send the DELETE at a table
    // that isn't there. Escape with the driver's own escape string, and
    // require an exact TABLE_NAME match on whatever rows come back.
    val esc = Option(md.getSearchStringEscape).getOrElse("\\")
    def escaped(n: String): String = {
      val b = new StringBuilder
      n.foreach { c =>
        if (c == '_' || c == '%' || esc.contains(c)) b.append(esc)
        b.append(c)
      }
      b.toString
    }
    Seq(name, name.toUpperCase(java.util.Locale.ROOT),
        name.toLowerCase(java.util.Locale.ROOT)).distinct.exists { n =>
      val rs = md.getTables(null, null, escaped(n), Array("TABLE"))
      try {
        var found = false
        while (!found && rs.next()) found = rs.getString("TABLE_NAME") == n
        found
      } finally rs.close()
    }
  }

  /** Idempotent JDBC re-load: pre-clean the dataset's rows, then append.
    * Running it twice with the same frame leaves the same row count —
    * the JDBC-target equivalent of the parquet tables' partition
    * replace.
    */
  def reloadFeaturesJdbc(url: String, table: String, df: DataFrame,
      datasetId: String, batchSize: Int = 1000, maxConnections: Int = 20,
      writerOptions: Map[String, String] = Map.empty,
      props: java.util.Properties = new java.util.Properties): Unit = {
    deleteDatasetRecordsJdbc(url, datasetId, Seq(table), props)
    writeFeaturesJdbc(url, table, df, batchSize, maxConnections,
      writerOptions, props)
  }

  /** Read a JDBC table back (round-trip / verification path). */
  def readJdbc(url: String, table: String,
      props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)

  /** Read a table with its fixed schema. A missing directory or a
    * directory with no data files (all partitions deleted) reads as an
    * empty DataFrame — parity with `SELECT * FROM t` on an empty table.
    */
  def table(name: String): DataFrame = {
    val schema = Warehouse.schemas.getOrElse(name, null)
    if (schema == null) spark.read.parquet(tablePath(name))
    else if (!tableExists(name))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(tablePath(name))
  }

  def tableExists(name: String): Boolean = fs.exists(new Path(tablePath(name)))

  /** Path of one dataset's partition within a table. */
  def partitionPath(table: String, datasetId: String): String =
    Warehouse.partitionDir(root, table, datasetId)

  /** Deletes a dataset's rows from every dataset table: a [[publish]]
    * with nothing staged. A load publishes into every table already; this
    * is the reference's `delete_dataset_records_by_id` on its own (A1).
    */
  def deleteDatasetRecords(datasetId: String): Unit =
    publish(datasetId, Warehouse.DatasetTables, Map.empty)

  /** Persist a relation as a BUCKETED, bucket-sorted managed table:
    * every future equi-join or aggregation on `keys` against another
    * table bucketed the same way is CO-LOCATED — both sides scan their
    * pre-hashed files and the join runs with ZERO Exchange (proved by
    * `BucketedJoinSpec`: SortMergeJoin, no shuffle in the plan).
    *
    * This is the 100 TB answer for repeatedly-joined fact tables:
    * one bucketed write amortizes the fact-table shuffle across every
    * downstream join — the shuffle happens once, at write time, instead
    * of per query. Pick `numBuckets` ≈ cluster cores so one bucket is
    * one task.
    */
  def writeBucketedTable(df: DataFrame, table: String, keys: Seq[String],
      numBuckets: Int): Unit = {
    require(keys.nonEmpty, "need at least one bucket key")
    df.write
      .mode(SaveMode.Overwrite)
      .format("parquet")
      // external table AT THE WAREHOUSE ROOT — every other writer in
      // this class lands under tablePath; only the bucket metadata
      // lives in the session catalog
      .option("path", tablePath(table))
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }
}

/** Typed constraint-violation errors — parity with the reference's
  * `UniqueKeyDbException` / `ForeignKeyDbException` mapping of Postgres
  * SQLSTATE 23505 / 23503 (`src/database/data-source.ts:98-105`,
  * `src/constants/pg-error-constants.ts:211,213`). The states are
  * SQL-standard, so Derby (tests) and Postgres (deploys) map alike.
  */
final class UniqueKeyDbException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)
final class ForeignKeyDbException(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

object Warehouse {

  val PartitionColumn = "tdei_dataset_id"

  /** The tables that hold a partition per dataset: every table but the
    * response log.
    */
  val DatasetTables: Seq[String] =
    Layer.all.map(_.table).distinct ++ Seq("extension_file", "dataset", "stats")

  /** A fixed set of lock stripes: publishes of one (root, dataset id)
    * take the same one.
    */
  private val locks = Array.fill(64)(new Object)

  private def lockOf(root: String, datasetId: String): AnyRef =
    locks(Math.floorMod((root, datasetId).##, locks.length))

  /** `<base>/content_<table>/tdei_dataset_id=<id>`, the id escaped as
    * Spark escapes partition values (an empty id is the default
    * partition).
    */
  def partitionDir(base: String, table: String, datasetId: String): String =
    s"$base/content_$table/${ExternalCatalogUtils.getPartitionPathString(PartitionColumn, datasetId)}"

  /** The columns a table's files hold: all but the partition column, all
    * nullable, as Spark writes parquet.
    */
  def dataSchema(table: String): StructType =
    StructType(schemas(table).filter(_.name != PartitionColumn).map(_.copy(nullable = true)))

  /** Map constraint-violation SQLStates to typed errors. The original
    * SQLException may sit anywhere in a SparkException cause chain or a
    * BatchUpdateException nextException chain — walk both (bounded).
    */
  private[sinks] def mapDbErrors[T](body: => T): T =
    try body
    catch {
      case e: Throwable =>
        val seen = scala.collection.mutable.Set.empty[Throwable]
        def walk(t: Throwable): Option[java.sql.SQLException] = {
          if (t == null || seen.size > 50 || !seen.add(t)) return None
          t match {
            case s: java.sql.SQLException
                if s.getSQLState == "23505" || s.getSQLState == "23503" =>
              Some(s)
            case s: java.sql.SQLException =>
              walk(s.getNextException).orElse(walk(s.getCause))
            case other => walk(other.getCause)
          }
        }
        walk(e) match {
          case Some(s) if s.getSQLState == "23505" =>
            throw new UniqueKeyDbException("Duplicate", e)
          case Some(s) =>
            throw new ForeignKeyDbException(s.getMessage, e)
          case None => throw e
        }
    }

  private def featureSchema = StructType(Seq(
    StructField("feature", StringType),
    StructField("requested_by", StringType),
    StructField("tdei_dataset_id", StringType)))

  /** Fixed schema per table — mirrors the reference's `content.*` DDL
    * (INSERT column lists at `extract-load-service.ts:378,426,478,528`).
    * The partition column `tdei_dataset_id` is declared StringType.
    */
  val schemas: Map[String, StructType] = Map(
    "node" -> featureSchema,
    "edge" -> featureSchema,
    "zone" -> featureSchema,
    "extension_point" -> featureSchema,
    "extension_line" -> featureSchema,
    "extension_polygon" -> featureSchema,
    "extension" -> StructType(Seq(
      StructField("ext_file_id", IntegerType),
      StructField("feature", StringType),
      StructField("requested_by", StringType),
      StructField("tdei_dataset_id", StringType))),
    "extension_file" -> StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("file_meta", StringType),
      StructField("requested_by", StringType),
      StructField("tdei_dataset_id", StringType))),
    "dataset" -> StructType(
      Layer.routingOrder.flatMap(_.metaColumn).map(c => StructField(c, StringType)) :+
        StructField("tdei_dataset_id", StringType)),
    "stats" -> StructType(Seq(
      StructField("layer_table", StringType),
      StructField("geometry_type", StringType),
      StructField("feature_count", LongType),
      StructField("min_lon", DoubleType),
      StructField("max_lon", DoubleType),
      StructField("min_lat", DoubleType),
      StructField("max_lat", DoubleType),
      StructField("tdei_dataset_id", StringType))),
    "response" -> StructType(Seq(
      StructField("messageId", StringType),
      StructField("messageType", StringType),
      StructField("message", StringType),
      StructField("success", BooleanType),
      // translated HTTP status of the terminal error handler
      // (error-handler-middleware parity; 200 on success)
      StructField("status", IntegerType, nullable = false)))
  )
}
