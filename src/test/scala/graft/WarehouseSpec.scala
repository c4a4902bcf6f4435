package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, LoadResponse, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.sinks.Warehouse

/** The parquet side of the warehouse: staged files, the publish that
  * replaces a dataset with them, the lock-free response append, and the
  * schema the written files carry.
  */
class WarehouseSpec extends AnyFunSuite with BeforeAndAfterAll {

  // two attempts per task, so a failed attempt can be followed by one
  // that succeeds
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4,2]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def freshWarehouse() =
    new Warehouse(spark, Fixtures.scratchDir("graft-wh").toString)

  private def row(feature: String): InternalRow =
    InternalRow(UTF8String.fromString(feature), UTF8String.fromString("u"))

  private def features(wh: Warehouse, table: String, id: String): Set[String] =
    wh.table(table).filter(col("tdei_dataset_id") === id).collect()
      .map(_.getAs[String]("feature")).toSet

  private def filesUnder(dir: String): List[Path] =
    if (!Files.exists(Path.of(dir))) Nil
    else Files.walk(Path.of(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toList

  /** Entries of the staging area left under the warehouse root. */
  private def stagingLeft(wh: Warehouse): List[String] =
    Files.list(Path.of(wh.root)).iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("_staging")).toList

  test("commit publishes only the files the tasks returned, never a stray one") {
    val wh = freshWarehouse()
    val load = "load-1"
    val staged = wh.stageRows(load, "node", "ds", Seq(row("a"), row("b"))).toMap
    // a leftover of a failed attempt and a stray copy, in the same staged partition
    val src = Path.of(staged("node").head)
    Files.copy(src, src.resolveSibling("part-00000-1.snappy.parquet"))
    Files.copy(src, src.resolveSibling("stray.parquet"))
    wh.publish("ds", Seq("node"), staged)
    wh.discard(load)
    assert(wh.table("node").count() == 2)
    val published = filesUnder(wh.partitionPath("node", "ds"))
      .map(_.getFileName.toString).filterNot(_.endsWith(".crc"))
    assert(published == Seq(src.getFileName.toString), published)
    assert(stagingLeft(wh).isEmpty, stagingLeft(wh))

    // a returned file that vanished fails the publish, which leaves the dataset empty
    val again = wh.stageRows("load-2", "node", "ds", Seq(row("c"))).get._2
    val lost = Map("node" -> (again :+ s"${again.head}.missing"))
    val e = intercept[java.io.IOException](wh.publish("ds", Seq("node"), lost))
    assert(e.getMessage.contains("missing"), e.getMessage)
    wh.discard("load-2")
    assert(features(wh, "node", "ds").isEmpty)
  }

  test("a failed task attempt's file is not published; the retried attempt's is") {
    val wh = freshWarehouse()
    val load = "retry"
    val dir = wh.stagedPartitionPath(load, "node", "ds")
    val writer = wh.writer("node")
    val files = wh.runJob(spark.sparkContext.parallelize(Seq(1, 2), 2)) { it =>
      val tc = TaskContext.get()
      val n = it.next()
      val f = writer.open(f"$dir/part-${tc.partitionId()}%05d-${tc.attemptNumber()}")
      f.write(InternalRow(UTF8String.fromString(s"f$n-${tc.attemptNumber()}"), UTF8String.fromString("u")))
      // the first attempt of task 1 leaves a whole file behind, then fails
      if (n == 2 && tc.attemptNumber() == 0) { f.close(); sys.error("first attempt fails") }
      f.close()
    }
    assert(filesUnder(dir).count(_.toString.endsWith(".parquet")) == 3)
    wh.publish("ds", Seq("node"), Map("node" -> files.toSeq))
    wh.discard(load)
    assert(features(wh, "node", "ds") == Set("f1-0", "f2-1"))
  }

  test("a publish that fails midway leaves the dataset empty in every table") {
    val wh = freshWarehouse()
    val tables = Seq("node", "zone", "edge", "stats")
    def stage(load: String, ts: Seq[String]) =
      ts.flatMap(t => wh.stageRows(load, t, "ds", Seq(row(t)))).toMap
    wh.publish("ds", tables, stage("old", Seq("node", "edge")))
    wh.discard("old")
    // another dataset's partition is left alone
    wh.publish("ds2", Seq("node"), stage("other", Seq("node")))
    wh.discard("other")
    // a table whose directory is a plain file cannot take a partition
    Files.writeString(Path.of(wh.tablePath("zone")), "not a table")
    val e = intercept[Exception](wh.publish("ds", tables, stage("new", Seq("node", "zone", "edge"))))
    wh.discard("new")
    assert(e.getMessage.contains("content_zone"), e.getMessage)
    // node was replaced before zone failed, edge not yet: both are emptied
    Seq("node", "edge").foreach(t => assert(features(wh, t, "ds").isEmpty, t))
    assert(features(wh, "node", "ds2") == Set("node"))
    assert(stagingLeft(wh).isEmpty, stagingLeft(wh))
  }

  test("concurrent publishes of one dataset never mix: each replaces every table whole") {
    val wh = freshWarehouse()
    val tables = Seq("node", "edge", "zone")
    val layouts = Seq(Seq("node", "edge"), Seq("node", "zone"))
    (0 until 20).foreach { round =>
      val start = new java.util.concurrent.CyclicBarrier(2)
      val threads = layouts.zipWithIndex.map { case (ts, i) =>
        val t = new Thread(() => {
          val load = s"r$round-$i"
          val staged = ts.flatMap(t => wh.stageRows(load, t, "ds", Seq(row(s"$i")))).toMap
          start.await()
          try wh.publish("ds", tables, staged) finally wh.discard(load)
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val held = tables.map(t => t -> features(wh, t, "ds")).filter(_._2.nonEmpty)
      val winner = held.flatMap(_._2).distinct
      assert(winner.size == 1, (round, held))
      assert(held.map(_._1) == layouts(winner.head.toInt), (round, held))
    }
    assert(stagingLeft(wh).isEmpty, stagingLeft(wh))
  }

  test("a commit replaces the live partition and never nests the staged one in it") {
    val wh = freshWarehouse()
    (1 to 3).foreach { i =>
      val load = s"load-$i"
      wh.publish("ds", Seq("node"), wh.stageRows(load, "node", "ds", (1 to i).map(j => row(s"$i-$j"))).toMap)
      wh.discard(load)
      assert(features(wh, "node", "ds") == (1 to i).map(j => s"$i-$j").toSet)
      val nested = Files.walk(Path.of(wh.partitionPath("node", "ds"))).iterator().asScala
        .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("tdei_dataset_id=")).toList
      assert(nested.size == 1, nested)
    }
    // another dataset's partition is left alone
    wh.publish("ds2", Seq("node"), wh.stageRows("other", "node", "ds2", Seq(row("x"))).toMap)
    wh.discard("other")
    assert(features(wh, "node", "ds") == Set("3-1", "3-2", "3-3"))
  }

  test("a failed job returns once no task of it runs, so discarding leaves no staging") {
    val wh = freshWarehouse()
    val load = "failed"
    val dir = wh.stagingPath(load)
    val e = intercept[SparkException] {
      wh.runJob(spark.sparkContext.parallelize(Seq(1, 2), 2)) { it =>
        if (it.next() == 1) sys.error("entry 1 is broken")
        // a task that does not look for its kill flag and writes late
        Thread.sleep(1000)
        val p = Path.of(dir, "late", "file")
        Files.createDirectories(p.getParent)
        Files.writeString(p, "late")
      }
    }
    assert(e.getMessage.contains("entry 1 is broken"))
    wh.discard(load)
    // past the late write: had the job returned before its last task
    // ended, that write would have recreated the staging directory
    Thread.sleep(1500)
    assert(stagingLeft(wh).isEmpty, filesUnder(wh.root))
  }

  test("writeFeatures replaces exactly the partitions of its rows") {
    import spark.implicits._
    val wh = freshWarehouse()
    val first = Seq(("a1", "u", "A"), ("b1", "u", "B"), ("b2", "u", "B"))
      .toDF("feature", "requested_by", "tdei_dataset_id").repartition(2)
    wh.writeFeatures("node", first)
    assert(features(wh, "node", "A") == Set("a1") && features(wh, "node", "B") == Set("b1", "b2"))
    // columns in another order, and only dataset B
    wh.writeFeatures("node", Seq(("B", "b3", "u")).toDF("tdei_dataset_id", "feature", "requested_by"))
    assert(features(wh, "node", "A") == Set("a1") && features(wh, "node", "B") == Set("b3"))
    wh.writeFeatures("extension_file",
      Seq((1, "curbs", "{}", "u", "A")).toDF("id", "name", "file_meta", "requested_by", "tdei_dataset_id"))
    assert(wh.table("extension_file").collect().map(_.getAs[String]("name")).toSeq == Seq("curbs"))
    assert(stagingLeft(wh).isEmpty, stagingLeft(wh))
  }

  test("response appends need no lock: 2 threads x 10 give 20 rows, never a partial file") {
    import spark.implicits._
    val wh = freshWarehouse()
    wh.appendResponses(Seq(LoadResponse("seed", "w", "m", success = true)).toDF())
    @volatile var appending = true
    val seen = new ConcurrentLinkedQueue[Long]()
    val reader = new Thread(() => while (appending) seen.add(wh.table("response").count()))
    reader.start()
    val writers = (0 until 2).map { c =>
      // one thread appends frames, the other responses in hand
      val t = new Thread(() => (0 until 10).foreach { i =>
        val r = LoadResponse(s"m-$c-$i", "w", "m", success = c == 0)
        if (c == 0) wh.appendResponses(Seq(r).toDF()) else wh.appendResponses(Seq(r))
      })
      t.start(); t
    }
    writers.foreach(_.join())
    appending = false
    reader.join()
    // every read succeeded (a partial parquet file fails to read) and
    // never counted more rows than were appended
    assert(seen.asScala.forall(n => n >= 1 && n <= 21), seen)
    val rows = wh.table("response").collect()
    assert(rows.length == 21)
    assert(rows.map(_.getAs[String]("messageId")).toSet.size == 21)
    val hidden = Files.list(Path.of(wh.tablePath("response"))).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith(".") && !n.endsWith(".crc")).toList
    assert(hidden.isEmpty, hidden)
  }

  test("every table a load writes reads back with its fixed schema by inference") {
    def fc(features: String*) =
      s"""{"type":"FeatureCollection","name":"f","features":[${features.mkString(",")}]}"""
    def point(id: String) =
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[1.5,2.5,3]},"properties":{"_id":"$id"}}"""
    val names = Seq("nodes", "edges", "points", "lines", "polygons", "zones", "ext/curbs")
    val zip = graft.operators.Zip.buildZip(names.map(n =>
      (s"$n.geojson", fc(point(n)).getBytes("UTF-8"), true)))
    val file = Files.write(Fixtures.scratchDir("graft-schema").resolve("schema.zip"), zip)
    val engine = new ExtractLoadEngine(spark, Fixtures.scratchDir("graft-wh").toString)
    val resp = engine.processRequest(QueueMessage("m", "w",
      ExtractLoadRequest("osw", file.toString, "ds-schema", "u")))
    assert(resp.success, resp.message)
    val wh = engine.warehouse
    def shape(s: StructType): Seq[(String, DataType)] = s.fields.toSeq.map(f => f.name -> f.dataType)
    val tables = Warehouse.schemas.keySet.toSeq.sorted
    assert(tables.forall(wh.tableExists), tables.filterNot(wh.tableExists))
    tables.foreach { t =>
      assert(shape(spark.read.parquet(wh.tablePath(t)).schema) == shape(Warehouse.schemas(t)), t)
    }
    // every data file keeps its checksum file and the default umask's mode
    val parquet = filesUnder(wh.root).filter(_.getFileName.toString.endsWith(".parquet"))
    assert(parquet.size == tables.size, parquet)
    parquet.foreach { f =>
      assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f)
      assert(PosixFilePermissions.toString(Files.getPosixFilePermissions(f)) == "rw-r--r--", f)
    }
  }
}
