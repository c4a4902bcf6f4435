package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, Layer, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.sources.GeoJsonZipSource

/** End-to-end pipeline spec: ZIP fixture (clone of the reference's mock
  * archive, `test/common/mock-utils.ts:13-17`) → source → geometry →
  * tables, plus the orchestration edge cases from
  * `test/unit/extract-load-service.test.ts` (zero-geojson error, late
  * headers, empty FeatureCollection metadata fallback, idempotent
  * reload, unimplemented data types).
  */
class ExtractLoadEngineSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def fc(features: Seq[String], header: Map[String, String] = Map.empty,
      lateHeader: Map[String, String] = Map.empty): Iterator[String] = {
    def members(m: Map[String, String]) = m.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    Fixtures.featureCollection(members(header), features.iterator, members(lateHeader))
  }

  private def point(x: Double, y: Double, z: Option[Double], id: String): String =
    s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$x,$y${z.map("," + _).getOrElse("")}]},"properties":{"_id":"$id"}}"""

  /** `bytes` as an archive file of its own. */
  private def onDisk(bytes: Array[Byte]): String =
    Files.write(Fixtures.scratchDir("graft-test").resolve("a.zip"), bytes).toString

  private def mkEngine(): ExtractLoadEngine =
    new ExtractLoadEngine(spark,
      Fixtures.scratchDir("graft-wh").toString)

  private val canonicalZip = Fixtures.zipBytes(
    "nodes.geojson" -> fc(
      Seq(point(-122.1, 47.6, Some(123.45), "n1"),
          point(-122.2, 47.7, Some(0.0), "n2"),
          point(-122.3, 47.8, None, "n3")),
      header = Map("name" -> "\"node-file\"")),
    "edges.geojson" -> fc(
      Seq("""{"type":"Feature","geometry":{"type":"LineString","coordinates":[[-122.1,47.6,100.0],[-122.2,47.7,200.0]]},"properties":{"_id":"e1"}}"""),
      lateHeader = Map("source" -> "\"test-suite\"", "rev" -> "7")),
    "zones.geojson" -> fc(
      Seq("""{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0.0,0.0,9.0],[1.0,0.0,9.0],[1.0,1.0,9.0],[0.0,0.0,9.0]]]},"properties":{"_id":"z1"}}""")),
    "__MACOSX/junk.geojson" -> Iterator("not json at all"),
    "readme.txt" -> Iterator("ignore me"),
    "curbs.geojson" -> fc(
      Seq(point(1.0, 2.0, Some(5.0), "c1")),
      header = Map("name" -> "\"curb-file\""))
  )

  private def request(path: String, id: String = "ds1") = QueueMessage(
    s"$id|job", "workflow", ExtractLoadRequest("osw", path, id, "user123"))

  test("source: entry filter, routing, features and late headers") {
    import spark.implicits._
    val recs = GeoJsonZipSource.expandZip("z", canonicalZip).toSeq
    assert(recs.map(_.entry_path).distinct ==
      Seq("nodes.geojson", "edges.geojson", "zones.geojson", "curbs.geojson"))
    assert(recs.count(_.kind == "feature") == 6) // 3 nodes + 1 edge + 1 zone + 1 curb
    val edgeHeader = recs.find(r => r.entry_path == "edges.geojson" && r.kind == "header").get
    // late header keys captured; number captured as number; type excluded
    assert(edgeHeader.header == """{"source":"test-suite","rev":7}""")
    assert(recs.find(_.entry_path == "curbs.geojson").get.layer == "extension")
  }

  test("e2e: canonical archive loads all tables with geometry rules applied") {
    val engine = mkEngine()
    val resp = engine.processRequest(request(onDisk(canonicalZip)))
    assert(resp.success, resp.message)
    assert(resp.message == "Data loaded successfully")

    val nodes = engine.warehouse.table("node").collect()
      .map(_.getAs[String]("feature"))
    assert(nodes.length == 3)
    val n1 = nodes.find(_.contains("\"n1\"")).get
    assert(n1.contains(""""coordinates":[-122.1,47.6]"""))
    assert(n1.contains(""""ext:elevation":123.45"""))
    val n2 = nodes.find(_.contains("\"n2\"")).get
    assert(!n2.contains("ext:elevation")) // zero Z skipped

    val edges = engine.warehouse.table("edge").collect()
    assert(edges.length == 1)
    assert(edges(0).getAs[String]("feature")
      .contains("""[[-122.1,47.6],[-122.2,47.7]]"""))

    // extension layer: curbs.geojson → content_extension with ext_file_id
    val ext = engine.warehouse.table("extension").collect()
    assert(ext.length == 1 && ext(0).getAs[Int]("ext_file_id") == 1)
    val extFile = engine.warehouse.table("extension_file").collect()
    assert(extFile.length == 1)
    assert(extFile(0).getAs[String]("name") == "curbs")
    assert(extFile(0).getAs[String]("file_meta") == """{"name":"curb-file"}""")

    // dataset metadata: node_info / event_info / zone_info populated
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"node-file"}""")
    assert(ds.getAs[String]("event_info") == """{"source":"test-suite","rev":7}""")
    assert(ds.getAs[String]("zone_info") == "{}")
    assert(ds.getAs[String]("ext_point_info") == null)

    // stats
    val stats = engine.warehouse.table("stats").collect()
    val nodeStat = stats.find(_.getAs[String]("layer_table") == "node").get
    assert(nodeStat.getAs[Long]("feature_count") == 3)
    assert(nodeStat.getAs[String]("geometry_type") == "Point")

    // response log
    assert(engine.warehouse.table("response").collect().length == 1)
  }

  test("e2e: reload is idempotent and drops stale layers") {
    val engine = mkEngine()
    assert(engine.processRequest(request(onDisk(canonicalZip))).success)
    assert(engine.processRequest(request(onDisk(canonicalZip))).success)
    assert(engine.warehouse.table("node").count() == 3) // not doubled

    // reload with fewer layers → stale edge rows for ds1 are gone
    val smaller = Fixtures.zipBytes("nodes.geojson" -> fc(Seq(point(1, 2, None, "n9"))))
    assert(engine.processRequest(request(onDisk(smaller))).success)
    assert(engine.warehouse.table("node").count() == 1)
    import org.apache.spark.sql.functions.col
    assert(!engine.warehouse.tableExists("edge") ||
      engine.warehouse.table("edge").filter(col("tdei_dataset_id") === "ds1").count() == 0)
  }

  test("zero .geojson entries → failure response with reference message") {
    val engine = mkEngine()
    val resp = engine.processRequest(
      request(onDisk(Fixtures.zipBytes("readme.txt" -> Iterator("x"), "__MACOSX/a.geojson" -> Iterator("y")))))
    assert(!resp.success)
    assert(resp.message ==
      "Error loading the data : No valid .geojson files found in dataset archive.")
  }

  test("empty FeatureCollection still writes metadata (insert([]) fallback)") {
    val engine = mkEngine()
    val z = Fixtures.zipBytes("points.geojson" -> fc(Seq.empty, header = Map("name" -> "\"empty\"")))
    assert(engine.processRequest(request(onDisk(z))).success)
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("ext_point_info") == """{"name":"empty"}""")
    assert(!engine.warehouse.tableExists("extension_point"))
  }

  test("flex/pathways → Method not implemented failure") {
    val engine = mkEngine()
    val resp = engine.processRequest(QueueMessage("m", "w",
      ExtractLoadRequest("flex", "/nope.zip", "ds2", "u")))
    assert(!resp.success && resp.message.contains("Method not implemented."))
    assert(resp.status == 500)
  }

  test("e2e: typed DB failures publish the reference's translated response") {
    // a unique-key violation during the load must flow through the
    // terminal error translation (ErrorMapping.toResponse, the
    // error-handler-middleware parity) and publish the reference's
    // 400/"already exists" form — not a generic 500
    val engine = new ExtractLoadEngine(spark,
      Fixtures.scratchDir("graft-wh").toString) {
      override def processOswDataset(msg: QueueMessage): Unit =
        throw new graft.sinks.UniqueKeyDbException("record_id_unique", null)
    }
    val resp = engine.processRequest(request("/ignored.zip"))
    assert(!resp.success)
    assert(resp.status == 400)
    assert(resp.message ==
      "Error loading the data : Input with value 'record_id_unique' already exists.")
    // …and the PUBLISHED row (response table) carries the same typed form
    val row = engine.warehouse.table("response").collect()(0)
    assert(row.getAs[Int]("status") == 400)
    assert(row.getAs[String]("message").contains("already exists"))
    // foreign-key form: 400 with the constraint message
    val engine2 = new ExtractLoadEngine(spark,
      Fixtures.scratchDir("graft-wh").toString) {
      override def processOswDataset(msg: QueueMessage): Unit =
        throw new graft.sinks.ForeignKeyDbException("dataset_fk", null)
    }
    val resp2 = engine2.processRequest(request("/ignored.zip"))
    assert(resp2.status == 400 && resp2.message ==
      "Error loading the data : No reference found for the constraint 'dataset_fk' in the system.")
    // a success publishes status 200
    val ok = mkEngine()
    val okResp = ok.processRequest(request(onDisk(canonicalZip)))
    assert(okResp.success && okResp.status == 200)
  }

  test("health ping answers the reference's exact body on a live session") {
    // health-controller.ts:12-21 parity: the probe proves the scheduler
    // still answers and returns the verbatim body
    assert(graft.service.Health.ping(spark) == "I'm healthy !!")
  }

  test("source reads a directory / glob of archives, one task stream each") {
    import spark.implicits._
    val dir = Fixtures.scratchDir("graft-multi")
    Seq("a", "b", "c").foreach { n =>
      Fixtures.writeZip(dir.resolve(s"$n.zip"),
        s"${n}_nodes.geojson" -> fc(Seq(point(1, 2, None, s"$n-id"))))
    }
    // directory form
    val recs = GeoJsonZipSource.read(spark, dir.toString).collect()
    assert(recs.map(_.zip_path).distinct.length == 3)
    assert(recs.count(_.kind == "feature") == 3)
    // glob form
    val globbed = GeoJsonZipSource.read(spark, s"$dir/*.zip").collect()
    assert(globbed.count(_.kind == "header") == 3)
    // missing path → FileNotFoundException (engine turns it into a
    // failure response)
    intercept[java.io.FileNotFoundException] {
      GeoJsonZipSource.read(spark, s"$dir/nothing-*.zip")
    }
  }

  test("last entry per layer wins for dataset metadata") {
    val engine = mkEngine()
    val z = Fixtures.zipBytes(
      "a_nodes.geojson" -> fc(Seq(point(1, 2, None, "a")), header = Map("name" -> "\"first\"")),
      "b_nodes.geojson" -> fc(Seq(point(3, 4, None, "b")), header = Map("name" -> "\"second\"")))
    assert(engine.processRequest(request(onDisk(z))).success)
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"second"}""")
    assert(engine.warehouse.table("node").count() == 2)
  }

  test("stage timings are wall intervals: overlapping writes never exceed the load") {
    val engine = mkEngine()
    assert(engine.processRequest(request(onDisk(canonicalZip))).success)
    val t = engine.lastStageTimings
    assert(Seq("parse_count", "write_features", "metadata", "stats",
      "process_files").forall(t.contains), t)
    assert(t("write_features") <= t("process_files"), t)
    assert(t("metadata") <= t("process_files") && t("stats") <= t("process_files"), t)
  }

  test("a failed write: translated failure, every other write returned, nothing leaked") {
    // content_zone as a plain file: the publish cannot create the zone
    // partition, after it has already replaced the node partition
    val root = Fixtures.scratchDir("graft-wh")
    Files.writeString(root.resolve("content_zone"), "not a table")
    val engine = new ExtractLoadEngine(spark, root.toString)
    val resp = engine.processRequest(request(onDisk(canonicalZip)))
    assert(!resp.success && resp.status == 500, resp)
    assert(resp.message.startsWith("Error loading the data : ") &&
      resp.message.contains("content_zone"), resp.message)
    val published = engine.warehouse.table("response").collect()
    assert(published.length == 1 && !published(0).getAs[Boolean]("success"))
    // the publish failed at zone: the dataset is left empty, not partial
    assert(datasetRows(engine, "ds1").isEmpty, datasetRows(engine, "ds1"))
    val staging = Files.walk(root).iterator().asScala
      .filter(_.getFileName.toString.startsWith(".spark-staging-")).toList
    assert(staging.isEmpty, staging)
    assert(stagingLeft(root.toString).isEmpty)
    val writers = Thread.getAllStackTraces.keySet.asScala
      .filter(_.getName.startsWith("extract-load"))
    writers.foreach(_.join(10000))
    assert(writers.forall(!_.isAlive), writers.map(_.getName))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("every job of a load runs in the caller's job group; one parse action") {
    val engine = mkEngine()
    val path = onDisk(canonicalZip)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
        tasks.add(e.stageInfos.map(_.numTasks).sum)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("load-under-test", "one canonical load")
      try assert(engine.processRequest(request(path)).success)
      finally sc.clearJobGroup()
      // the bus delivers events in order: once the marker job's start
      // arrives, every job of the load has been seen
      sc.setJobGroup("marker", "listener barrier")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("marker") && System.nanoTime() < deadline) Thread.sleep(10)
    } finally sc.removeSparkListener(listener)
    val load = groups.asScala.toList.takeWhile(_ != "marker")
    assert(load.forall(_ == "load-under-test"), load)
    // the parse job, whose tasks write the feature files; the metadata
    // files, the commit and the response append run no job
    assert(load.size == 1, load)
    // the parse action runs one task per .geojson entry
    assert(tasks.asScala.head == 4, tasks)
  }

  private def loadFresh(bytes: Array[Byte], id: String) = {
    val engine = mkEngine()
    (engine, engine.processRequest(request(onDisk(bytes), id)))
  }

  /** Dataset partitions of `id` under any content table of the engine. */
  private def partitionsOf(engine: ExtractLoadEngine, id: String) =
    Files.list(java.nio.file.Path.of(engine.warehouse.root)).iterator().asScala
      .map(_.resolve(s"tdei_dataset_id=$id")).filter(Files.exists(_)).toList

  /** Anything of the staging area left under a warehouse root. */
  private def stagingLeft(root: String) =
    Files.walk(java.nio.file.Path.of(root)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_staging")).toList

  /** Row counts of dataset `id` in the dataset tables that hold any; a
    * table that is a plain file holds none.
    */
  private def datasetRows(engine: ExtractLoadEngine, id: String): Map[String, Long] = {
    import org.apache.spark.sql.functions.col
    graft.sinks.Warehouse.DatasetTables
      .filterNot(t => Files.isRegularFile(java.nio.file.Path.of(engine.warehouse.tablePath(t))))
      .map(t => t -> engine.warehouse.table(t).filter(col("tdei_dataset_id") === id).count())
      .filter(_._2 > 0).toMap
  }

  test("a failed load leaves its dataset empty in every dataset table, whatever failed") {
    val noZones = Fixtures.zipBytes(
      "nodes.geojson" -> fc(Seq(point(1, 2, Some(3), "n1"))),
      "edges.geojson" -> fc(Seq(
        """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,0],[1,1]]},"properties":{"_id":"e1"}}""")),
      "curbs.geojson" -> fc(Seq(point(1, 2, None, "c1"))))
    val badCrc = {
      val stored = graft.operators.Zip.buildZip(Seq(("nodes.geojson",
        fc(Seq(point(1, 2, None, "n1"), point(3, 4, None, "n2"))).mkString.getBytes("UTF-8"), false)))
      stored(new String(stored, "ISO-8859-1").indexOf("\"n2\"") + 1) = 'm'
      stored
    }
    // valid archives whose nodes.geojson does not parse: the features
    // array ends after a whole feature, or the second feature is broken
    val cutArray = Fixtures.zipBytes("nodes.geojson" -> Iterator(
      """{"type":"FeatureCollection","features":[""" + point(1, 2, None, "n1")))
    val badFeature = Fixtures.zipBytes("nodes.geojson" -> Iterator(
      """{"type":"FeatureCollection","features":[""" + point(1, 2, None, "n1") +
        """,{"type":"Feature" "geometry":null,"properties":{"_id":"n2"}}]}"""))
    val cases = Seq(
      ("a parse failure", badCrc, "Error loading the data : "),
      ("a features array cut after a whole feature", cutArray, "Error loading the data : "),
      ("a malformed second feature", badFeature, "Error loading the data : "),
      ("no .geojson", Fixtures.zipBytes("readme.txt" -> Iterator("x")),
        "Error loading the data : No valid .geojson files found in dataset archive."),
      ("a publish failing midway", canonicalZip, "Error loading the data : "))
    cases.foreach { case (what, bytes, text) =>
      val engine = mkEngine()
      assert(engine.processRequest(request(onDisk(noZones))).success, what)
      assert(datasetRows(engine, "ds1").keySet == Set("node", "edge", "extension", "extension_file",
        "dataset", "stats"), what)
      if (what == "a publish failing midway")
        Files.writeString(java.nio.file.Path.of(engine.warehouse.tablePath("zone")), "not a table")
      val resp = engine.processRequest(request(onDisk(bytes)))
      assert(!resp.success && resp.status == 500 && resp.message.startsWith(text), (what, resp))
      assert(datasetRows(engine, "ds1").isEmpty, (what, datasetRows(engine, "ds1")))
      assert(stagingLeft(engine.warehouse.root).isEmpty, what)
    }
  }

  test("unreadable archives: the reference's no-geojson response") {
    // the first local header overwritten, as in a corrupt upload
    val corrupt = canonicalZip.clone()
    corrupt(0) = 'X'; corrupt(1) = 'X'
    val cases = Seq(
      "not a zip" -> "just some bytes, no archive".getBytes("UTF-8"),
      "tail cut off" -> canonicalZip.dropRight(10),
      "first local header overwritten" -> corrupt,
      "corrupt archive without geojson" -> {
        val b = Fixtures.zipBytes("readme.txt" -> Iterator("dataset"), "__MACOSX/._nodes.geojson" -> Iterator("{}"))
        b(0) = 'X'; b(1) = 'X'; b
      })
    cases.foreach { case (what, bytes) =>
      val (engine, resp) = loadFresh(bytes, "bad")
      assert(!resp.success && resp.status == 500, what)
      assert(resp.message ==
        "Error loading the data : No valid .geojson files found in dataset archive.", what)
      assert(partitionsOf(engine, "bad").isEmpty, what)
    }
  }

  test("a .geojson member that fails its CRC or does not inflate fails the load before any write") {
    val body = fc(Seq(point(1, 2, None, "n1"), point(3, 4, None, "n2"))).mkString
    // stored member: one character of a property changed, JSON still valid
    val stored = graft.operators.Zip.buildZip(Seq(
      ("nodes.geojson", body.getBytes("UTF-8"), false),
      ("edges.geojson", fc(Seq.empty).mkString.getBytes("UTF-8"), true)))
    val at = new String(stored, "ISO-8859-1").indexOf("\"n2\"")
    val badCrc = stored.clone()
    badCrc(at + 1) = 'm'
    // deflated member: the first block header claims the reserved type
    val deflated = graft.operators.Zip.buildZip(Seq(
      ("nodes.geojson", body.getBytes("UTF-8"), true)))
    val badDeflate = deflated.clone()
    badDeflate(30 + "nodes.geojson".length) = 0xFF.toByte
    Seq("CRC" -> badCrc, "deflate" -> badDeflate).foreach { case (what, bytes) =>
      val (engine, resp) = loadFresh(bytes, "broken")
      assert(!resp.success && resp.status == 500, what)
      assert(resp.message.startsWith("Error loading the data : "), resp.message)
      assert(partitionsOf(engine, "broken").isEmpty, what)
      assert(engine.warehouse.table("response").count() == 1, what)
      assert(stagingLeft(engine.warehouse.root).isEmpty, what)
    }
    // the unbroken archives load
    Seq(stored, deflated).foreach { b =>
      assert(loadFresh(b, "fine")._2.success)
    }
  }

  test("STORED and data-descriptor members load") {
    val bos = new ByteArrayOutputStream()
    val zos = new ZipOutputStream(bos)
    val nodes = fc(Seq(point(1, 2, Some(3), "n1"), point(4, 5, None, "n2"))).mkString.getBytes("UTF-8")
    val crc = new java.util.zip.CRC32()
    crc.update(nodes)
    val storedEntry = new ZipEntry("nodes.geojson")
    storedEntry.setMethod(ZipEntry.STORED)
    storedEntry.setSize(nodes.length.toLong)
    storedEntry.setCompressedSize(nodes.length.toLong)
    storedEntry.setCrc(crc.getValue)
    zos.putNextEntry(storedEntry)
    zos.write(nodes)
    zos.closeEntry()
    // a DEFLATED entry from ZipOutputStream carries a data descriptor
    zos.putNextEntry(new ZipEntry("edges.geojson"))
    zos.write(fc(Seq(
      """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,0,1],[1,1,2]]},"properties":{"_id":"e1"}}"""))
      .mkString.getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val bytes = bos.toByteArray
    val recs = GeoJsonZipSource.expandZip("z", bytes).toSeq
    assert(recs.filter(_.kind == "header").map(r => (r.entry_path, r.feature_count)) ==
      Seq("nodes.geojson" -> 2L, "edges.geojson" -> 1L))
    val engine = mkEngine()
    assert(engine.processRequest(request(onDisk(bytes))).success)
    assert(engine.warehouse.table("node").count() == 2)
    assert(engine.warehouse.table("edge").collect()(0).getAs[String]("feature")
      .contains("[[0,0],[1,1]]"))
  }

  test("entry_seq, extension ids and last-header-wins follow archive order") {
    val z = Fixtures.zipBytes(
      "readme.txt" -> Iterator("skip"),
      "ext/b_curbs.geojson" -> fc(Seq(point(1, 2, None, "b")), header = Map("name" -> "\"b\"")),
      "a_nodes.geojson" -> fc(Seq(point(1, 2, None, "a")), header = Map("name" -> "\"first\"")),
      "__MACOSX/._x.geojson" -> Iterator("{}"),
      "ext/a_ramps.geojson" -> fc(Seq(point(3, 4, None, "r")), header = Map("name" -> "\"a\"")),
      "b_nodes.geojson" -> fc(Seq(point(3, 4, None, "b")), header = Map("name" -> "\"second\"")))
    val headers = GeoJsonZipSource.expandZip("z", z).filter(_.kind == "header").toSeq
    assert(headers.map(h => (h.entry_seq, h.entry_path)) == Seq(
      0 -> "ext/b_curbs.geojson", 1 -> "a_nodes.geojson",
      2 -> "ext/a_ramps.geojson", 3 -> "b_nodes.geojson"))
    val path = onDisk(z)
    val read = GeoJsonZipSource.read(spark, path).collect()
    assert(read.filter(_.kind == "header").sortBy(_.entry_seq).map(_.entry_path).toSeq ==
      headers.map(_.entry_path))
    assert(read.map(r => (r.entry_path, r.entry_seq)).toSet ==
      GeoJsonZipSource.expandZip("z", z).map(r => (r.entry_path, r.entry_seq)).toSet)
    val engine = mkEngine()
    assert(engine.processRequest(request(path)).success)
    val files = engine.warehouse.table("extension_file").collect()
      .map(r => r.getAs[Int]("id") -> r.getAs[String]("name")).sortBy(_._1).toSeq
    assert(files == Seq(1 -> "b_curbs", 2 -> "a_ramps"))
    val ext = engine.warehouse.table("extension").collect()
      .map(r => r.getAs[Int]("ext_file_id") -> r.getAs[String]("feature").contains("\"r\"")).toSet
    assert(ext == Set(1 -> false, 2 -> true))
    val ds = engine.warehouse.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"second"}""")
  }

  test("concurrent loads on one engine: lastStageTimings is one whole load") {
    val engine = mkEngine()
    val busy = Fixtures.zipBytes(
      "nodes.geojson" -> fc((0 until 3000).map(i => point(i * 1e-3, 47.0, Some(1.0), s"n$i"))),
      "curbs.geojson" -> fc(Seq(point(1.0, 2.0, None, "c1"))))
    val paths = Seq("c1", "c2").map(id => id -> onDisk(busy))
    val stages = Seq("parse_count", "write_features", "metadata", "stats", "process_files")
    def timedLoad(id: String, path: String): Double = {
      val t0 = System.nanoTime()
      assert(engine.processRequest(request(path, id)).success)
      (System.nanoTime() - t0) / 1e9
    }
    val alone = (0 until 2).map(_ => timedLoad("c0", paths.head._2)).last
    (0 until 3).foreach { _ =>
      // the second load starts halfway through the first and ends after it
      val walls = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
      val threads = paths.zipWithIndex.map { case ((id, path), i) =>
        val t = new Thread(() => {
          Thread.sleep((i * alone * 500).toLong)
          walls.add(timedLoad(id, path))
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val t = engine.lastStageTimings
      assert(t.keySet == stages.toSet, t)
      assert(stages.forall(s => t(s) <= t("process_files")), t)
      // one load's own interval, not one that spans both loads
      assert(t("process_files") <= walls.asScala.max, (t, walls))
    }
  }

  /** The stats aggregate the engine ran before the stats were folded
    * into the parse: a JSON-path lookup of the geometry type and a regex
    * over the coordinates text for the anchor.
    */
  private def referenceStats(rows: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val coords = get_json_object(col("feature"), "$.geometry.coordinates")
    val num = "[-+0-9.eE]+"
    val lon = regexp_extract(coords, s"^\\[+\\s*($num)", 1).try_cast("double")
    val lat = regexp_extract(coords, s"^\\[+\\s*$num\\s*,\\s*($num)", 1).try_cast("double")
    rows
      .select(col("layer_table"),
        get_json_object(col("feature"), "$.geometry.type").as("geometry_type"),
        lon.as("__lon"), lat.as("__lat"))
      .groupBy(col("layer_table"), col("geometry_type"))
      .agg(count(lit(1)).as("feature_count"),
        min(col("__lon")).as("min_lon"), max(col("__lon")).as("max_lon"),
        min(col("__lat")).as("min_lat"), max(col("__lat")).as("max_lat"))
      .collect().toSet
  }

  private val oddFeatures: Seq[String] = {
    def f(geometry: String) = s"""{"type":"Feature","geometry":$geometry,"properties":{}}"""
    def g(tpe: String, coords: String) = f(s"""{"type":$tpe,"coordinates":$coords}""")
    val huge = "1" + "0" * 400
    Seq(
      g("\"Point\"", "[1.5e-7,2E+3]"), g("\"Point\"", "[-3,4]"), g("\"Point\"", "[7.25,-8,9]"),
      g("\"Point\"", "\"[5,6]\""), g("\"Point\"", "\"[ 1e3 , x ]\""), g("\"Point\"", "\"abc\""),
      g("\"Point\"", "true"), g("\"Point\"", "null"), g("\"Point\"", "12"),
      g("\"Point\"", "{\"a\":[1,2]}"), g("\"Point\"", "[\"1\",\"2\"]"),
      g("\"Point\"", "[true,1]"), g("\"Point\"", "[null,2]"), g("\"Point\"", "[2,null]"),
      g("\"LineString\"", "[[],[1,2]]"), g("\"LineString\"", "[1,[2]]"),
      g("\"LineString\"", "[[[[7,8]]]]"), g("\"LineString\"", "[7]"),
      g("\"LineString\"", "[]"), g("\"LineString\"", "[[0.5,1e-9],[2,3]]"),
      g("\"Point\"", "[1e400,2]"), g("\"Point\"", "[1,1e400]"), g("\"Point\"", "[-1e400,3]"),
      g("\"Point\"", s"[$huge,5]"), g("\"Point\"", s"[6,-$huge]"),
      f("null"), f("[1,2]"), f("\"Point\""), """{"type":"Feature","properties":{}}""",
      g("5", "[1,2]"), g("1.5", "[3,4]"), g("true", "[5,6]"), g("null", "[7,8]"),
      g("{\"a\":1}", "[9,10]"), g("[\"x\",2]", "[11,12]"), g("1e400", "[13,14]"),
      g("\"P\\u00f6int\"", "[15,16]"), """{"type":"Feature","geometry":{"coordinates":[17,18]}}""",
      "5", "[1,2]", "\"just a string\"")
  }

  test("stats folded into the parse match the SQL aggregate over the stored features") {
    import spark.implicits._
    val z = Fixtures.zipBytes(
      "a_nodes.geojson" -> fc(oddFeatures),
      "edges.geojson" -> fc(oddFeatures.reverse),
      "b_nodes.geojson" -> fc(Seq(point(-170, -80, Some(1), "x"), point(170, 80, None, "y"))),
      "ext/curbs.geojson" -> fc(oddFeatures.take(12)))
    def rowsOf(parts: Seq[(String, graft.functions.GeoFunctions.GeometryStats)]) =
      graft.functions.GeoFunctions.GeometryStats
        .fold(parts.map { case (t, s) => (t, s.geometry_type) -> s })
        .map { case ((t, _), s) =>
          def v(o: Option[Double]): Any = o.getOrElse(null)
          org.apache.spark.sql.Row(t, s.geometry_type, s.feature_count,
            v(s.min_lon), v(s.max_lon), v(s.min_lat), v(s.max_lat))
        }
        .toSet
    val table = Layer.all.map(l => l.name -> l.table).toMap
    Seq(true, false).foreach { transform =>
      val recs = GeoJsonZipSource.expandZip("z", z, transform).toSeq
      val folded = rowsOf(recs.filter(_.kind == "header")
        .flatMap(h => h.stats.map(table(h.layer) -> _)))
      val reference = referenceStats(recs.filter(_.kind == "feature")
        .map(r => (table(r.layer), r.feature)).toDF("layer_table", "feature"))
      assert(folded == reference, s"transform=$transform")
    }
    // the load's stats table, and a refresh from the stored tables
    val engine = mkEngine()
    assert(engine.processRequest(request(onDisk(z), "odd")).success)
    val stored = Seq("node", "edge", "extension").map { t =>
      engine.warehouse.table(t).select(org.apache.spark.sql.functions.lit(t).as("layer_table"),
        $"feature")
    }.reduce(_ union _)
    val reference = referenceStats(stored)
    def statsTable = engine.warehouse.table("stats").drop("tdei_dataset_id").collect().toSet
    assert(statsTable == reference)
    assert(reference.size > 20)
    engine.updateStats("odd")
    assert(statsTable == reference)
  }
}
