package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, LoadResponse, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.streaming.QueueSubscription

/** S1 streaming intake: file-drop requests → foreachBatch →
  * processRequest, bounded concurrency, checkpointed at-least-once
  * resume, failure responses for bad requests.
  */
class QueueSubscriptionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def writeZip(): String =
    Fixtures.writeZip(Fixtures.scratchDir("graft-sub").resolve("sub.zip"),
      "nodes.geojson" -> Fixtures.featureCollection("", Iterator(
        """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0,3.0]},"properties":{"_id":"n1"}}"""))
    ).toString

  /** Atomically drop one request JSON into the watched dir (write to a
    * temp name, then move — the file source must never see half a file).
    */
  private def dropRequest(dir: Path, id: String, dataType: String,
      zipPath: String, datasetId: Option[String] = None): Unit =
    dropJson(dir, id,
      s"""{"messageId":"$id","messageType":"workflow",
         |"data":{"data_type":"$dataType","file_upload_path":"$zipPath",
         |"tdei_dataset_id":"${datasetId.getOrElse(id)}","user_id":"u1"}}""".stripMargin.replace("\n", ""))

  private def dropJson(dir: Path, name: String, json: String): Unit = {
    val tmp = Files.createTempFile(Fixtures.root, "req", ".json")
    Files.writeString(tmp, json)
    Files.move(tmp, dir.resolve(s"$name.json"))
  }

  private def runAvailable(sub: QueueSubscription): Unit = {
    val q = sub.start(Trigger.AvailableNow())
    q.awaitTermination()
  }

  test("e2e: drop 2 requests -> 2 response rows, tables loaded, failure isolated") {
    val reqDir = Fixtures.scratchDir("graft-req")
    val ckDir = Fixtures.scratchDir("graft-ck").toString
    val wh = Fixtures.scratchDir("graft-wh").toString
    val engine = new ExtractLoadEngine(spark, wh)
    val sub = new QueueSubscription(spark, engine, reqDir.toString, ckDir)

    dropRequest(reqDir, "ds_ok", "osw", writeZip())
    dropRequest(reqDir, "ds_bad", "flex", "/nonexistent.zip")
    runAvailable(sub)

    val resp = engine.warehouse.table("response").collect()
      .map(r => r.getAs[String]("messageId") -> r.getAs[Boolean]("success")).toMap
    assert(resp == Map("ds_ok" -> true, "ds_bad" -> false))
    // the valid load really landed
    assert(engine.warehouse.table("node").count() == 1)
    val failureMsg = engine.warehouse.table("response")
      .filter("success = false").collect()(0).getAs[String]("message")
    assert(failureMsg.startsWith("Error loading the data :"))

    // at-least-once resume: a third request after restart processes
    // exactly the new file (checkpoint excludes the first two)
    dropRequest(reqDir, "ds_ok2", "osw", writeZip())
    runAvailable(sub)
    val all = engine.warehouse.table("response").collect()
    assert(all.length == 3)
    assert(all.count(_.getAs[Boolean]("success")) == 2)
    assert(engine.warehouse.table("node").count() == 2) // ds_ok + ds_ok2
  }

  test("drain: in-flight batch completes with its response row, then the query terminates") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val reqDir = Fixtures.scratchDir("graft-req-drain")
    val ckDir = Fixtures.scratchDir("graft-ck-drain").toString
    val wh = Fixtures.scratchDir("graft-wh-drain").toString
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val engine = new ExtractLoadEngine(spark, wh) {
      override def processRequest(msg: QueueMessage): LoadResponse = {
        entered.countDown()
        release.await(30, TimeUnit.SECONDS)
        super.processRequest(msg)
      }
    }
    val sub = new QueueSubscription(spark, engine, reqDir.toString, ckDir)
    dropRequest(reqDir, "ds_drain", "osw", writeZip())
    val q = sub.start()
    assert(entered.await(30, TimeUnit.SECONDS), "batch never started")

    // Drain from another thread while the batch is mid-processing: it
    // must block until the handler finishes, not interrupt it.
    val drainer = new Thread(() => sub.drain())
    drainer.start()
    Thread.sleep(300)
    assert(q.isActive, "drain interrupted the in-flight batch")

    release.countDown()
    drainer.join(30000)
    assert(!drainer.isAlive, "drain did not return")
    assert(!q.isActive, "query still active after drain")
    assert(q.exception.isEmpty, s"drain surfaced ${q.exception}")
    val resp = engine.warehouse.table("response").collect()
    assert(resp.length == 1 && resp(0).getAs[Boolean]("success"),
      "in-flight batch's response row missing after drain")
  }

  test("a request without messageId neither stops the stream nor keeps the others from their response") {
    val reqDir = Fixtures.scratchDir("graft-req-noid")
    val wh = Fixtures.scratchDir("graft-wh-noid").toString
    val engine = new ExtractLoadEngine(spark, wh)
    val sub = new QueueSubscription(spark, engine, reqDir.toString,
      Fixtures.scratchDir("graft-ck-noid").toString)
    val zip = writeZip()
    dropRequest(reqDir, "ds_ok", "osw", zip)
    dropJson(reqDir, "no_id", s"""{"messageType":"workflow","data":{"data_type":"osw",""" +
      s""""file_upload_path":"$zip","tdei_dataset_id":"ds_noid","user_id":"u1"}}""")
    val q = sub.start(Trigger.AvailableNow())
    q.awaitTermination()
    assert(q.exception.isEmpty, q.exception)
    val resp = engine.warehouse.table("response").collect()
      .map(r => Option(r.getAs[String]("messageId")) -> r.getAs[Boolean]("success")).toSet
    assert(resp == Set(Some("ds_ok") -> true, None -> true), resp)
  }

  test("overlapping loads of one dataset id leave exactly one archive's rows in every table") {
    import org.apache.spark.sql.functions.col
    val n = 10000
    def point(id: String, i: Int) =
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[${i * 1e-4},47.0,1.0]},"properties":{"_id":"$id$i"}}"""
    def line(i: Int) =
      s"""{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,$i],[1,$i]]},"properties":{"_id":"e$i"}}"""
    def polygon(i: Int) =
      s"""{"type":"Feature","geometry":{"type":"Polygon","coordinates":[[[0,$i],[1,$i],[1,0],[0,$i]]]},"properties":{"_id":"z$i"}}"""
    val dir = Fixtures.scratchDir("graft-overlap")
    // archive a: nodes + edges; archive b: nodes + zones
    val archives = Map(
      "a" -> Fixtures.writeZip(dir.resolve("a.zip"),
        "nodes.geojson" -> Fixtures.featureCollection(""""name":"a"""", (0 until n).iterator.map(point("a", _))),
        "edges.geojson" -> Fixtures.featureCollection("", (0 until n).iterator.map(line))),
      "b" -> Fixtures.writeZip(dir.resolve("b.zip"),
        "nodes.geojson" -> Fixtures.featureCollection(""""name":"b"""", (0 until n).iterator.map(point("b", _))),
        "zones.geojson" -> Fixtures.featureCollection("", (0 until n).iterator.map(polygon))))
    val root = Fixtures.scratchDir("graft-wh-overlap")
    val engine = new ExtractLoadEngine(spark, root.toString)
    def rows(t: String) = engine.warehouse.table(t).filter(col("tdei_dataset_id") === "same")
    (0 until 2).foreach { round =>
      val reqDir = Fixtures.scratchDir("graft-req-overlap")
      val sub = new QueueSubscription(spark, engine, reqDir.toString,
        Fixtures.scratchDir("graft-ck-overlap").toString, maxConcurrentMessages = 2)
      archives.foreach { case (a, zip) => dropRequest(reqDir, s"$a$round", "osw", zip.toString, Some("same")) }
      runAvailable(sub)
      val resp = engine.warehouse.table("response").filter(col("messageId").endsWith(s"$round")).collect()
        .map(r => r.getAs[String]("messageId") -> r.getAs[String]("message")).toMap
      assert(resp == Map(s"a$round" -> "Data loaded successfully", s"b$round" -> "Data loaded successfully"), resp)

      val datasets = rows("dataset").collect()
      assert(datasets.length == 1, datasets.toSeq)
      val winner = if (datasets(0).getAs[String]("node_info") == """{"name":"a"}""") "a" else "b"
      val nodeIds = rows("node").collect().map(_.getAs[String]("feature").split("\"_id\":\"")(1).take(1))
      assert(nodeIds.length == n && nodeIds.forall(_ == winner), (round, winner, nodeIds.distinct.toSeq))
      val (edges, zones) = if (winner == "a") (n, 0) else (0, n)
      assert(rows("edge").count() == edges && rows("zone").count() == zones, (round, winner))
      val statsTables = rows("stats").collect().map(_.getAs[String]("layer_table")).toSet
      assert(statsTables == (if (winner == "a") Set("node", "edge") else Set("node", "zone")), statsTables)
      val staging = Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("_staging")).toList
      assert(staging.isEmpty, staging)
    }
  }

  test("concurrency is bounded by maxConcurrentMessages") {
    val wh = Fixtures.scratchDir("graft-wh").toString
    val inFlight = new AtomicInteger(0)
    val maxSeen = new AtomicInteger(0)
    val engine = new ExtractLoadEngine(spark, wh) {
      override def processRequest(msg: QueueMessage): LoadResponse = {
        val now = inFlight.incrementAndGet()
        maxSeen.getAndUpdate(m => math.max(m, now))
        try { Thread.sleep(120); LoadResponse(msg.messageId, msg.messageType, "ok", success = true) }
        finally inFlight.decrementAndGet()
      }
    }
    val sub = new QueueSubscription(spark, engine, "/unused", "/unused",
      maxConcurrentMessages = 2)
    val msgs = (1 to 5).map(i => QueueMessage(s"m$i", "wf",
      ExtractLoadRequest("osw", "/x.zip", s"ds$i", "u")))
    sub.processAll(msgs)
    assert(maxSeen.get() == 2, s"max in-flight ${maxSeen.get()}")
  }
}
