package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.model.{ExtractLoadRequest, QueueMessage}
import graft.service.ExtractLoadEngine
import graft.sources.GeoJsonZipSource

/** The fixture kit: scratch directories under one root, the seeded hash
  * the synthetic generators share, and the OSW archive writer.
  */
class FixturesSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def under(root: Path, dir: String): Boolean = {
    val p = Path.of(dir).toAbsolutePath.normalize
    p.startsWith(root.toAbsolutePath.normalize) && p != root
  }

  test("withScratch deletes its directory on return and when the body throws") {
    var kept: Path = null
    val n = Fixtures.withScratch("ws") { dir =>
      kept = dir
      Files.createDirectories(dir.resolve("a/b"))
      Files.writeString(dir.resolve("a/b/f.txt"), "x")
      7
    }
    assert(n == 7 && !Files.exists(kept))

    val e = intercept[IllegalStateException] {
      Fixtures.withScratch("ws") { dir =>
        kept = dir
        Files.writeString(dir.resolve("f.txt"), "x")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom" && !Files.exists(kept))
    assert(Files.isDirectory(Fixtures.root))
  }

  test("every scratch directory, the query set's fixtures included, lies under the one root") {
    val sf = "/root/testdata/sf0.001"
    val dirs = Seq(Fixtures.scratchDir("a").toString, Fixtures.scratchDir("a").toString,
      SparkEntry.zipShardDir(spark, sf), SparkEntry.tarShardDir(spark, sf),
      SparkEntry.ingestWarehouse(spark, sf))
    assert(dirs.distinct.size == dirs.size, dirs)
    dirs.foreach(d => assert(under(Fixtures.root, d), d))
    assert(Files.list(Path.of(SparkEntry.zipShardDir(spark, sf))).count() == 64)
  }

  test("a kit-written archive loads through the engine with its per-layer counts") {
    def point(i: Int) =
      s"""{"type":"Feature","geometry":{"type":"Point","coordinates":[$i.5,2.5,3]},"properties":{"_id":"p$i"}}"""
    def line(i: Int) =
      s"""{"type":"Feature","geometry":{"type":"LineString","coordinates":[[0,0,1],[$i,1,2]]},"properties":{"_id":"l$i"}}"""
    val dir = Fixtures.scratchDir("kit-load")
    val zip = Fixtures.writeZip(dir.resolve("osw.zip"),
      "nodes.geojson" -> Fixtures.featureCollection(""""name":"n"""", Iterator.range(0, 250).map(point)),
      "edges.geojson" -> Fixtures.featureCollection("", Iterator.range(0, 40).map(line),
        lateHeader = """"source":"late""""),
      "ext/curbs.geojson" -> Fixtures.featureCollection("", Iterator.range(0, 3).map(point)),
      "readme.txt" -> Iterator("not a layer"))

    // every member is DEFLATED and carries a data descriptor (flag bit 3)
    val zf = new java.util.zip.ZipFile(zip.toFile)
    try {
      val entries = zf.entries()
      while (entries.hasMoreElements)
        assert(entries.nextElement().getMethod == java.util.zip.ZipEntry.DEFLATED)
    } finally zf.close()
    val bytes = Files.readAllBytes(zip)
    assert(bytes.length > 8 && (bytes(6) & 0x08) != 0)

    val engine = new ExtractLoadEngine(spark, dir.resolve("wh").toString)
    val resp = engine.processRequest(QueueMessage("kit|1", "wf",
      ExtractLoadRequest("osw", zip.toString, "kit", "u")))
    assert(resp.success, resp.message)
    val wh = engine.warehouse
    assert(wh.table("node").count() == 250)
    assert(wh.table("edge").count() == 40)
    assert(wh.table("extension").count() == 3)
    val ds = wh.table("dataset").collect()(0)
    assert(ds.getAs[String]("node_info") == """{"name":"n"}""")
    assert(ds.getAs[String]("event_info") == """{"source":"late"}""")
    val headers = GeoJsonZipSource.expandZip("z", bytes).filter(_.kind == "header")
      .map(h => h.entry_path -> h.feature_count).toSeq
    assert(headers == Seq("nodes.geojson" -> 250L, "edges.geojson" -> 40L,
      "ext/curbs.geojson" -> 3L))
  }

  test("mix64 keeps the values the synthetic generators were pinned with") {
    val pinned = Seq(
      0L -> 0L,
      1L -> -5451962507482445012L,
      -5L -> 5431930068122443671L,
      -7L -> 4818444927845109502L,
      -9L -> -1522092841097712548L,
      42L -> -9148929187392628276L,
      Long.MaxValue -> -6072754518692401686L,
      Long.MinValue -> -8108722261328812909L,
      0x9E3779B97F4A7C15L -> -7160610219483255062L)
    pinned.foreach { case (in, out) => assert(Fixtures.mix64(in) == out, in) }
  }
}
