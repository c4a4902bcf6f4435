package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sinks.{UniqueKeyDbException, Warehouse}

/** B1 JDBC sink parity: batched append through DataFrameWriter.jdbc
  * round-trips against an embedded Derby database (the same driver-level
  * batching path a Postgres target would use, minus
  * reWriteBatchedInserts which is Postgres-specific).
  */
class WarehouseJdbcSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val url = "jdbc:derby:memory:graftjdbc;create=true"

  test("writeFeaturesJdbc appends in batches and rounds trip") {
    import spark.implicits._
    val wh = new Warehouse(spark,
      Fixtures.scratchDir("graft-wh").toString)
    val rows = (1 to 2500).map(i =>
      (s"""{"type":"Feature","geometry":null,"properties":{"_id":"f$i"}}""",
        "user1", "ds_jdbc"))
    val df = rows.toDF("feature", "requested_by", "tdei_dataset_id")

    // batchsize 1000 → 3 executeBatch rounds on a single partition.
    // Derby maps StringType to CLOB (no equality support), so pin
    // VARCHAR DDL — the same knob a Postgres deploy would use for TEXT.
    val ddl = Map("createTableColumnTypes" ->
      "feature VARCHAR(2000), requested_by VARCHAR(100), tdei_dataset_id VARCHAR(100)")
    wh.writeFeaturesJdbc(url, "content_node", df.coalesce(1),
      batchSize = 1000, writerOptions = ddl)
    val back = wh.readJdbc(url, "content_node")
    assert(back.count() == 2500)
    assert(back.columns.sorted.toSeq ==
      Seq("feature", "requested_by", "tdei_dataset_id"))
    assert(back.filter(col("tdei_dataset_id") === "ds_jdbc").count() == 2500)

    // append semantics (a second load adds, like the reference's INSERTs)
    wh.writeFeaturesJdbc(url, "content_node",
      df.limit(10).coalesce(1), batchSize = 1000)
    assert(wh.readJdbc(url, "content_node").count() == 2510)
  }

  test("connection bound caps partitions at maxConnections") {
    import spark.implicits._
    val wh = new Warehouse(spark,
      Fixtures.scratchDir("graft-wh").toString)
    val df = (1 to 100).map(i => (s"f$i", "u", "ds"))
      .toDF("feature", "requested_by", "tdei_dataset_id")
      .repartition(8)
    wh.writeFeaturesJdbc(url, "content_capped", df, maxConnections = 2)
    assert(wh.readJdbc(url, "content_capped").count() == 100)
  }

  test("reloadFeaturesJdbc is idempotent per dataset; first load skips the pre-clean") {
    import spark.implicits._
    val wh = new Warehouse(spark,
      Fixtures.scratchDir("graft-wh").toString)
    val ddl = Map("createTableColumnTypes" ->
      "feature VARCHAR(2000), requested_by VARCHAR(100), tdei_dataset_id VARCHAR(100)")
    val df = (1 to 100).map(i => (s"f$i", "u", "ds_reload"))
      .toDF("feature", "requested_by", "tdei_dataset_id")
    // table doesn't exist yet: the pre-clean must no-op, not fail
    wh.reloadFeaturesJdbc(url, "content_reload", df.coalesce(1), "ds_reload",
      writerOptions = ddl)
    wh.reloadFeaturesJdbc(url, "content_reload", df.coalesce(1), "ds_reload")
    assert(wh.readJdbc(url, "content_reload").count() == 100)
    // the pre-clean is keyed: another dataset's rows survive
    val other = (1 to 5).map(i => (s"o$i", "u", "ds_other"))
      .toDF("feature", "requested_by", "tdei_dataset_id")
    wh.reloadFeaturesJdbc(url, "content_reload", other.coalesce(1), "ds_other")
    wh.reloadFeaturesJdbc(url, "content_reload", df.coalesce(1), "ds_reload")
    assert(wh.readJdbc(url, "content_reload").count() == 105)
  }

  test("unique-key violations surface as the typed error (SQLSTATE 23505)") {
    import spark.implicits._
    val wh = new Warehouse(spark,
      Fixtures.scratchDir("graft-wh").toString)
    val conn = java.sql.DriverManager.getConnection(url)
    try conn.createStatement().execute(
      "CREATE TABLE content_pk (id INT PRIMARY KEY, tdei_dataset_id VARCHAR(50))")
    finally conn.close()
    val dup = Seq((1, "ds"), (1, "ds")).toDF("id", "tdei_dataset_id")
    val ex = intercept[UniqueKeyDbException] {
      wh.writeFeaturesJdbc(url, "content_pk", dup.coalesce(1))
    }
    assert(ex.getMessage == "Duplicate")
  }

  test("foreign-key violations surface as the typed error (SQLSTATE 23503)") {
    import spark.implicits._
    val wh = new Warehouse(spark,
      Fixtures.scratchDir("graft-wh").toString)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE parent_ds (ds_id VARCHAR(50) PRIMARY KEY)")
      st.execute("CREATE TABLE child_feat (id INT, ds_id VARCHAR(50) " +
        "REFERENCES parent_ds(ds_id))")
    } finally conn.close()
    val orphan = Seq((1, "no_such_ds")).toDF("id", "ds_id")
    intercept[graft.sinks.ForeignKeyDbException] {
      wh.writeFeaturesJdbc(url, "child_feat", orphan.coalesce(1))
    }
  }
}
