package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sinks.Warehouse

/** Proof that bucketed tables deliver co-located joins: two tables
  * bucketed on the same key join with ZERO Exchange in the plan — the
  * shuffle happened once at write time instead of per query.
  */
class BucketedJoinSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val wh =
    Fixtures.scratchDir("graft-bucketed").toString

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.warehouse.dir", wh)
    // force a real SortMergeJoin (broadcast would hide the exchange
    // question entirely)
    .config("spark.sql.autoBroadcastJoinThreshold", "-1")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = {
    spark.sql("DROP TABLE IF EXISTS bucketed_facts")
    spark.sql("DROP TABLE IF EXISTS bucketed_dims")
    spark.stop()
  }

  test("equi-join of two same-bucketed tables runs with zero Exchange") {
    import spark.implicits._
    val w = new Warehouse(spark, wh + "/warehouse")
    val facts = (1L to 10000L).map(i => (i % 500, i, s"f$i"))
      .toDF("key", "val", "tag")
    val dims = (0L until 500L).map(i => (i, s"d$i")).toDF("key", "name")
    w.writeBucketedTable(facts, "bucketed_facts", Seq("key"), 8)
    w.writeBucketedTable(dims, "bucketed_dims", Seq("key"), 8)

    val joined = spark.table("bucketed_facts")
      .join(spark.table("bucketed_dims"), Seq("key"))
    assert(joined.count() == 10000L)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed join must not shuffle:\n$plan")
    // and the bucket-key aggregation is exchange-free too
    val agg = spark.table("bucketed_facts").groupBy($"key").count()
    agg.collect()
    val aplan = agg.queryExecution.executedPlan.toString
    assert(!aplan.contains("Exchange hashpartitioning"),
      s"bucket-key aggregation must not shuffle:\n$aplan")
  }
}
