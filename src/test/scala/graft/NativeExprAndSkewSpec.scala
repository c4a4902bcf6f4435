package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expressions.ProcessGeometryExpr
import graft.functions.GeoFunctions
import graft.operators.SkewJoin

/** Native-codegen geometry expression and the skew-salting join. */
class NativeExprAndSkewSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val feature =
    """{"type":"Feature","geometry":{"type":"Point","coordinates":[1.5,2.5,99.5]},"properties":{"_id":"n1"}}"""

  test("native expression matches the UDF semantics, incl. nulls and errors") {
    import spark.implicits._
    val df = Seq(feature, "not json", null).toDF("f")
    val both = df.select(
      ProcessGeometryExpr.process_geometry_native(col("f"), lit("nodes")).as("native"),
      GeoFunctions.process_geometry(col("f"), lit("nodes")).as("viaUdf"))
      .collect()
    both.foreach(r => assert(r.get(0) == r.get(1), s"mismatch: $r"))
    assert(both(0).getString(0).contains("\"ext:elevation\":99.5"))
    assert(both(1).getString(0) == "not json")
    assert(both(2).isNullAt(0))
  }

  test("native expression stays inside WholeStageCodegen (UDF breaks it)") {
    // a real (parquet-backed) scan — a local Seq constant-folds to
    // LocalTableScan with no codegen stage to inspect
    val df = spark.read
      .parquet("/root/testdata/sf0.001/lineitem.parquet")
      .select(to_json(struct(
        lit("Feature").as("type"),
        struct(lit("Point").as("type"),
          array(col("l_quantity"), col("l_discount"), col("l_tax"))
            .as("coordinates")).as("geometry"))).as("f"))
    val native = df.select(
      ProcessGeometryExpr.process_geometry_native(col("f"), lit("nodes")))
    val plan = native.queryExecution.executedPlan.toString
    // '*(n)' is the WholeStageCodegen stage marker: the projection holding
    // our expression must carry it
    assert(plan.contains("*(1) Project [process_geometry_native"), plan)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(native.count() > 0) // and the generated code compiles + runs
  }

  test("SQL registration") {
    import spark.implicits._
    graft.expressions.GraftFunctions.register(spark)
    Seq(feature).toDF("f").createOrReplaceTempView("nf")
    val out = spark.sql(
      "SELECT process_geometry_native(f, 'nodes') AS o FROM nf")
      .collect()(0).getString(0)
    assert(out.contains("\"ext:elevation\":99.5"))
  }

  test("GraftExtensions injects the native function via spark.sql.extensions") {
    // spark.sql.extensions is a STATIC conf read at SparkContext
    // creation, so it can't be exercised on the suite's shared context;
    // builder.withExtensions applies the same class through the public
    // API. Clear active/default so getOrCreate builds a fresh session.
    spark // ensure the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .withExtensions(new graft.expressions.GraftExtensions)
        .getOrCreate()
      import s2.implicits._
      Seq(feature).toDF("f").createOrReplaceTempView("ext_nf")
      val out = s2.sql(
        "SELECT process_geometry_native(f, 'nodes') AS o FROM ext_nf")
        .collect()(0).getString(0)
      assert(out.contains("\"ext:elevation\":99.5"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("saltedEquiJoin equals the plain join, spreads a hot key") {
    import spark.implicits._
    // hot key: 900 of 1000 rows share key 7
    val big = (1 to 1000).map(i => (if (i <= 900) 7L else i.toLong, i))
      .toDF("k", "payload")
    val small = Seq((7L, "hot"), (5L, "cold"), (950L, "tail"))
      .toDF("k", "label")
    val plain = big.join(small, Seq("k")).select("k", "payload", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val salted = SkewJoin.saltedEquiJoin(big, small, "k", salt = 8)
      .select("k", "payload", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(salted == plain && plain.size == 901)

    val hotOnly = SkewJoin.saltedEquiJoinHotKeys(big, small, "k",
      hotKeys = Seq(7L), salt = 8)
      .select("k", "payload", "label")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(hotOnly == plain)

    // the salted big side really fans the hot key over multiple sub-keys
    val saltSpread = big.filter($"k" === 7L)
      .withColumn("__salt", pmod(hash(big.columns.map(col): _*), lit(8)))
      .select("__salt").distinct().count()
    assert(saltSpread > 1)
  }

  test("saltedEquiJoin rejects unsound join types; hot-key variant keeps null keys") {
    import spark.implicits._
    val big = Seq((Option(7L), 1), (Option(8L), 2), (Option.empty[Long], 3))
      .toDF("k", "payload")
    val small = Seq((7L, "hot")).toDF("k", "label")
    // right/full outer would emit unmatched small-side rows `salt` times
    val e = intercept[IllegalArgumentException] {
      SkewJoin.saltedEquiJoin(big, small, "k", salt = 4, joinType = "full_outer")
    }
    assert(e.getMessage.contains("inner/left-style"))
    // a null-key row never equi-matches, but a left join must still emit
    // it — it routes to the cold branch (a plain !isin filter dropped it)
    val out = SkewJoin.saltedEquiJoinHotKeys(big, small, "k",
      hotKeys = Seq(7L), salt = 4, joinType = "left")
    assert(out.count() == 3)
    assert(out.filter($"k".isNull).count() == 1)
  }
}
