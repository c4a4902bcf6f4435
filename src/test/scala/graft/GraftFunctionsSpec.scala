package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expressions._
import graft.operators.{Audio, Dedup, Similarity}

/** The native-expression binding: Column helpers resolve on the frame
  * they land in, whatever session is active, and every name in the
  * function table is callable from SQL text after `register` or
  * through `GraftExtensions`.
  */
class GraftFunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** Run `f` with `s` as the active and default session, then restore. */
  private def withSession[T](s: SparkSession)(f: => T): T = {
    SparkSession.setActiveSession(s)
    SparkSession.setDefaultSession(s)
    try f finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  private def helperRows(a: SparkSession): Seq[Seq[Row]] = {
    import a.implicits._
    val texts = Seq((1L, "the quick brown fox jumps over"),
      (2L, "der schnelle braune fuchs und die katze"), (3L, null))
      .toDF("id", "t")
    val bins = Seq((1L, Seq(Array[Byte](1, 2), Array[Byte](3))),
      (2L, Seq.empty[Array[Byte]])).toDF("id", "bs")
    val vecs = Seq((1L, Seq(1.0, 2.0), Seq(2.0, 4.0)),
      (2L, Seq(1.0, 0.0), Seq(0.0, 1.0))).toDF("id", "u", "v")
    val ids = a.range(4).toDF()
    def rows(df: DataFrame, c: Column): Seq[Row] =
      df.select(col("id"), c.as("r")).orderBy("id").collect().toSeq
    Seq(
      rows(texts, TextQualityExprs.langIdNative(col("t"))),
      rows(bins, BytesExprs.concatBinaries(col("bs"))),
      rows(ids, ImageExprs.dHash64Native(
        ImageExprs.lumaGridNative(col("id")))),
      rows(ids, Audio.audioFingerprint64(AudioExprs.energiesNative(
        AudioExprs.syntheticPcmNative(col("id"), 65 * 4, classed = true),
        lit(4), 65))),
      rows(texts, TextHashExprs.ngramsNative(col("t"), 2)),
      rows(vecs, Similarity.cosineNative(col("u"), col("v"))),
      rows(ids, BarrierExprs.evalOnce(col("id") * 3)))
  }

  private def semanticPairs(a: SparkSession): Seq[Row] = {
    import a.implicits._
    val docs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.99, 0.01)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(0.01, 0.99))).toDF("id", "v")
    val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cid", "cv")
    Dedup.semanticDupPairsJoin(docs, "id", "v", cents, threshold = 0.9)
      .orderBy("a", "b").collect().toSeq
  }

  test("Column helpers resolve on their frame's session, not the " +
      "active one") {
    val a = spark.newSession()
    val b = spark.newSession()
    // neither session knows any native name: nothing was registered
    // and neither carries GraftExtensions
    for (s <- Seq(a, b); n <- Seq("eval_once", "lang_id_native"))
      assert(!s.catalog.functionExists(n), s"$n already on a session")
    val (rowsB, pairsB) = withSession(b)((helperRows(a), semanticPairs(a)))
    val (rowsA, pairsA) = withSession(a)((helperRows(a), semanticPairs(a)))
    assert(rowsB == rowsA)
    assert(pairsB == pairsA)
    assert(pairsA.map(r => (r.getLong(0), r.getLong(1))) ==
      Seq((1L, 2L), (3L, 4L)))
    // the frames really computed something
    assert(rowsA.forall(_.exists(!_.isNullAt(1))))
    assert(!b.catalog.functionExists("eval_once"))
  }

  test("an unknown native name fails when the Column is built") {
    val e = intercept[IllegalArgumentException] {
      GraftFunctions("no_such_native", lit(1))
    }
    assert(e.getMessage.contains("no_such_native"))
  }

  private def assertAllResolve(s: SparkSession): Unit =
    GraftFunctions.names.foreach { n =>
      assert(s.sql(s"DESCRIBE FUNCTION $n").collect().nonEmpty, n)
    }

  test("register makes every table name SQL-callable; twice is harmless") {
    val s = spark.newSession()
    GraftFunctions.register(s)
    GraftFunctions.register(s)
    assertAllResolve(s)
    Seq("strip_z", "process_geometry", "first_elevation")
      .foreach(n => assert(s.catalog.functionExists(n), n))
    val r = s.sql(
      """SELECT simhash64_native('a b c') = simhash64_native('a b c') AS eq,
        |       might_contain_graft((SELECT bloom_filter_agg_graft(
        |         xxhash64(id), 100L, 1024L) FROM range(10)),
        |         xxhash64(3L)) AS hit""".stripMargin).collect()(0)
    assert(r.getBoolean(0) && r.getBoolean(1))
  }

  /** `f` on a new session that carries [[GraftExtensions]] and never
    * called `register`.
    */
  private def withExtensions[T](f: SparkSession => T): T = {
    spark // the shared context exists first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s = SparkSession.builder()
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s ne spark)
      f(s)
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("GraftExtensions injects every table name") {
    withExtensions(assertAllResolve)
  }

  test("an extensions-only session calls the geometry functions with " +
      "the values of a registered one") {
    val feature = """{"type":"Feature","geometry":{"type":"Point",""" +
      """"coordinates":[1.5,2.5,99.5]},"properties":{"_id":"n1"}}"""
    val query =
      s"""SELECT strip_z('[[[1.0,2.0,3.0],[4.0,5.0,6.0]]]') AS s,
         |       process_geometry('$feature', 'nodes') AS node,
         |       process_geometry('$feature', 'edges') AS edge,
         |       process_geometry('$feature', NULL) AS no_layer,
         |       first_elevation('[[1.0,2.0],[3.0,4.0,9.5]]') AS e""".stripMargin
    val registered = spark.newSession()
    GraftFunctions.register(registered)
    val expected = registered.sql(query).collect().toSeq
    val injected = withExtensions(_.sql(query).collect().toSeq)
    assert(injected == expected)
    val r = expected.head
    assert(r.getString(0) == "[[[1.0,2.0],[4.0,5.0]]]")
    assert(r.getString(1).contains("\"ext:elevation\":99.5"))
    assert(r.getString(2).contains("[1.5,2.5]") &&
      !r.getString(2).contains("ext:elevation"))
    assert(r.getString(3) == r.getString(2))
    assert(r.getDouble(4) == 9.5)
  }
}
