package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expressions.{VectorHashExprs, VectorKernels}
import graft.operators.Similarity

/** Bit-exact parity between the native vector kernels
  * (`VectorKernels` / `VectorHashExprs`) and the HOF forms they
  * replaced in the similarity/ANN hot paths. The kernels feed the
  * oracle-checked integer-quantized queries (q_knn_exact_int,
  * q_knn_lsh_int), so the double fold order must be IDENTICAL — not
  * just approximately equal.
  *
  * Both eval paths are exercised: local Seq (interpreted nullSafeEval)
  * and parquet scan (whole-stage codegen).
  */
class VectorKernelParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** The HOF sqDist exactly as ivfTopK's nearestCentroids computed it. */
  private def hofSqDist(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    aggregate(zip_with(ad, bd, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
  }

  /** The HOF LSH signature fold exactly as `signaturesAllTables`
    * computed it before the kernel (literal plane matrix, one zip_with
    * of per-element product rows, element-wise aggregate, sign-bit
    * finish). `integer` switches to the Long-exact variant.
    */
  private def hofLshSig(vec: Column, planes: Int, tables: Int, dim: Int,
      integer: Boolean): Column = {
    val total = planes * tables
    if (integer) {
      val matrix = array((0 until dim).map { j =>
        array((0 until total).map { pi =>
          lit(VectorKernels.planeComponentInt(pi / planes, pi % planes, j))
        }: _*)
      }: _*)
      val products = zip_with(vec, matrix, (x, ps) => transform(ps, p => p * x))
      aggregate(products, array_repeat(lit(0L), total),
        (acc, v) => zip_with(acc, v, (a, b) => a + b),
        dots => transform(sequence(lit(0), lit(tables - 1)), t =>
          (0 until planes).map(i =>
            when(element_at(dots, t * planes + i + 1) >= 0, lit(1L << i))
              .otherwise(lit(0L)))
            .reduce((a: Column, b: Column) => a.bitwiseOR(b))))
    } else {
      val matrix = array((0 until dim).map { j =>
        array((0 until total).map { pi =>
          lit(VectorKernels.planeComponent(pi / planes, pi % planes, j))
        }: _*)
      }: _*)
      val vd = transform(vec, x => x.cast("double"))
      val products = zip_with(vd, matrix, (x, ps) => transform(ps, p => p * x))
      aggregate(products, array_repeat(lit(0.0), total),
        (acc, v) => zip_with(acc, v, (a, b) => a + b),
        dots => transform(sequence(lit(0), lit(tables - 1)), t =>
          (0 until planes).map(i =>
            when(element_at(dots, t * planes + i + 1) >= 0, lit(1L << i))
              .otherwise(lit(0L)))
            .reduce((a: Column, b: Column) => a.bitwiseOR(b))))
    }
  }

  private def assertParity(df: DataFrame, native: Column, hof: Column,
      clue: String): Unit = {
    val rows = df.select(native.as("n"), hof.as("h")).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1), s"$clue row $i: native=${r.get(0)} hof=${r.get(1)}")
    }
  }

  /** Paired embeddings (float arrays) off the real table: row i against
    * row i+1 — realistic magnitudes, both eval paths.
    */
  private def embPairs: DataFrame = {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = e.select(col("vec_id").as("ida"), col("embedding").as("a"))
    val b = e.select((col("vec_id") - 1).as("ida"), col("embedding").as("b"))
    a.join(b, Seq("ida"))
  }

  test("cosine + sqDist match HOF forms on real float embeddings (codegen)") {
    assertParity(embPairs, VectorHashExprs.cosineSim(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b")), "cosine/float")
    assertParity(embPairs, VectorHashExprs.sqDistNative(col("a"), col("b")),
      hofSqDist(col("a"), col("b")), "sqDist/float")
  }

  test("cosine matches HOF on integer-quantized vectors (the oracle path)") {
    val q = embPairs.select(
      transform(col("a"), x => round(x * 1000).cast("long")).as("a"),
      transform(col("b"), x => round(x * 1000).cast("long")).as("b"))
    assertParity(q, VectorHashExprs.cosineSim(col("a"), col("b")),
      Similarity.cosine(col("a"), col("b")), "cosine/long")
  }

  private def nullableArrayDf(cols: Seq[String], rows: Seq[Row]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(cols.map(c =>
      StructField(c, ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(rows).asJava), schema)
  }

  test("cosine/sqDist null contract: mismatch or null element → null, both forms") {
    val df = nullableArrayDf(Seq("a", "b"), Seq(
      Row(Seq(1.0, 2.0), Seq(3.0)),
      Row(Seq[Any](1.0, null), Seq(3.0, 4.0)),
      Row(Seq(1.0, 2.0), null)))
    val rows = df.select(
      VectorHashExprs.cosineSim(col("a"), col("b")).as("cn"),
      VectorHashExprs.sqDistNative(col("a"), col("b")).as("dn"),
      Similarity.cosine(col("a"), col("b")).as("ch"),
      hofSqDist(col("a"), col("b")).as("dh")).collect()
    rows.foreach(r => (0 until 4).foreach(i =>
      assert(r.isNullAt(i), s"expected all-null, got $r")))
  }

  test("zero-norm vector: both forms raise (ANSI divide-by-zero parity)") {
    import spark.implicits._
    val df = Seq((Array(0.0, 0.0), Array(1.0, 2.0))).toDF("a", "b")
    val eHof = intercept[Exception] {
      df.select(Similarity.cosine(col("a"), col("b"))).collect()
    }
    val eNat = intercept[Exception] {
      df.select(VectorHashExprs.cosineSim(col("a"), col("b"))).collect()
    }
    assert(eHof.toString.contains("DIVIDE_BY_ZERO"), eHof.toString)
    assert(eNat.toString.contains("DIVIDE_BY_ZERO"), eNat.toString)
  }

  test("LSH signatures match HOF on float embeddings and quantized ints") {
    val dim = 64
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("embedding").as("v"))
    for ((planes, tables) <- Seq((6, 4), (4, 2))) {
      assertParity(e,
        VectorHashExprs.lshSigNative(col("v"), planes, tables, dim),
        hofLshSig(col("v"), planes, tables, dim, integer = false),
        s"lshSig/float p=$planes t=$tables")
    }
    val qi = e.select(transform(col("v"), x => round(x * 1000).cast("long")).as("v"))
    assertParity(qi,
      VectorHashExprs.lshSigIntNative(col("v"), 6, 4, dim),
      hofLshSig(col("v"), 6, 4, dim, integer = true), "lshSig/int")
  }

  test("NaN element: dots go NaN, and NaN >= 0 is TRUE in engine semantics") {
    val df = nullableArrayDf(Seq("v"),
      Seq(Row(Seq(Double.NaN, 1.0, 2.0))))
    val rows = df.select(
      VectorHashExprs.lshSigNative(col("v"), 4, 2, 3).as("n"),
      hofLshSig(col("v"), 4, 2, 3, integer = false).as("h")).collect()
    // every dot is NaN → every plane bit SET (Spark/DuckDB order NaN
    // above all values; Java's >= would say false — the kernel must
    // follow the engine)
    assert(rows(0).getSeq[Long](0) == Seq(15L, 15L), rows(0).toString)
    assert(rows(0).get(0) == rows(0).get(1), rows(0).toString)
  }

  test("LSH degenerate inputs: wrong length / null element → all-zero buckets") {
    val df = nullableArrayDf(Seq("v"), Seq(
      Row(Seq(1.0, 2.0)),          // len 2, dim expects 3
      Row(Seq[Any](1.0, null, 3.0)) // null element
    ))
    val rows = df.select(
      VectorHashExprs.lshSigNative(col("v"), 4, 2, 3).as("n"),
      hofLshSig(col("v"), 4, 2, 3, integer = false).as("h")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == Seq(0L, 0L), s"native: $r")
      assert(r.get(0) == r.get(1), s"native != hof: $r")
    }
  }

  test("nearestCentroids kernel matches the HOF literal-array form, ties included") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents0 = e.filter(col("vec_id") < 7).orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0).toInt ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    // a duplicate centroid under a larger cid forces equal-distance
    // ties — both forms must break them cid-ascending
    val cents = cents0 :+ (99 -> cents0(0)._2)
    val centArr = Similarity.centroidArray(cents)
    for (n <- Seq(1, 3)) {
      assertParity(e,
        VectorHashExprs.nearestCentroidsNative(col("embedding"), cents, n),
        Similarity.nearestCentroidsHof(centArr, col("embedding"), n),
        s"nearestCentroids n=$n")
    }
  }

  test("nearestCentroids degenerate vectors: NULL result, like whole-null input") {
    val cents = Array(0 -> Array(1.0, 2.0, 3.0), 1 -> Array(4.0, 5.0, 6.0))
    val df = nullableArrayDf(Seq("v"), Seq(
      Row(Seq(1.0, 2.0)),            // wrong length
      Row(Seq[Any](1.0, null, 3.0)), // null element
      Row(null)))                    // whole-vector null
    // all three degenerate shapes collapse to a null result, so
    // element_at(..., 1)('cid') parks every one of them in the NULL
    // cluster — never the lowest real cid (regression: null-d structs
    // used to carry real cids)
    val rows = df.select(
      VectorHashExprs.nearestCentroidsNative(col("v"), cents, 2).as("n"),
      element_at(VectorHashExprs.nearestCentroidsNative(col("v"), cents, 1),
        1)("cid").as("cid"))
      .collect()
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.isNullAt(0), s"row $i: ${r.get(0)}")
      assert(r.isNullAt(1), s"row $i cid: ${r.get(1)}")
    }
  }

  test("assignCentroidsJoin matches the kernel argmin assignment") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val cents = e.filter(col("vec_id") < 8).orderBy(col("vec_id")).collect()
      .map(r => r.getLong(0).toInt ->
        r.getSeq[Float](1).map(_.toDouble).toArray)
    // degenerate rows (wrong dim / null element / whole-null): kernel
    // path gives null cid, join path gives no row — equivalent "no
    // assignment" on both, so the maps below (null-cid rows dropped)
    // must still agree
    val degenerate = nullableArrayDf(Seq("emb"), Seq(
      Row(Seq(1.0, 2.0)),
      Row(Seq[Any](1.0, null) ++ Seq.fill(62)(0.5)),
      Row(null)))
      .select(monotonically_increasing_id() + 900000L, col("emb"))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("float")).as("embedding"))
    val all = e.unionByName(degenerate)
    val kernelRows = all.select(col("vec_id").as("id"),
      element_at(VectorHashExprs.nearestCentroidsNative(
        col("embedding"), cents, 1), 1)("cid").as("cid"))
      .collect()
    assert(kernelRows.count(r => r.isNullAt(1)) == 3, "expected 3 null-cid rows")
    val viaKernel = kernelRows.filterNot(_.isNullAt(1))
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val centsDf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    val viaJoin = Similarity
      .assignCentroidsJoin(all, "vec_id", "embedding", centsDf)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaKernel == viaJoin)
  }

  test("kernels stay inside WholeStageCodegen") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = e.select(
      VectorHashExprs.lshSigNative(col("embedding"), 6, 4, 64).as("sig"),
      VectorHashExprs.cosineSim(col("embedding"), col("embedding")).as("self"),
      VectorHashExprs.nearestCentroidsNative(col("embedding"),
        Array(0 -> Array.fill(64)(0.5)), 1).as("nc"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [lsh_sig_native"), plan)
    assert(plan.contains("nearest_centroids_native"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(df.count() > 0)
  }
}
