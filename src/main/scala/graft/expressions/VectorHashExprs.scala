package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Native single-pass kernels for the vector-similarity hot paths.
  *
  * Like [[TextKernels]], these replace interpreted HOF folds
  * (`aggregate`/`zip_with` are CodegenFallback — every lambda
  * application is an expression-tree walk with boxing) with one tight
  * JVM loop per row, inlined into whole-stage codegen. The cosine HOF
  * was evaluated once per CANDIDATE PAIR in the kNN/near-dup joins —
  * the hottest expression in the similarity family — and the LSH
  * signature fold walked dim × (planes·tables) interpreted lambda
  * applications per vector.
  *
  * Value parity with the HOF forms they replace (pinned by
  * `VectorKernelParitySpec`):
  * - identical left-to-right IEEE fold order, so float/double results
  *   are bit-exact, and the oracle-checked integer-quantized queries
  *   (q_knn_exact_int, q_knn_lsh_int) stay hash-exact;
  * - same null contract: whole-array null → null; length mismatch or a
  *   null element → null (the HOF's null-padded zip_with propagates the
  *   same way); LSH signatures degrade to all-zero buckets exactly like
  *   the HOF finish lambda's `when(null >= 0)`;
  * - zero-norm cosine throws (ANSI divide-by-zero parity — Spark 4's
  *   ANSI mode errors on double division by zero; the kernel raises
  *   ArithmeticException, the superclass of SparkArithmeticException).
  *
  * Deliberate divergence (documented, unreachable from the operators):
  * the integer LSH path wraps on Long overflow where ANSI multiply
  * would throw — quantized components (|x| ≤ ~10^4) keep every term
  * below 10^8 · dim, far from 2^63.
  */
object VectorKernels {

  // element-type codes baked into generated code (avoids per-row
  // DataType dispatch)
  final val TDouble = 0
  final val TFloat = 1
  final val TLong = 2
  final val TInt = 3

  private[graft] def typeCode(dt: DataType): Int = dt match {
    case ArrayType(DoubleType, _) => TDouble
    case ArrayType(FloatType, _) => TFloat
    case ArrayType(LongType, _) => TLong
    case ArrayType(IntegerType, _) => TInt
    case other => throw new IllegalArgumentException(
      s"unsupported vector type ${other.simpleString}")
  }

  private def readD(a: ArrayData, i: Int, code: Int): Double = code match {
    case TDouble => a.getDouble(i)
    case TFloat => a.getFloat(i).toDouble
    case TLong => a.getLong(i).toDouble
    case TInt => a.getInt(i).toDouble
  }

  private def readL(a: ArrayData, i: Int, code: Int): Long = code match {
    case TLong => a.getLong(i)
    case TInt => a.getInt(i).toLong
    case c => throw new IllegalArgumentException(
      s"integer LSH requires integral vectors, got type code $c")
  }

  /** Cosine similarity, double precision, left-to-right fold — parity
    * with `Similarity.cosine`'s aggregate form. Boxed return: null for
    * length mismatch / null elements (the HOF's null-padded zip_with).
    * `failOnError` mirrors the session's ANSI flag, captured at plan
    * time like Spark's own Divide: zero-norm throws under ANSI, yields
    * null otherwise — exactly what the HOF's `/` did in each mode.
    */
  def cosineSim(a: ArrayData, b: ArrayData, ac: Int, bc: Int,
      failOnError: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = readD(a, i, ac)
      val y = readD(b, i, bc)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val den = math.sqrt(na) * math.sqrt(nb)
    if (den == 0.0) {
      if (failOnError) throw new ArithmeticException(
        "[DIVIDE_BY_ZERO] cosine_sim_native: zero-norm vector " +
          "(ANSI divide-by-zero parity). Filter zero vectors out first.")
      return null
    }
    java.lang.Double.valueOf(dot / den)
  }

  /** Squared L2 distance, double precision, left-to-right fold — parity
    * with ivfTopK's `aggregate(zip_with(v, c, (x-y)*(x-y)), 0.0, +)`.
    */
  def sqDist(a: ArrayData, b: ArrayData, ac: Int, bc: Int): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = readD(a, i, ac) - readD(b, i, bc)
      s += d * d
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** Deterministic pseudo-random hyperplane component for
    * (table, plane, j) — THE canonical generator (Similarity delegates
    * here). Fixed hash-derived value in [-1, 1]; no RNG state.
    */
  private[graft] def planeComponent(table: Int, i: Int, j: Int): Double =
    org.apache.spark.unsafe.hash.Murmur3_x86_32
      .hashInt(j * 1000003 + table * 524287 + i * 7919, 42)
      .toDouble / Int.MaxValue.toDouble

  /** Integer hyperplane component: the double component scaled to an
    * exact integer (×1000, rounded) — signs of integer dots are exact
    * in any engine.
    */
  private[graft] def planeComponentInt(table: Int, i: Int, j: Int): Long =
    math.round(planeComponent(table, i, j) * 1000.0)

  // flattened plane matrices, m(j * total + p), cached per geometry
  private val dMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Double]]()
  private val lMatrixCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Long]]()

  private def dMatrix(planes: Int, tables: Int, dim: Int): Array[Double] =
    dMatrixCache.computeIfAbsent((planes, tables, dim), { key =>
      val (p, t, d) = key
      val total = p * t
      Array.tabulate(d * total)(x => planeComponent((x % total) / p, (x % total) % p, x / total))
    })

  private def lMatrix(planes: Int, tables: Int, dim: Int): Array[Long] =
    lMatrixCache.computeIfAbsent((planes, tables, dim), { key =>
      val (p, t, d) = key
      val total = p * t
      Array.tabulate(d * total)(x => planeComponentInt((x % total) / p, (x % total) % p, x / total))
    })

  /** Spark/DuckDB comparison semantics order NaN above every value, so
    * `dots(p) >= 0` must be TRUE for NaN (Java's `>=` is false) — the
    * parity spec pins this on a planted-NaN vector.
    */
  private def signGeqZero(d: Double): Boolean = d >= 0 || java.lang.Double.isNaN(d)

  private def foldBuckets(sign: Int => Boolean, planes: Int, tables: Int): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var b = 0L
      var i = 0
      while (i < planes) {
        if (sign(t * planes + i)) b |= (1L << i)
        i += 1
      }
      out(t) = b
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private def zeroBuckets(tables: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(new Array[Long](tables))

  /** All `tables` LSH bucket ids in one pass — parity with
    * `signaturesAllTables`: dots(p) = Σ_j v_j · m(j)(p) in ascending j,
    * bucket_t = OR of (dots(t·planes+i) ≥ 0 ? 2^i : 0). A wrong-length
    * vector or a null element yields all-zero buckets, exactly like the
    * HOF's null-propagated dots under `when(null ≥ 0) → 0`.
    */
  def lshSig(v: ArrayData, planes: Int, tables: Int, dim: Int, code: Int): ArrayData = {
    val total = planes * tables
    if (v.numElements() != dim) return zeroBuckets(tables)
    val m = dMatrix(planes, tables, dim)
    val dots = new Array[Double](total)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return zeroBuckets(tables)
      val x = readD(v, j, code)
      val base = j * total
      var p = 0
      while (p < total) {
        dots(p) += x * m(base + p)
        p += 1
      }
      j += 1
    }
    foldBuckets(p => signGeqZero(dots(p)), planes, tables)
  }

  /** The `n` nearest centroids of `v` by squared L2 distance, exact
    * (d ASC, cid ASC) tie-break — the kernel behind
    * `Similarity.nearestCentroids`. `flat` is the row-major centroid
    * matrix (k × dim), `cids` the centroid ids in STRICTLY INCREASING
    * order. One tight loop per row over k·dim multiply-adds; the
    * interpreted-lambda + literal-array formulation this replaces both
    * walked an expression tree per (row, centroid) AND carried
    * k·(dim+1) literal nodes in the plan — at the √N centroid counts a
    * web-scale SemDeDup run wants (thousands+), the plan alone became
    * the bottleneck. Here the matrix is one opaque reference object in
    * the generated class, shipped with the (broadcast) task binary.
    *
    * Distance fold order is ascending j — identical to the HOF
    * `aggregate(zip_with(...))` — so double results are bit-exact with
    * the formulation it replaces (parity pinned by
    * `VectorKernelParitySpec`). Degenerate vectors (wrong length or a
    * null element — uniform across centroids since all centroids share
    * `dim`) return NULL (the whole result, not null-d structs): the
    * consumer's `element_at(..., 1)('cid')` then lands them in the
    * null cluster exactly like whole-null vectors, and
    * `assignCentroidsJoin` parity holds (its null-distance filter
    * emits no row for them either — no pairs on either path).
    * NaN elements make every distance NaN: compared via
    * `Double.compare` (all equal), so the cid tie-break decides —
    * Spark's own NaN-consistent ordering.
    */
  def nearestCentroids(v: ArrayData, flat: Array[Double], cids: Array[Int],
      dim: Int, n: Int, code: Int): ArrayData = {
    val k = cids.length
    val nn = math.min(n, k)
    var degenerate = v.numElements() != dim
    if (!degenerate) {
      var j = 0
      while (j < dim && !degenerate) {
        if (v.isNullAt(j)) degenerate = true
        j += 1
      }
    }
    if (degenerate) return null
    val out = new Array[Any](nn)
    val vv = new Array[Double](dim)
    var j = 0
    while (j < dim) { vv(j) = readD(v, j, code); j += 1 }
    // bounded insertion sort over (d, cid): O(k·nn) worst case, with an
    // O(1) reject against the current nn-th — nn is 1 (assignment) or
    // nprobe (single digits), so this is effectively one compare per
    // centroid after the top fills
    val bestD = new Array[Double](nn)
    val bestC = new Array[Int](nn)
    var filled = 0
    var c = 0
    while (c < k) {
      var s = 0.0
      val base = c * dim
      var i = 0
      while (i < dim) {
        val d = vv(i) - flat(base + i)
        s += d * d
        i += 1
      }
      val cid = cids(c)
      if (filled < nn ||
          java.lang.Double.compare(s, bestD(filled - 1)) < 0 ||
          (java.lang.Double.compare(s, bestD(filled - 1)) == 0 && cid < bestC(filled - 1))) {
        var pos = if (filled < nn) filled else nn - 1
        while (pos > 0 &&
            (java.lang.Double.compare(s, bestD(pos - 1)) < 0 ||
             (java.lang.Double.compare(s, bestD(pos - 1)) == 0 && cid < bestC(pos - 1)))) {
          bestD(pos) = bestD(pos - 1)
          bestC(pos) = bestC(pos - 1)
          pos -= 1
        }
        bestD(pos) = s
        bestC(pos) = cid
        if (filled < nn) filled += 1
      }
      c += 1
    }
    var i = 0
    while (i < nn) {
      out(i) = org.apache.spark.sql.catalyst.InternalRow(bestD(i), bestC(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Integer twin of [[lshSig]] (Long plane components, Long dots). */
  def lshSigInt(v: ArrayData, planes: Int, tables: Int, dim: Int, code: Int): ArrayData = {
    val total = planes * tables
    if (v.numElements() != dim) return zeroBuckets(tables)
    val m = lMatrix(planes, tables, dim)
    val dots = new Array[Long](total)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return zeroBuckets(tables)
      val x = readL(v, j, code)
      val base = j * total
      var p = 0
      while (p < total) {
        dots(p) += x * m(base + p)
        p += 1
      }
      j += 1
    }
    foldBuckets(dots(_) >= 0L, planes, tables)
  }
}

/** Base for the (vector, vector) → double kernels: numeric-array input
  * check, null-aware codegen (the kernel signals length-mismatch /
  * null-element as a boxed null).
  */
sealed abstract class VectorPairExpr extends BinaryExpression {
  protected def kernelName: String

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def ok(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType | FloatType | LongType | IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric-array arguments, got " +
        s"${left.dataType.simpleString} / ${right.dataType.simpleString}")

  @transient protected lazy val aCode: Int = VectorKernels.typeCode(left.dataType)
  @transient protected lazy val bCode: Int = VectorKernels.typeCode(right.dataType)

  protected def compute(a: ArrayData, b: ArrayData): java.lang.Double

  override def nullSafeEval(a: Any, b: Any): Any =
    compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Extra trailing argument(s) for the kernel call, e.g. the captured
    * ANSI flag — empty for kernels that don't need any.
    */
  protected def extraArgs: String = ""

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val boxed = ctx.freshName("boxed")
      s"""
         |java.lang.Double $boxed =
         |  graft.expressions.VectorKernels.$kernelName($a, $b, $aCode, $bCode$extraArgs);
         |if ($boxed == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $boxed.doubleValue(); }
       """.stripMargin
    })
}

case class CosineSimExpr(left: Expression, right: Expression)
    extends VectorPairExpr {
  // captured from the session at plan time, exactly like Spark's Divide:
  // zero-norm throws under ANSI, yields null otherwise
  private val failOnError: Boolean =
    org.apache.spark.sql.internal.SQLConf.get.ansiEnabled
  override def prettyName: String = "cosine_sim_native"
  override protected def kernelName: String = "cosineSim"
  override protected def extraArgs: String = s", $failOnError"
  override protected def compute(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorKernels.cosineSim(a, b, aCode, bCode, failOnError)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSimExpr =
    copy(left = l, right = r)
}

case class SqDistExpr(left: Expression, right: Expression)
    extends VectorPairExpr {
  override def prettyName: String = "sq_dist_native"
  override protected def kernelName: String = "sqDist"
  override protected def compute(a: ArrayData, b: ArrayData): java.lang.Double =
    VectorKernels.sqDist(a, b, aCode, bCode)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistExpr =
    copy(left = l, right = r)
}

/** LSH signature kernel: array<numeric> → array<bigint> of length
  * `tables`. `integer` picks the Long-exact plane matrix (requires an
  * integral vector — cross-engine-verifiable signs).
  */
case class LshSigExpr(child: Expression, planes: Int, tables: Int, dim: Int,
    integer: Boolean) extends UnaryExpression {
  require(planes >= 1 && planes <= 62 && tables >= 1 && dim >= 1,
    s"bad LSH geometry planes=$planes tables=$tables dim=$dim")

  override def prettyName: String =
    if (integer) "lsh_sig_int_native" else "lsh_sig_native"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType, _) if !integer =>
      TypeCheckResult.TypeCheckSuccess
    case ArrayType(LongType | IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a ${if (integer) "integral" else "numeric"}-array " +
        s"argument, got ${other.simpleString}")
  }

  @transient private lazy val code: Int = VectorKernels.typeCode(child.dataType)
  private def kernel: String = if (integer) "lshSigInt" else "lshSig"

  override def nullSafeEval(v: Any): Any =
    if (integer) VectorKernels.lshSigInt(v.asInstanceOf[ArrayData], planes, tables, dim, code)
    else VectorKernels.lshSig(v.asInstanceOf[ArrayData], planes, tables, dim, code)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v =>
      s"graft.expressions.VectorKernels.$kernel($v, $planes, $tables, $dim, $code)")

  override protected def withNewChildInternal(c: Expression): LshSigExpr =
    copy(child = c)
}

/** Nearest-centroid kernel: array<numeric> → array<struct<d,cid>> of
  * the `n` nearest centroids, (d ASC, cid ASC). The centroid matrix is
  * an OPAQUE constructor parameter — one reference object in the
  * generated class (via `addReferenceObj`), NOT a literal tree — so
  * thousands of centroids add zero plan nodes and ship once with the
  * broadcast task binary.
  */
case class NearestCentroidsExpr(child: Expression, flat: Array[Double],
    cids: Array[Int], dim: Int, n: Int) extends UnaryExpression {
  require(cids.length >= 1 && flat.length == cids.length * dim,
    s"centroid matrix shape mismatch: ${flat.length} values for " +
      s"${cids.length} centroids × dim $dim")
  require(n >= 1, s"need n >= 1, got $n")
  require((1 until cids.length).forall(i => cids(i - 1) < cids(i)),
    "centroid ids must be strictly increasing (sort by cid first)")

  override def prettyName: String = "nearest_centroids_native"
  // nullable even over a non-null child: degenerate vectors (wrong dim
  // or a null element) yield a NULL result — see VectorKernels
  // .nearestCentroids — so they group with whole-null vectors instead
  // of being mis-assigned to the lowest real cid
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("d", DoubleType, nullable = true),
    StructField("cid", IntegerType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType | FloatType | LongType | IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric-array argument, got ${other.simpleString}")
  }

  @transient private lazy val code: Int = VectorKernels.typeCode(child.dataType)

  override def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCentroids(v.asInstanceOf[ArrayData], flat, cids,
      dim, n, code)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("centFlat", flat, "double[]")
    val cidsRef = ctx.addReferenceObj("centCids", cids, "int[]")
    nullSafeCodeGen(ctx, ev, v => {
      val res = ctx.freshName("nearest")
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $res =
         |  graft.expressions.VectorKernels.nearestCentroids($v, $flatRef,
         |    $cidsRef, $dim, $n, $code);
         |if ($res == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $res; }
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): NearestCentroidsExpr =
    copy(child = c)
}

/** Column API over the vector kernels, mirroring [[TextHashExprs]].
  * The scalar args are fixed when the expression is built (the
  * builders read them as literals).
  */
object VectorHashExprs {

  private def intLit(e: Expression): Int =
    e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
      .value.asInstanceOf[Number].intValue

  // the centroid matrix / id args arrive as SINGLE Literal nodes
  // (typedlit of a nested array) and are folded into the expression's
  // opaque constructor params at resolution — they never live in the
  // resolved plan tree
  private def doubleMatrixLit(e: Expression): Array[Array[Double]] = e match {
    case l: org.apache.spark.sql.catalyst.expressions.Literal =>
      val ad = l.value.asInstanceOf[ArrayData]
      Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
    case other => throw new IllegalArgumentException(
      s"nearest_centroids_native: expected a literal array<array<double>> " +
        s"centroid matrix, got ${other.sql}")
  }

  private def intArrayLit(e: Expression): Array[Int] = e match {
    case l: org.apache.spark.sql.catalyst.expressions.Literal =>
      l.value.asInstanceOf[ArrayData].toIntArray()
    case other => throw new IllegalArgumentException(
      s"nearest_centroids_native: expected a literal array<int> of " +
        s"centroid ids, got ${other.sql}")
  }

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim_native" -> (es => CosineSimExpr(es(0), es(1))),
    "sq_dist_native" -> (es => SqDistExpr(es(0), es(1))),
    "lsh_sig_native" -> (es =>
      LshSigExpr(es(0), intLit(es(1)), intLit(es(2)), intLit(es(3)), integer = false)),
    "lsh_sig_int_native" -> (es =>
      LshSigExpr(es(0), intLit(es(1)), intLit(es(2)), intLit(es(3)), integer = true)),
    "nearest_centroids_native" -> (es => {
      val m = doubleMatrixLit(es(1))
      val dim = if (m.isEmpty) 0 else m(0).length
      NearestCentroidsExpr(es(0), m.flatten, intArrayLit(es(2)), dim,
        intLit(es(3)))
    }),
  )

  import org.apache.spark.sql.functions.{lit => slit}

  def cosineSim(a: Column, b: Column): Column =
    GraftFunctions("cosine_sim_native", a, b)
  def sqDistNative(a: Column, b: Column): Column =
    GraftFunctions("sq_dist_native", a, b)
  def lshSigNative(v: Column, planes: Int, tables: Int, dim: Int): Column =
    GraftFunctions("lsh_sig_native", v, slit(planes), slit(tables), slit(dim))
  def lshSigIntNative(v: Column, planes: Int, tables: Int, dim: Int): Column =
    GraftFunctions("lsh_sig_int_native", v, slit(planes), slit(tables), slit(dim))

  /** The `n` nearest of `cents` (as (cid, centroid) pairs, any order —
    * sorted by cid here to satisfy the kernel's ordering contract) for
    * each vector, as array<struct<d double, cid int>> in (d ASC, cid
    * ASC) order.
    */
  def nearestCentroidsNative(v: Column,
      cents: Array[(Int, Array[Double])], n: Int): Column = {
    val sorted = cents.sortBy(_._1)
    GraftFunctions("nearest_centroids_native", v,
      org.apache.spark.sql.functions.typedlit(sorted.map(_._2)),
      org.apache.spark.sql.functions.typedlit(sorted.map(_._1)),
      slit(n))
  }
}
