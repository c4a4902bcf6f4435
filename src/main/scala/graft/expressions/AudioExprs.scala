package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Native single-pass kernel for the audio energy-profile hot path.
  *
  * Like [[TextKernels]] and [[VectorKernels]], this replaces an
  * interpreted HOF fold with one tight JVM loop per row inlined into
  * whole-stage codegen. The HOF form
  * (`Audio.windowEnergiesDyn`: `transform(sequence, w ->
  * aggregate(slice(samples, ...), ...))`) is CodegenFallback — every
  * window SLICE materializes a fresh boxed array and every
  * accumulation step is an expression-tree walk. At per-clip sample
  * counts (~10³–10⁶ elements) that put the 1M-clip ScaleSmoke's
  * fingerprint stage beyond 20 minutes where the equivalent image
  * stage ran in 46 s; the kernel walks the sample array once with
  * primitive longs.
  *
  * Value parity with the HOF form (pinned in `AudioSpec`):
  * - identical window geometry: window w sums squares over
  *   [w·window, (w+1)·window) with the short tail zero-padded (an
  *   absent window contributes 0, exactly like `slice` past the end);
  * - samples widened to Long BEFORE squaring, left-to-right integer
  *   fold — bit-identical sums;
  * - same null contract as the vector kernels: whole-array or
  *   window-column null → null (via nullSafeEval); a null ELEMENT
  *   → whole-array null. (Documented divergence: the HOF form nulls
  *   only the affected window's energy. Unreachable from the
  *   operators — `decodePcm16` never emits null samples; the
  *   whole-null is the honest form for a corrupted array.)
  * - `window <= 0` throws (the HOF form would silently produce empty
  *   slices; every caller guards with `autoWindow`'s `greatest(1, …)`
  *   or a positive literal, so fail-loud is the safe translation).
  */
object AudioKernels {

  /** Windowed Σ s² energies: `array<int|bigint>` → `array<bigint>` of
    * exactly `nWindows` entries. Long window arithmetic throughout —
    * a window large enough that `w · win` exceeds Int range clamps
    * against the array length instead of wrapping (the same contract
    * the streaming UDF and the batch slice path share).
    */
  def energies(a: ArrayData, win: Int, nWindows: Int,
      longElems: Boolean): ArrayData = {
    if (win <= 0) throw new IllegalArgumentException(
      s"audio_energies_native: window must be positive, got $win")
    val n = a.numElements()
    val out = new Array[Long](nWindows)
    var w = 0
    while (w < nWindows) {
      val start = math.min(n.toLong, w.toLong * win).toInt
      val end = math.min(n.toLong, (w + 1).toLong * win).toInt
      var acc = 0L
      var k = start
      while (k < end) {
        if (a.isNullAt(k)) return null
        val x = if (longElems) a.getLong(k) else a.getInt(k).toLong
        acc += x * x
        k += 1
      }
      out(w) = acc
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** One-pass clip stats: `array<int|bigint>` →
  * `struct<peak_abs bigint, zero_crossings bigint, total_energy
  * bigint>` — the codegen'd twin of the three interpreted full-array
  * folds in [[graft.operators.Audio.statsColumns]] (abs-max
  * transform, sign-transition aggregate, Σ s² aggregate), walked in
  * ONE primitive loop. Exact integer arithmetic, identical values by
  * construction; same null contract as [[AudioEnergiesExpr]].
  */
object AudioStatsKernel {
  def stats(a: ArrayData, longElems: Boolean): org.apache.spark.sql
      .catalyst.InternalRow = {
    val n = a.numElements()
    var peak = 0L
    var zc = 0L
    var energy = 0L
    var prevNonNeg = false
    var k = 0
    while (k < n) {
      if (a.isNullAt(k)) return null
      val x = if (longElems) a.getLong(k) else a.getInt(k).toLong
      val ax = math.abs(x)
      if (ax > peak) peak = ax
      val nonNeg = x >= 0
      if (k > 0 && nonNeg != prevNonNeg) zc += 1
      prevNonNeg = nonNeg
      energy += x * x
      k += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(peak, zc, energy)
  }
}

case class AudioStatsExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "audio_stats_native"
  override def dataType: DataType = StructType(Seq(
    StructField("peak_abs", LongType, nullable = false),
    StructField("zero_crossings", LongType, nullable = false),
    StructField("total_energy", LongType, nullable = false)))

  // The kernel returns null for a null ELEMENT (the whole-array-null
  // contract), so the result is nullable whenever the elements are —
  // not just when the array column itself is. Precision matters for
  // codegen too: nullSafeCodeGen only declares `boolean ${ev.isNull}`
  // when `nullable` is true, so the null branch below must be emitted
  // if and only if this is.
  override def nullable: Boolean = child.nullable || (child.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  })

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType | LongType, _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<int|bigint>, got ${other.simpleString}")
    }

  @transient private lazy val longElems: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any): Any =
    AudioStatsKernel.stats(a.asInstanceOf[ArrayData], longElems)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val boxed = ctx.freshName("boxed")
      // `${ev.isNull}` is only a declared variable when `nullable` is
      // true (nullSafeCodeGen's non-nullable branch replaces it with a
      // literal AFTER this string is built — assigning to it would
      // reference an undeclared name and kill compilation of the whole
      // generated class). Non-nullable input means containsNull=false,
      // so the kernel cannot return null; fail loud if it ever does.
      val onNull =
        if (nullable) s"${ev.isNull} = true;"
        else "throw new IllegalStateException(" +
          "\"audio_stats_native: null from non-nullable input\");"
      s"""
         |org.apache.spark.sql.catalyst.InternalRow $boxed =
         |  graft.expressions.AudioStatsKernel.stats($a, $longElems);
         |if ($boxed == null) { $onNull }
         |else { ${ev.value} = $boxed; }
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): AudioStatsExpr =
    copy(child = c)
}

/** `audio_energies_native(samples, window)` with a fixed `nWindows`
  * baked in at plan time: the codegen'd twin of
  * [[graft.operators.Audio.windowEnergiesDyn]] (the `window` child is
  * a full expression, so per-clip auto widths ride through unchanged).
  */
case class AudioEnergiesExpr(left: Expression, right: Expression,
    nWindows: Int) extends BinaryExpression {
  require(nWindows > 0, s"nWindows must be positive, got $nWindows")

  override def prettyName: String = "audio_energies_native"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // Same null contract and same codegen constraint as
  // [[AudioStatsExpr.nullable]]: null is reachable only through a null
  // input or a null element.
  override def nullable: Boolean =
    left.nullable || right.nullable || (left.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType | LongType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int|bigint>, int), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }

  @transient private lazy val longElems: Boolean = left.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, w: Any): Any =
    AudioKernels.energies(a.asInstanceOf[ArrayData],
      w.asInstanceOf[Int], nWindows, longElems)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, w) => {
      val boxed = ctx.freshName("boxed")
      // See AudioStatsExpr.doGenCode: assigning ${ev.isNull} is only
      // legal when `nullable` declared the variable.
      val onNull =
        if (nullable) s"${ev.isNull} = true;"
        else "throw new IllegalStateException(" +
          "\"audio_energies_native: null from non-nullable input\");"
      s"""
         |org.apache.spark.sql.catalyst.util.ArrayData $boxed =
         |  graft.expressions.AudioKernels.energies($a, $w, $nWindows, $longElems);
         |if ($boxed == null) { $onNull }
         |else { ${ev.value} = $boxed; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): AudioEnergiesExpr = copy(left = l, right = r)
}

/** `audio_fingerprint64_native(energies)` — the codegen'd twin of
  * [[graft.operators.Audio.audioFingerprint64]]'s interpreted
  * `aggregate(sequence(0, 63), …)` fold (64 lambda applications + two
  * boxed `element_at`s per row): bit i set iff energies(i) >
  * energies(i+1), 0-based. Parity contract (the HOF fold's exact
  * semantics): a NULL energies array yields 0 (every `when` falls to
  * `otherwise(0)`), an out-of-range window comparison contributes no
  * bit — so the expression is total and never null.
  */
case class AudioFingerprint64Expr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "audio_fingerprint64_native"
  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) | NullType =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<bigint>, got ${other.simpleString}")
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) 0L
    else AudioFingerprintKernel.fingerprint(a.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        long ${ev.value} = 0L;
        if (!${c.isNull}) {
          ${ev.value} =
            graft.expressions.AudioFingerprintKernel.fingerprint(${c.value});
        }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }

  override protected def withNewChildInternal(
      c: Expression): AudioFingerprint64Expr = copy(child = c)
}

object AudioFingerprintKernel {
  /** Gradient bits over the first 65 entries: bit i (0..63) set iff
    * e(i) > e(i+1); indices past the array end contribute nothing
    * (the HOF's null `element_at` comparison). Null elements cannot
    * occur (energies arrays are containsNull = false).
    */
  def fingerprint(a: ArrayData): Long = {
    val n = a.numElements()
    var out = 0L
    var i = 0
    val m = math.min(64, n - 1)
    while (i < m) {
      if (a.getLong(i) > a.getLong(i + 1)) out |= (1L << i)
      i += 1
    }
    out
  }
}

/** Synthetic-PCM fixture kernels — the bench/oracle fixture columns
  * (`SparkEntry.syntheticPcm` / `syntheticPcmAutoClassed`) computed in
  * one primitive loop instead of an interpreted
  * `transform(sequence(0, n−1), …)` lambda chain (measured ≥1 s per
  * audio query at sf0.1 just to BUILD the fixture). Values are
  * bit-identical to the HOF forms (parity spec) and to the DuckDB
  * oracle's closed forms: sample k = floorMod(base·2654435761 +
  * k·40503 + perturb, 65536) − 32768.
  */
object SyntheticPcmKernel {
  def pcm(id: Long, n: Int, classed: Boolean): ArrayData = {
    val base = if (classed) id % 64 else id
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      val perturb = if (classed && id >= 250 && k < 4) 37L else 0L
      out(k) = (java.lang.Math.floorMod(
        base * 2654435761L + k * 40503L + perturb, 65536L) - 32768L).toInt
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def pcmAuto(id: Long): ArrayData = {
    val base = id % 64
    val win = 2L + java.lang.Math.floorMod(base, 16L)
    val n = (65L * win).toInt
    val out = new Array[Int](n)
    var k = 0
    while (k < n) {
      val perturb = if (id >= 250 && k < win) 37L else 0L
      out(k) = (java.lang.Math.floorMod(
        base * 2654435761L + k * 40503L + perturb, 65536L) - 32768L).toInt
      k += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

case class SyntheticPcmExpr(child: Expression, n: Int, classed: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(n >= 0, s"n must be >= 0, got $n")
  override def prettyName: String = "synthetic_pcm_native"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint id, got ${other.simpleString}")
    }

  override def nullSafeEval(id: Any): Any =
    SyntheticPcmKernel.pcm(id.asInstanceOf[Long], n, classed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      id => s"graft.expressions.SyntheticPcmKernel.pcm($id, $n, $classed)")

  override protected def withNewChildInternal(c: Expression): SyntheticPcmExpr =
    copy(child = c)
}

case class SyntheticPcmAutoExpr(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def prettyName: String = "synthetic_pcm_auto_native"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint id, got ${other.simpleString}")
    }

  override def nullSafeEval(id: Any): Any =
    SyntheticPcmKernel.pcmAuto(id.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      id => s"graft.expressions.SyntheticPcmKernel.pcmAuto($id)")

  override protected def withNewChildInternal(
      c: Expression): SyntheticPcmAutoExpr = copy(child = c)
}

object AudioExprs {

  private def intLit(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  private def boolLit(e: Expression): Boolean = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"expected a boolean literal, got $other")
  }

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "audio_energies_native" ->
      (es => AudioEnergiesExpr(es(0), es(1), intLit(es(2)))),
    "audio_stats_native" -> (es => AudioStatsExpr(es(0))),
    "audio_fingerprint64_native" -> (es => AudioFingerprint64Expr(es(0))),
    "synthetic_pcm_native" ->
      (es => SyntheticPcmExpr(es(0), intLit(es(1)), boolLit(es(2)))),
    "synthetic_pcm_auto_native" -> (es => SyntheticPcmAutoExpr(es(0))))

  import org.apache.spark.sql.functions.{lit => slit}

  def energiesNative(samples: Column, window: Column,
      nWindows: Int): Column =
    GraftFunctions("audio_energies_native", samples,
      window.cast("int"), slit(nWindows))

  def statsNative(samples: Column): Column =
    GraftFunctions("audio_stats_native", samples)

  def fingerprint64Native(energies: Column): Column =
    GraftFunctions("audio_fingerprint64_native", energies)

  def syntheticPcmNative(id: Column, n: Int, classed: Boolean): Column =
    GraftFunctions("synthetic_pcm_native", id, slit(n), slit(classed))

  def syntheticPcmAutoNative(id: Column): Column =
    GraftFunctions("synthetic_pcm_auto_native", id)
}
