package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernels for the text-hashing hot paths.
  *
  * The composable HOF formulations (`zip_with`-folded ngrams, the
  * 64-lane `aggregate` minhash fold, the per-bit simhash accumulate in
  * `TextFunctions`) are semantically right but interpreted: higher-order
  * functions are CodegenFallback, so every lambda application is an
  * expression-tree walk with boxing — measured as the dominant cost of
  * every shingle-based operator (profile: tokenize+hash alone was ~2.3s
  * of the ~4.2s minhash pipeline at sf0.1). These expressions compute
  * the IDENTICAL values (integer math, same md5-derived hashes — parity
  * pinned by `NativeKernelParitySpec`) in one tight JVM loop per row,
  * generated inline into WholeStageCodegen via a static call, like
  * [[ProcessGeometryExpr]].
  *
  * Null contract (matches the HOF forms they replace): the grams/minhash
  * callers wrap with `coalesce(..., empty/sentinel)` where the original
  * `when(size(ts) >= n, ...)` produced a non-null result for null text;
  * simhash stays null-in → null-out.
  */
object TextKernels {

  val HashPrime: Long = 2147483647L // 2^31 - 1

  /** Universal-hash parameters h_i(x) = (a_i*x + b_i) mod p — THE
    * canonical generator (Dedup.hashParams delegates here). Fixed seed:
    * signatures are stable across runs and engines.
    */
  def hashParams(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(numHashes)(((rnd.nextInt(Int.MaxValue - 1) + 1).toLong | 1L,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def params(numHashes: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(numHashes, n => {
      val ps = hashParams(n)
      (ps.map(_._1).toArray, ps.map(_._2).toArray)
    })

  private val md5Local: ThreadLocal[MessageDigest] =
    ThreadLocal.withInitial(() => MessageDigest.getInstance("MD5"))

  /** First 60 bits of md5 — bit-identical to the SQL form
    * `conv(substring(md5(s),1,15),16,10)::long`: 15 hex chars = bytes
    * 0..6 plus the high nibble of byte 7. Always non-negative.
    */
  def md5Hash60(bytes: Array[Byte]): Long = {
    val d = md5Local.get()
    d.reset()
    val h = d.digest(bytes)
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (h(i) & 0xFFL); i += 1 }
    (v << 4) | ((h(7) >> 4) & 0xFL)
  }

  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** Whitespace tokens — parity with
    * `filter(split(trim(text), "\\s+"), t => length(t) > 0)`:
    * UTF8String.trim() strips exactly ASCII 0x20 like SQL trim; the
    * regex split matches Spark's StringSplit; empties are dropped. The
    * Pattern is compiled once (String.split would recompile per row —
    * measurable in this, the hottest kernel loop).
    */
  def tokens(text: UTF8String): Array[String] = {
    val s = text.trim().toString
    if (s.isEmpty) return Array.empty
    WS.split(s).filter(_.nonEmpty)
  }

  /** Space-joined gram over ts(start .. start+n-1) — the ONE place the
    * gram string is built (string and hash kernels must agree).
    */
  private def gramString(ts: Array[String], start: Int, n: Int): String = {
    val sb = new java.lang.StringBuilder
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(ts(start + k))
      k += 1
    }
    sb.toString
  }

  private def gramBytes(ts: Array[String], start: Int, n: Int): Array[Byte] =
    gramString(ts, start, n).getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Space-joined word n-grams, in order, with duplicates — parity with
    * `TextFunctions.ngrams` for non-null text (< n tokens → empty).
    */
  def ngramsData(text: UTF8String, n: Int): ArrayData = {
    val ts = tokens(text)
    if (ts.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](ts.length - n + 1)
    var i = 0
    while (i < out.length) {
      out(i) = UTF8String.fromString(gramString(ts, i, n))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** md5-60 hashes of the n-grams; `distinct` keeps first occurrence —
    * parity with `array_distinct(transform(ngrams(text,n), md5Hash60))`.
    */
  def ngramHashesData(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val ts = tokens(text)
    if (ts.length < n) return UnsafeArrayData.fromPrimitiveArray(Array.empty[Long])
    val m = ts.length - n + 1
    if (!distinct) {
      val out = new Array[Long](m)
      var i = 0
      while (i < m) { out(i) = md5Hash60(gramBytes(ts, i, n)); i += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i < m) { seen.add(md5Hash60(gramBytes(ts, i, n))); i += 1 }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }

  /** MinHash signature over 3-word shingles — parity with
    * `Dedup.minHashSignatures`' fold: x = md5-60(gram) mod p,
    * lane_i = min (a_i·x + b_i) mod p, seeded at p (the sentinel for
    * docs with no shingles). Duplicate grams can't change a min, so the
    * `array_distinct` of the HOF form is dropped, not replicated.
    * a < 2^31 and x < 2^31-1 keep a·x + b below 2^62 — no overflow.
    */
  def minhashSigData(text: UTF8String, numHashes: Int): ArrayData = {
    val (as, bs) = params(numHashes)
    val sig = Array.fill(numHashes)(HashPrime)
    val ts = tokens(text)
    if (ts.length >= 3) {
      var i = 0
      val m = ts.length - 2
      while (i < m) {
        val x = md5Hash60(gramBytes(ts, i, 3)) % HashPrime
        var j = 0
        while (j < numHashes) {
          val v = (as(j) * x + bs(j)) % HashPrime
          if (v < sig(j)) sig(j) = v
          j += 1
        }
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Per-position bigram hash rows — parity with the zip_with+md5Hash60
    * formulation (LanguageModel.bigramRows): element i (0-based) covers
    * tokens (i, i+1) with ctx = md5-60(t_i), big = md5-60(t_i+" "+t_{i+1}),
    * w = md5-60(t_{i+1}). Token hashes are computed ONCE and shared
    * between the w slot of row i and the ctx slot of row i+1 — n + (n−1)
    * digests instead of the HOF form's 3(n−1), with no hex-string/conv
    * round-trip. Fewer than two tokens → empty array (posexplode drops
    * the doc, the LM-family contract).
    */
  def bigramRowsData(text: UTF8String): ArrayData = {
    val ts = tokens(text)
    if (ts.length < 2) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](ts.length)
    var i = 0
    while (i < ts.length) {
      th(i) = md5Hash60(
        ts(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    val out = new Array[Any](ts.length - 1)
    i = 0
    while (i < out.length) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](th(i), md5Hash60(gramBytes(ts, i, 2)), th(i + 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-position trigram hash rows — parity with
    * LanguageModel.trigramRows: element i covers tokens (i, i+1, i+2)
    * with tri_ctx = md5-60(t_i+" "+t_{i+1}), tri = md5-60 of the
    * 3-gram, ctx = md5-60(t_{i+1}), big = md5-60(t_{i+1}+" "+t_{i+2}),
    * w = md5-60(t_{i+2}). Token and 2-gram hashes are shared across
    * positions (tri_ctx(i) = gram2(i), big(i) = gram2(i+1)). Fewer
    * than three tokens → empty array.
    */
  def trigramRowsData(text: UTF8String): ArrayData = {
    val ts = tokens(text)
    if (ts.length < 3) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](ts.length)
    var i = 0
    while (i < ts.length) {
      th(i) = md5Hash60(
        ts(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      i += 1
    }
    val g2 = new Array[Long](ts.length - 1)
    i = 0
    while (i < g2.length) { g2(i) = md5Hash60(gramBytes(ts, i, 2)); i += 1 }
    val out = new Array[Any](ts.length - 2)
    i = 0
    while (i < out.length) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](g2(i), md5Hash60(gramBytes(ts, i, 3)), th(i + 1),
          g2(i + 1), th(i + 2)))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** 64-bit SimHash over token md5-60 hashes — parity with
    * `TextFunctions.simhash64`: bit j set iff strictly more than half of
    * the tokens have bit j set (c·2 > n); no tokens → 0.
    */
  def simhash64(text: UTF8String): Long = {
    val ts = tokens(text)
    val counts = new Array[Int](64)
    var i = 0
    while (i < ts.length) {
      val h = md5Hash60(
        ts(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var j = 0
      while (j < 64) {
        counts(j) += ((h >>> j) & 1L).toInt
        j += 1
      }
      i += 1
    }
    val n = ts.length
    var out = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) * 2 > n) out |= (1L << j)
      j += 1
    }
    out
  }
}

/** Base for the string→X kernel expressions: standard null-in→null-out
  * unary, codegen via a static kernel call. `ImplicitCastInputTypes`
  * (not a manual dataType check) so a bare SQL `NULL` or any
  * atomic-typed argument gets the same implicit cast-to-string every
  * builtin string function performs.
  */
sealed abstract class TextKernelExpr extends UnaryExpression
    with ImplicitCastInputTypes {
  // return type (Seq[AbstractDataType]) is inherited — the type itself
  // is private[sql] and can't be named here
  override def inputTypes = Seq(StringType)
}

case class NgramsNativeExpr(child: Expression, n: Int) extends TextKernelExpr {
  require(n >= 1, "n must be >= 1")
  override def prettyName: String = "ngrams_native"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    TextKernels.ngramsData(text.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.ngramsData($t, $n)")
  override protected def withNewChildInternal(c: Expression): NgramsNativeExpr =
    copy(child = c)
}

case class NgramHashesExpr(child: Expression, n: Int, distinct: Boolean)
    extends TextKernelExpr {
  require(n >= 1, "n must be >= 1")
  override def prettyName: String = "ngram_hashes_native"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    TextKernels.ngramHashesData(text.asInstanceOf[UTF8String], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.ngramHashesData($t, $n, $distinct)")
  override protected def withNewChildInternal(c: Expression): NgramHashesExpr =
    copy(child = c)
}

case class MinHashSigExpr(child: Expression, numHashes: Int)
    extends TextKernelExpr {
  require(numHashes >= 1, "numHashes must be >= 1")
  override def prettyName: String = "minhash_sig_native"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(text: Any): Any =
    TextKernels.minhashSigData(text.asInstanceOf[UTF8String], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.minhashSigData($t, $numHashes)")
  override protected def withNewChildInternal(c: Expression): MinHashSigExpr =
    copy(child = c)
}

case class BigramHashRowsExpr(child: Expression) extends TextKernelExpr {
  override def prettyName: String = "bigram_hash_rows_native"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ctx_hash", LongType, nullable = false),
    StructField("big_hash", LongType, nullable = false),
    StructField("w_hash", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(text: Any): Any =
    TextKernels.bigramRowsData(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.bigramRowsData($t)")
  override protected def withNewChildInternal(c: Expression): BigramHashRowsExpr =
    copy(child = c)
}

case class TrigramHashRowsExpr(child: Expression) extends TextKernelExpr {
  override def prettyName: String = "trigram_hash_rows_native"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("tri_ctx_hash", LongType, nullable = false),
    StructField("tri_hash", LongType, nullable = false),
    StructField("ctx_hash", LongType, nullable = false),
    StructField("big_hash", LongType, nullable = false),
    StructField("w_hash", LongType, nullable = false))),
    containsNull = false)
  override def nullSafeEval(text: Any): Any =
    TextKernels.trigramRowsData(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.trigramRowsData($t)")
  override protected def withNewChildInternal(c: Expression): TrigramHashRowsExpr =
    copy(child = c)
}

case class SimHash64Expr(child: Expression) extends TextKernelExpr {
  override def prettyName: String = "simhash64_native"
  override def dataType: DataType = LongType
  override def nullSafeEval(text: Any): Any =
    TextKernels.simhash64(text.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      t => s"graft.expressions.TextKernels.simhash64($t)")
  override protected def withNewChildInternal(c: Expression): SimHash64Expr =
    copy(child = c)
}

/** Column API over the kernel expressions (bound through
  * [[GraftFunctions]]).
  */
object TextHashExprs {

  private def lit(e: Expression): Int =
    e.asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
      .value.asInstanceOf[Number].intValue

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "ngrams_native" -> (es => NgramsNativeExpr(es(0), lit(es(1)))),
    "ngram_hashes_native" -> (es => NgramHashesExpr(es(0), lit(es(1)),
      es(2).asInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal]
        .value.asInstanceOf[Boolean])),
    "minhash_sig_native" -> (es => MinHashSigExpr(es(0), lit(es(1)))),
    "simhash64_native" -> (es => SimHash64Expr(es(0))),
    "bigram_hash_rows_native" -> (es => BigramHashRowsExpr(es(0))),
    "trigram_hash_rows_native" -> (es => TrigramHashRowsExpr(es(0))),
  )

  import org.apache.spark.sql.functions.{lit => slit}

  def ngramsNative(text: Column, n: Int): Column =
    GraftFunctions("ngrams_native", text, slit(n))
  def ngramHashes(text: Column, n: Int, distinct: Boolean): Column =
    GraftFunctions("ngram_hashes_native", text, slit(n), slit(distinct))
  def minhashSig(text: Column, numHashes: Int): Column =
    GraftFunctions("minhash_sig_native", text, slit(numHashes))
  def simhash64Native(text: Column): Column =
    GraftFunctions("simhash64_native", text)
  def bigramHashRows(text: Column): Column =
    GraftFunctions("bigram_hash_rows_native", text)
  def trigramHashRows(text: Column): Column =
    GraftFunctions("trigram_hash_rows_native", text)
}
