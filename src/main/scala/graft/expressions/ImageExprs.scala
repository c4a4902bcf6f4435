package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** Native kernels for the perceptual image hashes and the synthetic
  * luminance-grid fixture.
  *
  * The SQL forms ([[graft.operators.Multimodal.dHash64Sql]] /
  * `aHash64Sql`, and the `transform(sequence)` grid fixture) are
  * interpreted 64-step `aggregate` folds with two boxed nested
  * `element_at` walks per bit — the same shape the audio fingerprint
  * kernel replaced (`AudioFingerprint64Expr`). These compute the
  * IDENTICAL values in one primitive loop per row; parity incl. the
  * degenerate shapes (null grid → 0, short/ragged grid → missing
  * cells contribute 0 to dHash and null-poison aHash's total to 0) is
  * pinned by `NativeKernelParitySpec`.
  */
object ImageKernels {

  /** The synthetic 9×8 luminance grid — bit-identical to the HOF
    * fixture: cell (y ∈ 0..7, x ∈ 0..8) =
    * pmod(base·2654435761 + y·131 + x·17 + perturb, 256) with
    * base = id % 64 and perturb = 50 iff id ≥ 250 ∧ y = x = 0.
    */
  def lumaGrid(id: Long): ArrayData = {
    val base = id % 64
    val rows = new Array[Any](8)
    var y = 0
    while (y < 8) {
      val row = new Array[Int](9)
      var x = 0
      while (x < 9) {
        val perturb = if (id >= 250 && y == 0 && x == 0) 50L else 0L
        row(x) = java.lang.Math.floorMod(
          base * 2654435761L + y * 131L + x * 17L + perturb, 256L).toInt
        x += 1
      }
      rows(y) = UnsafeArrayData.fromPrimitiveArray(row)
      y += 1
    }
    new GenericArrayData(rows)
  }

  /** Cell (y, x) as a boxed Integer, null when out of bounds or the
    * row/cell is null — element_at's contract.
    */
  private def cell(grid: ArrayData, y: Int, x: Int): Integer = {
    if (grid == null || y >= grid.numElements() || grid.isNullAt(y))
      return null
    val row = grid.getArray(y)
    if (x >= row.numElements() || row.isNullAt(x)) return null
    Integer.valueOf(row.getInt(x))
  }

  /** dHash64 — bit i (0..63) adds 2^i iff grid[i/8][i%8] >
    * grid[i/8][i%8+1]; any null operand contributes 0 (the SQL
    * `when`'s otherwise). A null grid is all-null operands → 0.
    */
  def dHash64(grid: ArrayData): Long = {
    var out = 0L
    var i = 0
    while (i < 64) {
      val a = cell(grid, i / 8, i % 8)
      val b = cell(grid, i / 8, i % 8 + 1)
      if (a != null && b != null && a.intValue > b.intValue)
        out |= (1L << i)
      i += 1
    }
    out
  }

  /** aHash64 — total = Σ of the 64 cells grid[i/8][i%8] (a single null
    * cell null-poisons the SQL fold's accumulator → every ≥ compares
    * null → 0); bit i set iff cell·64 ≥ total.
    */
  def aHash64(grid: ArrayData): Long = {
    var total = 0L
    var i = 0
    while (i < 64) {
      val c = cell(grid, i / 8, i % 8)
      if (c == null) return 0L
      total += c.longValue
      i += 1
    }
    var out = 0L
    i = 0
    while (i < 64) {
      // cells verified non-null above
      if (cell(grid, i / 8, i % 8).longValue * 64 >= total)
        out |= (1L << i)
      i += 1
    }
    out
  }
}

case class LumaGridExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "synthetic_luma_grid_native"
  override def dataType: DataType =
    ArrayType(ArrayType(IntegerType, containsNull = false),
      containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires bigint id, got ${other.simpleString}")
    }
  override def nullSafeEval(id: Any): Any =
    ImageKernels.lumaGrid(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      id => s"graft.expressions.ImageKernels.lumaGrid($id)")
  override protected def withNewChildInternal(c: Expression): LumaGridExpr =
    copy(child = c)
}

/** Base for the grid→long hashes: NEVER null (a null grid hashes to 0,
  * the SQL folds' value), so eval/codegen handle the null child
  * explicitly instead of the nullSafeEval default.
  */
sealed abstract class GridHashExpr extends UnaryExpression {
  override def nullable: Boolean = false
  protected def kernelName: String
  protected def kernel(grid: ArrayData): Long
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(ArrayType(IntegerType, _), _) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<array<int>>, got ${other.simpleString}")
    }
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else kernel(v.asInstanceOf[ArrayData])
  }
  // the AudioFingerprint64Expr null→0 codegen shape
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code =
      code"""
        ${c.code}
        long ${ev.value} = 0L;
        if (!${c.isNull}) {
          ${ev.value} =
            graft.expressions.ImageKernels.$kernelName(${c.value});
        }
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen
        .FalseLiteral)
  }
}

case class DHash64Expr(child: Expression) extends GridHashExpr {
  override def prettyName: String = "dhash64_native"
  override protected def kernelName: String = "dHash64"
  override protected def kernel(grid: ArrayData): Long =
    ImageKernels.dHash64(grid)
  override protected def withNewChildInternal(c: Expression): DHash64Expr =
    copy(child = c)
}

case class AHash64Expr(child: Expression) extends GridHashExpr {
  override def prettyName: String = "ahash64_native"
  override protected def kernelName: String = "aHash64"
  override protected def kernel(grid: ArrayData): Long =
    ImageKernels.aHash64(grid)
  override protected def withNewChildInternal(c: Expression): AHash64Expr =
    copy(child = c)
}

object ImageExprs {

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "synthetic_luma_grid_native" -> (es => LumaGridExpr(es(0))),
    "dhash64_native" -> (es => DHash64Expr(es(0))),
    "ahash64_native" -> (es => AHash64Expr(es(0))),
  )

  def lumaGridNative(id: Column): Column =
    GraftFunctions("synthetic_luma_grid_native", id)
  def dHash64Native(grid: Column): Column =
    GraftFunctions("dhash64_native", grid)
  def aHash64Native(grid: Column): Column =
    GraftFunctions("ahash64_native", grid)
}
