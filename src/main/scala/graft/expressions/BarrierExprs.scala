package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** Optimizer barrier: an identity pass-through the optimizer must not
  * look through — the library's only one.
  *
  * Guide §4.4 problem: when a filter (or an inferred join-key
  * `isnotnull`) references a column computed by an expensive projected
  * expression, predicate pushdown SUBSTITUTES the expression into the
  * pushed condition — the kernel then runs twice per row, once below
  * the filter and once in the projection (measured as two full
  * `nearest_centroids_native` code arrays per corpus row in
  * q_pq/q_ivfpq, and a doubled doc×centroid distance matrix in
  * `Similarity.assignCentroidsJoin`). Native kernels and Scala UDFs
  * alike (the media decoders of `Video`, `Audio` and `Multimodal`) are
  * projected through [[BarrierExprs.evalOnce]]; the UDFs themselves stay
  * deterministic. `deterministic = false` stops substitution,
  * duplication and constant-folding, while eval/codegen ARE the child's
  * verbatim — values and nullability are unchanged.
  *
  * The trade-off: no predicate pushes below the wrapped projection, not
  * even one on an unrelated column (a filter on `id` above a projection
  * of `eval_once(decode(content))` stays above it), and the column
  * cannot appear in positions Catalyst forbids for nondeterministic
  * expressions (join conditions, grouping keys). Wrap only expensive
  * kernels whose consumers filter/join on the OUTPUT attribute; a
  * caller of a wrapped operator filters other columns before the call.
  */
case class EvalOnceExpr(child: Expression) extends UnaryExpression {
  override def prettyName: String = "eval_once"
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  // the whole point: the optimizer may not copy, reorder past, or fold
  // this subtree
  override lazy val deterministic: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = child.eval(input)
  // identity at codegen: the child's ExprCode IS this expression's
  override def genCode(ctx: CodegenContext): ExprCode = child.genCode(ctx)
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    throw new IllegalStateException(
      "EvalOnceExpr.genCode delegates to the child; doGenCode is unreachable")
  override protected def withNewChildInternal(c: Expression): EvalOnceExpr =
    copy(child = c)
}

object BarrierExprs {

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "eval_once" -> (es => EvalOnceExpr(es(0))),
  )

  /** `c`, evaluated exactly once where it is projected. */
  def evalOnce(c: Column): Column = GraftFunctions("eval_once", c)
}
