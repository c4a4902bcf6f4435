package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.GeoFunctions

/** P7 as a NATIVE Catalyst expression with `doGenCode`: the generated
  * Java calls `GeoFunctions.processGeometry` directly (a static
  * forwarder on the Scala object), so the per-row cost is the Jackson
  * work itself — no Scala-UDF closure dispatch, no
  * catalyst↔external-type conversion round trip, and the projection
  * stays inside one WholeStageCodegen span instead of breaking it the
  * way a `ScalaUDF` node does.
  *
  * Values are those of the `process_geometry` UDF, its parity
  * reference, for every non-null input. Nulls differ: a null feature
  * gives null in both, but a null layer gives null here
  * (BinaryExpression's default null handling) while the UDF treats it
  * as a non-node layer and strips Z.
  */
case class ProcessGeometryExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "process_geometry_native"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def nullSafeEval(feature: Any, layer: Any): Any =
    UTF8String.fromString(GeoFunctions.processGeometry(
      feature.asInstanceOf[UTF8String].toString,
      layer.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (f, l) =>
      s"UTF8String.fromString(graft.functions.GeoFunctions.processGeometry($f.toString(), $l.toString()))")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ProcessGeometryExpr =
    copy(left = newLeft, right = newRight)
}

object ProcessGeometryExpr {

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "process_geometry_native" -> (es => ProcessGeometryExpr(es(0), es(1))),
  )

  /** Column API over the native expression. */
  def process_geometry_native(feature: Column, layer: Column): Column =
    GraftFunctions("process_geometry_native", feature, layer)
}
