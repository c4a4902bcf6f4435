package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ColumnNodeToExpressionConverter, ExpressionUtils}

/** Column <-> Catalyst expression, without a function-registry lookup.
  * Spark's converters are `private[sql]`; this forwarder is the one
  * place the library reaches them. A Column built by [[column]] carries
  * its expression, so it resolves on whatever frame it lands in.
  * [[expression]] converts now, not behind `ExpressionUtils`' deferred
  * placeholder, so a builder sees its literal arguments as literals.
  */
object GraftColumns {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ColumnNodeToExpressionConverter(c.node)
}
