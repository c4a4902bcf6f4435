package graft.expressions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ShiftLeft, ShiftRight}
import org.apache.spark.sql.expressions.UserDefinedFunction

import graft.functions.GeoFunctions

/** The library's SQL-callable functions: one name -> builder table, and
  * the only code that binds it. Most rows build a native Catalyst
  * expression; the geometry rows (`strip_z`, `process_geometry`,
  * `first_elevation`) build the Scala UDFs of [[GeoFunctions]].
  *
  * Column helpers go through [[apply]]: the builder runs on the args'
  * expressions and the Column carries the result, so it resolves on the
  * frame it lands in — no session's function registry is consulted.
  * SQL text needs the names registered: [[register]] on one session, or
  * [[GraftExtensions]] (which calls [[injectInto]]) on every session.
  */
object GraftFunctions {

  private val builders: Seq[(String, Seq[Expression] => Expression)] =
    ProcessGeometryExpr.builders ++ TextHashExprs.builders ++
      TextQualityExprs.builders ++ ImageExprs.builders ++
      BytesExprs.builders ++ VectorHashExprs.builders ++
      AudioExprs.builders ++ BarrierExprs.builders ++ BloomExprs.builders ++
      Seq(udfRow("strip_z", GeoFunctions.stripZUdf),
        udfRow("process_geometry", GeoFunctions.processGeometryUdf),
        udfRow("first_elevation", GeoFunctions.firstElevationUdf))

  private val byName = builders.toMap

  /** Every name [[register]] and [[injectInto]] make SQL-callable. */
  val names: Seq[String] = builders.map(_._1)

  /** `name`'s expression over `args`, as a Column. */
  def apply(name: String, args: Column*): Column = {
    val builder = byName.getOrElse(name, throw new IllegalArgumentException(
      s"no native function $name; known: ${names.mkString(", ")}"))
    GraftColumns.column(builder(args.map(GraftColumns.expression)))
  }

  /** Spark's `shiftleft`/`shiftright` with a Column shift amount (the
    * `functions` forms take only an Int) — the same expressions the SQL
    * names resolve to.
    */
  def shiftLeft(v: Column, bits: Column): Column = GraftColumns.column(
    ShiftLeft(GraftColumns.expression(v), GraftColumns.expression(bits)))
  def shiftRight(v: Column, bits: Column): Column = GraftColumns.column(
    ShiftRight(GraftColumns.expression(v), GraftColumns.expression(bits)))

  /** A table row whose builder applies `udf`, named `name` in plans. */
  private def udfRow(name: String, udf: UserDefinedFunction) = name -> ((es: Seq[Expression]) =>
    GraftColumns.expression(udf.withName(name)(es.map(GraftColumns.column): _*)))

  /** Make every name SQL-callable on `spark`; idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  def injectInto(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder))
    }
}
