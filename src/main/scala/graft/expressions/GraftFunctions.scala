package graft.expressions

import org.apache.spark.sql.{Column, GraftColumns, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ShiftLeft, ShiftRight}

import graft.functions.GeoFunctions

/** The library's native Catalyst expressions: one name -> builder
  * table, and the only code that binds it.
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
      AudioExprs.builders ++ BarrierExprs.builders ++ BloomExprs.builders

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

  /** Make every name (and the geometry UDFs) SQL-callable on `spark`;
    * idempotent.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
    Seq("strip_z" -> GeoFunctions.stripZUdf,
      "process_geometry" -> GeoFunctions.processGeometryUdf,
      "first_elevation" -> GeoFunctions.firstElevationUdf)
      .foreach { case (name, udf) => spark.udf.register(name, udf) }
  }

  def injectInto(ext: SparkSessionExtensions): Unit =
    builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder))
    }
}
