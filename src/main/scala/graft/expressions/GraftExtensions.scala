package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions

/** Session-extension entry point: deploy with
  * `spark.sql.extensions=graft.expressions.GraftExtensions` and every
  * session (including ones the library never touches directly — Thrift
  * server, notebooks) can call every name of [[GraftFunctions]]' table
  * from SQL text — the native functions and the geometry UDFs
  * (`strip_z`, `process_geometry`, `first_elevation`) — without a
  * per-session [[GraftFunctions.register]] call.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.injectInto(ext)
}
