package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SQL names for Spark's OWN bloom-filter expressions.
  *
  * `BloomFilterAggregate` / `BloomFilterMightContain` are the engine's
  * runtime-filter machinery (injected by `InjectRuntimeFilter` for
  * shuffle pruning) but are NOT in the public function registry — so a
  * library-level operator that wants an explicit, user-directed bloom
  * stage (e.g. pre-filtering a snapshot against a 100 TB corpus before
  * the exact anti-join) can't reach them from the DataFrame API.
  * Registering the stock classes keeps the aggregation distributed
  * (executors build partial sketches, merge on the reducer) and the
  * membership probe codegen'd — reimplementing the sketch would only
  * duplicate `org.apache.spark.util.sketch.BloomFilter`.
  *
  * `might_contain_graft`'s filter argument must be a scalar subquery or
  * literal (the stock expression enforces foldability) — pass the
  * aggregate through `(SELECT ... FROM ...)`, which Spark executes once
  * and broadcasts as a query-scoped constant.
  */
object BloomExprs {

  private[expressions] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "bloom_filter_agg_graft" -> (es => new BloomFilterAggregate(es(0), es(1), es(2))),
    "might_contain_graft" -> (es => BloomFilterMightContain(es(0), es(1))),
  )
}
