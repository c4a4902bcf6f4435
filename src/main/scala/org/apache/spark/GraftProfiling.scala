package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** What a profiler reads of Spark that Spark keeps package-private, hence
  * this file's package.
  */
object GraftProfiling {

  /** Spark delivers listener events asynchronously; a profiler must wait
    * until every posted event has reached its listener before it reads
    * what the listener recorded.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The distinct operation-scope names of the stage's RDDs, in RDD id
    * order: the physical operators that built them, such as `Exchange`,
    * `WholeStageCodegen (2)` or `Scan parquet`.
    */
  def scopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct
}
