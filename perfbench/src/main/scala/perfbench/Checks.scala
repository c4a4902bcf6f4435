package perfbench

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.sinks.Warehouse

/** Compares a warehouse with the generator's answers. Every check reads
  * the tables through `Warehouse.table`, after the timed work is over.
  */
object Checks {

  /** (table, dataset id) -> (rows, sum of row hashes) over the datasets. */
  def tableDigests(wh: Warehouse, datasets: Seq[String]): Map[(String, String), (Long, Long)] = {
    val perTable = OswGen.tables.filter(wh.tableExists).map { t =>
      val text =
        if (t == "extension")
          concat_ws("|", col("requested_by"), col("ext_file_id").cast("string"), col("feature"))
        else concat_ws("|", col("requested_by"), col("feature"))
      wh.table(t).filter(col("tdei_dataset_id").isin(datasets: _*))
        .select(lit(t).as("t"), col("tdei_dataset_id"), text.as("text"))
    }
    if (perTable.isEmpty) Map.empty
    else perTable.reduce(_ unionAll _)
      .groupBy("t", "tdei_dataset_id")
      .agg(count(lit(1)), sum(pmod(xxhash64(col("text")), lit(2147483647L))))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
  }

  private def rowsOf(wh: Warehouse, table: String, datasets: Seq[String]): Map[String, Seq[Row]] =
    if (!wh.tableExists(table)) Map.empty
    else wh.table(table).filter(col("tdei_dataset_id").isin(datasets: _*))
      .collect().toSeq.groupBy(_.getAs[String]("tdei_dataset_id"))

  /** Mismatches as (dataset id, what differs) for each load: dataset id ->
    * expected answers, or None for bad input, which must leave no rows.
    * Responses are keyed by message id `msg-<dataset id>`; exactly one must
    * exist per load.
    */
  def loads(wh: Warehouse, expected: Seq[(String, Option[LoadExpect])]): Seq[(String, String)] = {
    val ids = expected.map(_._1)
    // independent reads, run at once
    implicit val ec: ExecutionContext = ExecutionContext.global
    val digestsF = Future(tableDigests(wh, ids))
    val statsF = Future(rowsOf(wh, "stats", ids))
    val datasetsF = Future(rowsOf(wh, "dataset", ids))
    val extFilesF = Future(rowsOf(wh, "extension_file", ids))
    val responses = wh.table("response").collect().toSeq
      .groupBy(_.getAs[String]("messageId"))
    def get[T](f: Future[T]): T = Await.result(f, Duration.Inf)
    val (digests, stats, datasets, extFiles) = (get(digestsF), get(statsF), get(datasetsF), get(extFilesF))
    expected.flatMap { case (ds, exp) =>
      val errs = Seq.newBuilder[(String, String)]
      def check(what: String, got: Any, want: Any): Unit =
        if (got != want) errs += ds -> s"$what: got $got, want $want"

      val resp = responses.getOrElse(s"msg-$ds", Nil).map(r =>
        (r.getAs[String]("message"), r.getAs[Boolean]("success"), r.getAs[Int]("status")))
      check("responses", resp,
        Seq(exp.fold((OswGen.NoGeoJson, false, 500))(_ => (OswGen.Loaded, true, 200))))

      OswGen.tables.foreach { t =>
        val want = exp.flatMap(e => e.rows.get(t).map(n => (n, e.hashes(t))))
        check(s"content_$t (rows, hash)", digests.get((t, ds)), want)
      }
      check("stats", stats.getOrElse(ds, Nil).map(r => StatsRow(
        r.getAs[String]("layer_table"), r.getAs[String]("geometry_type"),
        r.getAs[Long]("feature_count"), r.getAs[Double]("min_lon"),
        r.getAs[Double]("max_lon"), r.getAs[Double]("min_lat"),
        r.getAs[Double]("max_lat"))).sortBy(r => (r.layerTable, r.geometryType)),
        exp.map(_.stats).getOrElse(Nil))
      check("dataset", datasets.getOrElse(ds, Nil).map(r =>
        OswGen.layers.map(l => l._3 -> r.getAs[String](l._3)).toMap),
        exp.toSeq.map(e => OswGen.layers.map(l => l._3 -> e.datasetInfo.getOrElse(l._3, null)).toMap))
      check("extension_file", extFiles.getOrElse(ds, Nil).map(r =>
        (r.getAs[Int]("id"), r.getAs[String]("name"), r.getAs[String]("file_meta"),
          r.getAs[String]("requested_by"))).sortBy(_._1),
        exp.map(_.extensionFiles.map { case (i, n, m) => (i, n, m, OswGen.User) }).getOrElse(Nil))
      errs.result()
    }
  }
}
