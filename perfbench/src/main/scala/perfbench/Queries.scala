package perfbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.query.{DynamicQuery, SqlOrder}
import graft.sinks.Warehouse

/** One read of the query mix with its expected rows, in order. */
final case class QuerySpec(kind: String, build: DynamicQuery => DynamicQuery,
    expected: Seq[Seq[Any]])

/** Outcome of one timed query: build and collect times, rows returned,
  * data files its scans read, and whether the rows match.
  */
final case class QueryRun(buildNs: Long, execNs: Long, rows: Int,
    files: Long, ok: Boolean)

/** The paged-read mix over a loaded warehouse. Every query has a total
  * order (feature JSON is unique per row; stats rows are unique per
  * geometry type within one dataset and table), so its rows are known
  * from the generator's answers.
  */
object Queries {

  private def page(all: IndexedSeq[String], pageNo: Int, size: Int): Seq[String] = {
    val skip = (pageNo - 1) * size
    all.slice(skip, skip + math.min(size, 50))
  }

  /** A seeded mix over `loads` (dataset id -> expected answers): first and
    * deep pages (one asking for 100 rows, capped at 50), a `dataset` ⋈
    * `stats` join and an IN-list over three datasets.
    */
  def mix(seed: Long, loads: Seq[(String, LoadExpect)], n: Int): IndexedSeq[QuerySpec] = {
    val rnd = new java.util.SplittableRandom(seed)
    val sorted = scala.collection.mutable.Map[(String, String), IndexedSeq[String]]()
    def rows(ds: String, table: String): IndexedSeq[String] =
      sorted.getOrElseUpdate((ds, table), loads.toMap.apply(ds).features
        .getOrElse(table, Vector.empty).sorted.toIndexedSeq)
    val featureTables = OswGen.layers.map(_._2)
    def pick[T](s: Seq[T]): T = s(rnd.nextInt(s.size))

    (0 until n).map { i =>
      val (ds, exp) = pick(loads)
      val table = pick(featureTables.filter(t => exp.rows.getOrElse(t, 0L) > 0))
      val all = rows(ds, table)
      def paged(kind: String, pageNo: Int, size: Int) = QuerySpec(kind,
        _.buildSelect(table, Seq("tdei_dataset_id", "feature"))
          .condition("tdei_dataset_id = ?", ds)
          .buildOrder("feature", SqlOrder.ASC)
          .buildPagination(pageNo, size),
        page(all, pageNo, size).map(f => Seq(ds, f)))
      i % 5 match {
        case 0 => paged("page_first", 1, 10 + 15 * rnd.nextInt(2))
        case 1 => paged("page_deep", math.max(1, all.size / 50 - rnd.nextInt(3)), 50)
        case 2 => paged("page_capped", 1 + rnd.nextInt(math.max(1, all.size / 100)), 100)
        case 3 =>
          val st = pick(exp.stats.map(_.layerTable).distinct)
          val info = exp.datasetInfo.getOrElse("node_info", null)
          QuerySpec("join",
            _.buildSelect("dataset", Seq("tdei_dataset_id", "node_info",
                "layer_table", "geometry_type", "feature_count"))
              .buildInnerJoin("dataset", "stats", "tdei_dataset_id")
              .condition("tdei_dataset_id = ?", ds)
              .condition("layer_table = ?", st)
              .buildOrder("geometry_type", SqlOrder.ASC),
            exp.stats.filter(_.layerTable == st).sortBy(_.geometryType)
              .map(r => Seq(ds, info, st, r.geometryType, r.count)))
        case _ =>
          val others = loads.map(_._1).filter(d => d != ds &&
            loads.toMap.apply(d).rows.getOrElse(table, 0L) > 0)
          val set = (ds +: new scala.util.Random(rnd.nextLong()).shuffle(others).take(2)).sorted
          val merged = set.flatMap(d => rows(d, table).map(f => (d, f)))
            .sortBy(_._2)(Ordering[String].reverse).toIndexedSeq
          val pageNo = 1 + rnd.nextInt(3)
          val skip = (pageNo - 1) * 20
          QuerySpec("in_list",
            _.buildSelect(table, Seq("tdei_dataset_id", "feature"))
              .condition("tdei_dataset_id IN (?)", set)
              .buildOrder("feature", SqlOrder.DESC)
              .buildPagination(pageNo, 20),
            merged.slice(skip, skip + 20).map { case (d, f) => Seq(d, f) })
      }
    }
  }

  /** Build, collect and check one query, each phase a span when traced. */
  def run(wh: Warehouse, q: QuerySpec, id: String, tracer: Option[Tracer]): QueryRun = {
    def phase[T](name: String)(body: => T): T = tracer.fold(body)(_.span(name, id)(body))
    val t0 = System.nanoTime()
    val df = phase("query.build")(q.build(new DynamicQuery(wh.table)).getQuery())
    val t1 = System.nanoTime()
    val got = phase("query.exec")(df.collect())
    val t2 = System.nanoTime()
    val ok = got.length == q.expected.length &&
      got.iterator.zip(q.expected.iterator).forall { case (r, e) => r.toSeq == e }
    QueryRun(t1 - t0, t2 - t1, got.length, filesRead(df.queryExecution.executedPlan), ok)
  }

  /** Data files the plan's scans read, from the scans' own metrics. */
  def filesRead(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => filesRead(a.executedPlan)
    case s: QueryStageExec => filesRead(s.plan)
    case f: FileSourceScanExec => f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    case other => (other.children ++ other.subqueries).map(filesRead).sum
  }
}
