package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Importance-based data selection — DSIR (Xie et al. 2023, "Data
  * Selection for Language Models via Importance Resampling"): pick the
  * raw-corpus docs whose hashed n-gram profile looks like a TARGET
  * corpus (the "give me more data like my high-quality set" operator).
  * Reference: N/A (beyond the reference's surface — LLM-pipeline
  * brief).
  *
  * Pipeline: docs featurize into `buckets` hashed unigram+bigram
  * counts; bucket distributions are estimated on the target (p) and
  * raw (q) corpora with add-`alpha` smoothing; each raw doc scores
  * log w = Σ_b c_b·(ln p_b − ln q_b); resampling keeps the `keepN`
  * docs with the largest log w + Gumbel noise — Gumbel-top-k IS
  * sampling without replacement ∝ w, and the noise here is a pure
  * hash function of (salt, id), so the selection is deterministic
  * across runs, partitionings, and engines up to float `ln` ULPs.
  *
  * Scale shape:
  *   - featurize: one narrow kernel pass (tokenize → n-gram → md5-60,
  *     the same codegen'd kernel the dedup family uses) + ONE keyed
  *     aggregation whose shuffle key is (id, int bucket);
  *   - distributions: one `buckets`-row aggregation per corpus —
  *     bounded by construction, broadcast back;
  *   - weights: features ⋈ broadcast(ratio table) + per-doc ordered
  *     fold (deterministic summation);
  *   - selection: NO global sort-limit (`orderBy().limit(keepN)`
  *     funnels keepN rows into one task) — a histogram threshold
  *     (bounded bin aggregation to the driver) keeps everything above
  *     the cut bin and resolves ONLY the boundary bin with a bounded
  *     top-j aggregation. With `histBins` bins over a continuous
  *     score the boundary bin holds ~keepN/histBins docs; the
  *     degenerate case (mass concentration in one bin — e.g. a
  *     near-constant score) pays a top-j buffer of that bin's size.
  */
object DataSelection {

  /** (id, bucket, cnt): hashed unigram+bigram counts, bucket =
    * md5-60(n-gram) mod `buckets`. Deterministic and engine-replicable
    * (the q_dsir_feats oracle recomputes it in SQL). Docs with no
    * tokens produce no rows.
    */
  def hashedNgramFeatures(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int = 10000): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    TopK.requireIntegral(docs, idCol, "hashedNgramFeatures")
    def grams(n: Int) = coalesce(
      graft.expressions.TextHashExprs.ngramHashes(col(textCol), n,
        distinct = false),
      array().cast("array<bigint>"))
    docs
      .select(col(idCol).cast("long").as("id"),
        explode(concat(grams(1), grams(2))).as("gh"))
      .groupBy(col("id"), pmod(col("gh"), lit(buckets.toLong)).cast("int")
        .as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Collected per-bucket gram counts for one corpus: ≤ `buckets` rows
    * to the driver (one featurize pass). The bound makes the collect
    * legal; the guard keeps a mis-sized `buckets` from becoming an
    * opaque driver OOM.
    */
  private def bucketDist(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): Map[Int, Long] = {
    require(buckets <= (1 << 22),
      s"buckets=$buckets: the distribution tables are collected " +
        "(bounded by construction); keep buckets <= 2^22 or shard the " +
        "feature space")
    hashedNgramFeatures(docs, idCol, textCol, buckets)
      .groupBy(col("bucket")).agg(sum(col("cnt")).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  /** Per-bucket smoothed log importance ratios ln(p_b) − ln(q_b):
    * p from `target`, q from `raw`, add-`alpha` smoothing so unseen
    * buckets stay finite. At most `buckets` rows. EAGER: both bounded
    * distributions collect once and the ratios compute driver-side —
    * leaving them as lazy aggregation subtrees re-ran the full
    * corpus featurize pass per reference (5 tokenize passes per
    * dsirResample run, measured; now 3: target once, raw twice —
    * the per-doc feature join below is the irreducible second).
    */
  def importanceLogRatios(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 10000,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val p = bucketDist(target, idCol, textCol, buckets)
    val q = bucketDist(raw, idCol, textCol, buckets)
    val pTot = p.values.sum.toDouble
    val qTot = q.values.sum.toDouble
    // same IEEE op order as the previous distributed form: (cnt+α) /
    // (total+α·B) per side, ln via the JVM's Math.log — the identical
    // function Spark's log expression evaluates on executors
    val rows = (p.keySet ++ q.keySet).toSeq.sorted.map { b =>
      (b,
        math.log((p.getOrElse(b, 0L) + alpha) / (pTot + alpha * buckets)) -
        math.log((q.getOrElse(b, 0L) + alpha) / (qTot + alpha * buckets)))
    }
    val spark = raw.sparkSession
    import spark.implicits._
    rows.toDF("bucket", "log_ratio")
  }

  /** Per-raw-doc log importance weight: Σ_b c_b·log_ratio_b, folded in
    * bucket order (deterministic summation). Docs with NO features
    * (empty/null text) have no profile to compare and are EXCLUDED —
    * reattaching them with weight 0 would cost a corpus-wide join for
    * rows a selection toward any real target should drop anyway.
    */
  def importanceLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 10000,
      alpha: Double = 1.0): DataFrame = {
    val ratios = importanceLogRatios(raw, target, idCol, textCol, buckets,
      alpha)
    hashedNgramFeatures(raw, idCol, textCol, buckets)
      .join(broadcast(ratios), Seq("bucket"))
      .select(col("id"), col("bucket"),
        (col("cnt") * col("log_ratio")).as("__w"))
      .groupBy(col("id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("bucket"), col("__w")))),
        lit(0.0), (acc, x) => acc + x("__w")).as("log_weight"))
  }

  /** Gumbel-top-`keepN` resample of the raw corpus toward the target
    * distribution: returns the selected (id, log_weight, score) rows,
    * score = log_weight + Gumbel(md5-60(salt:id)). Ties and the
    * histogram boundary resolve on (score DESC, id ASC), so the
    * selected SET is a pure function of (corpora, salt).
    */
  def dsirResample(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, keepN: Int, buckets: Int = 10000,
      alpha: Double = 1.0, salt: String = "dsir",
      histBins: Int = 100000): DataFrame = {
    require(keepN >= 1, s"keepN must be >= 1, got $keepN")
    require(histBins >= 1, s"histBins must be >= 1, got $histBins")
    val weights = importanceLogWeights(raw, target, idCol, textCol,
      buckets, alpha)
    // u in (0,1) strictly: (h + 0.5) / 2^60 — never 0 or 1, so the
    // double Gumbel transform stays finite
    val u = (TextFunctions.md5Hash60(
      concat(lit(salt), lit(":"), col("id").cast("string")))
      .cast("double") + lit(0.5)) / lit(math.pow(2.0, 60))
    val scored = weights.select(col("id"), col("log_weight"),
      (col("log_weight") - log(-log(u))).as("score"))
    selectTopNByScore(scored, keepN, histBins)
  }

  /** Deterministic token-budget sampling: keep docs in md5-60 hash
    * order until the corpus-wide running token total would exceed
    * `budgetTokens` — the "give me ~10B tokens of this corpus,
    * reproducibly" operator a mixture builder calls per source. A doc
    * is kept iff its INCLUSIVE running total (ordered by (hash, id))
    * is ≤ the budget, which is exactly the window-cumulative-sum rule
    * the q_token_budget oracle states — but computed WITHOUT a global
    * sort or a corpus-wide window:
    *
    *   - bin = hash >> (60 − log2 histBins): pure integer math, so the
    *     bin boundary is engine-exact;
    *   - ONE histogram aggregation → (bin, token sum, docs) to the
    *     driver (bounded `histBins` rows); the driver walks bins in
    *     hash order accumulating tokens until the budget;
    *   - bins strictly below the cut are kept by a narrow filter —
    *     every doc there provably satisfies the inclusive-cumsum rule;
    *   - ONLY the boundary bin (≈ corpus/histBins docs) pays a real
    *     cumulative window, partitioned to a single tiny frame.
    *
    * Zero-token docs never consume budget and are kept wherever their
    * position lands — same under both formulations. Returns
    * (id, n_tokens, h).
    */
  def sampleTokenBudget(docs: DataFrame, idCol: String, textCol: String,
      budgetTokens: Long, salt: String = "budget",
      log2Bins: Int = 16): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(log2Bins >= 1 && log2Bins <= 30, s"log2Bins in [1,30], got $log2Bins")
    TopK.requireIntegral(docs, idCol, "sampleTokenBudget")
    // three consumers (histogram action, kept filter, boundary window);
    // checkpoint the narrow (id, tokens, hash) projection so the text
    // column is tokenized once, not per consumer — GC-cleaned like the
    // selector's frame
    val base = docs.select(col(idCol).cast("long").as("id"),
      coalesce(TextFunctions.tokenCount(col(textCol)).cast("long"), lit(0L))
        .as("n_tokens"),
      TextFunctions.md5Hash60(
        concat(lit(salt), lit(":"), col(idCol).cast("long").cast("string")))
        .as("h"))
      .withColumn("__bin", shiftright(col("h"), 60 - log2Bins))
      .localCheckpoint(true)
    val hist = base.groupBy(col("__bin"))
      .agg(sum(col("n_tokens")).as("t"), count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // walk bins in hash order; cut = first bin whose full inclusion
    // would exceed the budget
    var acc = 0L
    var cut = 0L
    val nBins = 1L << log2Bins
    while (cut < nBins && acc + hist.getOrElse(cut, 0L) <= budgetTokens) {
      acc += hist.getOrElse(cut, 0L)
      cut += 1
    }
    val kept = base.filter(col("__bin") < cut)
    if (cut >= nBins) return kept.drop("__bin") // whole corpus fits
    val left = budgetTokens - acc
    // boundary bin: a real cumulative window over ~corpus/2^log2Bins
    // rows — single tiny partition by construction, ordered (h, id)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("h"), col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val boundary = base.filter(col("__bin") === cut)
      .withColumn("__c", sum(col("n_tokens")).over(w))
      .filter(col("__c") <= left)
      .drop("__c")
    kept.unionByName(boundary).drop("__bin")
  }

  /** Exact global-rank quantile partitioning — the CCNet
    * head/middle/tail split (Wenzek et al. 2020 §4.4: order docs by a
    * quality score, cut the corpus into equal thirds) generalized to
    * `nBuckets`. Every row gets `bucket` ∈ [1, nBuckets], where bucket
    * b holds ranks (⌊(b−1)·n/B⌋, ⌊b·n/B⌋] of the total order
    * (score ASC then id ASC when `ascending`, score DESC then id ASC
    * otherwise) — equivalently bucket = ⌈rank·B/n⌉, the formulation the
    * q_rank_buckets oracle states as a window. Computed WITHOUT a
    * global sort or corpus-wide window:
    *
    *   - one stats pass (n, min, max) and ONE bounded `histBins`-row
    *     histogram to the driver;
    *   - each of the B−1 boundary ranks lands in one histogram bin;
    *     only those bins (≈ n/histBins rows each; ties can widen one)
    *     pay a bounded smallest-j aggregation to resolve the exact
    *     boundary (score, id) element;
    *   - assignment is then a NARROW comparison of each row against
    *     B−1 literal boundary structs — no shuffle.
    *
    * Ties share a score but never a (score, id) pair, so buckets are
    * exact-sized and deterministic across runs, partitionings, and
    * engines. `scored` needs (idCol integral, scoreCol numeric,
    * NaN-free); it is materialized once (localCheckpoint — same
    * rationale as [[selectTopNByScore]]), so pass a narrow projection.
    * Returns all input columns plus `bucket`.
    */
  def rankBuckets(scored: DataFrame, idCol: String, scoreCol: String,
      nBuckets: Int, ascending: Boolean = true,
      histBins: Int = 100000): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(histBins >= 1, s"histBins must be >= 1, got $histBins")
    TopK.requireIntegral(scored, idCol, "rankBuckets")
    val cached = scored.localCheckpoint(true)
    // internal order key: ascending ranks on (s ASC, id ASC); the
    // descending form negates the score so ties still break id ASC
    def s(c: Column): Column =
      if (ascending) c.cast("double") else -c.cast("double")
    val stats = cached
      .agg(count(lit(1)), min(s(col(scoreCol))), max(s(col(scoreCol))))
      .collect()(0)
    val total = stats.getLong(0)
    if (total == 0L) return cached.withColumn("bucket", lit(1))
    val (mn, mx) = (stats.getDouble(1), stats.getDouble(2))
    val width = if (mx > mn) (mx - mn) / histBins else 1.0
    val binOf = least(floor((s(col(scoreCol)) - lit(mn)) / lit(width))
      .cast("int"), lit(histBins - 1))
    val hist = cached.groupBy(binOf.as("__bin")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val cum = (0 until histBins).scanLeft(0L)((a, b) =>
      a + hist.getOrElse(b, 0L)) // cum(i) = rows in bins < i
    // boundary rank of bucket b (its LAST rank); rank 0 = empty bucket
    val ranks = (1 until nBuckets).map(b => b * total / nBuckets)
    // resolve each nonzero boundary rank to its bin and local rank j
    val need = ranks.zipWithIndex.collect { case (r, i) if r >= 1 =>
      val bin = cum.lastIndexWhere(_ < r) // 0-based bin holding rank r
      (i.toLong, bin, r - cum(bin))
    }
    val resolved: Map[Long, (Double, Long)] = if (need.isEmpty) Map.empty
    else {
      val wanted = need.map { case (i, bin, _) => (i, bin) }
      val spark = cached.sparkSession
      import spark.implicits._
      val tags = broadcast(wanted.toDF("__q", "__bin"))
      // exact rank-j element of (s ASC, id ASC) within the boundary
      // bin. RankSelect refines by histogram + tie-class bisection, so
      // a tie-heavy distribution that drops most of the corpus into
      // ONE bin (quality scores with few distinct values) still
      // resolves in O(log) shared passes — a bounded top-j buffer
      // here degenerates to a single-reducer O(n·j) insert sort,
      // because j is a RANK that grows with the bin
      val boundaryRows = cached
        .select(binOf.as("__bin"), col(idCol).cast("long").as("id"),
          s(col(scoreCol)).as("s"))
        .join(tags, Seq("__bin"))
        .select(col("__q").as("qid"), col("s"), col("id"))
      RankSelect.selectRankPairs(boundaryRows,
        need.map { case (i, _, j) => i -> j }.toMap)
    }
    // bucket = 1 + #(boundaries strictly below this row's (s, id));
    // an empty bucket's absent boundary sorts below everything
    val rowKey = struct(s(col(scoreCol)), col(idCol).cast("long"))
    val bucket = ranks.indices.foldLeft(lit(1)) { (acc, i) =>
      val cmp = resolved.get(i.toLong) match {
        case Some((bs, bid)) => rowKey > struct(lit(bs), lit(bid))
        case None            => lit(true) // rank 0: bucket i+1 is empty
      }
      acc + cmp.cast("int")
    }
    cached.withColumn("bucket", bucket)
  }

  /** [[rankBuckets]] under GROUP BY — equal GROUP-LOCAL rank tiers for
    * every group simultaneously (CCNet buckets per LANGUAGE — Wenzek
    * et al. 2020 run per-language pipelines — or per-source quality
    * tiers): within each group, bucket = ⌈rank_g·B/n_g⌉ on the
    * (score, id) ordering, exactly the window formulation the
    * q_group_rank_buckets oracle states under PARTITION BY. Computed
    * with NO corpus-sized window partition and no per-group driver
    * loop — every pass covers ALL groups at once:
    *
    *   - one per-group envelope pass (n, min, max) — `maxGroups`-row
    *     collect, gated fail-loud;
    *   - ONE shared histogram pass (corpus joins the broadcast
    *     envelope, bins group-locally) — ≤ groups·histBins driver
    *     rows, the product gated fail-loud;
    *   - every group's B−1 boundary ranks resolve in ONE shared
    *     bounded top-j pass over their crossing bins
    *     ([[TopK.topKPerQuery]], one query per (group, boundary));
    *   - assignment joins the broadcast per-group boundary arrays and
    *     counts boundaries below the row's (score, id) key — a NARROW
    *     broadcast-join map, no shuffle of the corpus.
    *
    * Ties share a score but never a (score, id) pair, so buckets are
    * exact-sized and deterministic across runs, partitionings, and
    * engines. Rows with a NULL group are EXCLUDED (the
    * [[groupedExactQuantiles]] contract); groups are keyed by the
    * cast-to-string form. `scored` needs (idCol integral, scoreCol
    * numeric, NaN-free); pass a narrow projection (one
    * localCheckpoint materialization, as [[rankBuckets]]). Returns
    * all input columns plus `bucket` (1 = best under `ascending`).
    * Gated by `maxGroups` and the groups×bins driver histogram bound —
    * right for languages/sources; per-DOMAIN tiers at crawl scale
    * should use [[approxGroupedRankBuckets]] instead (sketch cut, no
    * per-group driver state, one-bin-width boundary error).
    */
  def groupedRankBuckets(scored: DataFrame, groupCol: String,
      idCol: String, scoreCol: String, nBuckets: Int,
      ascending: Boolean = true, histBins: Int = 2048,
      maxGroups: Int = 4096): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(histBins >= 1, s"histBins must be >= 1, got $histBins")
    require(maxGroups >= 1, s"maxGroups must be >= 1, got $maxGroups")
    TopK.requireIntegral(scored, idCol, "groupedRankBuckets")
    val spark = scored.sparkSession
    import spark.implicits._
    val gk = col(groupCol).cast("string")
    def s(c: Column): Column =
      if (ascending) c.cast("double") else -c.cast("double")
    val cached = scored.filter(gk.isNotNull).localCheckpoint(true)
    val env = cached
      .groupBy(gk.as("__g"))
      .agg(count(lit(1)).as("n"), min(s(col(scoreCol))).as("mn"),
        max(s(col(scoreCol))).as("mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3)))
    if (env.isEmpty) return cached.withColumn("bucket", lit(1))
    require(env.length <= maxGroups,
      s"groupedRankBuckets: ${env.length} groups exceed maxGroups=" +
        s"$maxGroups — raise the gate or bucket per-group slices")
    require(env.length.toLong * histBins <= (1L << 24),
      s"groupedRankBuckets: ${env.length} groups x $histBins bins " +
        "exceeds the driver histogram bound (2^24 rows) — lower " +
        "histBins")
    // one shared histogram pass, binned group-locally
    val envDf = broadcast(env.toSeq.map { case (g, (_, mn, mx)) =>
      (g, mn, if (mx > mn) (mx - mn) / histBins else 1.0)
    }.toDF("__g", "__mn", "__w"))
    val binOf = least(floor((col("__s") - col("__mn")) / col("__w"))
      .cast("int"), lit(histBins - 1))
    val hist = cached
      .select(gk.as("__g"), s(col(scoreCol)).as("__s"),
        col(idCol).cast("long").as("__id"))
      .join(envDf, Seq("__g"))
      .groupBy(col("__g"), binOf.as("__bin")).count()
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // per group: cumulative bins -> boundary (bin, local rank j);
    // rank 0 = empty leading bucket (sentinel boundary below all rows)
    case class Bound(qid: Long, g: String, bin: Int, j: Long)
    val need = scala.collection.mutable.ArrayBuffer.empty[Bound]
    // g -> per-boundary slot: Some(qid) pending resolve, None = rank 0
    val slots = scala.collection.mutable.LinkedHashMap
      .empty[String, Array[Option[Long]]]
    var qid = 0L
    for ((g, (n, _, _)) <- env) {
      val cum = (0 until histBins).scanLeft(0L)((a, b) =>
        a + hist.getOrElse((g, b), 0L))
      val arr = new Array[Option[Long]](nBuckets - 1)
      for (b <- 1 until nBuckets) {
        val r = b * n / nBuckets
        if (r >= 1L) {
          val bin = cum.lastIndexWhere(_ < r)
          need += Bound(qid, g, bin, r - cum(bin))
          arr(b - 1) = Some(qid)
          qid += 1
        } else arr(b - 1) = None
      }
      slots(g) = arr
    }
    // every boundary element resolves through the tie-aware rank
    // selector in shared passes (see rankBuckets: a bounded top-j is
    // quadratic when ties concentrate a group's mass in one bin)
    val resolved: Map[Long, (Double, Long)] =
      if (need.isEmpty) Map.empty
      else {
        val tags = broadcast(need.toSeq.map(b => (b.qid, b.g, b.bin))
          .toDF("__q", "__g", "__bin"))
        val rows = cached
          .select(gk.as("__g"), s(col(scoreCol)).as("__s"),
            col(idCol).cast("long").as("__id"))
          .join(envDf, Seq("__g"))
          .select(col("__g"), binOf.as("__bin"), col("__id"),
            col("__s"))
          .join(tags, Seq("__g", "__bin"))
          .select(col("__q").as("qid"), col("__s").as("s"),
            col("__id").as("id"))
        RankSelect.selectRankPairs(rows,
          need.map(b => b.qid -> b.j).toMap)
      }
    // broadcast per-group boundary arrays; sentinel = below everything
    val bndDf = broadcast(slots.toSeq.map { case (g, arr) =>
      (g, arr.toSeq.map {
        case Some(q) => resolved(q)
        case None    => (Double.NegativeInfinity, Long.MinValue)
      })
    }.toDF("__g", "__raw")
      .select(col("__g"), transform(col("__raw"),
        x => struct(x("_1").as("bs"), x("_2").as("bid"))).as("__bnds")))
    val rowKey = struct(s(col(scoreCol)).as("bs"),
      col(idCol).cast("long").as("bid"))
    cached
      .join(bndDf, gk === col("__g"))
      .withColumn("bucket",
        (lit(1) + size(filter(col("__bnds"), x => rowKey > x)))
          .cast("int"))
      .drop("__g", "__bnds")
  }

  /** The scale-correct global top-N: histogram-threshold selection.
    * One min/max pass, one bounded `histBins`-row histogram to the
    * driver, keep every row STRICTLY above the boundary bin, and
    * resolve the boundary bin alone with a bounded top-j aggregation
    * (j = what remains of `keepN`). Never a global sort, never a
    * single-task `limit(keepN)`. Input needs (id, score) columns; ties
    * resolve (score DESC, id ASC). Returns all input columns of the
    * selected rows.
    */
  private[graft] def selectTopNByScore(scored: DataFrame, keepN: Int,
      histBins: Int): DataFrame = {
    // The selector makes several passes (stats, histogram, two filters);
    // without materialization each pass recomputes the caller's ENTIRE
    // upstream pipeline (for dsirResample: featurize + joins + fold —
    // 6× measured at sf0.1). localCheckpoint rather than persist: the
    // materialized copy is GC-cleaned once the returned frame is
    // unreferenced (a persist here leaks one corpus-wide cache entry
    // per call — CacheManager pins it for the session). The frame is
    // only the caller's (id, score, ...) projection — narrow rows,
    // MEMORY_AND_DISK by default — so this holds at corpus scale.
    val cached = scored.localCheckpoint(true)
    // one pass for all three scalars, not a count() plus a min/max agg
    val stats = cached
      .agg(count(lit(1)), min(col("score")), max(col("score"))).collect()(0)
    val total = stats.getLong(0)
    if (total <= keepN) return cached
    val (mn, mx) = (stats.getDouble(1), stats.getDouble(2))
    // degenerate range: every score identical — all ties, resolve by id
    val width = if (mx > mn) (mx - mn) / histBins else 1.0
    val bin = least(
      floor((col("score") - lit(mn)) / lit(width)).cast("int"),
      lit(histBins - 1))
    val withBin = cached.withColumn("__bin", bin)
    val hist = withBin.groupBy(col("__bin")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // walk bins from the top until keepN is covered
    var above = 0L
    var cut = histBins - 1
    while (cut >= 0 && above + hist.getOrElse(cut, 0L) < keepN) {
      above += hist.getOrElse(cut, 0L)
      cut -= 1
    }
    val needFromCut = (keepN - above).toInt
    val kept = withBin.filter(col("__bin") > cut)
    // boundary bin: bounded top-j on (score DESC, id ASC)
    val boundary = withBin.filter(col("__bin") === cut)
    val boundaryIds = TopK.topKPerQuery(
      boundary.select(lit(0L).as("query_id"), col("id").as("neighbor_id"),
        col("score").as("sim")), needFromCut)
      .select(col("neighbor_id").as("id"))
    kept.unionByName(boundary.join(boundaryIds, Seq("id"), "left_semi"))
      .drop("__bin")
  }

  /** EXACT quantiles of a numeric column without a global sort — the
    * distribution numbers a data card publishes (p50/p99 doc length,
    * score cut points) computed at any corpus size by histogram
    * refinement: each round bins the current candidate interval into
    * `histBins`, ONE bounded histogram comes to the driver, the bin
    * holding the target rank becomes the next interval, and exact
    * boundary counts re-anchor the rank bookkeeping — so the interval
    * population shrinks ~`histBins`× per round (2–3 rounds in
    * practice) until one bounded `collectCap` collect finishes the
    * job. `approx_percentile` answers this with error bars; a window
    * `ntile`/sort answers it with a corpus-wide sort — this is the
    * exact answer at histogram cost, the same recipe as
    * [[selectTopNByScore]] pointed at ranks instead of top-N.
    *
    * Rank rule: quantile q = the max(1, ⌈q·n⌉)-th smallest — DuckDB's
    * `quantile_disc` (verified empirically), so q_quantiles compares
    * bit-exactly: the answer is an exact element of the data, not an
    * interpolation. NaN/null values are excluded (SQL aggregate
    * semantics); ±∞ rejected fail-loud. Ties need no tie-break — the
    * k-th smallest VALUE is unique even when rows are not.
    */
  def exactQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
      histBins: Int = 100000, collectCap: Int = 100000,
      maxRounds: Int = 64): DataFrame = {
    // one constant group: the grouped engine refines ALL qs in shared
    // passes (one histogram round covers every still-active quantile)
    // and carries the exact-count invariant repair — one code path to
    // keep correct instead of two
    groupedExactQuantiles(
      df.select(lit("all").as("__g"), col(valueCol).cast("double")
        .as(valueCol)),
      "__g", valueCol, qs, histBins = histBins, collectCap = collectCap,
      maxGroups = 1, maxRounds = maxRounds)
      .select(col("q"), col("value"))
  }

  /** Curriculum training order as data (Bengio et al. 2009's
    * easy-to-hard schedule materialized): stage = the doc's
    * [[rankBuckets]] bucket on a difficulty score (ascending default —
    * e.g. length for the classic short-first curriculum), and inside
    * each stage a deterministic (shard, position) by the
    * [[CorpusAnalysis.epochShuffle]] recipe (spread by one 60-bit
    * hash, ordered by it within the shard) — so a trainer consumes
    * stages in order, shards of a stage in parallel, rows of a shard
    * by position, and any worker can recompute its shard
    * independently. NO global sort anywhere: the stage cut is the
    * histogram-boundary bucket resolution, and the only window is
    * per-(stage, shard) — corpus/(nStages·shards) rows per partition.
    *
    * Shard geometry is SELF-SIZING: `shards = 0` (the default) derives
    * the shard count from the corpus count so each (stage, shard)
    * window partition holds ≈ `targetShardRows` rows (the
    * [[Similarity]] autoPlanes pattern — one cheap count against the
    * already-materialized staged frame), clamped to [16, 65536]. An
    * EXPLICIT `shards` is gated fail-loud when the estimated rows per
    * partition exceed `maxShardRows` — a 1e12-doc corpus under a
    * hand-picked shards=16 would otherwise sort ~1.5e10 rows in
    * single tasks; nothing else in the plan stops that. Output:
    * (id, stage, shard, position); bit-replicable (q_curriculum), and
    * auto-sized output ≡ the explicit-shards output at the same
    * geometry (spec-pinned).
    */
  def curriculumOrder(scored: DataFrame, idCol: String, scoreCol: String,
      nStages: Int, shards: Int = 0, ascending: Boolean = true,
      salt: String = "curriculum", histBins: Int = 100000,
      targetShardRows: Long = 4000000L,
      maxShardRows: Long = 32000000L): DataFrame = {
    require(shards >= 0,
      s"shards must be >= 1, or 0 to auto-size, got $shards")
    require(targetShardRows >= 1 && maxShardRows >= targetShardRows,
      s"need 1 <= targetShardRows <= maxShardRows, got " +
        s"($targetShardRows, $maxShardRows)")
    import org.apache.spark.sql.expressions.Window
    val staged = rankBuckets(scored, idCol, scoreCol, nStages,
      ascending, histBins)
    // count hits rankBuckets' localCheckpoint materialization — one
    // cheap narrow job, not a recompute of the caller's pipeline
    val n = staged.count()
    val effShards =
      if (shards == 0) autoShards(n, nStages, targetShardRows)
      else {
        val perPart = n / (nStages.toLong * shards)
        require(perPart <= maxShardRows,
          s"curriculumOrder: ~$perPart rows per (stage, shard) window " +
            s"partition ($n rows / ($nStages stages x $shards shards)) " +
            s"exceeds maxShardRows=$maxShardRows — raise shards or " +
            "pass shards = 0 to auto-size")
        shards
      }
    val h = TextFunctions.md5Hash60(
      concat(lit(s"$salt:"), col("id").cast("string")))
    staged
      .select(col(idCol).cast("long").as("id"), col("bucket").as("stage"))
      .withColumn("__h", h)
      .withColumn("shard",
        pmod(col("__h"), lit(effShards.toLong)).cast("int"))
      .withColumn("position", row_number().over(
        Window.partitionBy(col("stage"), col("shard"))
          .orderBy(col("__h"), col("id"))).cast("long"))
      .select(col("id"), col("stage"), col("shard"), col("position"))
  }

  /** Shard count giving ≈ `targetShardRows` rows per (stage, shard)
    * window partition, clamped to [16, 65536] — the
    * [[Similarity]] autoPlanes recipe applied to curriculum geometry.
    */
  private[graft] def autoShards(n: Long, nStages: Int,
      targetShardRows: Long): Int = {
    val s = math.ceil(n.toDouble /
      (math.max(1, nStages).toDouble * targetShardRows)).toLong
    math.min(1L << 16, math.max(16L, s)).toInt
  }

  /** APPROXIMATE per-group quantiles at unbounded group cardinality —
    * the operator [[groupedExactQuantiles]]'s own scaladoc points
    * per-DOMAIN-scale users at: one fixed-bin histogram sketch per
    * group, computed in a single corpus aggregation keyed on
    * (group, bucket), merged and cut entirely at BUCKET level — no
    * driver state per group (nothing collects), no group-cardinality
    * gate, no corpus-sized window. A crawl with 50M domains pays one
    * keyed shuffle of (group, bucket) rows and two sketch-level
    * shuffles of ≤ `nBins` rows per group.
    *
    * Error contract (documented, deterministic): values bin into
    * `nBins` equal-width buckets over the CALLER-SUPPLIED [lo, hi]
    * envelope; the answer for quantile q is the LOWER EDGE of the
    * bucket holding the group-local rank max(1, ⌈q·n_g⌉) — the same
    * rank rule as [[groupedExactQuantiles]] — so the absolute error is
    * bounded by one bucket width (hi−lo)/nBins whenever the group's
    * values lie inside the envelope (out-of-range values clamp into
    * the edge buckets: ranks stay consistent, but the bound no longer
    * covers them — size the envelope from domain knowledge or a prior
    * [[exactQuantiles]] pass over a sample). Every arithmetic step is
    * a deterministic {−,/,floor,min,max,ceil} over doubles, so the
    * result is independent of partitioning and replicates bit-for-bit
    * cross-engine (q_approx_group_quantiles) — unlike
    * `approx_percentile`, whose sketch is merge-order-dependent.
    * Null groups and null/NaN values are excluded.
    * Returns (group, q, value).
    */
  def approxGroupedQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double], lo: Double, hi: Double,
      nBins: Int = 4096): DataFrame = {
    require(qs.nonEmpty, "approxGroupedQuantiles: no quantiles requested")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    require(lo < hi && !lo.isInfinite && !hi.isInfinite,
      s"approxGroupedQuantiles: need a finite envelope lo < hi, " +
        s"got [$lo, $hi]")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val w = (hi - lo) / nBins
    val bucket = least(greatest(
      floor((col("v") - lit(lo)) / lit(w)), lit(0L)),
      lit(nBins - 1L)).cast("int")
    // the ONE corpus-sized shuffle: (group, bucket) counts
    val counts = df
      .select(col(groupCol).cast("string").as("group"),
        col(valueCol).cast("double").as("v"))
      .filter(col("group").isNotNull && col("v").isNotNull &&
        !col("v").isNaN)
      .groupBy(col("group"), bucket.as("__b"))
      .agg(count(lit(1)).as("__c"))
    // sketch-level cut: ≤ nBins rows per group from here on
    val gWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("group"))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(gWin.orderBy(col("__b"))))
      .withColumn("__n", sum(col("__c")).over(gWin))
    val qDf = broadcast(qs.toDF("q"))
    cum.join(qDf)
      .groupBy(col("group"), col("q"))
      .agg(min(when(col("__cum") >=
        greatest(lit(1L), ceil(col("q") * col("__n"))), col("__b")))
        .as("__mb"))
      .select(col("group"), col("q"),
        (lit(lo) + col("__mb") * lit(w)).as("value"))
  }

  /** APPROXIMATE per-group rank buckets at unbounded group cardinality
    * — the crawl-scale twin of [[groupedRankBuckets]], whose
    * `maxGroups`/driver-histogram gates are right for languages and
    * sources but impossible for per-DOMAIN tiers over a 50M-domain
    * crawl. Same recipe as [[approxGroupedQuantiles]] pointed at the
    * rank-cut rule: scores bin into `nBins` equal-width buckets over
    * the CALLER-SUPPLIED [lo, hi] envelope, ONE corpus-keyed
    * aggregation builds the (group, bin) sketch, each group's B−1
    * boundary ranks (the [[groupedRankBuckets]] rule — last rank of
    * bucket b is ⌊b·n_g/B⌋) cut at SKETCH level (cut bin = first bin
    * whose cumulative count covers the rank), and each row's bucket is
    * 1 + the number of cut bins strictly below its own bin. No driver
    * state per group (nothing collects), no group-cardinality gate, no
    * corpus-sized window; row assignment is one join of the corpus
    * against the per-group cut arrays keyed on the group.
    *
    * Error contract (documented, deterministic): a row whose bin
    * differs from every cut bin gets EXACTLY the bucket the exact
    * engine assigns; misassignment is confined to rows sharing a cut
    * bin — i.e. rows whose score lies within one bin width
    * (hi−lo)/nBins of a true boundary score (out-of-range values clamp
    * into the edge bins: bucket sizes stay consistent, but the
    * distance bound no longer covers them — size the envelope from
    * domain knowledge). The bucket is a deterministic function of
    * (group, bin), so ties, partitionings, and merge orders cannot
    * perturb it; every arithmetic step is {−,/,floor,min,max} over
    * doubles plus exact integer rank arithmetic, replicating
    * bit-for-bit cross-engine (q_approx_group_rank). Rows with a NULL
    * group or NULL/NaN score are excluded. `ascending = false` ranks
    * best-first on descending scores by traversing the bins
    * high-to-low — the envelope stays on the RAW scores either way.
    * Returns all input columns plus `bucket` (1 = first tier).
    */
  def approxGroupedRankBuckets(df: DataFrame, groupCol: String,
      scoreCol: String, nBuckets: Int, lo: Double, hi: Double,
      ascending: Boolean = true, nBins: Int = 4096): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    require(lo < hi && !lo.isInfinite && !hi.isInfinite,
      s"approxGroupedRankBuckets: need a finite envelope lo < hi, " +
        s"got [$lo, $hi]")
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val spark = df.sparkSession
    import spark.implicits._
    val w = (hi - lo) / nBins
    val gk = col(groupCol).cast("string")
    val sc = col(scoreCol).cast("double")
    // rank-ordered bin key: ascending walks bins low-to-high,
    // descending high-to-low — cum order is always key ASC
    def keyOf(s: Column): Column = {
      val b = least(greatest(floor((s - lit(lo)) / lit(w)), lit(0L)),
        lit(nBins - 1L)).cast("int")
      if (ascending) b else lit(nBins - 1) - b
    }
    val base = df.filter(gk.isNotNull && sc.isNotNull && !sc.isNaN)
    // the ONE corpus-sized shuffle: (group, key) counts
    val counts = base
      .groupBy(gk.as("__g"), keyOf(sc).as("__k"))
      .agg(count(lit(1)).as("__c"))
    // sketch-level cut: ≤ nBins rows per group from here on
    val gWin = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__g"))
    val cum = counts
      .withColumn("__cum", sum(col("__c")).over(gWin.orderBy(col("__k"))))
      .withColumn("__n", sum(col("__c")).over(gWin))
    val bDf = broadcast((1 until nBuckets).map(_.toLong).toDF("__bq"))
    // cut key of boundary b: first key covering rank ⌊b·n_g/B⌋; a
    // rank-0 boundary (empty leading bucket) cuts below every key
    val cuts = cum.join(bDf)
      .withColumn("__rb", expr(s"(__bq * __n) div $nBuckets"))
      .groupBy(col("__g"), col("__bq"))
      .agg(min(when(col("__cum") >= col("__rb"), col("__k"))).as("__mk"),
        max(col("__rb")).as("__rbv"))
      .select(col("__g"),
        when(col("__rbv") >= 1L, col("__mk")).otherwise(lit(-1))
          .as("__ck"))
    val bnds = cuts.groupBy(col("__g"))
      .agg(sort_array(collect_list(col("__ck"))).as("__cks"))
    if (nBuckets == 1) return base.withColumn("bucket", lit(1))
    // row assignment: join the per-group cut arrays (keyed on group —
    // distributes at any group cardinality; Catalyst broadcasts when
    // the cut table is small) and count cut bins strictly below
    base.join(bnds, gk === col("__g"))
      .withColumn("bucket",
        (lit(1) + size(filter(col("__cks"), x => x < keyOf(sc))))
          .cast("int"))
      .drop("__g", "__cks")
  }

  /** Per-group exact quantiles — [[exactQuantiles]] refined for EVERY
    * group simultaneously (per-source / per-language p50/p99 in a data
    * card): each round makes ONE pass that joins the corpus against a
    * broadcast table of the still-active (group, q) intervals, bins
    * in-interval rows, cumulative-sums per (group, q) with a
    * PARTITION-LOCAL window (≤ histBins rows per key — never a
    * corpus-sized window), and collects exactly one crossing-bin row
    * per active (group, q). Exact boundary re-anchors keep the rank
    * math precise; finished keys resolve with one more partition-local
    * window over their ≤ collectCap leaf rows. Total driver state is
    * O(groups · |qs|), gated by `maxGroups` fail-loud — per-source and
    * per-language cardinalities fit easily; per-DOMAIN quantiles at
    * crawl scale should use [[approxGroupedQuantiles]] instead (one
    * keyed pass, no per-group driver state, one-bucket-width error).
    *
    * Same rank rule as [[exactQuantiles]] (max(1, ⌈q·n_g⌉) within each
    * group = DuckDB `quantile_disc` under GROUP BY — q_group_quantiles
    * compares bit-exactly). Null groups and null/NaN values are
    * excluded; the group column is keyed by its cast-to-string form.
    */
  def groupedExactQuantiles(df: DataFrame, groupCol: String,
      valueCol: String, qs: Seq[Double], histBins: Int = 1024,
      collectCap: Int = 10000, maxGroups: Int = 10000,
      maxRounds: Int = 64): DataFrame =
    groupedExactQuantilesImpl(df, groupCol, valueCol, qs, histBins,
      collectCap, maxGroups, maxRounds, perturbForTest = false)

  /** [[groupedExactQuantiles]] with a fault-injection hook: when
    * `perturbForTest` is set, every round's proposed intervals are
    * shifted one bin off target BEFORE the exact recount, so the
    * invariant-repair path fires for (nearly) every active key every
    * round — the only way to deterministically exercise the repair
    * machinery, whose natural trigger is a half-ulp binning accident.
    * Results must still be exact (repair widens the offending edge
    * back); the batching spec asserts that under hundreds of
    * simultaneous repairs the round still runs a CONSTANT number of
    * jobs.
    */
  private[graft] def groupedExactQuantilesImpl(df: DataFrame,
      groupCol: String, valueCol: String, qs: Seq[Double],
      histBins: Int, collectCap: Int, maxGroups: Int, maxRounds: Int,
      perturbForTest: Boolean): DataFrame = {
    require(qs.nonEmpty, "groupedExactQuantiles: no quantiles requested")
    require(qs.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0,1], got $qs")
    require(histBins >= 2 && collectCap >= 1 && maxGroups >= 1 &&
      maxRounds >= 1, "groupedExactQuantiles: bad knobs")
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull && !col("v").isNaN)
      .localCheckpoint(true)
    val env = vals.groupBy(col("g"))
      .agg(count(lit(1)).as("n"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))
      .collect()
    require(env.nonEmpty, "groupedExactQuantiles: no non-null values")
    require(env.length <= maxGroups,
      s"groupedExactQuantiles: ${env.length} groups exceed maxGroups=" +
        s"$maxGroups — raise the gate or use an approximation")
    env.foreach(r => require(!r.getDouble(2).isInfinite &&
      !r.getDouble(3).isInfinite,
      s"groupedExactQuantiles: infinite values in group ${r.getString(0)}"))

    // state per (group, q-index); r is the group-local target rank
    case class St(lo: Double, hi: Double, cLess: Long, inCount: Long,
      r: Long)
    val state = scala.collection.mutable.LinkedHashMap.empty[(String, Int), St]
    for (row <- env; (q, qi) <- qs.zipWithIndex) {
      val n = row.getLong(1)
      state((row.getString(0), qi)) = St(row.getDouble(2), row.getDouble(3),
        0L, n, math.max(1L, math.ceil(q * n).toLong))
    }
    val done = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Double]
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"), col("qi")).orderBy(col("__b"))

    var rounds = 0
    var active = state.filter { case (k, s) =>
      s.inCount > collectCap && s.lo < s.hi }
    while (active.nonEmpty && rounds < maxRounds) {
      val ivals = broadcast(active.toSeq.map { case ((g, qi), s) =>
        (g, qi, s.lo, s.hi, (s.hi - s.lo) / histBins, s.r - s.cLess)
      }.toDF("g", "qi", "__lo", "__hi", "__w", "__rrem"))
      // one pass: bin counts + partition-local cumsum + crossing bin
      val crossing = vals.join(ivals, Seq("g"))
        .filter(col("v") >= col("__lo") && col("v") <= col("__hi"))
        .select(col("g"), col("qi"), col("__rrem"),
          least(floor((col("v") - col("__lo")) / col("__w")).cast("int"),
            lit(histBins - 1)).as("__b"))
        .groupBy(col("g"), col("qi"), col("__rrem"), col("__b"))
        .agg(count(lit(1)).as("__c"))
        .withColumn("__cum", sum(col("__c")).over(win))
        .filter(col("__cum") >= col("__rrem") &&
          col("__cum") - col("__c") < col("__rrem"))
        .select(col("g"), col("qi"), col("__b"))
        .collect().map(r2 => (r2.getString(0), r2.getInt(1)) -> r2.getInt(2))
        .toMap
      val next0 = active.map { case (k, s) =>
        val b = crossing(k)
        val w = (s.hi - s.lo) / histBins
        val newLo = if (b == 0) s.lo else s.lo + b * w
        val newHi = if (b >= histBins - 1) s.hi else s.lo + (b + 1) * w
        k -> (newLo, newHi)
      }
      // fault injection (see groupedExactQuantilesImpl): shift the
      // proposal one bin up (even qi — forces a lo-widen repair) or
      // down (odd qi — forces a hi-widen repair); skipped when the
      // shift would leave the group envelope or invert the interval
      val next = if (!perturbForTest) next0
      else next0.map { case (k, (nl, nh)) =>
        val s = state(k)
        val w = (s.hi - s.lo) / histBins
        val d = if (k._2 % 2 == 0) w else -w
        val (l2, h2) = (math.max(s.lo, math.min(s.hi, nl + d)),
          math.max(s.lo, math.min(s.hi, nh + d)))
        k -> (if (l2 < h2) (l2, h2) else (nl, nh))
      }
      val reDf = broadcast(next.toSeq.map { case ((g, qi), (nl, nh)) =>
        (g, qi, nl, nh) }.toDF("g", "qi", "__lo", "__hi"))
      val re = vals.join(reDf, Seq("g"))
        .groupBy(col("g"), col("qi"), col("__lo"), col("__hi"))
        .agg(sum(when(col("v") < col("__lo"), 1L).otherwise(0L)).as("__cl"),
          sum(when(col("v") >= col("__lo") && col("v") <= col("__hi"), 1L)
            .otherwise(0L)).as("__in"))
        .collect().map(r2 => (r2.getString(0), r2.getInt(1)) ->
          (r2.getLong(4), r2.getLong(5))).toMap
      // invariant repair: binning divides in FLOATING POINT, so a
      // value a half-ulp from a bin edge can land one bin off the
      // side its exact comparison against newLo/newHi implies — the
      // exact counts must bracket the rank (cLess < r <= cLess + in)
      // or the target value just fell out of the refined interval.
      // Widen the offending edge one bin and recount (exact counts
      // drive the decision; misbinning is at most one bin, so one
      // step per edge suffices — asserted after). BOTH edge decisions
      // come from the first recount — widening lo moves rows from
      // cLess into in, leaving cl + in (= rows <= hi) unchanged, so
      // the hi check is independent of the lo widen — and every
      // repaired key recounts in ONE broadcast-interval pass, the
      // same shape as the main round: an adversarial distribution
      // sending hundreds of groups into repair in the same round
      // costs one job, not hundreds of serial driver-loop jobs.
      val widened = next.map { case (k, (nl0, nh0)) =>
        val s = state(k)
        val (cl, in) = re(k)
        val w = (s.hi - s.lo) / histBins
        val nl = if (cl >= s.r) math.max(s.lo, nl0 - w) else nl0
        val nh = if (cl + in < s.r) math.min(s.hi, nh0 + w) else nh0
        k -> (nl, nh, cl, in, nl != nl0 || nh != nh0)
      }
      val toRecount = widened.collect {
        case (k, (nl, nh, _, _, true)) => (k._1, k._2, nl, nh) }.toSeq
      val recounted: Map[(String, Int), (Long, Long)] =
        if (toRecount.isEmpty) Map.empty
        else broadcast(toRecount.toDF("g", "qi", "__lo", "__hi"))
          .join(vals, Seq("g"))
          .groupBy(col("g"), col("qi"), col("__lo"), col("__hi"))
          .agg(sum(when(col("v") < col("__lo"), 1L).otherwise(0L))
              .as("__cl"),
            sum(when(col("v") >= col("__lo") && col("v") <= col("__hi"),
              1L).otherwise(0L)).as("__in"))
          .collect().map(r2 => (r2.getString(0), r2.getInt(1)) ->
            (r2.getLong(4), r2.getLong(5))).toMap
      val repaired = widened.map { case (k, (nl, nh, cl0, in0, wd)) =>
        val s = state(k)
        val (cl, in) = if (wd) recounted(k) else (cl0, in0)
        require(cl < s.r && s.r <= cl + in,
          s"groupedExactQuantiles: rank invariant unrepairable for $k " +
            s"(r=${s.r} cl=$cl in=$in) — widen histBins")
        k -> (nl, nh, cl, in)
      }
      // no-shrink keys: the interval spans a handful of adjacent
      // doubles (subnormal bin width) — resolve ALL of them by exact
      // per-value counts in one batched pass (bounded: each interval
      // holds only a few representable values)
      val noShrink = repaired.collect { case (k, (nl, nh, _, in))
        if nl == state(k).lo && nh == state(k).hi &&
          in == state(k).inCount => k }.toSet
      if (noShrink.nonEmpty) {
        val byVal = broadcast(noShrink.toSeq.map { k =>
            (k._1, k._2, state(k).lo, state(k).hi)
          }.toDF("g", "qi", "__lo", "__hi"))
          .join(vals, Seq("g"))
          .filter(col("v") >= col("__lo") && col("v") <= col("__hi"))
          .groupBy(col("g"), col("qi"), col("v")).count()
          .collect()
          .map(r2 => ((r2.getString(0), r2.getInt(1)),
            r2.getDouble(2), r2.getLong(3)))
          .groupBy(_._1)
        for (k <- noShrink) {
          val s = state(k)
          val vs = byVal(k).map(t => (t._2, t._3)).sortBy(_._1)
          var acc = s.cLess
          for ((v2, c2) <- vs if !done.contains(k)) {
            if (acc < s.r && s.r <= acc + c2) done(k) = v2
            acc += c2
          }
          if (!done.contains(k)) done(k) = vs.last._1
        }
      }
      for ((k, (nl, nh, cl, in)) <- repaired if !noShrink.contains(k))
        state(k) = St(nl, nh, cl, in, state(k).r)
      rounds += 1
      active = state.filter { case (k, s) =>
        !done.contains(k) && s.inCount > collectCap && s.lo < s.hi }
    }
    // degenerate intervals: every value in [lo, hi] equals lo
    for ((k, s) <- state if s.lo == s.hi && !done.contains(k))
      done(k) = s.lo
    // leaf: ≤ collectCap rows per key — partition-local row_number
    val leafKeys = state.keys.filterNot(done.contains).toSeq
    if (leafKeys.nonEmpty) {
      val leafDf = broadcast(leafKeys.map { k =>
        val s = state(k)
        (k._1, k._2, s.lo, s.hi, s.r - s.cLess)
      }.toDF("g", "qi", "__lo", "__hi", "__need"))
      val lwin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("g"), col("qi")).orderBy(col("v"))
      vals.join(leafDf, Seq("g"))
        .filter(col("v") >= col("__lo") && col("v") <= col("__hi"))
        .withColumn("__rn", row_number().over(lwin))
        .filter(col("__rn") === col("__need"))
        .select(col("g"), col("qi"), col("v"))
        .collect()
        .foreach(r2 => done((r2.getString(0), r2.getInt(1))) =
          r2.getDouble(2))
    }
    state.keys.toSeq.map { case (g, qi) => (g, qs(qi), done((g, qi))) }
      .toDF("group", "q", "value")
  }
}
