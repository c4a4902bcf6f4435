package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions
import graft.functions.TextFunctions

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB shape: every stage is a keyed shuffle (groupBy/join on hashes
  * or bucket ids) — there is NO all-pairs/cartesian step anywhere.
  *
  * - exact: hash-groupBy on a canonical fingerprint.
  * - minHashLsh: shingle → minhash signature → banded LSH buckets →
  *   candidate pairs from same-bucket docs only → exact-Jaccard verify
  *   (Broder 1997, "On the resemblance and containment of documents";
  *   banding per Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3).
  *   False positives are eliminated by verification; false-negative rate
  *   is the standard (1 - s^r)^b curve — with 64 hashes as 16 bands × 4
  *   rows, a 0.9-similar pair is missed with p < 1e-8.
  * - simHash: 64-bit simhash (Charikar 2002, "Similarity estimation
  *   techniques from rounding algorithms"); near-dup candidates via block-match
  *   (Hamming-distance pigeonhole: any pair within distance d ≤ 3 shares
  *   at least one of 4 identical 16-bit blocks), verified by bit_count.
  */
object Dedup {

  /** One bucket-table observation per generator invocation (names must
    * be unique within a query — a pipeline composing several
    * generators carries several CollectMetrics nodes).
    */
  private val bucketObsSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Observed bucket-table health of one capped candidate generator:
    * how many buckets the grouping produced and how many exceeded the
    * cap and were DROPPED (each dropped bucket held MORE than the cap's
    * worth of members — the bounded collect truncates at cap+1, so the
    * true population is unknowable by design). Without this, a
    * production run cannot distinguish "no near-dups" from "all my
    * near-dups sat in dropped buckets" (the 1M-vector 6-plane trap
    * `ScaleSmoke` demonstrates).
    */
  final case class BucketStats(operator: String, bucketsTotal: Long,
      bucketsDropped: Long)

  /** Attach the dropped-bucket observation to a bucket table (rows =
    * one bucket, `sizeCol` = collected-member count) — a CollectMetrics
    * node, evaluated for free by whatever action the caller eventually
    * runs; no extra pass, no shuffle.
    */
  private def observeBuckets(buckets: DataFrame, op: String,
      sizeCol: Column, cap: Int): DataFrame =
    buckets.observe(s"graft_buckets_${op}_${bucketObsSeq.incrementAndGet()}",
      coalesce(count(lit(1)), lit(0L)).as("buckets_total"),
      coalesce(sum(when(sizeCol > cap, 1L).otherwise(0L)), lit(0L))
        .as("buckets_dropped"))

  /** Read back the [[BucketStats]] of every capped generator in `df`'s
    * plan. Valid AFTER an action has executed `df`'s own query
    * (collect / write / foreach). NOTE: `df.count()` runs a SEPARATE
    * counting query — its metrics land on that execution, and this
    * helper (reading `df.queryExecution`) reports zeros; frames built
    * on top of `df` likewise carry the metrics on their own execution
    * (read them there, or via a QueryExecutionListener). Returns zeros
    * if nothing has executed yet, empty if the plan has no generator.
    */
  def bucketStats(df: DataFrame): Seq[BucketStats] =
    df.queryExecution.observedMetrics.toSeq.collect {
      case (name, row) if name.startsWith("graft_buckets_") =>
        BucketStats(name.stripPrefix("graft_buckets_")
          .replaceAll("_\\d+$", ""),
          row.getAs[Long]("buckets_total"),
          row.getAs[Long]("buckets_dropped"))
    }.sortBy(_.operator)

  /** Materialize `df` with ONE count action and return the
    * [[BucketStats]] that execution observed — the capture path for
    * pipelines that consume a generator's output INTERNALLY (e.g.
    * [[nearDedup]]'s clustering loop checkpoints the edge table, which
    * materializes the pairs plan outside any listener-visible action
    * and discards the metrics with it — empirically, both
    * `localCheckpoint` and collects on downstream-of-checkpoint frames
    * read back EMPTY, not zeros).
    * Cache `df` first when the caller will reuse it: this count is then
    * the cache-populating action, and later consumers read the cache.
    * Must run BEFORE any other action/caching has materialized `df` —
    * a cache hit skips the generator and observes nothing. Metric
    * delivery is asynchronous (QueryExecutionListener); the bounded
    * wait below is keyed on the metric names present in the analyzed
    * plan, so a generator-free frame returns immediately after its
    * count.
    */
  def bucketStatsViaAction(df: DataFrame): Seq[BucketStats] = {
    if (!df.queryExecution.analyzed.exists {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics =>
        c.name.startsWith("graft_buckets_")
      case _ => false
    }) { df.count(); return Nil }
    // The flush is an explicit count Dataset so ITS QueryExecution can
    // be reference-matched in the listener: whatever bucket metrics
    // that execution observed are harvested, and the wait ends when the
    // event for THIS action arrives — never a deadline stall, even when
    // a degenerate pipeline constant-folded the observed subtree away
    // (the event then simply carries no graft metrics). This sidesteps
    // plan introspection entirely — cached frames (InMemoryRelation
    // wrapping an adaptive plan) report through the same event.
    val cnt = df.groupBy().count()
    val targetQe = cnt.queryExecution
    val captured =
      new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    @volatile var delivered = false
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        if (qe eq targetQe) {
          qe.observedMetrics.foreach { case (n, r) =>
            if (n.startsWith("graft_buckets_"))
              captured.put(n, (r.getAs[Long]("buckets_total"),
                r.getAs[Long]("buckets_dropped")))
          }
          delivered = true
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit =
        if (qe eq targetQe) delivered = true
    }
    val spark = df.sparkSession
    spark.listenerManager.register(listener)
    try {
      cnt.collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!delivered && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    captured.asScala.toSeq.sortBy(_._1).map { case (n, (total, dropped)) =>
      BucketStats(n.stripPrefix("graft_buckets_").replaceAll("_\\d+$", ""),
        total, dropped)
    }
  }

  /** Exact duplicate groups by canonical fingerprint. Returns one row per
    * duplicated fingerprint: (fingerprint, dup_count, keeper_id) where
    * keeper is the smallest id — the row a dedup pass would retain.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("id"), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("dup_count"), min(col("id")).as("keeper_id"))

  /** Drop exact duplicates, keeping the smallest-id row per fingerprint.
    * One min_by aggregation — duplicates collapse during PARTIAL (map-
    * side) aggregation, so the shuffle carries one candidate row per
    * (fingerprint, input partition); the window-function formulation
    * this replaces shuffled every row before ranking.
    */
  def exactDedup(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cols = docs.columns
    docs
      .groupBy(TextFunctions.fingerprint(col(textCol)).as("__fp"))
      .agg(min_by(struct(cols.map(col): _*), col(idCol)).as("__row"))
      .select(cols.map(c => col("__row").getField(c).as(c)): _*)
  }

  /** Priority-ordered multi-corpus merge: union the sources (position =
    * priority, 0 highest — curated sets first, crawls last) and
    * collapse exact duplicates ACROSS sources to the single copy from
    * the highest-priority source (ties within a source: smallest id) —
    * the standard "curated-over-crawl" rule when assembling a training
    * mixture from overlapping corpora. Returns (source, id, text);
    * `source` is the winning corpus' position.
    *
    * Same plan shape as [[exactDedup]]: ONE min_by aggregation on the
    * canonical fingerprint, keeper chosen by the (source, id) struct
    * order, duplicates collapsing map-side — the union is a zero-cost
    * plan node, never a shuffle of its own.
    */
  def mergeCorpora(sources: Seq[DataFrame], idCol: String,
      textCol: String): DataFrame = {
    require(sources.nonEmpty, "mergeCorpora needs at least one source")
    sources.foreach(TopK.requireIntegral(_, idCol, "mergeCorpora"))
    val tagged = sources.zipWithIndex.map { case (df, i) =>
      df.select(lit(i).as("source"), col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("text"))
    }.reduce(_ unionByName _)
    tagged
      .groupBy(TextFunctions.fingerprint(col("text")).as("__fp"))
      .agg(min_by(struct(col("source"), col("id"), col("text")),
        struct(col("source"), col("id"))).as("__row"))
      .select(col("__row.source").as("source"), col("__row.id").as("id"),
        col("__row.text").as("text"))
  }

  /** Snapshot delta — what a re-crawl changed, keyed by the document id
    * (the crawl's stable key): per-doc status `added` (id only in
    * `cur`), `removed` (only in `old`), `changed` (both, canonical
    * fingerprints differ), `unchanged`. Presence is tracked by marker
    * columns, NOT fingerprint nullness, so null-text docs classify
    * correctly (their null fingerprints compare null-safely). Ids must
    * be unique within each snapshot — the join key IS the identity; run
    * [[exactDedup]] first if a snapshot can carry internal duplicates.
    *
    * Scale shape: each side is projected to (id, 16-byte fingerprint)
    * narrowly before the one id-keyed full-outer join — document text
    * never rides the shuffle, and the join carries fixed-width rows
    * only.
    */
  def snapshotDelta(old: DataFrame, cur: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    TopK.requireIntegral(old, idCol, "snapshotDelta")
    TopK.requireIntegral(cur, idCol, "snapshotDelta")
    def side(df: DataFrame, fp: String, mark: String): DataFrame =
      df.select(col(idCol).cast("long").as("id"),
        TextFunctions.fingerprint(col(textCol)).as(fp),
        lit(true).as(mark))
    side(old, "__fp_old", "__in_old")
      .join(side(cur, "__fp_new", "__in_new"), Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("removed"))
          .when(col("__fp_old") <=> col("__fp_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** One-row rollup of [[snapshotDelta]]: the four status counts — the
    * crawl-health number an operator alerts on (a crawl that "changed"
    * 90% of the web didn't; the pipeline did). */
  def snapshotDeltaReport(delta: DataFrame): DataFrame = {
    def n(s: String) = coalesce(sum(when(col("status") === s, 1L)
      .otherwise(0L)), lit(0L)).as(s"n_$s")
    delta.agg(n("added"), n("removed"), n("changed"), n("unchanged"))
  }

  /** Streaming exact dedup — the live-intake form of `exactDedup`: emit
    * each fingerprint's FIRST arrival, drop later exact duplicates.
    * `dropDuplicatesWithinWatermark` keys the state on the canonical
    * fingerprint and expires entries once the watermark on `tsCol`
    * passes them — state is O(distinct fingerprints within the lateness
    * horizon), never unbounded. A duplicate arriving after its
    * original's state expired is re-emitted: the standard bounded-state
    * trade (compose with a periodic batch `exactDedup` for exactness).
    */
  def streamingExactDedup(docs: DataFrame, textCol: String, tsCol: String,
      lateness: String = "1 hour"): DataFrame = {
    val cols = docs.columns
    docs
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("__fp")
      .select(cols.map(col): _*)
  }

  /** Universal-hash parameters for minhash: h_i(x) = (a_i*x + b_i) mod p.
    * Deterministic (fixed seed), odd multipliers. Parameters and the
    * hashed input are kept under 2^31 so a_i*x + b_i stays well below
    * 2^63 — no 64-bit overflow under ANSI mode. Canonical generator
    * lives in [[graft.expressions.TextKernels]] (the native kernel and
    * this module must agree).
    */
  private[graft] val HashPrime = graft.expressions.TextKernels.HashPrime
  private[graft] def hashParams(numHashes: Int): Seq[(Long, Long)] =
    graft.expressions.TextKernels.hashParams(numHashes)

  /** MinHash signatures: one row per doc, `sig` = array of numHashes
    * minima over the doc's shingle hashes. SHUFFLE-FREE, SINGLE-PASS,
    * and CODEGEN'D: the tokenize → shingle → md5-60 → 64-lane min fold
    * runs as one native kernel expression per row
    * ([[graft.expressions.MinHashSigExpr]]) — the earlier `aggregate` +
    * `zip_with` HOF fold computed the same values but interpreted every
    * lambda application (measured as the dominant cost of the pipeline),
    * and the explode + 64-buffer groupBy before THAT paid a full shuffle
    * of every shingle hash; at 100 TB the shuffle, then the lambda
    * interpretation, were the bottlenecks. The hash stays md5-derived
    * (not xxhash64) so signatures remain replicable by any engine —
    * externally oracle-checkable. Docs with no shingles (< 3 tokens,
    * or null text) keep the sentinel signature (every lane = HashPrime,
    * unattainable for a real doc since the fold's mod p < p): downstream,
    * sentinel docs can only pair with each other, the bucket cap bounds
    * them, and Jaccard verification scores them 0 — results unchanged.
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64): DataFrame = {
    docs
      .select(col(idCol).as("id"),
        coalesce(
          graft.expressions.TextHashExprs.minhashSig(col(textCol), numHashes),
          array_repeat(lit(HashPrime), numHashes)).as("sig"))
  }

  /** The per-band bucket keys of a minhash signature: band id →
    * md5 of the comma-joined signature slice (NOT Spark's murmur3
    * `hash`: md5-of-rendered-longs is the one band hash every engine
    * computes identically). The transform lambda references `sig` once
    * — an array literal of `bands` slices would inline the signature
    * pipeline `bands` times.
    */
  private def bandSigs(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => md5(concat_ws(",",
        transform(slice(sig, b * rows + 1, lit(rows)),
          x => x.cast("string")))))

  /** Near-duplicate pairs via banded LSH + exact-Jaccard verification.
    * Returns (a, b, jaccard) with a < b and jaccard ≥ threshold.
    *
    * Plan shape: explode bands → ONE groupBy on (band, band_sig)
    * collecting the bucket's doc ids (bounded by `maxBucket`, so the
    * list is a capped scalar array, never corpus-sized) → pair
    * expansion by double-explode → distinct → Jaccard verify. One
    * keyed shuffle builds the buckets and one dedups the pairs — the
    * earlier size-filter-branch + self-join formulation computed the
    * same candidate set but paid two extra shuffle stages (join back
    * to the size filter, then the self-join) per query; at 100 TB
    * those are two full passes of the banded table over the network.
    * Skew guard: buckets larger than `maxBucket` docs are dropped (a
    * degenerate bucket means the band hash collapsed, e.g.
    * all-identical boilerplate; real systems cap exactly like this to
    * bound the quadratic within-bucket blowup — and here the cap also
    * bounds the collected array). Ids must be INTEGRAL (they ride the
    * bounded buckets as longs — the contract shared with
    * nearDupClusters and TopK; map string ids to integers upstream,
    * enforced fail-loud via [[TopK.requireIntegral]]).
    */
  def minHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    TopK.requireIntegral(docs, idCol, "minHashNearDupPairs")
    val rows = numHashes / bands
    val sigs = minHashSignatures(docs, idCol, textCol, numHashes)

    val banded = sigs.select(col("id"), posexplode(bandSigs(col("sig"),
        bands, rows)))
      .toDF("id", "band", "band_sig")

    // one shuffle builds the buckets via BOUNDED collect (buffer is
    // O(maxBucket) even for a degenerate bucket — a plain collect_list
    // would materialize the whole bucket before the size filter); the
    // size filter then drops oversized (truncated) buckets, and the
    // double explode expands each bucket's ordered pairs with no
    // further join. Ids ride as longs (integral-id contract shared
    // with nearDupClusters/TopK).
    //
    // The aggregation is materialized ONCE (localCheckpoint): it feeds
    // the candidate pairs AND the two verify-side prefilters below —
    // without the checkpoint each consumer would re-run the corpus-wide
    // signature + banding shuffle. The observe node sits ABOVE the
    // checkpoint on the candidates branch only, so bucket stats still
    // ride the result frame's own execution (the bucketStats /
    // curateWithStats contract) and fire exactly once per action.
    val bounded = TopK.boundedCollect[Long](maxBucket)
    val bucketsAgg = banded.groupBy(col("band"), col("band_sig"))
      .agg(bounded(col("id").cast("long")).as("ids"))
      .localCheckpoint(true)
    def keep = size(col("ids")) > 1 && size(col("ids")) <= maxBucket
    val buckets = observeBuckets(bucketsAgg,
      "minhash", size(col("ids")), maxBucket)
      .filter(keep)
    val candidates = buckets
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()

    // guide §3.2 (pre-filter the big side): only docs that SHARE a kept
    // bucket can appear in a candidate pair, so both verification sides
    // are semi-joined to the bucket membership before the (expensive)
    // per-doc gram-set projection runs — the grams of the rest of the
    // corpus are never built. needIds is exploded straight off the
    // checkpointed agg (no observe: metrics must fire once, on the
    // candidates branch); no distinct — the semi-join hash build dedups,
    // and dropping it saves a shuffle.
    def needIds = bucketsAgg.filter(keep)
      .select(explode(col("ids")).as("__cid"))
    def prefilter(side: DataFrame): DataFrame =
      side.join(needIds, side(idCol).cast("long") === col("__cid"),
        "leftsemi")
    verifyJaccardSides(prefilter(docs), prefilter(docs), idCol, textCol,
      candidates, threshold)
  }

  /** Exact word-shingle Jaccard for the candidate pairs only. The pair
    * set is joined against the docs twice (a-side, b-side) and the
    * Jaccard is per-pair array math — NO corpus-wide shingle explode:
    * the earlier formulation shuffled every shingle of every doc three
    * times (sizes, a-join, b-join); this one is two scans of the corpus
    * with (AQE-broadcastable) joins on the small candidate set, and
    * compute proportional to candidate pairs.
    */
  def verifyJaccard(docs: DataFrame, idCol: String, textCol: String,
      candidates: DataFrame, threshold: Double): DataFrame =
    verifyJaccardSides(docs, docs, idCol, textCol, candidates, threshold)

  /** [[verifyJaccard]] with distinct relations for the two pair sides —
    * when candidates are cross-side by construction (snapshot vs
    * corpus), building the b-side gram projection from the full union
    * would run the most expensive per-doc computation over docs that
    * can never appear on that side.
    */
  def verifyJaccardSides(aSrc: DataFrame, bSrc: DataFrame, idCol: String,
      textCol: String, candidates: DataFrame, threshold: Double): DataFrame = {
    // shingle sets are computed ONCE per doc in the join-side projections
    // (a doc appearing in m candidate pairs would otherwise rebuild its
    // n-grams m times); per-pair work is then pure array set math. The
    // gram construction is the native kernel (null text → empty set,
    // matching the HOF form's when/otherwise)
    verifyJaccardGramSides(
      aSrc.select(col(idCol).as("a"), gramSet(col(textCol)).as("__ga")),
      bSrc.select(col(idCol).as("b"), gramSet(col(textCol)).as("__gb")),
      candidates, threshold)
  }

  /** The word-trigram shingle set the verification compares — exposed
    * as a Column so a persisted index can precompute it.
    */
  private[graft] def gramSet(text: Column): Column =
    array_distinct(coalesce(
      graft.expressions.TextHashExprs.ngramsNative(text, 3),
      array().cast("array<string>")))

  /** Gram-level Jaccard verification: `aGrams` = (a, __ga),
    * `bGrams` = (b, __gb) with precomputed shingle sets — the shared
    * tail of [[verifyJaccardSides]] and the indexed incremental path
    * (identical expressions, so precomputed and on-the-fly gram sets
    * verify identically).
    */
  private[graft] def verifyJaccardGramSides(aGrams: DataFrame,
      bGrams: DataFrame, candidates: DataFrame,
      threshold: Double): DataFrame = {
    val inter = size(array_intersect(col("__ga"), col("__gb")))
    val union = size(col("__ga")) + size(col("__gb")) - inter
    candidates
      .join(aGrams, Seq("a"))
      .join(bGrams, Seq("b"))
      .withColumn("jaccard",
        when(union > 0, inter.cast("double") / union).otherwise(lit(0.0)))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Embedding-cosine near-duplicate pairs: LSH buckets generate
    * candidates (keyed equi-join, no cartesian), exact cosine verifies.
    * Returns (a, b, cosine) with a < b and cosine ≥ threshold. The
    * all-pairs-within-bucket step is bounded by the same bucket-cap
    * reasoning as the minhash path; recall follows the multi-table LSH
    * curve (see Similarity.lshBucketedTopK).
    */
  /** `integer = true` buckets on exact integer hyperplane dots (for
    * integer-quantized vectors): signatures, candidates, and the
    * integer-valued cosine are then bit-identical across engines —
    * the externally oracle-checkable twin (q_emb_near_dup_int) of the
    * float path, same plan shape.
    */
  def embeddingNearDupPairs(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, planes: Int = 0, tables: Int = 4,
      maxBucket: Int = 1000, integer: Boolean = false): DataFrame = {
    TopK.requireIntegral(docs, idCol, "embeddingNearDupPairs")
    // planes = 0 auto-sizes the geometry from a corpus count (one
    // count() action) — a fixed plane count is the silent recall
    // collapse Similarity.autoPlanes documents: at 1M vectors the old
    // 6-plane default put EVERY vector in an over-cap bucket and
    // returned zero pairs with no error
    val p = if (planes == 0)
      Similarity.autoPlanes(docs.count(), math.max(16L, maxBucket / 4L))
    else planes
    val bucketed = Similarity.lshBuckets(docs, idCol, vecCol, p, tables,
        integer)
      .toDF("id", "v", "tbl", "bucket")
    // one shuffle builds the capped buckets via BOUNDED collect (the
    // buffer holds at most maxBucket+1 members — with vectors, a
    // degenerate bucket under plain collect_list would hold every
    // member's embedding before the size filter), then the double
    // explode expands ordered pairs — same shape as the minhash path,
    // two fewer shuffles than a size-branch + self-join. Vectors are
    // widened to double (exact for float and for quantized longs), so
    // the cosine values are unchanged. Cosine before distinct: dedup
    // shuffles (a, b, double) rows, not embedding arrays.
    val bounded = TopK.boundedCollect[(Long, Seq[Double])](maxBucket)
    val buckets = observeBuckets(
      bucketed.groupBy(col("tbl"), col("bucket"))
        .agg(bounded(col("id").cast("long"),
          col("v").cast("array<double>")).as("ms")),
      "embedding", size(col("ms")), maxBucket)
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
    buckets
      .select(explode(col("ms")).as("m1"), col("ms"))
      .select(col("m1"), explode(col("ms")).as("m2"))
      .filter(col("m1._1") < col("m2._1"))
      .select(col("m1._1").as("a"), col("m2._1").as("b"),
        // evalOnce: the cosine >= threshold filter would otherwise
        // carry a second copy of the kernel
        graft.expressions.BarrierExprs.evalOnce(
          Similarity.cosineNative(col("m1._2"), col("m2._2"))).as("cosine"))
      .distinct() // a pair can collide in several tables
      .filter(col("cosine") >= threshold)
  }

  /** N-gram (word) Jaccard similarity of two text columns — scalar
    * building block for pairwise checks.
    */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column = {
    val sa = array_distinct(TextFunctions.ngrams(a, n))
    val sb = array_distinct(TextFunctions.ngrams(b, n))
    val inter = size(array_intersect(sa, sb))
    val union = size(sa) + size(sb) - inter
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  /** [[ngramJaccard]] with the gram sets built by the native kernel
    * (string grams — NOT hashes, so intersections are byte-identical to
    * the HOF/oracle semantics, collision-free by construction). The
    * HOF form above stays the portable reference.
    */
  private[graft] def ngramJaccardNative(a: Column, b: Column, n: Int = 3): Column = {
    def g(c: Column) = array_distinct(coalesce(
      graft.expressions.TextHashExprs.ngramsNative(c, n),
      array().cast("array<string>")))
    val sa = g(a)
    val sb = g(b)
    val inter = size(array_intersect(sa, sb))
    val union = size(sa) + size(sb) - inter
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  /** SimHash near-dup pairs: pigeonhole on 4 16-bit blocks (pairs within
    * Hamming distance ≤ maxDistance share ≥ 1 identical block when
    * maxDistance ≤ 3), verified with bit_count. Keyed join on
    * (block index, block value); no cartesian.
    */
  def simHashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDistance: Int = 3, maxBucket: Int = 1000): DataFrame = {
    TopK.requireIntegral(docs, idCol, "simHashNearDupPairs")
    // one native kernel per row: tokenize → md5-60 → 64 bit-counts →
    // majority fold (the HOF aggregate computed the same hash but
    // interpreted; null text → null simhash either way)
    val hashed = docs
      .select(col(idCol).as("id"),
        graft.expressions.TextHashExprs.simhash64Native(col(textCol)).as("sh"))
    hamming64Core(hashed, maxDistance, maxBucket, "simhash")
  }

  /** Candidate pairs within Hamming distance ≤ `maxDistance` over ANY
    * 64-bit signature column — the block-pigeonhole machinery behind
    * [[simHashNearDupPairs]] exposed for other signature families
    * (perceptual image hashes: [[Multimodal.imageNearDupPairs]]).
    * Pairs within distance ≤ 3 share at least one of the 4 16-bit
    * blocks (pigeonhole), so candidates come from a keyed join on
    * (block index, block value) — never an all-pairs comparison — and
    * exact `bit_count` verifies. Returns (a, b, distance), a < b.
    */
  def hamming64NearDupPairs(sigs: DataFrame, idCol: String,
      sigCol: String, maxDistance: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"block pigeonhole over 4 blocks covers maxDistance <= 3, " +
        s"got $maxDistance")
    TopK.requireIntegral(sigs, idCol, "hamming64NearDupPairs")
    hamming64Core(
      sigs.select(col(idCol).as("id"), col(sigCol).cast("long").as("sh")),
      maxDistance, maxBucket, "hamming64")
  }

  /** Shared pigeonhole tail: (id, sh) → 4 16-bit block keys → capped
    * (block, block_val) buckets (one shuffle, bounded collect) →
    * double-explode ordered pairs → exact bit_count verify. Same
    * bucket-then-pairs shape as the minhash path, two fewer shuffle
    * stages than the size-filter-branch + self-join formulation.
    */
  private def hamming64Core(hashed: DataFrame, maxDistance: Int,
      maxBucket: Int, label: String): DataFrame = {
    val blocks = hashed.select(col("id"), col("sh"), posexplode(
      transform(sequence(lit(0), lit(3)),
        i => GraftFunctions.shiftRight(col("sh"), i * 16)
          .bitwiseAND(0xFFFFL))))
      .toDF("id", "sh", "block", "block_val")

    val bounded = TopK.boundedCollect[(Long, Long)](maxBucket)
    val buckets = observeBuckets(
      blocks.groupBy(col("block"), col("block_val"))
        .agg(bounded(col("id").cast("long"), col("sh")).as("ms")),
      label, size(col("ms")), maxBucket)
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxBucket)
    buckets
      .select(explode(col("ms")).as("m1"), col("ms"))
      .select(col("m1"), explode(col("ms")).as("m2"))
      .filter(col("m1._1") < col("m2._1"))
      // bit_count yields int; the public schema is a long distance
      .select(col("m1._1").as("a"), col("m2._1").as("b"),
        bit_count(col("m1._2").bitwiseXOR(col("m2._2"))).cast("long").as("distance"))
      .distinct()
      .filter(col("distance") <= maxDistance)
  }

  /** Cross-side Hamming matching over 64-bit signatures: the distinct
    * ids of `snapSigs` (id, sh) within `maxDistance` of ANY signature
    * in `corpusSigs` — the admission kernel behind
    * [[Multimodal.incrementalImageNearDedup]]. Only the CORPUS side is
    * folded into (block, value) buckets (capped at `maxBucket`
    * members); the snapshot side never aggregates — each snapshot
    * signature explodes to its four 16-bit block keys, joins the
    * bucket table (at most 4·2¹⁶ keys — tiny, broadcastable), and an
    * `exists` over the joined member array verifies exact bit_count.
    * Snapshot multiplicity therefore CANNOT evict a corpus needle: a
    * million snapshot copies of one indexed jingle each check the same
    * corpus bucket independently and all match (the pre-round-15
    * union-fold counted both sides against the cap, and ScaleSmoke
    * measured 1000 planted copies under cap 1000 → 0 found). A
    * self-join would enumerate the corpus's own near-dup pairs — at
    * 100 TB almost all the work — only to discard them; here corpus
    * buckets with no snapshot member die in the join. Returns one
    * column `b` (matched snapshot ids).
    *
    * Cap semantics: only a CORPUS (block, value) bucket with more than
    * `maxBucket` members (a degenerate near-constant signature value)
    * is dropped whole — observable via the `hamming64_cross` bucket
    * metric ([[bucketStats]]), and `strictBuckets = true` makes the
    * drop fail loud instead (one extra pass over the corpus
    * signatures — cheap, they are 8-byte reads): an admission that
    * would silently miss matches against an over-cap needle throws,
    * naming the count and the fix (raise `maxBucket` above the
    * largest indexed-signature multiplicity).
    */
  private[graft] def hamming64CrossMatches(corpusSigs: DataFrame,
      snapSigs: DataFrame, maxDistance: Int,
      maxBucket: Int, strictBuckets: Boolean = false): DataFrame =
    hamming64CrossMatchRows(corpusSigs,
      snapSigs.select(col("id").cast("long").as("b"), col("sh")),
      "sh", maxDistance, maxBucket, strictBuckets)

  /** [[hamming64CrossMatches]] with PASSTHROUGH columns: `snapSigs`
    * carries the 64-bit signature in `sigCol` plus any identifying
    * columns (container id, segment index, tile coordinates, …);
    * returns the distinct matched rows with every non-signature
    * column intact — the kernel behind the needle-hunt operators
    * ([[Audio.findClipsContainingJingle]] /
    * [[Video.findVideosContainingScene]] /
    * [[Multimodal.findImagesContainingCrop]]), which need WHERE a
    * needle matched, not just which container. Identical plan shape
    * to the id-only form (it is the id-only form, generalized): the
    * corpus side folds to capped buckets, the snapshot side explodes
    * to four block keys and joins — no union, no snapshot-side
    * aggregation, multiplicity-proof.
    */
  private[graft] def hamming64CrossMatchRows(corpusSigs: DataFrame,
      snapSigs: DataFrame, sigCol: String, maxDistance: Int,
      maxBucket: Int, strictBuckets: Boolean = false): DataFrame = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"block pigeonhole over 4 blocks covers maxDistance <= 3, " +
        s"got $maxDistance")
    def blockKeys(sh: Column): Column =
      transform(sequence(lit(0), lit(3)),
        i => GraftFunctions.shiftRight(sh, i * 16)
          .bitwiseAND(0xFFFFL))
    val bounded = TopK.boundedCollect[Long](maxBucket)
    def corpusBuckets(): DataFrame = observeBuckets(
      corpusSigs
        .select(col("sh").cast("long").as("__csh"),
          posexplode(blockKeys(col("sh").cast("long"))))
        .toDF("__csh", "__blk", "__bval")
        .groupBy(col("__blk"), col("__bval"))
        .agg(bounded(col("__csh")).as("__cshs")),
      "hamming64_cross", size(col("__cshs")), maxBucket)
    if (strictBuckets) {
      val dropped = corpusBuckets()
        .filter(size(col("__cshs")) > maxBucket).count()
      require(dropped == 0L,
        s"hamming64CrossMatches: $dropped corpus signature bucket(s) " +
          s"exceed maxBucket=$maxBucket — every match against their " +
          s"members would be dropped whole (a needle hunt would " +
          s"silently miss); raise maxBucket above the largest indexed-" +
          s"signature multiplicity, or pass strictBuckets=false to " +
          s"accept the drop (observable via bucketStats)")
    }
    val kept = corpusBuckets().filter(size(col("__cshs")) <= maxBucket)
    val outCols = snapSigs.columns.filter(_ != sigCol).toSeq
    val snapBlocks = snapSigs
      .withColumn("__sh", col(sigCol).cast("long"))
      .select(outCols.map(col) :+ col("__sh") :+
        posexplode(blockKeys(col("__sh"))): _*)
      .toDF(outCols :+ "__sh" :+ "__blk" :+ "__bval": _*)
    snapBlocks.join(kept, Seq("__blk", "__bval"))
      .filter(exists(col("__cshs"), s =>
        bit_count(col("__sh").bitwiseXOR(s)).cast("int") <= maxDistance))
      .select(outCols.map(col): _*).distinct()
  }

  /** STATELESS stream-side Hamming admission — the streaming twin of
    * [[hamming64CrossMatches]], shared by
    * [[Multimodal.streamingImageNearDedup]] and
    * [[Audio.streamingAudioNearDedup]]. `withSig` is the stream with a
    * nullable 64-bit `__sh` signature column; `sigRead` the static
    * corpus signatures (`sh`). The static side folds each (block,
    * value) bucket into ONE row carrying its member signatures as a
    * `maxBucket`-capped array; the stream side then takes FOUR 1:1
    * stream-static left joins (one per 16-bit block — the bucket key
    * is unique after the fold, so row cardinality is exactly
    * preserved) and verifies with `exists`/`bit_count` over the
    * joined arrays. No explode of the stream, no watermark-keyed
    * aggregation, NO STATEFUL OPERATOR AT ALL: per-row streaming
    * state is zero bytes regardless of payload size, duplicates in
    * the feed never collapse, and admitted rows emit in the
    * micro-batch they arrive (the pre-round-13 shape keyed a
    * watermark aggregation on the full stream row, payload included —
    * multi-MB state entries, blob-sized hash compares, and decisions
    * delayed to the watermark). A null `__sh` (undecodable payload)
    * makes every join miss and every `exists` fold to false —
    * admitted, exact-byte dedup's job.
    */
  private[graft] def hamming64StreamAdmit(withSig: DataFrame,
      outCols: Seq[String], sigRead: DataFrame, maxDistance: Int,
      maxBucket: Int, strictBuckets: Boolean = false): DataFrame = {
    val (joined, matched) = hamming64StreamJoin(withSig, sigRead,
      maxDistance, maxBucket, strictBuckets, "hamming64StreamAdmit")
    joined.filter(!matched).select(outCols.map(col): _*)
  }

  /** The MATCH side of the stateless stream kernel — the streaming
    * twin of [[hamming64CrossMatchRows]], shared by the streaming
    * needle hunts: rows whose `__sh` signature is within
    * `maxDistance` of ANY static-side signature are RETURNED (the
    * admission filter inverted). Same zero-state shape: capped bucket
    * fold on the static side, four 1:1 left joins, `exists`/
    * `bit_count` verify. `strictBuckets` defaults matter to callers —
    * hunts pass true (a dropped degenerate bucket is where the needle
    * lives), bulk admission passes false.
    */
  private[graft] def hamming64StreamMatchRows(withSig: DataFrame,
      outCols: Seq[String], sigRead: DataFrame, maxDistance: Int,
      maxBucket: Int, strictBuckets: Boolean = true): DataFrame = {
    val (joined, matched) = hamming64StreamJoin(withSig, sigRead,
      maxDistance, maxBucket, strictBuckets, "hamming64StreamMatchRows")
    joined.filter(matched).select(outCols.map(col): _*)
  }

  /** Shared join construction for the stateless streaming kernels:
    * (joined frame, matched predicate). The static side folds each
    * (block, value) bucket into ONE row capped at `maxBucket`
    * members; the stream side takes four 1:1 left joins (bucket keys
    * are unique after the fold — row cardinality exactly preserved).
    */
  private def hamming64StreamJoin(withSig: DataFrame,
      sigRead: DataFrame, maxDistance: Int, maxBucket: Int,
      strictBuckets: Boolean,
      who: String): (DataFrame, Column) = {
    require(maxDistance >= 0 && maxDistance <= 3,
      s"block pigeonhole over 4 blocks covers maxDistance <= 3, " +
        s"got $maxDistance")
    val bounded = TopK.boundedCollect[Long](maxBucket)
    val allBuckets = sigRead
      .select(col("sh").cast("long").as("__csh"),
        posexplode(transform(sequence(lit(0), lit(3)),
          i => GraftFunctions.shiftRight(col("sh").cast("long"), i * 16)
            .bitwiseAND(0xFFFFL))))
      .toDF("__csh", "__blk", "__bval")
      .groupBy(col("__blk"), col("__bval"))
      .agg(bounded(col("__csh")).as("__cshs"))
    if (strictBuckets) {
      // the static side is computed once per stream start — the check
      // is a bounded batch action at wiring time, never per-batch
      val dropped = allBuckets
        .filter(size(col("__cshs")) > maxBucket).count()
      require(dropped == 0L,
        s"$who: $dropped corpus signature bucket(s) " +
          s"exceed maxBucket=$maxBucket — every stream match against " +
          s"their members would be dropped whole; raise maxBucket " +
          s"above the largest indexed-signature multiplicity, or pass " +
          s"strictBuckets=false to accept the drop")
    }
    val buckets = allBuckets.filter(size(col("__cshs")) <= maxBucket)
    var cur = withSig
    for (b <- 0 to 3) {
      val bb = buckets.filter(col("__blk") === b)
        .select(col("__bval").as(s"__bv$b"),
          col("__cshs").as(s"__cshs$b"))
      cur = cur
        .withColumn(s"__bv$b",
          shiftright(col("__sh"), b * 16)
            .bitwiseAND(0xFFFFL))
        .join(bb, Seq(s"__bv$b"), "left")
    }
    val matched = (0 to 3).map(b =>
      coalesce(exists(col(s"__cshs$b"), s =>
        bit_count(col("__sh").bitwiseXOR(s)).cast("int") <= maxDistance),
        lit(false))).reduce(_ || _)
    (cur, matched)
  }

  /** Semantic near-duplicate pairs via embedding clustering — SemDeDup
    * (Abbas et al. 2023, "SemDeDup: Data-efficient learning at web-scale
    * through semantic deduplication"): k-means clusters bound the
    * candidate space (pairs are generated WITHIN a cluster only), exact
    * cosine verifies; compose with [[nearDedup]] to keep one
    * representative per semantic-duplicate component. Returns
    * (a, b, cosine) with a < b and cosine ≥ threshold.
    *
    * `centroids` defaults to the deterministic mini k-means of
    * [[Similarity.kmeansCentroids]]; passing EXPLICIT integer-valued
    * centroids with integer-quantized vectors makes every stage —
    * assignment argmin (exact integer distances, (d, cid) tie-break),
    * candidate set, cosine — bit-replicable by an external engine
    * (the q_semantic_dedup_int oracle twin).
    *
    * Scale shape: assignment is a NARROW map — one native codegen'd
    * kernel call per row ([[graft.expressions.NearestCentroidsExpr]]);
    * the centroid matrix rides the generated class as a single opaque
    * reference object shipped with the broadcast task binary, so the
    * √N centroid counts a web-scale SemDeDup run wants (thousands+)
    * add zero plan nodes and no per-row interpretation (pinned at 1024
    * centroids by `ScaleSmoke`). One keyed shuffle then builds the
    * capped clusters (bounded collect — a degenerate cluster never
    * materializes); the double explode expands ordered pairs —
    * identical to the other candidate generators. For centroid sets
    * too large even for the closure (≳10^5), swap the assignment for
    * [[Similarity.assignCentroidsJoin]] (broadcast join + min_by, one
    * extra corpus-keyed shuffle) — the rest of the pipeline is
    * unchanged; fit corpus-scale centroids with
    * [[Similarity.kmeansCentroidsDistributed]].
    */
  def semanticDupPairs(docs: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95, numCentroids: Int = 8,
      maxCluster: Int = 1000,
      centroids: Array[(Int, Array[Double])] = null): DataFrame = {
    TopK.requireIntegral(docs, idCol, "semanticDupPairs")
    val cents = if (centroids != null) centroids
      else Similarity.kmeansCentroids(docs, idCol, vecCol, numCentroids)
    val assigned = docs
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cid",
        element_at(Similarity.nearestCentroids(cents, col("v"), 1), 1)("cid"))
    clusterPairs(assigned, threshold, maxCluster)
  }

  /** The shared SemDeDup tail: (id, v, cid) → capped within-cluster
    * ordered pairs → exact cosine ≥ threshold. One keyed shuffle
    * (bounded collect, cluster never materializes past the cap), the
    * same observe/double-explode shape as every candidate generator.
    */
  private def clusterPairs(assigned: DataFrame, threshold: Double,
      maxCluster: Int): DataFrame = {
    val bounded = TopK.boundedCollect[(Long, Seq[Double])](maxCluster)
    val clusters = observeBuckets(
      assigned.groupBy(col("cid"))
        .agg(bounded(col("id").cast("long"),
          col("v").cast("array<double>")).as("ms")),
      "semantic", size(col("ms")), maxCluster)
      .filter(size(col("ms")) > 1 && size(col("ms")) <= maxCluster)
    clusters
      .select(explode(col("ms")).as("m1"), col("ms"))
      .select(col("m1"), explode(col("ms")).as("m2"))
      .filter(col("m1._1") < col("m2._1"))
      .select(col("m1._1").as("a"), col("m2._1").as("b"),
        // evalOnce: the cosine >= threshold filter would otherwise
        // carry a second copy of the kernel
        graft.expressions.BarrierExprs.evalOnce(
          Similarity.cosineNative(col("m1._2"), col("m2._2"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[semanticDupPairs]] with DATAFRAME centroids, assigned via
    * [[Similarity.assignCentroidsJoin]] — the form for centroid sets
    * too large for the task closure (≳10^5 centroids, e.g. the output
    * of a corpus-scale clustering job). `centroids` must have columns
    * (cid int, cv array<double>). Identical candidate/verify tail;
    * the price over the closure-matrix kernel is the one corpus-keyed
    * shuffle documented on assignCentroidsJoin (the doc vector rides
    * that aggregation, so there is no second join-back shuffle).
    * Assignment parity with the kernel path is spec-pinned.
    */
  def semanticDupPairsJoin(docs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, threshold: Double = 0.95,
      maxCluster: Int = 1000): DataFrame = {
    TopK.requireIntegral(docs, idCol, "semanticDupPairsJoin")
    val assigned = Similarity.assignCentroidsJoin(docs, idCol, vecCol,
      centroids, keepVec = true)
    clusterPairs(assigned, threshold, maxCluster)
  }

  private val incViewSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Incremental (snapshot-vs-corpus) exact dedup: keep the rows of
    * `snapshot` whose canonical fingerprint does NOT already occur in
    * `existing` — the recurring-crawl form of dedup, where a new batch
    * is admitted against a corpus that is orders of magnitude larger.
    *
    * Scale shape: the naive plan is one left-anti join, which shuffles
    * the ENTIRE snapshot and the entire corpus fingerprint set. This
    * operator puts Spark's own bloom-filter sketch in front (the
    * runtime-filter machinery, named for SQL text — see
    * [[graft.expressions.BloomExprs]]): executors build partial sketches
    * over the corpus fingerprints, the merged filter is broadcast as a
    * scalar-subquery constant, and the snapshot probes it in a narrow
    * codegen'd filter. Rows the filter rejects are DEFINITELY new (bloom
    * filters have no false negatives) and skip the join entirely; only
    * the hit subset — true duplicates plus the ~fpp false positives —
    * pays the exact anti-join shuffle. Result is identical to the plain
    * anti-join (false positives are resolved exactly), so the oracle is
    * bloom-free SQL. Within-snapshot duplicates are out of scope —
    * compose with [[exactDedup]] for those.
    *
    * `numBits` sizes the sketch (default 8M bits ≈ 1% fpp at 1M corpus
    * fingerprints; at 10^10 docs size accordingly — the sketch is still
    * thousands of times smaller than the fingerprint set it summarizes).
    * NOTE: the underlying BloomFilterAggregate clamps its arguments to
    * the session confs `spark.sql.optimizer.runtime.bloomFilter
    * .maxNumItems`/`.maxNumBits` (defaults 4M items / 67M bits) and
    * fails at analysis above them — oversized arguments are validated
    * here so a 10^10-doc sizing fails with the conf names to raise
    * instead of a deep analyzer error.
    */
  def incrementalDedup(snapshot: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, expectedItems: Long = 1000000L,
      numBits: Long = 8388608L): DataFrame = {
    val spark = snapshot.sparkSession
    graft.expressions.GraftFunctions.register(spark)
    // fail actionably, not at analysis: the aggregate enforces these
    // session caps on its (items, bits) arguments
    val maxItems = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumItems", "4000000").toLong
    val maxBits = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits", "67108864").toLong
    require(expectedItems <= maxItems && numBits <= maxBits,
      s"incrementalDedup sketch size (expectedItems=$expectedItems, " +
        s"numBits=$numBits) exceeds the session caps " +
        s"spark.sql.optimizer.runtime.bloomFilter.maxNumItems=$maxItems / " +
        s"maxNumBits=$maxBits — raise those confs to size the sketch for " +
        "larger corpora")
    val cols = snapshot.columns
    val snapFp = snapshot.withColumn("__fp",
      TextFunctions.fingerprint(col(textCol)))
    val oldFp = existing
      .select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
    val seq = incViewSeq.incrementAndGet()
    val snapView = s"__graft_inc_snap_$seq"
    val oldView = s"__graft_inc_old_$seq"
    snapFp.createOrReplaceTempView(snapView)
    oldFp.createOrReplaceTempView(oldView)
    // might_contain(null, x) is null (empty corpus → no sketch row
    // semantics differ per aggregate impl); coalesce to false so an
    // empty `existing` admits the whole snapshot
    val probed = spark.sql(
      s"""SELECT *, coalesce(might_contain_graft(
         |    (SELECT bloom_filter_agg_graft(xxhash64(__fp),
         |       CAST($expectedItems AS BIGINT), CAST($numBits AS BIGINT))
         |     FROM $oldView),
         |    xxhash64(__fp)), false) AS __maybe
         |FROM $snapView""".stripMargin)
    // force analysis (resolving the view references into the plan),
    // then drop the views — a recurring-crawl loop would otherwise
    // leak two catalog entries per invocation
    probed.queryExecution.analyzed
    spark.catalog.dropTempView(snapView)
    spark.catalog.dropTempView(oldView)
    // the union's two branches each scan the snapshot once (the bloom
    // build subquery is shared via ReuseSubquery): two NARROW passes is
    // the deliberate trade — materializing the probed snapshot to skip
    // the second pass would cost a full write of the snapshot, which at
    // scale is worse than re-reading it, and the expensive part (the
    // anti-join shuffle) still sees only the bloom-hit subset
    val definitelyNew = probed.filter(!col("__maybe"))
    val verifiedNew = probed.filter(col("__maybe"))
      .join(oldFp, Seq("__fp"), "left_anti")
    definitelyNew.unionByName(verifiedNew).select(cols.map(col): _*)
  }

  /** Streaming form of [[incrementalDedup]]: a live intake stream
    * admitted against a STATIC corpus — each micro-batch left-anti
    * joins its canonical fingerprints against the corpus fingerprint
    * set (the stream-static join Spark supports natively; keep the
    * fingerprint set as a compact parquet/bucketed table so the
    * per-batch static side is a cheap scan). No bloom stage here: the
    * runtime re-plans the static side per batch, and a per-batch
    * sketch rebuild would cost more than the anti-join it saves —
    * pre-compute the sketch out of band if batches are huge. Compose
    * with [[streamingExactDedup]] for within-stream duplicates.
    */
  def streamingIncrementalDedup(stream: DataFrame, existing: DataFrame,
      textCol: String): DataFrame = {
    val cols = stream.columns
    val oldFp = existing
      .select(TextFunctions.fingerprint(col(textCol)).as("__fp"))
    stream
      .withColumn("__fp", TextFunctions.fingerprint(col(textCol)))
      .join(oldFp, Seq("__fp"), "left_anti")
      .select(cols.map(col): _*)
  }

  /** Incremental NEAR-dedup: drop the rows of `snapshot` that are
    * MinHash-near-duplicates (word-trigram Jaccard ≥ `threshold`) of
    * any doc in `existing` — the daily-crawl companion of
    * [[incrementalDedup]] for boilerplate that re-crawls with
    * timestamps/counters changed, where the exact fingerprint misses.
    *
    * Scale shape: both sides run the single-pass signature kernel and
    * band into ONE bucket table tagged by side; candidate pairs are
    * generated CROSS-SIDE ONLY (a corpus self-join would enumerate the
    * corpus's own near-dup pairs — at 100 TB that is almost all the
    * work — only to discard them; here a bucket with no snapshot
    * member contributes nothing), verification is per candidate pair,
    * and the survivors come from one left-anti join on the matched
    * snapshot ids. Bucket caps and bounded collection as in
    * [[minHashNearDupPairs]]. Ids must be integral and disjoint across
    * the two inputs. Within-snapshot near-dups are out of scope —
    * compose with [[nearDedup]].
    */
  def incrementalNearDedup(snapshot: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    TopK.requireIntegral(snapshot, idCol, "incrementalNearDedup(snapshot)")
    TopK.requireIntegral(existing, idCol, "incrementalNearDedup(existing)")
    val existingD = existing
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    incrementalNearCore(snapshot, idCol, textCol,
      bandedRows(existingD, numHashes, bands),
      existingD.select(col("id").as("a"), gramSet(col("text")).as("__ga")),
      numHashes, bands, threshold, maxBucket, strictBuckets)
  }

  /** (id, band, band_sig) rows of a (id, text) frame — the banded
    * MinHash table both the in-line and the persisted-index paths
    * build with the same expressions.
    */
  private def bandedRows(d: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    d.select(col("id"),
        coalesce(
          graft.expressions.TextHashExprs.minhashSig(col("text"), numHashes),
          array_repeat(lit(HashPrime), numHashes)).as("sig"))
      .select(col("id"), posexplode(bandSigs(col("sig"), bands, rows)))
      .toDF("id", "band", "band_sig")
  }

  /** The shared incremental-near pipeline: corpus side arrives as
    * precomputed banded rows + gram sets (from [[incrementalNearDedup]]
    * inline, or read back from a [[writeNearDupIndex]] index — the two
    * produce identical frames, so admissions are identical).
    */
  private def incrementalNearCore(snapshot: DataFrame, idCol: String,
      textCol: String, existingBanded: DataFrame, existingGrams: DataFrame,
      numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int, strictBuckets: Boolean = false): DataFrame = {
    val snapshotD = snapshot
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    // CORPUS-side-only band-bucket fold (the round-15
    // hamming64CrossMatches shape): snapshot band rows join the capped
    // bucket table and explode its members into (a, b) candidates, so
    // snapshot multiplicity can never evict a corpus needle's bucket —
    // the pre-r15 union fold counted both sides against the cap
    val bounded = TopK.boundedCollect[Long](maxBucket)
    def corpusBuckets(): DataFrame = observeBuckets(
      existingBanded
        .select(col("id").cast("long").as("__ca"), col("band"),
          col("band_sig"))
        .groupBy(col("band"), col("band_sig"))
        .agg(bounded(col("__ca")).as("__cas")),
      "incremental_near", size(col("__cas")), maxBucket)
    if (strictBuckets) {
      val dropped = corpusBuckets()
        .filter(size(col("__cas")) > maxBucket).count()
      require(dropped == 0L,
        s"incrementalNearDedup: $dropped corpus band bucket(s) exceed " +
          s"maxBucket=$maxBucket — every match against their members " +
          s"would be dropped whole; raise maxBucket above the largest " +
          s"indexed band multiplicity, or pass strictBuckets=false to " +
          s"accept the drop (observable via bucketStats)")
    }
    val kept = corpusBuckets().filter(size(col("__cas")) <= maxBucket)
    val candidates = bandedRows(snapshotD, numHashes, bands)
      .select(col("id").as("b"), col("band"), col("band_sig"))
      .join(kept, Seq("band", "band_sig"))
      .select(explode(col("__cas")).as("a"), col("b"))
      .distinct()
    // verify with side-specific sources: candidates are (corpus a,
    // snapshot b) by construction, so the corpus never pays the b-side
    // gram projection (and vice versa)
    val matched = verifyJaccardGramSides(existingGrams,
      snapshotD.select(col("id").as("b"), gramSet(col("text")).as("__gb")),
      candidates, threshold)
      .select(col("b").as("__mid"))
      .distinct()
    snapshot.join(matched, snapshot(idCol) === matched("__mid"), "left_anti")
  }

  /** Persist the corpus side of near-dedup as a REUSABLE index: the
    * banded MinHash table (`bands/`) and the per-doc trigram shingle
    * sets (`grams/`), plus a `_graft_index_params.json` sidecar
    * recording (numHashes, bands, gramN). At 100 TB the corpus-side
    * signature pass dominates every snapshot admission — a daily
    * re-crawl against a static corpus re-signs the whole corpus each
    * run unless the signatures are an artifact; this makes them one
    * (build once, admit many). Index size ≈ the corpus's token text
    * (gram sets) + 8·bands bytes/doc (banded rows).
    */
  def writeNearDupIndex(corpus: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 64, bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    TopK.requireIntegral(corpus, idCol, "writeNearDupIndex")
    val d = corpus
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    SigIndex.write(corpus.sparkSession, path, TextIndexSidecar,
      indexParamsJson(numHashes, bands),
      Seq("bands" -> bandedRows(d, numHashes, bands),
        "grams" -> d.select(col("id").as("a"),
          gramSet(col("text")).as("__ga"))))
  }

  /** Extend a [[writeNearDupIndex]] artifact with newly-admitted docs
    * — the step after every snapshot admission that keeps the index
    * current without rebuilding it (admit → append → the next
    * snapshot dedups against corpus + admissions). Parameters are
    * validated against the sidecar first (appending rows banded under
    * different (numHashes, bands) would silently corrupt every later
    * admission).
    *
    * The append is TRANSACTIONAL: both sides of the batch (banded rows
    * AND gram sets) stage under `batches/<batchId>/` and become
    * visible only when the single `_graft_committed` marker file is
    * created — an atomic filesystem operation. A crash between the two
    * parquet writes therefore leaves an invisible orphan directory,
    * never a half-batch: bands rows without their gram sets would be
    * silently dropped by [[incrementalNearCore]]'s inner join to the
    * grams side, admitting true near-dups — the silent-corruption mode
    * the params sidecar blocks for configuration, closed here for
    * data. Readers ([[incrementalNearDedupIndexed]]) list only
    * committed batches; uncommitted leftovers are ignored (re-run the
    * append). Caller contract: `newDocs` ids must be disjoint from the
    * indexed corpus (they are, when `newDocs` is the admitted
    * snapshot).
    */
  def appendToNearDupIndex(newDocs: DataFrame, idCol: String,
      textCol: String, indexPath: String, numHashes: Int = 64,
      bands: Int = 16): Unit = {
    TopK.requireIntegral(newDocs, idCol, "appendToNearDupIndex")
    validateIndexParams(newDocs.sparkSession, indexPath, numHashes, bands,
      "appendToNearDupIndex")
    val d = newDocs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
    SigIndex.appendBatch(newDocs.sparkSession, indexPath,
      Seq("bands" -> bandedRows(d, numHashes, bands),
        "grams" -> d.select(col("id").as("a"),
          gramSet(col("text")).as("__ga"))))
  }

  private[graft] val CommitMarker = "_graft_committed"

  /** All parquet paths for one side (`bands` | `grams`) of a near-dup
    * index: the base build plus every COMMITTED append batch, in
    * deterministic (sorted) order. Uncommitted batch directories —
    * crash leftovers between an append's two writes — are excluded,
    * which is what makes [[appendToNearDupIndex]] transactional.
    */
  private[graft] def indexSidePaths(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, side: String): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val batches = new org.apache.hadoop.fs.Path(indexPath, "batches")
    val fs = batches.getFileSystem(conf)
    val committed =
      if (fs.exists(batches))
        fs.listStatus(batches).toSeq
          .filter(_.isDirectory)
          .map(_.getPath)
          .filter(p => fs.exists(
            new org.apache.hadoop.fs.Path(p, CommitMarker)))
          .map(p => new org.apache.hadoop.fs.Path(p, side).toString)
          .sorted
      else Seq.empty
    s"$indexPath/$side" +: committed
  }

  private def indexParamsJson(numHashes: Int, bands: Int): String =
    Seq("numHashes" -> numHashes, "bands" -> bands, "gramN" -> 3)
      .map { case (k, v) => s"${graft.JsonStr(k)}:${graft.JsonStr(v.toString)}" }
      .mkString("{", ",", "}")

  private val TextIndexSidecar = "_graft_index_params.json"

  private def validateIndexParams(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, numHashes: Int, bands: Int, who: String): Unit = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    SigIndex.requireParams(
      SigIndex.readParams(spark, indexPath, TextIndexSidecar,
        "writeNearDupIndex", who),
      indexParamsJson(numHashes, bands), indexPath, who)
  }

  /** [[incrementalNearDedup]] against a [[writeNearDupIndex]] artifact
    * instead of the raw corpus: identical admissions (pinned by spec
    * and the shared-oracle query q_incremental_near_dedup_idx), but
    * the corpus-side tokenize → minhash → band → gram work is a READ.
    * The params sidecar is validated fail-loud: an index built under
    * different (numHashes, bands) embodies different buckets, and
    * silently mixing regimes is the restartable-pipeline failure mode
    * the curate sidecars exist to block.
    */
  def incrementalNearDedupIndexed(snapshot: DataFrame, idCol: String,
      textCol: String, indexPath: String, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.8,
      maxBucket: Int = 1000, strictBuckets: Boolean = false): DataFrame = {
    TopK.requireIntegral(snapshot, idCol,
      "incrementalNearDedupIndexed(snapshot)")
    val spark = snapshot.sparkSession
    validateIndexParams(spark, indexPath, numHashes, bands,
      "incrementalNearDedupIndexed")
    incrementalNearCore(snapshot, idCol, textCol,
      spark.read.parquet(indexSidePaths(spark, indexPath, "bands"): _*),
      spark.read.parquet(indexSidePaths(spark, indexPath, "grams"): _*),
      numHashes, bands, threshold, maxBucket, strictBuckets)
  }

  /** Streaming NEAR-dedup: admit a live intake stream against a STATIC
    * corpus — the streaming twin of [[incrementalNearDedup]], for the
    * boilerplate re-crawls (timestamps/counters changed, fingerprint
    * misses) that arrive on a live feed. A stream doc is dropped when
    * its word-trigram Jaccard against ANY corpus doc sharing a MinHash
    * band bucket reaches `threshold`; every other doc is emitted IN
    * THE MICRO-BATCH IT ARRIVES.
    *
    * STATELESS, the [[hamming64StreamAdmit]] shape on MinHash bands:
    * the static side folds each (band, band_sig) bucket into ONE row
    * carrying its members' trigram-gram sets as a `maxBucket`-capped
    * array (oversized buckets are degenerate boilerplate and drop
    * whole, as in [[minHashNearDupPairs]]); the stream side then takes
    * `bands` 1:1 stream-static left joins (the bucket key is unique
    * after the fold, so row cardinality is exactly preserved — no
    * explode of the stream) and verifies with `exists` running the
    * exact Jaccard over each joined gram set. NO STATEFUL OPERATOR AT
    * ALL: per-row streaming state is zero bytes regardless of doc
    * size, duplicate feed rows never collapse, admission decisions
    * emit immediately, and late rows get the same decision instead of
    * being silently dropped (the pre-round-14 shape keyed a watermark
    * aggregation on the full stream row — text included — holding
    * O(doc) state per in-flight doc and every decision until the
    * watermark passed). The trade: the fold replicates each corpus
    * doc's gram set into its `bands` bucket rows — a bands× static
    * blow-up that is computed once and bounded by `maxBucket`, where
    * the old shape re-joined the gram projection per batch. Persist
    * the fold (or point `existing` at a materialized table) so the
    * per-batch re-plan stays a cheap static scan. `tsCol`/`lateness`
    * still apply a watermark so downstream STATEFUL consumers of the
    * admitted stream inherit one. Within-stream near-dups are out of
    * scope — compose with [[streamingExactDedup]] and a periodic
    * batch [[nearDedup]].
    */
  def streamingNearDedup(stream: DataFrame, existing: DataFrame,
      idCol: String, textCol: String, tsCol: String,
      lateness: String = "1 hour", numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, maxBucket: Int = 1000,
      strictBuckets: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // same integral-id contract as every batch generator: a string id
    // would cast to null corpus cids and silently admit near-dups
    TopK.requireIntegral(existing, idCol, "streamingNearDedup(existing)")
    val rows = numHashes / bands
    def grams(c: Column): Column = array_distinct(coalesce(
      graft.expressions.TextHashExprs.ngramsNative(c, 3),
      array().cast("array<string>")))
    def sig(c: Column): Column = coalesce(
      graft.expressions.TextHashExprs.minhashSig(c, numHashes),
      array_repeat(lit(HashPrime), numHashes))
    // static fold: one row per (band, band_sig) with the members'
    // gram sets. A single-member corpus bucket still matters
    // (candidates are cross-side by construction), so only OVERSIZED
    // buckets drop — BoundedCollect keeps cap+1, making the
    // degenerate-bucket filter exact. Internal columns wear the "__"
    // prefix so a stream schema with its own names cannot collide.
    val bounded = TopK.boundedCollect[Seq[String]](maxBucket)
    val allBuckets = existing
      .select(sig(col(textCol)).as("__sig"), grams(col(textCol)).as("__cg"))
      .select(col("__cg"), posexplode(bandSigs(col("__sig"), bands, rows)))
      .toDF("__cg", "__band", "__band_sig")
      .groupBy(col("__band"), col("__band_sig"))
      .agg(bounded(col("__cg")).as("__mgs"))
    if (strictBuckets) {
      // the static side is computed once per stream start — a bounded
      // batch action at wiring time, never per-batch
      val dropped = allBuckets
        .filter(size(col("__mgs")) > maxBucket).count()
      require(dropped == 0L,
        s"streamingNearDedup: $dropped corpus band bucket(s) exceed " +
          s"maxBucket=$maxBucket — every stream match against their " +
          s"members would be dropped whole; raise maxBucket, or pass " +
          s"strictBuckets=false to accept the drop")
    }
    val buckets = allBuckets.filter(size(col("__mgs")) <= maxBucket)
    val streamCols = stream.columns.toSeq
    var cur = stream
      .withWatermark(tsCol, lateness)
      .withColumn("__g", grams(col(textCol)))
      .withColumn("__bsigs", bandSigs(sig(col(textCol)), bands, rows))
    for (b <- 0 until bands) {
      val bb = buckets.filter(col("__band") === b)
        .select(col("__band_sig").as(s"__bs$b"), col("__mgs").as(s"__mgs$b"))
      cur = cur
        .withColumn(s"__bs$b", element_at(col("__bsigs"), b + 1))
        .join(bb, Seq(s"__bs$b"), "left")
    }
    val matched = (0 until bands).map { b =>
      coalesce(exists(col(s"__mgs$b"), cg => {
        val inter = size(array_intersect(col("__g"), cg))
        val union = size(col("__g")) + size(cg) - inter
        union > 0 && inter.cast("double") / union >= threshold
      }), lit(false))
    }.reduce(_ || _)
    cur.filter(!matched).select(streamCols.map(col): _*)
  }

  /** Connected components over near-dup pairs → per-doc cluster labels:
    * the step that turns pairwise similarity into dedup DECISIONS (keep
    * the cluster minimum, drop the rest). Returns (id, cluster) for
    * every doc, cluster = smallest id in the doc's component (singleton
    * docs label themselves).
    *
    * Algorithm: iterative min-label propagation — each round every node
    * takes the min label among itself and its neighbors; rounds needed =
    * component diameter. Near-dup components are shallow (chains longer
    * than a few hops mean the threshold is too loose), so the bound is
    * small in practice; `maxIter` caps the pathological case. Each round
    * is ONE keyed shuffle (join labels to edges + min-aggregate) over a
    * GRAPH-sized label table — only edge-touched docs propagate (pairs
    * are assumed drawn from `docs`, as every producer here does);
    * singletons, the overwhelming majority of a real corpus, join back
    * once at the end. Convergence is a bounded count action;
    * `localCheckpoint` truncates the growing lineage so round N's plan
    * doesn't replay rounds 1..N-1.
    * For adversarially deep graphs use [[nearDupClustersStar]] — the
    * implemented large-star/small-star alternation (log-diameter
    * rounds, same per-round shuffle shape).
    */
  /** Near-dup dedup decision: keep exactly one doc per cluster — the
    * cluster label itself (= smallest id in the component). The final
    * step of the pairs → clusters → corpus pipeline; rows of `docs`
    * whose id equals their cluster label survive.
    */
  def nearDedup(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val keepers = nearDupClusters(docs, idCol, pairs, maxIter)
      .filter(col("id") === col("cluster"))
      .select(col("id"))
    docs.join(keepers, docs(idCol) === keepers("id"), "leftsemi")
  }

  /** Dedup decision audit — the per-doc explain artifact a pipeline
    * owner publishes next to a dedup stage (observability the drop
    * itself destroys): every doc's cluster label, its keeper (the
    * cluster min id, [[nearDedup]]'s survivor), the cluster size, and
    * the kept/dropped verdict. One cluster pass + one cluster-keyed
    * size aggregation over (id, cluster) rows — the corpus text never
    * moves, so the audit costs graph+id scale at any corpus size.
    */
  def dedupAudit(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // two consumers (sizes + join): materialize the label table once
    val clusters = nearDupClusters(docs, idCol, pairs, maxIter)
      .localCheckpoint(true)
    val sizes = clusters.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    clusters.join(sizes, Seq("cluster"))
      .select(col("id"), col("cluster"), col("cluster").as("keeper_id"),
        col("cluster_size"), (col("id") === col("cluster")).as("kept"))
  }

  /** Near-dup dedup keeping the BEST doc per cluster by a quality
    * score (argmax `scoreCol`, ties → smallest id) instead of the
    * smallest id — the keep-best-quality policy web-corpus builds
    * apply once a quality signal exists (keep the longest/cleanest
    * copy, not the numerically-first crawl). Cluster membership is
    * identical to [[nearDedup]]'s; only the keeper rule changes.
    *
    * Shape: the graph-sized clusters table joins the corpus once, the
    * per-cluster argmax is the DECLARATIVE `max(struct(score, -id))`
    * ([[TopK.max1PerQuery]]'s shape — safe at corpus-cardinality
    * group counts, never ObjectHashAggregate's sort fallback), and
    * one semi-join keeps the winners. Null scores lose to any
    * non-null score (struct ordering puts nulls first).
    */
  def nearDedupBy(docs: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, maxIter: Int = 20,
      useStar: Boolean = false): DataFrame = {
    val clusters =
      if (useStar) nearDupClustersStar(docs, idCol, pairs, maxIter)
      else nearDupClusters(docs, idCol, pairs, maxIter)
    val keepers = docs
      .select(col(idCol).cast("long").as("id"), col(scoreCol).as("__score"))
      .join(clusters, Seq("id"))
      .groupBy(col("cluster"))
      .agg(max(struct(col("__score").as("s"), (-col("id")).as("negId")))
        .as("__w"))
      .select((-col("__w.negId")).as("id"))
    docs.join(keepers, docs(idCol) === keepers("id"), "leftsemi")
  }

  def nearDupClusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    // materialize the pair pipeline ONCE before symmetrizing — a union
    // of two selects over un-checkpointed pairs would evaluate the
    // (potentially expensive) candidate-generation lineage twice
    val p = pairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b")).localCheckpoint()
    val edges = p.select(col("a").as("s"), col("b").as("d"))
      .union(p.select(col("b").as("s"), col("a").as("d")))
    // propagate ONLY over docs touched by an edge: everything else is a
    // singleton whose label can never change. At scale this is the
    // difference between shuffling O(|graph nodes|) and O(|corpus|)
    // labels per round — near-dup graphs are a small fraction of the
    // corpus, the propagation table should be sized to the graph.
    // Singletons rejoin at the end (left join, null → own id). The
    // leftsemi against docs keeps pair ids that are NOT in docs out of
    // the label space (they could otherwise become a component's min
    // label and orphan the component) — same semantics as when the
    // label table was seeded from docs directly.
    var labels = edges.select(col("s").as("id")).distinct()
      .join(docs.select(col(idCol).cast("long").as("id")), Seq("id"), "leftsemi")
      .withColumn("cluster", col("id"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("id").as("d"), col("cluster").as("dl")), Seq("d"))
        .groupBy(col("s").as("id"))
        .agg(min(col("dl")).as("nmin"))
      val updated = labels
        .join(neighborMin, Seq("id"), "left")
        .select(col("id"), col("cluster").as("old"),
          least(col("cluster"), coalesce(col("nmin"), col("cluster"))).as("cluster"))
        .localCheckpoint()
      converged = updated.filter(col("cluster") < col("old")).isEmpty
      labels = updated.select(col("id"), col("cluster"))
      iter += 1
    }
    // exiting via the iteration cap means the labels are NOT fixpoint —
    // a silent return would let nearDedup keep >1 doc per component
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter rounds — component " +
          "diameter exceeds the cap; raise maxIter or tighten the pair threshold")
    // singletons (no edges) label themselves; the propagated table is
    // graph-sized, so AQE broadcasts it against the corpus
    docs.select(col(idCol).cast("long").as("id"))
      .join(labels.select(col("id"), col("cluster").as("__cl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cl"), col("id")).as("cluster"))
  }

  /** Connected components in O(log diameter) rounds — the
    * large-star/small-star alternation of Kiveris et al. 2014
    * ("Connected Components in MapReduce and Beyond", §3): the swap-in
    * for [[nearDupClusters]] when components may be DEEP (min-label
    * propagation needs diameter rounds — a 300-hop chain exhausts any
    * sane cap; star rounds contract geometrically). Same contract:
    * (id, cluster) for every doc, cluster = component minimum,
    * singletons label themselves; pair ids outside `docs` are excluded
    * from the label space.
    *
    * Per round: large-star hangs every neighbor LARGER than a node onto
    * that node's minimum (one keyed groupBy + join), small-star hangs
    * the smaller neighbors onto the minimum (same shape on the larger
    * endpoint). Both are graph-sized keyed shuffles — no corpus-sized
    * state; convergence (edge set unchanged) is a bounded two-sided
    * anti-join check on checkpointed graph-sized frames.
    */
  def nearDupClustersStar(docs: DataFrame, idCol: String, pairs: DataFrame,
      maxIter: Int = 30): DataFrame = {
    val ids = docs.select(col(idCol).cast("long").as("id"))
    // canonical u < v, endpoints restricted to the doc label space
    var edges = pairs
      .select(least(col("a").cast("long"), col("b").cast("long")).as("u"),
        greatest(col("a").cast("long"), col("b").cast("long")).as("v"))
      .filter(col("u") =!= col("v"))
      .join(ids.select(col("id").as("u")), Seq("u"), "leftsemi")
      .join(ids.select(col("id").as("v")), Seq("v"), "leftsemi")
      .select(col("u"), col("v"))
      .distinct()
      .localCheckpoint()
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIter) {
      // large-star: per node s (over the symmetric neighbor view),
      // m = min(N(s) ∪ {s}); every neighbor d > s re-attaches to m
      val nb = edges.select(col("u").as("s"), col("v").as("d"))
        .union(edges.select(col("v").as("s"), col("u").as("d")))
      val mLarge = nb.groupBy(col("s"))
        .agg(min(col("d")).as("__mind"))
        .select(col("s"), least(col("__mind"), col("s")).as("m"))
      val afterLarge = nb
        .filter(col("d") > col("s"))
        .join(mLarge, Seq("s"))
        .select(col("m").as("u"), col("d").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
      // small-star: per larger endpoint v, m = min of its smaller
      // neighbors; all of N(v) ∪ {v} except m attach to m
      val mSmall = afterLarge.groupBy(col("v")).agg(min(col("u")).as("m"))
      val next = afterLarge.join(mSmall, Seq("v"))
        .filter(col("u") =!= col("m"))
        .select(col("m").as("u"), col("u").as("v"))
        .union(mSmall.select(col("m").as("u"), col("v")))
        .distinct()
        .localCheckpoint()
      // both sets are distinct, so equal counts + one-sided containment
      // imply equality — counts on checkpointed frames are cheap, and
      // this halves the per-round exceptAll shuffles
      converged = next.count() == edges.count() &&
        next.exceptAll(edges).isEmpty
      edges = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClustersStar did not converge in $maxIter rounds")
    // fixpoint is a star forest: (min, member) edges
    val labels = edges.select(col("v").as("id"), col("u").as("cluster"))
      .union(edges.select(col("u").as("id"), col("u").as("cluster")))
      .distinct()
    ids
      .join(labels.select(col("id"), col("cluster").as("__cl")), Seq("id"), "left")
      .select(col("id"), coalesce(col("__cl"), col("id")).as("cluster"))
  }
}
