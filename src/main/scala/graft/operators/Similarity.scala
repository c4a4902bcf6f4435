package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `cosine`: pure-expression cosine similarity (zip_with/aggregate in
  *   double precision — codegen'd, no UDF).
  * - `bruteForceTopK`: the exactness baseline. The query set is small and
  *   broadcast; every executor scores its local shard of the corpus —
  *   a broadcast nested-loop over N·Q pairs is the *correct* physical
  *   plan for exhaustive scoring (it is a scan, not a shuffle), and at
  *   100 TB it parallelizes linearly with executors.
  * - `lshBucketedTopK`: the scale path — random-hyperplane LSH buckets
  *   the corpus once (signature = sign pattern of `planes` projections);
  *   each query probes only its own bucket plus single-bit-flip
  *   neighbors (multi-probe), so the per-query work drops from N to
  *   N / 2^planes · probes. Recall is tunable via planes/probes.
  * - `ivfTopK`: IVF-style — k centroids from a deterministic mini
  *   k-means, corpus partitioned by nearest centroid, queries probe the
  *   `nprobe` nearest centroids only.
  */
object Similarity {

  /** Cosine similarity of two array<float|double|int|long> columns,
    * computed in double precision with a fixed left-to-right order
    * (deterministic). This is the portable HOF REFERENCE form — the
    * operators below use the bit-identical native kernel
    * ([[graft.expressions.CosineSimExpr]], parity pinned by
    * `VectorKernelParitySpec`).
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(transform(ad, x => x * x), lit(0.0), (acc, v) => acc + v))
    val nb = sqrt(aggregate(transform(bd, x => x * x), lit(0.0), (acc, v) => acc + v))
    dot / (na * nb)
  }

  /** The native-kernel cosine the operators score candidates with —
    * evaluated once per candidate PAIR, the hottest expression in this
    * family.
    */
  private[graft] def cosineNative(a: Column, b: Column): Column =
    graft.expressions.VectorHashExprs.cosineSim(a, b)

  /** Exact top-k neighbors for each query vector. `queries` and `corpus`
    * both need (idCol, vecCol); queries are assumed small (broadcast).
    * Self-matches (same id) are excluded. Ties broken by corpus id so
    * results are fully deterministic.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineNative(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    // bounded map-side top-k: shuffles partitions x queries x k rows,
    // not the whole scored corpus to one reducer per query (see TopK)
    TopK.topKPerQuery(scored, k)
  }

  /** Hard-negative mining for embedding-model training: for each query
    * the top-k most-similar corpus items with a DIFFERENT `labelCol`
    * value — the near-misses that make the strongest contrastive
    * negatives (the standard in-batch-negatives upgrade; e.g. the DPR
    * recipe, Karpukhin et al. 2020 §3.2, mines them exactly this way
    * from a retrieval pass). Same exhaustive-scan shape as
    * [[bruteForceTopK]] — queries broadcast, corpus never shuffles,
    * bounded per-query top-k — with the label exclusion folded into
    * the join condition so excluded pairs are never scored. Labels
    * compare null-safely (`<=>`): a null-labeled item is a negative to
    * every LABELED item, and two null-labeled items count as
    * same-label (both unknown — not a trustworthy negative pair).
    * Returns (query_id, rank, neighbor_id, sim); ties break on
    * neighbor id — fully deterministic, and bit-exact in the
    * q_hard_neg_int oracle under integer-quantized vectors.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("ql")))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("cl"))
    val scored = q.join(c,
        col("query_id") =!= col("neighbor_id") &&
          !(col("ql") <=> col("cl")))
      .withColumn("sim", cosineNative(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    TopK.topKPerQuery(scored, k)
  }

  /** Embedding-level benchmark decontamination: flag every corpus doc
    * whose embedding is within cosine `threshold` of ANY benchmark
    * item — the semantic complement of the n-gram overlap check
    * ([[CorpusAnalysis.contaminationScores]]): a paraphrased test
    * question shares no 8-gram with the source but still sits next to
    * it in embedding space. Returns one row per corpus doc:
    * (id, bench_id, max_sim, contaminated) with bench_id the
    * argmax-similarity benchmark item (ties → smallest bench_id);
    * filter `contaminated` and anti-join upstream to scrub.
    *
    * Scale shape: the benchmark side is SMALL by nature (eval suites
    * are 10^3–10^5 items) and is broadcast — the corpus never
    * shuffles; scoring is a broadcast nested-loop scan (corpus ×
    * bench pairs, embarrassingly parallel) and the per-doc argmax is
    * the DECLARATIVE [[TopK.max1PerQuery]] (codegen HashAggregate),
    * whose map-side combine collapses each partition's pairs before
    * the only (narrow, corpus-row-sized) shuffle. The aggregator-based
    * `topKPerQuery(_, 1)` is NOT usable here: the group key is the
    * corpus id, and ObjectHashAggregate's sort fallback past 128 keys
    * per task turns the argmax into an external sort of all
    * corpus×bench pairs (20+ min at 1M×100 in ScaleSmoke). Exact by
    * construction — no LSH recall question — at the price of the
    * |bench| factor in the scan; prefilter the corpus (or shrink the
    * benchmark set) if |bench| grows past ~10^5.
    *
    * With integer-quantized embeddings every dot/norm is an
    * integer-valued double and sqrt is correctly rounded IEEE, so the
    * WHOLE row — verdict included — replicates bit-exactly in the
    * q_contam_sem_int oracle.
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, vecCol: String, threshold: Double): DataFrame = {
    require(threshold > -1.0 && threshold <= 1.0,
      s"threshold must be in (-1, 1], got $threshold")
    TopK.requireIntegral(corpus, idCol, "semanticContamination")
    TopK.requireIntegral(bench, idCol, "semanticContamination(bench)")
    val b = broadcast(bench.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("bv")))
    val scored = corpus
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("cv"))
      .crossJoin(b)
      .withColumn("sim", cosineNative(col("cv"), col("bv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
    TopK.max1PerQuery(scored)
      .select(col("query_id").as("id"), col("neighbor_id").as("bench_id"),
        col("sim").as("max_sim"),
        (col("sim") >= threshold).as("contaminated"))
  }

  /** Deterministic pseudo-random hyperplane component for
    * (table, plane, j): a fixed hash-derived value in [-1, 1]. No RNG
    * state — reproducible across executors and runs. Canonical
    * generator lives in [[graft.expressions.VectorKernels]] (the native
    * signature kernel and the oracle-SQL builder must agree).
    */
  private[graft] def planeComponent(table: Int, i: Int, j: Int): Double =
    graft.expressions.VectorKernels.planeComponent(table, i, j)

  /** All `tables` signatures in ONE pass over the vector, as a native
    * codegen'd kernel ([[graft.expressions.LshSigExpr]]): dots(p) =
    * Σ_j v_j·m(j)(p), bucket_t = sign-bit fold — one tight loop per
    * row. The HOF aggregate this replaces computed the same dots but
    * interpreted dim × (planes·tables) lambda applications per vector
    * (and carried the whole plane matrix as a literal tree in the
    * plan). Returns array<bigint> of length `tables` (bucket id per
    * table); dot values — hence buckets and recall — are unchanged
    * (parity pinned by `VectorKernelParitySpec`).
    */
  private def signaturesAllTables(vec: Column, planes: Int, tables: Int,
      dim: Int): Column =
    graft.expressions.VectorHashExprs.lshSigNative(vec, planes, tables, dim)

  /** (id, vec, table, bucket) rows — one per (vector, hash table) — the
    * shared bucketing primitive behind lshBucketedTopK and
    * Dedup.embeddingNearDupPairs. Dim is sampled once driver-side so the
    * hyperplanes fold to literals; mismatched vectors fail fast.
    */
  /** One driver-side peek at the first vector's length, with clear
    * failures for the two degenerate corpora a bare `first()` would turn
    * into NoSuchElement/NullPointer exceptions.
    */
  private def peekDim(df: DataFrame, vecCol: String, who: String): Int = {
    val head = df.select(size(col(vecCol))).head(1)
    require(head.nonEmpty, s"$who: empty corpus — cannot derive embedding dim")
    require(!head(0).isNullAt(0) && head(0).getInt(0) >= 0,
      s"$who: first row has a null $vecCol — cannot derive embedding dim")
    head(0).getInt(0)
  }

  private[operators] def lshBuckets(df: DataFrame, idCol: String,
      vecCol: String, planes: Int, tables: Int,
      integer: Boolean = false): DataFrame = {
    val dim = peekDim(df, vecCol, "lshBuckets")
    val checked = when(size(col(vecCol)) === dim, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"lsh: embedding dim != $dim: "), size(col(vecCol)).cast("string"))))
    val sig =
      if (integer) signaturesAllTablesInt(col("v"), planes, tables, dim)
      else signaturesAllTables(col("v"), planes, tables, dim)
    df.select(col(idCol).as("id"), checked.as("v"))
      .select(col("id"), col("v"), posexplode(sig))
      .toDF("id", "v", "tbl", "bucket")
      .repartition(col("tbl"), col("bucket"))
  }

  /** Integer hyperplane component: the double component scaled to an
    * exact integer (×1000, rounded). Signs of integer dot products are
    * exact in ANY engine — the cross-engine-verifiable variant of the
    * LSH geometry.
    */
  private[graft] def planeComponentInt(table: Int, i: Int, j: Int): Long =
    graft.expressions.VectorKernels.planeComponentInt(table, i, j)

  /** Integer twin of signaturesAllTables: Long plane components, Long
    * accumulation — exact signs for integer-quantized vectors.
    */
  private def signaturesAllTablesInt(vec: Column, planes: Int, tables: Int,
      dim: Int): Column =
    graft.expressions.VectorHashExprs.lshSigIntNative(vec, planes, tables, dim)

  /** Shared probe/score/top-k core behind the two LSH variants: keyed
    * equi-join of the broadcast multi-probe query buckets against the
    * bucketed corpus, cosine BEFORE distinct (the dedup shuffle then
    * moves (id, id, double) rows, not embedding arrays — at 100 TB the
    * array shuffle, not the arithmetic, is the cost), bounded map-side
    * top-k.
    */
  private def lshCore(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int, tables: Int,
      dim: Int, who: String, sig: Column => Column): DataFrame = {
    def checked(v: Column): Column =
      when(size(v) === dim, v).otherwise(raise_error(concat(
        lit(s"$who: embedding dim != $dim: "), size(v).cast("string"))))
    val c = corpus.select(col(idCol).as("neighbor_id"),
        checked(col(vecCol)).as("cv"))
      .select(col("neighbor_id"), col("cv"), posexplode(sig(col("cv"))))
      .toDF("neighbor_id", "cv", "tbl", "bucket")
    // query probes per table: own bucket + single-bit flips
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), checked(col(vecCol)).as("qv"))
        .select(col("query_id"), col("qv"), posexplode(sig(col("qv"))))
        .toDF("query_id", "qv", "tbl", "sig")
        .withColumn("bucket", explode(array(
          (col("sig") +: (0 until planes).map(i =>
            col("sig").bitwiseXOR(lit(1L << i)))): _*)))
        .drop("sig"))
    val scored = q.join(c, Seq("tbl", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineNative(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .distinct() // a neighbor can appear via several tables/probes
    TopK.topKPerQuery(scored, k)
  }

  /** LSH geometry auto-sizing: planes ≈ log2(n / target), clamped to
    * [4, 24] — the bucket count 2^planes that keeps the EXPECTED bucket
    * population near `target` at corpus size n. A FIXED plane count is
    * the silent scale trap this replaces: 6 planes put ~16k vectors in
    * every bucket at n = 1M, so a capped generator drops every bucket
    * and returns zero pairs with no error, and an uncapped probe pays
    * 16k-candidate buckets per query. Planes must grow with log(n);
    * pinned at 1M vectors by `ScaleSmoke` (auto default finds the
    * planted pairs the fixed default loses) and at 20k by
    * `LlmOpsSpec`.
    */
  private[operators] def autoPlanes(n: Long, target: Long): Int = {
    val p = math.ceil(
      math.log(math.max(1.0, n.toDouble / target)) / math.log(2.0)).toInt
    math.min(24, math.max(4, p))
  }

  /** LSH-bucketed approximate top-k with L independent hash tables:
    * the corpus is hashed once per table into 2^planes buckets; each
    * query probes, per table, its own bucket plus all single-bit-flip
    * neighbors (multi-probe), and candidates are unioned across tables.
    * Recall for a pair with per-bit agreement p is
    * 1 - (1 - p^planes - planes·p^(planes-1)(1-p))^tables — with 6
    * planes × 4 tables a 0.6-agreement pair is found with p ≈ 0.65,
    * vs ≈ 0.17 for a single 8-plane table.
    *
    * `planes = 0` (the default) AUTO-SIZES the geometry from the corpus
    * count — one count() action over the corpus, the price of not
    * handing a 1M-vector run the 6-plane geometry that melts into
    * 16k-member buckets (see [[autoPlanes]]); pass an explicit plane
    * count to pin the geometry (and skip the count) instead.
    *
    * Plan shape: keyed equi-join on (table, bucket) — per-query cost is
    * the probed-bucket population × tables, never the corpus; corpus-side
    * cost is tables× the base scan. No cartesian anywhere.
    */
  def lshBucketedTopK(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 0,
      tables: Int = 4): DataFrame = {
    // One driver-side peek fixes the dimension so the hyperplanes fold
    // to literals; a mismatched vector then fails fast instead of
    // silently hashing to bucket 0 (null-padded zip_with).
    val dim = peekDim(corpus, vecCol, "lshBucketedTopK")
    val p = if (planes == 0)
      autoPlanes(corpus.count(), math.max(64L, 8L * k)) else planes
    lshCore(corpus, queries, idCol, vecCol, k, p, tables, dim,
      "lshBucketedTopK", v => signaturesAllTables(v, p, tables, dim))
  }

  /** Integer-exact LSH top-k for integer-quantized vectors (e.g.
    * `round(x*1000)` or VectorOps int8 output): buckets come from signs
    * of integer dot products and similarities from integer-valued
    * cosine terms, so every stage — signatures, probes, candidates,
    * ranking — is bit-identical across engines and replicable in plain
    * SQL (see the q_knn_lsh_int oracle). Same plan shape as
    * lshBucketedTopK.
    */
  def lshBucketedTopKInt(corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, planes: Int = 0,
      tables: Int = 4): DataFrame = {
    val dim = peekDim(corpus, vecCol, "lshBucketedTopKInt")
    val p = if (planes == 0)
      autoPlanes(corpus.count(), math.max(64L, 8L * k)) else planes
    lshCore(corpus, queries, idCol, vecCol, k, p, tables, dim,
      "lshBucketedTopKInt", v => signaturesAllTablesInt(v, p, tables, dim))
  }

  /** Deterministic mini k-means centroids (driver-side on a sample):
    * init = first k vectors by id; `iters` Lloyd iterations over a
    * bounded sample. Returns (centroid_id, centroid) rows.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 3, sampleSize: Int = 10000): Array[(Int, Array[Double])] = {
    val sample = vectorSample(corpus, idCol, vecCol, sampleSize)
    require(sample.length >= k, s"need at least $k vectors")
    lloydInMemory(sample, k, iters).zipWithIndex.map { case (c, i) => (i, c) }
  }

  /** The bounded deterministic driver-side sample every in-memory fit
    * here draws: the first `sampleSize` rows by id, vectors cast to
    * double. Shared by [[kmeansCentroids]] and
    * [[ProductQuantization.fitCodebook]] so the sampling rule cannot
    * drift between them. Null vectors/elements fail on collect — a
    * caller expecting them filters upstream (fitCodebook does).
    */
  private[operators] def vectorSample(corpus: DataFrame, idCol: String,
      vecCol: String, sampleSize: Int): Array[Array[Double]] =
    corpus
      .select(col(idCol).as("id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .orderBy(col("id")).limit(sampleSize)
      .collect()
      .map(r => r.getSeq[Double](1).toArray)

  /** In-memory Lloyd's: init = the first `k` sample vectors, `iters`
    * rounds, an empty cluster keeps its previous centroid. ONE
    * implementation shared by [[kmeansCentroids]] and the per-subspace
    * fits in [[ProductQuantization.fitCodebook]] — a tie-break or
    * empty-cluster change lands in both or neither.
    */
  private[operators] def lloydInMemory(sample: Array[Array[Double]],
      k: Int, iters: Int): Array[Array[Double]] = {
    var centroids = sample.take(k).map(_.clone())
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](sample.head.length))
      val counts = new Array[Int](k)
      sample.foreach { v =>
        var best = 0; var bd = Double.MaxValue
        var c = 0
        while (c < k) { val d = dist2(v, centroids(c)); if (d < bd) { bd = d; best = c }; c += 1 }
        counts(best) += 1
        var i = 0
        while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = (0 until k).map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    centroids
  }

  /** Elementwise vector sum — the keyed-aggregation building block for
    * distributed Lloyd's. Partial-aggregates map-side (each partition
    * reduces to one k·dim buffer per present cid), so the shuffle
    * carries partitions × k dim-length arrays, never corpus rows.
    */
  private final class VecSumAggregator
      extends org.apache.spark.sql.expressions.Aggregator[
        Seq[Double], Array[Double], Seq[Double]] {
    override def zero: Array[Double] = Array.emptyDoubleArray
    private def add(b: Array[Double], a: Seq[Double]): Array[Double] = {
      // fail loudly: one wrong-dimension vector would otherwise
      // silently truncate (or ignore the tail of) every vector summed
      // after it and corrupt the centroid mean
      require(a.length == b.length,
        s"vector dim mismatch in centroid update: ${a.length} vs ${b.length}")
      var i = 0
      while (i < b.length) { b(i) += a(i); i += 1 }
      b
    }
    override def reduce(b: Array[Double], a: Seq[Double]): Array[Double] =
      if (b.isEmpty) a.toArray else add(b, a)
    override def merge(b1: Array[Double], b2: Array[Double]): Array[Double] =
      if (b1.isEmpty) b2 else if (b2.isEmpty) b1 else add(b1, b2)
    override def finish(r: Array[Double]): Seq[Double] = r.toSeq
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Double]]()
  }

  /** DataFrame-native Lloyd's over the FULL corpus — the scale path for
    * centroid fitting ([[kmeansCentroids]] iterates driver-side over a
    * bounded sample; fine for initialization, blind to everything
    * outside the sample). Per iteration: assignment is the NARROW
    * closure-matrix kernel ([[nearestCentroids]], no shuffle), and the
    * centroid update is ONE keyed aggregation (elementwise vector sum +
    * count per cid) whose result is k rows — driver memory stays
    * O(k·dim) at any corpus size (1M × k=256 pinned flat by
    * `ScaleSmoke`). Init = first k vectors by id, same determinism
    * contract as [[kmeansCentroids]]; empty clusters keep their
    * previous centroid. Double sums reassociate across partitions, so
    * centroid values are reproducible only up to summation order —
    * pass EXPLICIT centroids for bit-exact cross-engine pipelines (the
    * `*_int` oracle pattern).
    *
    * Degenerate rows — null vector, null element, or a length that
    * differs from the MAJORITY length (the corpus dim, chosen by a
    * one-pass count over distinct lengths with a deterministic
    * tie-break) — are filtered before init AND before each assignment
    * pass, so a dirty corpus fits on its clean subset instead of dying
    * in an opaque NPE (aggregator `a.toArray` / `getInt` on a null
    * cid) or poisoning the init centroids with a wrong-dim vector the
    * kernel would reject at construction.
    */
  def kmeansCentroidsDistributed(corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, iters: Int = 3): Array[(Int, Array[Double])] = {
    val nonNull = corpus.select(col(idCol).as("id"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(col("v").isNotNull && !exists(col("v"), _.isNull))
    // corpus dim by MAJORITY, not first-row peek: a wrong-dim vector
    // that happens to sort first would otherwise define the dim and
    // silently filter the entire real corpus out. One aggregation over
    // a handful of distinct lengths; count desc + size asc tie-break
    // keeps the choice deterministic.
    val dims = nonNull.groupBy(size(col("v")).as("__d"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("__d").asc).head(1)
    require(dims.nonEmpty,
      "kmeansCentroidsDistributed: no non-degenerate vectors")
    val dim = dims(0).getInt(0)
    val vecs = nonNull.filter(size(col("v")) === dim)
    val init = vecs.orderBy(col("id")).limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    require(init.length >= k, s"need at least $k non-degenerate vectors")
    var cents = init.zipWithIndex.map { case (v, i) => (i, v) }
    val vecSum = udaf(new VecSumAggregator)
    for (_ <- 0 until iters) {
      val sums = vecs
        .select(element_at(nearestCentroids(cents, col("v"), 1), 1)("cid").as("cid"),
          col("v"))
        .filter(col("cid").isNotNull) // wrong-dim rows: kernel → null cid
        .groupBy(col("cid"))
        .agg(vecSum(col("v")).as("sum"), count(lit(1)).as("n"))
        .collect()
        .map(r => r.getInt(0) ->
          r.getSeq[Double](1).map(_ / r.getLong(2)).toArray)
        .toMap
      cents = cents.map { case (cid, old) => (cid, sums.getOrElse(cid, old)) }
    }
    cents
  }

  /** ANN recall report — the number an approximate-index owner must
    * monitor at scale (wall time tells you nothing about silently-lost
    * neighbors): per-query recall@k of an approximate result set
    * against the exact [[bruteForceTopK]] ground truth on the SAME
    * (corpus, queries, k). `approx` is any (query_id, neighbor_id)
    * result — [[lshBucketedTopK]], [[ivfTopK]], their integer twins, or
    * an external index dump. Returns (query_id, truth_k, hits, recall):
    * truth_k ≤ k when the corpus has fewer than k non-self neighbors;
    * recall = hits / truth_k. Queries with NO possible neighbor (corpus
    * holds only the query itself) have no truth rows and are absent —
    * recall is undefined for them, not 0. Equal-similarity ties follow
    * the deterministic (sim DESC, neighbor_id ASC) contract every top-k
    * here uses, so an approximate method returning a tied-but-different
    * neighbor counts as a miss in BOTH engines identically (the
    * q_recall_lsh_int oracle is bit-exact end to end).
    *
    * Cost is the brute-force truth itself — which is why recall is
    * measured on a query SAMPLE (hundreds of queries: Q·N scores, a
    * broadcast scan that parallelizes linearly) and never the full
    * query log; the compare/aggregate joins move only Q·k id pairs.
    */
  def recallAtK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, approx: DataFrame): DataFrame = {
    val truth = bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = approx.select(col("query_id"), col("neighbor_id"))
      .distinct().withColumn("__hit", lit(1))
    truth.join(hits, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("truth_k"), count(col("__hit")).as("hits"))
      .select(col("query_id"), col("truth_k"), col("hits"),
        (col("hits").cast("double") / col("truth_k")).as("recall"))
  }

  /** One-row aggregate of [[recallAtK]]'s output: (n_queries,
    * macro_recall = mean of per-query recalls, micro_recall = total
    * hits / total truth rows). Macro weights every query equally;
    * micro weights by truth size — report both, they diverge exactly
    * when recall loss concentrates in a few queries.
    */
  def recallReport(perQuery: DataFrame): DataFrame =
    perQuery.agg(count(lit(1)).as("n_queries"),
      avg(col("recall")).as("macro_recall"),
      (sum(col("hits")).cast("double") / sum(col("truth_k")))
        .as("micro_recall"))

  /** Centroid list as an array-of-structs literal tree — input of the
    * HOF REFERENCE form below. k·(dim+1) literal nodes: fine for the
    * handful of centroids the parity spec uses, the reason the
    * operators don't use it (see [[nearestCentroids]]).
    */
  private[graft] def centroidArray(
      cents: Array[(Int, Array[Double])]): Column =
    array(cents.map { case (i, v) =>
      struct(lit(i).as("cid"), array(v.map(lit): _*).as("cv"))
    }: _*)

  /** HOF reference form of [[nearestCentroids]]: per-centroid
    * interpreted lambda over a literal centroid array, array_sort on
    * (d, cid). Kept ONLY to pin the native kernel's values/tie-break in
    * `VectorKernelParitySpec` — k·(dim+1) plan nodes and k tree-walks
    * per row make it the wrong plan beyond O(100) centroids.
    */
  private[graft] def nearestCentroidsHof(centArr: Column, vec: Column,
      n: Int): Column = {
    val scored = transform(centArr, c => struct(
      graft.expressions.VectorHashExprs.sqDistNative(vec, c("cv")).as("d"),
      c("cid").as("cid")))
    slice(array_sort(scored), 1, n)
  }

  /** The `n` nearest centroids of `vec` as (d, cid) structs, exact
    * deterministic tie-break (d ASC, cid ASC) — one native codegen'd
    * kernel call per row ([[graft.expressions.NearestCentroidsExpr]]).
    * The centroid matrix rides the generated class as ONE opaque
    * reference object (shipped with the broadcast task binary), so
    * thousands of centroids — the √N counts a web-scale SemDeDup run
    * wants — add zero plan nodes and zero per-row interpretation;
    * assignment stays a NARROW map, no shuffle. Beyond closure-sized
    * matrices (≳10^5 centroids) use [[assignCentroidsJoin]].
    */
  private[operators] def nearestCentroids(cents: Array[(Int, Array[Double])],
      vec: Column, n: Int): Column =
    graft.expressions.VectorHashExprs.nearestCentroidsNative(vec, cents, n)

  /** Nearest-centroid assignment as a broadcast join + `min_by` — the
    * DataFrame-native twin of [[nearestCentroids]] for centroid sets
    * that are themselves distributed data (e.g. the output of a huge
    * clustering job) and too large to serialize into the task closure.
    * `centroids` must have columns (cid int, cv array<double>).
    * Returns (id, cid).
    *
    * Plan shape: broadcast nested-loop join replicates each doc row
    * k× WITHIN its partition; the `min_by` partial aggregation
    * collapses those k rows back to one per doc map-side (same task),
    * so the final shuffle carries ONE (id, cid) row per doc. That
    * one corpus-keyed shuffle is the price over the closure-matrix
    * kernel (narrow) — pay it only when the matrix genuinely cannot
    * ride the closure. Tie-break parity: `min_by` on struct(d, cid)
    * orders lexicographically = (d ASC, cid ASC), identical to the
    * kernel (pinned by spec). Degenerate docs (null vector, wrong
    * dim, null element → null distance against every centroid) get NO
    * output row — without the null-distance filter, Spark's
    * nulls-first struct ordering would dump every degenerate doc into
    * the lowest-cid REAL cluster (and a capped consumer would then
    * drop that cluster wholesale); the kernel path parks them in the
    * null cluster, where verification discards them — no pairs either
    * way. Ids must be UNIQUE — the contract of every id-keyed operator
    * here; duplicate ids collapse to one (deterministically chosen)
    * vector.
    */
  def assignCentroidsJoin(docs: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, keepVec: Boolean = false): DataFrame = {
    // an empty centroid set would silently assign nothing and a
    // downstream dedup would "succeed" having deduplicated nothing —
    // the kernel path throws on construction; match it
    require(!centroids.isEmpty,
      "assignCentroidsJoin: empty centroid set — nothing to assign to")
    val c = broadcast(centroids.select(col("cid"), col("cv")))
    val key = struct(col("__d"), col("cid"))
    val grouped = docs.select(col(idCol).as("id"), col(vecCol).as("v"))
      .join(c)
      .select(col("id"), col("v"), col("cid"),
        // evalOnce: the null-distance filter below would otherwise be
        // pushed under this projection with the distance expression
        // substituted in — the doc×centroid distance matrix computed
        // twice (guide §4.4, expression form)
        graft.expressions.BarrierExprs.evalOnce(
          graft.expressions.VectorHashExprs.sqDistNative(
            col("v"), col("cv"))).as("__d"))
      .filter(col("__d").isNotNull)
      .groupBy(col("id"))
    // keepVec rides the doc's vector through the same aggregation
    // (one v per id under the unique-id contract; min_by keeps the
    // pick deterministic even on contract-breaking input) — the
    // downstream cluster stage then needs no corpus-sized join-back
    if (keepVec)
      grouped.agg(min_by(col("cid"), key).as("cid"),
        min_by(col("v"), key).as("v"))
    else grouped.agg(min_by(col("cid"), key).as("cid"))
  }

  /** IVF top-k: corpus partitioned by nearest centroid (native
    * closure-matrix kernel argmin — narrow, scales to thousands of
    * centroids); queries probe the `nprobe` nearest centroids. Keyed
    * equi-join on centroid id.
    *
    * `centroids` overrides the deterministic mini k-means — passing
    * EXPLICIT integer-valued centroids with integer-quantized vectors
    * makes every stage (assignment argmin, probes, cosine, ranking)
    * bit-replicable by an external engine (the q_knn_ivf_int oracle
    * twin); use [[kmeansCentroidsDistributed]] for corpus-scale
    * centroid fitting.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, numCentroids: Int = 16, nprobe: Int = 4,
      centroids: Array[(Int, Array[Double])] = null): DataFrame = {
    val cents = if (centroids != null) centroids
      else kmeansCentroids(corpus, idCol, vecCol, numCentroids)

    def nearestCentroids(vec: Column, n: Int): Column =
      Similarity.nearestCentroids(cents, vec, n)

    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      // evalOnce: the equi-join on cid infers isnotnull(cid), and
      // pushdown would substitute the whole assignment kernel into
      // that filter — every corpus row assigned twice (guide §4.4)
      .withColumn("cid", graft.expressions.BarrierExprs.evalOnce(
        element_at(nearestCentroids(col("cv"), 1), 1)("cid")))
    val q = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("probe", explode(nearestCentroids(col("qv"), nprobe)))
        .select(col("query_id"), col("qv"), col("probe")("cid").as("cid")))
    val scored = q.join(c, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosineNative(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .distinct() // a neighbor can appear via several probed centroids
    TopK.topKPerQuery(scored, k)
  }
}
