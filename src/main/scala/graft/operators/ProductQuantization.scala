package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Product quantization for approximate nearest neighbor at corpus
  * scale (Jégou, Douze & Schmid 2011, "Product Quantization for
  * Nearest Neighbor Search"): vectors split into `m` subspaces, each
  * sub-vector quantized to its nearest sub-centroid, so a dim-D float
  * vector compresses to `m` small codes and query distance becomes `m`
  * table lookups (ADC — asymmetric distance computation) instead of a
  * D-term dot product. THE memory lever for 100 TB ANN: a 64-dim
  * float corpus (256 B/vec) stores as 8 one-byte codes (32× smaller),
  * small enough to keep the whole index in executor memory where the
  * raw vectors never were. Reference: N/A (beyond the reference's
  * surface — LLM-pipeline brief).
  *
  * Scale shape:
  *   - the codebook is tiny (m·k·(dim/m) doubles — 4 KB at the
  *     defaults) and rides the task closure through the same
  *     codegen'd closure-matrix kernel centroid assignment uses
  *     ([[graft.expressions.NearestCentroidsExpr]]); encoding is a
  *     NARROW map — one kernel call per subspace per row, no shuffle;
  *   - queries (small, interactive) precompute their m×k distance
  *     tables once per query row and BROADCAST; scoring a candidate
  *     is m array lookups folded in subspace order — deterministic
  *     summation, bit-reproducible;
  *   - the final top-k is the bounded [[TopK.topKPerQuery]]
  *     aggregator. The scan over encoded candidates is the brute
  *     [[Similarity.bruteForceTopK]] plan shape at 1/32 the bytes and
  *     ~1/8 the per-pair arithmetic; compose with an IVF-style
  *     candidate filter when even the code scan is too wide.
  *
  * Codebooks: [[fitCodebook]] runs per-subspace Lloyd's on a bounded
  * sample (the production path); [[sampledCodebook]] picks the `k`
  * corpus vectors with the smallest md5-60(salt:id) and uses their
  * sub-vectors verbatim — fully deterministic and engine-replicable,
  * the form the integer oracle twin (`q_pq_int`) pins bit-exactly.
  */
object ProductQuantization {

  /** m × k × (dim/m) sub-centroid matrix. `codebook(s)(c)` is
    * sub-centroid `c` of subspace `s`.
    */
  type Codebook = Array[Array[Array[Double]]]

  private def checkCodebook(cb: Codebook): (Int, Int, Int) = {
    require(cb.nonEmpty && cb(0).nonEmpty && cb(0)(0).nonEmpty,
      "empty codebook")
    val (m, k, sd) = (cb.length, cb(0).length, cb(0)(0).length)
    require(cb.forall(s => s.length == k && s.forall(_.length == sd)),
      s"ragged codebook: expected $m x $k x $sd")
    (m, k, sd)
  }

  /** Deterministic sampled codebook: the sub-vectors of the `k` corpus
    * rows with the smallest (md5-60(salt:id), id) — a pure function of
    * the corpus, replicable by any engine (the same selection rule as
    * [[CorpusAnalysis.stratifiedSampleN]]). Codebook quality is that
    * of a random sample — fine for planted-duplicate discrimination
    * and oracle pinning; use [[fitCodebook]] when quantization error
    * matters.
    */
  def sampledCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, salt: String = "pqcb"): Codebook = {
    require(m >= 1 && k >= 1, s"need m >= 1 and k >= 1, got m=$m k=$k")
    val rows = corpus
      .select(
        TextFunctions.md5Hash60(concat(lit(salt), lit(":"),
          col(idCol).cast("string"))).as("h"),
        col(idCol).cast("string").as("sid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .filter(col("v").isNotNull && !exists(col("v"), e => e.isNull))
      .orderBy(col("h"), col("sid"))
      .limit(k)
      .collect()
      .map(_.getSeq[Double](2).toArray)
    require(rows.length == k,
      s"sampledCodebook: corpus has only ${rows.length} usable vectors, need $k")
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(rows.forall(_.length == dim),
      "sampledCodebook: mixed vector dimensions in the sample")
    val sd = dim / m
    Array.tabulate(m)(s => rows.map(_.slice(s * sd, (s + 1) * sd)))
  }

  /** Per-subspace Lloyd's on a bounded sample — the production
    * codebook: ONE driver-side collect through the shared
    * [[Similarity.vectorSample]] envelope, then `m` in-memory
    * [[Similarity.lloydInMemory]] fits over the sub-sliced sample, so
    * fitting cost is independent of corpus size. Degenerate rows
    * (null vector, null element) are filtered before sampling; a
    * mixed-dimension sample fails loudly.
    */
  def fitCodebook(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int = 3, sampleSize: Int = 10000): Codebook = {
    require(m >= 1 && k >= 1, s"need m >= 1 and k >= 1, got m=$m k=$k")
    val sample = Similarity.vectorSample(
      corpus.filter(col(vecCol).isNotNull &&
        !exists(col(vecCol), e => e.isNull)),
      idCol, vecCol, sampleSize)
    require(sample.length >= k,
      s"fitCodebook: need at least $k vectors, got ${sample.length}")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    require(sample.forall(_.length == dim),
      "fitCodebook: mixed vector dimensions in the sample")
    val sd = dim / m
    Array.tabulate(m) { s =>
      val sub = sample.map(_.slice(s * sd, (s + 1) * sd))
      Similarity.lloydInMemory(sub, k, iters)
    }
  }

  /** Encode vectors to PQ codes: (id, codes array<int>), `codes(s)` =
    * nearest sub-centroid of subspace `s`, tie-break (distance ASC,
    * cid ASC) — the codegen'd kernel's pinned contract. A NARROW map:
    * the codebook rides the task closure, nothing shuffles. Rows whose
    * vector is null or mis-sized (shorter OR longer than m·sd) get a
    * null code ARRAY; a null element nulls its own subspace's code
    * (the kernel's null-cluster convention). [[adcTopK]] and
    * [[ivfpqTopK]] filter both shapes out of scoring.
    */
  def encode(vectors: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): DataFrame = {
    vectors.select(col(idCol).as("id"),
      codesCol(transform(col(vecCol), x => x.cast("double")), cb)
        .as("codes"))
  }

  /** The PQ code array as a bare column over a double-array vector
    * column — one closure-matrix kernel call per subspace, all in a
    * single narrow projection (shared by [[encode]] and the IVF-PQ
    * corpus build, which adds the coarse cid in the SAME projection
    * rather than joining two corpus-wide frames). Vectors whose size
    * is not EXACTLY m·sd get a null code array — without the size
    * guard, a LONGER vector would silently encode from its prefix
    * (every slice is full) and score in [[adcTopK]] while the coarse
    * quantizer of [[ivfpqTopK]] drops it, breaking the
    * nprobe-ALL ≡ flat-ADC equivalence the spec pins.
    */
  private def codesCol(v: org.apache.spark.sql.Column,
      cb: Codebook): org.apache.spark.sql.Column = {
    val (m, _, sd) = checkCodebook(cb)
    // evalOnce: consumers filter on codes (null / null-element rows
    // drop out of scoring); without the barrier, pushdown substitutes
    // ALL m kernel calls into the pushed filter and every corpus row
    // pays the encode twice (guide §4.4, expression form)
    graft.expressions.BarrierExprs.evalOnce(
      when(size(v) === m * sd,
        array((0 until m).map { s =>
          element_at(Similarity.nearestCentroids(
            cb(s).zipWithIndex.map { case (c, i) => (i, c) },
            slice(v, s * sd + 1, sd), 1), 1)("cid")
        }: _*))
        .otherwise(lit(null).cast("array<int>")))
  }

  /** ADC top-k: for each query row the `k` encoded corpus rows with
    * the smallest approximate distance, as (query_id, rank,
    * neighbor_id, dist) — rank 1-based, ties (dist ASC, neighbor_id
    * ASC). Each query precomputes its m×k sub-distance tables ONCE
    * (broadcast with the query row); each candidate then costs m
    * lookups folded in subspace order — deterministic summation, so
    * distances replicate bit-for-bit (exactly integer-valued on
    * integer-quantized inputs — the q_pq_int oracle). Self-matches
    * (same id) are excluded, as in the other kNN operators; degenerate
    * corpus rows (null codes) and queries (null/mis-sized vectors)
    * are dropped from scoring.
    */
  def adcTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cb: Codebook): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    TopK.requireIntegral(corpus, idCol, "adcTopK")
    TopK.requireIntegral(queries, idCol, "adcTopK")
    val (m, _, sd) = checkCodebook(cb)
    val enc = encode(corpus, idCol, vecCol, cb)
      .select(col("id").as("neighbor_id"), col("codes"))
      .filter(col("codes").isNotNull &&
        !exists(col("codes"), c => c.isNull))
    val q = broadcast(
      queryTables(queries, idCol, vecCol, cb)
        .select(col("query_id"), col("tables")))
    rankAdc(q.join(enc, col("query_id") =!= col("neighbor_id")), k)
  }

  /** IVF-PQ: the composition that makes PQ a full 100 TB index — a
    * coarse quantizer (the same centroid set [[Similarity.ivfTopK]]
    * uses) prunes candidates to the `nprobe` nearest inverted lists
    * BEFORE ADC scoring, so a query touches |corpus|·nprobe/numCoarse
    * codes instead of every code (and the per-candidate cost is
    * already m lookups). The join is keyed on the coarse cid — a
    * broadcast hash join of the probe table against the encoded
    * corpus, never the all-pairs scan [[adcTopK]] degrades to.
    *
    * This is the IVFADC layout of Jégou et al. 2011 §IV with one
    * documented simplification: codes quantize the RAW vector, not the
    * residual (v − coarse centroid) — candidate pruning and memory
    * compression are identical, per-cell quantization error is
    * slightly higher, and codes stay independent of the coarse
    * assignment (an encoded corpus can be re-sharded without
    * re-encoding). Same output contract and determinism as
    * [[adcTopK]].
    */
  def ivfpqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, k: Int, cb: Codebook, numCoarse: Int = 16,
      nprobe: Int = 4,
      coarse: Array[(Int, Array[Double])] = null): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    TopK.requireIntegral(corpus, idCol, "ivfpqTopK")
    TopK.requireIntegral(queries, idCol, "ivfpqTopK")
    val (m, _, sd) = checkCodebook(cb)
    val cents = if (coarse != null) coarse
      else Similarity.kmeansCentroids(corpus, idCol, vecCol, numCoarse)
    // ONE narrow projection computes the coarse cid AND the m codes —
    // all closure-matrix kernel calls over the same row, no join, no
    // shuffle for the whole index build
    val enc = corpus
      .select(col(idCol).as("neighbor_id"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .select(col("neighbor_id"),
        // evalOnce: the equi-join on cid infers isnotnull(cid); the
        // barrier keeps that inferred filter from re-running the
        // coarse-assignment kernel below this projection
        graft.expressions.BarrierExprs.evalOnce(
          element_at(Similarity.nearestCentroids(cents, col("v"), 1), 1)("cid"))
          .as("cid"),
        codesCol(col("v"), cb).as("codes"))
      .filter(col("cid").isNotNull && col("codes").isNotNull &&
        !exists(col("codes"), c => c.isNull))
    val q = broadcast(
      queryTables(queries, idCol, vecCol, cb)
        .withColumn("probe",
          explode(Similarity.nearestCentroids(cents, col("qv"), nprobe)))
        .select(col("query_id"), col("tables"), col("probe")("cid").as("cid")))
    // each corpus row lives in exactly ONE inverted list and probes are
    // distinct centroids, so a (query, neighbor) pair appears at most
    // once — no dedup needed
    rankAdc(q.join(enc, Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id")), k)
  }

  /** (query_id, qv, tables): per-query m×k sub-distance tables,
    * computed once per query row. Degenerate queries (null/mis-sized
    * vectors) are dropped.
    */
  private def queryTables(queries: DataFrame, idCol: String,
      vecCol: String, cb: Codebook): DataFrame = {
    val (m, _, sd) = checkCodebook(cb)
    val qv = transform(col(vecCol), x => x.cast("double"))
    val tables = array((0 until m).map { s =>
      array(cb(s).map { c =>
        graft.expressions.VectorHashExprs.sqDistNative(
          slice(col("qv"), s * sd + 1, sd),
          typedlit(c))
      }: _*)
    }: _*)
    queries
      .select(col(idCol).as("query_id"), qv.as("qv"))
      .filter(size(col("qv")) === m * sd)
      .select(col("query_id"), col("qv"), tables.as("tables"))
  }

  /** ADC fold + bounded top-k over (query_id, tables, neighbor_id,
    * codes) candidate rows.
    */
  private def rankAdc(cands: DataFrame, k: Int): DataFrame = {
    val scored = cands
      .select(col("query_id"), col("neighbor_id"),
        // m table lookups, folded s = 0..m-1 — fixed order
        aggregate(
          zip_with(col("tables"), col("codes"),
            (t, c) => element_at(t, c + 1)),
          lit(0.0), (acc, x) => acc + x).as("dist"))
    TopK.topKPerQuery(
      scored.select(col("query_id"), col("neighbor_id"),
        negate(col("dist")).as("sim")), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        negate(col("sim")).as("dist"))
  }
}
