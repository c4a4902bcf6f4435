package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Lexical retrieval over a document corpus: inverted-index
  * construction and BM25 top-k scoring (Robertson & Zaragoza 2009,
  * "The Probabilistic Relevance Framework: BM25 and Beyond") — the
  * retrieval primitive a training-data pipeline uses for hard-negative
  * mining, nearest-text lookup, and benchmark decontamination beyond
  * n-gram overlap. Reference: N/A (beyond the reference's surface —
  * LLM-pipeline brief).
  *
  * Scale shape (the 100 TB contract):
  *   - postings/df build is ONE corpus scan + keyed aggregations whose
  *     shuffle keys are the 8-byte [[TextFunctions.md5Hash60]] of the
  *     term (the repo-wide convention — raw term strings never key a
  *     corpus-sized shuffle; the inverted-INDEX builder, whose OUTPUT
  *     is the term string, is the one deliberate exception);
  *   - the query side is assumed interactively small (a benchmark, a
  *     probe set — thousands, not billions) and is BROADCAST against
  *     the postings table, so the corpus never re-shuffles per query
  *     batch;
  *   - per-(query, doc) scores aggregate with a deterministic ordered
  *     fold, and the final top-k runs through the bounded
  *     [[TopK.topKPerQuery]] aggregator — map-side ≤k buffers, never a
  *     per-query window sort of all scored docs.
  *
  * Determinism: every arithmetic step is a correctly-rounded IEEE-754
  * double op evaluated in a FIXED order (term scores fold in term-hash
  * order), so scores — and therefore ranks, with the (score DESC, id
  * ASC) tie-break — replicate bit-for-bit on any engine... except the
  * default `ln`-based idf: platform `log` implementations differ by
  * 1 ULP on some inputs (measured: 2/5020 df values vs this box's
  * DuckDB), so the oracle-exact twin uses `rationalIdf = true`, which
  * drops the `ln` (idf = (N-df+0.5)/(df+0.5), the same monotone
  * ordering per term) and keeps every bit reproducible.
  */
object Retrieval {

  /** The inverted index as data: one row per (term, doc) with the
    * within-doc term frequency — (term, id, tf). Within-doc repeats
    * collapse map-side, so the shuffle carries distinct (doc, term)
    * pairs. The term STRING is the row's payload here (this is the
    * index a consumer reads), so it rides the one aggregation shuffle;
    * [[bm25TopK]] never builds this string-keyed form — it keys on the
    * 60-bit term hash end-to-end.
    */
  def invertedIndex(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    TopK.requireIntegral(docs, idCol, "invertedIndex")
    docs
      .select(col(idCol).cast("long").as("id"),
        // explode_outer + null filter: a plain explode lets
        // InferFiltersFromGenerate duplicate the tokenize tree into a
        // pushed-down size() filter (the trap pinned in PlanShapeSpec)
        explode_outer(graft.expressions.TextHashExprs
          .ngramsNative(col(textCol), 1)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy(col("term"), col("id"))
      .agg(count(lit(1)).as("tf"))
  }

  /** Per-term corpus statistics off the inverted index: document
    * frequency and collection frequency — (term, df, cf).
    */
  def termStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    invertedIndex(docs, idCol, textCol)
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("cf"))

  /** Vocabulary-mapped token ids — the step that turns curated text
    * into what a trainer actually consumes: each doc's tokens become
    * int ids via a (token, token_id) vocabulary TABLE, OOV tokens
    * become `oovId`, original order preserved. Returns
    * (id, n_tokens, token_ids array<int>); empty/null docs yield an
    * empty array. Compose with [[CorpusAnalysis.packSequences]] /
    * `packTexts` for packed id sequences.
    *
    * Plan: posexplode → broadcast vocab join (the vocabulary is
    * id-mapping-sized, not corpus-sized) → one regroup keyed by doc id
    * whose shuffle carries (doc, pos, int id) rows — the token STRINGS
    * are dropped at the join, so the wide step moves 12-byte rows;
    * order is restored exactly via sort_array over (pos, id) structs,
    * never assumed from collect_list.
    */
  def tokensToIds(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, oovId: Int = 0): DataFrame = {
    TopK.requireIntegral(docs, idCol, "tokensToIds")
    val v = broadcast(vocab.select(col("token").as("__tok"),
      col("token_id").cast("int").as("__tid")))
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode_outer(graft.expressions.TextHashExprs
          .ngramsNative(col(textCol), 1)))
      .toDF("id", "pos", "__tok")
      .join(v, Seq("__tok"), "left")
      .groupBy(col("id"))
      .agg(
        count(col("pos")).cast("long").as("n_tokens"),
        transform(
          // when() guards the empty/null-doc row posexplode_outer
          // emits (null pos): collect_list skips nulls, so those docs
          // get an empty array instead of a phantom [oovId]
          sort_array(collect_list(when(col("pos").isNotNull,
            struct(col("pos"),
              coalesce(col("__tid"), lit(oovId)).as("tid"))))),
          s => s("tid")).as("token_ids"))
  }

  /** Trainer-ready packed sequences: [[CorpusAnalysis.packSequences]]'s
    * greedy token-budget packing composed with [[tokensToIds]] — one
    * row per (shard, pack) carrying the concatenated int token ids of
    * its docs in pack order, i.e. the `input_ids` a training loader
    * consumes. Returns (shard, pack_id, n_docs, n_tokens, input_ids).
    *
    * Plan: the packing assignment (narrow per-shard scan) joins the
    * token-id table on the LONG doc id — fixed-width keys, the doc
    * TEXT never enters this pipeline's shuffles (it is dropped inside
    * both inputs) — then ONE regroup per (shard, pack_id) whose rows
    * are already int arrays; pack order is restored by sort_array over
    * (pack_pos, ids), never assumed from collect_list arrival.
    */
  def packTokenIds(docs: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame, maxTokens: Int = 2048, shards: Int = 16,
      oovId: Int = 0): DataFrame = {
    val ids = tokensToIds(docs, idCol, textCol, vocab, oovId)
      .select(col("id"), col("token_ids"))
    CorpusAnalysis.packSequences(docs, idCol, textCol, maxTokens, shards)
      .join(ids, Seq("id"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("doc_tokens")).as("n_tokens"),
        flatten(transform(
          sort_array(collect_list(struct(col("pack_pos"),
            col("token_ids").as("tids")))),
          s => s("tids"))).as("input_ids"))
  }

  /** BM25 top-k retrieval: for each query row, the `k` highest-scoring
    * corpus docs as (query_id, rank, neighbor_id, sim), rank 1-based,
    * ties broken (sim DESC, neighbor_id ASC) — identical contract to
    * the kNN operators in [[Similarity]].
    *
    * score(q, d) = Σ_{t ∈ distinct terms(q)} idf(t) ·
    *   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * with idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)) (the Lucene
    * always-positive form), or the rational (N − df + 0.5)/(df + 0.5)
    * under `rationalIdf` (bit-reproducible across engines; see the
    * object scaladoc). Query terms are DISTINCT (unweighted short-query
    * form); terms absent from the corpus contribute nothing.
    *
    * Plan: one corpus scan builds hash-keyed postings carrying the doc
    * length; the df table joins the (broadcast) distinct query terms,
    * and the resulting per-(query, term) idf table — query-sized —
    * broadcasts against the postings; per-(query, doc) term scores fold
    * in term-hash order; [[TopK.topKPerQuery]] bounds the final
    * selection. Corpus count and total length are ONE bounded
    * 2-scalar aggregate (the same driver envelope
    * `temperatureMixtureRates` uses).
    */
  def bm25TopK(corpus: DataFrame, queries: DataFrame, idCol: String,
      textCol: String, queryIdCol: String, queryTextCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      rationalIdf: Boolean = false): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(k1 >= 0.0, s"k1 must be >= 0, got $k1")
    require(b >= 0.0 && b <= 1.0, s"b must be in [0,1], got $b")
    TopK.requireIntegral(corpus, idCol, "bm25TopK")
    TopK.requireIntegral(queries, queryIdCol, "bm25TopK")

    // token HASHES straight from the native kernel (one md5 per token
    // in one codegen loop — the split+per-token md5Hash60 SQL chain
    // this replaces computed identical values interpreted); the token
    // strings themselves never enter the pipeline
    val docToks = corpus.select(col(idCol).cast("long").as("id"),
      graft.expressions.TextHashExprs
        .ngramHashes(col(textCol), 1, distinct = false).as("__t"))

    // corpus envelope: N docs, total token count — 2 scalars, bounded
    val stat = docToks
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size(col("__t"))), lit(0L)).as("sdl")).head()
    val nDocs = stat.getLong(0)
    val sumDl = stat.getLong(1)
    require(nDocs > 0, "bm25TopK: empty corpus")
    val avgdl = sumDl.toDouble / nDocs.toDouble

    // postings keyed by the 60-bit term hash, doc length riding along
    // (dl is id-functional — it widens the aggregation key by 8 bytes,
    // not the shuffle by a join)
    // materialized ONCE (localCheckpoint, the kneserNeyScores `cb`
    // rationale): the postings feed BOTH the df table and the scoring
    // join below — without the checkpoint the corpus-wide
    // tokenize + hash + aggregate lineage runs twice per query batch
    // (measured as the two dominant ~1 s stages of q_bm25 at sf0.1)
    val posts = docToks
      .select(col("id"), size(col("__t")).as("dl"),
        explode_outer(col("__t")).as("gh"))
      .filter(col("gh").isNotNull)
      .groupBy(col("id"), col("dl"), col("gh"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val dfTbl = posts.groupBy(col("gh")).agg(count(lit(1)).as("df"))

    // distinct query terms, hashed the same way; the df join broadcasts
    // the query side (tiny) against the vocabulary-sized df table, and
    // its query-sized RESULT broadcasts against the corpus postings
    val qTerms = queries
      .select(col(queryIdCol).cast("long").as("query_id"),
        explode_outer(graft.expressions.TextHashExprs
          .ngramHashes(col(queryTextCol), 1, distinct = true)).as("gh"))
      .filter(col("gh").isNotNull)
    val rational = (lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val idf = if (rationalIdf) rational else log(lit(1.0) + rational)
    val qIdf = dfTbl.join(broadcast(qTerms), Seq("gh"))
      .select(col("query_id"), col("gh"), idf.as("__idf"))

    // per-(query, doc, term) score — every op correctly rounded, fixed
    // order, so the fold below is bit-reproducible
    val termScore = col("__idf") *
      ((col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) *
          (lit(1.0 - b) + lit(b) * (col("dl").cast("double") / lit(avgdl)))))
    val scored = posts.join(broadcast(qIdf), Seq("gh"))
      .select(col("query_id"), col("id"), col("gh"), termScore.as("__sc"))
      .groupBy(col("query_id"), col("id"))
      // deterministic ordered fold: term scores sum in (gh, score)
      // order — a bare sum() would fold in partition arrival order and
      // scores would drift by ULPs between runs and engines
      .agg(aggregate(
        sort_array(collect_list(struct(col("gh"), col("__sc")))),
        lit(0.0), (acc, x) => acc + x("__sc")).as("sim"))
    TopK.topKPerQuery(
      scored.select(col("query_id"), col("id").as("neighbor_id"), col("sim")), k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009,
    * "Reciprocal Rank Fusion outperforms Condorcet and individual
    * Rank Learning Methods", SIGIR): fuse N per-query rankings into
    * one by score(q, d) = Σ_i 1/(c + rank_i(d)) over the rankers that
    * returned d for q — the standard recipe for hybrid lexical+dense
    * retrieval (BM25 ∪ kNN), rank-only so no score calibration across
    * rankers is needed. Inputs share the (query_id, rank, neighbor_id)
    * contract every retrieval operator here emits ([[bm25TopK]],
    * [[Similarity.bruteForceTopK]], [[Similarity.lshBucketedTopK]], …).
    *
    * Determinism: contributions fold in EXPLICIT ranker order (each
    * input is tagged with its position; the fold sorts by tag) — the
    * same ordered-fold recipe as [[bm25TopK]]'s term sum — and
    * 1/(c+rank) is a single correctly-rounded division, so fused
    * scores, ranks, and the (sim DESC, neighbor_id ASC) tie-break
    * replicate bit-for-bit cross-engine (q_rrf_fusion).
    *
    * Scale shape: the inputs are already per-query top-k results
    * (≤ |queries|·k rows each), so the union + (query_id, neighbor_id)
    * aggregation shuffles result-sized data — never corpus-sized —
    * and [[TopK.topKPerQuery]] bounds the output. Fusing R rankers of
    * depth d costs O(|queries|·d·R) regardless of corpus size.
    */
  def reciprocalRankFusion(rankings: Seq[DataFrame], k: Int,
      c: Double = 60.0): DataFrame = {
    require(rankings.nonEmpty, "reciprocalRankFusion: no rankings given")
    require(k >= 1, s"k must be >= 1, got $k")
    require(c >= 0.0, s"rrf constant must be >= 0, got $c")
    rankings.foreach(TopK.requireIntegral(_, "neighbor_id",
      "reciprocalRankFusion"))
    val tagged = rankings.zipWithIndex.map { case (r, i) =>
      r.select(col("query_id").cast("long").as("query_id"),
        lit(i).as("__src"), col("neighbor_id").cast("long").as("neighbor_id"),
        col("rank").cast("long").as("__rank"))
    }.reduce(_ unionByName _)
    val fused = tagged
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(aggregate(
        sort_array(collect_list(struct(col("__src"), col("__rank")))),
        lit(0.0),
        (acc, x) => acc + lit(1.0) / (lit(c) + x("__rank").cast("double")))
        .as("sim"))
    TopK.topKPerQuery(fused, k)
  }
}
