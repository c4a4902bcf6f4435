package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Classifier-based quality filtering — the GPT-3 / PaLM pipeline
  * stage (Brown et al. 2020, appendix A: score every crawl doc with a
  * classifier trained "high-quality corpus vs raw crawl", keep docs
  * the classifier likes). The classifier here is multinomial Naive
  * Bayes over unigrams — the count-based member of that family: the
  * per-doc score is the log likelihood ratio
  * Σ_t ln [p(t|pos) / p(t|neg)], p(t|C) = (c_C(t)+α)/(N_C+αV) with a
  * shared vocabulary V, so training IS two token counts and scoring is
  * one hash join — no gradient loop, which is what makes the estimator
  * one pass per corpus at 100 TB. Class priors are omitted: they shift
  * every doc by the same constant and the downstream consumer
  * thresholds or rank-buckets the score anyway.
  * Reference: N/A (beyond the reference's surface — LLM-pipeline
  * brief).
  *
  * Score columns per doc:
  *   - `sum_ratio` / `avg_ratio` — the per-token likelihood ratios
  *     r_t = p(t|pos)/p(t|neg) summed in position order. Pure {+,*,/}
  *     over integer-exact counts: correctly-rounded IEEE ops in fixed
  *     order, BIT-EXACT across engines (the q_nb_quality oracle
  *     replicates them in DuckDB).
  *   - `log_odds` / `avg_log_odds` / `is_positive` — the conventional
  *     NB decision Σ ln r_t (> 0 ⇒ positive-like). `ln` is
  *     transcendental (1-ULP cross-engine divergence), so these
  *     columns are for users, not the oracle; the spec pins the
  *     verdicts on a planted fixture.
  *
  * Scale shape (everything keyed by 8-byte md5-60 hashes, never by
  * token strings — same discipline as [[LanguageModel]]):
  *   - train: one keyed unigram count per class — vocabulary-sized,
  *     not corpus-sized — plus ONE union-tagged pass for the three
  *     scalars (N_pos, N_neg, V);
  *   - score: doc token rows left-join the two count tables on their
  *     hashes (AQE broadcasts them when the training corpora are
  *     small), then ONE per-doc fold in position order;
  *   - no collect anywhere except the single 3-scalar row.
  */
object QualityClassifier {

  /** (id, pos, w_hash) token rows, pos 1-based. Empty/null-text docs
    * produce no rows and are EXCLUDED from scoring (same contract as
    * [[LanguageModel.bigramLmScores]]). Narrow.
    */
  private def tokenRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // token hashes straight from the native kernel (bit-identical to
    // the HOF tokens + md5-hex chain — NativeKernelParitySpec)
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .ngramHashes(col(textCol), 1, distinct = false)))
      .select(col("id"), (col("pos") + 1).as("pos"),
        col("col").as("w_hash"))
  }

  /** Per-class unigram count table (w_hash, cnt). */
  private def classCounts(corpus: DataFrame, textCol: String,
      cntName: String): DataFrame = {
    corpus
      .select(explode(graft.expressions.TextHashExprs
        .ngramHashes(col(textCol), 1, distinct = false)).as("w_hash"))
      .groupBy(col("w_hash"))
      .agg(count(lit(1)).as(cntName))
  }

  /** Score `docs` under an NB classifier trained on `positive` vs
    * `negative`. Returns (id, n_tokens, sum_ratio, avg_ratio,
    * log_odds, avg_log_odds, is_positive); see object doc for which
    * columns are oracle-exact.
    */
  def nbQualityScores(docs: DataFrame, positive: DataFrame,
      negative: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    TopK.requireIntegral(docs, idCol, "nbQualityScores")
    val pc = classCounts(positive, textCol, "p_cnt")
    val nc = classCounts(negative, textCol, "n_cnt")
    // N_pos, N_neg, V in one union-tagged pass — the single collect.
    // V is the DISTINCT-token count over BOTH classes (the shared
    // smoothing vocabulary); max(1) keeps empty training sets finite.
    // token STRINGS here (countDistinct is over the shared vocabulary,
    // not hashes) — still the native tokenizer
    val tagged = positive
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(col(textCol), 1)).as("t"),
        lit(1).as("side"))
      .unionByName(negative
        .select(explode(graft.expressions.TextHashExprs
          .ngramsNative(col(textCol), 1)).as("t"),
          lit(0).as("side")))
    val nv = tagged
      .agg(sum(col("side")).cast("long"),
        sum(lit(1L) - col("side")).cast("long"),
        countDistinct(col("t"))).collect()(0)
    val nPos = if (nv.isNullAt(0)) 0L else nv.getLong(0)
    val nNeg = if (nv.isNullAt(1)) 0L else nv.getLong(1)
    val vocab = math.max(1L, if (nv.isNullAt(2)) 0L else nv.getLong(2))
    val denomP = nPos.toDouble + alpha * vocab
    val denomN = nNeg.toDouble + alpha * vocab
    // r_t: two smoothed estimates, one division each, one ratio — a
    // fixed IEEE op order both engines round identically
    val r = ((coalesce(col("p_cnt"), lit(0L)) + lit(alpha)) / lit(denomP)) /
      ((coalesce(col("n_cnt"), lit(0L)) + lit(alpha)) / lit(denomN))
    tokenRows(docs, idCol, textCol)
      .join(pc, Seq("w_hash"), "left")
      .join(nc, Seq("w_hash"), "left")
      .select(col("id"), col("pos"), r.as("r"))
      .groupBy(col("id"))
      // collect+sort the (pos, r) list ONCE — Catalyst does not dedupe
      // identical collect_list aggregates (see bigramLmScores)
      .agg(count(lit(1)).as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("r")))).as("__pr"))
      .select(col("id"), col("n_tokens"),
        aggregate(col("__pr"), lit(0.0), (acc, x) => acc + x("r"))
          .as("sum_ratio"),
        aggregate(col("__pr"), lit(0.0), (acc, x) => acc + log(x("r")))
          .as("log_odds"))
      .select(col("id"), col("n_tokens"), col("sum_ratio"),
        (col("sum_ratio") / col("n_tokens")).as("avg_ratio"),
        col("log_odds"),
        (col("log_odds") / col("n_tokens")).as("avg_log_odds"),
        (col("log_odds") > 0.0).as("is_positive"))
  }

  /** The composed CCNet split (Wenzek et al. 2020 §4.4): score `docs`
    * under a bigram LM trained on `target`
    * ([[LanguageModel.bigramLmScores]]), then cut the corpus into
    * `nBuckets` equal rank slices of log-perplexity ascending
    * ([[DataSelection.rankBuckets]]) — bucket 1 is the HEAD (most
    * target-like), bucket `nBuckets` the tail. Returns (id, n_bigrams,
    * log_ppl, bucket). Docs with fewer than two tokens have no
    * perplexity and are excluded (bigramLmScores' contract). The
    * machinery is oracle-pinned piecewise (q_lm_score for the scores,
    * q_rank_buckets for the split); log_ppl itself is transcendental,
    * so the composition is spec-pinned.
    */
  def perplexityBuckets(docs: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 3, alpha: Double = 1.0,
      histBins: Int = 100000): DataFrame =
    DataSelection.rankBuckets(
      LanguageModel.bigramLmScores(docs, target, idCol, textCol, alpha)
        .select(col("id"), col("n_bigrams"), col("log_ppl")),
      "id", "log_ppl", nBuckets, ascending = true, histBins = histBins)
}
