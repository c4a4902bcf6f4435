package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** N-gram language-model scoring — the CCNet-style quality signal
  * (Wenzek et al. 2020, "CCNet: Extracting High Quality Monolingual
  * Datasets from Web Crawl Data"): train a smoothed bigram LM on a
  * high-quality TARGET corpus, score every raw doc by how probable its
  * text is under that model, keep the head of the distribution.
  * Implemented from the published math (add-α conditional estimates);
  * reference: N/A (beyond the reference's surface — LLM-pipeline
  * brief).
  *
  * Two score forms per doc:
  *   - `sum_prob` / `avg_prob` — the per-bigram conditional
  *     probabilities summed in position order. Pure {+,*,/} over
  *     integer-exact counts: correctly-rounded IEEE ops in fixed order,
  *     so the value is BIT-EXACT across engines (the q_lm_score oracle
  *     replicates it in DuckDB).
  *   - `log_ppl` — the conventional log-perplexity
  *     −Σ ln p / n. `ln` is transcendental (1-ULP divergence across
  *     engines), so this column is for users, not the oracle.
  *
  * Scale shape (everything keyed by 8-byte md5-60 hashes, never by
  * token strings):
  *   - train: one bigram explode over the target + two keyed counts
  *     (bigram table, context table) — vocabulary-sized, not
  *     corpus-sized; plus one distinct-unigram count for V;
  *   - score: doc bigram rows left-join the two count tables on their
  *     hashes (AQE broadcasts them when the target is small; a shuffle
  *     join when it is not — both shuffles move 8-byte keys), then ONE
  *     per-doc fold in position order;
  *   - no collect anywhere except the single V scalar.
  */
object LanguageModel {

  /** Per-row bigram projection: (id, pos, ctx_hash, big_hash) — pos is
    * 1-based, ctx_hash = md5-60(w_{i-1}), big_hash =
    * md5-60(w_{i-1} + " " + w_i). Docs with fewer than two tokens
    * produce no rows. Narrow (no shuffle).
    */
  private def bigramRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Native single-pass kernel (values bit-identical to the former
    // zip_with + 3×md5Hash60 HOF form — parity pinned in
    // NativeKernelParitySpec): HOFs are CodegenFallback, and the hex
    // md5→substring→conv chain ran three digests per bigram; the
    // kernel hashes each token once and each 2-gram once, inside
    // whole-stage codegen. Measured as the dominant cost of every
    // LM-family query (ccnet/sb/kn/moore-lewis) at sf0.1.
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .bigramHashRows(col(textCol))))
      .select(col("id"), (col("pos") + 1).as("pos"),
        col("col.ctx_hash").as("ctx_hash"),
        col("col.big_hash").as("big_hash"),
        col("col.w_hash").as("w_hash"))
  }

  /** Bigram count table from the target corpus:
    * (big_hash, ctx_hash, cnt). */
  def bigramCounts(target: DataFrame, idCol: String,
      textCol: String): DataFrame =
    bigramRows(target, idCol, textCol)
      .groupBy(col("big_hash"), col("ctx_hash"))
      .agg(count(lit(1)).as("cnt"))

  /** Stupid-backoff scoring (Brants et al. 2007, "Large Language
    * Models in Machine Translation" §4): the web-scale alternative to
    * normalized smoothing — S(w|c) = f(cw)/f(c) when the bigram was
    * seen, else `backoff` · (f(w)+α)/(N+α·V) (the relative unigram
    * frequency, add-α so unseen words stay finite). Scores are NOT
    * probabilities (the paper's point: skipping normalization is what
    * makes the estimator one counting pass per order), so there is no
    * perplexity column; higher = more target-like. Every value is
    * {+,*,/} over integer-exact counts — the ENTIRE output row is
    * bit-exact cross-engine (q_sb_score), no transcendental anywhere.
    *
    * Same scale shape as [[bigramLmScores]] plus one vocabulary-sized
    * unigram count table joined on the 8-byte word hash. Docs with
    * fewer than two tokens are excluded (same contract).
    */
  def stupidBackoffScores(docs: DataFrame, target: DataFrame,
      idCol: String, textCol: String, backoff: Double = 0.4,
      alpha: Double = 1.0): DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0,
      s"backoff in (0,1], got $backoff")
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    TopK.requireIntegral(docs, idCol, "stupidBackoffScores")
    val bigrams = bigramCounts(target, idCol, textCol)
    val contexts = bigrams.groupBy(col("ctx_hash"))
      .agg(sum(col("cnt")).as("ctx_cnt"))
    val unigrams = target
      .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
      .groupBy(TextFunctions.md5Hash60(col("t")).as("w_hash"))
      .agg(count(lit(1)).as("u_cnt"))
    // N and V in one pass — the single collect of the pipeline
    val nv = target
      .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
      .agg(count(lit(1)), countDistinct(col("t"))).collect()(0)
    val nTok = nv.getLong(0)
    val vocab = math.max(1L, nv.getLong(1))
    val uniDenom = nTok.toDouble + alpha * vocab
    val s = when(col("cnt").isNotNull,
      col("cnt") / col("ctx_cnt"))
      .otherwise(lit(backoff) *
        ((coalesce(col("u_cnt"), lit(0L)) + lit(alpha)) / lit(uniDenom)))
    bigramRows(docs, idCol, textCol)
      .join(bigrams, Seq("big_hash", "ctx_hash"), "left")
      .join(contexts, Seq("ctx_hash"), "left")
      .join(unigrams, Seq("w_hash"), "left")
      .select(col("id"), col("pos"), s.as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("s")))),
          lit(0.0), (acc, x) => acc + x("s")).as("sum_score"))
      .select(col("id"), col("n_bigrams"), col("sum_score"),
        (col("sum_score") / col("n_bigrams")).as("avg_score"))
  }

  /** Interpolated Kneser–Ney bigram scoring (Kneser & Ney 1995; the
    * interpolated form of Chen & Goodman 1999 §2.7 — the smoothing
    * that n-gram LM toolkits ship as the default): p(w|c) =
    * max(c(cw)−D, 0)/c(c) + D·N1+(c·)/c(c) · p_cont(w), where
    * N1+(c·) is the number of DISTINCT words following c and
    * p_cont(w) = (N1+(·w)+α)/(B+α·V) is the add-α-smoothed
    * CONTINUATION probability (N1+(·w) = distinct contexts preceding
    * w, B = distinct bigrams) — "how many contexts does w complete",
    * the correction that makes "Francisco" unlikely outside "San".
    * An unseen context backs off to p_cont(w) directly. D defaults to
    * 3/4 (exactly representable); every value is {+,*,/} over
    * integer-exact counts — the whole row is bit-exact cross-engine
    * (q_kn_score), no transcendental anywhere. Scores ARE
    * probabilities (each conditional sums to 1 over the vocabulary
    * pre-smoothing); `ln`/perplexity is left to the caller, same
    * contract as [[bigramLmScores]].
    *
    * Scale shape: three count tables — bigram (ctx, word), context
    * (with its distinct-successor count, free in the same
    * aggregation), and word-continuation — joined on 8-byte hashes,
    * two bounded scalar collects (B, V), one per-doc position-ordered
    * fold. Docs with fewer than two tokens are excluded.
    */
  def kneserNeyScores(docs: DataFrame, target: DataFrame,
      idCol: String, textCol: String, discount: Double = 0.75,
      alpha: Double = 1.0): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount in (0,1), got $discount")
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    TopK.requireIntegral(docs, idCol, "kneserNeyScores")
    // (ctx_hash, w_hash) keyed counts: one distinct-bigram row each,
    // so the context table's row count per ctx IS N1+(c·).
    // Materialized ONCE (localCheckpoint): the driver-side B = |cb|
    // count below is its own action, and without the checkpoint the
    // full tokenize+shuffle lineage would run again when the scoring
    // plan executes — doubling the heaviest stage at corpus-sized
    // targets (the nearDupClusters 'materialize the pipeline once'
    // rationale).
    val cb = bigramRows(target, idCol, textCol)
      .groupBy(col("ctx_hash"), col("w_hash"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    val cc = cb.groupBy(col("ctx_hash"))
      .agg(sum(col("cnt")).as("ctx_cnt"), count(lit(1)).as("n1f"))
    val cw = cb.groupBy(col("w_hash"))
      .agg(count(lit(1)).as("n1b"))
    val bCnt = cb.count()
    val vocab = math.max(1L, target
      .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
      .agg(countDistinct(col("t"))).collect()(0).getLong(0))
    val bDenom = bCnt.toDouble + alpha * vocab
    val pcont = (coalesce(col("n1b"), lit(0L)) + lit(alpha)) / lit(bDenom)
    val p = when(col("ctx_cnt").isNotNull,
      greatest(coalesce(col("cnt"), lit(0L)) - lit(discount), lit(0.0)) /
        col("ctx_cnt") +
        (lit(discount) * col("n1f") / col("ctx_cnt")) * pcont)
      .otherwise(pcont)
    bigramRows(docs, idCol, textCol)
      .join(cb, Seq("ctx_hash", "w_hash"), "left")
      .join(cc, Seq("ctx_hash"), "left")
      .join(cw, Seq("w_hash"), "left")
      .select(col("id"), col("pos"), p.as("p"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("p")))),
          lit(0.0), (acc, x) => acc + x("p")).as("sum_p"))
      .select(col("id"), col("n_bigrams"), col("sum_p"),
        (col("sum_p") / col("n_bigrams")).as("avg_p"))
  }

  /** Per-row trigram projection: positions 3..n as (id, pos,
    * tri_ctx_hash = md5-60(w_{i-2} + " " + w_{i-1}), tri_hash =
    * md5-60(w_{i-2} w_{i-1} w_i)) plus the bigram/unigram hashes the
    * backoff chain needs. Docs with fewer than three tokens produce no
    * rows. Narrow (no shuffle).
    */
  private def trigramRows(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // Native kernel, same rationale (and parity pin) as [[bigramRows]]:
    // the HOF form ran FIVE hex-md5 chains per trigram position inside
    // two nested interpreted zip_withs; the kernel shares token and
    // 2-gram digests across positions in one codegen'd loop.
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .trigramHashRows(col(textCol))))
      .select(col("id"), (col("pos") + 2).as("pos"),
        col("col.tri_ctx_hash").as("tri_ctx_hash"),
        col("col.tri_hash").as("tri_hash"),
        col("col.ctx_hash").as("ctx_hash"),
        col("col.big_hash").as("big_hash"),
        col("col.w_hash").as("w_hash"))
  }

  /** Trigram count table from the target corpus:
    * (tri_hash, tri_ctx_hash, cnt3). */
  def trigramCounts(target: DataFrame, idCol: String,
      textCol: String): DataFrame =
    trigramRows(target, idCol, textCol)
      .groupBy(col("tri_hash"), col("tri_ctx_hash"))
      .agg(count(lit(1)).as("cnt3"))

  /** Order-3 stupid backoff (Brants et al. 2007 §4, the chain the
    * paper actually runs at depth): S(w|ab) = f(abw)/f(ab·) when the
    * trigram was seen, else backoff · f(bw)/f(b·) when the bigram was,
    * else backoff² · (f(w)+α)/(N+α·V). Same estimator family as
    * [[stupidBackoffScores]] one order deeper — still one counting
    * pass per order, still {+,*,/} over integer-exact counts only
    * (bit-exact cross-engine, q_sb3_score), still unnormalized.
    *
    * Scale shape: three count tables (trigram, bigram, unigram — each
    * vocabulary/corpus-n-gram sized, AQE broadcasts small models)
    * joined on 8-byte hashes with SAME-KEY joins adjacent (the
    * Moore–Lewis exchange-reuse lesson), then ONE per-doc
    * position-ordered fold. Docs with fewer than three tokens are
    * excluded.
    */
  def stupidBackoffTrigramScores(docs: DataFrame, target: DataFrame,
      idCol: String, textCol: String, backoff: Double = 0.4,
      alpha: Double = 1.0): DataFrame = {
    require(backoff > 0.0 && backoff <= 1.0,
      s"backoff in (0,1], got $backoff")
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    TopK.requireIntegral(docs, idCol, "stupidBackoffTrigramScores")
    val trigrams = trigramCounts(target, idCol, textCol)
    val triContexts = trigrams.groupBy(col("tri_ctx_hash"))
      .agg(sum(col("cnt3")).as("ctx3"))
    val bigrams = bigramCounts(target, idCol, textCol)
    val contexts = bigrams.groupBy(col("ctx_hash"))
      .agg(sum(col("cnt")).as("ctx_cnt"))
    val unigrams = target
      .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
      .groupBy(TextFunctions.md5Hash60(col("t")).as("w_hash"))
      .agg(count(lit(1)).as("u_cnt"))
    val nv = target
      .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
      .agg(count(lit(1)), countDistinct(col("t"))).collect()(0)
    val uniDenom = nv.getLong(0).toDouble + alpha * math.max(1L, nv.getLong(1))
    val s = when(col("cnt3").isNotNull, col("cnt3") / col("ctx3"))
      .otherwise(lit(backoff) *
        when(col("cnt").isNotNull, col("cnt") / col("ctx_cnt"))
          .otherwise(lit(backoff) *
            ((coalesce(col("u_cnt"), lit(0L)) + lit(alpha)) / lit(uniDenom))))
    trigramRows(docs, idCol, textCol)
      .join(trigrams, Seq("tri_hash", "tri_ctx_hash"), "left")
      .join(triContexts, Seq("tri_ctx_hash"), "left")
      .join(bigrams, Seq("big_hash", "ctx_hash"), "left")
      .join(contexts, Seq("ctx_hash"), "left")
      .join(unigrams, Seq("w_hash"), "left")
      .select(col("id"), col("pos"), s.as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_trigrams"),
        aggregate(sort_array(collect_list(struct(col("pos"), col("s")))),
          lit(0.0), (acc, x) => acc + x("s")).as("sum_score"))
      .select(col("id"), col("n_trigrams"), col("sum_score"),
        (col("sum_score") / col("n_trigrams")).as("avg_score"))
  }

  /** Moore–Lewis contrastive selection (Moore & Lewis 2010,
    * "Intelligent Selection of Language Model Training Data"): score
    * every doc under TWO bigram LMs — one trained on the in-domain
    * corpus, one on the general pool — and keep the docs the in-domain
    * model prefers. The paper's criterion is the cross-entropy
    * difference H_in(d) − H_gen(d) (lower = more in-domain), exposed
    * here as `ce_diff` = mean(ln p_gen − ln p_in) (same sign
    * convention: negative = in-domain-preferred). Because `ln` is
    * transcendental (1-ULP cross-engine drift), the oracle-facing
    * selection signal is the RATIONAL surrogate `pref` =
    * mean(p_in / (p_in + p_gen)) — the per-bigram binary preference,
    * pure {+,/} over integer-exact counts, bit-exact cross-engine
    * (oracle `q_moore_lewis`); `selected` = avg_pref > prefThreshold.
    * Both signals are monotone in p_in/p_gen per bigram; `pref`
    * aggregates arithmetically where `ce_diff` aggregates
    * geometrically — document-level disagreement is possible near the
    * boundary, which is why BOTH columns ship.
    *
    * Returns (id, n_bigrams, sum_pref, avg_pref, ce_diff, selected);
    * docs with fewer than two tokens are excluded ([[bigramLmScores]]'s
    * contract). All three frames must share the id/text column names.
    *
    * Scale shape: [[bigramLmScores]] ×2 — four vocabulary-sized count
    * tables joined on 8-byte hashes (AQE broadcasts small models),
    * then ONE per-doc position-ordered fold; two bounded scalar
    * collects (each model's V).
    */
  def mooreLewisScores(docs: DataFrame, inDomain: DataFrame,
      general: DataFrame, idCol: String, textCol: String,
      alpha: Double = 1.0, prefThreshold: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    require(prefThreshold >= 0.0 && prefThreshold <= 1.0,
      s"prefThreshold must be in [0, 1], got $prefThreshold")
    TopK.requireIntegral(docs, idCol, "mooreLewisScores")
    def model(target: DataFrame, sfx: String) = {
      val big = bigramCounts(target, idCol, textCol)
        .withColumnRenamed("cnt", s"cnt$sfx")
      val ctx = big.groupBy(col("ctx_hash"))
        .agg(sum(col(s"cnt$sfx")).as(s"ctx$sfx"))
      val vocab = math.max(1L, target
        .select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
        .agg(countDistinct(col("t"))).collect()(0).getLong(0))
      (big, ctx, vocab)
    }
    val (bIn, cIn, vIn) = model(inDomain, "_in")
    val (bGen, cGen, vGen) = model(general, "_gen")
    def p(sfx: String, alphaV: Double) =
      (coalesce(col(s"cnt$sfx"), lit(0L)) + lit(alpha)) /
        (coalesce(col(s"ctx$sfx"), lit(0L)) + lit(alphaV))
    val pIn = p("_in", alpha * vIn)
    val pGen = p("_gen", alpha * vGen)
    // join order groups SAME-KEY joins adjacently: both bigram tables
    // on (big_hash, ctx_hash), then both context tables on (ctx_hash).
    // Consecutive sort-merge joins on one key reuse the exchange+sort,
    // so the corpus bigram stream shuffles twice — the alternating
    // order paid four (measured 3× slower at 1M docs in ScaleSmoke)
    bigramRows(docs, idCol, textCol)
      .join(bIn, Seq("big_hash", "ctx_hash"), "left")
      .join(bGen, Seq("big_hash", "ctx_hash"), "left")
      .join(cIn, Seq("ctx_hash"), "left")
      .join(cGen, Seq("ctx_hash"), "left")
      .select(col("id"), col("pos"),
        (pIn / (pIn + pGen)).as("pref"),
        (log(pGen) - log(pIn)).as("ced"))
      .groupBy(col("id"))
      // one sorted list, two folds derived from it (Catalyst does not
      // dedupe identical collect_list aggregates)
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(
          struct(col("pos"), col("pref"), col("ced")))).as("__pp"))
      .select(col("id"), col("n_bigrams"),
        aggregate(col("__pp"), lit(0.0), (a, x) => a + x("pref"))
          .as("sum_pref"),
        aggregate(col("__pp"), lit(0.0), (a, x) => a + x("ced"))
          .as("__ced"))
      .select(col("id"), col("n_bigrams"), col("sum_pref"),
        (col("sum_pref") / col("n_bigrams")).as("avg_pref"),
        (col("__ced") / col("n_bigrams")).as("ce_diff"))
      .withColumn("selected", col("avg_pref") > lit(prefThreshold))
  }

  /** Score each raw doc under a bigram LM trained on `target`:
    * p(w|c) = (c(cw) + α) / (c(c·) + α·V) with c(c·) = Σ_w c(cw) (the
    * model is self-consistent: probabilities over seen continuations
    * plus smoothing mass sum to one) and V = distinct target unigrams.
    * Unseen context ⇒ p = 1/V. Returns (id, n_bigrams, sum_prob,
    * avg_prob, log_ppl); docs with fewer than two tokens have no
    * bigrams to score and are EXCLUDED (same contract as
    * [[DataSelection.importanceLogWeights]] — reattaching them would
    * cost a corpus-wide join for rows with no signal).
    */
  def bigramLmScores(docs: DataFrame, target: DataFrame, idCol: String,
      textCol: String, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    TopK.requireIntegral(docs, idCol, "bigramLmScores")
    val bigrams = bigramCounts(target, idCol, textCol)
    val contexts = bigrams.groupBy(col("ctx_hash"))
      .agg(sum(col("cnt")).as("ctx_cnt"))
    // V: one scalar to the driver — the only collect in the pipeline.
    // max(1) keeps an empty target finite (every p becomes α/(α·1)=1).
    val vocab = math.max(1L,
      target.select(explode(graft.expressions.TextHashExprs.ngramsNative(col(textCol), 1)).as("t"))
        .agg(countDistinct(col("t"))).collect()(0).getLong(0))
    val alphaV = alpha * vocab
    // p is {+,/} over integer-exact doubles (counts < 2^53): correctly
    // rounded, fixed order — bit-exact across engines
    val p = (coalesce(col("cnt"), lit(0L)) + lit(alpha)) /
      (coalesce(col("ctx_cnt"), lit(0L)) + lit(alphaV))
    bigramRows(docs, idCol, textCol)
      .join(bigrams, Seq("big_hash", "ctx_hash"), "left")
      .join(contexts, Seq("ctx_hash"), "left")
      .select(col("id"), col("pos"), p.as("p"))
      .groupBy(col("id"))
      // collect+sort the (pos, p) list ONCE — Catalyst does not dedupe
      // two identical collect_list aggregates, so folding both scores
      // inside the agg would buffer and sort every doc's list twice
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(struct(col("pos"), col("p")))).as("__pp"))
      .select(col("id"), col("n_bigrams"),
        aggregate(col("__pp"), lit(0.0), (acc, x) => acc + x("p"))
          .as("sum_prob"),
        aggregate(col("__pp"), lit(0.0), (acc, x) => acc - log(x("p")))
          .as("__nll"))
      .select(col("id"), col("n_bigrams"), col("sum_prob"),
        (col("sum_prob") / col("n_bigrams")).as("avg_prob"),
        (col("__nll") / col("n_bigrams")).as("log_ppl"))
  }

  /** CCNet-style LM quality tiers (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", §4.3): score every doc against a target-domain LM and cut
    * the corpus into `nBuckets` equal GLOBAL-rank tiers — head /
    * middle / tail at the default 3 — the standard web-corpus quality
    * partition that downstream mixture sampling draws from by tier.
    *
    * Scoring is the add-α bigram LM ([[bigramLmScores]]); the tier cut
    * is [[DataSelection.rankBuckets]]' histogram-boundary recipe — one
    * bounded histogram to the driver plus a bounded boundary-bin
    * top-j, NEVER a global sort or a single-partition ntile window, so
    * the cut costs the same two bounded passes at 100 TB.
    *
    * Rank key: `log_ppl` ascending by default (head = lowest
    * perplexity, CCNet's own key — its `ln` can drift by ULPs across
    * engines, fine in production, rows-only under an oracle);
    * `byExactProb = true` keys on −avg_prob instead — the same
    * better-fit-first ordering family with every arithmetic step a
    * correctly-rounded {+,/} over integer-valued doubles, so tier
    * assignment replicates bit-for-bit cross-engine (q_ccnet_buckets).
    * Ties (same key) break on id ASC — deterministic either way.
    * Output: the [[bigramLmScores]] columns + `bucket` (1 = head) +
    * `tier` (head/middle/tail when nBuckets = 3, else "b<bucket>").
    * Docs with fewer than two tokens have no bigrams and no score —
    * they are out of scope here (gate them upstream; CCNet's own
    * pipeline drops them before the LM stage).
    */
  def ccnetBuckets(docs: DataFrame, target: DataFrame, idCol: String,
      textCol: String, nBuckets: Int = 3, alpha: Double = 1.0,
      byExactProb: Boolean = false, histBins: Int = 100000,
      groupCol: Option[String] = None): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val scored0 = bigramLmScores(docs, target, idCol, textCol, alpha)
      .withColumn("__key",
        if (byExactProb) negate(col("avg_prob")) else col("log_ppl"))
    val tier =
      if (nBuckets == 3)
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail")
      else concat(lit("b"), col("bucket").cast("string"))
    // per-GROUP tiers (CCNet proper buckets per LANGUAGE — Wenzek et
    // al. 2020 §4.3 run one pipeline per language): join the group
    // column back onto the scores (bigramLmScores projects it away)
    // and cut group-local ranks with the shared-pass grouped engine —
    // head/middle/tail are then equal tiers WITHIN each group, so a
    // low-resource language is not crowded out of "head" by the
    // majority language's perplexity distribution
    val bucketed = groupCol match {
      case Some(gc) =>
        val gTab = docs.select(col(idCol).cast("long").as("id"),
          col(gc).as(gc))
        // histBins clamps to the grouped engine's default: the driver
        // histogram costs groups x bins rows here, so the global
        // default (100k bins) would gate out even moderate group
        // cardinalities; smaller caller values pass through untouched
        DataSelection.groupedRankBuckets(scored0.join(gTab, Seq("id")),
          gc, "id", "__key", nBuckets, ascending = true,
          histBins = math.min(histBins, 2048))
      case None =>
        DataSelection.rankBuckets(scored0, "id", "__key", nBuckets,
          ascending = true, histBins = histBins)
    }
    bucketed.withColumn("tier", tier).drop("__key")
  }

  /** [[ccnetBuckets]] at UNBOUNDED group cardinality — per-DOMAIN
    * quality tiers over a 50M-domain crawl, where the exact grouped
    * cut's `maxGroups`/driver-histogram gates cannot go. Same scoring
    * chain ([[bigramLmScores]]), but the group-local rank cut runs
    * through [[DataSelection.approxGroupedRankBuckets]]: a per-group
    * fixed-bin sketch over the caller-supplied `[keyLo, keyHi]` rank-
    * key envelope, cut at sketch level, no per-group driver state.
    * The tier boundary therefore lands within one bin width
    * (keyHi−keyLo)/nBins of the exact boundary key; docs outside
    * every cut bin get exactly the tier the exact engine assigns, and
    * tier assignment is a deterministic function of (group, bin) —
    * partitioning/tie/merge-order-free, bit-replicable cross-engine
    * (q_ccnet_domain).
    *
    * The rank key follows [[ccnetBuckets]]: `log_ppl` ascending by
    * default (envelope in perplexity units, e.g. [0, 20]);
    * `byExactProb = true` keys on −avg_prob — bounded in [−1, 0] by
    * construction (bigram probabilities lie in (0, 1]), so that pair
    * is the natural envelope. Docs with a NULL group are excluded;
    * docs with no bigrams have no score, as in [[ccnetBuckets]].
    */
  def ccnetBucketsApprox(docs: DataFrame, target: DataFrame,
      idCol: String, textCol: String, groupCol: String, keyLo: Double,
      keyHi: Double, nBuckets: Int = 3, alpha: Double = 1.0,
      byExactProb: Boolean = false, nBins: Int = 4096): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val scored0 = bigramLmScores(docs, target, idCol, textCol, alpha)
      .withColumn("__key",
        if (byExactProb) negate(col("avg_prob")) else col("log_ppl"))
    val gTab = docs.select(col(idCol).cast("long").as("id"),
      col(groupCol).as(groupCol))
    val tier =
      if (nBuckets == 3)
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle").otherwise("tail")
      else concat(lit("b"), col("bucket").cast("string"))
    DataSelection.approxGroupedRankBuckets(
      scored0.join(gTab, Seq("id")), groupCol, "__key", nBuckets,
      lo = keyLo, hi = keyHi, ascending = true, nBins = nBins)
      .withColumn("tier", tier)
      .drop("__key")
  }
}
