package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-level text-quality analysis for training-data pipelines:
  * within-document repetition signals (the Gopher-style filters of Rae
  * et al. 2021, "Scaling Language Models", table A1) and train/test
  * decontamination via n-gram overlap (the standard "13-gram collision"
  * check of GPT-3/PaLM appendices, parameterized n).
  *
  * 100 TB shape: both operators explode n-grams and aggregate on keyed
  * shuffles — never a per-row O(tokens²) HOF lambda (a doc's gram
  * frequencies via `transform(distinct, g -> size(filter(...)))` would
  * square on 10k-token docs) and never a cartesian join (contamination
  * candidates meet on the gram hash, so only docs sharing a gram ever
  * pair).
  */
object CorpusAnalysis {

  /** JSON string literal for the sidecar files this object writes —
    * the shared [[graft.JsonStr]] escaping, so sidecars stay parseable
    * by external tooling whatever the caller puts in `salt`/column
    * names, and cannot drift from the Bench line format.
    */
  private def jsonStr(s: String): String = graft.JsonStr(s)

  /** Within-doc repetition fractions per n-gram size: for each doc and
    * each n in `ns`,
    *   - top-n-gram fraction: occurrences of the most frequent n-gram /
    *     total n-grams;
    *   - duplicate-n-gram fraction: occurrences belonging to n-grams
    *     seen more than once / total n-grams.
    * Docs with fewer than n tokens score 0.0 for that n (nothing is
    * repeated). Output: (id, top2gram_frac, dup2gram_frac, ...) one row
    * per input doc.
    *
    * Two keyed aggregations: (id, n, gram) counts — duplicates collapse
    * map-side — then a conditional-aggregate pivot back to one row per
    * doc. Shuffle volume is bounded by the DISTINCT grams per doc, not
    * tokens².
    */
  def repetitionScores(docs: DataFrame, idCol: String, textCol: String,
      ns: Seq[Int] = Seq(2, 3)): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 1), "ns must be positive")
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("__text"))
    // grams shuffle as 60-bit md5-derived ints, not strings: the count
    // key is (id, n, 8-byte hash) regardless of gram length. Identity
    // only feeds COUNTING, so a (negligible, deterministic) hash
    // collision shifts a count identically in any engine replicating
    // the same md5 derivation.
    // explode_OUTER + a null filter on the generated attribute, not
    // plain explode: InferFiltersFromGenerate would inject
    // size(expr)>0 AND isnotnull(expr) below the Generate and predicate
    // pushdown substitutes the full gram expression into the filter —
    // evaluating the n-gram pipeline 3x per row. The rule skips outer
    // generators; the cheap attribute filter restores the semantics.
    val grams = ns.map { n =>
      base.select(col("id"), lit(n).as("n"),
        explode_outer(transform(TextFunctions.ngrams(col("__text"), n),
          g => TextFunctions.md5Hash60(g))).as("gh"))
    }.reduce(_ unionByName _).filter(col("gh").isNotNull)
    val counts = grams.groupBy(col("id"), col("n"), col("gh"))
      .agg(count(lit(1)).as("c"))
    val perN = counts.groupBy(col("id"), col("n")).agg(
      sum(col("c")).as("total"),
      max(col("c")).as("top"),
      sum(when(col("c") > 1, col("c")).otherwise(lit(0L))).as("dup"))
    val aggs = ns.flatMap { n =>
      Seq(
        coalesce(max(when(col("n") === n,
          col("top").cast("double") / col("total"))), lit(0.0))
          .as(s"top${n}gram_frac"),
        coalesce(max(when(col("n") === n,
          col("dup").cast("double") / col("total"))), lit(0.0))
          .as(s"dup${n}gram_frac"))
    }
    val wide = perN.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
    // keep every input doc: short docs have no grams at all
    base.select(col("id")).join(wide, Seq("id"), "left")
      .na.fill(0.0)
  }

  /** Train/test decontamination: which corpus docs share at least
    * `minShared` distinct word n-grams with which benchmark docs.
    * Output: (id, bench_id, shared_ngrams, doc_ngrams, overlap_frac)
    * where overlap_frac = shared / the corpus doc's distinct n-grams.
    *
    * Both sides explode DISTINCT n-grams hashed to 60-bit ints
    * (md5-derived — compact shuffle keys, engine-replicable), meet on a
    * keyed equi-join, and aggregate per (corpus doc, bench doc) pair:
    * candidate pairs are proportional to real collisions, never
    * |corpus| × |bench|. At 100 TB the bench side is small — Spark/AQE
    * broadcasts it and the corpus side never shuffles.
    */
  def contamination(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 8,
      minShared: Int = 1): DataFrame = {
    // doc_ngrams is a narrow per-row size() computed in the SAME scan
    // that explodes the grams and carried through the join (8 bytes per
    // collision row) — not a second corpus scan + groupBy + keyed join
    // explode_OUTER everywhere (see repetitionScores): the inner-join
    // equi-key drops the null-gh rows of gram-less docs, and the outer
    // generator keeps InferFiltersFromGenerate from re-evaluating the
    // full gram pipeline inside a pushed-down filter.
    // distinct gram hashes come from the native kernel (tokenize →
    // n-gram → md5-60 → first-occurrence dedup in one codegen'd pass;
    // null text → empty like the HOF when/otherwise form it replaced)
    def ghs(c: org.apache.spark.sql.Column) = coalesce(
      graft.expressions.TextHashExprs.ngramHashes(c, n, distinct = true),
      array().cast("array<bigint>"))
    val corpusGrams = corpus
      .select(col(idCol).cast("long").as("id"), ghs(col(textCol)).as("__ghs"))
      .select(col("id"), size(col("__ghs")).cast("long").as("doc_ngrams"),
        explode_outer(col("__ghs")).as("gh"))
    val benchGrams = bench
      .select(col(idCol).cast("long").as("bench_id"),
        explode_outer(ghs(col(textCol))).as("gh"))
    corpusGrams
      .join(benchGrams, Seq("gh"))
      .groupBy(col("id"), col("bench_id"))
      .agg(count(lit(1)).as("shared_ngrams"),
        first(col("doc_ngrams")).as("doc_ngrams"))
      .filter(col("shared_ngrams") >= minShared)
      .select(col("id"), col("bench_id"), col("shared_ngrams"),
        col("doc_ngrams"),
        (col("shared_ngrams").cast("double") / col("doc_ngrams"))
          .as("overlap_frac"))
  }

  /** N-gram novelty against a reference corpus — the memorization
    * lens (Carlini et al. 2023, "Quantifying Memorization Across
    * Neural Language Models", §3's n-gram containment turned into a
    * corpus operator): per doc, the fraction of its DISTINCT n-grams
    * that appear NOWHERE in `ref`. [[contamination]] asks "which bench
    * doc does this overlap"; novelty asks "how much of this doc is new
    * text at all" — synthetic-data QC, originality audits of model
    * generations, snapshot-over-snapshot freshness.
    *
    * Output: (id, n_ngrams, seen_ngrams, novel_ngrams, novelty_frac),
    * one row per corpus doc including gram-less ones (n_ngrams = 0 →
    * novelty_frac null — stated on both engine sides, q_novelty).
    * novelty_frac = novel/n is ONE correctly-rounded division of
    * exact integers — bit-exact cross-engine.
    *
    * Plan: both sides run the codegen'd distinct-n-gram-hash kernel;
    * the ref side dedups to a DISTINCT hash table and the corpus gram
    * rows LEFT-join it on the 8-byte hash — two keyed shuffles of
    * hash-sized rows (never raw text), then one per-id count. The ref
    * side may be corpus-sized (unlike [[contamination]]'s broadcast
    * bench): this is the big-big decontamination join shape, and it
    * holds at 100 TB because every shuffled row is (8-byte gh [, 8-byte
    * id]) — the text never moves.
    */
  def ngramNovelty(corpus: DataFrame, ref: DataFrame, idCol: String,
      textCol: String, n: Int = 8): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    def ghs(c: org.apache.spark.sql.Column) = coalesce(
      graft.expressions.TextHashExprs.ngramHashes(c, n, distinct = true),
      array().cast("array<bigint>"))
    val corpusGrams = corpus
      .select(col(idCol).cast("long").as("id"), ghs(col(textCol)).as("__ghs"))
      .select(col("id"), size(col("__ghs")).cast("long").as("n_ngrams"),
        explode_outer(col("__ghs")).as("gh"))
    val refGrams = ref
      .select(explode_outer(ghs(col(textCol))).as("gh"))
      .filter(col("gh").isNotNull).distinct()
      .withColumn("__seen", lit(1L))
    corpusGrams
      .join(refGrams, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(first(col("n_ngrams")).as("n_ngrams"),
        coalesce(sum(col("__seen")), lit(0L)).as("seen_ngrams"))
      .select(col("id"), col("n_ngrams"), col("seen_ngrams"),
        (col("n_ngrams") - col("seen_ngrams")).as("novel_ngrams"),
        when(col("n_ngrams") > 0,
          (col("n_ngrams") - col("seen_ngrams")).cast("double") /
            col("n_ngrams")).as("novelty_frac"))
  }

  /** Composed quality gate — the keep/drop decision a filtering
    * pipeline actually ships, with the REASON recorded per doc (the
    * per-reason report is what lets a pipeline owner see which filter
    * is eating their corpus). First failing check wins, in the fixed
    * order cheap→expensive: token count, language, quality score. All
    * three signals are pure codegen'd expressions — the gate is a
    * narrow map, no shuffle.
    */
  def qualityGate(docs: DataFrame, idCol: String, textCol: String,
      minTokens: Int = 15, wantedLang: String = "en",
      minQuality: Double = 0.75): DataFrame = {
    // project the CASE once, then derive `keep` from the materialized
    // attribute — referencing `verdict` twice in one projection would
    // duplicate the tokenCount/langId/qualityScore trees per row (the
    // project-collapse trap; see PLANS.md)
    docs.select(col(idCol),
      qualityVerdict(col(textCol), minTokens, wantedLang, minQuality)
        .as("verdict"))
      .select(col(idCol), col("verdict"), (col("verdict") === "keep").as("keep"))
  }

  /** Gopher-style rule filtering (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher",
    * Appendix A1.1) — the discrete rule list a web-corpus pass applies
    * BEFORE model-based quality signals. Returns one row per doc with
    * every rule's measurement plus the composed `pass` verdict, so a
    * pipeline owner sees WHICH rule is eating the corpus (the same
    * reporting contract as [[qualityGate]]).
    *
    * Rules (defaults = the paper's):
    *   - word count in [minWords, maxWords]
    *   - mean word length in [minMeanLen, maxMeanLen]
    *   - symbol-to-word ratio (`#`, `…`, literal `...`) ≤ maxSymbolRatio
    *   - fraction of lines starting with a bullet (•, -, *) ≤
    *     maxBulletFrac (the paper removes docs where >90% of lines are
    *     bullets)
    *   - fraction of lines ending in an ellipsis ≤ maxEllipsisFrac
    *   - fraction of words containing ≥1 alphabetic char ≥ minAlphaFrac
    *   - ≥ minStopwordHits distinct hits from the paper's 8-word list
    *     (the, be, to, of, and, that, have, with)
    *
    * Every measurement is a count or a single division of exact
    * integers — correctly-rounded IEEE, so the whole row replicates
    * bit-exactly in an external engine (the q_gopher oracle). Pure
    * codegen'd expressions: a narrow map, no shuffle, no UDF. Symbol
    * and ellipsis counts use plain string `replace` arithmetic (never
    * regex) so leftmost non-overlapping semantics match everywhere.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
      maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
      minStopwordHits: Int = 2): DataFrame = {
    val text = coalesce(col(textCol), lit(""))
    val words = TextFunctions.tokensNative(text)
    val nWords = size(words).cast("long")
    val meanLen = when(nWords > 0,
      aggregate(words, lit(0L), (a, w) => a + length(w)).cast("double") /
        nWords).otherwise(lit(0.0))
    def occurrences(hay: Column, needle: String): Column =
      ((length(hay) - length(replace(hay, lit(needle), lit("")))) /
        needle.length).cast("long")
    val symbols = occurrences(text, "#") + occurrences(text, "…") +
      occurrences(replace(text, lit("…"), lit("")), "...")
    val symbolRatio = when(nWords > 0,
      symbols.cast("double") / nWords).otherwise(lit(0.0))
    val lines = split(text, "\n", -1)
    val nLines = size(lines).cast("long")
    def frac(n: Column): Column =
      when(nLines > 0, n.cast("double") / nLines).otherwise(lit(0.0))
    val bulletFrac = frac(size(filter(lines, l => {
      val t = ltrim(l)
      t.startsWith("•") || t.startsWith("-") || t.startsWith("*")
    })).cast("long"))
    val ellipsisFrac = frac(size(filter(lines, l => {
      val t = rtrim(l)
      t.endsWith("...") || t.endsWith("…")
    })).cast("long"))
    val alphaFrac = when(nWords > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / nWords)
      .otherwise(lit(0.0))
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have",
      "with")
    val stopHits = gopherStops.map(s =>
      when(array_contains(words, s), 1).otherwise(0))
      .reduce(_ + _).cast("int")
    docs.select(col(idCol).cast("long").as("id"), nWords.as("n_words"),
        meanLen.as("mean_word_len"), symbolRatio.as("symbol_ratio"),
        bulletFrac.as("bullet_frac"), ellipsisFrac.as("ellipsis_frac"),
        alphaFrac.as("alpha_frac"), stopHits.as("stopword_hits"))
      .withColumn("pass",
        col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanLen &&
        col("mean_word_len") <= maxMeanLen &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("bullet_frac") <= maxBulletFrac &&
        col("ellipsis_frac") <= maxEllipsisFrac &&
        col("alpha_frac") >= minAlphaFrac &&
        col("stopword_hits") >= minStopwordHits)
  }

  /** C4-style line-level cleaning (Raffel et al. 2020, "Exploring the
    * Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer" §2.2) — the heuristic scrub applied to each page
    * BEFORE corpus-wide dedup. Per line (split on `\n`), RETAIN iff,
    * after space-trim, it
    *   - ends in a terminal punctuation mark (`.`, `!`, `?`, or a
    *     closing `"` — the paper's list),
    *   - has at least `minWordsPerLine` whitespace words, and
    *   - does not contain the word "javascript" (case-insensitive).
    * Per doc, `pass` iff at least `minLinesKept` lines survive (the
    * paper drops pages with fewer than 3 sentences; every retained
    * line ends in terminal punctuation, so retained lines are the
    * deterministic sentence surrogate) and the ORIGINAL text contains
    * neither "lorem ipsum" (case-insensitive) nor a curly brace. The
    * paper's dirty-word list and its dedup step are separate concerns
    * ([[removeRepeatedLines]], [[Dedup]]).
    *
    * Returns one row per input doc — (id, cleaned text, n_lines,
    * n_lines_kept, has_lorem, has_brace, pass) — the same
    * report-then-filter contract as [[gopherRules]]: the caller
    * filters on `pass` and takes `text` (retained lines joined with
    * `\n`, original order). Null text cleans to the empty string.
    *
    * Pure codegen'd string/array expressions over each row — a narrow
    * map: no shuffle, no UDF, nothing corpus-wide, so the pass scales
    * with the scan. Every signal is a count or boolean — bit-exact in
    * an external engine (the q_c4_clean oracle).
    */
  def c4Clean(docs: DataFrame, idCol: String, textCol: String,
      minWordsPerLine: Int = 5, minLinesKept: Int = 3): DataFrame = {
    require(minWordsPerLine >= 1,
      s"minWordsPerLine must be >= 1, got $minWordsPerLine")
    require(minLinesKept >= 1, s"minLinesKept must be >= 1, got $minLinesKept")
    val text = coalesce(col(textCol), lit(""))
    val lines = split(text, "\n", -1)
    val kept = filter(lines, l => {
      val t = trim(l)
      (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
        t.endsWith("\"")) &&
      size(TextFunctions.tokensNative(t)) >= minWordsPerLine &&
      !lower(t).contains("javascript")
    })
    docs.select(col(idCol).cast("long").as("id"),
        array_join(kept, "\n").as("text"),
        size(lines).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_lines_kept"),
        lower(text).contains("lorem ipsum").as("has_lorem"),
        text.contains("{").as("has_brace"))
      .withColumn("pass",
        col("n_lines_kept") >= minLinesKept &&
        !col("has_lorem") && !col("has_brace"))
  }

  /** The gate's verdict as a bare Column — lets a pipeline FILTER on it
    * directly (one narrow pass over the corpus) instead of joining back
    * against [[qualityGate]]'s id table, which plans as a corpus-wide
    * self-join. The curate `1_gate` stage uses exactly this.
    */
  private[graft] def qualityVerdict(text: Column, minTokens: Int,
      wantedLang: String, minQuality: Double): Column =
    when(TextFunctions.tokenCount(text) < minTokens, "too_short")
      .when(TextFunctions.langId(text) =!= wantedLang, "lang")
      .when(TextFunctions.qualityScore(text) < minQuality, "low_quality")
      .otherwise("keep")

  /** Integer threshold for P(keep)=rate under a uniform 60-bit hash.
    * Computed in exact Long space so Spark and any replicating engine
    * compare the same integers — no float thresholds.
    */
  private[graft] def rateThreshold(rate: Double): Long = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0,1]")
    if (rate >= 1.0) 1L << 60 else (rate * (1L << 60).toDouble).toLong
  }

  /** Deterministic hash sampling: keep a row iff
    * md5-60-bit(salt:id) < rate·2^60. The workhorse of reproducible
    * pipeline sampling — the sample is a pure function of (id, salt),
    * stable across runs, partitionings, and engines (no RNG state, no
    * `TABLESAMPLE` nondeterminism), and composable: different salts give
    * independent samples. A narrow filter — no shuffle, pushes into the
    * scan's data filters.
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
      salt: String = "graft"): DataFrame =
    df.filter(
      TextFunctions.md5Hash60(
        concat(lit(salt), lit(":"), col(idCol).cast("string")))
        < lit(rateThreshold(rate)))

  /** Data-mixture sampling: per-stratum keep rates (e.g. source →
    * weight) applied with the same deterministic hash — how a training
    * mix ("100% books, 30% web") is materialized. Unlisted strata use
    * `defaultRate`. Still a narrow filter; the per-row threshold is a
    * constant-folded CASE over the stratum column.
    *
    * Rate keys for a NUMERIC stratum column are canonicalized through
    * the column's own type before comparing (`'7'` and `'7.0'` both
    * match a DOUBLE 7.0; `'7'` matches an INT 7), so a hand-written
    * map cannot silently miss a stratum over a rendering mismatch —
    * the failure mode of matching raw key text against Spark's
    * cast-to-string (DOUBLE 7.0 renders `"7.0"`, missing a `"7"` key
    * into `defaultRate`). Keys that do not parse as numbers against a
    * numeric column, non-integral keys against an integral column,
    * and key sets made ambiguous by canonicalization (`'7'` AND
    * `'7.0'`) all fail loudly. String/date columns keep exact string
    * matching. Maps produced by [[temperatureMixtureRates]] are
    * canonical by construction (same cast).
    */
  def mixtureSample(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    val keyLit = stratumKeyLit(df, stratumCol, rates.keys, "mixtureSample")
    val threshold = rates.foldLeft(lit(rateThreshold(defaultRate))) {
      case (acc, (stratum, rate)) =>
        when(col(stratumCol).cast("string") === keyLit(stratum),
          lit(rateThreshold(rate))).otherwise(acc)
    }
    df.filter(
      TextFunctions.md5Hash60(
        concat(lit(salt), lit(":"), col(idCol).cast("string")))
        < threshold)
  }

  /** Rate-key canonicalization shared by [[mixtureSample]] and
    * [[upsampleMixture]]: returns the literal builder that renders a
    * rate key exactly as the stratum COLUMN's cast-to-string renders
    * matching values, validating numeric keys driver-side (parse,
    * range, integrality, post-cast ambiguity) so a bad key fails
    * loudly instead of silently falling to the default rate.
    */
  private def stratumKeyLit(df: DataFrame, stratumCol: String,
      keys: Iterable[String], who: String): String => Column = {
    import org.apache.spark.sql.types.{ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, NumericType, ShortType}
    val dt = df.schema(stratumCol).dataType
    val isIntegral =
      dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
    // key canonicalization for numeric strata, validated driver-side
    // so a bad key is an immediate IllegalArgumentException, not an
    // executor-side ANSI cast error (or a silent defaultRate miss)
    val keyLit: String => Column = dt match {
      case _: NumericType =>
        val parsed = keys.toSeq.sorted.map { k =>
          val bd = scala.util.Try(BigDecimal(k)).getOrElse(
            throw new IllegalArgumentException(
              s"$who: rate key '$k' is not numeric but stratum " +
                s"column '$stratumCol' is ${dt.simpleString}"))
          (bd, k)
        }
        // canonicalize each key through the COLUMN's own type on the
        // driver: ambiguity (and range) must be judged on the
        // POST-CAST value — two distinct BigDecimals that collide once
        // cast to float/double/decimal(s) would otherwise pass the
        // check, and the winning rate would then depend on Map
        // iteration order in the threshold foldLeft
        val canon: (BigDecimal, String) => Any = dt match {
          case FloatType => (bd, _) => bd.toFloat
          case DoubleType => (bd, _) => bd.toDouble
          case d: DecimalType => (bd, k) =>
            val scaled = bd.setScale(d.scale, BigDecimal.RoundingMode.HALF_UP)
            require(scaled.precision <= d.precision,
              s"$who: rate key '$k' overflows stratum column " +
                s"'$stratumCol' (${dt.simpleString})")
            scaled
          case _ => (bd, k) =>
            require(bd.isWhole,
              s"$who: non-integral rate key '$k' against " +
                s"integral stratum column '$stratumCol'")
            val bi = bd.toBigIntExact.get
            val fits = dt match {
              case ByteType => bi.isValidByte
              case ShortType => bi.isValidShort
              case IntegerType => bi.isValidInt
              case _ => bi.isValidLong
            }
            require(fits,
              s"$who: rate key '$k' overflows stratum column " +
                s"'$stratumCol' (${dt.simpleString})")
            bi
        }
        val canonical = parsed.map { case (bd, k) => (canon(bd, k), k) }
        val ambiguous = canonical.groupBy(_._1).filter(_._2.size > 1)
        require(ambiguous.isEmpty,
          s"$who: rate keys ${ambiguous.values.map(_.map(_._2).mkString("/")).mkString(", ")} " +
            s"are equal after casting to ${dt.simpleString} — ambiguous " +
            s"against numeric stratum column '$stratumCol'")
        val byKey = parsed.map { case (bd, k) => k -> bd }.toMap
        if (isIntegral) { (k: String) =>
          lit(byKey(k).toBigIntExact.get.toString)
        } else {
          // fractional/decimal: run the key through the COLUMN's cast
          // so both sides render under the engine's own rules
          // (7 → "7.0" for double, "7.00" for decimal(5,2), …)
          (k: String) => lit(k).cast(dt).cast("string")
        }
      case _ => (k: String) => lit(k)
    }
    keyLit
  }

  /** Deterministic mixture UP-sampling — rates may exceed 1: a doc in
    * stratum s emits floor(r_s) copies plus one more iff
    * md5-60(salt:id) < frac(r_s)·2^60. This is the epoch-level
    * replication [[temperatureMixtureRates]] points at when a tail
    * source saturates its cap ("Wikipedia ×3.5" in a training mix):
    * rates ≤ 1 reproduce [[mixtureSample]]'s keep set exactly (with
    * copy = 0), rates > 1 materialize whole epochs plus a
    * deterministic fractional epoch — the sample is still a pure
    * function of (id, salt). Output: all input columns + `copy`
    * (0-based) so downstream [[epochShuffle]]-style shuffling keyed on
    * (id, copy) spreads replicas across shards. A narrow pass: two
    * constant-folded CASEs and a ≤⌈r⌉-element explode per row — no
    * shuffle, no RNG state.
    */
  def upsampleMixture(df: DataFrame, idCol: String, stratumCol: String,
      rates: Map[String, Double], defaultRate: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    (rates.values.toSeq :+ defaultRate).foreach(r =>
      require(r >= 0.0 && !r.isNaN && !r.isInfinite,
        s"upsampleMixture: rates must be finite and >= 0, got $r"))
    val keyLit = stratumKeyLit(df, stratumCol, rates.keys, "upsampleMixture")
    def fold(f: Double => Long): Column =
      rates.foldLeft(lit(f(defaultRate))) { case (acc, (stratum, r)) =>
        when(col(stratumCol).cast("string") === keyLit(stratum),
          lit(f(r))).otherwise(acc)
      }
    val base = fold(r => math.floor(r).toLong)
    val thr = fold(r => rateThreshold(r - math.floor(r)))
    val h = TextFunctions.md5Hash60(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val copies = base + when(h < thr, lit(1L)).otherwise(lit(0L))
    df.withColumn("__copies", copies)
      .withColumn("copy", explode(when(col("__copies") > 0,
        sequence(lit(0L), col("__copies") - 1))
        .otherwise(array().cast("array<bigint>"))))
      .drop("__copies")
  }

  /** Temperature-weighted mixture rates — the standard multi-source
    * rebalancing (exponential smoothing, e.g. the multilingual-LM
    * α-sampling recipe with α = 1/temperature): the sampled corpus's
    * share of source s approaches n_s^(1/T) / Σ n_t^(1/T). T = 1 keeps
    * natural proportions; T → ∞ approaches uniform across sources —
    * the knob that keeps head sources from drowning the tail. Returns
    * per-source keep rates with expected output ≈ targetFraction × N.
    * Rates cap at 1 (upsampling past a source's size needs epoch-level
    * replication — compose with [[epochShuffle]]); capped mass is NOT
    * redistributed, so the realized output is smaller when a tail
    * source saturates — the standard behavior. ONE count aggregation
    * (k rows to the driver); sources are folded in sorted order so the
    * rates are a pure function of the corpus.
    */
  def temperatureMixtureRates(df: DataFrame, stratumCol: String,
      temperature: Double, targetFraction: Double = 1.0): Map[String, Double] = {
    require(temperature > 0.0, s"temperature must be > 0, got $temperature")
    require(targetFraction > 0.0 && targetFraction <= 1.0,
      s"targetFraction must be in (0, 1], got $targetFraction")
    // group on the STRING form of the stratum: integer/date source ids
    // work instead of throwing ClassCastException at getString, and the
    // returned map keys match mixtureSample's string comparison
    val counts = df.groupBy(col(stratumCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .flatMap(r => if (r.isNullAt(0)) None
        else Some(r.getString(0) -> r.getLong(1)))
      .sortBy(_._1)
    require(counts.nonEmpty, "temperatureMixtureRates: no non-null strata")
    val alpha = 1.0 / temperature
    val weights = counts.map { case (_, n) => math.pow(n.toDouble, alpha) }
    val sumW = weights.sum
    val targetN = targetFraction * counts.map(_._2).sum.toDouble
    counts.zip(weights).map { case ((s, n), w) =>
      s -> math.min(1.0, targetN * (w / sumW) / n)
    }.toMap
  }

  /** [[mixtureSample]] with rates derived by [[temperatureMixtureRates]]
    * — rebalance and sample in one call. Rows with a null stratum are
    * dropped (no rate exists for them). Deterministic: the same
    * (corpus, salt) always yields the same sample.
    */
  def temperatureSample(df: DataFrame, idCol: String, stratumCol: String,
      temperature: Double, targetFraction: Double = 1.0,
      salt: String = "graft"): DataFrame =
    mixtureSample(df, idCol, stratumCol,
      temperatureMixtureRates(df, stratumCol, temperature, targetFraction),
      defaultRate = 0.0, salt = salt)

  /** Corpus-wide repeated-LINE removal — the C4/RefinedWeb-style
    * boilerplate scrub at line granularity: any line occurring at
    * least `minCount` times across the corpus (within-doc repeats
    * included) is deleted from every doc; remaining lines keep their
    * original order. Blank lines (empty after space-trim) are exempt —
    * they occur everywhere and removing them would collapse paragraph
    * structure, not boilerplate. Returns (idCol, textCol) — one row
    * per input doc, empty string when every line was removed or the
    * text was null.
    *
    * Scale shape — every wide step keys on the 8-byte [[TextFunctions
    * .md5Hash60]] of the line, NEVER the raw string (the same
    * derivation [[repetitionScores]]/[[dupSpans]] use), and line TEXT
    * never rides a shuffle:
    *   1. ban count: groupBy(hash) over exploded lines — map-side
    *      partial agg, shuffle = distinct 8-byte hashes + counts;
    *   2. banned-instance positions: semi-join of (id, pos, hash)
    *      against the banned hash set (far smaller than the corpus —
    *      AQE broadcasts it when it fits), then a per-doc
    *      collect_list(pos) whose shuffle carries only the BANNED
    *      instances' (id, pos) pairs;
    *   3. reassembly: the original doc row joins its banned-position
    *      array (one small row per AFFECTED doc — broadcast-sized in
    *      any real corpus) and drops those positions with a narrow
    *      array filter over its own text — no re-shuffle of lines,
    *      no per-line collect.
    * No corpus-sized window, no cartesian; worst case (banned set
    * and position table both over broadcast threshold) is ONE
    * corpus-text shuffle keyed by doc id, versus the three raw-string
    * line shuffles of the naive count→anti-join→regroup plan.
    * 60-bit hash keying: a collision would ban a unique line alongside
    * a genuinely repeated one — at P ≈ 2^-60 per pair, noise far below
    * any corpus signal (and the DuckDB oracle replicates the identical
    * hash, so the gate stays bit-exact).
    */
  def removeRepeatedLines(docs: DataFrame, idCol: String, textCol: String,
      minCount: Int = 3): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val base = docs.select(col(idCol).as("id"), col(textCol).as("__t0"))
    val lines = base
      .select(col("id"), posexplode(split(coalesce(col("__t0"), lit("")), "\n", -1)))
      .toDF("id", "pos", "line")
      .select(col("id"), col("pos"), trim(col("line")).as("__trim"),
        TextFunctions.md5Hash60(col("line")).as("__h"))
    val banned = lines
      .filter(col("__trim") =!= "")
      .groupBy(col("__h")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= minCount)
      .select(col("__h"))
    val bannedPos = lines
      .join(banned, Seq("__h"), "left_semi")
      .groupBy(col("id"))
      .agg(collect_list(col("pos")).as("__bp"))
    base.join(bannedPos, Seq("id"), "left")
      .select(col("id").as(idCol),
        array_join(
          filter(split(coalesce(col("__t0"), lit("")), "\n", -1),
            (_, i) => !coalesce(array_contains(col("__bp"), i), lit(false))),
          "\n").as(textCol))
  }

  /** Corpus vocabulary: the `k` most frequent tokens with a
    * deterministic tie-break (count desc, token asc). Partial
    * aggregation collapses per-partition duplicates map-side; the final
    * top-k is a TakeOrderedAndProject — per-partition heaps of k rows,
    * never a full sort of the vocabulary.
    */
  def topTokens(docs: DataFrame, textCol: String, k: Int): DataFrame =
    docs
      .select(explode_outer(TextFunctions.tokensNative(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(k)

  /** [[topTokens]] with deterministic 1-based ids assigned in
    * (cnt DESC, token ASC) order — the vocabulary TABLE
    * [[Retrieval.tokensToIds]] / `packTokenIds` consume. The id window
    * runs over the already-limited k rows (a single tiny partition),
    * not the corpus. One definition so every call site (and every
    * oracle replicating the derivation) shares the same tie-break.
    */
  def topVocab(docs: DataFrame, textCol: String, k: Int): DataFrame =
    topTokens(docs, textCol, k)
      .withColumn("token_id",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("token").asc)))

  /** One-row corpus "data card" — the first thing a pipeline owner
    * asks of a new snapshot: doc/token totals, empty-doc count, exact
    * distinct-token count, min/max/mean doc length. Counts and one
    * sum/count division only — bit-exact cross-engine.
    *
    * Plan: two corpus scans — a narrow per-doc token count folded into
    * a single global aggregate, and the tokenize→distinct-count pass
    * (the distinct is the one vocab-sized shuffle; it is the exact
    * form — swap `approx_count_distinct` in a monitoring loop where a
    * 2% estimate is enough and the shuffle must go).
    */
  def corpusReport(docs: DataFrame, textCol: String): DataFrame = {
    val perDoc = docs.select(size(coalesce(
      TextFunctions.tokensNative(col(textCol)),
      array().cast("array<string>"))).cast("long").as("n"))
    val docStats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      coalesce(sum(when(col("n") === 0, 1L).otherwise(0L)), lit(0L))
        .as("n_empty_docs"),
      coalesce(sum(col("n")), lit(0L)).as("n_tokens"),
      coalesce(min(col("n")), lit(0L)).as("min_doc_tokens"),
      coalesce(max(col("n")), lit(0L)).as("max_doc_tokens"))
    val vocab = docs
      .select(explode_outer(TextFunctions.tokensNative(col(textCol))).as("t"))
      .filter(col("t").isNotNull)
      .agg(count_distinct(col("t")).as("n_distinct_tokens"))
    docStats.crossJoin(vocab) // 1×1
      .select(col("n_docs"), col("n_empty_docs"), col("n_tokens"),
        col("n_distinct_tokens"), col("min_doc_tokens"),
        col("max_doc_tokens"),
        (col("n_tokens").cast("double") /
          greatest(col("n_docs"), lit(1L))).as("mean_doc_tokens"))
  }

  /** Doc-length histogram on power-of-two buckets: bucket b holds docs
    * with 2^b ≤ tokens < 2^(b+1) (empty docs land in bucket −1) — the
    * shape report behind chunking/packing parameter choices. The
    * bucket is integer math (binary-digit count, no log), so the table
    * is exact on any engine; ≤65 output rows, one narrow pass + a
    * bucket-keyed aggregation.
    */
  def docLengthHistogram(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(size(coalesce(TextFunctions.tokensNative(col(textCol)),
        array().cast("array<string>"))).cast("long").as("n"))
      .groupBy(when(col("n") === 0, lit(-1L))
        .otherwise((length(bin(col("n"))) - 1).cast("long")).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n")).as("n_tokens"),
        min(col("n")).as("min_tokens"),
        max(col("n")).as("max_tokens"))

  /** Cross-corpus unigram drift table — the distribution-shift monitor
    * a mixture owner watches between snapshots/sources (is the new
    * crawl the same language as the old one?): per token in the UNION
    * of each corpus's top-`topK` vocabularies, both raw counts and
    * relative frequencies, plus one `''`-token row carrying the
    * residual ("everything outside the compared vocabulary") mass so
    * each side's frequencies sum to exactly 1. `''` cannot collide —
    * tokens are non-empty whitespace splits. Every value is a count or
    * a single count/total division — bit-exact cross-engine.
    *
    * Plan: one tokenize+count pass per corpus (map-side partial agg,
    * vocab-sized shuffle; the count table is locally checkpointed —
    * it feeds the total, the top-K, and the compare, and must not
    * re-scan the corpus three times); top-K is a
    * TakeOrderedAndProject (cnt DESC, token ASC tie-break, same as
    * [[topVocab]]); the ≤2·topK union is BROADCAST into semi-joins
    * against the count tables, so nothing vocab-sized ever re-shuffles
    * for the compare. Output is ≤ 2·topK+1 rows.
    */
  def vocabDrift(a: DataFrame, b: DataFrame, textCol: String,
      topK: Int = 10000): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    def counts(df: DataFrame): DataFrame = df
      .select(explode_outer(TextFunctions.tokensNative(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint(true)
    def top(c: DataFrame): DataFrame = c
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topK).select(col("token"))
    val ca = counts(a)
    val cb = counts(b)
    // two bounded driver reads (one long each) — the totals that turn
    // counts into frequencies
    def total(c: DataFrame): Long =
      c.agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0).getLong(0)
    val (totA, totB) = (total(ca), total(cb))
    val keep = top(ca).union(top(cb)).distinct()
    def kept(c: DataFrame, cntName: String): DataFrame = c
      .join(broadcast(keep), Seq("token"), "left_semi")
      .select(col("token"), col("cnt").as(cntName))
    val j = kept(ca, "cnt_a")
      .join(kept(cb, "cnt_b"), Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
    // the residual mass: totals minus the compared rows' sums (a
    // ≤2·topK aggregation), as one '' row
    val other = j
      .agg(coalesce(sum(col("cnt_a")), lit(0L)).as("ka"),
        coalesce(sum(col("cnt_b")), lit(0L)).as("kb"))
      .select(lit("").as("token"), (lit(totA) - col("ka")).as("cnt_a"),
        (lit(totB) - col("kb")).as("cnt_b"))
    val (da, db) = (math.max(totA, 1L).toDouble, math.max(totB, 1L).toDouble)
    j.union(other)
      .select(col("token"), col("cnt_a"), col("cnt_b"),
        (col("cnt_a").cast("double") / lit(da)).as("p_a"),
        (col("cnt_b").cast("double") / lit(db)).as("p_b"))
  }

  /** One-row summary of a [[vocabDrift]] table: token totals per side
    * (the counts sum back to them — the `''` row closes the mass),
    * compared-row count, total variation distance
    * 0.5·Σ|p_a−p_b| and the symmetric chi-square divergence
    * Σ (p_a−p_b)²/(p_a+p_b) (zero-mass rows contribute 0). Both folds
    * run in token order over ONE collected ≤2·topK+1 array (Catalyst
    * does not dedupe twin collect_lists), so the doubles accumulate in
    * a fixed order — the whole row is bit-exact cross-engine, no
    * transcendental anywhere.
    */
  def driftReport(drift: DataFrame): DataFrame =
    drift
      .agg(count(lit(1)).as("vocab_rows"),
        coalesce(sum(col("cnt_a")), lit(0L)).as("n_tokens_a"),
        coalesce(sum(col("cnt_b")), lit(0L)).as("n_tokens_b"),
        aggregate(
          sort_array(collect_list(struct(col("token"),
            abs(col("p_a") - col("p_b")).as("dv"),
            when(col("p_a") + col("p_b") > 0,
              (col("p_a") - col("p_b")) * (col("p_a") - col("p_b")) /
                (col("p_a") + col("p_b"))).otherwise(lit(0.0)).as("cv")))),
          struct(lit(0.0).as("d"), lit(0.0).as("c")),
          (acc, x) => struct((acc("d") + x("dv")).as("d"),
            (acc("c") + x("cv")).as("c"))).as("__f"))
      .select(col("vocab_rows"), col("n_tokens_a"), col("n_tokens_b"),
        (lit(0.5) * col("__f")("d")).as("tvd"),
        col("__f")("c").as("chi2_sym"))

  /** Sequence chunking: split each doc into windows of `maxTokens`
    * tokens advancing by `stride` (overlap = maxTokens - stride) — the
    * context-packing step before tokenization. Output: (id, chunk_idx,
    * chunk_tokens, chunk_text), no row for empty docs. A narrow map:
    * tokens are materialized ONCE per row in a projection (an inline
    * tokens() inside the lambda would re-split per chunk), and the
    * windows are slices of that attribute.
    */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 512, stride: Int = 384): DataFrame = {
    require(maxTokens > 0 && stride > 0 && stride <= maxTokens,
      s"need 0 < stride <= maxTokens, got maxTokens=$maxTokens stride=$stride")
    val n = size(col("__toks"))
    // chunk count for n>0: floor((max(n - maxTokens, 0) + stride-1)/stride) + 1
    val nChunks = when(n <= 0, lit(0)).otherwise(
      floor((greatest(n - maxTokens, lit(0)) + lit(stride - 1))
        .cast("double") / stride).cast("int") + 1)
    // guard the n=0 branch explicitly: sequence(0, -1) counts DOWN in
    // Spark ([0,-1]), it is not empty
    val chunks = when(n <= 0,
      array().cast("array<struct<chunk_tokens:bigint,chunk_text:string>>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i => struct(
        least(lit(maxTokens), n - i * stride).cast("long").as("chunk_tokens"),
        array_join(slice(col("__toks"), i * stride + 1, lit(maxTokens)), " ")
          .as("chunk_text"))))
    docs
      .select(col(idCol).cast("long").as("id"),
        TextFunctions.tokensNative(col(textCol)).as("__toks"))
      .select(col("id"), posexplode_outer(chunks))
      .filter(col("col").isNotNull)
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        col("col.chunk_tokens").as("chunk_tokens"),
        col("col.chunk_text").as("chunk_text"))
  }

  /** Content-defined chunking at token granularity (the LBFS/FastCDC
    * idea — Muthitacharoen et al. 2001 §3.1; Xia et al. 2016 — with
    * the token hash standing in for the byte rolling hash): a chunk
    * boundary falls after token t whenever md5-60(t) ≡ 0 (mod
    * `divisor`), subject to `minTokens`/`maxTokens` clamps (a boundary
    * inside the minimum is ignored; a chunk at the maximum is force-
    * cut). Because boundaries depend only on LOCAL content, inserting
    * or deleting a passage re-cuts ONLY the chunks it touches — the
    * property that makes chunk-hash dedup robust to edits where
    * fixed-stride [[chunkDocs]] windows all shift. Compose with
    * [[Dedup.exactGroups]] on `chunk_hash` for sub-document dedup.
    *
    * Output: (id, chunk_idx, n_tokens, chunk_hash, chunk_text); empty
    * docs yield no rows. Expected chunk length ≈ divisor tokens
    * (geometric, clamped); e.g. divisor 16, clamp [4, 64].
    *
    * Plan: a NARROW per-row computation, zero shuffle — tokens and
    * boundary positions are materialized once per row, and the cut
    * walk folds over at most ceil(n/minTokens) steps, each an
    * array_min over the (n/divisor-sized) boundary list, so cost is
    * O(n²/(minTokens·divisor)) per doc — linear-ish for real docs and
    * entirely inside whole-stage codegen. Oracle: q_cdc_chunks
    * replicates the walk with a recursive CTE, bit-exact (boundary
    * hashes and cut arithmetic are integers; chunk text is exact).
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
      divisor: Int = 16, minTokens: Int = 4, maxTokens: Int = 64): DataFrame = {
    require(divisor >= 1, s"divisor must be >= 1, got $divisor")
    require(minTokens >= 1 && minTokens <= maxTokens,
      s"need 1 <= minTokens <= maxTokens, got $minTokens/$maxTokens")
    val n = size(col("__toks"))
    // boundary positions: i in 1..n with hash(tok_i) % divisor == 0
    // (materialized once per row — an inline expression would re-hash
    // the whole doc on every fold step below)
    val bp = filter(sequence(lit(1), n), i =>
      pmod(TextFunctions.md5Hash60(element_at(col("__toks"), i)),
        lit(divisor.toLong)) === 0L)
    // cut walk: cuts(0)=0; next = min(first boundary >= p+minTokens,
    // p+maxTokens), capped at n; ceil(n/minTokens) steps always suffice
    // (every step advances >= minTokens); exhausted steps are no-ops
    val maxChunks = floor((n + lit(minTokens - 1)).cast("double") /
      lit(minTokens)).cast("int")
    val cuts = aggregate(sequence(lit(1), maxChunks),
      array(lit(0)).cast("array<int>"),
      (acc, _) => {
        val p = element_at(acc, -1)
        val next = least(
          coalesce(array_min(filter(col("__bp"),
            i => i >= p + lit(minTokens))), n),
          p + lit(maxTokens), n)
        when(p >= n, acc).otherwise(concat(acc, array(next.cast("int"))))
      })
    val chunkStructs = transform(sequence(lit(1), size(col("__cuts")) - 1),
      j => {
        val s0 = element_at(col("__cuts"), j)
        val e0 = element_at(col("__cuts"), j + 1)
        struct((e0 - s0).cast("long").as("n_tokens"),
          array_join(slice(col("__toks"), s0 + 1, e0 - s0), " ")
            .as("chunk_text"))
      })
    docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(TextFunctions.tokensNative(col(textCol)),
          array().cast("array<string>")).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .withColumn("__bp", bp)
      .withColumn("__cuts", cuts)
      .select(col("id"), posexplode(chunkStructs))
      .select(col("id"), col("pos").cast("long").as("chunk_idx"),
        col("col.n_tokens").as("n_tokens"),
        md5(col("col.chunk_text")).as("chunk_hash"),
        col("col.chunk_text").as("chunk_text"))
  }

  /** Greedy token-budget sequence packing — the step between chunking
    * and batch assembly in a pretraining pipeline: documents are packed
    * into training sequences of at most `maxTokens` tokens, in a way
    * that is a pure function of the corpus (stable across runs,
    * partitionings, and engines — a rerun reproduces the exact same
    * training batches).
    *
    * Semantics: each doc is assigned a shard by deterministic hash
    * (md5-60("pack:" + id) mod `shards`); within a shard, docs are
    * visited in ascending id order and packed first-fit-in-order — a
    * doc joins the current pack unless that would exceed `maxTokens`,
    * in which case it starts the next pack. A doc longer than
    * `maxTokens` therefore occupies a pack of its own (truncation is
    * `chunkDocs`' job, upstream). Output: one row per doc —
    * (id, shard, doc_tokens, pack_id, pack_pos), pack ids contiguous
    * from 0 per shard, pack_pos the doc's position within its pack.
    *
    * 100 TB shape: token counts are computed in the scan's narrow map,
    * so the ONE keyed shuffle moves (id, tokens, shard) scalars — no
    * text. Packing itself is inherently sequential PER SHARD (each
    * pack decision depends on the previous accumulation), so the shard
    * is the unit of parallelism: size `shards` to ≳ the cluster's
    * cores (hash-uniform, no skew) and each task streams its shard
    * with O(1) state. The greedy scan is a `mapPartitions` over rows
    * sorted (shard, id) within hash-partitioned shards — deterministic
    * because the sort, not arrival order, fixes the sequence.
    */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 2048, shards: Int = 16): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    require(shards >= 1, s"shards must be >= 1, got $shards")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    val prepared = docs
      .select(col(idCol).cast("long").as("id"),
        coalesce(TextFunctions.tokenCount(col(textCol)).cast("long"), lit(0L))
          .as("doc_tokens"),
        pmod(TextFunctions.md5Hash60(
            concat(lit("pack:"), col(idCol).cast("long").cast("string"))),
          lit(shards.toLong)).cast("int").as("shard"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("id"))
    val outSchema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("shard", IntegerType, nullable = false),
      StructField("doc_tokens", LongType, nullable = false),
      StructField("pack_id", LongType, nullable = false),
      StructField("pack_pos", LongType, nullable = false)))
    prepared.mapPartitions { it =>
      // a partition holds whole shards (hash-partitioned on shard) in
      // (shard, id) order; reset the greedy state at shard boundaries
      var curShard = Integer.MIN_VALUE
      var pack = -1L
      var pos = 0L
      var acc = 0L
      it.map { r =>
        // a null id (or an idCol value cast('long') nulls out) would
        // otherwise surface as an opaque NPE from the positional reads
        require(!r.isNullAt(0),
          s"packSequences: null or non-castable $idCol — ids must be long-castable and non-null")
        val id = r.getLong(0)
        val tc = r.getLong(1)
        val shard = r.getInt(2)
        if (shard != curShard) { curShard = shard; pack = -1L; acc = 0L }
        if (pack < 0L || acc + tc > maxTokens) { pack += 1L; acc = 0L; pos = 0L }
        else pos += 1L
        acc += tc
        Row(id, shard, tc, pack, pos)
      }
    }(Encoders.row(outSchema))
  }

  /** The end-to-end curation pipeline a training-data owner actually
    * runs, composed from the operators in this library, with the
    * per-stage attrition REPORT as the result — the number every
    * pipeline review asks for ("where did my corpus go?"):
    *
    *   1. quality gate (token count → language → quality score)
    *   2. exact dedup (canonical fingerprint, min-id keeper)
    *   3. near dedup (MinHash-LSH pairs → connected components →
    *      cluster-representative keeper)
    *   4. decontamination (drop docs sharing ≥ `contamMinShared`
    *      distinct `contamN`-grams with the benchmark set)
    *   5. deterministic hash sampling at `sampleRate`
    *
    * Returns (stage, docs_in, docs_out) — 5 rows. Every stage is the
    * library operator itself, so the whole report is replicable in
    * external SQL (oracle `q_curate`) and deterministic across runs
    * and partitionings.
    *
    * Each intermediate corpus is localCheckpoint'ed: the report reads
    * every stage twice (as `docs_out` and the next `docs_in`) and later
    * stages build on earlier ones — without the checkpoint the MinHash
    * candidate pipeline would re-execute per reference. A 100 TB
    * deployment would persist stage outputs to storage instead; the
    * stage structure is identical.
    */
  /** The five curation stages as (name, prev-corpus → next-corpus)
    * closures — ONE definition shared by [[curate]] (localCheckpoint
    * materialization) and [[curatePersisted]] (storage
    * materialization), so the two variants cannot drift.
    */
  private def curateStageFns(b0: DataFrame, minTokens: Int,
      wantedLang: String, minQuality: Double, nearDupThreshold: Double,
      contamN: Int, contamMinShared: Int, sampleRate: Double,
      salt: String, nearDupMaxBucket: Int,
      onStats: Option[(String, Seq[Dedup.BucketStats]) => Unit] = None)
      : Seq[(String, DataFrame => DataFrame)] = Seq(
    // a direct narrow filter on the verdict — NOT a join back against
    // qualityGate's id table, which would shuffle the whole corpus
    // twice (both join sides) to re-select rows the verdict already
    // identifies in place. The explicit id.isNotNull preserves the
    // join form's null-id drop (null never equi-joins): without it a
    // null-id doc would reach exactDedup, whose min_by keeper skips
    // null ordering values and emits an all-NULL row.
    "1_gate" -> ((d: DataFrame) => d.filter(
      col("id").isNotNull &&
        qualityVerdict(col("text"), minTokens, wantedLang, minQuality)
          === "keep")),
    "2_exact_dedup" -> ((d: DataFrame) => Dedup.exactDedup(d, "id", "text")),
    "3_near_dedup" -> ((d: DataFrame) => {
      def pairs = Dedup.minHashNearDupPairs(d, "id", "text",
        threshold = nearDupThreshold, maxBucket = nearDupMaxBucket)
      onStats match {
        // Stats requested: the clustering loop consumes the pairs via
        // its own internal checkpoints, which silently discards the
        // generator's observe metrics — so the pairs are cached and
        // flushed through ONE listener-visible count first (the
        // cache-populating action; the loop then reads the cache, so
        // the generator still runs once), and the stats reach the
        // caller through the callback. The flush costs ~1.5 s at
        // sf0.1 — paid on the *WithStats paths and on every computed
        // curatePersisted stage (its bucket sidecar is part of the
        // persisted layout, so resumes can report skipped stages);
        // plain curate keeps the single-consumption plan.
        case Some(cb) =>
          val cached = pairs.cache()
          try {
            cb("3_near_dedup", Dedup.bucketStatsViaAction(cached))
            Dedup.nearDedup(d, "id", cached)
          } finally cached.unpersist(false)
        case None => Dedup.nearDedup(d, "id", pairs)
      }
    }),
    "4_decontaminate" -> ((d: DataFrame) => d.join(
      contamination(d, b0, "id", "text", contamN, contamMinShared)
        .select(col("id")).distinct(), Seq("id"), "left_anti")),
    "5_sample" -> ((d: DataFrame) => hashSample(d, "id", sampleRate, salt)))

  /** (stage, docs_in, docs_out) rows from the materialized stage chain. */
  private def attritionReport(
      stages: Seq[(String, DataFrame, DataFrame)]): DataFrame =
    stages.map { case (name, in, out) =>
      in.agg(count(lit(1)).as("docs_in"))
        .crossJoin(out.agg(count(lit(1)).as("docs_out")))
        .select(lit(name).as("stage"), col("docs_in"), col("docs_out"))
    }.reduce(_.unionByName(_))

  /** [[curate]]'s report plus the [[Dedup.BucketStats]] of every capped
    * candidate generator that ran inside a stage, tagged by stage name —
    * the observability the attrition table alone lacks: a near-dedup
    * stage whose buckets were dropped UNDER-deduplicates silently
    * (docs_out looks plausibly high), and only buckets_dropped > 0
    * distinguishes that from a genuinely low-duplication corpus.
    */
  final case class CurateResult(report: DataFrame,
      bucketStats: Seq[(String, Dedup.BucketStats)])

  def curate(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, minTokens: Int = 15, wantedLang: String = "en",
      minQuality: Double = 0.75, nearDupThreshold: Double = 0.8,
      contamN: Int = 8, contamMinShared: Int = 1,
      sampleRate: Double = 0.5, salt: String = "curate",
      nearDupMaxBucket: Int = 1000): DataFrame =
    curateImpl(docs, bench, idCol, textCol, minTokens, wantedLang,
      minQuality, nearDupThreshold, contamN, contamMinShared, sampleRate,
      salt, nearDupMaxBucket, collectStats = false).report

  /** [[curate]] returning the report AND per-stage bucket stats (see
    * [[CurateResult]]). Stats are flushed inside the stage, before its
    * consumers, so they reflect the execution that produced the stage
    * corpus; the flush's extra action is paid only on this path —
    * plain [[curate]] keeps the single-consumption plan.
    */
  def curateWithStats(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, minTokens: Int = 15, wantedLang: String = "en",
      minQuality: Double = 0.75, nearDupThreshold: Double = 0.8,
      contamN: Int = 8, contamMinShared: Int = 1,
      sampleRate: Double = 0.5, salt: String = "curate",
      nearDupMaxBucket: Int = 1000): CurateResult =
    curateImpl(docs, bench, idCol, textCol, minTokens, wantedLang,
      minQuality, nearDupThreshold, contamN, contamMinShared, sampleRate,
      salt, nearDupMaxBucket, collectStats = true)

  private def curateImpl(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, minTokens: Int, wantedLang: String,
      minQuality: Double, nearDupThreshold: Double, contamN: Int,
      contamMinShared: Int, sampleRate: Double, salt: String,
      nearDupMaxBucket: Int, collectStats: Boolean): CurateResult = {
    // d0 is NOT checkpointed: it is a bare column-pruned scan — cheaper
    // to re-read than to materialize (the checkpoints below guard the
    // expensive derived stages, not the source)
    val d0 = docs.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    val b0 = bench.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    val stats = Seq.newBuilder[(String, Dedup.BucketStats)]
    val onStats: Option[(String, Seq[Dedup.BucketStats]) => Unit] =
      if (collectStats) Some((stage, st) => stats ++= st.map(stage -> _))
      else None
    val fns = curateStageFns(b0, minTokens, wantedLang, minQuality,
      nearDupThreshold, contamN, contamMinShared, sampleRate, salt,
      nearDupMaxBucket, onStats)
    var cur = d0
    val stages = fns.map { case (name, fn) =>
      // the last stage is read once (by the report) — no checkpoint
      val out = if (name == fns.last._1) fn(cur) else fn(cur).localCheckpoint()
      val row = (name, cur, out)
      cur = out
      row
    }
    CurateResult(attritionReport(stages), stats.result())
  }

  /** [[curate]] with every stage PERSISTED to `stageDir` — the 100 TB
    * form the curate scaladoc promises: stage corpora land as parquet
    * (`<stageDir>/0_source` … `5_sample`) plus the attrition report
    * (`<stageDir>/report`), and a re-run SKIPS every stage whose output
    * already exists (completed writes only — Spark's `_SUCCESS` marker
    * gates the skip, so a write killed mid-flight recomputes), making a
    * multi-day pipeline resumable after the last finished stage instead
    * of restarting from scratch. Delete a stage directory to force its
    * recomputation — downstream stage directories must be deleted too,
    * they derive from it. The SOURCE projection is persisted as stage 0:
    * one extra corpus-sized write that freezes the input against
    * concurrent mutation for the run's lifetime and keeps the resumed
    * report's `1_gate` row honest without re-touching the source.
    * Returns the report read back from storage.
    *
    * Stage parameters are persisted to `<stageDir>/_graft_params.json`
    * on the first run and VALIDATED on every resume: resuming with any
    * parameter changed fails loudly (persisted stage outputs embody the
    * old parameters — silently mixing regimes across stages is the
    * worst failure mode a restartable pipeline can have). Delete the
    * stage directory to rerun under new parameters. Each stage also
    * persists its capped-generator [[Dedup.BucketStats]] next to its
    * schema sidecar, so a RESUMED run still reports the drop counts of
    * stages it skipped (see [[curatePersistedWithStats]]).
    */
  def curatePersisted(docs: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, stageDir: String, minTokens: Int = 15,
      wantedLang: String = "en", minQuality: Double = 0.75,
      nearDupThreshold: Double = 0.8, contamN: Int = 8,
      contamMinShared: Int = 1, sampleRate: Double = 0.5,
      salt: String = "curate", nearDupMaxBucket: Int = 1000): DataFrame =
    curatePersistedWithStats(docs, bench, idCol, textCol, stageDir,
      minTokens, wantedLang, minQuality, nearDupThreshold, contamN,
      contamMinShared, sampleRate, salt, nearDupMaxBucket).report

  /** [[curatePersisted]] returning the report AND per-stage bucket
    * stats. Computed stages read the stats off their own execution;
    * skipped (resumed) stages read the `_graft_buckets.json` sidecar
    * their original run persisted — the drop counts survive restarts
    * along with the data.
    */
  def curatePersistedWithStats(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, stageDir: String, minTokens: Int = 15,
      wantedLang: String = "en", minQuality: Double = 0.75,
      nearDupThreshold: Double = 0.8, contamN: Int = 8,
      contamMinShared: Int = 1, sampleRate: Double = 0.5,
      salt: String = "curate", nearDupMaxBucket: Int = 1000): CurateResult = {
    val spark = docs.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    def writeFile(p: org.apache.hadoop.fs.Path, content: String): Unit = {
      val fs = p.getFileSystem(conf)
      val out = fs.create(p, true)
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    def readFile(p: org.apache.hadoop.fs.Path): String = {
      val in = p.getFileSystem(conf).open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    // ---- params sidecar: write once, fail-loud compare on resume ----
    // values are JSON-escaped so a quote/backslash/newline in salt or a
    // column name still yields a parseable sidecar (the resume compare
    // is on the escaped form either way, and escaping is the identity
    // on ordinary values, so pre-escape sidecars keep resuming)
    val params = Seq(
      "idCol" -> idCol, "textCol" -> textCol,
      "minTokens" -> minTokens.toString, "wantedLang" -> wantedLang,
      "minQuality" -> minQuality.toString,
      "nearDupThreshold" -> nearDupThreshold.toString,
      "contamN" -> contamN.toString,
      "contamMinShared" -> contamMinShared.toString,
      "sampleRate" -> sampleRate.toString, "salt" -> salt,
      "nearDupMaxBucket" -> nearDupMaxBucket.toString)
      .map { case (k, v) => s"${jsonStr(k)}:${jsonStr(v)}" }
      .mkString("{", ",", "}")
    val paramsFile = new org.apache.hadoop.fs.Path(stageDir, "_graft_params.json")
    val paramsFs = paramsFile.getFileSystem(conf)
    if (paramsFs.exists(paramsFile)) {
      val persistedParams = readFile(paramsFile)
      require(persistedParams == params,
        s"curatePersisted: resume with DIFFERENT parameters than the " +
          s"persisted stages were built with.\n  persisted: " +
          s"$persistedParams\n  current:   $params\nDelete $stageDir to " +
          s"rerun under the new parameters.")
    } else {
      // no params sidecar: only safe when there are no persisted stages
      // yet. Stage 0 is always the first resumable write, so its schema
      // sidecar existing without a params file means the stages predate
      // params tracking (or the sidecar was deleted) — the parameters
      // they embody are UNKNOWN; adopting the current ones would be the
      // exact regime-mixing the gate exists to block.
      require(!paramsFs.exists(new org.apache.hadoop.fs.Path(
          s"$stageDir/0_source/_graft_schema.json")),
        s"curatePersisted: $stageDir holds persisted stages but no " +
          s"_graft_params.json — the parameters they were built under " +
          s"are unknown, so a resume cannot be validated. Delete " +
          s"$stageDir to rebuild under the current parameters.")
      writeFile(paramsFile, params)
    }

    val stats = Seq.newBuilder[(String, Dedup.BucketStats)]
    // per-stage stats arrive via the stage-fn callback (the generator
    // flush runs inside the stage, before its consumers); this map
    // routes them to the stage's sidecar write below
    val pendingStats =
      scala.collection.mutable.Map[String, Seq[Dedup.BucketStats]]()
    def persisted(name: String, compute: => DataFrame): DataFrame = {
      val path = s"$stageDir/$name"
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      // A stage that filters EVERYTHING writes zero part files (AQE
      // empty-relation propagation) — only _SUCCESS — and a bare
      // read-back cannot infer a schema. The schema rides a sidecar
      // written AFTER the parquet commit; the sidecar (not _SUCCESS)
      // gates the resume skip, so a run killed between the two writes
      // recomputes instead of resuming onto an unreadable stage.
      val schemaFile = new org.apache.hadoop.fs.Path(p, "_graft_schema.json")
      val bucketsFile = new org.apache.hadoop.fs.Path(p, "_graft_buckets.json")
      if (!fs.exists(schemaFile) ||
          !fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))) {
        val df = compute
        df.write.mode("overwrite").parquet(path)
        // persist the stage's generator stats (captured by the
        // callback while compute was forced) BEFORE the schema sidecar
        // (the resume gate), so a resumable stage always has them
        val st = pendingStats.getOrElse(name, Nil)
        writeFile(bucketsFile, st.map(s =>
          s"""{"operator":${jsonStr(s.operator)},"buckets_total":${s.bucketsTotal},""" +
            s""""buckets_dropped":${s.bucketsDropped}}""").mkString("[", ",", "]"))
        stats ++= st.map(name -> _)
        writeFile(schemaFile, df.schema.json)
      } else {
        // skipped stage: stats come from the sidecar its run persisted
        val re = ("""\{"operator":"([^"]+)","buckets_total":(\d+),""" +
          """"buckets_dropped":(\d+)\}""").r
        if (fs.exists(bucketsFile))
          stats ++= re.findAllMatchIn(readFile(bucketsFile)).map(m =>
            name -> Dedup.BucketStats(m.group(1), m.group(2).toLong,
              m.group(3).toLong))
      }
      val schema = org.apache.spark.sql.types.DataType.fromJson(
        readFile(schemaFile))
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      spark.read.schema(schema).parquet(path)
    }
    val b0 = bench.select(col(idCol).cast("long").as("id"),
      col(textCol).as("text"))
    val fns = curateStageFns(b0, minTokens, wantedLang, minQuality,
      nearDupThreshold, contamN, contamMinShared, sampleRate, salt,
      nearDupMaxBucket, Some((stage, st) => pendingStats(stage) = st))
    var cur = persisted("0_source",
      docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("text")))
    val stages = fns.map { case (name, fn) =>
      val out = persisted(name, fn(cur))
      val row = (name, cur, out)
      cur = out
      row
    }
    CurateResult(persisted("report", attritionReport(stages)), stats.result())
  }

  /** Batch assembly on top of [[packSequences]]: the actual training
    * sequences — one row per pack with the member docs' texts joined in
    * pack order by `sep`. Deterministic like the packing itself
    * (`sort_array` of (pos, text) structs fixes the order inside the
    * unordered `collect_list`). One keyed shuffle moves each doc's text
    * exactly once; pack sizes are bounded by maxTokens, so the per-group
    * state `collect_list` holds is bounded too.
    */
  def packTexts(docs: DataFrame, idCol: String, textCol: String,
      maxTokens: Int = 2048, shards: Int = 16,
      sep: String = " "): DataFrame = {
    val assignments = packSequences(docs, idCol, textCol, maxTokens, shards)
    assignments
      .join(docs.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__text")), Seq("id"))
      .groupBy(col("shard"), col("pack_id"))
      .agg(
        sum(col("doc_tokens")).as("pack_tokens"),
        count(lit(1)).as("n_docs"),
        array_join(transform(
          sort_array(collect_list(struct(col("pack_pos"), col("__text")))),
          s => s("__text")), sep).as("pack_text"))
  }

  /** Cross-document duplicated-span analysis — the SPAN-level form of
    * dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better", §3 ExactSubstr): a span is `n`
    * consecutive tokens; a span whose hash occurs ≥ 2 times in the
    * corpus (other docs OR repeated within the same doc) is duplicated
    * text that document-level exact/near dedup cannot see (boilerplate
    * headers, quoted paragraphs, licence blocks). Returns per-doc
    * (id, total_spans, dup_spans, dup_frac) — the score a span-removal
    * or doc-drop policy thresholds on.
    *
    * Plan: one corpus scan explodes every window hash WITH multiplicity
    * (the native kernel computes tokenize → n-window → md5-60 in one
    * codegen'd pass); one keyed shuffle counts occurrences per hash;
    * the count table is FILTERED to duplicated hashes before joining
    * back — on a real corpus duplicated spans are a small fraction, so
    * the join's build side is collision-sized (AQE-broadcastable), not
    * gram-table-sized; a left join + per-doc aggregate then scores each
    * doc. Span-less docs (< n tokens) survive via explode_outer with
    * zero counts.
    */
  def dupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 12): DataFrame = {
    val grams = docs
      .select(col(idCol).cast("long").as("id"),
        explode_outer(coalesce(
          graft.expressions.TextHashExprs.ngramHashes(col(textCol), n,
            distinct = false),
          array().cast("array<bigint>"))).as("gh"))
    val dupCounts = grams
      .filter(col("gh").isNotNull)
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2)
    grams
      .join(dupCounts, Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count(col("gh")).as("total_spans"),
        count(col("occ")).as("dup_spans"))
      .select(col("id"), col("total_spans"), col("dup_spans"),
        when(col("total_spans") > 0,
          col("dup_spans").cast("double") / col("total_spans"))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Span-level duplicate REMOVAL — the second half of ExactSubstr
    * (Lee et al. 2022 §3; [[dupSpans]] is the scoring half): drop every
    * token covered by an `n`-token window whose hash occurs at least
    * `minCount` times corpus-wide (within-doc repeats count, as in
    * [[removeRepeatedLines]]), from ALL occurrences — the policy for
    * boilerplate/licence blocks that doc-level dedup cannot see and
    * line-level scrubbing misses when the repeat isn't line-aligned.
    * Returns (idCol, textCol), one row per input doc; the output text
    * is the SPACE-JOINED kept tokens (token-pipeline canonical form —
    * original whitespace does not survive tokenization, same contract
    * as [[packTexts]] consumers expect).
    *
    * Scale shape mirrors [[removeRepeatedLines]] — wide steps key on
    * the 8-byte window hash, token text never rides a shuffle:
    *   1. ban count: groupBy over every window hash WITH multiplicity
    *      (the native tokenize→window→md5-60 kernel, one codegen'd
    *      pass; map-side partial agg, 8-byte shuffle keys);
    *   2. banned-window positions: semi-join (id, w, hash) against the
    *      banned set (duplicated spans are a small fraction of a real
    *      corpus — AQE broadcasts), then per-doc collect_list of the
    *      BANNED window starts only;
    *   3. removal: the original doc row joins its banned-start array
    *      (one small row per affected doc) and drops token i iff some
    *      banned window w covers it (w ≤ i < w+n) — a narrow array
    *      filter, no re-shuffle of text, no per-token explode-regroup.
    * Cost of the cover test is |tokens|·|banned starts| per doc —
    * proportional to the duplication actually present, bounded by
    * chunked doc sizes; a fully-duplicated doc degrades to quadratic
    * in ITS OWN length only.
    *
    * `keepFirst = true` exempts the canonical FIRST occurrence of each
    * banned window — smallest (id, start) — from removal, so exactly
    * one copy of duplicated text survives the scrub (the policy Lee et
    * al. apply; the default drops ALL copies, the C4-line-scrub
    * convention). The exemption is per-window: where DISTINCT
    * duplicated windows overlap, a token of a kept copy can still be
    * covered by another window whose first occurrence lies elsewhere —
    * the fixed-window approximation of the paper's suffix-range
    * removal. The ban aggregation then carries one 12-byte keeper per
    * banned hash; shuffle shape is otherwise identical.
    *
    * `exact = true` (with `keepFirst`) is the suffix-range form: each
    * doc's banned windows are first MERGED into maximal covered ranges
    * (windows overlapping or touching coalesce), and the cut decision
    * is made per RANGE — a range survives iff EVERY window inside it
    * is its hash's corpus-wide first occurrence, and is removed
    * WHOLLY otherwise. Kept copies can no longer be shredded by an
    * overlapping window whose keeper lies elsewhere, and partial
    * remains (the lone leading token the window form leaves when its
    * keeper window overlaps a foreign one) no longer occur — ranges
    * are atomic, exactly the per-doc range consolidation of Lee et
    * al.'s removal. Plan shape: the same banned aggregation, one
    * per-doc sorted collect of (start, is-keeper), the merge as a
    * narrow higher-order fold — no extra shuffle over the window
    * form.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
      n: Int = 12, minCount: Int = 2, keepFirst: Boolean = false,
      exact: Boolean = false): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    require(!exact || keepFirst,
      "removeDupSpans: exact range-merge form only changes keepFirst " +
        "semantics — without a keeper the window cover already equals " +
        "the merged-range cover; pass keepFirst = true")
    val base = spanScrubBase(docs, idCol, "removeDupSpans", textCol)
    val wins = spanWindows(base, n)
    if (exact) return removeDupRangesExact(base, wins, idCol, textCol, n,
      minCount)
    val bannedInstances =
      if (keepFirst) {
        val banned = wins
          .groupBy(col("gh"))
          .agg(count(lit(1)).as("occ"),
            min(struct(col("id"), col("w"))).as("__k"))
          .filter(col("occ") >= minCount)
          .select(col("gh"), col("__k"))
        wins.join(banned, Seq("gh"))
          .filter(!(col("id") === col("__k")("id") &&
            col("w") === col("__k")("w")))
      } else {
        val banned = wins
          .groupBy(col("gh")).agg(count(lit(1)).as("occ"))
          .filter(col("occ") >= minCount)
          .select(col("gh"))
        wins.join(banned, Seq("gh"), "left_semi")
      }
    dropCoveredTokens(base, bannedInstances, idCol, textCol, n)
  }

  /** The `exact = true` tail of [[removeDupSpans]]: banned instances
    * annotated with their keeper verdict, merged per doc into maximal
    * ranges carrying the AND of the verdicts, then the range-atomic
    * cut. The merge runs as a higher-order fold over each doc's
    * duplication-proportional sorted start list — narrow, engine-
    * replicable (the oracle's gaps-and-islands CTE computes the same
    * ranges).
    */
  private def removeDupRangesExact(base: DataFrame, wins: DataFrame,
      idCol: String, textCol: String, n: Int, minCount: Int): DataFrame = {
    val banned = wins
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("id"), col("w"))).as("__k"))
      .filter(col("occ") >= minCount)
      .select(col("gh"), col("__k"))
    val inst = wins.join(banned, Seq("gh"))
      .select(col("id"), col("w"),
        (col("id") === col("__k")("id") && col("w") === col("__k")("w"))
          .as("ik"))
    // per-doc sorted (start, is-keeper); starts are unique per doc, so
    // sort_array's struct order is the start order
    val perDoc = inst.groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("w"), col("ik"))))
        .as("__wk"))
    // maximal-range merge: touching/overlapping windows coalesce
    // (w <= end), the range keeps the AND of its windows' verdicts
    val emptyRanges = array().cast("array<struct<rs:int,re:int,ex:boolean>>")
    val merged = aggregate(col("__wk"), emptyRanges, (acc, e) => {
      val last = element_at(acc, -1)
      val w = e("w")
      when(size(acc) > 0 && w <= last("re"),
        concat(slice(acc, lit(1), size(acc) - 1),
          array(struct(last("rs").as("rs"), (w + lit(n)).as("re"),
            (last("ex") && e("ik")).as("ex")))))
        .otherwise(concat(acc,
          array(struct(w.as("rs"), (w + lit(n)).as("re"), e("ik").as("ex")))))
    })
    val cut = perDoc
      .select(col("id"),
        filter(merged, r => !r("ex")).as("__br"))
      .filter(size(col("__br")) > 0)
    base.join(cut, Seq("id"), "left")
      .select(col("id").as(idCol),
        array_join(
          filter(coalesce(TextFunctions.tokensNative(col("__t0")),
            array().cast("array<string>")),
            (_, i) => !coalesce(
              exists(col("__br"), r => r("rs") <= i && i < r("re")),
              lit(false))),
          " ").as(textCol))
  }

  /** (id, __t0) projection shared by the span scrubs, failing loudly on
    * a null doc id: the banned-position join back keys on id, so a
    * null-id doc would silently skip the scrub entirely — and a keeper
    * min(struct(id, w)) would elect the null-id instance (struct
    * ordering sorts null first), diverging from any NULLS LAST engine.
    * A per-row codegen'd branch, no plan change.
    */
  private def spanScrubBase(docs: DataFrame, idCol: String, op: String,
      textCol: String): DataFrame = {
    docs.select(
      when(col(idCol).isNotNull, col(idCol)).otherwise(raise_error(lit(
        s"$op: null value in id column '$idCol' — doc ids must be " +
          "non-null (a null id cannot join its banned spans back, nor " +
          "serve as a keepFirst keeper)"))).as("id"),
      col(textCol).as("__t0"))
  }

  /** Every n-token window of every doc as (id, w, gh) — the native
    * tokenize→window→md5-60 kernel, one codegen'd pass per row. */
  private def spanWindows(base: DataFrame, n: Int): DataFrame = base
    .select(col("id"), posexplode(coalesce(
      graft.expressions.TextHashExprs.ngramHashes(col("__t0"), n,
        distinct = false),
      array().cast("array<bigint>")).as("__gh")))
    .toDF("id", "w", "gh")

  /** Steps 2–3 of the span scrubs: per-doc banned window starts
    * (collect_list over a duplication-proportional instance set), then
    * the narrow cover filter — token i of a doc is dropped iff some
    * banned window start w of THAT doc satisfies w ≤ i < w+n. Text
    * never rides a shuffle; the only wide step here keys on the doc id.
    */
  private def dropCoveredTokens(base: DataFrame, bannedInstances: DataFrame,
      idCol: String, textCol: String, n: Int): DataFrame = {
    val bannedStarts = bannedInstances
      .groupBy(col("id"))
      .agg(collect_list(col("w")).as("__bw"))
    base.join(bannedStarts, Seq("id"), "left")
      .select(col("id").as(idCol),
        array_join(
          filter(coalesce(TextFunctions.tokensNative(col("__t0")),
            array().cast("array<string>")),
            (_, i) => !coalesce(
              exists(col("__bw"), w => w <= i && i < w + n), lit(false))),
          " ").as(textCol))
  }

  /** Span-level benchmark DECONTAMINATION — [[contamination]]'s
    * surgical form: instead of flagging (and dropping) a whole document
    * whose n-gram overlap with a benchmark set crosses a threshold,
    * drop exactly the tokens covered by an `n`-token window that occurs
    * ANYWHERE in `bench` (Lee et al. 2022 §3 removal applied against an
    * external ban corpus; the eval-overlap policy of Brown et al. 2020
    * App. C, at span rather than doc granularity). A doc quoting one
    * benchmark question loses that span and keeps the rest — no
    * threshold to tune, nothing below n tokens is touched. Returns
    * (idCol, textCol) with the space-joined kept tokens, one row per
    * input doc (same contract as [[removeDupSpans]]).
    *
    * Scale shape: the ban set is BENCHMARK-sized (distinct window
    * hashes of the eval suites — millions of 8-byte keys, not
    * corpus-scale), so the instance semi-join broadcasts under AQE and
    * the corpus text never rides a shuffle; the only corpus-keyed wide
    * step is the per-doc banned-start collect, proportional to the
    * contamination actually present. `bench` may use any id scheme
    * (only its `textCol` is read); `docs` ids must be non-null.
    */
  def removeContaminatedSpans(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 12): DataFrame = {
    require(n >= 1, s"span width must be >= 1, got $n")
    val base = spanScrubBase(docs, idCol, "removeContaminatedSpans", textCol)
    // distinct window hashes of the benchmark side — distinct per row
    // in the kernel, across rows by aggregation (8-byte keys)
    val banned = bench
      .select(explode(coalesce(
        graft.expressions.TextHashExprs.ngramHashes(col(textCol), n,
          distinct = true),
        array().cast("array<bigint>"))).as("gh"))
      .distinct()
    val bannedInstances =
      spanWindows(base, n).join(banned, Seq("gh"), "left_semi")
    dropCoveredTokens(base, bannedInstances, idCol, textCol, n)
  }

  /** Corpus-frequency document scoring — the oracle-exact core of
    * LM-likelihood quality filtering (CCNet, Wenzek et al. 2020, filters
    * on language-model perplexity; this frequency surrogate keeps every
    * intermediate an exact integer, so scores replicate bit-for-bit on
    * any engine — no platform log/exp): per doc, the OOV rate against
    * the corpus's top-`vocabSize` vocabulary and the mean corpus
    * frequency of its in-vocab tokens. Gibberish scores high-OOV /
    * low-frequency; boilerplate scores the opposite extreme.
    *
    * Plan: one shuffle counts unigrams; the top-`vocabSize` vocabulary
    * is a TakeOrderedAndProject (deterministic tie-break cnt DESC,
    * token ASC) and is BROADCAST to the per-doc scoring join — vocab
    * size is the bound that keeps the join shuffle-free; one keyed
    * shuffle aggregates per doc. Empty docs survive via explode_outer.
    */
  def tokenFrequencyStats(docs: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 10000): DataFrame = {
    val toksTbl = docs
      .select(col(idCol).cast("long").as("id"),
        TextFunctions.tokensNative(col(textCol)).as("__t"))
      .select(col("id"), explode_outer(col("__t")).as("tok"))
    val vocab = toksTbl
      .filter(col("tok").isNotNull)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabSize)
    toksTbl
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy(col("id"))
      .agg(count(col("tok")).as("n_tokens"),
        count(col("cnt")).as("__in_vocab"),
        coalesce(sum(col("cnt")), lit(0L)).as("__freq_mass"))
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - col("__in_vocab")).as("oov_tokens"),
        when(col("n_tokens") > 0,
          (col("n_tokens") - col("__in_vocab")).cast("double") /
            col("n_tokens")).otherwise(lit(0.0)).as("oov_frac"),
        when(col("__in_vocab") > 0,
          col("__freq_mass").cast("double") / col("__in_vocab"))
          .otherwise(lit(0.0)).as("mean_freq"))
  }

  /** Adjacent-token-pair frequencies — the statistic of one BPE merge
    * step (Sennrich et al. 2016, "Neural Machine Translation of Rare
    * Words with Subword Units": each merge promotes the most frequent
    * adjacent pair): the `k` most frequent pairs with a deterministic
    * tie-break (count DESC, pair ASC). Pairs are built with two
    * codegen'd array slices zipped positionally — no lambda in the
    * per-row hot path; the aggregation is partial (map-side pair
    * collapse) and the final top-k is a TakeOrderedAndProject
    * (per-partition k-row heaps, never a full sort of the pair
    * vocabulary).
    */
  def bpePairs(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    val toks = TextFunctions.tokensNative(col(textCol))
    docs
      .select(toks.as("__t"))
      // explode_OUTER although the nulls are filtered right after: a
      // plain explode lets InferFiltersFromGenerate copy the zipped
      // slice expression into a pushed-down size()>0 filter (the
      // duplicated-HOF trap pinned in PlanShapeSpec)
      .select(explode_outer(arrays_zip(
        slice(col("__t"), lit(1), greatest(size(col("__t")) - 1, lit(0))),
        slice(col("__t"), lit(2), greatest(size(col("__t")) - 1, lit(0)))))
        .as("__p"))
      .filter(col("__p").isNotNull)
      .select(concat(col("__p.0"), lit(" "), col("__p.1")).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  /** Exact-N deterministic stratified sample: the `n` rows per stratum
    * with the smallest md5-60(salt:id) — reservoir-style "N docs per
    * language/source" selection, but a pure function of (id, salt):
    * stable across runs, partitionings, and engines, and refreshable
    * incrementally (a new corpus snapshot re-selects the same winners
    * unless displaced by smaller hashes). Selection runs through the
    * bounded [[TopK.smallestKPerGroup]] aggregation — map-side ≤n
    * buffers per stratum, never a full per-stratum window sort.
    * Returns (stratum, rank, id); join back on id for full rows.
    */
  def stratifiedSampleN(df: DataFrame, idCol: String, stratumCol: String,
      n: Int, salt: String = "graft"): DataFrame =
    TopK.smallestKPerGroup(
      df.select(col(stratumCol).as("group"),
        TextFunctions.md5Hash60(
          concat(lit(salt), lit(":"), col(idCol).cast("string"))).as("h"),
        col(idCol).cast("long").as("id")), n)
      .select(col("group").as(stratumCol), col("rank"), col("id"))

  /** Deterministic epoch shuffle — the global reordering a training run
    * needs per epoch, as data: assign every doc a (shard, position)
    * that is a pure function of (id, epoch, shards). Docs are spread
    * across `shards` by one 60-bit hash and ordered INSIDE each shard
    * by a second — no RNG state, so any worker can recompute its
    * shard's order independently and two engines agree byte-for-byte.
    * The per-shard ordering is a window sort: `shards` is exactly the
    * knob that bounds one reducer's sort to corpus/shards rows (pick
    * shards ≈ executors at scale); the shard assignment itself is a
    * narrow map.
    */
  def epochShuffle(docs: DataFrame, idCol: String, epoch: Int,
      shards: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = TextFunctions.md5Hash60(
      concat(lit(s"epoch$epoch:"), col(idCol).cast("string")))
    docs
      .select(col(idCol).cast("long").as("id"), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(shards.toLong)).cast("int"))
      .withColumn("position", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("__h"), col("id")))
        .cast("long"))
      .select(col("id"), col("shard"), col("position"))
  }
}
