package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Corpus-preparation operators that sit beside [[CorpusAnalysis]]:
  * the C4 bad-word page filter, word2vec-style phrase detection, and
  * deterministic train/validation/test split assignment. All three are
  * report-then-filter or pure-projection shapes over exact integer /
  * fixed-order-IEEE arithmetic, so every output replicates bit-exactly
  * in an external SQL engine. Reference: N/A (beyond the reference's
  * surface — LLM-pipeline brief).
  */
object CorpusPrep {

  /** C4's bad-word page filter (Raffel et al. 2020 §2.2: "removed any
    * page that contained any word on the 'List of Dirty, Naughty,
    * Obscene or Otherwise Bad Words'") — the companion of
    * [[CorpusAnalysis.c4Clean]], which handles the paper's line-level
    * heuristics and defers this list to its own operator.
    *
    * An entry matches iff the doc's lowercased whitespace tokens
    * contain the entry's lowercased tokens CONTIGUOUSLY (multi-word
    * entries are phrase matches, single-word entries are exact token
    * matches — substring hits like "grass"/"ass" do NOT match, the
    * standard word-boundary semantics). Returns one row per doc:
    * (id, bad_hits, pass) with `bad_hits` the number of DISTINCT
    * entries matched and `pass` true iff none matched. The caller
    * filters on `pass` — same contract as
    * [[CorpusAnalysis.gopherRules]].
    *
    * Scale shape: the list is a per-task constant (real lists are
    * 10^2–10^4 entries), the scan is one narrow codegen'd pass — per
    * entry length k the doc's k-grams meet the k-word entries in an
    * `array_intersect` (hash-set build over the SMALLER literal array,
    * linear probe over the doc's grams). No shuffle, no UDF, nothing
    * corpus-sized leaves the map side.
    */
  def badWordsReport(docs: DataFrame, idCol: String, textCol: String,
      badWords: Seq[String]): DataFrame = {
    val entries = badWords.map(_.trim.toLowerCase)
      .filter(_.nonEmpty).distinct
    require(entries.nonEmpty, "badWordsReport: empty bad-word list")
    val byLen: Seq[(Int, Seq[String])] = entries
      .map(e => e.split("\\s+").length -> e)
      .groupBy(_._1).view.mapValues(_.map(_._2)).toSeq.sortBy(_._1)
    // the token array is PROJECTED once: an index lambda over the raw
    // tokenize expression would re-run the tokenizer per index
    // (O(len^2) per doc — measured 50x on q_phrases before the hoist)
    val toks = col("__toks")
    val hits = byLen.map { case (k, es) =>
      val lits = array(es.map(lit): _*)
      val grams =
        if (k == 1) toks
        else when(size(toks) >= k,
          transform(sequence(lit(1), size(toks) - (k - 1)),
            i => array_join(slice(toks, i, lit(k)), " ")))
          .otherwise(array().cast("array<string>"))
      size(array_intersect(array_distinct(grams), lits)).cast("long")
    }.reduce(_ + _)
    docs
      .select(col(idCol).as("id"),
        transform(TextFunctions.tokensNative(coalesce(col(textCol), lit(""))),
          t => lower(t)).as("__toks"))
      .select(col("id"), hits.as("bad_hits"))
      .withColumn("pass", col("bad_hits") === 0L)
  }

  /** word2vec phrase detection (Mikolov et al. 2013, "Distributed
    * Representations of Words and Phrases" §4): score every adjacent
    * token bigram by
    *
    *   score = ((c_ab − δ) · N) / (c_a · c_b)
    *
    * where c_ab is the bigram count, c_a/c_b the unigram counts, N the
    * corpus token total, and δ the discount that kills rare-word
    * flukes. High-scoring bigrams ("new york") become single vocab
    * units — the standard pre-tokenization pass for vocabulary / data
    * analysis. Tokens are the raw whitespace tokens (the paper does
    * not case-fold; compose with a normalizer upstream if wanted).
    *
    * Returns the `topK` rows by (score DESC, w1, w2):
    * (w1, w2, c_ab, c_a, c_b, score), bigrams with c_ab < minCount
    * dropped. The score is three exact BIGINT counts cast to double
    * and combined with a FIXED operation order — (c_ab − δ) times N,
    * divided by (c_a · c_b) — every step correctly-rounded IEEE, so
    * the row replicates bit-exactly cross-engine at any magnitude.
    *
    * Scale shape: one unigram count and one bigram count — both
    * map-side-combined aggregations whose shuffles carry VOCAB-sized
    * key sets, not corpus-sized; the corpus text itself never rides a
    * shuffle (tokens explode map-side into the partial aggregates).
    * The unigram table joins the bigram table twice on token keys
    * (AQE broadcasts it when small); the final top-K is a bounded
    * TakeOrderedAndProject, never a global sort of the vocab.
    */
  def phraseScores(docs: DataFrame, textCol: String, minCount: Int = 5,
      delta: Int = 5, topK: Int = 100): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    require(delta >= 0, s"delta must be >= 0, got $delta")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // native tokenizer/n-gram kernels (bit-identical to the HOF forms —
    // NativeKernelParitySpec); the bigram pass takes the 2-gram STRINGS
    // from the kernel and splits on the single interior space (tokens
    // cannot contain whitespace, so the split is unambiguous) — fully
    // codegen, no interpreted index lambda
    val text = coalesce(col(textCol), lit(""))
    val uni = docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(text, 1)).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // one bounded driver read: the token total that scales the score
    val n = uni.agg(coalesce(sum(col("c")), lit(0L)))
      .collect()(0).getLong(0)
    val bi = docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(text, 2)).as("g"))
      .select(substring_index(col("g"), " ", 1).as("w1"),
        substring_index(col("g"), " ", -1).as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minCount)
    bi
      .join(uni.select(col("w").as("w1"), col("c").as("c_a")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c_b")), Seq("w2"))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"), col("c_b"),
        (((col("c_ab").cast("double") - lit(delta.toDouble)) *
          lit(n.toDouble)) /
          (col("c_a").cast("double") * col("c_b").cast("double")))
          .as("score"))
      .orderBy(col("score").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Deterministic train/validation/test split assignment: adds a
    * `split` column mapping each row to the named fraction by its
    * [[TextFunctions.md5Hash60]] of (salt:id) — a pure function of
    * (id, salt), stable across runs, partitionings, engines, and
    * corpus growth (a doc's split never changes when other docs are
    * added — THE property random splits lack, and why eval
    * contamination audits demand hash splits). Fractions must sum to
    * 1 (±1e-9); bucket edges are the exact-Long thresholds of
    * [[CorpusAnalysis.rateThreshold]] applied to the cumulative sums
    * in the GIVEN order, with the last split taking the remainder, so
    * no row is ever unassigned. A narrow per-row CASE — no shuffle,
    * survives pushdown.
    */
  def splitAssign(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)], salt: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splitAssign: empty split list")
    require(splits.map(_._1).distinct.size == splits.size,
      s"splitAssign: duplicate split names in ${splits.map(_._1)}")
    splits.foreach { case (name, f) =>
      require(f > 0.0 && f <= 1.0, s"splitAssign: fraction for '$name' " +
        s"must be in (0, 1], got $f")
    }
    val total = splits.map(_._2).sum
    require(math.abs(total - 1.0) <= 1e-9,
      s"splitAssign: fractions must sum to 1, got $total")
    val h = TextFunctions.md5Hash60(
      concat(lit(salt), lit(":"), col(idCol).cast("string")))
    val cum = splits.init.scanLeft(0.0)(_ + _._2).tail
    val assigned = splits.init.zip(cum)
      .foldRight(lit(splits.last._1): Column) {
        case (((name, _), cumF), rest) =>
          when(h < CorpusAnalysis.rateThreshold(cumF), name).otherwise(rest)
      }
    df.withColumn("split", assigned)
  }

  /** The scripts [[scriptProfile]] counts, in DOMINANCE-TIE priority
    * order, with their Java-regex script classes. RE2 engines (DuckDB)
    * spell the same classes `\p{Latin}` etc. — identical per-codepoint
    * script assignment for any assigned character.
    */
  val Scripts: Seq[(String, String)] = Seq(
    "latin" -> raw"\p{IsLatin}",
    "cyrillic" -> raw"\p{IsCyrillic}",
    "greek" -> raw"\p{IsGreek}",
    "arabic" -> raw"\p{IsArabic}",
    "hebrew" -> raw"\p{IsHebrew}",
    "han" -> raw"\p{IsHan}",
    "hiragana" -> raw"\p{IsHiragana}",
    "katakana" -> raw"\p{IsKatakana}",
    "hangul" -> raw"\p{IsHangul}",
    "devanagari" -> raw"\p{IsDevanagari}")

  /** Unicode-script composition per doc — the script-detection gate a
    * multilingual web pipeline runs before (or instead of) model-based
    * language ID (CCNet routes by language; Dolma's filters drop
    * mixed-script mojibake this way): per-script codepoint counts,
    * whitespace/digit counts, the dominant script (max count, ties by
    * the fixed [[Scripts]] priority order), and its fraction of all
    * script-assigned codepoints. Counts are exact integers from one
    * codegen'd `regexp_count` pass per class — a narrow zero-shuffle
    * map — and the one division is correctly rounded, so the whole row
    * replicates bit-for-bit cross-engine (q_script_profile). Docs with
    * no script codepoints get dominant = null, frac = null.
    */
  def scriptProfile(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val counted = docs.select(
      (col(idCol) +: length(t).cast("long").as("n_chars") +:
        // whitespace spelled as an explicit class, identically in the
        // oracle: Java \s and RE2 \s disagree on U+000B membership
        regexp_count(t, lit(raw"[\t\n\x0B\f\r ]")).cast("long")
          .as("n_space") +:
        regexp_count(t, lit("[0-9]")).cast("long").as("n_digit") +:
        Scripts.map { case (name, pat) =>
          regexp_count(t, lit(pat)).cast("long").as(s"n_$name")
        }): _*)
    // left-to-right strictly-greater fold: the FIRST script in the
    // priority list wins ties — mirrored by (cnt DESC, prio ASC)
    // ordering in the oracle
    val (domName, domCnt) = Scripts.tail.foldLeft(
      (lit(Scripts.head._1), col(s"n_${Scripts.head._1}"))) {
      case ((nm, ct), (name, _)) =>
        val c = col(s"n_$name")
        (when(c > ct, name).otherwise(nm), when(c > ct, c).otherwise(ct))
    }
    val totalScript = Scripts.map(s => col(s"n_${s._1}"))
      .reduce(_ + _)
    counted
      .withColumn("n_script", totalScript)
      .withColumn("dominant_script",
        when(col("n_script") > 0, domName))
      .withColumn("dominant_frac",
        when(col("n_script") > 0,
          domCnt.cast("double") / col("n_script")))
  }
}
