package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, n-grams, quality stats, fingerprints, language ID.
  *
  * Everything except `langId` is built from codegen'd
  * `org.apache.spark.sql.functions` (no UDFs) so the hot path stays
  * inside whole-stage codegen at 100 TB: a narrow map over the text
  * column, no shuffle until the caller aggregates.
  */
object TextFunctions {

  /** Whitespace tokenization. Empty/blank text → empty array (split on a
    * blank string yields one empty token; filter it out so counts are 0).
    * This HOF form is the engine-independent replication recipe and the
    * parity reference; hot paths use [[tokensNative]].
    */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** [[tokens]] via the native one-pass kernel — bit-identical
    * (NativeKernelParitySpec).
    */
  def tokensNative(text: Column): Column =
    graft.expressions.TextHashExprs.ngramsNative(text, 1)

  /** Token count via the native tokenizer kernel (one codegen loop —
    * the HOF form above is interpreted per row); null → null like
    * size(tokens(null)), empty → 0. Parity-pinned.
    */
  def tokenCount(text: Column): Column =
    size(graft.expressions.TextHashExprs.ngramsNative(text, 1))

  /** BPE-ish subword token count: a GPT-2-style pre-tokenizer regex —
    * common contractions, space-prefixed letter runs, digit runs,
    * punctuation runs — counted with codegen'd `regexp_count`. This is
    * the deterministic approximation a pipeline uses to budget context
    * length without shipping a tokenizer model; the contract is the
    * regex, not a vocabulary.
    */
  val BpeTokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s']+|\\s+"

  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit(BpeTokenPattern)).cast("long")

  /** Word n-grams as space-joined strings; length-N windows only (a text
    * with fewer than `n` tokens yields an empty array).
    *
    * Built by zip_with-folding n SHIFTED slices of the token array —
    * each slice is a per-ROW expression evaluated once. (The obvious
    * `transform(sequence, i => slice(ts, i+1, n))` re-evaluates the
    * token split inside the per-window lambda: O(tokens²) per doc,
    * measured as the dominant cost of every shingle-based operator.)
    */
  def ngrams(text: Column, n: Int): Column = {
    require(n >= 1, "n must be >= 1")
    val ts = tokens(text)
    val m = size(ts) - (n - 1) // window count when size >= n
    val joined = (2 to n).foldLeft(slice(ts, lit(1), m)) { (acc, k) =>
      zip_with(acc, slice(ts, lit(k), m), (a, b) => concat(a, lit(" "), b))
    }
    when(size(ts) >= n, joined).otherwise(array().cast("array<string>"))
  }

  /** 3-word shingles — the dedup unit. */
  def shingles(text: Column): Column = ngrams(text, 3)

  // ---- quality stats ----------------------------------------------------

  /** Default stopword list used by qualityStats (tiny, deterministic). */
  val Stopwords: Seq[String] = Seq("the", "a", "an", "and", "of", "to", "in", "is")

  /** Fraction of tokens that are stopwords (0 when no tokens). */
  def stopwordRatio(text: Column, stopwords: Seq[String] = Stopwords): Column = {
    val ts = tokens(text)
    val sw = filter(ts, t => t.isin(stopwords.map(x => x: Any): _*))
    when(size(ts) > 0, size(sw).cast("double") / size(ts)).otherwise(lit(0.0))
  }

  /** Mean token length (0 when no tokens). */
  def meanTokenLen(text: Column): Column = {
    val ts = tokens(text)
    when(size(ts) > 0,
      aggregate(ts, lit(0L), (acc, t) => acc + length(t)).cast("double") / size(ts))
      .otherwise(lit(0.0))
  }

  /** Ratio of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column =
    when(length(text) > 0,
      (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", "")))
        .cast("double") / length(text))
      .otherwise(lit(0.0))

  /** Composite quality score in [0,1]: long-enough, low punctuation,
    * some-but-not-all stopwords. A deterministic arithmetic combination —
    * the contract is this formula, not a model.
    *
    * Computed by the native one-pass kernel
    * ([[graft.expressions.QualityScoreExpr]]); [[qualityScoreSql]] is
    * the replication recipe. Bit-identical, same IEEE op order —
    * parity-pinned incl. the null path (`least` skips the null
    * lenScore operand and both ratio `when`s fall to 0.0, so
    * qualityScore(null) is the constant below).
    */
  def qualityScore(text: Column): Column = {
    val nullScore = {
      val swScore = 1.0 - math.abs(0.0 - 0.15)
      1.0 * 0.4 + 1.0 * 0.3 + swScore * 0.3
    }
    when(text.isNull, lit(nullScore)).otherwise(
      graft.expressions.TextQualityExprs.qualityScoreNative(text))
  }

  /** The SQL-tree form of [[qualityScore]] — the engine-independent
    * replication recipe and the parity-spec reference.
    */
  private[graft] def qualityScoreSql(text: Column): Column = {
    val lenScore = least(tokenCount(text).cast("double") / 100.0, lit(1.0))
    val punctPenalty = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swr = stopwordRatio(text)
    val swScore = lit(1.0) - abs(swr - 0.15) // natural text sits near 15%
    (lenScore * 0.4 + punctPenalty * 0.3 + swScore * 0.3)
  }

  // ---- unicode normalization --------------------------------------------

  /** NFC Unicode normalization — canonical composition, the standard
    * first step before fingerprinting/tokenizing multilingual text (a
    * decomposed "é" and a precomposed "é" must dedup together). A scalar
    * UDF is justified here like winnowing's: Spark has no builtin
    * normalizer, `java.text.Normalizer` IS the reference implementation
    * in-JVM, and the op stays a narrow per-row map.
    */
  private val nfcUdf = udf { (s: String) =>
    if (s == null) null
    else java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
  }

  def nfcNormalize(text: Column): Column = nfcUdf(text)

  // ---- PII redaction ----------------------------------------------------

  /** Redaction patterns, applied IN THIS ORDER (URLs before emails so a
    * URL's userinfo isn't half-eaten; IPs before bare number runs). The
    * syntax is the portable intersection of Java regex and RE2 — no
    * backreferences, no lookaround — so any engine replicates the
    * result byte for byte.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "https?://[^\\s]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "([0-9]{1,3}\\.){3}[0-9]{1,3}" -> "<IP>",
    "[0-9]{7,}" -> "<NUM>")

  /** Scrub emails, URLs, IPv4s, and long digit runs — the standard
    * pre-training PII pass. A narrow codegen'd map (chained
    * regexp_replace), no UDF.
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }

  /** How many redactions of each kind `redactPii` performs. */
  def piiCounts(text: Column): Column = {
    val redacted = PiiPatterns.scanLeft(text) { case (acc, (pat, repl)) =>
      regexp_replace(acc, pat, repl)
    }
    struct(PiiPatterns.zipWithIndex.map { case ((pat, repl), i) =>
      regexp_count(redacted(i), lit(pat)).cast("long")
        .as(repl.stripPrefix("<").stripSuffix(">").toLowerCase + "_count")
    }: _*)
  }

  // ---- fingerprints -----------------------------------------------------

  /** Canonical-text fingerprint: md5 of lower-cased, whitespace-collapsed
    * text — the exact-dedup key.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 60-bit integer hash derived from md5: the first 15 hex digits of
    * md5(s) parsed base-16. Used as the token/shingle hash for minhash
    * and simhash INSTEAD of xxhash64 deliberately: the exact same value
    * is computable in any SQL engine with an md5 function (DuckDB:
    * `('0x' || substring(md5(s), 1, 15))::UBIGINT`), so the whole
    * signature → band → candidate pipeline is replicable by an external
    * oracle. md5 costs ~2-3× xxhash64 per call but stays a codegen'd
    * narrow map — hashing is not the bottleneck of any shuffle-bound
    * dedup stage. Always non-negative (60 bits < 2^63).
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash over token hashes: bit j of the result is 1 iff a
    * majority of tokens have bit j set in their [[md5Hash60]] (bits
    * 60-63 are always 0, so the effective fingerprint is 60 bits —
    * negligible for near-dup discrimination, and the hash stays
    * oracle-replicable). Pure expressions, no shuffle. Single hash
    * pass: tokens are hashed ONCE into an array, then one `aggregate`
    * accumulates all 64 bit-counts per token (zip_with against a
    * constant index array) — the previous formulation ran 64 filter
    * passes each re-computing the hash, O(64·hash) per token instead
    * of O(hash + 64 adds).
    */
  def simhash64(text: Column): Column =
    simhash64FromHashes(transform(tokens(text), t => md5Hash60(t)))

  /** SimHash from an already-hashed token array (`array<bigint>`). Use a
    * projected hash column when composing several simhash-derived
    * expressions so the hashing work is shared.
    */
  def simhash64FromHashes(hs: Column): Column = {
    val bitIdx = array((0 until 64).map(lit): _*)          // [0..63]
    val bitVal = array((0 until 64).map(j => lit(1L << j)): _*) // [2^j]
    // One aggregate, ONE reference to `hs` (Catalyst duplicates
    // multiply-referenced expensive expressions when collapsing
    // projections): the accumulator carries (bit counts, token count),
    // the finish lambda folds the majority bits into the 64-bit hash.
    aggregate(hs,
      struct(array_repeat(lit(0), 64).as("c"), lit(0).as("n")),
      (acc, h) => struct(
        zip_with(acc("c"), bitIdx,
          // functions.shiftright only takes a literal shift
          (c, j) => c + GraftFunctions.shiftRight(h, j)
            .bitwiseAND(1).cast("int")).as("c"),
        (acc("n") + lit(1)).as("n")),
      acc => aggregate(
        zip_with(acc("c"), bitVal,
          (c, p) => when(c * 2 > acc("n"), p).otherwise(lit(0L))),
        lit(0L), (a, v) => a.bitwiseOR(v)))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003,
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
    * k-char gram of the canonical text with a polynomial ROLLING hash
    * (O(1) per position), slide a window of `w` gram hashes, keep each
    * window's minimum, return the distinct selected hashes sorted.
    * Standard winnowing guarantee: any shared substring of length
    * ≥ k + w - 1 contributes at least one common fingerprint, so overlap
    * between two docs' fingerprint sets detects local plagiarism/
    * near-duplication where whole-doc hashes cannot.
    *
    * Deliberately a Scala UDF, not expressions: the rolling recurrence
    * and the sliding minimum are inherently sequential over the text —
    * an expression formulation re-evaluates the canonicalization per
    * gram (O(len²); measured as a multi-minute stall at sf0.01). One
    * narrow map per row, no shuffle; O(len) per doc.
    */
  private def winnow(text: String, k: Int, w: Int): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val canon = text.trim.toLowerCase.replaceAll("\\s+", " ")
    val n = canon.length
    if (n < k) return Array.emptyLongArray
    val B = 1000003L
    var bk = 1L // B^(k-1)
    var i = 1
    while (i < k) { bk *= B; i += 1 }
    val grams = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < k) { h = h * B + canon.charAt(i); i += 1 }
    grams(0) = h
    i = 1
    while (i <= n - k) {
      h = (h - canon.charAt(i - 1) * bk) * B + canon.charAt(i + k - 1)
      grams(i) = h
      i += 1
    }
    val out = scala.collection.mutable.SortedSet.empty[Long]
    if (grams.length < w) { out += grams.min }
    else {
      var j = 0
      while (j <= grams.length - w) {
        var m = grams(j)
        var x = j + 1
        while (x < j + w) { if (grams(x) < m) m = grams(x); x += 1 }
        out += m
        j += 1
      }
    }
    out.toArray
  }

  private val winnowUdf =
    udf((t: String, k: Int, w: Int) => winnow(t, k, w))

  def winnowingFingerprints(text: Column, k: Int = 8, w: Int = 4): Column =
    winnowUdf(text, lit(k), lit(w))

  /** Fingerprint-set overlap ratio (|A ∩ B| / |A ∪ B|) — the winnowing
    * comparison scalar.
    */
  def fingerprintOverlap(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union > 0, inter.cast("double") / union).otherwise(lit(0.0))
  }

  // ---- language ID ------------------------------------------------------

  /** Tiny character/word-frequency language heuristic for
    * {en, es, de, fr, zh}: CJK characters → zh; otherwise score marker
    * words and characteristic letters per language. Deterministic; the
    * contract is the heuristic, not a trained model.
    *
    * Computed by the native single-pass kernel
    * ([[graft.expressions.LangIdExpr]]) — the SQL tree below
    * ([[langIdSql]], the replication recipe) is 4 interpreted
    * tokenize+filter HOF passes plus 4 regex scans per row, measured
    * as a dominant cost of the curate gate. Values are bit-identical
    * (parity-pinned incl. the null → "en" path: the SQL argmax
    * comparator returns `otherwise(0)` on null scores, so the
    * en-first priority order survives).
    */
  def langId(text: Column): Column = {
    coalesce(
      graft.expressions.TextQualityExprs.langIdNative(text), lit("en"))
  }

  /** The SQL-tree form of [[langId]] — kept as the engine-independent
    * replication recipe and the parity-spec reference.
    */
  private[graft] def langIdSql(text: Column): Column = {
    val zh = length(regexp_replace(text, "[^\\u4e00-\\u9fff]", "")) > 0
    def wordScore(words: Seq[String]): Column =
      size(filter(tokens(lower(text)), t => t.isin(words.map(x => x: Any): _*)))
    val enS = wordScore(Seq("the", "and", "of", "is", "with"))
    val esS = wordScore(Seq("el", "la", "los", "las", "es", "y", "de", "con"))
    val deS = wordScore(Seq("der", "die", "das", "und", "ist", "mit"))
    val frS = wordScore(Seq("le", "la", "les", "est", "et", "avec", "des"))
    // accent hints break word-score ties
    val esAcc = length(regexp_replace(text, "[^ñ¿¡]", ""))
    val deAcc = length(regexp_replace(text, "[^äöüß]", ""))
    val frAcc = length(regexp_replace(text, "[^éèêàçœ]", ""))
    // argmax over the four scores, 'en' default on full tie
    val best = array(
      struct((enS * 10).as("s"), lit(4).as("p"), lit("en").as("l")),
      struct((esS * 10 + esAcc).as("s"), lit(3).as("p"), lit("es").as("l")),
      struct((deS * 10 + deAcc).as("s"), lit(2).as("p"), lit("de").as("l")),
      struct((frS * 10 + frAcc).as("s"), lit(1).as("p"), lit("fr").as("l")))
    val top = element_at(array_sort(best, (x, y) =>
      when(x("s") > y("s"), -1).when(x("s") < y("s"), 1)
        .when(x("p") > y("p"), -1).when(x("p") < y("p"), 1).otherwise(0)), 1)
    when(zh, lit("zh")).otherwise(top("l"))
  }
}
