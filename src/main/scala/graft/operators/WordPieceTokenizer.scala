package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** WordPiece subword encoding (Wu et al. 2016 §4.1; the tokenizer
  * family BERT ships — Devlin et al. 2019): each word is segmented by
  * GREEDY LONGEST-MATCH-FIRST against a fixed subword vocabulary.
  * Pieces after the first carry the `##` continuation prefix, and a
  * word whose remainder matches no vocabulary entry becomes the single
  * unknown token — the WHOLE word, not just the remainder (the
  * reference WordPiece contract).
  *
  * This is the second tokenizer family beside [[BpeTokenizer]]: BPE
  * learns a merge list and replays it; WordPiece consumes a finished
  * vocabulary (from any trainer — a BPE run's vocab works) and only
  * segments. Spark shape mirrors `applyBpeMerges`' vocabulary-table
  * recipe: the greedy loop is a justified UDF over the DISTINCT-WORD
  * table only (never the corpus), the corpus meets the resulting
  * word→pieces table on the 60-bit word hash (8-byte join keys; AQE
  * broadcasts small word tables), and one per-doc regroup keyed on the
  * doc id restores token order positionally — the corpus text never
  * rides a shuffle, and plan depth is constant in vocabulary size.
  */
object WordPieceTokenizer {

  /** Greedy longest-match segmentation of one word. Slicing is
    * CODEPOINT-based (same contract as the BPE trainer's symbol split,
    * `BpeTokenizer.initialSyms`): both oracle engines' `substring` is
    * codepoint-indexed, so astral-plane words must segment on the same
    * boundaries here.
    */
  def encodeWord(word: String, vocab: java.util.HashSet[String],
      unk: String): Array[String] = {
    val n = word.codePointCount(0, word.length)
    // off(i) = UTF-16 offset of codepoint i; off(n) = word.length
    val off = new Array[Int](n + 1)
    var i = 0
    var o = 0
    while (i < n) { off(i) = o; o = word.offsetByCodePoints(o, 1); i += 1 }
    off(n) = word.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0
    while (start < n) {
      var end = n
      var hit: String = null
      while (end > start && hit == null) {
        val base = word.substring(off(start), off(end))
        val piece = if (start == 0) base else "##" + base
        if (vocab.contains(piece)) hit = piece else end -= 1
      }
      if (hit == null) return Array(unk)
      out += hit
      start = end
    }
    out.toArray
  }

  /** Encode every doc against a fixed WordPiece vocabulary: (id,
    * n_words, n_subwords, wp_tokens) with `wp_tokens` the flattened
    * piece sequence in token order. Docs with no tokens are EXCLUDED
    * (the scoring-operator contract, same as `applyBpeMerges`).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String], unk: String = "[UNK]"): DataFrame = {
    TopK.requireIntegral(docs, idCol, "WordPieceTokenizer.encode")
    val spark = docs.sparkSession
    val bcast = spark.sparkContext.broadcast(vocab.toArray)
    val bunk = unk
    val enc = udf(new (String => Array[String]) with Serializable {
      @transient private lazy val v = {
        val h = new java.util.HashSet[String](bcast.value.length * 2 + 8)
        bcast.value.foreach(h.add)
        h
      }
      def apply(word: String): Array[String] = encodeWord(word, v, bunk)
    })
    // corpus-side tokens + hashes come from the native kernels (one
    // codegen loop per row; bit-identical to the HOF tokens + SQL
    // md5-hex chain — NativeKernelParitySpec); the distinct-word table
    // keeps the SQL md5Hash60 — it runs once per VOCABULARY word
    val table = docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(col(textCol), 1)).as("word"))
      .distinct()
      .select(TextFunctions.md5Hash60(col("word")).as("wh"),
        enc(col("word")).as("pieces"))
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .ngramHashes(col(textCol), 1, distinct = false)))
      .select(col("id"), col("pos"), col("col").as("wh"))
      .join(table, Seq("wh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(struct(col("pos"), col("pieces")))).as("__ps"))
      .select(col("id"), col("n_words"),
        flatten(col("__ps.pieces")).as("wp_tokens"))
      .select(col("id"), col("n_words"),
        size(col("wp_tokens")).cast("long").as("n_subwords"),
        col("wp_tokens"))
  }
}
