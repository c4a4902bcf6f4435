package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Unigram-LM subword tokenization — the third tokenizer family next
  * to [[BpeTokenizer]] and [[WordPieceTokenizer]] (Kudo 2018, "Subword
  * Regularization", §3; the SentencePiece `unigram` model, Kudo &
  * Richardson 2018): each word is segmented into the piece sequence
  * that MINIMIZES total piece cost (cost ≈ −log p(piece), scaled to an
  * integer), found by Viterbi DP — not left-to-right greedy like
  * WordPiece, so a cheap long piece late in the word can beat a greedy
  * early match. Reference: N/A (beyond the reference's surface —
  * LLM-pipeline brief).
  *
  * Determinism contract: costs are INTEGERS and ties in total cost
  * break on the smallest cut-position bitmask (bit j−1 set = a cut
  * after codepoint j), which identifies a segmentation uniquely — so
  * the chosen pieces are a pure function of (word, vocab), replicable
  * by exhaustive enumeration in any engine (q_unigram_encode's oracle
  * enumerates all 2^(n−1) masks per distinct word). Words split per
  * CODEPOINT (the cross-engine `substr` unit — the [[BpeTokenizer]]
  * astral-plane lesson). Single codepoints absent from the vocabulary
  * fall back to themselves at `unkCost` (SentencePiece's
  * character-coverage fallback), so every word is always encodable.
  *
  * Scale shape: the same vocabulary-table recipe as WordPiece/BPE
  * encode — the corpus contributes ONE distinct-word table (words,
  * not occurrences, bear the DP cost), each distinct word is encoded
  * once by a broadcast-vocab UDF, and occurrences re-join by the
  * 8-byte word hash. Training collects ONE bounded word table and one
  * bounded seed-substring table to the driver (deterministic
  * TakeOrdered, never a full collect) and runs hard-EM entirely
  * in memory — zero per-round Spark jobs, the [[BpeTokenizer]]
  * trainer's contract.
  */
object UnigramTokenizer {

  /** Viterbi min-cost segmentation of one word under an integer-cost
    * vocabulary. Returns (pieces, totalCost). Objective: lexicographic
    * (Σ cost, cut-mask) — the mask compare has optimal substructure
    * because a common suffix adds the same (disjoint, higher) bits to
    * both candidates. Multi-codepoint pieces must be in the vocab;
    * single codepoints fall back to `unkCost`. O(n · maxPieceLen)
    * lookups per word.
    */
  def encodeWord(word: String, vocab: java.util.HashMap[String, Long],
      maxPieceLen: Int, unkCost: Long): (Array[String], Long) = {
    val n = word.codePointCount(0, word.length)
    if (n == 0) return (Array.empty, 0L)
    // off(i) = UTF-16 offset of codepoint i; off(n) = word.length
    val off = new Array[Int](n + 1)
    var i = 0
    var o = 0
    while (i < n) { off(i) = o; o = word.offsetByCodePoints(o, 1); i += 1 }
    off(n) = word.length
    val INF = Long.MaxValue / 4
    val cost = Array.fill(n + 1)(INF)
    val mask = Array.fill[java.math.BigInteger](n + 1)(null)
    val back = new Array[Int](n + 1)
    cost(0) = 0L
    mask(0) = java.math.BigInteger.ZERO
    var e = 1
    while (e <= n) {
      var s = math.max(0, e - maxPieceLen)
      while (s < e) {
        if (cost(s) < INF) {
          val piece = word.substring(off(s), off(e))
          val pc: Long =
            if (vocab.containsKey(piece)) vocab.get(piece)
            else if (e - s == 1) unkCost
            else -1L
          if (pc >= 0L) {
            // saturating add: a huge caller unkCost must not wrap past
            // INF and fake reachability (or overflow Long)
            val c = if (pc >= INF - cost(s)) INF else cost(s) + pc
            lazy val m =
              if (s == 0) mask(s) else mask(s).setBit(s - 1)
            if (c < INF && (c < cost(e) ||
                (c == cost(e) && m.compareTo(mask(e)) < 0))) {
              cost(e) = c
              mask(e) = m
              back(e) = s
            }
          }
        }
        s += 1
      }
      e += 1
    }
    // every state is reachable via the single-codepoint unk fallback,
    // so an INF final cost can only mean the costs themselves exceed
    // the representable range — fail loudly rather than backtrack
    // through uninitialized states (which would silently return the
    // whole word as one out-of-vocab piece)
    require(cost(n) < INF,
      s"unigram encodeWord: total cost for ${n}-codepoint word " +
        s"saturated at INF (unkCost/vocab costs too large — keep " +
        s"unkCost * wordLen below ${INF})")
    val buf = scala.collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) {
      val s = back(p)
      buf += word.substring(off(s), off(p))
      p = s
    }
    (buf.reverseIterator.toArray, cost(n))
  }

  /** Encode every doc against a fixed (piece → integer cost) vocab:
    * (id, n_words, n_pieces, total_cost, ug_tokens), `ug_tokens` the
    * flattened piece sequence in token order, `total_cost` the exact
    * Long sum of per-word Viterbi costs. Docs with no tokens are
    * EXCLUDED (the scoring-operator contract shared with the other two
    * tokenizer families). Duplicate pieces in `vocab` are rejected —
    * two costs for one piece make the objective ambiguous (the
    * duplicate-merge-rank lesson from BPE).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Long)], unkCost: Long = 1000000L): DataFrame = {
    require(vocab.nonEmpty, "unigram encode: empty vocab")
    require(vocab.forall(_._2 >= 0L) && unkCost >= 0L,
      "unigram encode: costs must be >= 0")
    require(vocab.map(_._1).distinct.size == vocab.size,
      "unigram encode: duplicate pieces in vocab")
    TopK.requireIntegral(docs, idCol, "UnigramTokenizer.encode")
    val spark = docs.sparkSession
    val bcast = spark.sparkContext.broadcast(vocab.toArray)
    val maxLen = vocab.map(p => p._1.codePointCount(0, p._1.length)).max
    val buk = unkCost
    val enc = udf(new (String => (Array[String], Long)) with Serializable {
      @transient private lazy val v = {
        val h = new java.util.HashMap[String, Long](bcast.value.length * 2 + 8)
        bcast.value.foreach { case (p, c) => h.put(p, c) }
        h
      }
      def apply(word: String): (Array[String], Long) =
        encodeWord(word, v, maxLen, buk)
    })
    // native tokenizer/hash kernels on the corpus side (bit-identical
    // to the HOF tokens + SQL md5 chain — NativeKernelParitySpec); the
    // Viterbi UDF still runs only over the distinct-word table
    val table = docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(col(textCol), 1)).as("word"))
      .distinct()
      .select(TextFunctions.md5Hash60(col("word")).as("wh"),
        enc(col("word")).as("__e"))
      .select(col("wh"), col("__e._1").as("pieces"),
        col("__e._2").as("wcost"))
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .ngramHashes(col(textCol), 1, distinct = false)))
      .select(col("id"), col("pos"), col("col").as("wh"))
      .join(table, Seq("wh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(struct(col("pos"), col("pieces"),
          col("wcost")))).as("__ps"))
      .select(col("id"), col("n_words"),
        flatten(col("__ps.pieces")).as("ug_tokens"),
        aggregate(col("__ps"), lit(0L).cast("long"),
          (acc, x) => acc + x("wcost")).as("total_cost"))
      .select(col("id"), col("n_words"),
        size(col("ug_tokens")).cast("long").as("n_pieces"),
        col("total_cost"), col("ug_tokens"))
  }

  /** Train a unigram vocabulary by hard (Viterbi) EM over the bounded
    * word-frequency table — Kudo 2018 §3.2's iterative estimate-and-
    * prune loop with the E-step's expectations hardened to the 1-best
    * segmentation (the standard cheap variant; the soft forward-
    * backward E-step changes counts, not the algorithm's shape).
    *
    * Recipe, all cluster work bounded:
    *   1. word table: top `maxTrainWords` (cnt DESC, word ASC) — one
    *      tokenize pass, one bounded TakeOrdered collect;
    *   2. seed: substring counts of length ≤ `maxPieceLen`, summed
    *      over word frequencies DISTRIBUTED (explode per-word
    *      substrings of the word-frequency table), top `seedSize`
    *      (weighted cnt DESC, piece ASC) + every single codepoint —
    *      the second and last bounded collect;
    *   3. `rounds` hard-EM iterations IN MEMORY: Viterbi-encode each
    *      table word under current integer costs (ties by cut mask —
    *      deterministic), re-count pieces weighted by word frequency,
    *      then prune multi-codepoint pieces to
    *      max(vocabSize, ⌈current · shrink⌉) by (cnt DESC, piece ASC);
    *      singles are never pruned (character coverage);
    *   4. final prune to `vocabSize` and cost assignment
    *      cost = round(−scale · ln((cnt+1)/(total+|pieces|))).
    *
    * Costs are integers, so a trained vocabulary feeds [[encode]]'s
    * bit-deterministic Viterbi directly. The trainer itself crosses
    * through `ln` (within-run deterministic; not oracle-replicable —
    * spec-verified against an in-memory reference instead, like the
    * streaming operators).
    */
  def trainUnigram(docs: DataFrame, textCol: String, vocabSize: Int,
      maxPieceLen: Int = 8, maxTrainWords: Int = 1 << 20,
      seedSize: Int = 1 << 18, rounds: Int = 4, shrink: Double = 0.75,
      scale: Double = 1e6): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    require(shrink > 0.0 && shrink <= 1.0, s"shrink in (0,1], got $shrink")
    val spark = docs.sparkSession
    val wf = BpeTokenizer.wordFrequencies(docs, textCol)
    val wordCnt = wf
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTrainWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // distributed seed-substring counting over the WORD table (bounded
    // rows × ≤ len·maxPieceLen substrings each), bounded TakeOrdered
    val seedDf = wf.selectExpr("word", "cnt",
      s"""explode(flatten(transform(sequence(1, length(word)), s ->
         |  transform(sequence(s, least(length(word), s + ${maxPieceLen - 1})),
         |    e -> substring(word, s, e - s + 1))))) AS piece""".stripMargin)
      .groupBy(col("piece"))
      .agg(sum(col("cnt")).as("wcnt"))
      .orderBy(col("wcnt").desc, col("piece").asc)
      .limit(seedSize)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val singles = scala.collection.mutable.LinkedHashSet.empty[String]
    wordCnt.foreach { case (w, _) =>
      var o = 0
      while (o < w.length) {
        val cp = w.codePointAt(o)
        singles += new String(Character.toChars(cp))
        o += Character.charCount(cp)
      }
    }
    // working counts: seed counts, singles guaranteed present
    var counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    seedDf.foreach { case (p, c) => counts(p) = c }
    singles.foreach(s => if (!counts.contains(s)) counts(s) = 1L)

    def costsOf(c: collection.Map[String, Long])
        : java.util.HashMap[String, Long] = {
      val total = math.max(1L, c.valuesIterator.sum)
      val m = new java.util.HashMap[String, Long](c.size * 2 + 8)
      c.foreach { case (p, k) =>
        m.put(p, math.round(
          -scale * math.log((k + 1.0) / (total.toDouble + c.size))))
      }
      m
    }
    var r = 0
    while (r < rounds) {
      val vm = costsOf(counts)
      val next = scala.collection.mutable.HashMap.empty[String, Long]
      wordCnt.foreach { case (w, c) =>
        val (pieces, _) = encodeWord(w, vm, maxPieceLen, Long.MaxValue / 8)
        pieces.foreach(p => next(p) = next.getOrElse(p, 0L) + c)
      }
      // prune multis; singles survive at their (possibly zero) count
      val multis = next.iterator
        .filter { case (p, _) => p.codePointCount(0, p.length) > 1 }
        .toArray
      val target = math.max(vocabSize - singles.size,
        if (r == rounds - 1) vocabSize - singles.size
        else math.ceil(multis.length * shrink).toInt)
      val kept = multis
        .sortBy { case (p, k) => (-k, p) }
        .take(math.max(0, target))
      counts = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      kept.foreach { case (p, k) => counts(p) = k }
      singles.foreach(s => counts(s) = next.getOrElse(s, 0L))
      r += 1
    }
    val total = math.max(1L, counts.valuesIterator.sum)
    val nP = counts.size
    import spark.implicits._
    counts.toSeq
      .map { case (p, k) => (p, k, math.round(
        -scale * math.log((k + 1.0) / (total.toDouble + nP)))) }
      .sortBy { case (p, k, _) => (-k, p) }
      .toDF("piece", "cnt", "cost")
  }
}
