package graft.operators

import java.util.{PriorityQueue => JPriorityQueue}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** BPE tokenizer TRAINING and encoding (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units" §3.2) — the
  * learned-merges complement of the one-step pair statistic
  * [[CorpusAnalysis.bpePairs]]. Reference: N/A (beyond the reference's
  * surface — LLM-pipeline brief).
  *
  * The scale design follows the paper's own observation: BPE trains on
  * the WORD-FREQUENCY table, not the corpus. One distributed corpus
  * pass builds (word, cnt); the top `maxTrainWords` rows of that table
  * (count DESC, word ASC — a deterministic `TakeOrdered`, bounded by
  * construction) come to the driver ONCE, and every merge iteration
  * runs in memory against incrementally-maintained pair statistics —
  * the same architecture production tokenizer trainers use, because
  * per-merge cluster round trips (one aggregation job per merge ×
  * 50k merges) would dominate training time at any scale. The corpus
  * is never touched again; encoding is likewise vocabulary-side
  * (encode the distinct words, then one hash join maps every corpus
  * token through the finished word → subwords table).
  *
  * `maxTrainWords` is the documented scale knob: at the default 2^20
  * the test corpora are far below the cap, so the learned table is
  * bit-identical to untruncated training (which the q_bpe_train /
  * q_bpe_encode DuckDB oracles replay as chained SQL stages); at
  * 100 TB the cap is the paper-sanctioned recipe — the pair mass of
  * words beyond the top million is negligible, and an uncapped
  * driver-side word table would be unbounded.
  *
  * Determinism: the winning pair tie-breaks (count DESC, left ASC,
  * right ASC) with strings compared as UTF-8 BYTES — the collation
  * Spark and DuckDB both use — NOT Java's UTF-16 `compareTo`, which
  * orders supplementary code points before U+E000..U+FFFF and would
  * diverge from the SQL oracles on astral-plane text. The greedy
  * rewrite merges left-to-right non-overlapping. Both rules are
  * engine-replicable, so the whole learned merge table (and therefore
  * every encoding) is bit-exact under the DuckDB oracle replay.
  */
object BpeTokenizer {

  /** End-of-word marker — a separate terminal symbol (the paper's
    * variant that lets merges distinguish word-final subwords).
    */
  val EndOfWord = "</w>"

  /** (word, cnt) from one tokenize pass — distinct-word-sized. */
  def wordFrequencies(docs: DataFrame, textCol: String): DataFrame = {
    // native tokenizer kernel — bit-identical to the interpreted
    // filter(split(trim)) HOF form (NativeKernelParitySpec)
    docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(col(textCol), 1)).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Code-point lexicographic ordering — identical to UTF-8 unsigned
    * byte order (Spark's and DuckDB's string collation) on every
    * well-formed string, and — unlike byte-wise comparison of
    * `getBytes(UTF_8)` output, which encodes each lone surrogate as
    * '?' and so collapses distinct strings — still a strict total
    * order in the presence of unpaired surrogate halves. Java's
    * `String.compareTo` compares UTF-16 code units and disagrees
    * above the BMP.
    */
  private[operators] def utf8Lt(a: String, b: String): Boolean = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return ca < cb
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    i >= a.length && j < b.length
  }

  /** One greedy left-to-right non-overlapping merge of the adjacent
    * pair (l, r) inside a symbol array — the paper's replacement rule
    * ([a,a,a,a] with (a,a) → [aa,aa], NOT [aa,a,a]); a fixed-order
    * fold, so engine-replicable. In-memory twin of the SQL `aggregate`
    * fold the oracles replay.
    */
  private[operators] def greedyMerge(
      syms: Array[String], l: String, r: String): Array[String] = {
    val out = new mutable.ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += (l + r); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Initial symbol sequence of a word: its CODE POINTS plus the
    * end-of-word marker — the split both oracle engines perform
    * (`substring(word, j, 1)` over `generate_series(1, len(word))`
    * counts code points in Spark and DuckDB alike), so astral-plane
    * words produce the same initial symbols on every side.
    */
  private[operators] def initialSyms(word: String): Array[String] = {
    val n = word.codePointCount(0, word.length)
    val out = new Array[String](n + 1)
    var i = 0
    var k = 0
    while (i < word.length) {
      val next = word.offsetByCodePoints(i, 1)
      out(k) = word.substring(i, next)
      i = next
      k += 1
    }
    out(n) = EndOfWord
    out
  }

  /** Heap key for merge selection: count DESC, then (l, r) ASC in
    * UTF-8 byte order. Entries are lazily invalidated — an entry is
    * authoritative only if its count still equals the live count.
    */
  private final case class PairEntry(l: String, r: String, cnt: Long)
  private val pairOrder = new java.util.Comparator[PairEntry] {
    def compare(a: PairEntry, b: PairEntry): Int = {
      if (a.cnt != b.cnt) return java.lang.Long.compare(b.cnt, a.cnt)
      if (a.l != b.l) return if (utf8Lt(a.l, b.l)) -1 else 1
      if (a.r != b.r) return if (utf8Lt(a.r, b.r)) -1 else 1
      0
    }
  }

  /** The trained merge table: (rank, left, right, cnt) for `numMerges`
    * iterations (fewer if the pair space exhausts first). One corpus
    * tokenize pass + ONE bounded driver collect of the top
    * `maxTrainWords` word frequencies; every merge iteration is
    * in-memory with incremental pair-count maintenance (only the
    * words containing the winning pair are rescanned), so training a
    * 50k-merge vocabulary costs 50k map updates, not 50k Spark jobs.
    */
  def trainBpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
      maxTrainWords: Int = 1 << 20): DataFrame = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(maxTrainWords >= 1,
      s"maxTrainWords must be >= 1, got $maxTrainWords")
    val spark = docs.sparkSession
    // Deterministic bounded cap: TakeOrdered (cnt DESC, word ASC) —
    // never a full-table collect.
    val wordCnt = wordFrequencies(docs, textCol)
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(maxTrainWords)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val merges = trainInMemory(wordCnt, numMerges)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r, c), i) => (i + 1, l, r, c) }
      .toSeq.toDF("rank", "left", "right", "cnt")
  }

  /** Incremental Sennrich trainer over a (word, cnt) table: pair
    * counts and a pair → containing-words index are maintained under
    * a lazy-invalidation max-heap; each merge rescans only the words
    * that contain the winning pair. Exposed package-private for the
    * parity spec.
    */
  private[operators] def trainInMemory(
      wordCnt: Array[(String, Long)],
      numMerges: Int): Vector[(String, String, Long)] = {
    val syms = wordCnt.map { case (w, _) => initialSyms(w) }
    val cnts = wordCnt.map(_._2)
    val pairCnt = mutable.HashMap.empty[(String, String), Long]
    // word indices whose CURRENT syms may contain the pair (lazily
    // stale after merges; re-verified against syms on use)
    val pairWords = mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    val heap = new JPriorityQueue[PairEntry](math.max(16, syms.length), pairOrder)

    def bump(p: (String, String), delta: Long): Unit = {
      val nv = pairCnt.getOrElse(p, 0L) + delta
      if (nv <= 0L) { pairCnt.remove(p); () }
      else { pairCnt(p) = nv; heap.add(PairEntry(p._1, p._2, nv)); () }
    }
    def index(p: (String, String), w: Int): Unit = {
      pairWords.getOrElseUpdate(p, mutable.Set.empty) += w; ()
    }

    var w = 0
    while (w < syms.length) {
      val s = syms(w)
      var i = 0
      while (i + 1 < s.length) {
        val p = (s(i), s(i + 1)); bump(p, cnts(w)); index(p, w); i += 1
      }
      w += 1
    }

    val out = Vector.newBuilder[(String, String, Long)]
    var made = 0
    var exhausted = false
    while (made < numMerges && !exhausted) {
      // pop to the first non-stale entry (its count matches the map)
      var top: PairEntry = null
      while (top == null && !heap.isEmpty) {
        val e = heap.poll()
        if (pairCnt.get((e.l, e.r)).contains(e.cnt)) top = e
      }
      if (top == null) exhausted = true
      else {
        val (l, r) = (top.l, top.r)
        out += ((l, r, top.cnt))
        made += 1
        val affected = pairWords.remove((l, r)).getOrElse(mutable.Set.empty)
        affected.toArray.sorted.foreach { wi =>
          val old = syms(wi)
          // stale index entry — the pair may have been merged away
          var has = false
          var i = 0
          while (!has && i + 1 < old.length) {
            has = old(i) == l && old(i + 1) == r; i += 1
          }
          if (has) {
            val nw = greedyMerge(old, l, r)
            syms(wi) = nw
            val c = cnts(wi)
            i = 0
            while (i + 1 < old.length) { bump((old(i), old(i + 1)), -c); i += 1 }
            i = 0
            while (i + 1 < nw.length) {
              val p = (nw(i), nw(i + 1)); bump(p, c); index(p, wi); i += 1
            }
          }
        }
        pairCnt.remove((l, r))
      }
    }
    out.result()
  }

  /** Sequential-equivalent single-word encode under a rank map:
    * applies exactly the merges a rank-1..n sequential sweep would —
    * ranks are processed in increasing order off a min-heap, a
    * popped rank is re-verified as present (an earlier merge may have
    * destroyed it), and after applying rank q only adjacencies with
    * rank > q are (re)pushed, so a pair whose rule predates the merge
    * that created it is skipped on both sides of the oracle. O(len ·
    * applied merges) per word instead of O(len · total merges) — the
    * property that makes a 50k-rule vocabulary encodable in one
    * narrow pass.
    */
  private[operators] def encodeWord(
      word: String,
      // values are the ASCENDING rank list of the pair: the same
      // (l, r) rule is legitimately learnable at TWO ranks — the pair,
      // fully merged away at the first, re-forms when a later merge
      // rebuilds one of its symbols via a different decomposition
      // (e.g. "abc" first made by (ab,c), made again by (a,bc)) — and
      // the sequential fold the oracle replays applies BOTH ranks, so
      // a single-rank map (first or last) would diverge
      rank: java.util.HashMap[(String, String), Array[Int]])
      : Array[String] = {
    var s = initialSyms(word)
    if (rank.isEmpty) return s
    val heap = new JPriorityQueue[Integer](8)
    // push every rank of the pair that is > q (ranks start at 1, so
    // q = 0 pushes all)
    def pushAbove(l: String, r: String, q: Int): Unit = {
      val rs = rank.get((l, r))
      if (rs ne null) {
        var i = 0
        while (i < rs.length) { if (rs(i) > q) heap.add(rs(i)); i += 1 }
      }
    }
    var i = 0
    while (i + 1 < s.length) { pushAbove(s(i), s(i + 1), 0); i += 1 }
    var last = -1
    while (!heap.isEmpty) {
      val q: Int = heap.poll()
      if (q != last) { // duplicate candidate entries collapse
        last = q
        // locate the rule for this rank by re-scanning adjacencies —
        // cheaper than a reverse map for short words. One greedy pass
        // removes every occurrence (the merged symbol l+r can never
        // itself re-form the pair), matching the one-fold-per-rank
        // SQL twin.
        var j = 0
        var found = -1
        while (found < 0 && j + 1 < s.length) {
          val rs = rank.get((s(j), s(j + 1)))
          if ((rs ne null) &&
              java.util.Arrays.binarySearch(rs, q) >= 0) found = j
          j += 1
        }
        if (found >= 0) {
          s = greedyMerge(s, s(found), s(found + 1))
          var k = 0
          while (k + 1 < s.length) { pushAbove(s(k), s(k + 1), q); k += 1 }
        }
      }
    }
    s
  }

  /** word → merged symbol array after applying `merges` in rank
    * order — the finished tokenizer's lookup table, built from any
    * corpus's distinct words. One broadcast of the (small,
    * vocab-sized) rank map + one narrow projection over the distinct
    * words; plan depth is constant in the number of merges (the old
    * fold-per-merge form was linear, which at 50k rules meant 50k
    * nested `aggregate` layers).
    */
  private def encodeWordTable(docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    val rankSeq = merges.zipWithIndex.map { case (p, i) => (p, i + 1) }
    val bcast = spark.sparkContext.broadcast(rankSeq)
    // UDF (not Expression): the per-word merge loop is genuinely
    // imperative (heap + rescan) and runs over the DISTINCT-WORD
    // table, never the corpus — the same justified-UDF category as
    // the geometry recursion. The rank map materializes lazily ONCE
    // per executor JVM off the broadcast, not per row.
    val encode = udf(new (String => Array[String]) with Serializable {
      @transient private lazy val m = {
        val h = new java.util.HashMap[(String, String), Array[Int]](
          bcast.value.size * 2 + 8)
        // rankSeq arrives rank-ascending (zipWithIndex), so each
        // pair's rank array stays sorted without an explicit sort;
        // duplicate-pair rules keep EVERY rank (see encodeWord)
        bcast.value.foreach { case (p, q) =>
          val old = h.get(p)
          h.put(p, if (old eq null) Array(q) else old :+ q)
        }
        h
      }
      def apply(word: String): Array[String] = encodeWord(word, m)
    })
    // native tokenizer kernel (bit-identical to the HOF form —
    // NativeKernelParitySpec); the UDF still runs only over the
    // DISTINCT-word table
    docs
      .select(explode(graft.expressions.TextHashExprs
        .ngramsNative(col(textCol), 1)).as("word"))
      .distinct()
      .select(col("word"), encode(col("word")).as("syms"))
  }

  /** Encode every doc with a learned merge list: (id, n_words,
    * n_subwords, bpe_tokens) where bpe_tokens is the flattened subword
    * sequence in token order. Vocabulary-side merging + ONE join: the
    * corpus tokens meet the word → subwords table on the 60-bit word
    * hash (8-byte keys; AQE broadcasts small vocabularies), then one
    * per-doc regroup keyed by the doc id restores order positionally.
    * Docs with no tokens are EXCLUDED (same contract as the scoring
    * operators).
    */
  def applyBpeMerges(docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    TopK.requireIntegral(docs, idCol, "applyBpeMerges")
    val table = encodeWordTable(docs, textCol, merges)
      .select(TextFunctions.md5Hash60(col("word")).as("wh"), col("syms"))
    // corpus tokens arrive pre-hashed from the native kernel — the
    // token strings never enter the corpus-side pipeline (the join key
    // is the same 60-bit md5 the SQL chain computed, parity-pinned)
    docs
      .select(col(idCol).cast("long").as("id"),
        posexplode(graft.expressions.TextHashExprs
          .ngramHashes(col(textCol), 1, distinct = false)))
      .select(col("id"), col("pos"), col("col").as("wh"))
      .join(table, Seq("wh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_words"),
        sort_array(collect_list(struct(col("pos"), col("syms")))).as("__ps"))
      .select(col("id"), col("n_words"),
        flatten(col("__ps.syms")).as("bpe_tokens"))
      .select(col("id"), col("n_words"),
        size(col("bpe_tokens")).cast("long").as("n_subwords"),
        col("bpe_tokens"))
  }
}
