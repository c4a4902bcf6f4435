package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{BpeTokenizer, TokenizerArtifacts, UnigramTokenizer, WordPieceTokenizer}

/** The persisted train-once/encode-many lifecycle: artifact-routed
  * encoding must be BIT-IDENTICAL to in-memory encoding for all three
  * tokenizer families, and every corrupt-artifact mode (missing
  * sidecar, family mismatch, truncated table) must fail loudly.
  */
class TokenizerArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def tmp(prefix: String): String =
    Fixtures.scratchDir(prefix).toString

  private def corpus: DataFrame = docsDf(
    1L -> "low lower lowest newer newest wide widest",
    2L -> "low low lower new newer newest",
    3L -> "the newest widest lowest low",
    4L -> "ユニコード terms with 𝔘nicode astral text",
    5L -> "")

  private def collected(df: DataFrame): Seq[String] =
    df.orderBy(df.columns.map(col): _*).collect().map(_.toString).toSeq

  test("BPE: write -> load round-trips the merge list; artifact " +
      "encode is bit-identical to in-memory encode") {
    val dir = tmp("graft-tok-bpe")
    val merges = BpeTokenizer.trainBpeMerges(corpus, "text", numMerges = 10)
    val inMem = merges.orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    TokenizerArtifacts.writeBpe(merges, dir)
    val loaded = TokenizerArtifacts.loadBpeMerges(spark, dir)
    assert(loaded == inMem)
    val direct = BpeTokenizer.applyBpeMerges(corpus, "doc_id", "text", inMem)
    val viaArt = TokenizerArtifacts.encodeWithBpe(corpus, "doc_id",
      "text", dir)
    assert(collected(direct) == collected(viaArt))
  }

  test("WordPiece: vocab order and unk round-trip; artifact encode " +
      "identical; custom unk is preserved in the artifact") {
    val dir = tmp("graft-tok-wp")
    val vocab = Seq("low", "##er", "##est", "new", "wide", "l", "##o",
      "##w", "t", "##h", "##e")
    TokenizerArtifacts.writeWordPiece(spark, vocab, dir, unk = "<unk\"x>")
    val (lv, lu) = TokenizerArtifacts.loadWordPiece(spark, dir)
    assert(lv == vocab && lu == "<unk\"x>") // escaping round-trips too
    val direct = WordPieceTokenizer.encode(corpus, "doc_id", "text",
      vocab, "<unk\"x>")
    val viaArt = TokenizerArtifacts.encodeWithWordPiece(corpus,
      "doc_id", "text", dir)
    assert(collected(direct) == collected(viaArt))
    // the custom unk actually appears for uncovered words
    assert(viaArt.select(array_contains(col("wp_tokens"), "<unk\"x>")
      .as("u")).filter(col("u")).count() > 0)
  }

  test("Unigram: (piece, cost) order and unkCost round-trip; artifact " +
      "encode identical including total_cost") {
    val dir = tmp("graft-tok-ug")
    val vocab = Seq("low" -> 10L, "er" -> 12L, "est" -> 11L, "new" -> 9L,
      "wide" -> 14L, "l" -> 30L, "o" -> 31L, "w" -> 32L, "e" -> 33L,
      "r" -> 34L, "s" -> 35L, "t" -> 36L, "n" -> 37L)
    TokenizerArtifacts.writeUnigram(spark, vocab, dir, unkCost = 77L)
    val (lv, lc) = TokenizerArtifacts.loadUnigram(spark, dir)
    assert(lv == vocab && lc == 77L)
    val direct = UnigramTokenizer.encode(corpus, "doc_id", "text",
      vocab, 77L)
    val viaArt = TokenizerArtifacts.encodeWithUnigram(corpus,
      "doc_id", "text", dir)
    assert(collected(direct) == collected(viaArt))
  }

  test("trainUnigram output feeds writeUnigram directly") {
    val dir = tmp("graft-tok-ugt")
    import spark.implicits._
    val docs = (1 to 100).map(i => (i.toLong, "abab cdecde abcde"))
      .toDF("doc_id", "text")
    val trained = UnigramTokenizer.trainUnigram(docs, "text",
      vocabSize = 8, maxPieceLen = 3, rounds = 2)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq
    TokenizerArtifacts.writeUnigram(spark, trained, dir)
    assert(TokenizerArtifacts.loadUnigram(spark, dir)._1 == trained)
  }

  test("fail-loud: missing sidecar (uncommitted write), family " +
      "mismatch, and truncated table are all rejected") {
    // 1. no sidecar: a table alone is not an artifact
    val dir1 = tmp("graft-tok-nosc")
    import spark.implicits._
    Seq((0, "x")).toDF("pos", "piece")
      .write.parquet(s"$dir1/table")
    val e1 = intercept[IllegalArgumentException] {
      TokenizerArtifacts.loadWordPiece(spark, dir1)
    }
    assert(e1.getMessage.contains("_graft_tokenizer_params"),
      e1.getMessage)
    // 2. family mismatch: a BPE artifact refuses the WordPiece loader
    val dir2 = tmp("graft-tok-fam")
    TokenizerArtifacts.writeBpe(
      BpeTokenizer.trainBpeMerges(corpus, "text", numMerges = 2), dir2)
    val e2 = intercept[IllegalArgumentException] {
      TokenizerArtifacts.loadWordPiece(spark, dir2)
    }
    assert(e2.getMessage.contains("family"), e2.getMessage)
    // 3. row-count mismatch: extra rows appended behind the sidecar's
    // back (or a lost part file) must not silently change the vocab
    val dir3 = tmp("graft-tok-trunc")
    TokenizerArtifacts.writeWordPiece(spark, Seq("a", "b"), dir3)
    Seq((2, "c")).toDF("pos", "piece")
      .write.mode("append").parquet(s"$dir3/table")
    val e3 = intercept[IllegalArgumentException] {
      TokenizerArtifacts.loadWordPiece(spark, dir3)
    }
    assert(e3.getMessage.contains("corrupt"), e3.getMessage)
  }

  test("overwrite crash safety: a crash between table write and " +
      "sidecar write during a RE-write leaves no sidecar, so loads " +
      "fail loudly even when the retrained vocab has the same size") {
    val dir = tmp("graft-tok-crash")
    val merges = BpeTokenizer.trainBpeMerges(corpus, "text",
      numMerges = 5)
    TokenizerArtifacts.writeBpe(merges, dir)
    assert(TokenizerArtifacts.loadBpeMerges(spark, dir).size == 5)
    // retrain on different data -> same merge COUNT (the case where a
    // stale sidecar's row-count backstop would pass coincidentally)
    val merges2 = BpeTokenizer.trainBpeMerges(
      docsDf(1L -> "aaa bbb ccc ddd eee fff ggg aaa bbb ccc"),
      "text", numMerges = 5)
    intercept[IllegalStateException] {
      TokenizerArtifacts.writeBpeImpl(merges2, dir,
        crashAfterTableWriteForTest = true)
    }
    // the old sidecar was deleted up front: the half-committed
    // artifact is rejected outright, never read under stale params
    val e = intercept[IllegalArgumentException] {
      TokenizerArtifacts.loadBpeMerges(spark, dir)
    }
    assert(e.getMessage.contains("_graft_tokenizer_params"),
      e.getMessage)
    // a clean re-write recovers the artifact
    TokenizerArtifacts.writeBpe(merges2, dir)
    assert(TokenizerArtifacts.loadBpeMerges(spark, dir).size == 5)
  }

  test("writeBpe executes the caller's training plan exactly once: " +
      "the sidecar row count comes from the written parquet, not a " +
      "re-run of the input plan") {
    val dir = tmp("graft-tok-once")
    val evals = spark.sparkContext.longAccumulator("merge-plan-evals")
    val tick = udf { (r: Int) => evals.add(1L); r }
    import spark.implicits._
    val merges = Seq((0, "a", "b", 3L), (1, "ab", "c", 2L))
      .toDF("rank", "left", "right", "cnt")
      .withColumn("rank", tick(col("rank")))
    TokenizerArtifacts.writeBpe(merges, dir)
    // pre-fix this was 4 (write + d.count() re-executing the plan)
    assert(evals.value == 2L,
      s"input plan evaluated ${evals.value} row-times, expected 2")
    assert(TokenizerArtifacts.loadBpeMerges(spark, dir) ==
      Seq(("a", "b"), ("ab", "c")))
  }
}
