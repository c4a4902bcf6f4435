package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{ProductQuantization => PQ, Similarity}

/** Specs for product quantization: encode correctness against a
  * hand-computed codebook, ADC distance exactness, degenerate-row
  * handling, and end-to-end recall against brute force on real
  * embeddings.
  */
class ProductQuantizationSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  // 4-dim vectors, m=2 subspaces of 2 dims; codebook centroids chosen
  // so assignments are unambiguous (except the planted tie)
  private val cb: PQ.Codebook = Array(
    Array(Array(0.0, 0.0), Array(10.0, 10.0)),
    Array(Array(0.0, 5.0), Array(5.0, 0.0)))

  private def vecs(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }

  test("encode: per-subspace argmin with (dist, cid) tie-break; nulls flagged") {
    val df = vecs(
      (1L, Seq(1.0, 1.0, 0.0, 4.0)),   // sub0 -> 0, sub1 -> 0
      (2L, Seq(9.0, 9.0, 4.0, 1.0)),   // sub0 -> 1, sub1 -> 1
      (3L, Seq(5.0, 5.0, 2.5, 2.5)),   // both ties -> cid 0 wins
      (4L, Seq(1.0, 2.0)),             // too short -> null code array
      (5L, null.asInstanceOf[Seq[Double]]),
      // too LONG: without the size guard every slice would be full and
      // the row would silently encode from its 4-dim prefix (scored by
      // adcTopK but dropped by ivfpqTopK's coarse quantizer — breaking
      // their pinned equivalence)
      (6L, Seq(1.0, 1.0, 0.0, 4.0, 7.0, 7.0)))
    val got = PQ.encode(df, "vec_id", "embedding", cb)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Any](1).toList)).toMap
    assert(got(1L) == List(0, 0), got.toString)
    assert(got(2L) == List(1, 1), got.toString)
    assert(got(3L) == List(0, 0), got.toString)
    assert(got(4L) == null, got.toString)
    assert(got(5L) == null, got.toString)
    assert(got(6L) == null, got.toString)
  }

  test("encode resolves eval_once in the frame's session, not the thread's active one") {
    val own = spark.newSession()
    val other = spark.newSession()
    val df = {
      import own.implicits._
      Seq((1L, Seq(1.0, 1.0, 0.0, 4.0))).toDF("vec_id", "embedding")
    }
    @volatile var got: scala.util.Try[Seq[Any]] = null
    val caller = new Thread(() => {
      SparkSession.setActiveSession(other)
      got = scala.util.Try(
        PQ.encode(df, "vec_id", "embedding", cb).collect().toSeq.map(_.getSeq[Any](1).toList))
    })
    caller.start(); caller.join()
    assert(got.get == Seq(List(0, 0)))
  }

  test("adcTopK: distances are exact table sums; self and degenerates excluded") {
    val df = vecs(
      (1L, Seq(1.0, 1.0, 0.0, 4.0)),
      (2L, Seq(9.0, 9.0, 4.0, 1.0)),
      (3L, Seq(0.0, 0.0, 0.0, 5.0)),
      (4L, Seq(1.0, 2.0)),                      // too short: never scored
      (5L, Seq(1.0, 1.0, 0.0, 4.0, 7.0, 7.0))) // too long: never scored
    val queries = vecs((1L, Seq(1.0, 1.0, 0.0, 4.0)))
    val got = PQ.adcTopK(df, queries, "vec_id", "embedding", 3, cb)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    // query 1 encodes (0,0): table dists vs each centroid are exact
    //   sub0: q=(1,1): d(c0)=2, d(c1)=162; sub1: q=(0,4): d(c0)=1, d(c1)=41
    // doc 2 codes (1,1) -> 162+41=203; doc 3 codes (0,0) -> 2+1=3
    assert(got.map(_._2).toSeq == Seq(3L, 2L), got.toSeq.toString)
    assert(got.map(_._3).toSeq == Seq(3.0, 203.0), got.toSeq.toString)
    assert(!got.exists(_._2 == 1L) && !got.exists(_._2 == 4L) &&
      !got.exists(_._2 == 5L))
  }

  test("codebook guards: ragged shape, k > corpus, indivisible dim") {
    val df = vecs((1L, Seq(1.0, 2.0, 3.0, 4.0)))
    intercept[IllegalArgumentException] {
      PQ.encode(df, "vec_id", "embedding",
        Array(Array(Array(1.0)), Array(Array(1.0, 2.0))))
    }
    intercept[IllegalArgumentException] {
      PQ.sampledCodebook(df, "vec_id", "embedding", m = 2, k = 5)
    }
    intercept[IllegalArgumentException] {
      PQ.sampledCodebook(df, "vec_id", "embedding", m = 3, k = 1)
    }
  }

  test("ivfpqTopK: nprobe = all lists reproduces adcTopK; pruning only narrows") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1000).cast("long")).as("embedding"))
    val cbq = PQ.sampledCodebook(emb, "vec_id", "embedding", m = 8, k = 8)
    val cents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).map(_.toDouble).toArray))
    val queries = emb.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(x => (x._1, x._2)).toSeq
    // probing every inverted list = no pruning = exactly the flat ADC scan
    val full = rows(PQ.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
      cbq, nprobe = 4, coarse = cents))
    val flat = rows(PQ.adcTopK(emb, queries, "vec_id", "embedding", 5, cbq))
    assert(full == flat)
    // partial probes return a subset of lists: every result must come
    // from a probed list, and per-query candidates can only shrink
    val pruned = PQ.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
      cbq, nprobe = 1, coarse = cents)
    assert(pruned.count() <= 25 && pruned.count() > 0)
    // plan: the index build (cid + codes) is ONE narrow projection —
    // the candidate join is a broadcast HASH join on the list id,
    // never a sort-merge (which would mean the corpus shuffled)
    val plan = PQ.ivfpqTopK(emb, queries, "vec_id", "embedding", 5,
      cbq, nprobe = 2, coarse = cents)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("recall on real embeddings: planted near-copies recovered at rank 1") {
    // PQ is lossy, but a near-identical copy encodes to the SAME codes
    // as its base → ADC distance 0 → rank 1
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(1e-4f)).otherwise(x)).as("embedding"))
    val corpus = emb.unionByName(planted)
    val cbf = PQ.fitCodebook(corpus, "vec_id", "embedding", m = 8, k = 8)
    val got = PQ.adcTopK(corpus, planted, "vec_id", "embedding", 1, cbf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    for (q <- 0L until 5L)
      assert(got(q + 100000L) == q, s"query ${q + 100000L}: $got")

    // aggregate recall vs brute force: random synthetic embeddings are
    // the WORST case for PQ (no cluster structure, neighbors weakly
    // separated), so the pin is (a) recall rises with codebook
    // resolution — the knob a user reaches for — and (b) the finer
    // codebook stays far above chance (5/505 ≈ 0.01)
    val queries = emb.filter(col("vec_id") < 20)
    def recallWith(k: Int, iters: Int): Double = {
      val c = PQ.fitCodebook(corpus, "vec_id", "embedding", m = 8, k = k,
        iters = iters)
      val pq = PQ.adcTopK(corpus, queries, "vec_id", "embedding", 5, c)
        .select(col("query_id"), col("neighbor_id"))
      val truth = Similarity.bruteForceTopK(corpus, queries, "vec_id",
        "embedding", 5).select(col("query_id"), col("neighbor_id"))
      truth.join(pq, Seq("query_id", "neighbor_id")).count().toDouble /
        truth.count()
    }
    val coarse = recallWith(8, 3)
    val fine = recallWith(64, 5)
    assert(fine > coarse, s"finer codebook did not help: $coarse -> $fine")
    assert(fine >= 0.3, s"PQ recall collapsed: $fine")
  }
}
