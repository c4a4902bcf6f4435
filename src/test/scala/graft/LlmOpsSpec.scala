package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.{TdeiDate, TextFunctions}
import graft.operators.{Dedup, Similarity}

/** Specs for the training-data-pipeline operators: text analysis, dedup
  * (exact / MinHash-LSH / SimHash), similarity search, date functions.
  * Plans are asserted cartesian-free where the contract demands it.
  */
class LlmOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  import org.apache.spark.sql.Row
  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private val sf = "/root/testdata/sf0.001"

  // ---- text functions ---------------------------------------------------

  test("tokens / tokenCount handle whitespace and empties") {
    val df = docsDf((1L, "a  b\tc"), (2L, "   "), (3L, ""), (4L, "one"))
    val got = df.select(col("doc_id"), TextFunctions.tokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 3, 2L -> 0, 3L -> 0, 4L -> 1))
  }

  test("ngrams windows and short-text behavior") {
    val df = docsDf((1L, "a b c d"), (2L, "a b"))
    val got = df.select(col("doc_id"), TextFunctions.ngrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq.empty)
  }

  test("stopwordRatio / punctRatio / meanTokenLen / qualityScore") {
    val df = docsDf((1L, "the cat and the hat"))
    val r = df.select(
      TextFunctions.stopwordRatio(col("text")).as("sw"),
      TextFunctions.punctRatio(col("text")).as("p"),
      TextFunctions.meanTokenLen(col("text")).as("m"),
      TextFunctions.qualityScore(col("text")).as("q")).collect()(0)
    assert(math.abs(r.getDouble(0) - 0.6) < 1e-9) // the, and, the of 5
    assert(r.getDouble(1) == 0.0)
    assert(math.abs(r.getDouble(2) - 3.0) < 1e-9)
    assert(r.getDouble(3) > 0 && r.getDouble(3) <= 1.0)
  }

  test("fingerprint is whitespace/case canonical") {
    val df = docsDf((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
    val fps = df.select(TextFunctions.fingerprint(col("text"))).collect().map(_.getString(0))
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("langId: zh by script, others by markers") {
    val df = docsDf(
      (1L, "the quick fox is with the dog"),
      (2L, "el perro y la casa es de los gatos"),
      (3L, "der hund und die katze ist mit"),
      (4L, "le chat est avec les chiens et"),
      (5L, "数据 处理 系统"))
    val got = df.select(col("doc_id"), TextFunctions.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "fr", 5L -> "zh"))
  }

  // ---- dedup ------------------------------------------------------------

  test("exactGroups / exactDedup collapse canonical duplicates") {
    val df = docsDf((1L, "same text here"), (2L, "SAME  text here"),
      (3L, "different"), (4L, "same text here"))
    val groups = Dedup.exactGroups(df, "doc_id", "text")
      .filter(col("dup_count") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("dup_count") == 3)
    assert(groups(0).getAs[Long]("keeper_id") == 1)
    val kept = Dedup.exactDedup(df, "doc_id", "text").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("mergeCorpora: highest-priority source wins cross-source dups") {
    val curated = docsDf((1L, "x"), (3L, "x"), (2L, "y"))
    val crawlA = docsDf((10L, "x "), (11L, "z"), (12L, "y"))
    val crawlB = docsDf((20L, "w"), (21L, "X"))
    val got = Dedup.mergeCorpora(Seq(curated, crawlA, crawlB),
      "doc_id", "text")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getString(2))).toSet
    // "x" (canonically equal to "x ", "X"): curated id 1 beats curated
    // id 3 beats both crawls; "y": curated; "z"/"w": only owners
    assert(got == Set((0, 1L, "x"), (0, 2L, "y"), (1, 11L, "z"),
      (2, 20L, "w")), got.toString)
    // single source degrades to exactDedup's keeper rule
    val single = Dedup.mergeCorpora(Seq(curated), "doc_id", "text")
      .collect().map(_.getLong(1)).sorted
    assert(single.toSeq == Seq(1L, 2L))
  }

  test("snapshotDelta: added/removed/changed/unchanged by id + fingerprint") {
    val old = docsDf((1L, "same text"), (2L, "will change"),
      (3L, "goes away"), (5L, null.asInstanceOf[String]))
    val cur = docsDf((1L, "same  TEXT "), // canonically equal → unchanged
      (2L, "has changed"),
      (4L, "brand new"),
      (5L, null.asInstanceOf[String])) // null on both sides → unchanged
    val got = Dedup.snapshotDelta(old, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "added", 5L -> "unchanged"), got.toString)
    val rep = Dedup.snapshotDeltaReport(
      Dedup.snapshotDelta(old, cur, "doc_id", "text")).collect()(0)
    assert((rep.getLong(0), rep.getLong(1), rep.getLong(2),
      rep.getLong(3)) == ((1L, 1L, 1L, 2L)), rep.toString)
    // null → non-null text on a present id is a change, not unchanged
    val cur2 = docsDf((5L, "now present"))
    val got2 = Dedup.snapshotDelta(old.filter(col("doc_id") === 5), cur2,
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1))
    assert(got2.toSeq == Seq(5L -> "changed"), got2.toString)
  }

  private def withNearDups(): DataFrame = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // plant near-duplicates: copies of 3 docs with one appended token
    val dups = docs.filter(col("doc_id") < 3)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    docs.unionByName(dups)
  }

  test("minHashNearDupPairs finds planted near-dups, no cartesian in plan") {
    val df = withNearDups()
    val pairs = Dedup.minHashNearDupPairs(df, "doc_id", "text", threshold = 0.8)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), "plan must not contain a cartesian product")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 10000L), (1L, 10001L), (2L, 10002L)).subsetOf(got))
    // planted pairs have near-1 jaccard; verify values are sane
    pairs.collect().foreach(r => assert(r.getDouble(2) >= 0.8 && r.getDouble(2) <= 1.0))
  }

  test("bounded-collect dedup ops reject non-integral ids loudly") {
    // string ids would silently cast to null inside the bounded buckets
    // (null pairs then vanish in the a<b filters) — the guard turns the
    // empty-result trap into an immediate error
    import spark.implicits._
    val strDocs = Seq(("a", "some text here"), ("b", "other text"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      Dedup.minHashNearDupPairs(strDocs, "doc_id", "text"))
    assert(e.getMessage.contains("integral"))
    intercept[IllegalArgumentException](
      Dedup.simHashNearDupPairs(strDocs, "doc_id", "text"))
    val strVecs = Seq(("a", Array(1.0, 0.0))).toDF("doc_id", "v")
    intercept[IllegalArgumentException](
      Dedup.embeddingNearDupPairs(strVecs, "doc_id", "v"))
    intercept[IllegalArgumentException](
      Dedup.semanticDupPairs(strVecs, "doc_id", "v",
        centroids = Array((0, Array(1.0, 0.0)))))
    intercept[IllegalArgumentException](
      Dedup.incrementalNearDedup(strDocs, docsDf((1L, "x")), "doc_id", "text"))
  }

  test("incrementalDedup rejects sketch sizes above the session bloom caps") {
    val docs = docsDf((1L, "x"))
    val e = intercept[IllegalArgumentException](
      Dedup.incrementalDedup(docs, docs, "doc_id", "text",
        expectedItems = 5000000000L))
    assert(e.getMessage.contains("maxNumItems"))
  }

  test("minhash signature approximates jaccard") {
    val df = withNearDups()
    val sigs = Dedup.minHashSignatures(df, "doc_id", "text", 64)
      .filter(col("id").isin(0L, 10000L))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val agree = sigs(0L).zip(sigs(10000L)).count { case (a, b) => a == b } / 64.0
    assert(agree > 0.7) // planted pair is >0.9-similar
  }

  test("simHashNearDupPairs: identical docs at distance 0, plan keyed") {
    val df = docsDf(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "completely unrelated words entirely different tokens"))
    val pairs = Dedup.simHashNearDupPairs(df, "doc_id", "text", maxDistance = 3)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0L))
    assert(!got.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("bpeTokenCount: contractions, words, digits, punctuation runs") {
    val df = docsDf((1L, "don't stop"), (2L, "abc 123!?"), (3L, ""))
    val got = df.select(col("doc_id"),
      TextFunctions.bpeTokenCount(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // "don" + "'t" + " stop" = 3; "abc" + " 123" + "!?" = 3
    assert(got == Map(1L -> 3, 2L -> 3, 3L -> 0))
  }

  test("winnowing fingerprints: shared substrings produce common prints, overlap scalar") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = docsDf(
      (1L, base),
      (2L, base + " tail"),           // high overlap
      (3L, "completely different words entirely unrelated content here"))
    val fps = df.select(col("doc_id"),
      TextFunctions.winnowingFingerprints(col("text")).as("fp"))
    val got = fps.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L).nonEmpty && got(1L) == got(1L).sorted && got(1L).distinct == got(1L))
    assert((got(1L).toSet & got(2L).toSet).nonEmpty)
    val ov = fps.as("a").crossJoin(fps.as("b"))
      .filter(col("a.doc_id") === 1 && col("b.doc_id").isin(2L, 3L))
      .select(col("b.doc_id"),
        TextFunctions.fingerprintOverlap(col("a.fp"), col("b.fp")).as("o"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ov(2L) > 0.7, s"near-dup overlap ${ov(2L)}")
    assert(ov(3L) < 0.1, s"unrelated overlap ${ov(3L)}")
    // short text degenerates gracefully
    val short = docsDf((9L, "tiny")).select(
      TextFunctions.winnowingFingerprints(col("text"), k = 8, w = 4)).collect()
    assert(short(0).getSeq[Long](0).isEmpty)
  }

  test("embeddingNearDupPairs finds planted near-identical vectors") {
    val base = emb.select(col("vec_id"), col("embedding"))
    // plant: copies of 3 vectors with a tiny perturbation on one lane
    val planted = base.filter(col("vec_id") < 3)
      .select((col("vec_id") + 10000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding"))
    val pairs = Dedup.embeddingNearDupPairs(base.unionByName(planted),
      "vec_id", "embedding", threshold = 0.99)
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"))
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(Set((0L, 10000L), (1L, 10001L), (2L, 10002L)).subsetOf(got),
      s"missing planted pairs in $got")
    pairs.collect().foreach(r => assert(r.getDouble(2) >= 0.99))
  }

  test("ngramJaccard scalar") {
    val df = docsDf((1L, "a b c d e")).select(
      Dedup.ngramJaccard(col("text"), lit("a b c d x"), 3).as("j"))
    // shingles: {abc,bcd,cde} vs {abc,bcd,cdx}: inter 2, union 4
    assert(math.abs(df.collect()(0).getDouble(0) - 0.5) < 1e-9)
  }

  // ---- similarity -------------------------------------------------------

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("cosine matches a local computation") {
    val rows = emb.filter(col("vec_id") < 2)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    val local = {
      val a = rows(0L); val b = rows(1L)
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val sparkVal = emb.filter(col("vec_id") === 0).alias("a")
      .crossJoin(emb.filter(col("vec_id") === 1).alias("b"))
      .select(Similarity.cosine(col("a.embedding"), col("b.embedding"))).collect()(0).getDouble(0)
    assert(math.abs(sparkVal - local) < 1e-9)
  }

  test("bruteForceTopK is exact, deterministic, k rows per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val top = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
    val got = top.collect()
    assert(got.length == 15)
    got.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.toSeq == (1 to 5))
      val sims = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshBucketedTopK and ivfTopK achieve decent recall@5 vs brute force") {
    val queries = emb.filter(col("vec_id") < 20)
    def neighborSet(df: DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getAs[Long]("neighbor_id")).toSet
      }
    val brute = neighborSet(Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5))
    val lsh = neighborSet(Similarity.lshBucketedTopK(emb, queries, "vec_id", "embedding", 5))
    val ivf = neighborSet(Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 5))
    def recall(approx: Map[Long, Set[Long]]): Double =
      brute.map { case (q, t) =>
        approx.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
      }.sum / brute.size
    assert(recall(lsh) > 0.3, s"lsh recall ${recall(lsh)}")
    assert(recall(ivf) > 0.3, s"ivf recall ${recall(ivf)}")

    // integer-exact variant: same geometry on quantized vectors — its
    // recall vs the quantized brute force must hold up the same way
    val qemb = emb.select(col("vec_id"),
      transform(col("embedding"),
        x => round(x.cast("double") * 1000).cast("long")).as("embedding"))
    val qq = qemb.filter(col("vec_id") < 20)
    val bruteInt = neighborSet(
      Similarity.bruteForceTopK(qemb, qq, "vec_id", "embedding", 5))
    val lshInt = neighborSet(
      Similarity.lshBucketedTopKInt(qemb, qq, "vec_id", "embedding", 5))
    val recallInt = bruteInt.map { case (q, t) =>
      lshInt.get(q).map(a => (a & t).size.toDouble / t.size).getOrElse(0.0)
    }.sum / bruteInt.size
    assert(recallInt > 0.3, s"lsh-int recall $recallInt")
  }

  // ---- dates ------------------------------------------------------------

  test("auto-sized LSH planes rescue the fixed-geometry collapse; dropped buckets observable") {
    val n = 20000
    // pmod, not % — a signed remainder would center components at -1
    // (one orthant), collapsing the hyperplane signs into a few
    // degenerate buckets regardless of geometry
    def comp(j: Int): org.apache.spark.sql.Column =
      pmod(xxhash64(col("id").cast("string"), lit(j)), lit(1000L))
        .cast("double") / 500.0 - 1.0
    val base = spark.range(n).select(col("id"),
      array((0 until 8).map(comp): _*).as("v"))
    val planted = base.filter(col("id") < 50)
      .select((col("id") + 100000L).as("id"), col("v"))
    val df = base.unionByName(planted)

    // the trap the old fixed default set: 6 planes = 64 buckets/table
    // for 20k vectors → ~312 members per bucket, nearly all over the
    // 100 cap → nearly every planted pair silently lost (at 1M vectors
    // the collapse is total — ScaleSmoke pins that case)
    val fixed = Dedup.embeddingNearDupPairs(df, "id", "v",
      threshold = 0.9999, planes = 6, maxBucket = 100)
    // collect(), not count(): count() runs a separate counting query,
    // and the observation rides the frame's OWN execution
    assert(fixed.collect().length < 25,
      "expected the fixed geometry to lose most planted pairs")
    // ... but no longer silently: the observation distinguishes "no
    // near-dups" from "my near-dups sat in dropped buckets"
    val fixedStats = Dedup.bucketStats(fixed)
    assert(fixedStats.nonEmpty && fixedStats.head.bucketsDropped > 0,
      fixedStats.toString)

    // auto geometry (planes ≈ log2(n/target) = 10 here): nearly every
    // planted pair recovered (8-dim LSH cells are long-tailed, so a
    // couple of buckets can still top the cap — and the observation
    // reports them; the 1M total-collapse case is ScaleSmoke's)
    val auto = Dedup.embeddingNearDupPairs(df, "id", "v",
      threshold = 0.9999, maxBucket = 100)
    val got = auto.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plantedPairs = (0L until 50L).map(i => (i, i + 100000L)).toSet
    val found = (plantedPairs & got).size
    assert(found >= 45, s"auto geometry found only $found of 50 planted pairs")
    val autoStats = Dedup.bucketStats(auto)
    assert(autoStats.nonEmpty &&
      autoStats.head.bucketsTotal > fixedStats.head.bucketsTotal,
      s"auto=$autoStats fixed=$fixedStats")
  }

  test("recallAtK: exact on planted partners, exposes an oversized-geometry collapse") {
    val n = 20000
    // 64-dim so 20k RANDOM vectors stay well-separated (max random
    // cosine ≈ 0.5) while the planted partner sits at cosine ≈ 0.89 —
    // unambiguous top-1 truth, but far enough to make plane count
    // matter
    def comp(j: Int, salt: String): org.apache.spark.sql.Column =
      pmod(xxhash64(col("id").cast("string"), lit(j), lit(salt)), lit(1000L))
        .cast("double") / 500.0 - 1.0
    val base = spark.range(n).select(col("id"),
      array((0 until 64).map(j => comp(j, "b")): _*).as("v"))
    // partners are NEAR-duplicates (every component jittered by ±0.5
    // uniform — per-plane sign-flip probability ≈ 0.15), not exact
    // copies: exactly the regime where plane count trades recall
    // against bucket size and multi-probe stops bailing the geometry
    // out
    val planted = base.filter(col("id") < 50)
      .select((col("id") + 100000L).as("id"),
        array((0 until 64).map(j =>
          element_at(col("v"), j + 1) + comp(j, "d") * 0.5): _*).as("v"))
    val df = base.unionByName(planted)
    val queries = df.filter(col("id") >= 100000L)
    def recallOf(planes: Int): Double = {
      val approx = Similarity.lshBucketedTopK(df, queries, "id", "v",
        k = 1, planes = planes)
      val rep = Similarity.recallReport(
        Similarity.recallAtK(df, queries, "id", "v", 1, approx)).collect()(0)
      assert(rep.getLong(0) == 50, s"expected 50 queries, got $rep")
      rep.getDouble(2)
    }
    // auto geometry (planes=0 → ~log2(20k/64) ≈ 9): near-total recall
    // of the planted top-1 partners at bucket sizes a capped consumer
    // tolerates (the capped-generator side of the same trade is pinned
    // by the auto-vs-fixed embeddingNearDupPairs test above — fixed-6
    // buckets hold ~312 members there and get dropped wholesale)
    val auto = recallOf(0)
    assert(auto >= 0.9, s"auto-geometry recall $auto")
    // the OTHER failure mode recall monitoring exists to catch: a
    // too-fine 24-plane geometry (16M buckets for 20k vectors)
    // scatters near-dup partners across buckets and recall collapses —
    // wall time looks great, the index is useless; only a recall
    // report sees it
    val oversized = recallOf(24)
    assert(oversized < auto, s"oversized=$oversized auto=$auto")
    assert(oversized <= 0.6, s"expected a recall collapse, got $oversized")
  }

  test("semanticDupPairsJoin matches the kernel-assignment path exactly") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val planted = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding"))
    // degenerate vectors — whole-null, wrong-dim, null-element — must
    // yield no pairs on EITHER path (kernel: null result → null
    // cluster, verification discards; join: null distances filtered
    // before assignment) and must not pollute a real cluster or push
    // one over maxCluster
    val withNull = emb.unionByName(planted)
      .unionByName(emb.limit(1).select(lit(200000L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .unionByName(emb.limit(1).select(lit(200001L).as("vec_id"),
        array(lit(1.0f), lit(2.0f)).as("embedding")))
      .unionByName(emb.limit(1).select(lit(200002L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          when(i === 0, lit(null).cast("float")).otherwise(x)).as("embedding")))
    val df = withNull
    val cents = emb.filter(col("vec_id") < 4).orderBy(col("vec_id")).collect()
      .map(r => (r.getLong(0).toInt,
        r.getSeq[Float](1).map(_.toDouble).toArray))
    def pairSet(p: org.apache.spark.sql.DataFrame) =
      p.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaKernel = pairSet(Dedup.semanticDupPairs(df, "vec_id", "embedding",
      threshold = 0.99, centroids = cents))
    val centsDf = cents.toSeq.map { case (cid, cv) => (cid, cv.toSeq) }
      .toDF("cid", "cv")
    val viaJoin = pairSet(Dedup.semanticDupPairsJoin(df, "vec_id", "embedding",
      centsDf, threshold = 0.99))
    assert(viaKernel.nonEmpty && viaKernel == viaJoin)
    assert(!viaJoin.exists(p => p._1 >= 200000L || p._2 >= 200000L))
    assert(!viaKernel.exists(p => p._1 >= 200000L || p._2 >= 200000L))
    // an empty centroid set fails loudly on both paths
    intercept[IllegalArgumentException](Dedup.semanticDupPairsJoin(
      df, "vec_id", "embedding", centsDf.limit(0), threshold = 0.99))
  }

  test("kmeansCentroidsDistributed recovers planted clusters") {
    import spark.implicits._
    val centers = Seq(Array(10.0, 0.0, 0.0), Array(0.0, 10.0, 0.0),
      Array(0.0, 0.0, 10.0))
    // 300 vectors, 100 per center, deterministic small jitter
    val rows = (0L until 300L).map { i =>
      val c = centers((i % 3).toInt)
      (i, c.map(x => x + (i % 7) * 0.01).toSeq)
    }
    // degenerate rows at LOW ids — the init window — must not poison
    // the fit: a null vector, a null-element vector, and a WRONG-DIM
    // vector (2 elements; would previously become an init centroid and
    // crash the kernel's shape require) are all filtered; the fit runs
    // on the clean 300
    val dirty = Seq[(Long, Seq[java.lang.Double])](
      (-3L, null),
      (-2L, Seq[java.lang.Double](1.0, null, 3.0)),
      (-1L, Seq[java.lang.Double](1.0, 2.0)))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    val df = rows.toDF("id", "v")
    val cents = Similarity.kmeansCentroidsDistributed(
      df.unionByName(dirty), "id", "v", 3, iters = 5)
    assert(cents.length == 3 && cents.forall(_._2.length == 3))
    // every planted vector must assign to the one centroid near its
    // center — three residue classes, three distinct cluster ids
    val assigned = df.select(col("id"),
      element_at(graft.expressions.VectorHashExprs.nearestCentroidsNative(
        col("v"), cents, 1), 1)("cid").as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1))
    val byCenter = assigned.groupBy(_._1 % 3)
      .map { case (m, xs) => m -> xs.map(_._2).toSet }
    assert(byCenter.values.forall(_.size == 1), byCenter.toString)
    assert(byCenter.values.flatten.toSet.size == 3, byCenter.toString)
  }

  test("topKPerQuery rejects non-integral ids; lsh guards degenerate corpora") {
    import spark.implicits._
    val bad = Seq((1L, "x", 0.5)).toDF("query_id", "neighbor_id", "sim")
    val e = intercept[IllegalArgumentException] {
      graft.operators.TopK.topKPerQuery(bad, 5)
    }
    assert(e.getMessage.contains("integral 'neighbor_id'"))
    // byte/short ids are accepted and widened to long (regression: the
    // old name-list check rejected them)
    val short = Seq((1L, 7.toShort, 0.5)).toDF("query_id", "neighbor_id", "sim")
    val ok = graft.operators.TopK.topKPerQuery(short, 5).collect()
    assert(ok.length == 1 && ok(0).getAs[Long]("neighbor_id") == 7L)
    val empty = spark.emptyDataset[(Long, Array[Float])]
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      Similarity.lshBucketedTopK(empty, empty, "vec_id", "embedding", 5)
    }
    assert(e2.getMessage.contains("empty corpus"))
  }

  test("TdeiDate.utc formats ISO-8601 with ms and Z; isValid") {
    import spark.implicits._
    val df = Seq("2024-01-02 03:04:05.678", "garbage").toDF("s")
    val got = df.select(TdeiDate.utcFromString(col("s")).as("iso"),
      TdeiDate.isValid(col("s")).as("v")).collect()
    assert(got(0).getString(0) == "2024-01-02T03:04:05.678Z")
    assert(got(0).getBoolean(1))
    assert(got(1).getString(0) == null && !got(1).getBoolean(1))
  }

  test("minHashNearDupPairs: maxBucket drops degenerate buckets (bounded collect)") {
    // 20 identical docs: every band bucket holds all 20
    val docs = docsDf((1L to 20L).map(i =>
      i -> "the same boilerplate text repeated in every document"): _*)
    val capped = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.8, maxBucket = 10)
    assert(capped.count() == 0, "oversized buckets must be dropped")
    val uncapped = Dedup.minHashNearDupPairs(docs, "doc_id", "text",
      threshold = 0.8, maxBucket = 25)
    assert(uncapped.count() == 20L * 19 / 2, "all pairs under the cap")
  }

  test("semanticDupPairs: k-means clusters scope the pairs, cosine verifies") {
    import spark.implicits._
    // 3 near-identical vectors per orthogonal direction; ids interleaved
    // so k-means init (first k by id) seeds one centroid per group
    val dim = 8
    val rows = for (g <- 0 until 3; j <- 0 until 3) yield {
      val v = Array.fill(dim)(0.001f * (j + 1))
      v(g * 2) = 1.0f
      (1L + g + 3L * j, v.toSeq)
    }
    val docs = rows.toDF("vec_id", "embedding")
    val pairs = Dedup.semanticDupPairs(docs, "vec_id", "embedding",
      threshold = 0.99, numCentroids = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exactly the 3 in-group pairs per group (ids g+1, g+4, g+7)
    val expected = (0 until 3).flatMap { g =>
      val ids = Seq(1L + g, 4L + g, 7L + g)
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(pairs == expected, s"got $pairs")
  }

  test("incrementalDedup: bloom pre-filter + anti-join equals plain anti-join") {
    val existing = docsDf(1L -> "alpha beta", 2L -> "gamma delta",
      3L -> "epsilon zeta")
    val snap = docsDf(
      10L -> "  ALPHA   beta ", // canonical dup of 1 → dropped
      11L -> "gamma delta",     // exact dup of 2 → dropped
      12L -> "brand new doc",   // kept
      13L -> "another new one") // kept
    val got = Dedup.incrementalDedup(snap, existing, "doc_id", "text")
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == Seq(12L, 13L))
    // the bloom stage must actually be in the plan (not silently a
    // plain anti-join), and the sketch aggregation feeds a scalar
    // subquery the probe folds to a constant
    val plan = got.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing:\n$plan")
    assert(plan.contains("bloom_filter_agg"), s"bloom build missing:\n$plan")
  }

  test("incrementalNearDedup: perturbed re-crawls drop, disjoint docs survive") {
    val existing = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine")
    val snap = docsDf(
      10L -> "alpha beta gamma delta epsilon zeta eta theta extra", // near-dup of 1
      11L -> "totally different words with no shared trigrams at all")
    val got = Dedup.incrementalNearDedup(snap, existing, "doc_id", "text",
      threshold = 0.8)
    assert(got.collect().map(_.getLong(0)).toSeq == Seq(11L))
    // empty corpus admits everything
    assert(Dedup.incrementalNearDedup(snap, docsDf(), "doc_id", "text")
      .count() == 2)
  }

  test("incrementalNearDedup cap semantics: snapshot multiplicity " +
      "cannot evict a corpus needle; strictBuckets fails loud on " +
      "over-cap CORPUS band buckets") {
    val needle = "alpha beta gamma delta epsilon zeta eta theta"
    val existing = docsDf(1L -> needle)
    // 10 snapshot copies of the needle, cap 3: the pre-r15 union fold
    // counted both sides (bucket size 11 > 3 -> all copies wrongly
    // admitted); the corpus-side-only fold matches every copy
    val snap = docsDf((100L until 110L).map(i => i -> needle): _*)
    val adm = Dedup.incrementalNearDedup(snap, existing, "doc_id",
      "text", maxBucket = 3).collect().map(_.getLong(0))
    assert(adm.isEmpty, s"needle evicted by snapshot multiplicity: " +
      adm.mkString(","))
    // over-cap CORPUS bucket (5 identical indexed docs, cap 3):
    // silent admit by default, loud under strictBuckets
    val bigCorpus = docsDf((1L to 5L).map(i => i -> needle): _*)
    val snap1 = docsDf(200L -> needle)
    val silent = Dedup.incrementalNearDedup(snap1, bigCorpus,
      "doc_id", "text", maxBucket = 3).collect().map(_.getLong(0))
    assert(silent.toSeq == Seq(200L))
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedup(snap1, bigCorpus, "doc_id", "text",
        maxBucket = 3, strictBuckets = true).collect()
    }
    assert(e.getMessage.contains("exceed maxBucket=3"), e.getMessage)
    val strictOk = Dedup.incrementalNearDedup(snap1, bigCorpus,
      "doc_id", "text", maxBucket = 5, strictBuckets = true)
      .collect().map(_.getLong(0))
    assert(strictOk.isEmpty, strictOk.mkString(","))
  }

  test("incrementalDedup: empty corpus admits the whole snapshot") {
    val existing = docsDf().limit(0)
    val snap = docsDf(1L -> "a", 2L -> "b")
    assert(Dedup.incrementalDedup(snap, existing, "doc_id", "text")
      .count() == 2)
  }

  test("near-dup index: indexed admissions equal the direct path; " +
      "params sidecar gates fail-loud") {
    val dir = Fixtures.scratchDir("graft-nd-index").toString
    val existing = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // snapshot: perturbed copies of existing docs + fresh docs
    val snap = existing.limit(40)
      .select((col("doc_id") + 100000L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
      .unionByName(docsDf(
        900001L -> "completely novel words never appearing elsewhere one",
        900002L -> "another disjoint document sharing no trigrams here"))
    Dedup.writeNearDupIndex(existing, "doc_id", "text", dir)
    val direct = Dedup.incrementalNearDedup(snap, existing,
      "doc_id", "text", threshold = 0.7)
      .collect().map(_.getLong(0)).sorted.toSeq
    val indexed = Dedup.incrementalNearDedupIndexed(snap,
      "doc_id", "text", dir, threshold = 0.7)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(direct == indexed, s"direct=$direct indexed=$indexed")
    assert(indexed.contains(900001L) && indexed.contains(900002L))
    assert(indexed.size < 42, "perturbed re-crawls must drop")
    // parameter mismatch and missing sidecar both fail loudly
    val eP = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedupIndexed(snap, "doc_id", "text", dir,
        numHashes = 32, bands = 16)
    }
    assert(eP.getMessage.contains("built"), eP.getMessage)
    val eM = intercept[IllegalArgumentException] {
      Dedup.incrementalNearDedupIndexed(snap, "doc_id", "text",
        dir + "/bands")
    }
    assert(eM.getMessage.contains("_graft_index_params"), eM.getMessage)
  }

  test("near-dup index append: admit -> append -> the next snapshot " +
      "dedups against corpus + admissions, identical to a rebuild") {
    val dir = Fixtures.scratchDir("graft-nd-append").toString
    val corpus = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta",
      2L -> "one two three four five six seven eight nine")
    val snap1 = docsDf(
      10L -> "fresh first admitted doc with several unique words here",
      11L -> "alpha beta gamma delta epsilon zeta eta theta tail") // drops
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)
    val admitted = Dedup.incrementalNearDedupIndexed(snap1,
      "doc_id", "text", dir)
    assert(admitted.collect().map(_.getLong(0)).toSeq == Seq(10L))
    Dedup.appendToNearDupIndex(admitted, "doc_id", "text", dir)
    // snap2: a re-crawl of the APPENDED doc 10 (must now drop) + fresh
    val snap2 = docsDf(
      20L -> "fresh first admitted doc with several unique words here too",
      21L -> "entirely new content nothing shared with anything else")
    val viaAppend = Dedup.incrementalNearDedupIndexed(snap2,
      "doc_id", "text", dir, threshold = 0.7)
      .collect().map(_.getLong(0)).toSeq
    assert(viaAppend == Seq(21L), viaAppend.toString)
    // equality with the direct path over corpus + admitted
    val direct = Dedup.incrementalNearDedup(snap2,
      corpus.unionByName(admitted), "doc_id", "text", threshold = 0.7)
      .collect().map(_.getLong(0)).toSeq
    assert(viaAppend == direct)
    // append under mismatched params fails loudly
    intercept[IllegalArgumentException] {
      Dedup.appendToNearDupIndex(admitted, "doc_id", "text", dir,
        numHashes = 32)
    }
  }

  test("near-dup index append is transactional: an uncommitted batch " +
      "(crash between the bands and grams writes) is invisible") {
    val dir = Fixtures.scratchDir("graft-nd-txn").toString
    val corpus = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)
    val committed = Dedup.incrementalNearDedupIndexed(
      docsDf(30L -> "alpha beta gamma delta epsilon zeta eta theta x"),
      "doc_id", "text", dir, threshold = 0.7).count()
    assert(committed == 0L) // re-crawl of doc 1 drops
    // simulate the crash: a batch directory holding ONLY bands (the
    // first of the two appended datasets), no _graft_committed marker.
    // Pre-fix, these bands rows produced candidate pairs that the inner
    // join to the missing grams side silently dropped; post-fix the
    // whole batch is invisible until committed.
    val orphan = docsDf(
      10L -> "totally distinct admitted words here nothing shared")
    import spark.implicits._
    Seq((10L, 0, 12345L), (10L, 1, 67890L))
      .toDF("id", "band", "band_sig")
      .write.parquet(s"$dir/batches/orphan-no-marker/bands")
    // admissions against the index are EXACTLY as before the orphan:
    // a near-copy of the orphan doc is still admitted (index does not
    // see the half-written batch)
    val snap = docsDf(
      20L -> "totally distinct admitted words here nothing shared too")
    val kept = Dedup.incrementalNearDedupIndexed(snap, "doc_id", "text",
      dir, threshold = 0.7).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(20L), s"uncommitted batch leaked: $kept")
    // a real append (both sides + marker) IS visible
    Dedup.appendToNearDupIndex(orphan, "doc_id", "text", dir)
    val kept2 = Dedup.incrementalNearDedupIndexed(snap, "doc_id", "text",
      dir, threshold = 0.7).count()
    assert(kept2 == 0L, "committed append must dedup the near-copy")
  }

  test("writeNearDupIndex rebuild clears stale append batches") {
    val dir = Fixtures.scratchDir("graft-nd-rebuild").toString
    val corpus = docsDf(
      1L -> "alpha beta gamma delta epsilon zeta eta theta")
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)
    val extra = docsDf(
      10L -> "totally distinct appended words here nothing shared")
    Dedup.appendToNearDupIndex(extra, "doc_id", "text", dir)
    // rebuild from a corpus WITHOUT doc 10: the old batch must not
    // leak doc 10 back into the index
    Dedup.writeNearDupIndex(corpus, "doc_id", "text", dir)
    val snap = docsDf(
      20L -> "totally distinct appended words here nothing shared too")
    val kept = Dedup.incrementalNearDedupIndexed(snap, "doc_id", "text",
      dir, threshold = 0.7).collect().map(_.getLong(0)).toSeq
    assert(kept == Seq(20L), s"stale batch survived rebuild: $kept")
  }
}
