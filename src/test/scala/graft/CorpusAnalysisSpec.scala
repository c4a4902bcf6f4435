package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{CorpusAnalysis, Dedup, VectorOps}

/** Cluster labeling, repetition signals, and decontamination — the
  * corpus-level training-data operators.
  */
class CorpusAnalysisSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("nearDupClusters: components get min-id labels, singletons label themselves") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    // a 3-chain (diameter 2), a pair, a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L))
  }

  test("nearDupClustersStar: equals min-label propagation on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 3) {
      val n = 40
      val docs = (1L to n).toDF("doc_id")
      val pairs = Seq.fill(25)(
        (1L + rnd.nextInt(n), 1L + rnd.nextInt(n)))
        .filter(p => p._1 != p._2).toDF("a", "b")
      val star = Dedup.nearDupClustersStar(docs, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prop = Dedup.nearDupClusters(docs, "doc_id", pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(star == prop)
    }
  }

  test("nearDupClustersStar: a 300-hop chain converges in log rounds") {
    import spark.implicits._
    // min-label propagation needs ~300 rounds here (its cap would
    // throw); the star alternation contracts geometrically
    val docs = (1L to 300L).toDF("doc_id")
    val pairs = (1L until 300L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.nearDupClustersStar(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 300 && got.values.forall(_ == 1L))
  }

  test("nearDupClusters: pair ids absent from docs never become labels") {
    import spark.implicits._
    val docs = Seq(5L, 6L, 20L).toDF("doc_id")
    // id 1 is not in docs: the edge may not pull label 1 into the
    // component, or nearDedup would keep zero docs from it
    val pairs = Seq((1L, 5L), (5L, 6L)).toDF("a", "b")
    val got = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 5L, 6L -> 5L, 20L -> 20L))
  }

  test("nearDedup keeps exactly the cluster representatives") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.nearDedup(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 20L))
  }

  test("nearDedupBy keeps the argmax-score doc per cluster, min id on ties") {
    import spark.implicits._
    val docs = Seq(
      (1L, 5.0), (2L, 9.0), (3L, 9.0), // chain cluster: 2 and 3 tie -> 2
      (10L, 1.0), (11L, 7.0),          // pair cluster: 11 wins
      (20L, 0.0)                       // singleton keeps itself
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val kept = Dedup.nearDedupBy(docs, "doc_id", "score", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 11L, 20L))
    // same graph, min-id policy would keep {1, 10, 20} — the policies
    // genuinely diverge on this fixture
    val minId = Dedup.nearDedup(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(minId == Set(1L, 10L, 20L))
    // star-CC variant agrees
    val keptStar = Dedup.nearDedupBy(docs, "doc_id", "score", pairs,
      useStar = true).collect().map(_.getLong(0)).toSet
    assert(keptStar == kept)
    // null scores lose to any non-null score
    val docsN = Seq((1L, Option(5.0)), (2L, None: Option[Double]))
      .toDF("doc_id", "score")
    val keptN = Dedup.nearDedupBy(docsN, "doc_id", "score",
      Seq((1L, 2L)).toDF("a", "b")).collect().map(_.getLong(0)).toSet
    assert(keptN == Set(1L))
  }

  test("nearDupClusters: a long chain converges (multi-iteration propagation)") {
    import spark.implicits._
    // 0-1-2-...-9: diameter 9 forces several propagation rounds
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = (0L to 8L).map(i => (i, i + 1)).toDF("a", "b")
    val got = Dedup.nearDupClusters(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == (0L to 9L).map(_ -> 0L).toMap)
  }

  test("nearDupClusters: hitting the iteration cap throws instead of returning bad labels") {
    import spark.implicits._
    val docs = (0L to 9L).toDF("doc_id")
    val pairs = (0L to 8L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      Dedup.nearDupClusters(docs, "doc_id", pairs, maxIter = 2)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("repetitionScores: hand-computed fractions, short docs score zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"), // 2-grams: [a a]×2, [a b] → top 2/3, dup 2/3
      (2L, "x"),       // no grams at all
      (3L, "p q r s")  // all grams unique
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.repetitionScores(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    val (t2, d2, t3, d3) = got(1L)
    assert(math.abs(t2 - 2.0 / 3) < 1e-12 && math.abs(d2 - 2.0 / 3) < 1e-12)
    assert(t3 == 0.5 && d3 == 0.0) // [a a a], [a a b] each once
    assert(got(2L) == ((0.0, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((1.0 / 3, 0.0, 0.5, 0.0)))
  }

  test("hashSample: deterministic, salt-independent samples, rate ~ proportion") {
    import spark.implicits._
    val docs = (0L until 2000L).toDF("doc_id")
    val s1 = CorpusAnalysis.hashSample(docs, "doc_id", 0.2, "saltA")
      .collect().map(_.getLong(0)).toSet
    val s1again = CorpusAnalysis.hashSample(docs, "doc_id", 0.2, "saltA")
      .collect().map(_.getLong(0)).toSet
    assert(s1 == s1again, "same salt must give the same sample")
    assert(math.abs(s1.size - 400) < 80, s"rate off: ${s1.size}/2000")
    val s2 = CorpusAnalysis.hashSample(docs, "doc_id", 0.2, "saltB")
      .collect().map(_.getLong(0)).toSet
    assert(s2 != s1, "different salts must give different samples")
    // nested property: a higher-rate sample with the same salt contains
    // the lower-rate one (threshold monotonicity)
    val s3 = CorpusAnalysis.hashSample(docs, "doc_id", 0.5, "saltA")
      .collect().map(_.getLong(0)).toSet
    assert(s1.subsetOf(s3))
  }

  test("mixtureSample: per-stratum rates, rate-1.0 keeps everything, default applies") {
    import spark.implicits._
    val docs = (0L until 300L).map(i =>
      (i, if (i < 100) "a" else if (i < 200) "b" else "c"))
      .toDF("doc_id", "source")
    val kept = CorpusAnalysis.mixtureSample(docs, "doc_id", "source",
      Map("a" -> 1.0, "b" -> 0.3), defaultRate = 0.0)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(kept.count(_._2 == "a") == 100, "rate 1.0 must keep all of a")
    assert(kept.count(_._2 == "c") == 0, "default 0.0 must drop all of c")
    val b = kept.count(_._2 == "b")
    assert(b > 10 && b < 60, s"b kept $b of 100 at rate 0.3")
  }

  test("mixtureSample: numeric strata canonicalize keys instead of string-missing") {
    import spark.implicits._
    // DOUBLE stratum renders 7.0 as "7.0" — a caller key "7" used to
    // silently fall back to defaultRate; canonicalization through the
    // column type makes "7" and "7.0" equivalent
    val dbl = (0L until 200L).map(i => (i, if (i < 100) 7.0 else 8.5))
      .toDF("doc_id", "source")
    val keptDbl = CorpusAnalysis.mixtureSample(dbl, "doc_id", "source",
      Map("7" -> 1.0), defaultRate = 0.0).collect()
    assert(keptDbl.length == 100 && keptDbl.forall(_.getDouble(1) == 7.0),
      s"integer-form key must match DOUBLE 7.0 (kept ${keptDbl.length})")
    // decimal-form key against an INT column matches when whole…
    val ints = (0L until 200L).map(i => (i, if (i < 100) 7 else 8))
      .toDF("doc_id", "source")
    val keptInt = CorpusAnalysis.mixtureSample(ints, "doc_id", "source",
      Map("7.0" -> 1.0), defaultRate = 0.0).collect()
    assert(keptInt.length == 100, s"'7.0' must match INT 7 (kept ${keptInt.length})")
    // …and fails loudly when fractional
    val eFrac = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(ints, "doc_id", "source",
        Map("7.5" -> 1.0))
    }
    assert(eFrac.getMessage.contains("non-integral"), eFrac.getMessage)
    // non-numeric key against a numeric column fails loudly
    val eBad = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(dbl, "doc_id", "source",
        Map("web" -> 1.0))
    }
    assert(eBad.getMessage.contains("not numeric"), eBad.getMessage)
    // canonically-equal key pairs are ambiguous, not order-dependent
    val eAmb = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(dbl, "doc_id", "source",
        Map("7" -> 1.0, "7.0" -> 0.5))
    }
    assert(eAmb.getMessage.contains("ambiguous"), eAmb.getMessage)
    // string strata keep exact matching: "7" does NOT match "7.0"
    val strs = (0L until 100L).map(i => (i, "7.0")).toDF("doc_id", "source")
    assert(CorpusAnalysis.mixtureSample(strs, "doc_id", "source",
      Map("7" -> 1.0), defaultRate = 0.0).count() == 0)
  }

  test("mixtureSample: ambiguity and range are judged on the POST-CAST value") {
    import spark.implicits._
    // distinct BigDecimals that collide once cast to FLOAT — the raw
    // literal check would pass them, and the winning rate would then
    // depend on Map iteration order
    val flt = (0L until 100L).map(i => (i, 7.0f)).toDF("doc_id", "source")
    val eFlt = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(flt, "doc_id", "source",
        Map("7.00000001" -> 1.0, "7.00000002" -> 0.0))
    }
    assert(eFlt.getMessage.contains("ambiguous"), eFlt.getMessage)
    // …and two keys that collide at a DECIMAL column's scale
    val dec = (0L until 100L).map(i => (i, BigDecimal("7.25")))
      .toDF("doc_id", "source")
      .select(col("doc_id"), col("source").cast("decimal(5,2)").as("source"))
    val eDec = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(dec, "doc_id", "source",
        Map("7.251" -> 1.0, "7.249" -> 0.0))
    }
    assert(eDec.getMessage.contains("ambiguous"), eDec.getMessage)
    // distinct post-cast floats are NOT ambiguous
    assert(CorpusAnalysis.mixtureSample(flt, "doc_id", "source",
      Map("7" -> 1.0, "8" -> 0.0), defaultRate = 0.0).count() == 100)
    // out-of-range key against a narrow integral column fails loudly
    // instead of silently never matching
    val bytes = (0L until 100L).map(i => (i, 7.toByte)).toDF("doc_id", "source")
    val eRange = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(bytes, "doc_id", "source",
        Map("300" -> 1.0))
    }
    assert(eRange.getMessage.contains("overflows"), eRange.getMessage)
    // decimal overflow beyond precision fails loudly too
    val eDecOv = intercept[IllegalArgumentException] {
      CorpusAnalysis.mixtureSample(dec, "doc_id", "source",
        Map("123456" -> 1.0))
    }
    assert(eDecOv.getMessage.contains("overflows"), eDecOv.getMessage)
  }

  test("corpusReport + docLengthHistogram: hand-computed card") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"),            // 3 tokens → bucket 1
      (2L, "a a a a"),          // 4 tokens → bucket 2
      (3L, ""),                 // empty → bucket -1
      (4L, null.asInstanceOf[String]), // empty → bucket -1
      (5L, "x")).toDF("doc_id", "text") // 1 token → bucket 0
    val rep = CorpusAnalysis.corpusReport(docs, "text").collect()(0)
    assert(rep.getLong(0) == 5L, "n_docs")
    assert(rep.getLong(1) == 2L, "n_empty_docs")
    assert(rep.getLong(2) == 8L, "n_tokens")
    assert(rep.getLong(3) == 4L, "n_distinct_tokens") // a b c x
    assert(rep.getLong(4) == 0L && rep.getLong(5) == 4L, "min/max")
    assert(rep.getDouble(6) == 8.0 / 5, "mean")
    val hist = CorpusAnalysis.docLengthHistogram(docs, "text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(hist == Map(
      -1L -> ((2L, 0L, 0L, 0L)),
      0L -> ((1L, 1L, 1L, 1L)),
      1L -> ((1L, 3L, 3L, 3L)),
      2L -> ((1L, 4L, 4L, 4L))), hist.toString)
    // empty corpus: one all-zero card row, empty histogram
    val e = CorpusAnalysis.corpusReport(docs.filter(lit(false)), "text")
      .collect()(0)
    assert(e.getLong(0) == 0L && e.getLong(2) == 0L &&
      e.getDouble(6) == 0.0, e.toString)
    assert(CorpusAnalysis.docLengthHistogram(
      docs.filter(lit(false)), "text").collect().isEmpty)
  }

  test("vocabDrift + driftReport: hand-computed distributions") {
    import spark.implicits._
    val a = Seq((1L, "x x y"), (2L, "z")).toDF("doc_id", "text")
    val b = Seq((3L, "x y y w")).toDF("doc_id", "text")
    // topK=2: top-A = {x, y} (cnt desc, token asc tie-break on y vs z),
    // top-B = {y, w} (w beats x alphabetically at cnt 1) → union
    // {x, y, w}; residual '' row carries z's mass on the A side
    val drift = CorpusAnalysis.vocabDrift(a, b, "text", topK = 2)
    val rows = drift.collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(rows.keySet == Set("x", "y", "w", ""))
    assert(rows("x") == ((2L, 1L, 0.5, 0.25)))
    assert(rows("y") == ((1L, 2L, 0.25, 0.5)))
    assert(rows("w") == ((0L, 1L, 0.0, 0.25)))
    assert(rows("") == ((1L, 0L, 0.25, 0.0)))
    val rep = CorpusAnalysis.driftReport(drift).collect()(0)
    assert(rep.getLong(0) == 4L && rep.getLong(1) == 4L &&
      rep.getLong(2) == 4L)
    // TVD = 0.5 * (0.25 * 4); chi2 = 2*(0.0625/0.75) + 2*(0.0625/0.25)
    assert(math.abs(rep.getDouble(3) - 0.5) < 1e-15, rep.toString)
    assert(math.abs(rep.getDouble(4) - (2 * (0.0625 / 0.75) + 0.5)) < 1e-15,
      rep.toString)
    // an empty side stays finite: every B frequency 0, mass closed
    val repE = CorpusAnalysis.driftReport(
      CorpusAnalysis.vocabDrift(a, b.filter(lit(false)), "text", topK = 2))
      .collect()(0)
    assert(repE.getLong(2) == 0L)
    assert(math.abs(repE.getDouble(3) - 0.5) < 1e-15, repE.toString)
  }

  test("topTokens: counts and deterministic tie-break") {
    import spark.implicits._
    val docs = Seq("x y x", "y x z", "w w").toDF("text")
    val got = CorpusAnalysis.topTokens(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // x:3, y:2, w:2 (w/y tie broken by token asc), z:1 cut off
    assert(got.toSeq == Seq(("x", 3L), ("w", 2L), ("y", 2L)))
  }

  test("chunkDocs: windows, stride overlap, tails, and empty docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5"), // 5 tokens, maxT=3 stride=2 → 2 chunks
      (2L, "a"),              // 1 token → 1 chunk
      (3L, " ")               // empty → no chunks
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.chunkDocs(docs, "doc_id", "text",
      maxTokens = 3, stride = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      (1L, 0L, 3L, "t1 t2 t3"),
      (1L, 1L, 3L, "t3 t4 t5"),
      (2L, 0L, 1L, "a")))
  }

  test("qualityGate: first failing reason wins, keep flag consistent") {
    import spark.implicits._
    // 100 tokens, 15% stopwords, no punctuation → quality = 1.0
    val good = ((1 to 85).map(i => s"w$i") ++ Seq.fill(15)("the")).mkString(" ")
    val docs = Seq(
      (1L, good),                      // long, en, high quality
      (2L, "too short"),               // fails token count first
      (3L, "le la les est et avec des le la les est et avec des xx yy") // lang
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.qualityGate(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getBoolean(2)))
      .toMap
    assert(got(1L) == (("keep", true)), s"got ${got(1L)}")
    assert(got(2L) == (("too_short", false)))
    assert(got(3L) == (("lang", false)))
  }

  test("nfcNormalize: decomposed marks compose, idempotent, null-safe") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val decomposed = "café naïve"
    val composed = "café naïve"
    val got = Seq(Some(decomposed), Some(composed), None).toDF("text")
      .select(TextFunctions.nfcNormalize($"text").as("n"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(got(0) == composed, "decomposed must compose")
    assert(got(1) == composed, "already-NFC text must be unchanged")
    assert(got(2) == null)
  }

  test("redactPii: urls, emails, ips, number runs; counts match; clean text untouched") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val docs = Seq(
      "mail bob.smith+x@corp.io or see https://a.b/c?d=1 from 192.168.0.1 acct 12345678",
      "totally clean text with short 123 numbers"
    ).toDF("text")
    val got = docs.select(
      TextFunctions.redactPii($"text").as("r"),
      TextFunctions.piiCounts($"text").as("c"))
      .collect()
    assert(got(0).getString(0) ==
      "mail <EMAIL> or see <URL> from <IP> acct <NUM>")
    val c = got(0).getStruct(1)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3)) ==
      ((1L, 1L, 1L, 1L)))
    assert(got(1).getString(0) == "totally clean text with short 123 numbers")
    val c1 = got(1).getStruct(1)
    assert((c1.getLong(0), c1.getLong(1), c1.getLong(2), c1.getLong(3)) ==
      ((0L, 0L, 0L, 0L)))
  }

  test("quantizeInt8: range, round-trip error bound, zero and null vectors") {
    import spark.implicits._
    val docs = Seq(
      (1L, Some(Seq(0.5f, -1.27f, 0.001f, 1.27f))),
      (2L, Some(Seq(0f, 0f))),   // all-zero → scale 0, zeros
      (3L, Option.empty[Seq[Float]])
    ).toDF("vec_id", "embedding")
    val q = VectorOps.quantizeInt8(docs, "vec_id", "embedding")
    val rows = q.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getDouble(1),
        if (r.isNullAt(2)) null else r.getSeq[Long](2))).toMap
    val (s1, q1) = rows(1L)
    assert(s1 == 1.27f.toDouble / 127.0) // float literal, widened exactly
    assert(q1 == Seq(50L, -127L, 0L, 127L))
    assert(rows(2L) == ((0.0, Seq(0L, 0L))))
    assert(rows(3L)._2 == null)
    // round-trip error ≤ scale/2 per element
    val back = q.filter($"vec_id" === 1L)
      .select(VectorOps.dequantizeInt8($"q", $"scale"))
      .collect()(0).getSeq[Float](0)
    back.zip(Seq(0.5f, -1.27f, 0.001f, 1.27f)).foreach { case (b, o) =>
      assert(math.abs(b - o) <= 1.27 / 127.0 / 2 + 1e-9, s"$b vs $o")
    }
  }

  test("streamingExactDedup: first arrival emitted, duplicates dropped across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = graft.operators.Dedup
      .streamingExactDedup(df, "text", "ts", lateness = "10 minutes")
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    try {
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), "alpha beta"),
        (2L, ts("2024-01-01 00:00:01"), "gamma"),
        (3L, ts("2024-01-01 00:00:02"), "Alpha   BETA")) // canonical dup of 1
      q.processAllAvailable()
      // duplicate in a LATER micro-batch, still within the watermark
      mem.addData((4L, ts("2024-01-01 00:00:03"), "alpha beta"))
      q.processAllAvailable()
      val ids = spark.table("stream_dedup").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L), s"got $ids")
    } finally q.stop()
  }

  test("streamingIncrementalDedup: stream rows admitted against the static corpus") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val corpus = Seq((100L, "known doc one"), (101L, "known doc two"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val q = graft.operators.Dedup
      .streamingIncrementalDedup(df, corpus, "text")
      .writeStream.format("memory").queryName("stream_inc")
      .outputMode("append").start()
    try {
      mem.addData((1L, "  KNOWN doc one "), (2L, "brand new"))
      q.processAllAvailable()
      mem.addData((3L, "known doc two"), (4L, "also new"))
      q.processAllAvailable()
      val ids = spark.table("stream_inc").collect().map(_.getLong(0)).toSet
      assert(ids == Set(2L, 4L), s"got $ids")
    } finally q.stop()
  }

  test("streamingNearDedup: STATELESS admission — perturbed re-crawls " +
      "dropped, fresh docs emitted in their arrival batch without " +
      "collapsing duplicates, late rows decided, zero stateful " +
      "operators") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    // 30 distinct tokens per doc; changing the LAST token alters one of
    // 28 trigrams → J = 27/29 ≈ 0.931 ≥ 0.8 (same shape as the batch
    // incrementalNearDedup spec and the ScaleSmoke planted near-dups)
    def doc(seed: String): String = (0 until 30).map(j => s"$seed$j").mkString(" ")
    val corpus = Seq((100L, doc("qa")), (101L, doc("qb"))).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
    val df = mem.toDF().toDF("doc_id", "ts", "text")
    val q = graft.operators.Dedup
      .streamingNearDedup(df, corpus, "doc_id", "text", "ts",
        lateness = "10 minutes")
      .writeStream.format("memory").queryName("stream_near")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ids() = spark.table("stream_near").collect()
      .map(_.getLong(0)).toSeq
    try {
      // batch 1: a near-dup of corpus doc qa (last token changed), a
      // token-disjoint fresh doc, and an EXACT duplicate of that fresh
      // row — both copies emit IN THIS BATCH: no watermark delay, no
      // duplicate collapse
      mem.addData(
        (1L, ts("2024-01-01 00:00:00"), doc("qa").replaceAll("qa29$", "zz")),
        (2L, ts("2024-01-01 00:00:01"), doc("qf")),
        (2L, ts("2024-01-01 00:00:01"), doc("qf")))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L), s"batch1 got ${ids()}")
      // batch 2: near-dup of qb (dropped), another fresh doc
      mem.addData(
        (3L, ts("2024-01-01 00:00:02"), doc("qb").replaceAll("qb29$", "yy")),
        (4L, ts("2024-01-01 00:00:03"), doc("qg")))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L, 4L), s"batch2 got ${ids()}")
      // batch 3: fresh doc an hour ahead, then a LATE fresh doc
      // (before the advanced watermark) — a stateless filter gives
      // late rows the same admission decision instead of silently
      // dropping them
      mem.addData((99L, ts("2024-01-01 01:00:00"), doc("qh")))
      q.processAllAvailable()
      mem.addData((98L, ts("2024-01-01 00:00:05"), doc("qi")))
      q.processAllAvailable()
      assert(ids().sorted == Seq(2L, 2L, 4L, 98L, 99L),
        s"batch3/4 got ${ids()}")
      // the executed plan carries NO stateful operator: per-row
      // streaming state is zero bytes regardless of doc size
      import org.apache.spark.sql.execution.streaming.operators
        .stateful.StateStoreWriter
      val exec = q.asInstanceOf[org.apache.spark.sql.execution
          .streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
      val stateOps = exec.collect { case s: StateStoreWriter => s }
      assert(stateOps.isEmpty,
        s"expected zero stateful operators, got $stateOps")
    } finally q.stop()
  }

  test("contamination: shared 8-grams found, short docs and non-overlaps excluded") {
    import spark.implicits._
    val eight = "t1 t2 t3 t4 t5 t6 t7 t8"
    val bench = Seq((100L, s"$eight tail")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, s"lead $eight"),      // shares exactly the one 8-gram
      (2L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"), // no overlap
      (3L, "t1 t2 t3")           // too short for any 8-gram
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.contamination(corpus, bench, "doc_id", "text")
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("id") == 1L && r.getAs[Long]("bench_id") == 100L)
    assert(r.getAs[Long]("shared_ngrams") == 1L)
    assert(r.getAs[Long]("doc_ngrams") == 2L) // "lead t1..t7" and "t1..t8"
    assert(r.getAs[Double]("overlap_frac") == 0.5)
  }

  test("packSequences: first-fit-in-order within one shard, hand-checked") {
    import spark.implicits._
    // one shard so the packing order is just ascending id; token counts
    // 3,4,5,9,2,1 with maxTokens=8: [3,4] [5] [9] [2,1]
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c d"), (3L, "a b c d e"),
      (4L, "a b c d e f g h i"), (5L, "a b"), (6L, "a")
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.packSequences(docs, "doc_id", "text",
      maxTokens = 8, shards = 1)
      .orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("pack_id"),
        r.getAs[Long]("pack_pos")))
    assert(got.toSeq == Seq((1L, 0L, 0L), (2L, 0L, 1L), (3L, 1L, 0L),
      (4L, 2L, 0L), (5L, 3L, 0L), (6L, 3L, 1L)))
  }

  test("packSequences invariants on the documents table") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val maxTokens = 128
    val packed = CorpusAnalysis.packSequences(docs, "doc_id", "text",
      maxTokens = maxTokens, shards = 16).cache()
    try {
      // every doc exactly once
      assert(packed.count() == docs.count())
      assert(packed.select("id").distinct().count() == docs.count())
      // no pack over budget unless it is a single oversized doc
      val over = packed.groupBy("shard", "pack_id")
        .agg(sum("doc_tokens").as("tok"), count(lit(1)).as("n"))
        .filter(col("tok") > maxTokens && col("n") > 1)
      assert(over.isEmpty, over.collect().mkString)
      // greedy means no pack could absorb its successor's FIRST doc:
      // head-of-pack token count + previous pack total must exceed budget
      val packTotals = packed.groupBy("shard", "pack_id")
        .agg(sum("doc_tokens").as("tot"))
      val heads = packed.filter(col("pack_pos") === 0)
        .select(col("shard"), col("pack_id"), col("doc_tokens").as("head_tok"))
      val mergeable = packTotals.alias("p")
        .join(heads.alias("h"), col("p.shard") === col("h.shard") &&
          col("h.pack_id") === col("p.pack_id") + 1)
        .filter(col("p.tot") + col("h.head_tok") <= maxTokens)
      assert(mergeable.isEmpty, mergeable.collect().mkString)
      // pack ids contiguous from 0 per shard
      val ids = packed.groupBy("shard")
        .agg(min("pack_id").as("lo"), max("pack_id").as("hi"),
          countDistinct("pack_id").as("n"))
        .filter(col("lo") =!= 0 || col("n") =!= col("hi") + 1)
      assert(ids.isEmpty, ids.collect().mkString)
    } finally packed.unpersist()
  }

  test("packTexts assembles pack members in pack order") {
    import spark.implicits._
    // maxTokens=8 over counts 3,4,5: packs [d1 d2], [d3]
    val docs = Seq((1L, "a b c"), (2L, "d e f g"), (3L, "h i j k l"))
      .toDF("doc_id", "text")
    val got = CorpusAnalysis.packTexts(docs, "doc_id", "text",
      maxTokens = 8, shards = 1)
      .orderBy("pack_id").collect()
      .map(r => (r.getAs[Long]("pack_id"), r.getAs[Long]("pack_tokens"),
        r.getAs[Long]("n_docs"), r.getAs[String]("pack_text")))
    assert(got.toSeq == Seq((0L, 7L, 2L, "a b c d e f g"),
      (1L, 5L, 1L, "h i j k l")))
  }

  test("removeRepeatedLines: frequent lines removed, order and blanks kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nFOOTER\n\nbody one"),
      (2L, "beta\nFOOTER\nbody two"),
      (3L, "gamma\nFOOTER\nbody three"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = CorpusAnalysis.removeRepeatedLines(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // FOOTER occurs 3x -> removed everywhere; the blank line is exempt;
    // order preserved; null text -> empty doc row survives
    assert(got(1L) == "alpha\n\nbody one", got(1L))
    assert(got(2L) == "beta\nbody two")
    assert(got(3L) == "gamma\nbody three")
    assert(got(4L) == "")
    assert(got.size == 4)
    // within-doc repeats count toward the corpus threshold: a single
    // doc repeating one line 3x bans that line everywhere
    val solo = Seq((1L, "echo\necho\necho\nkeep me"), (2L, "echo\nother"))
      .toDF("doc_id", "text")
    val got2 = CorpusAnalysis.removeRepeatedLines(solo, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(1L) == "keep me" && got2(2L) == "other", got2.toString)
  }

  test("removeDupSpans: covered tokens dropped everywhere, short docs intact") {
    import spark.implicits._
    // docs 1 and 2 share a 4-token block (SPAN a b c) embedded in
    // otherwise-unique text; n=3 bans the 2 windows inside the block
    // plus the boundary windows that also repeat — here the shared
    // region is exactly tokens 1..4 in doc1 and 0..3 in doc2
    val docs = Seq(
      (1L, "pre SPAN a b c post1 tail1"),
      (2L, "SPAN a b c post2 tail2"),
      (3L, "totally unrelated words here"),
      (4L, "tiny doc"), // < n tokens: no windows, tokens all kept
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = CorpusAnalysis.removeDupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // shared windows: (SPAN a b) and (a b c) occur twice each → banned;
    // they cover tokens SPAN/a/b/c in both docs; neighbors survive
    assert(got(1L) == "pre post1 tail1", got(1L))
    assert(got(2L) == "post2 tail2", got(2L))
    assert(got(3L) == "totally unrelated words here")
    assert(got(4L) == "tiny doc")
    assert(got(5L) == "")
    assert(got.size == 5)
    // within-doc repetition reaches the ban threshold on its own
    val solo = Seq(
      (1L, "x y z mid x y z"),
      (2L, "x y q other stuff")).toDF("doc_id", "text")
    val got2 = CorpusAnalysis.removeDupSpans(solo, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // (x y z) occurs twice IN doc 1 → banned; covers tokens 0-2 and
    // 4-6, leaving "mid"; doc 2 shares no full 3-token window
    assert(got2(1L) == "mid", got2(1L))
    assert(got2(2L) == "x y q other stuff")

    // keepFirst: the canonical first occurrence — smallest (id, start)
    // — survives; later copies still drop
    val kf = CorpusAnalysis.removeDupSpans(docs, "doc_id", "text", n = 3,
      keepFirst = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 holds the first occurrence of both banned windows → intact
    // (token-canonical whitespace); doc 2's copies drop as before
    assert(kf(1L) == "pre SPAN a b c post1 tail1", kf(1L))
    assert(kf(2L) == "post2 tail2", kf(2L))
    val kf2 = CorpusAnalysis.removeDupSpans(solo, "doc_id", "text", n = 3,
      keepFirst = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // within-doc: first (x y z) at position 0 kept, the repeat at 4-6
    // dropped
    assert(kf2(1L) == "x y z mid", kf2(1L))
    assert(kf2(2L) == "x y q other stuff")

    // a null doc id fails loudly instead of silently escaping the scrub
    // (the banned-position join keys on id) or electing a null keeper
    // under keepFirst (struct min sorts null first — NULLS LAST engines
    // diverge)
    val nullId = Seq(
      (java.lang.Long.valueOf(1L), "x y z mid x y z"),
      (null.asInstanceOf[java.lang.Long], "x y z other")).toDF("doc_id", "text")
    for (kf <- Seq(false, true)) {
      val e = intercept[Exception] {
        CorpusAnalysis.removeDupSpans(nullId, "doc_id", "text", n = 3,
          keepFirst = kf).collect()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("null value in id column")),
        e.toString)
    }
  }

  test("removeDupSpans exact: merged ranges are atomic, keepers unshredded") {
    import spark.implicits._
    // two distinct banned 3-windows OVERLAP in doc 2: W1 = (a b c)
    // first occurs in doc 2, W2 = (b c d) first occurs in doc 1. The
    // window form shreds doc 2 down to its lone leading token (W2's
    // non-keeper instance covers b c d); the exact form makes the
    // merged range [a b c d] atomic — not every window in it is a
    // keeper, so it drops wholly
    val docs = Seq(
      (1L, "b c d"),        // W2 keeper
      (2L, "a b c d"),      // W1@0 keeper, W2@1 non-keeper
      (3L, "a b c"),        // W1 non-keeper
      (4L, "unrelated words entirely")).toDF("doc_id", "text")
    val win = CorpusAnalysis.removeDupSpans(docs, "doc_id", "text", n = 3,
      keepFirst = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(win(1L) == "b c d")
    assert(win(2L) == "a", win(2L)) // the shredded keeper remain
    assert(win(3L) == "")
    val ex = CorpusAnalysis.removeDupSpans(docs, "doc_id", "text", n = 3,
      keepFirst = true, exact = true)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ex(1L) == "b c d") // its whole range is the keeper
    assert(ex(2L) == "", ex(2L)) // atomic range, mixed keepers → drops
    assert(ex(3L) == "")
    assert(ex(4L) == "unrelated words entirely")

    // where no distinct banned windows overlap, exact == window form
    val plain = Seq(
      (1L, "pre SPAN a b c post1 tail1"),
      (2L, "SPAN a b c post2 tail2"),
      (3L, "totally unrelated words here"),
      (4L, "tiny doc")).toDF("doc_id", "text")
    val w2 = CorpusAnalysis.removeDupSpans(plain, "doc_id", "text", n = 3,
      keepFirst = true).collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq
    val e2 = CorpusAnalysis.removeDupSpans(plain, "doc_id", "text", n = 3,
      keepFirst = true, exact = true)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(w2 == e2)

    // exact without keepFirst is a contract error, not a silent no-op
    val err = intercept[IllegalArgumentException] {
      CorpusAnalysis.removeDupSpans(plain, "doc_id", "text", n = 3,
        exact = true)
    }
    assert(err.getMessage.contains("keepFirst"), err.getMessage)
  }

  test("removeContaminatedSpans: only benchmark-covered tokens drop") {
    import spark.implicits._
    val bench = Seq(
      (100L, "what is the capital of france"),
      (101L, "short"), // < n tokens: contributes no windows
      (102L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val docs = Seq(
      // quotes a full bench 3-gram run → the quoted span drops
      (1L, "quiz asks what is the capital of france answer paris"),
      // shares only a 2-token fragment ("the capital") — below n, kept
      (2L, "the capital markets rallied today"),
      // internal duplication is NOT banned here (no self-dedup)
      (3L, "rep rep rep rep rep"),
      (4L, "no overlap at all"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = CorpusAnalysis.removeContaminatedSpans(docs, bench,
      "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // banned windows of doc 1: every 3-gram inside "what is the
    // capital of france" → tokens 2..7 covered; neighbors survive
    assert(got(1L) == "quiz asks answer paris", got(1L))
    assert(got(2L) == "the capital markets rallied today")
    assert(got(3L) == "rep rep rep rep rep")
    assert(got(4L) == "no overlap at all")
    assert(got(5L) == "")
    assert(got.size == 5)
    // a null corpus id fails loudly (same contract as removeDupSpans);
    // null BENCH rows are fine (only their text is read)
    val nullId = Seq(
      (java.lang.Long.valueOf(1L), "x y z"),
      (null.asInstanceOf[java.lang.Long], "x y z")).toDF("doc_id", "text")
    val e = intercept[Exception] {
      CorpusAnalysis.removeContaminatedSpans(nullId, bench, "doc_id",
        "text", n = 3).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("null value in id column")),
      e.toString)
  }

  test("temperatureMixtureRates: alpha smoothing, cap, and expected size") {
    import spark.implicits._
    // planted counts 100 / 400: T=2 → weights 10 / 20 → target shares
    // 1/3 / 2/3
    val df = ((0 until 100).map(i => (i.toLong, "small")) ++
      (0 until 400).map(i => (1000L + i, "big"))).toDF("doc_id", "source")
    val r = CorpusAnalysis.temperatureMixtureRates(df, "source",
      temperature = 2.0, targetFraction = 0.5)
    // targetN = 250: small keeps 250·(1/3)/100, big 250·(2/3)/400
    assert(math.abs(r("small") - 250.0 / 3 / 100) < 1e-12, r.toString)
    assert(math.abs(r("big") - 500.0 / 3 / 400) < 1e-12, r.toString)
    // low-resource source's keep rate must EXCEED its natural share —
    // that is what the temperature is for
    assert(r("small") > r("big"))
    // saturation: at targetFraction 1.0 the small source would need
    // rate 5/3 — capped at 1, big stays below
    val full = CorpusAnalysis.temperatureMixtureRates(df, "source",
      temperature = 2.0, targetFraction = 1.0)
    assert(full("small") == 1.0 && full("big") < 1.0, full.toString)
    // T=1 is natural proportions: every rate = targetFraction
    val nat = CorpusAnalysis.temperatureMixtureRates(df, "source",
      temperature = 1.0, targetFraction = 0.5)
    assert(nat.values.forall(v => math.abs(v - 0.5) < 1e-12), nat.toString)
    // end-to-end: deterministic, and null strata are dropped
    val withNull = df.unionByName(
      Seq((9999L, null.asInstanceOf[String])).toDF("doc_id", "source"))
    val s1 = CorpusAnalysis.temperatureSample(withNull, "doc_id", "source",
      temperature = 2.0, targetFraction = 0.5, salt = "t").collect()
    val s2 = CorpusAnalysis.temperatureSample(withNull, "doc_id", "source",
      temperature = 2.0, targetFraction = 0.5, salt = "t").collect()
    assert(s1.map(_.getLong(0)).toSet == s2.map(_.getLong(0)).toSet)
    assert(!s1.exists(_.getLong(0) == 9999L))
    // realized size is near the 250-doc target (hash sampling variance)
    assert(s1.length > 200 && s1.length < 300, s1.length.toString)
  }

  test("temperatureMixtureRates: non-string stratum columns work (string-canonicalized)") {
    import spark.implicits._
    // integer source ids — the groupBy casts to string instead of
    // throwing ClassCastException at getString, and the returned keys
    // are the string forms mixtureSample compares against
    val df = ((0 until 100).map(i => (i.toLong, 7)) ++
      (0 until 400).map(i => (1000L + i, 42))).toDF("doc_id", "source")
    val r = CorpusAnalysis.temperatureMixtureRates(df, "source",
      temperature = 2.0, targetFraction = 0.5)
    assert(r.keySet == Set("7", "42"), r.toString)
    assert(math.abs(r("7") - 250.0 / 3 / 100) < 1e-12, r.toString)
    // end-to-end: the sample draws from BOTH integer strata (the CASE
    // comparison canonicalizes the column the same way)
    val s = CorpusAnalysis.temperatureSample(df, "doc_id", "source",
      temperature = 2.0, targetFraction = 0.5, salt = "t").collect()
    val bySrc = s.map(_.getInt(1)).groupBy(identity).map { case (k, v) => k -> v.length }
    assert(bySrc.keySet == Set(7, 42) && s.length > 200 && s.length < 300,
      s"${bySrc.toString} n=${s.length}")
  }

  test("curate: stages chain, attrition is monotone, report is stable") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    def run() = CorpusAnalysis.curate(docs, bench, "doc_id", "text")
      .collect().sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val report = run()
    assert(report.map(_._1).toSeq == Seq("1_gate", "2_exact_dedup",
      "3_near_dedup", "4_decontaminate", "5_sample"))
    // each stage consumes exactly what the previous produced, and never
    // grows the corpus
    report.sliding(2).foreach { case Array(prev, next) =>
      assert(next._2 == prev._3, s"chain break: $prev -> $next")
    }
    report.foreach { case (s, in, out) =>
      assert(out <= in && out >= 0, s"stage $s grew: $in -> $out")
    }
    assert(report.head._2 == docs.count())
    // deterministic: the report is a pure function of the corpus
    assert(run().toSeq == report.toSeq)

    // a null-id doc is DROPPED by the gate (the old id equi-join form
    // dropped it implicitly; the filter form must keep that contract —
    // otherwise it reaches exactDedup, whose min_by keeper skips null
    // ordering values and emits an all-NULL row)
    import spark.implicits._
    val withNull = docs.unionByName(
      Seq((null.asInstanceOf[java.lang.Long],
        "a perfectly keepable english document with the and of is " +
          "with many more words to pass the token gate easily today"))
        .toDF("doc_id", "text"))
    val rep2 = CorpusAnalysis.curate(withNull, bench, "doc_id", "text")
      .collect().sortBy(_.getString(0))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rep2.head._2 == docs.count() + 1)
    assert(rep2.head._3 == report.head._3, s"${rep2.head} vs ${report.head}")
  }

  test("curatePersisted: report matches curate; resume skips completed stages") {
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val dir = Fixtures.scratchDir("graft-curate").toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().sortBy(_.getString(0))
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val persistedReport = rows(
      CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir))
    val liveReport = rows(CorpusAnalysis.curate(docs, bench, "doc_id", "text"))
    assert(persistedReport == liveReport)
    // every stage + the report landed as completed parquet
    for (n <- Seq("0_source", "1_gate", "2_exact_dedup", "3_near_dedup",
        "4_decontaminate", "5_sample", "report"))
      assert(new java.io.File(s"$dir/$n/_SUCCESS").exists(), n)

    // resume: delete ONLY the last stage + report, hand the resumed run
    // an EMPTY source — if any earlier stage recomputed (instead of
    // reading its persisted output) every count would collapse to 0;
    // an identical report proves stages 0-4 were skipped and only
    // 5_sample + report re-ran from storage
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    for (n <- Seq("5_sample", "report"))
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$n"), true)
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val resumed = rows(
      CorpusAnalysis.curatePersisted(emptyDocs, bench, "doc_id", "text", dir))
    assert(resumed == persistedReport)

    // an EMPTY corpus must persist and resume too: an all-filtered
    // stage writes zero part files (only _SUCCESS), and the schema
    // sidecar keeps the read-back — and every later resume — alive
    val dir2 = Fixtures.scratchDir("graft-curate-e").toString
    val emptyRun = rows(
      CorpusAnalysis.curatePersisted(emptyDocs, bench, "doc_id", "text", dir2))
    assert(emptyRun.forall(r => r._2 == 0 && r._3 == 0), emptyRun.toString)
    val emptyResume = rows(
      CorpusAnalysis.curatePersisted(emptyDocs, bench, "doc_id", "text", dir2))
    assert(emptyResume == emptyRun)
  }

  test("curatePersisted: params sidecar blocks a changed-parameter resume") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val dir = Fixtures.scratchDir("graft-curate-p").toString
    CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir,
      sampleRate = 0.5)
    // resume with a DIFFERENT sampleRate: the persisted 5_sample stage
    // embodies 0.5 — recomputing nothing and relabeling it 0.25 would
    // silently mix regimes; the sidecar fails the run instead
    val e = intercept[IllegalArgumentException] {
      CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir,
        sampleRate = 0.25)
    }
    assert(e.getMessage.contains("DIFFERENT parameters") &&
      e.getMessage.contains("sampleRate"), e.getMessage)
    // matching params resume cleanly
    val again = CorpusAnalysis.curatePersisted(docs, bench, "doc_id",
      "text", dir, sampleRate = 0.5)
    assert(again.count() == 5)

    // stages persisted WITHOUT a params sidecar (pre-tracking dirs, or
    // a deleted sidecar) must not be silently adopted under the current
    // parameters — the parameters they embody are unknown
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/_graft_params.json"), false)
    val e2 = intercept[IllegalArgumentException] {
      CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir,
        sampleRate = 0.5)
    }
    assert(e2.getMessage.contains("no _graft_params.json"), e2.getMessage)
  }

  test("curatePersisted: params sidecar stays valid JSON under a hostile salt") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text")).limit(50)
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val dir = Fixtures.scratchDir("graft-curate-j").toString
    // a salt carrying every JSON-breaking class: quote, backslash,
    // newline, tab, and a raw control char
    val salt = "s\"x\\y\nz\tq\u0001!"
    CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir,
      salt = salt)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "_graft_params.json")),
      java.nio.charset.StandardCharsets.UTF_8)
    // the driver consumes this file with a strict JSON parser: no raw
    // control characters may survive, and the escapes must round-trip
    assert(!raw.exists(_ < ' '), s"raw control char in sidecar: $raw")
    assert(raw.contains("\\\"") && raw.contains("\\\\") &&
      raw.contains("\\n") && raw.contains("\\t") && raw.contains("\\u0001"),
      raw)
    // same-salt resume passes the gate; different salt fails it
    assert(CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text",
      dir, salt = salt).count() == 5)
    val e = intercept[IllegalArgumentException] {
      CorpusAnalysis.curatePersisted(docs, bench, "doc_id", "text", dir,
        salt = "other")
    }
    assert(e.getMessage.contains("DIFFERENT parameters"), e.getMessage)
  }

  test("curate bucket stats: forced drops reported, and survive a persisted resume") {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // TWO planted near-copies per doc → 3-member minhash buckets, which
    // nearDupMaxBucket = 2 drops. (maxBucket = 1 would be degenerate:
    // the pair filter `size > 1 && size <= 1` constant-folds the whole
    // pipeline — observe node included — to an empty relation, and
    // there is nothing left to observe.)
    val docs = base
      .unionByName(base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 100000L).as("doc_id"),
          concat(col("text"), lit(" extraword")).as("text")))
      .unionByName(base.filter(col("doc_id") < 20)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" otherword")).as("text")))
    val bench = base.filter(col("doc_id") % 97 === 0)
    val res = CorpusAnalysis.curateWithStats(docs, bench, "doc_id", "text",
      nearDupMaxBucket = 2)
    res.report.collect()
    val st = res.bucketStats.filter(_._1 == "3_near_dedup").map(_._2)
    assert(st.nonEmpty, res.bucketStats.toString)
    assert(st.exists(_.bucketsDropped > 0), st.toString)

    // persisted: the same drops land in the _graft_buckets.json sidecar
    // and are still reported by a resume that SKIPS the stage entirely
    val dir = Fixtures.scratchDir("graft-curate-b").toString
    val p1 = CorpusAnalysis.curatePersistedWithStats(docs, bench, "doc_id",
      "text", dir, nearDupMaxBucket = 2)
    val pst = p1.bucketStats.filter(_._1 == "3_near_dedup").map(_._2)
    assert(pst.exists(_.bucketsDropped > 0), p1.bucketStats.toString)
    val p2 = CorpusAnalysis.curatePersistedWithStats(docs, bench, "doc_id",
      "text", dir, nearDupMaxBucket = 2)
    assert(p2.bucketStats.filter(_._1 == "3_near_dedup").map(_._2) == pst,
      p2.bucketStats.toString)
  }

  test("packSequences is deterministic under input repartitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(d: org.apache.spark.sql.DataFrame) =
      CorpusAnalysis.packSequences(d, "doc_id", "text",
        maxTokens = 128, shards = 16)
        .collect().map(_.toSeq).toSet
    assert(run(docs) == run(docs.repartition(7)))
  }

  test("dupSpans: cross-doc and within-doc repeats count, short docs score 0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),     // 3 3-token spans, all shared with doc 2
      (2L, "a b c d e"),     // exact copy
      (3L, "x y z x y z x"), // within-doc repeats: spans at pos 1/4 ("x y z")
                             // and 2/5 ("y z x") repeat; 5 spans, 4 dup
      (4L, "q r"),           // < n tokens: no spans
      (5L, "u v w u u u u")  // unique spans only... (none repeat)
    ).toDF("doc_id", "text")
    val got = CorpusAnalysis.dupSpans(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(3L) == ((5L, 4L, 0.8)))
    assert(got(4L) == ((0L, 0L, 0.0)))
    // doc 5: "u u u" occurs at positions 4 and 5 — a within-doc repeat
    assert(got(5L) == ((5L, 2L, 0.4)))
  }

  test("bpePairs: exact counts with deterministic tie-break") {
    import spark.implicits._
    val docs = Seq("a b a b", "a b c", "", "z").toDF("text")
    val got = CorpusAnalysis.bpePairs(docs, "text", 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // "a b" ×3, then ties at 1 broken alphabetically: "b a" < "b c"
    assert(got == Seq(("a b", 3L), ("b a", 1L), ("b c", 1L)))
  }

  test("stratifiedSampleN: matches the window-rank reference and bounds k") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val docs = (1L to 200L).map(i => (i, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "lang")
    val got = CorpusAnalysis.stratifiedSampleN(docs, "doc_id", "lang", 7,
      salt = "s1").collect().map(r =>
        (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    val h = graft.functions.TextFunctions.md5Hash60(
      concat(lit("s1"), lit(":"), col("doc_id").cast("string")))
    val ref = docs.select(col("lang"), col("doc_id"), h.as("h"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))))
      .filter(col("rank") <= 7)
      .collect().map(r => (r.getString(0), r.getInt(3), r.getLong(1))).toSet
    assert(got == ref)
    assert(got.size == 14)
    // selection is stable under repartitioning (pure function of id)
    val again = CorpusAnalysis.stratifiedSampleN(docs.repartition(13),
      "doc_id", "lang", 7, salt = "s1").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("tokenFrequencyStats: hand-computed OOV and mean frequency") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, ""), (4L, "d d d"))
      .toDF("doc_id", "text")
    // counts: a=3 b=1 c=1 d=3; vocabSize=2 → {a, d} (cnt desc, tok asc)
    val got = CorpusAnalysis.tokenFrequencyStats(docs, "doc_id", "text",
      vocabSize = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))).toMap
    assert(got(1L) == ((3L, 1L, 1.0 / 3, 3.0)))
    assert(got(2L) == ((2L, 1L, 0.5, 3.0)))
    assert(got(3L) == ((0L, 0L, 0.0, 0.0)))
    assert(got(4L) == ((3L, 0L, 0.0, 3.0)))
  }

  test("epochShuffle: a permutation with contiguous per-shard positions, epoch-dependent") {
    import spark.implicits._
    val docs = (1L to 100L).toDF("doc_id")
    val e1 = CorpusAnalysis.epochShuffle(docs, "doc_id", 1, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(e1.map(_._1).toSet == (1L to 100L).toSet)
    // positions are 1..count(shard) with no gaps
    e1.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    val e2 = CorpusAnalysis.epochShuffle(docs, "doc_id", 2, 4).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(e1.toSet != e2.toSet, "epochs must produce different orders")
  }

  test("dedupAudit: cluster labels, keeper rule, sizes, verdicts") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 10L, 11L, 20L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val got = Dedup.dedupAudit(docs, "doc_id", pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(got == Map(
      1L -> (1L, 1L, 3L, true), 2L -> (1L, 1L, 3L, false),
      3L -> (1L, 1L, 3L, false), 10L -> (10L, 10L, 2L, true),
      11L -> (10L, 10L, 2L, false), 20L -> (20L, 20L, 1L, true)),
      got.toString)
    // audit's keepers = nearDedup's survivors exactly
    val kept = got.filter(_._2._4).keySet
    val nd = Dedup.nearDedup(docs, "doc_id", pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == nd)
  }

  test("upsampleMixture: whole epochs exact, fractional epoch matches " +
      "mixtureSample, sub-1 rates reduce to it") {
    import spark.implicits._
    val docs = (0L until 400L).map(i =>
      (i, Seq("a", "b", "c", "d")((i % 4).toInt))).toDF("doc_id", "source")
    val rates = Map("a" -> 2.0, "b" -> 0.5, "c" -> 2.25)
    val got = CorpusAnalysis.upsampleMixture(docs, "doc_id", "source",
      rates, defaultRate = 0.0, salt = "up").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val byDoc = got.groupBy(_._1)
    // stratum a: exactly 2 copies (0 and 1) for every doc
    docs.filter(col("source") === "a").collect().map(_.getLong(0))
      .foreach { id =>
        assert(byDoc(id).map(_._3).sorted.toSeq == Seq(0L, 1L), id.toString) }
    // stratum d (default 0): no rows
    assert(got.forall(_._2 != "d"))
    // stratum c: 2 or 3 copies; the 3rd copy appears for ~25%
    val cCounts = docs.filter(col("source") === "c").collect()
      .map(_.getLong(0)).map(id => byDoc.get(id).map(_.size).getOrElse(0))
    assert(cCounts.forall(c => c == 2 || c == 3), cCounts.mkString(","))
    assert(cCounts.count(_ == 3) > 5 && cCounts.count(_ == 3) < 60)
    // stratum b (0.5): exactly mixtureSample's keep set, all copy=0
    val ms = CorpusAnalysis.mixtureSample(
      docs.filter(col("source") === "b"), "doc_id", "source",
      Map("b" -> 0.5), salt = "up").collect().map(_.getLong(0)).toSet
    val up = got.filter(_._2 == "b")
    assert(up.forall(_._3 == 0L) && up.map(_._1).toSet == ms,
      s"${up.length} vs ${ms.size}")
    // deterministic
    val again = CorpusAnalysis.upsampleMixture(docs, "doc_id", "source",
      rates, defaultRate = 0.0, salt = "up").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSet == again.toSet)
    intercept[IllegalArgumentException] {
      CorpusAnalysis.upsampleMixture(docs, "doc_id", "source",
        Map("a" -> -0.5))
    }
  }

  test("ngramNovelty: seen/novel 8-gram split, gram-less docs stay null") {
    import spark.implicits._
    val a = (1 to 16).map(i => s"t$i").mkString(" ")         // the reference
    val b = ((1 to 8).map(i => s"t$i") ++ (1 to 8).map(i => s"u$i"))
      .mkString(" ")                                          // 1 of 9 grams shared
    val c = (1 to 16).map(i => s"v$i").mkString(" ")          // all new
    val corpus = Seq((1L, a), (2L, b), (3L, c), (4L, "a b c"))
      .toDF("doc_id", "text")
    val ref = Seq((10L, a)).toDF("doc_id", "text")
    val got = CorpusAnalysis.ngramNovelty(corpus, ref, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1L) == ((9L, 9L, 0L, Some(0.0))), got.toString)
    assert(got(2L) == ((9L, 1L, 8L, Some(8.0 / 9.0))), got.toString)
    assert(got(3L) == ((9L, 0L, 9L, Some(1.0))), got.toString)
    assert(got(4L) == ((0L, 0L, 0L, None)), got.toString)
    // duplicated grams in the ref never double-count a corpus gram
    val ref2 = Seq((10L, a), (11L, a)).toDF("doc_id", "text")
    val got2 = CorpusAnalysis.ngramNovelty(corpus, ref2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got2(1L) == 9L, got2.toString)
    intercept[IllegalArgumentException] {
      CorpusAnalysis.ngramNovelty(corpus, ref, "doc_id", "text", n = 0)
    }
  }

  // in-memory CDC reference: same md5-60 boundary test, same cut walk
  private def refCdc(text: String, div: Int, minT: Int,
      maxT: Int): Seq[(Long, Long, String)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h60(s: String): Long = java.lang.Long.parseLong(
      md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .substring(0, 15), 16)
    val toks = text.trim.split("\\s+").filter(_.nonEmpty).toSeq
    val n = toks.length
    val bp = (1 to n).filter(i => h60(toks(i - 1)) % div == 0)
    val cuts = scala.collection.mutable.ArrayBuffer(0)
    while (cuts.last < n) {
      val p = cuts.last
      val next = math.min(n, math.min(p + maxT,
        bp.find(_ >= p + minT).getOrElse(n)))
      cuts += next
    }
    cuts.toSeq.sliding(2).zipWithIndex.map { case (pair, j) =>
      val (s, e) = (pair.head, pair.last)
      (j.toLong, (e - s).toLong, toks.slice(s, e).mkString(" "))
    }.toSeq
  }

  test("cdcChunks matches the in-memory reference on real corpus text") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).cache()
    val got = CorpusAnalysis.cdcChunks(docs, "doc_id", "text",
        divisor = 8, minTokens = 2, maxTokens = 24)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getString(4)))
      .toMap
    val ref = docs.select("doc_id", "text").collect().flatMap { r =>
      refCdc(r.getString(1), 8, 2, 24).map { case (j, nt, txt) =>
        (r.getLong(0), j) -> (nt, txt) }
    }.toMap
    assert(ref.nonEmpty && got == ref,
      s"got ${got.size} chunks vs ref ${ref.size}")
    // chunks reassemble the doc exactly
    val joined = got.toSeq.groupBy(_._1._1).map { case (id, cs) =>
      id -> cs.sortBy(_._1._2).map(_._2._2).mkString(" ") }
    val texts = docs.collect().map(r => r.getLong(0) ->
      r.getString(1).trim.split("\\s+").filter(_.nonEmpty).mkString(" "))
      .toMap
    joined.foreach { case (id, t) => assert(t == texts(id), s"doc $id") }
  }

  test("cdcChunks: clamps bind; edits re-cut only local chunks") {
    import spark.implicits._
    // all-same token: hash either always or never divides — both ways
    // the maxTokens clamp forces fixed-size cuts of 5 (minTokens
    // suppresses any boundary before position 2 anyway)
    val mono = Seq((1L, Seq.fill(12)("w").mkString(" "))).toDF("doc_id", "text")
    val monoGot = CorpusAnalysis.cdcChunks(mono, "doc_id", "text",
      divisor = 1, minTokens = 5, maxTokens = 5).collect()
    assert(monoGot.map(_.getLong(2)).toSeq == Seq(5L, 5L, 2L), monoGot.toSeq)
    // shift robustness: prepend a passage; chunk hashes after the cut
    // point are shared with the original (fixed-stride windows share 0)
    val base = (1 to 200).map(i => s"tok${i * 37 % 101}x").mkString(" ")
    val edited = "inserted passage here " + base
    val two = Seq((1L, base), (2L, edited)).toDF("doc_id", "text")
    val ch = CorpusAnalysis.cdcChunks(two, "doc_id", "text").collect()
      .groupBy(_.getLong(0))
    val h1 = ch(1L).map(_.getString(3)).toSet
    val h2 = ch(2L).map(_.getString(3)).toSet
    val shared = h1.intersect(h2).size
    assert(shared >= h1.size - 2,
      s"only $shared of ${h1.size} chunk hashes survived the edit")
    // empty and null docs yield no rows
    val e = Seq((3L, ""), (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    assert(CorpusAnalysis.cdcChunks(e, "doc_id", "text").count() == 0)
    intercept[IllegalArgumentException] {
      CorpusAnalysis.cdcChunks(two, "doc_id", "text", minTokens = 0)
    }
    intercept[IllegalArgumentException] {
      CorpusAnalysis.cdcChunks(two, "doc_id", "text", divisor = 0)
    }
  }
}
