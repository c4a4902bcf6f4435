package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.expressions.TextHashExprs
import graft.functions.TextFunctions
import graft.operators.Dedup

/** Bit-exact parity between the native text-hash kernels
  * (`TextKernels` / `TextHashExprs`) and the composable HOF forms they
  * replaced in the dedup/contamination hot paths. The kernel outputs
  * feed oracle-checked queries (q_minhash_near_dup, q_simhash_near_dup,
  * q_contamination, q_near_dedup), so ANY deviation — null contract,
  * token splitting, hash truncation, fold order — breaks hash-exact
  * correctness, not just this spec.
  *
  * Two eval paths are exercised: a local Seq (interpreted
  * `nullSafeEval`) and a parquet scan (whole-stage codegen via the
  * static `TextKernels` call).
  */
class NativeKernelParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.expressions.GraftFunctions.register(s)
    s
  }

  override def afterAll(): Unit = spark.stop()

  /** Token-splitting / null-contract / unicode edge cases. */
  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "   ", "\t\n ", "\ta b", "one", "one two",
    "one two three", "a b c d e f g h i j", "a a a a a",
    "tabs\there\tand\nnewlines mixed  double  spaces",
    " leading and trailing ", "caFÉ déjà vu naïve 中文 字 and ©µ½",
    "nbsp stays one-token here", "punct!!! ??? ,,, a,b,c d;e",
    "x 'quoted' \"strings\" and\r\ncarriage returns")

  private def edgeDf: DataFrame = {
    import spark.implicits._
    edgeTexts.toDF("t")
  }

  private def docsDf: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text").as("t"))

  /** The HOF minhash fold exactly as `Dedup.minHashSignatures` computed
    * it before the kernel (single-pass aggregate over distinct shingle
    * hashes, 64 lanes via zip_with against the constant (a,b) array).
    */
  private def hofMinhashSig(text: Column, numHashes: Int): Column = {
    val p = Dedup.HashPrime
    val abArr = array(Dedup.hashParams(numHashes).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    aggregate(
      transform(array_distinct(TextFunctions.shingles(text)),
        s => pmod(TextFunctions.md5Hash60(s), lit(p))),
      array_repeat(lit(p), numHashes),
      (acc, x) => zip_with(acc, abArr,
        (m, ab) => least(m, pmod(ab("a") * x + ab("b"), lit(p)))))
  }

  /** Collects (native, hof) pairs and asserts value equality per row. */
  private def assertParity(df: DataFrame, native: Column, hof: Column,
      clue: String): Unit = {
    val rows = df.select(native.as("native"), hof.as("hof")).collect()
    assert(rows.nonEmpty)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.get(0) == r.get(1),
        s"$clue row $i: native=${r.get(0)} hof=${r.get(1)}")
    }
  }

  private def allParityChecks(df: DataFrame): Unit = {
    // ngrams: null text → empty array in the HOF's when/otherwise;
    // kernel is null-in→null-out, callers coalesce — compare as wrapped
    for (n <- Seq(1, 3, 8)) {
      assertParity(df,
        coalesce(TextHashExprs.ngramsNative(col("t"), n),
          array().cast("array<string>")),
        TextFunctions.ngrams(col("t"), n), s"ngrams n=$n")
      assertParity(df,
        coalesce(TextHashExprs.ngramHashes(col("t"), n, distinct = true),
          array().cast("array<bigint>")),
        array_distinct(transform(TextFunctions.ngrams(col("t"), n),
          g => TextFunctions.md5Hash60(g))), s"ngramHashes distinct n=$n")
    }
    assertParity(df,
      coalesce(TextHashExprs.ngramHashes(col("t"), 3, distinct = false),
        array().cast("array<bigint>")),
      transform(TextFunctions.ngrams(col("t"), 3),
        g => TextFunctions.md5Hash60(g)), "ngramHashes keep-dups n=3")
    for (nh <- Seq(16, 64)) {
      assertParity(df,
        coalesce(TextHashExprs.minhashSig(col("t"), nh),
          array_repeat(lit(Dedup.HashPrime), nh)),
        hofMinhashSig(col("t"), nh), s"minhashSig numHashes=$nh")
    }
    // simhash is null-in→null-out on BOTH sides (tokens(null) = null
    // propagates through the HOF aggregate) — no coalesce
    assertParity(df, TextHashExprs.simhash64Native(col("t")),
      TextFunctions.simhash64(col("t")), "simhash64")
    // bigram/trigram hash-row kernels vs the zip_with+md5Hash60 HOF
    // forms they replaced in LanguageModel.bigramRows/trigramRows
    // (null text → null on both sides; < n tokens → empty array)
    assertParity(df, TextHashExprs.bigramHashRows(col("t")),
      hofBigramRows(col("t")), "bigramHashRows")
    assertParity(df, TextHashExprs.trigramHashRows(col("t")),
      hofTrigramRows(col("t")), "trigramHashRows")
  }

  /** The HOF bigram-row projection exactly as `LanguageModel.bigramRows`
    * computed it before the kernel.
    */
  private def hofBigramRows(t: Column): Column = {
    val toks = TextFunctions.tokens(t)
    zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (c, w) => struct(
        TextFunctions.md5Hash60(c).as("ctx_hash"),
        TextFunctions.md5Hash60(concat(c, lit(" "), w)).as("big_hash"),
        TextFunctions.md5Hash60(w).as("w_hash")))
  }

  /** The HOF trigram-row projection exactly as
    * `LanguageModel.trigramRows` computed it before the kernel.
    */
  private def hofTrigramRows(t: Column): Column = {
    val toks = TextFunctions.tokens(t)
    zip_with(
      zip_with(
        slice(toks, lit(1), greatest(size(toks) - 2, lit(0))),
        slice(toks, lit(2), greatest(size(toks) - 2, lit(0))),
        (a, b) => struct(a.as("a"), b.as("b"))),
      slice(toks, lit(3), greatest(size(toks) - 2, lit(0))),
      (ab, c) => struct(
        TextFunctions.md5Hash60(
          concat(ab("a"), lit(" "), ab("b"))).as("tri_ctx_hash"),
        TextFunctions.md5Hash60(concat(ab("a"), lit(" "), ab("b"),
          lit(" "), c)).as("tri_hash"),
        TextFunctions.md5Hash60(ab("b")).as("ctx_hash"),
        TextFunctions.md5Hash60(
          concat(ab("b"), lit(" "), c)).as("big_hash"),
        TextFunctions.md5Hash60(c).as("w_hash")))
  }

  test("kernels match HOF forms on edge cases (interpreted eval path)") {
    allParityChecks(edgeDf)
  }

  test("kernels match HOF forms on the documents table (codegen path)") {
    allParityChecks(docsDf)
  }

  test("short/null docs: sentinel + null contracts") {
    import spark.implicits._
    val rows = Seq("one two", null).toDF("t").select(
      coalesce(TextHashExprs.minhashSig(col("t"), 8),
        array_repeat(lit(Dedup.HashPrime), 8)).as("sig"),
      TextHashExprs.simhash64Native(col("t")).as("sh")).collect()
    // < 3 tokens → every lane holds the sentinel (unattainable for a
    // real doc: the fold's mod p is always < p)
    assert(rows(0).getSeq[Long](0) == Seq.fill(8)(Dedup.HashPrime))
    assert(!rows(0).isNullAt(1)) // short-but-present text still simhashes
    assert(rows(1).getSeq[Long](0) == Seq.fill(8)(Dedup.HashPrime))
    assert(rows(1).isNullAt(1))
  }

  test("ngramJaccardNative matches the HOF form on shifted doc pairs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = docs.select(col("doc_id").as("k"), col("text").as("ta"))
    val b = docs.select((col("doc_id") - 1).as("k"), col("text").as("tb"))
    assertParity(a.join(b, Seq("k")),
      Dedup.ngramJaccardNative(col("ta"), col("tb")),
      Dedup.ngramJaccard(col("ta"), col("tb")), "ngramJaccard")
  }

  /** Language/quality edge rows: marker-word dominance per language,
    * accent-only tie breaks, exact ties (priority order), zh override,
    * case folding, stopword/punct extremes.
    */
  private def langEdgeDf: DataFrame = {
    import spark.implicits._
    Seq(
      null, "", " ", "the and of is with everything english",
      "el la los las es y de con", "der die das und ist mit",
      "le les est et avec des", "la la la", // la scores es AND fr — tie
      "ñ", "¿que? ¡si!", "äöü ß", "é è ê à ç œ",
      "中文 the and of", "text 字", "THE AND OF IS WITH",
      "Der Die Das Und IST MIT", "punct!!! ### ... … only",
      "the a an and of to in is", // all stopwords
      "1234 5678 @@@@ ////", "mixed la der le the und est con",
      "a" * 250 + " the") // long token, len>100 path
      .toDF("t")
  }

  test("langId / qualityScore / tokenCount kernels match the SQL forms") {
    for ((df, tag) <- Seq((edgeDf, "edge"), (langEdgeDf, "lang"),
        (docsDf, "docs"))) {
      assertParity(df, TextFunctions.langId(col("t")),
        TextFunctions.langIdSql(col("t")), s"langId $tag")
      assertParity(df, TextFunctions.qualityScore(col("t")),
        TextFunctions.qualityScoreSql(col("t")), s"qualityScore $tag")
      assertParity(df, TextFunctions.tokenCount(col("t")),
        size(filter(split(trim(col("t")), "\\s+"),
          x => length(x) > 0)), s"tokenCount $tag")
    }
  }

  test("image kernels match the SQL folds (grid fixture, hashes, edges)") {
    import spark.implicits._
    import graft.operators.Multimodal
    // the HOF fixture exactly as SparkEntry.syntheticLumaGrids built it
    def hofGrid(idc: Column): Column = {
      val base = (idc % 64).cast("long")
      transform(sequence(lit(0), lit(7)), y =>
        transform(sequence(lit(0), lit(8)), x =>
          pmod(base * lit(2654435761L) + y.cast("long") * lit(131L) +
            x.cast("long") * lit(17L) +
            when(idc >= 250 && y === 0 && x === 0, 50L)
              .otherwise(0L), lit(256L)).cast("int")))
    }
    val ids = ((0L to 70L) ++ (245L to 260L) ++ Seq(100000L, 100019L))
      .toDF("id")
    assertParity(ids,
      graft.expressions.ImageExprs.lumaGridNative(col("id")),
      hofGrid(col("id")), "lumaGrid")
    // hashes over the fixture grids (both eval paths: the fixture is
    // a projection, so this exercises codegen)
    val grids = ids.select(col("id"),
      graft.expressions.ImageExprs.lumaGridNative(col("id")).as("grid"))
    assertParity(grids, Multimodal.dHash64(col("grid")),
      Multimodal.dHash64Sql(col("grid")), "dHash64 fixture")
    assertParity(grids, Multimodal.aHash64(col("grid")),
      Multimodal.aHash64Sql(col("grid")), "aHash64 fixture")
    // parity on every shape the SQL folds accept: null grid (null-safe
    // element_at → bit contributions 0), exact 8×9, and larger grids.
    // Short/ragged grids are NOT comparable — under ANSI mode the SQL
    // fold's element_at THROWS on out-of-bounds, so no oracle-checked
    // result can depend on them; the kernel's total (never-throw)
    // behavior there is pinned separately below.
    val sqlSafe: Seq[Seq[Seq[Int]]] = Seq(
      null,
      Seq.fill(8)(Seq.fill(9)(7)),
      Seq.fill(10)(Seq.fill(12)(13)),
      Seq.tabulate(8)(y => Seq.tabulate(9)(x => y * 31 + x * 17)))
    val rdf = sqlSafe.toDF("grid")
    assertParity(rdf, Multimodal.dHash64(col("grid")),
      Multimodal.dHash64Sql(col("grid")), "dHash64 shapes")
    assertParity(rdf, Multimodal.aHash64(col("grid")),
      Multimodal.aHash64Sql(col("grid")), "aHash64 shapes")
    // kernel-only: short/ragged grids hash total (no throw) — missing
    // cells contribute no dHash bits and zero the aHash total
    val ragged = Seq[Seq[Seq[Int]]](Seq.empty, Seq(Seq(1, 2, 3)),
      Seq.fill(8)(Seq.fill(4)(200)), Seq.fill(3)(Seq.fill(9)(255)))
      .toDF("grid")
      .select(Multimodal.dHash64(col("grid")).as("d"),
        Multimodal.aHash64(col("grid")).as("a"))
      .collect()
    ragged.foreach { r =>
      assert(r.getLong(0) == 0L && r.getLong(1) == 0L, r.toString)
    }
  }

  test("concatBinaries matches the aggregate+concat fold") {
    import spark.implicits._
    val rows: Seq[Seq[Array[Byte]]] = Seq(
      null, Seq.empty,
      Seq(Array[Byte](1, 2, 3)),
      Seq(Array[Byte](), Array[Byte](9), Array[Byte](0, -1, 127)),
      Seq.tabulate(300)(i => Array.fill(i % 7)((i % 251).toByte)))
    val df = rows.toDF("rs")
    val got = df.select(
      graft.expressions.BytesExprs.concatBinaries(col("rs")).as("native"),
      aggregate(col("rs"), lit(Array.empty[Byte]),
        (acc, x) => concat(acc, x)).as("hof")).collect()
    got.zipWithIndex.foreach { case (r, i) =>
      val (n, h) = (r.get(0), r.get(1))
      assert((n == null) == (h == null), s"row $i nullness: $n vs $h")
      if (n != null)
        assert(java.util.Arrays.equals(n.asInstanceOf[Array[Byte]],
          h.asInstanceOf[Array[Byte]]), s"row $i bytes differ")
    }
  }

  test("concatBinaries codegen compiles over a non-nullable child") {
    // collect_list's output is non-nullable in Catalyst; before the
    // nullable override BinaryConcatExpr's generated resultCode
    // assigned ev.isNull — the literal `false` — and Janino refused
    // the method, silently running the subtree interpreted.
    // fallback=false makes any such compile failure loud.
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = Seq((1L, Array[Byte](1, 2)), (1L, Array[Byte](3)),
        (2L, Array[Byte]())).toDF("id", "b")
        .groupBy(col("id"))
        .agg(sort_array(collect_list(col("b"))).as("rs"))
        .select(col("id"),
          graft.expressions.BytesExprs.concatBinaries(col("rs")).as("c"))
      val got = df.collect()
        .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("c").toSeq).toMap
      assert(got(1L) == Seq[Byte](1, 2, 3), got.toString)
      assert(got(2L) == Seq.empty[Byte], got.toString)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
        case None => spark.conf.unset("spark.sql.codegen.fallback")
      }
    }
  }

  test("SQL surface accepts an untyped NULL (implicit cast, like builtins)") {
    val r = spark.sql(
      """SELECT simhash64_native(NULL) AS sh,
        |       minhash_sig_native(NULL, 4) AS sig,
        |       ngrams_native(NULL, 2) AS g,
        |       ngram_hashes_native(NULL, 3, true) AS gh""".stripMargin)
      .collect()(0)
    (0 until 4).foreach(i => assert(r.isNullAt(i)))
  }

  test("kernel expressions stay inside WholeStageCodegen") {
    val df = docsDf.select(
      TextHashExprs.minhashSig(col("t"), 64).as("sig"),
      TextHashExprs.simhash64Native(col("t")).as("sh"),
      TextHashExprs.ngramHashes(col("t"), 8, distinct = true).as("ghs"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [minhash_sig_native"), plan)
    assert(!plan.contains("ScalaUDF"), plan)
    assert(df.count() > 0) // generated code compiles + runs
  }
}
