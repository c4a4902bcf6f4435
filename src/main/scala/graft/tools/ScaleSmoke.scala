package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.mix64

/** Planted-truth checks at scale, as named steps timed through
  * [[Measure.Recorder]], in run order: `extractLoad` (one extract-load
  * request, `n` features in each of two layers, with the engine's stage
  * times), the corpus, vector and media steps (`dedup` ... `mpegtsMeta`,
  * over `nDocs` docs and `nVec` vectors), `corpusBuild` (`nCb` docs) and
  * five streaming steps at fixed multi-GiB sizes (`shardStream` ...
  * `mediaStream`). Each run of a step builds its inputs and scratch
  * directories afresh. `<outDir>/scale_<tag>.json` holds, per run, the
  * wall time, the used heap after it, its Spark stages with their scopes
  * and the counts it checked; and host, cores and sizes. Run:
  * `sbt "runMain graft.tools.ScaleSmoke <outDir> <tag> [--runs N] [n [nDocs [nVec [nCb]]]] [step...]"`
  * (sizes 500000 and 1000000, one run; no step name runs all).
  */
object ScaleSmoke {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.configure(SparkSession.builder()).master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // AUTO broadcast off: the synthetic corpora make side tables as
      // big as the corpus (unique tokens → model ≈ corpus), and AQE's
      // compressed-shuffle estimates under-measure them — at 1M docs it
      // tried to driver-build a 14.5M-row bigram model and OOM'd the
      // shared local-mode heap. The library broadcasts EXPLICITLY where
      // a side is small by design (broadcast() hints are always
      // honored), so the smoke exercising only designed broadcasts is
      // the honest configuration for memory too.
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try println("SCALE wrote " + Measure.runSteps(spark, "scale", args.toSeq,
      Seq("n" -> 500000L, "nDocs" -> 1000000L, "nVec" -> 1000000L, "nCb" -> 1000000L)) {
      sizes => val Seq(n, nDocs, nVec, nCb) = sizes.map(_.toInt)
        new ScaleSteps(spark, n, nDocs, nVec, nCb).steps
    }) finally spark.stop()
  }
}

/** [[ScaleSmoke]]'s steps at one set of sizes. A step reports the counts
  * it checked through `report`.
  */
private final class ScaleSteps(spark: SparkSession, n: Int, nDocs: Int, nVec: Int, nCb: Int) {
  import spark.implicits._

  private val all = Seq.newBuilder[(String, () => Measure.Counts)]
  private val counts = Seq.newBuilder[(String, Any)]
  private def report(kv: (String, Any)*): Unit = counts ++= kv
  private def step(name: String)(body: => Unit): Unit =
    all += name -> { () => counts.clear(); body; counts.result() }

  /** Per group of 10 docs: ids base..base+7 unique, base+8 an exact
    * duplicate of base, base+9 a near-dup of base (last of 30 tokens
    * changed -> word-trigram Jaccard 27/29 ~= 0.931). Generation is a
    * pure projection over spark.range (distributed, no driver loop).
    */
  private def syntheticDocs(): DataFrame = {
    val k = col("id") % 10
    val base = col("id") - k
    val tokenSeed = when(k >= 8, base).otherwise(col("id"))
    val toks = (0 until 30).map { j =>
      val s = if (j == 29) when(k === 9, col("id")).otherwise(tokenSeed)
              else tokenSeed
      substring(md5(concat_ws(":", s.cast("string"), lit(j))), 1, 8)
    }
    // materialized: as a live expression every action of a step would
    // re-run 30 md5s × 1M rows (and a broadcast-join consumer would re-run
    // them PER JOINED ROW — codegen defers unevaluated stream-side columns
    // into the build loop). A real corpus is a parquet scan, i.e. already
    // materialized; checkpointing keeps the fixture faithful to that shape.
    spark.range(nDocs)
      .select(col("id"), concat_ws(" ", toks: _*).as("text"))
      .localCheckpoint(true)
  }

  /** `nVec` synthetic 64-dim embeddings with planted near-dups (per
    * group of 10: id base+9 = base's vector with dim 0 shifted 0.05 →
    * cosine ≈ 0.9999). Components are pure xxhash64 projections —
    * distributed, deterministic, no RNG state. At 1M vectors the default
    * 6-plane geometry would put ~16k vectors in every bucket (all capped
    * away); 16 planes → 65k buckets → ~15 per bucket, which is the point:
    * planes must scale with log(n).
    */
  private def syntheticVecs(): DataFrame = {
    val vk = col("id") % 10
    val vseed = when(vk === 9, col("id") - vk).otherwise(col("id"))
    def comp(j: Int): Column = {
      val b = (xxhash64(vseed.cast("string"), lit(j)) % 100000L)
        .cast("double") / 100000.0
      if (j == 0) when(vk === 9, b + 0.05).otherwise(b) else b
    }
    // same materialization rationale as `docs`: 64 hash-derived
    // components per row must be computed once, not once per
    // broadcast-joined PAIR (the semanticContamination scan is corpus ×
    // bench — unmaterialized, its 1M×100 pairs re-ran the 64-component
    // generation 100× and turned a ~1-min section into 20+ min)
    spark.range(nVec).select(col("id"),
      array((0 until 64).map(comp): _*).cast("array<float>").as("v"))
      .localCheckpoint(true)
  }

  step("extractLoad") {
    val scaleDir = Fixtures.scratchDir("scale")
    def layer(geom: Int => String) = Fixtures.featureCollection(""""name":"scale"""",
      Iterator.range(0, n).map(i =>
        s"""{"type":"Feature","geometry":${geom(i)},"properties":{"_id":"f$i","idx":$i,"pad":"xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"}}"""))
    val zipFile = Fixtures.writeZip(scaleDir.resolve("scale.zip"),
      "nodes.geojson" -> layer(
        i => s"""{"type":"Point","coordinates":[${i * 1e-5}, ${i * 2e-5}, ${i % 9}]}"""),
      "edges.geojson" -> layer(
        i => s"""{"type":"LineString","coordinates":[[${i * 1e-5},1.0,5.0],[2.0,${i * 2e-5},6.0]]}""")).toFile
    report("archiveBytes" -> zipFile.length())
    val wh = scaleDir.resolve("wh").toString
    val engine = new graft.service.ExtractLoadEngine(spark, wh)
    val resp = engine.processRequest(graft.model.QueueMessage("scale|1", "wf",
      graft.model.ExtractLoadRequest("osw", zipFile.getAbsolutePath, "scale_ds", "smoke")))
    require(resp.success, resp.message)
    val nodes = engine.warehouse.table("node").count()
    val edges = engine.warehouse.table("edge").count()
    report("nodes" -> nodes, "edges" -> edges, "engineStages" -> engine.lastStageTimings)
    require(nodes == n && edges == n)
    Fixtures.delete(scaleDir)
  }

  step("dedup") {
    val docs = syntheticDocs()
    val kept = graft.operators.Dedup.exactDedup(docs, "id", "text").count()
    require(kept == nDocs - nDocs / 10L, s"exactDedup kept $kept")
    val pairsDf = graft.operators.Dedup.minHashNearDupPairs(docs, "id", "text")
    val pairs = pairsDf.count()
    // 3 planted pairs per group (J=1, .931, .931); band recall at
    // J=.931 with 16 bands x 4 rows is 1-2e-10, so demand near-all.
    val expected = 3L * (nDocs / 10L)
    require(pairs <= expected && pairs >= expected - 5,
      s"minhash pairs $pairs of $expected")
    // connected components over the pairs: each group of 10 docs holds
    // one 3-doc component (base, base+8, base+9) + 7 singletons
    val clusters = graft.operators.Dedup
      .nearDupClusters(docs, "id", pairsDf)
      .groupBy(org.apache.spark.sql.functions.col("cluster")).count().count()
    val expectedClusters = 8L * (nDocs / 10L)
    require(math.abs(clusters - expectedClusters) <= 5,
      s"clusters $clusters of $expectedClusters")
    report("docs" -> nDocs, "exactKept" -> kept, "minhashPairs" -> pairs, "clusters" -> clusters)
  }

  step("corpus") {
    // decontamination: bench = the base doc of the first 1000 groups,
    // corpus = all dup/near-dup docs — each bench doc must be hit by
    // exactly its own 2 partners (23/23 and 22/23 shared 8-grams; no
    // cross-group 8-gram can match, tokens are seed-unique)
    val docs = syntheticDocs()
    val benchN = math.min(nDocs, 10000)
    val contam = graft.operators.CorpusAnalysis.contamination(
      docs.filter(col("id") % 10 >= 8), docs.filter(col("id") % 10 === 0
        && col("id") < benchN), "id", "text").count()
    require(contam == 2L * (benchN / 10), s"contamination pairs $contam")
    // chunking: 30 tokens at maxTokens=16/stride=12 → exactly 3 windows
    val chunks = graft.operators.CorpusAnalysis
      .chunkDocs(docs, "id", "text", maxTokens = 16, stride = 12).count()
    require(chunks == 3L * nDocs, s"chunks $chunks")
    report("contamPairs" -> contam, "chunks" -> chunks)
  }

  step("spans") {
    // span-level duplication: 30-token docs, n=12 → 19 windows/doc.
    // Per group of 10: base and its exact copy (+8) share all 19
    // windows; the near-dup (+9, last token changed) shares 18 and owns
    // 1 unique; the 7 unique docs (md5 tokens, position-distinct) have
    // zero repeated windows. Exact expectations: 3 dup docs per group,
    // sum(dup_spans) = 19+19+18 = 56 per group.
    val docs = syntheticDocs()
    val spans = graft.operators.CorpusAnalysis
      .dupSpans(docs, "id", "text", n = 12)
      .agg(count(lit(1)), sum(when(col("dup_spans") > 0, 1L).otherwise(0L)),
        sum(col("dup_spans")))
      .collect()(0)
    require(spans.getLong(0) == nDocs, s"dupSpans rows ${spans.getLong(0)}")
    require(spans.getLong(1) == 3L * (nDocs / 10),
      s"dup docs ${spans.getLong(1)}")
    require(spans.getLong(2) == 56L * (nDocs / 10),
      s"dup spans ${spans.getLong(2)}")
    report("dupDocs" -> spans.getLong(1), "dupSpans" -> spans.getLong(2))
  }

  step("incremental") {
    // incremental dedup: corpus = the 8 unique docs per group (800k),
    // snapshot = the exact copy + near-dup (200k) → exactly the 100k
    // near-dups are admitted (exact copies collapse on fingerprint)
    val docs = syntheticDocs()
    val admitted = graft.operators.Dedup.incrementalDedup(
      docs.filter(col("id") % 10 >= 8), docs.filter(col("id") % 10 < 8),
      "id", "text", expectedItems = nDocs.toLong, numBits = 8L * nDocs)
      .count()
    require(admitted == nDocs / 10L, s"incremental admitted $admitted")
    report("admitted" -> admitted, "snapshot" -> 2L * (nDocs / 10))
  }

  step("incrementalNear") {
    // incremental NEAR-dedup: corpus = the 8 unique docs per group
    // (800k); snapshot = the 100k near-dups (trigram J=0.931 vs their
    // base, all dropped) + 100k token-disjoint fresh docs (kept).
    // Exactly the fresh half must survive.
    val docs = syntheticDocs()
    val freshToks = (0 until 30).map(j =>
      substring(md5(concat_ws(":", lit("fresh"), col("id").cast("string"),
        lit(j))), 1, 8))
    val snapNear = docs.filter(col("id") % 10 === 9)
    val snapFresh = spark.range(nDocs, nDocs + nDocs / 10L)
      .select(col("id"), concat_ws(" ", freshToks: _*).as("text"))
    val nearAdmitted = graft.operators.Dedup.incrementalNearDedup(
      snapNear.unionByName(snapFresh), docs.filter(col("id") % 10 < 8),
      "id", "text").count()
    // >= with slack: a missed near-dup (LSH band miss, p ~ 2e-10/doc)
    // would ADMIT extra rows — same tolerance as the pairs check above
    require(nearAdmitted >= nDocs / 10L && nearAdmitted <= nDocs / 10L + 5,
      s"near admitted $nearAdmitted")
    report("admitted" -> nearAdmitted, "snapshot" -> 2L * (nDocs / 10))
  }

  step("stratified") {
    // exact-N stratified sample over 16 synthetic strata: the bounded
    // smallest-k aggregation must return exactly n rows per stratum
    val docs = syntheticDocs()
    val strat = graft.operators.CorpusAnalysis.stratifiedSampleN(
      docs.withColumn("src", (col("id") % 16).cast("string")),
      "id", "src", n = 1000, salt = "smoke")
      .groupBy(col("src")).count().agg(count(lit(1)), min(col("count")),
        max(col("count"))).collect()(0)
    require(strat.getLong(0) == 16 && strat.getLong(1) == 1000L &&
      strat.getLong(2) == 1000L, s"stratified $strat")
    report("strata" -> strat.getLong(0), "perStratum" -> strat.getLong(1))
  }

  step("vectors") {
    val vecs = syntheticVecs()
    val vPairs = graft.operators.Dedup.embeddingNearDupPairs(
      vecs, "id", "v", threshold = 0.95, planes = 16, tables = 4).count()
    val expPairs = nVec / 10L
    // a planted pair is missed only if >= 2 of 16 signs flip in EVERY
    // table; random pairs can't reach cosine 0.95 — demand near-all
    require(vPairs <= expPairs && vPairs >= expPairs - 20,
      s"embedding pairs $vPairs of $expPairs")
    // the AUTO default (planes = log2(n/target) = 12 at 1M) must land
    // the same recall — this exact run returned ZERO pairs when the
    // default was a fixed 6 planes (every bucket over the cap)
    val vAuto = graft.operators.Dedup.embeddingNearDupPairs(
      vecs, "id", "v", threshold = 0.95).count()
    require(vAuto <= expPairs && vAuto >= expPairs - 20,
      s"auto-plane pairs $vAuto of $expPairs")
    report("autoNearDupPairs" -> vAuto, "vecs" -> nVec)
    // ANN: 100 queries (group bases); the planted partner must be the
    // top-1 neighbor for every query (multi-probe covers 1-bit flips)
    val queries = vecs.filter(col("id") % 10 === 0 && col("id") < 1000)
    val top1 = graft.operators.Similarity.lshBucketedTopK(
      vecs, queries, "id", "v", k = 3, planes = 16, tables = 4)
      .filter(col("rank") === 1).collect()
    require(top1.length == 100, s"got ${top1.length} queries back")
    top1.foreach { r =>
      require(r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 9,
        s"wrong top-1: $r")
    }
    report("nearDupPairs" -> vPairs, "knnTop1" -> top1.length)
  }

  step("lineScrub") {
    // line-level boilerplate scrub at 1M docs: every doc gets a
    // shared FOOTER line (1M occurrences → banned) and a unique line
    // (kept); base text lines occur at most twice per group (base +
    // exact copy) < minCount 3 → kept. Exact truth: 2 lines per doc out.
    val docs = syntheticDocs()
    val scrubbed = graft.operators.CorpusAnalysis.removeRepeatedLines(
      docs.select(col("id"), concat_ws("\n", col("text"), lit("FOOTER"),
        concat(lit("u"), col("id").cast("string"))).as("text")),
      "id", "text")
    val lineAgg = scrubbed
      .select(size(split(col("text"), "\n", -1)).cast("long").as("n"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("lines")).collect()(0)
    require(lineAgg.getLong(0) == nDocs, s"scrub docs ${lineAgg.getLong(0)}")
    require(lineAgg.getLong(1) == 2L * nDocs, s"scrub lines ${lineAgg.getLong(1)}")
    report("docs" -> nDocs, "linesKept" -> lineAgg.getLong(1))
  }

  step("spanRemoval") {
    // span removal (ExactSubstr second half) at 1M docs, exact
    // planted truth per 10-doc group (30-token docs, n=12 → 19 windows):
    // base and base+8 are identical → all 19 windows banned → both
    // scrub to EMPTY; base+9 differs only in token 29 → windows 0..17
    // banned → exactly 1 token survives; the 7 unique docs keep all 30.
    // Kept tokens per group = 0 + 0 + 1 + 7·30 = 211.
    val docs = syntheticDocs()
    val spansRm = graft.operators.CorpusAnalysis.removeDupSpans(
      docs, "id", "text", n = 12)
    val spanAgg = spansRm
      .select(when(col("text") === "", lit(0L))
        .otherwise(size(split(col("text"), " ")).cast("long")).as("n"))
      .agg(count(lit(1)).as("docs"), sum(col("n")).as("toks")).collect()(0)
    require(spanAgg.getLong(0) == nDocs, s"spanRm docs ${spanAgg.getLong(0)}")
    require(spanAgg.getLong(1) == 211L * nDocs / 10,
      s"spanRm kept tokens ${spanAgg.getLong(1)} of ${211L * nDocs / 10}")
    report("docs" -> nDocs, "tokensKept" -> spanAgg.getLong(1))
  }

  step("spanRemovalKeepFirst") {
    // keep-first variant: base is the canonical first occurrence of
    // every shared window → intact (30); base+8 loses all; base+9
    // keeps 1; uniques keep 30. 30 + 0 + 1 + 7·30 = 241 per group.
    val docs = syntheticDocs()
    val spanKeep = graft.operators.CorpusAnalysis.removeDupSpans(
      docs, "id", "text", n = 12, keepFirst = true)
      .select(when(col("text") === "", lit(0L))
        .otherwise(size(split(col("text"), " ")).cast("long")).as("n"))
      .agg(sum(col("n")).as("toks")).collect()(0)
    require(spanKeep.getLong(0) == 241L * nDocs / 10,
      s"spanRm keepFirst kept ${spanKeep.getLong(0)} of ${241L * nDocs / 10}")
    report("tokensKept" -> spanKeep.getLong(0))
  }

  step("centroids") {
    // centroid assignment at scale: 1024 centroids (the √N counts a
    // web-scale SemDeDup run wants) over 1M vectors with PLANTED cluster
    // structure. Centers are xxhash64-derived (computed once through
    // Spark, collected — 1024 × 64 doubles), each vector = its group's
    // center + jitter ≤ 0.004, far below inter-center distances; the
    // closure-matrix kernel assignment must recover every group exactly,
    // as a NARROW map (no shuffle, no plan bloat — the old literal-array
    // lambda carried 1024×65 literal nodes and walked an expression tree
    // per (row, centroid)).
    val nCent = 1024
    def centerComp(g: Column, j: Int): Column =
      (xxhash64(g.cast("string"), lit(j), lit("c")) % 1000L)
        .cast("double") / 100.0
    val centers = spark.range(nCent)
      .select(col("id"), array((0 until 64).map(j => centerComp(col("id"), j)): _*))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Double](1).toArray))
    val g = col("id") % nCent
    val cvecs = spark.range(nVec).select(col("id"),
      array((0 until 64).map(j =>
        centerComp(g, j) + (col("id") % 5).cast("double") * 0.001): _*).as("v"))
    val mismatched = cvecs
      .select(g.cast("int").as("g"),
        element_at(graft.expressions.VectorHashExprs.nearestCentroidsNative(
          col("v"), centers, 1), 1)("cid").as("cid"))
      .filter(col("g") =!= col("cid")).count()
    require(mismatched == 0, s"$mismatched of $nVec misassigned at $nCent centroids")
    report("centroids" -> nCent, "vecs" -> nVec)
  }

  step("kmeansDistributed") {
    // distributed k-means: full-corpus Lloyd's at k=256 — per iteration
    // one narrow assignment pass + one k-row keyed aggregation; driver
    // holds only the k x dim centroid matrix (flat heap regardless of
    // corpus size)
    val vecs = syntheticVecs()
    val km = graft.operators.Similarity.kmeansCentroidsDistributed(
      vecs, "id", "v", k = 256, iters = 2)
    require(km.length == 256 && km.forall(_._2.length == 64),
      s"kmeans returned ${km.length}")
    report("vecs" -> nVec)
  }

  step("packing") {
    // sequence packing at scale: every doc is exactly 30 tokens, so
    // each 2048-token pack holds exactly 68 docs and the pack count per
    // shard is ceil(count/68) — assert the packing exactly.
    // cache: two actions below (pack aggregate + shard counts) must not
    // re-run the tokenize+shuffle+sort pipeline twice
    val docs = syntheticDocs()
    val packed = graft.operators.CorpusAnalysis.packSequences(
      docs, "id", "text", maxTokens = 2048, shards = 64).cache()
    val packAgg = packed.groupBy(col("shard"), col("pack_id"))
      .agg(sum(col("doc_tokens")).as("tok"), count(lit(1)).as("n"))
      .agg(count(lit(1)).as("packs"), max(col("tok")).as("maxTok"),
        sum(col("n")).as("docs")).collect()(0)
    val shardCounts = packed.groupBy(col("shard")).count().collect()
      .map(_.getLong(1))
    val expPacks = shardCounts.map(c => (c + 67) / 68).sum
    require(packAgg.getAs[Long]("docs") == nDocs, s"pack rows $packAgg")
    require(packAgg.getAs[Long]("maxTok") <= 2048, s"overfull pack $packAgg")
    require(packAgg.getAs[Long]("packs") == expPacks,
      s"packs ${packAgg.getAs[Long]("packs")} of $expPacks")
    report("docs" -> nDocs, "packs" -> expPacks)
  }

  step("pq") {
    // PQ at scale: encode the 1M synthetic vectors (narrow kernel,
    // no shuffle) with a fitted 8x16 codebook, then ADC top-1 for 100
    // group-base queries. Planted truth: the near-identical partner
    // (id+9, dim 0 shifted 0.05) is top-1 unless it straddles a
    // subspace-0 centroid boundary AND a random vector lands closer in
    // code space — demand >= 95/100 and exact-identical self codes.
    val vecs = syntheticVecs()
    val queries = vecs.filter(col("id") % 10 === 0 && col("id") < 1000)
    val pqCb = graft.operators.ProductQuantization.fitCodebook(
      vecs, "id", "v", m = 8, k = 16)
    val encoded = graft.operators.ProductQuantization.encode(
      vecs, "id", "v", pqCb)
    val encCount = encoded.filter(!exists(col("codes"), c => c.isNull)).count()
    require(encCount == nVec, s"encoded $encCount of $nVec")
    val pqTop1 = graft.operators.ProductQuantization.adcTopK(
      vecs, queries, "id", "v", k = 1, pqCb)
      .filter(col("rank") === 1).collect()
    require(pqTop1.length == 100, s"got ${pqTop1.length} PQ queries back")
    val pqHits = pqTop1.count(r =>
      r.getAs[Long]("neighbor_id") == r.getAs[Long]("query_id") + 9)
    require(pqHits >= 95, s"PQ planted top-1: $pqHits/100")
    report("vecs" -> nVec, "adcTop1" -> pqHits)
  }

  step("bm25") {
    // BM25 at scale: postings over 1M 30-token docs (~30M token
    // instances, hash-keyed), 100 group-base doc texts as queries.
    // Exact truth: a base query's text exists verbatim in docs base and
    // base+8 (exact duplicate) — identical scores, tie-break id ASC —
    // and base+9 shares 29/30 tokens: top-3 = (base, base+8, base+9).
    val docs = syntheticDocs()
    val bmQueries = docs.filter(col("id") % 10 === 0 && col("id") < 1000)
      .select(col("id").as("query_id"), col("text").as("qtext"))
    val bm = graft.operators.Retrieval.bm25TopK(docs, bmQueries, "id",
      "text", "query_id", "qtext", k = 3)
      .collect().groupBy(_.getAs[Long]("query_id"))
    require(bm.size == 100, s"got ${bm.size} BM25 queries back")
    bm.foreach { case (q, rows) =>
      val byRank = rows.sortBy(_.getAs[Int]("rank"))
        .map(_.getAs[Long]("neighbor_id")).toSeq
      require(byRank == Seq(q, q + 8, q + 9),
        s"BM25 top-3 for $q: $byRank")
    }
    report("docs" -> nDocs)
  }

  step("bigramLm") {
    // bigram LM scoring at 1M docs: model trained on the id%10==0
    // slice (100k docs). Planted truth: an exact copy (id%10==8) has
    // the same text as its base → IDENTICAL sum_prob bit-for-bit; a
    // base doc's 29 bigrams are all in the model (each context seen
    // once) → p = 2/(1+V) per bigram, while the 7 unique docs score
    // 1/V per bigram — so every base strictly out-scores its group's
    // unique docs. Assert copy-equality exactly for 1000 groups and
    // the ordering corpus-wide via averages.
    val docs = syntheticDocs()
    val lmScores = graft.operators.LanguageModel.bigramLmScores(
      docs, docs.filter(col("id") % 10 === 0), "id", "text").cache()
    val lmAgg = lmScores.agg(count(lit(1)),
      avg(when(col("id") % 10 === 0, col("avg_prob"))),
      avg(when(col("id") % 10 < 8, when(col("id") % 10 > 0, col("avg_prob")))))
      .collect()(0)
    require(lmAgg.getLong(0) == nDocs, s"lm rows ${lmAgg.getLong(0)}")
    require(lmAgg.getDouble(1) > lmAgg.getDouble(2),
      s"in-model docs must out-score unique docs: $lmAgg")
    val copyMismatch = lmScores.filter(col("id") % 10 === 0)
      .filter(col("id") < 10000)
      .select((col("id") + 8).as("id"), col("sum_prob").as("base_sum"))
      .join(lmScores, Seq("id"))
      .filter(col("sum_prob") =!= col("base_sum")).count()
    require(copyMismatch == 0, s"$copyMismatch exact copies scored differently")
    lmScores.unpersist()
    report("docs" -> nDocs)
  }

  step("tokenBudget") {
    // token-budget sample: every doc is exactly 30 tokens, so a budget
    // of 15 tokens per doc (15M at 1M docs) keeps EXACTLY half the docs
    // summing to exactly the budget — the histogram walk + boundary
    // window must land the precise prefix.
    val docs = syntheticDocs()
    val budget = 15L * nDocs
    val tb = graft.operators.DataSelection.sampleTokenBudget(
      docs, "id", "text", budgetTokens = budget)
      .agg(count(lit(1)), sum(col("n_tokens"))).collect()(0)
    require(tb.getLong(0) == nDocs / 2L, s"budget kept ${tb.getLong(0)}")
    require(tb.getLong(1) == budget, s"budget tokens ${tb.getLong(1)}")
    report("keptDocs" -> tb.getLong(0), "tokens" -> tb.getLong(1))
  }

  step("mergeCorpora") {
    // multi-corpus merge at 1M docs: curated = the 800k unique docs
    // (id%10<8), crawl = the full 1M (re-containing all curated texts +
    // 100k exact copies + 100k near-dups). Exact truth: 900k distinct
    // fingerprints — 800k keep the curated copy, 100k (the near-dups,
    // textually distinct) keep the crawl copy.
    val docs = syntheticDocs()
    val mg = graft.operators.Dedup.mergeCorpora(
      Seq(docs.filter(col("id") % 10 < 8), docs), "id", "text")
      .groupBy(col("source")).count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    require(mg == Map(0 -> 800000L * (nDocs / 1000000L),
        1 -> 100000L * (nDocs / 1000000L)) ||
      (nDocs != 1000000 && mg.values.sum == 9L * nDocs / 10),
      s"merge counts $mg")
    report("kept" -> mg.values.sum, "curated" -> mg.getOrElse(0, 0L),
      "crawlOnly" -> mg.getOrElse(1, 0L))
  }

  step("dsir") {
    // DSIR importance resampling at 1M docs with planted styles:
    // even ids are "code" (shared code tokens), odd ids are "prose"
    // (shared prose tokens); each doc also carries a unique md5 token so
    // texts are distinct. The target is 50k fresh prose docs. Selecting
    // 250k from the 500k prose + 500k code pool must come ≥99% from
    // prose — and the whole pipeline is bounded aggregations (the
    // histogram selector never global-sorts 1M rows into one task).
    val nSel = nDocs
    val uniq = substring(md5(concat_ws(":", lit("dsir"),
      col("id").cast("string"))), 1, 8)
    def styled(isProse: Column) = concat_ws(" ",
      when(isProse, lit("the")).otherwise(lit("def")),
      when(isProse, lit("quick")).otherwise(lit("return")),
      when(isProse, lit("brown")).otherwise(lit("class")),
      uniq,
      when(isProse, lit("jumps")).otherwise(lit("import")),
      when(isProse, lit("over")).otherwise(lit("lambda")))
    val dsirRaw = spark.range(nSel).select(col("id"),
      styled(col("id") % 2 === 1).as("text"))
    val dsirTarget = spark.range(nSel, nSel + nSel / 20L)
      .select(col("id"), styled(lit(true)).as("text"))
    val dsirSel = graft.operators.DataSelection.dsirResample(
      dsirRaw, dsirTarget, "id", "text", keepN = nSel / 4, buckets = 10000)
      .agg(count(lit(1)), sum((col("id") % 2).cast("long"))).collect()(0)
    require(dsirSel.getLong(0) == nSel / 4L,
      s"dsir selected ${dsirSel.getLong(0)} of ${nSel / 4}")
    require(dsirSel.getLong(1) >= nSel / 4L * 99 / 100,
      s"dsir prose share ${dsirSel.getLong(1)}/${nSel / 4}")
    report("selected" -> dsirSel.getLong(0), "pool" -> nSel, "prose" -> dsirSel.getLong(1))
  }

  step("tokenIds") {
    // token-id mapping at 1M docs: vocab = doc 0's 30 tokens with
    // ids 1..30. Docs 0 and its exact copy (+8) map fully (60 non-OOV
    // ids), the near-dup (+9) maps 29; every other token is an md5-hex
    // 8-char string — 8-hex-char prefix collisions with the 30 vocab
    // tokens are possible across 30M tokens (p ≈ 0.2 total), so the
    // bound is [89, 89+slack] rather than exact. Order preservation is
    // pinned exactly by the spec; here the invariant is corpus-scale
    // token conservation: Σ n_tokens = 30M over exactly nDocs rows.
    val docs = syntheticDocs()
    val vocab = docs.filter(col("id") === 0)
      .select(posexplode(graft.functions.TextFunctions.tokens(col("text"))))
      .select(col("col").as("token"), (col("pos") + 1).cast("int").as("token_id"))
    val tokAgg = graft.operators.Retrieval.tokensToIds(
        docs, "id", "text", vocab, oovId = 0)
      .agg(count(lit(1)), sum(col("n_tokens")),
        sum(size(filter(col("token_ids"), i => i =!= 0)).cast("long")))
      .collect()(0)
    require(tokAgg.getLong(0) == nDocs, s"tokenIds rows ${tokAgg.getLong(0)}")
    require(tokAgg.getLong(1) == 30L * nDocs,
      s"tokenIds total ${tokAgg.getLong(1)}")
    require(tokAgg.getLong(2) >= 89 && tokAgg.getLong(2) <= 99,
      s"tokenIds mapped ${tokAgg.getLong(2)} not in [89,99]")
    report("docs" -> nDocs, "tokens" -> tokAgg.getLong(1), "vocabMapped" -> tokAgg.getLong(2))
  }

  step("contamSpans") {
    // span-level decontamination at 1M docs: bench = the base docs
    // of the first 1000 groups; corpus = every group's +8/+9 partners.
    // In a bench group the exact copy (+8) shares all 19 12-token
    // windows (30 tokens covered → 0 kept) and the near-dup (+9)
    // shares windows 0..17 (tokens 0..28 covered → 1 kept); outside
    // bench nothing matches (tokens are seed-unique) → 60 kept/group.
    val docs = syntheticDocs()
    val benchN = math.min(nDocs, 10000)
    val benchG = benchN / 10
    val decon = graft.operators.CorpusAnalysis.removeContaminatedSpans(
      docs.filter(col("id") % 10 >= 8),
      docs.filter(col("id") % 10 === 0 && col("id") < benchN),
      "id", "text", n = 12)
      .agg(count(lit(1)), coalesce(sum(size(graft.functions.TextFunctions
        .tokens(col("text")))), lit(0L)).cast("long")).collect()(0)
    require(decon.getLong(0) == 2L * (nDocs / 10),
      s"decon rows ${decon.getLong(0)}")
    val wantKept = 1L * benchG + 60L * (nDocs / 10 - benchG)
    require(decon.getLong(1) == wantKept,
      s"decon kept tokens ${decon.getLong(1)} != $wantKept")
    report("docs" -> decon.getLong(0), "benchDocs" -> benchG, "tokensKept" -> decon.getLong(1))
  }

  step("vocabDrift") {
    // vocabulary drift at 1M docs/side: A = "alpha beta <uniq>",
    // B = "alpha gamma <uniq>" — 1M+2 distinct tokens per side
    // (vocab-sized count shuffle exercised), top-2 union =
    // {alpha, beta, gamma}, residual = the unique tail. Exact truth:
    // each side 3M tokens; p_a = (1/3, 1/3, 0, 1/3),
    // p_b = (1/3, 0, 1/3, 1/3) → TVD = 1/3, chi2 = 2/3.
    def driftSide(word: String): org.apache.spark.sql.DataFrame =
      spark.range(nDocs)
      .select(concat_ws(" ", lit("alpha"), lit(word),
        substring(md5(concat_ws(":", lit(word), col("id").cast("string"))),
          1, 12)).as("text"))
    val drift = graft.operators.CorpusAnalysis.driftReport(
      graft.operators.CorpusAnalysis.vocabDrift(
        driftSide("beta"), driftSide("gamma"), "text", topK = 2))
      .collect()(0)
    require(drift.getLong(0) == 4L, s"drift rows ${drift.getLong(0)}")
    require(drift.getLong(1) == 3L * nDocs && drift.getLong(2) == 3L * nDocs,
      s"drift totals $drift")
    val third = nDocs.toDouble / (3L * nDocs)
    require(math.abs(drift.getDouble(3) - third) < 1e-12,
      s"tvd ${drift.getDouble(3)}")
    require(math.abs(drift.getDouble(4) - 2 * (third * third / third)) < 1e-12,
      s"chi2 ${drift.getDouble(4)}")
    report("docs" -> nDocs, "distinctTokens" -> 2L * (nDocs + 2), "tvd" -> drift.getDouble(3),
      "chi2" -> drift.getDouble(4))
  }

  step("corpusCard") {
    // corpus data card at 1M docs: every field exact except the
    // distinct-token count (8-hex-char md5 prefixes collide across
    // ~24.1M distinct seeds — allow the birthday dent), histogram =
    // one bucket-4 row (16 <= 30 < 32).
    val docs = syntheticDocs()
    val card = graft.operators.CorpusAnalysis.corpusReport(docs, "text")
      .collect()(0)
    require(card.getLong(0) == nDocs && card.getLong(1) == 0L &&
      card.getLong(2) == 30L * nDocs, s"card $card")
    require(card.getLong(4) == 30L && card.getLong(5) == 30L &&
      card.getDouble(6) == 30.0, s"card min/max/mean $card")
    // distinct seeds: 30 per unique doc (incl base) + 1 near-dup token
    val distinctSeeds = 30L * (8L * nDocs / 10) + nDocs / 10
    require(card.getLong(3) <= distinctSeeds &&
      card.getLong(3) >= distinctSeeds - distinctSeeds / 100,
      s"distinct tokens ${card.getLong(3)} vs ~$distinctSeeds")
    val hist = graft.operators.CorpusAnalysis
      .docLengthHistogram(docs, "text").collect()
    require(hist.length == 1 && hist(0).getLong(0) == 4L &&
      hist(0).getLong(1) == nDocs && hist(0).getLong(2) == 30L * nDocs,
      s"hist ${hist.mkString(",")}")
    report("docs" -> nDocs, "distinctTokens" -> card.getLong(3), "seeds" -> distinctSeeds)
  }

  step("rankBuckets") {
    // rank buckets at 1M docs with 1000-wide tie groups: score =
    // id % 1000, so every score value ties nDocs/1000 rows and several
    // bucket boundaries land INSIDE a tie run — the closed-form rank is
    // (id%1000)·(nDocs/1000) + id/1000 + 1, so the expected bucket
    // ceil(rank·4/n) is computable per row and the whole 1M-row
    // assignment must match it exactly (and quarter the corpus).
    val docs = syntheticDocs()
    if (nDocs % 4000 == 0) {
      val rb = graft.operators.DataSelection.rankBuckets(
        docs.select(col("id"), (col("id") % 1000).cast("double").as("score")),
        "id", "score", nBuckets = 4)
      val perGroup = lit(nDocs.toLong / 1000L)
      val rank = (col("id") % 1000L) * perGroup +
        floor(col("id") / 1000L) + lit(1L)
      val expected = floor((rank * 4L + nDocs.toLong - 1L) / nDocs.toLong)
        .cast("int")
      val rbAgg = rb.agg(count(lit(1)),
        sum(when(col("bucket") =!= expected, 1L).otherwise(0L)),
        countDistinct(col("bucket"))).collect()(0)
      require(rbAgg.getLong(0) == nDocs, s"rankBuckets rows ${rbAgg.getLong(0)}")
      require(rbAgg.getLong(1) == 0L,
        s"${rbAgg.getLong(1)} rows off the closed-form bucket")
      require(rbAgg.getLong(2) == 4L, s"buckets ${rbAgg.getLong(2)}")
      report("docs" -> nDocs)
    }
  }

  step("nbQuality") {
    // NB quality classifier at 1M docs: positive = the 100k k=0
    // bases, negative = the 700k k∈1..7 uniques; k=8/9 (trained on
    // NEITHER class) carry base tokens. Planted truth: base tokens sit
    // only in the positive counts (r > 1), negative tokens only in the
    // negative counts (r = denomN/(2·denomP) < 1 since nNeg/nPos = 7),
    // so the verdict is exactly k ∈ {0,8,9} — 3·n/10 docs — and the
    // k=8 exact copies score bit-identically to their base.
    val docs = syntheticDocs()
    val nb = graft.operators.QualityClassifier.nbQualityScores(
      docs, docs.filter(col("id") % 10 === 0),
      docs.filter(col("id") % 10 >= 1 && col("id") % 10 <= 7),
      "id", "text").cache()
    val nbAgg = nb.agg(count(lit(1)),
      sum(when(col("is_positive"), 1L).otherwise(0L)),
      sum(when(col("is_positive") =!= (col("id") % 10 === 0 ||
        col("id") % 10 >= 8), 1L).otherwise(0L))).collect()(0)
    require(nbAgg.getLong(0) == nDocs, s"nb rows ${nbAgg.getLong(0)}")
    require(nbAgg.getLong(2) == 0L,
      s"${nbAgg.getLong(2)} verdicts off the planted classes")
    require(nbAgg.getLong(1) == 3L * nDocs / 10, s"flagged ${nbAgg.getLong(1)}")
    val nbCopyMismatch = nb.filter(col("id") % 10 === 0)
      .filter(col("id") < 10000)
      .select((col("id") + 8).as("id"), col("sum_ratio").as("base_sum"))
      .join(nb, Seq("id"))
      .filter(col("sum_ratio") =!= col("base_sum")).count()
    require(nbCopyMismatch == 0,
      s"$nbCopyMismatch exact copies scored differently")
    nb.unpersist()
    report("docs" -> nDocs)
  }

  step("semanticContamination") {
    // semantic decontamination at 1M vectors x 100-vector bench
    // (the brute-force broadcast scan: 100M scored pairs). Planted
    // truth at τ=0.8: the 100 bench members themselves (cos 1) and
    // their 100 k=9 partners (dim-0 shift 0.05, cos ≈ 1) — random
    // 64-dim cosines sit ~6σ below the threshold, so the flagged set
    // is EXACTLY those 200 and every argmax is the group base.
    val vecs = syntheticVecs()
    val queries = vecs.filter(col("id") % 10 === 0 && col("id") < 1000)
    val scFlag = graft.operators.Similarity.semanticContamination(
      vecs, queries.select(col("id"), col("v")), "id", "v", threshold = 0.8)
      .filter(col("contaminated"))
    val scAgg = scFlag.agg(count(lit(1)),
      sum(when(col("bench_id") =!= col("id") - (col("id") % 10), 1L)
        .otherwise(0L))).collect()(0)
    require(scAgg.getLong(0) == 200L, s"flagged ${scAgg.getLong(0)} of 200")
    require(scAgg.getLong(1) == 0L,
      s"${scAgg.getLong(1)} flagged docs with a non-base argmax")
    report("vecs" -> nVec, "millionPairs" -> nVec / 10000)
  }

  step("badWords") {
    // bad-word filter at 1M docs: the list is group 0's token 0
    // (present in docs 0, +8, +9) plus group 10's adjacent "tok0 tok1"
    // phrase (docs 10, 18, 19) — exactly 6 planted flags. 8-hex-char
    // md5 prefixes can collide across 30M tokens (p ≈ 0.04 per entry),
    // so the planted ids must ALL flag and the total gets tiny slack.
    val docs = syntheticDocs()
    def tok8(seed: Long, j: Int): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$j".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString
    }
    val bwFlag = graft.operators.CorpusPrep.badWordsReport(docs, "id",
      "text", Seq(tok8(0L, 0), s"${tok8(10L, 0)} ${tok8(10L, 1)}"))
      .filter(!col("pass"))
    val bwAgg = bwFlag.agg(count(lit(1)),
      sum(when(col("id").isin(0L, 8L, 9L, 10L, 18L, 19L), 1L)
        .otherwise(0L))).collect()(0)
    require(bwAgg.getLong(1) == 6L,
      s"only ${bwAgg.getLong(1)} of the 6 planted docs flagged")
    require(bwAgg.getLong(0) <= 8L,
      s"${bwAgg.getLong(0)} docs flagged — expected ~6 (+collision slack)")
    report("docs" -> nDocs, "flagged" -> bwAgg.getLong(0))
  }

  step("splitAssign") {
    // split assignment at 1M docs: exhaustive (every row lands in
    // exactly one split), binomially tight around 80/10/10, and
    // growth-stable (the first 1000 ids assign identically when run
    // over the subset alone — THE property that keeps eval sets frozen
    // as the corpus grows).
    val docs = syntheticDocs()
    val spl = graft.operators.CorpusPrep.splitAssign(docs.select(col("id")),
      "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "sm")
    val splCounts = spl.groupBy(col("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(splCounts.values.sum == nDocs, s"split counts $splCounts")
    // 6.5 sigma at 1M rows (sigma = sqrt(n p q) ~ 400 / 300)
    require(math.abs(splCounts("train") - nDocs * 8L / 10) <= nDocs / 380,
      s"train ${splCounts("train")}")
    require(math.abs(splCounts("val") - nDocs / 10) <= nDocs / 500 &&
      math.abs(splCounts("test") - nDocs / 10) <= nDocs / 500,
      s"val/test $splCounts")
    val splSub = graft.operators.CorpusPrep.splitAssign(
      docs.select(col("id")).filter(col("id") < 1000), "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "sm")
    require(splSub.except(spl.filter(col("id") < 1000)).count() == 0,
      "subset assignment drifted from full-corpus assignment")
    report("docs" -> nDocs, "splits" -> splCounts)
  }

  step("phraseScores") {
    // phrase detection at 1M docs (29M bigram instances, ~24M
    // distinct bigrams): each group's base/copy/near-dup trio repeats
    // its 28 leading bigrams exactly 3 times with unigram counts 3, so
    // every top row scores ((3-delta)*N)/(3*3) with N = 30M — the
    // planted maximum (bigram-level md5-prefix collisions need BOTH
    // 8-hex tokens to collide, p ~ 1e-7).
    val docs = syntheticDocs()
    val phTop = graft.operators.CorpusPrep.phraseScores(docs, "text",
      minCount = 3, delta = 1, topK = 100).collect()
    val phExpect = ((3.0 - 1.0) * (30.0 * nDocs)) / (3.0 * 3.0)
    require(phTop.length == 100, s"phrases rows ${phTop.length}")
    val phBad = phTop.count(r =>
      r.getLong(2) != 3L || r.getDouble(5) != phExpect)
    require(phBad == 0,
      s"$phBad of 100 top phrases off the planted (c_ab=3, $phExpect)")
    report("docs" -> nDocs, "bigramInstances" -> 29L * nDocs)
  }

  /** `docs` with a url per doc: id mod 1000 in the domain, multiples of 5
    * behind an api. subdomain.
    */
  private def siteUrls(docs: DataFrame): DataFrame = docs.select(col("id"),
    concat(lit("https://"),
      when(col("id") % 5 === 0, lit("api.")).otherwise(lit("")),
      lit("example"), (col("id") % 1000).cast("string"),
      lit(".com/p/"), col("id").cast("string")).as("url"),
    col("text"))

  step("webCorpus") {
    // web-corpus triage at 1M docs: urls put id mod 1000 in the
    // domain, with multiples of 5 behind an api. subdomain — id%1000==b
    // forces id%5==b%5, so each b yields exactly ONE domain row
    // (api.exampleB for b%5==0, bare exampleB otherwise) of exactly
    // 1000 docs x 30 tokens. Blocklist entries example0..9.com block
    // ids with id%1000 < 10 — subdomain docs via the suffix rule —
    // exactly 10k verdicts.
    val docs = syntheticDocs()
    val urls = siteUrls(docs)
    val dr = graft.operators.WebCorpus.domainReport(urls, "url", "text")
    val drAgg = dr.agg(count(lit(1)),
      sum(when(col("n_docs") === 1000L &&
        col("n_tokens") === 30000L * (nDocs / 1000000L) &&
        col("n_empty") === 0L, 1L).otherwise(0L))).collect()(0)
    require(nDocs != 1000000 ||
      (drAgg.getLong(0) == 1000L && drAgg.getLong(1) == 1000L),
      s"domainReport ${drAgg.getLong(0)} rows, ${drAgg.getLong(1)} exact")
    val blocked = graft.operators.WebCorpus.blocklistVerdicts(urls, "id",
      "url", (0 until 10).map(b => s"example$b.com").toDF("domain"))
      .filter(col("blocked")).count()
    require(blocked == 10L * (nDocs / 1000L), s"blocked $blocked")
    report("urls" -> nDocs, "domains" -> drAgg.getLong(0), "blocked" -> blocked)
  }

  step("domainCap") {
    // domain cap at 1M docs over the same 1000-domain url mix:
    // capping at 100 keeps EXACTLY 100 per domain (every domain holds
    // 1000 docs), ranks 1..100, via the bounded smallest-k agg.
    val urls = siteUrls(syntheticDocs())
    val capped = graft.operators.WebCorpus.domainCap(urls, "id", "url", 100)
    val capAgg = capped.agg(count(lit(1)),
      sum(when(col("rank") >= 1 && col("rank") <= 100, 0L).otherwise(1L)),
      countDistinct(col("domain"))).collect()(0)
    require(nDocs != 1000000 ||
      (capAgg.getLong(0) == 100000L && capAgg.getLong(1) == 0L &&
        capAgg.getLong(2) == 1000L),
      s"domainCap kept ${capAgg.getLong(0)} rows, ${capAgg.getLong(2)} domains")
    report("docs" -> nDocs, "kept" -> capAgg.getLong(0), "domains" -> capAgg.getLong(2))
  }

  step("htmlExtract") {
    // HTML extraction at 1M docs: every page carries a heading, a
    // pure-link nav line (DROPPED by link density), and the 30-token
    // body — so n_lines sums to exactly 3N and n_kept to exactly 2N.
    // 8-hex-token bodies contain no '<' or '&' by construction.
    val docs = syntheticDocs()
    val pages = docs.select(col("id"),
      concat(lit("<html><body><h1>Doc "), col("id").cast("string"),
        lit("</h1><div class=\"nav\"><a href=\"/a\">Nav one</a> " +
          "<a href=\"/b\">Nav two</a></div><p>"),
        col("text"), lit("</p></body></html>")).as("html"))
    val he = graft.operators.HtmlExtract.extractText(pages, "id", "html")
    val heAgg = he.agg(count(lit(1)), sum(col("n_lines")),
      sum(col("n_kept")),
      sum(when(col("text").contains("Nav one"), 1L).otherwise(0L)))
      .collect()(0)
    require(heAgg.getLong(0) == nDocs &&
      heAgg.getLong(1) == 3L * nDocs && heAgg.getLong(2) == 2L * nDocs &&
      heAgg.getLong(3) == 0L,
      s"htmlExtract ${heAgg.getLong(1)}/${heAgg.getLong(2)} lines, " +
        s"${heAgg.getLong(3)} nav leaks")
    report("pages" -> nDocs, "lines" -> heAgg.getLong(1), "keptLines" -> heAgg.getLong(2))
  }

  step("mojibake") {
    // mojibake repair at 1M docs: ids %10==0 get two damaged
    // sequences appended (from the operator's own damage model) — hit
    // and changed counts are exact; hex-token bodies are ASCII-clean.
    val docs = syntheticDocs()
    val dmg = " caf" + graft.operators.TextRepair.damaged("é") + " It" +
      graft.operators.TextRepair.damaged("’") + "s"
    val mj = docs.select(col("id"),
      concat(col("text"),
        when(col("id") % 10 === 0, lit(dmg)).otherwise(lit("")))
        .as("text"))
    val rep = graft.operators.TextRepair.repairReport(mj, "id", "text")
    val repAgg = rep.agg(sum(col("mojibake_hits")),
      sum(when(col("changed"), 1L).otherwise(0L)),
      sum(col("n_bad_chars"))).collect()(0)
    require(repAgg.getLong(0) == 2L * (nDocs / 10L) &&
      repAgg.getLong(1) == nDocs / 10L && repAgg.getLong(2) == 0L,
      s"mojibake hits=${repAgg.getLong(0)} changed=${repAgg.getLong(1)}")
    report("docs" -> nDocs, "hits" -> repAgg.getLong(0), "changedDocs" -> repAgg.getLong(1))
  }

  step("mooreLewis") {
    // Moore-Lewis at 1M docs: in-domain model = the even half,
    // general = the odd half. An even doc's bigrams sit in the
    // in-domain counts (pref ~ 2/(2+1) per bigram), an odd doc's in
    // the general counts — so every even doc selects and every odd doc
    // with unique tokens (k != 9) does not; k=9 near-dups share 28 of
    // 29 bigrams with their even base, so their verdict is left free.
    val docs = syntheticDocs()
    val mlSel = graft.operators.LanguageModel.mooreLewisScores(docs,
      docs.filter(col("id") % 2 === 0), docs.filter(col("id") % 2 === 1),
      "id", "text")
    val mlAgg = mlSel.agg(
      sum(when(col("selected") && col("id") % 2 === 0, 1L).otherwise(0L)),
      sum(when(col("selected") && col("id") % 2 === 1 &&
        col("id") % 10 =!= 9, 1L).otherwise(0L)),
      count(lit(1))).collect()(0)
    require(mlAgg.getLong(2) == nDocs, s"mooreLewis rows ${mlAgg.getLong(2)}")
    require(mlAgg.getLong(0) == nDocs / 2L,
      s"mooreLewis even-selected ${mlAgg.getLong(0)} of ${nDocs / 2L}")
    require(mlAgg.getLong(1) == 0L,
      s"mooreLewis ${mlAgg.getLong(1)} unique odd docs selected")
    report("docs" -> nDocs)
  }

  step("bpe") {
    // BPE training at vocabulary scale: ≥1024 merges over the 1M-doc
    // corpus (≈25M distinct 8-hex-char words, capped to the top 2^20 by
    // the trainer's deterministic TakeOrdered) in ONE driver round trip —
    // the in-memory incremental trainer never runs a per-merge Spark job.
    // Every merged symbol must stay hex+marker alphabet and the encode
    // under the learned table must conserve word counts exactly.
    val docs = syntheticDocs()
    val bpeMerges = graft.operators.BpeTokenizer.trainBpeMerges(
      docs, "text", numMerges = 1024)
    val bpeRows = bpeMerges.collect()
    require(bpeRows.length == 1024, s"bpe trained ${bpeRows.length} merges")
    require(bpeRows.forall(r => (r.getString(1) + r.getString(2))
        .forall(c => "0123456789abcdef</w>".contains(c))),
      "bpe merge outside the hex+marker alphabet")
    val bpeEnc = graft.operators.BpeTokenizer.applyBpeMerges(
        docs, "id", "text",
        bpeRows.sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq)
      .agg(count(lit(1)), sum(col("n_words")), sum(col("n_subwords")),
        min(col("n_subwords"))).collect()(0)
    require(bpeEnc.getLong(0) == nDocs, s"bpe encoded ${bpeEnc.getLong(0)} docs")
    require(bpeEnc.getLong(1) == 30L * nDocs,
      s"bpe n_words ${bpeEnc.getLong(1)} != ${30L * nDocs}")
    // 30 words/doc, 9 symbols raw; merges only shrink: (30, 270] per doc
    require(bpeEnc.getLong(3) >= 30L && bpeEnc.getLong(2) <= 270L * nDocs,
      s"bpe n_subwords out of range: min/doc=${bpeEnc.getLong(3)}")
    report("docs" -> nDocs, "words" -> bpeEnc.getLong(1), "subwords" -> bpeEnc.getLong(2))
  }

  step("wordpiece") {
    // WordPiece encode at 1M docs: every word is 8 hex chars, the
    // vocab covers all hex singles in both positions plus two 2-char
    // pieces — so word counts conserve EXACTLY and per-word piece
    // counts are hard-bounded in [4, 8] (a 2-char piece halves at
    // best). The distinct-word table is ~25M short strings — the
    // vocabulary-table recipe's adversarial case.
    val docs = syntheticDocs()
    val hexV = "0123456789abcdef".map(_.toString)
    val wpEnc = graft.operators.WordPieceTokenizer.encode(
        docs, "id", "text",
        hexV ++ hexV.map("##" + _) ++ Seq("ab", "##ff"))
      .agg(count(lit(1)), sum(col("n_words")), sum(col("n_subwords")),
        min(col("n_subwords")), max(col("n_subwords"))).collect()(0)
    require(wpEnc.getLong(0) == nDocs, s"wp encoded ${wpEnc.getLong(0)} docs")
    require(wpEnc.getLong(1) == 30L * nDocs,
      s"wp n_words ${wpEnc.getLong(1)} != ${30L * nDocs}")
    // 30 words x 8 chars: all-singles = 240/doc; 2-char pieces only
    // shrink, never below 4/word = 120/doc; no [UNK] possible
    require(wpEnc.getLong(3) >= 120L && wpEnc.getLong(4) <= 240L,
      s"wp n_subwords/doc out of [120,240]: $wpEnc")
    report("docs" -> nDocs, "words" -> wpEnc.getLong(1), "pieces" -> wpEnc.getLong(2))
  }

  step("kneserNey") {
    // Kneser-Ney at 1M docs against the 100k-doc (id%10==0) model —
    // same adversarial corpus-sized count tables as the bigramLm
    // section (unique tokens make the model ≈ the slice's 2.9M-row
    // bigram table, never broadcast-able). Planted truth: exact copies
    // (id%10==8) score bit-identically to their base.
    val docs = syntheticDocs()
    val knScores = graft.operators.LanguageModel.kneserNeyScores(
      docs, docs.filter(col("id") % 10 === 0), "id", "text").cache()
    val knAgg = knScores.agg(count(lit(1)),
      avg(when(col("id") % 10 === 0, col("avg_p"))),
      avg(when(col("id") % 10 < 8, when(col("id") % 10 > 0, col("avg_p")))))
      .collect()(0)
    require(knAgg.getLong(0) == nDocs, s"kn rows ${knAgg.getLong(0)}")
    require(knAgg.getDouble(1) > knAgg.getDouble(2),
      s"in-model docs must out-score unique docs under KN: $knAgg")
    val knCopyMismatch = knScores.filter(col("id") % 10 === 0)
      .filter(col("id") < 10000)
      .select((col("id") + 8).as("id"), col("sum_p").as("base_sum"))
      .join(knScores, Seq("id"))
      .filter(col("sum_p") =!= col("base_sum")).count()
    require(knCopyMismatch == 0,
      s"$knCopyMismatch exact copies KN-scored differently")
    knScores.unpersist()
    report("docs" -> nDocs)
  }

  step("novelty") {
    // n-gram novelty at 1M docs vs the 100k-doc base slice: the
    // planted group structure fixes every doc's EXACT novelty — bases
    // and their exact copies 0, near-dups 1/23 (only the gram covering
    // the changed token 30 is new), unique docs 1. One big-big
    // gram-hash join, corpus-sized both sides.
    val docs = syntheticDocs()
    val nov = graft.operators.CorpusAnalysis.ngramNovelty(
      docs, docs.filter(col("id") % 10 === 0), "id", "text").cache()
    val novAgg = nov.agg(count(lit(1)),
      sum(when(col("id") % 10 === 0 || col("id") % 10 === 8,
        when(col("novelty_frac") =!= 0.0, 1L).otherwise(0L))),
      sum(when(col("id") % 10 === 9,
        when(col("novelty_frac") =!= lit(1.0) / 23.0, 1L).otherwise(0L))),
      sum(when(col("id") % 10 >= 1 && col("id") % 10 <= 7,
        when(col("novelty_frac") =!= 1.0, 1L).otherwise(0L)))).collect()(0)
    nov.unpersist()
    require(novAgg.getLong(0) == nDocs, s"novelty rows ${novAgg.getLong(0)}")
    require(novAgg.getLong(1) == 0L && novAgg.getLong(2) == 0L &&
      novAgg.getLong(3) == 0L,
      s"novelty deviations (base/copy, near, unique): $novAgg")
    report("docs" -> nDocs)
  }

  step("cdcChunks") {
    // content-defined chunking at 1M docs: narrow zero-shuffle
    // walk; chunks must conserve tokens exactly (30/doc) and stay
    // inside the [ceil(30/64), ceil(30/4)] = [1, 8] count bound.
    val docs = syntheticDocs()
    val cdc = graft.operators.CorpusAnalysis.cdcChunks(docs, "id", "text")
      .groupBy(col("id"))
      .agg(sum(col("n_tokens")).as("tk"), count(lit(1)).as("nc"))
      .agg(count(lit(1)),
        sum(when(col("tk") =!= 30L, 1L).otherwise(0L)),
        sum(when(col("nc") < 1 || col("nc") > 8, 1L).otherwise(0L)),
        sum(col("nc"))).collect()(0)
    require(cdc.getLong(0) == nDocs, s"cdc docs ${cdc.getLong(0)}")
    require(cdc.getLong(1) == 0L, s"${cdc.getLong(1)} docs lost tokens")
    require(cdc.getLong(2) == 0L, s"${cdc.getLong(2)} docs out of bound")
    report("docs" -> nDocs, "chunks" -> cdc.getLong(3))
  }

  step("unigram") {
    // unigram Viterbi encode at 1M docs: hex singles at cost 100
    // plus two 2-char pieces at 150 — with every multi exactly 2 chars
    // the identity total_cost = 50·n_pieces + 12000 holds PER DOC
    // whatever mix the DP picks (s+2m=240, cost=100s+150m), a full
    // correctness pin over the 25M-distinct-word table.
    val docs = syntheticDocs()
    val ugVocab = "0123456789abcdef".map(c => c.toString -> 100L) ++
      Seq("ab" -> 150L, "ff" -> 150L)
    val ug = graft.operators.UnigramTokenizer.encode(
        docs, "id", "text", ugVocab)
      .agg(count(lit(1)), sum(col("n_words")), sum(col("n_pieces")),
        sum(when(col("total_cost") =!= col("n_pieces") * 50L + 12000L,
          1L).otherwise(0L))).collect()(0)
    require(ug.getLong(0) == nDocs, s"unigram encoded ${ug.getLong(0)}")
    require(ug.getLong(1) == 30L * nDocs, s"unigram words ${ug.getLong(1)}")
    require(ug.getLong(3) == 0L,
      s"${ug.getLong(3)} docs break the cost identity")
    report("docs" -> nDocs, "words" -> ug.getLong(1), "pieces" -> ug.getLong(2))
  }

  step("quantiles") {
    // exact quantiles at 1M rows: v = id makes every answer a
    // closed form (q-quantile of 0..n-1 is ceil(q·n)−1; per-group over
    // id%16 it's g + 16·(r−1)) — histogram refinement must hit each
    // EXACTLY, with small caps forcing the multi-round path.
    val docs = syntheticDocs()
    val qv = docs.select(col("id"), (col("id") % 16).as("grp"),
      col("id").cast("double").as("v"))
    val qqs = Seq(0.01, 0.5, 0.99)
    val gq = graft.operators.DataSelection.exactQuantiles(
      qv, "v", qqs, histBins = 64, collectCap = 1000).collect()
      .map(r2 => r2.getDouble(0) -> r2.getDouble(1)).toMap
    qqs.foreach { q =>
      val want = (math.max(1L, math.ceil(q * nDocs).toLong) - 1).toDouble
      require(gq(q) == want, s"q=$q got ${gq(q)} want $want")
    }
    val ggq = graft.operators.DataSelection.groupedExactQuantiles(
      qv, "grp", "v", qqs, histBins = 64, collectCap = 1000).collect()
      .map(r2 => (r2.getString(0), r2.getDouble(1)) -> r2.getDouble(2))
      .toMap
    for (g <- 0L until math.min(16L, nDocs); q <- qqs) {
      // group g holds {g, g+16, ...}: one extra member when g < n%16
      val perG = nDocs / 16L + (if (g < nDocs % 16L) 1L else 0L)
      val r2 = math.max(1L, math.ceil(q * perG).toLong)
      val want = (g + 16L * (r2 - 1L)).toDouble
      require(ggq((g.toString, q)) == want,
        s"grp=$g q=$q got ${ggq((g.toString, q))} want $want")
    }
    report("rows" -> nDocs)
  }

  step("ndIndex") {
    // persisted near-dup index at 1M docs: build once (the
    // corpus-side signature pass as an artifact), then admit a 100k
    // snapshot (10k near-dup re-crawls of bases + 90k fresh) both ways
    // — identical admissions required; the indexed admit must beat the
    // direct one (it skips the 1M-doc signature+gram work).
    val docs = syntheticDocs()
    val idxDir = Fixtures.scratchDir("scale-ndidx").toString
    graft.operators.Dedup.writeNearDupIndex(docs, "id", "text", idxDir)
    val snapN = math.max(1000L, nDocs / 10L)
    val sk = col("id") % 10
    // re-crawls: copies of group bases with the LAST token changed
    // (trigram Jaccard 27/29 ≈ .93 — drops at threshold .8); fresh:
    // id-unique token docs (admit)
    val snapToks = (0 until 30).map { j =>
      val seed = when(sk === 0, col("id") - col("id") % 10)
        .otherwise(col("id") + 20000000L)
      val s2 = if (j == 29) when(sk === 0, col("id") + 40000000L)
        .otherwise(seed) else seed
      substring(md5(concat_ws(":", s2.cast("string"), lit(j))), 1, 8)
    }
    val snap = spark.range(snapN)
      .select((col("id") + 10000000L).as("id"),
        concat_ws(" ", snapToks: _*).as("text"))
      .localCheckpoint(true)
    val directKept = graft.operators.Dedup.incrementalNearDedup(
      snap, docs, "id", "text").count()
    val idxKept = graft.operators.Dedup.incrementalNearDedupIndexed(
      snap, "id", "text", idxDir).count()
    require(directKept == idxKept,
      s"indexed admissions $idxKept != direct $directKept")
    // exactly the fresh snapshot docs survive (re-crawls of bases drop)
    val expKept = snapN - snapN / 10L
    require(idxKept == expKept, s"kept $idxKept of expected $expKept")
    report("docs" -> nDocs, "snapshot" -> snapN, "kept" -> idxKept)
    // recursive temp-dir cleanup (the index is corpus-sized on disk)
    Fixtures.delete(java.nio.file.Paths.get(idxDir))
  }

  step("buildCorpus") {
    // buildCorpus: the full restartable source→curriculum pipeline
    // over a 1M-page WARC drop dir (executors write one gzip stream
    // per partition; every 10th page is an exact duplicate of its
    // predecessor, so the dedup stage has a planted exact answer).
    val bcWarc = Fixtures.scratchDir("scale-bc-warc").toString
    val bcStages = Fixtures.scratchDir("scale-bc-stages").toString
    val nPages = nDocs
    val bcFiles = 64
    val perBc = nPages / bcFiles
    spark.range(bcFiles).repartition(bcFiles).foreach { fi =>
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(s"$bcWarc/part-$fi.warc.gz"))
      val md = java.security.MessageDigest.getInstance("MD5")
      def word(seed: Long, j: Int): String =
        md.digest(s"$seed:$j".getBytes("UTF-8")).take(4)
          .map(b => ('a' + ((b & 0xFF) % 26)).toChar).mkString
      var i = 0L
      while (i < perBc) {
        val id = fi * perBc + i
        val seed = if (id % 10 == 9) id - 1 else id // planted exact dup
        val body = (0 until 2).map(l =>
          (0 until 6).map(j => word(seed, l * 6 + j)).mkString(" ") + ".")
          .mkString(" ")
        val html = s"<html><body><p>$body</p></body></html>"
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n$html"
        val rec = s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
          s"WARC-Target-URI: http://t.test/$id\r\n" +
          s"Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${http.getBytes("UTF-8").length}\r\n\r\n" +
          http + "\r\n\r\n"
        out.write(rec.getBytes("UTF-8"))
        i += 1
      }
      out.close()
    }
    val bcReport = graft.operators.CorpusBuild.buildCorpus(spark, bcWarc,
      bcStages, minWords = 10, packTokens = 256)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val total = bcFiles.toLong * perBc
    require(bcReport("0_extract")._2 == total,
      s"buildCorpus extract ${bcReport("0_extract")}")
    require(bcReport("2_gate")._2 == total,
      s"buildCorpus gate ${bcReport("2_gate")} — planted pages all pass")
    require(bcReport("3_dedup")._2 == total - total / 10L,
      s"buildCorpus dedup ${bcReport("3_dedup")} of ${total - total / 10L}")
    // mixture: thirds at x2/x1/x0.25 → ≈ 1.083x of the tiered corpus
    val tiersOut = bcReport("4_tiers")._2
    val mixOut = bcReport("5_mix")._2
    require(math.abs(mixOut - tiersOut * 13L / 12L) < tiersOut / 50L,
      s"buildCorpus mix $mixOut of ~${tiersOut * 13L / 12L}")
    require(bcReport("7_curriculum")._1 == bcReport("6_pack")._2,
      s"buildCorpus curriculum ${bcReport("7_curriculum")}")
    // pack conservation: every mixed doc token lands in exactly one pack
    val bcPackTokens = spark.read.parquet(s"$bcStages/6_pack")
      .agg(org.apache.spark.sql.functions.sum(col("pack_tokens")))
      .collect()(0).getLong(0)
    val mixTokens = spark.read.parquet(s"$bcStages/5_mix")
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.size(
          graft.functions.TextFunctions.tokens(col("text"))).cast("long")))
      .collect()(0).getLong(0)
    require(bcPackTokens == mixTokens,
      s"buildCorpus pack tokens $bcPackTokens != mixed tokens $mixTokens")
    report("pages" -> total, "packs" -> bcReport("6_pack")._2)
    for (d <- Seq(bcWarc, bcStages))
      Fixtures.delete(java.nio.file.Paths.get(d))
  }

  step("imageNearDup") {
    // perceptual image near-dup at 1M images: decode → box-sample →
    // dHash → banded pairs, the full imageNearDupPairs path over real
    // PNG payloads (encode AND decode both run, on executors — decode
    // dominates and is the number worth measuring). 500k classes of
    // exactly two images each: even id = the class pattern (cell
    // values 30..200 from a mixed hash — effectively random, so
    // distinct classes land far apart in Hamming space), odd id = the
    // SAME pattern +5 brightness on every pixel. No clamping can occur
    // and every strict cell-vs-cell gradient comparison is preserved,
    // so each twin's dHash is bit-identical to its base (distance 0)
    // and the expected pair set is EXACTLY the 500k (2c, 2c+1) pairs.
    val nImg = nDocs
    // pairMode: cls = id/2 and odd ids get +5 brightness (dHash-
    // invariant twins); otherwise cls = id (every image its own
    // class — class ids >= nImg never collide with pair classes)
    def mkImgs(n0: Long, n1: Long, pairMode: Boolean) =
      spark.range(n0, n1).repartition(64)
        .mapPartitions { it =>
          it.map { id =>
            val idL: Long = id
            val cls = if (pairMode) idL / 2 else idL
            val bump = if (pairMode && idL % 2 == 1) 5 else 0
            // 18x16 image, one 2x2 pixel block per 9x8 grid cell —
            // the box average reproduces the cell value exactly
            val bi = new java.awt.image.BufferedImage(18, 16,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            var cy = 0
            while (cy < 8) {
              var cx = 0
              while (cx < 9) {
                val v = 30 +
                  ((mix64(cls * 97 + cy * 9 + cx) & Long.MaxValue) % 171)
                    .toInt + bump
                val rgb = (v << 16) | (v << 8) | v
                bi.setRGB(cx * 2, cy * 2, rgb)
                bi.setRGB(cx * 2 + 1, cy * 2, rgb)
                bi.setRGB(cx * 2, cy * 2 + 1, rgb)
                bi.setRGB(cx * 2 + 1, cy * 2 + 1, rgb)
                cx += 1
              }
              cy += 1
            }
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(bi, "png", out)
            (idL, out.toByteArray)
          }
        }.toDF("id", "content")
    val imgs = mkImgs(0L, nImg, pairMode = true)
    val imgPairs = graft.operators.Multimodal.imageNearDupPairs(
      imgs, "id", "content")
    // exact expected pair set: count == classes, every distance 0,
    // and sum(b - a) == classes pins each pair to (2c, 2c+1)
    val ipAgg = imgPairs.agg(count(lit(1)), max(col("distance")),
      sum(col("b") - col("a"))).collect()(0)
    require(ipAgg.getLong(0) == nImg / 2L,
      s"imageNearDup pairs ${ipAgg.getLong(0)} != ${nImg / 2}")
    require(ipAgg.getLong(1) == 0L,
      s"imageNearDup max distance ${ipAgg.getLong(1)} != 0")
    require(ipAgg.getLong(2) == nImg / 2L,
      s"imageNearDup pair structure broken: sum(b-a)=${ipAgg.getLong(2)}")
    report("images" -> nImg, "twinPairs" -> nImg / 2)

    // index lifecycle at the same scale: persist the even-id half
    // as the corpus signature index, then admit a snapshot of the
    // odd-id twins (every one within distance 0 of an indexed
    // signature -> dropped) plus nImg/10 genuinely fresh images
    // (own classes -> admitted). The admission's corpus side reads
    // 8-byte signatures — no re-decode of the 500k corpus images.
    val idxDir = Fixtures.scratchDir("img-idx").toString
    graft.operators.Multimodal.writeImageNearDupIndex(
      imgs.filter(col("id") % 2 === 0), "id", "content", idxDir)
    val snap = imgs.filter(col("id") % 2 === 1)
      .unionByName(mkImgs(nImg, nImg + nImg / 10L, pairMode = false))
    val admitted = graft.operators.Multimodal
      .incrementalImageNearDedup(snap, "id", "content", idxDir)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
      .collect()(0)
    require(admitted.getLong(0) == nImg / 10L,
      s"imageAdmit count ${admitted.getLong(0)} != ${nImg / 10}")
    require(admitted.getLong(1) == nImg &&
      admitted.getLong(2) == nImg + nImg / 10L - 1,
      s"imageAdmit ids [${admitted.getLong(1)}, " +
        s"${admitted.getLong(2)}] not the fresh range")
    report("indexed" -> nImg / 2, "snapshot" -> (nImg / 2 + nImg / 10), "fresh" -> nImg / 10)
    Fixtures.delete(java.nio.file.Paths.get(idxDir))
  }

  step("audioNearDup") {
    // perceptual audio near-dup at 1M clips: REAL WAV payloads
    // (44-byte canonical header + 16-bit PCM data built per row on
    // executors), decoded and fingerprinted under the DEFAULT
    // duration-normalized AUTO window — clip lengths VARY by class
    // (65·(8 + cls % 9) samples, so the per-clip window is 8..16 and
    // the auto path is genuinely exercised, not fixed-width in
    // disguise). 500k classes of exactly two clips: even id = the
    // class stream (samples effectively random in [-8000, 8000]),
    // odd id = the SAME stream re-gained ×2 — energies scale by
    // exactly 4, every strict energy-gradient comparison is
    // preserved, so each twin's fingerprint is bit-identical to its
    // base (distance 0) and the expected pair set is EXACTLY the
    // 500k (2c, 2c+1) pairs.
    val nClip = nDocs
    // pairMode: cls = id/2 and odd ids are re-gained twins;
    // otherwise cls = id (fresh clips in their own classes — class
    // ids >= nClip never collide with pair classes)
    def mkClips(n0: Long, n1: Long, pairMode: Boolean) =
      spark.range(n0, n1).repartition(64)
        .mapPartitions { it =>
          it.map { id =>
            val idL: Long = id
            val cls = if (pairMode) idL / 2 else idL
            val gain = if (pairMode && idL % 2 == 1) 2 else 1
            val nS = 65 * (8 + (cls % 9L)).toInt
            val bytes = new Array[Byte](44 + 2 * nS)
            def le16(o: Int, v: Int): Unit = {
              bytes(o) = (v & 0xFF).toByte
              bytes(o + 1) = ((v >> 8) & 0xFF).toByte
            }
            def le32(o: Int, v: Long): Unit = {
              var i = 0
              while (i < 4) {
                bytes(o + i) = ((v >> (8 * i)) & 0xFF).toByte; i += 1
              }
            }
            def tag(o: Int, s: String): Unit = {
              var i = 0
              while (i < 4) { bytes(o + i) = s.charAt(i).toByte; i += 1 }
            }
            tag(0, "RIFF"); le32(4, 36L + 2 * nS); tag(8, "WAVE")
            tag(12, "fmt "); le32(16, 16L)
            le16(20, 1); le16(22, 1) // PCM, mono
            le32(24, 16000L); le32(28, 32000L) // rate, byte rate
            le16(32, 2); le16(34, 16) // block align, bits
            tag(36, "data"); le32(40, 2L * nS)
            // double-mix so distinct classes get UNRELATED streams
            // (a linear cls*K + k input would make neighbor classes
            // shifted copies of each other)
            val seed = mix64(cls)
            var k = 0
            while (k < nS) {
              val s = (((mix64(seed + k * 0x9E3779B97F4A7C15L)
                & Long.MaxValue) % 16001L) - 8000L).toInt * gain
              le16(44 + 2 * k, s & 0xFFFF)
              k += 1
            }
            (idL, bytes)
          }
        }.toDF("id", "content")
    val clips = mkClips(0L, nClip, pairMode = true)
    val auPairs = graft.operators.Audio.audioNearDupPairs(
      clips, "id", "content")
    // exact expected pair set: count == classes, every distance 0,
    // and sum(b - a) == classes pins each pair to (2c, 2c+1)
    val apAgg = auPairs.agg(count(lit(1)), max(col("distance")),
      sum(col("b") - col("a"))).collect()(0)
    require(apAgg.getLong(0) == nClip / 2L,
      s"audioNearDup pairs ${apAgg.getLong(0)} != ${nClip / 2}")
    require(apAgg.getLong(1) == 0L,
      s"audioNearDup max distance ${apAgg.getLong(1)} != 0")
    require(apAgg.getLong(2) == nClip / 2L,
      s"audioNearDup pair structure broken: sum(b-a)=${apAgg.getLong(2)}")
    report("clips" -> nClip, "twinPairs" -> nClip / 2)

    // index lifecycle at the same scale: persist the even-id half
    // as the corpus signature index (sidecar records the auto mode),
    // then admit a snapshot of the odd-id re-gained twins (every
    // one at distance 0 of an indexed signature -> dropped) plus
    // nClip/10 genuinely fresh clips (own classes -> admitted). The
    // admission's corpus side reads 8-byte signatures — no
    // re-decode of the 500k corpus clips.
    val auIdxDir = Fixtures.scratchDir("audio-idx-smoke").toString
    graft.operators.Audio.writeAudioNearDupIndex(
      clips.filter(col("id") % 2 === 0), "id", "content", auIdxDir)
    val auSnap = clips.filter(col("id") % 2 === 1)
      .unionByName(mkClips(nClip, nClip + nClip / 10L,
        pairMode = false))
    val auAdmitted = graft.operators.Audio
      .incrementalAudioNearDedup(auSnap, "id", "content", auIdxDir)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
      .collect()(0)
    require(auAdmitted.getLong(0) == nClip / 10L,
      s"audioAdmit count ${auAdmitted.getLong(0)} != ${nClip / 10}")
    require(auAdmitted.getLong(1) == nClip &&
      auAdmitted.getLong(2) == nClip + nClip / 10L - 1,
      s"audioAdmit ids [${auAdmitted.getLong(1)}, " +
        s"${auAdmitted.getLong(2)}] not the fresh range")
    report("indexed" -> nClip / 2, "snapshot" -> (nClip / 2 + nClip / 10), "fresh" -> nClip / 10)
    Fixtures.delete(java.nio.file.Paths.get(auIdxDir))
  }

  step("videoNearDup") {
    // video temporal near-dup at 1M clips: real AVI payloads
    // (library encoder: canonical RIFF/AVI with hdrl/strl/movi, 4x3
    // BGR24 frames, 66..73 frames per clip so the uniform-sampling
    // floor formula genuinely varies). 500k classes of exactly two
    // clips: even id = the class stream (pixels double-mixed so
    // distinct classes get UNRELATED luma sequences — an affine
    // cls/f/k pixel would collapse every class onto ~101 cyclic luma
    // patterns), odd id = the SAME frames re-gained x2 — luma sums
    // double, every strict temporal-gradient comparison is preserved,
    // fingerprints bit-identical (distance 0), expected pairs EXACTLY
    // the 500k (2c, 2c+1). The metadata pass then re-walks all 1M
    // containers header-only with a closed-form frame-count total.
    val nVid = nDocs
    // pairMode: ids (2c, 2c+1) share class c's frames, the odd id
    // re-gained x2; otherwise every id is its OWN class (fresh
    // streams for the admission snapshot — class space disjoint
    // from the 0..nVid/2 pair classes because ids start at nVid)
    def mkVids(lo: Long, hi: Long, pairMode: Boolean) =
      spark.range(lo, hi).repartition(if (pairMode) 64 else 8)
        .mapPartitions { it =>
          it.map { id =>
            val idL: Long = id
            val cls = if (pairMode) idL / 2 else idL
            val gain = if (pairMode && idL % 2 == 1) 2 else 1
            val n = 66 + (cls % 8).toInt
            val seed = mix64(cls)
            val frames = (0 until n).map { f =>
              val fs = mix64(seed + f * 0x9E3779B97F4A7C15L)
              Array.tabulate(36) { k =>
                ((((mix64(fs + k) & Long.MaxValue) % 101L).toInt)
                  * gain).toByte
              }
            }
            (idL, graft.operators.Video
              .buildUncompressedAvi(4, 3, frames, 40000L))
          }
        }.toDF("id", "content")
    val vids = mkVids(0L, nVid, pairMode = true)
    val vPairs = graft.operators.Video.videoNearDupPairs(
      vids, "id", "content")
    val vAgg = vPairs.agg(count(lit(1)), max(col("distance")),
      sum(col("b") - col("a"))).collect()(0)
    require(vAgg.getLong(0) == nVid / 2L,
      s"videoNearDup pairs ${vAgg.getLong(0)} != ${nVid / 2}")
    require(vAgg.getLong(1) == 0L,
      s"videoNearDup max distance ${vAgg.getLong(1)} != 0")
    require(vAgg.getLong(2) == nVid / 2L,
      s"videoNearDup pair structure broken: sum(b-a)=${vAgg.getLong(2)}")
    report("videos" -> nVid, "twinPairs" -> nVid / 2)

    val vm = graft.operators.Video.videoMetaScan(vids, "id", "content")
      .agg(count(lit(1)), sum(col("total_frames")),
        min(col("parsed").cast("int"))).collect()(0)
    require(vAgg != null && vm.getLong(0) == nVid.toLong,
      s"videoMeta rows ${vm.getLong(0)} != $nVid")
    // sum of frames: 2 clips per class c with 66 + c%8 frames
    val expTotal = {
      var t = 0L; var c = 0L
      while (c < nVid / 2L) { t += 2L * (66L + c % 8L); c += 1L }
      t
    }
    require(vm.getLong(1) == expTotal,
      s"videoMeta frame total ${vm.getLong(1)} != $expTotal")
    require(vm.getInt(2) == 1, "videoMeta: some payload failed to parse")
    report("metaContainers" -> nVid, "framesDeclared" -> vm.getLong(1))

    // index lifecycle at the same scale (the SigIndex artifact for
    // video): persist the even-id half as the corpus signature
    // index (sidecar records the frame cap), then admit a snapshot
    // of the odd-id re-gained twins (every one at distance 0 of an
    // indexed signature -> dropped) plus nVid/10 genuinely fresh
    // streams (own classes -> admitted). The admission's corpus
    // side reads 8-byte signatures — no re-decode of the 500k
    // corpus videos.
    val vIdxDir = Fixtures.scratchDir("video-idx-smoke").toString
    graft.operators.Video.writeVideoNearDupIndex(
      vids.filter(col("id") % 2 === 0), "id", "content", vIdxDir)
    val vSnap = vids.filter(col("id") % 2 === 1)
      .unionByName(mkVids(nVid, nVid + nVid / 10L, pairMode = false))
    val vAdm = graft.operators.Video
      .incrementalVideoNearDedup(vSnap, "id", "content", vIdxDir)
      .agg(count(lit(1)), min(col("id")), max(col("id")))
      .collect()(0)
    require(vAdm.getLong(0) == nVid / 10L,
      s"videoAdmit count ${vAdm.getLong(0)} != ${nVid / 10}")
    require(vAdm.getLong(1) == nVid &&
      vAdm.getLong(2) == nVid + nVid / 10L - 1,
      s"videoAdmit ids [${vAdm.getLong(1)}, ${vAdm.getLong(2)}] " +
        "not the fresh range")
    report("indexed" -> nVid / 2, "snapshot" -> (nVid / 2 + nVid / 10), "fresh" -> nVid / 10)
    Fixtures.delete(java.nio.file.Paths.get(vIdxDir))
  }

  step("mjpegNearDup") {
    // MJPEG (compressed codec) video near-dup at scale: every
    // frame a REAL standalone JPEG decoded through the JVM codec.
    // Clips are 66..73 flat-gray 16x16 frames (>= 65, so all 64
    // gradient bits are real frame comparisons — shorter clips repeat
    // frames and collapse the signature space); gray levels walk a
    // 16-step grid (13 levels), so the lossy DC round trip preserves
    // per-frame luma ORDER exactly (flat frames decode flat, DC quant
    // error < half a step). Classes of two: odd id = the SAME grays
    // +32 bias — a monotone shift, so fingerprints are bit-identical
    // (distance 0) even though the JPEG BYTES differ. Fixture JPEG
    // encodes are memoized per gray level (29 distinct flat frames in
    // total — synthesis stays cheap; the 65-sampled-frame DECODE per
    // clip is the thing under measure).
    val nMj = nDocs / 4
    val mjVids = spark.range(0L, nMj).repartition(64)
      .mapPartitions { it =>
        val jpegCache =
          scala.collection.mutable.HashMap.empty[Int, Array[Byte]]
        def flat(gray: Int): Array[Byte] =
          jpegCache.getOrElseUpdate(gray, {
            val bi = new java.awt.image.BufferedImage(
              16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = bi.createGraphics()
            try {
              g.setColor(new java.awt.Color(gray, gray, gray))
              g.fillRect(0, 0, 16, 16)
            } finally g.dispose()
            val out = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(bi, "jpg", out)
            out.toByteArray
          })
        it.map { id =>
          val idL: Long = id
          val cls = idL / 2
          val bias = if (idL % 2 == 1) 32 else 0
          val n = 66 + (cls % 8).toInt
          val seed = mix64(cls + 0x51AFD7ED5L)
          val frames = (0 until n).map { f =>
            val g = 16 + 16 * ((mix64(seed + f) & Long.MaxValue) % 13L)
              .toInt
            flat(g + bias)
          }
          (idL, graft.operators.Video.buildMjpegAvi(16, 16, frames,
            40000L))
        }
      }.toDF("id", "content")
    val mjPairs = graft.operators.Video.videoNearDupPairs(
      mjVids, "id", "content")
    val mjAgg = mjPairs.agg(count(lit(1)), max(col("distance")),
      sum(col("b") - col("a"))).collect()(0)
    require(mjAgg.getLong(0) == nMj / 2L,
      s"mjpegNearDup pairs ${mjAgg.getLong(0)} != ${nMj / 2}")
    require(mjAgg.getLong(1) == 0L,
      s"mjpegNearDup max distance ${mjAgg.getLong(1)} != 0")
    require(mjAgg.getLong(2) == nMj / 2L,
      s"mjpegNearDup pair structure: sum(b-a)=${mjAgg.getLong(2)}")
    report("videos" -> nMj, "twinPairs" -> nMj / 2)
    // header-only pass: the walk never touches JPEG bytes; every
    // container must report the MJPG fourcc and the closed-form
    // frame total
    val mjMeta = graft.operators.Video.videoMetaScan(
      mjVids, "id", "content")
      .agg(count(lit(1)), sum(col("total_frames")),
        min(col("compression")), max(col("compression")),
        min(col("parsed").cast("int"))).collect()(0)
    val expMjFrames = {
      var t = 0L; var c = 0L
      while (c < nMj / 2L) { t += 2L * (66L + c % 8L); c += 1L }
      t
    }
    require(mjMeta.getLong(0) == nMj.toLong &&
      mjMeta.getLong(1) == expMjFrames &&
      mjMeta.getLong(2) == 0x47504A4DL &&
      mjMeta.getLong(3) == 0x47504A4DL &&
      mjMeta.getInt(4) == 1,
      s"mjpegMeta: $mjMeta (expected frames $expMjFrames)")
    report("metaContainers" -> nMj)
  }

  step("sceneDetect") {
    // video scene hunt at 1M clips: the fragment triad's video
    // member. A known 66-frame scene (>= 65 frames, so segment
    // fingerprints keep all 64 comparison bits — shorter windows
    // collapse entropy, the documented degeneracy) is planted at
    // frame offset 8 inside every 500th of 1M 80-frame clips;
    // detection = segmentVideos(66, hop 8) -> admission of the 2M
    // segments against the ONE-entry scene index at maxDistance 0
    // (strict buckets). Dropped rows must be EXACTLY the planted
    // containers' offset-8 segments — 2000 of them, again 2x the old
    // cross-fold cap.
    val nSc = nDocs
    def frameOf(seed: Long, f: Int): Array[Byte] = {
      val fs = mix64(seed + f * 0x9E3779B97F4A7C15L)
      Array.tabulate(36)(k =>
        ((mix64(fs + k) & Long.MaxValue) % 101L).toByte)
    }
    val sceneFrames = (0 until 66).map(f => frameOf(mix64(-3L), f))
    val sceneBytes = graft.operators.Video.buildUncompressedAvi(
      4, 3, sceneFrames, 40000L)
    val scIdxDir = Fixtures.scratchDir("scene-smoke").toString
    graft.operators.Video.writeVideoNearDupIndex(
      Seq((0L, sceneBytes)).toDF("id", "content"),
      "id", "content", scIdxDir)
    val scClips = spark.range(0L, nSc).repartition(64)
      .mapPartitions { it =>
        val sf = {
          val s0 = mix64(-3L)
          (0 until 66).map(f => frameOf(s0, f))
        }
        it.map { id =>
          val idL: Long = id
          val planted = idL % 500 == 0
          val frames = (0 until 80).map { f =>
            if (planted && f >= 8 && f < 74) sf(f - 8)
            else frameOf(mix64(idL), f)
          }
          (idL, graft.operators.Video.buildUncompressedAvi(
            4, 3, frames, 40000L))
        }
      }.toDF("id", "content")
    val scSegs = graft.operators.Video.segmentVideos(scClips, "id",
      "content", segmentFrames = 66, hopFrames = 8).toDF()
      .filter(col("decoded"))
      .select((col("id") * 2 + col("segIdx")).as("id"), col("avi"))
    val scAdm = graft.operators.Video.incrementalVideoNearDedup(
      scSegs, "id", "avi", scIdxDir, maxDistance = 0,
      strictBuckets = true)
    val scAgg = scAdm.agg(count(lit(1)),
      sum(when(col("id") % 1000 === 1, 1L).otherwise(0L)))
      .collect()(0)
    require(scAgg.getLong(0) == 2L * nSc - 2L * (nSc / 1000L),
      s"scene admitted ${scAgg.getLong(0)} != " +
        s"${2L * nSc - 2L * (nSc / 1000L)}")
    require(scAgg.getLong(1) == 0L,
      s"${scAgg.getLong(1)} planted scene segments leaked through")
    report("clips" -> nSc, "segments" -> 2L * nSc, "plantedFound" -> 2L * (nSc / 1000L))
    Fixtures.delete(java.nio.file.Paths.get(scIdxDir))
  }

  step("approxGroupRank") {
    // approxGroupedRankBuckets at 100k groups: the crawl-scale
    // rank-cut engine with a closed-form planted answer. 100k domains
    // x 10 docs, scores 0..9 within each; 16 bins over [0, 10] give
    // every distinct score its own bin, so the sketch cut equals the
    // exact engine's ceil(rank*4/10) — per-group bucket sizes
    // {2, 3, 2, 3}. No per-group driver state: heap stays flat while
    // group cardinality is 25x the exact engine's maxGroups gate.
    val nAgr = 1000000L
    val agrDocs = spark.range(nAgr).select(col("id"),
      (col("id") / 10).cast("long").cast("string").as("domain"),
      (col("id") % 10).cast("double").as("score"))
    val agrCut = graft.operators.DataSelection.approxGroupedRankBuckets(
      agrDocs, "domain", "score", 4, lo = 0.0, hi = 10.0, nBins = 16)
    // bucket is a pure function of (group, bin) and every domain has
    // the same score set -> exactly 10 (score, bucket) pairs, each
    // holding all 100k domains
    val agrAgg = agrCut.groupBy(col("score"), col("bucket")).count()
      .collect()
      .map(r => (r.getDouble(0), r.getInt(1)) -> r.getLong(2)).toMap
    require(agrAgg.size == 10, s"agr pairs ${agrAgg.size}: $agrAgg")
    val agrExpect = Map(0.0 -> 1, 1.0 -> 1, 2.0 -> 2, 3.0 -> 2,
      4.0 -> 2, 5.0 -> 3, 6.0 -> 3, 7.0 -> 4, 8.0 -> 4, 9.0 -> 4)
    for ((s2, b) <- agrExpect)
      require(agrAgg.get((s2, b)).contains(nAgr / 10),
        s"agr score $s2 bucket $b: ${agrAgg.filter(_._1._1 == s2)}")
    report("docs" -> nAgr, "domains" -> nAgr / 10)
  }

  step("jingleDetect") {
    // fragment bridges at 1M: needle-in-a-haystack detection.
    // Whole-payload fingerprints CANNOT find a known fragment buried
    // inside a larger payload (the duration-normalized audio sig and
    // the whole-image hash both deliberately normalize it away); the
    // bridge operators exist exactly for this. Plant ONE known jingle
    // inside every 500th of 1M clips and ONE known crop inside every
    // 500th of 1M images; detection = segment/tile the haystack,
    // admit against the one-entry needle index, and the dropped rows
    // must be EXACTLY the planted containers. 2000 planted copies —
    // DELIBERATELY above the default maxBucket of 1000: every planted
    // fragment carries the IDENTICAL signature, and under the
    // pre-round-15 union fold (degenerate-bucket guard counting both
    // sides) the needle's own bucket overflowed and ALL matches were
    // silently dropped (measured here: 1000 planted -> 0 found). The
    // corpus-side-only fold caps only INDEXED signature buckets, so
    // snapshot multiplicity is unbounded by construction — this run
    // pins that at 2x the old killing threshold.
    val nHay = 1000000L
    // audio: clips of 1040 mono samples; id % 500 == 0 clips carry
    // the fixed 260-sample jingle as segment 0 (hop = width = 260)
    def jingleSample(k: Int): Int =
      (((mix64(mix64(-1L) + k) & Long.MaxValue) % 16001L) - 8000L).toInt
    val clips = spark.range(0L, nHay).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val samples = Array.tabulate(1040) { k =>
            if (id % 500 == 0 && k < 260) jingleSample(k)
            else (((mix64(mix64(id) + k) & Long.MaxValue) % 16001L)
              - 8000L).toInt
          }
          (id, graft.operators.Audio.wrapWav(samples, 0, 1040, 8000))
        }
      }.toDF("id", "content")
    val jIdxDir = Fixtures.scratchDir("jingle-smoke").toString
    graft.operators.Audio.writeAudioNearDupIndex(
      Seq((0L, graft.operators.Audio.wrapWav(
        Array.tabulate(260)(jingleSample), 0, 260, 8000)))
        .toDF("id", "content"),
      "id", "content", jIdxDir)
    val segs = graft.operators.Audio.segmentClips(clips, "id",
      "content", segmentFrames = 260).toDF()
      .filter(col("decoded"))
      .select((col("id") * 4 + col("segIdx")).as("id"), col("wav"))
    // strictBuckets passes (the one-entry index has no over-cap
    // bucket) and the admission drops exactly the planted
    // (id % 500 == 0, segment 0) rows — 2000 of them, 2x the cap
    // that silently killed the pre-round-15 hunt
    val segAdm = graft.operators.Audio.incrementalAudioNearDedup(
      segs, "id", "wav", jIdxDir, strictBuckets = true)
    val jAgg = segAdm.agg(count(lit(1)),
      sum(when(col("id") % 2000 === 0, 1L).otherwise(0L)))
      .collect()(0)
    require(jAgg.getLong(0) == 4L * nHay - 2000L,
      s"jingle admitted ${jAgg.getLong(0)} != ${4 * nHay - 2000}")
    require(jAgg.getLong(1) == 0L,
      s"${jAgg.getLong(1)} planted jingle segments leaked through")
    report("clips" -> nHay, "segments" -> 4 * nHay)
    Fixtures.delete(java.nio.file.Paths.get(jIdxDir))

    // images: 32x24 BMPs; id % 500 == 0 images carry the fixed
    // 16x12 crop as tile (0, 0)
    def cropByte(k: Int): Byte =
      ((mix64(mix64(-2L) + k) & Long.MaxValue) % 256L).toByte
    val imgs = spark.range(0L, nHay).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val bgr = Array.tabulate(3 * 32 * 24) { k =>
            val p = k / 3
            val x = p % 32
            val y = p / 32
            if (id % 500 == 0 && x < 16 && y < 12)
              cropByte(3 * (y * 16 + x) + k % 3)
            else ((mix64(mix64(id + 7L) + k) & Long.MaxValue) % 256L).toByte
          }
          (id, graft.operators.Multimodal.buildBmp(32, 24, bgr))
        }
      }.toDF("id", "content")
    val cIdxDir = Fixtures.scratchDir("crop-smoke").toString
    graft.operators.Multimodal.writeImageNearDupIndex(
      Seq((0L, graft.operators.Multimodal.buildBmp(16, 12,
        Array.tabulate(3 * 16 * 12)(cropByte))))
        .toDF("id", "content"),
      "id", "content", cIdxDir)
    val tiles = graft.operators.Multimodal.tileImages(imgs, "id",
      "content", tileW = 16, tileH = 12).toDF()
      .filter(col("decoded"))
      .select((col("id") * 4 + col("tileY") * 2 + col("tileX"))
        .as("id"), col("image"))
    val tileAdm = graft.operators.Multimodal.incrementalImageNearDedup(
      tiles, "id", "image", cIdxDir, strictBuckets = true)
    val cAgg = tileAdm.agg(count(lit(1)),
      sum(when(col("id") % 2000 === 0, 1L).otherwise(0L)))
      .collect()(0)
    require(cAgg.getLong(0) == 4L * nHay - 2000L,
      s"crop admitted ${cAgg.getLong(0)} != ${4 * nHay - 2000}")
    require(cAgg.getLong(1) == 0L,
      s"${cAgg.getLong(1)} planted crop tiles leaked through")
    report("images" -> nHay, "tiles" -> 4 * nHay)
    Fixtures.delete(java.nio.file.Paths.get(cIdxDir))
  }

  step("soundtrackDetect") {
    // soundtrack hunt at 500k videos: the round-16 bridge, through
    // the PUBLIC hunt API (strict buckets are its default). Every
    // 500th of 500k two-stream AVIs carries a known 1040-sample jingle
    // as soundtrack segment 1; findVideosWithJingle = extract the
    // audio track (byte-level 01wb concat), segment, fingerprint under
    // the index's params, cross-bucket admit — hits must be EXACTLY
    // the planted (container, segment 1) locations.
    val nVid = 500000L
    def jingleSample(k: Int): Int =
      (((mix64(mix64(-5L) + k) & Long.MaxValue) % 16001L) - 8000L).toInt
    val jIdxDir = Fixtures.scratchDir("vjingle-smoke").toString
    graft.operators.Audio.writeAudioNearDupIndex(
      Seq((0L, graft.operators.Audio.wrapWav(
        Array.tabulate(1040)(jingleSample), 0, 1040, 8000)))
        .toDF("id", "content"),
      "id", "content", jIdxDir)
    val vids = spark.range(0L, nVid).repartition(64)
      .mapPartitions { it =>
        val frames = (0 until 4).map { f =>
          val fs = mix64(-6L + f)
          Array.tabulate(36)(k =>
            ((mix64(fs + k) & Long.MaxValue) % 101L).toByte)
        }
        it.map { id =>
          val samples = Array.tabulate(3120) { k =>
            if (id % 500 == 0 && k >= 1040 && k < 2080)
              jingleSample(k - 1040)
            else (((mix64(mix64(id) + k) & Long.MaxValue) % 16001L)
              - 8000L).toInt
          }
          (id, graft.operators.Video.buildAviWithAudio(
            4, 3, frames, 40000L, samples, 8000))
        }
      }.toDF("id", "content")
    val vhits = graft.operators.Video.findVideosWithJingle(
      vids, "id", "content", jIdxDir, segmentFrames = 1040)
    val vAgg = vhits.agg(count(lit(1)),
      sum(when(col("id") % 500 === 0 && col("seg_idx") === 1L, 1L)
        .otherwise(0L))).collect()(0)
    require(vAgg.getLong(0) == nVid / 500L &&
      vAgg.getLong(1) == nVid / 500L,
      s"soundtrackDetect: $vAgg != ${nVid / 500} planted hits")
    report("videos" -> nVid, "plantedHits" -> nVid / 500)
    Fixtures.delete(java.nio.file.Paths.get(jIdxDir))
  }

  step("crossContainerDedup") {
    // cross-container dedup at 500k payloads: 250k pixel classes,
    // each carried TWICE — as an uncompressed AVI (even id) and as an
    // animated GIF through the REAL LZW decode (odd id). One
    // signature space (videoSigsAuto dispatches by magic): the pair
    // set must be EXACTLY the 250k (2c, 2c+1) container twins at
    // distance 0 — no cross-class leakage, no same-container bias.
    val nCc = 500000L
    val palette = Array.tabulate(16)(i =>
      (((i * 23) % 256) << 16) | (((i * 47) % 256) << 8) |
        ((i * 91) % 256))
    val mixed = spark.range(0L, nCc).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val cls = id / 2
          // per-class index stream: 66 frames of 8x4 palette
          // indices from the mixed seed (genuinely varying luma)
          val idxFrames = (0 until 66).map { f =>
            val fs = mix64(mix64(cls) + f)
            Array.tabulate(32)(p =>
              ((mix64(fs + p) & Long.MaxValue) % 16L).toByte)
          }
          val payload =
            if (id % 2 == 0) {
              val frames = idxFrames.map { ix =>
                val bgr = new Array[Byte](96)
                ix.indices.foreach { p =>
                  val rgb = palette(ix(p) & 0xFF)
                  bgr(3 * p) = (rgb & 0xFF).toByte
                  bgr(3 * p + 1) = ((rgb >> 8) & 0xFF).toByte
                  bgr(3 * p + 2) = ((rgb >> 16) & 0xFF).toByte
                }
                bgr
              }
              graft.operators.Video.buildUncompressedAvi(
                8, 4, frames, 40000L)
            } else graft.operators.Gif.buildGif(
              8, 4, palette, idxFrames, delayCs = 4)
          (id, payload)
        }
      }.toDF("id", "content")
    val ccPairs = graft.operators.Video.videoNearDupPairsAuto(
      mixed, "id", "content", maxDistance = 0)
    val ccAgg = ccPairs.agg(count(lit(1)), sum(col("b") - col("a")),
      max(col("distance"))).collect()(0)
    require(ccAgg.getLong(0) == nCc / 2L,
      s"crossContainer pairs ${ccAgg.getLong(0)} != ${nCc / 2}")
    require(ccAgg.getLong(1) == nCc / 2L,
      s"crossContainer pair structure: sum(b-a)=${ccAgg.getLong(1)}")
    require(ccAgg.getLong(2) == 0L,
      s"crossContainer max distance ${ccAgg.getLong(2)} != 0")
    report("payloads" -> nCc, "avi" -> nCc / 2, "gif" -> nCc / 2, "twinPairs" -> nCc / 2)
  }

  step("mp4Meta") {
    // container metadata throughput: the 100 TB filter path for
    // the round-16 walks. 2M MP4s (both the 32-bit and the v1/
    // largesize 64-bit forms) and 1M MP3 frame streams, header-only —
    // closed-form aggregates pin every projected field.
    val nM4 = 2000000L
    val m4s = spark.range(0L, nM4).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Mp4.buildMp4(
            timescale = 600L + b, duration = 1000L + b * 77L,
            width = 16 * (1 + b % 4), height = 16 * (1 + b % 3),
            nFrames = 24L + b % 8, mdatBytes = 64,
            use64Bit = b % 2 == 1))
        }
      }.toDF("id", "content")
    val m4Agg = graft.operators.Mp4.mp4MetaScan(m4s, "id", "content")
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        sum(col("duration")), sum(col("video_frames"))).collect()(0)
    val expDur = (0 until 64).map(b => 1000L + b * 77L).sum *
      (nM4 / 64L)
    val expFr = (0 until 64).map(b => 24L + b % 8).sum * (nM4 / 64L)
    require(m4Agg.getLong(0) == nM4 && m4Agg.getInt(1) == 1 &&
      m4Agg.getLong(2) == expDur && m4Agg.getLong(3) == expFr,
      s"mp4Meta: $m4Agg (expected dur $expDur frames $expFr)")
    report("mp4Containers" -> nM4)

    val nM3 = 1000000L
    val m3s = spark.range(0L, nM3).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val vb = (b % 3: @unchecked) match {
            case 0 => 3
            case 1 => 2
            case 2 => 0
          }
          (id, graft.operators.Mp3.buildMp3(vb, (b / 3) % 3,
            Seq.fill(5 + b % 6)(1 + b % 14), mono = b % 2 == 0))
        }
      }.toDF("id", "content")
    val m3Agg = graft.operators.Mp3.mp3MetaScan(m3s, "id", "content")
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        sum(col("frames"))).collect()(0)
    val expM3Fr = (0 until 64).map(b => 5L + b % 6).sum * (nM3 / 64L)
    require(m3Agg.getLong(0) == nM3 && m3Agg.getInt(1) == 1 &&
      m3Agg.getLong(2) == expM3Fr,
      s"mp3Meta: $m3Agg (expected frames $expM3Fr)")
    report("mp3Streams" -> nM3)
  }

  step("mp4SoundtrackDetect") {
    // MP4 soundtrack hunt at 500k containers: the round-17
    // sample-table bridge. Every 500th of 500k MP4s (sowt PCM sound
    // tracks behind real stsc/stsz/stco layouts, leading video trak)
    // carries the known jingle as segment 1; the SAME public hunt API
    // as the AVI smoke — extractAudioTracks now dispatches by magic —
    // must return EXACTLY the planted (container, segment 1) hits.
    val nVid = 500000L
    def jingleSample(k: Int): Int =
      (((mix64(mix64(-7L) + k) & Long.MaxValue) % 16001L) - 8000L).toInt
    val jIdxDir = Fixtures.scratchDir("m4jingle-smoke").toString
    graft.operators.Audio.writeAudioNearDupIndex(
      Seq((0L, graft.operators.Audio.wrapWav(
        Array.tabulate(1040)(jingleSample), 0, 1040, 8000)))
        .toDF("id", "content"),
      "id", "content", jIdxDir)
    val vids = spark.range(0L, nVid).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val samples = Array.tabulate(3120) { k =>
            if (id % 500 == 0 && k >= 1040 && k < 2080)
              jingleSample(k - 1040)
            else (((mix64(mix64(id) + k) & Long.MaxValue) % 16001L)
              - 8000L).toInt
          }
          (id, graft.operators.Mp4.buildMp4Pcm(
            600L, 3120L, "sowt", 1, 8000, samples,
            Seq(1024, 1024, 1072), use64BitOffsets = id % 2 == 1,
            withVideoTrack = true))
        }
      }.toDF("id", "content")
    val vhits = graft.operators.Video.findVideosWithJingle(
      vids, "id", "content", jIdxDir, segmentFrames = 1040)
    val vAgg = vhits.agg(count(lit(1)),
      sum(when(col("id") % 500 === 0 && col("seg_idx") === 1L, 1L)
        .otherwise(0L))).collect()(0)
    require(vAgg.getLong(0) == nVid / 500L &&
      vAgg.getLong(1) == nVid / 500L,
      s"mp4SoundtrackDetect: $vAgg != ${nVid / 500} planted hits")
    report("mp4s" -> nVid, "plantedHits" -> nVid / 500)
    Fixtures.delete(java.nio.file.Paths.get(jIdxDir))
  }

  step("webmMeta") {
    // round-17 metadata walks at the 100 TB filter shape: 2M
    // WebM/Matroska EBML containers through the 1 KiB PREFIX route
    // and 2M EXIF-bearing JPEGs through the APP1 walk — closed-form
    // aggregates pin every projected field.
    val nWm = 2000000L
    val wms = spark.range(0L, nWm).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Webm.buildWebm(
            docType = if (b % 2 == 0) "webm" else "matroska",
            timescaleNs = 1000000L,
            durationTicks = (1000 + b * 13).toDouble,
            videoCodec = "V_VP" + (8 + b % 2),
            width = 320 + 16 * (b % 4), height = 240 + 16 * (b % 3),
            nClusters = 2, clusterBytes = 2048,
            unknownSizeSegment = b % 5 == 0))
        }
      }.toDF("id", "content")
    val wmAgg = graft.operators.Webm.webmMetaScan(wms, "id",
      "content", prefixBytes = 1024)
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        sum(col("duration_ms")), sum(col("width"))).collect()(0)
    val expDur = (0 until 64).map(b => 1000L + b * 13L).sum *
      (nWm / 64L)
    val expW = (0 until 64).map(b => 320L + 16 * (b % 4)).sum *
      (nWm / 64L)
    require(wmAgg.getLong(0) == nWm && wmAgg.getInt(1) == 1 &&
      wmAgg.getLong(2) == expDur && wmAgg.getLong(3) == expW,
      s"webmMeta: $wmAgg (expected dur $expDur width $expW)")
    report("webmContainers" -> nWm)

    val nEx = 2000000L
    val exs = spark.range(0L, nEx).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Multimodal.buildJpegExif(
            1 + b % 8, "Maker_" + (b % 5), "Model_" + b,
            f"2020:01:${1 + b % 28}%02d 10:00:${b % 60}%02d",
            f"2019:12:${1 + b % 28}%02d 09:59:${b % 60}%02d",
            100 * (1 + b % 8), 640L + 16L * b, 480L + 8L * b,
            littleEndian = b % 2 == 0))
        }
      }.toDF("id", "content")
    val exAgg = graft.operators.Multimodal.jpegExifScan(exs, "id",
      "content")
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        sum(col("orientation").cast("long")),
        sum(col("iso").cast("long"))).collect()(0)
    val expOri = (0 until 64).map(b => 1L + b % 8).sum * (nEx / 64L)
    val expIso = (0 until 64).map(b => 100L * (1 + b % 8)).sum *
      (nEx / 64L)
    require(exAgg.getLong(0) == nEx && exAgg.getInt(1) == 1 &&
      exAgg.getLong(2) == expOri && exAgg.getLong(3) == expIso,
      s"exifMeta: $exAgg (expected ori $expOri iso $expIso)")
    report("exifJpegs" -> nEx)
  }

  step("flacDecode") {
    // FLAC decode throughput: 200k REAL Rice-coded streams (the
    // five subframe strategies) through the full bit-level decode —
    // CRCs verified on every frame, samples aggregated in closed form.
    val nFl = 200000L
    val fls = spark.range(0L, nFl).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val n = 384 + 16 * (b % 8)
          val mode = b % 5
          val s =
            if (mode == 0) Array.fill(n)(b - 32)
            else Array.tabulate(n) { k =>
              val v = ((b * 53 + k * 17 + k * k % 31) % 201) - 100
              if (mode == 2) v * 4 else v
            }
          val flac = mode match {
            case 0 => graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "constant", blockSize = 128)
            case 1 => graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "verbatim", blockSize = 128)
            case 2 => graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "fixed1", blockSize = 128, wastedBits = 2)
            case 3 => graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "fixed2", blockSize = 128,
              partitionOrder = 2)
            case _ => graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "lpc", blockSize = 128,
              lpcCoefs = Array(25, -9), lpcShift = 4)
          }
          (id, flac)
        }
      }.toDF("id", "content")
    val flAgg = graft.operators.Flac.flacStats(fls, "id", "content")
      .agg(count(lit(1)), sum(col("n_frames")),
        sum(col("sample_sum"))).collect()(0)
    def planted(b: Int): (Long, Long) = {
      val n = 384 + 16 * (b % 8)
      val mode = b % 5
      val s =
        if (mode == 0) Array.fill(n)(b - 32)
        else Array.tabulate(n) { k =>
          val v = ((b * 53 + k * 17 + k * k % 31) % 201) - 100
          if (mode == 2) v * 4 else v
        }
      (n.toLong, s.map(_.toLong).sum)
    }
    val exp = (0 until 64).map(planted)
    val expN = exp.map(_._1).sum * (nFl / 64L)
    val expS = exp.map(_._2).sum * (nFl / 64L)
    require(flAgg.getLong(0) == nFl && flAgg.getLong(1) == expN &&
      flAgg.getLong(2) == expS,
      s"flacDecode: $flAgg (expected frames $expN sum $expS)")
    report("flacStreams" -> nFl)
  }

  step("audioCrossContainer") {
    // cross-container AUDIO dedup at 500k payloads: 250k sample
    // streams, each carried TWICE — as a canonical WAV (even id) and
    // as a Rice-coded FLAC through the REAL bit-level decode (odd
    // id). ONE signature space (decodeSamples dispatches by magic):
    // the pair set must be EXACTLY the 250k (2c, 2c+1) container
    // twins at distance 0.
    val nAc = 500000L
    val mixed = spark.range(0L, nAc).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val cls = id / 2
          val s = Array.tabulate(1024)(k =>
            (((mix64(mix64(cls) + k) & Long.MaxValue) % 2001L) - 1000L)
              .toInt)
          val payload =
            if (id % 2 == 0)
              graft.operators.Audio.wrapWav(s, 0, s.length, 8000)
            else graft.operators.Flac.buildFlac(8000, Array(s),
              strategy = "fixed2", blockSize = 128)
          (id, payload)
        }
      }.toDF("id", "content")
    val acPairs = graft.operators.Audio.audioNearDupPairs(
      mixed, "id", "content", maxDistance = 0)
    val acAgg = acPairs.agg(count(lit(1)), sum(col("b") - col("a")),
      max(col("distance"))).collect()(0)
    require(acAgg.getLong(0) == nAc / 2L,
      s"audioCross pairs ${acAgg.getLong(0)} != ${nAc / 2}")
    require(acAgg.getLong(1) == nAc / 2L,
      s"audioCross pair structure: sum(b-a)=${acAgg.getLong(1)}")
    require(acAgg.getLong(2) == 0L,
      s"audioCross max distance ${acAgg.getLong(2)} != 0")
    report("payloads" -> nAc, "wav" -> nAc / 2, "flac" -> nAc / 2, "twinPairs" -> nAc / 2)
  }

  step("mediaMeta") {
    // unified media scan at 2M mixed containers: all EIGHT
    // families side by side through ONE pass (per-row magic
    // dispatch); closed-form per-family counts and duration sums pin
    // the projection.
    val nMe = 2000000L
    val mixed = spark.range(0L, nMe).repartition(64)
      .mapPartitions { it =>
        val palette = Array.tabulate(16)(i => i * 0x111111)
        it.map { id =>
          val b = (id % 64).toInt
          val alt = (b / 8) % 2 == 0
          val payload = (b % 8: @unchecked) match {
            case 0 => graft.operators.Video.buildUncompressedAvi(
              4, 3, (0 until 2 + b % 3).map(f =>
                Array.tabulate[Byte](36)(k =>
                  ((b * 131 + f * 31 + k * 7) % 101).toByte)), 40000L)
            case 1 => graft.operators.Gif.buildGif(4, 3, palette,
              (0 until 2 + b % 3).map(f =>
                Array.tabulate[Byte](12)(p =>
                  ((f * 31 + p * p % 13) % 16).toByte)),
              delayCs = 4 + b % 5)
            case 2 => graft.operators.Mp4.buildMp4(600L + b,
              1000L + b * 77L, 16 * (1 + b % 4), 16 * (1 + b % 3))
            case 3 => graft.operators.Webm.buildWebm(
              if (alt) "webm" else "matroska", 1000000L,
              (1000 + b * 13).toDouble, "V_VP8", 320, 240)
            case 4 => graft.operators.Audio.wrapWav(
              Array.tabulate(400 + b * 2)(k =>
                (b * 53 + k * 17) % 201 - 100), 0, 400 + b * 2, 8000)
            case 5 => graft.operators.Flac.buildFlac(8000,
              Array(Array.tabulate(384)(k =>
                (b * 53 + k * 17) % 201 - 100)), blockSize = 128)
            case 6 => graft.operators.Mp3.buildMp3(3, 0,
              Seq.fill(5 + (b / 8) % 6)(5), mono = true)
            case 7 => graft.operators.Audio.buildOgg(
              if (alt) "opus" else "vorbis", 1, 8000,
              800L + b * 10L)
          }
          (id, payload)
        }
      }.toDF("id", "content")
    val meAgg = graft.operators.Media.mediaMetaScan(mixed, "id",
      "content")
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        count_distinct(col("container")),
        sum(col("duration_ms"))).collect()(0)
    def durOf(b: Int): Long = {
      val alt = (b / 8) % 2 == 0
      (b % 8: @unchecked) match {
        case 0 => (2 + b % 3) * 40L
        case 1 => (2 + b % 3) * (4 + b % 5) * 10L
        case 2 => (1000L + b * 77L) * 1000L / (600L + b)
        case 3 => 1000L + b * 13L
        case 4 => (400L + b * 2L) / 8L
        case 5 => 384L / 8L
        case 6 => (5L + (b / 8) % 6) * 1152L * 1000L / 44100L
        case 7 => (800L + b * 10L) * 1000L /
          (if (alt) 48000L else 8000L)
      }
    }
    val expDur = (0 until 64).map(durOf).sum * (nMe / 64L)
    require(meAgg.getLong(0) == nMe && meAgg.getInt(1) == 1 &&
      meAgg.getLong(2) == 9L && meAgg.getLong(3) == expDur,
      s"mediaMeta: $meAgg (expected 9 containers, dur $expDur)")
    report("containers" -> nMe)
  }

  step("streamingJingleWatch") {
    // streaming jingle watch: the round-17 deployment shape — a
    // live clip feed in three micro-batches against the persisted
    // jingle index, matched locations per batch, zero streaming
    // state. Planted truth: every 200th clip carries the jingle at
    // segment 1; the cumulative hit set after each batch is exact.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    val batchN = 20000L
    def jingleSample(k: Int): Int =
      (((mix64(mix64(-9L) + k) & Long.MaxValue) % 16001L) - 8000L).toInt
    val jIdxDir = Fixtures.scratchDir("sjingle-smoke").toString
    graft.operators.Audio.writeAudioNearDupIndex(
      Seq((0L, graft.operators.Audio.wrapWav(
        Array.tabulate(1040)(jingleSample), 0, 1040, 8000)))
        .toDF("id", "content"),
      "id", "content", jIdxDir)
    def clip(id: Long): Array[Byte] = {
      val samples = Array.tabulate(3120) { k =>
        if (id % 200 == 0 && k >= 1040 && k < 2080)
          jingleSample(k - 1040)
        else (((mix64(mix64(id) + k) & Long.MaxValue) % 16001L)
          - 8000L).toInt
      }
      graft.operators.Audio.wrapWav(samples, 0, 3120, 8000)
    }
    val mem = MemoryStream[(Long, java.sql.Timestamp, Array[Byte])]
    val q = graft.operators.Audio.findClipsContainingJingleStream(
        mem.toDF().toDF("id", "ts", "content"), "id", "content",
        "ts", jIdxDir, segmentFrames = 1040)
      .writeStream.format("memory").queryName("smoke_jingle_watch")
      .outputMode("append").start()
    try {
      var batch = 0
      while (batch < 3) {
        val lo = batch * batchN
        val ts = java.sql.Timestamp.valueOf(
          f"2024-01-01 00:0$batch:00")
        mem.addData((lo until lo + batchN).map(id =>
          (id, ts, clip(id))))
        q.processAllAvailable()
        val got = spark.table("smoke_jingle_watch")
          .agg(count(lit(1)),
            sum(when(col("id") % 200 === 0 &&
              col("seg_idx") === 1L, 1L).otherwise(0L)))
          .collect()(0)
        val expHits = (lo + batchN + 199L) / 200L
        require(got.getLong(0) == expHits &&
          got.getLong(1) == expHits,
          s"jingleWatch batch $batch: $got != $expHits planted hits")
        batch += 1
      }
    } finally q.stop()
    report("batchClips" -> batchN)
    Fixtures.delete(java.nio.file.Paths.get(jIdxDir))
  }

  step("pngMeta") {
    // PNG metadata throughput: 1M real PNGs (CRC'd chunk grammar,
    // deflated IDAT, a provenance text chunk) through the chunk walk —
    // CRC verification on every chunk, zero inflate on this path.
    val nPm = 1000000L
    val pms = spark.range(0L, nPm).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Png.buildPng(16, 8, 0,
            Array.tabulate(128)(p => ((b * 7 + p * 13) % 256).toByte),
            filterOf = y => (b + y) % 5,
            texts = Seq(("Software", "graft-" + (b % 7), "text"))))
        }
      }.toDF("id", "content")
    val pmAgg = graft.operators.Png.pngMetaScan(pms, "id", "content")
      .agg(count(lit(1)), min(col("parsed").cast("int")),
        sum(col("width")), sum(col("text_chunks"))).collect()(0)
    require(pmAgg.getLong(0) == nPm && pmAgg.getInt(1) == 1 &&
      pmAgg.getLong(2) == 16L * nPm && pmAgg.getLong(3) == nPm,
      s"pngMeta: $pmAgg")
    report("pngsWalked" -> nPm)

    // PNG full decode: 200k inflate + unfilter passes (all five
    // filters per file), luma folded to a closed-form total.
    val nPd = 200000L
    val pds = spark.range(0L, nPd).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Png.buildPng(16, 8, 0,
            Array.tabulate(128)(p => ((b * 7 + p * 13) % 256).toByte),
            filterOf = y => (b + y) % 5))
        }
      }.toDF("id", "content")
    val pdAgg = graft.operators.Png.pngStats(pds, "id", "content")
      .agg(count(lit(1)), sum(col("luma_total"))).collect()(0)
    val expLuma = (0 until 64).map(b =>
      (0 until 128).map(p => 3L * ((b * 7 + p * 13) % 256)).sum)
      .sum * (nPd / 64L)
    require(pdAgg.getLong(0) == nPd && pdAgg.getLong(1) == expLuma,
      s"pngDecode: $pdAgg (expected luma $expLuma)")
    report("pngsDecoded" -> nPd)
  }

  step("imageCrossContainer") {
    // cross-container IMAGE dedup: 100k pixel classes x 3
    // containers (RGB PNG / canonical BMP / 256-gray-palette GIF) ->
    // ONE dHash space; exactly 3 distance-0 pairs per class.
    val nIc = 100000L // classes; 3x payloads
    val grayPal = Array.tabulate(256)(i => (i << 16) | (i << 8) | i)
    val imgs = spark.range(0L, 3L * nIc).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val cls = id / 3
          val v = Array.tabulate(72)(i =>
            ((mix64(mix64(cls) + i) & Long.MaxValue) % 256L).toInt)
          val payload = (id % 3) match {
            case 0 => graft.operators.Png.buildPng(9, 8, 2,
              v.flatMap(x => Array(x.toByte, x.toByte, x.toByte)),
              filterOf = y => ((cls + y) % 5).toInt)
            case 1 =>
              val bgr = new Array[Byte](3 * 72)
              v.indices.foreach { p =>
                bgr(3 * p) = v(p).toByte
                bgr(3 * p + 1) = v(p).toByte
                bgr(3 * p + 2) = v(p).toByte
              }
              graft.operators.Multimodal.buildBmp(9, 8, bgr)
            case _ => graft.operators.Gif.buildGif(9, 8, grayPal,
              Seq(v.map(_.toByte)), delayCs = 4)
          }
          (id, payload)
        }
      }.toDF("id", "content")
    val icPairs = graft.operators.Multimodal.imageNearDupPairs(
      imgs, "id", "content", maxDistance = 0)
    val icAgg = icPairs.agg(count(lit(1)), sum(col("b") - col("a")),
      max(col("distance"))).collect()(0)
    require(icAgg.getLong(0) == 3L * nIc,
      s"imageCross pairs ${icAgg.getLong(0)} != ${3L * nIc}")
    require(icAgg.getLong(1) == 4L * nIc, // (1)+(2)+(1) per class
      s"imageCross pair structure: sum(b-a)=${icAgg.getLong(1)}")
    require(icAgg.getLong(2) == 0L,
      s"imageCross max distance ${icAgg.getLong(2)} != 0")
    report("payloads" -> 3L * nIc, "png" -> nIc, "bmp" -> nIc, "gif" -> nIc,
      "twinPairs" -> 3L * nIc)
  }

  step("webdataset") {
    // WebDataset shards: 200k tar shards x 8 samples x 3 members
    // through the checksum-verified ustar walk + the LOCAL stem fold
    // (no shuffle until the census aggregate) — censuses exact.
    val nTar = 200000L
    val tars = spark.range(0L, nTar).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val members = (0 until 8).flatMap { k =>
            Seq(
              (s"shard/${id}_$k.jpg",
                s"img:$id:$k".getBytes("UTF-8")),
              (s"shard/${id}_$k.txt",
                ("t" * (10 + ((id + k) % 20)).toInt).getBytes("UTF-8")),
              (s"shard/${id}_$k.json",
                s"""{"k":$k}""".getBytes("UTF-8")))
          }
          (id, graft.operators.Tar.buildTar(members))
        }
      }.toDF("id", "content")
    val wdAgg = graft.operators.Tar.webdatasetSamples(tars, "id",
      "content")
      .agg(count(lit(1)), min(col("n_members")),
        sum(when(col("exts") === "jpg,json,txt", 1L).otherwise(0L)))
      .collect()(0)
    require(wdAgg.getLong(0) == 8L * nTar &&
      wdAgg.getLong(1) == 3L && wdAgg.getLong(2) == 8L * nTar,
      s"webdataset: $wdAgg")
    report("shards" -> nTar, "samples" -> 8 * nTar)
  }

  step("zipShards") {
    // ZIP shards: 200k archives through the EOCD/central-directory
    // walk — CRC verified on every member, stored + deflate mixed.
    val nZp = 200000L
    val zips = spark.range(0L, nZp).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Zip.buildZip((0 until 4).map { k =>
            (s"z/${id}_$k.txt",
              ("m" * (8 + (b + k) % 16)).getBytes("UTF-8"),
              k % 2 == 1)
          }))
        }
      }.toDF("id", "content")
    val zpAgg = graft.operators.Zip.zipEntries(zips, "id", "content")
      .agg(count(lit(1)),
        sum(when(col("method") === "deflate", 1L).otherwise(0L)),
        sum(col("size"))).collect()(0)
    val expBytes = (0 until 64).map(b =>
      (0 until 4).map(k => 8L + (b + k) % 16).sum).sum * (nZp / 64L)
    require(zpAgg.getLong(0) == 4L * nZp &&
      zpAgg.getLong(1) == 2L * nZp && zpAgg.getLong(2) == expBytes,
      s"zipShards: $zpAgg (expected bytes $expBytes)")
    report("archives" -> nZp, "members" -> 4 * nZp)
  }

  step("aiffDecode") {
    // AIFF decode: 512k big-endian PCM payloads through the
    // container-auto audio decode, sample sums exact.
    val nAf = 512000L // divisible by 64
    val aiffs = spark.range(0L, nAf).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val n = 200 + 3 * b
          (id, graft.operators.Audio.buildAiff(
            Array.tabulate(n)(k => (b * 53 + k * 17) % 201 - 100),
            channels = 1, rate = 8000))
        }
      }.toDF("id", "content")
    val afAgg = graft.operators.Audio.decodePcm16(aiffs, "id",
      "content").toDF().filter(col("decoded"))
      .select(col("id"),
        aggregate(col("samples"), lit(0L), (a, x) => a + x).as("s"))
      .agg(count(lit(1)), sum(col("s"))).collect()(0)
    val expSum = (0 until 64).map(b =>
      (0 until (200 + 3 * b)).map(k =>
        (b * 53L + k * 17) % 201 - 100).sum).sum * (nAf / 64L)
    require(afAgg.getLong(0) == nAf && afAgg.getLong(1) == expSum,
      s"aiffDecode: $afAgg (expected sum $expSum)")
    report("payloads" -> nAf)
  }

  step("wdsPairs") {
    // the multimodal pipeline end-to-end: 128k tar(.gz) shards ->
    // WebDataset grouping -> REAL PNG decode + caption join per
    // sample; luma and word totals exact.
    val nWp = 128000L // divisible by 64
    val shards = spark.range(0L, nWp).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val members = (0 until 2).flatMap { k =>
            val png = graft.operators.Png.buildPng(4, 4, 0,
              Array.tabulate(16)(p =>
                ((b * 7 + k * 13 + p * 5) % 256).toByte),
              filterOf = y => (b + k + y) % 5)
            val caption = (0 until (2 + (b + k) % 3))
              .map(j => "w" + ((b * 13 + k * 5 + j * 7) % 50))
              .mkString(" ")
            Seq((s"s/${id}_$k.png", png),
              (s"s/${id}_$k.txt", caption.getBytes("UTF-8")))
          }
          val tar = graft.operators.Tar.buildTar(members)
          (id, if (id % 2 == 0) tar
          else graft.operators.Tar.gzipBytes(tar))
        }
      }.toDF("id", "content")
    val m = graft.operators.Tar.webdatasetMembers(shards, "id",
      "content")
      .withColumn("k",
        regexp_extract(col("stem"), "_([0-9]+)$", 1).cast("long"))
      .withColumn("sid", col("id") * 4 + col("k"))
    val img = graft.operators.Png.decodePixels(
      m.filter(col("ext") === "png")
        .select(col("sid"), col("bytes")), "sid", "bytes")
      .toDF().filter(col("decoded"))
      .select(col("id").as("sid"), col("lumaTotal"))
    val cap = m.filter(col("ext") === "txt")
      .select(col("sid"), col("bytes").cast("string").as("caption"))
    val wpAgg = img.join(cap, "sid")
      .agg(count(lit(1)), sum(col("lumaTotal")),
        sum(size(split(col("caption"), " ")).cast("long")))
      .collect()(0)
    val expLuma = (0 until 64).map(b => (0 until 2).map(k =>
      (0 until 16).map(p => 3L * ((b * 7 + k * 13 + p * 5) % 256))
        .sum).sum).sum * (nWp / 64L)
    val expWords = (0 until 64).map(b =>
      (0 until 2).map(k => 2L + (b + k) % 3).sum).sum * (nWp / 64L)
    require(wpAgg.getLong(0) == 2L * nWp &&
      wpAgg.getLong(1) == expLuma && wpAgg.getLong(2) == expWords,
      s"wdsPairs: $wpAgg (expected luma $expLuma words $expWords)")
    report("shards" -> nWp, "samples" -> 2 * nWp)
  }

  step("subtitleExtract") {
    // subtitle extraction throughput: 512k SRT/VTT transcripts +
    // 300k WebM S_TEXT tracks through the strict walks, cue censuses
    // and exact ms totals in closed form.
    val nSb = 512000L // divisible by 64: the closed forms are per-base
    val subs = spark.range(0L, nSb).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val cues = (0 until (3 + b % 4)).map { k =>
            (id % 1000 * 100L + k * 3000L,
              id % 1000 * 100L + k * 3000L + 1000L + (b + k) % 500,
              (0 until (2 + (b + k) % 3))
                .map(j => "t" + ((b * 13 + k * 5 + j * 7) % 50))
                .mkString(" "))
          }
          (id, if (id % 2 == 0) graft.operators.Subtitle.buildSrt(cues)
          else graft.operators.Subtitle.buildVtt(cues,
            withIds = b % 4 == 1))
        }
      }.toDF("id", "content")
    val sbAgg = graft.operators.Subtitle.subtitleCues(subs, "id",
      "content")
      .agg(count(lit(1)),
        sum(col("end_ms") - col("start_ms"))).collect()(0)
    val expCues = (0 until 64).map(b => 3L + b % 4).sum * (nSb / 64L)
    val expSpeech = (0 until 64).map(b =>
      (0 until (3 + b % 4)).map(k => 1000L + (b + k) % 500).sum)
      .sum * (nSb / 64L)
    require(sbAgg.getLong(0) == expCues &&
      sbAgg.getLong(1) == expSpeech,
      s"subtitles: $sbAgg (expected $expCues cues, $expSpeech ms)")
    report("transcripts" -> nSb, "cues" -> expCues)

    val nWs = 320000L // divisible by 64
    val wsubs = spark.range(0L, nWs).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val cues = (0 until (4 + b % 3)).map { k =>
            (k * 1000L + b * 7L,
              if (k % 5 == 4) -1L else 800L + (b + k) % 200,
              (0 until (2 + (b + k) % 3))
                .map(j => "s" + ((b * 17 + k * 3 + j) % 40))
                .mkString(" "))
          }
          (id, graft.operators.Webm.buildWebm(
            docType = if (b % 2 == 0) "webm" else "matroska",
            timescaleNs = if (b % 2 == 0) 1000000L else 2000000L,
            durationTicks = 10000.0,
            videoCodec = if (b % 3 == 0) "V_VP9" else "",
            width = 320, height = 240, subCues = cues))
        }
      }.toDF("id", "content")
    val wsAgg = graft.operators.Webm.webmSubtitleCues(wsubs, "id",
      "content")
      .agg(count(lit(1)),
        sum(col("end_ms") - col("start_ms"))).collect()(0)
    val expWCues = (0 until 64).map(b => 4L + b % 3).sum * (nWs / 64L)
    val expWSpeech = (0 until 64).map { b =>
      val scale = if (b % 2 == 0) 1L else 2L
      (0 until (4 + b % 3)).map(k =>
        if (k % 5 == 4) 0L else (800L + (b + k) % 200) * scale).sum
    }.sum * (nWs / 64L)
    require(wsAgg.getLong(0) == expWCues &&
      wsAgg.getLong(1) == expWSpeech,
      s"webmSubtitles: $wsAgg (expected $expWCues cues, " +
        s"$expWSpeech ms)")
    report("webmFiles" -> nWs, "webmCues" -> expWCues)
  }

  step("zip64Shards") {
    // ZIP64 shards at scale: 200k full-ZIP64-shape archives
    // (sentinel EOCD -> locator -> ZIP64 record; per-entry 0x0001
    // extras) — every member CRC-verified, contents exact.
    val nZ64 = 200000L
    val zips = spark.range(0L, nZ64).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          (id, graft.operators.Zip.buildZip((0 until 4).map { k =>
            (s"z64/${id}_$k.txt",
              s"zm:$id:$k".getBytes("UTF-8"), k % 2 == 1)
          }, zip64 = true))
        }
      }.toDF("id", "content")
    val zAgg = graft.operators.Zip.zipEntries(zips, "id", "content")
      .agg(count(lit(1)), sum(col("size")),
        sum(when(col("method") === "deflate", 1L).otherwise(0L)))
      .collect()(0)
    val expBytes = (0L until nZ64).map(id =>
      (0 until 4).map(k => s"zm:$id:$k".length.toLong).sum).sum
    require(zAgg.getLong(0) == 4L * nZ64 &&
      zAgg.getLong(1) == expBytes && zAgg.getLong(2) == 2L * nZ64,
      s"zip64: $zAgg")
    report("archives" -> nZ64, "members" -> 4 * nZ64)
  }

  step("avifMeta") {
    // AVIF/HEIF at scale: 512k files, each with a thumbnail decoy
    // item — primary-item resolution + irot display swap exact.
    val nAv = 512000L
    val avifs = spark.range(0L, nAv).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.Avif.buildAvif(
            if (id % 2 == 0) "avif" else "heic",
            Seq(
              graft.operators.Avif.AvifItem(1L, 160L, 90L, 0, -1,
                if (id % 2 == 0) "av1C" else "hvcC"),
              graft.operators.Avif.AvifItem(2L, 320L + 16 * (b % 8),
                240L + 16 * (b % 5), (b % 4) * 90,
                if (b % 5 == 0) b % 2 else -1,
                if (id % 2 == 0) "av1C" else "hvcC")),
            primary = 2L, wideIndexes = b % 3 == 0,
            pitmV1 = b % 7 == 0))
        }
      }.toDF("id", "content")
    val aAgg = graft.operators.Avif.avifMetaScan(avifs, "id",
        "content")
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("disp_width")), sum(col("disp_height")),
        sum(when(col("brand") === "avif", 1L).otherwise(0L)))
      .collect()(0)
    val expW = (0L until nAv).map { id =>
      val b = (id % 64).toInt
      val (w, h) = (320L + 16 * (b % 8), 240L + 16 * (b % 5))
      if ((b % 4) * 90 == 90 || (b % 4) * 90 == 270) h else w
    }.sum
    val expH = (0L until nAv).map { id =>
      val b = (id % 64).toInt
      val (w, h) = (320L + 16 * (b % 8), 240L + 16 * (b % 5))
      if ((b % 4) * 90 == 90 || (b % 4) * 90 == 270) w else h
    }.sum
    require(aAgg.getLong(0) == nAv && aAgg.getLong(1) == nAv &&
      aAgg.getLong(2) == expW && aAgg.getLong(3) == expH &&
      aAgg.getLong(4) == nAv / 2, s"avif: $aAgg")
    report("files" -> nAv)
  }

  step("spsHonesty") {
    // H.264/H.265 SPS honesty at scale: 256k MP4s (half avc1,
    // half hvc1), every third stsd lying — dims_match counts exact.
    val nSp = 256000L
    val mp4s = spark.range(0L, nSp).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val w = 320 + 2 * (b % 16)
          val h = 180 + 2 * (b % 12)
          val lie = id % 3 == 0
          val bytes =
            if (id % 2 == 0)
              graft.operators.Mp4.buildMp4(600L, 1000L,
                if (lie) w + 16 else w, if (lie) h + 16 else h,
                videoExtra = graft.operators.Mp4.buildAvcC(
                  graft.operators.Mp4.buildSps(w, h)))
            else
              graft.operators.Mp4.buildMp4(600L, 1000L,
                if (lie) w + 16 else w, if (lie) h + 16 else h,
                videoCodec = "hvc1",
                videoExtra = graft.operators.Mp4.buildHvcC(
                  graft.operators.Mp4.buildHevcSps(w, h)))
          (id, bytes)
        }
      }.toDF("id", "content")
    val avc = graft.operators.Mp4.h264SpsScan(
      mp4s.filter(col("id") % 2 === 0), "id", "content")
    val hevc = graft.operators.Mp4.h265SpsScan(
      mp4s.filter(col("id") % 2 =!= 0), "id", "content")
    val sAgg = avc.select(col("id"), col("dims_match"),
        col("parsed"))
      .union(hevc.select(col("id"), col("dims_match"),
        col("parsed")))
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(when(col("dims_match"), 1L).otherwise(0L)))
      .collect()(0)
    val expMatch = (0L until nSp).count(id => id % 3 != 0).toLong
    require(sAgg.getLong(0) == nSp && sAgg.getLong(1) == nSp &&
      sAgg.getLong(2) == expMatch, s"sps: $sAgg (exp $expMatch)")
    report("mp4s" -> nSp)
  }

  step("vorbisComments") {
    // Vorbis comments at scale: 512k FLAC/Ogg/Opus carriers ->
    // 1.536M comment rows, key/value sums exact.
    val nVc = 512000L
    val files = spark.range(0L, nVc).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val comments = Seq("TITLE" -> s"t$id",
            "ARTIST" -> s"a${b % 7}", "LANGUAGE" -> s"l${b % 9}")
          val bytes = (id % 3) match {
            case 0 => graft.operators.Audio.buildFlacHeader(8000, 1,
              16, 4000, vendor = s"v${b % 5}", comments = comments)
            case 1 => graft.operators.Audio.buildOgg("vorbis", 1,
              8000, 800L, vendor = s"v${b % 5}", comments = comments)
            case _ => graft.operators.Audio.buildOgg("opus", 2,
              48000, 4800L, vendor = s"v${b % 5}",
              comments = comments)
          }
          (id, bytes)
        }
      }.toDF("id", "content")
    val vAgg = graft.operators.Audio.vorbisCommentScan(files, "id",
        "content")
      .agg(count(lit(1)),
        sum(when(col("key") === "TITLE" &&
          col("value") === concat(lit("t"), col("id")), 1L)
          .otherwise(0L)),
        sum(when(col("source") === "flac", 1L).otherwise(0L)))
      .collect()(0)
    val expFlac = 3L * (0L until nVc).count(_ % 3 == 0)
    require(vAgg.getLong(0) == 3L * nVc &&
      vAgg.getLong(1) == nVc && vAgg.getLong(2) == expFlac,
      s"vorbisComments: $vAgg")
    report("carriers" -> nVc, "commentRows" -> 3 * nVc)
  }

  step("mpegtsMeta") {
    // MPEG-TS + ADTS at scale: 256k TS segments (h264/h265 SPS as
    // the only dims source, embedded ADTS audio on 2 in 3) and 256k
    // raw ADTS streams — counts and field sums exact.
    val nTs = 256000L
    val tss = spark.range(0L, nTs).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          val h265 = id % 4 == 3
          val durMs = 1000L + 10L * b
          val adts =
            if (id % 3 == 2) None
            else Some(graft.operators.MpegTs.buildAdts(1, 3 + b % 3,
              1 + b % 2, 2))
          (id, graft.operators.MpegTs.buildTs(
            320 + 2 * (b % 16), 180 + 2 * (b % 12),
            if (h265) { if (b % 2 == 0) 1 else 2 }
            else { if (b % 2 == 0) 66 else 100 },
            if (h265) 90 + 3 * (b % 4) else 30 + b % 4,
            Seq(90000L, 90000L + 45L * durMs, 90000L + 90L * durMs),
            adts, h265))
        }
      }.toDF("id", "content")
    val tsAgg = graft.operators.MpegTs.tsMetaScan(tss, "id",
        "content")
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("width")), sum(col("duration_ms")),
        sum(when(col("audio_codec") === "adts_aac", 1L)
          .otherwise(0L)))
      .collect()(0)
    val expW = (0L until nTs).map(id => 320L + 2 * ((id % 64) % 16)).sum
    val expDur = (0L until nTs).map(id => 1000L + 10L * (id % 64)).sum
    val expAud = (0L until nTs).count(_ % 3 != 2).toLong
    require(tsAgg.getLong(0) == nTs && tsAgg.getLong(1) == nTs &&
      tsAgg.getLong(2) == expW && tsAgg.getLong(3) == expDur &&
      tsAgg.getLong(4) == expAud, s"mpegts: $tsAgg")
    report("tsSegments" -> nTs)

    val nAd = 256000L
    val rates = Array(48000L, 44100L, 32000L, 24000L)
    val aacs = spark.range(0L, nAd).repartition(64)
      .mapPartitions { it =>
        it.map { id =>
          val b = (id % 64).toInt
          (id, graft.operators.MpegTs.buildAdts(b % 2, 3 + b % 4,
            1 + b % 3, 3 + b % 5, 11 + b % 7, id % 3 == 0, b % 2))
        }
      }.toDF("id", "content")
    val adAgg = graft.operators.MpegTs.adtsMetaScan(aacs, "id",
        "content")
      .agg(count(lit(1)), sum(when(col("parsed"), 1L).otherwise(0L)),
        sum(col("samples")), sum(col("duration_ms")))
      .collect()(0)
    val expSamples = (0L until nAd).map { id =>
      val b = (id % 64).toInt
      (3L + b % 5) * (1L + b % 2) * 1024L
    }.sum
    val expMs = (0L until nAd).map { id =>
      val b = (id % 64).toInt
      (3L + b % 5) * (1L + b % 2) * 1024L * 1000L / rates(b % 4)
    }.sum
    require(adAgg.getLong(0) == nAd && adAgg.getLong(1) == nAd &&
      adAgg.getLong(2) == expSamples && adAgg.getLong(3) == expMs,
      s"adts: $adAgg (exp $expSamples / $expMs)")
    report("adtsStreams" -> nAd)
  }

  step("corpusBuild")(report(CorpusBuildSmoke.run(spark, nCb): _*))
  step("shardStream")(report(ShardStreamSmoke.run(spark): _*))
  step("zipStream")(report(ZipStreamSmoke.run(spark): _*))
  step("tsStream")(report(TsStreamSmoke.run(spark): _*))
  step("mp4Stream")(report(Mp4StreamSmoke.run(spark): _*))
  step("mediaStream")(report(MediaStreamSmoke.run(spark): _*))

  /** Each step by name, in run order, as a body that returns what it
    * reported.
    */
  val steps: Seq[(String, () => Measure.Counts)] = all.result()
}
