package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.operators.{Dedup, Similarity}
import graft.query.{DynamicQuery, SqlOrder}

/** Physical-plan shape assertions — the scale contract, pinned so a
  * refactor can't silently regress it: filters reach the parquet scan,
  * projections prune the read schema, the small side of the kNN scoring
  * broadcasts, and the dedup self-join reuses one Exchange instead of
  * recomputing its input.
  */
class PlanShapeSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.executedPlan.toString + "\n" +
      df.queryExecution.toString
  }

  test("DynamicQuery: predicate pushdown and column pruning reach the scan") {
    val q = new DynamicQuery(n => spark.read.parquet(s"$sf/$n.parquet"))
      .buildSelect("lineitem", Seq("l_orderkey", "l_quantity"))
      .condition("l_quantity >= ?", 45)
      .buildOrder("l_orderkey", SqlOrder.ASC)
      .buildPagination(1, 20)
      .getQuery()
    val plan = formatted(q)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(l_quantity,45"),
      s"filter not pushed to scan:\n$plan")
    // scan must read only the 2 referenced columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"column pruning missing:\n$plan")
  }

  test("bruteForceTopK: query side broadcasts (no shuffle of the corpus)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val top = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", 5)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast nested-loop scoring:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("minHashNearDupPairs: no cartesian, one bucket shuffle feeds pair expansion") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    // the bucket aggregation runs in the eager checkpoint's OWN
    // execution now — capture every executed plan to pin it
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val pairs = Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      // collect() (not count()) so THIS QueryExecution finalizes under AQE
      pairs.collect()
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("Cartesian"))
      // verification sides are prefiltered to bucket-sharing docs
      // before the gram projection (guide §3.2) — the semi-joins and
      // the native gram projection must both be in the final plan
      assert(plan.contains("LeftSemi"),
        s"verify-side bucket prefilter missing:\n$plan")
      assert(plan.contains("ngrams_native"),
        s"native gram projection missing:\n$plan")
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles <= 4,
        s"candidate generation should need ~2 keyed shuffles (buckets, " +
          s"pair-distinct), saw $shuffles:\n$plan")
      // the checkpointed bucket aggregation (its own execution) still
      // builds buckets via the BOUNDED aggregator, one keyed shuffle —
      // not a bare collect_list; listener delivery is async, poll
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def hit: Boolean = plans.toArray.map(_.toString).exists(p =>
        p.toLowerCase.contains("boundedcollect") &&
          p.contains("minhash_sig_native"))
      while (!hit && System.nanoTime() < deadline) Thread.sleep(50)
      assert(hit,
        s"bounded bucket collection / native signature missing from " +
          s"the checkpoint execution:\n${
            plans.toArray.mkString("\n---\n")}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("removeRepeatedLines / removeDupSpans: no shuffle keys on raw text") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    for ((name, out) <- Seq(
      "lines" -> graft.operators.CorpusAnalysis
        .removeRepeatedLines(docs, "doc_id", "text", 3),
      "spans" -> graft.operators.CorpusAnalysis
        .removeDupSpans(docs, "doc_id", "text", 12),
      "contam_spans" -> graft.operators.CorpusAnalysis
        .removeContaminatedSpans(docs,
          docs.filter(col("doc_id") % 13 === 0), "doc_id", "text", 12))) {
      out.collect() // finalize under AQE so the real exchanges are pinned
      val plan = out.queryExecution.executedPlan.toString
      // every hash-partitioned exchange must key on the 8-byte hash or
      // the doc id — a raw line/token/text shuffle key is the round-6
      // plan this replaced (3 corpus-text shuffles)
      // line-based, not a paren-matching regex: a partitioning
      // EXPRESSION (nested parens) must still surface its attributes —
      // over-capturing the rest of the exchange line is conservative
      // (extra non-# tokens carry no attribute names)
      val keyAttrs = plan.linesIterator
        .filter(_.contains("hashpartitioning("))
        .flatMap(l => "([A-Za-z_][A-Za-z0-9_]*)#".r
          .findAllMatchIn(l.substring(l.indexOf("hashpartitioning(")))
          .map(_.group(1))).toSet
      val textish = Set("line", "text", "tok", "__t0", "__trim")
      assert(keyAttrs.intersect(textish).isEmpty,
        s"$name: raw text rides a shuffle key ($keyAttrs):\n$plan")
      assert(keyAttrs.exists(Set("__h", "gh").contains),
        s"$name: expected a hash-keyed ban-count shuffle ($keyAttrs):\n$plan")
    }
  }

  test("round-8 operators: broadcasts present, no global sort, no text shuffle keys") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // tokensToIds: the vocab join must broadcast and the per-doc
    // regroup must key on the doc id — token strings drop at the join
    import spark.implicits._
    val vocab = Seq(("a", 1), ("b", 2)).toDF("token", "token_id")
    val tok = graft.operators.Retrieval
      .tokensToIds(docs, "doc_id", "text", vocab)
    tok.collect()
    val tokPlan = tok.queryExecution.executedPlan.toString
    assert(tokPlan.contains("BroadcastHashJoin"), tokPlan)
    val tokKeys = tokPlan.linesIterator
      .filter(_.contains("hashpartitioning("))
      .flatMap(l => "([A-Za-z_][A-Za-z0-9_]*)#".r
        .findAllMatchIn(l.substring(l.indexOf("hashpartitioning(")))
        .map(_.group(1))).toSet
    assert(!tokKeys.contains("__tok") && !tokKeys.contains("text"),
      s"token strings ride a shuffle key: $tokKeys\n$tokPlan")

    // dsirResample: selection must never plan a GLOBAL sort (the
    // histogram selector replaces orderBy().limit()); the ratio join
    // must broadcast
    val sel = graft.operators.DataSelection.dsirResample(docs,
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      keepN = 20, buckets = 1000)
    sel.collect()
    val selPlan = sel.queryExecution.executedPlan.toString
    assert(!selPlan.contains("rangepartitioning"),
      s"global sort in the DSIR selection plan:\n$selPlan")
    assert(selPlan.contains("BroadcastHashJoin") ||
      selPlan.contains("BroadcastNestedLoopJoin"), selPlan)

    // bigramLmScores: no cartesian product; no raw-text/token shuffle
    // keys (everything rides md5-60 hashes or the doc id)
    val lm = graft.operators.LanguageModel.bigramLmScores(docs,
      docs.filter(col("doc_id") % 7 === 0), "doc_id", "text")
    lm.collect()
    val lmPlan = lm.queryExecution.executedPlan.toString
    assert(!lmPlan.contains("CartesianProduct"), lmPlan)
    val lmKeys = lmPlan.linesIterator
      .filter(_.contains("hashpartitioning("))
      .flatMap(l => "([A-Za-z_][A-Za-z0-9_]*)#".r
        .findAllMatchIn(l.substring(l.indexOf("hashpartitioning(")))
        .map(_.group(1))).toSet
    assert(lmKeys.intersect(Set("text", "c", "w", "col")).isEmpty,
      s"raw text rides an LM shuffle key: $lmKeys\n$lmPlan")

    // gopherRules: a single narrow projection — zero exchanges
    val g = graft.operators.CorpusAnalysis.gopherRules(docs, "doc_id", "text")
    g.collect()
    val gPlan = g.queryExecution.executedPlan.toString
    assert(!gPlan.contains("Exchange"),
      s"gopherRules should be shuffle-free:\n$gPlan")

    // sampleTokenBudget: no global sort of the corpus — the only
    // single-partition funnel allowed is the boundary-bin window
    val tb = graft.operators.DataSelection.sampleTokenBudget(
      docs, "doc_id", "text", budgetTokens = 10000)
    tb.collect()
    // AdaptiveSparkPlan.toString prints final AND initial plans —
    // count nodes only in the final section or everything doubles
    val tbFull = tb.queryExecution.executedPlan.toString
    val tbPlan = tbFull.split("== Initial Plan ==")(0)
    assert(!tbPlan.contains("rangepartitioning"),
      s"global sort in the token-budget plan:\n$tbPlan")
    assert("Exchange SinglePartition".r.findAllIn(tbPlan).size <= 1,
      s"more than the boundary-bin funnel:\n$tbPlan")
    // …and the single-partition window may consume ONLY the boundary
    // bin: every unpartitioned Window in the plan must sit above the
    // `__bin = cut` filter (≈ corpus/2^bins rows by construction). A
    // refactor that widens the window's input to the corpus turns it
    // into a one-task global funnel — fail here, not at 100 TB.
    val unpartWins = tb.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w
    }
    assert(unpartWins.nonEmpty, "expected the boundary-bin window")
    unpartWins.foreach { w =>
      val fedByBoundaryBin = w.child.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
            if f.condition.toString.contains("__bin") => f
      }.nonEmpty
      assert(fedByBoundaryBin,
        s"unpartitioned window not fed by the boundary-bin filter:\n$w")
    }

    // mergeCorpora: union feeds ONE fingerprint-keyed aggregation with
    // a map-side partial (duplicates collapse before the shuffle)
    val mg = graft.operators.Dedup.mergeCorpora(
      Seq(docs.filter(col("doc_id") % 3 === 0), docs), "doc_id", "text")
    mg.collect()
    val mgPlan = mg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(mgPlan.contains("Union"), mgPlan)
    assert(!mgPlan.contains("Join"), s"merge must not plan a join:\n$mgPlan")
    val mgExchanges = mgPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(mgExchanges == 1, s"expected one keyed shuffle, got $mgExchanges:\n$mgPlan")
  }

  test("corpus-prep / web-corpus operators: narrow scans, broadcasts, bounded top-k") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // badWordsReport: the list is a literal — one narrow codegen'd
    // pass, zero exchanges
    val bw = graft.operators.CorpusPrep.badWordsReport(docs, "doc_id",
      "text", Seq("dup", "slow join"))
    bw.collect()
    val bwPlan = bw.queryExecution.executedPlan.toString
    assert(!bwPlan.contains("Exchange"),
      s"badWordsReport should be shuffle-free:\n$bwPlan")

    // splitAssign: a per-row CASE — zero exchanges
    val sp = graft.operators.CorpusPrep.splitAssign(docs, "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    sp.collect()
    val spPlan = sp.queryExecution.executedPlan.toString
    assert(!spPlan.contains("Exchange"),
      s"splitAssign should be shuffle-free:\n$spPlan")

    // phraseScores: vocab-keyed partial aggregations; the final top-K
    // must be a bounded TakeOrdered, never a global sort
    val ph = graft.operators.CorpusPrep.phraseScores(docs, "text",
      minCount = 2, delta = 1, topK = 10)
    ph.collect()
    val phPlan = ph.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(phPlan.contains("TakeOrderedAndProject"),
      s"phrase top-K should be TakeOrderedAndProject:\n$phPlan")
    assert(!phPlan.contains("rangepartitioning"),
      s"global sort in the phrase plan:\n$phPlan")

    // hardNegatives: queries broadcast over the corpus scan, bounded
    // top-k — never a cartesian
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val hn = graft.operators.Similarity.hardNegatives(emb,
      emb.filter(col("vec_id") < 3), "vec_id", "embedding", "label", 3)
    hn.collect()
    val hnPlan = hn.queryExecution.executedPlan.toString
    assert(hnPlan.contains("BroadcastNestedLoopJoin"), hnPlan)
    assert(!hnPlan.contains("CartesianProduct"), hnPlan)

    // blocklistVerdicts: the blocklist and the hit set broadcast; no
    // shuffle ever keys on the suffix strings (the only keyed shuffle
    // allowed is the 8-byte doc-id distinct)
    import spark.implicits._
    val urls = docs.select(col("doc_id"),
      concat(lit("https://example"), (col("doc_id") % 50).cast("string"),
        lit(".com/x")).as("url"))
    val bl = graft.operators.WebCorpus.blocklistVerdicts(urls, "doc_id",
      "url", Seq("example3.com", "example7.com").toDF("domain"))
    bl.collect()
    val blPlan = bl.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(blPlan.contains("BroadcastHashJoin"), blPlan)
    val blKeys = blPlan.linesIterator
      .filter(_.contains("hashpartitioning("))
      .flatMap(l => "([A-Za-z_][A-Za-z0-9_]*)#".r
        .findAllMatchIn(l.substring(l.indexOf("hashpartitioning(")))
        .map(_.group(1))).toSet
    assert(!blKeys.contains("__suffix") && !blKeys.contains("url") &&
      !blKeys.contains("domain"),
      s"suffix/url strings ride a shuffle key: $blKeys\n$blPlan")
  }

  test("html/repair/cap/moore-lewis: narrow passes, hash joins, no text keys") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // extractText: regex + array lambdas per row — zero exchanges
    val he = graft.operators.HtmlExtract.extractText(
      docs.select(col("doc_id"),
        concat(lit("<p>"), col("text"), lit("</p>")).as("html")),
      "doc_id", "html")
    he.collect()
    val hePlan = he.queryExecution.executedPlan.toString
    assert(!hePlan.contains("Exchange"),
      s"extractText should be shuffle-free:\n$hePlan")

    // repairReport: a bounded replace chain — zero exchanges
    val tr = graft.operators.TextRepair.repairReport(docs, "doc_id", "text")
    tr.collect()
    val trPlan = tr.queryExecution.executedPlan.toString
    assert(!trPlan.contains("Exchange"),
      s"repairReport should be shuffle-free:\n$trPlan")

    // domainCap: ONE keyed shuffle carrying (domain, hash, id) — the
    // bounded smallest-k agg, never a window sort over the corpus
    val urls = docs.select(col("doc_id"),
      concat(lit("https://d"), (col("doc_id") % 10).cast("string"),
        lit(".com/"), col("doc_id").cast("string")).as("url"))
    val dc = graft.operators.WebCorpus.domainCap(urls, "doc_id", "url", 3)
    dc.collect()
    val dcPlan = dc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val dcShuffles = dcPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(dcShuffles == 1,
      s"domainCap should shuffle once (bounded agg), got $dcShuffles:\n$dcPlan")
    assert(!dcPlan.contains("Window"),
      s"domainCap must not window-sort:\n$dcPlan")

    // mooreLewisScores: the four count tables join on 8-byte hashes —
    // every join a broadcast or hash join, no shuffle keyed on a raw
    // text column, no nested-loop join anywhere
    val ml = graft.operators.LanguageModel.mooreLewisScores(docs,
      docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
    ml.collect()
    val mlPlan = ml.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!mlPlan.contains("BroadcastNestedLoopJoin") &&
      !mlPlan.contains("CartesianProduct"),
      s"mooreLewisScores must use equi-joins only:\n$mlPlan")
    val mlTextKeys = mlPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(mlTextKeys == 0,
      s"mooreLewisScores must not shuffle on raw text:\n$mlPlan")
  }

  test("quality/bucket/decontam operators: no text keys, no global sort, bench broadcasts") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // nbQualityScores: no cartesian; no raw-text/token shuffle keys —
    // the class-count joins ride md5-60 hashes, the regroup the doc id
    val nb = graft.operators.QualityClassifier.nbQualityScores(docs,
      docs.filter(col("doc_id") % 7 === 0),
      docs.filter(col("doc_id") % 7 =!= 0), "doc_id", "text")
    nb.collect()
    val nbPlan = nb.queryExecution.executedPlan.toString
    assert(!nbPlan.contains("CartesianProduct"), nbPlan)
    val nbKeys = nbPlan.linesIterator
      .filter(_.contains("hashpartitioning("))
      .flatMap(l => "([A-Za-z_][A-Za-z0-9_]*)#".r
        .findAllMatchIn(l.substring(l.indexOf("hashpartitioning(")))
        .map(_.group(1))).toSet
    assert(nbKeys.intersect(Set("text", "t", "col")).isEmpty,
      s"raw text rides an NB shuffle key: $nbKeys\n$nbPlan")

    // rankBuckets: assignment is narrow — no rangepartitioning (global
    // sort) and no corpus-wide window; the only shuffles are the stats/
    // histogram/boundary aggregations
    val rb = graft.operators.DataSelection.rankBuckets(
      docs.select(col("doc_id").as("id"),
        (col("doc_id") % 97).cast("double").as("score")),
      "id", "score", nBuckets = 3, histBins = 64)
    rb.collect()
    val rbPlan = rb.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!rbPlan.contains("rangepartitioning"),
      s"global sort in the rank-bucket plan:\n$rbPlan")
    assert(!rbPlan.contains("Window"),
      s"corpus-wide window in the rank-bucket plan:\n$rbPlan")

    // semanticContamination: bench side broadcasts (nested-loop scan),
    // never a cartesian; the corpus is not range/sort-shuffled
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val sc = graft.operators.Similarity.semanticContamination(
      emb.filter(col("vec_id") >= 5), emb.filter(col("vec_id") < 5),
      "vec_id", "embedding", threshold = 0.2)
    sc.collect()
    val scPlan = sc.queryExecution.executedPlan.toString
    assert(scPlan.contains("BroadcastNestedLoopJoin"),
      s"expected broadcast nested-loop scoring:\n$scPlan")
    assert(!scPlan.contains("CartesianProduct"), scPlan)
    assert(!scPlan.contains("rangepartitioning"), scPlan)
  }

  test("round-10 operators: equi-joins, no text shuffle keys, declarative argmax") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // WordPiece encode: the corpus side shuffles (id, pos, hash) rows
    // only — the raw doc text must never be a shuffle key (the
    // distinct-WORD table may shuffle short word strings; that table
    // is vocabulary-sized, not corpus-sized)
    val vocab = ('a' to 'z').map(_.toString) ++ ('a' to 'z').map("##" + _)
    val wp = graft.operators.WordPieceTokenizer.encode(
      docs, "doc_id", "text", vocab)
    wp.collect()
    val wpPlan = wp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!wpPlan.contains("BroadcastNestedLoopJoin") &&
      !wpPlan.contains("CartesianProduct"),
      s"WordPiece encode must use equi-joins only:\n$wpPlan")
    val wpTextKeys = wpPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(wpTextKeys == 0,
      s"WordPiece encode must not shuffle on raw text:\n$wpPlan")

    // trigram stupid backoff + Kneser-Ney: count tables join on 8-byte
    // hashes — equi-joins only, no raw-text shuffle keys (the
    // mooreLewis contract one order deeper)
    for ((name, df) <- Seq(
      "stupidBackoffTrigramScores" ->
        graft.operators.LanguageModel.stupidBackoffTrigramScores(
          docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text"),
      "kneserNeyScores" ->
        graft.operators.LanguageModel.kneserNeyScores(
          docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text"))) {
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"$name must use equi-joins only:\n$plan")
      val textKeys = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("text#"))
      assert(textKeys == 0, s"$name must not shuffle on raw text:\n$plan")
    }

    // nearDedupBy: the per-cluster argmax must stay the DECLARATIVE
    // max(struct(...)) — hash/sort aggregate, never ObjectHashAggregate
    // (whose bucket-count fallback cliffs at corpus-sized cluster
    // counts) and never a Window sort
    import spark.implicits._
    val scored = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("score"))
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a", "b")
    val nb = Dedup.nearDedupBy(scored, "doc_id", "score", pairs)
    nb.collect()
    val nbPlan = nb.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!nbPlan.contains("ObjectHashAggregate"),
      s"nearDedupBy argmax must be declarative (no typed agg):\n$nbPlan")
    assert(!nbPlan.contains("Window"),
      s"nearDedupBy must not window-sort:\n$nbPlan")
  }

  test("rrf/ccnet/cdc: narrow cdc walk, join-free fusion, no text keys") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))

    // cdcChunks is a pure per-row walk: ZERO exchanges of any kind
    val cdc = graft.operators.CorpusAnalysis.cdcChunks(
      docs, "doc_id", "text")
    cdc.collect()
    val cdcPlan = cdc.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!cdcPlan.contains("Exchange"),
      s"cdcChunks must be narrow (no shuffle at any size):\n$cdcPlan")

    // reciprocalRankFusion: union + keyed agg + bounded top-k — it
    // never JOINS its (result-sized) inputs, so no join operator of
    // any kind may appear
    import spark.implicits._
    val r1 = Seq((1L, 1, 10L, 0.0), (1L, 2, 11L, 0.0))
      .toDF("query_id", "rank", "neighbor_id", "sim")
    val rrf = graft.operators.Retrieval.reciprocalRankFusion(
      Seq(r1, r1.withColumn("neighbor_id", col("neighbor_id") + 1)), k = 3)
    rrf.collect()
    val rrfPlan = rrf.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!rrfPlan.contains("Join"),
      s"rrf must fuse by union+agg, never a join:\n$rrfPlan")

    // ccnetBuckets: LM scoring joins on 8-byte hashes (never raw
    // text), the tier cut is histogram-based — no Window, no cartesian
    val ccn = graft.operators.LanguageModel.ccnetBuckets(
      docs, docs.filter(col("doc_id") % 7 === 0), "doc_id", "text",
      byExactProb = true, histBins = 16)
    ccn.collect()
    val ccnPlan = ccn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!ccnPlan.contains("CartesianProduct") &&
      !ccnPlan.contains("BroadcastNestedLoopJoin"),
      s"ccnetBuckets must use equi-joins only:\n$ccnPlan")
    assert(!ccnPlan.contains("Window"),
      s"ccnetBuckets tier cut must not window-sort:\n$ccnPlan")
    val ccnTextKeys = ccnPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(ccnTextKeys == 0,
      s"ccnetBuckets must not shuffle on raw text:\n$ccnPlan")

    // ngramNovelty: the big-big decontamination join keys on the
    // 8-byte gram hash — never raw text, never a nested-loop join
    val nov = graft.operators.CorpusAnalysis.ngramNovelty(
      docs, docs.filter(col("doc_id") % 3 === 0), "doc_id", "text")
    nov.collect()
    val novPlan = nov.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!novPlan.contains("CartesianProduct") &&
      !novPlan.contains("BroadcastNestedLoopJoin"),
      s"ngramNovelty must use equi-joins only:\n$novPlan")
    val novTextKeys = novPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(novTextKeys == 0,
      s"ngramNovelty must not shuffle on raw text:\n$novPlan")

    // unigram encode: same vocabulary-table contract as WordPiece —
    // corpus occurrences shuffle (id, pos, hash) rows; only the
    // vocabulary-sized distinct-word table may carry word strings
    val ug = graft.operators.UnigramTokenizer.encode(docs, "doc_id",
      "text", Seq("a" -> 100L, "b" -> 100L, "ab" -> 150L))
    ug.collect()
    val ugPlan = ug.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!ugPlan.contains("BroadcastNestedLoopJoin") &&
      !ugPlan.contains("CartesianProduct"),
      s"unigram encode must use equi-joins only:\n$ugPlan")
    val ugTextKeys = ugPlan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && l.contains("text#"))
    assert(ugTextKeys == 0,
      s"unigram encode must not shuffle on raw text:\n$ugPlan")

    // scriptProfile is one codegen'd regexp pass: ZERO exchanges
    val sp = graft.operators.CorpusPrep.scriptProfile(
      docs, "doc_id", "text")
    sp.collect()
    val spPlan = sp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!spPlan.contains("Exchange"),
      s"scriptProfile must be narrow (no shuffle at any size):\n$spPlan")
  }

  test("q1_agg: partial (map-side) aggregation before the shuffle") {
    val q = SparkEntry.queries("q1_agg")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    // two HashAggregates (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan)
  }

  test("hot-path queries are wired to the native kernels, not the HOF forms") {
    // the kernels' VALUE parity is pinned by the parity specs; this
    // pins the WIRING — an operator quietly reverted to the interpreted
    // aggregate/zip_with fold would still pass correctness
    val expect = Seq(
      // q_minhash_near_dup's signature pass now runs inside the eager
      // bucket checkpoint (its wiring is pinned in the bucket-shuffle
      // test above); the final plan's kernel surface is the gram
      // projection
      "q_minhash_near_dup" -> "ngrams_native",
      "q_incremental_near_dedup" -> "minhash_sig_native",
      "q_dup_spans" -> "ngram_hashes_native",
      "q_simhash_near_dup" -> "simhash64_native",
      "q_contamination" -> "ngram_hashes_native",
      "q_ngram_jaccard" -> "ngrams_native",
      "q_knn_brute" -> "cosine_sim_native",
      "q_knn_lsh" -> "lsh_sig_native",
      "q_knn_lsh_int" -> "lsh_sig_int_native",
      "q_knn_ivf" -> "nearest_centroids_native",
      "q_knn_ivf_int" -> "nearest_centroids_native",
      "q_semantic_dedup_int" -> "nearest_centroids_native")
    for ((name, kernel) <- expect) {
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.toString
      assert(plan.contains(kernel), s"$name lost its $kernel wiring")
    }
  }

  test("corpus operators: no HOF pipeline duplicated into an inferred filter") {
    // InferFiltersFromGenerate + pushdown can copy an expensive generator
    // expression into a Filter (size(expr)>0 AND isnotnull(expr)) — the
    // n-gram pipeline would then run 2-3x per row. The operators use
    // explode_outer + attribute null filters precisely to prevent that;
    // pin it: no Filter condition may contain a lambda function.
    import org.apache.spark.sql.catalyst.expressions.{LambdaFunction => LF}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    for (name <- Seq("q_repetition", "q_contamination", "q_chunks",
        "q_dup_spans", "q_bpe_pairs")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val offending = df.queryExecution.optimizedPlan.collect {
        case f: LFilter if f.condition.exists(_.isInstanceOf[LF]) => f
      }
      assert(offending.isEmpty,
        s"$name: HOF expression duplicated into a Filter:\n${offending.mkString}")
    }
  }

  test("round-11 operators: grouped rank buckets have no corpus window " +
      "and no global sort; assignment is a broadcast join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val grb = graft.operators.DataSelection.groupedRankBuckets(
      docs.select(col("doc_id").as("id"), col("lang"),
        (col("doc_id") % 11).cast("double").as("score")),
      "lang", "id", "score", nBuckets = 3, histBins = 64)
    grb.collect()
    val grbPlan = grb.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!grbPlan.contains("rangepartitioning"),
      s"global sort in the grouped rank-bucket plan:\n$grbPlan")
    assert(!grbPlan.contains("Window"),
      s"corpus-sized window in the grouped rank-bucket plan:\n$grbPlan")
    assert(grbPlan.contains("BroadcastHashJoin") ||
      grbPlan.contains("BroadcastExchange"),
      s"boundary assignment must broadcast:\n$grbPlan")

    // per-language ccnet: same pins through the full scoring chain
    val ccn = graft.operators.LanguageModel.ccnetBuckets(
      docs.select(col("doc_id"), col("text"), col("lang")),
      docs.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("text")),
      "doc_id", "text", byExactProb = true, histBins = 64,
      groupCol = Some("lang"))
    ccn.collect()
    val ccnPlan = ccn.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!ccnPlan.contains("rangepartitioning"), ccnPlan)
    assert(!ccnPlan.contains("Window"),
      s"corpus-sized window in the per-language ccnet plan:\n$ccnPlan")

    // approxGroupedQuantiles: the corpus pays exactly one keyed
    // aggregation; the windows sit on the bucket-level sketch
    // (partitioned by group — never unpartitioned), and the quantile
    // list broadcasts
    val agq = graft.operators.DataSelection.approxGroupedQuantiles(
      docs, "source", "n_chars", Seq(0.5, 0.99), lo = 0.0, hi = 1600.0,
      nBins = 32)
    agq.collect()
    val agqPlan = agq.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!agqPlan.contains("rangepartitioning"),
      s"global sort in the approx-quantile plan:\n$agqPlan")
    // every Window is partitioned (by group) — no corpus-wide window
    val unpart = agq.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(unpart.isEmpty, s"unpartitioned window:\n$agqPlan")
    assert(agqPlan.contains("BroadcastExchange") ||
      agqPlan.contains("BroadcastHashJoin") ||
      agqPlan.contains("BroadcastNestedLoopJoin"),
      s"quantile list must broadcast:\n$agqPlan")
    // one corpus-keyed exchange: the scan feeds exactly one hash
    // aggregate before everything shrinks to sketch size — pin by
    // counting exchanges below the first aggregate over the scan
    val exchanges = agqPlan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges <= 8, // 1 corpus + sketch-level exchanges (AQE pairs)
      s"approx-quantile plan grew extra exchanges ($exchanges):\n$agqPlan")

    // approxGroupedRankBuckets: same sketch discipline as the approx
    // quantiles — the corpus pays one keyed aggregation plus one
    // group-keyed assignment join; every Window is partitioned by
    // group at SKETCH level, and no global sort anywhere
    val agr = SparkEntry.queries("q_approx_group_rank")(spark, sf)
    agr.collect()
    val agrPlan = agr.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!agrPlan.contains("rangepartitioning"),
      s"global sort in the approx-rank plan:\n$agrPlan")
    val agrUnpart = agr.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(agrUnpart.isEmpty, s"unpartitioned window:\n$agrPlan")
    val agrExchanges = agrPlan.linesIterator
      .count(_.contains("Exchange"))
    assert(agrExchanges <= 12, // corpus agg + assignment join +
      // sketch-level exchanges (AQE pairs)
      s"approx-rank plan grew extra exchanges ($agrExchanges):\n$agrPlan")

    // per-domain ccnet through the sketch cut: the full scoring chain
    // plus the approx engine — still no global sort and no
    // unpartitioned window anywhere
    val ccd = SparkEntry.queries("q_ccnet_domain")(spark, sf)
    ccd.collect()
    val ccdPlan = ccd.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!ccdPlan.contains("rangepartitioning"),
      s"global sort in the per-domain ccnet plan:\n$ccdPlan")
    val ccdUnpart = ccd.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(ccdUnpart.isEmpty, s"unpartitioned window:\n$ccdPlan")

    // perceptual image near-dup: candidates come from the banded
    // (block, block_val) bucket shuffle — never a cartesian/all-pairs
    // scan, never a sort
    val inp = SparkEntry.queries("q_image_near_dup")(spark, sf)
    inp.collect()
    val inpPlan = inp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!inpPlan.contains("CartesianProduct") &&
      !inpPlan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs scan in image near-dup plan:\n$inpPlan")
    assert(!inpPlan.contains("rangepartitioning"), inpPlan)

    // perceptual audio near-dup rides the identical banded machinery:
    // same no-all-pairs, no-sort contract
    val anp = SparkEntry.queries("q_audio_near_dup")(spark, sf)
    anp.collect()
    val anpPlan = anp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!anpPlan.contains("CartesianProduct") &&
      !anpPlan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs scan in audio near-dup plan:\n$anpPlan")
    assert(!anpPlan.contains("rangepartitioning"), anpPlan)

    // temporal video near-dup rides the identical banded machinery
    val vnp = SparkEntry.queries("q_video_near_dup")(spark, sf)
    vnp.collect()
    val vnpPlan = vnp.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!vnpPlan.contains("CartesianProduct") &&
      !vnpPlan.contains("BroadcastNestedLoopJoin"),
      s"all-pairs scan in video near-dup plan:\n$vnpPlan")
    assert(!vnpPlan.contains("rangepartitioning"), vnpPlan)
  }

  test("round-16 hunt shape: the passthrough-columns cross kernel " +
      "keeps the admission plan — corpus-side-only bucket fold, no " +
      "union, no all-pairs scan") {
    import graft.SparkEntry
    val hunt = SparkEntry.queries("q_jingle_hunt")(spark, sf)
    hunt.collect()
    val plan = hunt.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Union"),
      s"union fold in the hunt kernel:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("round-17 mixed-container signature pass: videoSigsAuto scans " +
      "the binary column ONCE (per-row dispatch, no Union, no " +
      "per-format filter split re-reading the corpus)") {
    import graft.operators.{Gif, Video}
    import spark.implicits._
    val dir = Fixtures.scratchDir("graft-sigs-auto-plan").toString
    def frame(base: Int, f: Int): Array[Byte] =
      Array.tabulate(3 * 16 * 12)(k =>
        ((base * 131 + f * 31 + k * k % 97 * 7) % 101).toByte)
    val avi = Video.buildUncompressedAvi(16, 12,
      (0 until 8).map(f => frame(1, f)), 40000L)
    val palette = Array.tabulate(16)(i => i * 0x111111)
    val gif = Gif.buildGif(16, 12, palette,
      (0 until 8).map(f => Array.tabulate[Byte](16 * 12)(p =>
        ((f * 31 + p * p % 13) % 16).toByte)), delayCs = 4)
    Seq(1L -> avi, 2L -> gif).toDF("id", "content")
      .write.mode("overwrite").parquet(dir)
    val sigs = Video.videoSigsAuto(spark.read.parquet(dir), "id",
      "content")
    assert(sigs.collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    val plan = sigs.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Union"),
      s"per-format split returned to videoSigsAuto:\n$plan")
    val scans = "Scan parquet".r.findAllIn(plan).size
    assert(scans == 1,
      s"mixed corpus must be scanned once, saw $scans:\n$plan")
  }

  test("round-15 admission shape: cross-side Hamming matching folds " +
      "ONLY the corpus side — no union of the two sides feeds the " +
      "bucket aggregation, snapshot rows join the bucket table") {
    import graft.SparkEntry
    val adm = SparkEntry.queries("q_image_admission")(spark, sf)
    adm.collect()
    val full = adm.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the pre-r15 kernel unioned corpus+snapshot blocks before the
    // capped collect — a Union upstream of the aggregate meant
    // snapshot multiplicity counted against the cap
    assert(!full.contains("Union"),
      s"union fold returned to the admission kernel:\n$full")
    assert(!full.contains("CartesianProduct") &&
      !full.contains("BroadcastNestedLoopJoin"), full)
    // same contract on the MinHash text admission core
    val tAdm = SparkEntry.queries("q_incremental_near_dedup_idx")(
      spark, sf)
    tAdm.collect()
    val tPlan = tAdm.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!tPlan.contains("CartesianProduct") &&
      !tPlan.contains("BroadcastNestedLoopJoin"), tPlan)
  }

  test("tar/WebDataset, media scans: shard member assembly is a " +
      "LOCAL fold (zero Exchange), the auto scans read the binary " +
      "column once (no Union)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tar = graft.operators.Tar.buildTar(Seq(
      "s/1.jpg" -> "i".getBytes("UTF-8"),
      "s/1.txt" -> "t".getBytes("UTF-8")))
    val shards = Seq((1L, tar)).toDF("id", "content")
    // member assembly: mapPartitions over the scan, nothing else
    val members = graft.operators.Tar.webdatasetMembers(
      shards, "id", "content")
    val mPlan = members.queryExecution.executedPlan.toString
    assert(!mPlan.contains("Exchange"),
      s"webdatasetMembers must not shuffle:\n$mPlan")
    assert(!mPlan.contains("Union"), mPlan)
    // the container-auto EXIF scan: one pass, no Union of per-format
    // filters
    val exif = graft.operators.Multimodal.exifScanAuto(
      shards, "id", "content")
    val ePlan = exif.queryExecution.executedPlan.toString
    assert(!ePlan.contains("Exchange") && !ePlan.contains("Union"),
      s"exifScanAuto must be one narrow pass:\n$ePlan")
    // the census aggregate shuffles exactly once, on (id, stem)
    val census = graft.operators.Tar.webdatasetSamples(
      shards, "id", "content")
    val cPlan = census.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val keyed = cPlan.linesIterator
      .count(l => l.contains("Exchange hashpartitioning"))
    assert(keyed == 1, s"expected one keyed shuffle:\n$cPlan")
  }

  test("vector kernels evaluate once: no Filter recomputes a projected " +
      "centroid/distance kernel (eval_once barrier holds)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    // Before the EvalOnceExpr barrier, pushdown substituted the full
    // codes/assignment kernel into the pushed isnotnull filter — every
    // corpus row paid the PQ encode / coarse assignment twice
    // (plans/r21/q_pq_int_before.txt); the pair verifiers' cosine >=
    // threshold filter likewise carried a second cosine kernel
    // (plans/r21/q_semantic_dedup_int_after.txt). Pin: no Filter
    // condition may contain a centroid, distance or cosine kernel call.
    def kernelInFilter(name: String): Seq[LFilter] =
      SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case f: LFilter if f.condition.exists(e =>
            e.isInstanceOf[graft.expressions.NearestCentroidsExpr] ||
              e.isInstanceOf[graft.expressions.SqDistExpr] ||
              e.isInstanceOf[graft.expressions.CosineSimExpr]) => f
        }
    val duplicated = Seq("q_pq_int", "q_ivfpq_int", "q_knn_ivf_int",
        "q_recall_ivf_int", "q_pq", "q_semantic_dedup",
        "q_semantic_dedup_int", "q_emb_near_dup", "q_emb_near_dup_int",
        "q_contam_sem_int").filter(kernelInFilter(_).nonEmpty)
    assert(duplicated.isEmpty,
      s"centroid/distance/cosine kernel duplicated into a Filter: $duplicated")
    // assignCentroidsJoin (library surface, spec-pinned parity): one
    // sq_dist eval per (doc, centroid) — the null-distance filter sits
    // ABOVE the projection, not substituted below it
    import spark.implicits._
    val docs = Seq((1L, Seq(0.0, 1.0)), (2L, Seq(3.0, 4.0)))
      .toDF("id", "v")
    val cents = Seq((0, Seq(0.0, 0.0)), (1, Seq(5.0, 5.0)))
      .toDF("cid", "cv")
    val assigned = Similarity.assignCentroidsJoin(docs, "id", "v", cents)
    val offending = assigned.queryExecution.optimizedPlan.collect {
      case f: LFilter if f.condition.exists(
        _.isInstanceOf[graft.expressions.SqDistExpr]) => f
    }
    assert(offending.isEmpty,
      s"assignCentroidsJoin: sq_dist duplicated into a Filter:\n$offending")
  }

  test("media decoders evaluate once: every decode UDF is projected " +
      "through eval_once and no Filter re-runs a projected UDF") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter,
      Project => LProject}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.expressions.EvalOnceExpr
    import graft.operators.{Audio, Multimodal, Video}
    import spark.implicits._
    // Without the barrier, a filter on a decoded column is pushed below
    // the projection by substituting the UDF into it: the decode runs
    // once in the Filter and again in the Project, per row.
    def check(what: String, df: DataFrame): Unit = {
      // a streaming frame has no batch optimizedPlan; run the optimizer
      // on its analyzed plan, as each micro-batch does
      val plan =
        if (df.isStreaming) spark.sessionState.optimizer.execute(df.queryExecution.analyzed)
        else df.queryExecution.optimizedPlan
      val projected = plan.collect { case p: LProject => p.projectList }
        .flatten.flatMap(_.collect { case u: ScalaUDF => u })
      val twice = plan.collect {
        case f: LFilter if f.condition.exists {
          case u: ScalaUDF => projected.exists(_.semanticEquals(u))
          case _ => false
        } => f
      }
      assert(twice.isEmpty, s"$what: a Filter re-runs a projected UDF:\n$plan")
      val barriers = plan.flatMap(_.expressions.flatMap(_.collect {
        case EvalOnceExpr(_: ScalaUDF) => 1 }))
      assert(barriers.nonEmpty, s"$what: no decode UDF under eval_once:\n$plan")
    }
    Seq("q_webp_meta", "q_image_tiff_meta", "q_jingle_hunt",
        "q_video_cross_container")
      .foreach(q => check(q, SparkEntry.queries(q)(spark, sf)))

    // library surfaces over the fixtures the hunt specs build
    def frame(base: Int, f: Int): Array[Byte] =
      Array.tabulate(3 * 4 * 3)(k => ((base * 131 + f * 31 + k * 7) % 101).toByte)
    val avi = Video.buildUncompressedAvi(4, 3, (0 until 66).map(frame(9, _)), 40000L)
    val rnd = new scala.util.Random(7)
    val wav = Audio.wrapWav(Array.fill(1040)(rnd.nextInt(16001) - 8000), 0, 1040, 8000)
    val bmp = Multimodal.buildBmp(16, 12, Array.tabulate(3 * 16 * 12)(_.toByte))
    // parquet-backed: a local Seq would fold into a LocalRelation
    def frameOf(bytes: Array[Byte]) = {
      val dir = Fixtures.scratchDir("graft-barrier-plan").toString
      Seq(1L -> bytes).toDF("id", "content").write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir)
    }
    def index(write: (DataFrame, String) => Unit, bytes: Array[Byte]) = {
      val dir = Fixtures.scratchDir("graft-barrier-plan").toString
      write(frameOf(bytes), dir)
      dir
    }
    val videoIdx = index(Video.writeVideoNearDupIndex(_, "id", "content", _), avi)
    val audioIdx = index(Audio.writeAudioNearDupIndex(_, "id", "content", _), wav)
    val imageIdx = index(Multimodal.writeImageNearDupIndex(_, "id", "content", _), bmp)
    check("videoSigsAuto", Video.videoSigsAuto(frameOf(avi), "id", "content"))
    check("findVideosContainingScene", Video.findVideosContainingScene(
      frameOf(avi), "id", "content", videoIdx, segmentFrames = 66))
    check("findClipsContainingJingle", Audio.findClipsContainingJingle(
      frameOf(wav), "id", "content", audioIdx, segmentFrames = 1040))
    check("findImagesContainingCrop", Multimodal.findImagesContainingCrop(
      frameOf(bmp), "id", "content", imageIdx, tileW = 16, tileH = 12))
    check("jpegDimensions", frameOf(bmp)
      .select(Multimodal.jpegDimensions(col("content")).as("d"))
      .filter(col("d").isNotNull))
    // the streaming twins, over a live feed
    implicit val sq = spark.sqlContext
    def feed = MemoryStream[(Long, Array[Byte], java.sql.Timestamp)]
      .toDF().toDF("id", "content", "ts")
    check("findVideosContainingSceneStream", Video.findVideosContainingSceneStream(
      feed, "id", "content", "ts", videoIdx, segmentFrames = 66))
    check("findVideosWithJingleStream", Video.findVideosWithJingleStream(
      feed, "id", "content", "ts", audioIdx, segmentFrames = 1040))
    check("streamingVideoNearDedup", Video.streamingVideoNearDedup(
      feed, "id", "content", "ts", videoIdx))
    check("findClipsContainingJingleStream", Audio.findClipsContainingJingleStream(
      feed, "id", "content", "ts", audioIdx, segmentFrames = 1040))
    check("streamingAudioNearDedup", Audio.streamingAudioNearDedup(
      feed, "id", "content", "ts", audioIdx))
    check("streamingImageNearDedup", Multimodal.streamingImageNearDedup(
      feed, "id", "content", "ts", imageIdx))
  }
}
