package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Fixtures
import graft.Fixtures.mix64

/** Dev smoke-driver: exercises the library through its public surface
  * (a real SparkSession + registered SQL functions) against testdata.
  * Run: `sbt "runMain graft.tools.Smoke"`.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    graft.service.ErrorMapping.registerUnhandledHandler(System.err.println)
    val spark = graft.GraftSession.configure(SparkSession.builder()).master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.expressions.GraftFunctions.register(spark)
    import spark.implicits._

    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").limit(5)
    val feats = li.select(concat(
      lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
      $"l_extendedprice", lit(","), $"l_discount", lit(","), $"l_quantity",
      lit("""]},"properties":{"_id":""""), $"l_orderkey", lit("\"}}")
    ).as("feature"))
    feats.createOrReplaceTempView("feats")
    spark.sql("SELECT process_geometry(feature, 'nodes') AS out FROM feats")
      .show(5, false)
    spark.sql(
      """SELECT process_geometry(NULL, 'nodes') AS null_in,
        |       process_geometry('not json', 'nodes') AS garbage,
        |       process_geometry('{"type":"Feature","geometry":{"type":"Point","coordinates":[1.0,2.0,0]}}', 'nodes') AS zero_z,
        |       strip_z('[[[1.0,2.0,3.0]]]') AS deep,
        |       first_elevation('[[1.0,2.0],[3.0,4.0,9.5]]') AS fe
        |""".stripMargin).show(false)

    // E2E: write a fixture archive to disk, load it through the streamed
    // path-based source + engine, dump every table.
    val dir = Fixtures.scratchDir("smoke")
    val zipPath = Fixtures.writeZip(dir.resolve("fixture.zip"),
      "nodes.geojson" -> Fixtures.featureCollection(""""name":"nf"""", Iterator(
        """{"type":"Feature","geometry":{"type":"Point","coordinates":[-122.1,47.6,55.5]},"properties":{"_id":"n1"}}""",
        """{"type":"Feature","geometry":{"type":"Point","coordinates":[-122.2,47.7,0]},"properties":{"_id":"n2"}}"""),
        lateHeader = """"rev":7"""),
      "edges.geojson" -> Fixtures.featureCollection("", Iterator(
        """{"type":"Feature","geometry":{"type":"LineString","coordinates":[[1.0,2.0,3.0],[4.0,5.0,6.0]]},"properties":{"_id":"e1"}}""")),
      "curbs.geojson" -> Fixtures.featureCollection(""""name":"curbfile"""", Iterator(
        """{"type":"Feature","geometry":{"type":"Point","coordinates":[9.0,8.0,7.0]},"properties":{"_id":"c1"}}"""))
    ).toString

    val engine = new graft.service.ExtractLoadEngine(spark, s"$dir/wh")
    val resp = engine.processRequest(graft.model.QueueMessage("m1", "wf",
      graft.model.ExtractLoadRequest("osw", zipPath, "smoke-ds", "smoke-user")))
    println(s"response: $resp")
    Seq("node", "edge", "extension", "extension_file", "dataset", "stats", "response")
      .foreach { t => println(s"== $t =="); engine.warehouse.table(t).show(false) }

    // Streaming intake + graceful drain: drop a request into a watched
    // dir, start the live subscription, wait for it to process, drain.
    val reqDir = Fixtures.scratchDir("smoke-req")
    val sub = new graft.streaming.QueueSubscription(
      spark, engine, reqDir.toString, s"$dir/ck")
    val req =
      s"""{"messageId":"m2","messageType":"workflow","data":{"data_type":"osw","file_upload_path":"$zipPath","tdei_dataset_id":"smoke-ds-2","user_id":"smoke-user"}}"""
    val tmp = Files.createTempFile(dir, "req", ".json")
    Files.writeString(tmp, req)
    Files.move(tmp, reqDir.resolve("m2.json"))
    val q = sub.start()
    q.processAllAvailable()
    sub.drain()
    println(s"drained: active=${q.isActive} exception=${q.exception}")
    engine.warehouse.table("response").show(false)

    // Image decode: a real PNG (ImageIO path) next to an undecodable
    // header-only payload (fallback path).
    val bi = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until 4).foreach(x => bi.setRGB(x, 0, 0xFF0000))
    (0 until 4).foreach(x => bi.setRGB(x, 1, 0x00FF00))
    val pngBos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(bi, "png", pngBos)
    val fakeGif = "GIF89a".getBytes("UTF-8") ++ Array[Byte](10, 0, 20, 0)
    graft.operators.Multimodal.decodeImage(
      Seq((1L, pngBos.toByteArray), (2L, fakeGif)).toDF("id", "content"),
      "id", "content", dim = 4)
      .toDF().show(false)

    // Native text-hash kernels: the SQL-function surface, then the dedup
    // operators that consume them, over the real documents table.
    spark.sql(
      """SELECT simhash64_native('the quick brown fox') AS sh,
        |       minhash_sig_native('one two three four', 4) AS sig4,
        |       ngram_hashes_native('a b c d', 3, true) AS ghs,
        |       ngrams_native('a b c d', 2) AS grams,
        |       simhash64_native(NULL) AS sh_null
        |""".stripMargin).show(false)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    println("== minhash near-dup pairs (sf0.001) ==")
    graft.operators.Dedup.minHashNearDupPairs(docs, "doc_id", "text")
      .orderBy("a", "b").show(5, false)
    println("== simhash near-dup pairs (sf0.001) ==")
    graft.operators.Dedup.simHashNearDupPairs(docs, "doc_id", "text")
      .orderBy("a", "b").show(5, false)
    println("== contamination vs bench sample (sf0.001) ==")
    graft.operators.CorpusAnalysis.contamination(
      docs, docs.filter($"doc_id" % 97 === 0), "doc_id", "text")
      .orderBy("id", "bench_id").show(5, false)

    // Vector kernels: SQL surface, then the ANN operators end-to-end.
    spark.sql(
      """SELECT cosine_sim_native(array(1.0D, 2.0D), array(2.0D, 4.0D)) AS colinear,
        |       sq_dist_native(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS d25,
        |       lsh_sig_int_native(array(5L, -3L), 4, 2, 2) AS sig
        |""".stripMargin).show(false)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 3)
    println("== kNN brute force (sf0.001) ==")
    graft.operators.Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 3)
      .orderBy("query_id", "rank").show(9, false)
    println("== kNN LSH (sf0.001) ==")
    graft.operators.Similarity.lshBucketedTopK(emb, queries, "vec_id", "embedding", 3)
      .orderBy("query_id", "rank").show(9, false)
    println("== kNN IVF (sf0.001) ==")
    graft.operators.Similarity.ivfTopK(emb, queries, "vec_id", "embedding", 3)
      .orderBy("query_id", "rank").show(9, false)
    println("== embedding near-dup pairs (sf0.001) ==")
    graft.operators.Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.9)
      .orderBy("a", "b").show(5, false)
    println("== sequence packing (sf0.001, maxTokens=128) ==")
    val packed = graft.operators.CorpusAnalysis.packSequences(
      docs, "doc_id", "text", maxTokens = 128, shards = 4)
    packed.orderBy("shard", "pack_id", "pack_pos").show(8, false)
    packed.groupBy("shard", "pack_id").agg(sum("doc_tokens").as("pack_tokens"))
      .groupBy().agg(count(lit(1)).as("packs"), max("pack_tokens").as("max_fill"),
        avg("pack_tokens").as("avg_fill")).show(false)
    println("== packed training sequences (one pack) ==")
    graft.operators.CorpusAnalysis.packTexts(
      docs, "doc_id", "text", maxTokens = 128, shards = 4)
      .orderBy("shard", "pack_id")
      .select(col("shard"), col("pack_id"), col("pack_tokens"), col("n_docs"),
        substring(col("pack_text"), 1, 60).as("pack_text_head"))
      .show(3, false)
    println("== curation pipeline report (sf0.001) ==")
    graft.operators.CorpusAnalysis.curate(
      docs, docs.filter($"doc_id" % 97 === 0), "doc_id", "text")
      .orderBy("stage").show(false)
    println("== URL canonicalization ==")
    Seq("HTTP://WWW.Example.COM:80/A/9?utm_source=x&b=2&a=1#f",
      "http://U:P@Example.org:8080/x%20y?z=1&gclid=g", "nonsense")
      .toDF("url")
      .select(col("url"), graft.functions.UrlFunctions.normalizeUrl(col("url"))
        .as("url_norm"), graft.functions.UrlFunctions.domain(col("url")).as("domain"))
      .show(false)
    println("== span-level duplication (top docs) ==")
    graft.operators.CorpusAnalysis.dupSpans(docs, "doc_id", "text", n = 12)
      .orderBy(desc("dup_frac"), col("id")).show(5, false)
    println("== incremental dedup (exact + near) ==")
    // exact catches canonical dups (case/space noise); near catches
    // re-crawls with a few changed tokens that exact misses
    val snapExact = docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 900000L).as("doc_id"),
        concat(upper($"text"), lit(" ")).as("text"))
    val snapNear = docs.filter($"doc_id" < 5)
      .select(($"doc_id" + 900000L).as("doc_id"),
        concat($"text", lit(" trailingword")).as("text"))
    val fresh = docs.filter($"doc_id" >= 5 && $"doc_id" < 8)
      .select(($"doc_id" + 900000L).as("doc_id"),
        concat(lit("fresh "), md5($"doc_id".cast("string"))).as("text"))
    println("exact kept (expect 3 fresh): " + graft.operators.Dedup
      .incrementalDedup(snapExact.unionByName(fresh), docs, "doc_id", "text")
      .count())
    println("near kept (expect 3 fresh): " + graft.operators.Dedup
      .incrementalNearDedup(snapNear.unionByName(fresh), docs, "doc_id", "text")
      .count())
    println("== token-frequency scoring ==")
    graft.operators.CorpusAnalysis
      .tokenFrequencyStats(docs, "doc_id", "text", vocabSize = 20)
      .orderBy(desc("oov_frac")).show(5, false)

    println("== semantic dedup, DataFrame-centroid join path (sf0.001) ==")
    // centroids as a DataFrame (the beyond-closure form): first 4 real
    // vectors; planted near-identical copies must pair with their base
    val centsDf = emb.filter($"vec_id" < 4)
      .select($"vec_id".cast("int").as("cid"),
        transform($"embedding", x => x.cast("double")).as("cv"))
    val embPlanted = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" < 5).select(($"vec_id" + 100000L).as("vec_id"),
        transform($"embedding", (x, i) =>
          when(i === 0, x + lit(0.001f)).otherwise(x)).as("embedding")))
    graft.operators.Dedup.semanticDupPairsJoin(
      embPlanted, "vec_id", "embedding", centsDf, threshold = 0.99)
      .orderBy("a", "b").show(6, false)

    println("== BM25 retrieval (sf0.001): query = doc 0's first 8 tokens ==")
    val bmQ = docs.filter($"doc_id" < 3)
      .select($"doc_id".as("query_id"),
        array_join(slice(graft.functions.TextFunctions.tokens($"text"), 1, 8),
          " ").as("qtext"))
    graft.operators.Retrieval.bm25TopK(docs, bmQ, "doc_id", "text",
      "query_id", "qtext", k = 3).orderBy("query_id", "rank").show(9, false)
    println("== inverted index head / term stats ==")
    graft.operators.Retrieval.termStats(docs, "doc_id", "text")
      .orderBy(desc("df"), col("term")).show(5, false)

    println("== product quantization (sf0.001): fitted codebook, ADC top-3 ==")
    val pqCb = graft.operators.ProductQuantization.fitCodebook(
      emb, "vec_id", "embedding", m = 8, k = 8)
    graft.operators.ProductQuantization.adcTopK(
      emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 3, pqCb)
      .orderBy("query_id", "rank").show(9, false)
    println("== IVF-PQ (same codebook, kmeans coarse, nprobe=2) ==")
    graft.operators.ProductQuantization.ivfpqTopK(
      emb, emb.filter($"vec_id" < 3), "vec_id", "embedding", 3, pqCb,
      numCoarse = 8, nprobe = 2)
      .orderBy("query_id", "rank").show(9, false)

    println("== health ping (reference body on a live session) ==")
    println(graft.service.Health.ping(spark))

    println("== curatePersisted sidecar: JSON-escaped params, pre-params guard ==")
    locally {
      val pDir = Fixtures.scratchDir("smoke-curate").toString
      val small = docs.limit(30)
      graft.operators.CorpusAnalysis.curatePersisted(small,
        small.filter($"doc_id" % 7 === 0), "doc_id", "text", pDir,
        salt = "we\"ird\\salt")
      val sidecar = Files.readString(
        java.nio.file.Path.of(pDir, "_graft_params.json"))
      println(s"sidecar: $sidecar")
      val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(sidecar)
      println(s"parsed salt round-trips: ${parsed.get("salt").asText()}")
      // pre-params stages: delete the sidecar, resume must refuse
      Files.delete(java.nio.file.Path.of(pDir, "_graft_params.json"))
      val guard = try {
        graft.operators.CorpusAnalysis.curatePersisted(small,
          small.filter($"doc_id" % 7 === 0), "doc_id", "text", pDir,
          salt = "we\"ird\\salt"); "NOT BLOCKED (bug)"
      } catch { case e: IllegalArgumentException =>
        s"blocked: ${e.getMessage.linesIterator.next()}" }
      println(guard)
    }

    println("== removeDupSpans: null doc id fails loudly ==")
    locally {
      val nullId = Seq((java.lang.Long.valueOf(1L), "x y z mid x y z"),
        (null.asInstanceOf[java.lang.Long], "x y z other"))
        .toDF("doc_id", "text")
      val msg = try {
        graft.operators.CorpusAnalysis.removeDupSpans(
          nullId, "doc_id", "text", n = 3, keepFirst = true).collect()
        "NOT RAISED (bug)"
      } catch { case e: Exception =>
        def root(t: Throwable): Throwable =
          if (t.getCause == null) t else root(t.getCause)
        root(e).getMessage.linesIterator.next() }
      println(s"null-id: $msg")
    }

    println("== DSIR: select 20 docs most like the %7 target slice ==")
    locally {
      val sel = graft.operators.DataSelection.dsirResample(docs,
        docs.filter($"doc_id" % 7 === 0), "doc_id", "text",
        keepN = 20, buckets = 1000)
      sel.orderBy($"score".desc).limit(5).show(false)
      println(s"selected=${sel.count()} " +
        s"targetStyle=${sel.filter($"id" % 7 === 0).count()}")
    }

    println("== tokensToIds: top-10 vocab over documents ==")
    locally {
      val vocab = graft.operators.CorpusAnalysis.topVocab(docs, "text", 10)
      graft.operators.Retrieval.tokensToIds(docs, "doc_id", "text", vocab)
        .orderBy($"id").limit(3)
        .select($"id", $"n_tokens",
          slice($"token_ids", 1, 12).as("token_ids_head")).show(false)
    }

    println("== token-budget sample: ~10k tokens of documents ==")
    locally {
      val tb = graft.operators.DataSelection.sampleTokenBudget(
        docs, "doc_id", "text", budgetTokens = 10000)
      tb.agg(count(lit(1)).as("docs"), sum($"n_tokens").as("tokens")).show(false)
    }

    println("== multi-corpus merge: %3 slice outranks the full corpus ==")
    locally {
      graft.operators.Dedup.mergeCorpora(
        Seq(docs.filter($"doc_id" % 3 === 0), docs), "doc_id", "text")
        .groupBy($"source").count().orderBy($"source").show(false)
    }

    println("== gopher rules: per-rule attrition over documents ==")
    locally {
      val g = graft.operators.CorpusAnalysis.gopherRules(docs, "doc_id", "text")
      g.agg(count(lit(1)).as("docs"),
        sum(when($"pass", 1).otherwise(0)).as("passed"),
        sum(when($"n_words" < 50, 1).otherwise(0)).as("too_short"),
        sum(when($"stopword_hits" < 2, 1).otherwise(0)).as("few_stops"),
        sum(when($"alpha_frac" < 0.8, 1).otherwise(0)).as("low_alpha"))
        .show(false)
    }

    println("== bigram LM: ppl of docs under the %7-slice model ==")
    locally {
      val lm = graft.operators.LanguageModel.bigramLmScores(docs,
        docs.filter($"doc_id" % 7 === 0), "doc_id", "text")
      lm.orderBy($"log_ppl".asc).limit(3).show(false)
      lm.agg(min($"log_ppl"), avg($"log_ppl"), max($"log_ppl")).show(false)
    }

    println("== NB quality classifier: %7 slice vs rest ==")
    locally {
      val nb = graft.operators.QualityClassifier.nbQualityScores(docs,
        docs.filter($"doc_id" % 7 === 0), docs.filter($"doc_id" % 7 =!= 0),
        "doc_id", "text")
      nb.agg(count(lit(1)).as("docs"),
        sum(when($"is_positive", 1).otherwise(0)).as("flagged_positive"),
        min($"avg_log_odds"), avg($"avg_log_odds"), max($"avg_log_odds"))
        .show(false)
      nb.orderBy($"avg_log_odds".desc).limit(3)
        .select($"id", $"n_tokens", $"avg_log_odds", $"is_positive").show(false)
    }

    println("== CCNet perplexity buckets: head/middle/tail of the corpus ==")
    locally {
      val pb = graft.operators.QualityClassifier.perplexityBuckets(docs,
        docs.filter($"doc_id" % 7 === 0), "doc_id", "text")
      pb.groupBy($"bucket").agg(count(lit(1)).as("docs"),
        min($"log_ppl").as("min_ppl"), max($"log_ppl").as("max_ppl"))
        .orderBy($"bucket").show(false)
    }

    println("== semantic decontamination: corpus vs 5-vector bench ==")
    locally {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      val sc2 = graft.operators.Similarity.semanticContamination(
        emb.filter($"vec_id" >= 5), emb.filter($"vec_id" < 5),
        "vec_id", "embedding", threshold = 0.2)
      sc2.agg(count(lit(1)).as("docs"),
        sum(when($"contaminated", 1).otherwise(0)).as("contaminated"),
        max($"max_sim")).show(false)
      sc2.orderBy($"max_sim".desc).limit(3).show(false)
    }

    println("== streaming near-dedup (MemoryStream vs static documents) ==")
    // live intake: 3 perturbed re-crawls of real corpus docs (one token
    // appended — exact fingerprint misses, trigram Jaccard ≥ 0.8 hits)
    // across two micro-batches + 2 fresh docs; only the fresh survive
    locally {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      implicit val sq = spark.sqlContext
      val mem = MemoryStream[(Long, java.sql.Timestamp, String)]
      val sdf = mem.toDF().toDF("doc_id", "ts", "text")
      val sq2 = graft.operators.Dedup
        .streamingNearDedup(sdf, docs, "doc_id", "text", "ts",
          lateness = "5 minutes")
        .writeStream.format("memory").queryName("smoke_stream_near")
        .outputMode("append").start()
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val recrawl = docs.filter($"doc_id" < 3)
        .select($"doc_id" + 900100L, $"text").collect()
        .map(r => (r.getLong(0), r.getString(1) + " trailingword"))
      mem.addData((recrawl(0)._1, ts("2024-01-01 00:00:00"), recrawl(0)._2),
        (900201L, ts("2024-01-01 00:00:01"), "wholly fresh streaming doc one"))
      sq2.processAllAvailable()
      mem.addData((recrawl(1)._1, ts("2024-01-01 00:00:02"), recrawl(1)._2),
        (recrawl(2)._1, ts("2024-01-01 00:00:03"), recrawl(2)._2),
        (900202L, ts("2024-01-01 00:00:04"), "wholly fresh streaming doc two"))
      sq2.processAllAvailable()
      // stateless admission emits per batch; two more fresh docs just
      // exercise extra triggers (both admitted)
      mem.addData((900900L, ts("2024-01-01 01:00:00"), "watermark pusher a"))
      sq2.processAllAvailable()
      mem.addData((900901L, ts("2024-01-01 01:00:01"), "watermark pusher b"))
      sq2.processAllAvailable()
      spark.table("smoke_stream_near").orderBy("doc_id")
        .select($"doc_id", substring($"text", 1, 40).as("text_head")).show(false)
      sq2.stop()
    }

    println("== buildCorpus: resumable pipeline + (id, text) target " +
      "fingerprint ==")
    // end-to-end corpus build off an in-memory WARC drop, then the
    // resume contract: clean resume on the identical target, fail-loud
    // when the target keeps its ids but swaps its TEXT (the LM-regime
    // mix the content fingerprint exists to block)
    locally {
      import java.nio.charset.StandardCharsets.UTF_8
      def doc(seed: Int): String = (0 until 4).map(i =>
        (0 until 5).map(j => s"s${seed}w${i}x${j}token").mkString(" ") +
          " ends.").mkString(" ")
      def http(body: String): Array[Byte] = {
        val b = s"<html><body><p>$body</p></body></html>".getBytes(UTF_8)
        (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
          s"Content-Length: ${b.length}\r\n\r\n").getBytes(UTF_8) ++ b
      }
      def rec(uri: String, block: Array[Byte]): Array[Byte] = {
        val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
          s"WARC-Record-ID: <urn:uuid:$uri>\r\n" +
          s"WARC-Date: 2024-01-01T00:00:00Z\r\n" +
          s"WARC-Target-URI: $uri\r\n" +
          s"Content-Type: application/http; msgtype=response\r\n" +
          s"Content-Length: ${block.length}\r\n\r\n").getBytes(UTF_8)
        val raw = hdr ++ block ++ "\r\n\r\n".getBytes(UTF_8)
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(raw); gz.close(); bos.toByteArray
      }
      val warcDir = Fixtures.scratchDir("smoke-build-warc")
      Files.write(warcDir.resolve("crawl-0.warc.gz"),
        (0 until 8).map(i => rec(s"http://s$i.test/a", http(doc(i))))
          .reduce(_ ++ _))
      val stageDir = Fixtures.scratchDir("smoke-build-stages").toString
      val target = (0 until 4).map(i => (100L + i, doc(i)))
        .toDF("id", "text")
      graft.operators.CorpusBuild.buildCorpus(spark, warcDir.toString,
        stageDir, target = target, nearDupThreshold = 0.7,
        packTokens = 64).show(false)
      // identical-content target (different row order): clean resume
      graft.operators.CorpusBuild.buildCorpus(spark, warcDir.toString,
        stageDir, target = target.orderBy($"id".desc).repartition(2),
        nearDupThreshold = 0.7, packTokens = 64).show(false)
      // same ids, different text: the content fingerprint fails loud
      try {
        graft.operators.CorpusBuild.buildCorpus(spark, warcDir.toString,
          stageDir, target = (0 until 4).map(i => (100L + i, doc(i + 50)))
            .toDF("id", "text"),
          nearDupThreshold = 0.7, packTokens = 64)
        println("|BUG: same-ids-different-text target resumed silently|")
      } catch {
        case e: IllegalArgumentException =>
          println("|target-swap rejected: " +
            e.getMessage.linesIterator.next() + "|")
      }
    }

    // Video near-dup index lifecycle over REAL AVI bytes: corpus built
    // from documents ids (one planted stream class per id % 32), index
    // written to disk, a snapshot with re-gained twins + fresh streams
    // + an undecodable payload admitted against it, admissions appended,
    // a second snapshot admitted against corpus + appended batch.
    {
      import graft.operators.Video
      val docs = spark.read
        .parquet("/root/testdata/sf0.001/documents.parquet")
        .select($"doc_id").limit(48)
      val buildAvi = udf((id: Long, gain: Int) => {
        // double-mixed pixels so distinct classes are UNRELATED (an
        // affine base/f/k formula collapses every class onto ~101
        // cyclic luma phases — some phases land within Hamming 3)
        val seed = mix64(id % 32)
        val frames = (0 until 70).map { f =>
          val fs = mix64(seed + f * 0x9E3779B97F4A7C15L)
          Array.tabulate(3 * 4 * 3)(k =>
            ((((mix64(fs + k) & Long.MaxValue) % 101L).toInt) * gain).toByte)
        }
        Video.buildUncompressedAvi(4, 3, frames, 40000L)
      })
      val corpus = docs.filter($"doc_id" < 16)
        .select($"doc_id".as("id"), buildAvi($"doc_id", lit(1)).as("content"))
      val idxDir = Fixtures.scratchDir("smoke-video-idx").toString
      Video.writeVideoNearDupIndex(corpus, "id", "content", idxDir)
      // snapshot: ids 100+base are re-gained twins of indexed streams
      // (dropped), 200+ are fresh classes (admitted), 999 undecodable
      val twins = docs.filter($"doc_id" < 8)
        .select(($"doc_id" + 100).as("id"),
          buildAvi($"doc_id", lit(2)).as("content"))
      val fresh = docs.filter($"doc_id".between(16, 23))
        .select(($"doc_id" + 200).as("id"),
          buildAvi($"doc_id", lit(1)).as("content"))
      val junk = Seq((999L, "not an avi".getBytes("UTF-8")))
        .toDF("id", "content")
      val snap1 = twins.unionByName(fresh).unionByName(junk)
      val adm1 = Video.incrementalVideoNearDedup(snap1, "id", "content",
        idxDir)
      println(s"|video snap1: ${snap1.count()} in -> " +
        s"${adm1.count()} admitted (expect 9: 8 fresh + junk)|")
      adm1.orderBy($"id").select($"id").show(12, false)
      Video.appendToVideoNearDupIndex(
        adm1.filter($"id" =!= 999L), "id", "content", idxDir)
      // snapshot 2: twins of the APPENDED streams must now be dropped
      val snap2 = docs.filter($"doc_id".between(16, 23))
        .select(($"doc_id" + 300).as("id"),
          buildAvi($"doc_id", lit(2)).as("content"))
      val adm2 = Video.incrementalVideoNearDedup(snap2, "id", "content",
        idxDir)
      println(s"|video snap2: ${snap2.count()} in -> " +
        s"${adm2.count()} admitted (expect 0: all twins of appends)|")
    }
    spark.stop()
  }
}
