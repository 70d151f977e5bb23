package graft

import graft.functions.HashEmbedder

/** End-to-end through the public facade: embed corpus → build index → text
  * query → self-retrieval — the reference's full offline+online pipeline
  * (embedding.py → clusters.py → ./IVF) in one flow. */
class EngineFacadeSpec extends SparkSpec {

  test("embed -> index -> searchText retrieves the query document itself") {
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val embedder = HashEmbedder(dim = 64)

    val emb = engine.embed(docs, embedder).withColumnRenamed("doc_id", "vec_id")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    val idx = engine.buildIndex(emb, "facade-e2e", numClusters = 8)

    val queryText = docs.where(org.apache.spark.sql.functions.col("doc_id") === 7L)
      .select("text").head().getString(0)

    // full probe => exact: the query doc must be its own nearest neighbor
    val top = engine.searchText(idx, embedder, queryText, k = 3, nProbe = 8).collect()
    assert(top.head.getAs[Long]("vec_id") == 7L,
      s"self-retrieval failed: ${top.mkString(", ")}")
    assert(top.head.getAs[Double]("sim") > 0.999999)

    // partial probe still finds it (its own cluster is the nearest centroid)
    val ann = engine.searchText(idx, embedder, queryText, k = 3, nProbe = 1).collect()
    assert(ann.head.getAs[Long]("vec_id") == 7L)
  }

  test("searchDocs joins snippets like the reference output (IVF.cpp:689-708)") {
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = graft.operators.KnnExact.queryVector(emb, 3L)
    val knn = engine.knnExact(emb, q, 5)
    val hits = spark.createDataFrame(java.util.Arrays.asList(knn.collect(): _*), knn.schema)
    // a point fetch: one job reads the k ids' rows, nothing else runs
    val (fetched, jobs) = JobCounter(spark)(engine.searchDocs(hits, docs))
    assert(jobs == 1, s"doc fetch started $jobs jobs")
    val out = fetched.collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("vec_id") == 3L)
    assert(out.forall(_.getAs[String]("snippet").length <= 200))
    // same rows, columns and order as the join it replaces
    import org.apache.spark.sql.functions._
    val joined = hits.join(docs, hits("vec_id") === docs("doc_id"))
      .select(hits("vec_id"), hits("sim"), substring(col("text"), 1, 200).as("snippet"))
      .orderBy(desc("sim"), asc("vec_id")).collect()
    assert(fetched.columns.toSeq == Seq("vec_id", "sim", "snippet"))
    assert(out.toSeq == joined.toSeq, s"${out.mkString(",")} vs ${joined.mkString(",")}")
  }

  test("exportCorpus writes split-partitioned, sorted, skippable parquet") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val engine = new GraftEngine(spark)
    val withSplit = docs.join(engine.split(docs).select("doc_id", "split"), Seq("doc_id"))
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "export").toString
    engine.exportCorpus(withSplit, dir, Seq("split"), "doc_id")
    // Hive layout: one dir per split value
    val parts = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(parts.sameElements(Array("split=test", "split=train", "split=val")), parts.toSeq)
    // round-trip preserves every row, and a range predicate pushes to the scan
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    val plan = back.where(col("doc_id") < 100L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("LessThan(doc_id,100"),
      "range predicate must reach the parquet scan:\n" + plan.take(600))
    // rows inside each file are sorted by doc_id (row-group stats monotone)
    import spark.implicits._
    val unsorted = back.select(input_file_name().as("f"), $"doc_id")
      .groupBy("f").agg(collect_list("doc_id").as("ids")).collect()
      .exists { r =>
        val ids = r.getAs[scala.collection.Seq[Long]]("ids")
        ids != ids.sorted
      }
    assert(!unsorted, "in-file order must be sorted by doc_id")
  }

  test("round-4 facade surface: keywords, hybrid, PQ, curation, assignment") {
    import org.apache.spark.sql.functions._
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qv = graft.operators.KnnExact.queryVector(emb, 0L)
    val terms = Seq("vector", "query", "dup")

    assert(engine.searchKeywords(docs, terms, 5).count() == 5)
    val hybrid = engine.searchHybrid(docs, emb, terms, qv, k = 5).collect()
    assert(hybrid.length == 5 && hybrid.exists(_.getLong(0) == 0L))

    val (pqModel, pqCodes) = engine.buildPq(emb, SparkEntry.EmbDim)
    assert(engine.searchPq(pqCodes, pqModel, qv, 5).count() == 5)

    val curated = engine.curate(docs)
    assert(curated.count() > 0 && curated.count() < docs.count())

    val idx = graft.operators.IvfIndex.forSfDir(spark, sf0001, SparkEntry.NumClusters)
    val assigned = engine.assignToIndex(idx, emb.where(col("vec_id") < 5))
    assert(assigned.count() == 5)

    assert(engine.languageModelScore(docs).count() == docs.count())
    assert(engine.contaminationScan(docs).count() > 0)
  }

  test("round-5 facade surface: SQ8 codebook artifact, indexed LSH, cache release") {
    val engine = new GraftEngine(spark)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qv = graft.operators.KnnExact.queryVector(emb, 0L)
    val dim = SparkEntry.EmbDim

    // codebook-as-artifact path equals the self-contained convenience path
    val cb = engine.buildSq8(emb, dim)
    val withCb = engine.searchQuantized(emb, qv, 5, dim, Some(cb))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val without = engine.searchQuantized(emb, qv, 5, dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(withCb == without)

    // partitioned LSH serving path through the facade == flat facade path
    val dir = engine.buildLshIndex(emb, "facade-lsh", dim)
    val indexed = engine.searchLshIndexed(dir, qv, 5, dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val flat = engine.searchLsh(emb, qv, 5, dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(indexed == flat)

    // a long-lived session can bound its cache footprint
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    engine.survivors(docs).count()
    assert(CacheRegistry.trackedCount > 0)
    engine.releaseCaches()
    assert(CacheRegistry.trackedCount == 0)
  }

  test("round-5 facade surface: training-mix ops and indexed near-dup") {
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")

    // the mix trio: report margins, normalized weights, packed sequences
    val report = engine.mixReport(docs).collect()
    assert(report.exists(r => r.isNullAt(0) && r.isNullAt(1)), "grand total row")
    val weights = engine.mixWeights(docs).collect()
    assert(math.abs(weights.map(_.getAs[Double]("p")).sum - 1.0) < 1e-4)
    val packed = engine.packSequences(docs, 512L)
    assert(packed.agg(org.apache.spark.sql.functions.sum("n_docs")).head.getLong(0)
      == docs.count(), "every doc lands in exactly one sequence")

    // shuffle + epoch sample + per-lang quality cut + tokenizer merges
    assert(engine.shuffleForTraining(docs, 4).select("shard").distinct().count() == 4)
    val sample = engine.sampleMix(docs, 10000L)
    assert(sample.count() > 0 && sample.count() < docs.count(),
      "epoch sample must keep a strict subset at T below corpus size")
    assert(engine.keepTopQualityPerLang(docs, 0.25).count() > 0)
    assert(engine.tokenizerMergeCandidates(docs, 10).count() == 10)

    // cluster-blocked near-dup through the index facade: every pair
    // co-resides in a cluster of the index it was generated from
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val idx = engine.buildIndex(emb, "facade-neardup", SparkEntry.NumClusters)
    val pairs = engine.similarityPairsIndexed(idx, 0.35)
    assert(pairs.count() > 0)
    val cluster = idx.vectors.select("vec_id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    pairs.collect().foreach { r =>
      assert(cluster(r.getLong(0)) == cluster(r.getLong(1)),
        "indexed near-dup pair crosses a cluster block")
    }
    engine.releaseCaches()
  }

  test("r5-close facade surface: binary codes, recall report, rerank, incremental dedup") {
    import org.apache.spark.sql.functions.col
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qv = graft.operators.KnnExact.queryVector(emb, 0L)

    // binary quantization: one code row per vector, self-query ranks first
    assert(engine.buildBinaryCodes(emb, 64).count() == emb.count())
    assert(engine.searchBinary(emb, qv, 5, 64).head().getLong(0) == 0L)

    // recall report: full probe must read 1.0 for every query
    val idx = engine.buildIndex(emb, "facade-recall", SparkEntry.NumClusters)
    val queries = emb.where(col("vec_id") < 2)
      .selectExpr("vec_id AS query_id", "embedding")
    val rec = engine.evaluateRecall(idx, emb, queries,
      10, SparkEntry.NumClusters).collect()
    assert(rec.length == 2 && rec.forall(_.getAs[Double]("recall") == 1.0))

    // cascade rerank returns candidates re-scored by cosine
    assert(engine.searchRerank(docs, emb,
      Seq("vector", "query", "dup"), qv, 5, 50).count() > 0)

    // incremental dedup: a fully-seen batch yields nothing new
    val seen = engine.exactDuplicates(docs).select("text_md5")
    assert(engine.deduplicateIncremental(docs, seen).count() == 0)

    // MinHash estimates bounded; length report's cumulative share ends at 1.0
    assert(engine.nearDuplicateEstimates(docs).collect()
      .forall(r => { val e = r.getAs[Double]("est_jaccard"); e >= 0.0 && e <= 1.0 }))
    assert(engine.lengthReport(docs).orderBy(col("bucket")).collect()
      .last.getAs[Double]("cum_share") == 1.0)
    engine.releaseCaches()
  }

  test("r6 facade surface: entropy, fluency, collocations, novelty, shard stream") {
    import org.apache.spark.sql.functions.col
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")

    // entropy bounded by ln(n_types); fluency ≤ 0 (log-probs)
    assert(engine.informationDensity(docs).collect().forall { r =>
      val h = r.getAs[Double]("entropy_nats")
      // h is 6-dp rounded, so it can sit up to 5e-7 above the exact bound
      h >= 0.0 && h <= math.log(r.getAs[Long]("n_types").toDouble) + 1e-6
    })
    assert(engine.fluencyScore(docs).collect()
      .forall(_.getAs[Double]("avg_logp") <= 1e-6))

    // collocations respect minCount; novelty ratios in [0, 1]
    assert(engine.collocations(docs, minCount = 3L, k = 20).collect()
      .forall(_.getAs[Long]("n") >= 3L))
    assert(engine.noveltyReport(docs).collect().forall { r =>
      val nv = r.getAs[Double]("novelty"); nv >= 0.0 && nv <= 1.0
    })

    // streaming shard assignment matches the batch md5 contract per row
    val assigned = engine.shardAssignStream(docs, 8) // stateless: batch-runnable
    val want = graft.operators.TrainingMix.shuffleShards(docs, 8).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned.collect().forall(r => want(r.getLong(0)) == r.getInt(2)))
    engine.releaseCaches()
  }

  test("HashEmbedder is deterministic and L2-normalized") {
    val e = HashEmbedder(64)
    val a = e.embed("spark table scan merge")
    val b = e.embed("spark table scan merge")
    assert(a.sameElements(b))
    val norm = math.sqrt(a.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
    assert(e.embed("").forall(_ == 0f), "empty text -> zero vector, no NaN")
  }

  test("r7 facade surface: bloom incremental dedup and key-skew diagnostic") {
    import org.apache.spark.sql.functions.col
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")

    // bloom form == plain form on a real split (identity is the contract)
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val seen = engine.exactDuplicates(hist).select("text_md5")
    val plain = engine.deduplicateIncremental(batch, seen)
      .orderBy("text_md5").collect().toSeq
    val bloom = engine.deduplicateIncrementalBloom(batch, seen)
      .orderBy("text_md5").collect().toSeq
    assert(bloom == plain, "bloom prefilter must not change results")

    // skew diagnostic: shares bounded, hot factor >= 1 by definition
    val skew = engine.keySkew(
      spark.read.parquet(s"$sf0001/events.parquet"), "user_id").head()
    assert(skew.getAs[Double]("hot_factor") >= 1.0)
    val share = skew.getAs[Double]("topk_share")
    assert(share > 0.0 && share <= 1.0)
    engine.releaseCaches()
  }

  test("r8: deduplicateIncremental auto-selects plain vs bloom on history size") {
    import org.apache.spark.sql.functions.col
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val seen = engine.exactDuplicates(hist).select("text_md5")
    val prevThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // history comfortably under a huge threshold -> plain broadcast form
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", (1L << 40).toString)
      assert(!engine.incrementalDedupChoice(seen), "small history must pick plain")
      val plain = engine.deduplicateIncremental(batch, seen)
        .orderBy("text_md5").collect().toSeq
      assert(spark.sparkContext.getLocalProperty("graft.incdedup.choice") == "plain")
      // 1-byte threshold: any real history exceeds it -> bloom form
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      assert(engine.incrementalDedupChoice(seen), "big history must pick bloom")
      val bloom = engine.deduplicateIncremental(batch, seen)
        .orderBy("text_md5").collect().toSeq
      assert(spark.sparkContext.getLocalProperty("graft.incdedup.choice") == "bloom")
      // broadcast disabled entirely (-1): the anti-join must shuffle, bloom wins
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      assert(engine.incrementalDedupChoice(seen), "-1 threshold must pick bloom")
      // the choice is pure cost: results identical either way
      assert(bloom == plain, "auto-selection must not change results")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThr)
    engine.releaseCaches()
  }

  test("r12 facade surface: span dedup and media (phash) dedup reports") {
    val engine = new GraftEngine(spark)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("lang"))
    val span = engine.spanDupReport(docs)
    assert(span.columns.toSeq ==
      Seq("doc_id", "n_windows", "n_dup_windows", "dup_share"))
    assert(span.count() > 0)
    val scrubbed = engine.scrubSpans(docs)
    assert(scrubbed.columns.contains("n_removed") && scrubbed.count() > 0)
    engine.releaseCaches()
    val sk = engine.frameSketches(docs)
    assert(sk.columns.toSeq ==
      Seq("doc_id", "frame_no", "ahash", "dhash", "lang"))
    val media = engine.mediaDupReport(docs)
    assert(media.columns.toSeq ==
      Seq("doc_id", "n_frames", "n_dup_frames", "dup_frame_share"))
    assert(media.count() == docs.count(), "one media row per doc")
    engine.releaseCaches()
    // incremental form agrees with the facade's full report on the batch
    import org.apache.spark.sql.functions.col
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val inc = engine.mediaDupReportIncremental(batch, engine.frameSketches(hist))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    engine.releaseCaches()
    val full = engine.mediaDupReport(docs).where(col("doc_id") % 5 === 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(inc == full, "facade incremental must match full on batch docs")
    engine.releaseCaches()
  }

  test("r13 facade surface: incremental clustering + versioned-root lifecycle") {
    import org.apache.spark.sql.functions.col
    val engine = new GraftEngine(spark, workDir = "target/facade-r13")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    // sixth incremental modality through the facade ≡ full recompute
    val inc = engine.nearDupClustersIncremental(batch,
        graft.operators.Dedup.shingleSetsOf(hist),
        engine.nearDupClusters(hist))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    engine.releaseCaches()
    val full = engine.nearDupClusters(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full, s"facade incremental clustering diverged " +
      s"(${inc.size} vs ${full.size})")
    engine.releaseCaches()
    // versioned-root lifecycle: publish → openLatest → rotate → GC
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val v1 = engine.buildIndex(emb.where(col("vec_id") % 2 === 0), "gc/v1",
      numClusters = 4)
    engine.publishIndex("gc", v1)
    assert(engine.openLatest("gc").vectors.count() == v1.vectors.count())
    val v2 = engine.buildIndex(emb, "gc/v2", numClusters = 4)
    engine.publishIndex("gc", v2)
    val reclaimed = engine.gcIndexVersions("gc", keep = 0)
    assert(reclaimed.exists(_.endsWith("/v1")), s"v1 must be reclaimed: $reclaimed")
    assert(engine.openLatest("gc").vectors.count() == emb.count())
  }
}
