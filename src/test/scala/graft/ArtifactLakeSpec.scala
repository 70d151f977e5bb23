package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{Artifact, FrameSketchLake, VerifiedPairs}

/** Rebuild + content-parity drill for the r16 full-corpus lake artifacts
  * (VerifiedPairs, FrameSketchLake) — the [[IncrementalDrillSpec]] posture
  * for the per-corpus-version (non-append) artifact class: what a query
  * reads off the parquet artifact must be row-identical to the direct
  * in-session computation, and a deleted artifact must rebuild from source
  * on the next read (the driver wipes target/ every round, so the rebuild
  * path IS the production path). */
class ArtifactLakeSpec extends SparkSpec {

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  private def rm(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rm)
    f.delete()
  }

  test("VerifiedPairs artifact == direct ngramJaccardPairs; rebuilds after delete") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = rows(graft.operators.Dedup.ngramJaccardPairs(docs, 0.5))
    graft.CacheRegistry.release()
    Artifact.reset()
    val art = rows(VerifiedPairs.forSfDir(spark, sf0001, 0.5))
    graft.CacheRegistry.release()
    assert(art == direct, s"artifact diverged: ${art.size} vs ${direct.size}")
    assert(art.nonEmpty)
    // delete the on-disk table + drop the memo: next read must rebuild
    // from source, not die on the missing path
    val dir = new java.io.File("target/pair-table")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(VerifiedPairs.forSfDir(spark, sf0001, 0.5))
    graft.CacheRegistry.release()
    assert(rebuilt == direct, "rebuild after delete diverged")
  }

  test("FrameSketchLake artifacts == direct sketch/quotient; classes derive from sketches") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val directSk = rows(
      graft.multimodal.Multimodal.phashFrames(docs, carry = Seq("lang")))
    graft.CacheRegistry.release()
    Artifact.reset()
    val artSk = rows(FrameSketchLake.sketches(spark, sf0001))
    assert(artSk == directSk, s"sketch artifact diverged: ${artSk.size} vs ${directSk.size}")
    val artCls = FrameSketchLake.classes(spark, sf0001)
    // the quotient artifact must be the quotient OF the sketch artifact
    val directCls = rows(graft.multimodal.Multimodal.sketchClasses(
      FrameSketchLake.sketches(spark, sf0001)))
    assert(rows(artCls) == directCls, "class quotient diverged")
    graft.CacheRegistry.release()
  }

  test("SpanWindowLake artifacts == direct window set/dup view; rebuilds after delete") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val directWin = rows(graft.operators.Dedup.spanWindowSet(docs))
    graft.CacheRegistry.release()
    Artifact.reset()
    val artWin = rows(graft.sources.SpanWindowLake.windows(spark, sf0001))
    assert(artWin == directWin,
      s"window artifact diverged: ${artWin.size} vs ${directWin.size}")
    // the dup view must be the ≥2-distinct-docs rollup OF the window artifact
    val directDup = rows(graft.sources.SpanWindowLake.windows(spark, sf0001)
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select(col("wh")))
    assert(rows(graft.sources.SpanWindowLake.dupHashes(spark, sf0001)) == directDup,
      "dup-hash view diverged")
    graft.CacheRegistry.release()
    // delete + reset: next read must rebuild from source
    val dir = new java.io.File("target/span-lake")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(graft.sources.SpanWindowLake.windows(spark, sf0001))
    graft.CacheRegistry.release()
    assert(rebuilt == directWin, "rebuild after delete diverged")
  }

  test("BigramLmLake artifacts: prebuilt == plain; views derive from perDoc; rebuilds; pin refuses") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = rows(graft.operators.TextAnalysis.bigramLogprob(docs))
    graft.CacheRegistry.release()
    Artifact.reset()
    val pd = graft.sources.BigramLmLake.perDoc(spark, sf0001)
    val bc = graft.sources.BigramLmLake.counts(spark, sf0001)
    val lm = graft.sources.BigramLmLake.marginals(spark, sf0001)
    // the serving form over the artifacts == the in-query form
    val served = rows(graft.operators.TextAnalysis
      .bigramLogprobPrebuilt(docs, pd, bc, lm))
    assert(served == direct,
      s"prebuilt diverged: ${served.size} vs ${direct.size}")
    assert(served.nonEmpty)
    // the derived views must be rollups OF the perDoc artifact
    assert(rows(bc) == rows(pd.groupBy(col("bh")).agg(sum(col("c")).as("b"))),
      "counts view diverged from perDoc rollup")
    assert(rows(lm) == rows(pd.groupBy(col("xh")).agg(sum(col("c")).as("lx"))),
      "marginals view diverged from perDoc rollup")
    graft.CacheRegistry.release()
    // identity pin (always-on): a different corpus frame fails loudly
    val ex = intercept[IllegalArgumentException](
      graft.operators.TextAnalysis.bigramLogprobPrebuilt(
        docs.where(col("doc_id") % 3 === 0), pd, bc, lm))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    // delete + reset: next read must rebuild from source
    val dir = new java.io.File("target/bigram-lake")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(graft.operators.TextAnalysis.bigramLogprobPrebuilt(docs,
      graft.sources.BigramLmLake.perDoc(spark, sf0001),
      graft.sources.BigramLmLake.counts(spark, sf0001),
      graft.sources.BigramLmLake.marginals(spark, sf0001)))
    graft.CacheRegistry.release()
    assert(rebuilt == direct, "rebuild after delete diverged")
  }

  test("bucketed LM sinks: content == parquet sink; pin survives catalog; fold needs no exchange") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    // content identity: the bucketed layout is the SAME frame re-laid-out
    Artifact.reset()
    val pd = graft.sources.BigramLmLake.perDoc(spark, sf0001)
    val pdB = graft.sources.BigramLmLake.perDocBucketed(spark, sf0001)
    assert(rows(pdB) == rows(pd), "bucketed bigram sink diverged from parquet sink")
    // the corpus pin must survive the saveAsTable round-trip — a stripped
    // stamp would silently disable the always-on identity check
    val f = pdB.schema.fields.find(_.name == "bh").get
    assert(f.metadata.contains(graft.operators.Dedup.CorpusCountKey) &&
      f.metadata.contains(graft.operators.Dedup.CorpusXorKey),
      "corpus pin stamp lost through the catalog")
    val ex = intercept[IllegalArgumentException](
      graft.operators.TextAnalysis.bigramLogprobPrebuilt(
        docs.where(col("doc_id") % 3 === 0), pdB,
        graft.sources.BigramLmLake.counts(spark, sf0001),
        graft.sources.BigramLmLake.marginals(spark, sf0001)))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    // the 100 TB point: with the bucketed sink + broadcast count sides, the
    // serving query's fold runs WITHOUT a shuffle — the executed plan of the
    // un-sorted serving form must contain no Exchange at all
    val served = graft.operators.TextAnalysis.bigramLogprobPrebuilt(docs, pdB,
      graft.sources.BigramLmLake.counts(spark, sf0001),
      graft.sources.BigramLmLake.marginals(spark, sf0001))
    served.write.format("noop").mode("overwrite").save()
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(doc_id"),
      s"doc_id exchange survived the bucketed sink:\n$plan")
    // unigram twin: same three properties
    Artifact.reset()
    val upd = graft.sources.UnigramLmLake.perDoc(spark, sf0001)
    val updB = graft.sources.UnigramLmLake.perDocBucketed(spark, sf0001)
    assert(rows(updB) == rows(upd), "bucketed unigram sink diverged")
    val uf = updB.schema.fields.find(_.name == "th").get
    assert(uf.metadata.contains(graft.operators.Dedup.CorpusCountKey),
      "unigram corpus pin stamp lost through the catalog")
    val useved = graft.operators.TextAnalysis.unigramLogprobPrebuilt(docs, updB,
      graft.sources.UnigramLmLake.tf(spark, sf0001),
      graft.sources.UnigramLmLake.totals(spark, sf0001))
    useved.write.format("noop").mode("overwrite").save()
    val uplan = useved.queryExecution.executedPlan.toString
    assert(!uplan.contains("Exchange hashpartitioning(doc_id"),
      s"doc_id exchange survived the bucketed unigram sink:\n$uplan")
    graft.CacheRegistry.release()
  }

  test("UnigramLmLake artifacts: prebuilt == plain; views derive from perDoc; rebuilds; pin refuses") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = rows(graft.operators.TextAnalysis.unigramLogprob(docs))
    graft.CacheRegistry.release()
    Artifact.reset()
    val pd = graft.sources.UnigramLmLake.perDoc(spark, sf0001)
    val tf = graft.sources.UnigramLmLake.tf(spark, sf0001)
    val tot = graft.sources.UnigramLmLake.totals(spark, sf0001)
    // the serving form over the artifacts == the in-query form
    val served = rows(graft.operators.TextAnalysis
      .unigramLogprobPrebuilt(docs, pd, tf, tot))
    assert(served == direct,
      s"prebuilt diverged: ${served.size} vs ${direct.size}")
    assert(served.nonEmpty)
    // the derived views must be rollups OF the perDoc artifact
    assert(rows(tf) == rows(pd.groupBy(col("th")).agg(sum(col("c")).as("n"))),
      "tf view diverged from perDoc rollup")
    assert(rows(tot) == rows(tf.agg(sum(col("n")).as("total"))),
      "totals view diverged from tf rollup")
    graft.CacheRegistry.release()
    // identity pin (always-on): a different corpus frame fails loudly
    val ex = intercept[IllegalArgumentException](
      graft.operators.TextAnalysis.unigramLogprobPrebuilt(
        docs.where(col("doc_id") % 3 === 0), pd, tf, tot))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    // delete + reset: next read must rebuild from source
    val dir = new java.io.File("target/unigram-lake")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(graft.operators.TextAnalysis.unigramLogprobPrebuilt(docs,
      graft.sources.UnigramLmLake.perDoc(spark, sf0001),
      graft.sources.UnigramLmLake.tf(spark, sf0001),
      graft.sources.UnigramLmLake.totals(spark, sf0001)))
    graft.CacheRegistry.release()
    assert(rebuilt == direct, "rebuild after delete diverged")
  }

  test("NgramPostingLake artifacts: prebuilt == plain; dfStats derives from sets; rebuilds; pin refuses") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = rows(graft.operators.Dedup.ngramNovelty(docs))
    graft.CacheRegistry.release()
    Artifact.reset()
    val sets = graft.sources.NgramPostingLake.sets(spark, sf0001)
    val dfs = graft.sources.NgramPostingLake.dfStats(spark, sf0001)
    // the serving form over the artifacts == the in-query form
    val served = rows(graft.operators.Dedup.ngramNoveltyPrebuilt(docs, sets, dfs))
    assert(served == direct,
      s"prebuilt diverged: ${served.size} vs ${direct.size}")
    assert(served.nonEmpty)
    // the df view must be the (lang, s) rollup OF the sets artifact
    assert(rows(dfs) == rows(sets
        .select(col("lang"), explode(col("sh")).as("s"))
        .groupBy(col("lang"), col("s")).agg(count(lit(1)).as("df"))),
      "dfStats view diverged from sets rollup")
    graft.CacheRegistry.release()
    // identity pin (always-on): a different corpus frame fails loudly
    val ex = intercept[IllegalArgumentException](
      graft.operators.Dedup.ngramNoveltyPrebuilt(
        docs.where(col("doc_id") % 3 === 0), sets, dfs))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    // delete + reset: next read must rebuild from source
    val dir = new java.io.File("target/ngram-lake")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(graft.operators.Dedup.ngramNoveltyPrebuilt(docs,
      graft.sources.NgramPostingLake.sets(spark, sf0001),
      graft.sources.NgramPostingLake.dfStats(spark, sf0001)))
    graft.CacheRegistry.release()
    assert(rebuilt == direct, "rebuild after delete diverged")
  }

  test("VocabLake artifact: serving forms == plain; rebuilds after delete; pin refuses") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val k = graft.operators.TextAnalysis.OovVocabK
    val directOov = rows(graft.operators.TextAnalysis.oovRate(docs, k))
    val directEnc = rows(graft.operators.TextAnalysis.encodeTokens(docs, k))
    Artifact.reset()
    val v = graft.sources.VocabLake.topK(spark, sf0001, k)
    // the artifact IS the vocabulary() output
    assert(rows(v) == rows(graft.operators.TextAnalysis.vocabulary(docs, k)),
      "vocab artifact diverged from direct vocabulary()")
    assert(rows(graft.operators.TextAnalysis.oovRateWithVocab(docs, v)) == directOov,
      "oov serving form diverged")
    assert(rows(graft.operators.TextAnalysis.encodeTokensWithVocab(docs, v)) == directEnc,
      "encode serving form diverged")
    // identity pin (always-on): a different corpus frame fails loudly
    val ex = intercept[IllegalArgumentException](
      graft.operators.TextAnalysis.oovRateWithVocab(
        docs.where(col("doc_id") % 3 === 0), v))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    // delete + reset: next read must rebuild from source
    val dir = new java.io.File("target/vocab-lake")
    if (dir.exists()) rm(dir)
    Artifact.reset()
    val rebuilt = rows(graft.operators.TextAnalysis.oovRateWithVocab(docs,
      graft.sources.VocabLake.topK(spark, sf0001, k)))
    assert(rebuilt == directOov, "rebuild after delete diverged")
    graft.CacheRegistry.release()
  }

  test("ShinglePostingLake artifacts: prebuilt == plain; views derive from postings; pins refuse") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val direct = rows(graft.operators.Dedup.benchmarkContamination(docs))
    graft.CacheRegistry.release()
    Artifact.reset()
    val post = graft.sources.ShinglePostingLake.postings(spark, sf0001)
    val cls = graft.sources.ShinglePostingLake.testClasses(spark, sf0001)
    val mem = graft.sources.ShinglePostingLake.testShingles(spark, sf0001)
    val served = rows(graft.operators.Dedup
      .benchmarkContaminationPrebuilt(docs, post, cls, mem))
    graft.CacheRegistry.release()
    assert(served == direct,
      s"prebuilt diverged: ${served.size} vs ${direct.size}")
    assert(served.nonEmpty)
    // the class view must be the quotient OF the posting artifact's test
    // partition, and the membership set its distinct shingles
    assert(rows(cls) ==
      rows(graft.operators.Dedup.testClassesFromPostings(post)),
      "class view diverged from posting rollup")
    assert(rows(mem) == rows(cls.select(col("s")).distinct()),
      "membership set diverged from class view")
    // split-partitioned layout: the train scan must prune directories
    val trainPlan = post.where(col("split") === "train")
      .queryExecution.executedPlan.toString
    assert(trainPlan.contains("PartitionFilters"), trainPlan.take(500))
    // identity pin (always-on): a different corpus frame fails loudly
    val ex = intercept[IllegalArgumentException](
      graft.operators.Dedup.benchmarkContaminationPrebuilt(
        docs.where(col("doc_id") % 3 === 0), post, cls, mem))
    assert(ex.getMessage.contains("different corpus"), ex.getMessage)
    graft.CacheRegistry.release()
  }

  test("span-lake artifacts refuse a probe with a different corpus (debug-gated)") {
    // the corpus-identity pin, span edition (r18): windows/dupHashes cover
    // ONE corpus; probing them with a different documents frame silently
    // under- or phantom-counts duplication
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val win = graft.sources.SpanWindowLake.windows(spark, sf0001)
    val dup = graft.sources.SpanWindowLake.dupHashes(spark, sf0001)
    System.setProperty(graft.operators.Dedup.DebugAssertSpanCorpusProp, "true")
    try {
      // the matching corpus passes, both forms
      graft.operators.Dedup.dupSpanSharePrebuilt(docs, win, dup).collect()
      graft.CacheRegistry.release()
      graft.operators.Dedup.scrubDupSpansPrebuilt(docs, win, dup).collect()
      graft.CacheRegistry.release()
      // a different frame (here: a filtered corpus) fails loudly
      val ex = intercept[IllegalArgumentException](
        graft.operators.Dedup.dupSpanSharePrebuilt(
          docs.where(col("doc_id") % 2 === 0), win, dup))
      assert(ex.getMessage.contains("different corpus"), ex.getMessage)
      val ex2 = intercept[IllegalArgumentException](
        graft.operators.Dedup.scrubDupSpansPrebuilt(
          docs.limit(0), win, dup))
      assert(ex2.getMessage.contains("different corpus"), ex2.getMessage)
    } finally {
      System.clearProperty(graft.operators.Dedup.DebugAssertSpanCorpusProp)
      graft.CacheRegistry.release()
    }
    // an in-session window set carries no signature — the check skips
    val inSession = graft.operators.Dedup.spanWindowSet(docs)
    System.setProperty(graft.operators.Dedup.DebugAssertSpanCorpusProp, "true")
    try graft.operators.Dedup.dupSpanSharePrebuilt(
      docs.where(col("doc_id") % 2 === 0), inSession, dup).collect()
    finally {
      System.clearProperty(graft.operators.Dedup.DebugAssertSpanCorpusProp)
      graft.CacheRegistry.release()
    }
  }

  test("identity pins are always-on (ADVICE r18): mismatches fail without the debug prop") {
    // the r18 pins were debug-gated only — a production serving query with a
    // mismatched frame still under-counted silently. CorpusPin makes the
    // check always-on (memoized per (stamp, frame plan) per JVM), so the
    // SAME mismatches fail with the property cleared.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val win = graft.sources.SpanWindowLake.windows(spark, sf0001)
    val dup = graft.sources.SpanWindowLake.dupHashes(spark, sf0001)
    assert(sys.props.get(graft.operators.Dedup.DebugAssertSpanCorpusProp).isEmpty)
    try {
      val ex = intercept[IllegalArgumentException](
        graft.operators.Dedup.dupSpanSharePrebuilt(
          docs.where(col("doc_id") % 2 === 1), win, dup))
      assert(ex.getMessage.contains("different corpus"), ex.getMessage)
      // a matching probe verifies once and memoizes: the second call must
      // not re-run the signature aggregate (observable as: the verdict
      // survives even if the pin memo is the only thing consulted — pinned
      // indirectly by both calls succeeding after one reset)
      graft.operators.CorpusPin.reset()
      graft.operators.CorpusPin.check(docs, win, "prewarm")
      graft.operators.Dedup.dupSpanSharePrebuilt(docs, win, dup).collect()
      graft.CacheRegistry.release()
      // media edition: a foreign batch fails with the prop cleared too
      val mdocs = docs.select(col("doc_id"), col("text"), col("lang"))
      val merged = graft.sources.IncrementalHistory.phashClassesMerged(spark, sf0001)
      val histSk = graft.sources.IncrementalHistory.phashSketches(spark, sf0001)
      assert(sys.props.get(graft.multimodal.Multimodal.DebugAssertDisjointProp).isEmpty)
      val ex2 = intercept[IllegalArgumentException](
        graft.multimodal.Multimodal.frameDupShareIncrementalPrebuilt(
          graft.sources.IncrementalHistory.historyDocs(mdocs), histSk, merged))
      assert(ex2.getMessage.contains("different batch"), ex2.getMessage)
    } finally graft.CacheRegistry.release()
  }

  test("dupSpanSharePrebuilt dedupes a non-distinct dup side (ADVICE r18)") {
    // public-API robustness: a caller passing a non-distinct dup-hash frame
    // must get the same counts as with the distinct view — the left join
    // must not fan out and silently inflate n_dup_windows
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val win = graft.sources.SpanWindowLake.windows(spark, sf0001)
    val dup = graft.sources.SpanWindowLake.dupHashes(spark, sf0001)
    val want = rows(graft.operators.Dedup.dupSpanSharePrebuilt(docs, win, dup))
    graft.CacheRegistry.release()
    val got = rows(graft.operators.Dedup.dupSpanSharePrebuilt(
      docs, win, dup.unionByName(dup))) // every dup hash twice
    graft.CacheRegistry.release()
    assert(got == want, s"non-distinct dup side changed the result: " +
      s"${got.size} vs ${want.size} rows")
    assert(want.nonEmpty)
  }

  test("phashClassesMerged artifact == full-corpus quotient (history ∪ batch)") {
    // the post-ingest quotient the r18 serving form reads: the flip merge
    // of the batch quotient into the history quotient must equal the plain
    // groupBy quotient over ALL docs — the strongest statement of the
    // disjoint-merge contract, through the real artifact path
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val want = rows(graft.multimodal.Multimodal.sketchClasses(
      graft.multimodal.Multimodal.phashFrames(docs, carry = Seq("lang"))))
    graft.CacheRegistry.release()
    val got = rows(graft.sources.IncrementalHistory
      .phashClassesMerged(spark, sf0001))
    graft.CacheRegistry.release()
    assert(got == want,
      s"merged quotient diverged from full-corpus quotient: " +
        s"${got.size} vs ${want.size} classes")
    assert(got.nonEmpty)
  }

  test("phashClassesMerged refuses a probe with a different batch (debug-gated)") {
    // the τ-pin move, media edition (r18): the merged quotient bakes ONE
    // batch in; probing it with another batch silently under-counts that
    // batch's dup shares. The artifact stamps its batch signature (count +
    // doc_id xor) in schema metadata, and the serving form's debug
    // assertion verifies identity.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val merged = graft.sources.IncrementalHistory.phashClassesMerged(spark, sf0001)
    val rightBatch = graft.sources.IncrementalHistory.batchDocs(docs)
    val histSk = graft.sources.IncrementalHistory.phashSketches(spark, sf0001)
    System.setProperty(graft.multimodal.Multimodal.DebugAssertDisjointProp, "true")
    try {
      // the canonical batch passes (and the disjointness check runs too)
      graft.multimodal.Multimodal.frameDupShareIncrementalPrebuilt(
        rightBatch, histSk, merged).collect()
      graft.CacheRegistry.release()
      // a foreign batch (the history slice) must fail LOUDLY, before the
      // disjointness check can even look at it
      val ex = intercept[IllegalArgumentException](
        graft.multimodal.Multimodal.frameDupShareIncrementalPrebuilt(
          graft.sources.IncrementalHistory.historyDocs(docs), histSk, merged))
      assert(ex.getMessage.contains("different batch"), ex.getMessage)
    } finally {
      System.clearProperty(graft.multimodal.Multimodal.DebugAssertDisjointProp)
      graft.CacheRegistry.release()
    }
    // without metadata (an in-session quotient) the check skips — the
    // drill's derive-and-chain path stays usable under the debug property
    val inSession = graft.multimodal.Multimodal.sketchClasses(
      graft.multimodal.Multimodal.phashFrames(docs, carry = Seq("lang")))
    System.setProperty(graft.multimodal.Multimodal.DebugAssertDisjointProp, "true")
    try {
      graft.multimodal.Multimodal.frameDupShareIncrementalPrebuilt(
        rightBatch, histSk, inSession).collect()
    } finally {
      System.clearProperty(graft.multimodal.Multimodal.DebugAssertDisjointProp)
      graft.CacheRegistry.release()
    }
  }

  test("Artifact: two concurrent first readers run the build once and share its dir") {
    // the lakes' memo must hold the overwrite write to one run per JVM — a
    // bare TrieMap.getOrElseUpdate evaluates its builder outside any lock,
    // so two first readers could interleave two writes into one directory
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val art = Artifact("artifact-spec", s"once-${System.nanoTime()}") { (_, _, _) =>
      builds.incrementAndGet()
      Thread.sleep(500)
    }
    val go = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val reads = (1 to 2).map(_ => pool.submit(
        new java.util.concurrent.Callable[String] {
          def call(): String = { go.await(); art.path(spark, sf0001) }
        }))
      go.countDown()
      val dirs = reads.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(builds.get == 1, s"build ran ${builds.get} times")
      assert(dirs.toSet == Set(art.dirFor(sf0001)), dirs.toString)
    } finally pool.shutdown()
  }

  test("Artifact.reset: the next read of every lake rebuilds it") {
    // one reset for every lake, IncrementalHistory included: each rebuild is
    // a new write job, so none of the re-read files may be a pre-reset one
    val k = graft.operators.TextAnalysis.OovVocabK
    val lakes: Seq[(String, () => DataFrame)] = Seq(
      "VerifiedPairs" -> (() => VerifiedPairs.forSfDir(spark, sf0001, 0.5)),
      "FrameSketchLake" -> (() => FrameSketchLake.sketches(spark, sf0001)),
      "SpanWindowLake" -> (() => graft.sources.SpanWindowLake.windows(spark, sf0001)),
      "BigramLmLake" -> (() => graft.sources.BigramLmLake.perDoc(spark, sf0001)),
      "UnigramLmLake" -> (() => graft.sources.UnigramLmLake.perDoc(spark, sf0001)),
      "NgramPostingLake" -> (() => graft.sources.NgramPostingLake.sets(spark, sf0001)),
      "ShinglePostingLake" ->
        (() => graft.sources.ShinglePostingLake.postings(spark, sf0001)),
      "VocabLake" -> (() => graft.sources.VocabLake.topK(spark, sf0001, k)),
      "IncrementalHistory" ->
        (() => graft.sources.IncrementalHistory.seenHashes(spark, sf0001)),
      "ScrubbedLake" -> (() => graft.sources.ScrubbedLake.documents(spark, sf0001)),
      "SortedLake" -> (() => graft.sources.SortedLake.events(spark, sf0001)))
    try {
      val before = lakes.map { case (_, read) => read().inputFiles.toSet }
      Artifact.reset()
      lakes.zip(before).foreach { case ((name, read), old) =>
        val now = read().inputFiles.toSet
        assert(now.nonEmpty && now.intersect(old).isEmpty,
          s"$name served pre-reset files after reset")
      }
    } finally graft.CacheRegistry.release()
  }
}
