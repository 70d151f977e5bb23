package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.functions.{Embedder, GraftFunctions}
import graft.operators.{Bpe, BqQuant, Dedup, IvfIndex, KnnExact, LshAnn, PqQuant, Relational, Retrieval, SqQuant, TextAnalysis, TrainingMix}

/** User-facing facade — the engine's API surface replacing the reference's CLI
  * (SURVEY §2 A20: `--n_probe`, fixed k=5, query `.bin` path, and the
  * GPU-kernel flags; the kernel/threads flags select physically identical
  * computations (A7–A9) and have no Spark analog — Catalyst/Tungsten own the
  * physical mapping). A reference user's workflow maps 1:1:
  *
  *   embedding.py  → [[embed]] (A2 boundary, pluggable model)
  *   clusters.py   → [[buildIndex]] (K-means + partitioned inverted file)
  *   ./IVF --n_probe P → [[search]] / [[searchText]] (coarse→pruned fine→top-k)
  *   result print  → returned DataFrame joined to documents ([[searchDocs]])
  */
final class GraftEngine(val spark: SparkSession,
    workDir: String = "target/graft-engine") {

  GraftFunctions.register(spark)

  /** Offline embed: text corpus → (id, embedding) via the pluggable model
    * boundary. */
  def embed(documents: DataFrame, embedder: Embedder,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    Embedder.encode(spark, documents, idCol, textCol, embedder)

  /** Offline index build (reference `clusters.py`: k=128 seed=42 defaults). */
  def buildIndex(embeddings: DataFrame, name: String,
      numClusters: Int = 128, seed: Long = 42L): IvfIndex =
    IvfIndex.build(spark, embeddings, s"$workDir/$name", numClusters, seed)

  def openIndex(name: String): IvfIndex =
    IvfIndex.load(spark, s"$workDir/$name")

  /** Versioned serving-root lifecycle (the 24/7 ops loop the drill
    * exercises end-to-end): publish a built version behind the atomic
    * LATEST pointer, open whatever the pointer currently names, and bound
    * the root's storage by reclaiming superseded versions (`keep` rollback
    * targets retained; the serving copy is never touched). Daily ingest
    * lives on the index itself ([[IvfIndex.mergeSegment]] /
    * [[IvfIndex.maintain]]); a rebuild or an [[IvfIndex.compact]] writes a
    * new version that `publishIndex` cuts over to. */
  def publishIndex(rootName: String, index: IvfIndex): Unit =
    IvfIndex.publishLatest(spark, s"$workDir/$rootName", index.indexDir)
  def openLatest(rootName: String): IvfIndex =
    IvfIndex.loadLatest(spark, s"$workDir/$rootName")
  def gcIndexVersions(rootName: String, keep: Int = 1): Seq[String] =
    IvfIndex.gcVersions(spark, s"$workDir/$rootName", keep)

  /** Exact k-NN (reference nProbe=128 mode). */
  def knnExact(embeddings: DataFrame, query: Array[Float], k: Int = 5): DataFrame =
    KnnExact.topK(embeddings, query, k)

  /** IVF search (reference defaults: k=5, nProbe=20 — IVF.cpp:549,679). */
  def search(index: IvfIndex, query: Array[Float], k: Int = 5,
      nProbe: Int = 20): DataFrame =
    index.search(query, k, nProbe)

  /** Text-in, top-k-out: embed the query with the same model boundary, then
    * IVF search — the reference's test.py → convert → ./IVF pipeline in one
    * call. */
  def searchText(index: IvfIndex, embedder: Embedder, queryText: String,
      k: Int = 5, nProbe: Int = 20): DataFrame =
    search(index, embedder.embed(queryText), k, nProbe)

  /** Doc fetch (reference mapBack, IVF.cpp:44-119): top-k ids → text, with
    * the substring projection (IVF.cpp:697-699). A point lookup, not a join:
    * the ≤ k result rows are collected once, the documents scan reads only
    * `doc_id IN (ids)` (pushed to the parquet row groups) with the snippet
    * projected inside it, and the k rows are joined and ordered on the
    * driver — one job, no exchange. Returns a local frame
    * `(vec_id, sim, snippet)` with inner-join semantics (a hit without a
    * document is dropped; a duplicated doc_id yields one row per copy),
    * ordered sim DESC, vec_id ASC. */
  def searchDocs(results: DataFrame, documents: DataFrame,
      snippetLen: Int = 200): DataFrame = {
    val hits = results.select(col("vec_id").cast("long"), col("sim").cast("double"))
      .collect().filterNot(_.isNullAt(0))
    val ids = hits.map(_.getLong(0)).distinct.toSeq
    val snippets =
      if (ids.isEmpty) Map.empty[Long, Array[String]]
      else documents.where(col("doc_id").isin(ids: _*))
        .select(col("doc_id").cast("long"), substring(col("text"), 1, snippetLen))
        .collect()
        .groupMap(_.getLong(0))(_.getString(1))
    val rows = hits
      .flatMap(h => snippets.getOrElse(h.getLong(0), Array.empty[String])
        .map(t => Row(h.get(0), h.get(1), t)))
      .sortBy(r => (r.isNullAt(1), if (r.isNullAt(1)) 0.0 else r.getDouble(1), r.getLong(0)))(
        Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering.reverse, Ordering.Long))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("vec_id", LongType), StructField("sim", DoubleType),
      StructField("snippet", StringType))))
  }

  /** Filtered ANN: [[search]] with a metadata predicate pushed inside the
    * pruned scan (pre-filter semantics — always k results when the filtered
    * neighborhood has them, never a thinned post-filter list). */
  def searchFiltered(index: IvfIndex, query: Array[Float],
      predicate: org.apache.spark.sql.Column, k: Int = 5,
      nProbe: Int = 4): DataFrame =
    index.searchFiltered(query, k, nProbe, predicate)

  /** Batched IVF serving: one pruned union scan for a whole query table
    * (`query_id, embedding`), per-query bounded-heap top-k. */
  def searchBatch(index: IvfIndex, queries: DataFrame, k: Int = 5,
      nProbe: Int = 20): DataFrame =
    index.searchBatch(queries, k, nProbe)

  /** LSH-bucketed ANN (random-hyperplane multiprobe) over a flat scan. */
  def searchLsh(embeddings: DataFrame, query: Array[Float], k: Int = 5,
      dim: Int = 384): DataFrame =
    LshAnn.search(embeddings, query, k, dim)

  /** Materialize the bucket-partitioned LSH index layout — the serving path
    * at 100 TB (a [[searchLshIndexed]] probe scan reads only
    * (NumBits+1)/2^NumBits of it via PartitionFilters). Returns the index
    * path. No model artifact: the hyperplanes are deterministic. */
  def buildLshIndex(embeddings: DataFrame, name: String, dim: Int = 384): String = {
    val dir = s"$workDir/lsh-$name"
    LshAnn.buildIndex(embeddings, dim, dir)
    dir
  }

  /** Multiprobe search over a [[buildLshIndex]] layout (partition-pruned). */
  def searchLshIndexed(indexDir: String, query: Array[Float], k: Int = 5,
      dim: Int = 384): DataFrame =
    LshAnn.searchIndexed(spark, indexDir, query, k, dim)

  /** Train the SQ8 codebook (per-dimension min/max) ONCE — the persisted-
    * artifact input to [[searchQuantized]], like [[buildPq]]'s codebook. */
  def buildSq8(embeddings: DataFrame, dim: Int): (Array[Double], Array[Double]) =
    SqQuant.stats(embeddings, dim)

  /** int8-quantized approximate search (4× smaller scanned bytes). Pass the
    * `codebook` from [[buildSq8]] to scan with literal stats — omitting it
    * re-aggregates the corpus per call for the per-dimension min/max
    * (convenience only; a full extra scan at 100 TB). */
  def searchQuantized(embeddings: DataFrame, query: Array[Float], k: Int = 5,
      dim: Int = 384,
      codebook: Option[(Array[Double], Array[Double])] = None): DataFrame =
    SqQuant.search(embeddings, query, k, dim, codebook)

  /** Train a product quantizer + encode the corpus (PQ — up to 32× smaller
    * scanned bytes; pair with [[searchPq]]). */
  def buildPq(embeddings: DataFrame, dim: Int): (PqQuant.Model, DataFrame) = {
    val model = PqQuant.train(embeddings, dim)
    (model, PqQuant.encode(spark, embeddings, model))
  }

  /** ADC search over a PQ-encoded table. */
  def searchPq(codes: DataFrame, model: PqQuant.Model, query: Array[Float],
      k: Int = 5): DataFrame =
    PqQuant.search(codes, model, query, k)

  /** Binary (sign-bit) code table — 8 bytes/row, no codebook to manage
    * (pair with [[searchBinary]]). */
  def buildBinaryCodes(embeddings: DataFrame, dim: Int): DataFrame =
    BqQuant.codes(embeddings, dim)

  /** Hamming top-k over binary sign-bit codes (XOR+POPCNT scan — the most
    * aggressive compression point next to [[searchQuantized]]/[[searchPq]]).
    * `dim` has no default on purpose: the two-word packing supports exactly
    * 64 dims, so inheriting the facade-wide 384 default would always throw. */
  def searchBinary(embeddings: DataFrame, query: Array[Float], k: Int,
      dim: Int): DataFrame =
    BqQuant.search(embeddings, query, k, dim)

  /** Recall@k of the probed IVF search vs exact brute force per query — the
    * nProbe tuning report (run on a held-out query batch before deployment). */
  def evaluateRecall(index: IvfIndex, embeddings: DataFrame,
      queries: DataFrame, k: Int = 10, nProbe: Int = 4): DataFrame =
    index.recallAtK(embeddings, queries, k, nProbe)

  /** BM25 keyword top-k (lexical retrieval). */
  def searchKeywords(documents: DataFrame, terms: Seq[String], k: Int = 5): DataFrame =
    Retrieval.bm25TopK(documents, terms, k)

  /** Hybrid retrieval: reciprocal-rank fusion of BM25 + exact cosine k-NN. */
  def searchHybrid(documents: DataFrame, embeddings: DataFrame,
      terms: Seq[String], query: Array[Float], k: Int = 5,
      depth: Int = 50): DataFrame =
    Retrieval.hybridRrf(documents, embeddings, terms, query, k, depth)

  /** Two-stage cascade: BM25 recall (n candidates) re-scored by exact
    * cosine, top-k by the stage-2 score — the scorer runs n times, never
    * corpus-times (contrast [[searchHybrid]], which fuses two full lists). */
  def searchRerank(documents: DataFrame, embeddings: DataFrame,
      terms: Seq[String], query: Array[Float], k: Int = 5,
      depth: Int = 50): DataFrame =
    Retrieval.rerankCosine(documents, embeddings, terms, query, k, depth)

  /** Assign new vectors to an existing index's nearest centroids
    * (incremental index maintenance). */
  def assignToIndex(index: IvfIndex, newVectors: DataFrame): DataFrame =
    index.assignNew(newVectors)

  // ---- training-data pipeline facade ----
  def exactDuplicates(documents: DataFrame): DataFrame = Dedup.exact(documents)
  /** Incremental (daily-ingest) exact dedup: drop `newDocs` whose content
    * hash exists in `seen` (the hash table [[exactDuplicates]] maintains as
    * a side output), then dedup within the batch.
    *
    * COST-BASED FORM SELECTION (verdict r7 #3 — the measured crossover from
    * BASELINE.md's incdedup probe pair, encoded as behavior instead of
    * scaladoc): when the optimizer's size estimate for `seen` fits the
    * session broadcast threshold, the anti-join broadcasts and the bloom
    * sketch build is pure overhead → plain form. Once history outgrows
    * broadcast scale the anti-join shuffles BOTH sides, and pushing the
    * batch's bloom probe into the `seen` scan cuts the shuffled history to
    * ~(dups + fpp) of its rows (measured 364 of 363,636 at the r7 probe) →
    * bloom form. The two are result-identical at any sketch size, so the
    * choice is pure cost. Threshold -1 (broadcast disabled) always selects
    * bloom. The choice is logged and returned by
    * [[incrementalDedupChoice]] for callers that want to assert it. */
  def deduplicateIncremental(newDocs: DataFrame, seen: DataFrame,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    val useBloom = incrementalDedupChoice(seen)
    if (useBloom) Dedup.incrementalExactBloom(newDocs, seen, expectedItems, numBits)
    else Dedup.incrementalExact(newDocs, seen)
  }

  /** The [[deduplicateIncremental]] plan choice for a given history frame:
    * true = bloom-filtered scan, false = plain broadcast anti-join. Exposed
    * so pipelines (and the facade spec) can observe the decision the
    * optimizer stats drive. */
  def incrementalDedupChoice(seen: DataFrame): Boolean = {
    // size the COLUMN-PRUNED plan the plain form actually joins — the full
    // frame's estimate can exceed the threshold while the pruned
    // select(text_md5) still broadcasts, mispredicting toward bloom
    // (ADVICE r8; cost-only, results identical either way)
    val est = seen.select(col("text_md5"))
      .queryExecution.optimizedPlan.stats.sizeInBytes
    val thr = BigInt(spark.sessionState.conf.autoBroadcastJoinThreshold)
    val useBloom = thr < 0 || est > thr
    spark.sparkContext.setLocalProperty("graft.incdedup.choice",
      if (useBloom) "bloom" else "plain")
    System.err.println(s"[graft] incremental dedup: history est ${est}B vs " +
      s"broadcast threshold ${thr}B -> ${if (useBloom) "bloom" else "plain"} form")
    useBloom
  }
  /** [[deduplicateIncremental]] with a bloom runtime filter of the batch's
    * hashes pushed into the `seen` scan — result-identical at any sketch
    * size; reach for it once the history hash table no longer broadcasts
    * (below that scale the sketch build is measured pure overhead — see
    * BASELINE.md's incdedup probe pair). */
  def deduplicateIncrementalBloom(newDocs: DataFrame, seen: DataFrame,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame =
    Dedup.incrementalExactBloom(newDocs, seen, expectedItems, numBits)
  /** Join-key skew diagnostic (hot-key factor + top-k concentration) — run
    * on a fact table's join key BEFORE salting ([[operators.SkewJoin]]) or
    * trusting AQE's skew split; bounded plans past the count shuffle. */
  def keySkew(df: DataFrame, key: String, topK: Int = 10): DataFrame =
    Relational.keySkewReport(df, key, topK)
  def nearDuplicateCandidates(documents: DataFrame): DataFrame =
    Dedup.lshCandidatePairs(documents)
  /** MinHash-estimated Jaccard per LSH candidate pair (K-calibration: compare
    * against [[survivors]]' exact n-gram Jaccard before trusting a banding
    * threshold). */
  def nearDuplicateEstimates(documents: DataFrame): DataFrame =
    Dedup.minhashEstPairs(documents)
  def survivors(documents: DataFrame, minJaccard: Double = 0.5): DataFrame =
    Dedup.ngramSurvivors(documents, minJaccard)
  /** Per-doc duplicated-span share — the substring-level dedup signal. */
  def spanDupReport(documents: DataFrame): DataFrame =
    Dedup.dupSpanShare(documents)
  /** Remove cross-doc duplicated spans from every carrier doc. */
  def scrubSpans(documents: DataFrame): DataFrame =
    Dedup.scrubDupSpans(documents)
  /** Per-frame perceptual (aHash, dHash) sketches of the media payloads. */
  def frameSketches(documents: DataFrame): DataFrame =
    graft.multimodal.Multimodal.phashFrames(documents, carry = Seq("lang"))
  /** Per-doc duplicated-frame share — the media-payload dedup signal
    * (O(docs) output; [[graft.multimodal.Multimodal.nearDupFramePairs]] is
    * the bounded pair drill-down). */
  def mediaDupReport(documents: DataFrame): DataFrame =
    graft.multimodal.Multimodal.frameDupShare(documents)
  /** Daily-ingest media dedup: batch sketches only itself, probes the
    * append-only [[frameSketches]] history artifact. */
  def mediaDupReportIncremental(newDocs: DataFrame,
      historySketches: DataFrame): DataFrame =
    graft.multimodal.Multimodal.frameDupShareIncremental(newDocs, historySketches)
  /** CONTRAST CASE — fixed-attribute (`label`) blocking, pairs ∝ N² per
    * block as the corpus grows. Kept for the measured contrast against
    * [[similarityPairsIndexed]], which is the production form (IVF-cluster
    * blocking, block size bounded by nlist ∝ √N). */
  def similarityPairsFixedBlock(embeddings: DataFrame, minSim: Double): DataFrame =
    Dedup.embeddingNearDupPairsFixedBlock(embeddings, minSim)
  def textQuality(documents: DataFrame): DataFrame = TextAnalysis.quality(documents)
  def scrubPii(documents: DataFrame): DataFrame = TextAnalysis.piiScrub(documents)
  def qualityFilter(documents: DataFrame): DataFrame =
    TextAnalysis.corpusFilter(documents)
  def split(documents: DataFrame): DataFrame =
    TextAnalysis.trainValTestSplit(documents)
  def nearDupClusters(documents: DataFrame, minJaccard: Double = 0.5): DataFrame =
    Dedup.nearDupClusters(documents, minJaccard)
  /** Daily-ingest clustering (the sixth incremental modality): batch-only
    * shingling against the per-doc shingle-set history artifact,
    * prefix-filtered batch×history probe, quotient-graph merge into
    * yesterday's labeling — result ≡ [[nearDupClusters]] over history ∪
    * batch. Artifact builder: [[Dedup.shingleSetsOf]] (append per batch;
    * labels are rewritten). */
  def nearDupClustersIncremental(newDocs: DataFrame, historySets: DataFrame,
      historyLabels: DataFrame, minJaccard: Double = 0.5): DataFrame =
    Dedup.nearDupClustersIncremental(
      newDocs, historySets, historyLabels, minJaccard)
  /** [[nearDupClustersIncremental]] with history's prefix table + order
    * sketch prebuilt at refresh ([[operators.Dedup.shinglePrefixesUnder]] /
    * [[operators.Dedup.shingleOrderCms]]) — the serving form; `minJaccard`
    * MUST equal the threshold the prefix artifact was built at (the prefix
    * lengths bake it in). Bit-identical output to the plain form. */
  def nearDupClustersIncrementalPrebuilt(newDocs: DataFrame,
      historySets: DataFrame, historyPrefixes: DataFrame,
      historyCms: Array[Byte], historyLabels: DataFrame,
      minJaccard: Double = sources.IncrementalHistory.ShingleThreshold): DataFrame =
    Dedup.nearDupClustersIncrementalPrebuilt(newDocs, historySets,
      historyPrefixes, historyCms, historyLabels, minJaccard)
  def splitLeaks(documents: DataFrame, minJaccard: Double = 0.5): DataFrame =
    Dedup.splitLeakPairs(documents, minJaccard)
  def sampleByLanguage(documents: DataFrame, rates: Map[String, Double],
      defaultRate: Double): DataFrame =
    TextAnalysis.langBalancedSample(documents, rates, defaultRate)
  def vocabulary(documents: DataFrame, k: Int): DataFrame =
    TextAnalysis.vocabulary(documents, k)
  def languageModelScore(documents: DataFrame): DataFrame =
    TextAnalysis.unigramLogprob(documents)
  def contaminationScan(documents: DataFrame): DataFrame =
    Dedup.benchmarkContamination(documents)
  /** DECLARED FAILURE PATH for the 60-bit hash-key contract (verdict r16
    * #6). Every hash-keyed family (shingle joins, span windows, bigram/token
    * LM scores) stakes "hash classes == string classes" on h60 injectivity
    * over the corpus' actual key sets — measured clean through sf30, with a
    * documented birthday-bound cliff near ~10⁹ distinct keys. This is the
    * behavior AT the cliff: run the audits, and on the first measured
    * collision fail LOUDLY with the remediation (re-key the family on the
    * `(h60, h60b)` 120-bit composite — [[functions.GraftFunctions.h60b]] is
    * the second 60 bits of the SAME md5 digest, so the widening is one
    * extra column from one extra digest read, and the DuckDB oracle mirrors
    * it via `substr(md5(s), 16, 15)`), instead of silently merging two
    * keys' counts. Run it wherever a hash-keyed operator meets a new corpus
    * scale — the scale-gate twin of [[operators.Relational.auditExactSum]]. */
  def auditHashKeys(documents: DataFrame): Unit = {
    Dedup.spanHashAudit(documents).collect().foreach { r =>
      GraftEngine.requireInjectiveCounts(s"span-window w=${r.getInt(0)}",
        r.getLong(1), r.getLong(2))
    }
    val bg = TextAnalysis.bigramHashAudit(documents).head()
    GraftEngine.requireInjectiveCounts("bigram",
      bg.getAs[Long]("n_bigrams"), bg.getAs[Long]("n_bh"))
    GraftEngine.requireInjectiveCounts("left-token",
      bg.getAs[Long]("n_x"), bg.getAs[Long]("n_xh"))
    GraftEngine.requireInjectiveCounts("token",
      bg.getAs[Long]("n_tok"), bg.getAs[Long]("n_th"))
  }
  def tokenizerMergeCandidates(documents: DataFrame, k: Int): DataFrame =
    TextAnalysis.bigramMerges(documents, k)
  /** Train `rounds` BPE merge rules over the corpus' word types.
    * `batchSize` 1 = classic sequential BPE (one corpus rewrite per rule —
    * the oracled `bpe_merges_k` form); >1 amortizes each rewrite over up to
    * that many mutually non-conflicting merges ([[operators.Bpe
    * .trainMergesBatched]]) — the scale form for real rule budgets. */
  def trainBpeMerges(documents: DataFrame, rounds: Int,
      batchSize: Int = 1): DataFrame =
    if (batchSize <= 1) Bpe.trainMerges(spark, documents, rounds)
    else Bpe.trainMergesBatched(spark, documents, rounds, batchSize)
  /** Power-of-two doc-length histogram with cumulative character share —
    * consult before picking [[packSequences]]' budget or a truncation cut. */
  def lengthReport(documents: DataFrame): DataFrame =
    TextAnalysis.lengthBuckets(documents)
  /** Tokenizer application: (doc_id, pos, tid) under the [[vocabulary]]
    * id order, 0 = OOV — feed into [[packSequences]]-shaped loaders. */
  def encodeCorpus(documents: DataFrame, vocabK: Int): DataFrame =
    TextAnalysis.encodeTokens(documents, vocabK)
  /** Per-doc token Shannon entropy (nats) — information-density quality
    * signal; pair with [[languageModelScore]] to separate looping from
    * garbled text. */
  def informationDensity(documents: DataFrame): DataFrame =
    TextAnalysis.tokenEntropy(documents)
  /** Per-doc bigram conditional LM score — order-sensitive counterpart of
    * [[languageModelScore]]; low scores flag token-salad. */
  def fluencyScore(documents: DataFrame): DataFrame =
    TextAnalysis.bigramLogprob(documents)
  /** Per-doc shingle novelty (share of 3-grams unique to the doc) — catches
    * spread-out boilerplate that pairwise [[nearDupClusters]] misses. */
  def noveltyReport(documents: DataFrame): DataFrame =
    Dedup.ngramNovelty(documents)
  /** Per-language quality-score distribution (exact percentiles) — consult
    * before choosing [[keepTopQualityPerLang]]'s cut. */
  def qualityDistribution(documents: DataFrame): DataFrame =
    TextAnalysis.qualityPercentiles(documents)
  /** Bigram collocations by PMI — phrase mining for tokenizer vocabularies
    * (frequency-normalized counterpart of [[tokenizerMergeCandidates]]). */
  def collocations(documents: DataFrame, minCount: Long = 5L,
      k: Int = 100): DataFrame =
    TextAnalysis.pmiBigrams(documents, minCount, k)

  // ---- training-mix construction ([[operators.TrainingMix]]) ----
  def mixReport(documents: DataFrame): DataFrame =
    TrainingMix.mixStats(documents)
  def mixWeights(documents: DataFrame): DataFrame =
    TrainingMix.mixWeights(documents)
  def packSequences(documents: DataFrame, budgetTokens: Long,
      blockSize: Long = TrainingMix.DefaultPackBlockSize): DataFrame =
    TrainingMix.packSequences(documents, budgetTokens, blockSize)
  def sampleMix(documents: DataFrame, epochTokens: Long): DataFrame =
    TrainingMix.mixSample(documents, epochTokens)
  def shuffleForTraining(documents: DataFrame, nShards: Int): DataFrame =
    TrainingMix.shuffleShards(documents, nShards)
  def keepTopQualityPerLang(documents: DataFrame, frac: Double): DataFrame =
    TrainingMix.topQualityPerLang(documents, frac)
  /** Parameterized train/val/test assignment (zero-shuffle hash split) —
    * see [[graft.operators.Splits]]; the stratified and leak-free forms
    * follow. */
  def assignSplits(documents: DataFrame, fracs: Seq[(String, Double)],
      salt: String): DataFrame =
    graft.operators.Splits.splitAssign(documents, fracs, salt)
  def assignSplitsStratified(documents: DataFrame,
      fracs: Seq[(String, Double)], salt: String,
      strata: Seq[String] = Seq("source", "lang")): DataFrame =
    graft.operators.Splits.splitAssignStratified(documents, fracs, salt, strata)
  /** Leakage-consistent split assignment: near-dup clusters (from
    * [[nearDupClusters]])
    * land in one split — the producer that makes [[splitLeaks]] come
    * back empty by construction. */
  def assignSplitsLeakFree(documents: DataFrame, clusterLabels: DataFrame,
      fracs: Seq[(String, Double)], salt: String): DataFrame =
    graft.operators.Splits.splitAssignLeakFree(documents, clusterLabels, fracs, salt)
  /** Embedding near-dup pairs blocked by an [[IvfIndex]]'s cluster id —
    * candidate generation inside the inverted-file layout (the 100 TB form
    * of [[similarityPairsFixedBlock]]'s attribute blocking). Build the
    * index at DEDUP granularity — nlist ≈ N / 128 for a constant target
    * block size, [[graft.SparkEntry.dedupBlockClusters]] — not at serving
    * granularity: within-block pair cost is quadratic in block population,
    * so a fixed serving nlist grows it quadratically with the corpus
    * (measured 2.2 s → 353 s at 10× under nlist=16). */
  def similarityPairsIndexed(index: IvfIndex, minSim: Double): DataFrame =
    Dedup.embeddingNearDupPairsBy(index.vectors, "cluster", minSim)

  /** Release every operator-persisted cache entry ([[CacheRegistry]]) — call
    * between unrelated workloads in a long-lived session so executor storage
    * stays bounded by one query family's working set instead of accumulating
    * for the session's lifetime (round-4 review). Results already
    * materialized (collected / written) are unaffected; a live DataFrame
    * built on a released subtree just recomputes it. */
  def releaseCaches(): Unit = CacheRegistry.release()

  /** The composed five-stage curation pipeline (filter → exact dedup →
    * near-dup survivors → PII audit → split); pair with [[exportCorpus]]
    * partitioned by `split` for the output side. */
  def curate(documents: DataFrame, minJaccard: Double = 0.5): DataFrame =
    operators.CorpusPipeline.curate(documents, minJaccard)

  /** Continuous-ingest twin of [[curate]] (per-row quality rules +
    * watermark-bounded dedup + split); near-dup dedup remains the nightly
    * batch pass — the standard lambda split. */
  def curateStream(docs: DataFrame, horizon: String = "1 hour"): DataFrame =
    streaming.EventStreams.curateDocStream(docs, horizon)

  /** Continuous-ingest twin of [[shuffleForTraining]]: stateless md5-contract
    * shard assignment over arriving docs; land with
    * `writeStream.partitionBy("shard")` and derive positions/packing at load
    * time (see [[streaming.EventStreams.shardAssignStream]]). */
  def shardAssignStream(docs: DataFrame, nShards: Int): DataFrame =
    streaming.EventStreams.shardAssignStream(docs, nShards)

  /** Canonical corpus export — the pipeline's output side: Hive-partitioned
    * parquet (e.g. by `split`), rows sorted within partitions by `sortCol` so
    * parquet row-group min/max statistics support data skipping on the read
    * path (a range predicate on the sort column prunes row groups, not just
    * partitions). One shuffle (the repartition on partition keys), compact
    * files per partition. */
  def exportCorpus(df: DataFrame, outDir: String,
      partitionCols: Seq[String], sortCol: String): Unit =
    GraftEngine.exportCorpus(df, outDir, partitionCols, sortCol)

  /** Scan-layout audit over an sfDir-shaped lake root: per table, file
    * count / bytes / row groups / the effective scan-task bound under the
    * current session conf, and a starvation flag with a rewrite suggestion.
    * The r13 lake-shape lesson as a tool — the identical suite ran 6.2×
    * slower over single-file tables ([[graft.sources.LayoutAudit]]). */
  def layoutAudit(root: String): DataFrame =
    graft.sources.LayoutAudit.audit(spark, root)
}

object GraftEngine {
  /** The verdict of a MEASURED h60 collision — a dedicated type (ADVICE
    * r18) so [[Bench]]'s preflight can map exactly this to
    * `hash_audit_failed`: the old IllegalArgumentException match also
    * caught unrelated `require`s in the audit plumbing (a bad frame shape),
    * misreporting an audit-infrastructure error as a real collision on the
    * record. Subclasses IAE so existing callers' catch sites keep working. */
  final class HashCollisionException(msg: String)
    extends IllegalArgumentException(msg)

  /** The collision branch of [[GraftEngine.auditHashKeys]], factored pure so
    * the suite can exercise it directly (an md5-60-bit collision cannot be
    * synthesized from test strings): `nKeys` distinct source keys hashing to
    * `nHashes < nKeys` distinct h60 values means ≥ one collision — the
    * declared behavior is a loud failure naming the family and the
    * composite-key remedy, never a silent count merge. */
  private[graft] def requireInjectiveCounts(family: String,
      nKeys: Long, nHashes: Long): Unit =
    if (nKeys != nHashes) throw new HashCollisionException(
      s"h60 collision measured in the $family key set: $nKeys distinct keys " +
        s"→ $nHashes distinct hashes. Hash-keyed results would merge " +
        "collided keys' counts; re-key this family on the (h60, h60b) " +
        "120-bit composite (GraftFunctions.h60b — second 60 bits of the " +
        "same md5; DuckDB mirror substr(md5(s), 16, 15)) before trusting " +
        "results at this corpus scale")

  /** The [[GraftEngine.exportCorpus]] facade method's implementation, static
    * because it uses no engine state — layout builders
    * ([[graft.sources.ScrubbedLake]]) call it here without constructing a
    * facade (review r11: the facade constructor re-registers every UDF).
    *
    * Range-partition on (partitionCols, sortCol) — NOT a hash repartition on
    * the partition columns alone, which would funnel each partition value
    * (e.g. 80% of the corpus for split=train) through a single task. Range
    * boundaries spread every partition value across tasks by sort key; the
    * within-task sort keeps each written file contiguous and sorted. */
  def exportCorpus(df: DataFrame, outDir: String,
      partitionCols: Seq[String], sortCol: String): Unit =
    df.repartitionByRange((partitionCols :+ sortCol).map(col): _*)
      .sortWithinPartitions((partitionCols :+ sortCol).map(col): _*)
      .write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(outDir)

  /** `SPARK_GRAFT_CPUS`, read once for every harness main (Bench, Verify,
    * ScaleProbe, Experiment): a core count or `*`. Unset, it is the number
    * of cores this JVM sees, so a run without it verifies under the same
    * partition count it benches with. */
  lazy val harnessCores: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors.toString)

  /** Join planning shared by the harnesses that time, verify or print the
    * suite's plans (Bench, Verify, Explain), so correctness is verified and
    * plans are printed under the strategies timing runs with. Lets the
    * planner pick a shuffled-hash join where its size conditions hold
    * instead of always sort-merge: mid-size equi-joins (fact ⋈ fact-rollup)
    * pay two avoidable sorts under SMJ, and the build side must fit per
    * partition, so it degrades to SMJ at scale exactly where SMJ is right.
    * AQE may also convert at runtime below the local-map threshold.
    * Measured at sf10 solo: q03 5.5→5.1 s, q11 1.85→1.60 s, q23 2.04→1.81 s,
    * q26 1.08→1.01 s. */
  val SuiteJoinPlanning: Map[String, String] = Map(
    "spark.sql.join.preferSortMergeJoin" -> "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "256m")

  /** Status-store caps for long harness runs: by default the SQL store
    * keeps 1,000 executions' plan graphs and the core store 1,000 jobs,
    * 1,000 stages and 100k tasks the harness never reads. Across a 127-query
    * multi-pass run that ages the heap (measured: live heap 83→456 MB,
    * per-pass GC 1.5→3.9 s, a uniform ~30% warm slowdown on
    * allocation-heavy text queries). */
  val StatusStoreCaps: Map[String, String] = Map(
    "spark.sql.ui.retainedExecutions" -> "16",
    "spark.ui.retainedJobs" -> "200",
    "spark.ui.retainedStages" -> "200",
    "spark.ui.retainedTasks" -> "20000")

  /** The one session builder: a local session on `cores` (a count or `*`)
    * with one shuffle partition per core, AQE, UTC, nanosecond parquet
    * timestamps read as longs (events.parquet), no UI, a sized codegen
    * cache, and then `extra`. */
  def session(cores: String, appName: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val partitions =
      if (cores == "*") Runtime.getRuntime.availableProcessors.toString else cores
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", partitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // a long-lived engine session runs many distinct plans; the 100-entry
      // default generated-class cache recompiles Janino classes continuously
      // once the workload's distinct-plan count passes it (measured r10:
      // ~1,300 recompiles/pass on the 113-query suite, 2-4× warm-query
      // inflation) — size it to the workload
      .config("spark.sql.codegen.cache.maxEntries", "4096")
    extra.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Recommended local session (a cluster deploy sets the same confs minus
    * master). */
  def localSession(cores: Int = 8, appName: String = "graft"): SparkSession =
    session(cores.toString, appName)
}
