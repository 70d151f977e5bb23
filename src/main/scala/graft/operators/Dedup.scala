package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Deduplication operators for the LLM-training-data surface, each designed for
  * 100 TB: candidate generation is always blocked/bucketed (never an all-pairs
  * cross join), signatures are computed with per-row higher-order functions (no
  * shuffle), and pair joins are keyed so they shuffle-partition cleanly.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on content. Returns one row per distinct text with
    * the surviving (minimum) doc_id and the duplicate count. Shuffles once on the
    * 32-hex md5 — at 100 TB, group keys are uniformly distributed so no skew.
    */
  def exact(documents: DataFrame): DataFrame =
    documents
      .groupBy(contentHash(col("text")).as("text_md5"))
      .agg(
        min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))

  /** Number of independent MinHash functions in a signature. */
  val MinhashK = 8
  /** LSH banding: bands of `rowsPerBand` signature values; docs sharing any band
    * bucket become candidate pairs. 4 bands × 2 rows ⇒ catches Jaccard ≳ 0.5. */
  val Bands = 4
  val RowsPerBand = 2

  /** Per-doc MinHash signature, one column per hash function (h0..h7).
    * Pure per-row computation — embarrassingly parallel, zero shuffle; the
    * expensive part of MinHash dedup stays map-side.
    *
    * Plan shape: the whole signature is ONE native expression
    * ([[graft.functions.MinhashSignature]]: one md5 per shingle + K affine
    * minima in a single pass), materialized behind an `explode(array(...))`
    * Generate barrier before fanning out to the h0..h7 columns —
    * CollapseProject cannot inline expressions past a Generate, so the
    * signature is computed exactly once per row. Without the barrier each of
    * the 8 column projections re-evaluates the full shingle+hash pipeline
    * (HOF-bearing expressions don't participate in codegen subexpression
    * elimination); measured 8× slower.
    */
  def minhashSignatures(documents: DataFrame): DataFrame = {
    // r19 optimization round: the signature streams each 3-token window's
    // bytes straight into the digest ([[graft.functions
    // .MinhashSignatureTokens]]) instead of materializing the distinct
    // shingle-string array first — value-identical (same md5 byte sequence
    // per window; duplicates cannot change a minimum; PortableHashSpec pins
    // fused ≡ minhashSignature∘shingles3 on random docs and the corpus)
    val sig = minhashSignatureTokens(tokens(col("text")))
    documents
      .select(col("doc_id"), explode(array(struct(sig.as("sig")))).as("w"))
      .select((col("doc_id") +:
        (0 until MinhashK).map(j => element_at(col("w.sig"), j + 1).as(s"h$j"))): _*)
  }

  /** LSH band buckets: (doc_id, band, bucket). Bucket = portable hash of the
    * band's signature slice. This is the table that gets shuffled — K×smaller
    * than the corpus, uniformly keyed.
    */
  def lshBuckets(documents: DataFrame): DataFrame =
    // shingle-less docs (<3 tokens) have null signatures; without this filter
    // concat_ws would skip the nulls and give every such doc the SAME band
    // bucket — quadratic spurious candidate pairs among short docs (and a
    // divergence from the oracle, whose unnest-based CTE drops them)
    lshBucketsFromSigs(minhashSignatures(documents).where(col("h0").isNotNull))

  /** Band buckets derived from an already-computed signature table — split
    * out so [[minhashEstPairs]] can persist the signatures ONCE and derive
    * both the banding and the per-pair signature comparison from the same
    * cached frame (banding from cached h0..h7 is 8 tiny string concats, not
    * a re-run of the tokenize→shingle→MinHash pipeline). */
  private[operators] def lshBucketsFromSigs(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      val slice = (0 until RowsPerBand).map(r => col(s"h${b * RowsPerBand + r}").cast("string"))
      struct(lit(b).as("band"),
        h60(concat_ws("_", (slice :+ lit(b.toString)): _*)).as("bucket"))
    }
    sig
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash-LSH near-dup candidate pairs: docs sharing ≥1 band bucket.
    * Equi-join on (band, bucket) — a standard shuffled hash join keyed by bucket,
    * NOT a cross join; at 100 TB the bucket posting lists are short for any
    * reasonable band width, and a hot bucket (degenerate shingles) would be
    * handled by AQE skew-join splitting.
    */
  def lshCandidatePairs(documents: DataFrame): DataFrame = {
    // materialize the bucket table once: without the persist the full
    // tokenize→shingle→MinHash subtree evaluates on BOTH sides of the
    // self-join (Spark does not CSE across join children). At 100 TB this
    // is the write-then-read of the banded signature table every MinHash
    // pipeline does; MEMORY_AND_DISK is the local-mode equivalent. Cache
    // lifetime: tracked in [[graft.CacheRegistry]] — the harness releases
    // at query-family boundaries (and the cache manager transparently
    // reuses the entry across queries whose analyzed plans match while it
    // lives).
    val b = graft.CacheRegistry.persist(lshBuckets(documents))
    candidatePairsFromBuckets(b)
  }

  /** The banding pair contract, in ONE place: self-join on (band, bucket)
    * with the `doc_a < doc_b` canonical orientation, distinct across bands.
    * Shared by [[lshCandidatePairs]] and [[minhashEstPairs]] so the estimate
    * query can never silently diverge from the candidate set it annotates —
    * the two callers differ only in which upstream frame they persist. */
  private def candidatePairsFromBuckets(b: DataFrame): DataFrame =
    b.as("a")
      .join(b.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** Default window width (tokens) for [[dupSpanShare]]. */
  val SpanWindow = 20

  /** Duplicated-span share — the exact SUBSTRING-level dedup signal (the
    * "dedup training data" family's span statistic, complementing the
    * doc-level families): for every `window`-token rolling window, a 60-bit
    * hash; a window is DUPLICATED if its hash occurs in ≥2 DISTINCT docs;
    * per doc, the count and share of duplicated windows. High shares flag
    * boilerplate/templated docs whose doc-level Jaccard may still look
    * unique — the signal span-level dedup pipelines cut on.
    *
    * Scale shape: the window table carries one row per token position
    * (∝ corpus tokens — the unigram-family shuffle class, never pairs), the
    * duplicated-hash set is (wh, doc) distinct → groupBy(wh) with map-side
    * combine, and the per-doc rollup joins windows to that (much smaller)
    * set. No all-pairs anything; in-doc repeats only count as duplicated if
    * some OTHER doc shares the window.
    *
    * Coverage contract: docs with FEWER than `window` tokens have no
    * windows and emit NO row (the DuckDB oracle matches this). A consumer
    * needing full-corpus coverage should left-join this signal back to the
    * corpus and coalesce the counts to 0 — short docs can't carry a
    * duplicated span, so absence IS their signal. */
  def dupSpanShare(documents: DataFrame, window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    // stage the token array behind a Generate barrier so the window lambda
    // references the materialized array, not a re-tokenize per window
    val toks = documents_toks(documents, window)
    val wins = graft.CacheRegistry.persist(
      toks.select(col("doc_id"),
        explode(spanWindowHashes(col("w"), window)).as("wh")))
    val dupHashes = wins.select(col("wh"), col("doc_id")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1)
      .select(col("wh"), lit(1).as("dup"))
    wins.join(dupHashes, Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("dup")).as("n_dup_windows")) // count(col) skips null misses
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_share"))
  }

  /** [[dupSpanShare]] over PREBUILT span artifacts — the serving form (r18,
    * completing the span family's [[graft.sources.SpanWindowLake]] move):
    * duplication discovery is one artifact semi-join, and only AFFECTED
    * docs (8.3% at sf10) re-derive positional hashes for the numerator;
    * every other winnable doc's denominator is closed-form —
    * `n_windows = n_tokens − window + 1` — from a single counting tokenize,
    * with `n_dup_windows = 0` by the definition of unaffected. Output is
    * row-identical to [[dupSpanShare]] (DedupTextSpec pins all paths; the
    * sub-window coverage contract is preserved by the `n_windows ≥ 1`
    * guard). */
  def dupSpanSharePrebuilt(documents: DataFrame, spanSet: DataFrame,
      dupHashes: DataFrame, window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    CorpusPin.check(documents, spanSet, "dupSpanSharePrebuilt")
    // dedupe the caller's dup side before the LEFT join below (ADVICE r18):
    // every in-repo call site passes the already-distinct compaction view,
    // but this is public API and a non-distinct frame would fan the join out
    // and silently inflate n_dup_windows — the one failure mode this family
    // exists to prevent. The distinct is one exchange over the ≥2-owner
    // hash set (the corpus' duplicated fraction), noise next to the probe;
    // for the artifact-backed view Catalyst sees distinct-over-scan (no
    // collapse available), which is the price of the guarantee.
    val dup = dupHashes.select(col("wh")).distinct()
    val aff = spanSet.join(dup, Seq("wh"), "left_semi")
      .select(col("doc_id")).distinct()
    val winsAff = documents_toks(
        documents.join(aff, Seq("doc_id"), "left_semi"), window)
      .select(col("doc_id"), explode(spanWindowHashes(col("w"), window)).as("wh"))
    val affRows = winsAff
      .join(dup.withColumn("dup", lit(1)), Seq("wh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("dup")).as("n_dup_windows"))
    val unaffected = documents.join(aff, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        (size(tokens(col("text"))) - lit(window - 1)).cast("long").as("n_windows"))
      .where(col("n_windows") >= 1) // < window tokens ⇒ no row (the contract)
      .select(col("doc_id"), col("n_windows"), lit(0L).as("n_dup_windows"))
    affRows.unionByName(unaffected)
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_share"))
  }

  /** Span-level dedup made ACTIONABLE — [[dupSpanShare]]'s scalpel: remove
    * every token covered by a duplicated window (a `window`-token span whose
    * hash occurs in ≥2 distinct docs) from every doc carrying one, and pass
    * untouched docs through without a rewrite. Run AFTER doc-level dedup
    * (which keeps one copy of whole-doc dups); what remains duplicated at
    * span level is cross-doc boilerplate — headers, licenses, templates —
    * which this removes from every carrier.
    *
    * Output (narrow-at-100 TB convention): doc_id, n_tokens, n_removed,
    * scrub_h60 + n_scrub_chars of the post-scrub text (untouched docs hash
    * their ORIGINAL text — no reconstruction round-trip).
    *
    * Scale shape: the window/mask tables are ∝ AFFECTED docs' tokens only —
    * the reassembly shuffle (collect per doc, sort by position) is confined
    * to docs that actually carry duplicated spans; everything else takes the
    * anti-join pass-through. No pairs anywhere. */
  def scrubDupSpans(documents: DataFrame, window: Int = SpanWindow): DataFrame =
    scrubDupSpansText(documents, window).select(
      col("doc_id"), col("n_tokens"), col("n_removed"),
      h60(col("text")).as("scrub_h60"), length(col("text")).as("n_scrub_chars"))

  /** [[scrubDupSpans]] with the scrubbed TEXT itself — the production-sink
    * form the narrow hash signal projects from: rewritten docs carry their
    * reassembled post-scrub tokens (space-joined), untouched docs their
    * ORIGINAL text byte-for-byte (the anti-join pass-through never
    * reconstructs). Feed this to [[graft.sources.ScrubbedLake]] /
    * [[graft.GraftEngine.exportCorpus]] to land the scrubbed corpus;
    * the serving query [[scrubDupSpans]] is exactly this plus
    * `(h60(text), length(text))` — one projection, same plan. */
  def scrubDupSpansText(documents: DataFrame, window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    // persisted: three consumers (window build, affected-doc rewrite,
    // pass-through) and the Generate barrier stops the doc_id semi-joins
    // from pushing below the tokenize — without the persist each branch
    // re-tokenizes the WHOLE corpus (3 scans instead of 1; production =
    // the written token table every span pipeline stages anyway)
    val toks = graft.CacheRegistry.persist(documents
      .select(col("doc_id"), explode(array(struct(tokens(col("text")).as("w")))).as("c"))
      .select(col("doc_id"), col("c.w").as("w")))
    val winnable = toks.where(size(col("w")) >= window)
    // (doc, window-start, hash) — position must survive to build the mask
    val wins = graft.CacheRegistry.persist(
      winnable.select(col("doc_id"),
        posexplode(spanWindowHashes(col("w"), window)).as(Seq("i0", "wh")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("wh")))
    val dupHashes = wins.select(col("wh"), col("doc_id")).distinct()
      .groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select(col("wh"))
    // covered token positions, per affected doc
    val covered = graft.CacheRegistry.persist(
      wins.join(dupHashes, Seq("wh"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + lit(window - 1))).as("pos"))
        .distinct())
    val affected = covered.select(col("doc_id")).distinct()
    // rewrite ONLY affected docs: tokens by position, drop covered, reassemble
    val rewritten = toks.join(affected, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("n_tokens"), (col("p0") + 1).as("pos"), col("tok"))
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        count(col("cov")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("cov").isNull,
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("t"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("t").as("text"))
    // untouched docs: original text, zero removals, no rewrite
    val untouched = toks.join(affected, Seq("doc_id"), "left_anti")
      .join(documents.select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        lit(0L).as("n_removed"), col("text"))
    rewritten.unionByName(untouched)
  }

  /** System property making every lake serving form re-verify its corpus
    * pin ([[CorpusPin]]) on every call — the debug twin of
    * [[graft.multimodal.Multimodal.DebugAssertDisjointProp]]: off by
    * default (it costs one O(docs) aggregate per call); the drill suites
    * turn it on. */
  val DebugAssertSpanCorpusProp = "graft.debug.assertSpanCorpus"
  /** Schema-metadata keys stamping WHICH corpus a lake artifact covers
    * ([[graft.sources.Artifact.stamp]]): doc count + doc_id xor. */
  val CorpusCountKey = "graft.corpus.count"
  val CorpusXorKey = "graft.corpus.xor"

  /** [[scrubDupSpans]] over PREBUILT span artifacts — the serving form
    * (verdict r17 #2): `spanSet` is the full-corpus window set the ingest
    * stream accumulates ([[spanWindowSet]] /
    * [[graft.sources.SpanWindowLake.windows]]) and `dupHashes` its
    * per-version ≥2-distinct-docs compaction view
    * ([[graft.sources.SpanWindowLake.dupHashes]]), so the query never
    * re-tokenizes the corpus to DISCOVER duplication — affected docs come
    * from one artifact semi-join, and only they (8.3% at sf10) pay position
    * recovery + rewrite; untouched docs take the anti-join pass-through
    * with a single counting tokenize. Output is row-identical to
    * [[scrubDupSpans]] (parity-pinned over 500k sf10 docs, BASELINE.md;
    * DedupTextSpec pins it at fixture scale): the positional windows of an
    * affected doc are a deterministic function of its text, and every doc
    * with a covered position is affected by construction, so restricting
    * recovery to affected docs drops nothing. Measured at sf10: 10.8 →
    * 4.4-5.4 s warm. */
  def scrubDupSpansPrebuilt(documents: DataFrame, spanSet: DataFrame,
      dupHashes: DataFrame, window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    CorpusPin.check(documents, spanSet, "scrubDupSpansPrebuilt")
    val aff = spanSet.join(dupHashes, Seq("wh"), "left_semi")
      .select(col("doc_id")).distinct()
    // position recovery: re-tokenize ONLY affected docs (the artifact keeps
    // no positions — history never needs them, the spanWindowSet contract)
    val toksAff = graft.CacheRegistry.persist(documents
      .join(aff, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(array(struct(tokens(col("text")).as("w")))).as("c"))
      .select(col("doc_id"), col("c.w").as("w")))
    val winsAff = toksAff.where(size(col("w")) >= window)
      .select(col("doc_id"),
        posexplode(spanWindowHashes(col("w"), window)).as(Seq("i0", "wh")))
      .select(col("doc_id"), (col("i0") + 1).as("i"), col("wh"))
    val covered = graft.CacheRegistry.persist(
      winsAff.join(dupHashes, Seq("wh"), "left_semi")
        .select(col("doc_id"),
          explode(sequence(col("i"), col("i") + lit(window - 1))).as("pos"))
        .distinct())
    val rewritten = toksAff
      .select(col("doc_id"), size(col("w")).as("n_tokens"),
        posexplode(col("w")).as(Seq("p0", "tok")))
      .select(col("doc_id"), col("n_tokens"), (col("p0") + 1).as("pos"), col("tok"))
      .join(covered.withColumn("cov", lit(1)), Seq("doc_id", "pos"), "left")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(
        count(col("cov")).as("n_removed"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(col("cov").isNull,
            struct(col("pos"), col("tok"))))),
          s => s.getField("tok"))).as("t"))
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        col("t").as("text"))
    val untouched = documents.join(aff, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"),
        lit(0L).as("n_removed"), col("text"))
    rewritten.unionByName(untouched).select(
      col("doc_id"), col("n_tokens"), col("n_removed"),
      h60(col("text")).as("scrub_h60"), length(col("text")).as("n_scrub_chars"))
  }

  /** The append-only span-window ARTIFACT: one row per DISTINCT (doc_id,
    * window-hash) — everything the cross-doc duplication test needs from a
    * doc (positions stay batch-local; history never needs them). Built
    * PER-ROW: each doc's window hashes collapse via `array_distinct` inside
    * the row before the explode, so the operator is stateless — no global
    * distinct, which is exactly what lets [[graft.streaming.EventStreams
    * .spanWindowStream]] run it unchanged at ingest (append mode, no state
    * store) the way `bandAssignStream` reuses [[lshBuckets]]. */
  def spanWindowSet(documents: DataFrame, window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    documents_toks(documents, window)
      .select(col("doc_id"),
        explode(array_distinct(spanWindowHashes(col("w"), window))).as("wh"))
  }

  /** Incremental [[dupSpanShare]] — the daily-ingest span signal, completing
    * the incremental family (exact dedup → [[incrementalExact]], LSH bands →
    * [[lshCandidatePairsIncremental]], IVF → `mergeSegment`, spans → here):
    * today's batch tokenizes ONLY itself (O(batch)), `historyWindows` is the
    * append-only [[spanWindowSet]] artifact, and a batch window counts as
    * duplicated iff some OTHER doc in history ∪ batch shares its hash — so
    * the result equals the full-corpus [[dupSpanShare]] restricted to batch
    * docs (DedupTextSpec asserts exactly that). Appending the batch's
    * [[spanWindowSet]] to the artifact completes the cycle.
    *
    * Scale shape: the dup probe is an equi-join on `wh` whose build side is
    * the batch's window set — AQE broadcasts it, so history streams through
    * WITHOUT a shuffle (in production the artifact is additionally bucketed
    * by `wh`, the [[lshCandidatePairsIncremental]] posture); the rollup
    * shuffle is ∝ batch tokens only. Same dropped-short-docs coverage
    * contract as [[dupSpanShare]]. */
  def dupSpanShareIncremental(newDocs: DataFrame, historyWindows: DataFrame,
      window: Int = SpanWindow): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens: $window")
    // positional windows of the batch — the rollup's denominator (and the
    // only place positions matter); persisted: feeds the distinct set AND
    // the final rollup join
    val toks = documents_toks(newDocs, window)
    val wins = graft.CacheRegistry.persist(
      toks.select(col("doc_id"),
        explode(spanWindowHashes(col("w"), window)).as("wh")))
    val newSet = wins.select(col("doc_id"), col("wh")).distinct()
    val all = historyWindows.select(col("doc_id"), col("wh")).unionByName(newSet)
    // a batch (doc, wh) is duplicated iff any OTHER doc holds wh. Inner
    // join + distinct (NOT left_semi: semi builds on the RIGHT side, which
    // is the history — inner lets AQE broadcast the small batch set and
    // stream history); the distinct's shuffle is ∝ matched batch windows
    val dupNew = newSet.as("a")
      .join(all.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id"), col("a.wh")).distinct()
      .withColumn("dup", lit(1))
    wins.join(dupNew, Seq("doc_id", "wh"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        count(col("dup")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_share"))
  }

  /** Tokenized frame behind a Generate barrier, window-length filtered —
    * shared staging for the span family. */
  private def documents_toks(documents: DataFrame, window: Int): DataFrame =
    documents
      .select(col("doc_id"), explode(array(struct(tokens(col("text")).as("w")))).as("c"))
      .select(col("doc_id"), col("c.w").as("w"))
      .where(size(col("w")) >= window)

  /** Incremental LSH candidate generation — the daily-ingest near-dup path,
    * and the text-side twin of [[IvfIndex.mergeSegment]]'s posture: the band
    * table is an append-only ARTIFACT (in production a lake parquet table;
    * `historyBands` here is whatever [[lshBuckets]] previously produced),
    * today's batch shingles/MinHashes ONLY its own docs (O(batch), history
    * is never re-tokenized), and candidates are the equi-join of the new
    * bands against history ∪ new — emitting exactly the pairs with at least
    * one NEW side (new×history and new×new; history×history was yesterday's
    * output and is never recomputed). Canonical (doc_a < doc_b) orientation,
    * distinct across bands, same as [[lshCandidatePairs]]. Appending the
    * returned batch's bands to the artifact (`newBands` = [[lshBuckets]] of
    * the batch) completes the ingest cycle. */
  def lshCandidatePairsIncremental(newDocs: DataFrame,
      historyBands: DataFrame): DataFrame = {
    // persist: the new-batch band table feeds both join sides (a-side, and
    // the union's second leg) — without it the batch re-shingles twice
    val nb = graft.CacheRegistry.persist(lshBuckets(newDocs))
    val all = historyBands.select(col("doc_id"), col("band"), col("bucket"))
      .unionByName(nb)
    nb.as("a")
      .join(all.as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** [[lshCandidatePairsIncremental]] with a bloom runtime filter pushed
    * into the HISTORY band artifact's scan — the [[incrementalExactBloom]]
    * shape applied to the banding family. The plain incremental join's cost
    * profile inverts at scale the same way: the batch's band table is small
    * but the history artifact is corpus-sized, and even a bucketed equi-join
    * moves every history row through a scan. A sketch of the batch's
    * (band, bucket) keys — packed into one 62-bit long, band in bits 60-61
    * over the 60-bit bucket hash — probes INSIDE the artifact scan, so
    * history shrinks to ≈ bucket-sharing rows + fpp·|history| BEFORE any
    * exchange, at which point AQE broadcasts the survivor side.
    *
    * Result-identical to [[lshCandidatePairsIncremental]] for ANY sketch
    * size: no false negatives (every history band row sharing a batch
    * bucket survives the pruned scan), and false positives die in the exact
    * (band, bucket) equi-join. DedupTextSpec asserts parity down to a
    * saturated 64-bit sketch. */
  def lshCandidatePairsIncrementalBloom(newDocs: DataFrame,
      historyBands: DataFrame, expectedItems: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame = {
    def key(band: Column, bucket: Column): Column =
      shiftleft(band.cast("long"), 60) + bucket
    val nb = graft.CacheRegistry.persist(lshBuckets(newDocs))
    val sketch = bloomSketch(
      nb.select(key(col("band"), col("bucket")).as("k")), col("k"),
      expectedItems, numBits)
    val hist = historyBands.select(col("doc_id"), col("band"), col("bucket"))
    val pruned =
      if (sketch == null) hist.limit(0)
      else hist.where(bloomMightContain(sketch, key(col("band"), col("bucket"))))
    nb.as("a")
      .join(pruned.unionByName(nb).as("b"),
        col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.doc_id") =!= col("b.doc_id"))
      .select(
        least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct()
  }

  /** MinHash-estimated Jaccard for the LSH candidate pairs: the fraction of
    * the K signature components on which the two docs agree — the unbiased
    * MinHash estimator E[matches/K] = J(a,b). This is the calibration check a
    * dedup pipeline runs before trusting a banding threshold: bands admit a
    * pair, the estimate says how similar the sketch thinks it is, and
    * comparing against [[ngramJaccardPairs]]' exact values tells you whether
    * K is large enough for the corpus.
    *
    * Scale shape: ONE persisted signature table feeds both the banding join
    * (via [[lshBucketsFromSigs]]) and the two per-pair signature lookups —
    * the tokenize→shingle→MinHash pipeline runs exactly once per doc. The
    * candidate table is band-join-bounded (never all-pairs) and the final
    * signature joins are equi-joins on doc_id against a candidate set that is
    * orders of magnitude smaller than the corpus (AQE broadcasts it). */
  def minhashEstPairs(documents: DataFrame): DataFrame = {
    val sigs = graft.CacheRegistry.persist(
      minhashSignatures(documents).where(col("h0").isNotNull))
    val pairs = candidatePairsFromBuckets(lshBucketsFromSigs(sigs))
    val matches = (0 until MinhashK)
      .map(j => when(col(s"sa.h$j") === col(s"sb.h$j"), 1).otherwise(0))
      .reduce(_ + _)
    pairs
      .join(sigs.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(matches.cast("double") / MinhashK, 6).as("est_jaccard"))
  }

  /** SimHash (32-bit) per doc — Hamming-distance near-dup sketch. Per-row HOF
    * computation, no shuffle. */
  def simhashes(documents: DataFrame, bits: Int = 32): DataFrame =
    documents.select(col("doc_id"), simhash(tokens(col("text")), bits).as("simhash"))

  /** SimHash bands for [[simhashPairs]]: 4 bands × 8 bits of the 32-bit
    * sketch. Pigeonhole: any pair within Hamming distance 3 differs in at
    * most 3 bands, so it MATCHES exactly on ≥1 band — banding is exact for
    * maxHamming ≤ [[SimhashBands]] − 1, never a recall loss. */
  val SimhashBands = 4

  /** SimHash near-dup pairs: docs whose 32-bit sketches are within
    * `maxHamming` bits (≤ 3). Manku-style banded candidate generation — the
    * same bucketed equi-join shape as [[lshCandidatePairs]]: each doc emits
    * [[SimhashBands]] (band, value) keys, candidates share (lang, band,
    * value), verification is `bit_count(xor)` (codegen on both engines).
    * Never an all-pairs join; a hot band bucket splits under AQE. */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < SimhashBands,
      s"banding is only exact for maxHamming < $SimhashBands")
    // lang is projected ALONGSIDE the sketch — zero-shuffle map stage; a
    // doc_id equi-join back to documents would add a corpus-scale exchange
    // before banding even starts (r5 review)
    val s = documents.select(col("doc_id"), col("lang"),
      simhash(tokens(col("text")), 32).as("simhash"))
    val bandCols = (0 until SimhashBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("simhash"), 8 * b).bitwiseAND(lit(255L)).as("bv"))
    }
    val banded = graft.CacheRegistry.persist(s
      .select(col("doc_id"), col("lang"), col("simhash"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("lang"), col("simhash"),
        col("bb.band").as("band"), col("bb.bv").as("bv")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.lang") === col("b.lang") && col("a.band") === col("b.band") &&
          col("a.bv") === col("b.bv") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** N-gram (word 3-shingle) Jaccard similarity pairs within a blocking key.
    * Blocking on `lang` bounds the join: candidates must share a shingle AND the
    * block — the shingle-postings join is the classic set-similarity join (explode
    * distinct shingles → equi-join on (block, shingle) → count common / union).
    * At 100 TB one would add a prefix filter; the join shape stays identical.
    * Returns pairs with jaccard >= minJaccard, rounded to 6 dp.
    */
  /** Shingled docs (persisted): the shared upstream of every shingle-family
    * operator. Callers building from the SAME `documents` expression get the
    * same analyzed plan, so Spark's cache manager reuses one materialization
    * across [[ngramJaccardPairs]], [[benchmarkContamination]], and their
    * dependents within a session. */
  /** The shingle projection WITHOUT the cache registration — the stateless
    * per-row form streaming ingest needs (a streaming frame cannot persist;
    * see [[graft.streaming.EventStreams.shinglePostingStream]]). Batch
    * callers use [[shingledDocs]], which registers the one shared family
    * materialization over this same expression. */
  private[operators] def shingledDocsRaw(documents: DataFrame): DataFrame =
    // `sh` = DISTINCT 3-gram window h60 hashes, built by the one-pass
    // [[graft.functions.SpanWindowHashes]] (window = 3 ≡ a 3-shingle; same
    // space-joined bytes under the digest, so hash values equal
    // h60(shingles3(...)) elementwise). The family was ALREADY staked on
    // "hash classes == string classes, md5-collision-free in practice" for
    // its joins (the DuckDB oracle joins the strings); deriving sizes from
    // distinct hashes sits under the same declared contract and drops the
    // per-shingle string materialization (two zip_with string builds +
    // string array_distinct + per-posting re-hash) from the family's one
    // shared materialization.
    // sort_array: the arrays are consumed as SETS everywhere (explode,
    // size), so ordering is free to choose — ascending-sorted is the
    // precondition [[graft.functions.SortedIntersectCount]] (the verify
    // kernel of [[jaccardPairsFrom]]) stakes its two-pointer merge on.
    documents
      .select(col("doc_id"), col("lang"),
        sort_array(array_distinct(spanWindowHashes(tokens(col("text")), 3)))
          .as("sh"))
      .where(size(col("sh")) > 0)

  private[operators] def shingledDocs(documents: DataFrame): DataFrame =
    graft.CacheRegistry.persist(shingledDocsRaw(documents))

  /** Collision audit for the hash-native shingle/span families (verdict r11
    * #5, the [[graft.operators.TextAnalysis.bigramHashAudit]] pattern): per
    * window width, the number of DISTINCT window strings in the corpus vs
    * the number of DISTINCT h60 values over them. Equality is the "hash
    * classes == string classes" contract [[shingledDocs]] (3-shingles) and
    * the span family ([[SpanWindow]]-token windows) stake their joins on —
    * declared "md5-collision-free in practice", here a MEASURED fact per
    * dataset (run by DedupTextSpec at test scale and ScaleProbe at 10×; a
    * collision would silently merge two windows' posting lists). The string
    * side is built by the pre-[[graft.functions.GraftFunctions
    * .spanWindowHashes]] slice/concat formulation, whose elementwise hash
    * identity to the one-pass expression PropertySpec pins separately. */
  def spanHashAudit(documents: DataFrame,
      windows: Seq[Int] = Seq(3, SpanWindow)): DataFrame = {
    def audited(w: Int): DataFrame = {
      val staged = documents
        .select(col("doc_id"),
          explode(array(struct(tokens(col("text")).as("t")))).as("c"))
        .select(col("c.t").as("t"))
        // the size guard (not a bare sequence): sequence(1, 0) generates a
        // DESCENDING [1, 0] and slice(_, 0, _) errors
        .where(size(col("t")) >= w)
      staged
        .select(explode(transform(
          sequence(lit(1), size(col("t")) - w + 1),
          i => concat_ws(" ", slice(col("t"), i, lit(w))))).as("s"))
        .agg(countDistinct(col("s")).as("n_strings"),
          countDistinct(h60(col("s"))).as("n_h60"))
        .select(lit(w).as("window"), col("n_strings"), col("n_h60"))
    }
    windows.map(audited).reduce(_ unionByName _)
  }

  /** Shingle-hash postings over [[shingledDocs]] (persisted): joins run on
    * the 60-bit hash, not the string — same equality classes
    * (md5-collision-free in practice), ~3× smaller shuffle rows. */
  private[operators] def shinglePostings(docs: DataFrame): DataFrame =
    graft.CacheRegistry.persist(docs
      .select(col("doc_id"), col("lang"), explode(col("sh")).as("s")))

  def ngramJaccardPairs(documents: DataFrame, minJaccard: Double): DataFrame = {
    // persist the shingled docs: they feed sizes AND postings, and postings
    // feeds both sides of the self-join — without materialization the
    // shingle pipeline evaluates 3×. Same write-then-read posture as
    // [[lshCandidatePairs]].
    //
    // The VERIFIED pair table is persisted too: five same-family consumers
    // (the pairs query itself, survivor selection, leak-pair audit, CC
    // clustering, and the leak-free split producer) all re-derive this exact
    // plan at the same threshold, and without materialization each pays the
    // candidate join + verify again (~11 s each at sf10 — the family's
    // dominant cost). The table is O(verified pairs) — the duplicate
    // fraction of the corpus, orders of magnitude below the posting table —
    // so it is the cheapest-per-saved-second entry in the family cache.
    val docs = shingledDocs(documents)
    graft.CacheRegistry.persist(
      jaccardPairsFrom(docs, shinglePostings(docs), minJaccard))
  }

  /** [[ngramJaccardPairs]] restricted to the docs in `ids` WITHOUT
    * re-shingling that subset: candidates come from the documents-level
    * persisted posting subtree ([[shingledDocs]] → [[shinglePostings]] — the
    * ONE materialization the whole shingle family shares) semi-joined to the
    * id set. Semantically identical to `ngramJaccardPairs(documents ⋉ ids)`:
    * shingles and sizes are per-doc, so restricting the posting endpoints
    * restricts exactly the pairs whose BOTH endpoints survive, with unchanged
    * Jaccard values. This is how a composed pipeline stage reuses the corpus
    * materialization instead of paying a second shingle pass over its subset
    * (round-4 review: corpus_curate re-shingled its survivor set as a
    * separate cache entry). */
  def ngramJaccardPairsAmong(documents: DataFrame, ids: DataFrame,
      minJaccard: Double): DataFrame = {
    val docs = shingledDocs(documents)
    val keep = ids.select(col("doc_id"))
    // the CMS ordering key comes from the FULL family postings (any total
    // order is sound; the full-corpus sketch is the one already memoized)
    jaccardPairsFrom(
      docs.join(keep, Seq("doc_id"), "left_semi"),
      shinglePostings(docs), minJaccard)
  }

  /** Serialized Count-Min sketches of a posting table's shingle column,
    * memoized per analyzed plan (one ~1 MB sketch per corpus — the family
    * materialization is immutable per sfDir, so the sketch is too). eps
    * 1e-4 / confidence 0.99 ⇒ width 27,183 × depth 5 ≈ 1.1 MB shipped once
    * per stage; expected additive noise ≈ |postings|/width (≈950 at the
    * 26M postings of the sf10 gate). Measured eps sweep at sf10: 1e-5
    * (11 MB, noise ≈95) bought nothing — 5.3M → 5.1M candidates — because
    * this corpus's typical df is single-digit, under ANY affordable
    * sketch's noise floor; candidate selectivity between rare shingles is
    * an exact-df property (and exact per-posting df delivery costs a
    * 26M-row join + window sort, measured 13-23 s — the thing this
    * per-row form exists to avoid). What the sketch DOES guarantee, at
    * any eps, is the one property the 100 TB design needs: df ≫ noise
    * boilerplate can never order as rare, so hot shingles never enter a
    * prefix. */
  private val cmsMemo =
    scala.collection.concurrent.TrieMap.empty[Int, Array[Byte]]

  private[operators] def cmsBytesFor(postings: DataFrame): Array[Byte] = {
    val key = postings.queryExecution.analyzed.semanticHash()
    cmsMemo.getOrElseUpdate(key, {
      val row = postings
        .agg(count_min_sketch(col("s"), lit(1e-4d), lit(0.99d), lit(42))
          .as("cms")).head()
      if (row.isNullAt(0)) {
        // zero-posting corpus: a fresh empty sketch (estimate 0 for all)
        val empty = org.apache.spark.util.sketch.CountMinSketch
          .create(1e-4d, 0.99d, 42)
        val bos = new java.io.ByteArrayOutputStream()
        empty.writeTo(bos); bos.toByteArray
      } else row.getAs[Array[Byte]](0)
    })
  }

  /** For tests: drop memoized sketches (they are tiny and deterministic —
    * this only exists so suites can assert rebuild behavior). */
  private[operators] def clearCmsMemo(): Unit = cmsMemo.clear()

  /** Shared tail of the set-similarity join, prefix-filtered (the SSJoin /
    * PPJoin candidate rules — Chaudhuri et al. ICDE'06, Bayardo et al.
    * WWW'07, Xiao et al. WWW'08; public techniques, the reference computes
    * none of this):
    *
    *   1. A global rare-first shingle order: (CMS-estimated df ASC, hash
    *      ASC), from ONE memoized ~1 MB sketch ([[cmsBytesFor]]). Any total
    *      order is sound for the prefix rule (next point), so the sketch's
    *      error only costs selectivity; its one-sided guarantee (never
    *      underestimates) is what matters — genuinely hot shingles can
    *      never order as rare.
    *   2. Per doc, keep only the PREFIX of length `n − ⌈t·n⌉ + 1` in that
    *      order — built PER ROW off the cached sorted arrays
    *      (transform→array_sort→slice→posexplode): no df join, no window,
    *      no extra shuffle. Soundness: J(x,y) ≥ t ⟹ |x∩y| ≥ t·|x∪y| ≥
    *      ⌈t·|x|⌉ (and ≥ ⌈t·|y|⌉); if the prefixes were disjoint, order the
    *      prefix maxima b_x ≤ b_y — no common element fits in x's prefix
    *      (it would be ≤ b_x ≤ b_y, hence forced into y's suffix, whose
    *      elements all exceed b_y), yet x's suffix holds at most ⌈t·|x|⌉−1
    *      of the ≥⌈t·|x|⌉ common elements. Contradiction.
    *   3. Self-join PREFIX postings on (lang, hash) with (a) the length
    *      filter `t·max(n_a,n_b) ≤ min(n_a,n_b)` (J ≥ t ⟹ |∩| ≥ t·|∪|,
    *      |∩| ≤ min, |∪| ≥ max) and (b) the POSITIONAL filter: a true
    *      pair's globally-smallest common element sits at ranks (i, j)
    *      with every other common element ranked after it in BOTH docs, so
    *      overlap ≤ 1 + min(n_a−i, n_b−j); requiring that bound ≥
    *      t/(1+t)·(n_a+n_b) (the J≥t overlap minimum, real-valued so no
    *      ceiling subtlety) keeps at least that one matching row of every
    *      true pair — the distinct() then revives the pair.
    *   4. Verify each candidate EXACTLY from the cached sorted shingle
    *      arrays: `|∩|` via the zero-allocation merge kernel
    *      ([[graft.functions.SortedIntersectCount]]), sets joined under a
    *      SHUFFLE_HASH hint (the build side is the O(docs) array table —
    *      partition-sized on any cluster; SMJ would re-sort the fat
    *      candidate stream twice). Output (pairs + exact Jaccard) is
    *      bit-identical to the naive all-postings self-join
    *      ([[jaccardPairsAllPairs]], the retained parity reference;
    *      DedupPrefixJoinSpec pins equality).
    *
    * Why this is the 100 TB shape: the naive self-join explodes every hot
    * shingle quadratically — one boilerplate 3-gram shared by 1M docs makes
    * 5·10¹¹ join rows BEFORE the pair-level groupBy, independent of how few
    * pairs survive. Rare-first ordering pushes exactly those shingles into
    * suffixes, so they never enter the join; candidates are generated only
    * from each doc's RAREST ~(1−t)·n shingles, and the pair-level groupBy
    * disappears entirely (verification is per-candidate, one row each).
    *
    * `docs` is the (possibly restricted — [[ngramJaccardPairsAmong]]) doc
    * set whose pairs are wanted; `postings` feeds only the ordering sketch
    * and may cover a superset (a superset's order is still total). */
  private[operators] def jaccardPairsFrom(docs: DataFrame, postings: DataFrame,
      minJaccard: Double): DataFrame = {
    import graft.functions.GraftFunctions.sortedIntersectCount
    val pref = prefixPostings(docs, cmsBytesFor(postings), minJaccard)
    val cand = pref.as("a")
      .join(pref.as("b"),
        prefixCandidateCond(minJaccard) && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sets = docs.select(col("doc_id"), col("sh"))
    cand
      .join(sets.as("sa").hint("shuffle_hash"),
        col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb").hint("shuffle_hash"),
        col("doc_b") === col("sb.doc_id"))
      .withColumn("common", sortedIntersectCount(col("sa.sh"), col("sb.sh")))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh")) - col("common")), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** The per-row prefix build of [[jaccardPairsFrom]] step 2, shared with
    * the cross-relation form: per doc, the rarest-first (CMS-estimated df
    * ASC, hash ASC) prefix of length `n − ⌈t·n⌉ + 1`, exploded to
    * `(doc_id, lang, n, rk, s)` posting rows. Pure projection — no join, no
    * window, no shuffle. */
  private[operators] def prefixPostings(docs: DataFrame, cms: Array[Byte],
      minJaccard: Double): DataFrame = {
    import graft.functions.GraftFunctions.cmsEstimate
    val plen = (size(col("sh")) - ceil(size(col("sh")) * minJaccard) + 1)
      .cast("int")
    docs
      .select(col("doc_id"), col("lang"), size(col("sh")).as("n"),
        posexplode(slice(array_sort(transform(col("sh"),
          x => struct(cmsEstimate(x, cms).as("e"), x.as("s")))),
          lit(1), plen)))
      .select(col("doc_id"), col("lang"), col("n"),
        (col("pos") + 1).as("rk"), col("col.s").as("s"))
  }

  /** The SSJoin candidate condition over two `a.`/`b.`-aliased
    * [[prefixPostings]] streams: shared key, the length filter, and the
    * positional filter (see [[jaccardPairsFrom]] step 3 for the soundness
    * argument — none of it assumes the two sides come from one relation). */
  private def prefixCandidateCond(minJaccard: Double): Column = {
    val tt = minJaccard / (1.0 + minJaccard)
    col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
      col("a.n") >= col("b.n") * minJaccard &&
      col("b.n") >= col("a.n") * minJaccard &&
      (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) >=
        (col("a.n") + col("b.n")) * tt
  }

  /** Cross-relation set-similarity join — [[jaccardPairsFrom]] for pairs
    * that STRADDLE two shingled-doc frames with DISJOINT doc_id sets (the
    * daily-ingest batch × history shape). Same three candidate rules + exact
    * verification; the one structural difference is that the global
    * rare-first order comes from ONE sketch over the UNION of both sides'
    * postings — the prefix rule needs a single total order shared by both
    * sides, and union hotness is the right exclusion signal (candidate cost
    * at a shingle is the PRODUCT of its two prefix populations, so a
    * shingle hot on either side must order late on both).
    *
    * Why this exists (the 100 TB hazard the r15 self-join fix left open):
    * the previous new×history form joined ALL batch postings to history
    * postings semi-joined down to the batch's shingle keys — a defense that
    * evaporates exactly when it matters, because a boilerplate shingle in
    * today's batch IS in the batch's key set, and then every history doc
    * carrying it (∝ corpus) enters the exchange per batch doc. Prefixes are
    * immune: a hot shingle orders last and never leaves either side's
    * suffix. Output (doc_a = smaller id, doc_b, exact jaccard) is
    * bit-identical to the all-postings cross form on the union corpus
    * restricted to straddling pairs (DedupPrefixJoinSpec pins parity). */
  private[operators] def jaccardPairsAcross(docsA: DataFrame, docsB: DataFrame,
      minJaccard: Double): DataFrame = {
    val unionPosts = docsA.select(col("doc_id"), col("lang"), col("sh"))
      .unionByName(docsB.select(col("doc_id"), col("lang"), col("sh")))
      .select(col("doc_id"), col("lang"), explode(col("sh")).as("s"))
    val cms = cmsBytesFor(unionPosts)
    jaccardPairsAcrossPrebuilt(docsA, docsB,
      prefixPostings(docsB, cms, minJaccard), cms, minJaccard)
  }

  /** The shingle-order sketch over a shingle-set frame's postings — the
    * PUBLIC builder for the [[graft.sources.IncrementalHistory]] prefix
    * artifact family: at refresh time a pipeline computes this once over
    * history and stores the bytes next to [[shinglePrefixesUnder]]'s output,
    * so the daily probe never explodes history arrays again. */
  def shingleOrderCms(sets: DataFrame): Array[Byte] =
    cmsBytesFor(sets.select(col("doc_id"), col("lang"), explode(col("sh")).as("s")))

  /** [[prefixPostings]] of a shingle-set frame under a GIVEN order sketch —
    * the other half of the refresh-time prefix artifact (columns
    * `(doc_id, lang, n, rk, s)`). The threshold is baked into the prefix
    * LENGTH, so an artifact built at τ serves probes at exactly τ. */
  def shinglePrefixesUnder(sets: DataFrame, cms: Array[Byte],
      minJaccard: Double): DataFrame = {
    // pin the build threshold INTO the artifact: prefix lengths bake τ in,
    // so a probe at a different τ is silently unsound (missed duplicates,
    // not an error). Column metadata survives the parquet round trip
    // (Spark stores the Catalyst schema JSON in the footer), so
    // [[jaccardPairsAcrossPrebuilt]] can require() equality without a scan
    // (ADVICE r17).
    val m = new org.apache.spark.sql.types.MetadataBuilder()
      .putDouble(PrefixTauKey, minJaccard).build()
    prefixPostings(sets, cms, minJaccard).withColumn("rk", col("rk").as("rk", m))
  }

  /** Schema-metadata key carrying the τ a prefix artifact was built at. */
  private[graft] val PrefixTauKey = "graft.prefix.tau"

  /** The τ baked into a prebuilt prefix table's schema metadata, if the
    * artifact was written by [[shinglePrefixesUnder]] (pre-r18 artifacts
    * lack it — those fall back to the caller's convention). */
  private[graft] def prefixTauOf(prefB: DataFrame): Option[Double] =
    prefB.schema.fields.find(_.name == "rk")
      .filter(_.metadata.contains(PrefixTauKey))
      .map(_.metadata.getDouble(PrefixTauKey))

  /** [[jaccardPairsAcross]] with the B side's prefix postings (and the order
    * sketch both sides must share) PREBUILT — the daily-ingest serving form
    * (verdict r16 #1): at refresh time the pipeline stores history's order
    * sketch ([[shingleOrderCms]]) and prefix table ([[shinglePrefixesUnder]]),
    * and the probe's per-query work drops to prefixing the BATCH under the
    * stored order + the candidate join + exact verification. Output is
    * bit-identical to [[jaccardPairsAcross]] for ANY order sketch (the
    * prefix rule is sound under every shared total order — the sketch only
    * buys selectivity), so swapping the union sketch for the stored
    * history-only one changes candidate COUNT, never the verified pairs.
    * Measured at sf10 (BASELINE.md, quiet window): history-side prefix scan
    * 1.3-1.5 s + union sketch 0.8-1.0 s move to refresh; candidates 1.64M
    * under either sketch (union vs history-only) for 2200 verified pairs.
    * Exact-df ordering was measured too (503k candidates, 3.25× fewer) and
    * REJECTED for serving: the batch side would need per-shingle history df,
    * a corpus-sized exchange per query — the exact thing the incremental
    * contract bans. */
  private[operators] def jaccardPairsAcrossPrebuilt(docsA: DataFrame,
      setsB: DataFrame, prefB: DataFrame, cms: Array[Byte],
      minJaccard: Double): DataFrame = {
    // soundness precondition, ENFORCED when the artifact declares its τ
    // (ADVICE r17): the stored prefix LENGTHS are ⌈(1−τ)·n⌉+1-shaped, so a
    // probe at τ' < τ would silently MISS pairs (the filter drops
    // candidates the shorter threshold still requires)
    prefixTauOf(prefB).foreach(t => require(t == minJaccard,
      s"prefix artifact built at τ=$t but probed at τ=$minJaccard — " +
        "prefix lengths bake the threshold in; rebuild the artifact or " +
        s"probe at τ=$t"))
    val cand = prefixPostings(docsA, cms, minJaccard).as("a")
      .join(prefB.as("b"),
        // the documented doc_id-disjointness precondition, ENFORCED (ADVICE
        // r15): a re-ingested id otherwise emits a doc_a == doc_b self-pair
        // (jaccard 1.0) through the least/greatest projection, violating the
        // doc_a < doc_b invariant downstream consumers assume
        prefixCandidateCond(minJaccard) &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifyCandidatePairs(cand,
      docsA.select(col("doc_id"), col("sh")),
      setsB.select(col("doc_id"), col("sh")), minJaccard)
  }

  /** Exact verification tail shared by the cross-relation forms: join the
    * `(id_a, id_b)` candidates to each side's sorted shingle arrays
    * (SHUFFLE_HASH — the build side is the O(docs) array table,
    * partition-sized on any cluster; SMJ would re-sort the fat candidate
    * stream twice), count the intersection with the zero-allocation merge
    * kernel, keep J ≥ τ. */
  private def verifyCandidatePairs(cand: DataFrame, setsA: DataFrame,
      setsB: DataFrame, minJaccard: Double): DataFrame = {
    import graft.functions.GraftFunctions.sortedIntersectCount
    cand
      .join(setsA.as("sa").hint("shuffle_hash"),
        col("id_a") === col("sa.doc_id"))
      .join(setsB.as("sb").hint("shuffle_hash"),
        col("id_b") === col("sb.doc_id"))
      .withColumn("common", sortedIntersectCount(col("sa.sh"), col("sb.sh")))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (size(col("sa.sh")) + size(col("sb.sh")) - col("common")), 6))
      .where(col("jaccard") >= minJaccard)
      .select(least(col("id_a"), col("id_b")).as("doc_a"),
        greatest(col("id_a"), col("id_b")).as("doc_b"), col("jaccard"))
  }

  /** The pre-r15 naive tail — every posting on both sides of the self-join,
    * common counts via a pair-level groupBy. Retained as the parity
    * reference for [[jaccardPairsFrom]]'s prefix filter (DedupPrefixJoinSpec
    * asserts identical output on fixtures the prefix rule must not drop:
    * hot shingles, borderline-⌈t·n⌉ sizes, single-shingle docs). */
  private[operators] def jaccardPairsAllPairs(postings: DataFrame,
      sizes: DataFrame, minJaccard: Double): DataFrame = {
    val common = postings.as("a")
      .join(postings.as("b"),
        col("a.lang") === col("b.lang") && col("a.s") === col("b.s") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("jaccard",
        round(col("common").cast("double") /
          (col("sa.n") + col("sb.n") - col("common")), 6))
      .where(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Per-doc n-gram novelty — the inverse signal of near-duplication: the
    * share of a doc's 3-gram shingles that appear in NO other same-language
    * doc (`df = 1` over the corpus postings). Low novelty flags template /
    * boilerplate-derived docs that pairwise Jaccard misses because the
    * overlap is spread across MANY partners (each pair below threshold);
    * high novelty marks genuinely fresh content worth keeping at curation
    * time. Reuses the shingle family's ONE persisted posting subtree
    * ([[shingledDocs]] → [[shinglePostings]]) — run inside the family, the
    * document-frequency rollup is the only new work.
    *
    * Scale shape (r15): ONE map-side-combinable aggregate on the
    * (lang, hash) posting key — and nothing else posting-sized. A df=1
    * shingle has exactly ONE owner, so `min(doc_id)` on the df rollup IS
    * the doc it is unique to: per-doc unique counts come straight off the
    * rolled-up (already tiny) df table, and the denominator is `size(sh)`
    * off the per-doc array. The previous form joined the df table BACK to
    * the postings (a second posting-sized shuffle) to re-aggregate per doc
    * — pure repeated work the owner column makes unnecessary. */
  def ngramNovelty(documents: DataFrame): DataFrame = {
    val docs = shingledDocs(documents)
    // (doc_id, s) is unique within a posting table (sh is array_distinct'd
    // per doc), so count(1) per (lang, s) IS the distinct-doc frequency
    val uniq = shinglePostings(docs)
      .groupBy(col("lang"), col("s"))
      .agg(count(lit(1)).as("df"), min(col("doc_id")).as("owner"))
      .where(col("df") === 1)
      .groupBy(col("owner").as("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    docs.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("novelty"))
  }

  /** [[ngramNovelty]] over the PRECOMPUTED shingle-set and df artifacts
    * (r20, verdict r19 #5 — [[graft.sources.NgramPostingLake]]): the ingest
    * sink already holds every doc's sorted distinct shingle hashes and the
    * df table is its per-version compaction view, so the timed row pays the
    * PER-DOC NOVELTY PROBE — explode the sets, semi-join the df=1
    * membership on (lang, s), roll up per doc — the `unigram_logprob`
    * serving shape. Row-identical to [[ngramNovelty]]: a df=1 (lang, s) key
    * is held by exactly one doc, so the semi-join credits precisely the
    * rows the unique-owner aggregate credited (NovletyLakeSpec-style parity
    * pinned in ArtifactLakeSpec); lang compares null-safe because the
    * in-query form's groupBy treats null langs as one group. `documents`
    * feeds only the always-on corpus-identity pin. */
  def ngramNoveltyPrebuilt(documents: DataFrame, sets: DataFrame,
      dfStats: DataFrame): DataFrame = {
    CorpusPin.check(documents, sets, "ngramNoveltyPrebuilt")
    val df1 = dfStats.where(col("df") === 1)
      .select(col("lang").as("u_lang"), col("s").as("u_s"))
    val uniq = sets
      .select(col("doc_id"), col("lang"), explode(col("sh")).as("s"))
      .join(df1, col("lang") <=> col("u_lang") && col("s") === col("u_s"),
        "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_unique"))
    sets.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(uniq, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_unique"), lit(0L)).as("n_unique"),
        round(coalesce(col("n_unique"), lit(0L)).cast("double") /
          col("n_shingles"), 6).as("novelty"))
  }

  /** Near-dup survivor selection — the full dedup pipeline's last stage:
    * candidates (blocked shingle join) → verification (Jaccard ≥ τ) → keep
    * policy "drop any doc that duplicates a lower doc_id". One anti-join
    * against the verified-pair table; no iteration, no connected components
    * (transitive chains keep their minimum element, which is the policy's
    * fixed point for chains discovered pairwise). */
  def ngramSurvivors(documents: DataFrame, minJaccard: Double): DataFrame =
    ngramSurvivorsFromPairs(documents, ngramJaccardPairs(documents, minJaccard))

  /** [[ngramSurvivors]] over a PRECOMPUTED verified-pair table — the
    * production shape (verdict r15 #4): pairs are written to the lake once
    * per corpus version ([[graft.sources.VerifiedPairs]]) and survivor
    * selection is just this anti-join, no candidate generation at all. */
  def ngramSurvivorsFromPairs(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val dropped = pairs.select(col("doc_b").as("doc_id")).distinct()
    // no broadcast hint: `dropped` is the duplicate fraction of the corpus —
    // unbounded on a real crawl — so the scale-safe plan is a shuffled
    // left_anti; AQE still downgrades to broadcast when it measures small.
    documents
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /** Near-duplicate CLUSTERS — connected components over the verified pair
    * graph, labeling every clustered doc with its component's minimum doc_id
    * (the survivor under the keep-min policy; docs in no pair are not
    * emitted). Delegates to [[ConnectedComponents]] (alternating
    * large-star/small-star, provably O(log n) rounds) so an adversarially
    * deep duplicate chain — a million-doc boilerplate lineage — converges in
    * ~20 rounds instead of diameter-many min-label propagations. */
  def nearDupClusters(documents: DataFrame, minJaccard: Double): DataFrame =
    nearDupClustersFromPairs(ngramJaccardPairs(documents, minJaccard))

  /** [[nearDupClusters]] over a PRECOMPUTED verified-pair table (the
    * [[graft.sources.VerifiedPairs]] artifact shape — CC is a pure function
    * of the pair graph, so clustering never needs the corpus at all). */
  def nearDupClustersFromPairs(pairs: DataFrame): DataFrame =
    ConnectedComponents.run(
      pairs.select(col("doc_a").as("src"), col("doc_b").as("dst")))
      .select(col("doc_id"), col("label").as("cluster_rep"))

  /** The shingle family's history artifact in its lake shape — what a
    * daily pipeline appends per ingested batch so [[nearDupClustersIncremental]]
    * never re-shingles history: per doc, the SORTED distinct 3-shingle h60
    * array `(doc_id, lang, sh)`. One table subsumes the old postings+sizes
    * pair (postings = `explode(sh)`, size = `size(sh)` — per-row
    * projections, no shuffle), and keeping the per-doc ARRAY is what lets
    * the incremental probe run the same prefix-filtered candidate rule +
    * zero-allocation merge verification as the batch family
    * ([[jaccardPairsAcross]]) instead of a posting×posting join.
    * Deterministic function of the documents table (the IncrementalHistory
    * replay contract). */
  def shingleSetsOf(documents: DataFrame): DataFrame =
    shingledDocs(documents)

  /** Streaming-safe (unpersisted) twin of [[shingleSetsOf]] — one stateless
    * projection per arriving doc (the per-doc distinct + sort happen INSIDE
    * the row), value-identical by construction (same expression tree minus
    * the cache registration). */
  def shingleSetRows(documents: DataFrame): DataFrame =
    shingledDocsRaw(documents)

  /** Incremental near-dup CLUSTERING — the clustering family's daily-ingest
    * form, completing the set (exact / banding / span / media / embedding
    * already have O(batch) incremental twins). History enters as two
    * artifacts: its per-doc shingle-set table ([[shingleSetsOf]] — history
    * text is never re-tokenized) and yesterday's labeling
    * ([[nearDupClusters]] output). Today's work is:
    *
    *  1. shingle ONLY the batch (O(batch) — the one tokenize pass);
    *  2. verified new×new pairs: the standard prefix-filtered
    *     set-similarity self-join over the batch's own postings;
    *  3. verified new×history pairs: the CROSS-relation prefix join
    *     ([[jaccardPairsAcross]]) — candidates only where a batch prefix
    *     meets a history prefix under the shared rare-first order, exact
    *     verification from the two sides' sorted arrays. Hot-shingle
    *     immune: the r13–r15a form semi-joined history postings to the
    *     batch's shingle KEYS, a defense that evaporates when a
    *     boilerplate shingle is in today's batch (every history doc
    *     carrying it entered the exchange, ∝ corpus); prefixes exclude
    *     union-hot shingles on both sides by construction;
    *  4. connected components over (new pairs) ∪ (yesterday's labeling as
    *     STAR edges member→rep) — the star preserves yesterday's
    *     connectivity exactly at O(clustered docs) rows, so history×history
    *     pairs are NEVER re-verified or even re-read.
    *
    * Result ≡ [[nearDupClusters]] over history ∪ batch (same oracle):
    * Jaccard of any pair is unchanged by when its endpoints arrived, the
    * verified pair set decomposes as new×new ∪ new×hist ∪ hist×hist, and
    * CC over (histStar ∪ newPairs) has the same components as CC over
    * (histPairs ∪ newPairs) because a component's star is connectivity-
    * equivalent to its pair set. Labels are a REWRITE artifact (the one
    * non-append artifact of the six incremental modalities — O(clustered
    * docs), rewritten after each day's run). */
  def nearDupClustersIncremental(newDocs: DataFrame,
      historySets: DataFrame, historyLabels: DataFrame,
      minJaccard: Double): DataFrame = {
    val docs = shingledDocs(newDocs)
    val np = shinglePostings(docs)
    val newNew = jaccardPairsFrom(docs, np, minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val newHist = jaccardPairsAcross(docs, historySets, minJaccard)
      .select(col("doc_a"), col("doc_b"))
    mergeIntoLabels(newNew.unionByName(newHist), historyLabels)
  }

  /** [[nearDupClustersIncremental]] with history's prefix table and order
    * sketch PREBUILT (the [[graft.sources.IncrementalHistory.shinglePrefixes]]
    * / [[graft.sources.IncrementalHistory.shingleCms]] artifacts) — the
    * serving form: per-query work is batch-only shingling, batch prefixing
    * under the stored order, the candidate join + exact verify, and the
    * quotient merge. Bit-identical to the plain form (see
    * [[jaccardPairsAcrossPrebuilt]] — the sketch only buys selectivity;
    * DedupAcrossSpec pins parity). `minJaccard` must equal the threshold the
    * prefix artifact was built at — the prefix LENGTH bakes it in, so a
    * mismatched probe would be silently unsound; enforced by the caller
    * passing the artifact's own threshold. */
  def nearDupClustersIncrementalPrebuilt(newDocs: DataFrame,
      historySets: DataFrame, historyPrefixes: DataFrame,
      historyCms: Array[Byte], historyLabels: DataFrame,
      minJaccard: Double): DataFrame = {
    val docs = shingledDocs(newDocs)
    val np = shinglePostings(docs)
    val newNew = jaccardPairsFrom(docs, np, minJaccard)
      .select(col("doc_a"), col("doc_b"))
    val newHist = jaccardPairsAcrossPrebuilt(docs, historySets,
      historyPrefixes, historyCms, minJaccard)
      .select(col("doc_a"), col("doc_b"))
    mergeIntoLabels(newNew.unionByName(newHist), historyLabels)
  }

  private def mergeIntoLabels(newPairsIn: DataFrame,
      historyLabels: DataFrame): DataFrame = {
    // The CC merge runs on the QUOTIENT graph: each new pair's endpoints are
    // first contracted through yesterday's labeling (member → its component
    // rep; unlabeled endpoints — batch docs and never-clustered history —
    // keep their own id), so the star rounds see O(batch pairs) nodes
    // REGARDLESS of component sizes or how much of the lake the batch
    // touches; the blast radius is then expanded by ONE join that re-labels
    // exactly the components whose rep appears in the merged result.
    // Soundness: contracting a component to its rep preserves connectivity
    // (quotient-graph argument), and minima survive contraction because a
    // rep IS its component's minimum — so min over (reps ∪ new ids) in a
    // merged component equals min over all underlying members. Components
    // no new edge touches keep yesterday's labels verbatim. This dominates
    // both the naive all-star merge (CC ∝ clustered docs) and an
    // affected-subgraph star merge (CC ∝ touched-component members — which
    // on a near-dup-dense corpus is everything).
    val newPairs = newPairsIn
    val lbl = historyLabels.select(col("doc_id"), col("cluster_rep"))
    val contracted = newPairs
      .join(lbl.toDF("doc_a", "rep_a"), Seq("doc_a"), "left")
      .join(lbl.toDF("doc_b", "rep_b"), Seq("doc_b"), "left")
      .select(coalesce(col("rep_a"), col("doc_a")).as("src"),
        coalesce(col("rep_b"), col("doc_b")).as("dst"))
      .where(col("src") =!= col("dst"))
    val merged = ConnectedComponents.run(contracted)
    val repRelabel = merged
      .select(col("doc_id").as("cluster_rep"), col("label"))
    // members (and the center row itself) of every touched component take
    // the merged component's label
    val relabeled = historyLabels.join(repRelabel, Seq("cluster_rep"))
      .select(col("doc_id"), col("label").as("cluster_rep"))
    // merged nodes that were NOT old reps: batch docs and previously
    // unclustered history docs entering a component for the first time
    val newlyLabeled = merged
      .join(lbl.select(col("cluster_rep").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("label").as("cluster_rep"))
    val untouched = historyLabels
      .join(repRelabel.select(col("cluster_rep")), Seq("cluster_rep"), "left_anti")
      .select(col("doc_id"), col("cluster_rep"))
    untouched.unionByName(relabeled).unionByName(newlyLabeled)
  }

  /** Train/test contamination check — near-duplicate pairs that STRADDLE
    * split boundaries: even a deduplicated corpus leaks evaluation data when
    * a near-dup of a test doc sits in train. Joins the verified pair table
    * ([[ngramJaccardPairs]]) to the deterministic split assignment
    * ([[TextAnalysis.trainValTestSplit]]) on both endpoints and keeps pairs
    * whose splits differ. Plan: the pair table is tiny relative to the
    * corpus; both split joins are hash joins on doc_id (AQE broadcasts the
    * pair side when small). The fix for flagged pairs is policy — usually
    * moving the whole near-dup cluster into one split. */
  def splitLeakPairs(documents: DataFrame, minJaccard: Double): DataFrame =
    splitLeakPairsFromPairs(documents, ngramJaccardPairs(documents, minJaccard))

  /** [[splitLeakPairs]] over a PRECOMPUTED verified-pair table (the
    * [[graft.sources.VerifiedPairs]] artifact shape). */
  def splitLeakPairsFromPairs(documents: DataFrame, pairs: DataFrame): DataFrame = {
    val splits = TextAnalysis.trainValTestSplit(documents)
      .select(col("doc_id"), col("split"))
    pairs
      .join(splits.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(splits.as("sb"), col("doc_b") === col("sb.doc_id"))
      .where(col("sa.split") =!= col("sb.split"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("sa.split").as("split_a"), col("sb.split").as("split_b"))
  }

  /** Benchmark/eval contamination scan — the decontamination pass every
    * training corpus needs: flag TRAIN docs that share ANY word-3-shingle
    * with a doc in the TEST split (the benchmark stand-in; a real pipeline
    * points the bench side at its eval suites). Stricter than
    * [[splitLeakPairs]], which only reports verified near-dup pairs
    * (Jaccard ≥ τ) — n-gram contamination matters at much lower overlap.
    *
    * Per flagged train doc: how many distinct shingles leak and how many
    * test docs they touch. Plan shape (r15, the sketch-class-quotient move
    * from the media family applied to the bipartite exact form): the two
    * aggregates decompose so NEITHER runs the raw train×test posting
    * product —
    *
    *   - `n_shingles` (distinct leaked shingles) needs only MEMBERSHIP in
    *     the test side's distinct-shingle set: a semi-join of train
    *     postings against it, output ∝ train postings, never a product;
    *   - `n_test_docs` (distinct test docs touched) runs over test
    *     shingle-set CLASSES: test docs with IDENTICAL shingle sets are
    *     touched all-or-nothing (a train doc shares a shingle with one iff
    *     with all), so classes partition the test split and the distinct
    *     union collapses to Σ class sizes over touched classes. The join
    *     cost at a shingle drops from train_pop × test_DOC_pop to
    *     train_pop × test_CLASS_pop — on boilerplate/duplicate-heavy
    *     corpora (the ones contamination scans exist for) the class count
    *     saturates the way the phash ball did; worst case (all-distinct
    *     test sets) it equals the old form.
    *
    * 60-bit hashes shuffle, never strings; the test side is the split
    * fraction (~10%) of the corpus, AQE broadcast-joins its class postings
    * when small; at 100 TB with a fixed benchmark suite the bench class
    * posting list is KBs and the scan stays map-side.
    */
  def benchmarkContamination(documents: DataFrame): DataFrame = {
    val splits = TextAnalysis.trainValTestSplit(documents)
      .select(col("doc_id"), col("split"))
    // built on the SAME persisted shingle subtree as the ngram-Jaccard
    // family (identical analyzed plan → one cache entry serves both query
    // families); persisted with the split column because it feeds the
    // train postings, the test class quotient, AND the membership set
    val docsSplit = graft.CacheRegistry.persist(
      shingledDocs(documents).join(splits, Seq("doc_id")))
    val train = docsSplit.where(col("split") === "train")
      .select(col("doc_id"), explode(col("sh")).as("s"))
    // test shingle-set classes: (sh → class) with the class's doc count;
    // class postings explode once per DISTINCT set, not per doc. The class
    // id is the class's MIN doc_id — deterministic and collision-free
    // (classes partition the test docs), unlike a generated id, which is
    // unstable across plan re-evaluation
    val classes = docsSplit.where(col("split") === "test")
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("cid"))
    val classPost = classes
      .select(col("n_docs"), col("cid"), explode(col("sh")).as("s"))
    val nSh = train
      .join(classPost.select(col("s")).distinct(), Seq("s"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("s")).as("n_shingles"))
    val nTd = train
      .join(classPost, Seq("s"))
      .select(col("doc_id"), col("cid"), col("n_docs")).distinct()
      .groupBy(col("doc_id"))
      .agg(sum(col("n_docs")).cast("long").as("n_test_docs"))
    nSh.join(nTd, Seq("doc_id"))
  }

  /** Schema-metadata key stamping WHICH split specification a
    * [[graft.sources.ShinglePostingLake]] artifact froze (salt + ratios) —
    * the τ-pin move, split edition (verdict r18 #2): the test-side class
    * postings are only sound for the split spec they were built under. */
  val SplitSpecKey = "graft.split.spec"

  /** Full-corpus shingle postings with the FROZEN split assignment
    * `(doc_id, split, s)` — the [[graft.sources.ShinglePostingLake]] build
    * shape: one shingle pass (the ingest sink — in production the
    * [[graft.streaming.EventStreams.shingleSetStream]]'s accumulated sink
    * explodes to exactly this, and the split column is a pure projection
    * of doc_id)
    * joined to the deterministic split assignment. Refresh-time only —
    * no persist; the lake writes it partitioned by split so serving scans
    * prune to their split's directories. */
  private[graft] def shinglePostingsWithSplit(documents: DataFrame): DataFrame = {
    val splits = TextAnalysis.trainValTestSplit(documents)
      .select(col("doc_id"), col("split"))
    shingledDocsRaw(documents).join(splits, Seq("doc_id"))
      .select(col("doc_id"), col("split"), explode(col("sh")).as("s"))
  }

  /** The test-side shingle-set CLASS postings `(n_docs, cid, s)` derived
    * from the POSTING artifact's test partition (never from documents — a
    * rebuild never re-tokenizes, the [[graft.sources.SpanWindowLake
    * .dupHashes]] posture): reconstruct each test doc's distinct sorted
    * shingle set from its postings (exactly [[shingledDocs]]' `sh` — the
    * postings explode that array), quotient docs by identical set, explode
    * each class's set once. Class id = the class's MIN doc_id
    * (deterministic, collision-free — [[benchmarkContamination]]'s
    * contract). */
  private[graft] def testClassesFromPostings(postings: DataFrame): DataFrame =
    postings.where(col("split") === "test")
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("s"))).as("sh"))
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("cid"))
      .select(col("n_docs"), col("cid"), explode(col("sh")).as("s"))

  /** [[benchmarkContamination]] over the PREBUILT [[graft.sources
    * .ShinglePostingLake]] artifacts — the serving form (verdict r18 #2):
    * the full-corpus shingle pass and the test-side class quotient are
    * refresh-time work frozen per (corpus version, split spec), so the
    * timed query pays only the membership probe + the two rollups the row
    * exists to measure. Plan shape: the train scan PRUNES to its split
    * partition directories; the membership semi-join broadcasts the test
    * shingle set (the fixed benchmark suite — KBs at 100 TB); the surviving
    * ~leaked postings persist once and feed both aggregates, so the class
    * join shuffles only matching rows, never the train split. Row-identical
    * to [[benchmarkContamination]] (ArtifactLakeSpec pins it). `documents`
    * feeds only the always-on corpus pin; the split-spec pin is a metadata
    * equality — free. */
  def benchmarkContaminationPrebuilt(documents: DataFrame, postings: DataFrame,
      classPost: DataFrame, testShingles: DataFrame): DataFrame = {
    CorpusPin.check(documents, postings, "benchmarkContaminationPrebuilt")
    postings.schema.fields.find(_.name == "s")
      .filter(_.metadata.contains(SplitSpecKey))
      .foreach { f =>
        val stamped = f.metadata.getString(SplitSpecKey)
        require(stamped == TextAnalysis.splitSpecTag,
          s"benchmarkContaminationPrebuilt: the posting artifacts froze " +
            s"split spec '$stamped' but the engine's is " +
            s"'${TextAnalysis.splitSpecTag}' — the test side would be a " +
            "different doc set; rebuild the posting lake under this spec")
      }
    // membership-filter FIRST: only postings sharing a test shingle can
    // contribute to either aggregate, so the class fan-out join below works
    // on the leaked fraction, never the train split (semi-joins cannot fan
    // out, so no distinct guard is needed on the test set). Both test-side
    // artifacts ride the BROADCAST side explicitly: the operator's declared
    // production posture is a FIXED benchmark suite (its class postings are
    // KBs–MBs at any corpus scale), and at the synthetic gate scales the
    // tables sit just past the 10 MB auto threshold — without the hint both
    // joins shuffled the whole train posting scan (the 6.1 s sf10 reading;
    // hinted: the train side never exchanges before its rollups).
    val leaked = graft.CacheRegistry.persist(
      postings.where(col("split") === "train")
        .join(broadcast(testShingles), Seq("s"), "left_semi")
        .select(col("doc_id"), col("s")))
    // count, not countDistinct: the posting artifact is per-doc DISTINCT by
    // construction (it explodes [[shingledDocs]]' array_distinct sets and
    // the lake never rewrites rows), so the semi-join survivors stay
    // distinct per doc and the plain count equals the plain form's
    // countDistinct — without the Expand machinery over 10⁷ rows. This is a
    // declared precondition of the PREBUILT form (callers pass lake
    // artifacts); the in-query [[benchmarkContamination]] keeps
    // countDistinct because its input contract is any documents frame.
    val nSh = leaked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"))
    val nTd = leaked.join(broadcast(classPost), Seq("s"))
      .select(col("doc_id"), col("cid"), col("n_docs")).distinct()
      .groupBy(col("doc_id"))
      .agg(sum(col("n_docs")).cast("long").as("n_test_docs"))
    nSh.join(nTd, Seq("doc_id"))
  }

  /** Incremental exact dedup — the daily-ingest pattern: drop new docs whose
    * content hash already exists in the historical corpus, then dedup within
    * the batch itself (keep-min policy). `seen` is the (text_md5) column of
    * the corpus hash table a production pipeline maintains as a side output
    * of [[exact]]; the anti-join shuffles hashes only, never text, and AQE
    * picks broadcast when the batch or the hash table measures small. */
  def incrementalExact(newDocs: DataFrame, seen: DataFrame): DataFrame = {
    val hashed = newDocs.withColumn("text_md5", contentHash(col("text")))
    hashed
      .join(seen.select(col("text_md5")), Seq("text_md5"), "left_anti")
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** [[incrementalExact]] with a bloom runtime filter pushed into the
    * HISTORICAL side's scan — the shape that actually survives 100 TB.
    *
    * The plain anti-join's cost profile inverts at scale: the daily batch is
    * small but `seen` is the full corpus hash table, and a shuffled anti-join
    * moves ALL of it every day. Here a bloom sketch of the batch's hashes
    * (one batch scan, bounded `numBits/8`-byte artifact) is probed INSIDE the
    * `seen` scan via a codegen'd predicate, so the big side shrinks from
    * |corpus| to ≈ |true dups| + fpp·|corpus| rows BEFORE any exchange — at
    * which point AQE sees a tiny right side and the anti-join broadcasts.
    * This is Spark's own runtime row-level filter (InjectRuntimeFilter)
    * built explicitly: deterministic placement, no optimizer heuristics.
    *
    * Result is bit-identical to [[incrementalExact]] for ANY sketch size:
    * the bloom has no false negatives (every batch hash present in `seen`
    * survives the pruned scan, so the anti-join drops exactly the same
    * rows), and false positives only feed extra rows into the exact
    * anti-join, which discards them. Sizing only tunes the pruning rate —
    * parity is structural, and DedupSpec asserts it down to a 64-bit sketch.
    */
  def incrementalExactBloom(newDocs: DataFrame, seen: DataFrame,
      expectedItems: Long = 1L << 20, numBits: Long = 1L << 23): DataFrame = {
    // slim (doc_id, text_md5) projection: the sketch build and the join both
    // read it, and neither needs text again after the one hashing pass
    val hashed = graft.CacheRegistry.persist(
      newDocs.select(col("doc_id"), contentHash(col("text")).as("text_md5")))
    val sketch = bloomSketch(hashed, col("text_md5"), expectedItems, numBits)
    // empty batch → aggregate yields no sketch; result is structurally empty
    val pruned =
      if (sketch == null) seen.select(col("text_md5")).limit(0)
      else seen.select(col("text_md5"))
        .where(bloomMightContain(sketch, col("text_md5")))
    hashed
      .join(pruned, Seq("text_md5"), "left_anti")
      .groupBy(col("text_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_copies"))
  }

  /** CONTRAST CASE — NOT a serving form. Embedding-cosine near-duplicate
    * pairs blocked on `label`, a FIXED-cardinality attribute: per-block pair
    * count grows ∝ N² as the corpus grows (measured 45.9 s at sf1 vs 0.5 s
    * for the IVF-blocked twin at 10× replication). It exists to document,
    * with a number, why blocking keys must scale with the data; production
    * callers use [[embeddingNearDupPairsBy]] with an [[IvfIndex]]'s cluster
    * id (nlist ∝ √N keeps block size — and per-block pairs — bounded). Only
    * `contrast_`-prefixed queries and ScaleProbe may call this; PlanAuditSpec
    * asserts no serving query plans a label-blocked embedding self-join. */
  def embeddingNearDupPairsFixedBlock(embeddings: DataFrame, minSim: Double): DataFrame =
    embeddingNearDupPairsBy(embeddings, "label", minSim)

  /** Embedding-cosine near-duplicate pairs with an explicit blocking column
    * (never all-pairs; reference-formula cosine per pair). The 100 TB
    * instantiation passes an [[IvfIndex]]'s inverted file with
    * `blockKey = "cluster"`: candidate generation becomes a co-partitioned
    * self-join INSIDE the index layout (each cluster's pairs generate where
    * its rows already live — no all-pairs, no cross-cluster shuffle beyond
    * the join's own key exchange), and the blocking key is the same
    * geometric structure the ANN search prunes by, so near-duplicates —
    * which land in the same or adjacent clusters by construction — are
    * caught with far better recall than an arbitrary attribute block. */
  def embeddingNearDupPairsBy(embeddings: DataFrame, blockKey: String,
      minSim: Double): DataFrame = {
    // persisted like every other self-join input in this file (no CSE
    // across join children): a caller passing a DERIVED frame — an
    // assignment pipeline rather than an artifact-backed scan — would
    // otherwise pay its upstream computation on both sides (r5 review)
    val e = graft.CacheRegistry.persist(
      embeddings.select(col("vec_id"), col(blockKey).as("blk"), col("embedding")))
    e.as("a")
      .join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim",
        round(cosineSim(col("a.embedding"), col("b.embedding")), 6))
      .where(col("sim") >= minSim)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("sim"))
  }
}
