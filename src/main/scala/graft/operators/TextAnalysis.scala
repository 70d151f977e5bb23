package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Text-analysis operators for the training-data pipeline: token stats, quality
  * scoring, language id, fingerprinting. All pure per-row column expressions
  * (whole-stage codegen, zero shuffle) — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  /** Tiny embedded stopword list used by the quality score. A production list
    * would be a broadcast lookup; the operator shape is identical. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  /** Per-doc token statistics + quality signals:
    *  - n_tokens: whitespace token count
    *  - n_uniq:   distinct token count
    *  - uniq_ratio: n_uniq / n_tokens (repetition signal)
    *  - avg_token_len: mean token length
    *  - stop_ratio: stopword fraction (fluency-ish signal)
    * Ratios rounded to 6 dp for oracle-stable output.
    */
  def quality(documents: DataFrame): DataFrame = {
    // one single-pass codegen expression behind a Generate barrier (r15:
    // [[graft.functions.TokenStatsExpr]] replaces the split array + three
    // interpreted HOF folds; the composed form, TextAnalysisComposed in the
    // tests, is the executable spec)
    val staged = documents.select(
      col("doc_id"),
      explode(array(tokenStats(col("text"), Stopwords))).as("t"))
    val n = col("t.n_tokens")
    staged.select(
      col("doc_id"),
      n.as("n_tokens"),
      col("t.n_uniq").as("n_uniq"),
      round(col("t.n_uniq").cast("double") / n, 6).as("uniq_ratio"),
      round(col("t.sum_len").cast("double") / n, 6).as("avg_token_len"),
      round(col("t.stop_count").cast("double") / n, 6).as("stop_ratio"))
  }

  /** Token count per doc — the cheapest pipeline stat (BPE-ish counting would be
    * a broadcast-vocab flatMap at the same boundary). */
  def tokenCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), size(tokens(col("text"))).as("n_tokens"))

  /** GPT-2-style pre-tokenizer regex, restricted to constructs with identical
    * semantics in Java regex (Spark) and RE2 (DuckDB oracle): no lookahead, and
    * alternatives ordered so leftmost-first matching agrees. Contractions,
    * space-prefixed letter/digit runs, punctuation runs, residual spaces. */
  val BpeTokenRegex: String =
    "'(s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^ a-zA-Z0-9']+| +"

  /** Dual token count per doc: whitespace tokens and BPE-ish pre-tokenizer
    * segments (the unit an LLM tokenizer would then BPE-merge — counting the
    * segments bounds token cost without a vocab). Both counts come from ONE
    * single-pass codegen expression ([[graft.functions.BpeCountsExpr]] —
    * r15: replaces the split-array materialization AND the java.util.regex
    * find loop; 13.9 → ~2 s at sf10), staged once behind a Generate barrier
    * (CollapseProject would otherwise re-inline the scan per output column —
    * see [[quality]]). */
  def tokenCountsBpe(documents: DataFrame): DataFrame = {
    val staged = documents.select(
      col("doc_id"),
      explode(array(bpeCounts(col("text")))).as("c"))
    staged.select(
      col("doc_id"),
      col("c.n_ws").as("n_ws"),
      col("c.n_bpe").as("n_bpe"),
      round(col("c.n_bpe").cast("double") / col("c.n_ws"), 6).as("bpe_per_ws"))
  }

  /** Language-id guess per doc (marker-token heuristic — see GraftFunctions). */
  def languageId(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), col("lang"),
      langId(tokens(col("text"))).as("lang_guess"))

  /** Position-sensitive 60-bit document fingerprint (portable rolling-hash
    * analog) — content-defined identity for incremental dedup. */
  def fingerprints(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), fingerprint(tokens(col("text"))).as("fp"))

  /** SimHash per doc (delegates to Dedup for the sketch). */
  def simhashTable(documents: DataFrame): DataFrame = Dedup.simhashes(documents)

  /** Canonical text normalization for dedup/tokenizer front-ends: lowercase,
    * non-alphanumerics to spaces, collapse runs, trim. Exported as a 60-bit
    * content hash + length + preview so the result parquet stays narrow at
    * 100 TB while remaining value-comparable. Pure per-row expressions: runs
    * at scan speed, zero shuffle. The normalization itself is the one-pass
    * [[graft.functions.NormalizeTextExpr]] (r14 — the composed two-regex
    * chain was the most expensive row of the sf10 suite at 51.9 s; the
    * explode-through-struct keeps it evaluated ONCE for the three derived
    * columns). */
  def normalize(documents: DataFrame): DataFrame = {
    val norm = graft.functions.GraftFunctions.normalizeText(col("text"))
    documents.select(
      col("doc_id"),
      explode(array(struct(norm.as("t")))).as("c"))
      .select(
        col("doc_id"),
        h60(col("c.t")).as("norm_h60"),
        length(col("c.t")).as("n_norm_chars"),
        substring(col("c.t"), 1, 80).as("norm_prefix"))
  }

  /** PII patterns, restricted to constructs with identical semantics in Java
    * regex (Spark) and RE2 (DuckDB oracle): no lookaround, no backrefs. A
    * production scrubber adds locale-specific patterns at the same boundary.
    * Canonical definitions live with the expression
    * ([[graft.functions.PiiScrubSeq]]) — one source of truth for engine and
    * oracle. */
  val EmailRegex: String = graft.functions.PiiScrubSeq.EmailRegex
  val Ipv4Regex: String = graft.functions.PiiScrubSeq.Ipv4Regex
  val PhoneRegex: String = graft.functions.PiiScrubSeq.PhoneRegex

  /** PII scrubbing — the redaction pass every training corpus needs before
    * the tokenizer: emails → `<EMAIL>`, IPv4s → `<IP>`, simple phone numbers
    * → `<PHONE>`, with per-kind match counts for audit. Counts follow the
    * SEQUENTIAL scrub: each pattern is counted on the text as it stands
    * after the preceding replacements, so every count is an actual
    * substitution (counting all three on the raw text over-reports when
    * patterns overlap — a phone number inside an email address is consumed
    * by `<EMAIL>` and must not also count as a phone).
    *
    * The whole count+rewrite chain is ONE codegen expression
    * ([[graft.functions.PiiScrubSeq]]): three Matcher passes per row total,
    * no-match rows allocate nothing — vs up to nine regex passes for the
    * composed `regexp_extract_all`/`regexp_replace` formulation this
    * replaced (r10; identical results by construction, PiiSpec asserts
    * parity against the composed form). Pure per-row projection (scan
    * speed, zero shuffle); the scrubbed text is exported as 60-bit hash +
    * length so the output stays narrow at 100 TB (same posture as
    * [[normalize]]). */
  def piiScrub(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      graft.functions.GraftFunctions.piiScrubSeq(col("text")).as("c"))
      .select(
        col("doc_id"),
        col("c.n_emails").cast("int").as("n_emails"),
        col("c.n_ips").cast("int").as("n_ips"),
        col("c.n_phones").cast("int").as("n_phones"),
        h60(col("c.scrubbed")).as("scrub_h60"),
        length(col("c.scrubbed")).as("n_scrub_chars"))

  /** Repetition metrics (the Gopher/C4-family quality-filter signals):
    *  - top_tok_ratio: frequency of the most common token / n_tokens — high
    *    values flag boilerplate/keyword-stuffed docs;
    *  - uniq_shingle_ratio: distinct word-3-shingles / shingles — low values
    *    flag internally repetitive text.
    * The shingle ratio is a pure per-row HOF; the token mode needs a per-
    * (doc, token) count — expressed as the standard two-level aggregation
    * (partial+final map-side combine on (doc_id, token), then per-doc max),
    * which shuffles one count row per distinct (doc, token), never the text.
    */
  def repetition(documents: DataFrame): DataFrame = {
    // r15: `max_c` IS [[graft.functions.TokenStatsExpr]]'s mode_count and
    // `n_tokens` its token count, so the explode→groupBy→groupBy→join of
    // the composed form (one shuffled row per (doc, distinct token) — a
    // corpus-sized exchange at 100 TB) collapses to a single zero-shuffle
    // projection. r19 optimization round: the shingle ratio's two counts
    // come from the one-pass [[graft.functions.ShingleStatsExpr]] kernel —
    // the per-window shingle-string array + array_distinct hash-set build
    // left the row (value-identical field by field; TokenStatsSpec pins the
    // operator against the composed spec).
    val staged = documents.select(
      col("doc_id"),
      explode(array(struct(
        shingleStats(col("text")).as("ss"),
        tokenStats(col("text"), Stopwords).as("ts")))).as("c"))
    staged.select(
      col("doc_id"),
      col("c.ts.n_tokens").cast("long").as("n_tokens"),
      round(col("c.ts.mode_count").cast("double") /
        col("c.ts.n_tokens"), 6).as("top_tok_ratio"),
      when(col("c.ss.n_shingles") > 0,
        round(col("c.ss.n_uniq").cast("double") / col("c.ss.n_shingles"), 6))
        .as("uniq_shingle_ratio"))
  }

  /** [[corpusFilter]] thresholds (C4/Gopher-family rules, sized so each rule
    * drops a real fraction of the synthetic testdata: n_tokens p05 ≈ 16,
    * top-token-ratio p95 ≈ 0.16, uniq-ratio p05 ≈ 0.31). */
  val MinTokens = 24
  val MaxTopTokRatio = 0.16
  val MinUniqRatio = 0.35

  /** Composite quality filter — the keep/drop decision a C4-style cleaning
    * pipeline makes per doc, with the FIRST failing rule recorded for audit:
    * too_short (token floor), repeated_token (boilerplate/keyword stuffing),
    * low_diversity (distinct-token ratio). Comparisons are on 6-dp-rounded
    * ratios so the decision boundary is engine-portable (both engines produce
    * identical rounded values — see [[repetition]]). Plan shape: one two-level
    * aggregation (token mode) joined to per-row signals; everything else is
    * scan-speed projection. */
  /** Per-row token-mode count: max frequency of any token, computed as the
    * longest equal-run of the SORTED token array — one HOF fold, zero
    * shuffle. Value-identical to the explode→groupBy count formulation (the
    * oracle keeps that SQL shape), but the whole filter stays at scan speed:
    * at 100 TB the groupBy form shuffles one row per (doc, distinct token),
    * this form shuffles nothing. */
  private[graft] def tokenModeCount(words: Column): Column =
    aggregate(
      sort_array(words),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("mx")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))

  /** First failing quality rule over a staged token array (null when the doc
    * passes) — the ONE definition of the keep/drop rules, shared by the
    * batch filter, the composed pipeline, and the streaming ingest. `w` must
    * be a bound attribute (staged behind a Generate barrier), not a raw
    * expression — see [[quality]]. */
  def qualityReason(w: Column): Column =
    reasonFromCounts(size(w), tokenModeCount(w), size(array_distinct(w)))

  /** The keep/drop rule over the three counts — the ONE rule definition
    * both [[qualityReason]] (array form, streaming ingest) and the stats
    * form ([[corpusFilter]]) evaluate. */
  private[graft] def reasonFromCounts(n: Column, mode: Column, uniq: Column): Column =
    when(n < MinTokens, "too_short")
      .when(round(mode.cast("double") / n, 6) > MaxTopTokRatio, "repeated_token")
      .when(round(uniq.cast("double") / n, 6) < MinUniqRatio, "low_diversity")

  def corpusFilter(documents: DataFrame): DataFrame = {
    // all three signals come from ONE single-pass codegen expression (r15:
    // [[graft.functions.TokenStatsExpr]] — token floor, mode ratio,
    // distinct ratio; the keep/drop decision runs at scan speed with zero
    // shuffle; the pre-r15 HOF form is the executable spec below)
    documents.select(
      col("doc_id"),
      explode(array(tokenStats(col("text"), Stopwords))).as("c"))
      .select(col("doc_id"),
        col("c.n_tokens").cast("long").as("n_tokens"),
        reasonFromCounts(col("c.n_tokens"), col("c.mode_count"),
          col("c.n_uniq")).as("reason"))
      .withColumn("keep", col("reason").isNull)
  }

  /** Default chunk window (tokens) and stride for [[chunk]]; stride <
    * window ⇒ 16-token overlap between consecutive chunks. */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** Document chunking — the context-length-bounded slicing every LLM
    * training pipeline runs between curation and tokenization: sliding
    * windows of [[ChunkTokens]] whitespace tokens advancing by
    * [[ChunkStride]] (overlap keeps boundary-spanning context in some
    * chunk). A doc emits chunks at starts 0, S, 2S, … and stops once a
    * window reaches the end of the doc; the final chunk may be short. Chunk
    * text exports as a 60-bit hash + token count (narrow at 100 TB — the
    * text itself ships via the corpus export, same posture as [[normalize]]).
    *
    * Pure per-row computation: the token array is staged once behind a
    * Generate barrier, the window enumeration is an index-lambda transform
    * over it (`w` is a bound attribute, so nothing re-evaluates), and the
    * explode is the only fan-out — scan speed, zero shuffle.
    */
  def chunk(documents: DataFrame,
      c: Int = ChunkTokens, s: Int = ChunkStride): DataFrame = {
    require(c > 0 && s > 0 && s <= c, s"need 0 < stride <= window, got ($c, $s)")
    // r19 optimization round: the window enumeration + per-window slice copy
    // + array_join string build + h60 collapse into the one-pass
    // [[graft.functions.ChunkWindowHashes]] kernel (value-identical — see
    // its scaladoc; the composed form stays in the tests as the executable
    // spec)
    documents
      .select(col("doc_id"),
        explode(chunkWindowHashes(tokens(col("text")), c, s)).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.n_chunk_tokens").as("n_chunk_tokens"),
        col("ch.chunk_h60").as("chunk_h60"))
  }

  /** DuckDB oracle for [[chunk]] — same window enumeration and 1-based
    * inclusive slicing (both engines truncate the trailing window). */
  def chunkOracleSql(table: String,
      c: Int = ChunkTokens, s: Int = ChunkStride): String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM $table),
       |nn AS (SELECT doc_id, w, len(w) AS n FROM d),
       |ch AS (SELECT doc_id, unnest(list_transform(generate_series(0,
       |      CASE WHEN n > $c
       |        THEN CAST(floor((n - $c + ${s - 1}) / CAST($s AS DOUBLE)) AS INT)
       |        ELSE 0 END),
       |    i -> struct_pack(chunk_idx := i,
       |      toks := w[(i * $s + 1):(i * $s + $c)]))) AS e
       |  FROM nn)
       |SELECT doc_id, CAST(e.chunk_idx AS INT) AS chunk_idx,
       |  CAST(len(e.toks) AS INT) AS n_chunk_tokens,
       |  ${h60Sql("array_to_string(e.toks, ' ')")} AS chunk_h60
       |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin

  /** Window for [[boilerplate]] — shorter than [[ChunkTokens]] and disjoint
    * (stride = window) so repeated fragments align without overlap inflation. */
  val BoilerplateTokens = 16

  /** Boilerplate detection — repeated chunks ACROSS documents (headers,
    * footers, license blocks, templated paragraphs): the chunk-granular
    * complement of document-level dedup, and the pass that catches shared
    * fragments document dedup can't (two distinct docs sharing one template
    * paragraph). Disjoint [[BoilerplateTokens]]-token windows, grouped by
    * chunk hash, kept when >1 distinct doc contains the chunk. A production
    * pipeline anti-joins flagged hashes back onto the chunk table to strip
    * them. One shuffle on the 60-bit chunk hash — uniformly keyed, count
    * rows only. */
  def boilerplate(documents: DataFrame): DataFrame =
    chunk(documents, c = BoilerplateTokens, s = BoilerplateTokens)
      .groupBy(col("chunk_h60"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_chunks"))
      .where(col("n_docs") > 1)

  /** DuckDB oracle for [[boilerplate]]. */
  def boilerplateOracleSql(table: String): String = {
    val c = BoilerplateTokens
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM $table),
       |nn AS (SELECT doc_id, w, len(w) AS n FROM d),
       |ch AS (SELECT doc_id, unnest(list_transform(generate_series(0,
       |      CASE WHEN n > $c
       |        THEN CAST(floor((n - $c + ${c - 1}) / CAST($c AS DOUBLE)) AS INT)
       |        ELSE 0 END),
       |    i -> array_to_string(w[(i * $c + 1):(i * $c + $c)], ' '))) AS t
       |  FROM nn)
       |SELECT ${h60Sql("t")} AS chunk_h60,
       |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_chunks
       |FROM ch GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
       |ORDER BY chunk_h60""".stripMargin
  }

  /** Vocabulary size for [[oovRate]] — the synthetic corpus has ~31 distinct
    * tokens, so a 25-token vocab leaves a real out-of-vocabulary tail. */
  val OovVocabK = 25

  /** Out-of-vocabulary rate per doc against the corpus top-[[OovVocabK]]
    * vocabulary — the tokenizer-coverage signal (docs with high OOV rates
    * blow up into byte-fallback tokens and waste sequence budget). The vocab
    * is a deterministic LIMIT boundary (count DESC, token ASC — same
    * contract as [[vocabulary]]) broadcast against the token stream; counts
    * are exact integers so the rate is engine-portable. */
  def oovRate(documents: DataFrame, vocabK: Int = OovVocabK): DataFrame =
    oovRateWithVocab(documents, vocabulary(documents, vocabK))

  /** [[oovRate]] over a PREBUILT vocabulary table (the
    * [[graft.sources.VocabLake]] artifact shape) — the serving form (r19
    * optimization round): a production pipeline scores OOV against the
    * frozen tokenizer vocabulary, it never re-derives the vocabulary per
    * scoring pass. Row-identical when `vocab` is the corpus top-K (the
    * artifact materializes [[vocabulary]]'s output unchanged); the probe
    * pays only its own explode + broadcast join. A stamped vocabulary from
    * a different corpus fails the always-on corpus pin ([[CorpusPin]]). */
  def oovRateWithVocab(documents: DataFrame, vocabTable: DataFrame): DataFrame = {
    CorpusPin.check(documents, vocabTable, "oovRateWithVocab")
    val vocab = vocabTable.select(col("token")).withColumn("in_v", lit(1))
    documents.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6).as("oov_rate"))
  }

  /** DuckDB oracle for [[oovRate]]. */
  def oovRateOracleSql(table: String, vocabK: Int = OovVocabK): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM $table),
       |v AS (SELECT token FROM t GROUP BY token
       |  ORDER BY COUNT(*) DESC, token ASC LIMIT $vocabK)
       |SELECT doc_id, COUNT(*) AS n_tokens,
       |  CAST(SUM(CASE WHEN token NOT IN (SELECT token FROM v)
       |    THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
       |  round(CAST(SUM(CASE WHEN token NOT IN (SELECT token FROM v)
       |    THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS oov_rate
       |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Tokenizer application: encode the token stream to vocabulary ids —
    * the step between tokenizer training ([[vocabulary]]/[[bigramMerges]])
    * and sequence packing ([[TrainingMix.packSequences]]) in a real
    * pipeline. Ids are 1..vocabK in the [[vocabulary]] contract order
    * (count DESC, token ASC); 0 is the OOV/byte-fallback id. One row per
    * (doc, 1-based position) — scalar output, no array column, so the
    * result streams through any columnar sink and the oracle compare.
    *
    * Plan shape: the id table is a ≤vocabK-row broadcast (one map-side-
    * combined count + a k-row window); the encode is posexplode →
    * broadcast hash join — scan speed, the only shuffle is the vocab
    * aggregate's own. */
  def encodeTokens(documents: DataFrame, vocabK: Int = OovVocabK): DataFrame =
    encodeTokensWithVocab(documents, vocabulary(documents, vocabK))

  /** [[encodeTokens]] over a PREBUILT vocabulary table — the serving form
    * (r19 optimization round, same rationale as [[oovRateWithVocab]]: the
    * tokenizer vocabulary is a frozen, versioned artifact at encode time).
    * The K-row tid window runs over the artifact (driver-scale); the timed
    * row pays only the corpus explode + broadcast id join + dump sort. */
  def encodeTokensWithVocab(documents: DataFrame,
      vocabTable: DataFrame): DataFrame = {
    CorpusPin.check(documents, vocabTable, "encodeTokensWithVocab")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(desc("n"), asc("token")) // k-row window, driver-scale
    val vocab = vocabTable
      .withColumn("tid", row_number().over(w).cast("int"))
      .select(col("token"), col("tid"))
    documents
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "token")))
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        coalesce(col("tid"), lit(0)).as("tid"))
  }

  /** Per-language distribution of the uniqueness ratio (distinct/total
    * tokens, the [[graft.operators.TrainingMix.topQualityPerLang]] ranking
    * signal): exact interpolated p10/p25/p50/p75/p90 — the table you consult
    * BEFORE choosing a quality cut, instead of guessing a threshold and
    * counting casualties. Percentiles run over the 6-dp ROUNDED ratio (the
    * engine-wide rank contract); the interpolation itself is written out
    * EXPLICITLY over the sorted per-group list with the same expression
    * shape in both engines — built-in `percentile` vs `quantile_cont`
    * associate the lerp differently (`lo + f·(hi−lo)` vs `(1−f)·lo + f·hi`)
    * and the last-ulp difference flips 6-dp rounding on half-way values
    * (observed at sf0.01: p25 0.358499 vs 0.3585). Groups are languages,
    * so each group's sort is parallel across languages; the per-group
    * buffered list is the same memory shape built-in percentile() keeps
    * (at 100 TB both yield to approx sketches — declared trade-off,
    * [[Relational.eventPercentiles]]). */
  /** Explicit interpolated order statistic over a SORTED double list:
    * h = (n−1)·p; v = l[⌊h⌋+1] + (h−⌊h⌋)·(l[min(⌊h⌋+2, n)] − l[⌊h⌋+1]).
    * Output rounding is floor(x·10⁶ + 0.5)/10⁶, NEVER round(): lerping
    * 6-dp lattice inputs at frac .5 lands exactly half-way at the 7th
    * decimal, where the engines' round() semantics differ (the mix_sample
    * contract, observed in [[qualityPercentiles]]: 0.3584995 → 0.358499 vs
    * 0.3585). Shared by the batch report and the streaming drift monitor
    * ([[graft.streaming.EventStreams.qualityDriftStream]]) so their parity
    * is by construction. */
  def pctLerp(l: Column, p: Double): Column = {
    val n = size(l)
    val h = (n - 1).cast("double") * lit(p)
    val lo = floor(h).cast("int")
    val lower = element_at(l, lo + 1)
    val upper = element_at(l, least(lo + 2, n))
    val v = lower + (h - lo.cast("double")) * (upper - lower)
    floor(v * lit(1000000.0d) + lit(0.5d)) / lit(1000000.0d)
  }

  /** 6-dp-rounded uniqueness ratio (distinct/total tokens) of a STAGED token
    * array — the quality signal shared by [[qualityPercentiles]], its approx
    * and streaming variants, and [[graft.operators.TrainingMix
    * .topQualityPerLang]]'s contract. Callers must stage `words` behind a
    * Generate barrier (the explode(array(struct)) idiom) so the tokenize
    * runs once per row, not once per operator. */
  def uniqRatio(words: Column): Column =
    round(size(array_distinct(words)).cast("double") / size(words), 6)

  def qualityPercentiles(documents: DataFrame): DataFrame = {
    val staged = documents.select(col("lang"),
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
    val scored = staged.select(col("lang"), uniqRatio(col("c.w")).as("uniq_ratio"))
    scored.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sort_array(collect_list(col("uniq_ratio"))).as("l"))
      .select(col("lang"), col("n_docs"),
        pctLerp(col("l"), 0.1).as("p10"), pctLerp(col("l"), 0.25).as("p25"),
        pctLerp(col("l"), 0.5).as("p50"), pctLerp(col("l"), 0.75).as("p75"),
        pctLerp(col("l"), 0.9).as("p90"))
      .orderBy(col("lang"))
  }

  /** Bounded-memory production variant of [[qualityPercentiles]]: Spark's
    * `percentile_approx` (Greenwald–Khanna quantile summaries, public
    * algorithm) instead of the exact sorted buffer — per-group state is the
    * O(accuracy·log n) sketch, not the group's whole ratio list, so a
    * dominant language can no longer concentrate the corpus into one
    * aggregation buffer (the r6-ADVICE OOM hazard of the exact form; that
    * form stays as the oracle-parity report). Rank error ≤ n/accuracy per
    * group; returned values are actual data points (no interpolation), so
    * this variant is deliberately NOT hash-oracled — [[QualitySpec]] gates
    * it against the exact report instead. */
  def qualityPercentilesApprox(documents: DataFrame, accuracy: Int = 10000): DataFrame = {
    val staged = documents.select(col("lang"),
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
    val ps = Seq(0.1, 0.25, 0.5, 0.75, 0.9)
    staged.select(col("lang"), uniqRatio(col("c.w")).as("uniq_ratio"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        percentile_approx(col("uniq_ratio"),
          array(ps.map(lit): _*), lit(accuracy)).as("ps"))
      .select(col("lang") +: col("n_docs") +:
        ps.zipWithIndex.map { case (p, i) =>
          element_at(col("ps"), i + 1).as(s"p${(p * 100).toInt}") }: _*)
      .orderBy(col("lang"))
  }

  /** DuckDB oracle for [[qualityPercentiles]] — the SAME explicit lerp,
    * term-for-term, over `list(… ORDER BY …)`. */
  def qualityPercentilesOracleSql(table: String): String = {
    def pct(p: Double): String =
      s"""floor((l[CAST(floor((n - 1) * CAST($p AS DOUBLE)) AS BIGINT) + 1]
         |  + ((n - 1) * CAST($p AS DOUBLE)
         |      - floor((n - 1) * CAST($p AS DOUBLE)))
         |    * (l[LEAST(CAST(floor((n - 1) * CAST($p AS DOUBLE)) AS BIGINT) + 2, n_docs)]
         |       - l[CAST(floor((n - 1) * CAST($p AS DOUBLE)) AS BIGINT) + 1]))
         |  * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE))
         |  / CAST(1000000 AS DOUBLE)"""
        .stripMargin.replace("\n", " ")
    s"""WITH s AS (SELECT lang,
       |    round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
       |      / len(string_split(text, ' ')), 6) AS uniq_ratio
       |  FROM $table),
       |g AS (SELECT lang, COUNT(*) AS n_docs,
       |    CAST(COUNT(*) AS DOUBLE) AS n,
       |    list(uniq_ratio ORDER BY uniq_ratio) AS l
       |  FROM s GROUP BY lang)
       |SELECT lang, n_docs,
       |  ${pct(0.1)} AS p10, ${pct(0.25)} AS p25, ${pct(0.5)} AS p50,
       |  ${pct(0.75)} AS p75, ${pct(0.9)} AS p90
       |FROM g ORDER BY lang""".stripMargin
  }

  /** Salt for [[langBalancedSample]]. */
  val SampleSalt = "graftsample"

  /** Deterministic language-balanced sampling — the corpus-mixing primitive
    * (up/down-weight languages or sources to a target distribution): keep a
    * doc iff its salted portable hash falls under the language's rate. Like
    * [[trainValTestSplit]], this is a pure scan-speed projection: stable
    * across runs/engines/cluster sizes, no RNG state, no shuffle — and
    * rates are reproducible data lineage, not sampler state. */
  def langBalancedSample(documents: DataFrame,
      rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val bucket = h60(concat(lit(SampleSalt), lit("#"), col("doc_id").cast("string"))) % 1000000L
    val rateCol = rates.foldLeft(lit(defaultRate)) { case (acc, (lang, r)) =>
      when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    // compare in DOUBLE (bucket < 1e6 is double-exact): an integer cast here
    // would diverge between engines — Spark truncates double→long, DuckDB
    // rounds — flipping rates whose ×1e6 product lands just under an integer
    documents
      .where(bucket < rateCol * 1000000L)
      .select(col("doc_id"), col("lang"))
  }

  /** Corpus vocabulary: global token frequencies, top `k` by (count DESC,
    * token ASC — deterministic LIMIT boundary). The tokenizer-training /
    * vocab-pruning primitive; plan is the canonical word-count: explode →
    * partial+final count (map-side combine collapses each partition to its
    * distinct tokens before the shuffle) → TakeOrderedAndProject. Shuffle
    * volume is distinct-tokens×partitions rows, never the corpus. */
  def vocabulary(documents: DataFrame, k: Int): DataFrame =
    documents
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("token"))
      .limit(k)

  /** Per-language vocabulary report — type count (distinct tokens), token
    * count, type-token ratio: the vocabulary-growth signal a curation
    * pipeline tracks per language slice (a collapsing ratio flags
    * boilerplate floods; a ballooning one flags noise or encoding
    * breakage). Exact COUNT(DISTINCT) form — Spark plans the distinct as an
    * Expand + two-level aggregate, shuffling (lang, token) once; this is
    * the oracle-parity report. At 100 TB reach for the one-pass sketch twin
    * [[vocabSizeByLangApprox]] instead. */
  def vocabSizeByLang(documents: DataFrame): DataFrame =
    documents.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("tok")).as("n_types"),
        count(lit(1)).as("n_tokens"),
        round(countDistinct(col("tok")).cast("double") / count(lit(1)), 6)
          .as("type_token_ratio"))
      .orderBy(col("lang"))

  /** One-pass HLL++ twin of [[vocabSizeByLang]] (`approx_count_distinct`,
    * relative sd `rsd`): sketches merge map-side in the partial aggregate,
    * so the distinct Expand and its (lang, token) shuffle disappear — the
    * 100 TB form. Estimates are deliberately NOT hash-oracled; QualitySpec
    * closeness-gates them against the exact report (the
    * [[qualityPercentilesApprox]] precedent). */
  def vocabSizeByLangApprox(documents: DataFrame, rsd: Double = 0.02): DataFrame =
    documents.select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"))
      .agg(
        approx_count_distinct(col("tok"), rsd).as("n_types"),
        count(lit(1)).as("n_tokens"))
      .orderBy(col("lang"))

  /** Top-k adjacent-token-pair counts — the merge-candidate statistic BPE
    * tokenizer training computes each iteration (this is iteration one over
    * a word-level corpus; [[vocabulary]] is the unigram base). Same plan
    * family as the word count: one Generate pass (the token array staged
    * once — both `slice` views are children of the same exploded struct, so
    * the split runs once per row), map-side-combined count, bounded top-k.
    * The (n DESC, bigram ASC) order is total, so the LIMIT boundary is
    * engine-stable. Shuffle volume ∝ distinct bigrams × partitions. */
  def bigramMerges(documents: DataFrame, k: Int): DataFrame = {
    val staged = documents.select(
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
    val w = col("c.w")
    val len = greatest(size(w) - 1, lit(0))
    val bigrams = zip_with(
      slice(w, lit(1), len), slice(w, lit(2), len),
      (a, b) => concat(a, lit(" "), b))
    staged.select(explode(bigrams).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("bigram"))
      .limit(k)
  }

  /** Power-of-two document-length histogram with cumulative character share —
    * what you consult before choosing a packing budget ([[graft.operators
    * .TrainingMix.packSequences]]) or a truncation threshold: "what fraction
    * of the corpus bytes live in docs shorter than 2^b?". Bucket b holds docs
    * with n_chars ∈ [2^(b-1), 2^b): computed as the bit-length of n_chars
    * (`length(bin(n))` — identical integer semantics on both engines, no
    * float log2 whose rounding could flip exact powers of two).
    *
    * Plan shape: one map-side-combined aggregate over the scan (≤64 groups),
    * then windows over the ≤64-row result — the unpartitioned window is
    * driver-scale by construction, never a data-scale shuffle. Shares are
    * ratios of exact integer sums, so 6-dp rounding is engine-stable. */
  def lengthBuckets(documents: DataFrame): DataFrame = {
    val byBucket = documents
      .where(col("n_chars") > 0)
      .groupBy(length(bin(col("n_chars"))).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    val cum = org.apache.spark.sql.expressions.Window.orderBy(col("bucket"))
    val all = cum.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    byBucket
      .withColumn("cum_share", round(
        sum(col("sum_chars")).over(cum).cast("double") /
          sum(col("sum_chars")).over(all), 6))
      .orderBy(col("bucket"))
  }

  /** Per-doc unigram language-model score — the cheap perplexity proxy a
    * quality-filtering pipeline runs before anything model-based: avg over
    * the doc's tokens of ln(corpus_tf(token) / corpus_total). Low scores flag
    * docs full of rare/garbled tokens; high scores flag stopword soup — both
    * ends get clipped in a C4-style mix.
    *
    * Plan shape: one corpus-wide token count (partial+final — the shuffle is
    * distinct-tokens×partitions, never the corpus), joined back to the
    * per-(doc, token) counts (AQE broadcasts the vocab side when it measures
    * small — at 100 TB the vocab table is MBs vs the corpus' TBs).
    *
    * Parity note: the per-doc combination folds `c·ln(p)` terms in SORTED
    * order — a plain SUM over doubles would accumulate in engine-dependent
    * row order and can flip the 6-dp rounding on near-boundary values. The
    * fold is over a doc's DISTINCT tokens (bounded by vocab), not its
    * length, and (r15, the [[bigramLogprob]] move) its sort key is the
    * audited-injective h60 so token STRINGS never enter a shuffle, a cached
    * row, or the fold array — the oracle replays `ORDER BY h60(tok), wlp`
    * through the same md5-prefix key.
    */
  /** The per-doc token-hash count table `(doc_id, th, c)` — the shared
    * upstream of [[unigramLogprob]] (in-query, persisted by the caller) and
    * the [[graft.sources.UnigramLmLake]] refresh build (r19 optimization
    * round). Strings die at the MAP side (r15): the aggregate keys on the
    * 60-bit hash, so token text never enters an exchange, a cached row, or
    * the per-doc fold array. */
  private[graft] def unigramPerDocCounts(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), h60(col("tok")).as("th"))
      .agg(count(lit(1)).as("c"))

  def unigramLogprob(documents: DataFrame): DataFrame = {
    // corpus tf rolls up from the per-doc counts (one explode pass; the
    // second aggregation reduces the already-collapsed (doc, th, c) table,
    // never the raw token stream) — value-identical to counting the stream;
    // keyed on the 60-bit hash so strings die at the map side
    val perDoc = graft.CacheRegistry.persist(unigramPerDocCounts(documents))
    val tf = perDoc.groupBy(col("th")).agg(sum(col("c")).as("n"))
    val total = tf.agg(sum(col("n")).as("total"))
    scoreUnigrams(perDoc, tf, total)
  }

  /** [[unigramLogprob]] over the PREBUILT [[graft.sources.UnigramLmLake]]
    * artifacts — the serving form (r19 optimization round, the
    * [[bigramLogprobPrebuilt]] treatment applied to its unigram sibling):
    * the token explode and both corpus tables are refresh-time work (the
    * sink + its compaction views), so the timed query pays only the score
    * join and the per-doc sorted fold. Row-identical to [[unigramLogprob]]
    * (the score of a (doc, token) row is a deterministic function of the
    * three tables, which the artifacts materialize unchanged; ArtifactLakeSpec
    * pins it). `documents` feeds only the always-on corpus-identity pin. */
  def unigramLogprobPrebuilt(documents: DataFrame, perDoc: DataFrame,
      tf: DataFrame, totals: DataFrame): DataFrame = {
    CorpusPin.check(documents, perDoc, "unigramLogprobPrebuilt")
    scoreUnigrams(perDoc, tf, totals)
  }

  /** The scoring tail shared by both [[unigramLogprob]] forms: join the
    * per-doc counts to the corpus tf table, broadcast the one-row total,
    * fold `c·ln(n/total)` per doc in sorted (th, wlp) order (the family's
    * determinism contract). */
  private def scoreUnigrams(perDoc: DataFrame, tf: DataFrame,
      total: DataFrame): DataFrame = {
    val scored = perDoc
      .join(tf, Seq("th"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("th"), col("c"),
        (col("c") * log(col("n").cast("double") / col("total"))).as("wlp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        sort_array(collect_list(struct(col("th"), col("wlp")))).as("l"))
      .select(col("doc_id"), col("n_tokens"),
        round(
          aggregate(col("l"), lit(0.0), (acc, e) => acc + e.getField("wlp")) /
            col("n_tokens"), 6).as("avg_logp"))
  }

  /** DuckDB oracle for [[unigramLogprob]] — mirrors the sorted-fold contract
    * (list_reduce seeds with the first element; the Spark fold seeds with
    * 0.0 + first, which is bit-identical). */
  def unigramLogprobOracleSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $table),
       |ct AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
       |tf AS (SELECT tok, COUNT(*) AS n FROM t GROUP BY tok),
       |tot AS (SELECT SUM(n) AS total FROM tf),
       |w AS (SELECT doc_id, tok, c,
       |    c * ln(CAST(n AS DOUBLE) / total) AS wlp
       |  FROM ct JOIN tf USING (tok), tot),
       |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    list(wlp ORDER BY ${h60Sql("tok")}, wlp) AS l
       |  FROM w GROUP BY doc_id)
       |SELECT doc_id, n_tokens,
       |  round(list_reduce(l, (acc, x) -> acc + x) / n_tokens, 6) AS avg_logp
       |FROM a ORDER BY doc_id""".stripMargin

  /** Per-doc token Shannon entropy (nats) — the information-density quality
    * signal between [[repetition]]'s surface ratios and [[unigramLogprob]]'s
    * corpus LM score: near-zero entropy flags keyword-stuffed / looping docs
    * (one token dominates), high entropy with low [[unigramLogprob]] flags
    * garbled text. Uses the fold-friendly identity
    * `H = ln(n) − (Σ c·ln c)/n` so the only per-token float work is one ln
    * of an EXACT integer count.
    *
    * Plan shape: one explode pass collapsed to (doc, token, count), then one
    * per-doc aggregate — map-side combined, shuffle ∝ distinct (doc, token)
    * pairs, no joins. Parity: the Σ folds in SORTED token order (the
    * [[unigramLogprob]] sorted-fold contract) — a plain SUM over doubles
    * accumulates in engine-dependent row order. */
  def tokenEntropy(documents: DataFrame): DataFrame = {
    // one single-pass codegen expression behind a Generate barrier (r19
    // optimization round: [[graft.functions.TokenEntropyExpr]] replaces the
    // explode → groupBy(doc, tok) → groupBy(doc) chain, whose first
    // exchange shuffled one row per distinct (doc, token) — corpus-sized at
    // 100 TB — for a statistic that never combines values across rows; the
    // composed form stays in the tests as the executable spec). The WHERE mirrors
    // the explode form's implicit drop of null-text docs; the final
    // arithmetic is unchanged, and `fold` carries the family's sorted-fold
    // determinism contract (see the expression's bit-identity argument), so
    // the DuckDB oracle replays untouched.
    val staged = documents.where(col("text").isNotNull).select(
      col("doc_id"),
      explode(array(tokenEntropyStats(col("text")))).as("e"))
    staged.select(col("doc_id"),
      col("e.n_tokens").as("n_tokens"),
      col("e.n_types").as("n_types"),
      round(
        log(col("e.n_tokens").cast("double")) -
          col("e.fold") / col("e.n_tokens"), 6).as("entropy_nats"))
  }

  /** DuckDB oracle for [[tokenEntropy]] (sorted-fold contract as in
    * [[unigramLogprobOracleSql]]). */
  def tokenEntropyOracleSql(table: String): String =
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM $table),
       |ct AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
       |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_types,
       |    list(c * ln(CAST(c AS DOUBLE)) ORDER BY tok) AS l
       |  FROM ct GROUP BY doc_id)
       |SELECT doc_id, n_tokens, n_types,
       |  round(ln(CAST(n_tokens AS DOUBLE))
       |    - list_reduce(l, (acc, x) -> acc + x) / n_tokens, 6) AS entropy_nats
       |FROM a ORDER BY doc_id""".stripMargin

  /** Per-doc bigram conditional LM score — the next rung of the LM-scoring
    * ladder after [[unigramLogprob]]: avg over the doc's adjacent pairs of
    * `ln P(y|x)` with the corpus MLE `P(y|x) = B(x,y) / L(x)` (L = x's
    * bigram-LEFT marginal `Σ_y B(x,y)`, so probabilities condition only on
    * observed continuations and sum to 1 per x). Catches word-salad that
    * unigram scoring misses: common tokens in impossible orders score low
    * here while scoring fine there.
    *
    * Plan shape: one adjacent-pair explode collapsed to (doc, bigram, c) —
    * persisted, since BOTH corpus count tables roll up from it (the bigram
    * count on the bigram's 60-bit hash, the left marginal directly on the
    * left token's hash — no string splitting anywhere) and the per-doc
    * scoring joins back to it on the same long keys (~3× smaller shuffle
    * rows than string keys, the [[graft.operators.Dedup]] posting trick);
    * AQE broadcasts the vocab²-bounded count sides. Parity: sorted-fold
    * contract over the doc's distinct bigrams, string-ORDERED (`"x y"`
    * sorts identically to (x, y) because ' ' precedes every token char).
    * Hash-key caveat: 60-bit keys make collisions merge two bigrams'
    * counts — negligible below ~10^8 distinct bigrams (birthday bound
    * n²/2^61) and gate-verified exact at test scales, but at ~10^9
    * distinct bigrams expected collisions reach order 1; a deployment at
    * that vocabulary scale should widen the key (hash128 or (h60, bigram)
    * composite) if bit-exactness against a string-keyed reference is
    * required — the scores themselves shift by O(1/n) and no top-k rank
    * at realistic counts. */
  /** Adjacent-pair explode shared by [[bigramLogprob]] and
    * [[bigramHashAudit]]: (doc_id, p.bigram = "x y", p.x = left token). */
  private def adjacentPairs(documents: DataFrame): DataFrame = {
    val staged = documents.select(col("doc_id"),
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
    val w = col("c.w")
    val len = greatest(size(w) - 1, lit(0))
    staged.select(col("doc_id"), explode(zip_with(
      slice(w, lit(1), len), slice(w, lit(2), len),
      (a, b) => struct(concat(a, lit(" "), b).as("bigram"), a.as("x")))).as("p"))
  }

  /** Enforces the 60-bit hash-key caveat documented on [[bigramLogprob]]:
    * the operator's count tables key on `h60(bigram)` / `h60(x)`, which is
    * only equivalent to string keying while the hash is injective over the
    * corpus' actual key sets. This audit measures exactly that —
    * `n_bigrams == n_bh && n_x == n_xh` means zero collisions, so the
    * hash-keyed engine output provably matches a string-keyed reference on
    * THIS corpus. One countDistinct aggregate over the same pair explode the
    * operator runs; cheap enough to gate tests and scale probes, kept out of
    * the operator's own hot path. Run it wherever the operator meets a new
    * corpus scale (birthday bound: expected collisions ≈ n²/2^61 reach
    * order 1 near 10^9 distinct bigrams). */
  def bigramHashAudit(documents: DataFrame): DataFrame = {
    val pairAgg = adjacentPairs(documents).agg(
      countDistinct(col("p.bigram")).as("n_bigrams"),
      countDistinct(h60(col("p.bigram"))).as("n_bh"),
      countDistinct(col("p.x")).as("n_x"),
      countDistinct(h60(col("p.x"))).as("n_xh"))
    // full-token columns (ADVICE r15): [[unigramLogprob]] keys its tf table
    // on h60 over EVERY token, but left-pair tokens miss doc-final-position
    // and single-token-doc vocabulary — a collision there would merge tf
    // counts outside the audited set. One extra distinct over the plain
    // token explode closes the gap; n_tok == n_th covers the unigram key set.
    val tokAgg = documents
      .select(explode(tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("n_tok"),
        countDistinct(h60(col("tok"))).as("n_th"))
    pairAgg.crossJoin(tokAgg)
  }

  /** The per-doc bigram-hash count table `(doc_id, bh, xh, c)` — the shared
    * upstream of [[bigramLogprob]] (in-query, persisted by the caller) and
    * the [[graft.sources.BigramLmLake]] refresh build (r19). Strings die at
    * the MAP side (r15): the aggregate keys on the 60-bit hash pair, so the
    * bigram text never enters an exchange, a cached row, or the per-doc
    * fold array. */
  private[graft] def bigramPerDocCounts(documents: DataFrame): DataFrame =
    adjacentPairs(documents)
      .groupBy(col("doc_id"), h60(col("p.bigram")).as("bh"),
        h60(col("p.x")).as("xh"))
      .agg(count(lit(1)).as("c"))

  def bigramLogprob(documents: DataFrame): DataFrame = {
    // Strings die at the MAP side (r15): the per-doc aggregate keys on the
    // 60-bit hash pair, so the bigram text never enters an exchange, a
    // cached row, or the per-doc fold array — at sf30 the string-keyed form
    // went superlinear (11.7 s sf10 → 53.9 s sf30 solo) from shuffle/spill
    // bytes alone. The fold's determinism key moves with it: terms sort by
    // (bh, wlp) and the oracle replays `ORDER BY h60(bigram), wlp` with the
    // SAME md5-prefix key (h60Sql) — engine-identical order under the
    // family's audited injectivity contract ([[bigramHashAudit]]; a
    // collision would merge counts in BOTH the old and this form).
    val perDoc = graft.CacheRegistry.persist(bigramPerDocCounts(documents))
    val bc = perDoc.groupBy(col("bh")).agg(sum(col("c")).as("b"))
    val lm = perDoc.groupBy(col("xh")).agg(sum(col("c")).as("lx"))
    scoreBigrams(perDoc, bc, lm)
  }

  /** [[bigramLogprob]] over the PREBUILT [[graft.sources.BigramLmLake]]
    * artifacts — the serving form (verdict r18 #1): the pair explode and
    * all three count tables are refresh-time work (the sink + its
    * compaction views), so the timed query pays only the score joins and
    * the per-doc sorted fold. Row-identical to [[bigramLogprob]]
    * (ArtifactLakeSpec pins it at fixture scale and the lake drill's
    * rebuild path; sf10 solo 8.7 → 4.3 s): the score of a
    * (doc, bigram) row is a deterministic function of the three tables,
    * which the artifacts materialize unchanged. `documents` feeds only the
    * always-on corpus-identity pin ([[graft.operators.CorpusPin]]) — a
    * probe against artifacts covering a DIFFERENT corpus would silently
    * misscore every doc. */
  def bigramLogprobPrebuilt(documents: DataFrame, perDoc: DataFrame,
      bc: DataFrame, lm: DataFrame): DataFrame = {
    CorpusPin.check(documents, perDoc, "bigramLogprobPrebuilt")
    scoreBigrams(perDoc, bc, lm)
  }

  /** The scoring tail shared by both [[bigramLogprob]] forms: join the
    * per-doc counts to the corpus tables, fold `c·ln(B/L)` per doc in
    * sorted (bh, wlp) order (the family's determinism contract). */
  private def scoreBigrams(perDoc: DataFrame, bc: DataFrame,
      lm: DataFrame): DataFrame = {
    val scored = perDoc
      .join(bc, Seq("bh"))
      .join(lm, Seq("xh"))
      .select(col("doc_id"), col("bh"), col("c"),
        (col("c") * log(col("b").cast("double") / col("lx"))).as("wlp"))
    scored.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_bigrams"),
        sort_array(collect_list(struct(col("bh"), col("wlp")))).as("l"))
      .select(col("doc_id"), col("n_bigrams"),
        round(
          aggregate(col("l"), lit(0.0), (acc, e) => acc + e.getField("wlp")) /
            col("n_bigrams"), 6).as("avg_logp"))
  }

  /** DuckDB oracle for [[bigramLogprob]] (sorted-fold contract; same
    * `c · ln(B/L)` term shape as [[unigramLogprobOracleSql]]). The fold
    * orders by the SAME md5-prefix h60 the engine sorts its fold array by
    * (r15 hash-keyed form), wlp tie-break mirroring the struct sort. */
  def bigramLogprobOracleSql(table: String): String =
    s"""WITH p AS (SELECT doc_id, unnest(list_transform(
       |    list_zip(w[1:len(w)-1], w[2:len(w)]),
       |    q -> q[1] || ' ' || q[2])) AS bigram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM $table)),
       |pd AS (SELECT doc_id, bigram, COUNT(*) AS c FROM p GROUP BY 1, 2),
       |bc AS (SELECT bigram, CAST(SUM(c) AS BIGINT) AS b FROM pd GROUP BY bigram),
       |lm AS (SELECT string_split(bigram, ' ')[1] AS x,
       |    CAST(SUM(b) AS BIGINT) AS lx FROM bc GROUP BY 1),
       |s AS (SELECT pd.doc_id, pd.bigram, pd.c,
       |    pd.c * ln(CAST(bc.b AS DOUBLE) / lm.lx) AS wlp
       |  FROM pd JOIN bc USING (bigram)
       |  JOIN lm ON string_split(pd.bigram, ' ')[1] = lm.x),
       |a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       |    list(wlp ORDER BY ${h60Sql("bigram")}, wlp) AS l FROM s GROUP BY doc_id)
       |SELECT doc_id, n_bigrams,
       |  round(list_reduce(l, (acc, x) -> acc + x) / n_bigrams, 6) AS avg_logp
       |FROM a ORDER BY doc_id""".stripMargin

  /** Bigram collocations by pointwise mutual information — the statistic
    * behind phrase/multi-word-expression mining for tokenizer vocabularies
    * (where [[bigramMerges]] ranks by raw frequency, PMI ranks by how much
    * MORE often a pair co-occurs than its parts predict):
    * `pmi = ln( (B/M) / ((Ux/N)(Uy/N)) )`, computed as a sum of logs of
    * EXACT integer counts so the only engine-sensitive operation is `ln`
    * itself (the proven [[unigramLogprob]] parity surface) — never an
    * integer product like `B·N²` that would overflow at corpus scale.
    * `minCount` suppresses the unstable low-frequency tail (classic PMI
    * degeneracy: a pair seen once between two hapaxes scores near-max).
    *
    * Plan shape: one adjacent-pair explode → (x, y, n) aggregate, one token
    * explode → unigram table; the unigram side joins back twice (AQE
    * broadcasts it when it measures small — vocab is MBs against the
    * corpus' TBs), the (N, M) totals are a one-row broadcast. Output is
    * top-k by 6-dp-ROUNDED pmi with bigram tie-break (the rank contract:
    * a total order before LIMIT, stable across engines). */
  def pmiBigrams(documents: DataFrame, minCount: Long = 5L,
      k: Int = 100): DataFrame = {
    val staged = documents.select(
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
    val w = col("c.w")
    val len = greatest(size(w) - 1, lit(0))
    val pairs = staged.select(explode(zip_with(
      slice(w, lit(1), len), slice(w, lit(2), len),
      (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
    val big = graft.CacheRegistry.persist(pairs
      .groupBy(col("p.x").as("x"), col("p.y").as("y"))
      .agg(count(lit(1)).as("n")))
    val uni = graft.CacheRegistry.persist(documents
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("u")))
    val totals = big.agg(sum(col("n")).as("m"))
      .crossJoin(uni.agg(sum(col("u")).as("nt")))
    big.where(col("n") >= minCount)
      .join(uni.select(col("tok").as("x"), col("u").as("ux")), Seq("x"))
      .join(uni.select(col("tok").as("y"), col("u").as("uy")), Seq("y"))
      .crossJoin(broadcast(totals))
      .select(
        concat(col("x"), lit(" "), col("y")).as("bigram"), col("n"),
        round(
          log(col("n").cast("double")) +
            lit(2.0) * log(col("nt").cast("double")) -
            log(col("m").cast("double")) -
            log(col("ux").cast("double")) -
            log(col("uy").cast("double")), 6).as("pmi"))
      .orderBy(desc("pmi"), asc("bigram"))
      .limit(k)
  }

  /** DuckDB oracle for [[pmiBigrams]] — same log-sum association order
    * term-for-term (both engines fold `((((ln B + 2·ln N) − ln M) − ln Ux)
    * − ln Uy)` left-to-right, so the doubles are bit-identical). */
  def pmiBigramsOracleSql(table: String, minCount: Long, k: Int): String =
    s"""WITH b AS (SELECT unnest(list_transform(
       |    list_zip(w[1:len(w)-1], w[2:len(w)]),
       |    p -> p[1] || ' ' || p[2])) AS bigram
       |  FROM (SELECT string_split(text, ' ') AS w FROM $table)),
       |bc AS (SELECT string_split(bigram, ' ')[1] AS x,
       |    string_split(bigram, ' ')[2] AS y, COUNT(*) AS n
       |  FROM b GROUP BY 1, 2),
       |u AS (SELECT tok, COUNT(*) AS u
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM $table)
       |  GROUP BY tok),
       |t AS (SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM bc) AS m,
       |    (SELECT CAST(SUM(u) AS BIGINT) FROM u) AS nt)
       |SELECT bc.x || ' ' || bc.y AS bigram, bc.n AS n,
       |  round(ln(CAST(bc.n AS DOUBLE)) + 2 * ln(CAST(nt AS DOUBLE))
       |    - ln(CAST(m AS DOUBLE)) - ln(CAST(ux.u AS DOUBLE))
       |    - ln(CAST(uy.u AS DOUBLE)), 6) AS pmi
       |FROM bc JOIN u ux ON bc.x = ux.tok JOIN u uy ON bc.y = uy.tok, t
       |WHERE bc.n >= $minCount
       |ORDER BY pmi DESC, bigram ASC LIMIT $k""".stripMargin

  /** Salt for [[trainValTestSplit]] — changing it re-rolls every assignment. */
  val SplitSalt = "graftsplit"

  /** The split specification tag stamped into split-dependent artifacts
    * ([[graft.operators.Dedup.SplitSpecKey]]): salt + threshold layout of
    * [[splitFor]]. Rendering the ratios here means a future threshold edit
    * changes the tag, and every artifact frozen under the old spec refuses
    * its probe instead of silently serving a different test-doc set. */
  def splitSpecTag: String = s"$SplitSalt#train<80,val<90,test<100"

  /** The split label for a doc id — the ONE place the salted-hash bucket and
    * the 80/10/10 thresholds live; [[trainValTestSplit]] (batch + oracle
    * parity) and the streaming curation ingest both render this column, so
    * the assignments cannot desynchronize. */
  /** The salted split bucket (0..99) — the single definition [[splitFor]]
    * thresholds and [[trainValTestSplit]] exports (one place to change the
    * hash, per the one-definition rule — VERDICT r4 item #7). */
  def splitBucket(docId: Column): Column =
    h60(concat(lit(SplitSalt), lit("#"), docId.cast("string"))) % 100

  def splitFor(docId: Column): Column = {
    val bucket = splitBucket(docId)
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** Deterministic train/val/test assignment (80/10/10) by portable hash of
    * the salted id — the standard leak-proof split for training corpora:
    * stable across runs, clusters, and engine versions (md5 contract), no
    * sampling state, no shuffle; a pure scan-speed projection. */
  def trainValTestSplit(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      splitBucket(col("doc_id")).as("bucket"),
      splitFor(col("doc_id")).as("split"))
}
