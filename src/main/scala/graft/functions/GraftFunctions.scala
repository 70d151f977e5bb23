package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge => ExpressionUtils, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType}

/** Column-level API for the graft engine's scalar surface.
  *
  * Two design rules:
  *  1. Vector math goes through the native codegen expressions in
  *     [[VectorExpressions]] (hot path, whole-stage-codegen friendly).
  *  2. Everything that participates in a DuckDB-oracle-checked query is built ONLY
  *     from engine-portable primitives (md5 hex, arithmetic, string ops) so the
  *     oracle SQL computes bit-identical values. In particular all hashing is
  *     md5-derived ("portable hash") rather than Spark's murmur3 `hash()`, which
  *     DuckDB cannot reproduce.
  */
object GraftFunctions {

  // ---------------------------------------------------------------- vectors

  /** Cosine similarity, reference formula dot/(||a||*||b|| + 1e-8) (IVF.cpp:150). */
  def cosineSim(a: Column, b: Column): Column =
    ExpressionUtils.column(
      CosineSimilarity(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Sequential PII scrub in one codegen expression (3 regex passes total):
    * STRUCT<n_emails, n_ips, n_phones, scrubbed> — see [[PiiScrubSeq]]. */
  def piiScrubSeq(text: Column): Column =
    ExpressionUtils.column(PiiScrubSeq(ExpressionUtils.expression(text)))

  def dotProduct(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DotProduct(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** L2 norm — the reference's per-query norm hoist (cosine_similarity.cu:23-29). */
  def l2Norm(a: Column): Column =
    ExpressionUtils.column(L2Norm(ExpressionUtils.expression(a)))

  /** Register SQL names so `spark.sql("SELECT cosine_sim(a, b) ...")` works. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "dot_product", exprs => DotProduct(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "l2_norm", exprs => L2Norm(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "portable_h60", exprs => PortableHash60(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "portable_h32", exprs => PortableHash32(exprs.head), "built-in")
    reg.createOrReplaceTempFunction(
      "portable_h60b", exprs => PortableHash60B(exprs.head), "built-in")
  }

  // ---------------------------------------------------- portable hashing
  // h60/h32: first 15 (resp. 8) hex chars of md5 as a non-negative BIGINT.
  // Engine side: native [[PortableHash60]]/[[PortableHash32]] expressions
  // (digest bytes, no hex-string round-trip). Oracle side: DuckDB
  // `('0x' || substr(md5(s),1,15))::BIGINT` — value-identical (see
  // PortableHash scaladoc for the bit identity; parity is unit-tested).

  /** 60-bit portable hash of a string column. */
  def h60(s: Column): Column =
    ExpressionUtils.column(PortableHash60(ExpressionUtils.expression(s)))

  /** DuckDB SQL rendering of [[h60]] over SQL fragment `s`. */
  def h60Sql(s: String): String = s"(('0x' || substr(md5($s), 1, 15))::BIGINT)"

  /** The SECOND 60-bit portable hash of the same digest (md5 hex chars
    * 16..30) — pairs with [[h60]] into a 120-bit composite key, the
    * audit-gated escape hatch for the hash-keyed families' injectivity
    * contract (see [[graft.GraftEngine.auditHashKeys]]). */
  def h60b(s: Column): Column =
    ExpressionUtils.column(PortableHash60B(ExpressionUtils.expression(s)))

  /** DuckDB SQL rendering of [[h60b]] over SQL fragment `s`. */
  def h60bSql(s: String): String = s"(('0x' || substr(md5($s), 16, 15))::BIGINT)"

  /** 32-bit portable hash of a string column. */
  def h32(s: Column): Column =
    ExpressionUtils.column(PortableHash32(ExpressionUtils.expression(s)))

  /** Every `window`-token rolling window's [[h60]] over an ARRAY<STRING>
    * column, one pass ([[SpanWindowHashes]]) — value-identical to
    * `transform(sequence(1, n-w+1), i -> h60(concat_ws(' ', slice(toks, i, w))))`
    * without that chain's per-window slice copy + string build. The span
    * dedup family's window builder. */
  def spanWindowHashes(toks: Column, window: Int): Column =
    ExpressionUtils.column(
      SpanWindowHashes(ExpressionUtils.expression(toks), window))

  /** CMS frequency estimate of a BIGINT column against captured sketch
    * bytes ([[CmsEstimate]]) — the rare-first ordering key of the
    * prefix-filtered set-similarity join. */
  def cmsEstimate(key: Column, sketchBytes: Array[Byte]): Column =
    ExpressionUtils.column(
      CmsEstimate(ExpressionUtils.expression(key), sketchBytes))

  /** `|a ∩ b|` of two ASCENDING-SORTED duplicate-free ARRAY<LONG> columns
    * ([[SortedIntersectCount]]) — value-identical to
    * `size(array_intersect(a, b))` on that shape (SortedIntersectSpec pins
    * it) without the built-in's per-row hash-set allocation. The
    * set-similarity verify kernel. */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ExpressionUtils.column(SortedIntersectCount(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Every frame's perceptual (ahash, dhash) struct over a STRING column,
    * one pass ([[PhashFrames]]) — value-identical to the compositional
    * substr/h32/threshold chain (PhashSpec pins the identity). The media
    * dedup family's sketch builder. */
  def phashFrames(text: Column, stride: Int, cells: Int): Column =
    ExpressionUtils.column(
      PhashFrames(ExpressionUtils.expression(text), stride, cells))

  /** THE content-identity hash for exact dedup — one definition shared by
    * batch ([[graft.operators.Dedup]].exact / incrementalExact) and
    * streaming (dedupDocStream / dedupDocStreamBounded / curateDocStream):
    * the incremental anti-join compares hashes produced at DIFFERENT sites
    * and times, so a drift in one site (e.g. normalizing before hashing)
    * would silently stop deduplicating. Oracle side: `md5(text)` (DuckDB
    * md5 is over UTF-8 bytes already). */
  def contentHash(text: Column): Column = md5(encode(text, "UTF-8"))

  def h32Sql(s: String): String = s"(('0x' || substr(md5($s), 1, 8))::BIGINT)"

  // ------------------------------------------------------------- text ops
  // The documents testdata is single-space-separated ASCII tokens (verified in
  // TESTDATA profiling), so a literal single-space split is exact and portable
  // (DuckDB string_split(text, ' ')).

  /** Whitespace tokenization: text -> ARRAY<STRING>. */
  def tokens(text: Column): Column = split(text, " ")

  /** Word 3-shingles, distinct. Empty array when the doc has fewer than 3
    * tokens (ANSI-safe: no negative slice lengths, no out-of-bounds access).
    *
    * Implementation note (hot-path): built from `slice` + `zip_with` so the
    * `words` array is a DIRECT child of each operator — evaluated O(1) times
    * per row. The naive `transform(sequence(1, n-2), i -> element_at(words, i)
    * …)` form re-evaluates the inlined `split(text)` per lambda element after
    * Catalyst's CollapseProject, turning shingling O(n²) per row (measured 43s
    * for 500 docs before this rewrite; ~1s after).
    */
  def shingles3(words: Column): Column = {
    val n = size(words)
    val w1 = slice(words, lit(1), n - 2)
    val w2 = slice(words, lit(2), n - 2)
    val w3 = slice(words, lit(3), n - 2)
    when(n >= 3,
      array_distinct(
        zip_with(zip_with(w1, w2, (a, b) => concat(a, lit(" "), b)), w3,
          (ab, c) => concat(ab, lit(" "), c))))
      .otherwise(array().cast("array<string>"))
  }

  /** Word 3-shingles WITH multiplicity (no dedup) — for repetition metrics,
    * where the duplicate fraction IS the signal. Same slice+zip_with shape as
    * [[shingles3]] (see its hot-path note). */
  def shingles3Raw(words: Column): Column = {
    val n = size(words)
    val w1 = slice(words, lit(1), n - 2)
    val w2 = slice(words, lit(2), n - 2)
    val w3 = slice(words, lit(3), n - 2)
    when(n >= 3,
      zip_with(zip_with(w1, w2, (a, b) => concat(a, lit(" "), b)), w3,
        (ab, c) => concat(ab, lit(" "), c)))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB rendering of [[shingles3Raw]] over a list-of-words fragment `w`. */
  def shingles3RawSql(w: String): String =
    s"(CASE WHEN len($w) >= 3 THEN list_transform(" +
      s"generate_series(1, len($w) - 2), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2]) " +
      s"ELSE [] END)"

  /** DuckDB rendering of [[shingles3]] over a list-of-words fragment `w`. */
  def shingles3Sql(w: String): String =
    s"(CASE WHEN len($w) >= 3 THEN list_distinct(list_transform(" +
      s"generate_series(1, len($w) - 2), i -> $w[i] || ' ' || $w[i+1] || ' ' || $w[i+2])) " +
      s"ELSE [] END)"

  // MinHash universal-hash family over a base h32: h_j(s) = (a_j·h32(s) + b_j)
  // mod P, P = 2^31−1. ONE md5 per shingle (the a·x+b derivations are integer
  // ops), vs md5-per-(j,shingle) — 8× less digest work for K=8. Bounds keep
  // every intermediate exact and ANSI-safe on both engines:
  // a_j < 2^20, h32 < 2^32 ⇒ a·h + b < 2^52 < int64 max.
  val MinhashP: Long = PortableHash.MinhashP
  private[graft] val MinhashA: Seq[Long] = PortableHash.MinhashA.toSeq
  private[graft] val MinhashB: Seq[Long] = PortableHash.MinhashB.toSeq

  /** One-pass K=8 MinHash signature (ARRAY<BIGINT>), null on empty shingles. */
  def minhashSignature(shingles: Column): Column =
    ExpressionUtils.column(MinhashSignature(ExpressionUtils.expression(shingles)))

  /** The K=8 MinHash signature DIRECTLY from the token array — value-
    * identical to `minhashSignature(shingles3(tokens))` without the shingle
    * string/distinct-set materialization ([[MinhashSignatureTokens]] has the
    * equivalence argument); null below 3 tokens. */
  def minhashSignatureTokens(tokens: Column): Column =
    ExpressionUtils.column(MinhashSignatureTokens(ExpressionUtils.expression(tokens)))

  /** MinHash value j over a shingle array: min over shingles of
    * (a_j·h32(s)+b_j) mod P. NULL when the shingle set is empty. Computed with
    * higher-order functions — no explode, no shuffle: at 100 TB this stays
    * embarrassingly parallel per row.
    */
  def minhashJ(shingles: Column, j: Int): Column =
    array_min(transform(shingles, s =>
      (lit(MinhashA(j)) * h32(s) + lit(MinhashB(j))) % lit(MinhashP)))

  def minhashJSql(shingles: String, j: Int): String =
    s"list_min(list_transform($shingles, s -> " +
      s"(${MinhashA(j)} * ${h32Sql("s")} + ${MinhashB(j)}) % $MinhashP))"

  /** SimHash over the token multiset, `bits` bits (default 32), h32-based.
    * bit b set iff #(tokens with hash bit b set) * 2 >= #tokens — the classic
    * sign-of-sum with +1/-1 votes, ties counting as set.
    *
    * Hot-path shape: ONE md5 per token (not per token×bit) — a single
    * `aggregate` pass folds per-bit counters (zip_with over a 0..bits-1
    * sequence), and the `finish` lambda packs the bits; the counter array is a
    * bound lambda variable so nothing re-evaluates. Bit extraction uses
    * floor-div-by-2^b (exact: h32 < 2^32 fits a double) because Spark's
    * shiftright needs a literal shift amount.
    */
  def simhash(words: Column, bits: Int = 32): Column = {
    require(bits == 32, "native SimHash32 implements the 32-bit sketch")
    ExpressionUtils.column(SimHash32(ExpressionUtils.expression(words)))
  }

  /** Position-sensitive document fingerprint: XOR over tokens of h60(pos#token).
    * XOR is order-insensitive as an aggregate but the hashed position makes the
    * fingerprint order-sensitive — the portable analog of a rolling hash.
    */
  def fingerprint(words: Column): Column =
    // r19 optimization round: one-pass fused kernel (no per-token concat
    // build, no interpreted HOF lambdas — [[PositionalFingerprint]] has the
    // value-identity argument; the composed chain below stays as the
    // executable spec PortableHashSpec pins it against)
    ExpressionUtils.column(
      PositionalFingerprint(ExpressionUtils.expression(words)))

  // -------------------------------------------------------- language id
  // Deterministic marker-token heuristic (the corpus is synthetic word soup; a
  // real n-gram profile model would plug in at the same column boundary). Scored
  // as argmax over languages of marker-hit counts, ties broken by language code
  // order — the whole thing is a pure Column expression so the DuckDB oracle can
  // mirror it exactly.
  /** Canonical table lives with the expression ([[LangIdExpr.Markers]]) —
    * one source of truth for engine and oracle. */
  val langMarkers: Seq[(String, Seq[String])] = LangIdExpr.Markers

  /** Best-scoring language code, 'und' when no marker hits at all (incl.
    * on a NULL token array — matching the composed form's fall-through) —
    * one array pass with a marker→languages hash lookup ([[LangIdExpr]];
    * the composed per-language `filter` HOF argmax it replaced walks the
    * token array once PER language, which a production-size marker table
    * can't afford). The marker table is injectable (compile-time constant
    * per plan) so the 100-language cost model is exercisable;
    * the parity spec keeps the composed form (GraftFunctionsComposed in the
    * tests). */
  def langId(words: Column,
      markers: Seq[(String, Seq[String])] = langMarkers): Column =
    ExpressionUtils.column(LangIdExpr(ExpressionUtils.expression(words), markers))

  /** Corpus text normalization (lowercase, strip non-[a-z0-9 ], collapse
    * runs, trim) as one single-pass codegen expression — the composed
    * three-copy / two-regex chain it replaced was the most expensive row of
    * the sf10 suite ([[NormalizeTextExpr]] has the equivalence argument). */
  def normalizeText(text: Column): Column =
    ExpressionUtils.column(NormalizeTextExpr(ExpressionUtils.expression(text)))

  /** Both token counts of `tok_count_bpe` — `STRUCT<n_ws, n_bpe>` — in one
    * byte pass (no split-array materialization, no regex engine;
    * [[BpeCountsExpr]] has the equivalence argument). */
  def bpeCounts(text: Column): Column =
    ExpressionUtils.column(BpeCountsExpr(ExpressionUtils.expression(text)))

  /** Every quality-family token statistic — `STRUCT<n_tokens, n_uniq,
    * mode_count, sum_len, stop_count>` — in one byte pass with a reused
    * per-thread count table (no split array, no interpreted HOF folds;
    * [[TokenStatsExpr]] has the equivalence argument per field). */
  def tokenStats(text: Column, stopwords: Seq[String]): Column =
    ExpressionUtils.column(TokenStatsExpr(ExpressionUtils.expression(text), stopwords))

  /** Every sliding chunk window's (chunk_idx, n_chunk_tokens, chunk_h60)
    * over an ARRAY<STRING> column, one pass ([[ChunkWindowHashes]]) —
    * value-identical to the compositional sequence/slice/array_join/h60
    * chain (see the expression scaladoc). The chunking family's window
    * builder. */
  def chunkWindowHashes(toks: Column, c: Int, s: Int): Column =
    ExpressionUtils.column(
      ChunkWindowHashes(ExpressionUtils.expression(toks), c, s))

  /** The two word-3-shingle counts — `STRUCT<n_shingles, n_uniq>` — in one
    * byte pass ([[ShingleStatsExpr]] has the equivalence argument against
    * `size(shingles3Raw(w))` / `size(array_distinct(shingles3Raw(w)))`). */
  def shingleStats(text: Column): Column =
    ExpressionUtils.column(ShingleStatsExpr(ExpressionUtils.expression(text)))

  /** The per-doc entropy aggregate — `STRUCT<n_tokens, n_types, fold>` with
    * `fold` = Σ c·ln(c) over distinct tokens in ascending binary token
    * order — in one byte pass ([[TokenEntropyExpr]] has the bit-identity
    * argument against the explode → groupBy → sorted-fold chain). */
  def tokenEntropyStats(text: Column): Column =
    ExpressionUtils.column(TokenEntropyExpr(ExpressionUtils.expression(text)))

  // ------------------------------------------------- bloom runtime filter

  /** Build a serialized bloom-filter sketch over a column's xxhash64 values —
    * the hand-rolled form of Spark's runtime row-level filter
    * (`BloomFilterAggregate`, the aggregate `InjectRuntimeFilter` plants; we
    * construct it explicitly so the filter placement is deterministic and
    * testable rather than optimizer-heuristic). ONE scan of `df`, partial
    * sketches merged tree-wise by the aggregate, and a single bounded
    * artifact (`numBits / 8` bytes, ~1 MiB at the 2²³-bit default) lands on
    * the driver — the same bounded-by-contract collect class as the IVF
    * centroid table. Returns null when `df` is empty.
    *
    * The sketch never affects results, only pruning: probes
    * ([[bloomMightContain]]) admit false positives into whatever EXACT join
    * follows, and have no false negatives.
    */
  def bloomSketch(df: DataFrame, c: Column, expectedItems: Long,
      numBits: Long): Array[Byte] = {
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(ExpressionUtils.expression(c))),
      Literal(expectedItems), Literal(numBits))
    df.select(ExpressionUtils.column(agg.toAggregateExpression()))
      .head.getAs[Array[Byte]](0)
  }

  /** Codegen'd bloom probe of [[bloomSketch]] bytes (internally
    * `BloomFilterMightContain` over the same xxhash64) — rides INSIDE
    * whole-stage codegen directly on top of the scan, so rows the sketch
    * rejects die before reaching any exchange. The serialized sketch ships
    * with the plan as a literal: one broadcast-sized constant per executor,
    * no shuffle, no driver round-trips.
    */
  def bloomMightContain(sketch: Array[Byte], c: Column): Column =
    ExpressionUtils.column(new BloomFilterMightContain(
      Literal(sketch, BinaryType),
      new XxHash64(Seq(ExpressionUtils.expression(c)))))

  def langIdSql(w: String): String = {
    def cnt(ms: Seq[String]): String =
      s"len(list_filter($w, t -> t IN (${ms.map(m => s"'$m'").mkString(", ")})))"
    val scores = langMarkers.map { case (code, ms) => (code, cnt(ms)) }
    val best = scores.map(_._2).reduceRight((a, b) => s"greatest($a, $b)")
    val cases = scores.map { case (code, c) =>
      s"WHEN $c = $best AND $best > 0 THEN '$code'"
    }.mkString(" ")
    s"(CASE $cases ELSE 'und' END)"
  }
}
