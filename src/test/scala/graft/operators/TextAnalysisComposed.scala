package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.operators.TextAnalysis._

/** The composed Column formulations the single-pass [[TextAnalysis]]
  * operators replaced, kept as the executable specs the parity tests compare
  * against. They are also the shapes the DuckDB oracles replay. */
object TextAnalysisComposed {

  /** The composed formulation (pre-r15) — retained as the executable spec
    * [[quality]] is parity-tested against (TokenStatsSpec); also the shape
    * the DuckDB oracle replays. */
  def qualityComposed(documents: DataFrame): DataFrame = {
    // materialize the token array once behind a Generate barrier (same CSE
    // rationale as Dedup.minhashSignatures: HOF-bearing columns re-inline
    // their subtrees, so without the barrier split(text) runs ~6x per row)
    val staged = documents.select(
      col("doc_id"),
      explode(array(struct(tokens(col("text")).as("w")))).as("t"))
    val w = col("t.w")
    val n = size(w)
    staged.select(
      col("doc_id"),
      n.as("n_tokens"),
      size(array_distinct(w)).as("n_uniq"),
      round(size(array_distinct(w)).cast("double") / n, 6).as("uniq_ratio"),
      round(aggregate(w, lit(0L), (acc, t) => acc + length(t)).cast("double") / n, 6)
        .as("avg_token_len"),
      round(size(filter(w, t => Stopwords.map(s => t === lit(s)).reduce(_ || _)))
        .cast("double") / n, 6).as("stop_ratio"))
  }

  /** The composed formulation (pre-r15) — retained as the executable spec
    * [[tokenCountsBpe]] is parity-tested against (BpeCountsSpec); also the
    * shape the DuckDB oracle replays. */
  def tokenCountsBpeComposed(documents: DataFrame): DataFrame = {
    val staged = documents.select(
      col("doc_id"),
      explode(array(struct(
        size(tokens(col("text"))).as("ws"),
        // regexp_count, not size(regexp_extract_all(...)): identical count
        // (same Matcher.find loop), but extract_all MATERIALIZES every match
        // as a string in an array that is immediately discarded — at sf10
        // that allocation was most of the row's cost (r14)
        regexp_count(col("text"), lit(BpeTokenRegex)).as("bpe")))).as("c"))
    staged.select(
      col("doc_id"),
      col("c.ws").as("n_ws"),
      col("c.bpe").as("n_bpe"),
      round(col("c.bpe").cast("double") / col("c.ws"), 6).as("bpe_per_ws"))
  }

  /** The composed formulation (pre-r15) — retained as the executable spec
    * [[repetition]] is parity-tested against (TokenStatsSpec); also the
    * shape the DuckDB oracle replays (explode → per-token tf → rollup). */
  def repetitionComposed(documents: DataFrame): DataFrame = {
    val perRow = documents.select(
      col("doc_id"),
      explode(array(struct(shingles3Raw(tokens(col("text"))).as("sh")))).as("c"))
      .select(
        col("doc_id"),
        when(size(col("c.sh")) > 0,
          round(size(array_distinct(col("c.sh"))).cast("double") / size(col("c.sh")), 6))
          .as("uniq_shingle_ratio"))
    val tf = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val top = tf.groupBy(col("doc_id")).agg(
      sum(col("c")).as("n_tokens"),
      max(col("c")).as("max_c"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("max_c").cast("double") / col("n_tokens"), 6).as("top_tok_ratio"))
    top.join(perRow, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"), col("top_tok_ratio"),
        col("uniq_shingle_ratio"))
  }

  /** The composed formulation (pre-r15) — retained as the executable spec
    * [[corpusFilter]] is parity-tested against (TokenStatsSpec). */
  def corpusFilterComposed(documents: DataFrame): DataFrame = {
    documents.select(
      col("doc_id"),
      explode(array(struct(tokens(col("text")).as("w")))).as("c"))
      .select(col("doc_id"),
        size(col("c.w")).cast("long").as("n_tokens"),
        qualityReason(col("c.w")).as("reason"))
      .withColumn("keep", col("reason").isNull)
  }

  /** The composed formulation (pre-r19) — retained as the executable spec
    * [[chunk]] is parity-tested against (TextPipelineSpec); also the shape
    * the DuckDB oracle replays. */
  def chunkComposed(documents: DataFrame,
      c: Int = ChunkTokens, s: Int = ChunkStride): DataFrame = {
    require(c > 0 && s > 0 && s <= c, s"need 0 < stride <= window, got ($c, $s)")
    val staged = documents.select(
      col("doc_id"),
      explode(array(struct(tokens(col("text")).as("w")))).as("t"))
      .select(col("doc_id"), col("t.w").as("w"), size(col("t.w")).as("n"))
    // last chunk index: 0 when the doc fits one window, else ceil((n-c)/s)
    val lastIdx = when(col("n") > c,
      floor((col("n") - c + (s - 1)) / lit(s)).cast("int")).otherwise(lit(0))
    staged
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lastIdx), i => struct(
          i.as("chunk_idx"),
          size(slice(col("w"), i * s + 1, lit(c))).as("n_chunk_tokens"),
          h60(array_join(slice(col("w"), i * s + 1, lit(c)), " "))
            .as("chunk_h60")))).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx").as("chunk_idx"),
        col("ch.n_chunk_tokens").as("n_chunk_tokens"),
        col("ch.chunk_h60").as("chunk_h60"))
  }

  /** The composed formulation (pre-r19) — retained as the executable spec
    * [[tokenEntropy]] is parity-tested against (TokenStatsSpec); also the
    * shape the DuckDB oracle replays (explode → per-token tf → sorted
    * fold). */
  def tokenEntropyComposed(documents: DataFrame): DataFrame = {
    val perDoc = documents
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("doc_id"))
      .agg(
        sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sort_array(collect_list(struct(col("tok"),
          (col("c") * log(col("c").cast("double"))).as("t")))).as("l"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(
          log(col("n_tokens").cast("double")) -
            aggregate(col("l"), lit(0.0), (acc, e) => acc + e.getField("t")) /
              col("n_tokens"), 6).as("entropy_nats"))
  }
}
