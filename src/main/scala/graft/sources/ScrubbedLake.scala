package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The span-dedup pipeline's OUTPUT side (r10 verdict #7): land the scrubbed
  * corpus — [[graft.operators.Dedup.scrubDupSpansText]]'s full-text rows plus
  * the doc's language — as a Hive-partitioned (`lang=`) parquet lake with rows
  * range-spread and sorted by `doc_id` within files, the
  * [[graft.GraftEngine.exportCorpus]] layout contract. This closes the span
  * family end-to-end: signal ([[graft.operators.Dedup.dupSpanShare]]) → scrub
  * ([[graft.operators.Dedup.scrubDupSpans]]) → lake a downstream trainer
  * reads.
  *
  * Layout invariance IS the contract (the `events_sorted_range` /
  * `bucket_join_agg` class): a read of the lake must reproduce the scrub
  * operator's rows exactly — same docs, same post-scrub text, original text
  * byte-for-byte for untouched docs — with `lang` recovered from the
  * partition directory. The oracled query recomputes `h60(text)` FROM THE
  * EXPORTED BYTES, so a lake that mangled even one document's text hashes
  * red against the DuckDB replay of the scrub.
  *
  * Scale shape: one range shuffle on (lang, doc_id) at write — partition
  * values spread across tasks by doc_id range, so a dominant language (80%+
  * of a real crawl) does not funnel through one writer — amortized over
  * every scan that follows; `lang=` pruning plus doc_id row-group stats on
  * the read path. The write cost is ∝ corpus size with no pairs or windows:
  * the scrub's heavy lifting happened upstream.
  */
object ScrubbedLake {

  // NOTE: the scrub's token/window persists stay registered — they are the
  // dupspan family's shared working set (Bench/Verify release at family
  // boundaries; an eager release here would evict the frames the adjacent
  // span queries are about to reuse)
  private val lake = Artifact("scrubbed-lake", "documents") { (s, sf, d) =>
    export(Artifact.documents(s, sf), d)
  }

  /** Build (once per JVM per sf dir, [[Artifact]]) the scrubbed-corpus lake
    * and return its path. */
  def forSfDir(spark: SparkSession, sfDir: String): String =
    lake.path(spark, sfDir)

  /** The export itself, target-dir-agnostic: scrub + lang join + partitioned
    * sorted write. `lang` comes from a broadcast-eligible projection of the
    * corpus (2 narrow columns), joined on doc_id BEFORE the write so the
    * partition column exists at layout time. */
  def export(documents: DataFrame, outDir: String): Unit = {
    val scrubbed = graft.operators.Dedup.scrubDupSpansText(documents)
      .join(documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
    graft.GraftEngine.exportCorpus(scrubbed, outDir, Seq("lang"), "doc_id")
  }

  /** The scrubbed lake as a DataFrame. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(forSfDir(spark, sfDir))
}
