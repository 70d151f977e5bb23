package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The corpus-level VERIFIED near-dup pair table as a real parquet artifact
  * (verdict r15 #4): `(doc_a, doc_b, jaccard)` at a declared threshold, the
  * one candidate-join-plus-verification the whole shingle family shares.
  * Six consumers (the pairs query itself, survivor selection, CC
  * clustering, the leak-pair audit, the leak-free split producer, and the
  * curation pipeline) re-derive this exact plan; in-session they already
  * share ONE materialization through [[graft.CacheRegistry]], but the fill
  * still ran INSIDE the first timed query of the family (~11 s at sf10) —
  * conflating the once-per-corpus-version build with the consumers' own
  * work, exactly the offline/online split the index builds respect
  * (reference: clusters.py builds offline, IVF.cpp:648 loads; this repo's
  * [[IncrementalHistory]] / SQ8 codebook / PQ codebook follow it).
  *
  * Landing the table under target/ as an [[Artifact]] makes the timed queries read the production
  * shape: a production pipeline writes `verified_pairs` to the lake once
  * per corpus version and every downstream stage scans it. Bench prewarms
  * the build (fill cost on the prewarm line); an un-prewarmed run (Verify,
  * subset misses) pays the build visibly in the first consumer — visible,
  * never wrong.
  *
  * Oracle SQL is UNCHANGED: the artifact is a deterministic function of
  * the documents table (per-doc shingles → CMS-ordered prefix candidates →
  * exact Jaccard, [[graft.operators.Dedup.ngramJaccardPairs]]), so the
  * DuckDB replay recomputes it from source — a mangled artifact byte
  * hashes red, the layout-invariance class of check. */
object VerifiedPairs {

  /** Stable threshold tag: 0.5 → "j0500" (4 digits carry any realistic
    * threshold grid without dots in the path). */
  private[sources] def tag(minJaccard: Double): String =
    f"j${(minJaccard * 1000).round}%04d"

  /** The pair table for `sfDir`'s documents at `minJaccard` — built once
    * per (corpus, threshold) and read as parquet thereafter
    * ([[Artifact]]). The build releases nothing itself: its persisted
    * shingle subtree stays registry-tracked and dies at the caller's family
    * boundary, same as every other in-family fill. */
  def forSfDir(spark: SparkSession, sfDir: String,
      minJaccard: Double): DataFrame =
    Artifact.table("pair-table", tag(minJaccard)) { (s, sf) =>
      graft.operators.Dedup.ngramJaccardPairs(Artifact.documents(s, sf), minJaccard)
    }.read(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
}
