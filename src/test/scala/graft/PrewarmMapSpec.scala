package graft

import org.scalatest.funsuite.AnyFunSuite

/** Gates the prewarm references in [[SparkEntry.queryDefs]] — the
  * query→prewarm-build links Bench's subset mode reads (ADVICE r14: the old
  * name-substring gating silently skipped prewarms for renamed queries).
  * Heuristic parity: each prewarm's member set, read off the records, must
  * equal what the legacy substring heuristic selects over the CURRENT query
  * set, so adding a query whose name pattern-matches a family forces a
  * conscious decision (if a future pattern-matching query genuinely needs no
  * prewarm, amend the heuristic here alongside the record — the point is the
  * decision is explicit, never silent).
  */
class PrewarmMapSpec extends AnyFunSuite {

  private def members(name: String): Set[String] = {
    val p = SparkEntry.prewarms.find(_.name == name)
      .getOrElse(fail(s"no prewarm named '$name'"))
    SparkEntry.queryDefs.filter(_.prewarms.contains(p)).map(_.name).toSet
  }

  test("family sets match the legacy name heuristics over the current query set") {
    val qs = SparkEntry.queries.keySet
    def legacy(p: String => Boolean): Set[String] = qs.filter(p)
    assert(members("ivf") ===
      legacy(n => n.startsWith("knn_") || n.startsWith("ann_") ||
        n.startsWith("ivf_") || n.startsWith("multimodal_") ||
        n == "near_dup_ivf" || n == "contrast_near_dup_fixed_block" ||
        n == "hybrid_rrf" || n == "rerank_cosine"))
    assert(members("pq") === legacy(_.contains("pq")))
    assert(members("pq-ivf") === legacy(_.contains("pq")))
    assert(members("sq8") === legacy(_.contains("sq8")))
    assert(members("lsh") === legacy(_.contains("lsh")))
    assert(members("inc-history") ===
      legacy(n => n.contains("_inc") || n == "dedup_incremental" ||
        n == "dedup_bloom"))
    assert(members("ivf-dedup-block") === Set("near_dup_ivf"))
    assert(members("ivf-tune") === Set("ivf_tuned_probe"))
    // the verified-pair artifact's consumers (verdict r15 #4): exactly the
    // full-corpus shingle-family rows that read VerifiedPairs.forSfDir —
    // enumerated by hand because no name pattern distinguishes them
    // (contamination_flags and ngram_novelty share the family but never
    // touch the pair table)
    assert(members("pair-table") === Set("ngram_jaccard",
      "dedup_survivors", "split_leak_pairs", "near_dup_clusters",
      "split_assign_leakfree", "corpus_curate"))
    // the full-corpus frame-sketch lake (r16): the two rows that scan the
    // ingest-sink sketch table / its compaction-view class quotient
    // (frame_dup_share_inc stays on the IncrementalHistory history split)
    assert(members("phash-lake") ===
      Set("phash_docs", "near_dup_frames"))
    // a prewarm no query lists would never run, not even in a full bench
    SparkEntry.prewarms.foreach(p =>
      assert(members(p.name).nonEmpty, s"prewarm '${p.name}' has no query"))
  }
}
