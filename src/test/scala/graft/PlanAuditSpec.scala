package graft

/** Scale-posture regression gate over EVERY driver query's physical plan —
  * the automated form of the `graft.Explain audit` sweep: a query that stops
  * pruning, loses its bounded top-k, or picks up a cartesian product fails
  * here before it ever reaches a large cluster. Planning only (no query
  * execution beyond the k-row metadata collects some builders need). */
class PlanAuditSpec extends SparkSpec {

  private def plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf0001).queryExecution.executedPlan.toString
    }

  /** Queries that nested-loop BY DESIGN, all against a broadcast side that is
    * bounded-tiny by contract: q19 is the broadcast RANGE join (no equi-key
    * exists — the loop is a per-row interval check over a 4-row literal tier
    * table); knn_batch broadcast-cross-joins the k-row query batch against
    * the scan (the loop IS the multi-query scoring kernel — each scanned row
    * scores against every query); ivf_assign_new does the same against the
    * k-row centroid table (nearest-centroid needs every (vector, centroid)
    * pair); bm25_topk / hybrid_rrf / unigram_logprob cross-join a ONE-ROW
    * corpus-stats aggregate (N + avgdl / token total) back onto the scored
    * rows — the canonical scalar-broadcast shape. Everything else must never
    * nested-loop. */
  private val RangeJoinAllowList = Set("q19_price_tiers", "knn_batch",
    "ivf_assign_new", "bm25_topk", "hybrid_rrf", "unigram_logprob",
    "mix_weights", // one-row normalizer fold joined back onto ~100 groups
    "mix_sample",  // inherits mix_weights' normalizer join
    "ivf_recall",  // exact side IS knn_batch (broadcast k-row query batch)
    "rerank_cosine", // stage 1 IS bm25_topk (one-row corpus-stats join)
    "q28_funnel",  // three one-row stage-count aggregates cross-joined
    "pmi_bigrams", // one-row (N, M) totals cross-joined onto the pair table
    "ivf_balance", // one-row total cross-joined onto k cluster rows
    "multimodal_knn", // exact side IS knn_batch (broadcast decoded-frame batch)
    "key_skew_report") // two one-row aggregates cross-joined

  test("no query plans a CartesianProduct or BroadcastNestedLoopJoin") {
    plans.foreach { case (name, plan) =>
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(600)}")
      if (!RangeJoinAllowList(name)) {
        assert(!plan.contains("BroadcastNestedLoop"),
          s"$name plans a nested-loop join:\n${plan.take(600)}")
      }
    }
  }

  test("every IVF fine scan partition-prunes on cluster") {
    val pruned = Seq("knn_ivf_full", "ann_ivf_probe", "ann_ivf_batch",
      "ivf_sq8_probe", "ivf_pq_probe", "ann_filtered")
    val p = plans
    pruned.foreach { name =>
      assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(p(name)).isDefined,
        s"$name lost partition pruning:\n${p(name).take(800)}")
    }
  }

  test("the indexed LSH serving path partition-prunes on bucket") {
    val p = plans
    assert("PartitionFilters: \\[[^\\]]*bucket".r
        .findFirstIn(p("ann_lsh_indexed")).isDefined,
      s"ann_lsh_indexed lost partition pruning:\n${p("ann_lsh_indexed").take(800)}")
  }

  test("the scrubbed-lake lang read partition-prunes on lang") {
    val p = plans
    assert("PartitionFilters: \\[[^\\]]*lang".r
        .findFirstIn(p("scrub_export_lang")).isDefined,
      s"scrub_export_lang lost lang partition pruning:\n" +
        p("scrub_export_lang").take(800))
  }

  test("no serving query plans a fixed-attribute-blocked embedding self-join") {
    // The quadratic contrast case ([[Dedup.embeddingNearDupPairsFixedBlock]])
    // blocks an embedding self-join on `label`, a FIXED-cardinality attribute
    // (pairs ∝ N² per block). Its structural signature is the `label AS blk`
    // blocking projection; only `contrast_`-prefixed queries may carry it.
    val sig = "label#\\d+L? AS blk#".r
    val analyzed = SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sf0001).queryExecution.analyzed.toString
    }
    analyzed.foreach { case (name, plan) =>
      if (!name.startsWith("contrast_")) {
        assert(sig.findFirstIn(plan).isEmpty,
          s"$name plans a fixed-block (label-keyed) embedding self-join — " +
            s"quadratic pair growth; route through the IVF cluster layout " +
            s"or rename the query contrast_*:\n${plan.take(600)}")
      }
    }
    // keep the signature regex honest: the contrast query must trip it
    assert(sig.findFirstIn(analyzed("contrast_near_dup_fixed_block")).isDefined,
      "contrast query no longer matches the fixed-block signature — " +
        "the guard regex has rotted")
  }

  test("single-query top-k stays TakeOrderedAndProject (bounded heap)") {
    val topk = Seq("knn_exact", "knn_ivf_full", "ann_ivf_probe", "ann_lsh",
      "ann_lsh_indexed", "ann_sq8", "ivf_sq8_probe", "q05_top_lineitems")
    val p = plans
    topk.foreach { name =>
      assert(p(name).contains("TakeOrderedAndProject"),
        s"$name lost its bounded top-k:\n${p(name).take(800)}")
    }
  }
}
