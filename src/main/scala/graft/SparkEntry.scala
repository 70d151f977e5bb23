package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.multimodal.Multimodal
import graft.operators._
import graft.sources._

/** Query contract (SURVEY.md §7): every query the engine declares, one
  * [[SparkEntry.QueryDef]] record each in [[SparkEntry.queryDefs]].
  *
  * Each query is an operator from SURVEY.md §2 (reference citation on the
  * implementing operator object) or from the LLM-data-pipeline surface
  * (dedup / similarity search / multimodal / text analysis). Its oracle is
  * the equivalent ANSI SQL for DuckDB over the same parquet tables; column
  * names and value determinism are aligned (see
  * [[graft.operators.Relational]] scaladoc for the conventions).
  */
object SparkEntry {

  private def tbl(s: SparkSession, sfDir: String, name: String): DataFrame =
    s.read.parquet(s"$sfDir/$name.parquet")

  /** The split_assign* queries' declared spec + salt (one place — the Spark
    * side and the DuckDB oracles both render from these). */
  private val SplitSpec = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  private val SplitAssignSalt = "r13"

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): the reference's
    * entire online path — embed-free exact k-NN (nProbe=128 ≡ exact,
    * README.md:24) + doc fetch join (IVF.cpp:694-699) + projection with
    * substring(text,1,200) (IVF.cpp:697-699). */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val emb = tbl(spark, sfDir, "embeddings")
    val docs = tbl(spark, sfDir, "documents")
    val qv = KnnExact.queryVector(emb, 0L)
    KnnExact.topK(emb, qv, 5)
      .join(broadcast(docs), col("vec_id") === col("doc_id"))
      .select(col("vec_id"), round(col("sim"), 6).as("sim"),
        substring(col("text"), 1, 200).as("snippet"))
  }

  /** IVF cluster count for the testdata index (16 clusters ≈ sqrt(N) at this
    * scale; the reference hard-codes 128 for Wikipedia scale, IVF.cpp:13).
    * Public: Bench's index prewarm must hit the same forSfDir cache key. */
  val NumClusters = 16
  /** Embedding dimensionality of the testdata (embeddings.parquet). */
  val EmbDim = 64
  private val TopK = 10
  /** nProbe for the approximate IVF query (4 of 16 clusters probed). */
  private val AnnProbe = 4
  /** Recall floor the tuned serving point targets (`ivf_tuned_probe`). */
  private val TunedRecallFloor = 0.9

  /** Resolve (and memoize) `ivf_tuned_probe`'s operating point — exposed so
    * Bench can pay the tuner's one-off exact scan in the prewarm phase, the
    * same load-then-time protocol as the index builds. */
  def prewarmTunedProbe(s: SparkSession, sfDir: String): Int =
    IvfIndex.tunedProbeForSfDir(s, sfDir, NumClusters, TopK, TunedRecallFloor)

  /** Dedup blocking target: ~this many vectors per block, so within-block
    * pair generation costs N/[[DedupBlockSize]] × [[DedupBlockSize]]² ∝ N —
    * LINEAR in corpus size. Serving nlist is a recall/latency knob; dedup
    * blocking granularity is a COST knob, and a fixed nlist makes block
    * population grow with the corpus and pair cost grow quadratically
    * (measured: `near_dup_ivf` 2.2 s → 353 s from sf1 → sf10 under the
    * fixed serving nlist=16; block size had grown 1,250 → 12,500). */
  val DedupBlockSize = 128

  /** Blocking granularity for `near_dup_ivf`: constant target block size,
    * floored at [[NumClusters]] — at the gate scales (≤2,000 vectors) this
    * IS the serving index (same forSfDir cache key, same export), so the
    * finer dedup clustering only materializes where it pays. Memoized per
    * sfDir (one metadata-only count). */
  def dedupBlockClusters(s: SparkSession, sfDir: String): Int =
    graft.sources.Artifact.memo(s"dedup-blocks#$sfDir") {
      val n = s.read.parquet(s"$sfDir/embeddings.parquet").count()
      math.max(NumClusters, math.ceil(n.toDouble / DedupBlockSize).toInt)
    }
  /** Fixed input sample for `contrast_near_dup_fixed_block` — the sf0.1
    * corpus size, so every gate scale is untouched and scaled suites pay a
    * CONSTANT pedagogy bill instead of a quadratic one (vec_ids are
    * contiguous 0..N−1 at every SF; < 2000 selects the replication base). */
  val ContrastSampleCap = 2000L
  /** Label predicate for the filtered-ANN query. */
  private val FilterLabel = 3
  /** BM25 / hybrid query terms: two mid-frequency tokens + one rare token
    * ("dup", df≈5% — high idf), all present in the synthetic vocabulary. */
  private val RetrievalTerms = Seq("vector", "query", "dup")
  /** Sequence-packing token budget (small so the test corpora yield multi-doc
    * sequences; production would pass the model context length). */
  private val PackBudget = 512L
  /** Shard count for the deterministic training shuffle. */
  private val ShuffleShards = 8
  /** Epoch token budget for the mix sample (≈ half the sf0.001 corpus so
    * rates mix saturated-at-1 small groups with downsampled large ones). */
  private val MixEpochTokens = 10000L
  /** Candidate-list depth for reciprocal-rank fusion (per list, pre-fusion). */
  private val RrfDepth = 50
  /** BPE training rounds — small K keeps the unrolled oracle readable; the
    * operator itself takes any K. */
  private val BpeRounds = 8
  /** Merges per corpus rewrite in the batched BPE timed row (r19). */
  private val BpeBatch = 4

  /** One offline build Bench runs before timing — the reference's
    * load-then-time protocol (IVF.cpp:648 vs :683-686). `name` labels the
    * `[bench] prewarm <name>` line; `build(session, sfDir)` builds what the
    * queries that list it in [[QueryDef.prewarms]] read, so a subset run
    * skips it when none of them is selected. A lake build also warms the
    * always-on identity pin ([[CorpusPin]]) for the frame its serving
    * queries probe with, so the verdict is memoized before timing starts. */
  final class Prewarm(val name: String, val build: (SparkSession, String) => Unit)

  private val IvfWarm = new Prewarm("ivf",
    (s, d) => IvfIndex.forSfDir(s, d, NumClusters))
  // near_dup_ivf's constant-block-size index; at gate scales this resolves
  // to the serving key above (cache hit)
  private val IvfDedupBlockWarm = new Prewarm("ivf-dedup-block",
    (s, d) => IvfIndex.forSfDir(s, d, dedupBlockClusters(s, d)))
  private val PqWarm = new Prewarm("pq", (s, d) => PqQuant.forSfDir(s, d, EmbDim))
  // its own entry: a pq failure must not skip this build
  private val PqIvfWarm = new Prewarm("pq-ivf",
    (s, d) => PqQuant.forSfDirIvf(s, d, EmbDim, NumClusters))
  // the tuner is the offline experiment phase, not query time
  private val IvfTuneWarm = new Prewarm("ivf-tune", (s, d) => prewarmTunedProbe(s, d))
  private val Sq8Warm = new Prewarm("sq8", (s, d) => SqQuant.statsForSfDir(s, d, EmbDim))
  private val LshWarm = new Prewarm("lsh", (s, d) => LshAnn.forSfDir(s, d, EmbDim))
  // the corpus-level verified-pair table (verdict r15 #4): built once per
  // corpus version, scanned by the whole shingle family
  private val PairTableWarm = new Prewarm("pair-table",
    (s, d) => VerifiedPairs.forSfDir(s, d, 0.5))
  // full-corpus frame-sketch table + class quotient (r16): the ingest
  // stream's sink shape and its per-version compaction view
  private val PhashLakeWarm = new Prewarm("phash-lake",
    (s, d) => FrameSketchLake.classes(s, d))
  // full-corpus span-window set + duplicated-hash view (r18)
  private val SpanLakeWarm = new Prewarm("span-lake", { (s, d) =>
    SpanWindowLake.dupHashes(s, d)
    CorpusPin.check(tbl(s, d, "documents"), SpanWindowLake.windows(s, d),
      "span-lake prewarm")
  })
  // per-doc bigram counts + corpus count/marginal tables (r19); the pin is
  // warmed against the bucketed sink the serving row reads
  private val BigramLakeWarm = new Prewarm("bigram-lake", { (s, d) =>
    BigramLmLake.counts(s, d)
    BigramLmLake.marginals(s, d)
    CorpusPin.check(tbl(s, d, "documents"),
      BigramLmLake.perDocBucketed(s, d), "bigram-lake prewarm")
  })
  // per-doc token counts + corpus tf/total tables (r19)
  private val UnigramLakeWarm = new Prewarm("unigram-lake", { (s, d) =>
    UnigramLmLake.tf(s, d)
    UnigramLmLake.totals(s, d)
    CorpusPin.check(tbl(s, d, "documents"),
      UnigramLmLake.perDocBucketed(s, d), "unigram-lake prewarm")
  })
  // the frozen top-K tokenizer vocabulary (r19)
  private val VocabLakeWarm = new Prewarm("vocab-lake", (s, d) =>
    CorpusPin.check(tbl(s, d, "documents"),
      VocabLake.topK(s, d, TextAnalysis.OovVocabK), "vocab-lake prewarm"))
  // split-frozen shingle postings + test class postings (r19)
  private val ContamLakeWarm = new Prewarm("contam-lake", { (s, d) =>
    ShinglePostingLake.testShingles(s, d)
    CorpusPin.check(tbl(s, d, "documents"),
      ShinglePostingLake.postings(s, d), "contam-lake prewarm")
  })
  // full-corpus per-doc shingle sets + (lang, shingle) df table (r20)
  private val NgramLakeWarm = new Prewarm("ngram-lake", { (s, d) =>
    NgramPostingLake.dfStats(s, d)
    CorpusPin.check(tbl(s, d, "documents"),
      NgramPostingLake.sets(s, d), "ngram-lake prewarm")
  })
  // daily-ingest history artifacts (verdict r11 #2): the incremental rows
  // then time only their O(batch) probe
  private val IncHistoryWarm = new Prewarm("inc-history", { (s, d) =>
    IncrementalHistory.buildAll(s, d)
    CorpusPin.check(IncrementalHistory.batchDocs(tbl(s, d, "documents")),
      IncrementalHistory.phashClassesMerged(s, d), "inc-history prewarm",
      CorpusPin.Batch)
  })

  /** Every prewarm, in the order Bench runs them. */
  val prewarms: Seq[Prewarm] = Seq(IvfWarm, IvfDedupBlockWarm, PqWarm, PqIvfWarm,
    IvfTuneWarm, Sq8Warm, LshWarm, PairTableWarm, PhashLakeWarm, SpanLakeWarm,
    BigramLakeWarm, UnigramLakeWarm, VocabLakeWarm, ContamLakeWarm,
    NgramLakeWarm, IncHistoryWarm)

  /** One declared query, and the only place its name is written: the Spark
    * plan `run(session, sfDir)`, the DuckDB oracle rendered from an
    * [[OracleCtx]], the offline builds it reads, and its cache family.
    * Members of a `family` share operator-persisted subtrees (tracked by
    * [[CacheRegistry]]), so the harnesses run a family's members
    * consecutively and release its caches on leaving — executor storage
    * stays bounded by ONE family's working set across the suite instead of
    * accumulating for the session (round-4 review: unmanaged persist growth
    * was the prime suspect for 3–6× bench regressions on unrelated
    * queries). A query without a family persists nothing; release around
    * it is a no-op. */
  final case class QueryDef(name: String, family: Option[String] = None,
      prewarms: Seq[Prewarm] = Nil)(
      val run: (SparkSession, String) => DataFrame,
      val oracle: OracleCtx => String)

  /** Every query the engine declares. The oracle fragments these records
    * read (`KnnOracle`, `NgramCte`, …) are declared below them: oracles are
    * functions of the ctx, called only after the object is initialized. */
  val queryDefs: Seq[QueryDef] = requireUniqueNames(Seq(
    // ---- relational surface (SURVEY §2 Table B) ----
    QueryDef("q01_pricing_summary")((s, d) => Relational.pricingSummary(s, d),
      _ => s"""SELECT l_returnflag, l_linestatus,
         |  ${sumXSql("l_quantity")} AS sum_qty,
         |  ${sumXSql("l_extendedprice")} AS sum_base_price,
         |  ${sumXSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    QueryDef("q02_substr_filter")((s, d) => Relational.substrFilter(s, d),
      _ => """SELECT doc_id, substring(text, 1, 200) AS snippet, n_chars
        |FROM documents WHERE lang = 'en' ORDER BY doc_id""".stripMargin),
    QueryDef("q03_region_revenue")((s, d) => Relational.regionRevenue(s, d),
      _ => s"""SELECT r_name,
         |  COUNT(*) AS n_items,
         |  ${sumXSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin),
    QueryDef("q04_window_top_orders")((s, d) => Relational.windowTopOrders(s, d),
      _ => TopOrdersOracle),
    QueryDef("q05_top_lineitems")((s, d) => Relational.topLineitems(s, d),
      _ => """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin),
    QueryDef("q06_union_tagged")((s, d) => Relational.unionTagged(s, d),
      _ => s"""SELECT tag, COUNT(*) AS n_orders,
         |  ${sumXSql("o_totalprice")} AS total_price
         |FROM (
        |  SELECT 'urgent' AS tag, o_totalprice FROM orders WHERE o_orderpriority = '1-URGENT'
        |  UNION ALL
        |  SELECT 'finished' AS tag, o_totalprice FROM orders WHERE o_orderstatus = 'F') u
        |GROUP BY tag ORDER BY tag""".stripMargin),
    QueryDef("q07_suppliers_per_nation")((s, d) => Relational.suppliersPerNation(s, d),
      _ => s"""SELECT n_name, COUNT(DISTINCT s_suppkey) AS n_suppliers,
         |  ${sumXSql("s_acctbal")} AS total_acctbal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),
    QueryDef("q08_cust_no_open_orders")((s, d) => Relational.customersNoOpenOrders(s, d),
      _ => """SELECT c_mktsegment, COUNT(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    QueryDef("q09_events_hourly")((s, d) => Relational.eventsHourly(s, d),
      _ => s"""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS hour_epoch,
         |  event_type, COUNT(*) AS n_events,
         |  ${sumXSql("value")} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    QueryDef("vocab_size_by_lang")((s, d) =>
      TextAnalysis.vocabSizeByLang(tbl(s, d, "documents")),
      _ => """WITH t AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT lang, COUNT(DISTINCT tok) AS n_types, COUNT(*) AS n_tokens,
        |  round(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("bucket_join_agg")((s, d) => {
      // the bucketed-layout serving path: orders ⋈ lineitem on the bucket
      // key over catalog tables both bucketed+sorted by orderkey — the
      // layout pays the shuffle once at write; the oracle (plain join over
      // the raw parquet) checks layout invariance, BucketingSpec gates the
      // zero-exchange plan property
      val (ot, lt) = Bucketing.forSfDir(s, d)
      Bucketing.colocatedJoin(s, ot, lt, "o_orderkey", "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_items"),
          Relational.exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
      // bucketed-layout join: engine reads its bucketed catalog tables, oracle
      // the raw parquet — identical rows is the layout-invariance contract
      // (same class as events_sorted_range / dedup_bloom)
      _ => s"""SELECT o_orderpriority, COUNT(*) AS n_items,
         |  ${sumXSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("key_skew_report", family = Some("skew"))((s, d) =>
      // shuffle-key skew observable on the fact table's join key — the
      // diagnostic a production pipeline runs before salting (SkewJoin) or
      // trusting AQE's skew split; bounded plans only past the count shuffle
      Relational.keySkewReport(tbl(s, d, "events"), "user_id"),
      _ => """WITH counts AS (
        |  SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id),
        |tot AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(c) AS BIGINT) AS n_rows,
        |         MAX(c) AS max_rows
        |  FROM counts),
        |top AS (
        |  SELECT CAST(SUM(c) AS BIGINT) AS topk_rows
        |  FROM (SELECT c FROM counts ORDER BY c DESC, user_id LIMIT 10))
        |SELECT n_keys, n_rows, max_rows,
        |  round(CAST(max_rows AS DOUBLE) * CAST(n_keys AS DOUBLE)
        |    / CAST(n_rows AS DOUBLE), 6) AS hot_factor,
        |  round(CAST(topk_rows AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS topk_share
        |FROM tot, top""".stripMargin),
    QueryDef("events_sorted_range")((s, d) =>
      // the zone-map layout path: time-window aggregate over the
      // range-partitioned time-sorted lake copy of events — literal ts-range
      // predicate pruning parquet row groups on footer stats; oracle runs on
      // the RAW table (layout invariance IS the contract)
      graft.sources.SortedLake.windowedTypeStats(s, d),
      // zone-map layout query: the engine reads its time-sorted lake copy, the
      // oracle the raw table — identical rows is the layout-invariance contract.
      // Window bounds are integer arithmetic on the table's own epoch-second
      // min/max (engine: one bounded collect; oracle: the b/w CTEs), and
      // `ts >= wlo·10⁹` over integer nanos ≡ `floor-second(ts) >= wlo`, so both
      // predicates select identical rows while the engine's stays a pushable
      // pair of long literals.
      _ => s"""WITH b AS (
         |  SELECT CAST(floor(epoch(MIN(ts))) AS BIGINT) AS lo,
         |         CAST(floor(epoch(MAX(ts))) AS BIGINT) AS hi
         |  FROM events),
         |w AS (SELECT lo + (hi - lo) // 4 AS wlo, lo + (hi - lo) // 2 AS whi FROM b)
         |SELECT event_type, COUNT(*) AS n_events,
         |  ${sumXSql("value")} AS sum_value,
         |  MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS first_sec,
         |  MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS last_sec
         |FROM events, w
         |WHERE CAST(floor(epoch(ts)) AS BIGINT) >= wlo
         |  AND CAST(floor(epoch(ts)) AS BIGINT) < whi
         |GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q10_lang_stats")((s, d) => Relational.langStats(s, d),
      _ => """SELECT lang, COUNT(*) AS n_docs, MIN(n_chars) AS min_chars,
        |  MAX(n_chars) AS max_chars,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),
    QueryDef("q11_user_sessions")((s, d) => Relational.userSessions(s, d),
      _ => """WITH e AS (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
        |m AS (SELECT user_id,
        |  sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec ASC, event_id ASC) AS gap
        |  FROM e)
        |SELECT user_id,
        |  CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
        |  COUNT(*) AS n_events
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin),
    QueryDef("q12_props_extract")((s, d) => Relational.propsExtract(s, d),
      _ => """WITH e AS (SELECT event_type,
        |  CASE WHEN regexp_extract(props, '"k": (\d+)', 1) <> ''
        |       THEN CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) END AS k
        |  FROM events)
        |SELECT event_type, COUNT(k) AS n_with_k, CAST(SUM(k) AS BIGINT) AS sum_k,
        |  round(CAST(SUM(k) AS DOUBLE) / COUNT(k), 6) AS avg_k
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q13_rollup_returns")((s, d) => Relational.rollupReturns(s, d),
      _ => s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n_items,
         |  ${sumXSql("l_quantity")} AS sum_qty
         |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin),
    QueryDef("q14_event_percentiles")((s, d) => Relational.eventPercentiles(s, d),
      _ => """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(MIN(value), 6) AS min_v,
        |  round(MAX(value), 6) AS max_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    QueryDef("q15_monthly_orders")((s, d) => Relational.monthlyOrders(s, d),
      _ => s"""SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
         |  COUNT(*) AS n_orders,
         |  ${sumXSql("o_totalprice")} AS total
         |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin),
    QueryDef("q16_status_pivot")((s, d) => Relational.statusPivot(s, d),
      _ => """SELECT o_orderpriority, COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_open,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_finished,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_pending
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),
    QueryDef("q17_part_strings")((s, d) => Relational.partStrings(s, d),
      _ => """SELECT p_partkey,
        |  upper(p_brand) AS brand_u,
        |  lower(p_type) AS type_l,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_masked,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  substring(p_name, 1, 10) AS name_prefix
        |FROM part ORDER BY p_partkey""".stripMargin),
    QueryDef("q18_customer_set_ops")((s, d) => Relational.customerSetOps(s, d),
      _ => """WITH o_open AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'),
        |f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'both' AS tag, o_custkey
        |  FROM (SELECT o_custkey FROM o_open INTERSECT SELECT o_custkey FROM f)
        |UNION ALL
        |SELECT 'open_only' AS tag, o_custkey
        |  FROM (SELECT o_custkey FROM o_open EXCEPT SELECT o_custkey FROM f)
        |ORDER BY tag, o_custkey""".stripMargin),
    QueryDef("q19_price_tiers")((s, d) => Relational.priceTierRangeJoin(s, d),
      _ => {
        val tiersValues = Relational.PriceTiers
          .map { case (n, lo, hi) => s"('$n', ${lo}, ${hi})" }.mkString(", ")
        s"""WITH tiers(tier, lo, hi) AS (VALUES $tiersValues)
           |SELECT tier, COUNT(*) AS n_orders,
           |  ${sumXSql("o_totalprice")} AS total
           |FROM orders JOIN tiers ON o_totalprice >= lo AND o_totalprice < hi
           |GROUP BY tier ORDER BY tier""".stripMargin
      }),
    QueryDef("q20_purchase_attribution")((s, d) => Relational.purchaseAttribution(s, d),
      _ => """WITH v AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS view_sec
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS buy_sec
        |  FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.buy_sec, v.view_sec,
        |  p.buy_sec - v.view_sec AS gap_sec
        |FROM p ASOF LEFT JOIN v
        |  ON p.user_id = v.user_id AND v.view_sec <= p.buy_sec
        |ORDER BY p.event_id""".stripMargin),
    QueryDef("q21_moving_avg")((s, d) => Relational.movingAvgDaily(s, d),
      _ => """WITH daily AS (
        |  SELECT CAST(floor(epoch(date_trunc('day', o_orderdate))) AS BIGINT) AS day_epoch,
        |    CAST(SUM(CAST(floor(o_totalprice * 1e6 + 0.5) AS BIGINT)) AS BIGINT) AS d
        |  FROM orders GROUP BY 1)
        |SELECT day_epoch, round(CAST(d AS DOUBLE) / 1e6, 6) AS day_total,
        |  round(CAST(CAST(SUM(d) OVER w AS BIGINT) AS DOUBLE) / 1e6 / COUNT(*) OVER w, 6) AS ma7
        |FROM daily
        |WINDOW w AS (ORDER BY day_epoch ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day_epoch""".stripMargin),
    QueryDef("q22_top_orders_agg")((s, d) => Relational.windowTopOrdersAgg(s, d),
      // identical semantics via the bounded-heap aggregate — same oracle
      _ => TopOrdersOracle),
    QueryDef("q23_next_purchase")((s, d) => Relational.viewToNextPurchase(s, d),
      _ => """WITH p AS (SELECT DISTINCT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS buy_sec
        |  FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS view_sec
        |  FROM events WHERE event_type = 'view')
        |SELECT v.event_id, v.user_id, v.view_sec, p.buy_sec,
        |  p.buy_sec - v.view_sec AS lag_sec
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND p.buy_sec >= v.view_sec
        |ORDER BY v.event_id""".stripMargin),
    QueryDef("q24_cube_orders")((s, d) => Relational.cubeOrderStats(s, d),
      // GROUPING() markers in the ORDER BY make the sort total even when the
      // data contains genuine NULL group values (which would otherwise collide
      // with CUBE margin rows on the sort key — ADVICE r4); value-identical on
      // NULL-free data
      _ => s"""SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
         |  ${sumXSql("o_totalprice")} AS total
         |FROM orders
        |GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority ASC NULLS FIRST, GROUPING(o_orderpriority),
        |  o_orderstatus ASC NULLS FIRST, GROUPING(o_orderstatus)""".stripMargin),
    QueryDef("q25_cust_max_order")((s, d) => Relational.customerMaxOrder(s, d),
      _ => """SELECT c_custkey, c_mktsegment,
        |  (SELECT MAX(o_totalprice) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM customer ORDER BY c_custkey""".stripMargin),
    QueryDef("q26_order_event_outer")((s, d) => Relational.orderEventReconcile(s, d),
      // FULL OUTER over two pre-aggregated sides; COALESCE folds the nulls.
      // Both null-extension directions occur at every sf (big spenders who
      // never click, clickers who never bought big)
      _ => """WITH o AS (SELECT o_custkey AS cust_id, COUNT(*) AS n_big_orders
        |  FROM orders WHERE o_totalprice > 300000 GROUP BY 1),
        |e AS (SELECT user_id AS cust_id, COUNT(*) AS n_purchase_events
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT COALESCE(o.cust_id, e.cust_id) AS cust_id,
        |  COALESCE(n_big_orders, 0) AS n_big_orders,
        |  COALESCE(n_purchase_events, 0) AS n_purchase_events
        |FROM o FULL OUTER JOIN e ON o.cust_id = e.cust_id
        |ORDER BY cust_id""".stripMargin),
    QueryDef("q27_grouping_sets")((s, d) => Relational.mixGroupingSets(s, d),
      // arbitrary grouping lattice subset (per-source, per-lang, grand total);
      // GROUPING() markers keep the sort total (q24 rule)
      _ => """SELECT source, lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source), (lang), ())
        |ORDER BY source ASC NULLS FIRST, GROUPING(source),
        |  lang ASC NULLS FIRST, GROUPING(lang)""".stripMargin),
    QueryDef("q28_funnel", family = Some("funnel"))((s, d) => Relational.conversionFunnel(s, d),
      // ordered funnel: each stage's first time must be strictly after the
      // previous stage's; comparisons at second granularity on both engines
      _ => """WITH v AS (SELECT user_id, MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS t_view
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_click
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) > v.t_view
        |  WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(CAST(floor(epoch(e.ts)) AS BIGINT)) AS t_buy
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |    AND CAST(floor(epoch(e.ts)) AS BIGINT) > c.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |  (SELECT COUNT(*) FROM c) AS n_click_after,
        |  (SELECT COUNT(*) FROM p) AS n_purchase_after""".stripMargin),
    QueryDef("q29_retention", family = Some("retention"))((s, d) =>
      Relational.cohortRetention(s, d),
      // weekly cohort retention over distinct (user, epoch-week) presence;
      // // is DuckDB's integer division (mirrors Spark's ts_sec DIV 604800)
      _ => """WITH pairs AS (SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week FROM events),
        |f AS (SELECT user_id, MIN(week) AS cohort_week FROM pairs GROUP BY 1)
        |SELECT cohort_week, week - cohort_week AS week_offset,
        |  COUNT(DISTINCT p.user_id) AS n_users
        |FROM pairs p JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    // ---- vector search surface (SURVEY §2 Table A) ----
    QueryDef("knn_exact", prewarms = Seq(IvfWarm))((s, d) => knnExact(s, d),
      _ => KnnOracle),
    QueryDef("knn_batch", prewarms = Seq(IvfWarm))((s, d) => {
      val emb = tbl(s, d, "embeddings")
      val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      KnnBatch.topK(emb, queries, 5)
        .orderBy(col("query_id"), col("rn"))
    },
      _ => s"""WITH q AS (SELECT vec_id AS query_id, $EmbDouble AS v
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings),
         |scored AS (SELECT q.query_id, e.vec_id, e.label,
         |    round(list_dot_product(e.v, q.v) /
         |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
         |  FROM e, q),
         |ranked AS (SELECT query_id, vec_id, label, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, label, sim, rn FROM ranked
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    QueryDef("knn_ivf_full", prewarms = Seq(IvfWarm))((s, d) => knnIvf(s, d, nProbe = NumClusters),
      _ => KnnOracle), // nProbe = numClusters ⇒ provably ≡ exact
    QueryDef("ann_ivf_probe", prewarms = Seq(IvfWarm))((s, d) => knnIvf(s, d, nProbe = AnnProbe),
      // Replay the IVF search over the clustering Spark actually built (exported
      // by IvfIndex.forSfDir — MLlib k-means‖ ≠ sklearn, so the oracle replays
      // the model artifacts instead of re-training): coarse = top-nProbe
      // centroids by cosine (sim DESC, cluster ASC — IVF.cpp:271-282 order),
      // fine = cosine top-k over the probed clusters' rows (IVF.cpp:286-435).
      ctx => IvfProbeOracle(ctx)),
    QueryDef("ann_filtered", prewarms = Seq(IvfWarm))((s, d) => {
      // filtered ANN: the label predicate rides INSIDE the pruned scan
      // (PartitionFilters × PushedFilters) — pre-filter, not post-filter
      val emb = tbl(s, d, "embeddings")
      IvfIndex.forSfDir(s, d, NumClusters).searchFiltered(
        KnnExact.queryVector(emb, 0L), TopK, AnnProbe,
        col("label") === FilterLabel)
    },
      ctx => ivfProbeOracleWhere(ctx, s"e.label = $FilterLabel")),
    QueryDef("ann_ivf_batch", prewarms = Seq(IvfWarm))((s, d) => {
      // batched IVF serving: one pruned union scan for the whole query batch
      val emb = tbl(s, d, "embeddings")
      val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      IvfIndex.forSfDir(s, d, NumClusters).searchBatch(queries, 5, AnnProbe)
        .orderBy(col("query_id"), col("rn"))
    },
      // batched IVF replay: per-query probe sets from the exported centroids,
      // candidate set from the exported assignment, per-query cosine top-5
      ctx => s"""WITH q AS (SELECT vec_id AS query_id, $EmbDouble AS v
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
         |sc AS (SELECT q.query_id, cent.cluster,
         |    list_dot_product(c, q.v) /
         |      (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) AS csim
         |  FROM cent, q),
         |probes AS (SELECT query_id, cluster FROM (
         |    SELECT query_id, cluster,
         |      row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cluster ASC) AS crn
         |    FROM sc) WHERE crn <= $AnnProbe),
         |a AS (SELECT vec_id, cluster FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')),
         |cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a ON a.cluster = p.cluster),
         |e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings),
         |scored AS (SELECT c.query_id, e.vec_id, e.label,
         |    round(list_dot_product(e.v, q.v) /
         |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
         |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
         |ranked AS (SELECT query_id, vec_id, label, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, label, sim, rn FROM ranked
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    QueryDef("ivf_recall", prewarms = Seq(IvfWarm))((s, d) => {
      // the reference's experiment tradeoff (n_probe vs quality,
      // experiment{1..8}_config.txt) as a query: recall@k of the probed
      // search vs exact brute force, per query — how nProbe gets tuned
      val emb = tbl(s, d, "embeddings")
      val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
        .select(col("vec_id").as("query_id"), col("embedding"))
      IvfIndex.forSfDir(s, d, NumClusters).recallAtK(emb, queries, TopK, AnnProbe)
    },
      // recall@k replay: exact top-k per query (brute force) LEFT JOIN the
      // probed replay's top-k — n_hits = |intersection|, recall = n_hits / k
      ctx => s"""WITH q AS (SELECT vec_id AS query_id, $EmbDouble AS v
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)),
         |e AS (SELECT vec_id, $EmbDouble AS v FROM embeddings),
         |xs AS (SELECT query_id, vec_id FROM (
         |    SELECT q.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        round(list_dot_product(e.v, q.v) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) DESC,
         |        e.vec_id ASC) AS rn
         |    FROM e, q) WHERE rn <= $TopK),
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
         |sc AS (SELECT q.query_id, cent.cluster,
         |    list_dot_product(c, q.v) /
         |      (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) AS csim
         |  FROM cent, q),
         |probes AS (SELECT query_id, cluster FROM (
         |    SELECT query_id, cluster,
         |      row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cluster ASC) AS crn
         |    FROM sc) WHERE crn <= $AnnProbe),
         |a AS (SELECT vec_id, cluster FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')),
         |cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a ON a.cluster = p.cluster),
         |pr AS (SELECT query_id, vec_id FROM (
         |    SELECT c.query_id, e.vec_id,
         |      row_number() OVER (PARTITION BY c.query_id ORDER BY
         |        round(list_dot_product(e.v, q.v) /
         |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) DESC,
         |        e.vec_id ASC) AS rn
         |    FROM cand c JOIN e ON e.vec_id = c.vec_id
         |      JOIN q ON q.query_id = c.query_id) WHERE rn <= $TopK)
         |SELECT x.query_id, COUNT(p.vec_id) AS n_hits,
         |  round(CAST(COUNT(p.vec_id) AS DOUBLE) / $TopK, 6) AS recall
         |FROM xs x LEFT JOIN pr p ON p.query_id = x.query_id AND p.vec_id = x.vec_id
         |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin),
    QueryDef("ivf_tuned_probe", prewarms = Seq(IvfWarm, IvfTuneWarm))((s, d) =>
      // tuneNProbe made load-bearing: the SAME probed search as
      // ann_ivf_probe, but nProbe comes from the analytic recall curve at a
      // 0.9 floor instead of a hand-picked constant — the reference's
      // experiment grids existed to find this operating point
      knnIvf(s, d, nProbe = IvfIndex.tunedProbeForSfDir(
        s, d, NumClusters, TopK, TunedRecallFloor)),
      ctx => IvfTunedProbeOracle(ctx)),
    QueryDef("ivf_cluster_counts", prewarms = Seq(IvfWarm))((s, d) =>
      IvfIndex.forSfDir(s, d, NumClusters).vectors
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("cluster")),
      ctx => s"""SELECT cluster, COUNT(*) AS n_vectors
         |FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')
         |GROUP BY cluster ORDER BY cluster""".stripMargin),
    QueryDef("ivf_balance", prewarms = Seq(IvfWarm))((s, d) =>
      IvfIndex.forSfDir(s, d, NumClusters).balanceReport,
      ctx => s"""WITH c AS (SELECT cluster, COUNT(*) AS n_vectors
         |  FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')
         |  GROUP BY cluster),
         |t AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS total FROM c)
         |SELECT cluster, n_vectors,
         |  round(CAST(n_vectors AS DOUBLE) / total, 6) AS share,
         |  round(CAST(n_vectors AS DOUBLE) * $NumClusters / total, 6) AS load_factor
         |FROM c, t ORDER BY cluster""".stripMargin),
    QueryDef("ivf_purity", prewarms = Seq(IvfWarm))((s, d) =>
      IvfIndex.forSfDir(s, d, NumClusters).purityReport,
      // window SUM is CAST to BIGINT (HUGEINT lint); majority = rank-1 row
      // under the (n DESC, label) total order, same tie-break as the engine;
      // the assign export carries (vec_id, cluster) only, so the label rides
      // in from the embeddings table by vec_id
      ctx => s"""WITH cl AS (SELECT a.cluster, e.label, COUNT(*) AS n
         |  FROM read_parquet('${ctx.ivfExport}/assign/*.parquet') a
         |  JOIN embeddings e ON a.vec_id = e.vec_id
         |  GROUP BY 1, 2),
         |r AS (SELECT cluster, label, n,
         |    CAST(SUM(n) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_n,
         |    row_number() OVER (PARTITION BY cluster ORDER BY n DESC, label) AS rk
         |  FROM cl)
         |SELECT cluster, label AS majority_label, cluster_n AS n_vectors,
         |  round(CAST(n AS DOUBLE) / cluster_n, 6) AS purity
         |FROM r WHERE rk = 1 ORDER BY cluster""".stripMargin),
    QueryDef("ann_lsh_bucket", prewarms = Seq(IvfWarm, LshWarm))((s, d) =>
      LshAnn.assign(tbl(s, d, "embeddings"), EmbDim).orderBy(col("vec_id")),
      _ => LshAnn.assignOracleSql("embeddings", EmbDim)),
    QueryDef("ann_lsh", prewarms = Seq(IvfWarm, LshWarm))((s, d) => {
      val emb = tbl(s, d, "embeddings")
      LshAnn.search(emb, KnnExact.queryVector(emb, 0L), TopK, EmbDim)
    },
      _ => LshAnn.searchOracleSql("embeddings", EmbDim, TopK, 0L)),
    QueryDef("ann_lsh_indexed", prewarms = Seq(IvfWarm, LshWarm))((s, d) => {
      // the partitioned LSH SERVING path: multiprobe over the bucket-
      // partitioned layout (PartitionFilters on bucket — what a 100 TB
      // deployment scans), vs ann_lsh's flat scan with computed buckets
      val emb = tbl(s, d, "embeddings")
      LshAnn.searchIndexed(s, LshAnn.forSfDir(s, d, EmbDim),
        KnnExact.queryVector(emb, 0L), TopK, EmbDim)
    },
      // the bucket-partitioned serving path scans the SAME rows the flat path
      // scores (md5-derived hyperplanes ⇒ identical deterministic buckets), so
      // it replays the same oracle
      _ => LshAnn.searchOracleSql("embeddings", EmbDim, TopK, 0L)),
    QueryDef("ivf_sq8_probe", prewarms = Seq(IvfWarm, Sq8Warm))((s, d) => {
      // both scale paths composed: pruned partitions × int8 codes; the SQ8
      // codebook is the per-sfDir persisted artifact (one stats aggregate
      // at build time, literal stats at query time)
      val idx = IvfIndex.forSfDir(s, d, NumClusters)
      idx.searchQuantized(KnnExact.queryVector(tbl(s, d, "embeddings"), 0L),
        TopK, AnnProbe, Some(SqQuant.statsForSfDir(s, d, EmbDim)))
    },
      // quantized IVF replay: probes from the exported centroids, candidates
      // from the exported assignment, SQ8 quantize/dequantize, double cosine
      ctx => s"""WITH st AS (SELECT i, MIN(embedding[i]) AS mn, MAX(embedding[i]) AS mx
         |  FROM embeddings, generate_series(1, $EmbDim) g(i) GROUP BY i),
         |stl AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY i) AS mns,
         |  list(CAST(mx AS DOUBLE) ORDER BY i) AS mxs FROM st),
         |q AS (SELECT $EmbDouble AS v FROM embeddings WHERE vec_id = 0),
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
         |probes AS (SELECT cluster FROM cent, q
         |  ORDER BY list_dot_product(c, q.v) /
         |    (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) DESC,
         |    cluster ASC
         |  LIMIT $AnnProbe),
         |a AS (SELECT vec_id FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')
         |  WHERE cluster IN (SELECT cluster FROM probes)),
         |dq AS (SELECT e.vec_id, e.label,
         |    list_transform(generate_series(1, $EmbDim), i ->
         |      CASE WHEN mxs[i] > mns[i] THEN mns[i] +
         |        least(greatest(floor((CAST(e.embedding[i] AS DOUBLE) - mns[i]) * 255
         |          / (mxs[i] - mns[i]) + 0.5), 0), 255) / 255 * (mxs[i] - mns[i])
         |      ELSE mns[i] END) AS v
         |  FROM embeddings e JOIN a ON e.vec_id = a.vec_id, stl)
         |SELECT dq.vec_id, dq.label,
         |  round(list_dot_product(dq.v, q.v) /
         |    (sqrt(list_dot_product(dq.v, dq.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
         |FROM dq, q
         |ORDER BY sim DESC, dq.vec_id ASC
         |LIMIT $TopK""".stripMargin),
    QueryDef("ann_sq8", prewarms = Seq(IvfWarm, Sq8Warm))((s, d) => {
      // int8-quantized approximate search (4x smaller scanned bytes at
      // 100 TB); codebook from the per-sfDir artifact, not a per-query agg
      val emb = tbl(s, d, "embeddings")
      SqQuant.search(emb, KnnExact.queryVector(emb, 0L), TopK, EmbDim,
        Some(SqQuant.statsForSfDir(s, d, EmbDim)))
    },
      _ => SqQuant.searchOracleSql("embeddings", EmbDim, TopK, 0L)),
    QueryDef("bq_codes")((s, d) =>
      // 1-bit sign quantization: 8 bytes/row instead of 256 — the
      // codebook-free end of the quantization ladder (SQ8 4x, PQ/BQ 32x)
      BqQuant.codes(tbl(s, d, "embeddings"), EmbDim).orderBy(col("vec_id")),
      // binary quantization: sign-bit packing and Hamming top-k are pure
      // integer arithmetic — both engines compute the identical sums
      _ => s"""WITH ${BqQuant.codesOracleCte("embeddings")}
         |SELECT vec_id, label, lo, hi FROM bq ORDER BY vec_id""".stripMargin),
    QueryDef("ann_bq", prewarms = Seq(IvfWarm))((s, d) => {
      // Hamming-similarity search over the packed codes: two XOR+POPCNT
      // per row, ties broken by the engine-wide (distance, vec_id) order
      val emb = tbl(s, d, "embeddings")
      BqQuant.search(emb, KnnExact.queryVector(emb, 0L), TopK, EmbDim)
    },
      _ => BqQuant.searchOracleSql("embeddings", TopK, 0L)),
    QueryDef("pq_codes", prewarms = Seq(PqWarm, PqIvfWarm))((s, d) => {
      // product-quantized index artifact: one 4-bit-able code per subspace
      val (_, codes) = PqQuant.forSfDir(s, d, EmbDim)
      codes.select((col("vec_id") +: col("label") +:
        (0 until PqQuant.M).map(m =>
          element_at(col("codes"), m + 1).as(s"c$m"))): _*)
        .orderBy(col("vec_id"))
    },
      // PQ replays over the exported codebook/codes artifacts (MLlib k-means
      // per subspace — like the IVF export, the oracle replays, never re-trains)
      ctx => PqQuant.codesOracleSql("embeddings", EmbDim / PqQuant.M,
        ctx.pqExport)),
    QueryDef("ann_pq", prewarms = Seq(IvfWarm, PqWarm, PqIvfWarm))((s, d) => {
      // ADC search: per-row code lookups against the per-query tables —
      // the 32x-compressed scan path (codes only, raw vectors never read)
      val (model, codes) = PqQuant.forSfDir(s, d, EmbDim)
      val emb = tbl(s, d, "embeddings")
      PqQuant.search(codes, model, KnnExact.queryVector(emb, 0L), TopK)
    },
      ctx => PqQuant.searchOracleSql("embeddings", EmbDim / PqQuant.M, TopK, 0L,
        ctx.pqExport)),
    QueryDef("ivf_pq_probe", prewarms = Seq(IvfWarm, PqWarm, PqIvfWarm))((s, d) => {
      // BOTH scale levers: probe-pruned partitions (nProbe/k of the data)
      // times PQ codes (8 ints per row instead of the raw vector)
      val idx = IvfIndex.forSfDir(s, d, NumClusters)
      val (model, codes) = PqQuant.forSfDirIvf(s, d, EmbDim, NumClusters)
      val qv = KnnExact.queryVector(tbl(s, d, "embeddings"), 0L)
      PqQuant.search(
        codes.where(col("cluster").isin(idx.coarseProbes(qv, AnnProbe): _*)),
        model, qv, TopK)
    },
      ctx => PqQuant.searchIvfPqOracleSql(
        "embeddings", EmbDim / PqQuant.M, TopK, 0L, AnnProbe, ctx.ivfExport,
        ctx.pqExport)),
    QueryDef("vec_norms")((s, d) =>
      tbl(s, d, "embeddings").select(
        col("vec_id"),
        round(l2Norm(col("embedding")), 6).as("norm"),
        size(col("embedding")).as("dim")).orderBy(col("vec_id")),
      _ => s"""SELECT vec_id,
         |  round(sqrt(list_dot_product($EmbDouble, $EmbDouble)), 6) AS norm,
         |  CAST(len(embedding) AS INT) AS dim
         |FROM embeddings ORDER BY vec_id""".stripMargin),
    // ---- retrieval: lexical + hybrid (beyond-reference surface) ----
    QueryDef("bm25_topk", family = Some("lex"))((s, d) =>
      Retrieval.bm25TopK(tbl(s, d, "documents"), RetrievalTerms, TopK),
      _ => Retrieval.bm25OracleSql("documents", RetrievalTerms, TopK)),
    QueryDef("hybrid_rrf", family = Some("lex"), prewarms = Seq(IvfWarm))((s, d) => {
      val emb = tbl(s, d, "embeddings")
      Retrieval.hybridRrf(tbl(s, d, "documents"), emb, RetrievalTerms,
        KnnExact.queryVector(emb, 0L), TopK, RrfDepth)
    },
      _ => Retrieval.hybridRrfOracleSql(
        "documents", "embeddings", RetrievalTerms, 0L, TopK, RrfDepth)),
    QueryDef("rerank_cosine", family = Some("lex"), prewarms = Seq(IvfWarm))((s, d) => {
      // cascade retrieval: BM25 recall (n candidates), exact-cosine rerank,
      // top-k by the stage-2 score — the scorer runs n times, never corpus×
      val emb = tbl(s, d, "embeddings")
      Retrieval.rerankCosine(tbl(s, d, "documents"), emb, RetrievalTerms,
        KnnExact.queryVector(emb, 0L), TopK, RrfDepth)
    },
      _ => Retrieval.rerankOracleSql(
        "documents", "embeddings", RetrievalTerms, 0L, TopK, RrfDepth)),
    QueryDef("ivf_assign_new", prewarms = Seq(IvfWarm))((s, d) => {
      // incremental index maintenance: pretend every 10th vector is a new
      // arrival and assign it to its nearest existing centroid
      val idx = IvfIndex.forSfDir(s, d, NumClusters)
      idx.assignNew(tbl(s, d, "embeddings").where(col("vec_id") % 10 === 0))
        .orderBy(col("vec_id"))
    },
      // incremental-assignment replay over the exported centroid artifact:
      // per new vector, the nearest centroid by reference-formula cosine
      // (sim DESC, cluster ASC tie-break — same as the coarse search order)
      ctx => s"""WITH nv AS (SELECT vec_id, $EmbDouble AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
         |sc AS (SELECT vec_id, cluster,
         |    round(list_dot_product(v, c) /
         |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)) + 1e-8), 6) AS sim
         |  FROM nv, cent),
         |r AS (SELECT vec_id, cluster, sim,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cluster ASC) AS rn
         |  FROM sc)
         |SELECT vec_id, cluster, sim FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    QueryDef("ivf_merge_counts", prewarms = Seq(IvfWarm))((s, d) =>
      // the incremental loop CLOSED: base index over 9/10 of the corpus,
      // one mergeSegment of the arriving tenth folded into the cluster
      // partitions — post-merge counts read from the merged on-disk layout
      // must equal base counts + the cosine-argmax assignment histogram
      IvfIndex.mergedForSfDir(s, d, NumClusters).vectors
        .groupBy(col("cluster")).agg(count(lit(1)).as("n_vectors"))
        .orderBy(col("cluster")),
      // merged-layout counts replay: base counts from the exported base
      // assignment, plus the arriving tenth assigned by the SAME cosine-argmax
      // formula as ivf_assign_new against the exported base centroids — the
      // on-disk merged layout Spark reads must reproduce their sum exactly
      ctx => s"""WITH base AS (SELECT cluster, COUNT(*) AS n
         |  FROM read_parquet('${ctx.ivfMergeExport}/assign/*.parquet')
         |  GROUP BY cluster),
         |nv AS (SELECT vec_id, $EmbDouble AS v
         |  FROM embeddings WHERE vec_id % 10 = 0),
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfMergeExport}/centroids/*.parquet')),
         |sc AS (SELECT vec_id, cluster,
         |    round(list_dot_product(v, c) /
         |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c)) + 1e-8), 6) AS sim
         |  FROM nv, cent),
         |r AS (SELECT vec_id, cluster,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY sim DESC, cluster ASC) AS rn
         |  FROM sc),
         |newc AS (SELECT cluster, COUNT(*) AS n FROM r WHERE rn = 1 GROUP BY cluster)
         |SELECT COALESCE(b.cluster, w.cluster) AS cluster,
         |  CAST(COALESCE(b.n, 0) + COALESCE(w.n, 0) AS BIGINT) AS n_vectors
         |FROM base b FULL OUTER JOIN newc w ON b.cluster = w.cluster
         |ORDER BY cluster""".stripMargin),
    // ---- LLM-data-pipeline: dedup ----
    QueryDef("dedup_exact")((s, d) =>
      Dedup.exact(tbl(s, d, "documents")).orderBy(col("text_md5")),
      _ => """SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY text_md5""".stripMargin),
    QueryDef("dedup_minhash", family = Some("minhash"))((s, d) =>
      // drop null-signature rows (<3-token docs): matches the oracle's
      // unnest-based CTE, which omits shingle-less docs — and the downstream
      // lshBuckets contract, which excludes them for the same reason
      Dedup.minhashSignatures(tbl(s, d, "documents"))
        .where(col("h0").isNotNull).orderBy(col("doc_id")),
      _ => s"""$MinhashCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin),
    QueryDef("lsh_candidates", family = Some("minhash"), prewarms = Seq(LshWarm))((s, d) =>
      Dedup.lshCandidatePairs(tbl(s, d, "documents"))
        .orderBy(col("doc_a"), col("doc_b")),
      _ => s"""$MinhashCte,
         |bands AS (
         |  $LshBandsSql)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("minhash_est_pairs", family = Some("minhash"))((s, d) =>
      Dedup.minhashEstPairs(tbl(s, d, "documents"))
        .orderBy(col("doc_a"), col("doc_b")),
      // MinHash-estimated Jaccard for the banded candidate pairs: fraction of
      // the K=8 signature components on which the pair agrees
      _ => {
        val est = (0 until Dedup.MinhashK)
          .map(j => s"CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END")
          .mkString(" + ")
        s"""$MinhashCte,
           |bands AS (
           |  $LshBandsSql),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
           |SELECT doc_a, doc_b,
           |  round(($est) / ${Dedup.MinhashK}.0, 6) AS est_jaccard
           |FROM pairs JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
           |ORDER BY doc_a, doc_b""".stripMargin
      }),
    QueryDef("dup_span_share", family = Some("dupspan"), prewarms = Seq(SpanLakeWarm))((s, d) =>
      // serving form (r18): discovery from the span-lake artifacts like
      // scrub_dup_spans; only affected docs re-derive positional hashes,
      // everyone else's denominator is closed-form. Row-identical to
      // Dedup.dupSpanShare (DedupTextSpec); oracle replays from source
      Dedup.dupSpanSharePrebuilt(tbl(s, d, "documents"),
        graft.sources.SpanWindowLake.windows(s, d),
        graft.sources.SpanWindowLake.dupHashes(s, d))
        .orderBy(col("doc_id")),
      // span-level dedup signal: rolling 20-token window hashes; a window is
      // duplicated iff its hash occurs in >= 2 distinct docs
      _ => {
        val win = Dedup.SpanWindow
        val winHash = h60Sql(s"array_to_string(list_slice(w, i, i + ${win - 1}), ' ')")
        s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
           |t AS (SELECT doc_id, w FROM d WHERE len(w) >= $win),
           |win AS (SELECT doc_id, unnest(list_transform(
           |    generate_series(1, len(w) - ${win - 1}), i -> $winHash)) AS wh FROM t),
           |dh AS (SELECT wh FROM (
           |    SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM win GROUP BY wh)
           |  WHERE nd > 1)
           |SELECT win.doc_id,
           |  COUNT(*) AS n_windows,
           |  CAST(COUNT(dh.wh) AS BIGINT) AS n_dup_windows,
           |  round(CAST(COUNT(dh.wh) AS DOUBLE) / COUNT(*), 6) AS dup_share
           |FROM win LEFT JOIN dh ON win.wh = dh.wh
           |GROUP BY win.doc_id
           |ORDER BY win.doc_id""".stripMargin
      }),
    QueryDef("dup_span_share_inc", family = Some("dupspan"),
        prewarms = Seq(IncHistoryWarm))((s, d) => {
      // daily-ingest span signal: same 4/5 history / 1/5 batch split as the
      // other incremental rows; the batch tokenizes only itself and probes
      // the append-only window ARTIFACT — a real parquet table built once
      // per refresh (IncrementalHistory, Bench-prewarmed like the index
      // builds; in production it's the spanWindowStream sink), so the timed
      // cost is the O(batch) probe the row exists to demonstrate — giving
      // the full-corpus dupSpanShare answer restricted to batch docs
      val docs = tbl(s, d, "documents")
      Dedup.dupSpanShareIncremental(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.spanWindows(s, d))
        .orderBy(col("doc_id"))
    },
      // incremental span signal: identical window/dup math over the FULL
      // corpus (history ∪ batch = all docs), rollup restricted to the batch —
      // exactly what the artifact-probing engine form computes
      _ => {
        val win = Dedup.SpanWindow
        val winHash = h60Sql(s"array_to_string(list_slice(w, i, i + ${win - 1}), ' ')")
        s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
           |t AS (SELECT doc_id, w FROM d WHERE len(w) >= $win),
           |win AS (SELECT doc_id, unnest(list_transform(
           |    generate_series(1, len(w) - ${win - 1}), i -> $winHash)) AS wh FROM t),
           |dh AS (SELECT wh FROM (
           |    SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM win GROUP BY wh)
           |  WHERE nd > 1)
           |SELECT win.doc_id,
           |  COUNT(*) AS n_windows,
           |  CAST(COUNT(dh.wh) AS BIGINT) AS n_dup_windows,
           |  round(CAST(COUNT(dh.wh) AS DOUBLE) / COUNT(*), 6) AS dup_share
           |FROM win LEFT JOIN dh ON win.wh = dh.wh
           |WHERE win.doc_id % 5 = 4
           |GROUP BY win.doc_id
           |ORDER BY win.doc_id""".stripMargin
      }),
    QueryDef("scrub_dup_spans", family = Some("dupspan"), prewarms = Seq(SpanLakeWarm))((s, d) =>
      // serving form (verdict r17 #2): duplication DISCOVERY reads the
      // span-lake artifacts (ingest sink + compaction view — what
      // spanWindowStream accumulates); the row pays position recovery +
      // rewrite for the affected ~8% of docs plus the pass-through. Output
      // row-identical to Dedup.scrubDupSpans (sf10 parity in BASELINE.md;
      // DedupTextSpec pins it at fixture scale); oracle replays from source
      Dedup.scrubDupSpansPrebuilt(tbl(s, d, "documents"),
        graft.sources.SpanWindowLake.windows(s, d),
        graft.sources.SpanWindowLake.dupHashes(s, d))
        .orderBy(col("doc_id")),
      // the span scrub: duplicated windows' covered positions drop from every
      // carrier; untouched docs hash their ORIGINAL text (no reconstruction)
      _ => s"""$ScrubCte
         |SELECT doc_id, n_tokens, n_removed, scrub_h60, n_scrub_chars
         |FROM scrub ORDER BY doc_id""".stripMargin),
    QueryDef("scrub_export_stats", family = Some("dupspan"))((s, d) =>
      // the span pipeline's OUTPUT side: read the exported scrubbed-corpus
      // lake (lang-partitioned, doc_id-sorted — ScrubbedLake) and hash the
      // text FROM THE EXPORTED BYTES; the oracle replays the scrub from the
      // raw documents table, so a lake that mangled any doc hashes red
      // (layout invariance, the events_sorted_range / bucket_join_agg class)
      graft.sources.ScrubbedLake.documents(s, d)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("n_removed"),
          h60(col("text")).as("scrub_h60"),
          length(col("text")).as("n_scrub_chars"))
        .orderBy(col("doc_id")),
      // the scrub's exported lake: engine reads its lang-partitioned layout
      // and hashes the EXPORTED text; oracle replays the scrub from the raw
      // table + a lang join — identical rows is the layout-invariance contract
      _ => s"""$ScrubCte
         |SELECT s.doc_id, docs.lang, s.n_tokens, s.n_removed, s.scrub_h60,
         |  s.n_scrub_chars
         |FROM scrub s JOIN documents docs USING (doc_id)
         |ORDER BY s.doc_id""".stripMargin),
    QueryDef("scrub_export_lang", family = Some("dupspan"))((s, d) =>
      // the lake's READ-path win: the lang predicate prunes whole partition
      // directories (PartitionFilters — PlanAuditSpec gates it), the
      // 100 TB reason the export partitions by lang at all; the rollup's
      // xor-of-hashes stays content-sensitive over the exported bytes
      graft.sources.ScrubbedLake.documents(s, d)
        .where(col("lang").isin("en", "de"))
        .select(col("lang"), col("n_removed"), h60(col("text")).as("h"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_removed")).as("n_removed_tokens"),
          expr("bit_xor(h)").as("xor_h60"))
        .orderBy(col("lang")),
      // the pruned-read rollup: engine scans only the en/de partition dirs of
      // the lake; oracle replays the scrub + lang filter over the raw table
      _ => s"""$ScrubCte
         |SELECT docs.lang, COUNT(*) AS n_docs,
         |  CAST(SUM(s.n_removed) AS BIGINT) AS n_removed_tokens,
         |  CAST(bit_xor(s.scrub_h60) AS BIGINT) AS xor_h60
         |FROM scrub s JOIN documents docs USING (doc_id)
         |WHERE docs.lang IN ('en', 'de')
         |GROUP BY docs.lang ORDER BY docs.lang""".stripMargin),
    QueryDef("lsh_candidates_inc", family = Some("inclsh"),
        prewarms = Seq(LshWarm, IncHistoryWarm))((s, d) => {
      // daily-ingest near-dup: same 4/5 history / 1/5 batch split as
      // dedup_incremental; history's band table is the persisted parquet
      // artifact (IncrementalHistory — never re-shingled, a lake read
      // exactly as in production), the batch bands against history ∪ batch
      val docs = tbl(s, d, "documents")
      Dedup.lshCandidatePairsIncremental(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.bands(s, d))
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // incremental banding: identical band math, but the a-side is restricted
      // to the NEW batch (doc_id % 5 = 4) — history×history pairs never appear,
      // new×new pairs canonicalize via least/greatest + DISTINCT
      _ => LshIncOracle),
    QueryDef("lsh_candidates_inc_bloom", family = Some("inclsh"),
        prewarms = Seq(LshWarm, IncHistoryWarm))((s, d) => {
      // the same daily-ingest banding probe with the batch's (band, bucket)
      // sketch pushed into the history artifact scan — result-identical by
      // construction (no false negatives; false positives die in the exact
      // equi-join), so it shares lsh_candidates_inc's oracle shape, the
      // dedup_bloom convention
      val docs = tbl(s, d, "documents")
      Dedup.lshCandidatePairsIncrementalBloom(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.bands(s, d),
        expectedItems = 1L << 16, numBits = 1L << 20)
        .orderBy(col("doc_a"), col("doc_b"))
    },
      // bit-identical by construction (bloom has no false negatives; false
      // positives die in the exact equi-join) — same oracle, the
      // dedup_bloom / dedup_incremental convention
      _ => LshIncOracle),
    QueryDef("ngram_jaccard", family = Some("shingle"), prewarms = Seq(PairTableWarm))((s, d) =>
      // the corpus-level verified-pair ARTIFACT (verdict r15 #4): built once
      // per (corpus, threshold) like the index builds, read as parquet by
      // the whole family — this row IS the artifact scan
      graft.sources.VerifiedPairs.forSfDir(s, d, 0.5)
        .orderBy(col("doc_a"), col("doc_b")),
      _ => s"""$NgramCte
         |SELECT da AS doc_a, db AS doc_b,
         |  round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
         |FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
         |WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("dedup_survivors", family = Some("shingle"), prewarms = Seq(PairTableWarm))((s, d) =>
      Dedup.ngramSurvivorsFromPairs(tbl(s, d, "documents"),
        graft.sources.VerifiedPairs.forSfDir(s, d, 0.5)).orderBy(col("doc_id")),
      _ => s"""$NgramCte,
         |dropped AS (
         |  SELECT DISTINCT db AS doc_id
         |  FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
         |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5)
         |SELECT doc_id, lang, n_chars FROM documents
         |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = documents.doc_id)
         |ORDER BY doc_id""".stripMargin),
    QueryDef("dedup_incremental", prewarms = Seq(IncHistoryWarm))((s, d) => {
      // daily-ingest dedup: 4/5 of the corpus is "history" (its hash table
      // is the side output dedup_exact maintains — read here as the
      // IncrementalHistory parquet artifact), 1/5 is today's batch — new
      // docs drop against history by hash anti-join, then dedup within the
      // batch (keep-min)
      val docs = tbl(s, d, "documents")
      Dedup.incrementalExact(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.seenHashes(s, d))
        .orderBy(col("text_md5"))
    },
      // incremental (daily-ingest) dedup: history = doc_id % 5 <> 4, batch =
      // the rest; NOT IN is safe because md5(text) is never NULL here
      _ => """WITH seen AS (
        |  SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id % 5 <> 4),
        |nw AS (
        |  SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id % 5 = 4)
        |SELECT text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM nw WHERE text_md5 NOT IN (SELECT text_md5 FROM seen)
        |GROUP BY text_md5 ORDER BY text_md5""".stripMargin),
    QueryDef("dedup_bloom", family = Some("incbloom"), prewarms = Seq(IncHistoryWarm))((s, d) => {
      // same daily-ingest split as dedup_incremental, but with the bloom
      // runtime filter pushed into the historical scan — result-identical by
      // construction (no false negatives; false positives die in the exact
      // anti-join), so it shares dedup_incremental's oracle shape
      val docs = tbl(s, d, "documents")
      // sketch sized for the suite's batch scale (≤100k docs/batch at sf10:
      // fpp <1% at a 128 KiB sketch); production sizes by expected daily
      // volume — parity holds at ANY size, sizing only tunes pruning. The
      // history side is the IncrementalHistory parquet artifact, so the
      // bloom probe lands inside a REAL artifact scan stage
      Dedup.incrementalExactBloom(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.seenHashes(s, d),
          expectedItems = 1L << 16, numBits = 1L << 20)
        .orderBy(col("text_md5"))
    },
      // bloom-prefiltered variant: the sketch only prunes the history scan and
      // admits false positives into the same exact anti-join, so the oracle is
      // dedup_incremental's verbatim — identical results is the CONTRACT
      _ => """WITH seen AS (
        |  SELECT DISTINCT md5(text) AS text_md5 FROM documents WHERE doc_id % 5 <> 4),
        |nw AS (
        |  SELECT doc_id, md5(text) AS text_md5 FROM documents WHERE doc_id % 5 = 4)
        |SELECT text_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
        |FROM nw WHERE text_md5 NOT IN (SELECT text_md5 FROM seen)
        |GROUP BY text_md5 ORDER BY text_md5""".stripMargin),
    QueryDef("split_leak_pairs", family = Some("shingle"), prewarms = Seq(PairTableWarm))((s, d) =>
      Dedup.splitLeakPairsFromPairs(tbl(s, d, "documents"),
        graft.sources.VerifiedPairs.forSfDir(s, d, 0.5))
        .orderBy(col("doc_a"), col("doc_b")),
      _ => {
        val hash = h60Sql(s"('${TextAnalysis.SplitSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""$NgramCte,
           |pairs AS (
           |  SELECT da AS doc_a, db AS doc_b,
           |    round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
           |  FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
           |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
           |sp AS (SELECT doc_id,
           |  CASE WHEN $hash % 100 < 80 THEN 'train'
           |       WHEN $hash % 100 < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM documents)
           |SELECT p.doc_a, p.doc_b, p.jaccard,
           |  a.split AS split_a, b.split AS split_b
           |FROM pairs p JOIN sp a ON a.doc_id = p.doc_a JOIN sp b ON b.doc_id = p.doc_b
           |WHERE a.split <> b.split
           |ORDER BY p.doc_a, p.doc_b""".stripMargin
      }),
    QueryDef("near_dup_clusters", family = Some("shingle"), prewarms = Seq(PairTableWarm))((s, d) =>
      Dedup.nearDupClustersFromPairs(
        graft.sources.VerifiedPairs.forSfDir(s, d, 0.5)).orderBy(col("doc_id")),
      // connected components via recursive reachability: walk enumerates
      // (node, reachable node) over the symmetric edge list; the component
      // representative is the MIN reachable id (undirected ⇒ min over the walk
      // closure = component min). The chain needs the RECURSIVE keyword.
      _ => s"""${NgramCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT da, db
         |  FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
         |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |  UNION SELECT db, da FROM pairs),
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
         |SELECT doc_id, MIN(reach) AS cluster_rep
         |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("split_assign_param")((s, d) =>
      // parameterized producer of train/val/test assignments — zero-shuffle
      // hash split, stable under corpus growth (Splits scaladoc); the
      // frozen 80/10/10 detector split is the separate split_assign row
      Splits.splitAssign(tbl(s, d, "documents"), SplitSpec, SplitAssignSalt)
        .orderBy(col("doc_id")),
      _ => Splits.splitAssignOracleSql(SplitSpec, SplitAssignSalt)),
    QueryDef("split_assign_strat")((s, d) =>
      // exact per-(source,lang) quotas via integer rank boundaries
      Splits.splitAssignStratified(tbl(s, d, "documents"), SplitSpec,
        SplitAssignSalt).orderBy(col("doc_id")),
      _ => Splits.splitAssignStratifiedOracleSql(SplitSpec, SplitAssignSalt)),
    QueryDef("split_assign_leakfree", family = Some("shingle"),
        prewarms = Seq(PairTableWarm))((s, d) => {
      // leakage-consistent assignment: near-dup clusters hash their rep, so
      // no verified near-dup pair can straddle splits (SplitsSpec proves
      // zero leak pairs by construction on this corpus)
      val docs = tbl(s, d, "documents")
      Splits.splitAssignLeakFree(docs,
        Dedup.nearDupClustersFromPairs(
          graft.sources.VerifiedPairs.forSfDir(s, d, 0.5)),
        SplitSpec, SplitAssignSalt).orderBy(col("doc_id"))
    },
      // leak-free assignment: the near_dup_clusters recursive-CTE labeling,
      // then the split CASE over COALESCE(cluster_rep, doc_id) — the same
      // integer thresholds splitAssignOracleSql renders
      _ => {
        val key = "COALESCE(l.cluster_rep, d.doc_id)"
        s"""${NgramCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
           |pairs AS (
           |  SELECT da, db
           |  FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
           |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
           |edges AS (SELECT da AS src, db AS dst FROM pairs
           |  UNION SELECT db, da FROM pairs),
           |walk(doc_id, reach) AS (
           |  SELECT src, src FROM edges
           |  UNION
           |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach),
           |labels AS (SELECT doc_id, MIN(reach) AS cluster_rep
           |  FROM walk GROUP BY doc_id)
           |SELECT d.doc_id, $key AS split_key,
           |  ${Splits.splitCaseSql(SplitSpec, SplitAssignSalt, key)} AS split
           |FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin
      }),
    QueryDef("near_dup_clusters_inc", family = Some("incclust"),
        prewarms = Seq(IncHistoryWarm))((s, d) => {
      // daily-ingest clustering: the batch shingles only itself, probes the
      // history posting/size artifacts (never re-tokenized), and merges into
      // yesterday's labeling via its star edges — result ≡ the full
      // recompute over history ∪ batch, so the oracle is near_dup_clusters'
      // recursive-CTE replay over the whole corpus, verbatim
      val docs = tbl(s, d, "documents")
      Dedup.nearDupClustersIncrementalPrebuilt(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.shingleSets(s, d),
        graft.sources.IncrementalHistory.shinglePrefixes(s, d),
        graft.sources.IncrementalHistory.shingleCms(s, d),
        graft.sources.IncrementalHistory.nearDupLabels(s, d),
        graft.sources.IncrementalHistory.ShingleThreshold).orderBy(col("doc_id"))
    },
      // the incremental path's declared contract IS result-equality with the
      // full recompute over history ∪ batch, so its oracle is the full
      // recursive-CTE replay verbatim — any drift in the artifact probe, the
      // semi-join prefilter, or the star-edge merge hashes red here
      _ => s"""${NgramCte.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |pairs AS (
         |  SELECT da, db
         |  FROM c JOIN dsz sa ON sa.doc_id = da JOIN dsz sb ON sb.doc_id = db
         |  WHERE round(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) >= 0.5),
         |edges AS (SELECT da AS src, db AS dst FROM pairs
         |  UNION SELECT db, da FROM pairs),
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON e.src = w.reach)
         |SELECT doc_id, MIN(reach) AS cluster_rep
         |FROM walk GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("simhash_docs", family = Some("simhash"))((s, d) =>
      Dedup.simhashes(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""$SimhashCte
         |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin),
    QueryDef("simhash_pairs", family = Some("simhash"))((s, d) =>
      Dedup.simhashPairs(tbl(s, d, "documents"), 3)
        .orderBy(col("doc_a"), col("doc_b")),
      _ => s"""$SimhashCte,
         |sl AS (SELECT sh.doc_id, documents.lang, sh.simhash
         |  FROM sh JOIN documents ON documents.doc_id = sh.doc_id),
         |banded AS (SELECT doc_id, lang, simhash, g.band,
         |    (simhash >> (8 * g.band)) & 255 AS bv
         |  FROM sl, generate_series(0, ${Dedup.SimhashBands - 1}) g(band))
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM banded a JOIN banded b
         |  ON a.lang = b.lang AND a.band = b.band AND a.bv = b.bv
         |  AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin),
    QueryDef("sq8_codebook", prewarms = Seq(Sq8Warm))((s, d) =>
      tbl(s, d, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(
          round(min(col("x")).cast("double"), 6).as("mn"),
          round(max(col("x")).cast("double"), 6).as("mx"))
        .orderBy(col("i")),
      _ => s"""SELECT i - 1 AS i,
         |  round(CAST(MIN(embedding[i]) AS DOUBLE), 6) AS mn,
         |  round(CAST(MAX(embedding[i]) AS DOUBLE), 6) AS mx
         |FROM embeddings, generate_series(1, $EmbDim) g(i)
         |GROUP BY i ORDER BY 1""".stripMargin),
    // contrast_ prefix = pedagogy, not serving: fixed-cardinality `label`
    // blocking → per-block pairs ∝ N² (the documented scale contrast for
    // near_dup_ivf below; PlanAuditSpec bans this shape from serving names).
    // Input capped at a FIXED vec_id < ContrastSampleCap sample (vacuous at
    // gate scales, where max vec_id is 1999): the lesson is the quadratic
    // SHAPE vs near_dup_ivf's linear one, which a fixed-size corpus shows
    // fine — unbounded, the pedagogy was 74% of the sf10 suite wall
    // (1087.5 s, verdict r13) and the scaled bench stopped measuring the
    // engine. The 1×/10× growth-law contrast pair lives in ScaleProbe.
    QueryDef("contrast_near_dup_fixed_block", family = Some("nd-emb"),
        prewarms = Seq(IvfWarm))((s, d) =>
      Dedup.embeddingNearDupPairsFixedBlock(
          tbl(s, d, "embeddings").where(col("vec_id") < ContrastSampleCap), 0.35)
        .orderBy(col("vec_a"), col("vec_b")),
      _ => s"""WITH e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings
         |  WHERE vec_id < $ContrastSampleCap)
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |  round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) + 1e-8), 6) AS sim
         |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) /
         |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)) + 1e-8), 6) >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin),
    QueryDef("near_dup_ivf", family = Some("nd-ivf"),
        prewarms = Seq(IvfWarm, IvfDedupBlockWarm))((s, d) =>
      // the 100 TB blocking key: the IVF cluster id — a co-partitioned
      // self-join inside the inverted file (the production variant of
      // contrast_near_dup_fixed_block's label blocking; oracle replays the
      // exported cluster assignment). Granularity = dedupBlockClusters:
      // constant target block size keeps pair cost LINEAR in corpus size
      Dedup.embeddingNearDupPairsBy(
          IvfIndex.forSfDir(s, d, dedupBlockClusters(s, d)).vectors,
          "cluster", 0.35)
        .orderBy(col("vec_a"), col("vec_b")),
      // cluster-blocked near-dup replay: blocks from the exported
      // dedup-granularity IVF assignment (like every IVF oracle — replay,
      // never re-train; at gate scales the dedup export IS the serving export)
      ctx => s"""WITH a AS (SELECT vec_id, cluster
         |  FROM read_parquet('${ctx.ivfDedupExport}/assign/*.parquet')),
         |e AS (SELECT e.vec_id, a.cluster, $EmbDouble AS v
         |  FROM embeddings e JOIN a ON a.vec_id = e.vec_id)
         |SELECT x.vec_id AS vec_a, y.vec_id AS vec_b,
         |  round(list_dot_product(x.v, y.v) /
         |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)) + 1e-8), 6) AS sim
         |FROM e x JOIN e y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
         |WHERE round(list_dot_product(x.v, y.v) /
         |    (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v)) + 1e-8), 6) >= 0.35
         |ORDER BY vec_a, vec_b""".stripMargin),
    // ---- LLM-data-pipeline: text analysis ----
    QueryDef("text_quality")((s, d) =>
      TextAnalysis.quality(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""SELECT doc_id,
         |  CAST(len($W) AS INT) AS n_tokens,
         |  CAST(len(list_distinct($W)) AS INT) AS n_uniq,
         |  round(CAST(len(list_distinct($W)) AS DOUBLE) / len($W), 6) AS uniq_ratio,
         |  round(CAST(list_sum(list_transform($W, t -> length(t))) AS DOUBLE) / len($W), 6) AS avg_token_len,
         |  round(CAST(len(list_filter($W, t -> t IN (${TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")}))) AS DOUBLE) / len($W), 6) AS stop_ratio
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("quality_percentiles")((s, d) =>
      TextAnalysis.qualityPercentiles(tbl(s, d, "documents")),
      _ => TextAnalysis.qualityPercentilesOracleSql("documents")),
    QueryDef("lang_id")((s, d) =>
      TextAnalysis.languageId(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""SELECT doc_id, lang, ${langIdSql(W)} AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin),
    QueryDef("doc_fingerprint")((s, d) =>
      TextAnalysis.fingerprints(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |t AS (SELECT doc_id, CAST(i AS VARCHAR) || '#' || u AS tok
         |  FROM (SELECT doc_id, unnest(w) AS u, generate_subscripts(w, 1) AS i FROM d))
         |SELECT doc_id, CAST(bit_xor(${h60Sql("tok")}) AS BIGINT) AS fp
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    QueryDef("tok_count_bpe")((s, d) =>
      TextAnalysis.tokenCountsBpe(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => {
        val patSql = TextAnalysis.BpeTokenRegex.replace("'", "''")
        s"""WITH s AS (SELECT doc_id, len($W) AS n_ws,
           |  len(regexp_extract_all(text, '$patSql')) AS n_bpe FROM documents)
           |SELECT doc_id, CAST(n_ws AS INT) AS n_ws, CAST(n_bpe AS INT) AS n_bpe,
           |  round(CAST(n_bpe AS DOUBLE) / n_ws, 6) AS bpe_per_ws
           |FROM s ORDER BY doc_id""".stripMargin
      }),
    QueryDef("text_norm")((s, d) =>
      TextAnalysis.normalize(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""WITH n AS (SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
         |    '  +', ' ', 'g')) AS t
         |  FROM documents)
         |SELECT doc_id, ${h60Sql("t")} AS norm_h60,
         |  CAST(length(t) AS INT) AS n_norm_chars,
         |  substring(t, 1, 80) AS norm_prefix
         |FROM n ORDER BY doc_id""".stripMargin),
    QueryDef("split_assign")((s, d) =>
      TextAnalysis.trainValTestSplit(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => {
        val hash = h60Sql(s"('${TextAnalysis.SplitSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""WITH b AS (SELECT doc_id, $hash % 100 AS bucket FROM documents)
           |SELECT doc_id, bucket,
           |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM b ORDER BY doc_id""".stripMargin
      }),
    QueryDef("pii_scrub")((s, d) =>
      TextAnalysis.piiScrub(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => {
        val (em, ip, ph) =
          (TextAnalysis.EmailRegex, TextAnalysis.Ipv4Regex, TextAnalysis.PhoneRegex)
        s"""WITH s0 AS (SELECT doc_id, text,
           |    regexp_replace(text, '$em', '<EMAIL>', 'g') AS after_email
           |  FROM documents),
           |s1 AS (SELECT doc_id, text, after_email,
           |    regexp_replace(after_email, '$ip', '<IP>', 'g') AS after_ip
           |  FROM s0),
           |s AS (SELECT doc_id,
           |  len(regexp_extract_all(text, '$em')) AS n_emails,
           |  len(regexp_extract_all(after_email, '$ip')) AS n_ips,
           |  len(regexp_extract_all(after_ip, '$ph')) AS n_phones,
           |  regexp_replace(after_ip, '$ph', '<PHONE>', 'g') AS t
           |  FROM s1)
           |SELECT doc_id, CAST(n_emails AS INT) AS n_emails, CAST(n_ips AS INT) AS n_ips,
           |  CAST(n_phones AS INT) AS n_phones, ${h60Sql("t")} AS scrub_h60,
           |  CAST(length(t) AS INT) AS n_scrub_chars
           |FROM s ORDER BY doc_id""".stripMargin
      }),
    QueryDef("repetition_metrics")((s, d) =>
      TextAnalysis.repetition(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |top AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  MAX(c) AS max_c FROM tf GROUP BY doc_id),
         |sh AS (SELECT doc_id, ${shingles3RawSql("w")} AS sh FROM d)
         |SELECT top.doc_id, top.n_tokens,
         |  round(CAST(max_c AS DOUBLE) / n_tokens, 6) AS top_tok_ratio,
         |  CASE WHEN len(sh.sh) > 0
         |    THEN round(CAST(len(list_distinct(sh.sh)) AS DOUBLE) / len(sh.sh), 6)
         |  END AS uniq_shingle_ratio
         |FROM top JOIN sh ON sh.doc_id = top.doc_id
         |ORDER BY top.doc_id""".stripMargin),
    QueryDef("corpus_filter")((s, d) =>
      TextAnalysis.corpusFilter(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |t AS (SELECT doc_id, unnest(w) AS tok FROM d),
         |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |top AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  MAX(c) AS max_c FROM tf GROUP BY doc_id),
         |pr AS (SELECT doc_id,
         |  round(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6) AS uniq_ratio FROM d),
         |r AS (SELECT top.doc_id, top.n_tokens,
         |    round(CAST(max_c AS DOUBLE) / n_tokens, 6) AS top_tok_ratio, pr.uniq_ratio
         |  FROM top JOIN pr ON pr.doc_id = top.doc_id)
         |SELECT doc_id, n_tokens,
         |  CASE WHEN n_tokens < ${TextAnalysis.MinTokens} THEN 'too_short'
         |       WHEN top_tok_ratio > ${TextAnalysis.MaxTopTokRatio} THEN 'repeated_token'
         |       WHEN uniq_ratio < ${TextAnalysis.MinUniqRatio} THEN 'low_diversity'
         |  END AS reason,
         |  (CASE WHEN n_tokens < ${TextAnalysis.MinTokens} THEN 'too_short'
         |       WHEN top_tok_ratio > ${TextAnalysis.MaxTopTokRatio} THEN 'repeated_token'
         |       WHEN uniq_ratio < ${TextAnalysis.MinUniqRatio} THEN 'low_diversity'
         |  END) IS NULL AS keep
         |FROM r ORDER BY doc_id""".stripMargin),
    QueryDef("vocab_top200")((s, d) =>
      TextAnalysis.vocabulary(tbl(s, d, "documents"), 200),
      _ => s"""SELECT token, COUNT(*) AS n
         |FROM (SELECT unnest($W) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token ASC LIMIT 200""".stripMargin),
    QueryDef("bigram_merges")((s, d) =>
      TextAnalysis.bigramMerges(tbl(s, d, "documents"), 100),
      // BPE merge candidates: adjacent-pair zip on both engines; (n DESC,
      // bigram ASC) is a total order so the LIMIT boundary is engine-stable
      _ => s"""WITH b AS (SELECT unnest(list_transform(
         |    list_zip(w[1:len(w)-1], w[2:len(w)]),
         |    p -> p[1] || ' ' || p[2])) AS bigram
         |  FROM (SELECT $W AS w FROM documents))
         |SELECT bigram, COUNT(*) AS n FROM b GROUP BY bigram
         |ORDER BY n DESC, bigram ASC LIMIT 100""".stripMargin),
    QueryDef("bpe_merges_k")((s, d) =>
      // the BATCHED trainer is the timed row (verdict r18 #4): it is the
      // documented production form (each corpus rewrite amortizes over up
      // to 4 mutually non-conflicting merges — 4.0× fewer rewrite passes at
      // 10×), and its stale-count semantics are deterministic, so the row
      // is DuckDB-replayable (Bpe.oracleSqlBatched: recursive-CTE greedy
      // selection + chained guarded folds). The sequential trainer stays
      // the parity baseline (BpeSpec property-tests batchSize=1 ≡ classic)
      Bpe.trainMergesBatched(s, tbl(s, d, "documents"), BpeRounds, BpeBatch),
      // K-round BPE training, unrolled: same pair-count/argmax/greedy-merge
      // per round; (n DESC, lhs, rhs) is total so each round's winner is
      // engine-stable (see Bpe.oracleSql)
      _ => Bpe.oracleSqlBatched("documents", BpeRounds, BpeBatch)),
    QueryDef("lang_sample")((s, d) =>
      TextAnalysis.langBalancedSample(tbl(s, d, "documents"),
        Map("en" -> 0.5, "de" -> 0.8), defaultRate = 0.25).orderBy(col("doc_id")),
      _ => {
        val hash = h60Sql(s"('${TextAnalysis.SampleSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""SELECT doc_id, lang FROM documents
           |WHERE $hash % 1000000 < (CASE
           |    WHEN lang = 'de' THEN CAST(0.8 AS DOUBLE)
           |    WHEN lang = 'en' THEN CAST(0.5 AS DOUBLE)
           |    ELSE CAST(0.25 AS DOUBLE) END) * 1000000
           |ORDER BY doc_id""".stripMargin
      }),
    QueryDef("unigram_logprob", prewarms = Seq(UnigramLakeWarm))((s, d) =>
      // serving form (r19 optimization round — the bigram_logprob treatment
      // applied to its unigram sibling): the token explode + both corpus
      // tables are the UnigramLmLake refresh artifacts (ingest sink + its
      // compaction views); the timed row pays only the score join + the
      // per-doc sorted fold. Row-identical to TextAnalysis.unigramLogprob
      // (ArtifactLakeSpec pins it); oracle replays from source
      // sink read through the doc_id-bucketed layout — no fold exchange,
      // same as bigram_logprob
      TextAnalysis.unigramLogprobPrebuilt(tbl(s, d, "documents"),
        graft.sources.UnigramLmLake.perDocBucketed(s, d),
        graft.sources.UnigramLmLake.tf(s, d),
        graft.sources.UnigramLmLake.totals(s, d))
        .orderBy(col("doc_id")),
      _ => TextAnalysis.unigramLogprobOracleSql("documents")),
    QueryDef("contamination_flags", family = Some("contam"),
        prewarms = Seq(ContamLakeWarm))((s, d) =>
      // serving form (verdict r18 #2): the corpus shingle pass + test class
      // quotient are the ShinglePostingLake refresh artifacts (frozen per
      // corpus version × split spec — in production the test side IS the
      // fixed benchmark suite); the timed row pays the membership probe +
      // rollups over the leaked fraction. Row-identical to
      // Dedup.benchmarkContamination (ArtifactLakeSpec); oracle replays
      // from source
      Dedup.benchmarkContaminationPrebuilt(tbl(s, d, "documents"),
        graft.sources.ShinglePostingLake.postings(s, d),
        graft.sources.ShinglePostingLake.testClasses(s, d),
        graft.sources.ShinglePostingLake.testShingles(s, d))
        .orderBy(col("doc_id")),
      _ => {
        val hash = h60Sql(s"('${TextAnalysis.SplitSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
           |ds AS (SELECT doc_id, $ShinglesFrag AS sh FROM d),
           |p AS (SELECT doc_id, ${h60Sql("s")} AS s
           |  FROM (SELECT doc_id, unnest(sh) AS s FROM ds WHERE len(sh) > 0)),
           |sp AS (SELECT doc_id,
           |  CASE WHEN $hash % 100 < 80 THEN 'train'
           |       WHEN $hash % 100 < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM documents),
           |pj AS (SELECT p.doc_id, p.s, sp.split FROM p JOIN sp USING (doc_id))
           |SELECT a.doc_id, COUNT(DISTINCT a.s) AS n_shingles,
           |  COUNT(DISTINCT b.doc_id) AS n_test_docs
           |FROM pj a JOIN pj b ON a.s = b.s
           |  AND a.split = 'train' AND b.split = 'test'
           |GROUP BY a.doc_id ORDER BY a.doc_id""".stripMargin
      }),
    QueryDef("ngram_novelty", family = Some("shingle"), prewarms = Seq(NgramLakeWarm))((s, d) =>
      // serving form (r20, verdict r19 #5): the per-doc shingle sets are
      // the NgramPostingLake ingest sink and the df table its compaction
      // view; the timed row pays the per-doc novelty probe — explode +
      // df=1 semi-join + rollup (the unigram_logprob shape). Row-identical
      // to Dedup.ngramNovelty (ArtifactLakeSpec pins it); oracle replays
      // from source
      Dedup.ngramNoveltyPrebuilt(tbl(s, d, "documents"),
        graft.sources.NgramPostingLake.sets(s, d),
        graft.sources.NgramPostingLake.dfStats(s, d)).orderBy(col("doc_id")),
      // df over the same posting relation the Jaccard family shares; the CASE
      // sum is CAST (DuckDB types SUM(INTEGER) as HUGEINT — the r5 lesson,
      // now linted by selfcheck.py)
      _ => s"""$NgramCte,
         |df AS (SELECT lang, s, COUNT(DISTINCT doc_id) AS df
         |  FROM p GROUP BY 1, 2),
         |nov AS (SELECT p.doc_id, COUNT(*) AS n_shingles,
         |    CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique
         |  FROM p JOIN df ON p.lang = df.lang AND p.s = df.s GROUP BY 1)
         |SELECT doc_id, n_shingles, n_unique,
         |  round(CAST(n_unique AS DOUBLE) / n_shingles, 6) AS novelty
         |FROM nov ORDER BY doc_id""".stripMargin),
    QueryDef("corpus_curate", family = Some("shingle"), prewarms = Seq(PairTableWarm))((s, d) =>
      CorpusPipeline.curateFromPairs(tbl(s, d, "documents"),
        graft.sources.VerifiedPairs.forSfDir(s, d, 0.5)).orderBy(col("doc_id")),
      // the composed five-stage pipeline: quality filter -> exact dedup ->
      // near-dup survivors -> PII audit -> split, each stage the same SQL as
      // its standalone oracle
      _ => CorpusPipeline.curateOracleSql("documents", 0.5)),
    QueryDef("doc_chunks")((s, d) =>
      TextAnalysis.chunk(tbl(s, d, "documents"))
        .orderBy(col("doc_id"), col("chunk_idx")),
      _ => TextAnalysis.chunkOracleSql("documents")),
    QueryDef("boilerplate_chunks")((s, d) =>
      TextAnalysis.boilerplate(tbl(s, d, "documents")).orderBy(col("chunk_h60")),
      _ => TextAnalysis.boilerplateOracleSql("documents")),
    QueryDef("oov_rate", prewarms = Seq(VocabLakeWarm))((s, d) =>
      // serving form (r19 optimization round): the vocabulary is the frozen
      // VocabLake tokenizer artifact; the timed row pays its own explode +
      // broadcast membership join. Row-identical to TextAnalysis.oovRate
      // (ArtifactLakeSpec pins it); oracle replays from source
      TextAnalysis.oovRateWithVocab(tbl(s, d, "documents"),
        graft.sources.VocabLake.topK(s, d, TextAnalysis.OovVocabK))
        .orderBy(col("doc_id")),
      _ => TextAnalysis.oovRateOracleSql("documents")),
    QueryDef("len_buckets")((s, d) =>
      TextAnalysis.lengthBuckets(tbl(s, d, "documents")),
      // power-of-two length histogram: bucket = bit length of n_chars
      // (length(bin(n)) — identical integer semantics on both engines);
      // cum_share = ratio of exact integer sums, 6-dp stable
      _ => """WITH b AS (
        |  SELECT CAST(length(bin(n_chars)) AS INT) AS bucket,
        |    COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |  FROM documents WHERE n_chars > 0 GROUP BY 1)
        |SELECT bucket, n_docs, sum_chars,
        |  round(CAST(SUM(sum_chars) OVER (ORDER BY bucket) AS DOUBLE) /
        |    (SELECT CAST(SUM(sum_chars) AS DOUBLE) FROM b), 6) AS cum_share
        |FROM b ORDER BY bucket""".stripMargin),
    QueryDef("tok_encode", prewarms = Seq(VocabLakeWarm))((s, d) =>
      // same frozen-vocabulary serving form as oov_rate
      TextAnalysis.encodeTokensWithVocab(tbl(s, d, "documents"),
        graft.sources.VocabLake.topK(s, d, TextAnalysis.OovVocabK))
        .orderBy(col("doc_id"), col("pos")),
      // tokenizer application: ids 1..K in (count DESC, token ASC) vocab
      // order, 0 = OOV; positions are 1-based on both engines
      _ => s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
         |vc AS (SELECT token, COUNT(*) AS n
         |  FROM (SELECT unnest(w) AS token FROM d) GROUP BY 1
         |  ORDER BY n DESC, token ASC LIMIT ${TextAnalysis.OovVocabK}),
         |v AS (SELECT token,
         |    CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INT) AS tid FROM vc),
         |t AS (SELECT doc_id, unnest(w) AS token,
         |    CAST(generate_subscripts(w, 1) AS INT) AS pos FROM d)
         |SELECT t.doc_id, t.pos, CAST(COALESCE(v.tid, 0) AS INT) AS tid
         |FROM t LEFT JOIN v USING (token)
         |ORDER BY doc_id, pos""".stripMargin),
    QueryDef("token_entropy")((s, d) =>
      TextAnalysis.tokenEntropy(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => TextAnalysis.tokenEntropyOracleSql("documents")),
    QueryDef("bigram_logprob", prewarms = Seq(BigramLakeWarm))((s, d) =>
      // serving form (verdict r18 #1): the pair explode + all three count
      // tables are the BigramLmLake refresh artifacts (ingest sink + its
      // compaction views); the timed row pays only the score joins + the
      // per-doc sorted fold. Row-identical to TextAnalysis.bigramLogprob
      // (ArtifactLakeSpec pins it); oracle replays from source
      // r19 optimization round: the sink is read through its doc_id-BUCKETED
      // layout, so the per-doc fold needs no exchange (guide §2.4) — the
      // count sides broadcast and the only shuffle left is the dump orderBy
      TextAnalysis.bigramLogprobPrebuilt(tbl(s, d, "documents"),
        graft.sources.BigramLmLake.perDocBucketed(s, d),
        graft.sources.BigramLmLake.counts(s, d),
        graft.sources.BigramLmLake.marginals(s, d))
        .orderBy(col("doc_id")),
      _ => TextAnalysis.bigramLogprobOracleSql("documents")),
    QueryDef("pmi_bigrams", family = Some("pmi"))((s, d) =>
      TextAnalysis.pmiBigrams(tbl(s, d, "documents")),
      _ => TextAnalysis.pmiBigramsOracleSql("documents", 5L, 100)),
    // ---- LLM-data-pipeline: training-mix construction ----
    QueryDef("mix_stats")((s, d) =>
      TrainingMix.mixStats(tbl(s, d, "documents")),
      // training-mix rollup: GROUPING() markers make the sort total (q24 rule);
      // integer sums cast to BIGINT (DuckDB SUM(int) is HUGEINT)
      _ => s"""SELECT source, lang, COUNT(*) AS n_docs,
         |  CAST(SUM(len($W)) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
         |FROM documents
         |GROUP BY ROLLUP (source, lang)
         |ORDER BY source ASC NULLS FIRST, GROUPING(source),
         |  lang ASC NULLS FIRST, GROUPING(lang)""".stripMargin),
    QueryDef("mix_weights", family = Some("mix"))((s, d) =>
      TrainingMix.mixWeights(tbl(s, d, "documents")),
      // α=1/2 temperature weights: sqrt is IEEE-correctly-rounded on both
      // engines (a general pow may drift an ulp); the normalizer is the same
      // fixed-order fold both sides (list ORDER BY source, lang — the
      // sorted-fold parity recipe from unigram_logprob)
      _ => s"""WITH g AS (SELECT source, lang,
         |    CAST(SUM(len($W)) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY source, lang),
         |f AS (SELECT
         |    list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE))
         |      ORDER BY source NULLS FIRST, lang NULLS FIRST),
         |      (a, b) -> a + b) AS denom,
         |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM g)
         |SELECT source, lang, n_tokens,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / denom, 6) AS p,
         |  round(sqrt(CAST(n_tokens AS DOUBLE)) / denom /
         |    (CAST(n_tokens AS DOUBLE) / total_tokens), 6) AS boost
         |FROM g, f
         |ORDER BY source ASC NULLS FIRST, lang ASC NULLS FIRST""".stripMargin),
    QueryDef("seq_pack", family = Some("seqpack"))((s, d) =>
      TrainingMix.packSequences(tbl(s, d, "documents"), PackBudget),
      // boundary-form head-to-tail packing: seq = exclusive-prefix-sum div
      // budget — the oracle's single global window equals the engine's two-job
      // block prefix-sum by construction
      _ => s"""WITH d AS (SELECT doc_id, CAST(len($W) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |  COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         |  FROM d)
         |SELECT CAST(cum_before // $PackBudget AS BIGINT) AS seq_id,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
         |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
         |  round(CAST(SUM(n_tok) AS DOUBLE) / $PackBudget, 6) AS fill
         |FROM c GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    QueryDef("shuffle_shards")((s, d) =>
      TrainingMix.shuffleShards(tbl(s, d, "documents"), ShuffleShards),
      // deterministic training shuffle: md5-derived shard + in-shard order
      // (portable-hash contract — identical bits in any engine)
      _ => {
        val h = h60Sql(s"('${TrainingMix.ShuffleSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""WITH s AS (SELECT doc_id, $h AS h,
           |    CAST($h % $ShuffleShards AS INT) AS shard
           |  FROM documents)
           |SELECT doc_id, shard,
           |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS INT) AS pos
           |FROM s ORDER BY shard, pos""".stripMargin
      }),
    QueryDef("quality_top_lang")((s, d) =>
      TrainingMix.topQualityPerLang(tbl(s, d, "documents"), 0.25),
      // per-language top-quartile cut: rank on the 6-dp ROUNDED ratio (the
      // engine-wide rank contract), doc_id tie-break makes the cut total
      _ => s"""WITH s AS (SELECT doc_id, lang,
         |  round(CAST(len(list_distinct($W)) AS DOUBLE) / len($W), 6) AS uniq_ratio
         |  FROM documents),
         |r AS (SELECT doc_id, lang, uniq_ratio,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY uniq_ratio DESC, doc_id) AS INT) AS rk,
         |  COUNT(*) OVER (PARTITION BY lang) AS n FROM s)
         |SELECT doc_id, lang, uniq_ratio, rk FROM r
         |WHERE rk <= CAST(ceil(0.25 * n) AS BIGINT)
         |ORDER BY lang ASC NULLS FIRST, rk""".stripMargin),
    QueryDef("mix_sample", family = Some("mix"))((s, d) =>
      TrainingMix.mixSample(tbl(s, d, "documents"), MixEpochTokens),
      // mix-weight application: same weights CTE, rate = min(1, p·T/n) rounded
      // 6dp, keep via h60 mod 1e6 < floor(rate·1e6 + 0.5) (the deterministic-
      // sampling contract — floor(x+0.5), never round(): half-way semantics
      // differ between engines)
      _ => {
        val h = h60Sql(s"('${TrainingMix.MixSampleSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""WITH g AS (SELECT source, lang,
           |    CAST(SUM(len($W)) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source, lang),
           |f AS (SELECT
           |    list_reduce(list(sqrt(CAST(n_tokens AS DOUBLE))
           |      ORDER BY source NULLS FIRST, lang NULLS FIRST),
           |      (a, b) -> a + b) AS denom,
           |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens FROM g),
           |r AS (SELECT source, lang,
           |    round(least(CAST(1 AS DOUBLE),
           |      round(sqrt(CAST(n_tokens AS DOUBLE)) / denom, 6) *
           |        CAST($MixEpochTokens AS DOUBLE) / n_tokens), 6) AS rate
           |  FROM g, f)
           |SELECT d.doc_id, d.source, d.lang, r.rate
           |FROM documents d JOIN r ON d.source IS NOT DISTINCT FROM r.source
           |  AND d.lang IS NOT DISTINCT FROM r.lang
           |WHERE $h % 1000000 <
           |  CAST(floor(r.rate * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
           |ORDER BY d.doc_id""".stripMargin
      }),
    QueryDef("shard_pack")((s, d) =>
      TrainingMix.packShards(tbl(s, d, "documents"), ShuffleShards, PackBudget),
      // per-shard packing in shuffled order: window partitioned by shard —
      // the fully parallel loader form (no global window on either engine)
      _ => {
        val h = h60Sql(s"('${TrainingMix.ShuffleSalt}#' || CAST(doc_id AS VARCHAR))")
        s"""WITH d AS (SELECT doc_id, $h AS h,
           |    CAST($h % $ShuffleShards AS INT) AS shard,
           |    CAST(len($W) AS BIGINT) AS n_tok
           |  FROM documents),
           |c AS (SELECT shard, n_tok,
           |  COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY h, doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
           |  FROM d)
           |SELECT shard, CAST(cum_before // $PackBudget AS BIGINT) AS seq_id,
           |  COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS seq_tokens,
           |  round(CAST(SUM(n_tok) AS DOUBLE) / $PackBudget, 6) AS fill
           |FROM c GROUP BY shard, seq_id ORDER BY shard, seq_id""".stripMargin
      }),
    // ---- LLM-data-pipeline: multimodal ----
    QueryDef("multimodal_meta", prewarms = Seq(IvfWarm))((s, d) =>
      Multimodal.metadata(tbl(s, d, "documents")).orderBy(col("doc_id")),
      _ => Multimodal.metadataOracleSql("documents")),
    QueryDef("multimodal_frames", prewarms = Seq(IvfWarm))((s, d) =>
      // deterministic frame sampling over the payload column: one frame per
      // 160 payload bytes, frame_hash the portable stand-in for the decoded
      // tensor — the row-explosion plumbing a video pipeline runs, oracled
      // end-to-end (pure integer arithmetic + portable hash)
      Multimodal.sampleFrames(Multimodal.withPayload(tbl(s, d, "documents")), 160)
        .orderBy(col("doc_id"), col("frame_no")),
      // frame sampling: frames per doc = max(ceil(n_bytes/160), 1) (payload =
      // utf-8 text bytes), frame i's hash = h32("doc_id:i") — correlated
      // range() replays the engine's sequence+posexplode exactly
      _ => s"""WITH nf AS (
         |  SELECT doc_id,
         |    GREATEST(CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 160.0) AS BIGINT), 1) AS n
         |  FROM documents),
         |f AS (SELECT doc_id, unnest(range(n)) AS i FROM nf)
         |SELECT doc_id, CAST(i AS INT) AS frame_no,
         |  ${h32Sql("CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR)")} AS frame_hash
         |FROM f ORDER BY doc_id, frame_no""".stripMargin),
    QueryDef("multimodal_knn", prewarms = Seq(IvfWarm))((s, d) => {
      // the composed media pipeline, reference entry-point-1 semantics
      // (IVF.cpp:648-708) over a multimodal column: payload → decode
      // (FakeDecoder, portable-hash stub) → frame embedding (HashEmbedder
      // contract) → batched exact kNN against the embedding corpus. The
      // 3 query frames ride the broadcast side; the corpus is scanned once.
      val queries = Multimodal.frameEmbeddings(s,
          Multimodal.withPayload(tbl(s, d, "documents").where(col("doc_id") < 3)))
        .select(col("vec_id").as("query_id"), col("embedding"))
      KnnBatch.topK(tbl(s, d, "embeddings"), queries, 5)
        .orderBy(col("query_id"), col("rn"))
    },
      // composed decode→embed→kNN: the query frames' embeddings are re-derived
      // in SQL from the portable decode/embed contract (md5-based, see
      // Multimodal.frameEmbeddingQuerySql), then brute-force ranked exactly
      // like knn_batch
      _ => s"""WITH ${Multimodal.frameEmbeddingQuerySql("doc_id < 3")},
         |e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings),
         |scored AS (SELECT q.query_id, e.vec_id, e.label,
         |    round(list_dot_product(e.v, q.v) /
         |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
         |  FROM e, q),
         |ranked AS (SELECT query_id, vec_id, label, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, label, sim, rn FROM ranked
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    QueryDef("multimodal_ann", prewarms = Seq(IvfWarm))((s, d) => {
      // the media pipeline composed with the INDEX serving path: payload →
      // decode → frame embedding → batched IVF probe search (one pruned
      // union scan for the whole decoded-query batch) — multimodal content
      // rides the same inverted-file serving point as the vector queries,
      // the posture a mixed text+media corpus actually deploys
      val queries = Multimodal.frameEmbeddings(s,
          Multimodal.withPayload(tbl(s, d, "documents").where(col("doc_id") < 3)))
        .select(col("vec_id").as("query_id"), col("embedding"))
      IvfIndex.forSfDir(s, d, NumClusters).searchBatch(queries, 5, AnnProbe)
        .orderBy(col("query_id"), col("rn"))
    },
      // media queries through the IVF serving point: frame-embedding CTE
      // (identical decode/embed replay as multimodal_knn) + the ann_ivf_batch
      // coarse/fine replay over the exported centroid/assignment artifacts
      ctx => s"""WITH ${Multimodal.frameEmbeddingQuerySql("doc_id < 3")},
         |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
         |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
         |sc AS (SELECT q.query_id, cent.cluster,
         |    list_dot_product(c, q.v) /
         |      (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) AS csim
         |  FROM cent, q),
         |probes AS (SELECT query_id, cluster FROM (
         |    SELECT query_id, cluster,
         |      row_number() OVER (PARTITION BY query_id ORDER BY csim DESC, cluster ASC) AS crn
         |    FROM sc) WHERE crn <= $AnnProbe),
         |a AS (SELECT vec_id, cluster FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')),
         |cand AS (SELECT p.query_id, a.vec_id FROM probes p JOIN a ON a.cluster = p.cluster),
         |e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings),
         |scored AS (SELECT c.query_id, e.vec_id, e.label,
         |    round(list_dot_product(e.v, q.v) /
         |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
         |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.query_id = c.query_id),
         |ranked AS (SELECT query_id, vec_id, label, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rn
         |  FROM scored)
         |SELECT query_id, vec_id, label, sim, rn FROM ranked
         |WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),
    QueryDef("phash_docs", family = Some("phash"), prewarms = Seq(PhashLakeWarm))((s, d) =>
      // per-frame perceptual hashes (aHash + dHash) — the media-payload
      // dedup sketch. Served from the FrameSketchLake artifact (r16): in
      // production this table is the frameSketchStream's accumulated sink
      // — payloads hash once, at ingest — so the row IS the artifact scan.
      graft.sources.FrameSketchLake.sketches(s, d)
        .select(col("doc_id"), col("frame_no"), col("ahash"), col("dhash"))
        .orderBy(col("doc_id"), col("frame_no")),
      _ => s"""$PhashCte
         |SELECT doc_id, frame_no, ahash, dhash FROM ph
         |ORDER BY doc_id, frame_no""".stripMargin),
    QueryDef("phash_imageio")((s, d) =>
      // the REAL-codec arm end-to-end (verdict r14 #8): deterministic
      // synthetic PNGs through the JDK encoder, decoded by ImageIoDecoder's
      // production path into the shared packPhash — lossless round-trip, so
      // the oracle replays the painted recipe closed-form
      Multimodal.imagePhash(s, tbl(s, d, "documents")).orderBy(col("doc_id")),
      // real-codec arm replay (verdict r14 #8): the engine paints column c of
      // doc's PNG gray h32("{doc_id}:{c}") % 256, and PNG round-trip + BT.601
      // integer luma of gray v = v make the decoded strip EQUAL the recipe —
      // so the oracle replays paint → threshold/pack (the shared packPhash
      // semantics) without any codec. CASTs per the DuckDB HUGEINT lint.
      _ => {
        val cells = Multimodal.PhashCells
        s"""WITH cell AS (SELECT doc_id, g.c,
           |    ${h32Sql(s"CAST(doc_id AS VARCHAR) || ':' || CAST(g.c AS VARCHAR)")} % 256 AS iv
           |  FROM documents, generate_series(0, ${cells - 1}) g(c)),
           |tot AS (SELECT doc_id, SUM(iv) AS total FROM cell GROUP BY 1),
           |ph AS (SELECT a.doc_id,
           |    CAST(SUM(CASE WHEN $cells * a.iv > t.total THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS ahash,
           |    CAST(SUM(CASE WHEN a.iv > n.iv THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS dhash
           |  FROM cell a
           |  JOIN cell n ON n.doc_id = a.doc_id AND n.c = (a.c + 1) % $cells
           |  JOIN tot t ON t.doc_id = a.doc_id
           |  GROUP BY 1)
           |SELECT doc_id, ahash, dhash FROM ph ORDER BY doc_id""".stripMargin
      }),
    QueryDef("near_dup_frames", family = Some("phash"), prewarms = Seq(PhashLakeWarm))((s, d) =>
      // per-doc duplicated-frame share via the banded Hamming join — the
      // simhashPairs pigeonhole machinery applied to the payload sketches,
      // rolled up to the O(docs) serving signal (the dup_span_share design;
      // pair output on low-entropy media is quadratic — see scaladoc).
      // Reads the FrameSketchLake sketch + class artifacts (r16): decode,
      // hash, and the class quotient are ingest/compaction work, so the
      // serving row pays only the verdict join + rollup
      Multimodal.frameDupShareFromSketches(
        graft.sources.FrameSketchLake.sketches(s, d),
        graft.sources.FrameSketchLake.classes(s, d))
        .orderBy(col("doc_id")),
      // banded Hamming over the frame sketches — same pigeonhole replay as
      // simhash_pairs (4 bands × 8 bits of the aHash, lang-blocked), joint
      // 64-bit (aHash ‖ dHash) verification, rolled up to the per-doc share
      _ => s"""$PhashCte,
         |pl AS (SELECT ph.doc_id, ph.frame_no, ph.ahash, ph.dhash, documents.lang
         |  FROM ph JOIN documents ON documents.doc_id = ph.doc_id),
         |banded AS (SELECT doc_id, frame_no, lang, ahash, dhash, g.band,
         |    (ahash >> (8 * g.band)) & 255 AS bv
         |  FROM pl, generate_series(0, ${Dedup.SimhashBands - 1}) g(band)),
         |dup AS (SELECT DISTINCT a.doc_id, a.frame_no
         |  FROM banded a JOIN banded b
         |    ON a.lang = b.lang AND a.band = b.band AND a.bv = b.bv
         |    AND a.doc_id <> b.doc_id
         |  WHERE bit_count(xor(a.ahash, b.ahash)) +
         |    bit_count(xor(a.dhash, b.dhash)) <= 3)
         |SELECT pl.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_frames,
         |  CAST(COUNT(dup.frame_no) AS BIGINT) AS n_dup_frames,
         |  round(CAST(COUNT(dup.frame_no) AS DOUBLE) / COUNT(*), 6) AS dup_frame_share
         |FROM pl LEFT JOIN dup
         |  ON dup.doc_id = pl.doc_id AND dup.frame_no = pl.frame_no
         |GROUP BY pl.doc_id ORDER BY pl.doc_id""".stripMargin),
    QueryDef("frame_dup_share_inc", family = Some("phash"),
        prewarms = Seq(IncHistoryWarm))((s, d) => {
      // daily-ingest media dedup: the batch sketches only itself and probes
      // the append-only per-frame sketch artifact (IncrementalHistory,
      // Bench-prewarmed) — media is the fifth incremental modality; equals
      // the full-corpus frameDupShare restricted to batch docs. The history
      // side contributes its PRECOMPUTED class quotient (deterministic per
      // history version) so the probe never re-derives the history groupBy
      val docs = tbl(s, d, "documents")
      // serving form (verdict r17 #1): the corpus-side quotient is the
      // POST-INGEST artifact (flip merge runs once at refresh, not once per
      // query per pass); the batch still sketches itself — the O(batch)
      // probe contract. Output ≡ the plain incremental form ≡ full
      // recompute restricted to batch docs (PhashSpec pins the chain)
      Multimodal.frameDupShareIncrementalPrebuilt(
        graft.sources.IncrementalHistory.batchDocs(docs),
        graft.sources.IncrementalHistory.phashSketches(s, d),
        graft.sources.IncrementalHistory.phashClassesMerged(s, d))
        .orderBy(col("doc_id"))
    },
      // incremental media dedup: history ∪ batch IS the full corpus, so the
      // replay is the near_dup_frames chain with the a-side (and the rollup)
      // restricted to batch docs — the dup_span_share_inc oracle convention
      _ => s"""$PhashCte,
         |pl AS (SELECT ph.doc_id, ph.frame_no, ph.ahash, ph.dhash, documents.lang
         |  FROM ph JOIN documents ON documents.doc_id = ph.doc_id),
         |banded AS (SELECT doc_id, frame_no, lang, ahash, dhash, g.band,
         |    (ahash >> (8 * g.band)) & 255 AS bv
         |  FROM pl, generate_series(0, ${Dedup.SimhashBands - 1}) g(band)),
         |dup AS (SELECT DISTINCT a.doc_id, a.frame_no
         |  FROM banded a JOIN banded b
         |    ON a.lang = b.lang AND a.band = b.band AND a.bv = b.bv
         |    AND a.doc_id <> b.doc_id
         |  WHERE a.doc_id % 5 = 4 AND bit_count(xor(a.ahash, b.ahash)) +
         |    bit_count(xor(a.dhash, b.dhash)) <= 3)
         |SELECT pl.doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_frames,
         |  CAST(COUNT(dup.frame_no) AS BIGINT) AS n_dup_frames,
         |  round(CAST(COUNT(dup.frame_no) AS DOUBLE) / COUNT(*), 6) AS dup_frame_share
         |FROM pl LEFT JOIN dup
         |  ON dup.doc_id = pl.doc_id AND dup.frame_no = pl.frame_no
         |WHERE pl.doc_id % 5 = 4
         |GROUP BY pl.doc_id ORDER BY pl.doc_id""".stripMargin)
  ))

  /** Refuses two records with one name — a `Map(...)` literal silently kept
    * the later of two duplicate keys. */
  private[graft] def requireUniqueNames(defs: Seq[QueryDef]): Seq[QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate query name(s): ${dups.toSeq.sorted.mkString(", ")}")
    defs
  }

  /** Query name → Spark plan, a view of [[queryDefs]]. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    queryDefs.map(q => q.name -> q.run).toMap

  /** A comma-separated query-name filter (Bench's `SPARK_GRAFT_ONLY`,
    * Verify's third argument): names are trimmed, blanks dropped, and every
    * name must be declared — a typo would otherwise time or dump nothing for
    * that name and the compare would vacuously pass on the rest. */
  def queryFilter(csv: String): Set[String] = {
    val names = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
    names
  }

  /** Harness run order: deterministic, with family members adjacent (each
    * family sorts at its name's alphabetical position) so one release point
    * per family bounds cache lifetime without losing intra-family reuse. */
  def orderedQueries: Seq[QueryDef] =
    queryDefs.sortBy(q => (q.family.getOrElse(q.name), q.name))

  /** THE family-boundary cache-lifecycle loop, shared by Bench and Verify so
    * timings are always measured under the same cache discipline correctness
    * was verified under (two hand-maintained copies drifted apart is exactly
    * the failure mode — r5 review): runs every query in [[orderedQueries]]
    * order, releasing [[CacheRegistry]] when the cache family changes and
    * once at the end. `run` observes each query; sampling cache storage
    * inside `run` (after execution) sees every family at its peak, since
    * release only ever happens between calls. */
  def foreachOrdered(
      run: (String, (SparkSession, String) => DataFrame) => Unit): Unit = {
    var prevFamily: Option[String] = None
    orderedQueries.foreach { q =>
      if (q.family != prevFamily) { CacheRegistry.release(); prevFamily = q.family }
      run(q.name, q.run)
    }
    CacheRegistry.release()
  }

  /** Exact k-NN (reference at nProbe=128): scan → codegen cosine → top-k
    * under the engine's rank contract ([[KnnExact.topK]]). */
  private def knnExact(s: SparkSession, sfDir: String): DataFrame = {
    val emb = tbl(s, sfDir, "embeddings")
    KnnExact.topK(emb, KnnExact.queryVector(emb, 0L), TopK)
  }

  /** IVF two-phase query (IVF.cpp:267-435): coarse top-nProbe centroids on the
    * driver, partition-pruned fine scan, top-k. nProbe=NumClusters ⇒ exact. */
  private def knnIvf(s: SparkSession, sfDir: String, nProbe: Int): DataFrame =
    IvfIndex.forSfDir(s, sfDir, NumClusters)
      .search(KnnExact.queryVector(tbl(s, sfDir, "embeddings"), 0L), TopK, nProbe)

  // ------------------------------------------------------------ oracles

  /** DuckDB fragment: embeddings as double lists (DuckDB list math on FLOAT
    * lists accumulates in float; casting matches our Double accumulation). */
  private val EmbDouble = "list_transform(embedding, x -> CAST(x AS DOUBLE))"

  private val KnnOracle: String =
    s"""WITH q AS (SELECT $EmbDouble AS v FROM embeddings WHERE vec_id = 0),
       |e AS (SELECT vec_id, label, $EmbDouble AS v FROM embeddings)
       |SELECT e.vec_id, e.label,
       |  round(list_dot_product(e.v, q.v) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM e, q
       |ORDER BY sim DESC, e.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** IVF probe replay oracle for `ann_ivf_probe`: coarse over the exported
    * centroid table, fine over the exported assignment join. Export paths
    * come in through the explicit [[OracleCtx]], so the render is a pure
    * function of the requested config — no ran-first singleton state. */
  private def IvfProbeOracle(ctx: OracleCtx): String =
    ivfProbeOracleWhere(ctx, "TRUE")

  /** [[IvfProbeOracle]] at the TUNED operating point: replays the identical
    * coarse/fine phases, but the probe-count literal is the
    * [[IvfIndex.tunedProbeForSfDir]] value carried in the ctx — resolved by
    * the render itself under [[oracleSqlFor]], so query execution order
    * cannot skew it. The probe set is deterministic given the exported
    * centroids, so DuckDB replays the tuned search exactly. */
  private def IvfTunedProbeOracle(ctx: OracleCtx): String =
    ivfProbeOracleWhere(ctx, "TRUE", ctx.tunedNProbe)

  /** [[IvfProbeOracle]] with a fine-phase predicate — `ann_filtered` replays
    * the same probes with the metadata filter applied before scoring (the
    * pre-filter semantics the Spark plan pushes into the pruned scan). */
  private def ivfProbeOracleWhere(ctx: OracleCtx, pred: String,
      nProbe: Int = AnnProbe): String =
    s"""WITH q AS (SELECT $EmbDouble AS v FROM embeddings WHERE vec_id = 0),
       |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
       |  FROM read_parquet('${ctx.ivfExport}/centroids/*.parquet')),
       |probes AS (SELECT cluster FROM cent, q
       |  ORDER BY list_dot_product(c, q.v) /
       |    (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) DESC,
       |    cluster ASC
       |  LIMIT $nProbe),
       |a AS (SELECT vec_id FROM read_parquet('${ctx.ivfExport}/assign/*.parquet')
       |  WHERE cluster IN (SELECT cluster FROM probes)),
       |e AS (SELECT e.vec_id, e.label, $EmbDouble AS v
       |  FROM embeddings e JOIN a ON e.vec_id = a.vec_id
       |  WHERE $pred)
       |SELECT e.vec_id, e.label,
       |  round(list_dot_product(e.v, q.v) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM e, q
       |ORDER BY sim DESC, e.vec_id ASC
       |LIMIT $TopK""".stripMargin

  /** Per-customer top-3 orders — shared by the window formulation (q04) and
    * the bounded-heap aggregate formulation (q22): one oracle, two plans. */
  private val TopOrdersOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS BIGINT) AS rn
      |  FROM orders) t
      |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin

  /** DuckDB mirror of [[graft.operators.Relational.exactSum]] (r16 q/r
    * split): quantize each addend to 6 dp with the identical IEEE double
    * formula, split per row into whole units and a non-negative micro
    * remainder (the `(m % 1e6 + 1e6) % 1e6` canonical mod matches Spark's
    * pmod for negative addends; `//` is exact integer division on the
    * multiple), sum the two parts exactly (DuckDB widens SUM(BIGINT) to
    * HUGEINT — collapse back to BIGINT so both engines do the same
    * int64→double rounding), then reassemble with the same one rounded
    * division + one rounded addition the engine performs. */
  private def sumXSql(e: String): String = {
    val m = s"CAST(floor(($e) * 1e6 + 0.5) AS BIGINT)"
    val rr = s"(($m % 1000000 + 1000000) % 1000000)"
    val sq = s"CAST(SUM(($m - $rr) // 1000000) AS BIGINT)"
    val sr = s"CAST(SUM($rr) AS BIGINT)"
    s"CAST($sq + ($sr - $sr % 1000000) // 1000000 AS DOUBLE) + " +
      s"CAST($sr % 1000000 AS DOUBLE) / 1e6"
  }

  /** word-list fragment */
  private val W = "string_split(text, ' ')"

  /** SimHash-per-doc CTE chain ending in `sh(doc_id, simhash)` — shared by
    * the sketch export and the banded pair generator. */
  private lazy val SimhashCte: String =
    s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
       |t AS (SELECT doc_id, ${h32Sql("u")} AS h
       |  FROM (SELECT doc_id, unnest(w) AS u FROM d)),
       |n AS (SELECT doc_id, COUNT(*) AS n FROM t GROUP BY doc_id),
       |bits AS (SELECT t.doc_id, g.b,
       |    COUNT(*) FILTER (WHERE (h >> g.b) & 1 = 1) AS c
       |  FROM t CROSS JOIN generate_series(0, 31) g(b) GROUP BY 1, 2),
       |sh AS (SELECT bits.doc_id,
       |    CAST(SUM(CASE WHEN 2 * c >= n.n THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits JOIN n ON n.doc_id = bits.doc_id
       |  GROUP BY bits.doc_id)""".stripMargin
  /** Perceptual-hash CTE chain ending in `ph(doc_id, frame_no, ahash,
    * dhash)` — the DuckDB replay of [[Multimodal.phashFrames]]: same frame
    * explosion, cell intensities `h32(cell chars) % 256`, integer-math aHash
    * threshold (`cells·iv > Σiv`) and circular dHash gradient. Shared by the
    * sketch export and the banded near-dup pair generator. */
  private lazy val PhashCte: String = {
    val stride = Multimodal.PhashStride
    val cells = Multimodal.PhashCells
    val cellw = stride / cells
    s"""WITH fr AS (SELECT doc_id, text, unnest(generate_series(0,
       |    CAST(greatest(ceil(CAST(length(text) AS DOUBLE) / $stride) - 1, 0) AS BIGINT))) AS frame_no
       |  FROM documents),
       |cell AS (SELECT doc_id, frame_no, g.c,
       |    ${h32Sql(s"substring(text, CAST(frame_no * $stride + g.c * $cellw + 1 AS BIGINT), $cellw)")} % 256 AS iv
       |  FROM fr, generate_series(0, ${cells - 1}) g(c)),
       |tot AS (SELECT doc_id, frame_no, SUM(iv) AS total FROM cell GROUP BY 1, 2),
       |ph AS (SELECT a.doc_id, a.frame_no,
       |    CAST(SUM(CASE WHEN $cells * a.iv > t.total THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS ahash,
       |    CAST(SUM(CASE WHEN a.iv > n.iv THEN (CAST(1 AS BIGINT) << a.c) ELSE 0 END) AS BIGINT) AS dhash
       |  FROM cell a
       |  JOIN cell n ON n.doc_id = a.doc_id AND n.frame_no = a.frame_no
       |    AND n.c = (a.c + 1) % $cells
       |  JOIN tot t ON t.doc_id = a.doc_id AND t.frame_no = a.frame_no
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** distinct word-3-shingle fragment over a docs CTE exposing w */
  private val ShinglesFrag = shingles3Sql("w")

  private val MinhashSelect: String =
    (0 until Dedup.MinhashK)
      .map(j => s"${minhashJSqlAgg(j)} AS h$j").mkString(",\n  ")

  private def minhashJSqlAgg(j: Int): String =
    s"MIN((${MinhashA(j)} * ${h32Sql("sh")} + ${MinhashB(j)}) % $MinhashP)"

  private val MinhashCte: String =
    s"""WITH d AS (SELECT doc_id, $W AS w FROM documents),
       |s AS (SELECT doc_id, unnest($ShinglesFrag) AS sh FROM d),
       |sig AS (SELECT doc_id, $MinhashSelect FROM s GROUP BY doc_id)""".stripMargin

  /** The span-scrub replay, ending in
    * `scrub(doc_id, n_tokens, n_removed, scrub_h60, n_scrub_chars)` — shared
    * by the narrow serving signal (`scrub_dup_spans`) and the exported-lake
    * invariance check (`scrub_export_stats`). */
  private val ScrubCte: String = {
    val win = Dedup.SpanWindow
    val winHash = h60Sql(s"array_to_string(list_slice(w, i, i + ${win - 1}), ' ')")
    s"""WITH d AS (SELECT doc_id, text, $W AS w FROM documents),
       |t AS (SELECT doc_id, w FROM d WHERE len(w) >= $win),
       |win AS (SELECT doc_id, i, $winHash AS wh
       |  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - ${win - 1})) AS i FROM t)),
       |dh AS (SELECT wh FROM (
       |    SELECT wh, COUNT(DISTINCT doc_id) AS nd FROM win GROUP BY wh)
       |  WHERE nd > 1),
       |cov AS (SELECT DISTINCT doc_id, unnest(generate_series(i, i + ${win - 1})) AS pos
       |  FROM win WHERE wh IN (SELECT wh FROM dh)),
       |aff AS (SELECT DISTINCT doc_id FROM cov),
       |tok AS (SELECT x.doc_id, x.i AS pos, x.w[x.i] AS tk, len(x.w) AS n_tokens
       |  FROM (SELECT d.doc_id, d.w, unnest(generate_series(1, len(d.w))) AS i
       |        FROM d JOIN aff ON d.doc_id = aff.doc_id) x),
       |rw AS (SELECT tok.doc_id,
       |    CAST(MAX(tok.n_tokens) AS INT) AS n_tokens,
       |    CAST(COUNT(cov.pos) AS BIGINT) AS n_removed,
       |    COALESCE(array_to_string(
       |      list(tok.tk ORDER BY tok.pos) FILTER (WHERE cov.pos IS NULL), ' '), '') AS t
       |  FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
       |  GROUP BY tok.doc_id),
       |scrub AS (
       |  SELECT doc_id, n_tokens, n_removed, ${h60Sql("t")} AS scrub_h60,
       |    CAST(len(t) AS INT) AS n_scrub_chars FROM rw
       |  UNION ALL
       |  SELECT d.doc_id, CAST(len(d.w) AS INT) AS n_tokens,
       |    CAST(0 AS BIGINT) AS n_removed, ${h60Sql("d.text")} AS scrub_h60,
       |    CAST(len(d.text) AS INT) AS n_scrub_chars
       |  FROM d WHERE d.doc_id NOT IN (SELECT doc_id FROM aff))""".stripMargin
  }

  /** Shared CTE chain for the n-gram Jaccard oracle family. */
  private val NgramCte: String =
    s"""WITH d AS (SELECT doc_id, lang, $W AS w FROM documents),
       |ds AS (SELECT doc_id, lang, $ShinglesFrag AS sh FROM d),
       |dsz AS (SELECT doc_id, len(sh) AS n FROM ds WHERE len(sh) > 0),
       |p AS (SELECT doc_id, lang, unnest(sh) AS s FROM ds WHERE len(sh) > 0),
       |c AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS common
       |  FROM p a JOIN p b ON a.lang = b.lang AND a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Incremental-banding replay shared by the plain and bloom-prefiltered
    * serving rows (identical results is the CONTRACT, the dedup_bloom
    * convention). */
  private lazy val LshIncOracle: String =
    s"""$MinhashCte,
       |bands AS (
       |  $LshBandsSql)
       |SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
       |  greatest(a.doc_id, b.doc_id) AS doc_b
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id <> b.doc_id
       |WHERE a.doc_id % 5 = 4
       |ORDER BY doc_a, doc_b""".stripMargin

  private val LshBandsSql: String =
    (0 until Dedup.Bands).map { b =>
      val pair = s"CAST(h${b * 2} AS VARCHAR) || '_' || CAST(h${b * 2 + 1} AS VARCHAR) || '_$b'"
      s"SELECT doc_id, $b AS band, ${h60Sql(s"($pair)")} AS bucket FROM sig"
    }.mkString("\n  UNION ALL ")

  /** Data-dependent oracle-render parameters for one sfDir, keyed by the
    * config (verdict r10 #2: the render never depends on which queries ran
    * first in this JVM). Export paths are pure functions of the config. The
    * tuned probe (an IVF build plus an exact-scan recall curve, memoized by
    * [[IvfIndex.tunedProbeForSfDir]]) and the dedup block count cost Spark
    * work, so they resolve only when an oracle that reads them renders: a
    * filtered render without `ivf_tuned_probe` never runs the tuner
    * (review r11). */
  final class OracleCtx private[SparkEntry] (spark: SparkSession, sfDir: String) {
    val ivfExport: String = IvfIndex.exportPathFor(sfDir, NumClusters)
    val ivfMergeExport: String = IvfIndex.mergeExportPathFor(sfDir, NumClusters)
    lazy val ivfDedupExport: String =
      IvfIndex.exportPathFor(sfDir, dedupBlockClusters(spark, sfDir))
    val pqExport: String = PqQuant.exportPathFor(sfDir)
    lazy val tunedNProbe: Int = prewarmTunedProbe(spark, sfDir)
  }

  /** Oracle SQL for an explicit (sfDir, engine-config) pair, restricted to
    * `wanted` when given (Verify's query filter). Verify renders through
    * this. */
  def oracleSqlFor(spark: SparkSession, sfDir: String,
      wanted: Option[Set[String]] = None): Map[String, String] = {
    val ctx = new OracleCtx(spark, sfDir)
    queryDefs.filter(q => wanted.forall(_(q.name)))
      .map(q => q.name -> q.oracle(ctx)).toMap
  }
}
