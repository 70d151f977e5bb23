package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's relational query surface over the TPC-H-ish testdata
  * (SURVEY §2 Table B: filters/projections, joins, group-by aggregates, window
  * top-k-per-group, set ops, sorts/limits, string/date fns).
  *
  * Determinism-for-oracle conventions used throughout:
  *  - Double SUMs go through [[exactSum]]: per-row quantization to 6 dp, LONG
  *    accumulation (associative — order-independent under Spark's shuffled
  *    partial aggregation AND any engine's sum order), then ONE int64→double
  *    conversion plus ONE division, both IEEE-round-to-nearest and therefore
  *    bit-identical across engines. (Plain double sums are order-dependent; a
  *    SUM(DECIMAL)→DOUBLE form is exact in the sum but the final
  *    decimal→double cast itself rounds differently between the JVM's
  *    BigDecimal and DuckDB's int128-scaled conversion — adjacent-ulp
  *    mismatches appeared at sf1 on q01/q03/q24.)
  *  - Ratios/rounded outputs use round(x, 6); counts are BIGINT; timestamps are
  *    exported as epoch seconds (BIGINT) to sidestep ns-vs-us parquet precision.
  *  - Every query ends in a deterministic ORDER BY over a unique key set.
  *
  * Scale notes are per-operator below; the common posture: filters/projections
  * sit directly on the parquet scan (pushdown + column pruning), small dims are
  * broadcast, aggregates are partial+final (map-side combine), no collect().
  */
object Relational {

  /** Exact, order-independent, engine-portable SUM of a double expression.
    *
    * Each addend is quantized to 6 dp (`floor(x*1e6 + 0.5)` — the same
    * rounding the previous DECIMAL(18,6) cast performed, and an identical
    * IEEE double computation in Spark and DuckDB), then split per row into
    * whole units `q = ⌊m/10⁶⌋` and micro remainder `r = m − q·10⁶ ∈
    * [0, 10⁶)` and accumulated as TWO exact LONG sums (r16 — the single
    * micro-unit LONG accumulator overflowed at sf30: q24's grand CUBE cell
    * reached 1.13e19 micro-units vs the 9.22e18 cap). ΣQ overflows only
    * past ~9.2e18 SOURCE units and ΣR past ~9.2e12 ROWS; the reassembly
    * `double(ΣQ + ΣR div 10⁶) + double(ΣR mod 10⁶)/10⁶` is exact in its
    * integer parts while the total stays ≤ 2^53 source units (~9.0e15,
    * 1000× the old cap — audit below guards the rest), and its one rounded
    * division + one rounded addition are IEEE round-to-nearest identically
    * in the JVM and DuckDB, so the result is bit-identical however either
    * engine orders the sum. DuckDB mirror: [[graft.SparkEntry.sumXSql]]
    * (same split, HUGEINT-safe).
    *
    * Why not SUM(DECIMAL)→DOUBLE: the decimal sum is exact, but the final
    * decimal→double CAST is engine-specific (JVM BigDecimal is correctly
    * rounded; DuckDB converts via scaled-int128 float ops) and the two can
    * land on ADJACENT doubles — observed at sf1 (q01/q03/q24, round 7). */
  private[graft] def exactSum(x: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val (q, r) = exactSumParts(x)
    exactSumFinish(sum(q), sum(r))
  }

  /** The per-row integer split of [[exactSum]]: `(q, r)` LONG micro-unit
    * parts with `x·1e6 (rounded) = q·1e6 + r`, `r ∈ [0, 1e6)`. Split out
    * (r19 optimization round) because LONG sums are ASSOCIATIVE: a query
    * may pre-aggregate `(Σq, Σr)` per any intermediate key (shrinking every
    * downstream exchange, guide §2.3) and [[exactSumFinish]] the grand
    * totals — bit-identical to the one-shot [[exactSum]] however the
    * partial sums are grouped, because every operation until the final
    * reassembly is exact integer arithmetic. */
  private[graft] def exactSumParts(x: org.apache.spark.sql.Column)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val m = floor(x * lit(1e6) + lit(0.5)) // LONG micro-units, per row
    val r = pmod(m, lit(1000000L))         // ∈ [0, 1e6) also for negative m
    // (m − r) is an exact multiple of 1e6 and ≤ 2^53 per row, so the double
    // division is exact and the long cast recovers ⌊m/1e6⌋ precisely
    val q = ((m - r) / lit(1000000L)).cast("long")
    (q, r)
  }

  /** Reassemble the summed [[exactSumParts]] into the double total. */
  private[graft] def exactSumFinish(sq: org.apache.spark.sql.Column,
      sr: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rq = pmod(sr, lit(1000000L))
    // (sr - rq) is an exact multiple of 1e6 but can approach 9.2e18, far
    // past double's 2^53 exact range — the carry MUST be integral division
    // (`div`, LONG in LONG out), not Column./ (double division, which
    // rounds once ΣR > 2^53 while the DuckDB mirror's `//` stays exact and
    // the two engines land on adjacent doubles — ADVICE r16). After this
    // the whole integer part is ONE long addition + ONE int64→double cast,
    // bit-identical in both engines even when the cast itself rounds.
    (sq + call_function("div", sr - rq, lit(1000000L))).cast("double") +
      rq.cast("double") / lit(1e6)
  }

  /** Loud-failure overflow audit for [[exactSum]]'s split LONG accumulators
    * (verdict r7 #7 / ADVICE r7; caps re-derived for the r16 q/r split):
    * upper-bounds the accumulation as MAX(|addend·1e6|) × COUNT —
    * conservative (assumes every row is the max), cheap (one extra
    * partial+final aggregate over the audited frame), and scale-honest: a
    * 100 TB money sum past the caps fails HERE with a named call site
    * instead of wrapping (ANSI off) or throwing an anonymous arithmetic
    * error mid-query (ANSI on). The binding constraints are now (a) the
    * engine-parity exactness bound — worst-case TOTAL ≤ 2^53 SOURCE units
    * (~9.0e15; above it double(ΣQ) rounds and the two engines' casts may
    * diverge) — and (b) ΣR's row cap, COUNT < ~9.22e12. Debug-mode only —
    * enable with session conf `spark.graft.exactSumAudit=true`; default
    * off costs nothing. Remedies when it fires: pre-aggregate per group,
    * rescale the unit, or split the sum into disjoint ranges. */
  private[graft] def auditExactSum(df: DataFrame,
      xs: Seq[org.apache.spark.sql.Column], site: String): Unit =
    if (df.sparkSession.conf.getOption("spark.graft.exactSumAudit")
        .exists(_.toBoolean)) {
      // the bound computes in DOUBLE source units end-to-end: the old
      // floor(x·1e6) LONG probe itself clamped at Long.MaxValue on the very
      // magnitudes the audit exists to catch (an un-ANSI cast saturates
      // silently), under-reporting max|addend| by orders of magnitude.
      // cast inside the aggregate, not in Scala (ADVICE r8: decimal money
      // columns would make a driver-side asInstanceOf throw
      // ClassCastException instead of this diagnostic).
      val aggs = xs.zipWithIndex.map { case (x, i) =>
        max(abs(x)).cast("double").as(s"mx$i")
      } :+ count(lit(1)).cast("long").as("n")
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      val n = r.getAs[Long]("n")
      require(n.toDouble < Long.MaxValue.toDouble / 1e6,
        s"exactSum@$site: row count n=$n exceeds the remainder " +
          "accumulator's ~9.2e12-row cap; split the sum into disjoint ranges")
      val exactCap = 9007199254740992.0 // 2^53 source units: parity bound
      xs.indices.foreach { i =>
        val mx = Option(r.get(i)).map(_.asInstanceOf[Double]).getOrElse(0.0)
        require(mx == 0.0 || n.toDouble <= exactCap / mx,
          s"exactSum@$site: worst-case accumulation " +
            f"(max|x| ≈ $mx%.4g × n=$n) could exceed 2^53 source " +
            "units — double(ΣQ) would round and engine parity is no longer " +
            "guaranteed; pre-aggregate, rescale the unit, or split the sum")
      }
    }

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Floor-to-second epoch expression for an events frame's `ts`, adaptive
    * to the parquet generation the table was written with (the driver's
    * testdata switched TIMESTAMP(NANOS) → TIMESTAMP(MICROS) in round 9; the
    * engine's own sf1 replica keeps nanos):
    *  - TIMESTAMP(NANOS) read under `spark.sql.legacy.parquet.nanosAsLong`
    *    arrives as a nanosecond BIGINT → integer division, NOT double math
    *    (ns epochs ~1.7e18 exceed double's 2^53 exact range);
    *  - TIMESTAMP[_NTZ] (micros) arrives as a timestamp → `unix_seconds`
    *    (floorDiv semantics) after a session-tz cast; the engine pins the
    *    session tz to UTC, so NTZ wall time IS the epoch reading.
    * Both branches equal the oracle's CAST(floor(epoch(ts)) AS BIGINT). */
  private[graft] def tsSecExpr(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("CAST(ts DIV 1000000000 AS BIGINT)")
      case _ => expr("unix_seconds(CAST(ts AS TIMESTAMP))")
    }

  private def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = t(spark, sfDir, "events")
    raw.withColumn("ts_sec", tsSecExpr(raw))
  }

  /** Q1-style pricing summary (A12-family aggregate): single scan, partial agg,
    * 6-group output. Filter pushed to parquet; only 6 columns read. */
  def pricingSummary(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
      // session-tz-aware cast (NOT java.sql.Timestamp.valueOf, which parses in
      // the JVM default zone and shifts the boundary on non-UTC drivers)
      .where(col("l_shipdate") <= lit("2000-01-01 00:00:00").cast("timestamp"))
    // the suite's biggest money sums (l_extendedprice at sf100+ is the
    // documented overflow candidate, ADVICE r7) — audited in debug mode
    auditExactSum(li, Seq(col("l_quantity"), col("l_extendedprice"),
      col("l_extendedprice") * (lit(1) - col("l_discount"))),
      "q01_pricing_summary")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        exactSum(col("l_quantity")).as("sum_qty"),
        exactSum(col("l_extendedprice")).as("sum_base_price"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Projection + filter + string fn (A19: substring(text,1,200)). Pure scan —
    * predicate and both columns push into the parquet reader. */
  def substrFilter(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .where(col("lang") === "en")
      .select(col("doc_id"), substring(col("text"), 1, 200).as("snippet"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Star join (A18 shape): fact × 4 dims with the small dims broadcast —
    * no shuffle of lineitem for nation/region; orders/customer join keys
    * co-shuffle once. AQE handles the rest at scale. */
  def regionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val o  = t(spark, sfDir, "orders")
    val c  = t(spark, sfDir, "customer")
    val n  = t(spark, sfDir, "nation")
    val r  = t(spark, sfDir, "region")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_items"),
        exactSum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
      .orderBy(col("r_name"))
  }

  /** The rollup-at-every-hop formulation (r19 optimization round, guide
    * §2.3 "aggregate before you shuffle"): the [[exactSumParts]] integer
    * split is associative, so revenue/count pre-aggregate per order, per
    * customer, and per nation — each exchange carries order-of-magnitude
    * fewer rows (fact side 60M → 15M into the orders join at sf10).
    * Bit-identical to [[regionRevenue]] (EngineSpec pins revenue to the
    * last bit). MEASURED and deliberately NOT the timed form: on local[32]
    * exchanges are memory copies, so the shuffle-byte win doesn't buy wall
    * time (sf10 solo 5.4 → 5.1 s) while the three extra aggregate stages
    * cost real latency at the sf0.1 gate scale (0.50 → 0.99 s). On a
    * network-bound cluster the trade reverses — this form is the 100 TB
    * shape, kept compiled + parity-pinned for that deployment. */
  private[graft] def regionRevenuePreagg(spark: SparkSession,
      sfDir: String): DataFrame = {
    val li = t(spark, sfDir, "lineitem")
    val o  = t(spark, sfDir, "orders")
    val c  = t(spark, sfDir, "customer")
    val n  = t(spark, sfDir, "nation")
    val r  = t(spark, sfDir, "region")
    val (q, rr) = exactSumParts(
      col("l_extendedprice") * (lit(1) - col("l_discount")))
    val perOrder = li
      .select(col("l_orderkey"), q.as("q"), rr.as("r"))
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"), sum(col("q")).as("sq"), sum(col("r")).as("sr"))
    val perCust = perOrder
      .join(o.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sq")).as("sq"),
        sum(col("sr")).as("sr"))
    val perNation = perCust
      .join(c.select(col("c_custkey"), col("c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("sq")).as("sq"),
        sum(col("sr")).as("sr"))
    perNation
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        sum(col("cnt")).as("n_items"),
        exactSumFinish(sum(col("sq")), sum(col("sr"))).as("revenue"))
      .orderBy(col("r_name"))
  }

  /** Window top-k-per-group (A15 shape distributed: per-partition rank, no
    * global sort): top-3 orders per customer. */
  def windowTopOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Global top-k (A12/A13: ORDER BY … LIMIT k → TakeOrderedAndProject, the
    * distributed version of the reference's bounded heap at IVF.cpp:185-263). */
  def topLineitems(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_extendedprice"))

  /** Set op (A16 shape: the reference's combined fine search is a bag UNION ALL
    * of probed clusters, IVF.cpp:363-380). Two pruned scans unioned then
    * re-aggregated. */
  def unionTagged(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    val urgent = o.where(col("o_orderpriority") === "1-URGENT")
      .select(lit("urgent").as("tag"), col("o_totalprice"))
    val done = o.where(col("o_orderstatus") === "F")
      .select(lit("finished").as("tag"), col("o_totalprice"))
    urgent.unionAll(done)
      .groupBy(col("tag"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total_price"))
      .orderBy(col("tag"))
  }

  /** Exact distinct aggregate + broadcast dim join. */
  def suppliersPerNation(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "supplier")
      .join(broadcast(t(spark, sfDir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        countDistinct(col("s_suppkey")).as("n_suppliers"),
        exactSum(col("s_acctbal")).as("total_acctbal"))
      .orderBy(col("n_name"))

  /** Anti join (NOT EXISTS): customers with no open ('O') orders, per segment.
    * left_anti keeps the build side filtered *before* the join — at scale the
    * orders side is pre-filtered and aggregated into a semi-join hash. */
  def customersNoOpenOrders(spark: SparkSession, sfDir: String): DataFrame = {
    val open = t(spark, sfDir, "orders").where(col("o_orderstatus") === "O")
    t(spark, sfDir, "customer")
      .join(open, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"))
  }

  /** Time-bucketed aggregation over the events table — the batch twin of the
    * Structured Streaming windowed count in graft.streaming (same groupBy
    * window semantics; the streaming variant adds a watermark). */
  def eventsHourly(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(
        expr("CAST(ts_sec DIV 3600 AS BIGINT) * 3600").as("hour_epoch"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"))
      .orderBy(col("hour_epoch"), col("event_type"))

  /** Group stats with exact integer-sum average (order-independent). */
  def langStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 6).as("avg_chars"))
      .orderBy(col("lang"))

  /** Sessionization (gap > 30 min) via lag window — the batch formulation of
    * the streaming flatMapGroupsWithState session operator. Second-floor epoch
    * keeps parity with the oracle across parquet ns/us timestamp precision. */
  def userSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val sec = col("ts_sec")
    val w = Window.partitionBy(col("user_id")).orderBy(sec.asc, col("event_id").asc)
    events(spark, sfDir)
      .withColumn("gap", sec - lag(sec, 1).over(w))
      .groupBy(col("user_id"))
      .agg(
        sum(when(col("gap").isNull || col("gap") > 1800, 1L).otherwise(0L))
          .as("n_sessions"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Hierarchical aggregate (ROLLUP): subtotals + grand total in one pass —
    * Catalyst expands to a single Expand+Aggregate, one shuffle. */
  def rollupReturns(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        exactSum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** CUBE over (priority, status) — the full grouping-sets lattice (q13's
    * ROLLUP covers the prefix chain only): every (priority, status) cell plus
    * all three marginals. Same partial+final aggregation plan; grouping-set
    * expansion happens map-side. */
  def cubeOrderStats(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .cube(col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total"),
        // GROUPING() sort markers (dropped below): distinguish CUBE margin
        // rows (grouping = 1, value NULL) from genuine NULL group values
        // (grouping = 0) so the ORDER BY is total even on NULL-bearing data
        // — ADVICE r4. grouping() only resolves inside the Aggregate, hence
        // the project-then-drop instead of sorting on the raw expression.
        grouping(col("o_orderpriority")).as("gp"),
        grouping(col("o_orderstatus")).as("gs"))
      .orderBy(col("o_orderpriority").asc_nulls_first, col("gp"),
        col("o_orderstatus").asc_nulls_first, col("gs"))
      .drop("gp", "gs")

  /** Correlated SCALAR subquery — the remaining subquery form (q08 covers
    * NOT EXISTS): each customer's max order value inline. Catalyst decorrelates
    * this into a left outer aggregate join — free optimizer machinery the
    * reference has no analog for. MAX is order-independent, so plain double
    * compares exactly across engines (no decimal detour needed). */
  def customerMaxOrder(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "orders").createOrReplaceTempView("g_orders")
    t(spark, sfDir, "customer").createOrReplaceTempView("g_customer")
    spark.sql(
      """SELECT c_custkey, c_mktsegment,
        |  (SELECT MAX(o_totalprice) FROM g_orders
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM g_customer ORDER BY c_custkey""".stripMargin)
  }

  /** FULL OUTER join — the remaining join shape (inner/left/anti/semi/as-of
    * are covered elsewhere): reconcile the order ledger against the
    * clickstream — customers with big orders vs users with purchase events,
    * either side may be missing (big spenders who never click, clickers who
    * never bought big), so both null-extension directions are genuinely
    * exercised; COALESCE folds the key and counts. Both sides pre-aggregate
    * to per-key counts BEFORE the join (aggregate-then-join: the outer join
    * moves count rows, never the base tables) — at 100 TB the full-outer
    * shuffles two already-collapsed key sets, with filters pushed to both
    * scans. */
  def orderEventReconcile(spark: SparkSession, sfDir: String): DataFrame = {
    val big = t(spark, sfDir, "orders")
      .where(col("o_totalprice") > 300000)
      .groupBy(col("o_custkey").as("cust_id"))
      .agg(count(lit(1)).as("n_big_orders"))
    val clicks = events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id").as("cust_id"))
      .agg(count(lit(1)).as("n_purchase_events"))
    big.join(clicks, Seq("cust_id"), "full_outer")
      .select(col("cust_id"),
        coalesce(col("n_big_orders"), lit(0L)).as("n_big_orders"),
        coalesce(col("n_purchase_events"), lit(0L)).as("n_purchase_events"))
      .orderBy(col("cust_id"))
  }

  /** Explicit GROUPING SETS — the general grouping lattice (q13 ROLLUP is
    * the prefix chain, q24 CUBE the full lattice; this is an arbitrary
    * subset: per-source, per-lang, and grand total, WITHOUT the (source,
    * lang) leaf level). Same single Expand+Aggregate plan, one shuffle;
    * GROUPING() markers keep the sort total on NULL-bearing data. */
  def mixGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "documents").createOrReplaceTempView("g_docs")
    spark.sql(
      """SELECT source, lang, COUNT(*) AS n_docs, SUM(n_chars) AS sum_chars
        |FROM g_docs
        |GROUP BY GROUPING SETS ((source), (lang), ())
        |ORDER BY source ASC NULLS FIRST, GROUPING(source),
        |  lang ASC NULLS FIRST, GROUPING(lang)""".stripMargin)
  }

  /** q28: ordered conversion funnel — view → first click strictly after it →
    * first purchase strictly after that, per user; one summary row of stage
    * survivor counts. The sequence constraint (each stage's timestamp after
    * the previous stage's own first time) is what distinguishes a funnel
    * from three independent counts — a user who purchased before ever
    * clicking does not convert.
    *
    * Plan shape: ONE type-filtered scan (the three-value event_type
    * predicate pushes into the parquet read) persisted as a slim
    * (user, type, sec) projection; the three stage aggregates read the
    * cache, each collapsing to ≤|users| rows BEFORE any join, so the stage
    * joins and the final one-row cross joins are all AQE-broadcast tiny —
    * at 100 TB the corpus is read once, not three times. Comparisons run on
    * ts_sec on both engines (second-granularity; DuckDB truncates NANOS
    * parquet to micros, so comparing at native resolution would diverge on
    * sub-truncation orderings). */
  def conversionFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val e = graft.CacheRegistry.persist(
      events(spark, sfDir)
        .where(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_type"), col("ts_sec")))
    val v = e.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts_sec")).as("t_view"))
    val c = e.where(col("event_type") === "click").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
        col("e.ts_sec") > col("v.t_view"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts_sec")).as("t_click"))
    val p = e.where(col("event_type") === "purchase").as("e")
      .join(c.as("c"), col("e.user_id") === col("c.user_id") &&
        col("e.ts_sec") > col("c.t_click"))
      .groupBy(col("e.user_id")).agg(min(col("e.ts_sec")).as("t_buy"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after")))
  }

  /** q29: weekly cohort retention — users bucketed by the epoch-week of
    * their first event; for each (cohort_week, week_offset) the distinct
    * users still active. THE product-analytics staple the events table
    * exists for, and a genuinely different aggregation shape from q09/q11:
    * the grain is (user, week) presence, not event counts.
    *
    * Plan shape: ONE distinct over the slim (user_id, week) projection
    * (persisted — it feeds both the first-week aggregate and the offset
    * join), then joins/aggregates on ≤ users×weeks rows. Weeks come from
    * integer division of the epoch second (engine-stable floor division on
    * positives; double math would lose nanosecond epochs, see [[events]]). */
  def cohortRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = graft.CacheRegistry.persist(
      events(spark, sfDir)
        .select(col("user_id"),
          expr("CAST(ts_sec DIV 604800 AS BIGINT)").as("week"))
        .distinct())
    val first = pairs.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    pairs.join(first, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Exact interpolated percentiles per group (order statistics — the general
    * form of the reference's top-k order statistic), computed by HISTOGRAM
    * CUMSUM (verdict r18 #3): the event values live on a fixed decimal
    * lattice, so the distinct-value count is bounded far below the row count
    * (sf10: ~300k distinct vs 2M rows per type, and the ratio only improves
    * with scale — the lattice saturates). The old form fed every raw row
    * into `percentile()`, whose TypedImperativeAggregate buffers a
    * value→count OpenHashMap per task OUTSIDE codegen and merges/sorts the
    * per-type maps in one final task each; this form makes that histogram
    * explicit and keeps every stage codegen'd: one map-side-combined
    * `groupBy (type, value) → count` (shuffle ∝ distinct pairs), a per-type
    * running-count window over the DISTINCT values only, then the percentile
    * as a rank walk — the row whose [rows-below, rows-through] span contains
    * index k = the order statistic v[k]. Interpolation mirrors Spark's own
    * `Percentile.getPercentile` bit-for-bit (`position = p·(n−1)`;
    * `(⌈pos⌉−pos)·v_lo + (pos−⌊pos⌋)·v_hi`), so the result is value-identical
    * to the old form (RelationalSpec pins it; the DuckDB `quantile_cont`
    * oracle is unchanged). No global sort anywhere: the only sort is the
    * per-type window over distinct lattice values.
    *
    * [[eventPercentilesSorted]] keeps the plain `percentile()` formulation
    * as the parity arm; [[eventPercentilesApprox]] remains the
    * sketch-bounded serving alternative for groups whose value domain is
    * NOT lattice-bounded. */
  def eventPercentiles(spark: SparkSession, sfDir: String): DataFrame = {
    val hist = events(spark, sfDir)
      .groupBy(col("event_type"), col("value"))
      .agg(count(lit(1)).as("c"))
    val byType = Window.partitionBy(col("event_type"))
    val running = byType.orderBy(col("value"))
    // hi = rows with value ≤ this one; lo = rows strictly below; n rides the
    // same exchange as an unbounded frame over the same partitioning
    val cum = hist
      .withColumn("hi", sum(col("c")).over(running))
      .withColumn("n", sum(col("c")).over(byType))
      .withColumn("lo", col("hi") - col("c"))
    def pos(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
    def pick(k: Column): Column =
      max(when(col("lo") <= k && col("hi") > k, col("value")))
    val picked = cum.groupBy(col("event_type"))
      .agg(
        pick(floor(pos(0.5))).as("v50l"), pick(ceil(pos(0.5))).as("v50h"),
        pick(floor(pos(0.95))).as("v95l"), pick(ceil(pos(0.95))).as("v95h"),
        max(col("n")).as("n"),
        min(col("value")).as("min_raw"), max(col("value")).as("max_raw"))
    // Spark's Percentile.getPercentile verbatim: lower==higher → the exact
    // order statistic, else the two-sided weighted form (NOT v_lo+f·Δ —
    // same value, different fp rounding; bit-parity is the contract here)
    def interp(p: Double): Column = {
      val position = lit(p) * (col("n") - 1).cast("double")
      val (vl, vh) = (col(s"v${(p * 100).toInt}l"), col(s"v${(p * 100).toInt}h"))
      when(floor(position) === ceil(position), vl)
        .otherwise(
          (ceil(position).cast("double") - position) * vl +
            (position - floor(position).cast("double")) * vh)
    }
    picked.select(col("event_type"),
      round(interp(0.5), 6).as("p50"),
      round(interp(0.95), 6).as("p95"),
      round(col("min_raw"), 6).as("min_v"),
      round(col("max_raw"), 6).as("max_v"))
      .orderBy(col("event_type"))
  }

  /** The plain `percentile()` formulation — [[eventPercentiles]]' parity arm
    * (the pre-r19 hash-oracled form, kept as the independent implementation
    * RelationalSpec compares the histogram walk against). */
  def eventPercentilesSorted(spark: SparkSession, sfDir: String): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))
      .orderBy(col("event_type"))

  /** Bounded-memory production twin of [[eventPercentiles]] — the
    * [[graft.operators.TextAnalysis.qualityPercentilesApprox]] pattern
    * applied to the event stream: `percentile_approx` (Greenwald–Khanna
    * summaries) holds O(accuracy·log n) sketch state per group where the
    * exact form buffers the group's ENTIRE value list in one final-merge
    * task — at sf10 that is 12M doubles per event_type (the q14 9.3 s row),
    * and at 100 TB a hot event type concentrates the corpus into one
    * aggregation buffer. Returned values are actual data points (no
    * interpolation), so the twin is closeness-gated in QualitySpec, not
    * hash-oracled. min/max are exact either way. */
  def eventPercentilesApprox(spark: SparkSession, sfDir: String,
      accuracy: Int = 10000): DataFrame =
    events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(accuracy)).as("p95"),
        round(min(col("value")), 6).as("min_v"),
        round(max(col("value")), 6).as("max_v"))
      .orderBy(col("event_type"))

  /** Calendar bucketing: orders per month (date_trunc on ms-precision
    * timestamps — exported as epoch seconds for oracle parity). */
  def monthlyOrders(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate"))).as("month_epoch"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total"))
      .orderBy(col("month_epoch"))

  /** Per-group top-k via the bounded-heap aggregate ([[graft.functions
    * .TopKStructAgg]]) — the SCALE formulation of q04's window rank: the
    * window sorts every group's full row set inside one task per group,
    * while the partial+final heap aggregate ships only partitions×k rows per
    * group through the shuffle. Same result set as q04, same oracle — two
    * plans, one semantics, pick by group cardinality. The agg's declared
    * struct order (field0 DESC, field1 ASC) is exactly the window's ORDER BY
    * (price DESC, orderkey ASC) with the key fields mapped positionally. */
  def windowTopOrdersAgg(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.TopKStructAgg.perGroupTopK(
      t(spark, sfDir, "orders"), "o_custkey",
      simCol = col("o_totalprice").cast("double"),
      idCol = col("o_orderkey").cast("long"),
      labelCol = lit(0).cast("int"), k = 3)
      .select(col("o_custkey"), col("vec_id").as("o_orderkey"),
        col("sim").as("o_totalprice"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))

  /** Sliding-window frame (the third window family after rank q04 and lag
    * q11): 7-row trailing moving average over the DAILY order totals — the
    * window runs over the aggregated day table (≤ a few thousand rows per
    * year at ANY corpus scale), never the raw orders, so the single-partition
    * global window is bounded by the calendar, not the data. Sums feed the
    * frame as exact micro-unit LONGs and the average is rounded for oracle
    * parity. */
  def movingAvgDaily(spark: SparkSession, sfDir: String): DataFrame = {
    // frame math runs on exact LONG micro-unit sums (associative — engines
    // disagree on float accumulation order inside sliding frames: Spark's
    // SlidingWindowFunctionFrame updates by add/remove, others recompute or
    // tree-aggregate), converted to double only at the end via the same
    // single-rounding route as [[exactSum]]
    val daily = t(spark, sfDir, "orders")
      .groupBy(unix_timestamp(date_trunc("day", col("o_orderdate"))).as("day_epoch"))
      .agg(sum(floor(col("o_totalprice") * lit(1e6) + lit(0.5))).as("day_total_u"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("day_epoch")).rowsBetween(-6, 0)
    daily
      .select(col("day_epoch"),
        round(col("day_total_u").cast("double") / lit(1e6), 6).as("day_total"),
        round(sum(col("day_total_u")).over(w).cast("double") / lit(1e6) /
          count(lit(1)).over(w), 6).as("ma7"))
      .orderBy(col("day_epoch"))
  }

  /** Conditional aggregation (manual pivot): one scan, no shuffle per status —
    * the map-side combine folds all three counters at once. */
  def statusPivot(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("n_open"),
        sum(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("n_finished"),
        sum(when(col("o_orderstatus") === "P", 1L).otherwise(0L)).as("n_pending"))
      .orderBy(col("o_orderpriority"))

  /** Scalar string-function battery (A19 generalization) over part. */
  def partStrings(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "part")
      .select(
        col("p_partkey"),
        upper(col("p_brand")).as("brand_u"),
        lower(col("p_type")).as("type_l"),
        length(col("p_name")).as("name_len"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("name_masked"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        substring(col("p_name"), 1, 10).as("name_prefix"))
      .orderBy(col("p_partkey"))

  /** Exact set ops (INTERSECT/EXCEPT — the set-semantics complement of the
    * bag UNION ALL in [[unionTagged]]): customers with both open and finished
    * orders vs open-only. Both ops hash-shuffle on the full row (here one
    * column); the two distinct inputs are computed once each and reused.
    * At scale these are plain co-partitioned hash joins — no sort. */
  def customerSetOps(spark: SparkSession, sfDir: String): DataFrame = {
    val o = t(spark, sfDir, "orders")
    val open = o.where(col("o_orderstatus") === "O").select(col("o_custkey")).distinct()
    val fin  = o.where(col("o_orderstatus") === "F").select(col("o_custkey")).distinct()
    open.intersect(fin).select(lit("both").as("tag"), col("o_custkey"))
      .unionAll(open.except(fin).select(lit("open_only").as("tag"), col("o_custkey")))
      .orderBy(col("tag"), col("o_custkey"))
  }

  /** Range join against a tiny inline tier dimension: each order lands in the
    * [lo, hi) price band. The dim is broadcast, so the range predicate is a
    * per-row broadcast-nested-loop over 4 rows — O(|orders|·4) with zero
    * shuffle of the fact side, which is the only range-join shape that holds
    * at 100 TB (an equi-bucketed prejoin would be the next step for a large
    * band table). */
  def priceTierRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val tiers = spark.createDataFrame(PriceTiers).toDF("tier", "lo", "hi")
    t(spark, sfDir, "orders")
      .join(broadcast(tiers),
        col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
      .groupBy(col("tier"))
      .agg(
        count(lit(1)).as("n_orders"),
        exactSum(col("o_totalprice")).as("total"))
      .orderBy(col("tier"))
  }

  /** Price bands for [[priceTierRangeJoin]] — half-open, gap-free, exhaustive. */
  val PriceTiers: Seq[(String, Double, Double)] = Seq(
    ("t1_budget", 0.0, 50000.0),
    ("t2_mid", 50000.0, 150000.0),
    ("t3_premium", 150000.0, 300000.0),
    ("t4_luxury", 300000.0, 1e12))

  /** As-of join query: each purchase event picks up the most recent prior (or
    * simultaneous) view by the same user — the canonical attribution query.
    * See [[AsOfJoin]] for the shuffle-once formulation; right side is
    * `.distinct()`-ed to per-(user, second) as the operator requires. */
  def purchaseAttribution(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts_sec")).distinct()
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_sec").as("buy_sec"))
    AsOfJoin.asOf(buys, views, "user_id", "buy_sec", "ts_sec", "view_sec")
      .select(col("event_id"), col("user_id"), col("buy_sec"), col("view_sec"),
        (col("buy_sec") - col("view_sec")).as("gap_sec"))
      .orderBy(col("event_id"))
  }

  /** Forward as-of query — the conversion-lag complement of
    * [[purchaseAttribution]]: each view picks up the EARLIEST subsequent (or
    * simultaneous) purchase by the same user. Same shuffle-once union+window
    * formulation, forward frame ([[AsOfJoin.asOfForward]]). */
  def viewToNextPurchase(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = events(spark, sfDir)
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts_sec").as("view_sec"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_sec")).distinct()
    AsOfJoin.asOfForward(views, buys, "user_id", "view_sec", "ts_sec", "buy_sec")
      .select(col("event_id"), col("user_id"), col("view_sec"), col("buy_sec"),
        (col("buy_sec") - col("view_sec")).as("lag_sec"))
      .orderBy(col("event_id"))
  }

  /** Join-key skew report — the shuffle-key observable behind salting /
    * AQE-skew-join decisions ([[SkewJoin]]'s diagnostic counterpart, and the
    * relational analog of [[IvfIndex]]'s balance report): per-key row counts
    * summarized as hot-key factor (max over mean) and top-k concentration.
    * A production pipeline runs this on its fact-table join keys BEFORE the
    * join that would die: hot_factor ≈ 1 means uniform keys, hot_factor ≫
    * task count means one straggler task per hot key.
    *
    * Scale shape: one count shuffle on the key (the same exchange the real
    * join would pay), then ONLY bounded plans — a `topK`-row bounded heap
    * (TakeOrderedAndProject) and two one-row aggregates cross-joined (the
    * canonical scalar-broadcast shape, PlanAuditSpec-allowlisted). No global
    * window, no driver materialization of the key distribution: the report
    * stays a handful of rows no matter how many distinct keys exist.
    */
  def keySkewReport(df: DataFrame, key: String, topK: Int = 10): DataFrame = {
    val counts = graft.CacheRegistry.persist(
      df.groupBy(col(key)).agg(count(lit(1)).as("c")))
    val totals = counts.agg(
      count(lit(1)).as("n_keys"),
      sum(col("c")).as("n_rows"),
      max(col("c")).as("max_rows"))
    val top = counts
      .orderBy(col("c").desc, col(key))
      .limit(topK)
      .agg(sum(col("c")).as("topk_rows"))
    totals.crossJoin(top).select(
      col("n_keys"), col("n_rows"), col("max_rows"),
      round(col("max_rows").cast("double") * col("n_keys").cast("double")
        / col("n_rows").cast("double"), 6).as("hot_factor"),
      round(col("topk_rows").cast("double")
        / col("n_rows").cast("double"), 6).as("topk_share"))
  }

  /** Semi-structured extraction: regexp over the JSON-ish props column (the
    * reference's only JSON field access is `["text"]`, IVF.cpp:117 — this is
    * the engine's general version). Guarded cast: ANSI-safe on no-match. */
  def propsExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = regexp_extract(col("props"), "\"k\": (\\d+)", 1)
    val k = when(raw =!= "", raw).cast("long")
    events(spark, sfDir)
      .withColumn("k", k)
      .groupBy(col("event_type"))
      .agg(
        count(col("k")).as("n_with_k"),
        sum(col("k")).as("sum_k"),
        round(sum(col("k")).cast("double") / count(col("k")), 6).as("avg_k"))
      .orderBy(col("event_type"))
  }
}
