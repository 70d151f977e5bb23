package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench output contract that round 4 broke: the FINAL stdout line must
  * stay compact enough for the driver's tail capture and parse as strict
  * JSON with the documented fields. Pure string checks — no Spark session. */
class BenchFormatSpec extends AnyFunSuite {

  private val line = Bench.summaryLine(
    warmTotal = 57.0714, coldTotal = 70.5161, nQueries = 73,
    errors = Seq("zeta_q", "alpha_q"), sfDir = "/root/testdata/sf0.1",
    sparkVersion = "4.1.2", cpus = "32", cacheHighWater = 1386200L,
    flags = Seq("warm1_load"), inversions = 2, sentinelSpread = 1.3172)

  test("summary line is compact (fits any sane tail-capture window)") {
    assert(line.length < 512, s"summary line too long (${line.length}): $line")
    assert(!line.contains("\n"))
  }

  test("summary line carries the contract fields") {
    Seq("\"metric\":\"total\"", "\"value\":57.071", "\"unit\":\"sec\"",
      "\"cold_sec\":70.516", "\"warm_sec\":57.071", "\"n_queries\":73",
      "\"errors\":[\"alpha_q\",\"zeta_q\"]", "\"sf\":\"/root/testdata/sf0.1\"",
      "\"spark\":\"4.1.2\"", "\"cpus\":32", "\"cache_high_water_bytes\":1386200",
      "\"flags\":[\"warm1_load\"]", "\"inversions\":2", "\"sentinel_spread\":1.317")
      .foreach(f => assert(line.contains(f), s"missing $f in $line"))
    assert(!line.contains("queries_warm"))
  }

  test("final line carries the budgeted per-query map (verdict r19 #1) and " +
      "STILL fits the driver's 2000-char tail window with the sbt trailer") {
    val qs = (1 to 128).map(i => (f"some_query_name_$i%03d", i * 0.05))
    // summaryLine budgets the map itself from the full per-query list
    val withQ = Bench.summaryLine(57.0714, 70.5161, 128, Nil,
      "/root/testdata/sf0.1", "4.1.2", "32", 1386200L,
      flags = Seq("relayout:lineitem"), inversions = 0,
      sentinelSpread = 1.317, queries = qs)
    val subset = Bench.topQueriesForBudget(qs, budget = 1300)
    // the r4 failure mode: the full map (~3.0 kB at 3 dp) overran the
    // driver's 2000-char tail and the round lost its headline metric; the
    // budget must leave room for the trailing "[success] Total time..." line
    assert(withQ.length < 2000 - 100, s"line too long (${withQ.length})")
    assert(withQ.contains("\"queries\":{\"some_query_name_128\":6.400,"))
    // hottest rows first, deterministic
    assert(subset.head._1 == "some_query_name_128")
    assert(subset == Bench.topQueriesForBudget(qs.reverse, budget = 1300))
    // an empty map renders NO queries key (subset runs with zero survivors)
    assert(!line.contains("\"queries\""))
  }

  test("topQueriesForBudget packs greedily by (desc time, name) and skips -1 " +
      "failure sentinels") {
    val qs = Seq("fail" -> -1.0, "b" -> 2.0, "a" -> 2.0, "tiny" -> 0.001,
      "huge_name_that_wont_fit_the_budget_x" -> 1.0)
    val s = Bench.topQueriesForBudget(qs, budget = 30)
    // "a"/"b" tie at 2.0 → name order; -1 never enters; budget cuts the rest
    assert(s.map(_._1).startsWith(Seq("a", "b")))
    assert(!s.exists(_._2 < 0))
    assert(Bench.queryMapJson(s).length <= 30)
    // full budget keeps every non-failed entry
    val all = Bench.topQueriesForBudget(qs, budget = 10000)
    assert(all.map(_._1).toSet == Set("a", "b", "tiny",
      "huge_name_that_wont_fit_the_budget_x"))
  }

  test("a clean run renders empty flags and zero inversions (self-defense)") {
    val clean = Bench.summaryLine(10.0, 12.0, 5, Nil, "sf", "4.1.2", "32", 0L,
      flags = Nil, inversions = 0, sentinelSpread = 1.08)
    assert(clean.contains("\"flags\":[]") && clean.contains("\"inversions\":0"))
    assert(clean.contains("\"sentinel_spread\":1.080"))
  }

  test("inversionCount: warm>2×cold above the floor, skipping micro + failed") {
    val cold = Seq("big" -> 1.0, "micro" -> 0.05, "fail" -> -1.0,
      "ok" -> 2.0, "edge" -> 0.2)
    val warm = Seq("big" -> 5.6,  // genuine inversion (r6 q13 shape)
      "micro" -> 0.25,            // >2× but below the 0.3 s floor — jitter
      "fail" -> 3.0,              // cold failed: never counts
      "ok" -> 1.5,                // warm < cold — the healthy case
      "edge" -> 0.41)             // 0.41 > 2×0.2 and above floor — counts
    assert(Bench.inversionCount(cold, warm) == 2)
    // a query missing from cold entirely never counts
    assert(Bench.inversionCount(Nil, Seq("x" -> 9.0)) == 0)
  }

  test("invertedQueries names exactly the queries inversionCount counts") {
    val cold = Seq("big" -> 1.0, "micro" -> 0.05, "fail" -> -1.0,
      "ok" -> 2.0, "edge" -> 0.2)
    val warm = Seq("big" -> 5.6, "micro" -> 0.25, "fail" -> 3.0,
      "ok" -> 1.5, "edge" -> 0.41)
    assert(Bench.invertedQueries(cold, warm).toSet == Set("big", "edge"))
  }

  test("timings render fixed-point 3-dp, never scientific notation") {
    val tiny = Bench.summaryLine(1.23456e-4, 9.87654e-5, 1, Nil, "sf", "v", "8", 0L)
    assert(tiny.contains("\"value\":0.000") && !tiny.toLowerCase.contains("e-"))
    val map = Bench.queryMapJson(Seq("q" -> 1.23456e-4, "r" -> 12345.6789))
    assert(map == "{\"q\":0.000,\"r\":12345.679}")
  }

  test("detail map keeps failures as -1 sentinels (never fake timings)") {
    val map = Bench.queryMapJson(Seq("bad" -> -1.0, "ok" -> 0.5))
    assert(map == "{\"bad\":-1.000,\"ok\":0.500}")
  }

  test("streaming section renders as nested strict JSON; empty stays valid") {
    val s = Bench.streamingJson(Seq(
      "band_assign_stream" -> Seq("rows" -> 5000.0, "rows_per_sec" -> 1234.5678),
      "serve_ann_stream" -> Seq("mean_batch_ms" -> 210.25)))
    assert(s == "{\"band_assign_stream\":{\"rows\":5000.000," +
      "\"rows_per_sec\":1234.568},\"serve_ann_stream\":{\"mean_batch_ms\":210.250}}")
    assert(Bench.streamingJson(Nil) == "{}")
  }

  test("layout section renders strict JSON; starved tables flag; empty stays valid") {
    import graft.sources.LayoutAudit.TableLayout
    val s = Bench.layoutJson(Seq(
      TableLayout("lineitem", 40, 123456789L, 40, 40, 32, starved = false, "ok"),
      TableLayout("documents", 1, 9000000L, 1, 1, 32, starved = true,
        "scan-task starved: rewrite as ~32 part files")))
    assert(s == "{\"lineitem\":{\"files\":40,\"bytes\":123456789," +
      "\"row_groups\":40,\"est_scan_tasks\":40,\"starved\":false}," +
      "\"documents\":{\"files\":1,\"bytes\":9000000,\"row_groups\":1," +
      "\"est_scan_tasks\":1,\"starved\":true}}")
    assert(Bench.layoutJson(Nil) == "{}")
    // the flags-field form the summary line carries for a starved table
    val flagged = Bench.summaryLine(1.0, 2.0, 1, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("layout_starved:documents"))
    assert(flagged.contains("\"flags\":[\"layout_starved:documents\"]"))
  }

  test("sentinel drift above the r7 3x rule rides flags (verdict r14 #3)") {
    // the r14 driver record shipped sentinel_spread 5.77 with clean flags —
    // the one field discounting the record was buried in the detail JSON.
    // Above Bench.SentinelDriftSpread the summary now carries the spread as
    // a first-class flags entry, 3-dp fixed-point like the spread field.
    assert(Bench.SentinelDriftSpread == 3.0) // r7's documented drift line
    val drifted = Bench.summaryLine(1.0, 2.0, 1, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("sentinel_drift:5.770"), sentinelSpread = 5.77)
    assert(drifted.contains("\"flags\":[\"sentinel_drift:5.770\"]"))
    assert(drifted.contains("\"sentinel_spread\":5.770"))
  }

  test("warm-pass disagreement trigger: >15% of the smaller total, asymmetric-safe") {
    // verdict r15 #1: min-of-2 publishes the LESS contaminated pass, not a
    // clean number, when one warm pass ate a mid-pass burst — the trigger
    // must fire on either ordering and stay quiet inside the noise band
    assert(Bench.WarmDisagreePct == 0.15)
    assert(Bench.warmTotalsDisagree(68.0, 80.0))   // 17.6% up
    assert(Bench.warmTotalsDisagree(80.0, 68.0))   // and the mirror
    assert(!Bench.warmTotalsDisagree(68.0, 75.0))  // 10.3% — noise band
    assert(!Bench.warmTotalsDisagree(0.0, 50.0))   // all-failed pass: errors, not retries
    assert(!Bench.warmTotalsDisagree(-1.0, 50.0))
  }

  test("cold inflation above 3x warm rides flags (verdict r15 #1)") {
    // the r15 record shipped cold 296.8 vs warm 68.3 with clean flags and
    // the round's headline comparison died in forensics; the post-disk-work
    // signature now self-identifies like sentinel_drift does
    assert(Bench.ColdInflatedRatio == 3.0)
    assert(Bench.coldInflatedFlag(296.8, 68.3) == Some("cold_inflated:4.346"))
    assert(Bench.coldInflatedFlag(168.1, 68.3).isEmpty) // genuine 2.5x cold cost
    assert(Bench.coldInflatedFlag(10.0, 0.0).isEmpty)   // degenerate warm: no div-by-zero
    val line = Bench.summaryLine(68.3, 296.8, 128, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("cold_inflated:4.346"))
    assert(line.contains("\"flags\":[\"cold_inflated:4.346\"]"))
  }

  test("a failed layout audit is flagged, not silently empty (ADVICE r14)") {
    // layout:{} with clean flags was indistinguishable from a healthy
    // un-starved lake; the catch path now emits layout_audit_failed
    val failed = Bench.summaryLine(1.0, 2.0, 1, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("layout_audit_failed"))
    assert(failed.contains("\"flags\":[\"layout_audit_failed\"]"))
  }

  test("a subset run is marked partial in flags (SPARK_GRAFT_ONLY contract)") {
    // the flag a targeted scaled run carries (e.g. the sf100 families):
    // `subset:<n>_of_<total>` must render as a plain flags entry so a
    // partial record can never masquerade as a full-suite number
    val partial = Bench.summaryLine(1.0, 2.0, 18, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("subset:18_of_127"))
    assert(partial.contains("\"flags\":[\"subset:18_of_127\"]"))
    assert(partial.contains("\"n_queries\":18"))
  }

  test("hash-audit preflight flags all four verdicts (verdict r17 #3)") {
    // clean audit → no flag (absence IS the clean result)
    assert(Bench.hashAuditFlags(() => (), enabled = true) === Nil)
    // a measured h60 collision (requireInjectiveCounts' declared failure
    // path throws the dedicated HashCollisionException) → hash_audit_failed
    // rides the record instead of the run dying or the collision passing
    // silently
    assert(Bench.hashAuditFlags(
      () => GraftEngine.requireInjectiveCounts("test-family", 10L, 9L),
      enabled = true) === Seq("hash_audit_failed"))
    // an audit that cannot run at all (torn lake, missing table) is its own
    // verdict — distinguishable from a measured collision
    assert(Bench.hashAuditFlags(
      () => throw new RuntimeException("no such table"),
      enabled = true) === Seq("hash_audit_error"))
    // ADVICE r18: an IllegalArgumentException from the audit PLUMBING (a
    // require on a bad frame shape) is an infrastructure error, NOT a
    // measured collision — it must not put hash_audit_failed on the record
    assert(Bench.hashAuditFlags(
      () => require(false, "bad frame shape"),
      enabled = true) === Seq("hash_audit_error"))
    // an opted-out audit must not masquerade as clean
    assert(Bench.hashAuditFlags(() => (), enabled = false)
      === Seq("hash_audit_skipped"))
    // and the flags render through the summary contract like any other
    val line = Bench.summaryLine(1.0, 2.0, 1, Nil, "sf", "4.1.2", "32", 0L,
      flags = Seq("hash_audit_failed"))
    assert(line.contains("\"flags\":[\"hash_audit_failed\"]"))
  }

  test("env-sourced values cannot break the parse target (cpus=*, odd paths)") {
    val wild = Bench.summaryLine(1.0, 2.0, 1, Nil,
      sfDir = "/tmp/we\"ird\\dir", sparkVersion = "4.1.2", cpus = "*",
      cacheHighWater = 0L)
    assert(wild.contains("\"cpus\":\"*\""), s"non-numeric cpus must quote: $wild")
    assert(wild.contains("\"sf\":\"/tmp/we\\\"ird\\\\dir\""))
    // numeric cpus stays a JSON number (the documented contract form)
    assert(line.contains("\"cpus\":32"))
  }

  test("a long errors list shrinks the per-query map, never the tail window") {
    // errors/flags/sf are unbounded: each failed query adds ~25 chars, so a
    // fixed map budget would push a high-failure line past the 2000-char
    // tail capture exactly when the errors field matters most
    val qs = (1 to 128).map(i => (f"some_query_name_$i%03d", i * 0.05))
    def lineWith(nErr: Int) = Bench.summaryLine(57.0714, 70.5161, 128,
      (1 to nErr).map(i => f"failing_query_name_$i%03d"),
      "testdata/sf0.1", "4.1.2", "32", 1386200L,
      flags = Seq("relayout:lineitem", "warm1_load"), inversions = 3,
      sentinelSpread = 1.317, queries = qs)
    Seq(0, 10, 40, 60).foreach { n =>
      val l = lineWith(n)
      assert(l.length <= 2000, s"$n errors: line too long (${l.length})")
      assert(l.contains(f"\"failing_query_name_$n%03d\"") || n == 0,
        s"$n errors: an error name was dropped")
    }
    // the map gives way: fewer entries ride a line with more errors, the
    // hottest first, and the sbt trailer's slack is kept at every size
    def entries(l: String) = "some_query_name_".r.findAllMatchIn(l).size
    val sizes = Seq(0, 10, 40, 60).map(n => entries(lineWith(n)))
    assert(sizes == sizes.sorted.reverse && sizes.distinct.size == 4, sizes)
    Seq(0, 10, 40, 60).foreach(n => assert(lineWith(n).length <= 2000 - 100))
    assert(lineWith(60).contains("\"queries\":{\"some_query_name_128\":6.400"))
  }
}
