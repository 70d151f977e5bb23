package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import graft.operators.{IvfIndex, PqQuant}

/** Verdict r10 #2: the oracle render is keyed by (sfDir, config). Two scale
  * dirs exercised in ONE JVM must each render their own export paths and
  * tuned-probe literal — the exact scenario the legacy ran-first singletons
  * (deleted in r12, verdict r11 #3) could only refuse with an
  * IllegalStateException. */
class OracleRenderSpec extends SparkSpec {

  test("oracleSqlFor renders per-config literals for two sfDirs in one JVM") {
    val tiny = SparkEntry.oracleSqlFor(spark, sf0001)
    val small = SparkEntry.oracleSqlFor(spark, sf001)

    // every artifact-replaying oracle reads ITS config's export path
    val k = SparkEntry.NumClusters
    assert(tiny("ann_ivf_probe").contains(IvfIndex.exportPathFor(sf0001, k)))
    assert(small("ann_ivf_probe").contains(IvfIndex.exportPathFor(sf001, k)))
    assert(!small("ann_ivf_probe").contains(IvfIndex.exportPathFor(sf0001, k)))
    assert(tiny("ivf_merge_counts").contains(IvfIndex.mergeExportPathFor(sf0001, k)))
    assert(small("ivf_merge_counts").contains(IvfIndex.mergeExportPathFor(sf001, k)))
    assert(tiny("ann_pq").contains(PqQuant.exportPathFor(sf0001)))
    assert(small("ann_pq").contains(PqQuant.exportPathFor(sf001)))

    // the tuned-probe literal is resolved BY the render (ordering-immune)
    // and matches the operating point the serving query runs at
    def probeLimit(sql: String): Int = {
      val m = "LIMIT (\\d+)".r.findAllMatchIn(sql).map(_.group(1).toInt).toSeq
      m.head // first LIMIT is the coarse-probe limit in ivfProbeOracleWhere
    }
    assert(probeLimit(tiny("ivf_tuned_probe")) ==
      SparkEntry.prewarmTunedProbe(spark, sf0001))
    assert(probeLimit(small("ivf_tuned_probe")) ==
      SparkEntry.prewarmTunedProbe(spark, sf001))

    // non-data-dependent oracles render identically across configs
    assert(tiny("q01_pricing_summary") == small("q01_pricing_summary"))
  }

  test("a filtered render returns exactly the filter and skips unwanted work") {
    // the builder single-query path (review r11): the returned map is the
    // filter intersected with declared oracles — and since ivf_tuned_probe
    // is not selected, the render must not have needed the tuner (not
    // directly observable here once other tests warmed the memo, but the
    // key-set contract is)
    val one = SparkEntry.oracleSqlFor(spark, sf0001, Some(Set(
      "q01_pricing_summary", "no_such_query")))
    assert(one.keySet == Set("q01_pricing_summary"))
    assert(one("q01_pricing_summary") ==
      SparkEntry.oracleSqlFor(spark, sf0001)("q01_pricing_summary"))
  }

  test("a filtered render pays for no oracle literal it does not render") {
    // a private copy of sf0.001, so no other suite has built an index, run
    // the tuner or counted the dedup blocks for this dir
    val src = Paths.get(sf0001)
    val dst = Paths.get("target", "oracle-render-spec", "sf0.001").toAbsolutePath
    val sfDir = dst.toString
    val exportDir = Paths.get(IvfIndex.exportPathFor(sfDir, SparkEntry.NumClusters))
    Seq(dst, exportDir).filter(Files.exists(_)).foreach { d =>
      Files.walk(d).sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    }
    Files.createDirectories(dst.getParent)
    Files.walk(src).forEach(f => Files.copy(f, dst.resolve(src.relativize(f))))

    val one = SparkEntry.oracleSqlFor(spark, sfDir, Some(Set("q01_pricing_summary")))
    assert(one.keySet == Set("q01_pricing_summary"))
    assert(!Files.exists(exportDir), s"the render built an IVF index: $exportDir")
    assert(!IvfIndex.tunedCache.keys.exists(_.startsWith(s"$sfDir#")),
      "the render ran the nProbe tuner")
    assert(!SparkEntry.dedupBlockK.contains(sfDir),
      "the render counted the dedup blocks")
  }

  test("keyed renders stay stable after queries ran for two configs") {
    // the multi-config scenario the deleted ran-first singletons could only
    // refuse: after BOTH sfDirs' artifact-building queries execute in one
    // JVM, each keyed render still names its own export, unaffected by
    // execution order
    SparkEntry.queries("ivf_cluster_counts")(spark, sf0001).count()
    SparkEntry.queries("ivf_cluster_counts")(spark, sf001).count()
    val k = SparkEntry.NumClusters
    assert(SparkEntry.oracleSqlFor(spark, sf0001)("ann_ivf_probe")
      .contains(IvfIndex.exportPathFor(sf0001, k)))
    assert(SparkEntry.oracleSqlFor(spark, sf001)("ann_ivf_probe")
      .contains(IvfIndex.exportPathFor(sf001, k)))
  }
}
