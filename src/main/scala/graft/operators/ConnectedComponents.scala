package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components via alternating large-star/small-star
  * (the MapReduce CC formulation with provably O(log n) rounds) — the
  * scale-proof replacement for plain min-label propagation, whose round
  * count is the graph DIAMETER: a 10⁶-doc duplicate chain would need 10⁶
  * propagation rounds but ~20 star rounds.
  *
  * Each round is two grouped aggregations + joins keyed by node id — the
  * same shuffle shapes as the propagation loop, just fewer rounds. Edges are
  * localCheckpoint'ed per round (lineage truncation — see [[run]]).
  *
  * Operations (on the undirected edge set):
  *  - large-star(u): connect every STRICTLY LARGER neighbor of u to
  *    m = min(Γ⁺(u)) — hangs big nodes under the local minimum.
  *  - small-star(u): orient edges to the larger endpoint, then connect u and
  *    all its (smaller) neighbors to m — flattens chains into stars.
  * At the fixed point every edge is (node, componentMin).
  */
object ConnectedComponents {

  /** One-job set fingerprint over a DISTINCT canonically-oriented edge set:
    * (row count, xor of xxhash64(u,v)). Equality of fingerprints ⟺ set
    * equality up to a ~2⁻⁶⁴ xor-collision on the symmetric difference —
    * sound as a convergence test at any realistic edge cardinality, and it
    * replaces the former two full-shuffle `exceptAll` jobs per star round
    * with ONE map-side-partial aggregate (xor never overflows, so it is
    * safe under ANSI mode where `sum` of hashes would throw).
    *
    * Caveat stated plainly: xor-of-hashes is NOT collision-resistant
    * against crafted inputs (an adversary can pick four edges whose hashes
    * xor to zero). That threat model does not apply here — both edge sets
    * are derived from the same star contraction, not attacker-supplied —
    * so the ~2⁻⁶⁴ random-collision bound is the operative one
    * (ConnectedComponentsSpec carries the empirical property: random
    * same-count distinct sets, including minimal one-edge swaps, never
    * fingerprint-equal across hundreds of trials). */
  private def fingerprint(edges: DataFrame): (Long, Long) = {
    val r = edges
      .agg(count(lit(1)).as("c"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** `pairs`: (src BIGINT, dst BIGINT) undirected edges. Returns
    * (doc_id, cluster_rep) for every node with ≥1 edge, cluster_rep = the
    * component's minimum node id (component minima label themselves).
    *
    * Each round's edges are `localCheckpoint()`ed: the round then plans
    * against a leaf RDD scan, so the plan of round r+1 is the same size as
    * round 1's. A `persist()` does NOT cut the plan: the cached relation is
    * substituted only after the whole logical plan has been analyzed, and
    * every round's plan embeds its predecessor's twice (the symmetric
    * union), so analysis and cache lookup grow exponentially in the round
    * count (ConnectedComponentsSpec's plan-size guard pins this). */
  def run(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // canonical storage is (u = larger endpoint, v = smaller): at the fixed
    // point every edge reads (member, componentMin), and the per-round set
    // compare sees a stable orientation from round one
    var edges = pairs
      .select(col("src").cast("long").as("u"), col("dst").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    var prevFp = fingerprint(edges)
    var converged = false
    var rounds = 0
    while (!converged && rounds < maxRounds) {
      // ---- large-star over symmetric neighborhoods
      val sym = edges.select(col("u"), col("v"))
        .union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(mins, Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .distinct()
      // ---- small-star on larger-endpoint-oriented edges
      val oriented = ls.select(
        greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val mins2 = oriented.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val withM = oriented.join(mins2, Seq("u"))
      val ss = withM.select(col("v").as("n"), col("m"))
        .union(withM.select(col("u").as("n"), col("m")))
        .where(col("n") =!= col("m"))
        .select(greatest(col("n"), col("m")).as("u"),
          least(col("n"), col("m")).as("v"))
        .distinct()
        .localCheckpoint()
      val fp = fingerprint(ss)
      converged = fp == prevFp
      prevFp = fp
      edges = ss
      rounds += 1
    }
    require(converged,
      s"connected components did not converge in $maxRounds star rounds")
    // fixed point: every edge is (member, componentMin); centers label themselves
    val members = edges.select(col("u").as("doc_id"), col("v").as("label"))
    val centers = edges.select(col("v").as("doc_id")).distinct()
      .join(edges.select(col("u").as("doc_id")), Seq("doc_id"), "left_anti")
      .withColumn("label", col("doc_id"))
    members.unionByName(centers)
  }
}
