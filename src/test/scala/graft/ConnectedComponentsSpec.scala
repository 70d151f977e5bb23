package graft

import graft.operators.ConnectedComponents

/** Validates the alternating-star connected-components against brute-force
  * union-find on random graphs, and pins the logarithmic-round property on a
  * deep path graph (the adversarial shape that defeats min-label
  * propagation, whose round count is the diameter), and that the returned
  * plan does not grow with the round count. */
class ConnectedComponentsSpec extends SparkSpec with IterativeTimeLimit {
  import spark.implicits._

  private def bruteForce(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def run(edges: Seq[(Long, Long)], maxRounds: Int = 30): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"), maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    (1 to 5).foreach { trial =>
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val want = bruteForce(edges)
      val got = run(edges)
      assert(got == want, s"trial $trial: got $got\nwant $want")
    }
  }

  test("deep path graph converges in logarithmic rounds") {
    // a 200-node chain: min-label propagation needs ~200 rounds; the
    // alternating-star loop must finish well inside 15
    val edges = (0L until 199L).map(i => (i, i + 1))
    val got = run(edges, maxRounds = 15)
    assert(got.size == 200)
    assert(got.values.forall(_ == 0L), "every chain node labels to the minimum")
  }

  test("plan size is independent of the round count (per-round lineage cut)") {
    // path graphs of 2, 3 and 16 nodes converge in 1, 2 and several star
    // rounds. A per-round cut that truncates the plan (localCheckpoint)
    // returns the same logical plan for each; a persist() re-embeds every
    // earlier round (519 → 8,391 nodes from 1 to 2 rounds), so the 3-node
    // check fails in seconds, before the 16-node run could stall in analysis
    def planNodes(n: Long): Int = {
      val df = ConnectedComponents.run(
        (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst"))
      assert(df.count() == n)
      df.queryExecution.logical.collect { case p => p }.size
    }
    val oneRound = planNodes(2)
    Seq(3L, 16L).foreach { n =>
      val nodes = planNodes(n)
      assert(nodes == oneRound,
        s"plan grows with rounds: $n-node path $nodes nodes, 2-node path $oneRound")
    }
  }

  test("separate components keep separate minima; isolated nodes are absent") {
    val got = run(Seq((5L, 9L), (9L, 7L), (20L, 21L)))
    assert(got == Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 20L -> 20L, 21L -> 20L))
  }

  test("fingerprint property: distinct same-count edge sets never collide (incl. one-edge swaps)") {
    // Convergence detection rests on (count, bit_xor(xxhash64(u, v)))
    // equality (ConnectedComponents.fingerprint). The xor construction is
    // NOT collision-resistant against crafted inputs (documented caveat);
    // this property pins the operative RANDOM-collision claim: across many
    // trial pairs of distinct same-count sets — half fully random, half
    // differing by a single swapped edge (the minimal symmetric
    // difference, exactly what a non-converged star round produces) — no
    // pair fingerprints equal. One Spark job for all trials.
    val rnd = new scala.util.Random(42)
    val nTrials = 200
    def randSet(k: Int): Set[(Long, Long)] = {
      val s = scala.collection.mutable.Set.empty[(Long, Long)]
      while (s.size < k) {
        val (a, b) = (rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong)
        if (a != b) s += ((math.max(a, b), math.min(a, b)))
      }
      s.toSet
    }
    val rows = (0 until nTrials).flatMap { t =>
      val a = randSet(50)
      val b =
        if (t % 2 == 0) {
          var cand = randSet(50)
          while (cand == a) cand = randSet(50)
          cand
        } else {
          // minimal difference: swap one edge for one not in the set
          var e = (rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong)
          while (e._1 == e._2 ||
            a.contains((math.max(e._1, e._2), math.min(e._1, e._2))))
            e = (rnd.nextInt(10000).toLong, rnd.nextInt(10000).toLong)
          a - a.head + ((math.max(e._1, e._2), math.min(e._1, e._2)))
        }
      a.toSeq.map { case (u, v) => (t, 0, u, v) } ++
        b.toSeq.map { case (u, v) => (t, 1, u, v) }
    }
    val fps = rows.toDF("trial", "side", "u", "v")
      .groupBy($"trial", $"side")
      .agg(org.apache.spark.sql.functions.expr("count(1) as c"),
        org.apache.spark.sql.functions.expr("bit_xor(xxhash64(u, v)) as h"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    (0 until nTrials).foreach { t =>
      assert(fps((t, 0)) != fps((t, 1)),
        s"trial $t: distinct edge sets fingerprint-collided: ${fps((t, 0))}")
    }
  }
}
