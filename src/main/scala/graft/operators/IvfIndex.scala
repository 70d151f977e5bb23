package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim
import graft.sources.Artifact

/** IVF (Inverted-File) approximate-nearest-neighbor index, Spark-native.
  *
  * Reference pipeline (what, not how):
  *  - offline: K-means k=128 seed=42 over the embedding matrix (`clusters.py:20`),
  *    then scatter rows into per-cluster files + id mapping (`clusters.py:26-35`).
  *  - online: coarse search = top-nProbe centroids by cosine (`IVF.cpp:271-282`),
  *    fine search = top-k over the probed clusters' vectors (`IVF.cpp:286-435`),
  *    local→global id remap (`IVF.cpp:316-320`), doc fetch join (`IVF.cpp:694-699`).
  *
  * Spark design (SURVEY.md §1.3/§3): the per-cluster `.bin` files + the positional
  * `cluster_mappings.json` collapse into ONE Parquet table
  * `(vec_id, label, embedding) PARTITIONED BY (cluster)` — the Hive-style directory
  * layout IS the inverted file, and `vec_id` travels with the row so no positional
  * remap exists. The coarse phase touches only k centroid rows (driver-local: the
  * centroid table is k×dim ≈ KBs even at 100 TB corpus scale — same "collect only
  * the 128-row coarse result" posture as SURVEY §7). The fine phase is a
  * partition-pruned scan: `.where($"cluster".isin(probes))` shows up as
  * `PartitionFilters` in the physical plan, so a 1000-executor cluster reads only
  * nProbe/k of the data — exactly the reference's IVF pruning, but executed by
  * Parquet partition pruning instead of hand-managed files.
  *
  * Open once, serve many (the reference opens its index once, `IVF.cpp:489-530`,
  * then runs its query loop): a handle pins ONE resolved snapshot of the
  * inverted file — a parquet relation whose file index already holds the
  * listing and the schema — so every search, report and recall tool prunes
  * and scans it with no listing or schema job per call. The handle's own
  * append ([[mergeSegment]]) re-resolves the snapshot after its write, so
  * the writer sees its rows. Any other handle — one opened earlier, by
  * another caller or in another process — keeps reading exactly the files
  * it resolved, and sees a write only after it is re-opened
  * ([[IvfIndex.load]]). No operation removes or replaces a file inside a
  * version: a rewrite ([[compact]], [[maintain]]'s rebuild) writes a NEW
  * version directory, [[IvfIndex.publishLatest]] cuts readers over, and
  * only [[IvfIndex.gcVersions]] deletes a superseded version.
  */
final case class IvfIndex(
    spark: SparkSession,
    indexDir: String,
    numClusters: Int,
    dim: Int,
    /** (cluster id, centroid) pairs, driver-local. k×dim floats — tiny. */
    centroids: Array[(Int, Array[Float])]) {

  @volatile private var snapshot: IvfIndex.Snapshot = _

  /** The current snapshot; a handle made without one ([[IvfIndex.build]],
    * `copy`, the bare constructor) resolves it on first use. */
  private def current: IvfIndex.Snapshot = {
    if (snapshot == null) pin(spark.read.parquet(indexDir))
    snapshot
  }

  /** Pin `files` (a resolved read of `indexDir`) as this handle's snapshot. */
  private def pin(files: DataFrame): this.type = {
    snapshot = new IvfIndex.Snapshot(files, dim)
    this
  }

  /** Re-resolve after this handle's own write. The layout's schema is the
    * snapshot's, so only the file listing runs, not the footer-schema job. */
  private def repin(): Unit =
    pin(spark.read.schema(current.files.schema).parquet(indexDir))

  /** The inverted file: partition-pruned reads via the `cluster` column, over
    * this handle's pinned snapshot. */
  def vectors: DataFrame = current.files

  /** Coarse search (`IVF.cpp:271-282`): top-nProbe centroids by cosine similarity.
    * Runs on the driver over k rows — the only non-distributed step, by design.
    * Tie-break: sim DESC then cluster ASC (declared total order, SURVEY §2).
    */
  def coarseProbes(query: Array[Float], nProbe: Int): Seq[Int] =
    IvfIndex.coarseProbes(centroids, query, nProbe)

  /** Index-quality report: per-cluster population, corpus share, and load
    * factor vs a perfectly balanced index (`n·k/total`; 1.0 = balanced,
    * ≫1 = a hot cluster that will dominate every probe touching it — the
    * observable behind nlist re-tuning and the skew-salting decision at
    * 100 TB). One k-group aggregate over the inverted file + a one-row
    * total broadcast back onto k rows. */
  def balanceReport: DataFrame = {
    val counts = vectors.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"))
    val total = counts.agg(sum(col("n_vectors")).as("total"))
    counts.crossJoin(broadcast(total))
      .select(col("cluster"), col("n_vectors"),
        round(col("n_vectors").cast("double") / col("total"), 6).as("share"),
        round(col("n_vectors").cast("double") * numClusters / col("total"), 6)
          .as("load_factor"))
      .orderBy(col("cluster"))
  }

  /** Cluster-label agreement report: each cluster's majority label and its
    * share (purity). With any labeled/categorized corpus this is the cheap
    * external check that the index geometry tracks the semantics — a
    * near-uniform purity row flags a cluster of mixed content whose probes
    * will pull in noise. Per-cluster windows (PARTITION BY cluster) are
    * parallel across clusters and ≤|labels| rows deep; one aggregate
    * shuffle, no collects. */
  def purityReport: DataFrame = {
    val byCluster = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster"))
    val cl = vectors.groupBy(col("cluster"), col("label"))
      .agg(count(lit(1)).as("n"))
    cl.withColumn("cluster_n", sum(col("n")).over(byCluster))
      .withColumn("rk", row_number().over(
        byCluster.orderBy(desc("n"), asc("label"))))
      .where(col("rk") === 1)
      .select(col("cluster"), col("label").as("majority_label"),
        col("cluster_n").as("n_vectors"),
        round(col("n").cast("double") / col("cluster_n"), 6).as("purity"))
      .orderBy(col("cluster"))
  }

  /** Quantized IVF search — BOTH scale paths composed: partition pruning cuts
    * the scanned fraction to nProbe/k, int8 codes cut the scanned bytes 4×.
    * The quantizer ([[SqQuant]]) is trained on the full index (stable codebook
    * regardless of probe set); the fine scan is [[SqQuant.search]] over the
    * probed clusters — dequantized codes ranked by double cosine, so full
    * probe ≡ flat SQ8. This is what the fine phase of a 100 TB deployment
    * actually scans: quantized codes inside pruned partitions. Pass
    * `codebook` ([[SqQuant.statsForSfDir]] over the same vectors) to scan
    * with literal stats — without it the codebook is aggregated over the
    * snapshot once, on the first such call, and reused until a write
    * re-resolves the snapshot. */
  def searchQuantized(query: Array[Float], k: Int, nProbe: Int,
      codebook: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    val snap = current
    SqQuant.search(probed(snap, query, nProbe), query, k, dim,
      Some(codebook.getOrElse(snap.sq8)))
  }

  /** Batched IVF search — the 100 TB serving shape: amortize ONE pruned scan
    * over a whole query batch instead of one scan per query (the reference
    * re-execs its binary per query, `run_multiple_configs.sh`; [[KnnBatch]]
    * amortizes the FULL scan; this amortizes the PRUNED scan).
    *
    * Plan shape: coarse-probe every query on the driver (|Q|×k centroid
    * cosines — trivial), scan the UNION of probed clusters once (partition
    * pruning), broadcast-join the (query_id, cluster) probe pairs so each
    * scanned row replicates only to the queries that probed its cluster, then
    * per-query bounded-heap top-k ([[graft.functions.TopKStructAgg]],
    * partial+final — the shuffle carries partitions×k rows per query, never
    * the scan). `queries`: (query_id BIGINT, embedding ARRAY<FLOAT>),
    * broadcast-small by contract.
    */
  def searchBatch(queries: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val qs = queries.select(col("query_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Float]](1).toArray))
    val probePairs = qs.toSeq.flatMap { case (qid, qv) =>
      coarseProbes(qv, nProbe).map(c => (qid, c))
    }
    import spark.implicits._
    val probeDf = probePairs.toDF("query_id", "cluster")
    // the query side is rebuilt from the SAME collected rows the probes came
    // from — re-evaluating the caller's plan here could observe different
    // rows (sample(), changed table) than the probe set was computed on
    val qDf = qs.toSeq.map { case (qid, v) => (qid, v.toSeq) }.toDF("query_id", "q")
    val unionClusters = probePairs.map(_._2).distinct
    val scored = vectors
      .where(col("cluster").isin(unionClusters: _*)) // pruned union scan
      .join(broadcast(probeDf), Seq("cluster"))
      .join(broadcast(qDf.select(col("query_id"), col("q").cast("array<float>").as("q"))),
        Seq("query_id"))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q")), 6))
    graft.functions.TopKStructAgg.perGroupTopK(
      scored, "query_id", col("sim"), col("vec_id"), col("label"), k)
  }

  /** Recall@k of the probed IVF search against exact brute force — THE
    * quality metric of the reference's own experiment grids (`n_probe` ∈
    * {5,20,40,80} in `experiment{1..8}_config.txt` trades recall for the
    * `Search Time` the harness records; `README.md:24`: nProbe=numClusters ⇒
    * recall 1.0). An index deployment tunes nProbe by running exactly this
    * query on a held-out batch.
    *
    * Plan shape: the exact side is one full scan ([[KnnBatch.topK]] bounded-
    * heap, the ground truth is independent of the index layout); the probed
    * side is the pruned-union [[searchBatch]]. Both ends are |Q|×k rows, so
    * the intersection join and per-query count are driver-scale — the only
    * data-scale work is the two scans, each already in its optimal shape.
    * Returns (query_id, n_hits, recall), one row per query.
    */
  def recallAtK(embeddings: DataFrame, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame = {
    // collect the query batch ONCE and feed both sides from the same rows —
    // evaluating the caller's plan twice (exact side + searchBatch's own
    // collect) could observe different rows for a nondeterministic frame
    // (e.g. a sample()), silently scoring two different query sets (the
    // invariant searchBatch documents for itself; r5 review)
    import spark.implicits._
    val qs = queries.select(col("query_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Float]](1).toArray.toSeq))
    val qDf = qs.toSeq.toDF("query_id", "embedding")
      .select(col("query_id"), col("embedding").cast("array<float>"))
    val exact = KnnBatch.topK(embeddings, qDf, k)
      .select(col("query_id"), col("vec_id"))
    val probed = searchBatch(qDf, k, nProbe)
      .select(col("query_id"), col("vec_id"), lit(1).as("hit"))
    exact.join(probed, Seq("query_id", "vec_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_hits")) // count(col) skips the null misses
      .select(col("query_id"), col("n_hits"),
        round(col("n_hits").cast("double") / k, 6).as("recall"))
      .orderBy(col("query_id"))
  }

  /** The full recall@k-vs-nProbe curve from ONE exact pass — the analytic
    * form of running [[recallAtK]] at every nProbe (the reference's manual
    * grid axis, `experiment{1..8}_config.txt` n_probe ∈ {5,20,40,80}).
    *
    * Identity: a vector in the EXACT top-k enters the probed top-k exactly
    * when its cluster is probed (at most k−1 vectors outrank it globally, so
    * it can never be displaced from a probed subset's top-k), and probe sets
    * grow by inclusion in the centroid-similarity order. So per query,
    * recall@k(p) = |{exact neighbors whose cluster's probe rank ≤ p}| / k —
    * the curve falls out of the exact neighbors' cluster assignments with NO
    * probed searches at all. One bounded-heap exact batch scan + one
    * (|Q|·k)-row join to the layout's cluster column; everything after is
    * driver arithmetic over |Q|·k pairs and the k-row centroid table.
    * Returns curve(p−1) = MEAN recall@k at nProbe = p, length numClusters;
    * monotone nondecreasing, last element 1.0 by construction.
    * (A binary search over measured [[recallAtK]] runs O(log k) full exact
    * scans for the same answer — this is the one-scan form; the identity is
    * cross-validated against the measured operator in ExperimentSpec.) */
  def recallCurve(embeddings: DataFrame, queries: DataFrame, k: Int): Array[Double] = {
    import spark.implicits._
    val qs = queries.select(col("query_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getAs[Seq[Float]](1).toArray))
    require(qs.nonEmpty, "recallCurve needs a non-empty query batch")
    val qDf = qs.toSeq.map { case (qid, v) => (qid, v.toSeq) }
      .toDF("query_id", "embedding")
      .select(col("query_id"), col("embedding").cast("array<float>"))
    val exact = KnnBatch.topK(embeddings, qDf, k)
      .select(col("query_id"), col("vec_id"))
      .join(vectors.select(col("vec_id"), col("cluster")), Seq("vec_id"))
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("cluster")))
    // per-query probe rank of every cluster (1-based, full centroid order)
    val rankOf: Map[Long, Map[Int, Int]] = qs.map { case (qid, qv) =>
      qid -> IvfIndex.coarseProbes(centroids, qv, numClusters)
        .zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    }.toMap
    val firstReach = Array.fill(numClusters)(0)
    exact.foreach { case (qid, c) => firstReach(rankOf(qid)(c) - 1) += 1 }
    // divide by |Q|·k — the same fixed-k convention as recallAtK (a corpus
    // shorter than k rows caps the curve below 1.0, same as the operator)
    val denom = qs.length.toDouble * k
    firstReach.scanLeft(0)(_ + _).drop(1).map(_ / denom)
  }

  /** Recall-targeted nProbe auto-tuner: the MINIMAL nProbe whose mean
    * recall@k over the query batch meets `recallFloor` — what the reference
    * tunes by hand across its experiment grids, automated. Monotonicity of
    * [[recallCurve]] makes the first satisfying index the minimum; floor
    * 1.0 is always satisfiable (full probe is exact, `README.md:24`). */
  def tuneNProbe(embeddings: DataFrame, queries: DataFrame, k: Int,
      recallFloor: Double): Int =
    tuneNProbe(recallCurve(embeddings, queries, k), recallFloor)

  /** Curve-accepting overload (ADVICE r8): a floor SWEEP costs ONE exact scan
    * — compute [[recallCurve]] once, index it per floor — instead of one full
    * exact KNN pass per floor as the data-accepting form pays. */
  def tuneNProbe(curve: Array[Double], recallFloor: Double): Int = {
    require(recallFloor > 0.0 && recallFloor <= 1.0,
      s"recall floor must be in (0,1]: $recallFloor")
    val i = curve.indexWhere(_ >= recallFloor - 1e-12)
    if (i < 0) numClusters else i + 1 // unreachable floor (corpus < k): full probe
  }

  /** Incremental index maintenance — the daily-ingest path: assign a batch of
    * NEW vectors to their nearest existing centroid (max cosine, ties to the
    * lower cluster id) without re-clustering. A production pipeline appends
    * the result to the partitioned index (`write.mode("append")
    * .partitionBy("cluster")`) and re-trains centroids on drift — the
    * reference has no incremental story at all (full `clusters.py` re-run).
    *
    * Plan shape: broadcast the k-row centroid table against the new-vector
    * scan, per-vector argmax via `max(struct(sim, -cluster))` (partial+final
    * aggregate — the shuffle carries one row per new vector, and the k-way
    * fan-out collapses map-side). Zero full-index access.
    */
  def assignNew(newVectors: DataFrame): DataFrame = {
    import spark.implicits._
    val cents = centroids.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster", "centroid")
      .select(col("cluster"), col("centroid").cast("array<float>").as("centroid"))
    newVectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(cents))
      .withColumn("sim", round(cosineSim(col("embedding"), col("centroid")), 6))
      .groupBy(col("vec_id"))
      // lexicographic struct max = highest sim, then highest -cluster
      // (= lowest cluster id) — the engine-wide deterministic tie-break
      .agg(max(struct(col("sim"), (-col("cluster")).as("negc"))).as("best"))
      .select(col("vec_id"), (-col("best.negc")).as("cluster"),
        col("best.sim").as("sim"))
  }

  /** Segment merge — closes the incremental-maintenance loop that
    * [[assignNew]] opens (the reference has no incremental path at all: it
    * re-runs `clusters.py:20-35` offline from scratch). Assign each new
    * vector to its nearest existing centroid, then fold the batch INTO the
    * partitioned layout with one `append`-mode partitioned write: each row
    * lands in its cluster's directory, so every subsequent probe-pruned
    * search ([[search]]/[[searchBatch]]) sees the merged
    * rows with zero change — partition pruning doesn't care which write a
    * file came from. Centroids are NOT retrained (that's [[maintain]]'s
    * rebuild arm), so post-merge counts ≡ base counts + [[assignNew]]'s
    * argmax histogram — the `ivf_merge_counts` oracle contract.
    *
    * Scale shape: the only data-scale work is the broadcast-assign of the
    * new batch and its shuffle into ≤k partition writers; the existing index
    * bytes are never read, let alone rewritten — at 100 TB a daily segment
    * merge costs O(segment), not O(index).
    *
    * `newVectors`: (vec_id, label, embedding); its plan is evaluated twice
    * (assignment aggregate + payload join), so it must be deterministic —
    * parquet-backed frames qualify, `sample()` does not (same contract as
    * [[searchBatch]]'s query side). */
  def mergeSegment(newVectors: DataFrame): Unit = {
    val assigned = assignNew(newVectors).select(col("vec_id"), col("cluster"))
    newVectors.select(col("vec_id"), col("label"), col("embedding"))
      .join(assigned, Seq("vec_id"))
      .select(col("vec_id"), col("label"), col("embedding"), col("cluster"))
      // co-locate per cluster before the write (same one-file-per-cluster
      // posture as build(); a daily segment is ≪ index so file count is
      // bounded by k per merge — production would compact on a schedule)
      .repartition(numClusters, col("cluster"))
      .write.mode("append")
      .partitionBy("cluster")
      .parquet(indexDir)
    repin()
  }

  /** Compaction as a version cutover — the maintenance op daily
    * [[mergeSegment]]s make necessary: every merge appends up to one file
    * per touched cluster, so after N days a cluster holds up to N small
    * files and probe-pruned scans degrade to file-open overhead (the
    * classic small-file problem). When any cluster holds more than one
    * file, every row is rewritten into `versionDir` with one file per
    * cluster and the SAME centroids, and a handle on that version is
    * returned; otherwise this handle is returned unchanged (the same no-op
    * convention as [[maintain]]'s no-rebuild arm). Nothing under
    * `indexDir` is moved or deleted: the caller makes the new version
    * visible with [[IvfIndex.publishLatest]], handles on the old version keep
    * serving their files, and [[IvfIndex.gcVersions]] reclaims the old
    * directory. The rows come from a fresh listing of `indexDir`, not this
    * handle's snapshot, so files another writer appended are kept. The
    * rewrite costs O(index), not O(fragmented clusters); after daily merges
    * nearly every cluster is fragmented, so the two are close. Row set,
    * assignments and every search result are invariants (IvfSpec-gated). */
  def compact(versionDir: String): IvfIndex = {
    // the snapshot's schema: only the listing runs, not the footer-schema job
    val fresh = spark.read.schema(current.files.schema).parquet(indexDir)
    val fragmented = fresh.inputFiles
      .groupBy(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .exists(_._2.length > 1)
    if (!fragmented) this
    else {
      IvfIndex.writeVersion(spark, fresh, versionDir, numClusters, centroids)
      IvfIndex(spark, versionDir, numClusters, dim, centroids)
    }
  }

  /** Merge-then-rebuild-when-skewed — the maintenance policy [[balanceReport]]
    * observes but (until now) nothing acted on: merge the segment, then if the
    * hottest cluster's load factor exceeds `maxLoadFactor` (1.0 = perfectly
    * balanced), re-cluster the WHOLE merged index into `rebuildDir` via
    * [[IvfIndex.build]] — the reference's offline rebuild, triggered by a
    * measured condition instead of an operator's calendar. Rebuild writes a
    * new version dir (never in-place: the build scans the very layout it
    * would be overwriting), the same cutover as [[compact]]: the caller
    * publishes it with [[IvfIndex.publishLatest]] and old handles keep
    * serving until [[IvfIndex.gcVersions]] reclaims the old version.
    * Returns (servingIndex, rebuilt?). The load-factor read is a k-row
    * aggregate; the rebuild arm costs a full K-means — which is the point of
    * gating it. */
  def maintain(
      newVectors: DataFrame,
      maxLoadFactor: Double = 2.0,
      rebuildDir: Option[String] = None,
      seed: Long = 42L): (IvfIndex, Boolean) = {
    mergeSegment(newVectors)
    val maxLf = balanceReport.agg(max(col("load_factor"))).head().getDouble(0)
    if (maxLf > maxLoadFactor) {
      val dir = rebuildDir.getOrElse(indexDir.stripSuffix("/") + "-rebuilt")
      (IvfIndex.build(spark,
        vectors.select(col("vec_id"), col("label"), col("embedding")),
        dir, numClusters, seed), true)
    } else (this, false)
  }

  /** The pruned fine-scan input (`IVF.cpp:286-435`): the inverted file
    * restricted to the query's top-nProbe clusters — `PartitionFilters` on
    * the scan, not a full scan. */
  private def probed(snap: IvfIndex.Snapshot, query: Array[Float], nProbe: Int): DataFrame =
    snap.files.where(col("cluster").isin(coarseProbes(query, nProbe): _*))

  /** Fine search (`IVF.cpp:286-435`, both "sequential" and "combined" variants —
    * Spark's per-partition partial top-k + merge in TakeOrderedAndProject is the
    * same algorithm as the reference's per-cluster heaps + merge): the exact
    * [[KnnExact.topK]] over the probed clusters only, so the two paths share
    * one rank contract and nProbe = numClusters is exact by construction.
    * Returns `(vec_id, label, sim)`, sim DESC, vec_id ASC (declared tie-break).
    */
  def search(query: Array[Float], k: Int, nProbe: Int): DataFrame =
    KnnExact.topK(probed(current, query, nProbe), query, k)

  /** Filtered ANN — [[search]] with a metadata predicate applied INSIDE the
    * pruned scan (the vector-DB "filtered search" / pre-filter form): the
    * plan stacks `PartitionFilters` (cluster probes) with `PushedFilters`
    * (the predicate reaching the parquet row groups), so selectivity
    * compounds BEFORE any cosine is computed — post-filtering top-k would
    * instead return < k rows whenever the predicate thins the neighborhood.
    * The predicate must reference the layout's columns (e.g. `label`). */
  def searchFiltered(query: Array[Float], k: Int, nProbe: Int,
      predicate: org.apache.spark.sql.Column): DataFrame =
    KnnExact.topK(probed(current, query, nProbe).where(predicate), query, k)
}

object IvfIndex {

  /** One resolved read of an index dir, plus what is derived from it: the
    * default SQ8 codebook is aggregated at most once per snapshot. */
  private final class Snapshot(val files: DataFrame, dim: Int) {
    lazy val sq8: (Array[Double], Array[Double]) = SqQuant.stats(files, dim)
  }

  /** Coarse search (`IVF.cpp:271-282`) as a pure function: top-nProbe
    * centroids by cosine against the query, driver-local over k rows. Shared
    * by the point path ([[IvfIndex.coarseProbes]]) and the recall curve, so
    * both compute identical probe sets. */
  def coarseProbes(
      centroids: Seq[(Int, Array[Float])],
      query: Array[Float],
      nProbe: Int): Seq[Int] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb) + 1e-8)
    }
    centroids
      .map { case (c, v) => (c, cos(v, query)) }
      .sortBy { case (c, s) => (-s, c) }
      .take(math.min(nProbe, centroids.length))
      .map(_._1).toSeq
  }

  /** Offline index build (`clusters.py:20-35` semantics, MLlib execution):
    * K-means over the embedding column, then one partitioned-parquet write.
    * MLlib's k-means|| init differs from sklearn's single-node k-means++ — a
    * declared, semantics-preserving divergence (SURVEY §7 build order note 3):
    * parity is defined on search behavior given an index, not on identical
    * cluster assignments.
    */
  def build(
      spark: SparkSession,
      embeddings: DataFrame, // (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)
      indexDir: String,
      numClusters: Int = 128,
      seed: Long = 42L): IvfIndex = {

    val withVec = embeddings.withColumn("features", array_to_vector(col("embedding")))
    val model = new KMeans()
      .setK(numClusters)
      .setSeed(seed)
      .setMaxIter(20)
      .setFeaturesCol("features")
      .setPredictionCol("cluster")
      .fit(withVec)

    val dim = model.clusterCenters.headOption.map(_.size).getOrElse(0)
    val cents = model.clusterCenters.zipWithIndex.map { case (v, i) =>
      (i, v.toArray.map(_.toFloat))
    }
    writeVersion(spark, model.transform(withVec), indexDir, numClusters, cents)
    IvfIndex(spark, indexDir, numClusters, dim, cents)
  }

  /** Write one index version — the unit [[publishLatest]] serves and
    * [[gcVersions]] reclaims: the partitioned inverted file at `dir` plus its
    * `-centroids` sibling. [[build]] and [[IvfIndex.compact]] both write
    * through here, so the layout has one owner. */
  private def writeVersion(spark: SparkSession, rows: DataFrame, dir: String,
      numClusters: Int, cents: Array[(Int, Array[Float])]): Unit = {
    rows.select(col("vec_id"), col("label"), col("embedding"), col("cluster"))
      // co-locate each cluster's rows before the partitioned write: one
      // compact file per cluster instead of one shard per (task × cluster) —
      // 3× fewer files here, and at 100 TB the difference between a
      // listing-bound scan and a streaming one (production would cap file
      // size and roll, same layout)
      .repartition(numClusters, col("cluster"))
      .write.mode("overwrite")
      .partitionBy("cluster") // directory-per-cluster == the inverted file
      .parquet(dir)
    // Persist the centroid table (k rows) next to the inverted file — the
    // reference's `cluster_centroids.bin` artifact. `load` then reads k rows
    // instead of re-aggregating dim avg() columns over the whole index.
    writeCentroids(spark, centroidsDir(dir), cents)
  }

  /** Centroid artifact path: a sibling dir, NOT inside the partitioned index
    * (a child dir would corrupt partition discovery) and NOT `_`-prefixed
    * (Spark skips `_`/`.`-prefixed paths as hidden). */
  def centroidsDir(indexDir: String): String =
    indexDir.stripSuffix("/") + "-centroids"

  private def writeCentroids(
      spark: SparkSession, dir: String, cents: Array[(Int, Array[Float])]): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (c, v) => (c, v.toSeq) }
      .toDF("cluster", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a persisted index. Centroids come from the k-row
    * `<indexDir>-centroids` parquet that every version write leaves next to
    * the index (the reference's `cluster_centroids.bin`); a dir without it
    * is not an index version and fails to load. */
  def load(spark: SparkSession, indexDir: String): IvfIndex = {
    val df = spark.read.parquet(indexDir)
    val dim = df.select(size(col("embedding"))).head().getInt(0)
    val cents = spark.read.parquet(centroidsDir(indexDir)).collect().map { r =>
      (r.getAs[Int]("cluster"), r.getAs[Seq[Float]]("centroid").toArray)
    }
    IvfIndex(spark, indexDir, cents.length, dim, cents).pin(df)
  }

  // ------------------------------------------------- tuned serving point

  /** The recall-tuned nProbe for a (sfDir, k, floor) serving config —
    * [[IvfIndex.tuneNProbe]] made load-bearing (verdict r8 #4): one analytic
    * [[recallCurve]] pass over a fixed deterministic query batch (vec_id<8,
    * the Experiment harness's batch) picks the minimal nProbe whose mean
    * recall@k meets `recallFloor`, and the serving query then RUNS at that
    * operating point — the automated form of the reference's hand-swept
    * `experiment{1..8}_config.txt` grids (`README.md:24`). Memoized per
    * config (the curve is deterministic given centroids, which are
    * deterministic given (sfDir, k, seed)), so the tuner costs one exact
    * batch scan per JVM, not one per query execution. */
  def tunedProbeForSfDir(spark: SparkSession, sfDir: String, numClusters: Int,
      k: Int, recallFloor: Double): Int =
    Artifact.memo(s"ivf-tuned#$sfDir#$numClusters#$k#$recallFloor") {
      val idx = forSfDir(spark, sfDir, numClusters)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val queries = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding"))
      idx.tuneNProbe(emb, queries, k, recallFloor)
    }

  /** Name of the atomic version pointer inside an index ROOT dir. */
  val LatestPointer = "LATEST"

  /** Publish `versionDir` as the serving version under `rootDir` — the
    * cutover step a [[IvfIndex.maintain]] rebuild needs to become visible
    * (verdict r8 #3; the reference's load-then-serve lifecycle is
    * `IVF.cpp:648`: a process points at ONE index dir at open time). The
    * pointer is a single file `<rootDir>/LATEST` holding the version dir
    * path, swapped via write-temp + atomic rename-with-overwrite
    * (`FileContext.rename(OVERWRITE)` — atomic on HDFS and on the local FS),
    * so a concurrent [[loadLatest]] sees either the old or the new version,
    * never a torn pointer. The version's data itself is already in place
    * before publish ([[IvfIndex.maintain]] and [[IvfIndex.compact]] write a
    * SIBLING dir, never in-place). */
  def publishLatest(spark: SparkSession, rootDir: String, versionDir: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(conf)
    fs.mkdirs(root)
    val tmp = new org.apache.hadoop.fs.Path(root, s".$LatestPointer.tmp")
    val dst = new org.apache.hadoop.fs.Path(root, LatestPointer)
    val out = fs.create(tmp, true)
    try out.write(versionDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** The version dir `rootDir`'s pointer currently names, if published. */
  def latestVersionDir(spark: SparkSession, rootDir: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(rootDir, LatestPointer)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim)
      finally in.close()
    }
  }

  /** [[load]] through the pointer: open whatever version `rootDir` currently
    * serves. The indirection [[maintain]]'s rebuild arm was missing — after
    * `publishLatest(root, rebuiltDir)`, every new reader gets the rebuilt
    * index with zero changes at call sites. */
  def loadLatest(spark: SparkSession, rootDir: String): IvfIndex = {
    val v = latestVersionDir(spark, rootDir).getOrElse(throw new IllegalStateException(
      s"no $LatestPointer pointer under $rootDir — publishLatest first"))
    load(spark, v)
  }

  /** Version garbage collection — the lifecycle step that bounds a
    * versioned serving root's storage: every [[maintain]]-rebuild or
    * [[IvfIndex.compact]] + [[publishLatest]] rotation leaves the superseded
    * version dir behind (deliberately — it is the rollback target, and
    * handles opened on it keep serving its files until it is deleted), and
    * after N rotations the root holds N dead full-index copies. Deletes
    * version dirs under `rootDir` EXCEPT the pointer's current target and
    * the `keep` most recently modified non-serving versions (keep ≥ 1
    * preserves a rollback target; 0 keeps only the serving copy). Refuses
    * to run without a published pointer — GC on an unpublished root could
    * delete the only copy. Only first-level directories that are not
    * dot/`_`-prefixed are candidates (the pointer file and Spark metadata
    * are never touched).
    * Returns the deleted dirs. */
  def gcVersions(spark: SparkSession, rootDir: String, keep: Int = 1): Seq[String] = {
    require(keep >= 0, s"keep: $keep")
    val serving = latestVersionDir(spark, rootDir).getOrElse(
      throw new IllegalStateException(
        s"no $LatestPointer pointer under $rootDir — refusing to GC an unpublished root"))
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(rootDir)
    val fs = root.getFileSystem(conf)
    val servingPath = fs.makeQualified(new org.apache.hadoop.fs.Path(serving))
    // a version UNIT is the index dir + its `-centroids` sibling (the
    // layout writeVersion owns) — ranked and deleted together, never split
    val versionDirs = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory &&
        !s.getPath.getName.startsWith(".") && !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.endsWith("-centroids") &&
        fs.makeQualified(s.getPath) != servingPath)
      .sortBy(-_.getModificationTime)
    versionDirs.drop(keep).flatMap { s =>
      fs.delete(s.getPath, true)
      val cents = new org.apache.hadoop.fs.Path(
        root, s.getPath.getName + "-centroids")
      val alsoCents = fs.exists(cents) && fs.delete(cents, true)
      s.getPath.toString +: (if (alsoCents) Seq(cents.toString) else Nil)
    }
  }

  /** Deterministic export path for (sfDir, numClusters) — a PURE function of
    * the config, usable by an oracle render whether or not the build has run
    * in this JVM yet (verdict r10 #2: the keyed replacement for the legacy
    * ran-first singleton, deleted in r12). [[forSfDir]] writes here. */
  def exportPathFor(sfDir: String, numClusters: Int): String =
    java.nio.file.Paths
      .get("target", "ivf-export", s"${graft.SfPath.safe(sfDir)}-k$numClusters")
      .toAbsolutePath.toString

  /** [[exportPathFor]] for the merged-segment fixture ([[mergedForSfDir]]). */
  def mergeExportPathFor(sfDir: String, numClusters: Int): String =
    java.nio.file.Paths
      .get("target", "ivf-export", s"${graft.SfPath.safe(sfDir)}-k$numClusters-merge")
      .toAbsolutePath.toString

  // ------------------------------------------------------------- fixtures
  // The harness fixtures (`forSfDir`, `mergedForSfDir` and the tuned nProbe
  // above) are built once per JVM per config through `Artifact.memo`, whose
  // per-key lock keeps a concurrent first call from running a build (or
  // `mergedForSfDir`'s append) twice. `Artifact.reset()` forgets them: the
  // next call rebuilds over the same dirs, so a handle taken before a reset
  // is stale after it.

  /** [[build]] a fixture index at `dir` and export its assignment and
    * centroids under `exportDir` for oracle replay. */
  private def buildExported(spark: SparkSession, embeddings: DataFrame, dir: String,
      numClusters: Int, exportDir: String): IvfIndex = {
    val built = build(spark, embeddings, dir, numClusters)
    built.vectors.select(col("vec_id"), col("cluster"))
      // corpus-∝ table: keep the write partition-parallel (verdict r14
      // #5 hygiene — this was the one coalesce(1) on a corpus-sized
      // frame left; the oracle replays it via a flat /assign/*.parquet
      // glob, which a multi-file directory satisfies unchanged)
      .write.mode("overwrite").parquet(s"$exportDir/assign")
    writeCentroids(spark, s"$exportDir/centroids", built.centroids)
    built
  }

  /** The daily-ingest scenario as a cached per-(sfDir, k) fixture: a BASE
    * index built over 9/10 of the corpus (`vec_id % 10 != 0` — the complement
    * of `ivf_assign_new`'s arrival stream), then ONE [[IvfIndex.mergeSegment]]
    * of the arriving tenth. The base assignment and centroids are exported
    * for oracle replay; `build()`'s overwrite mode clears any prior build's
    * merged rows, and the build-once memo guarantees the append happens
    * exactly once per build (a double merge would double-count the segment). */
  def mergedForSfDir(spark: SparkSession, sfDir: String, numClusters: Int): IvfIndex =
    Artifact.memo(s"ivf-merged#$sfDir#$numClusters") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val built = buildExported(spark, emb.where(col("vec_id") % 10 =!= 0),
        s"target/ivf-index/${graft.SfPath.safe(sfDir)}-k$numClusters-merge", numClusters,
        mergeExportPathFor(sfDir, numClusters))
      built.mergeSegment(emb.where(col("vec_id") % 10 === 0))
      built
    }

  /** Build-or-reuse an index for a testdata dir. Index lives under ./target. */
  def forSfDir(spark: SparkSession, sfDir: String, numClusters: Int): IvfIndex =
    Artifact.memo(s"ivf-index#$sfDir#$numClusters") {
      buildExported(spark, spark.read.parquet(s"$sfDir/embeddings.parquet"),
        s"target/ivf-index/${graft.SfPath.safe(sfDir)}-k$numClusters", numClusters,
        exportPathFor(sfDir, numClusters))
    }
}

/** Batch multi-query k-NN: score a whole table of queries in ONE job — the
  * throughput-oriented complement to the reference's one-query-per-process
  * loop (`IVF.cpp:650,684`; `run_multiple_configs.sh` re-execs the binary per
  * query). Broadcast the (small) query batch against the embedding scan, rank
  * per query with a window — one pass over the data regardless of batch size,
  * which is what matters at 100 TB: amortize the scan, not the query.
  */
object KnnBatch {

  /** `queries`: (query_id BIGINT, embedding ARRAY<FLOAT>) — must be broadcast-
    * small (thousands of rows). Returns (query_id, vec_id, label, sim, rn),
    * rn ∈ [1,k], deterministic tie-break sim DESC / vec_id ASC per query.
    *
    * Top-k per query via [[graft.functions.TopKStructAgg]] (bounded-heap
    * aggregate): Spark plans it partial+final, so the shuffle carries only
    * numPartitions×k rows per query — a window-rank formulation would shuffle
    * the entire scored table into ≤|queries| partitions first (full-data
    * shuffle + skew at 100 TB).
    */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = embeddings
      .join(broadcast(queries.select(col("query_id"), col("embedding").as("q"))))
      .withColumn("sim",
        round(graft.functions.GraftFunctions.cosineSim(col("embedding"), col("q")), 6))
    graft.functions.TopKStructAgg.perGroupTopK(
      scored, "query_id", col("sim"), col("vec_id"), col("label"), k)
  }
}
