package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, KnnExact}

/** IVF semantics (SURVEY §2 A14-A16 + §5 operator tests): exactness at full
  * probe (`README.md:24`: n_probe=128 ⇒ exact), recall monotone in nProbe,
  * partition pruning visible in the physical plan, deterministic rebuild. */
class IvfSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private lazy val qv = KnnExact.queryVector(emb, 0L)
  private lazy val idx = IvfIndex.forSfDir(spark, sf0001, 16)

  test("IVF at nProbe=numClusters equals exact brute-force top-k") {
    val exact = KnnExact.topK(emb, qv, 10).select("vec_id").collect().map(_.getLong(0))
    val ivf = idx.search(qv, 10, 16).select("vec_id").collect().map(_.getLong(0))
    assert(ivf.sameElements(exact))
  }

  test("a held handle plans search, searchFiltered and searchBatch with no Spark job") {
    // the handle's pinned snapshot already holds the file listing and the
    // schema, so building and planning a request re-lists nothing (a handle
    // that re-opens per call starts the footer-schema job, and a listing job
    // too once the index has more than 32 cluster dirs)
    idx.vectors
    import spark.implicits._
    val queries = Seq((0L, qv.toSeq)).toDF("query_id", "embedding")
    val jobs = Seq[() => org.apache.spark.sql.DataFrame](
      () => idx.search(qv, 10, 4),
      () => idx.searchFiltered(qv, 10, 4, col("label") >= 0),
      () => idx.searchBatch(queries, 10, 4)
    ).map(req => JobCounter(spark)(req().queryExecution.executedPlan)._2)
    assert(jobs == Seq(0, 0, 0), s"jobs started per request (search, filtered, batch): $jobs")
  }

  test("recall@10 is monotone nondecreasing in nProbe") {
    val exact = KnnExact.topK(emb, qv, 10).select("vec_id").collect().map(_.getLong(0)).toSet
    val recalls = Seq(1, 4, 8, 16).map { p =>
      val got = idx.search(qv, 10, p).select("vec_id").collect().map(_.getLong(0)).toSet
      (got intersect exact).size / 10.0
    }
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"recall not monotone: $recalls")
    assert(recalls.last == 1.0, s"full probe must have recall 1.0: $recalls")
  }

  test("recall@10 floor: mean over 5 queries ≥ 0.7 at nProbe=8, 1.0 at full probe") {
    // quantitative ANN-quality gate (not just monotonicity): the synthetic
    // testdata embeddings are near-uniform, so half-probe recall sits around
    // 0.8 — the floor is set under that with margin for clustering variation
    // across partitioning layouts, and full probe must stay provably exact
    val recalls = (0L to 4L).map { qid =>
      val q = KnnExact.queryVector(emb, qid)
      val exact = KnnExact.topK(emb, q, 10).collect().map(_.getLong(0)).toSet
      val got = idx.search(q, 10, 8).collect().map(_.getLong(0)).toSet
      (got intersect exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.7, s"mean recall@10 at nProbe=8 too low: $mean ($recalls)")
    val full = {
      val q = KnnExact.queryVector(emb, 0L)
      val exact = KnnExact.topK(emb, q, 10).collect().map(_.getLong(0)).toSet
      val got = idx.search(q, 10, 16).collect().map(_.getLong(0)).toSet
      (got intersect exact).size / 10.0
    }
    assert(full == 1.0, s"full probe must be exact, recall=$full")
  }

  test("recallAtK: 1.0 at full probe; agrees with hand-computed recall when pruned") {
    val queries = emb.where(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val full = idx.recallAtK(emb, queries, 10, 16).collect()
    assert(full.length == 3, s"one row per query expected: ${full.length}")
    assert(full.forall(_.getAs[Double]("recall") == 1.0),
      s"full probe must have recall 1.0: ${full.mkString(",")}")
    val probed = idx.recallAtK(emb, queries, 10, 4).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Long]("n_hits"), r.getAs[Double]("recall"))).toMap
    val exact = KnnExact.topK(emb, qv, 10).collect().map(_.getLong(0)).toSet
    val got = idx.search(qv, 10, 4).collect().map(_.getLong(0)).toSet
    assert(probed(0L)._1 == (got intersect exact).size.toLong,
      s"operator n_hits must match the hand-computed intersection: $probed")
    assert(probed.values.forall { case (h, r) => r == h / 10.0 },
      s"recall must be n_hits/k: $probed")
  }

  test("tuned serving point: tunedProbeForSfDir meets its recall floor and is minimal") {
    // the load-bearing path ivf_tuned_probe serves at: the memoized tuner
    // must (a) agree with a direct tuneNProbe call, (b) actually deliver
    // mean recall@k >= the floor over the tuning batch, and (c) be minimal —
    // one probe fewer must miss the floor (unless already 1)
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val tuned = IvfIndex.tunedProbeForSfDir(spark, sf0001, 16, 10, 0.9)
    val curve = idx.recallCurve(emb, queries, 10)
    assert(tuned == idx.tuneNProbe(curve, 0.9), "memo must equal direct tuner")
    val meanAt = (p: Int) => idx.recallAtK(emb, queries, 10, p)
      .agg(avg(col("recall"))).head.getDouble(0)
    assert(meanAt(tuned) >= 0.9 - 1e-9,
      s"tuned nProbe=$tuned must meet the 0.9 floor: ${meanAt(tuned)}")
    if (tuned > 1)
      assert(curve(tuned - 2) < 0.9,
        s"tuned nProbe=$tuned is not minimal: curve=${curve.toSeq}")
  }

  test("fine search is a partition-pruned scan (PartitionFilters on cluster)") {
    val plan = idx.search(qv, 5, 3).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(500))
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      "cluster pruning missing from scan:\n" + plan.take(800))
  }

  test("top-k plan is TakeOrderedAndProject (bounded heap, not full sort)") {
    val plan = KnnExact.topK(emb, qv, 10).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("batch kNN: partial+final bounded-heap aggregate, matches per-query exact") {
    import graft.operators.KnnBatch
    val queries = emb.where(org.apache.spark.sql.functions.col("vec_id").isin(0L, 3L))
      .selectExpr("vec_id AS query_id", "embedding")
    val df = KnnBatch.topK(emb, queries, 5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), "TypedImperativeAggregate expected")
    assert("partial_topk_struct|partial_.*topk".r.findFirstIn(plan).isDefined ||
      plan.split("ObjectHashAggregate").length > 2,
      "partial aggregation (map-side heaps) missing:\n" + plan.take(800))
    val got = df.collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("vec_id")).toSeq).toMap
    Seq(0L, 3L).foreach { qid =>
      val want = KnnExact.topK(emb, KnnExact.queryVector(emb, qid), 5)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(got(qid) == want, s"query $qid: ${got(qid)} != $want")
    }
  }

  test("searchBatch: full probe == per-query exact; pruned + bounded-heap plan") {
    val queries = emb.where(col("vec_id").isin(0L, 3L))
      .selectExpr("vec_id AS query_id", "embedding")
    val full = idx.searchBatch(queries, 5, nProbe = 16)
    val got = full.collect().groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("vec_id")).toSeq).toMap
    Seq(0L, 3L).foreach { qid =>
      val want = KnnExact.topK(emb, KnnExact.queryVector(emb, qid), 5)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(got(qid) == want, s"query $qid: ${got(qid)} != $want")
    }
    val plan = idx.searchBatch(queries, 5, nProbe = 3).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      "batched fine scan must partition-prune:\n" + plan.take(800))
    assert(plan.contains("ObjectHashAggregate"), "bounded-heap top-k agg expected")
  }

  test("balanceReport: shares sum to 1, load factors average 1, counts agree") {
    val rows = idx.balanceReport.collect()
    assert(rows.length == idx.vectors.select("cluster").distinct().count())
    assert(math.abs(rows.map(_.getAs[Double]("share")).sum - 1.0) < 1e-4)
    val meanLoad = rows.map(_.getAs[Double]("load_factor")).sum / idx.numClusters
    assert(math.abs(meanLoad - 1.0) < 1e-4,
      s"mean load factor must be ~1 over all $meanLoad")
    val counts = idx.vectors.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vectors") == counts(r.getInt(0)))
    }
  }

  test("purityReport: majority label is the per-cluster argmax, purity in (0,1]") {
    val rows = idx.purityReport.collect()
    val byClusterLabel = idx.vectors.groupBy("cluster", "label").count().collect()
      .groupBy(_.getInt(0))
    rows.foreach { r =>
      val cluster = r.getInt(0)
      val counts = byClusterLabel(cluster)
        .map(x => x.getInt(1) -> x.getLong(2)).toMap
      // argmax with (n DESC, label ASC) tie-break
      val want = counts.toSeq.sortBy { case (l, n) => (-n, l) }.head
      assert(r.getInt(1) == want._1, s"cluster $cluster majority")
      val purity = r.getAs[Double]("purity")
      assert(purity > 0.0 && purity <= 1.0)
      assert(math.abs(purity - want._2.toDouble / counts.values.sum) < 1e-6)
      assert(r.getAs[Long]("n_vectors") == counts.values.sum)
    }
    assert(rows.length == byClusterLabel.size, "one row per cluster")
  }

  test("index rebuild under fixed seed is deterministic") {
    val dirA = "target/ivf-test/rebuild-a"
    val dirB = "target/ivf-test/rebuild-b"
    val a = IvfIndex.build(spark, emb, dirA, numClusters = 8)
    val b = IvfIndex.build(spark, emb, dirB, numClusters = 8)
    val ca = a.vectors.groupBy("cluster").count().orderBy("cluster")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val cb = b.vectors.groupBy("cluster").count().orderBy("cluster")
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(ca.sameElements(cb))
  }

  test("declared tie-break total order: sim DESC then vec_id ASC") {
    val rows = KnnExact.topK(emb, qv, 20).collect()
    val key = rows.map(r => (-r.getAs[Double]("sim"), r.getAs[Long]("vec_id")))
    assert(key.sameElements(key.sorted))
  }

  test("persisted index round-trips through load()") {
    val dir = "target/ivf-test/roundtrip"
    val built = IvfIndex.build(spark, emb, dir, numClusters = 8)
    val loaded = IvfIndex.load(spark, dir)
    assert(loaded.numClusters == 8 && loaded.dim == built.dim)
    assert(loaded.vectors.count() == emb.count())
  }

  test("load refuses a version dir whose -centroids sibling is missing") {
    val dir = "target/ivf-test/no-centroids"
    IvfIndex.build(spark, emb, dir, numClusters = 8)
    val cents = new java.io.File(IvfIndex.centroidsDir(dir))
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(cents)
    assert(!cents.exists())
    val err = intercept[Exception](IvfIndex.load(spark, dir))
    assert(err.getMessage.contains(cents.getAbsolutePath), err.getMessage)
  }

  test("mergeSegment: merged counts = base counts + assignNew histogram; " +
    "merged search at full probe ≡ exact over the union") {
    val dir = "target/ivf-test/merge"
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val seg = emb.where(col("vec_id") % 10 === 0)
    val idx = IvfIndex.build(spark, base, dir, numClusters = 8)
    val earlier = IvfIndex.load(spark, dir) // a second handle, opened before the merge
    val baseCounts = idx.vectors.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val segHist = idx.assignNew(seg).groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    idx.mergeSegment(seg)
    // counts contract: the on-disk merged layout reproduces base + argmax
    val merged = idx.vectors.groupBy("cluster").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(merged.values.sum == emb.count(), "merge must not lose or dup rows")
    merged.foreach { case (c, n) =>
      assert(n == baseCounts.getOrElse(c, 0L) + segHist.getOrElse(c, 0L),
        s"cluster $c: merged $n != base ${baseCounts.getOrElse(c, 0L)} + " +
          s"new ${segHist.getOrElse(c, 0L)}")
    }
    // search contract: at nProbe = numClusters the merged layout is scanned
    // in full, so results ≡ exact brute force over base ∪ segment — merged
    // rows are first-class residents of their partitions, not a side table
    val exact = KnnExact.topK(emb, qv, 10).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("sim")))
    val got = idx.search(qv, 10, 8).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("sim")))
    assert(got.sameElements(exact),
      s"merged full-probe search diverged:\n got ${got.mkString(",")}\n " +
        s"want ${exact.mkString(",")}")
    // the handle contract: the merge is visible to the writing handle (above)
    // and to a fresh open, not to a handle resolved before it
    assert(earlier.vectors.count() == base.count(),
      "a handle opened before the merge must keep its pre-merge snapshot")
    assert(IvfIndex.load(spark, dir).vectors.count() == emb.count(),
      "a fresh load must see the merged rows")
  }

  // three daily merges fragment the layout (each appends ≤1 file per touched
  // cluster); returns the fragmented handle on `<root>/v1`, which is published
  private def fragmentedIndex(root: String): IvfIndex = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
    val idx = IvfIndex.build(spark, emb.where(col("vec_id") % 5 === 0), s"$root/v1",
      numClusters = 8)
    (1 to 3).foreach(d => idx.mergeSegment(emb.where(col("vec_id") % 5 === d)))
    IvfIndex.publishLatest(spark, root, s"$root/v1")
    idx
  }

  private def compactFilesPerCluster(dir: String): Map[Int, Seq[String]] =
    new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
      .map(f => f.getName.stripPrefix("cluster=").toInt ->
        f.listFiles().map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq)
      .toMap

  // exact top-10 over the merged corpus, and an index's full-probe answer
  private def mergedExact: Array[(Long, Double)] =
    KnnExact.topK(emb.where(col("vec_id") % 5 <= 3), qv, 10).collect()
      .map(r => (r.getLong(0), r.getAs[Double]("sim")))
  private def fullProbe(i: IvfIndex): Array[(Long, Double)] =
    i.search(qv, 10, 8).collect().map(r => (r.getLong(0), r.getAs[Double]("sim")))

  test("compact: fragmented clusters collapse to one file; rows and search invariant") {
    // compact(v2) writes every row into a NEW version with one file per
    // cluster and the same centroids, and touches nothing under v1
    val root = "target/ivf-test/compact"
    val (v1, v2) = (s"$root/v1", s"$root/v2")
    val idx = fragmentedIndex(root)
    def rows(i: IvfIndex): Set[(Long, Int)] =
      i.vectors.select("vec_id", "cluster").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    def cents(i: IvfIndex): Map[Int, Seq[Float]] =
      i.centroids.map { case (c, v) => c -> v.toSeq }.toMap
    val before = compactFilesPerCluster(v1)
    val fragmented = before.count(_._2.length > 1)
    assert(fragmented > 0, s"merges must fragment: $before")
    println(s"[compact] fragmented clusters before compaction: $fragmented of " +
      s"${before.size} (${math.round(100.0 * fragmented / before.size)} %)")
    val rowsBefore = rows(idx)

    val compacted = idx.compact(v2)
    assert(compacted.indexDir == v2)
    val after = compactFilesPerCluster(v2)
    assert(after.values.forall(_.length <= 1), s"post-compact fragmentation: $after")
    assert(after.keySet == before.keySet, "no cluster directory may vanish")
    val onDisk = IvfIndex.load(spark, v2)
    assert(rows(onDisk) == rowsBefore && rows(compacted) == rowsBefore,
      "compaction must not move or lose a row")
    assert(cents(onDisk) == cents(idx), "compaction must keep the centroids")
    assert(compactFilesPerCluster(v1) == before, "compaction must not touch the old version")
    // search invariance at full probe over the merged corpus
    assert(fullProbe(onDisk).sameElements(mergedExact),
      "post-compact full-probe search diverged")
    // idempotence: compacting the compacted version returns the same handle
    // and writes nothing
    assert(compacted.compact(s"$root/v3") eq compacted)
    assert(!new java.io.File(s"$root/v3").exists())
  }

  test("compact: a handle on the old version keeps serving after the new one is published") {
    // the cutover: new readers follow the pointer, a reader opened before
    // the compaction keeps serving its own files, exactly
    val root = "target/ivf-test/compact-cutover"
    val v2 = s"$root/v2"
    val idx = fragmentedIndex(root)
    val reader = IvfIndex.loadLatest(spark, root)
    val exact = mergedExact
    assert(fullProbe(reader).sameElements(exact), "pre-compaction reader diverged")
    idx.compact(v2)
    IvfIndex.publishLatest(spark, root, v2)
    val latest = IvfIndex.loadLatest(spark, root)
    assert(latest.indexDir == v2)
    assert(fullProbe(latest).sameElements(exact), "a fresh reader on the new version diverged")
    assert(fullProbe(reader).sameElements(exact),
      "a handle opened before the compaction must still serve exact results")
  }

  test("gcVersions: bounds the versioned root without touching the serving copy") {
    val root = "target/ivf-test/gc-root"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rm(new java.io.File(root))
    // an unpublished root refuses to GC (could delete the only copy)
    new java.io.File(root).mkdirs()
    intercept[IllegalStateException](IvfIndex.gcVersions(spark, root))
    // three published rotations: v1 -> v2 -> v3 (serving)
    (1 to 3).foreach { v =>
      IvfIndex.build(spark, emb.where(col("vec_id") % 3 < v),
        s"$root/v$v", numClusters = 4)
      IvfIndex.publishLatest(spark, root, s"$root/v$v")
      Thread.sleep(20) // distinct mtimes for the recency order
    }
    val deleted = IvfIndex.gcVersions(spark, root, keep = 1)
    assert(deleted.map(_.split('/').last).toSet == Set("v1", "v1-centroids"),
      s"keep=1 must retain serving v3 + rollback v2 (with centroids), " +
        s"got deleted: $deleted")
    assert(new java.io.File(s"$root/v2").exists() &&
      new java.io.File(s"$root/v2-centroids").exists() &&
      new java.io.File(s"$root/v3").exists() &&
      new java.io.File(s"$root/v3-centroids").exists())
    // the serving index is untouched and still loads through the pointer
    assert(IvfIndex.loadLatest(spark, root).vectors.count() ==
      emb.where(col("vec_id") % 3 < 3).count())
    // keep=0 keeps only the serving copy (unit = dir + centroids);
    // idempotent afterwards
    assert(IvfIndex.gcVersions(spark, root, keep = 0)
      .map(_.split('/').last) == Seq("v2", "v2-centroids"))
    assert(IvfIndex.gcVersions(spark, root, keep = 0).isEmpty)
    assert(new java.io.File(s"$root/v3").exists() &&
      new java.io.File(s"$root/v3-centroids").exists())
  }

  test("maintain: rebuild fires iff max load factor exceeds the threshold") {
    val dir = "target/ivf-test/maintain"
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val seg = emb.where(col("vec_id") % 10 === 0)
    val idx = IvfIndex.build(spark, base, dir, numClusters = 8)
    // generous threshold: merge only, same serving index back
    val (same, rebuilt) = idx.maintain(seg, maxLoadFactor = 1e9)
    assert(!rebuilt && (same eq idx))
    assert(same.vectors.count() == emb.count())
    // impossible threshold: rebuild arm fires into the sibling dir, and the
    // rebuilt index serves the same row set (full probe ≡ exact). The
    // second call merges an EMPTY segment so the layout isn't double-appended.
    val (fresh, rebuilt2) = idx.maintain(
      seg.limit(0), maxLoadFactor = 0.0, rebuildDir = Some(dir + "-v2"))
    assert(rebuilt2 && !(fresh eq idx))
    assert(fresh.indexDir == dir + "-v2")
    assert(fresh.vectors.count() == emb.count())
    val exact = KnnExact.topK(emb, qv, 10).collect().map(_.getLong(0))
    val got = fresh.search(qv, 10, 8).collect().map(_.getLong(0))
    assert(got.sameElements(exact))
  }

  test("version cutover: merge → maintain-rebuild → publish → loadLatest serves the rebuilt index") {
    // the full lifecycle a 100 TB deployment runs (verdict r8 #3): build v1,
    // publish it, ingest a segment with a rebuild-forcing threshold, publish
    // the rebuilt version, and assert a reader that only knows the ROOT dir
    // follows the pointer across the swap
    val root = "target/ivf-test/cutover"
    val v1 = s"$root/v1"
    val base = emb.where(col("vec_id") % 10 =!= 0)
    val seg = emb.where(col("vec_id") % 10 === 0)
    val idx1 = IvfIndex.build(spark, base, v1, numClusters = 8)
    IvfIndex.publishLatest(spark, root, v1)
    assert(IvfIndex.latestVersionDir(spark, root).contains(v1))
    val served1 = IvfIndex.loadLatest(spark, root)
    assert(served1.indexDir == v1 && served1.vectors.count() == base.count())

    // ingest + forced rebuild into the versioned sibling, then cut over
    val (rebuilt, fired) = idx1.maintain(
      seg, maxLoadFactor = 0.0, rebuildDir = Some(s"$root/v2"))
    assert(fired, "threshold 0 must force the rebuild arm")
    IvfIndex.publishLatest(spark, root, rebuilt.indexDir)

    // a NEW reader resolving the same root now serves the rebuilt version:
    // full row set, and full-probe search ≡ exact over base ∪ segment —
    // parity between the swapped handle and the rebuilt dir itself
    val served2 = IvfIndex.loadLatest(spark, root)
    assert(served2.indexDir == s"$root/v2",
      s"pointer must follow the publish: ${served2.indexDir}")
    assert(served2.vectors.count() == emb.count())
    val exact = KnnExact.topK(emb, qv, 10).collect().map(_.getLong(0))
    val viaPointer = served2.search(qv, 10, 8).collect().map(_.getLong(0))
    val viaDir = IvfIndex.load(spark, s"$root/v2")
      .search(qv, 10, 8).collect().map(_.getLong(0))
    assert(viaPointer.sameElements(exact) && viaDir.sameElements(viaPointer),
      "swapped handle and rebuilt dir must serve identical results")
    // the pointer swap is atomic-rename based: the old version stays on disk
    // as the rollback target until reaped — and because maintain merges the
    // segment into the serving dir BEFORE rebuilding, that rollback copy
    // already contains the ingested rows (no data newer than the pointer)
    assert(IvfIndex.load(spark, v1).vectors.count() == emb.count())
  }
}
