package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.operators.{Dedup, IvfIndex, KnnExact}

/** Multi-day incremental ingest drill (verdict r11 #1): the composed daily
  * cycle a 100 TB pipeline actually runs. Each incremental family was already
  * proven for ONE batch against its full-recompute twin (DedupTextSpec,
  * IvfSpec); this drill chains FOUR synthetic days through ALL FIVE
  * incremental modalities at once — exact dedup ([[Dedup.incrementalExact]] over an
  * append-only seen-hash artifact), LSH banding
  * ([[Dedup.lshCandidatePairsIncremental]] over an append-only band
  * artifact), span dedup ([[Dedup.dupSpanShareIncremental]] over an
  * append-only [[Dedup.spanWindowSet]] artifact), media payloads
  * ([[graft.multimodal.Multimodal.frameDupShareIncremental]] over an
  * append-only per-frame sketch artifact) and the IVF index
  * ([[IvfIndex.mergeSegment]] via [[IvfIndex.maintain]], with a forced
  * rebuild + [[IvfIndex.publishLatest]] version rotation MID-drill, and each
  * merge-only day's [[IvfIndex.compact]] published as a new version) — and
  * asserts after EVERY day that the cumulative artifact/serving state equals
  * the full-recompute twin over everything ingested so far.
  *
  * Artifacts live as real parquet directories under target/ and are extended
  * with append-mode writes — the lake shape, not in-memory unions — so the
  * drill also exercises the write-then-reread path each day's probe runs
  * against. Day slices come from `doc_id % 4` / `vec_id % 4`: ids interleave
  * across days, so the exact-dedup keeper policy (first-arrival-day wins,
  * then min doc_id within that day) is genuinely distinguishable from the
  * whole-corpus min — the drill pins the DECLARED streaming policy, documented
  * below. Reference semantics anchor: the rotation is the Spark analog of
  * re-running the offline build (`clusters.py:20-35`) without paying a full
  * rebuild on the no-skew days.
  */
class IncrementalDrillSpec extends SparkSpec with IterativeTimeLimit {

  private val Days = 4
  private val artRoot = "target/drill"

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    .select(col("doc_id"), col("text"), col("lang"))
  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    .select(col("vec_id"), col("label"), col("embedding"))

  private def docBatch(d: Int) = docs.where(col("doc_id") % Days === d)
  private def docsThrough(d: Int) = docs.where(col("doc_id") % Days <= d)
  private def embBatch(d: Int) = emb.where(col("vec_id") % Days === d)
  private def embThrough(d: Int) = emb.where(col("vec_id") % Days <= d)

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def spanKey(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        col("dup_share")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet

  test("4-day composed ingest: every family's cumulative state equals its " +
    "full-recompute twin after each day, with an IVF rotation mid-drill") {
    // clean slate: append-mode artifacts must not inherit a prior run
    val rootPath = new java.io.File(artRoot)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    if (rootPath.exists()) rm(rootPath)

    val seenDir = s"$artRoot/seen"     // (text_md5, keep_doc_id) per first arrival
    val bandDir = s"$artRoot/bands"    // (doc_id, band, bucket) append-only
    val winDir = s"$artRoot/windows"   // (doc_id, wh) append-only
    val skDir = s"$artRoot/sketches"   // per-frame phash sketches, append-only
    val setDir = s"$artRoot/shingle-sets"      // (doc_id, lang, sh) append-only
    def labelDir(day: Int) = s"$artRoot/labels-day$day" // REWRITE artifact, versioned per day
    // post-ingest class quotient, versioned per day (r18: the
    // phashClassesMerged refresh artifact the serving form reads)
    def quotDir(day: Int) = s"$artRoot/quotient-day$day"
    // span-lake owner-count view, versioned per day (r19 #7: the SpanWindow
    // Lake compaction chain — dupHashes derives from a chained per-hash
    // distinct-doc count, not a per-day rebuild)
    def cntDir(day: Int) = s"$artRoot/span-counts-day$day"
    val ivfRoot = s"$artRoot/ivf"      // versioned index root with LATEST pointer

    // ---- day 0 bootstrap: empty history everywhere; the incremental forms
    // degenerate to full recomputes of the first batch (edge contract already
    // pinned in DedupTextSpec) and the IVF v1 build is published
    val d0 = docBatch(0)
    Dedup.incrementalExact(d0, spark.emptyDataFrame.select(lit("").as("text_md5")).limit(0))
      .select(col("text_md5"), col("keep_doc_id"))
      .write.mode("overwrite").parquet(seenDir)
    Dedup.lshBuckets(d0).write.mode("overwrite").parquet(bandDir)
    Dedup.spanWindowSet(d0).write.mode("overwrite").parquet(winDir)
    // day-0 span owner counts: the batch IS the corpus
    Dedup.spanWindowSet(d0).groupBy(col("wh"))
      .agg(count(lit(1)).cast("long").as("nd"))
      .write.mode("overwrite").parquet(cntDir(0))
    Multimodal.phashFrames(d0, carry = Seq("lang"))
      .write.mode("overwrite").parquet(skDir)
    // day-0 quotient: the batch IS the corpus
    Multimodal.sketchClasses(Multimodal.phashFrames(d0, carry = Seq("lang")))
      .write.mode("overwrite").parquet(quotDir(0))
    Dedup.shingleSetsOf(d0).write.mode("overwrite").parquet(setDir)
    Dedup.nearDupClusters(d0, 0.5).write.mode("overwrite").parquet(labelDir(0))
    // day-0 candidate pairs: new×new = the full banding of slice 0
    var pairsSoFar = pairSet(Dedup.lshCandidatePairs(d0))
    graft.CacheRegistry.release()
    IvfIndex.publishLatest(spark, ivfRoot,
      IvfIndex.build(spark, embBatch(0), s"$ivfRoot/v1", numClusters = 8).indexDir)

    for (day <- 1 until Days) {
      val batch = docBatch(day)
      val cumDocs = docsThrough(day)

      // ---------------- exact dedup: probe the artifact, append survivors
      val seen = spark.read.parquet(seenDir)
      val survivors = Dedup.incrementalExact(batch, seen)
        .select(col("text_md5"), col("keep_doc_id"))
      // day 2 composes the bloom-prefiltered form into the drill: the
      // runtime-filter variant must stay bit-identical mid-chain, not just
      // in the isolated one-batch test
      if (day == 2) {
        val viaBloom = Dedup.incrementalExactBloom(batch, seen)
          .select(col("text_md5"), col("keep_doc_id"))
        assert(viaBloom.collect().toSet == survivors.collect().toSet,
          s"day $day: bloom form diverged from the plain anti-join")
      }
      survivors.write.mode("append").parquet(seenDir)
      graft.CacheRegistry.release()

      // twin: the artifact's hash set equals the full recompute's, exactly
      // one keeper per hash, and every keeper is the min doc_id of its hash
      // WITHIN the first day that hash arrived (the declared streaming
      // policy — first-arrival-day wins; the full-corpus min can be a LATER
      // day's doc, which a no-rewrite daily pipeline must not retro-elect)
      val art = spark.read.parquet(seenDir).collect()
        .map(r => r.getString(0) -> r.getLong(1))
      val fullHashes = Dedup.exact(cumDocs).select(col("text_md5")).collect()
        .map(_.getString(0)).toSet
      assert(art.map(_._1).toSet == fullHashes,
        s"day $day: artifact hash set diverged from full recompute " +
          s"(${art.length} artifact rows vs ${fullHashes.size} full hashes)")
      assert(art.length == fullHashes.size,
        s"day $day: a hash was appended twice (${art.length} rows)")
      val wantKeeper = (0 to day).foldLeft(Map.empty[String, Long]) { (acc, d) =>
        val dayMin = Dedup.exact(docBatch(d))
          .select(col("text_md5"), col("keep_doc_id")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        dayMin.foldLeft(acc) { case (m, (h, k)) =>
          if (m.contains(h)) m else m + (h -> k) }
      }
      assert(art.toMap == wantKeeper,
        s"day $day: keeper policy diverged from first-arrival-day replay")

      // ---------------- LSH banding: probe the artifact, append the bands
      val hist = spark.read.parquet(bandDir)
      pairsSoFar ++= pairSet(Dedup.lshCandidatePairsIncremental(batch, hist))
      Dedup.lshBuckets(batch).write.mode("append").parquet(bandDir)
      graft.CacheRegistry.release()
      // twin: the appended artifact IS the full banding, and the union of
      // the daily candidate outputs IS the full candidate set — no pair
      // lost by never re-shingling history, none invented
      val bandArt = spark.read.parquet(bandDir).collect()
        .map(r => (r.getLong(0), r.getAs[Int]("band"), r.getLong(2))).toSet
      val bandFull = Dedup.lshBuckets(cumDocs).collect()
        .map(r => (r.getLong(0), r.getAs[Int]("band"), r.getLong(2))).toSet
      assert(bandArt == bandFull, s"day $day: band artifact diverged " +
        s"(${bandArt.size} vs ${bandFull.size})")
      val pairsFull = pairSet(Dedup.lshCandidatePairs(cumDocs))
      assert(pairsSoFar == pairsFull,
        s"day $day: accumulated candidates diverged from full banding " +
          s"(missing ${(pairsFull -- pairsSoFar).take(3)}, " +
          s"extra ${(pairsSoFar -- pairsFull).take(3)})")
      graft.CacheRegistry.release()

      // ---------------- span dedup: probe the artifact, append the windows
      val winHist = spark.read.parquet(winDir)
      val sig = spanKey(Dedup.dupSpanShareIncremental(batch, winHist))
      Dedup.spanWindowSet(batch).write.mode("append").parquet(winDir)
      graft.CacheRegistry.release()
      // twin: today's signal equals the full recompute restricted to the
      // batch, and the appended artifact equals the full window set
      val sigWant = spanKey(
        Dedup.dupSpanShare(cumDocs).where(col("doc_id") % Days === day))
      assert(sig == sigWant, s"day $day: span signal diverged " +
        s"(${sig.size} vs ${sigWant.size} docs)")
      val winArt = spark.read.parquet(winDir).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val winFull = Dedup.spanWindowSet(cumDocs).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(winArt == winFull, s"day $day: window artifact diverged " +
        s"(${winArt.size} vs ${winFull.size})")
      graft.CacheRegistry.release()

      // ---------------- span serving-artifact chain (r19 #7, the merged-
      // quotient statement for the span lake): the dup-hash compaction view
      // derives from a CHAINED per-hash owner count — counts(d) =
      // counts(d−1) ⊕ batch's distinct-doc counts, sound because daily doc
      // sets are disjoint so owner counts ADD (the flip-merge associativity
      // argument, span edition) — never from a per-day rebuild. Assert (a)
      // the chained counts equal the one-shot rollup of the appended window
      // artifact, and (b) the PREBUILT serving form probing the chained
      // artifacts equals the full recompute — the chain actually serves.
      Dedup.spanWindowSet(batch).groupBy(col("wh"))
        .agg(count(lit(1)).cast("long").as("nd"))
        .unionByName(spark.read.parquet(cntDir(day - 1)))
        .groupBy(col("wh")).agg(sum(col("nd")).cast("long").as("nd"))
        .write.mode("overwrite").parquet(cntDir(day))
      val cntArt = spark.read.parquet(cntDir(day)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val cntWant = spark.read.parquet(winDir).groupBy(col("wh"))
        .agg(count(lit(1)).cast("long").as("nd")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cntArt == cntWant, s"day $day: chained span owner counts " +
        s"diverged from the one-shot rollup (${cntArt.size} vs ${cntWant.size})")
      val dupChained = spark.read.parquet(cntDir(day))
        .where(col("nd") > 1).select(col("wh"))
      val servedSpan = spanKey(Dedup.dupSpanSharePrebuilt(cumDocs,
        spark.read.parquet(winDir), dupChained))
      val servedWant = spanKey(Dedup.dupSpanShare(cumDocs))
      assert(servedSpan == servedWant, s"day $day: serving form over the " +
        s"chained artifacts diverged (${servedSpan.size} vs ${servedWant.size})")
      graft.CacheRegistry.release()

      // ---------------- media dedup: probe the sketch artifact, append
      val skHist = spark.read.parquet(skDir)
      val mediaSig = Multimodal.frameDupShareIncremental(batch, skHist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("dup_frame_share"))).toSet
      Multimodal.phashFrames(batch, carry = Seq("lang"))
        .write.mode("append").parquet(skDir)
      graft.CacheRegistry.release()
      val mediaWant = Multimodal.frameDupShare(cumDocs)
        .where(col("doc_id") % Days === day)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("dup_frame_share"))).toSet
      assert(mediaSig == mediaWant, s"day $day: media signal diverged " +
        s"(${mediaSig.size} vs ${mediaWant.size} docs)")
      graft.CacheRegistry.release()
      val skArt = spark.read.parquet(skDir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("ahash"),
          r.getAs[Long]("dhash"))).toSet
      val skFull = Multimodal.phashFrames(cumDocs).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("ahash"),
          r.getAs[Long]("dhash"))).toSet
      assert(skArt == skFull, s"day $day: sketch artifact diverged " +
        s"(${skArt.size} vs ${skFull.size})")

      // ---------------- media quotient refresh chain (r18): the post-ingest
      // quotient artifact composes DAY OVER DAY — merged(d) = flip-merge of
      // batch(d)'s quotient into merged(d-1) — and the serving probe reads
      // it. Two invariants per day: (a) the prebuilt probe through the
      // chained artifact equals the full recompute restricted to the batch,
      // and (b) the chained quotient equals the one-shot quotient over
      // everything ingested so far — i.e. the disjoint merge ASSOCIATES
      // across ingest days, which is what lets a daily refresh never touch
      // more than O(batch) on top of the stored artifact.
      val mergedQ = Multimodal.mergeDisjointClassesIncremental(
        Multimodal.sketchClasses(Multimodal.phashFrames(batch, carry = Seq("lang"))),
        spark.read.parquet(quotDir(day - 1)))
      val mediaPre = Multimodal.frameDupShareIncrementalPrebuilt(
          batch, skHist, mergedQ)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getAs[Double]("dup_frame_share"))).toSet
      assert(mediaPre == mediaWant, s"day $day: prebuilt media probe " +
        s"diverged (${mediaPre.size} vs ${mediaWant.size} docs)")
      mergedQ.write.mode("overwrite").parquet(quotDir(day))
      graft.CacheRegistry.release()
      val quotArt = spark.read.parquet(quotDir(day)).collect()
        .map(_.toString).toSet
      val quotWant = Multimodal.sketchClasses(
          Multimodal.phashFrames(cumDocs, carry = Seq("lang")))
        .collect().map(_.toString).toSet
      assert(quotArt == quotWant, s"day $day: chained quotient diverged " +
        s"from the one-shot quotient (${quotArt.size} vs ${quotWant.size})")
      graft.CacheRegistry.release()

      // ---------------- near-dup clustering: probe the shingle-set
      // artifact + yesterday's labeling (the SIXTH modality, r13 — and the
      // one REWRITE artifact: labels are versioned per day, never appended),
      // then append the batch's sets and publish today's labels
      val labelsGot = Dedup.nearDupClustersIncremental(batch,
          spark.read.parquet(setDir),
          spark.read.parquet(labelDir(day - 1)), 0.5)
      labelsGot.write.mode("overwrite").parquet(labelDir(day))
      Dedup.shingleSetsOf(batch).write.mode("append").parquet(setDir)
      graft.CacheRegistry.release()
      // twin: today's labeling equals the full clustering recompute over
      // everything ingested so far — including boundary-straddling merges
      // and representative re-election when a new doc becomes a component's
      // minimum
      val labelArt = spark.read.parquet(labelDir(day)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val labelWant = Dedup.nearDupClusters(cumDocs, 0.5).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(labelArt == labelWant, s"day $day: labeling diverged " +
        s"(${labelArt.size} vs ${labelWant.size} clustered docs)")
      graft.CacheRegistry.release()

      // ---------------- IVF: serve through the pointer, ingest via maintain;
      // day 2 forces the rebuild arm and rotates the published version —
      // days 1 and 3 must keep serving the SAME version (merge-only)
      val serving = IvfIndex.loadLatest(spark, ivfRoot)
      val before = serving.indexDir
      val seg = embBatch(day)
      val (next, rebuilt) =
        if (day == 2)
          serving.maintain(seg, maxLoadFactor = 0.0,
            rebuildDir = Some(s"$ivfRoot/v2"))
        else serving.maintain(seg, maxLoadFactor = 1e9)
      if (day == 2) {
        assert(rebuilt, "day 2 must fire the rebuild arm (threshold 0)")
        IvfIndex.publishLatest(spark, ivfRoot, next.indexDir)
        assert(IvfIndex.latestVersionDir(spark, ivfRoot)
          .contains(s"$ivfRoot/v2"), "rotation must move the pointer")
      } else {
        assert(!rebuilt && next.indexDir == before,
          s"day $day: merge-only day must not rotate versions")
      }
      // twin: whatever version the pointer now names serves EXACTLY the
      // vectors ingested through today, and its full-probe search equals
      // brute force over them — the strongest cumulative-state equality the
      // merge contract declares (rebuild days additionally retrain, but full
      // probe makes both layouts provably exact)
      val served = IvfIndex.loadLatest(spark, ivfRoot)
      val cumEmb = embThrough(day)
      val gotIds = served.vectors.select(col("vec_id")).collect()
        .map(_.getLong(0)).sorted
      val wantIds = cumEmb.select(col("vec_id")).collect().map(_.getLong(0)).sorted
      assert(gotIds.sameElements(wantIds),
        s"day $day: served row set diverged (${gotIds.length} vs ${wantIds.length})")
      val qv = KnnExact.queryVector(emb, 0L)
      val exact = KnnExact.topK(cumEmb, qv, 10).collect()
        .map(r => (r.getLong(0), r.getAs[Double]("sim")))
      val got = served.search(qv, 10, nProbe = 8).collect()
        .map(r => (r.getLong(0), r.getAs[Double]("sim")))
      assert(got.sameElements(exact),
        s"day $day: full-probe search diverged from exact over the union")

      // ---------------- mid-drill compaction under a concurrent reader
      // (verdict r12 #4): merge-only days compact INSIDE the drill — the
      // production cadence — instead of only as a post-drill coda. While
      // the compacted version is written and published, a reader thread
      // keeps searching the serving handle. The declared contract
      // (IvfIndex scaladoc): compaction writes a NEW version and nothing
      // under the served one moves, so every read succeeds and equals brute
      // force over the ingested union — no failed, partial or corrupt read.
      if (day != 2) {
        val simAll = KnnExact.topK(cumEmb, qv, 1000000).collect()
          .map(r => (r.getLong(0), r.getAs[Double]("sim"))).toMap
        val corrupt = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val partial = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val reads = new java.util.concurrent.atomic.AtomicInteger
        val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val reader = new Thread(() => {
          while (!stop.get()) {
            try {
              val res = served.search(qv, 10, nProbe = 8).collect()
                .map(r => (r.getLong(0), r.getAs[Double]("sim")))
              reads.incrementAndGet()
              res.foreach { case (id, sim) =>
                if (!simAll.get(id).exists(s => math.abs(s - sim) < 1e-9))
                  corrupt.add(s"($id,$sim)")
              }
              if (res.map(_._1).distinct.length != res.length)
                corrupt.add(s"duplicate ids: ${res.map(_._1).mkString(",")}")
              if (!res.sameElements(exact)) partial.add(res.mkString(","))
            } catch {
              case e: Exception => errors.add(e.toString.take(300))
            }
          }
        })
        reader.start()
        val compacted = try {
          val v = served.compact(s"$ivfRoot/v$day-compacted")
          IvfIndex.publishLatest(spark, ivfRoot, v.indexDir)
          v
        } finally { stop.set(true); reader.join() }
        assert(!(compacted eq served),
          s"day $day: the daily merge must leave fragmented clusters")
        assert(errors.isEmpty,
          s"day $day: ${errors.size} reads failed during compaction: " +
            errors.toArray.take(2).mkString(" | "))
        assert(corrupt.isEmpty,
          s"day $day: concurrent reader saw corrupt rows: " +
            corrupt.toArray.take(5).mkString(", "))
        assert(partial.isEmpty,
          s"day $day: ${partial.size} of ${reads.get()} successful reads differ from exact: " +
            partial.toArray.take(2).mkString(" | "))
        assert(reads.get() > 0, "reader thread never ran")
        // and the published compacted version is exactly right
        val fresh = IvfIndex.loadLatest(spark, ivfRoot)
        assert(fresh.indexDir == compacted.indexDir,
          s"day $day: the pointer must name the compacted version")
        val freshGot = fresh.search(qv, 10, nProbe = 8).collect()
          .map(r => (r.getLong(0), r.getAs[Double]("sim")))
        assert(freshGot.sameElements(exact),
          s"day $day: post-compaction search diverged from exact")
      }
    }

    // ---- post-drill maintenance coda: day 3's mid-drill compaction already
    // collapsed the layout, so this pass doubles as the idempotence check —
    // compacting the published version must return the same handle and
    // write nothing, leaving the row set and full-probe search untouched
    val served = IvfIndex.loadLatest(spark, ivfRoot)
    val rowsBefore = served.vectors.select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(served.compact(s"$ivfRoot/coda") eq served,
      "coda compaction must be a no-op after day 3's mid-drill pass")
    assert(!new java.io.File(s"$ivfRoot/coda").exists(),
      "a no-op compaction must write no version")
    val rowsAfter = served.vectors.select(col("vec_id"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(rowsAfter == rowsBefore, "post-drill compaction moved or lost rows")
    val qv = KnnExact.queryVector(emb, 0L)
    val exact = KnnExact.topK(emb, qv, 10).collect().map(_.getLong(0))
    val got = served.search(qv, 10, nProbe = 8).collect().map(_.getLong(0))
    assert(got.sameElements(exact), "post-compaction search diverged")

    // ---- version GC closes the lifecycle: after the day-1 compaction, the
    // day-2 rebuild and the day-3 compaction the root still holds v1,
    // v1-compacted and v2 (rollback targets); keep=0 reclaims them and the
    // pointer's serving copy — day 3's compacted version — is untouched
    val reclaimed = IvfIndex.gcVersions(spark, ivfRoot, keep = 0)
    assert(reclaimed.exists(_.endsWith("/v1")),
      s"GC must reclaim the superseded v1: $reclaimed")
    assert(IvfIndex.latestVersionDir(spark, ivfRoot)
      .contains(s"$ivfRoot/v3-compacted"))
    val afterGc = IvfIndex.loadLatest(spark, ivfRoot)
      .search(qv, 10, nProbe = 8).collect().map(_.getLong(0))
    assert(afterGc.sameElements(exact), "post-GC search diverged")
  }
}
