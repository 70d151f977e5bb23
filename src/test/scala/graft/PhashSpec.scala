package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Perceptual-hash near-dup family (verdict r11 #4): aHash/dHash semantics
  * over the deterministic frame samples, and the banded Hamming pair
  * generator's pigeonhole exactness (no pair within maxHamming is ever lost
  * to banding — the [[graft.operators.Dedup.simhashPairs]] contract applied
  * to the payload sketches). */
class PhashSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf0001/documents.parquet")

  test("aHash/dHash replay a hand-computed reference on a tiny frame") {
    // stride=4, cells=2, cellw=2: one frame of "abcd" has cell slices
    // "ab" / "cd"; intensities are h32 % 256 of those strings, and the two
    // hashes follow from the definition directly
    val df = Seq((1L, "abcd")).toDF("doc_id", "text")
    val row = Multimodal.phashFrames(df, stride = 4, cells = 2).collect().head
    val i0 = graft.functions.PortableHash.h32("ab".getBytes("UTF-8")) % 256
    val i1 = graft.functions.PortableHash.h32("cd".getBytes("UTF-8")) % 256
    val total = i0 + i1
    val wantA = (if (2 * i0 > total) 1L else 0L) + (if (2 * i1 > total) 2L else 0L)
    val wantD = (if (i0 > i1) 1L else 0L) + (if (i1 > i0) 2L else 0L)
    assert(row.getAs[Long]("ahash") == wantA && row.getAs[Long]("dhash") == wantD,
      s"got (${row.getAs[Long]("ahash")}, ${row.getAs[Long]("dhash")}), " +
        s"want ($wantA, $wantD) from intensities ($i0, $i1)")
  }

  test("frame counts follow ceil(len/stride) with a 1-frame floor; hashes are deterministic") {
    val sub = docs.limit(25)
    val ph = Multimodal.phashFrames(sub)
    val byDoc = ph.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = sub.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, n) =>
      assert(n == math.max(
        math.ceil(sizes(id) / Multimodal.PhashStride.toDouble).toLong, 1L),
        s"doc $id: $n frames for ${sizes(id)} chars")
    }
    val a = ph.orderBy("doc_id", "frame_no").collect()
    val b = Multimodal.phashFrames(sub).orderBy("doc_id", "frame_no").collect()
    assert(a.sameElements(b), "phash must be deterministic")
  }

  test("identical payloads hash identically; a single-char edit stays frame-local") {
    val base = "x1 " * 60 // ~3 frames at stride 64
    val df = Seq((1L, base), (2L, base),
      (3L, base.updated(2, 'Q').toString)).toDF("doc_id", "text")
    val ph = Multimodal.phashFrames(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getAs[Long]("ahash"), r.getAs[Long]("dhash")))
      .toMap
    val frames = ph.keys.map(_._2).toSet
    // identical docs: every frame's hashes equal
    frames.foreach(f => assert(ph((1L, f)) == ph((2L, f)),
      s"frame $f diverged between identical docs"))
    // the edit lives in frame 0: later frames must be untouched
    assert(ph((1L, 0L)) != ph((3L, 0L)), "edited frame should (generically) move")
    frames.filter(_ > 0L).foreach(f => assert(ph((1L, f)) == ph((3L, f)),
      s"frame $f changed although the edit was confined to frame 0"))
  }

  test("one-pass PhashFrames expression == the compositional HOF chain") {
    // the formulation the codegen expression replaced (and the shape the
    // DuckDB oracle replays): per-cell substr/h32/%256 through HOF lambdas,
    // integer-math thresholds, power-table bit packing — value-identical
    // end to end (the SpanWindowHashes identity-pinning convention)
    import org.apache.spark.sql.Column
    import graft.functions.GraftFunctions.h32
    val stride = Multimodal.PhashStride
    val cells = Multimodal.PhashCells
    val cellw = stride / cells
    val sub = docs.limit(40).select(col("doc_id"), col("text"))
    val frames = sub.select(col("doc_id"), col("text"),
      explode(sequence(lit(0L),
        greatest(ceil(length(col("text")).cast("double") / stride)
          .cast("long") - 1, lit(0L)))).as("frame_no"))
    val intens = transform(sequence(lit(0), lit(cells - 1)), c =>
      pmod(h32(col("text").substr(
        (col("frame_no") * stride + c * cellw + 1).cast("int"), lit(cellw))),
        lit(256L)))
    val staged = frames
      .select(col("doc_id"), col("frame_no"),
        explode(array(struct(intens.as("iv")))).as("s"))
      .select(col("doc_id"), col("frame_no"), col("s.iv").as("iv"))
      .withColumn("total", aggregate(col("iv"), lit(0L), _ + _))
    val powers = typedLit((0 until cells).map(1L << _))
    def pack(bit: (Column, Column) => Column): Column =
      aggregate(
        transform(col("iv"), (v, c) =>
          when(bit(v, c), element_at(powers, c + 1)).otherwise(lit(0L))),
        lit(0L), _ + _)
    val want = staged.select(col("doc_id"), col("frame_no"),
        pack((v, _) => lit(cells.toLong) * v > col("total")).as("ahash"),
        pack((v, c) => v > element_at(col("iv"),
          (pmod(c + 1, lit(cells)) + 1).cast("int"))).as("dhash"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = Multimodal.phashFrames(sub).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"expression diverged from the HOF chain: " +
      s"${(want -- got).take(3)} missing, ${(got -- want).take(3)} extra")
    assert(got.nonEmpty)
  }

  test("expression/HOF identity holds on non-ASCII text (char-based slicing)") {
    // the corpus contract is ASCII, but the expression must still agree
    // with Column.substr semantics on multi-byte chars (substringSQL slices
    // by CHAR, so a real unicode payload cannot silently diverge between
    // the one-pass form and the compositional chain)
    import graft.functions.GraftFunctions.h32
    val stride = 8; val cells = 4; val cellw = 2
    val df = Seq((1L, "héllo wörld — ünïcodé päyload çontent"),
      (2L, "日本語のテキストです、フレームのテスト"),
      (3L, "mixed ascii and ελληνικά and עברית")).toDF("doc_id", "text")
    val got = Multimodal.phashFrames(df, stride = stride, cells = cells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val frames = df.select(col("doc_id"), col("text"),
      explode(sequence(lit(0L),
        greatest(ceil(length(col("text")).cast("double") / stride)
          .cast("long") - 1, lit(0L)))).as("frame_no"))
    val intens = transform(sequence(lit(0), lit(cells - 1)), c =>
      pmod(h32(col("text").substr(
        (col("frame_no") * stride + c * cellw + 1).cast("int"), lit(cellw))),
        lit(256L)))
    val staged = frames
      .select(col("doc_id"), col("frame_no"),
        explode(array(struct(intens.as("iv")))).as("s"))
      .select(col("doc_id"), col("frame_no"), col("s.iv").as("iv"))
      .withColumn("total", aggregate(col("iv"), lit(0L), _ + _))
    val powers = typedLit((0 until cells).map(1L << _))
    val want = staged.select(col("doc_id"), col("frame_no"),
        aggregate(transform(col("iv"), (v, c) =>
          when(lit(cells.toLong) * v > col("total"),
            element_at(powers, c + 1)).otherwise(lit(0L))), lit(0L), _ + _)
          .as("ahash"),
        aggregate(transform(col("iv"), (v, c) =>
          when(v > element_at(col("iv"), (pmod(c + 1, lit(cells)) + 1).cast("int")),
            element_at(powers, c + 1)).otherwise(lit(0L))), lit(0L), _ + _)
          .as("dhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"unicode divergence: ${(want -- got).take(3)} vs ${(got -- want).take(3)}")
  }

  test("banding is pigeonhole-exact: candidate pairs == brute force within maxHamming") {
    // brute-force twin over a doc subset: every same-lang cross-doc frame
    // pair within joint Hamming 3 of the 64-bit (aHash ‖ dHash) sketch must
    // come out of the banded join with the identical distance — banding can
    // only be a candidate FILTER, never a recall loss
    val sub = docs.limit(120).select(col("doc_id"), col("text"), col("lang"))
    val got = Multimodal.nearDupFramePairs(sub).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ->
        r.getAs[Int]("hamming")).toMap
    graft.CacheRegistry.release()
    val frames = Multimodal.phashFrames(sub)
      .join(sub.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("frame_no"), col("lang"), col("ahash"),
        col("dhash")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getAs[Long]("ahash"), r.getAs[Long]("dhash")))
    val want = (for {
      (da, fa, la, aa, dda) <- frames
      (db, fb, lb, ab, ddb) <- frames
      if la == lb && da < db &&
        java.lang.Long.bitCount(aa ^ ab) + java.lang.Long.bitCount(dda ^ ddb) <= 3
    } yield (da, db, fa, fb) ->
      (java.lang.Long.bitCount(aa ^ ab) + java.lang.Long.bitCount(dda ^ ddb)))
      .toMap
    assert(got == want,
      s"banded pairs diverged from brute force: got ${got.size}, " +
        s"want ${want.size} (missing ${(want.keySet -- got.keySet).take(3)}, " +
        s"extra ${(got.keySet -- want.keySet).take(3)})")
    assert(want.nonEmpty, "subset should contain at least one near-dup frame pair")
    graft.CacheRegistry.release()
  }

  test("incremental frame signal = full-corpus frameDupShare restricted to batch docs") {
    // the artifact-probing form must give the identical answer the full
    // recompute gives for the batch docs — no frame lost by skipping the
    // history re-sketch, none invented (the dupSpanShareIncremental
    // contract, media edition)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("dup_frame_share"))).toSet
    val histSketches = Multimodal.phashFrames(hist, carry = Seq("lang"))
    // the debug disjointness assertion (ADVICE r15) must hold on the suite's
    // mod-5 split — and, flipped, must catch an overlapping re-ingest
    System.setProperty(Multimodal.DebugAssertDisjointProp, "true")
    val got =
      try key(Multimodal.frameDupShareIncremental(batch, histSketches))
      finally System.clearProperty(Multimodal.DebugAssertDisjointProp)
    graft.CacheRegistry.release()
    System.setProperty(Multimodal.DebugAssertDisjointProp, "true")
    try {
      val ex = intercept[IllegalArgumentException](
        Multimodal.frameDupShareIncremental(docs, histSketches).collect())
      assert(ex.getMessage.contains("overlap"))
    } finally System.clearProperty(Multimodal.DebugAssertDisjointProp)
    graft.CacheRegistry.release()
    val want = key(Multimodal.frameDupShare(docs).where(col("doc_id") % 5 === 4))
    graft.CacheRegistry.release()
    assert(got == want, s"incremental diverged: ${got.size} vs ${want.size} docs")
    assert(got.nonEmpty)
    // the PRECOMPUTED-quotient path (history classes materialized per
    // version, merged disjointly with the batch quotient) must be
    // result-identical to both the derive-per-query form and the full
    // recompute — the r14 artifact the serving query now reads
    val histClasses = Multimodal.sketchClasses(histSketches)
    val gotPre = key(Multimodal.frameDupShareIncremental(batch, histSketches,
      disjointHistoryClasses = Some(histClasses)))
    graft.CacheRegistry.release()
    assert(gotPre == want,
      s"precomputed-quotient path diverged: ${gotPre.size} vs ${want.size} docs")
    // the r18 SERVING form: the merged quotient itself is the prebuilt
    // post-ingest artifact (flip merge at refresh time) — must stay
    // result-identical to the derive-per-query forms and the full recompute
    val mergedArt = Multimodal.mergeDisjointClassesIncremental(
      Multimodal.sketchClasses(Multimodal.phashFrames(batch, carry = Seq("lang"))),
      histClasses)
    val gotMerged = key(Multimodal.frameDupShareIncrementalPrebuilt(
      batch, histSketches, mergedArt))
    graft.CacheRegistry.release()
    assert(gotMerged == want,
      s"prebuilt merged-quotient path diverged: ${gotMerged.size} vs ${want.size} docs")
    // edges: empty batch -> no rows; empty history -> batch-only signal
    assert(Multimodal.frameDupShareIncremental(batch.limit(0), histSketches)
      .count() == 0, "an empty ingest batch must produce no signal rows")
    graft.CacheRegistry.release()
    val dayZero = key(Multimodal.frameDupShareIncremental(batch,
      Multimodal.phashFrames(batch.limit(0), carry = Seq("lang"))))
    graft.CacheRegistry.release()
    val batchOnly = key(Multimodal.frameDupShare(batch))
    assert(dayZero == batchOnly,
      s"day-zero ingest must equal the batch-only signal: " +
        s"${dayZero.size} vs ${batchOnly.size}")
    graft.CacheRegistry.release()
  }

  test("frameDupShare rolls the pair set up per doc, one row per doc") {
    // the serving signal must agree with the pair drill-down: a doc's
    // n_dup_frames = its distinct frames appearing in ANY qualifying pair
    // (either side), and every doc gets a row even with zero dups
    val sub = docs.limit(120).select(col("doc_id"), col("text"), col("lang"))
    val share = Multimodal.frameDupShare(sub).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getAs[Double]("dup_frame_share"))).toMap
    graft.CacheRegistry.release()
    val pairs = Multimodal.nearDupFramePairs(sub).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.CacheRegistry.release()
    val dupFrames = pairs.flatMap { case (da, db, fa, fb) =>
      Seq((da, fa), (db, fb)) }.toSet
    val nFrames = Multimodal.phashFrames(sub).groupBy("doc_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(share.keySet == nFrames.keySet, "one row per doc, all docs")
    share.foreach { case (doc, (nf, nd, s)) =>
      assert(nf == nFrames(doc), s"doc $doc frame count")
      assert(nd == dupFrames.count(_._1 == doc),
        s"doc $doc n_dup_frames: $nd vs pair-set ${dupFrames.count(_._1 == doc)}")
      assert(math.abs(s - nd.toDouble / nf) < 1e-6)
    }
    assert(share.values.exists(_._2 > 0), "some doc should have dup frames")
    graft.CacheRegistry.release()
  }

  test("incremental quotient merge treats NULL keys like the groupBy form") {
    // ADVICE r17: groupBy treats NULL lang as one group, but plain equi-joins
    // never match NULLs — a null-keyed class present in both history and
    // batch would be emitted TWICE (unmerged) by the join-split form,
    // silently diverging from mergeDisjointClasses. The joins are null-safe
    // (<=>) now; pin parity on a quotient fixture with a null key on both
    // sides, plus a non-null touched key, an untouched history key and a
    // batch-only key.
    import spark.implicits._
    val hist = Seq(
      (Option.empty[String], 7L, 8L, 2L, 10L),  // null lang, also in batch
      (Option("en"), 1L, 2L, 1L, 11L),          // touched
      (Option("de"), 3L, 4L, 5L, 12L))          // untouched
      .toDF("lang", "ahash", "dhash", "n_docs", "solo_doc")
    val batch = Seq(
      (Option.empty[String], 7L, 8L, 1L, 20L),
      (Option("en"), 1L, 2L, 3L, 21L),
      (Option("fr"), 9L, 9L, 1L, 22L))          // batch-only
      .toDF("lang", "ahash", "dhash", "n_docs", "solo_doc")
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val inc = key(Multimodal.mergeDisjointClassesIncremental(batch, hist))
    val full = key(Multimodal.mergeDisjointClasses(hist, batch))
    assert(inc == full, s"join-split merge diverged from groupBy:\n$inc\nvs\n$full")
    assert(inc.contains((None, 7L, 8L, 3L, 10L)),
      s"null-keyed class must merge to n_docs=3: $inc")
    assert(inc.size == 4, s"one row per class: $inc")
  }

  test("classVerdicts refuses a multi-doc probe class absent from the corpus (debug-gated)") {
    // the solo-owner test is only exact for probe classes inside the corpus
    // universe; a multi-doc probe class missing from the corpus would fall
    // back to its own min doc as the owner and hide its other docs' dups
    val probe = Multimodal.sketchClasses(Multimodal.phashFrames(
      docs.select(col("doc_id"), col("text"), col("lang")), carry = Seq("lang")))
    val multi = probe.where(col("n_docs") > 1).limit(1)
    assert(multi.count() == 1, "fixture should hold a multi-doc sketch class")
    val corpus = probe.join(multi, Seq("lang", "ahash", "dhash"), "left_anti")
    System.setProperty(Multimodal.DebugAssertDisjointProp, "true")
    try {
      val ex = intercept[IllegalArgumentException](Multimodal.classVerdicts(
        probe, corpus, 3, Multimodal.PhashCells))
      assert(ex.getMessage.contains("absent from the corpus"), ex.getMessage)
      // a corpus that holds every probe class passes (a distinct frame
      // instance, so the probe ≠ corpus branch runs)
      Multimodal.classVerdicts(probe, probe.select("*"), 3, Multimodal.PhashCells)
        .collect()
    } finally {
      System.clearProperty(Multimodal.DebugAssertDisjointProp)
      graft.CacheRegistry.release()
    }
    // without the property the check costs nothing: no job, no failure
    Multimodal.classVerdicts(probe, corpus, 3, Multimodal.PhashCells)
  }
}
