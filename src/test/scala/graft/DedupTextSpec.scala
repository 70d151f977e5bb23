package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._
import graft.operators.{Dedup, TextAnalysis}

/** Dedup + text-analysis invariants on controlled fixtures. */
class DedupTextSpec extends SparkSpec {
  import spark.implicits._

  private val docsFixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again", "en", "s0", 60L),
    (1L, "the quick brown fox jumps over the lazy dog again and again", "en", "s0", 60L), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat again and again", "en", "s0", 60L), // near dup of 0
    (3L, "completely different words with zero overlap whatsoever here now", "en", "s1", 64L),
    (4L, "one two", "en", "s1", 7L) // < 3 tokens: empty shingle set
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("exact dedup groups identical texts and keeps min doc_id") {
    val r = Dedup.exact(docsFixture).collect()
      .map(x => (x.getAs[Long]("keep_doc_id"), x.getAs[Long]("n_copies"))).toSet
    assert(r.contains((0L, 2L)), s"dup pair 0/1 should collapse to keeper 0: $r")
    assert(r.size == 4, s"4 distinct texts expected: $r")
  }

  test("identical texts get identical minhash signatures; near-dups collide on some band") {
    val sig = Dedup.minhashSignatures(docsFixture).collect()
      .filterNot(_.isNullAt(1)) // doc 4 has <3 tokens -> null signature
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getLong)).toMap
    assert(sig(0L) == sig(1L), "identical text, identical signature")
    assert(sig(0L) != sig(3L), "different text, different signature")
    val pairs = Dedup.lshCandidatePairs(docsFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), s"exact dups must be LSH candidates: $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated doc must not pair: $pairs")
  }

  test("minhash estimate: exact dups read 1.0, pairs match the LSH candidate set") {
    val est = Dedup.minhashEstPairs(docsFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("est_jaccard")).toMap
    assert(est.get((0L, 1L)).contains(1.0),
      s"identical texts must estimate J=1.0: $est")
    val cand = Dedup.lshCandidatePairs(docsFixture).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(est.keySet == cand,
      s"estimates must cover exactly the candidate pairs: ${est.keySet} vs $cand")
    assert(est.values.forall(v => v >= 0.0 && v <= 1.0), s"estimates in [0,1]: $est")
  }

  test("length buckets: bit-length bucketing, counts, cumulative share ends at 1.0") {
    // n_chars 60,60,60 -> bucket 6 (sum 180); 64 -> 7; 7 -> 3; total 251
    val r = TextAnalysis.lengthBuckets(docsFixture).collect()
    val by = r.map(x =>
      x.getInt(0) -> (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(by(6)._1 == 3L && by(6)._2 == 180L, s"bucket 6 wrong: $by")
    assert(by(3)._1 == 1L && by(3)._2 == 7L, s"bucket 3 wrong: $by")
    assert(by(7)._1 == 1L && by(7)._2 == 64L, s"bucket 7 wrong: $by")
    assert(r.map(_.getInt(0)).toSeq == r.map(_.getInt(0)).toSeq.sorted,
      "rows ordered by bucket")
    assert(r.last.getDouble(3) == 1.0, s"cumulative share must end at 1.0: ${r.last}")
    assert(by(3)._3 == math.rint(7.0 / 251.0 * 1e6) / 1e6,
      s"bucket 3 share must be round(7/251, 6): ${by(3)._3}")
  }

  test("tokenizer encode: positions cover every token, ids respect vocab order") {
    val enc = TextAnalysis.encodeTokens(docsFixture, vocabK = 3).collect()
    // every token of every doc gets exactly one (pos, tid) row
    val tokCounts = docsFixture.select(col("doc_id"),
        size(graft.functions.GraftFunctions.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val encCounts = enc.groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(encCounts == tokCounts.filter(_._2 > 0),
      s"one encoded row per token: $encCounts vs $tokCounts")
    // ids live in [0, K]; doc 0's first token ("the") carries the id of its
    // vocabulary rank under the (count DESC, token ASC) contract — "again"
    // ties "the" at 6 occurrences and wins the alphabetical tie-break
    assert(enc.forall(r => r.getInt(2) >= 0 && r.getInt(2) <= 3))
    val ranked = TextAnalysis.vocabulary(docsFixture, 3).collect().map(_.getString(0))
    val expectedTid = ranked.indexOf("the") + 1
    assert(expectedTid > 0, s"'the' must be in the top-3 vocab: ${ranked.toSeq}")
    val firstTokRow = enc.filter(r => r.getLong(0) == 0L && r.getInt(1) == 1).head
    assert(firstTokRow.getInt(2) == expectedTid,
      s"doc 0's leading 'the' must carry its vocab rank $expectedTid: $firstTokRow")
    // positions are 1..n contiguous per doc
    val doc0 = enc.filter(_.getLong(0) == 0L).map(_.getInt(1)).sorted
    assert(doc0.sameElements(1 to doc0.length), s"contiguous positions: ${doc0.toSeq}")
  }

  test("shingle-less docs are excluded from LSH banding (no null-bucket collisions)") {
    import spark.implicits._
    val shorts = Seq(
      (0L, "one two", "en", "s0", 7L),
      (1L, "red blue", "en", "s0", 8L),
      (2L, "up down", "en", "s0", 7L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Dedup.lshBuckets(shorts).count() == 0,
      "null signatures must not produce band buckets")
    assert(Dedup.lshCandidatePairs(shorts).count() == 0,
      "unrelated short docs must not become candidate pairs")
  }

  test("minhash of <3-token doc is null (empty shingle set)") {
    val r = Dedup.minhashSignatures(docsFixture).where(col("doc_id") === 4L).head()
    assert(r.isNullAt(1))
  }

  test("ngram jaccard: exact dup = 1.0, near-dup high, disjoint absent") {
    val pairs = Dedup.ngramJaccardPairs(docsFixture, 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs(((0L, 1L))) == 1.0)
    assert(pairs.contains((0L, 2L)) && pairs((0L, 2L)) > 0.2 && pairs((0L, 2L)) < 1.0)
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("ngramJaccardPairsAmong == ngramJaccardPairs over the filtered subset") {
    // restricting by id semi-join must equal re-shingling the filtered docs
    val ids = docsFixture.where(col("doc_id") =!= 1L).select(col("doc_id"))
    val among = Dedup.ngramJaccardPairsAmong(docsFixture, ids, 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val refiltered = Dedup.ngramJaccardPairs(
        docsFixture.where(col("doc_id") =!= 1L), 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(among == refiltered, s"$among vs $refiltered")
    assert(among.contains((0L, 2L)) && !among.keySet.exists(p => p._1 == 1L || p._2 == 1L))
    // unrestricted ids ⇒ identical to the plain form
    val all = Dedup.ngramJaccardPairsAmong(
        docsFixture, docsFixture.select(col("doc_id")), 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val plain = Dedup.ngramJaccardPairs(docsFixture, 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(all == plain)
  }

  test("ngramNovelty: unique-shingle share by hand, lang-blocked df") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c d"),   // {a b c, b c d}; "a b c" shared with doc 2
      (2L, "en", "a b c x"),   // {a b c, b c x}
      (3L, "de", "a b c d"),   // same text, different lang → fully novel
      (4L, "en", "hi")         // <3 tokens → no shingles, absent
    ).map { case (id, lg, t) => (id, t, lg, "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = Dedup.ngramNovelty(docs).orderBy("doc_id").collect()
    graft.CacheRegistry.release()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L), "doc 4 must be absent")
    val byId = got.map(r => r.getLong(0) ->
      (r.getAs[Long]("n_shingles"), r.getAs[Long]("n_unique"),
        r.getAs[Double]("novelty"))).toMap
    assert(byId(1L) == ((2L, 1L, 0.5)))
    assert(byId(2L) == ((2L, 1L, 0.5)))
    assert(byId(3L) == ((2L, 2L, 1.0)), "df must be language-blocked")
  }

  test("simhash: identical texts equal; near-dup within small hamming distance") {
    val sh = Dedup.simhashes(docsFixture).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(0L) == sh(1L))
    val hamming = java.lang.Long.bitCount(sh(0L) ^ sh(2L))
    assert(hamming <= 10, s"near-dup hamming too large: $hamming")
    assert(sh.values.forall(v => v >= 0 && v < (1L << 32)))
  }

  test("fingerprint is position-sensitive (token swap changes it)") {
    val fp = TextAnalysis.fingerprints(Seq(
      (0L, "alpha beta gamma"), (1L, "beta alpha gamma"), (2L, "alpha beta gamma"))
      .toDF("doc_id", "text")).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(2L) && fp(0L) != fp(1L))
  }

  test("quality stats are exact on a known doc") {
    val q = TextAnalysis.quality(docsFixture).where(col("doc_id") === 0L).head()
    assert(q.getAs[Int]("n_tokens") == 12)
    assert(q.getAs[Int]("n_uniq") == 10) // 'the' and 'again' repeat
    assert(math.abs(q.getAs[Double]("stop_ratio") - 3.0 / 12) < 1e-9) // the, the, and
  }

  test("LangIdExpr == composed per-language filter argmax over the corpus") {
    // the one-pass hash-lookup expression replaced the per-language HOF
    // argmax (r10); parity over the real corpus plus tie/ambiguity docs
    // ("la" counts for es AND fr — declared order must win ties; "de" for
    // de AND zh)
    import graft.functions.GraftFunctions.{langId, tokens}
    import graft.functions.GraftFunctionsComposed.langIdComposed
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val tricky = Seq(
      (200001L, "la la le les et"),   // fr beats es? la->both, le/les/et fr-only
      (200002L, "la los"),            // tie es=2? la->es,fr; los->es: es=2 fr=1
      (200003L, "de und der"),        // de=2(und,der) zh=1(de)
      (200004L, "la"),                // es=1 fr=1 tie -> es (declared first)
      (200005L, ""),                  // no tokens -> und
      (200006L, "xyzzy plugh")).toDF("doc_id", "text")
    val docs = corpus.unionByName(tricky)
    val both = docs.select(col("doc_id"),
        langId(tokens(col("text"))).as("fast"),
        langIdComposed(tokens(col("text"))).as("slow"))
      .collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"doc ${r.getLong(0)}: expr=${r.getString(1)} composed=${r.getString(2)}")
    }
    // and the tie semantics are what the scaladoc promises
    val byId = both.map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(byId(200004L) == "es", "declared order must break the es/fr tie")
    assert(byId(200005L) == "und" && byId(200006L) == "und")
  }

  test("langId picks en on stopword-heavy text, und on markerless text") {
    val r = TextAnalysis.languageId(docsFixture).collect()
      .map(x => x.getLong(0) -> x.getString(2)).toMap
    assert(r(0L) == "en")
    assert(r(3L) == "und")
  }

  test("embedding near-dup pairs are label-blocked and threshold-filtered") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val pairs = Dedup.embeddingNearDupPairsFixedBlock(emb, 0.35)
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val rows = pairs.collect()
    assert(rows.nonEmpty, "threshold 0.35 should yield pairs at sf0.001")
    rows.foreach { r =>
      assert(labels(r.getLong(0)) == labels(r.getLong(1)), "pair crosses label block")
      assert(r.getDouble(2) >= 0.35)
      assert(r.getLong(0) < r.getLong(1), "pair not canonicalized a<b")
    }
    // no cartesian product in the plan
    val plan = pairs.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "blocked self-join must not be cartesian")
  }

  test("embeddingNearDupPairsBy blocks on an arbitrary key (IVF cluster shape)") {
    import spark.implicits._
    // two 'clusters'; identical vectors within a cluster, orthogonal across
    val df = Seq(
      (1L, 10, Array(1f, 0f)), (2L, 10, Array(1f, 0f)),
      (3L, 20, Array(0f, 1f)), (4L, 20, Array(0f, 1f)),
      (5L, 20, Array(1f, 0f)) // same direction as cluster-10 rows, different block
    ).toDF("vec_id", "cluster", "embedding")
    val rows = Dedup.embeddingNearDupPairsBy(df, "cluster", 0.9)
      .orderBy("vec_a", "vec_b").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 4L)),
      "pairs must stay inside the blocking key; 5 never meets 1/2 across blocks")
  }

  private val bloomHist = Seq(
    (1L, "old doc one"), (2L, "old doc two"), (3L, "old doc three")
  ).toDF("doc_id", "text")
  private val bloomBatch = Seq(
    (10L, "old doc one"),   // already in history -> dropped
    (11L, "brand new"),     // survives
    (12L, "brand new"),     // in-batch dup of 11 -> folded, keep min id
    (13L, "also new")
  ).toDF("doc_id", "text")

  private def incResult(df: org.apache.spark.sql.DataFrame) =
    df.orderBy("keep_doc_id").collect()
      .map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"))).toSeq

  test("bloom-prefiltered incremental dedup matches the plain anti-join") {
    val seen = Dedup.exact(bloomHist).select("text_md5")
    val got = incResult(Dedup.incrementalExactBloom(bloomBatch, seen))
    assert(got == incResult(Dedup.incrementalExact(bloomBatch, seen)))
    assert(got == Seq((11L, 2L), (13L, 1L)), s"got $got")
    graft.CacheRegistry.release()
  }

  test("dupSpanShare: duplicated windows need >=2 distinct docs; counts by hand") {
    import spark.implicits._
    // window = 4 tokens for hand-checkable spans
    val a = "p q r s t u"        // windows: pqrs qrst rstu (3)
    val b = "x y p q r s z"      // windows: xypq ypqr pqrs qrst(no: q r s z) ...
    val c = "k k k k k"          // in-doc repeated window, unique to c
    val docs = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    val got = Dedup.dupSpanShare(docs, window = 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // doc1 windows: [p q r s][q r s t][r s t u] — shared with doc2: "p q r s"
    // doc2 windows: [x y p q][y p q r][p q r s][q r s z] — shared: "p q r s"
    // doc3 windows: [k k k k]×2 — repeated IN-doc only → not duplicated
    assert(got == Seq((1L, 3L, 1L), (2L, 4L, 1L), (3L, 2L, 0L)), s"got $got")
    graft.CacheRegistry.release()
  }

  test("dupSpanSharePrebuilt == dupSpanShare on every output path") {
    import spark.implicits._
    // the r18 serving form: duplicated/affected discovery from the span-lake
    // artifacts, closed-form denominator for unaffected docs. Paths: carrier
    // with a shared window, multi-window carrier, clean doc, sub-window doc
    // (no row), in-doc-only repeats (unaffected), an ALL-dup doc
    val docs = Seq(
      (1L, "p q r s t u"),
      (2L, "x y p q r s z"),
      (3L, "c1 c2 c3 c4 c5"),
      (4L, "s1 s2"),
      (5L, "k k k k k"),
      (6L, "d1 d2 d3 d4"), (7L, "d1 d2 d3 d4")).toDF("doc_id", "text")
    val w = 4
    val spanSet = Dedup.spanWindowSet(docs, w)
    val dupH = spanSet.groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select(col("wh"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getAs[Double]("dup_share"))).toSet
    val want = key(Dedup.dupSpanShare(docs, w))
    graft.CacheRegistry.release()
    val got = key(Dedup.dupSpanSharePrebuilt(docs, spanSet, dupH, w))
    graft.CacheRegistry.release()
    assert(got == want, s"prebuilt diverged:\n$got\nvs\n$want")
    assert(!got.exists(_._1 == 4L), "sub-window docs emit no row (the contract)")
    assert(got.exists(r => r._1 == 6L && r._4 == 1.0), "all-dup doc shares 1.0")
  }

  test("scrubDupSpans removes covered tokens from carriers, passes clean docs through") {
    import spark.implicits._
    val a = "H1 H2 H3 H4 a1 a2 a3"   // shares window [H1..H4] with b
    val b = "b0 H1 H2 H3 H4 b1"      // same boilerplate mid-doc
    val c = "c1 c2 c3 c4 c5"         // clean — must NOT be rewritten
    val short = "s1 s2"              // < window tokens — pass-through
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, short)).toDF("doc_id", "text")
    val got = Dedup.scrubDupSpans(docs, window = 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // doc1: covered = positions 1-4 → kept "a1 a2 a3"
    // doc2: dup windows = [H1 H2 H3 H4] at i=2 → covered 2-5 → "b0 b1"
    //   (windows [b0 H1 H2 H3] and [H3 H4 b1]... wait: window=4 over 6 toks
    //    gives i=1..3: [b0 H1 H2 H3], [H1 H2 H3 H4], [H2 H3 H4 b1];
    //    only the middle one is shared with doc1)
    // doc3/doc4: untouched — original text hash
    def h(s: String) = graft.functions.PortableHash.h60(s.getBytes("UTF-8"))
    assert(got(0) == (1L, 7, 4L, h("a1 a2 a3"), "a1 a2 a3".length), s"doc1: ${got(0)}")
    assert(got(1) == (2L, 6, 4L, h("b0 b1"), "b0 b1".length), s"doc2: ${got(1)}")
    assert(got(2) == (3L, 5, 0L, h(c), c.length), s"doc3: ${got(2)}")
    assert(got(3) == (4L, 2, 0L, h(short), short.length), s"doc4: ${got(3)}")
    graft.CacheRegistry.release()
  }

  test("scrubDupSpansPrebuilt == scrubDupSpans on every output path") {
    import spark.implicits._
    // the serving form (verdict r17 #2) discovers duplication from the
    // span-lake artifacts instead of re-tokenizing the corpus; its output
    // must be row-identical across all the paths the plain form has:
    // rewritten carriers, clean pass-throughs, sub-window shorties, a
    // fully-covered doc, and in-doc-only repeats (NOT duplicated)
    val bp = "H1 H2 H3 H4"
    val docs = Seq(
      (1L, s"$bp a1 a2 a3"),       // carrier, boilerplate head
      (2L, s"b0 $bp b1"),          // carrier, boilerplate mid
      (3L, "c1 c2 c3 c4 c5"),      // clean
      (4L, "s1 s2"),               // < window tokens
      (5L, "x1 x2 x3 x4"),         // exact dup pair with 6 → fully covered
      (6L, "x1 x2 x3 x4"),
      (7L, "k k k k k k k k")      // in-doc repeats only → untouched
    ).toDF("doc_id", "text")
    val w = 4
    val spanSet = Dedup.spanWindowSet(docs, w)
    val dupH = spanSet.groupBy(col("wh")).agg(count(lit(1)).as("nd"))
      .where(col("nd") > 1).select(col("wh"))
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getInt(4))).toSet
    val want = key(Dedup.scrubDupSpans(docs, w))
    graft.CacheRegistry.release()
    val got = key(Dedup.scrubDupSpansPrebuilt(docs, spanSet, dupH, w))
    graft.CacheRegistry.release()
    assert(got == want, s"prebuilt diverged:\n$got\nvs\n$want")
    assert(got.exists(_._3 > 0) && got.exists(_._3 == 0),
      "fixture must exercise both the rewrite and pass-through paths")
  }

  test("scrubDupSpans: a fully-covered doc scrubs to the empty string") {
    import spark.implicits._
    val t = "x1 x2 x3 x4"
    val docs = Seq((1L, t), (2L, t)).toDF("doc_id", "text")  // exact 4-token dups
    val got = Dedup.scrubDupSpans(docs, window = 4).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getInt(4)))
    def h(s: String) = graft.functions.PortableHash.h60(s.getBytes("UTF-8"))
    assert(got.toSeq == Seq((1L, 4L, 0), (2L, 4L, 0)), s"got ${got.toSeq}")
    val hashes = Dedup.scrubDupSpans(docs, window = 4)
      .select(col("scrub_h60")).collect().map(_.getLong(0)).toSet
    assert(hashes == Set(h("")), "both docs must scrub to the empty string")
    graft.CacheRegistry.release()
  }

  test("ScrubbedLake export reproduces the scrub operator, lang-partitioned") {
    import spark.implicits._
    // real corpus + two planted boilerplate carriers, so BOTH output paths
    // (rewrite and pass-through) are deterministically exercised at the lake
    val raw = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val maxId = raw.agg(max(col("doc_id"))).head().getLong(0)
    val bp = (1 to 25).map(i => s"bp$i").mkString(" ") // > SpanWindow tokens
    val docs = raw.unionByName(Seq(
      (maxId + 1, s"$bp tailA1 tailA2 tailA3", "en"),
      (maxId + 2, s"headB1 headB2 $bp", "en")).toDF("doc_id", "text", "lang"))
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), "scrub-lake").toString
    graft.sources.ScrubbedLake.export(docs, dir)

    // partition layout: exactly one lang= directory per language present
    val langDirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.startsWith("lang=")).toSet
    val wantLangs = docs.select("lang").distinct()
      .collect().map("lang=" + _.getString(0)).toSet
    assert(langDirs == wantLangs, s"partition dirs $langDirs vs $wantLangs")

    // layout invariance: the lake's rows ARE the operator's rows + lang
    val lake = spark.read.parquet(dir)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("lang").cast("string"), col("n_tokens"),
          col("n_removed"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3),
          r.getString(4))).toSet
    val want = key(Dedup.scrubDupSpansText(docs)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")))
    assert(key(lake) == want, "lake rows must equal scrub operator rows")

    // both paths present: the planted pair was rewritten (boilerplate
    // dropped), untouched docs carry their ORIGINAL text byte-for-byte
    val planted = lake.where(col("doc_id") > maxId)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    assert(planted(maxId + 1) == "tailA1 tailA2 tailA3" &&
      planted(maxId + 2) == "headB1 headB2", s"planted scrub: $planted")
    val untouched = lake.where(col("n_removed") === 0)
      .join(docs.select(col("doc_id"), col("text").as("orig")), Seq("doc_id"))
    assert(untouched.where(col("text") =!= col("orig")).count() == 0,
      "untouched docs must round-trip byte-for-byte")
    assert(untouched.count() > 0)
    graft.CacheRegistry.release()
  }

  test("incremental span signal = full-corpus dupSpanShare restricted to batch docs") {
    // the artifact-probing form must give the identical answer the full
    // recompute gives for the batch docs — no window lost by skipping the
    // history re-tokenize, none invented
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val got = key(Dedup.dupSpanShareIncremental(batch, Dedup.spanWindowSet(hist)))
    val want = key(Dedup.dupSpanShare(docs).where(col("doc_id") % 5 === 4))
    assert(got == want, s"incremental diverged: ${got.size} vs ${want.size} docs")
    assert(got.nonEmpty)
    // and the artifact really is per-doc distinct (its whole contract)
    val art = Dedup.spanWindowSet(hist)
    assert(art.count() == art.distinct().count(),
      "spanWindowSet must emit distinct (doc_id, wh) rows")
    graft.CacheRegistry.release()
  }

  test("incremental LSH candidates = full-corpus banding restricted to new-side pairs") {
    // the append-only ingest contract: the batch's candidates against
    // history ∪ batch must be EXACTLY the full recompute's pairs that touch
    // the batch — no pair lost by skipping history re-shingling, none
    // invented, and no history×history pair recomputed
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val got = Dedup.lshCandidatePairsIncremental(batch, Dedup.lshBuckets(hist))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val wantTouchingBatch = full.filter { case (a, b) => a % 5 == 4 || b % 5 == 4 }
    assert(got == wantTouchingBatch,
      s"incremental diverged: ${got.size} vs ${wantTouchingBatch.size} " +
        s"(missing ${(wantTouchingBatch -- got).take(3)}, " +
        s"extra ${(got -- wantTouchingBatch).take(3)})")
    assert(got.forall { case (a, b) => a % 5 == 4 || b % 5 == 4 },
      "every emitted pair must touch the new batch")
    graft.CacheRegistry.release()
  }

  test("bloom-prefiltered incremental banding matches the plain probe at any sketch size") {
    // the incrementalExactBloom structural-parity contract on the banding
    // family: no false negatives, false positives die in the exact
    // (band, bucket) equi-join — identical pairs at a generous sketch AND
    // at a saturated 64-bit one; an empty batch yields no pairs (null
    // sketch path)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val histBands = Dedup.lshBuckets(hist)
    val plain = pairs(Dedup.lshCandidatePairsIncremental(batch, histBands))
    graft.CacheRegistry.release()
    val bloom = pairs(Dedup.lshCandidatePairsIncrementalBloom(batch, histBands))
    graft.CacheRegistry.release()
    assert(bloom == plain, s"bloom diverged: ${bloom.size} vs ${plain.size}")
    val saturated = pairs(Dedup.lshCandidatePairsIncrementalBloom(
      batch, histBands, expectedItems = 4, numBits = 64))
    graft.CacheRegistry.release()
    assert(saturated == plain, "saturated sketch must stay exact")
    assert(Dedup.lshCandidatePairsIncrementalBloom(batch.limit(0), histBands)
      .count() == 0, "empty batch must produce no candidates")
    graft.CacheRegistry.release()
  }

  test("incremental near-dup clustering = full recompute over history ∪ batch") {
    // the sixth incremental modality (r13): batch shingles only itself,
    // probes the history posting/size artifacts, and merges into
    // yesterday's labeling via star edges — the composed result must be
    // BIT-identical to rerunning clustering over everything, including
    // representative election (component minima), merged components that
    // straddle the history/batch boundary, and batch-only new components
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"))
    val hist = docs.where(col("doc_id") % 5 =!= 4)
    val batch = docs.where(col("doc_id") % 5 === 4)
    val histLabels = Dedup.nearDupClusters(hist, 0.5)
    val histSets = Dedup.shingleSetsOf(hist)
    graft.CacheRegistry.release()
    def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = labels(Dedup.nearDupClustersIncremental(
      batch, histSets, histLabels, 0.5))
    graft.CacheRegistry.release()
    val want = labels(Dedup.nearDupClusters(docs, 0.5))
    graft.CacheRegistry.release()
    assert(got == want, s"incremental clustering diverged: ${got.size} vs " +
      s"${want.size} docs (sample diff: ${(want.toSet -- got.toSet).take(3)}" +
      s" / ${(got.toSet -- want.toSet).take(3)})")
    // the merge must genuinely exercise all three edge sources: history-only
    // components survive, and at least one clustered batch doc exists
    assert(got.keySet.exists(_ % 5 != 4), "no history doc stayed clustered")
    assert(got.keySet.exists(_ % 5 == 4), "no batch doc joined a cluster")
  }

  test("incremental clustering re-elects the rep when a batch doc becomes the min") {
    // the corpus-level equivalence test can't guarantee this case arises
    // (measured: zero batch-doc reps at sf0.001), so pin it by hand — the
    // quotient merge must let a NEW doc with the smallest id take over as
    // a merged component's representative, while an untouched component
    // keeps yesterday's labels verbatim
    import spark.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    val hist = Seq((10L, t1, "en"), (11L, t1, "en"),
      (20L, t2, "en"), (21L, t2, "en")).toDF("doc_id", "text", "lang")
    val batch = Seq((4L, t1, "en")).toDF("doc_id", "text", "lang")
    val labels = Dedup.nearDupClusters(hist, 0.5)
    assert(labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val got = Dedup.nearDupClustersIncremental(batch,
        Dedup.shingleSetsOf(hist), labels, 0.5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 10L -> 4L, 11L -> 4L, 20L -> 20L, 21L -> 20L),
      s"re-election/untouched split diverged: $got")
    graft.CacheRegistry.release()
  }

  test("spanHashAudit: h60 is injective over the corpus shingle/span-window sets") {
    // the "hash classes == string classes" contract every hash-native
    // shingle/span join rides on (shingledDocs, spanWindowSet), measured on
    // the real corpus instead of declared (verdict r11 #5; ScaleProbe runs
    // the same audit at 10×). Both served widths: 3-shingles and the
    // 20-token span windows.
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val rows = Dedup.spanHashAudit(docs).collect()
      .map(r => r.getAs[Int]("window") -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows.keySet == Set(3, Dedup.SpanWindow), s"audit widths: ${rows.keySet}")
    rows.foreach { case (w, (nStrings, nH60)) =>
      assert(nStrings > 0, s"width $w: audit must see a real corpus")
      assert(nStrings == nH60,
        s"width $w: 60-bit hash collision ($nStrings strings vs $nH60 hashes)")
    }
    graft.CacheRegistry.release()
  }

  test("incremental span edges: empty batch -> no rows; empty history -> batch-only signal") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val none = docs.limit(0)
    assert(Dedup.dupSpanShareIncremental(none, Dedup.spanWindowSet(docs)).count() == 0,
      "an empty ingest batch must produce no signal rows")
    graft.CacheRegistry.release()
    // day zero: no history yet — the incremental path degenerates to the
    // full signal over the batch alone (dup decisions from batch×batch)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    val dayZero = key(Dedup.dupSpanShareIncremental(docs, Dedup.spanWindowSet(none)))
    graft.CacheRegistry.release()
    val full = key(Dedup.dupSpanShare(docs))
    assert(dayZero == full, s"day-zero ingest must equal the full signal: " +
      s"${dayZero.size} vs ${full.size}")
    graft.CacheRegistry.release()
  }

  test("incremental LSH edges: empty batch -> no pairs; empty history -> new×new only") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val none = docs.limit(0)
    assert(Dedup.lshCandidatePairsIncremental(none, Dedup.lshBuckets(docs)).count() == 0,
      "an empty ingest batch must produce no candidates")
    // day zero: no history yet — the incremental path degenerates to the
    // full banding over the batch alone
    val dayZero = Dedup.lshCandidatePairsIncremental(docs, Dedup.lshBuckets(none))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.lshCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dayZero == full, s"day-zero ingest must equal the full banding: " +
      s"${dayZero.size} vs ${full.size}")
    graft.CacheRegistry.release()
  }

  test("bloom parity is structural: a saturated 64-bit sketch stays exact") {
    // numBits=64 with 4 items -> sketch is near-all-ones, so nearly every
    // probe is a false positive; the exact anti-join must absorb them all
    val seen = Dedup.exact(bloomHist).select("text_md5")
    val got = incResult(
      Dedup.incrementalExactBloom(bloomBatch, seen, expectedItems = 4, numBits = 64))
    assert(got == Seq((11L, 2L), (13L, 1L)), s"got $got")
    graft.CacheRegistry.release()
  }

  test("bloom incremental dedup of an empty batch is empty (null-sketch path)") {
    val seen = Dedup.exact(bloomHist).select("text_md5")
    val got = Dedup.incrementalExactBloom(bloomBatch.limit(0), seen).collect()
    assert(got.isEmpty, s"empty batch must produce no rows: ${got.toSeq}")
    graft.CacheRegistry.release()
  }

  test("bloom probe is planted in the history side's scan stage") {
    // parquet-backed (the LocalRelation fixture would let ConvertToLocalRelation
    // evaluate the probe eagerly and erase the Filter node from the plan)
    val plan = SparkEntry.queries("dedup_bloom")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"history scan must carry the bloom probe predicate:\n${plan.take(800)}")
    graft.CacheRegistry.release()
    // same placement contract for the banding family's bloom row
    val lshPlan = SparkEntry.queries("lsh_candidates_inc_bloom")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(lshPlan.contains("might_contain"),
      s"band-artifact scan must carry the bloom probe:\n${lshPlan.take(800)}")
    graft.CacheRegistry.release()
  }
}
