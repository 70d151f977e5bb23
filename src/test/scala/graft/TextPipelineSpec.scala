package graft

import org.apache.spark.sql.functions._

import graft.operators.{TextAnalysis, TextAnalysisComposed}

/** PII scrubbing + repetition metrics on synthetic docs where the expected
  * values are computable by hand (the driver-gate oracle only exercises the
  * testdata corpus, which contains no PII). */
class TextPipelineSpec extends SparkSpec {

  import spark.implicits._

  test("piiScrub redacts emails, IPs, phones and counts each kind") {
    val docs = Seq(
      (1L, "contact bob@example.com or alice@test.org today"),
      (2L, "server at 10.0.0.1 and 192.168.1.255 up"),
      (3L, "call 555-123-4567 now"),
      (4L, "clean text, nothing to scrub")).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs).orderBy("doc_id").collect()
    assert(got.map(r => (r.getInt(1), r.getInt(2), r.getInt(3))).toSeq ==
      Seq((2, 0, 0), (0, 2, 0), (0, 0, 1), (0, 0, 0)))
    // scrubbed hash must equal the hash of the hand-redacted text
    val expect3 = graft.functions.PortableHash.h60(
      "call <PHONE> now".getBytes("UTF-8"))
    assert(got(2).getAs[Long]("scrub_h60") == expect3)
    // unscathed doc keeps its original length
    assert(got(3).getAs[Int]("n_scrub_chars") == "clean text, nothing to scrub".length)
  }

  test("PiiScrubSeq expression == composed regexp formulation (sequential semantics)") {
    // the single-pass-per-pattern expression replaced the composed
    // regexp_extract_all/regexp_replace chain (r10); this pins bit-identical
    // results over the real corpus + adversarial overlap docs (phone inside
    // email, ip inside email, phone-then-email adjacency, $-chars in text —
    // appendReplacement must treat the placeholder literally)
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val adversarial = Seq(
      (100001L, "reach me: 555-123-4567@corp.example.com or (555) 123-4567"),
      (100002L, "node 10.0.0.1@mail.io logs to 10.0.0.2 at 555-123-4567"),
      (100003L, "price $100 for a@b.co then $5 more 1.2.3.4"),
      (100004L, "x@y.zz 9.9.9.9 111-222-3333 x@y.zz 9.9.9.9 111-222-3333"))
      .toDF("doc_id", "text")
    val docs = corpus.unionByName(adversarial)
    import graft.operators.TextAnalysis.{EmailRegex, Ipv4Regex, PhoneRegex}
    val afterEmail = regexp_replace(col("text"), EmailRegex, "<EMAIL>")
    val afterIp = regexp_replace(afterEmail, Ipv4Regex, "<IP>")
    val composed = docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRegex), lit(0))).as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(Ipv4Regex), lit(0))).as("n_ips"),
      size(regexp_extract_all(afterIp, lit(PhoneRegex), lit(0))).as("n_phones"),
      regexp_replace(afterIp, PhoneRegex, "<PHONE>").as("scrubbed"))
    val expr = docs.select(col("doc_id"),
        graft.functions.GraftFunctions.piiScrubSeq(col("text")).as("c"))
      .select(col("doc_id"), col("c.n_emails"), col("c.n_ips"),
        col("c.n_phones"), col("c.scrubbed"))
    val a = composed.orderBy("doc_id").collect().toSeq
    val b = expr.orderBy("doc_id").collect().toSeq
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"diverged:\n $x\n $y") }
    // and the adversarial rows actually exercised matches
    val hot = expr.where(col("doc_id") >= 100001L)
      .agg(sum(col("n_emails") + col("n_ips") + col("n_phones"))).head.getLong(0)
    assert(hot >= 8, s"adversarial docs must carry PII matches: $hot")
  }

  test("corpusFilter drops each rule's violators with the right reason") {
    val long = (1 to 30).map(i => s"w$i").mkString(" ")          // 30 distinct tokens
    val stuffed = (long + " spam" * 8)                           // top ratio 8/38 > 0.16
    val lowDiv = ((1 to 13).map(i => s"w$i").mkString(" ") + " x y z") + (" w1 w2" * 6)
    val docs = Seq(
      (1L, long),                        // keeps
      (2L, "short doc"),                 // too_short
      (3L, stuffed),                     // repeated_token
      (4L, lowDiv)).toDF("doc_id", "text")
    val got = TextAnalysis.corpusFilter(docs).orderBy("doc_id")
      .select("doc_id", "keep", "reason").collect()
      .map(r => (r.getLong(0), r.getBoolean(1), Option(r.getString(2)))).toSeq
    assert(got(0) == (1L, true, None), s"doc1: ${got(0)}")
    assert(got(1) == (2L, false, Some("too_short")))
    assert(got(2) == (3L, false, Some("repeated_token")))
    assert(got(3)._2 == false && got(3)._3.nonEmpty, s"doc4 must be dropped: ${got(3)}")
  }

  test("tokenEntropy: constant doc = 0, uniform doc = ln(n_types), mixed by hand") {
    val docs = Seq(
      (1L, "a a a a"),
      (2L, "a b c d"),
      (3L, "a a b b b c")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(docs).orderBy("doc_id").collect()
    assert(got(0).getAs[Double]("entropy_nats") == 0.0)
    assert(math.abs(got(1).getAs[Double]("entropy_nats") - math.log(4)) < 1e-6)
    // n=6, counts (a:2, b:3, c:1): H = ln 6 − (2 ln 2 + 3 ln 3 + 1 ln 1)/6
    val h3 = math.log(6) - (2 * math.log(2) + 3 * math.log(3)) / 6
    assert(math.abs(got(2).getAs[Double]("entropy_nats") - h3) < 1e-6)
    assert(got(2).getAs[Long]("n_tokens") == 6L)
    assert(got(2).getAs[Long]("n_types") == 3L)
  }

  test("pmiBigrams: hand-computed PMI, rank order, and minCount filtering") {
    val docs = Seq(
      (1L, "new york new york new york"),
      (2L, "new car"),
      (3L, "york city")).toDF("doc_id", "text")
    // U: new=4 york=4 car=1 city=1, N=10; B: (new,york)=3 (york,new)=2
    // (new,car)=1 (york,city)=1, M=7; minCount=2 keeps the first two
    val got = TextAnalysis.pmiBigrams(docs, minCount = 2L, k = 10).collect()
    graft.CacheRegistry.release()
    assert(got.length == 2, s"minCount must drop singletons: ${got.toSeq}")
    def pmi(b: Long) = math.log(b.toDouble) + 2 * math.log(10.0) -
      math.log(7.0) - math.log(4.0) - math.log(4.0)
    assert(got(0).getString(0) == "new york" && got(0).getAs[Long]("n") == 3L)
    assert(math.abs(got(0).getAs[Double]("pmi") - pmi(3)) < 1e-6)
    assert(got(1).getString(0) == "york new" && got(1).getAs[Long]("n") == 2L)
    assert(math.abs(got(1).getAs[Double]("pmi") - pmi(2)) < 1e-6)
  }

  test("qualityPercentiles: exact interpolated quartiles on a hand corpus") {
    // uniq ratios: "a a" → 0.5, "a b" → 1.0, "a b a b" → 0.5, "a b c d" → 1.0
    // en has [0.5, 1.0]: p50 = 0.75 (midpoint interpolation), p10 = 0.55
    val docs = Seq(
      (1L, "a a", "en"), (2L, "a b", "en"),
      (3L, "a b a b", "de"), (4L, "a b c d", "de"), (5L, "x y z", "de")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.qualityPercentiles(docs).orderBy("lang").collect()
    assert(got.map(_.getString(0)).toSeq == Seq("de", "en"))
    val en = got(1)
    assert(en.getAs[Long]("n_docs") == 2L)
    assert(en.getAs[Double]("p50") == 0.75)
    assert(math.abs(en.getAs[Double]("p10") - 0.55) < 1e-9)
    // de has [0.5, 1.0, 1.0]: p50 = 1.0, p25 = 0.75
    val de = got(0)
    assert(de.getAs[Double]("p50") == 1.0 && de.getAs[Double]("p25") == 0.75)
  }

  test("bigramLogprob: hand-computed conditional scores with left-marginal MLE") {
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a b")).toDF("doc_id", "text")
    // bigrams: doc1 (a b)(b a)(a c), doc2 (a b); B: ab=2 ba=1 ac=1;
    // L: a→3 (ab+ac), b→1 (ba)
    val got = TextAnalysis.bigramLogprob(docs).orderBy("doc_id").collect()
    graft.CacheRegistry.release()
    assert(got.length == 2)
    val d1 = (math.log(2.0 / 3) + math.log(1.0 / 1) + math.log(1.0 / 3)) / 3
    val d2 = math.log(2.0 / 3)
    assert(got(0).getAs[Long]("n_bigrams") == 3L)
    assert(math.abs(got(0).getAs[Double]("avg_logp") - d1) < 1e-6,
      s"doc1: ${got(0)}")
    assert(math.abs(got(1).getAs[Double]("avg_logp") - d2) < 1e-6,
      s"doc2: ${got(1)}")
    // a single-token doc has no bigrams and must be absent, like the oracle
    val single = Seq((9L, "solo")).toDF("doc_id", "text")
    assert(TextAnalysis.bigramLogprob(single).count() == 0)
    graft.CacheRegistry.release()
  }

  test("bigramHashAudit: h60 is injective over the corpus bigram/token sets") {
    // the invariant bigramLogprob's hash-keyed count tables rely on (its
    // scaladoc documents the ~1e9-bigram birthday bound; this enforces the
    // zero-collision end wherever tests run, ScaleProbe enforces it at 10×)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val r = TextAnalysis.bigramHashAudit(docs).head()
    assert(r.getLong(0) > 0, s"audit must see a real corpus: $r")
    assert(r.getLong(0) == r.getLong(1), s"bigram hash collision: $r")
    assert(r.getLong(2) == r.getLong(3), s"left-token hash collision: $r")
    // full-token columns cover unigramLogprob's key set (doc-final tokens
    // and single-token docs are outside the left-pair set) — ADVICE r15
    assert(r.getLong(4) >= r.getLong(2), s"full token set ⊇ left-pair set: $r")
    assert(r.getLong(4) == r.getLong(5), s"full-token hash collision: $r")
  }

  test("near-dup clusters: transitive chains collapse to the min-id representative") {
    import graft.operators.Dedup
    // 1~2 (j=0.75) and 2~3 (j=0.6) but 1~3 only 0.4: the chain must still
    // cluster all three under rep 1; docs 10/11 form a separate pair
    val docs = Seq(
      (1L, "en", "a b c d e"),
      (2L, "en", "a b c d e f"),
      (3L, "en", "b c d e f g"),
      (10L, "en", "x y z w q"),
      (11L, "en", "x y z w q r"),
      (99L, "en", "totally unrelated text here")).toDF("doc_id", "lang", "text")
    val got = Dedup.nearDupClusters(docs, 0.5).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)),
      s"got $got")
  }

  test("incremental exact dedup drops already-seen hashes, dedups within batch") {
    import graft.operators.Dedup
    val history = Seq((1L, "old doc one"), (2L, "old doc two")).toDF("doc_id", "text")
    val seen = Dedup.exact(history).select("text_md5")
    val batch = Seq(
      (10L, "old doc one"),    // already in history -> dropped
      (11L, "brand new"),      // survives
      (12L, "brand new"),      // in-batch dup of 11 -> folded, keep min id
      (13L, "also new")).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(batch, seen)
      .orderBy("keep_doc_id").collect()
      .map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"))).toSeq
    assert(got == Seq((11L, 2L), (13L, 1L)), s"got $got")
  }

  test("repetition: top-token ratio and shingle-uniqueness flag repetitive docs") {
    val docs = Seq(
      (1L, "spam spam spam spam"),             // 4 tokens, all "spam"
      (2L, "all words here are different"),    // 5 distinct tokens
      (3L, "ab cd")).toDF("doc_id", "text")    // <3 tokens: no shingles
    val got = TextAnalysis.repetition(docs).orderBy("doc_id").collect()
    val r1 = got(0)
    assert(r1.getAs[Long]("n_tokens") == 4L)
    assert(r1.getAs[Double]("top_tok_ratio") == 1.0)
    // shingles of doc1: "spam spam spam" x2 -> 1 distinct of 2
    assert(r1.getAs[Double]("uniq_shingle_ratio") == 0.5)
    val r2 = got(1)
    assert(r2.getAs[Double]("top_tok_ratio") == 0.2)
    assert(r2.getAs[Double]("uniq_shingle_ratio") == 1.0)
    assert(got(2).isNullAt(got(2).fieldIndex("uniq_shingle_ratio")))
  }

  test("chunking: sliding windows with overlap, short tail, single-window docs") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b c"),                          // fits one window
      (3L, "x1 x2 x3 x4")                     // exactly one window
    ).toDF("doc_id", "text")
    // window 4, stride 3: doc1 -> ceil((10-4)/3)=2 -> chunks 0,1,2
    val got = TextAnalysis.chunk(docs, c = 4, s = 3)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(got.toSeq == Seq(
      (1L, 0, 4), (1L, 1, 4), (1L, 2, 4), // starts 1, 4, 7 (1-based)
      (2L, 0, 3),
      (3L, 0, 4)), s"got ${got.toSeq}")
    // consecutive chunks overlap by window - stride tokens
    val h = TextAnalysis.chunk(docs, c = 4, s = 3).collect()
    assert(h.map(_.getLong(3)).distinct.length == h.length,
      "distinct windows over distinct tokens must hash distinctly")
  }

  test("chunk == composed form (fused window kernel identity, r19)") {
    // odd window/stride + the real corpus: every (idx, count, hash) must be
    // identical to the sequence/slice/array_join/h60 chain the oracle replays
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    for ((c, s) <- Seq((4, 3), (7, 7), (64, 48))) {
      val fast = TextAnalysis.chunk(docs, c = c, s = s)
      val slow = TextAnalysisComposed.chunkComposed(docs, c = c, s = s)
      assert(fast.schema.map(f => (f.name, f.dataType)) ==
        slow.schema.map(f => (f.name, f.dataType)))
      assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty,
        s"chunk diverged at (c=$c, s=$s)")
    }
  }

  test("boilerplate: flags chunks repeated across docs, not within one doc") {
    val shared = (1 to TextAnalysis.BoilerplateTokens).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " unique1a unique1b"),
      (2L, shared + " unique2a unique2b"),     // shares chunk 0 with doc 1
      (3L, (shared + " ") + shared),           // repeats the chunk WITHIN one doc
      (4L, "totally different words here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.boilerplate(docs).collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    // exactly one flagged chunk: the shared prefix, in docs 1, 2, 3 (4 copies)
    assert(got.toSeq == Seq((3L, 4L)), s"got ${got.toSeq}")
  }

  test("bigramMerges counts adjacent pairs; single-token docs yield none") {
    val docs = Seq(
      (1L, "a b c b c"),
      (2L, "b c"),
      (3L, "x")).toDF("doc_id", "text")
    val got = TextAnalysis.bigramMerges(docs, 10).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    // doc1: "a b","b c","c b","b c"; doc2: "b c"; doc3: none
    assert(got == Seq("b c" -> 3L, "a b" -> 1L, "c b" -> 1L),
      s"got $got")
  }

  test("oov rate: tokens outside the top-k vocab are counted") {
    val docs = Seq(
      (1L, "a a a b"),   // 'a' x3 + 'b'
      (2L, "a b c")      // corpus counts: a=4, b=2, c=1
    ).toDF("doc_id", "text")
    val got = TextAnalysis.oovRate(docs, vocabK = 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // vocab (k=2) = {a, b}; only 'c' is OOV
    assert(got(1L) == ((4L, 0L, 0.0)))
    assert(got(2L) == ((3L, 1L, BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }
}
