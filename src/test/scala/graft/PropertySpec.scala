package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, GraftFunctionsComposed}
import graft.operators.SqQuant

/** Property-based invariants of the scalar math, checked over ScalaCheck-
  * generated inputs rather than fixtures: cosine identities, shingle
  * semantics vs a naive reference implementation, quantization bounds. Runs
  * the expressions through real Spark plans (local DataFrames), so codegen
  * paths — not just the Scala mirrors — are what is being tested. Sampling is
  * seeded, so failures reproduce. (Raw ScalaCheck Gen + a fixed-seed driver;
  * the scalatest bridge artifact isn't on the offline classpath.) */
class PropertySpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic mini-forAll: draw `n` samples from `gen` at seed 42. */
  private def forAll[A](gen: Gen[A], n: Int = 25)(f: A => Unit): Unit = {
    val params = Gen.Parameters.default
    var seed = Seed(42L)
    var drawn = 0
    var tries = 0
    while (drawn < n && tries < n * 50) {
      gen.apply(params, seed).foreach { a => f(a); drawn += 1 }
      seed = seed.next
      tries += 1
    }
    assert(drawn == n, s"generator too restrictive: $drawn/$n samples in $tries tries")
  }

  /** Two-generator overload. */
  private def forAll[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(f.tupled)

  private val vecGen: Gen[List[Float]] =
    Gen.chooseNum(2, 16).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-100f, 100f).suchThat(f => !f.isNaN)))

  test("property: cosine(v, v) ≈ 1 for non-zero vectors; cosine(v, -v) ≈ -1") {
    forAll(vecGen.suchThat(_.exists(x => math.abs(x) > 1e-3))) { v =>
      val df = Seq((v, v.map(x => -x))).toDF("a", "b")
        .select(
          GraftFunctions.cosineSim(col("a"), col("a")).as("same"),
          GraftFunctions.cosineSim(col("a"), col("b")).as("opp"))
      val r = df.head()
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-5, s"cos(v,v)=${r.getDouble(0)}")
      assert(math.abs(r.getDouble(1) + 1.0) < 1e-5, s"cos(v,-v)=${r.getDouble(1)}")
    }
  }

  test("property: cosine is scale-invariant for positive scaling") {
    forAll(vecGen.suchThat(_.exists(x => math.abs(x) > 1e-3)),
        Gen.chooseNum(0.1f, 50f)) { (v, s) =>
      val w = v.map(x => (x / 7f) + 1f) // a second, non-degenerate vector
      val df = Seq((v, w, v.map(_ * s))).toDF("a", "b", "as")
        .select(
          GraftFunctions.cosineSim(col("a"), col("b")).as("c1"),
          GraftFunctions.cosineSim(col("as"), col("b")).as("c2"))
      val r = df.head()
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-4,
        s"scaling changed cosine: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  private val wordsGen: Gen[List[String]] =
    Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "cc", "dd", "e")))

  test("property: shingles3 == naive sliding-window distinct 3-grams") {
    forAll(wordsGen) { words =>
      val naive = words.sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toList.distinct
      val got = Seq(Tuple1(words)).toDF("w")
        .select(GraftFunctions.shingles3(col("w")).as("sh"))
        .head().getAs[scala.collection.Seq[String]]("sh").toList
      assert(got == naive, s"words=$words got=$got want=$naive")
    }
  }

  test("property: shingles3Raw preserves multiplicity and order") {
    forAll(wordsGen) { words =>
      val naive = words.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toList
      val got = Seq(Tuple1(words)).toDF("w")
        .select(GraftFunctions.shingles3Raw(col("w")).as("sh"))
        .head().getAs[scala.collection.Seq[String]]("sh").toList
      assert(got == naive, s"words=$words got=$got want=$naive")
    }
  }

  test("property: quantization round-trip error ≤ half step, codes in [0,255]") {
    val quadGen = Gen.chooseNum(2, 16).flatMap(n =>
      Gen.listOfN(4, Gen.listOfN(n, Gen.chooseNum(-100f, 100f))))
    forAll(quadGen) { vs =>
      val dim = vs.head.length
      val mns = Array.tabulate(dim)(i => vs.map(_(i)).min.toDouble)
      val mxs = Array.tabulate(dim)(i => vs.map(_(i)).max.toDouble)
      val df = vs.map(Tuple1(_)).toDF("embedding")
        .select(col("embedding"),
          SqQuant.quantizeCol(col("embedding"), mns, mxs).as("q"))
        .select(col("embedding"), col("q"),
          SqQuant.dequantizeCol(col("q"), mns, mxs).as("dq"))
      df.collect().foreach { r =>
        val orig = r.getAs[scala.collection.Seq[Float]]("embedding")
        val q = r.getAs[scala.collection.Seq[Int]]("q")
        val dq = r.getAs[scala.collection.Seq[Double]]("dq")
        q.foreach(c => assert(c >= 0 && c <= 255))
        orig.indices.foreach { i =>
          val step = (mxs(i) - mns(i)) / 255.0
          assert(math.abs(orig(i) - dq(i)) <= step / 2 + 1e-9,
            s"dim $i: ${orig(i)} vs ${dq(i)} step=$step")
        }
      }
    }
  }

  test("property: PiiScrubSeq == composed regexp chain on PII-dense random texts") {
    // generated texts mix PII-shaped fragments with noise (including regex
    // metacharacters and $ — appendReplacement must stay literal); the
    // single-expression scrub must be bit-identical to the composed
    // sequential formulation on every draw
    import graft.operators.TextAnalysis.{EmailRegex, Ipv4Regex, PhoneRegex}
    val frag: Gen[String] = Gen.oneOf(
      Gen.oneOf("a@b.co", "x.y@mail.example.org", "1@2.aa"),
      Gen.oneOf("1.2.3.4", "10.0.0.255", "999.999.999.999"),
      Gen.oneOf("555-123-4567", "111.222.3333", "(555) 123-4567"),
      Gen.oneOf("plain", "words", "$5.00", "a+b=c", "3.14", "x@", "@y", "1.2.3"),
      Gen.alphaNumStr.map(_.take(8)))
    val textGen: Gen[String] =
      Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, frag)).map(_.mkString(" "))
    forAll(textGen, 40) { t =>
      val df = Seq((1L, t)).toDF("doc_id", "text")
      val afterEmail = regexp_replace(col("text"), EmailRegex, "<EMAIL>")
      val afterIp = regexp_replace(afterEmail, Ipv4Regex, "<IP>")
      val want = df.select(
        size(regexp_extract_all(col("text"), lit(EmailRegex), lit(0))),
        size(regexp_extract_all(afterEmail, lit(Ipv4Regex), lit(0))),
        size(regexp_extract_all(afterIp, lit(PhoneRegex), lit(0))),
        regexp_replace(afterIp, PhoneRegex, "<PHONE>")).head
      val got = df.select(GraftFunctions.piiScrubSeq(col("text")).as("c"))
        .select(col("c.n_emails"), col("c.n_ips"), col("c.n_phones"),
          col("c.scrubbed")).head
      assert(got == want, s"text <$t>: got $got want $want")
    }
  }

  test("property: LangIdExpr == composed per-language argmax on random marker mixes") {
    val marker: Gen[String] = Gen.oneOf(
      GraftFunctions.langMarkers.flatMap(_._2) ++ Seq("noise", "qqq", "zzz", ""))
    val wordsGen: Gen[List[String]] =
      Gen.chooseNum(0, 20).flatMap(n => Gen.listOfN(n, marker))
    forAll(wordsGen, 40) { ws =>
      val df = Seq(Tuple1(ws)).toDF("w")
      val got = df.select(GraftFunctions.langId(col("w"))).head.getString(0)
      val want = df.select(GraftFunctionsComposed.langIdComposed(col("w"))).head.getString(0)
      assert(got == want, s"words $ws: expr=$got composed=$want")
    }
  }

  test("LangIdExpr returns 'und' on a NULL token array, like the composed form") {
    // ADVICE r10: the expression used to null-propagate where the composed
    // when-chain fell through to 'und'; both must now agree on null input
    val df = Seq(Tuple1(Option.empty[Seq[String]]), Tuple1(Some(Seq("the", "a"))))
      .toDF("w")
    val rows = df.select(
        GraftFunctions.langId(col("w")).as("fast"),
        GraftFunctionsComposed.langIdComposed(col("w")).as("slow"))
      .collect()
    assert(rows(0).getString(0) == "und", "expr must map null array to und")
    assert(rows(0).getString(1) == "und", "composed must map null array to und")
    assert(rows(1).getString(0) == "en" && rows(1).getString(1) == "en")
    assert(!df.select(GraftFunctions.langId(col("w"))).schema.head.nullable,
      "langId is declared non-nullable")
  }

  test("property: LangIdExpr == composed argmax at a generated 100-language table") {
    // the cost-model claim (tokens × 1 lookup vs tokens × langs × markers)
    // is only honest if the injected-table path is exercised at production
    // table size: 100 languages × 4 markers, with deliberate cross-language
    // marker sharing (every 7th language re-claims a neighbor's marker,
    // mirroring the real de/zh 'de' and es/fr 'la' collisions)
    val big: Seq[(String, Seq[String])] = graft.ScaleProbe.BigMarkers
    val marker: Gen[String] = Gen.oneOf(
      big.flatMap(_._2) ++ Seq("noise", "qqq", ""))
    val wordsGen: Gen[List[String]] =
      Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, marker))
    // all samples through ONE plan: the composed form at 100 languages is a
    // ~500-node expression tree, and planning it per-sample (one DataFrame
    // per forAll iteration) costs minutes of analyzer/codegen time for zero
    // extra coverage — the property is about VALUES, so batch the samples
    val samples: Seq[List[String]] =
      Seq.tabulate(60)(i => wordsGen(Gen.Parameters.default,
        org.scalacheck.rng.Seed(0x1A6100L + i)).get)
    val rows = samples.map(Tuple1(_)).toDF("w")
      .select(col("w"),
        GraftFunctions.langId(col("w"), big).as("fast"),
        GraftFunctionsComposed.langIdComposed(col("w"), big).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"words ${r.getSeq[String](0)}: expr=${r.getString(1)} composed=${r.getString(2)}")
    }
    // the batch must exercise real marker hits, not 60 'und' rows
    assert(rows.count(_.getString(1) != "und") > 10,
      "sample batch degenerated to misses only")
  }

  test("property: SpanWindowHashes == composed slice/concat_ws/h60 chain") {
    // the one-pass window builder must be VALUE-identical to the
    // compositional form it replaced (the span-family oracles replay that
    // form in DuckDB — md5 of the space-joined window); includes the n < w
    // empty-array edge and tokens with empty strings
    val tok: Gen[String] = Gen.oneOf("a", "bb", "ccc", "", "x9", "zz zz")
    val toksGen: Gen[List[String]] =
      Gen.chooseNum(0, 30).flatMap(n => Gen.listOfN(n, tok))
    val samples = Seq.tabulate(80)(i => toksGen(Gen.Parameters.default,
      org.scalacheck.rng.Seed(0x59A6L + i)).get)
    for (w <- Seq(2, 4, 20)) {
      val df = samples.map(Tuple1(_)).toDF("t")
      // the composed side needs an explicit n >= w guard: sequence(1, 0)
      // would generate a DESCENDING [1, 0] and slice(_, 0, _) errors — the
      // operators pre-filter on size, the expression returns empty
      val rows = df.select(col("t"),
          GraftFunctions.spanWindowHashes(col("t"), w).as("fast"),
          when(size(col("t")) >= w,
            transform(
              sequence(lit(1), size(col("t")) - lit(w - 1)),
              i => GraftFunctions.h60(concat_ws(" ", slice(col("t"), i, lit(w))))))
            .otherwise(array().cast("array<long>")).as("slow"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == r.getSeq[Long](2),
          s"w=$w toks=${r.getSeq[String](0)}")
      }
    }
    // null ELEMENTS keep concat_ws's skip semantics (no bytes, no separator)
    // — split() never yields them but the declared input type admits them
    val withNulls = Seq(Tuple1(Seq("a", null, "b", "c"))).toDF("t")
      .select(
        GraftFunctions.spanWindowHashes(col("t"), 3).as("fast"),
        transform(sequence(lit(1), lit(2)),
          i => GraftFunctions.h60(concat_ws(" ", slice(col("t"), i, lit(3)))))
          .as("slow"))
      .head()
    assert(withNulls.getSeq[Long](0) == withNulls.getSeq[Long](1),
      "null array elements must follow concat_ws skip semantics")
  }

  test("property: distinct window-3 hashes == h60 of shingles3, same order") {
    // shingledDocs' hash-native form: array_distinct over the one-pass
    // window hashes must equal h60 applied to the distinct 3-shingle
    // STRINGS elementwise (array_distinct keeps first-occurrence order on
    // both sides) — the identity the shingle family's sizes and postings
    // now rest on
    val tok: Gen[String] = Gen.oneOf("a", "b", "cc", "ddd")
    val toksGen: Gen[List[String]] =
      Gen.chooseNum(0, 24).flatMap(n => Gen.listOfN(n, tok))
    val samples = Seq.tabulate(80)(i => toksGen(Gen.Parameters.default,
      org.scalacheck.rng.Seed(0x5431L + i)).get)
    val rows = samples.map(Tuple1(_)).toDF("t")
      .select(
        array_distinct(GraftFunctions.spanWindowHashes(col("t"), 3)).as("fast"),
        transform(GraftFunctions.shingles3(col("t")),
          s => GraftFunctions.h60(s)).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"fast=${r.getSeq[Long](0)} slow=${r.getSeq[Long](1)}")
    }
  }

  test("property: tokenModeCount equals brute-force max token frequency") {
    // small alphabet forces repeats; empty arrays excluded (mode undefined)
    val wordsGen = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "e")))
    forAll(wordsGen) { words =>
      val expected = words.groupBy(identity).values.map(_.size).max.toLong
      val got = Seq(Tuple1(words)).toDF("w")
        .select(graft.operators.TextAnalysis.tokenModeCount(col("w")).as("m"))
        .head().getLong(0)
      assert(got == expected, s"words=$words got=$got want=$expected")
    }
  }

  test("property: packSequences partitions the corpus, preserving every token") {
    import graft.operators.TrainingMix
    // sparse doc_ids (gaps + block boundaries) with varied token counts
    val corpusGen = Gen.chooseNum(1, 40).flatMap(n =>
      Gen.listOfN(n, for {
        id <- Gen.chooseNum(0L, 1000L) // spans ≥ 5 blockSize=200 blocks
        tok <- Gen.chooseNum(1, 120)
      } yield (id, tok)).map(_.distinctBy(_._1)))
    forAll(corpusGen, n = 8) { corpus =>
      val docs = corpus
        .map { case (id, t) => (id, Seq.fill(t)("w").mkString(" "), "en", "web", t.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val packed = TrainingMix.packSequences(docs, 64L, blockSize = 200L).collect()
      graft.CacheRegistry.release()
      val totalDocs = corpus.length.toLong
      val totalToks = corpus.map(_._2.toLong).sum
      assert(packed.map(_.getAs[Long]("n_docs")).sum == totalDocs,
        "every doc lands in exactly one sequence")
      assert(packed.map(_.getAs[Long]("seq_tokens")).sum == totalToks,
        "token mass is conserved")
      // sequences tile the doc_id axis: sorted by seq_id, doc spans must be
      // disjoint and ordered (a doc_id never lands in two sequences)
      val spans = packed.sortBy(_.getAs[Long]("seq_id"))
        .map(r => (r.getAs[Long]("first_doc"), r.getAs[Long]("last_doc")))
      spans.sliding(2).foreach {
        case Array((_, lastA), (firstB, _)) =>
          assert(lastA < firstB, s"overlapping sequence spans: $lastA >= $firstB")
        case _ =>
      }
      // exclusive-prefix boundary rule: a doc starting exactly at a budget
      // multiple opens that bin, so no sequence can exceed budget unless a
      // single doc straddles it — check via the reference cumsum
      val sorted = corpus.sortBy(_._1)
      var cum = 0L
      val refSeq = sorted.map { case (id, t) => val s = cum / 64L; cum += t; id -> s }.toMap
      packed.foreach { r =>
        assert(refSeq(r.getAs[Long]("first_doc")) == r.getAs[Long]("seq_id"))
      }
    }
  }

  test("property: packed-code Hamming equals direct sign-disagreement count") {
    import graft.operators.BqQuant
    val dimVec: Gen[List[Float]] = Gen.listOfN(64,
      Gen.chooseNum(-1.0f, 1.0f).suchThat(v => !v.isNaN))
    forAll(dimVec, dimVec) { (a, b) =>
      val av = a.toArray; val bv = b.toArray
      val expected = (0 until 64).count(i => (av(i) > 0f) != (bv(i) > 0f))
      // codes through the real Spark plan for a, query packing for b
      val df = Seq((0L, a, 1)).toDF("vec_id", "embedding", "label")
        .select(col("vec_id"), col("embedding").cast("array<float>"), col("label"))
      val got = BqQuant.search(df, bv, 1, 64).head().getAs[Int]("hamming")
      assert(got == expected, s"hamming $got != sign disagreements $expected")
    }
  }

  test("property: BM25 score is strictly increasing in tf at fixed doc length") {
    // two docs, same dl, same single query term with tf1 < tf2 occurrences;
    // remaining tokens distinct fillers so the term's df stays 2
    val tfGen = for {
      t1 <- Gen.chooseNum(1, 5)
      t2 <- Gen.chooseNum(t1 + 1, 12)
    } yield (t1, t2)
    forAll(tfGen, n = 10) { case (t1, t2) =>
      val dl = t2 + 4
      def doc(id: Long, tf: Int): (Long, String) =
        (id, (Seq.fill(tf)("term") ++
          (0 until (dl - tf)).map(i => s"f${id}_$i")).mkString(" "))
      val docs = Seq(doc(1L, t1), doc(2L, t2))
        .toDF("doc_id", "text")
      val scores = graft.operators.Retrieval.bm25TopK(docs, Seq("term"), 10)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(scores(2L) > scores(1L),
        s"tf=$t2 must outscore tf=$t1: $scores")
    }
  }

  test("property: exactSum == 6-dp-quantized reference sum, any order, any sign") {
    // the oracle-parity contract behind every money/quantity aggregate:
    // per-row floor(x*1e6 + 0.5) quantization, exact LONG accumulation
    // (order-free), one int64->double conversion, one division — verified
    // against a driver-side BigInt fold over the same quantization, on
    // value sets mixing signs and magnitudes (codegen path vs Scala mirror)
    val valGen = Gen.listOfN(40,
      Gen.chooseNum(-1e8, 1e8).map(x => math.round(x * 1e4) / 1e4))
    forAll(valGen, n = 15) { xs =>
      val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
      val got = df.agg(graft.operators.Relational.exactSum(col("x")).as("s"))
        .head().getDouble(0)
      val want = xs.map(x => BigInt(math.floor(x * 1e6 + 0.5).toLong))
        .sum.toLong.toDouble / 1e6
      assert(got == want, s"exactSum $got != reference $want for $xs")
      // order independence: the reversed frame gives the identical double
      val rev = xs.reverse.zipWithIndex.map { case (x, i) => (i.toLong, x) }
        .toDF("id", "x")
        .agg(graft.operators.Relational.exactSum(col("x"))).head().getDouble(0)
      assert(rev == got, "exactSum must be order-independent bit-for-bit")
    }
  }

  test("exactSum survives past the old micro-unit LONG cap (the sf30 q24 overflow)") {
    import spark.implicits._
    // 10 rows of 1.2e12 source units = 1.2e19 micro-units — the single
    // LONG accumulator form threw ARITHMETIC_OVERFLOW here (q24's grand
    // CUBE cell at sf30 reached 1.13e19); the r16 q/r split must return
    // the exact total, and negatives must still cancel exactly
    val big = (1 to 10).map(i => (i.toLong, 1.2e12)).toDF("id", "x")
    val got = big.agg(graft.operators.Relational.exactSum(col("x")).as("s"))
      .head().getDouble(0)
    assert(got == 1.2e13, s"got $got")
    val mixed = Seq(2.5, -2.5, 1.000001, -1.0, 0.0000004, -0.0000006)
      .zipWithIndex.map { case (x, i) => (i.toLong, x) }.toDF("id", "x")
    // micro sum: 2500000 − 2500000 + 1000001 − 1000000 + 0 − 1 = 0 exactly
    // (0.0000004 rounds to 0 micro; −0.0000006 rounds to −1)
    val gotMixed = mixed.agg(graft.operators.Relational.exactSum(col("x")).as("s"))
      .head().getDouble(0)
    assert(gotMixed == 0.0, s"got $gotMixed")
  }

  test("exactSum's ΣR carry is integral division, not double division") {
    import spark.implicits._
    // ADVICE r16: the carry (ΣR − ΣR%1e6)/1e6 must be IntegralDivide (LONG
    // in, LONG out — exact at any magnitude, mirroring DuckDB's `//`), not
    // Divide (double — rounds once ΣR > 2^53 ≈ 9e9 rows, and the engines
    // then land on adjacent doubles). Unreachable with a test-sized frame,
    // so pin the PLAN SHAPE: the aggregate expression tree must contain an
    // IntegralDivide and the only Divide allowed is the final /1e6 on the
    // sub-unit remainder (a double in [0,1) — always exact to reassemble).
    val df = Seq((1L, 1.5)).toDF("id", "x")
      .agg(graft.operators.Relational.exactSum(col("x")).as("s"))
    // walk the analyzed expression trees for the actual node classes — a
    // substring check would also pass via any alias containing "div"
    // (ADVICE r17)
    import org.apache.spark.sql.catalyst.expressions.{Divide, IntegralDivide}
    val exprs = df.queryExecution.analyzed.expressions
    val intDivs = exprs.flatMap(_.collect { case d: IntegralDivide => d })
    assert(intDivs.nonEmpty,
      s"carry must be an IntegralDivide node:\n${df.queryExecution.analyzed}")
    // the only double Divides allowed are the exact ones: the per-row
    // ⌊m/1e6⌋ recovery (an exact multiple of 1e6, ≤ 2^53) and the final
    // sub-unit remainder /1e6 (a value in [0,1e6)) — both literal-1e6
    // denominators, matched STRUCTURALLY (ADVICE r18: the old
    // toString-contains("1000000") check would also pass an erroneous
    // denominator merely containing that substring, e.g. 21000000.0).
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.DoubleType
    def isLiteralMillion(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e match {
        case Literal(1000000.0, DoubleType) => true
        case Literal(1000000L, _) => true
        case c: Cast => isLiteralMillion(c.child)
        case _ => false
      }
    val divs = exprs.flatMap(_.collect { case d: Divide => d })
    val badDivs = divs.filterNot(d => isLiteralMillion(d.right))
    assert(badDivs.isEmpty,
      s"unexpected double Divide in exactSum tree: $badDivs")
    val got = df.head().getDouble(0)
    assert(got == 1.5, s"got $got")
  }

  test("auditExactSum: fires on near-overflow data, passes sane data, off by default") {
    import spark.implicits._
    val site = "audit-test"
    // 10 rows of 1e15 source units -> worst-case total 1e16 exceeds the r16
    // engine-parity bound (2^53 ≈ 9.0e15 source units, where double(ΣQ)
    // starts rounding), so the conservative MAX×COUNT bound must fail
    // loudly with the site name in the message. (10 rows of 1e12 — the old
    // LONG-cap trip case — now PASSES: the q/r split carries it exactly.)
    val hot = (1 to 10).map(i => (i.toLong, 1e15)).toDF("id", "x")
    val warm = (1 to 10).map(i => (i.toLong, 1e12)).toDF("id", "x")
    val cool = (1 to 10).map(i => (i.toLong, 1e6)).toDF("id", "x")
    // default off: no exception even on the hot frame
    graft.operators.Relational.auditExactSum(hot, Seq(col("x")), site)
    spark.conf.set("spark.graft.exactSumAudit", "true")
    try {
      val e = intercept[IllegalArgumentException] {
        graft.operators.Relational.auditExactSum(hot, Seq(col("x")), site)
      }
      assert(e.getMessage.contains(site) && e.getMessage.contains("2^53"),
        e.getMessage)
      // well-bounded data passes with the audit on — including the old
      // LONG-cap magnitude the split accumulator now handles
      graft.operators.Relational.auditExactSum(warm, Seq(col("x")), site)
      graft.operators.Relational.auditExactSum(cool, Seq(col("x")), site)
      // and the audited flagship query still builds + runs with the flag on
      val r = graft.operators.Relational.pricingSummary(spark, sf0001)
      assert(r.count() > 0)
    } finally spark.conf.unset("spark.graft.exactSumAudit")
  }
}
