package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TokenStatsExpr
import graft.operators.{TextAnalysis, TextAnalysisComposed}

/** Gates [[TokenStatsExpr]]'s one-pass count-table walk against the composed
  * HOF chain it replaced, field by field (split keep-trailing-empties token
  * count, binary-distinct count, max multiset multiplicity ≡ the
  * sorted-longest-run tokenModeCount, code-point length sum, stopword
  * count), then DataFrame-level identity for every rewired operator
  * ([[TextAnalysis.quality]] / [[TextAnalysis.corpusFilter]] /
  * [[TextAnalysis.repetition]]) against its retained composed spec over
  * real testdata — the NormalizeSpec discipline. */
class TokenStatsSpec extends SparkSpec {

  private val impl = new TokenStatsExpr.Impl(
    TextAnalysis.Stopwords.map(_.getBytes("UTF-8")).toArray)

  /** Deterministic mini-forAll at seed 42 (PropertySpec's driver — the
    * scalatest bridge artifact isn't on the offline classpath). */
  private def forAll[A](gen: Gen[A], n: Int = 400)(f: A => Unit): Unit = {
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

  private def walk(s: String): (Int, Int, Int, Long, Int) = {
    val r = impl.stats(UTF8String.fromString(s))
    (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4))
  }

  test("hand cases vs a plain-Scala model of the composed chain") {
    def ref(s: String): (Int, Int, Int, Long, Int) = {
      val w = s.split(" ", -1).toSeq
      val counts = w.groupBy(identity).map { case (_, g) => g.size }
      val sumLen = w.map(t => t.codePointCount(0, t.length).toLong).sum
      val stops = w.count(TextAnalysis.Stopwords.contains)
      (w.size, counts.size, counts.max, sumLen, stops)
    }
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a a", "a  a", "the cat and the dog",
      "x x x x x", " leading", "trailing ", "a of to in and the",
      "café café naïve", "中文 中文 tokens", "emoji 😀 😀",
      "the the the a a of", "one", "a b c d e f g h i j")
    cases.foreach { s =>
      assert(walk(s) == ref(s), s"mismatch on '$s': ${walk(s)} vs ${ref(s)}")
    }
  }

  test("property: walk == model on branch-exercising strings") {
    def ref(s: String): (Int, Int, Int, Long, Int) = {
      val w = s.split(" ", -1).toSeq
      val counts = w.groupBy(identity).map { case (_, g) => g.size }
      val sumLen = w.map(t => t.codePointCount(0, t.length).toLong).sum
      val stops = w.count(TextAnalysis.Stopwords.contains)
      (w.size, counts.size, counts.max, sumLen, stops)
    }
    val word = Gen.frequency(
      5 -> Gen.oneOf("x", "yy", "zzz", "the", "a", "of", "and", "to", "in"),
      2 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.oneOf("café", "中文", "😀", ""))
    val texts = Gen.chooseNum(0, 30).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    forAll(texts) { s => assert(walk(s) == ref(s), s"mismatch on '$s'") }
  }

  test("DataFrame identity: quality == composed form on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = TextAnalysis.quality(docs)
    val slow = TextAnalysisComposed.qualityComposed(docs)
    assert(fast.schema == slow.schema)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("DataFrame identity: corpusFilter == composed form on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = TextAnalysis.corpusFilter(docs)
    val slow = TextAnalysisComposed.corpusFilterComposed(docs)
    assert(fast.schema == slow.schema)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("DataFrame identity: repetition == composed (shuffled) form on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = TextAnalysis.repetition(docs)
    val slow = TextAnalysisComposed.repetitionComposed(docs)
    assert(fast.schema == slow.schema)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("repetition's rewired plan has zero exchanges (the 100 TB point)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = TextAnalysis.repetition(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  // ---- ShingleStatsExpr (r19 optimization round): the one-pass shingle
  // count kernel vs the shingles3Raw + array_distinct chain it replaced.

  private def shingleWalk(s: String): (Int, Int) = {
    val r = graft.functions.ShingleStatsExpr.stats(UTF8String.fromString(s))
    (r.getInt(0), r.getInt(1))
  }

  private def shingleRef(s: String): (Int, Int) = {
    val w = s.split(" ", -1).toSeq
    if (w.size < 3) (0, 0)
    else {
      val sh = w.sliding(3).map(_.mkString(" ")).toSeq
      (sh.size, sh.distinct.size)
    }
  }

  test("shingle stats hand cases vs the shingles3Raw model") {
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a b c", "a b c d", "a a a a a",
      "x y x y x y", "the cat and the cat and", "a  b  c", "  ",
      "ab c d vs a bc d", "中文 中文 tokens 中文 中文 tokens")
    cases.foreach { s =>
      assert(shingleWalk(s) == shingleRef(s),
        s"mismatch on '$s': ${shingleWalk(s)} vs ${shingleRef(s)}")
    }
  }

  test("property: shingle stats == model on branch-exercising strings") {
    val word = Gen.frequency(
      5 -> Gen.oneOf("x", "yy", "ab", "a", "b", "c"),
      2 -> Gen.alphaNumStr.map(_.take(6)),
      1 -> Gen.oneOf("café", "中文", "")) // multi-byte + empty tokens
    val texts = Gen.chooseNum(0, 24).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    forAll(texts) { s =>
      assert(shingleWalk(s) == shingleRef(s), s"mismatch on '$s'")
    }
  }

  // ---- TokenEntropyExpr (r19 optimization round): the one-pass entropy
  // kernel vs the explode → groupBy → sorted-fold chain it replaced. The
  // fold is BIT-exact by contract (Σ c·ln c accumulated in ascending binary
  // token order — the family's sorted-fold determinism key), so the model
  // below replays that exact addition order.

  private def entropyWalk(s: String): (Long, Long, Double) = {
    val r = graft.functions.TokenEntropyExpr.stats(UTF8String.fromString(s))
    (r.getLong(0), r.getLong(1), r.getDouble(2))
  }

  private def entropyRef(s: String): (Long, Long, Double) = {
    val w = s.split(" ", -1).toSeq
    val counts = w.groupBy(identity).map { case (t, g) =>
      (t.getBytes("UTF-8"), g.size) }.toSeq
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._1, b._1) < 0)
    var acc = 0.0
    counts.foreach { case (_, c) => acc += c.toDouble * math.log(c.toDouble) }
    (w.size.toLong, counts.size.toLong, acc)
  }

  test("entropy hand cases vs a plain-Scala model of the sorted fold") {
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a a", "a  a", "the cat and the dog",
      "x x x x x", " leading", "trailing ", "a of to in and the",
      "café café naïve", "中文 中文 tokens", "emoji 😀 😀",
      "the the the a a of", "one", "a b c d e f g h i j",
      "z y x w v u a a a b b c") // reverse-sorted input exercises the sort
    cases.foreach { s =>
      val (got, want) = (entropyWalk(s), entropyRef(s))
      assert(got._1 == want._1 && got._2 == want._2, s"counts mismatch on '$s'")
      // the fold must match BIT-exactly — it feeds a 6-dp round
      assert(java.lang.Double.doubleToLongBits(got._3) ==
        java.lang.Double.doubleToLongBits(want._3), s"fold bits differ on '$s'")
    }
  }

  test("property: entropy walk == model (bit-exact fold) on branch-exercising strings") {
    val word = Gen.frequency(
      5 -> Gen.oneOf("x", "yy", "zzz", "the", "a", "of", "and", "to", "in"),
      2 -> Gen.alphaNumStr.map(_.take(8)),
      1 -> Gen.oneOf("café", "中文", "😀", ""))
    val texts = Gen.chooseNum(0, 30).flatMap(k =>
      Gen.listOfN(k, word).map(_.mkString(" ")))
    forAll(texts) { s =>
      val (got, want) = (entropyWalk(s), entropyRef(s))
      assert(got._1 == want._1 && got._2 == want._2, s"counts mismatch on '$s'")
      assert(java.lang.Double.doubleToLongBits(got._3) ==
        java.lang.Double.doubleToLongBits(want._3), s"fold bits differ on '$s'")
    }
  }

  test("DataFrame identity: tokenEntropy == composed (shuffled) form on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = TextAnalysis.tokenEntropy(docs)
    val slow = TextAnalysisComposed.tokenEntropyComposed(docs)
    // names+types (not nullability: `count` is non-nullable where a struct
    // field fanned out through explode is not — the gate compares names,
    // types and values)
    assert(fast.schema.map(f => (f.name, f.dataType)) ==
      slow.schema.map(f => (f.name, f.dataType)))
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("tokenEntropy's rewired plan has zero exchanges (the 100 TB point)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plan = TextAnalysis.tokenEntropy(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("tokenEntropy drops null-text docs exactly like the explode form") {
    import spark.implicits._
    val df = Seq[(Integer, String)]((1, "a b a"), (2, null)).toDF("doc_id", "text")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
    val fast = TextAnalysis.tokenEntropy(df).collect()
    val slow = TextAnalysisComposed.tokenEntropyComposed(df).collect()
    assert(fast.map(_.toString).sorted.sameElements(slow.map(_.toString).sorted))
    assert(fast.length == 1 && fast(0).getLong(0) == 1L)
  }

  test("null text propagates as a null stats struct") {
    import spark.implicits._
    val df = Seq[(Integer, String)]((1, "a b"), (2, null)).toDF("id", "text")
    val rows = df.select(
      graft.functions.GraftFunctions.tokenStats(col("text"),
        TextAnalysis.Stopwords).as("c")).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }

  test("injected stopword list is honored (not baked to the default)") {
    val custom = new TokenStatsExpr.Impl(Array("foo".getBytes("UTF-8")))
    val r = custom.stats(UTF8String.fromString("foo bar foo the"))
    assert(r.getInt(4) == 2) // two 'foo', 'the' NOT counted
  }
}
