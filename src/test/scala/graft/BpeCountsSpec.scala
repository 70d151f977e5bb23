package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.BpeCountsExpr
import graft.operators.{TextAnalysis, TextAnalysisComposed}

/** Gates [[BpeCountsExpr]]'s one-pass byte walk against the two things it
  * replaces: `size(split(text, " "))` keep-trailing-empties semantics for
  * `n_ws`, and the REAL `java.util.regex` find loop over
  * [[TextAnalysis.BpeTokenRegex]] for `n_bpe` — the same
  * parity-over-the-replaced-spec discipline as NormalizeSpec, plus a
  * DataFrame-level identity pass (new expression vs the retained composed
  * form [[TextAnalysisComposed.tokenCountsBpeComposed]]) over real testdata. */
class BpeCountsSpec extends SparkSpec {

  private val pattern = java.util.regex.Pattern.compile(TextAnalysis.BpeTokenRegex)

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

  private def regexCounts(s: String): (Int, Int) = {
    val m = pattern.matcher(s)
    var bpe = 0
    while (m.find()) bpe += 1
    (s.split(" ", -1).length, bpe)
  }

  private def walkCounts(s: String): (Int, Int) = {
    val row = BpeCountsExpr.counts(UTF8String.fromString(s))
    (row.getInt(0), row.getInt(1))
  }

  private def inspect(s: String): String = s.map(c =>
    if (c >= ' ' && c < 127) c.toString else f"\\u${c.toInt}%04x")
    .mkString("\"", "", "\"")

  test("hand cases: contractions, runs, spaces, bare apostrophes, edges") {
    val cases = Seq(
      "", " ", "  ", "a", "a b", "a  b", "don't", "can't've", "'ll", "'llx",
      "'rx", "x'", "''", "'", "a'b", " 'a", "abc 123 !?# x",
      "hello world", "hello  world ", " leading", "trailing ",
      "it's we're you've I'm they'll he'd o'clock",
      "tabs\tand\nnewlines", "num1mix2", "a1 2b", "--- !!", "a-b_c",
      "100,000.50", "emoji 😀 end", "café naïve",
      "中文 tokens", "' '", "x ' y", "a '", "' a", " 9a", " '",
      "'s's", "'re're")
    cases.foreach { s =>
      assert(walkCounts(s) == regexCounts(s), s"mismatch on ${inspect(s)}")
    }
  }

  test("property: walk == regex find loop on branch-exercising strings") {
    // biased alphabet: letters, digits, spaces, apostrophes, contraction
    // suffixes, punctuation, non-ASCII incl. multi-byte + supplementary
    val alphabet = Gen.frequency(
      6 -> Gen.alphaChar.map(_.toString),
      3 -> Gen.numChar.map(_.toString),
      5 -> Gen.const(" "),
      3 -> Gen.const("'"),
      2 -> Gen.oneOf("s", "t", "re", "ve", "m", "ll", "d"),
      2 -> Gen.oneOf("!", ".", ",", "-", "_", "?", "\t", "\n"),
      1 -> Gen.oneOf("é", "中", "😀"))
    val texts = Gen.chooseNum(0, 60).flatMap(k =>
      Gen.listOfN(k, alphabet).map(_.mkString))
    forAll(texts) { s =>
      assert(walkCounts(s) == regexCounts(s), s"mismatch on ${inspect(s)}")
    }
  }

  test("DataFrame identity: expression form == composed form on real docs") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val fast = TextAnalysis.tokenCountsBpe(docs)
    val slow = TextAnalysisComposed.tokenCountsBpeComposed(docs)
    assert(fast.schema == slow.schema)
    assert(fast.exceptAll(slow).isEmpty && slow.exceptAll(fast).isEmpty)
  }

  test("null propagates like the composed columns") {
    import spark.implicits._
    val df = Seq[(Integer, String)]((1, "a b"), (2, null)).toDF("id", "text")
    val rows = df.select(
      graft.functions.GraftFunctions.bpeCounts(col("text")).as("c")).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }
}
