package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.{GraftFunctions, GraftFunctionsComposed, NormalizeTextExpr}

/** [[graft.functions.NormalizeTextExpr]]'s contract: byte-for-byte equal to
  * the composed `trim(regexp_replace(regexp_replace(lower(text),
  * "[^a-z0-9 ]", " "), "  +", " ")))` chain it replaced — the form the
  * DuckDB oracle still replays — including on non-ASCII input, where the
  * expression's byte-level pending-separator pass must coincide with the
  * regex's char-level substitution (see the equivalence argument in the
  * expression's scaladoc). */
class NormalizeSpec extends SparkSpec {

  import spark.implicits._

  /** Deterministic mini-forAll at seed 42 (PropertySpec's driver — the
    * scalatest bridge artifact isn't on the offline classpath). */
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

  private def composedOf(texts: Seq[String]): Seq[String] =
    texts.toDF("text")
      .select(GraftFunctionsComposed.normalizeTextComposed(col("text")))
      .as[String].collect().toSeq

  private def exprOf(texts: Seq[String]): Seq[String] =
    texts.toDF("text")
      .select(GraftFunctions.normalizeText(col("text")))
      .as[String].collect().toSeq

  test("hand cases: fold, strip, collapse, trim, empty, separator-only") {
    val cases = Seq(
      "Hello, World!  42", "  leading and trailing  ", "a", "A", "",
      "...", "   ", "tab\tnewline\nmix", "under_score-dash",
      "UPPER lower 0123456789", "a  b   c    d", "!@#$%^&*()")
    assert(exprOf(cases) == composedOf(cases))
    assert(exprOf(Seq("Hello, World!  42")) == Seq("hello world 42"))
  }

  test("non-ASCII: multi-byte chars collapse exactly like the regex form") {
    val cases = Seq(
      "héllo wörld", "naïve café", "ΚΑΛΗΜΕΡΑ abc", "日本語 mixed テキスト 7",
      "emoji 🙂 mid", "🙂", "Ärger ÜBER Öl", "a b", "KKelvin",
      "İstanbul", "a é b", "éé  éé")
    assert(exprOf(cases) == composedOf(cases))
  }

  test("null propagates like the composed chain") {
    val df = Seq[(Integer, String)]((1, "A b"), (2, null)).toDF("id", "text")
    val both = df.select(
      GraftFunctions.normalizeText(col("text")).as("fast"),
      GraftFunctionsComposed.normalizeTextComposed(col("text")).as("slow"))
      .collect()
    assert(both.forall(r => r.isNullAt(0) == r.isNullAt(1) &&
      (r.isNullAt(0) || r.getString(0) == r.getString(1))))
  }

  test("property: random unicode strings agree with the composed form") {
    // mix ASCII-heavy strings (the corpus shape) with arbitrary unicode
    val asciiish = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 2 -> Gen.oneOf('.', ',', '!', '-', '_'),
      1 -> Gen.oneOf('é', 'Ü', 'ß', '中', '\t', '\n'))).map(_.mkString)
    forAll(Gen.listOfN(20, asciiish), n = 8) { texts =>
      if (texts.nonEmpty) assert(exprOf(texts) == composedOf(texts))
    }
    forAll(Gen.listOfN(20, Gen.asciiPrintableStr), n = 8) { texts =>
      if (texts.nonEmpty) assert(exprOf(texts) == composedOf(texts))
    }
  }

  test("interpreted eval matches codegen (both vs composed on real docs)") {
    // real corpus pass: sf0.001 documents through both forms
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val mism = docs.select(
      GraftFunctions.normalizeText(col("text")).as("fast"),
      GraftFunctionsComposed.normalizeTextComposed(col("text")).as("slow"))
      .filter(not(col("fast") <=> col("slow"))).count()
    assert(mism == 0L)
    // direct interpreted-path call (no codegen) on a few shapes
    Seq("A  b!", "é Ü", "", "  x  ").foreach { s =>
      val got = NormalizeTextExpr.normalize(UTF8String.fromString(s)).toString
      val want = composedOf(Seq(s)).head
      assert(got == want, s"interpreted mismatch on '$s'")
    }
  }
}
