package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.{h32, h60, h60b}

/** The native digest-byte hash must be value-identical to the hex-string SQL
  * formulation the DuckDB oracles use (first-15-hex-chars == BE64 >>> 4). */
class PortableHashSpec extends SparkSpec {
  import spark.implicits._

  test("h60/h32 match the conv(substr(md5)) hex formulation on random strings") {
    val rnd = new scala.util.Random(7)
    val strs = Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString) ++
      Seq("", "a", "0|the quick brown", "héllo wörld 世界")
    val df = strs.toDF("s").select(
      col("s"),
      h60(col("s")).as("n60"),
      conv(substring(md5(encode(col("s"), "UTF-8")), 1, 15), 16, 10).cast("long").as("x60"),
      h32(col("s")).as("n32"),
      conv(substring(md5(encode(col("s"), "UTF-8")), 1, 8), 16, 10).cast("long").as("x32"))
    val bad = df.where(col("n60") =!= col("x60") || col("n32") =!= col("x32")).collect()
    assert(bad.isEmpty, s"hash mismatch on: ${bad.take(3).mkString(", ")}")
  }

  test("h60 is non-negative and 60-bit; h32 unsigned 32-bit") {
    val vals = Seq("x", "y", "z").toDF("s")
      .select(h60(col("s")).as("a"), h32(col("s")).as("b")).collect()
    vals.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 60))
      assert(r.getLong(1) >= 0 && r.getLong(1) < (1L << 32))
    }
  }

  test("minhashSigTokens == minhashSignature∘shingles3 (fused kernel identity)") {
    // r19 optimization round: the fused form streams window bytes straight
    // into the digest and skips array_distinct — identical because md5 sees
    // the same byte sequence per window and duplicates cannot change a
    // minimum. Random docs (incl. heavy duplication, <3-token edge, empty
    // tokens) + the real corpus.
    import graft.functions.GraftFunctions.{minhashSignature, minhashSignatureTokens, shingles3, tokens}
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "bb", "ccc", "the", "of", "x1", "", "zz")
    val docs = Seq.fill(300)(
      Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
      Seq("", "a", "a b", "a b c", "a a a a a", "x1 x1 x1 x1")
    val df = docs.toDF("text").select(
      minhashSignatureTokens(tokens(col("text"))).as("fused"),
      minhashSignature(shingles3(tokens(col("text")))).as("composed"))
    val bad = df.where(
      (col("fused").isNull =!= col("composed").isNull) ||
        (col("fused").isNotNull && col("fused") =!= col("composed"))).collect()
    assert(bad.isEmpty, s"fused minhash diverged: ${bad.take(3).mkString(", ")}")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet").select(
      minhashSignatureTokens(tokens(col("text"))).as("fused"),
      minhashSignature(shingles3(tokens(col("text")))).as("composed"))
    val badC = corpus.where(
      (col("fused").isNull =!= col("composed").isNull) ||
        (col("fused").isNotNull && col("fused") =!= col("composed"))).collect()
    assert(badC.isEmpty, s"fused minhash diverged on corpus: ${badC.take(3).mkString(", ")}")
  }

  test("positionalFingerprint == composed transform+aggregate chain") {
    // r19 optimization round: fused kernel identity on random token lists
    // (incl. empties, dup tokens, multi-byte) + the real corpus
    import graft.functions.GraftFunctions.{fingerprint, tokens}
    import graft.functions.GraftFunctionsComposed.fingerprintComposed
    val rnd = new scala.util.Random(13)
    val vocab = Vector("a", "bb", "ccc", "the", "", "中文", "x1")
    val docs = Seq.fill(300)(
      Seq.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")) ++
      Seq("", "a", "a a", "a b a b")
    val df = docs.toDF("text").select(
      fingerprint(tokens(col("text"))).as("fused"),
      fingerprintComposed(tokens(col("text"))).as("composed"))
    val bad = df.where(col("fused") =!= col("composed")).collect()
    assert(bad.isEmpty, s"fused fingerprint diverged: ${bad.take(3).mkString(", ")}")
    val corpus = spark.read.parquet(s"$sf0001/documents.parquet").select(
      fingerprint(tokens(col("text"))).as("fused"),
      fingerprintComposed(tokens(col("text"))).as("composed"))
    assert(corpus.where(col("fused") =!= col("composed")).isEmpty)
  }

  test("h60b matches md5 hex chars 16..30 — the composite-widening key") {
    // verdict r16 #6: the escape hatch must be oracle-mirrorable via
    // substr(md5(s), 16, 15), exactly as h60 mirrors chars 1..15
    val rnd = new scala.util.Random(11)
    val strs = Seq.fill(300)(rnd.alphanumeric.take(rnd.nextInt(40) + 1).mkString) ++
      Seq("", "a", "héllo wörld 世界")
    val df = strs.toDF("s").select(
      col("s"),
      h60b(col("s")).as("nb"),
      conv(substring(md5(encode(col("s"), "UTF-8")), 16, 15), 16, 10)
        .cast("long").as("xb"),
      h60(col("s")).as("na"))
    val bad = df.where(col("nb") =!= col("xb")).collect()
    assert(bad.isEmpty, s"h60b mismatch on: ${bad.take(3).mkString(", ")}")
    // independence sanity: the two halves of the digest are not the same key
    val collide = df.where(col("nb") === col("na")).count()
    assert(collide == 0, s"h60b == h60 on $collide strings")
    df.select(col("nb")).collect().foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) < (1L << 60))
    }
    // SQL registration
    graft.functions.GraftFunctions.register(spark)
    assert(spark.sql("SELECT portable_h60b('abc')").head().getLong(0) ==
      strsToH60b("abc"))
  }

  private def strsToH60b(s: String): Long =
    graft.functions.PortableHash.h60b(s.getBytes("UTF-8"))

  test("hash-key contract failure path: collision fails loudly, clean passes") {
    // an md5-60-bit collision cannot be synthesized from test strings, so
    // exercise the factored collision branch directly with doctored counts
    GraftEngine.requireInjectiveCounts("bigram", 5L, 5L) // clean: no throw
    val e = intercept[IllegalArgumentException] {
      GraftEngine.requireInjectiveCounts("bigram", 5L, 4L)
    }
    assert(e.getMessage.contains("h60 collision"), e.getMessage)
    assert(e.getMessage.contains("h60b"), e.getMessage)
    // and the real audit wiring passes end-to-end on a clean corpus
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "pack my box with five dozen liquor jugs", "en"))
      .toDF("doc_id", "text", "lang")
    new GraftEngine(spark).auditHashKeys(docs) // must not throw
  }
}
