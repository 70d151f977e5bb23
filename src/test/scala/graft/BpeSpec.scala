package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/** Iterative BPE training: distributed result ≡ single-node reference, greedy
  * merge-fold semantics, and the merge-application property (replaying the
  * learned rules in order reproduces the distributed symbol table). */
class BpeSpec extends SparkSpec with IterativeTimeLimit {

  import spark.implicits._

  test("trainMerges matches the single-node reference on the test corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val got = Bpe.trainMerges(spark, docs, 8).collect()
      .map(r => Bpe.MergeRule(r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val wordCounts = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Bpe.trainMergesLocal(wordCounts, 8)
    assert(got.toSeq == want,
      s"distributed ${got.toSeq} != reference $want")
    assert(got.length == 8, "sf0.001 corpus must sustain 8 merge rounds")
    // ranks strictly increase and counts never increase within a round order
    assert(got.map(_.merge_rank).toSeq == (1 to 8))
  }

  test("greedy merge fold: overlapping pairs merge left-to-right, single pass") {
    val df = Seq(
      Seq("b", "b", "b"),          // -> [bb, b], NOT [b, bb] / [bbb]
      Seq("a", "b", "a", "b"),     // -> [ab, ab]
      Seq("a", "a", "b"),          // -> [a, ab]
      Seq("x")                     // untouched
    ).toDF("syms")
    val got = df.select(Bpe.applyMerge(col("syms"), "a", "b").as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got.toList == List(
      List("b", "b", "b"), List("ab", "ab"), List("a", "ab"), List("x")))
    val got2 = df.select(Bpe.applyMerge(col("syms"), "b", "b").as("m"))
      .collect().map(_.getSeq[String](0).toList)
    assert(got2.toList == List(
      List("bb", "b"), List("a", "b", "a", "b"), List("a", "a", "b"), List("x")))
  }

  test("replaying learned rules in order reproduces each word's segmentation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val rules = Bpe.trainMerges(spark, docs, 6).collect()
      .map(r => (r.getString(1), r.getString(2)))
    // distributed replay over the word types
    val words = docs.select(explode(split(col("text"), " ")).as("word")).distinct()
    val replayed = rules.foldLeft(words.select(col("word"),
        split(col("word"), "").as("syms"))) { case (df, (a, b)) =>
      df.select(col("word"), Bpe.applyMerge(col("syms"), a, b).as("syms"))
    }.collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
    // local replay with the reference fold
    replayed.foreach { case (w, got) =>
      var s = w.toVector.map(_.toString)
      rules.foreach { case (a, b) =>
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        s.foreach { x =>
          if (out.nonEmpty && out.last == a && x == b) out(out.length - 1) = a + b
          else out += x
        }
        s = out.toVector
      }
      assert(got == s.toList, s"word '$w': $got != $s")
      assert(s.mkString == w, s"segmentation of '$w' must concatenate back")
    }
  }

  test("exhausted corpus stops early with fewer rules") {
    val docs = Seq((1L, "ab ab"), (2L, "ab")).toDF("doc_id", "text")
    // word 'ab' has ONE pair (a,b); after merging it there are no pairs left
    val got = Bpe.trainMerges(spark, docs, 5).collect()
    assert(got.length == 1)
    assert(got.head.getString(1) == "a" && got.head.getString(2) == "b"
      && got.head.getLong(4) == 3L)
  }

  test("batched with batchSize=1 reproduces the sequential trainer exactly") {
    // per-round top-1 with a 4-candidate window degenerates to trainMerges:
    // same argmax, same rewrite — the strongest possible parity, on the
    // REAL corpus, for the shared counting/ordering/fold machinery
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val seqRules = Bpe.trainMerges(spark, docs, 6).collect().toSeq
    val b1Rules = Bpe.trainMergesBatched(spark, docs, 6, batchSize = 1)
      .collect().toSeq
    assert(b1Rules == seqRules,
      s"batchSize=1 diverged:\n $b1Rules\n vs $seqRules")
  }

  test("batched == sequential on mutually disjoint, count-independent pairs") {
    // 4 two-letter words with strictly decreasing frequencies and disjoint
    // alphabets: each word holds exactly one pair, merging any leaves the
    // others' counts untouched — the declared regime where batched-BPE
    // semantics coincide with classic sequential BPE
    val words = Seq(("ab", 50), ("cd", 40), ("ef", 30), ("gh", 20))
    val text = words.flatMap { case (w, n) => Seq.fill(n)(w) }.mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val seqRules = Bpe.trainMerges(spark, docs, 4).collect().toSeq
    val batched = Bpe.trainMergesBatched(spark, docs, 4, batchSize = 4)
      .collect().toSeq
    assert(batched == seqRules, s"batched $batched != sequential $seqRules")
    // and it took ONE round's rewrite: rules carry the round-start counts
    assert(batched.map(r => (r.getString(1), r.getString(2), r.getLong(4))) ==
      words.map { case (w, n) => (w(0).toString, w(1).toString, n.toLong) })
  }

  test("batched selection skips conflicting candidates within a round") {
    // hot chain "abc": pairs (a,b) and (b,c) share symbol b, so one round
    // may select only ONE of them; the other must wait for the next round
    // with RECOUNTED frequencies (after (a,b) merges, (b,c) disappears and
    // (ab,c) appears) — conflicting merges must never be co-batched
    val docs = Seq((1L, Seq.fill(10)("abc").mkString(" "))).toDF("doc_id", "text")
    val batched = Bpe.trainMergesBatched(spark, docs, 2, batchSize = 2)
      .collect().toSeq
    val seqRules = Bpe.trainMerges(spark, docs, 2).collect().toSeq
    assert(batched == seqRules,
      s"conflict handling diverged: $batched vs $seqRules")
    assert(batched.map(_.getString(3)) == Seq("ab", "abc"))
  }
}
