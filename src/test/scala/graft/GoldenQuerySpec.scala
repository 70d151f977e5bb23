package graft

import org.apache.spark.sql.functions._

import graft.functions.{Embedder, GraftFunctions, HashEmbedder}
import graft.operators.IvfIndex
import graft.sources.BinaryVectors

/** Golden end-to-end for the reference's own 5 query vectors (SURVEY §5):
  * upgrade the reference's eyeball test (`README.md:74-78`, `test.py:13-25`)
  * to asserted (vec_id, score) lists. The corpus side is the sf0.001
  * documents table embedded with the deterministic [[HashEmbedder]] at the
  * reference's dim 384 (`IVF.cpp:14`); the query side is the reference's
  * actual `queries_data/query{1..5}.bin` fixtures (`IVF.cpp:650-672`). The
  * golden lists pin the full embed → score → top-k path bit-for-bit: sims
  * rounded to 6 dp, tie-break sim DESC / vec_id ASC — any change to the
  * embedder, cosine expression, or top-k order breaks this spec. The
  * reference fixtures are optional (tests needing them cancel when absent);
  * IVF full probe ≡ exact is checked on seeded queries without them.
  */
class GoldenQuerySpec extends SparkSpec {

  private val Goldens: Map[Int, Seq[(Long, Double)]] = Map(
    1 -> Seq((247L, 0.080046), (479L, 0.06208), (121L, 0.060998), (184L, 0.057093), (69L, 0.053395)),
    2 -> Seq((74L, 0.025514), (15L, 0.020707), (436L, 0.017998), (33L, 0.015795), (160L, 0.014498)),
    3 -> Seq((490L, 0.046253), (82L, 0.042113), (0L, 0.040774), (84L, 0.040477), (50L, 0.038484)),
    4 -> Seq((27L, 0.085007), (68L, 0.052814), (155L, 0.044843), (362L, 0.040357), (365L, 0.038509)),
    5 -> Seq((290L, 0.049679), (58L, 0.044293), (74L, 0.042836), (370L, 0.041409), (236L, 0.032713)))

  private lazy val corpus = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val e = Embedder.encode(spark, docs, "doc_id", "text", HashEmbedder(384))
      .withColumnRenamed("doc_id", "vec_id")
    e.persist().count()
    e
  }

  private def queryVec(i: Int): Array[Float] =
    BinaryVectors.readFile(s"/root/reference/queries_data/query$i.bin", 384)(0)

  private def exactTop5(qv: Array[Float]) = corpus
    .withColumn("sim", round(GraftFunctions.cosineSim(col("embedding"), typedLit(qv)), 6))
    .orderBy(desc("sim"), asc("vec_id")).limit(5)
    .select("vec_id", "sim").collect()
    .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("exact search reproduces the golden (vec_id, score) list for all 5 reference queries") {
    (1 to 5).foreach { i =>
      assume(new java.io.File(s"/root/reference/queries_data/query$i.bin").exists())
      val got = exactTop5(queryVec(i))
      assert(got == Goldens(i), s"query$i: $got != ${Goldens(i)}")
    }
  }

  private lazy val fullProbeIndex = IvfIndex.build(spark,
    corpus.withColumn("label", lit(0)), "target/ivf-test/golden-384", numClusters = 8)

  test("IVF full-probe ≡ exact top-5 on seeded HashEmbedder(384) queries") {
    // query texts are seeded draws from the corpus vocabulary, so every query
    // shares tokens with some documents and the top-5 has non-zero sims
    val vocab = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w")).distinct()
      .orderBy("w").collect().map(_.getString(0)).filter(_.nonEmpty)
    val rnd = new scala.util.Random(384)
    (1 to 5).foreach { i =>
      val text = Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val qv = HashEmbedder(384).embed(text)
      val want = exactTop5(qv)
      val got = fullProbeIndex.search(qv, 5, nProbe = 8)
        .select("vec_id", "sim").collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want.length == 5 && want.head._2 > 0.0,
        s"query $i: degenerate exact top-5 $want")
      assert(got == want, s"query $i: IVF full probe $got != exact $want")
    }
  }

  test("IVF full-probe over the embedded corpus returns the same golden ids") {
    (1 to 5).foreach { i =>
      val qv = scala.util.Try(queryVec(i))
      assume(qv.isSuccess, s"reference fixture query$i.bin missing")
      val got = fullProbeIndex.search(qv.get, 5, nProbe = 8)
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      assert(got == Goldens(i).map(_._1), s"query$i IVF ids diverge: $got")
    }
  }
}
