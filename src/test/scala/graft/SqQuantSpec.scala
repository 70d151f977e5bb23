package graft

import org.apache.spark.sql.functions._

import graft.operators.{KnnExact, SqQuant}

/** int8 scalar quantization: code bounds, round-trip error bound, and ranking
  * fidelity vs exact search. */
class SqQuantSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
  private val Dim = 64

  test("codes are dense int8 range and deterministic across runs") {
    val a = SqQuant.quantized(emb, Dim).orderBy("vec_id").collect()
    val b = SqQuant.quantized(emb, Dim).orderBy("vec_id").collect()
    assert(a.map(_.getAs[scala.collection.Seq[Int]]("codes")).toSeq == b.map(_.getAs[scala.collection.Seq[Int]]("codes")).toSeq)
    assert(a.forall(_.getAs[scala.collection.Seq[Int]]("codes").forall(c => c >= 0 && c <= 255)))
    assert(a.forall(_.getAs[scala.collection.Seq[Int]]("codes").length == Dim))
  }

  test("dequantization error is bounded by half a quantization step per dim") {
    val (mns, mxs) = SqQuant.stats(emb, Dim)
    val rows = emb.select(col("vec_id"), col("embedding"),
        SqQuant.dequantizeCol(
          SqQuant.quantizeCol(col("embedding"), mns, mxs), mns, mxs).as("dq"))
      .limit(50).collect()
    rows.foreach { r =>
      val orig = r.getAs[scala.collection.Seq[Float]]("embedding")
      val dq = r.getAs[scala.collection.Seq[Double]]("dq")
      orig.indices.foreach { i =>
        val step = (mxs(i) - mns(i)) / 255.0
        assert(math.abs(orig(i) - dq(i)) <= step / 2 + 1e-9,
          s"vec ${r.getLong(0)} dim $i: ${orig(i)} vs ${dq(i)} (step $step)")
      }
    }
  }

  test("quantized IVF at full probe == flat SQ8 search; plan partition-prunes") {
    import graft.operators.IvfIndex
    val idx = IvfIndex.forSfDir(spark, sf0001, SparkEntry.NumClusters)
    val qv = KnnExact.queryVector(emb, 0L)
    val flat = SqQuant.search(emb, qv, 10, Dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val ivf = idx.searchQuantized(qv, 10, nProbe = SparkEntry.NumClusters)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(ivf == flat, s"quantized IVF full-probe diverges: $ivf vs $flat")
    // the default codebook is aggregated once per snapshot: a second
    // codebook-less call starts no job and returns the same rows
    val (again, jobs) = JobCounter(spark)(
      idx.searchQuantized(qv, 10, nProbe = SparkEntry.NumClusters))
    assert(jobs == 0, s"second codebook-less call started $jobs jobs")
    assert(again.collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq == ivf)
    val plan = idx.searchQuantized(qv, 10, nProbe = 3)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cluster".r.findFirstIn(plan).isDefined,
      "quantized fine scan must partition-prune:\n" + plan.take(800))
  }

  test("codebook artifact: statsForSfDir == per-call stats, search parity, export exists") {
    val st @ (mns, mxs) = SqQuant.statsForSfDir(spark, sf0001, Dim)
    val (mns2, mxs2) = SqQuant.stats(emb, Dim)
    assert(mns.toSeq == mns2.toSeq && mxs.toSeq == mxs2.toSeq,
      "persisted codebook must equal a fresh stats aggregate")
    // same object back from the cache (no second aggregate job)
    assert(SqQuant.statsForSfDir(spark, sf0001, Dim)._1 eq mns)
    val qv = KnnExact.queryVector(emb, 0L)
    val withArtifact = SqQuant.search(emb, qv, 10, Dim, Some(st))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val selfContained = SqQuant.search(emb, qv, 10, Dim)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(withArtifact == selfContained,
      "literal-codebook search must equal the self-contained form")
    // the exported (i, mn, mx) table round-trips
    val safe = graft.SfPath.safe(sf0001)
    val exported = spark.read.parquet(
        java.nio.file.Paths.get("target", "sq8-export", s"$safe-d$Dim").toString)
      .orderBy("i").collect()
    assert(exported.length == Dim)
    assert(exported.map(_.getAs[Double]("mn")).toSeq == mns.toSeq)
    assert(exported.map(_.getAs[Double]("mx")).toSeq == mxs.toSeq)
  }

  test("sq8 ranking recall@10 vs exact is >= 0.8 (int8 error is small)") {
    val recalls = (0L to 4L).map { qid =>
      val qv = KnnExact.queryVector(emb, qid)
      val exact = KnnExact.topK(emb, qv, 10).collect().map(_.getLong(0)).toSet
      val got = SqQuant.search(emb, qv, 10, Dim).collect().map(_.getLong(0)).toSet
      (got intersect exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.8, s"sq8 mean recall too low: $mean ($recalls)")
  }
}
