package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Entry smoke, relational invariants, multimodal plumbing. */
class EngineSpec extends SparkSpec {

  test("flagship entry() returns the top-5 with snippets") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.length == 5)
    assert(rows.head.getAs[Long]("vec_id") == 0L, "self-match must rank first")
    assert(rows.forall(_.getAs[String]("snippet").length <= 200))
  }

  test("two query records with one name are refused") {
    val q01 = SparkEntry.queryDefs.find(_.name == "q01_pricing_summary").get
    def twin = SparkEntry.QueryDef(q01.name)(q01.run, q01.oracle)
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireUniqueNames(Seq(q01, twin)))
    assert(e.getMessage.contains("q01_pricing_summary"))
    assert(SparkEntry.queries.size == SparkEntry.queryDefs.size,
      "the declared records must have unique names")
  }

  test("a query-name filter trims, drops blanks and names an unknown name") {
    assert(SparkEntry.queryFilter(" q01_pricing_summary ,,knn_exact") ==
      Set("q01_pricing_summary", "knn_exact"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.queryFilter("q01_pricing_summary,q01_pricing_sumary"))
    assert(e.getMessage.contains("q01_pricing_sumary"))
    assert(!e.getMessage.contains("q01_pricing_summary"))
  }

  test("q01 pricing summary: 6 flag/status groups, counts sum to filtered rows") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sf0001)
    val rows = df.collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("count_order")).sum
    val want = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .where(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")))
      .count()
    assert(total == want)
  }

  test("q04 window top-k: rn bounded by 3 and per-customer descending price") {
    val rows = SparkEntry.queries("q04_window_top_orders")(spark, sf0001).collect()
    assert(rows.forall(_.getAs[Long]("rn") <= 3))
    rows.groupBy(_.getAs[Long]("o_custkey")).foreach { case (_, rs) =>
      val prices = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Double]("o_totalprice"))
      assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
    }
  }

  test("q05 top-100: exactly 100 rows in descending price order") {
    val rows = SparkEntry.queries("q05_top_lineitems")(spark, sf0001).collect()
    assert(rows.length == 100)
    val p = rows.map(_.getAs[Double]("l_extendedprice"))
    assert(p.zip(p.tail).forall { case (a, b) => a >= b })
  }

  test("q03 pre-aggregated rollup == join-first timed form (bit-exact)") {
    // r19 optimization round: the cluster-shape rollup pre-aggregates the
    // exactSum integer parts at every join hop (guide §2.3); LONG-part
    // associativity makes it bit-identical to the timed join-first form —
    // assert exactly that, so the 100 TB shape stays deployable
    val fast = graft.operators.Relational.regionRevenuePreagg(spark, sf0001).collect()
    val slow = graft.operators.Relational.regionRevenue(spark, sf0001).collect()
    assert(fast.length == slow.length)
    fast.zip(slow).foreach { case (a, b) =>
      assert(a.getAs[String]("r_name") == b.getAs[String]("r_name"))
      assert(a.getAs[Long]("n_items") == b.getAs[Long]("n_items"))
      assert(java.lang.Double.doubleToLongBits(a.getAs[Double]("revenue")) ==
        java.lang.Double.doubleToLongBits(b.getAs[Double]("revenue")),
        s"revenue bits differ for ${a.getAs[String]("r_name")}")
    }
  }

  test("star join broadcasts the dim tables (no shuffle of nation/region)") {
    val plan = SparkEntry.queries("q03_region_revenue")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(600))
  }

  test("multimodal: payload bytes == n_chars for ascii corpus; dims in range") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val meta = Multimodal.metadata(docs)
    val bad = meta.join(docs, "doc_id")
      .where(col("n_bytes") =!= col("n_chars")).count()
    assert(bad == 0, "ascii corpus: utf-8 byte length must equal n_chars")
    val dims = meta.agg(min("width"), max("width"), min("height"), max("height")).head()
    assert(dims.getInt(0) >= 16 && dims.getInt(1) < 256)
    assert(dims.getInt(2) >= 16 && dims.getInt(3) < 256)
  }

  test("multimodal: decodeFrames agrees bit-for-bit with the columnar metadata projection") {
    // FakeDecoder (imperative, mapPartitions) and metadata() (columnar h32
    // projection) implement ONE portable contract — a drift between them
    // would split the multimodal family across two incompatible fakes
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val fromDecoder = Multimodal.decodeFrames(spark, Multimodal.withPayload(docs))
      .toDF().select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("channels"))
    val fromMeta = Multimodal.metadata(docs)
      .select(col("doc_id"), col("n_bytes"), col("width"), col("height"), col("channels"))
    assert(fromDecoder.except(fromMeta).isEmpty && fromMeta.except(fromDecoder).isEmpty,
      "decoder stub and metadata projection diverged")
  }

  test("multimodal: decodeFrames is deterministic and batch-shaped") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(50)
    val p = Multimodal.withPayload(docs)
    val a = Multimodal.decodeFrames(spark, p).collect().sortBy(_.doc_id)
    val b = Multimodal.decodeFrames(spark, p).collect().sortBy(_.doc_id)
    assert(a.sameElements(b), "decoder stub must be deterministic")
    assert(a.forall(f => f.width >= 16 && f.height >= 16 && f.channels == 3))
    assert(a.length == 50)
  }

  test("multimodal: frame embeddings feed the vector operators end-to-end") {
    import graft.operators.{KnnExact, LshAnn}
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(100)
    val emb = Multimodal.frameEmbeddings(spark, Multimodal.withPayload(docs), dim = 32)
    emb.persist().count()
    // unit-norm contract of the encoder stub
    val norms = emb.select(graft.functions.GraftFunctions.l2Norm(col("embedding"))).collect()
    assert(norms.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-5))
    // a frame queried by its own vector retrieves itself first (exact path)
    val qv = KnnExact.queryVector(emb.withColumn("label", lit(0)), 7L)
    val top = KnnExact.topK(emb.withColumn("label", lit(0)), qv, 3)
      .collect().map(_.getLong(0))
    assert(top.head == 7L, s"self-retrieval over frame embeddings failed: ${top.toSeq}")
    // and the LSH path buckets it deterministically
    val b1 = LshAnn.assign(emb, 32).orderBy("vec_id").collect()
    val b2 = LshAnn.assign(emb, 32).orderBy("vec_id").collect()
    assert(b1.sameElements(b2))
  }

  test("multimodal: metadata projection prunes the payload column") {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "mm").toString
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(20)
    Multimodal.withPayload(docs).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir).select(col("doc_id"), col("meta.n_bytes"))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema") && !plan.contains("payload"),
      "payload must be pruned from the scan:\n" + plan.take(600))
  }

  test("frame sampling explodes deterministically by payload size") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").limit(10)
    val frames = Multimodal.sampleFrames(Multimodal.withPayload(docs), 64)
    val byDoc = frames.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sizes = docs.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, n) =>
      assert(n == math.max(math.ceil(sizes(id) / 64.0).toLong, 1L))
    }
  }
}
