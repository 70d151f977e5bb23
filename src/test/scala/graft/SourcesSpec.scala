package graft

import java.nio.file.{Files, Paths}

import graft.sources.{BinaryVectors, JsonCorpus}

/** Source ingest: the `.bin` vector format (384 LE f32 per row,
  * `IVF.cpp:650-672`; the reference's own queries_data fixtures are checked
  * when present) and the JSON-array corpus layout (`embedding.py:26-31`). */
class SourcesSpec extends SparkSpec {

  test("reads all 5 reference query vectors: length 384, finite floats") {
    (1 to 5).foreach { i =>
      val path = s"/root/reference/queries_data/query$i.bin"
      assume(Files.exists(Paths.get(path)), s"fixture $path missing")
      val rows = BinaryVectors.readFile(path, 384)
      assert(rows.length == 1, s"query$i should be a single vector")
      assert(rows(0).length == 384)
      assert(rows(0).forall(f => !f.isNaN && !f.isInfinite))
      assert(rows(0).exists(_ != 0f), "vector must be non-trivial")
    }
  }

  test(".npy reader parses the header and matches the .bin twin byte-for-byte") {
    (1 to 5).foreach { i =>
      val npy = s"/root/reference/queries_data/query$i.npy"
      val bin = s"/root/reference/queries_data/query$i.bin"
      assume(Files.exists(Paths.get(npy)), s"fixture $npy missing")
      val (fromNpy, dim) = BinaryVectors.readNpyFile(npy)
      val fromBin = BinaryVectors.readFile(bin, 384)
      assert(dim == 384, s"query$i.npy shape should end in 384, got $dim")
      assert(fromNpy.length == fromBin.length)
      fromNpy.zip(fromBin).foreach { case (a, b) => assert(a.sameElements(b)) }
    }
  }

  test(".npy reader rejects non-npy payloads and unsupported dtypes") {
    intercept[IllegalArgumentException] {
      BinaryVectors.decodeNpy("not a numpy file at all".getBytes("ASCII"))
    }
  }

  test("divisibility check rejects malformed payloads (IVF.cpp:473-476)") {
    intercept[IllegalArgumentException] {
      BinaryVectors.decode(new Array[Byte](10), 384)
    }
  }

  test("distributed .bin dir ingest explodes rows with stable in-file order") {
    // a .bin dir written here from seeded vectors (LE f32, `numpy.tofile`
    // layout): 1, 2 and 4 rows per file, plus a non-.bin file the glob skips
    val dir = Paths.get("target", "bin-ingest")
    Files.createDirectories(dir)
    Files.list(dir).forEach(p => Files.delete(p))
    val rnd = new scala.util.Random(11)
    val written = Seq(1, 2, 4).zipWithIndex.map { case (n, f) =>
      val vecs = Array.fill(n, 384)(rnd.nextFloat() * 2 - 1)
      val buf = java.nio.ByteBuffer.allocate(n * 384 * 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vecs.foreach(_.foreach(buf.putFloat))
      val path = dir.resolve(s"part$f.bin")
      Files.write(path, buf.array())
      path.toAbsolutePath.toUri.getPath -> vecs
    }.toMap
    Files.write(dir.resolve("README.txt"), "not vectors".getBytes("UTF-8"))
    val rows = BinaryVectors.readDir(spark, dir.toString, 384).collect()
    val got = rows.map { r =>
      (new java.net.URI(r.getAs[String]("file")).getPath, r.getAs[Int]("row_in_file")) ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq
    }.toMap
    val want = written.flatMap { case (file, vecs) =>
      vecs.toSeq.zipWithIndex.map { case (v, i) => (file, i) -> v.toSeq }
    }
    assert(rows.length == 7, s"7 rows over 3 .bin files expected, got ${rows.length}")
    assert(got == want, "every (file, row_in_file) must round-trip its vector")
  }

  test("full reference workflow on the JSON corpus: read -> embed -> index -> search") {
    // the reference's complete offline+online path (embedding.py -> clusters.py
    // -> ./IVF) over its own data model: a dir of JSON-array files
    import graft.functions.HashEmbedder
    val dir = Files.createTempDirectory(Paths.get("target"), "e2ecorpus").toString
    Files.writeString(Paths.get(dir, "a.json"),
      """[{"title":"t0","text":"alpha beta gamma delta"},
        | {"title":"t1","text":"epsilon zeta eta theta"}]""".stripMargin)
    Files.writeString(Paths.get(dir, "b.json"),
      """[{"title":"t2","text":"iota kappa lambda mu"},
        | {"title":"t3","text":"nu xi omicron pi rho sigma"}]""".stripMargin)
    val engine = new GraftEngine(spark, workDir = "target/graft-e2e")
    val corpus = graft.sources.JsonCorpus.read(spark, dir)
    val emb = engine.embed(corpus, HashEmbedder(32), idCol = "id")
      .withColumnRenamed("id", "vec_id")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    val idx = engine.buildIndex(emb, "json-e2e", numClusters = 2)
    // querying with a corpus doc's own text must retrieve that doc first
    val hits = engine.searchText(idx, HashEmbedder(32),
        "iota kappa lambda mu", k = 2, nProbe = 2)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(hits.head == 2L, s"self-retrieval failed: ${hits.toSeq}")
    val docs = engine.searchDocs(
      engine.searchText(idx, HashEmbedder(32), "alpha beta gamma delta", 1, 2),
      corpus.withColumnRenamed("id", "doc_id"))
    assert(docs.head().getAs[String]("snippet").startsWith("alpha beta"))
  }

  test("JSON corpus scan mints dense ids by (file, ARRAY POSITION), not text order") {
    val dir = Files.createTempDirectory(Paths.get("target"), "corpus").toString
    // texts deliberately out of alphabetical order within each file: ids must
    // follow array position (the reference's positional contract,
    // embedding.py:34), not any value-based ordering
    Files.writeString(Paths.get(dir, "b.json"),
      """[{"title":"t3","text":"ddd"},{"title":"t4","text":"ccc"}]""")
    Files.writeString(Paths.get(dir, "a.json"),
      """[{"title":"t1","text":"zzz"},{"title":"t2","text":"aaa"}]""")
    val df = JsonCorpus.read(spark, dir)
    val got = df.orderBy("id").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("text")))
    assert(got.map(_._1).sameElements(Array(0L, 1L, 2L, 3L)), "dense ids 0..3")
    assert(got.map(_._2).sameElements(Array("zzz", "aaa", "ddd", "ccc")),
      s"file-then-position order: ${got.mkString(",")}")
  }

  test("sorted lake: windowed stats match the raw-table computation exactly") {
    import org.apache.spark.sql.functions._
    val fromSorted = graft.sources.SortedLake.windowedTypeStats(spark, sf0001)
      .collect().toSeq
    // same computation straight off the raw table (no layout) — windowed on
    // the floor-second epoch, which is exactly the layout's literal bound
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    val sec = graft.operators.Relational.tsSecExpr(raw)
    val (wlo, whi) = graft.sources.SortedLake.quarterWindowSec(raw)
    val fromRaw = raw
      .where(sec >= wlo && sec < whi)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.operators.Relational.exactSum(col("value")).as("sum_value"),
        min(sec).as("first_sec"),
        max(sec).as("last_sec"))
      .orderBy(col("event_type")).collect().toSeq
    assert(fromSorted == fromRaw, s"layout changed results:\n$fromSorted\n$fromRaw")
    assert(fromSorted.nonEmpty, "window must be non-empty on testdata")
  }

  test("sorted lake: empty table fails fast with the contract message") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("event_id", "ts")
    val e = intercept[IllegalArgumentException] {
      graft.sources.SortedLake.quarterWindowSec(empty)
    }
    assert(e.getMessage.contains("empty table"))
  }

  test("sorted lake: the ts range predicate reaches the parquet scan") {
    val plan = graft.sources.SortedLake.windowedTypeStats(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*GreaterThanOrEqual\\(ts".r.findFirstIn(plan).isDefined,
      s"ts range must be pushed to the scan:\n${plan.take(800)}")
  }

  test("sorted lake: row-group zone maps actually skip out-of-window data") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // AQE off so the executed plan tree is directly traversable for metrics
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = graft.sources.SortedLake.windowedTypeStats(spark, sf0001)
      df.collect()
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case s: FileSourceScanExec => s }.get
      val scanned = scan.metrics("numOutputRows").value
      val total = spark.read.parquet(s"$sf0001/events.parquet").count()
      // the ~25% window must not decode the whole table: row groups whose
      // [min,max] ts stats miss the window are dropped on footer stats
      assert(scanned < total,
        s"scan decoded all $total rows — zone-map skipping is not happening")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
