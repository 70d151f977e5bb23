package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.GraftEngine
import graft.operators.IvfIndex

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`, plus `--nprobe <p>` to serve `ivf_point` at another
  * probe count (the README's nProbe sweep). Prints one JSON result object as
  * the last line of standard output; diagnostics go to standard error. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, nProbe: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), m.get("nprobe").map(_.toInt).getOrElse(20))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workloads.names.mkString(", ")}")
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftEngine.localSession(cores, "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val result =
      try new Workloads(spark, a).run()
      finally spark.stop()
    result.failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    println(result.json)
  }
}

/** A run's outcome: the check verdict, operation counts and metrics
  * (name → (value, unit)), in print order. */
final case class Result(failures: Seq[String], attempted: Long, failed: Long,
    metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n": {"value": ${BigDecimal(v).bigDecimal.toPlainString}, "unit": "$u"}"""
    }
    s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}

object Workloads {
  val names = Seq("ivf_point", "curate")

  /** The vector corpus of the IVF workload: 384-dim unit vectors, an index
    * of 128 clusters, k = 5 (the paper's shape). 24 mixture components with
    * noise of norm 3.5 overlap enough that recall@5 at nProbe = 5 is near
    * 0.8 and rises with nProbe. 5,000 vectors keep the k-means build (the
    * set-up) near 20 s on 4 cores. */
  val VecShape = Gen.VecShape(n = 5000, nQueries = 1024, dim = 384,
    components = 24, spread = 3.5)
  val NumClusters = 128
  val K = 5
  val BatchSize = 256

  /** Daily ingest in the ivf_point set-up: arriving segments merged into
    * the built index before it serves. */
  val IngestSegments = 2
  val IngestSegmentSize = 400

  /** Near-duplicate families are pairs: with `ConnectedComponents.run`
    * re-planning every earlier round, larger families (more star rounds)
    * take minutes even on this corpus. */
  val DocShape = Gen.DocShape(nDocs = 2400, exactDupShare = 0.05,
    families = 80, familySize = 2, piiShare = 0.1)
  val MinJaccard = 0.5

  /** Point requests run after the index checks and before the timed
    * phase: the first few dozen Spark jobs of a JVM are slower while the JIT
    * compiles the planning and scheduling paths, and a serving process pays
    * that once. */
  val WarmUpOps = 2

  /** Set-up repetitions of `curate`; its set-up time is their median (the
    * first, cold one included). An
    * IVF set-up builds a k-means index (seconds even at this size, most of
    * it first-call JIT and codegen), so it runs once per run. */
  val CurateSetupReps = 9

  /** Untimed curate passes before the timed ones. */
  val CurateWarmUpPasses = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

final class Workloads(spark: SparkSession, a: Main.Args) {
  import Workloads._

  private val sc = spark.sparkContext
  private val engine = new GraftEngine(spark, a.work)
  private val trace = new Trace(a.trace, sc)
  private val counters = new SparkCounters
  if (a.trace) sc.addSparkListener(counters)
  private val failures = ArrayBuffer.empty[String]
  private def check(ok: Boolean, msg: => String): Unit =
    if (!ok && failures.length < 50) failures += msg
  private val layers = new Layers(trace, counters)

  def run(): Result = {
    new File(a.work).mkdirs()
    a.workload match {
      case "ivf_point" => ivfPoint()
      case "curate" => curate()
    }
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Runs `body`, printing its wall time to standard error. */
  private def logged[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally System.err.println(f"perfbench: $what ${seconds(t0)}%.2f s")
  }

  /** Timed operation latencies, printed to standard error. */
  private val opMs = ArrayBuffer.empty[Double]

  /** Runs the set-up `reps` times, each into a fresh directory (the
    * previous one deleted), and returns the last result with the median
    * set-up seconds. */
  private def setups[T](reps: Int)(body: String => T): (T, Double) = {
    var last: Option[T] = None
    val times = (0 until reps).map { rep =>
      val dir = s"setup$rep"
      if (rep > 0) deleteTree(new File(a.work, s"setup${rep - 1}"))
      val t0 = System.nanoTime()
      last = Some(trace.span("setup")(body(dir)))
      System.err.println(f"perfbench: set-up $rep ${seconds(t0)}%.2f s")
      seconds(t0)
    }
    (last.get, median(times))
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Live heap growth over the timed phase per operation, KB, from
    * `before` (MB, measured before it). */
  private def heapGrowth(before: Double, ops: Int): Map[String, Double] =
    Map("heap_growth_kb_per_op" -> (heapLiveMb() - before) * 1024 / ops)

  /** Live heap after a full collection, in MB. Spark's context cleaner
    * frees the blocks of collected broadcasts and shuffles on its own
    * thread after a collection, so the heap is collected again once it had
    * time to. */
  private def heapLiveMb(): Double = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  // ------------------------------------------------------------ IVF shared

  private val embeddingSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def vectorFrame(first: Long, vecs: Array[Array[Float]],
      labels: Int => Int): DataFrame = {
    val rows = vecs.indices.map(i => Row(first + i, labels(i), vecs(i)))
    spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), embeddingSchema)
  }

  private def documentFrame(texts: Array[String]): DataFrame = {
    val rows = texts.indices.map(i => Row(i.toLong, texts(i)))
    spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism),
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))
  }

  /** The served index's set-up: write the embeddings table, build the
    * index over it (offline `clusters.py`), open it as a serving process
    * would, merge the arriving segments into it (daily ingest) and write
    * the documents table the doc fetch joins (`texts(i)` is the text of
    * vec_id i, base and merged rows alike). */
  private def ivfSetup(corpus: Gen.VecCorpus, segs: Array[Array[Array[Float]]],
      texts: Array[String], dir: String): (IvfIndex, DataFrame) = {
    val emb = s"${a.work}/$dir/embeddings"
    vectorFrame(0L, corpus.vectors, corpus.labels).write.parquet(emb)
    logged("build")(trace.span("build") {
      engine.buildIndex(spark.read.parquet(emb), s"$dir/index", NumClusters, a.seed)
    })
    val idx = trace.span("open_index")(engine.openIndex(s"$dir/index"))
    segs.indices.foreach { s =>
      val seg = s"${a.work}/$dir/segment$s"
      vectorFrame(corpus.n + s.toLong * IngestSegmentSize, segs(s), _ => -1).write.parquet(seg)
      logged(s"merge $s")(trace.span("merge")(idx.mergeSegment(spark.read.parquet(seg))))
    }
    val path = s"${a.work}/$dir/documents"
    documentFrame(texts).write.parquet(path)
    (idx, spark.read.parquet(path))
  }

  private def hitsOf(rows: Array[Row]): Seq[Oracle.Hit] =
    rows.map(r => Oracle.Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq

  /** One top-k answer against the oracle; returns its recall@k. */
  private def checkAnswer(what: String, hits: Seq[Oracle.Hit], q: Array[Float],
      vectorOf: Long => Array[Float], exact: Seq[Oracle.Hit]): Double = {
    check(hits.length == K, s"$what: ${hits.length} rows, want $K")
    Oracle.checkRanked(hits, vectorOf, q).foreach(m => check(false, s"$what: $m"))
    Oracle.recall(hits.map(_.vecId), exact.map(_.vecId), K)
  }

  /** Index files and bytes on disk. */
  private def indexFiles(idx: IvfIndex): (Long, Long) = {
    val p = new org.apache.hadoop.fs.Path(idx.indexDir)
    val fs = p.getFileSystem(sc.hadoopConfiguration)
    val it = fs.listFiles(p, true)
    var n = 0L; var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }

  /** Plain-JVM float[] dot products over the rows of the probed clusters
    * (the reference row for the fine scan): GB of vectors read per second.
    * `vectors(i)` is the vector of vec_id i. */
  private def dotGbps(idx: IvfIndex, vectors: Array[Array[Float]],
      queries: Seq[Array[Float]], nProbe: Int): Double = {
    val byCluster = idx.vectors.select(col("vec_id"), col("cluster")).collect()
      .groupBy(_.getInt(1))
      .map { case (c, rs) => c -> rs.map(r => vectors(r.getLong(0).toInt)) }
    var sink = 0.0; var bytes = 0L; var nanos = 0L
    for (pass <- 0 until 3; q <- queries) { // pass 0 warms the JIT, untimed
      val probed = idx.coarseProbes(q, nProbe).flatMap(c => byCluster.getOrElse(c, Array.empty[Array[Float]]))
      val t0 = System.nanoTime()
      probed.foreach { v =>
        var d = 0f; var i = 0
        while (i < v.length) { d += v(i) * q(i); i += 1 }
        sink += d
      }
      if (pass > 0) {
        nanos += System.nanoTime() - t0
        bytes += probed.length.toLong * q.length * 4
      }
    }
    if (sink == 42.0) System.err.println("dot sink") // keeps the loop live
    bytes / (nanos / 1e9) / 1e9
  }

  // -------------------------------------------------------------- ivf_point

  /** One point request: the top-k search, then the doc fetch of its hits. */
  private def pointRequest(idx: IvfIndex, docs: DataFrame,
      q: Array[Float]): (Array[Row], Array[Row], Double) = {
    val s0 = System.nanoTime()
    trace.request("request") {
      val df = trace.span("open")(engine.search(idx, q, K, a.nProbe))
      trace.span("plan")(df.queryExecution.executedPlan)
      val hits = trace.span("exec")(df.collect())
      val searchMs = (System.nanoTime() - s0) / 1e6
      if (trace.recording) layers.recordPlan(df)
      val snippets = trace.span("fetch") {
        engine.searchDocs(spark.createDataFrame(
          java.util.Arrays.asList(hits: _*), df.schema), docs).collect()
      }
      (hits, snippets, searchMs)
    }
  }

  private def ivfPoint(): Result = {
    val corpus = Gen.vectors(a.seed, VecShape)
    val segs = Gen.segments(a.seed, VecShape, IngestSegments, IngestSegmentSize)
    val vectors = corpus.vectors ++ segs.flatten
    val texts = corpus.texts ++ Gen.segmentTexts(a.seed, vectors.length - corpus.n)
    val ((idx, docs), setupS) = setups(1) { dir =>
      val (idx, docs) = ivfSetup(corpus, segs, texts, dir)
      trace.untraced(pointRequest(idx, docs, corpus.queries.last)) // time to first answer
      (idx, docs)
    }
    // the index checks need no timed answer, so they run first, where they
    // also warm the JIT on the search paths
    val (byQuery, recall) = trace.untraced {
      val r = logged("index checks")(checkIndex(idx, vectors, corpus.n, corpus.queries))
      logged("warm-up")(for (w <- 1 to WarmUpOps)
        pointRequest(idx, docs, corpus.queries(corpus.queries.length - 1 - w)))
      r
    }
    val heap = heapLiveMb()
    val searchMs = ArrayBuffer.empty[Double]
    val answers = ArrayBuffer.empty[(Int, Array[Row], Array[Row])]
    val gc0 = layers.gcMs()
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || seconds(t0) < a.seconds) {
      val qi = i % BatchSize
      val (hits, snippets, ms) = pointRequest(idx, docs, corpus.queries(qi))
      searchMs += ms
      opMs += ms
      answers += ((qi, hits, snippets))
      i += 1
    }
    val wall = seconds(t0)
    val gcMs = layers.gcMs() - gc0

    answers.foreach { case (qi, hits, snippets) =>
      check(hitsOf(hits) == byQuery(qi.toLong),
        s"query $qi: point search ${hitsOf(hits)} differs from the batch answer ${byQuery(qi.toLong)}")
      val snip = snippets.map(r => r.getAs[Long]("vec_id") -> r.getAs[String]("snippet")).toMap
      check(snip.keySet == hitsOf(hits).map(_.vecId).toSet,
        s"query $qi: snippets for ${snip.keySet}, hits ${hitsOf(hits).map(_.vecId)}")
      snip.foreach { case (id, s) =>
        check(s == texts(id.toInt).take(200), s"query $qi: snippet of $id is not its text's first 200 chars")
      }
    }

    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", median(searchMs.toSeq), "ms"),
      ("throughput_per_s", answers.length / wall, "1/s"),
      ("recall", recall, "ratio"),
      ("heap_live_mb", heap, "MB"))
    finish(answers.length, e2e, () => {
      val qs = answers.map(x => corpus.queries(x._1)).toSeq
      ivfLayers(idx, "request", layers.scanProbes(idx, qs, a.nProbe), gcMs,
        layers.coarseMs(idx, qs, a.nProbe), dotGbps(idx, vectors, qs, a.nProbe)) ++
        layers.fetch() ++ layers.merge() ++ heapGrowth(heap, answers.length)
    })
  }

  /** The checks of the served index that need no timed answer: row count
    * after the merges, the served answers of the first `BatchSize` held-out
    * queries (one searchBatch at the served nProbe, each against the
    * oracle: sims, order, recall), exact answers at full probe, recall
    * monotone in nProbe, and every merged vector (ids from `base` on)
    * reachable by its own query. Returns the served answers by query and
    * their mean recall@k. */
  private def checkIndex(idx: IvfIndex, vectors: Array[Array[Float]], base: Int,
      queries: Array[Array[Float]]): (Map[Long, Seq[Oracle.Hit]], Double) = {
    val total = vectors.length
    val ids = Array.tabulate(total)(_.toLong)
    val exact = scala.collection.mutable.Map.empty[Int, Seq[Oracle.Hit]]
    def exactOf(qi: Int) = exact.getOrElseUpdate(qi, Oracle.exactTopK(vectors, ids, queries(qi), K))

    val count = logged("check: count")(idx.vectors.count())
    check(count == total, s"index holds $count rows after the merges, want $total")

    val byQuery = logged("check: served batch")(
      batchAnswers(engine.searchBatch(idx, queryFrame(queries, 0, BatchSize), K, a.nProbe).collect()))
    check(byQuery.size == BatchSize, s"recall batch: ${byQuery.size} queries answered, want $BatchSize")
    val recalls = logged("check: oracle")(byQuery.toSeq.map { case (qi, hits) =>
      checkAnswer(s"query $qi", hits, queries(qi.toInt), id => vectors(id.toInt), exactOf(qi.toInt))
    })

    // full probe is exact search, on the point path and on the batch path
    // (32 held-out queries and 16 merged vectors, ids from `base` on)
    val got = logged("check: point full probe")(hitsOf(engine.search(idx, queries(0), K, NumClusters).collect()))
    check(got == exactOf(0), s"query 0 at nProbe=$NumClusters: $got is not the exact top-$K")
    val merged16 = (base until base + 16).map(i => (i.toLong, vectors(i)))
    val fullProbe = logged("check: batch full probe")(batchAnswers(engine.searchBatch(idx,
      queryFrame((0 until 32).map(i => (i.toLong, queries(i))) ++ merged16), K, NumClusters).collect()))
    merged16.foreach { case (id, v) =>
      val hits = fullProbe.getOrElse(id, Nil)
      check(hits == Oracle.exactTopK(vectors, ids, v, K),
        s"merged vector $id at full probe: $hits is not the exact top-$K")
    }
    // recall never falls as nProbe rises (batch path, 32 queries)
    val sweep = Seq(5, 20, NumClusters).map { p =>
      val answers =
        if (p == NumClusters) fullProbe
        else if (p == a.nProbe) byQuery
        else logged(s"check: batch nProbe=$p")(
          batchAnswers(engine.searchBatch(idx, queryFrame(queries, 0, 32), K, p).collect()))
      p -> (0L until 32L).map { qi =>
        val hits = answers.getOrElse(qi, Nil)
        if (p == NumClusters) check(hits == exactOf(qi.toInt), s"query $qi at nProbe=$p: $hits is not the exact top-$K")
        Oracle.recall(hits.map(_.vecId), exactOf(qi.toInt).map(_.vecId), K)
      }.sum / 32
    }
    System.err.println(s"perfbench: recall@$K by nProbe: ${sweep.map { case (p, r) => f"$p:$r%.4f" }.mkString(" ")}")
    sweep.zip(sweep.drop(1)).foreach { case ((p0, r0), (p1, r1)) =>
      check(r1 >= r0, s"recall fell from $r0 at nProbe=$p0 to $r1 at nProbe=$p1")
    }

    // every merged vector is reachable by its own query: at nProbe=2 it is
    // its own top hit (its cluster is its nearest centroid)
    val self = logged("check: merged self")(
      batchAnswers(engine.searchBatch(idx, queryFrame(vectors, base, total - base), K, 2).collect()))
    check(self.size == total - base, s"${self.size} of ${total - base} merged vectors answered")
    self.foreach { case (qi, hits) =>
      check(hits.headOption.exists(h => h.vecId == qi && h.sim == 1.0),
        s"merged vector $qi is not its own top hit: ${hits.take(2)}")
    }
    (byQuery, recalls.sum / recalls.length)
  }

  /** The per-layer metrics of the IVF workload. */
  private def ivfLayers(idx: IvfIndex, op: String, scanMs: Double,
      gcMs: Double, coarseMs: Double, dotGbps: Double): Map[String, Double] = {
    counters.drain(sc)
    val common = layers.common(op, scanMs, gcMs)
    val (files, bytes) = indexFiles(idx)
    common ++ layers.build(sc.defaultParallelism) ++ Map(
      "coarse_pct" -> 100.0 * coarseMs / common("op_ms"),
      "index_files" -> files.toDouble, "index_bytes" -> bytes.toDouble,
      "dot_gbps" -> dotGbps)
  }

  // ----------------------------------------------------------- batch path

  private def queryFrame(qs: Array[Array[Float]], from: Int, n: Int): DataFrame =
    queryFrame((from until from + n).map(i => (i.toLong, qs(i))))

  /** A query frame of (query_id, embedding) pairs. */
  private def queryFrame(qs: Seq[(Long, Array[Float])]): DataFrame = {
    val rows = qs.map { case (id, q) => Row(id, q) }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false))))
  }

  /** searchBatch rows grouped per query, each in the engine's rank order
    * `rn` (sim DESC, vec_id ASC). */
  private def batchAnswers(rows: Array[Row]): Map[Long, Seq[Oracle.Hit]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (qi, rs) =>
      qi -> rs.sortBy(_.getAs[Long]("rn")).map(r =>
        Oracle.Hit(r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    }

  // ----------------------------------------------------------------- curate

  private def curate(): Result = {
    val corpus = Gen.documents(a.seed, DocShape)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val rows = corpus.docs.toSeq.map(x => Row(x.docId, x.text, x.lang, x.source, x.text.length.toLong))
    val (docsDir, setupS) = setups(CurateSetupReps) { dir =>
      val d = s"${a.work}/$dir/documents"
      spark.createDataFrame(sc.parallelize(rows, sc.defaultParallelism), docSchema).write.parquet(d)
      d
    }
    val docs = spark.read.parquet(docsDir)

    def op(name: String)(frame: => DataFrame): Array[Row] = trace.span(name) {
      val o0 = System.nanoTime()
      val df = trace.span("open")(frame)
      trace.span("plan")(df.queryExecution.executedPlan)
      val rows = trace.span("exec")(df.collect())
      if (trace.recording) {
        layers.recordPlan(df)
        layers.pollStorage(sc)
      }
      System.err.println(f"perfbench: $name ${seconds(o0)}%.2f s, ${rows.length} rows")
      rows
    }
    def pass(): Map[String, Array[Row]] = {
      val out = Map(
        "exact" -> op("exact")(engine.exactDuplicates(docs)),
        "candidates" -> op("candidates")(engine.nearDuplicateCandidates(docs)),
        "clusters" -> op("clusters")(engine.nearDupClusters(docs, MinJaccard)),
        "scrub" -> op("scrub")(engine.scrubPii(docs)),
        "quality" -> op("quality")(engine.qualityFilter(docs)),
        "curate" -> op("curate")(engine.curate(docs, MinJaccard)))
      engine.releaseCaches()
      out
    }
    // untimed passes first: the cold pass plans, code-generates and
    // JIT-compiles every op and takes about four warm passes' time, and the
    // JIT keeps speeding up the next few passes
    trace.untraced(for (_ <- 0 until CurateWarmUpPasses) pass())
    val heap = heapLiveMb()
    val passS = ArrayBuffer.empty[Double]
    var last: Map[String, Array[Row]] = Map.empty
    val gc0 = layers.gcMs()
    val t0 = System.nanoTime()
    while (passS.isEmpty || seconds(t0) < a.seconds) {
      val p0 = System.nanoTime()
      last = trace.request("pass")(pass())
      passS += seconds(p0)
      opMs += passS.last * 1000
    }
    val wall = seconds(t0)
    val gcMs = layers.gcMs() - gc0

    val recall = checkCurate(corpus, last)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("latency_p50_ms", median(passS.toSeq) * 1000, "ms"),
      ("throughput_per_s", passS.length * corpus.docs.length / wall, "1/s"),
      ("recall", recall, "ratio"),
      ("heap_live_mb", heap, "MB"))
    finish(passS.length * layers.CurateOps.length, e2e, () => {
      // each op reads the documents table at least once; scan_ms counts
      // one scan per op
      val scan = layers.scanMs(docs) * layers.CurateOps.length
      counters.drain(sc)
      layers.common("pass", scan, gcMs) ++ layers.curateOps(passS.length) ++
        heapGrowth(heap, passS.length)
    })
  }

  /** The curate checks; returns the share of planted near-duplicate pairs
    * among the LSH candidates. */
  private def checkCurate(corpus: Gen.DocCorpus, out: Map[String, Array[Row]]): Double = {
    val texts = corpus.texts
    // exact dedup: one row per distinct text, keeping its lowest doc id
    val distinct = new java.util.HashSet[String]()
    corpus.docs.foreach(d => distinct.add(d.text))
    val exact = out("exact")
    check(exact.length == distinct.size, s"exactDuplicates: ${exact.length} groups, ${distinct.size} distinct texts")
    val keepWant = corpus.docs.groupBy(_.text).values.map(ds => (ds.map(_.docId).min, ds.length.toLong)).toSet
    val keepGot = exact.map(r => (r.getAs[Long]("keep_doc_id"), r.getAs[Long]("n_copies"))).toSet
    check(keepGot == keepWant, "exactDuplicates: kept ids or copy counts differ from the distinct-text groups")

    // LSH candidates: recall of the planted family pairs
    val cand = out("candidates").map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    check(cand.forall { case (x, y) => x < y }, "nearDuplicateCandidates: a pair is not ordered doc_a < doc_b")
    val planted = corpus.families.toSeq.flatMap(f =>
      f.toSeq.combinations(2).map(p => (p.min, p.max)))
    val pairRecall = planted.count(cand.contains).toDouble / planted.length

    // clustering: every family in one cluster, labelled by its lowest id
    val labels = out("clusters").map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_rep")).toMap
    corpus.families.foreach { f =>
      val reps = f.map(labels.get).distinct
      check(reps.length == 1 && reps.head.isDefined,
        s"nearDupClusters: family ${f.mkString(",")} split over clusters ${reps.mkString(",")}")
    }
    labels.groupBy(_._2).foreach { case (rep, ms) =>
      check(ms.keys.min == rep, s"nearDupClusters: cluster $rep is not labelled by its lowest doc id")
    }

    // PII: counts per kind, and the scrubbed text's hash equals the text
    // with each planted value replaced by its placeholder
    val scrub = out("scrub")
    check(scrub.length == corpus.docs.length, s"scrubPii: ${scrub.length} rows for ${corpus.docs.length} docs")
    scrub.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val p = corpus.pii.getOrElse(id, Nil)
      def n(kind: String) = p.count(_.kind == kind)
      check(r.getAs[Int]("n_emails") == n("EMAIL") && r.getAs[Int]("n_ips") == n("IP") &&
        r.getAs[Int]("n_phones") == n("PHONE"), s"scrubPii: doc $id counts differ from the planted $p")
      check(r.getAs[Long]("scrub_h60") == Oracle.h60(Oracle.scrubbed(texts(id), p)),
        s"scrubPii: doc $id scrubbed text differs from the planted values replaced")
    }

    // quality filter: one verdict per doc; a PII-free doc with fewer than
    // MinTokens words is never kept
    val quality = out("quality").map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    check(quality.size == corpus.docs.length, s"qualityFilter: ${quality.size} verdicts for ${corpus.docs.length} docs")
    corpus.docs.foreach { d =>
      if (!corpus.pii.contains(d.docId) && d.text.split(' ').length < graft.operators.TextAnalysis.MinTokens)
        check(!quality.getOrElse(d.docId, true), s"qualityFilter: short doc ${d.docId} kept")
    }

    // curate: survivors passed the filter, carry distinct texts, at most
    // one per family, and report their planted PII
    val survivors = out("curate")
    val ids = survivors.map(_.getAs[Long]("doc_id"))
    check(ids.forall(id => quality.getOrElse(id, false)), "curate: a survivor failed the quality filter")
    check(ids.map(texts).distinct.length == ids.length, "curate: two survivors share a text")
    val idSet = ids.toSet
    corpus.families.foreach { f =>
      check(f.count(idSet.contains) <= 1, s"curate: family ${f.mkString(",")} kept more than once")
    }
    survivors.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val p = corpus.pii.getOrElse(id, Nil)
      check(r.getAs[Int]("n_emails") == p.count(_.kind == "EMAIL") &&
        r.getAs[Int]("n_ips") == p.count(_.kind == "IP") &&
        r.getAs[Int]("n_phones") == p.count(_.kind == "PHONE"), s"curate: doc $id PII counts differ from the planted $p")
    }
    pairRecall
  }

  // ----------------------------------------------------------------- result

  /** Untraced: the end-to-end metrics. Traced: the per-layer metrics, and
    * the spans written to `<work>/trace.jsonl`. */
  private def finish(attempted: Long, e2e: Seq[(String, Double, String)],
      perLayer: () => Map[String, Double]): Result = {
    System.err.println(s"perfbench: op latencies ms: ${opMs.map(x => f"$x%.0f").mkString(" ")}")
    if (!a.trace) Result(failures.toSeq, attempted, 0, e2e)
    else {
      val m = layers.render(perLayer())
      trace.write(new File(a.work, "trace.jsonl"))
      Result(failures.toSeq, attempted, 0, m)
    }
  }
}
