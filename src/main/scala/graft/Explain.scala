package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: run the flagship entry, show selected physical plans, and verify
  * the scale-critical plan properties (partition pruning on the IVF fine scan,
  * broadcast joins on dim tables, pushed filters on parquet scans).
  * Usage: sbt "runMain graft.Explain [sfDir] [queryName ...]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else Seq("knn_ivf_full", "q03_region_revenue")
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-explain")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      // mirror the bench's join planning so printed plans match what runs
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "256m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)

    println("=== entry() (flagship, sf0.001) ===")
    val e = SparkEntry.entry(spark)
    e.show(5, truncate = 60)

    println("=== SQL-registered cosine_sim ===")
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb")
    spark.sql(
      """SELECT a.vec_id, cosine_sim(a.embedding, b.embedding) AS sim
        |FROM emb a JOIN emb b ON b.vec_id = 0 ORDER BY sim DESC LIMIT 3""".stripMargin)
      .show()

    names.foreach {
      case "audit" =>
        // one-line plan health check per query: shuffle count + red flags
        println(f"${"query"}%-26s exch  flags")
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
          try {
            val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
            // count DISTINCT exchange nodes by plan_id: a persisted subtree
            // (InMemoryRelation) prints once per reference, but its exchanges
            // carry the same plan_id and execute once — raw string counts
            // over-report fan-out pipelines like corpus_curate many-fold.
            // Exchange lines WITHOUT a plan_id (non-AQE subtrees, cached
            // fragments) are each distinct nodes: ADD their count instead of
            // the old all-or-nothing fallback, which silently dropped them
            // whenever ANY id-bearing exchange existed (ADVICE r4)
            val exchLines =
              "(?<!Broadcast)Exchange[^\n]*".r.findAllIn(plan).toSeq
            val ids = exchLines
              .flatMap("plan_id=(\\d+)".r.findFirstMatchIn(_).map(_.group(1)))
            val exchanges =
              ids.toSet.size + exchLines.count(!_.contains("plan_id="))
            val flags = Seq(
              Option.when(plan.contains("CartesianProduct"))("CARTESIAN!"),
              Option.when(plan.contains("SortMergeJoin"))("sortmerge"),
              Option.when(plan.contains("BroadcastHashJoin"))("bcast"),
              // any non-empty PartitionFilters (cluster OR bucket layouts)
              Option.when(
                "PartitionFilters: \\[[^\\]]".r.findFirstIn(plan).isDefined)("pruned"),
              Option.when(plan.contains("TakeOrderedAndProject"))("topk")).flatten
            println(f"$n%-26s $exchanges%-5d ${flags.mkString(",")}")
          } catch { case e: Throwable => println(f"$n%-26s ERROR ${e.getMessage.take(60)}") }
        }
      case "corpus-demo" =>
        println("=== JSON corpus positional-id demo ===")
        val dir = java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get("target"), "corpus").toString
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "b.json"),
          """[{"title":"t3","text":"ddd"},{"title":"t4","text":"ccc"}]""")
        java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "a.json"),
          """[{"title":"t1","text":"zzz"},{"title":"t2","text":"aaa"}]""")
        graft.sources.JsonCorpus.read(spark, dir)
          .selectExpr("id", "regexp_extract(file, '([ab]\\\\.json)', 1) AS f", "title", "text")
          .orderBy("id").show()
      case "stream-demo" =>
        println("=== streaming micro-batch ANN serving demo ===")
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val qdir = java.nio.file.Files
          .createTempDirectory(java.nio.file.Paths.get("target"), "qs").toString
        emb.where(org.apache.spark.sql.functions.col("vec_id").isin(2L, 4L))
          .selectExpr("vec_id AS query_id", "embedding")
          .coalesce(1).write.mode("overwrite").parquet(qdir)
        val stream = spark.readStream
          .schema("query_id LONG, embedding ARRAY<FLOAT>").parquet(qdir)
        val q = graft.streaming.EventStreams.scoreQueryStream(stream, emb, k = 3) {
          batch => batch.orderBy("query_id", "rn").show(10)
        }
        q.awaitTermination()
      case n =>
        println(s"=== plan: $n ===")
        SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
