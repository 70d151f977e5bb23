package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.{cosineSim, dotProduct, h32Sql}
import graft.functions.PortableHash

/** Random-hyperplane LSH for cosine similarity — the LSH-bucketed ANN variant
  * the builder brief names alongside IVF as the scale path (reference has only
  * IVF, `IVF.cpp:267-435`; sign-random-projection LSH is the classic
  * alternative: Charikar, STOC'02).
  *
  * Portability design: hyperplane components are NOT an RNG's output but a
  * pure function of the portable 32-bit md5 hash —
  * `r_i[d] = (h32("lsh#i#d") % 2000001 - 1000000) / 1e6 ∈ [-1, 1]` — so the
  * DuckDB oracle reproduces the bucket assignment bit-for-bit (same double
  * dot, same sign rule), and a 1000-executor cluster needs no broadcast of
  * index state at all: the "index" is [[NumBits]] constant vectors folded
  * into the codegen'd projection.
  *
  * Scale posture vs IVF: LSH assignment is a pure per-row projection (zero
  * shuffle, zero training); a production layout writes
  * `partitionBy(bucket prefix)` exactly like the IVF inverted file, and a
  * query scans only the probed buckets (Hamming-distance ≤ 1 multiprobe —
  * `nBits + 1` of `2^nBits` buckets: 9/256 ≈ 3.5% at the testdata's 8 bits,
  * 21/2^20 ≈ 0.002% at a 100 TB corpus's ~20 bits).
  */
object LshAnn {

  /** Sketch width: 2^NumBits buckets; multiprobe radius 1 probes NumBits+1 of
    * them. Size to the data: bits ≈ log2(N / target bucket size) — 8 bits
    * (256 buckets) suits the 500–2000-vector testdata; a 100 TB corpus (1e9+
    * vectors, ~1k-vector buckets) wants ~20 bits. Probed fraction stays
    * (bits+1)/2^bits either way. */
  val NumBits = 8

  /** Deterministic portable hyperplane `i` for `dim` dimensions. */
  def hyperplane(i: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      (PortableHash.h32(s"lsh#$i#$d".getBytes("UTF-8")) % 2000001L - 1000000L) / 1e6
    }

  /** Bucket id of an embedding column: bit i = sign(dot(v, r_i)) >= 0.
    * [[NumBits]] codegen dot products against literal arrays — whole-stage
    * friendly. */
  def bucketCol(emb: Column, dim: Int): Column =
    (0 until NumBits).map { i =>
      when(dotProduct(emb, typedLit(hyperplane(i, dim))) >= 0, lit(1L << i))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  /** (vec_id, bucket) assignment table — DuckDB-oracle-checked. */
  def assign(embeddings: DataFrame, dim: Int): DataFrame =
    embeddings.select(col("vec_id"), bucketCol(col("embedding"), dim).as("bucket"))

  /** DuckDB oracle for [[assign]] over table `t` (embedding ARRAY<FLOAT>). */
  def assignOracleSql(t: String, dim: Int): String = {
    val hp = s"list_transform(generate_series(0, ${dim - 1}), d -> " +
      s"(${h32Sql("('lsh#' || CAST(i AS VARCHAR) || '#' || CAST(d AS VARCHAR))")} " +
      s"% 2000001 - 1000000) / 1e6)"
    s"""WITH hp AS (SELECT i, $hp AS r
       |  FROM generate_series(0, ${NumBits - 1}) t(i)),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $t),
       |bits AS (SELECT e.vec_id,
       |    CASE WHEN list_dot_product(e.v, hp.r) >= 0
       |         THEN CAST(1 AS BIGINT) << hp.i ELSE 0 END AS b
       |  FROM e CROSS JOIN hp)
       |SELECT vec_id, CAST(SUM(b) AS BIGINT) AS bucket
       |FROM bits GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  /** DuckDB oracle for [[search]] over table `t`: replay the bucket
    * assignment ([[assignOracleSql]] CTEs), take the query row's bucket,
    * expand the Hamming≤1 multiprobe set, then exact-cosine top-k among the
    * probed rows — same math, same `sim DESC, vec_id ASC` tie-break. Fully
    * deterministic end-to-end because the hyperplanes are md5-derived. */
  def searchOracleSql(t: String, dim: Int, k: Int, queryVecId: Long): String = {
    val hp = s"list_transform(generate_series(0, ${dim - 1}), d -> " +
      s"(${h32Sql("('lsh#' || CAST(i AS VARCHAR) || '#' || CAST(d AS VARCHAR))")} " +
      s"% 2000001 - 1000000) / 1e6)"
    s"""WITH hp AS (SELECT i, $hp AS r
       |  FROM generate_series(0, ${NumBits - 1}) t(i)),
       |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $t),
       |b AS (SELECT e.vec_id,
       |    CAST(SUM(CASE WHEN list_dot_product(e.v, hp.r) >= 0
       |      THEN CAST(1 AS BIGINT) << hp.i ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN hp GROUP BY e.vec_id),
       |q AS (SELECT v FROM e WHERE vec_id = $queryVecId),
       |qb AS (SELECT bucket FROM b WHERE vec_id = $queryVecId),
       |probes AS (SELECT bucket FROM qb
       |  UNION
       |  SELECT xor(qb.bucket, CAST(1 AS BIGINT) << i) AS bucket
       |  FROM qb, generate_series(0, ${NumBits - 1}) t(i))
       |SELECT b.vec_id, b.bucket,
       |  round(list_dot_product(e.v, q.v) /
       |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM b JOIN probes p ON b.bucket = p.bucket JOIN e ON e.vec_id = b.vec_id, q
       |ORDER BY sim DESC, b.vec_id ASC
       |LIMIT $k""".stripMargin
  }

  /** Buckets within Hamming distance 1 of the query's bucket. */
  def probeBuckets(queryBucket: Long): Seq[Long] =
    queryBucket +: (0 until NumBits).map(i => queryBucket ^ (1L << i))

  /** Materialize the bucket-partitioned LSH index — the production layout the
    * scaladoc above describes, identical in shape to [[IvfIndex]]'s inverted
    * file: `(vec_id, label, embedding) PARTITIONED BY (bucket)`, one compact
    * file per bucket. A search then reads only the probed partitions. No
    * training, no centroids: the "model" is the deterministic hyperplane set,
    * so the index is pure data layout. */
  def buildIndex(embeddings: DataFrame, dim: Int, indexDir: String): Unit = {
    embeddings
      .withColumn("bucket", bucketCol(col("embedding"), dim))
      .repartition(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(indexDir)
    // a rebuild invalidates any open serve-time handle on this dir (the
    // cached relation's file index is a snapshot)
    frameCache.remove(indexDir)
  }

  /** Serve-time handle on a [[buildIndex]] layout, resolved ONCE per
    * (session, dir) — the reference's open-at-startup lifecycle
    * (`IVF.cpp:648`: a process lists/opens its index once, then serves many
    * queries). Without the memo every query re-runs partition discovery
    * over all 2^[[NumBits]] bucket directories (~0.4 s of pure file-listing
    * at local scale, and far worse on object storage); with it the listing
    * amortizes across the process lifetime while per-query partition
    * PRUNING still applies to the cached relation. [[buildIndex]]
    * invalidates the handle. A serve-time handle, not a build, so it is not
    * on `Artifact.memo`. */
  private val frameCache =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  private def indexFrame(spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    // keyed by dir with a LIVENESS check, not by a session hash (review
    // r12: identityHashCode is neither unique nor tied to liveness — a
    // dead session's entry must be replaced, never served): an entry bound
    // to another or a stopped session is rebuilt against the caller's
    frameCache.get(indexDir) match {
      case Some(df) if (df.sparkSession eq spark) &&
          !spark.sparkContext.isStopped => df
      case _ =>
        val df = spark.read.parquet(indexDir)
        frameCache.put(indexDir, df)
        df
    }

  /** Build-or-reuse the bucket-partitioned index for a testdata dir (lives
    * under ./target like [[IvfIndex.forSfDir]]) and return its absolute
    * path. Pure data layout — no trained model, so there is no oracle
    * export: the hyperplanes are md5-derived and the flat-scan oracle
    * ([[searchOracleSql]]) replays the identical bucket math. */
  def forSfDir(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      dim: Int): String =
    graft.sources.Artifact.memo(s"lsh-index#$sfDir#$dim") {
      val safe = graft.SfPath.safe(sfDir)
      val dir = java.nio.file.Paths.get("target", "lsh-index", s"$safe-b$NumBits")
        .toAbsolutePath.toString
      buildIndex(spark.read.parquet(s"$sfDir/embeddings.parquet"), dim, dir)
      dir
    }

  /** Multiprobe search over a [[buildIndex]] layout: `bucket IN (probes)`
    * becomes `PartitionFilters` on the scan — the LSH twin of the IVF
    * pruned fine scan, reading (NumBits+1)/2^NumBits of the data. Returns
    * the same (vec_id, bucket, sim) contract as [[search]]. */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, indexDir: String,
      queryVec: Array[Float], k: Int, dim: Int): DataFrame = {
    val qBucket = bucketOf(queryVec, dim)
    indexFrame(spark, indexDir)
      .where(col("bucket").isin(probeBuckets(qBucket): _*))
      .withColumn("sim", round(cosineSim(col("embedding"), typedLit(queryVec)), 6))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
      // partition discovery infers bucket as INT for 8-bit values; cast back
      // to the LONG the flat-scan search emits so both paths share one schema
      .select(col("vec_id"), col("bucket").cast("long").as("bucket"), col("sim"))
  }

  /** Driver-side bucket of a query vector (same math as [[bucketCol]]). */
  def bucketOf(queryVec: Array[Float], dim: Int): Long = {
    var b = 0L
    (0 until NumBits).foreach { i =>
      val r = hyperplane(i, dim)
      var dot = 0.0
      var d = 0
      while (d < math.min(dim, queryVec.length)) { dot += queryVec(d) * r(d); d += 1 }
      if (dot >= 0) b |= (1L << i)
    }
    b
  }

  /** ANN search: score only vectors in the probed buckets, exact-cosine top-k
    * among them (`sim DESC, vec_id ASC` — the engine's declared tie-break).
    * With a bucket-partitioned layout the `isin` prunes partitions exactly
    * like the IVF fine scan; here it evaluates on the assignment join. */
  def search(embeddings: DataFrame, queryVec: Array[Float], k: Int, dim: Int): DataFrame = {
    val qBucket = bucketOf(queryVec, dim)
    embeddings
      .withColumn("bucket", bucketCol(col("embedding"), dim))
      .where(col("bucket").isin(probeBuckets(qBucket): _*))
      .withColumn("sim", round(cosineSim(col("embedding"), typedLit(queryVec)), 6))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"), col("sim"))
  }
}
