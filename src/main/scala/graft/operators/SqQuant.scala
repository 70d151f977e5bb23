package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dotProduct

/** Scalar (int8) quantization for the embedding column — the memory-footprint
  * scale path the reference does not have (its index holds raw f32,
  * `IVF.cpp:456-486`): at 100 TB of vectors, 8-bit codes cut the scanned bytes
  * 4× and the quantization error is near-irrelevant for cosine ranking.
  * Classic per-dimension min/max scheme (as in FAISS's SQ8):
  * `q[i] = clamp(floor((x[i] - min[i]) * 255 / (max[i] - min[i]) + 0.5), 0, 255)`.
  *
  * Determinism/portability: the stats are exact per-dimension FLOAT min/max
  * (order-independent), quantize/dequantize are pure double arithmetic with
  * an explicit floor(+0.5) rounding rule (NOT round(), whose half-way
  * behavior differs across engines), so the DuckDB oracle replays the whole
  * pipeline bit-for-bit.
  *
  * Scale posture: stats are ONE partial+final aggregate collecting dim rows
  * to the driver; quantization and search are pure per-row projections over
  * literal stat arrays (zero shuffle, codegen HOFs); top-k is the usual
  * TakeOrderedAndProject. Composes with [[IvfIndex]]: quantize the
  * partitioned inverted file and the fine scan reads int8 codes.
  */
object SqQuant {

  /** Per-dimension (min, max) over the table — dim rows via partial+final agg. */
  def stats(embeddings: DataFrame, dim: Int): (Array[Double], Array[Double]) = {
    val rows = embeddings
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val mns = new Array[Double](dim)
    val mxs = new Array[Double](dim)
    rows.foreach { r =>
      val i = r.getInt(0)
      mns(i) = r.getFloat(1).toDouble
      mxs(i) = r.getFloat(2).toDouble
    }
    (mns, mxs)
  }

  /** The codebook as a PERSISTED INDEX ARTIFACT, computed once per corpus dir
    * — the same treatment [[PqQuant.forSfDir]] gives its codebook and the
    * reference gives `cluster_centroids.bin` (IVF.cpp:489-510). Round-4
    * review item #3: the self-contained [[search]] re-aggregated the whole
    * corpus per query to re-derive these dim (min, max) rows — at 100 TB a
    * full extra scan per search. Here the one stats aggregate runs at
    * build/prewarm time, the (i, mn, mx) table is exported under `target/`
    * (the production posture: codebook rides with the index), and every
    * search embeds the stats as literals. */
  def statsForSfDir(spark: SparkSession, sfDir: String,
      dim: Int): (Array[Double], Array[Double]) =
    graft.sources.Artifact.memo(s"sq8-stats#$sfDir#$dim") {
      val st = stats(spark.read.parquet(s"$sfDir/embeddings.parquet"), dim)
      val safe = graft.SfPath.safe(sfDir)
      val dir = java.nio.file.Paths.get("target", "sq8-export", s"$safe-d$dim")
        .toAbsolutePath.toString
      import spark.implicits._
      st._1.indices.map(i => (i, st._1(i), st._2(i))).toDF("i", "mn", "mx")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      st
    }

  /** int8 code column (ARRAY<INT> of 0..255) for an embedding column. */
  def quantizeCol(emb: Column, mns: Array[Double], mxs: Array[Double]): Column =
    transform(emb, (x, i) => {
      val mn = element_at(typedLit(mns), i + 1)
      val mx = element_at(typedLit(mxs), i + 1)
      when(mx > mn,
        least(greatest(
          floor((x.cast("double") - mn) * 255 / (mx - mn) + 0.5), lit(0.0)), lit(255.0))
          .cast("int"))
        .otherwise(lit(0))
    })

  /** Dequantized double vector from a code column. */
  def dequantizeCol(codes: Column, mns: Array[Double], mxs: Array[Double]): Column =
    transform(codes, (q, i) => {
      val mn = element_at(typedLit(mns), i + 1)
      val mx = element_at(typedLit(mxs), i + 1)
      mn + q.cast("double") / 255 * (mx - mn)
    })

  /** Quantized code table: `(vec_id, label, codes ARRAY<INT>)`. */
  def quantized(embeddings: DataFrame, dim: Int): DataFrame = {
    val (mns, mxs) = stats(embeddings, dim)
    embeddings.select(col("vec_id"), col("label"),
      quantizeCol(col("embedding"), mns, mxs).as("codes"))
  }

  /** Approximate top-k by cosine over DEQUANTIZED codes — what a scan over an
    * int8-quantized 100 TB index computes. Query stays in original float
    * space (cast to double). Pure double math end-to-end for oracle parity.
    * Pass `codebook` (from [[statsForSfDir]]) to scan with literal stats —
    * the production shape; omitting it recomputes the (dim-row) stats
    * aggregate per call (self-contained convenience only, a full extra
    * corpus scan at 100 TB).
    */
  def search(embeddings: DataFrame, query: Array[Float], k: Int, dim: Int,
      codebook: Option[(Array[Double], Array[Double])] = None): DataFrame = {
    val (mns, mxs) = codebook.getOrElse(stats(embeddings, dim))
    val qd = query.map(_.toDouble)
    val qLit = typedLit(qd)
    val qNorm = math.sqrt(qd.map(x => x * x).sum)
    val dq = dequantizeCol(quantizeCol(col("embedding"), mns, mxs), mns, mxs)
    embeddings
      .select(col("vec_id"), col("label"),
        explode(array(struct(dq.as("v")))).as("c"))
      .select(col("vec_id"), col("label"),
        round(dotProduct(col("c.v"), qLit) /
          (sqrt(dotProduct(col("c.v"), col("c.v"))) * qNorm + 1e-8), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
  }

  /** DuckDB oracle for [[search]] over table `t`: replay stats → quantize →
    * dequantize → cosine top-k with identical arithmetic. */
  def searchOracleSql(t: String, dim: Int, k: Int, queryVecId: Long): String =
    s"""WITH st AS (SELECT i, MIN(embedding[i]) AS mn, MAX(embedding[i]) AS mx
       |  FROM $t, generate_series(1, $dim) g(i) GROUP BY i),
       |stl AS (SELECT list(CAST(mn AS DOUBLE) ORDER BY i) AS mns,
       |  list(CAST(mx AS DOUBLE) ORDER BY i) AS mxs FROM st),
       |dq AS (SELECT vec_id, label,
       |    list_transform(generate_series(1, $dim), i ->
       |      CASE WHEN mxs[i] > mns[i] THEN mns[i] +
       |        least(greatest(floor((CAST(embedding[i] AS DOUBLE) - mns[i]) * 255
       |          / (mxs[i] - mns[i]) + 0.5), 0), 255) / 255 * (mxs[i] - mns[i])
       |      ELSE mns[i] END) AS v
       |  FROM $t, stl),
       |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $t WHERE vec_id = $queryVecId)
       |SELECT dq.vec_id, dq.label,
       |  round(list_dot_product(dq.v, q.v) /
       |    (sqrt(list_dot_product(dq.v, dq.v)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM dq, q
       |ORDER BY sim DESC, dq.vec_id ASC
       |LIMIT $k""".stripMargin
}
