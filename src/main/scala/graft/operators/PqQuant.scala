package graft.operators

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.dotProduct

/** Product quantization (PQ) for the embedding column — the aggressive
  * memory-footprint scale path: split each vector into [[M]] subvectors,
  * k-means each subspace into [[SubCodes]] codewords, store one small code
  * per subspace. At the testdata shape (64 dims → 8 codes) that is 32× fewer
  * stored bytes than raw f32 (vs [[SqQuant]]'s 4×); queries scan codes and
  * score through a per-query lookup table (ADC — asymmetric distance
  * computation), never touching raw vectors. The reference holds raw f32
  * only (`IVF.cpp:456-486`); PQ is the standard next step for corpora whose
  * raw vectors no longer fit the scan budget.
  *
  * Determinism/portability: codebooks are trained once (MLlib k-means,
  * fixed seed) and EXPORTED — like [[IvfIndex]], the DuckDB oracle replays
  * encoding and search over the exported artifacts instead of re-training.
  * Encoding argmax and ADC scoring follow the engine-wide contract: scores
  * rounded to 6 dp before comparisons, ties to the lower code id, and the
  * per-subspace partial sums fold in subspace order on both engines.
  *
  * Scale posture: training fits M tiny models over a sampled/full scan
  * (driver holds M×[[SubCodes]]×sub floats — KBs); encoding is one
  * broadcast join against the codebook with partial+final argmax (shuffle
  * carries rows×M code candidates, never rows×M×[[SubCodes]]; a zero-shuffle
  * per-row HOF argmin over literal codebooks is the documented alternative);
  * ADC search is a pure per-row projection over two literal lookup tables —
  * scan-speed, zero shuffle, TakeOrderedAndProject top-k.
  */
object PqQuant {

  /** Number of subspaces (codes per vector). */
  val M = 8
  /** Codewords per subspace (16 ⇒ a code fits 4 bits; stored as INT here). */
  val SubCodes = 16

  /** Trained product quantizer: `codebooks(m)(c)` is the codeword vector of
    * code `c` in subspace `m`, length [[sub]]. Driver-local KBs. */
  final case class Model(sub: Int, codebooks: Array[Array[Array[Float]]])

  /** Train per-subspace k-means codebooks (seed + m per subspace so the
    * subspace models are independent but reproducible). */
  def train(embeddings: DataFrame, dim: Int, seed: Long = 42L): Model = {
    require(dim % M == 0, s"dim $dim must be divisible by M=$M")
    val sub = dim / M
    val cbs = (0 until M).map { m =>
      val sliced = embeddings.select(
        array_to_vector(slice(col("embedding"), m * sub + 1, sub)).as("features"))
      val centers = new KMeans()
        .setK(SubCodes).setSeed(seed + m).setMaxIter(20)
        .setFeaturesCol("features").setPredictionCol("code")
        .fit(sliced)
        .clusterCenters.map(_.toArray.map(_.toFloat))
      // MLlib returns FEWER centers when a subspace has < SubCodes distinct
      // subvectors; search()'s flattened lookup tables assume the full
      // SubCodes stride per subspace — fail loudly at train time instead of
      // an index-out-of-bounds at query time
      require(centers.length == SubCodes,
        s"subspace $m trained ${centers.length} < $SubCodes codewords — " +
          "the corpus has too few distinct subvectors for PQ at this width")
      centers
    }.toArray
    Model(sub, cbs)
  }

  /** Codebook as a (m, code, cw) DataFrame — M×[[SubCodes]] rows, broadcast-
    * tiny; also the export artifact the oracle replays. */
  def codebookDf(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    (for {
      m <- 0 until M
      c <- model.codebooks(m).indices
    } yield (m, c, model.codebooks(m)(c).toSeq)).toDF("m", "code", "cw")
      .select(col("m"), col("code"),
        col("cw").cast("array<float>").as("cw"))
  }

  /** Encode every vector: `(vec_id, label, codes ARRAY<INT>)`, `codes(m)` =
    * the subspace-m codeword maximizing `2·⟨sv,cw⟩ − ⟨cw,cw⟩` (argmin L2
    * distance with the row-constant ‖sv‖² dropped), 6-dp-rounded with ties
    * to the lower code. Broadcast codebook join → per-(vector, subspace)
    * partial+final argmax → per-vector code assembly in subspace order. */
  def encode(spark: SparkSession, embeddings: DataFrame, model: Model): DataFrame = {
    val cb = codebookDf(spark, model)
    embeddings.select(col("vec_id"), col("label"), col("embedding"))
      .join(broadcast(cb))
      .withColumn("sv",
        slice(col("embedding"), col("m") * model.sub + 1, lit(model.sub)))
      .withColumn("score",
        round(lit(2.0) * dotProduct(col("sv"), col("cw")) -
          dotProduct(col("cw"), col("cw")), 6))
      .groupBy(col("vec_id"), col("label"), col("m"))
      .agg(max(struct(col("score"), (-col("code")).as("negc"))).as("best"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sort_array(collect_list(struct(col("m"), (-col("best.negc")).as("code"))))
        .as("mc"))
      .select(col("vec_id"), col("label"),
        transform(col("mc"), e => e.getField("code")).as("codes"))
  }

  /** ADC top-k over an encoded table: per query, build the two M×[[SubCodes]]
    * lookup tables on the driver (T = ⟨q_m, cw⟩ partial dots, N = ‖cw‖²
    * partial norms), then score each row by pure per-code lookups:
    * `sim = ΣT / (sqrt(ΣN) · ‖q‖ + 1e-8)` — the reference cosine with the
    * vector reconstructed from its codewords. Partial sums fold in subspace
    * order (index-lambda transform + left fold) for cross-engine parity. */
  def search(codes: DataFrame, model: Model, query: Array[Float], k: Int): DataFrame = {
    val sub = model.sub
    val qd = query.map(_.toDouble)
    val qNorm = math.sqrt(qd.map(x => x * x).sum)
    val tTab = Array.tabulate(M * SubCodes) { i =>
      val m = i / SubCodes; val c = i % SubCodes
      var s = 0.0
      var j = 0
      while (j < sub) { s += qd(m * sub + j) * model.codebooks(m)(c)(j); j += 1 }
      s
    }
    val nTab = Array.tabulate(M * SubCodes) { i =>
      val m = i / SubCodes; val c = i % SubCodes
      var s = 0.0
      var j = 0
      while (j < sub) { val x = model.codebooks(m)(c)(j).toDouble; s += x * x; j += 1 }
      s
    }
    def lookSum(tab: Array[Double]) =
      aggregate(
        transform(col("codes"), (c, m) =>
          element_at(typedLit(tab.toSeq), m * SubCodes + c + 1)),
        lit(0.0), (acc, x) => acc + x)
    codes
      .withColumn("sim",
        round(lookSum(tTab) / (sqrt(lookSum(nTab)) * qNorm + 1e-8), 6))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("sim"))
  }

  // ---------------------------------------------------------------- export

  /** Deterministic export path for an sfDir — a PURE function of the config,
    * usable by a keyed oracle render before the training has run in this JVM
    * (verdict r10 #2). [[forSfDir]] writes here. */
  def exportPathFor(sfDir: String): String = java.nio.file.Paths
    .get("target", "pq-export", graft.SfPath.safe(sfDir)).toAbsolutePath.toString

  /** Train-or-reuse the quantizer + encoded table for a testdata dir; export
    * codebook and codes parquet for the oracle replay. The encoded table is
    * read back from its own export — the production shape (codes are a
    * persisted index artifact, not recomputed per query). */
  def forSfDir(spark: SparkSession, sfDir: String, dim: Int): (Model, DataFrame) =
    graft.sources.Artifact.memo(s"pq#$sfDir") {
      val exportDir = exportPathFor(sfDir)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val model = train(emb, dim)
      codebookDf(spark, model)
        .coalesce(1).write.mode("overwrite").parquet(s"$exportDir/codebook")
      encode(spark, emb, model)
        .write.mode("overwrite").parquet(s"$exportDir/codes")
      (model, spark.read.parquet(s"$exportDir/codes"))
    }

  /** IVF×PQ composition — BOTH scale levers in one artifact: the PQ codes
    * written INSIDE the cluster-partitioned inverted file, so a probe-pruned
    * fine scan (`PartitionFilters` on `cluster`) reads nProbe/k of the
    * corpus AND only 8 int codes per row instead of the raw vector. This is
    * the layout a 100 TB ANN deployment actually serves from (FAISS
    * IVFPQ's directory analog); [[IvfIndex.searchQuantized]] is the same
    * composition at SQ8 compression. Codes are identical to [[forSfDir]]'s
    * (same model, same vectors), so the flat-ADC oracle artifacts replay
    * this search too. */
  def forSfDirIvf(spark: SparkSession, sfDir: String, dim: Int,
      numClusters: Int): (Model, DataFrame) = {
    val (model, _) = forSfDir(spark, sfDir, dim)
    // keyed per (sfDir, numClusters) like the cache entry: a fixed path
    // would let a later build for a different cluster count overwrite the
    // files a live cached DataFrame lazily re-lists
    val dir = java.nio.file.Paths.get("target", "pq-export",
      s"${graft.SfPath.safe(sfDir)}-ivfcodes-k$numClusters").toAbsolutePath.toString
    val codes = graft.sources.Artifact.memo(s"pq-ivf#$sfDir#$numClusters") {
      val idx = IvfIndex.forSfDir(spark, sfDir, numClusters)
      encode(spark, idx.vectors, model)
        .join(idx.vectors.select(col("vec_id"), col("cluster")), Seq("vec_id"))
        .repartition(numClusters, col("cluster"))
        .write.mode("overwrite").partitionBy("cluster").parquet(dir)
      spark.read.parquet(dir)
    }
    (model, codes)
  }

  // --------------------------------------------------------------- oracles

  /** DuckDB fragment: subspace-m slice of a double list `v` (1-based). */
  private def sliceSql(v: String, sub: Int): String =
    s"list_transform(generate_series(1, $sub), j -> $v[m * $sub + j])"

  /** Oracle for the encoded table (`pq_codes` as c0..c{M-1} columns): replay
    * the argmax encoding over the exported codebook. */
  def codesOracleSql(embTable: String, sub: Int,
      pqExportDir: String): String = {
    val codeCols = (0 until M).map(m =>
      s"CAST(SUM(CASE WHEN m = $m THEN code END) AS INT) AS c$m").mkString(",\n    ")
    s"""WITH cb AS (SELECT m, code, list_transform(cw, x -> CAST(x AS DOUBLE)) AS c
       |  FROM read_parquet('$pqExportDir/codebook/*.parquet')),
       |e AS (SELECT vec_id, label,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM $embTable),
       |sc AS (SELECT vec_id, label, m, code,
       |    round(2.0 * list_dot_product(${sliceSql("v", sub)}, c) -
       |      list_dot_product(c, c), 6) AS score
       |  FROM e, cb),
       |r AS (SELECT vec_id, label, m, code,
       |    row_number() OVER (PARTITION BY vec_id, m
       |      ORDER BY score DESC, code ASC) AS rn
       |  FROM sc)
       |SELECT vec_id, label,
       |    $codeCols
       |FROM r WHERE rn = 1 GROUP BY vec_id, label ORDER BY vec_id""".stripMargin
  }

  /** Oracle for the IVF×PQ probe search: coarse probes replayed from the IVF
    * centroid export, candidate set from the IVF assignment export, ADC over
    * the (flat) PQ code export — the same rows and codes the pruned
    * partitioned scan reads. */
  def searchIvfPqOracleSql(embTable: String, sub: Int, k: Int,
      queryVecId: Long, nProbe: Int, ivfExportDir: String,
      pqExportDir: String): String =
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $embTable WHERE vec_id = $queryVecId),
       |cent AS (SELECT cluster, list_transform(centroid, x -> CAST(x AS DOUBLE)) AS c
       |  FROM read_parquet('$ivfExportDir/centroids/*.parquet')),
       |probes AS (SELECT cluster FROM cent, q
       |  ORDER BY list_dot_product(c, q.v) /
       |    (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(q.v, q.v)) + 1e-8) DESC,
       |    cluster ASC
       |  LIMIT $nProbe),
       |cand AS (SELECT vec_id FROM read_parquet('$ivfExportDir/assign/*.parquet')
       |  WHERE cluster IN (SELECT cluster FROM probes)),
       |cb AS (SELECT m, code, list_transform(cw, x -> CAST(x AS DOUBLE)) AS c
       |  FROM read_parquet('$pqExportDir/codebook/*.parquet')),
       |tn AS (SELECT m, code,
       |    list_dot_product(${sliceSql("q.v", sub)}, c) AS t,
       |    list_dot_product(c, c) AS nn
       |  FROM cb, q),
       |ex AS (SELECT e.vec_id, e.label, e.codes
       |  FROM read_parquet('$pqExportDir/codes/*.parquet') e
       |  JOIN cand ON cand.vec_id = e.vec_id),
       |pm AS (SELECT vec_id, label, m, codes[m + 1] AS code
       |  FROM ex, generate_series(0, ${M - 1}) g(m)),
       |j AS (SELECT pm.vec_id, pm.label, pm.m, tn.t, tn.nn
       |  FROM pm JOIN tn ON tn.m = pm.m AND tn.code = pm.code),
       |s AS (SELECT vec_id, label,
       |    list(t ORDER BY m) AS ts, list(nn ORDER BY m) AS ns
       |  FROM j GROUP BY 1, 2)
       |SELECT vec_id, label,
       |  round(list_reduce(ts, (a, b) -> a + b) /
       |    (sqrt(list_reduce(ns, (a, b) -> a + b)) *
       |     sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM s, q
       |ORDER BY sim DESC, vec_id ASC
       |LIMIT $k""".stripMargin

  /** Oracle for [[search]]: T/N lookup tables from the exported codebook,
    * codes from the exported code table, subspace-order folds. */
  def searchOracleSql(embTable: String, sub: Int, k: Int, queryVecId: Long,
      pqExportDir: String): String =
    s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM $embTable WHERE vec_id = $queryVecId),
       |cb AS (SELECT m, code, list_transform(cw, x -> CAST(x AS DOUBLE)) AS c
       |  FROM read_parquet('$pqExportDir/codebook/*.parquet')),
       |tn AS (SELECT m, code,
       |    list_dot_product(${sliceSql("q.v", sub)}, c) AS t,
       |    list_dot_product(c, c) AS nn
       |  FROM cb, q),
       |ex AS (SELECT vec_id, label, codes
       |  FROM read_parquet('$pqExportDir/codes/*.parquet')),
       |pm AS (SELECT vec_id, label, m, codes[m + 1] AS code
       |  FROM ex, generate_series(0, ${M - 1}) g(m)),
       |j AS (SELECT pm.vec_id, pm.label, pm.m, tn.t, tn.nn
       |  FROM pm JOIN tn ON tn.m = pm.m AND tn.code = pm.code),
       |s AS (SELECT vec_id, label,
       |    list(t ORDER BY m) AS ts, list(nn ORDER BY m) AS ns
       |  FROM j GROUP BY 1, 2)
       |SELECT vec_id, label,
       |  round(list_reduce(ts, (a, b) -> a + b) /
       |    (sqrt(list_reduce(ns, (a, b) -> a + b)) *
       |     sqrt(list_dot_product(q.v, q.v)) + 1e-8), 6) AS sim
       |FROM s, q
       |ORDER BY sim DESC, vec_id ASC
       |LIMIT $k""".stripMargin
}
