package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim

/** Exact (brute-force) k-NN — the reference at nProbe = numClusters, and the
  * correctness baseline for the IVF path (`README.md:24`: n_probe=128 ⇒ exact). */
object KnnExact {

  /** Top-k by cosine over the full embedding table.
    * Plan shape: parquet scan → codegen'd cosine projection → TakeOrderedAndProject
    * (per-partition bounded heaps + driver merge — the reference's own top-k
    * algorithm at `IVF.cpp:185-263`, distributed).
    */
  def topK(embeddings: DataFrame, query: Array[Float], k: Int): DataFrame =
    embeddings
      // THE engine-wide rank contract: 6-dp rounded cosine, sim DESC then
      // vec_id ASC (oracle LIMIT boundaries order by the same rounded value;
      // an unrounded sort would diverge on near-ties). IvfIndex.search and
      // searchFiltered are this over the pruned scan; LshAnn / SqQuant
      // follow the same order over their own scores.
      // one projection, then sort + limit: each Dataset step is one more
      // analyzer pass on the serving path
      .select(col("vec_id"), col("label"),
        round(cosineSim(col("embedding"), typedLit(query)), 6).as("sim"))
      .orderBy(desc("sim"), asc("vec_id"))
      .limit(k)

  /** Fetch the query vector by id — queries are data, not code (SURVEY §1.3):
    * a 1-row lookup collected to the driver as the query parameter. */
  def queryVector(embeddings: DataFrame, vecId: Long): Array[Float] =
    embeddings.where(col("vec_id") === vecId)
      .select(col("embedding")).head()
      .getAs[Seq[Float]](0).toArray
}
