package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The corpus top-K token vocabulary as a parquet artifact (r19 optimization
  * round): `tok_encode` and `oov_rate` each re-ran the full-corpus token
  * explode + tf rollup + top-K per query to derive a table that production
  * freezes harder than any other in this repo — the TOKENIZER VOCABULARY is
  * versioned, shipped with the model, and never recomputed at encode time.
  * The artifact is `(token, n)` for the top-K by (count desc, token asc) —
  * the exact [[graft.operators.TextAnalysis.vocabulary]] output — stamped
  * with the corpus identity pin like every lake sink; the serving rows pay
  * only their own explode + broadcast join against the K-row table. Oracle
  * SQL is UNCHANGED (the DuckDB replay recomputes the vocabulary from the
  * documents table). Keyed per (sfDir, K): a different K is a different
  * tokenizer version. */
object VocabLake {

  /** The top-`k` vocabulary `(token, n)`, stamped with the corpus
    * signature. */
  def topK(spark: SparkSession, sfDir: String, k: Int): DataFrame =
    Artifact.table("vocab-lake", s"k$k") { (s, sf) =>
      val docs = Artifact.documents(s, sf)
      Artifact.stamp(graft.operators.TextAnalysis.vocabulary(docs, k), "token", docs)
    }.read(spark, sfDir)
}
