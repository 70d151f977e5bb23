package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The full-corpus split-frozen shingle postings and the test-side class
  * posting view as real parquet artifacts (r19, the [[SpanWindowLake]] move
  * applied to the contamination scan — verdict r18 #2): the train×test
  * posting probe re-shingled the whole corpus and re-derived the test class
  * quotient per pass, rebuilding exactly what the split assignment froze —
  * both are per-(corpus version, split spec) statistics. In production the
  * postings are the ingest sink ([[graft.streaming.EventStreams
  * .shingleSetStream]]'s accumulated sets, exploded; the split column is a
  * pure doc_id projection) and the class postings are its per-version
  * compaction view over the TEST split — for a real decontamination
  * pipeline, the frozen benchmark suite. Landing them under target/ makes
  * `contamination_flags` pay only the membership probe + rollups.
  *
  *  - `postings` (doc_id, split, s) — partitioned BY SPLIT, so a serving
  *    scan of one split prunes whole directories (the
  *    [[ScrubbedLake]] read-path win); stamps the corpus signature
  *    (count + doc_id xor) AND the split-spec tag
  *    ([[graft.operators.TextAnalysis.splitSpecTag]]) in schema metadata;
  *  - `testClasses` (n_docs, cid, s) — the test shingle-set class postings,
  *    derived from the POSTINGS artifact (a rebuild never re-tokenizes);
  *  - `testShingles` (s) — the distinct test membership set, derived from
  *    `testClasses` (the broadcast side of the serving probe).
  *
  * Oracle SQL is UNCHANGED: every artifact is a deterministic function of
  * the documents table, so the DuckDB replay recomputes from source and a
  * mangled artifact byte hashes red. */
object ShinglePostingLake {

  private val postingArt = Artifact.table("posting-lake", "postings",
      write = (df, d) =>
        df.write.mode("overwrite").partitionBy("split").parquet(d)) { (s, sf) =>
    val docs = Artifact.documents(s, sf)
    Artifact.stamp(graft.operators.Dedup.shinglePostingsWithSplit(docs), "s",
      docs, extra = Map(graft.operators.Dedup.SplitSpecKey ->
        graft.operators.TextAnalysis.splitSpecTag))
  }

  private val classArt = Artifact.table("posting-lake", "test-classes") { (s, sf) =>
    graft.operators.Dedup.testClassesFromPostings(postings(s, sf))
  }

  private val shingleArt = Artifact.table("posting-lake", "test-shingles") { (s, sf) =>
    testClasses(s, sf).select(col("s")).distinct()
  }

  /** Split-frozen shingle postings `(doc_id, split, s)`, split-partitioned
    * and identity-stamped. */
  def postings(spark: SparkSession, sfDir: String): DataFrame =
    postingArt.read(spark, sfDir)

  /** Test-side shingle-set class postings `(n_docs, cid, s)` — derived
    * from the POSTINGS artifact's pruned test partition. */
  def testClasses(spark: SparkSession, sfDir: String): DataFrame =
    classArt.read(spark, sfDir)

  /** Distinct test shingle membership set `(s)` — derived from
    * [[testClasses]]; the serving probe's broadcast side. */
  def testShingles(spark: SparkSession, sfDir: String): DataFrame =
    shingleArt.read(spark, sfDir)
}
