package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The FULL-CORPUS per-frame perceptual-sketch table and its class quotient
  * as real parquet artifacts (r16, the [[VerifiedPairs]] move applied to the
  * media family): in production the sketch table is the accumulated sink of
  * [[graft.streaming.EventStreams.frameSketchStream]] — "payloads are
  * decoded and hashed exactly once, at ingest" is that stream's declared
  * contract, and [[IncrementalHistory.phashSketches]]/[[IncrementalHistory
  * .phashClasses]] already land the HISTORY split this way — yet the
  * full-corpus serving rows (`near_dup_frames`, `phash_docs`) re-decoded
  * and re-hashed 134M cell digests per query. Landing both tables under
  * target/ as [[Artifact]]s makes those rows read the
  * production shape: a parquet scan of what ingest already wrote (sketches)
  * plus its per-version compaction view (classes — "refreshed when the
  * artifact version rolls", the [[IncrementalHistory.phashClasses]]
  * rationale, full-corpus edition).
  *
  * Oracle SQL is UNCHANGED: both artifacts are deterministic functions of
  * the documents table, so the DuckDB replay recomputes them from source —
  * a mangled artifact byte hashes red. */
object FrameSketchLake {

  private val sketchArt = Artifact.table("phash-lake", "sketches") { (s, sf) =>
    graft.multimodal.Multimodal.phashFrames(Artifact.documents(s, sf),
      carry = Seq("lang"))
  }

  private val classArt = Artifact.table("phash-lake", "classes") { (s, sf) =>
    graft.multimodal.Multimodal.sketchClasses(sketches(s, sf))
  }

  /** Full-corpus per-frame sketch table `(doc_id, frame_no, ahash, dhash,
    * lang)` — the ingest stream's accumulated sink shape. */
  def sketches(spark: SparkSession, sfDir: String): DataFrame =
    sketchArt.read(spark, sfDir)

  /** Full-corpus sketch-class quotient `(lang, ahash, dhash, n_docs,
    * solo_doc)` — the per-version compaction view the banded Hamming
    * verdict join runs over. Derived from the SKETCH artifact (one scan),
    * not from documents, so a rebuild never re-hashes payloads. */
  def classes(spark: SparkSession, sfDir: String): DataFrame =
    classArt.read(spark, sfDir)
}
