package graft.sources

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.MetadataBuilder

import graft.operators.CorpusPin

/** One lake artifact: a table built once per corpus version and then scanned
  * by the serving queries — the offline build / online load split of the
  * reference (clusters.py writes the index files, IVF.cpp:648 loads them),
  * applied to the per-corpus lakes under `target/`. This type is the only
  * owner of an artifact's lifecycle:
  *
  *  - directory: `target/<lake>/<SfPath.safe(sfDir)>/<name>` ([[dirFor]]);
  *  - build: at most once per JVM per (artifact, sfDir) — the first reader
  *    runs `build(spark, sfDir, dir)`, concurrent first readers wait on the
  *    key's lock and then read the same dir ([[path]]);
  *  - identity stamp: a build that serves a pinned query stamps its corpus
  *    signature into one column's metadata ([[Artifact.stamp]]), which
  *    [[CorpusPin.check]] verifies at serving time;
  *  - release: [[Artifact.reset]] forgets every build, so the next read of
  *    any artifact rebuilds from source (production analog: a corpus-version
  *    roll).
  *
  * The same build-once memo ([[Artifact.memo]]) and the same reset also own
  * the vector-path fixtures: the IVF index and its merged-segment twin, the
  * tuned nProbe, the SQ8 stats, the PQ codes (flat and IVF-partitioned), the
  * LSH bucket index, the dedup block count and the Count-Min sketches. A
  * handle or frame taken from any of them (or from a lake) before
  * [[Artifact.reset]] is stale afterwards: the next call rebuilds over the
  * same directory, so re-take it after a reset.
  *
  * In-JVM staleness is a declared assumption: the memo keys on
  * (artifact, sfDir) only, so a `documents.parquet` regenerated within one
  * JVM keeps serving the old build until [[Artifact.reset]]. */
private[graft] final case class Artifact(lake: String, name: String)(
    build: (SparkSession, String, String) => Unit) {

  def dirFor(sfDir: String): String =
    java.nio.file.Paths.get("target", lake, graft.SfPath.safe(sfDir), name)
      .toAbsolutePath.toString

  /** The artifact's directory for `sfDir`, built first if this JVM has not
    * built it yet. */
  def path(spark: SparkSession, sfDir: String): String =
    Artifact.memo(s"$lake/$name#$sfDir") {
      val d = dirFor(sfDir)
      build(spark, sfDir, d)
      d
    }

  def read(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(path(spark, sfDir))

  /** This artifact re-laid-out as a `key`-bucketed catalog table named
    * `<table>_<sanitized sfDir>` — built at most once per JVM, after the
    * parquet artifact it copies, with the bucket count sized from that
    * artifact's bytes ([[LakeBuckets]]). Row-identical to [[read]]; the
    * column metadata (and so the identity stamp) survives the catalog
    * round-trip. */
  def bucketed(spark: SparkSession, sfDir: String, table: String,
      key: String): DataFrame =
    spark.table(Artifact.memo(s"$table#$sfDir") {
      val t = table + "_" +
        graft.SfPath.safe(sfDir).toLowerCase.replaceAll("[^a-z0-9]", "_")
      graft.operators.Bucketing.writeBucketed(read(spark, sfDir), t, key,
        LakeBuckets.forDir(spark, dirFor(sfDir)))
      t
    })
}

private[graft] object Artifact {

  /** Every build in this JVM: memo key → its result (a lake's dir or
    * catalog table, a fixture's handle or value). */
  private val built = TrieMap[String, Any]()

  /** The one build-once memo of `graft`: `build`'s result for `key`, run at
    * most once per JVM until [[reset]]. `TrieMap.getOrElseUpdate` evaluates
    * its builder outside any lock, so two concurrent first readers could both
    * run an overwrite write into one directory (or an append twice) and
    * interleave to a corrupt table. Double-checked per-key locking makes the
    * build at-most-once: the lock is the interned key (a handful of
    * per-(artifact, config) strings, so interning is bounded). A key starts
    * with its owner's name (`ivf-index#…`, `pq#…`) so no two owners collide.
    * The four memos that stay outside it say why where they are declared. */
  private[graft] def memo[T](key: String)(build: => T): T =
    (built.get(key) match {
      case Some(v) => v
      case None => key.intern.synchronized(built.getOrElseUpdate(key, build))
    }).asInstanceOf[T]

  /** The keys built so far — for tests that assert a path built nothing. */
  private[graft] def memoKeys: collection.Set[String] = built.keySet

  /** Forget every build: the next read of any artifact or fixture rebuilds
    * it. */
  def reset(): Unit = built.clear()

  /** The common artifact: `make`'s frame, written by `write` (an overwrite
    * parquet write unless the layout needs more). */
  def table(lake: String, name: String,
      write: (DataFrame, String) => Unit = (df, d) =>
        df.write.mode("overwrite").parquet(d))(
      make: (SparkSession, String) => DataFrame): Artifact =
    Artifact(lake, name)((spark, sfDir, d) => write(make(spark, sfDir), d))

  /** The sfDir's documents table — the source every corpus artifact derives
    * from. */
  def documents(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** `df` with `column`'s metadata carrying the identity of `over` — its row
    * count and `bit_xor(doc_id)` under `pin`'s keys — plus `extra` string
    * entries. A serving query probing the artifact with a different frame
    * then fails in [[CorpusPin.check]] instead of silently mis-counting. */
  def stamp(df: DataFrame, column: String, over: DataFrame,
      pin: CorpusPin.Pin = CorpusPin.Corpus,
      extra: Map[String, String] = Map.empty): DataFrame = {
    val (n, x) = CorpusPin.signature(over)
    val m = extra.foldLeft(
      new MetadataBuilder().putLong(pin.countKey, n).putLong(pin.xorKey, x)) {
      case (b, (k, v)) => b.putString(k, v)
    }.build()
    df.withColumn(column, col(column).as(column, m))
  }
}
