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

  /** Every artifact built in this JVM: memo key → dir (or catalog table). */
  private val built = TrieMap[String, String]()

  /** `TrieMap.getOrElseUpdate` evaluates its builder outside any lock, so
    * two concurrent first readers could both run the overwrite write into one
    * directory and interleave to a corrupt table. Double-checked per-key
    * locking makes the build at-most-once: the lock is the interned key
    * (a handful of (artifact, sfDir) strings, so interning is bounded). */
  private def memo(key: String)(build: => String): String =
    built.get(key) match {
      case Some(d) => d
      case None => key.intern.synchronized(built.getOrElseUpdate(key, build))
    }

  /** Forget every build: the next read of any artifact rebuilds it. */
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
