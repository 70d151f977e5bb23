package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed table layout — the shuffle-elimination lever for repeated joins
  * at 100 TB: write both fact tables bucketed (and sorted) by their join
  * key, and every subsequent equi-join on that key co-locates bucket-to-
  * bucket with NO exchange on either side (and no sort when `sortBy`
  * matches). One shuffle paid once at write time replaces a shuffle per
  * join per query forever after — the difference between a nightly
  * pipeline that re-shuffles 100 TB per stage and one that streams
  * bucket-aligned files.
  *
  * Spark requires bucketed data to live in the catalog (`saveAsTable`);
  * the bucket count must match on both sides for the co-located plan.
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted catalog table (overwrite). Drops any
    * previous incarnation FIRST — including the orphan managed-table
    * directory a prior session leaves behind: the in-memory catalog forgets
    * the table on session exit but its warehouse location survives, and
    * `saveAsTable` refuses a "new" table whose location already exists
    * (LOCATION_ALREADY_EXISTS). A Hive-metastore deployment doesn't hit
    * this (the catalog remembers and overwrite applies); the explicit
    * delete makes the layout build idempotent under BOTH catalogs. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit = {
    val spark = df.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // repartition by the bucket key FIRST (r19 optimization round, guide
    // §6 small-files): bucketBy writes one file per (write task × bucket)
    // pair, so an N-task input fans out to N×buckets small files — measured
    // 1,024 files / 1.9× the bytes for the 32-bucket LM sink at sf10, and
    // the downstream bucket scan paid both the open cost and the lost
    // compression. Aligning the write tasks with the buckets lands each
    // bucket as ONE well-compressed file.
    df.repartition(buckets, df.col(key))
      .write.mode("overwrite").format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .saveAsTable(table)
  }

  private val cache = scala.collection.concurrent.TrieMap[String, (String, String)]()

  /** Build (once per JVM per sf dir) the bucketed orders/lineitem pair —
    * both bucketed+sorted by their order key with EQUAL bucket counts, the
    * precondition for the co-located plan — and return the catalog table
    * names. Same memoized-artifact contract as IvfIndex.forSfDir /
    * SortedLake.forSfDir: the write shuffle is paid once per layout, every
    * subsequent orderkey join streams bucket-aligned files. */
  def forSfDir(spark: SparkSession, sfDir: String,
      buckets: Int = 0): (String, String) = {
    // buckets = 0 → scale-adaptive (r19 optimization round): the old
    // constant default of 8 starved the co-located join at scale (a
    // bucketed scan schedules ONE task per bucket, so 60M sf10 lineitem
    // rows ran 8-wide on 32 cores — measured 6.4 s warm for a layout whose
    // point is to be fast). Size from the bigger side's on-disk bytes with
    // a parallelism floor ([[graft.sources.LakeBuckets]]), like the LM
    // sinks; both sides get the SAME count (the co-located precondition).
    val nBuckets = if (buckets > 0) buckets
      else graft.sources.LakeBuckets.forDir(spark, s"$sfDir/lineitem.parquet")
    // key on (sfDir, buckets) — memoizing on sfDir alone would hand a caller
    // asking for a different bucket count the FIRST layout's tables,
    // silently violating the equal-bucket-count precondition the co-located
    // plan depends on (ADVICE r7); table names carry the count for the same
    // reason (PqQuant/LshAnn forSfDir precedent)
    cache.getOrElseUpdate(s"$sfDir#$nBuckets", {
      val safe = sfDir.toLowerCase.replaceAll("[^a-z0-9]", "_")
      val ot = s"graft_bkt_orders${safe}_b$nBuckets"
      val lt = s"graft_bkt_lineitem${safe}_b$nBuckets"
      writeBucketed(spark.read.parquet(s"$sfDir/orders.parquet"),
        ot, "o_orderkey", nBuckets)
      writeBucketed(spark.read.parquet(s"$sfDir/lineitem.parquet"),
        lt, "l_orderkey", nBuckets)
      // only the scale-ADAPTIVE path sweeps: explicit counts are a caller
      // decision (tests build several on purpose — the ADVICE r7 coexistence
      // contract), while adaptive counts drift with the session's core count
      // and are where stale layouts accumulated (ADVICE r19)
      if (buckets <= 0)
        dropSupersededLayouts(spark, safe, keep = Set(ot, lt))
      (ot, lt)
    })
  }

  /** Drop superseded bucketed layouts for the same sfDir (ADVICE r19): the
    * scale-adaptive count derives from defaultParallelism at build time, so
    * sessions with different core counts materialize differently-NAMED
    * tables (`..._b8`, `..._b32`, ...) and the stale ones accumulated in
    * the warehouse with no cleanup. Sweeps both the catalog and the
    * warehouse DIRECTORY (a previous session's managed table survives only
    * as its orphan location under the in-memory catalog). Every table this
    * JVM's memo still hands out is live, whatever its count — an explicit-
    * count caller's layout from earlier in the session is never dropped. */
  private def dropSupersededLayouts(spark: SparkSession, safe: String,
      keep: Set[String]): Unit = {
    val pat = s"graft_bkt_(orders|lineitem)${java.util.regex.Pattern.quote(safe)}_b\\d+".r
    val live = (keep ++ cache.values.flatMap { case (o, l) => Seq(o, l) })
      .map(_.toLowerCase)
    def isStale(n: String): Boolean =
      pat.matches(n.toLowerCase) && !live.contains(n.toLowerCase)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphanDirs = if (fs.exists(wh))
      fs.listStatus(wh).toSeq.map(_.getPath).filter(p => isStale(p.getName))
    else Nil
    val catalogStale = spark.catalog.listTables().collect().toSeq
      .map(_.name).filter(isStale)
    (catalogStale ++ orphanDirs.map(_.getName)).distinct
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS $n"))
    orphanDirs.filter(fs.exists).foreach(fs.delete(_, true))
  }

  /** Join two bucketed tables on their bucket key — plans shuffle-free when
    * both were written with [[writeBucketed]] and equal bucket counts. When
    * the two key names coincide the join uses USING semantics (ONE key
    * column in the output) — the expression form would return two
    * same-named columns and make any downstream `select(key)` ambiguous
    * (ADVICE r4). */
  def colocatedJoin(spark: SparkSession, leftTable: String,
      rightTable: String, leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    if (leftKey == rightKey) l.join(r, Seq(leftKey))
    else l.join(r, l(leftKey) === r(rightKey))
  }
}
