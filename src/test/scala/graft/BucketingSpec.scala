package graft

import org.apache.spark.sql.functions._
import graft.operators.Bucketing

/** Bucketed-layout invariants: a join between two tables bucketed on the
  * join key plans WITHOUT a shuffle on either side — the write-once /
  * join-free-forever trade that matters at 100 TB. */
class BucketingSpec extends SparkSpec {

  private def dropManaged(table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // a crashed previous run can leave the location orphaned (dir on disk,
    // no catalog entry) — saveAsTable then fails LOCATION_ALREADY_EXISTS
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
  }

  /** Testdata is broadcast-small, so the planner would pick a broadcast
    * join and skip bucketing entirely; at 100 TB neither side broadcasts.
    * Disable the threshold to exercise the shape that matters at scale. */
  private def withoutBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("join of co-bucketed tables plans with zero exchanges")(withoutBroadcast {
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val lineitem = spark.read.parquet(s"$sf0001/lineitem.parquet")
    dropManaged("b_orders")
    dropManaged("b_lineitem")
    Bucketing.writeBucketed(orders, "b_orders", "o_orderkey", 4)
    Bucketing.writeBucketed(lineitem, "b_lineitem", "l_orderkey", 4)
    val joined = Bucketing.colocatedJoin(
      spark, "b_orders", "b_lineitem", "o_orderkey", "l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n${plan.take(900)}")
    assert(!plan.contains("Exchange"),
      s"co-bucketed join must not shuffle:\n${plan.take(900)}")
    // correctness: same row count as the plain (shuffled) join
    val expected = orders.join(lineitem,
      orders("o_orderkey") === lineitem("l_orderkey")).count()
    assert(joined.count() == expected)
  })

  test("groupBy on the bucket key reuses the bucket distribution")(withoutBroadcast {
    val agg = spark.table("b_lineitem")
      .groupBy(col("l_orderkey")).agg(sum(col("l_quantity")).as("q"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"groupBy on the bucket key must reuse bucketing:\n${plan.take(900)}")
    assert(agg.count() > 0)
  })

  test("forSfDir keys its cache on (sfDir, buckets), not sfDir alone") {
    // ADVICE r7: a second call with a different bucket count must build its
    // own layout — handing back the first layout's tables would silently
    // violate the equal-bucket-count precondition of the co-located join
    val (o8, l8) = graft.operators.Bucketing.forSfDir(spark, sf0001, buckets = 8)
    val (o4, l4) = graft.operators.Bucketing.forSfDir(spark, sf0001, buckets = 4)
    assert(o8 != o4 && l8 != l4, s"distinct layouts expected: $o8 vs $o4")
    // and the memoization still holds per config
    assert(graft.operators.Bucketing.forSfDir(spark, sf0001, buckets = 8) == ((o8, l8)))
    assert(spark.table(o4).count() == spark.table(o8).count())
  }

  test("the adaptive sweep keeps an explicit-count layout built earlier in the session") {
    // the scale-adaptive path drops superseded graft_bkt_*_b<N> tables, but a
    // layout an explicit-count caller built in this JVM is still handed out
    // by the memo — dropping it would break that caller's next read. A
    // private copy of the tables gives the sweep keys no other suite built.
    val dir = new java.io.File("target/bucketing-spec/sweep").getAbsolutePath
    Seq("orders", "lineitem").foreach { t =>
      spark.read.parquet(s"$sf0001/$t.parquet")
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    val (o3, l3) = Bucketing.forSfDir(spark, dir, buckets = 3)
    val (oa, la) = Bucketing.forSfDir(spark, dir)
    assert(oa != o3 && la != l3, s"adaptive layout must differ from b3: $oa")
    // the caller reads the names it already holds — no second forSfDir call
    // to rebuild what the sweep dropped
    assert(spark.table(o3).count() == spark.table(oa).count())
    assert(spark.table(l3).count() == spark.table(la).count())
    assert(Bucketing.forSfDir(spark, dir, buckets = 3) == ((o3, l3)))
  }
}
