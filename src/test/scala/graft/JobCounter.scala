package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block starts from the calling thread. The block's
  * jobs carry a fresh job group; listener events arrive asynchronously but
  * in order, so once the start of a marker job submitted after the block has
  * been seen, every job the block started has been counted. */
object JobCounter {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-counter-${java.util.UUID.randomUUID()}"
    val marker = s"$group-marker"
    val jobs = new AtomicInteger
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case `marker` => markerSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "job counter marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS), "marker job start never arrived")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
