package graft

import java.util.concurrent.{ExecutionException, FutureTask, TimeUnit, TimeoutException}

import org.apache.spark.sql.SparkSession
import org.scalactic.source.Position
import org.scalatest.{Failed, Outcome, TestSuiteMixin}
import org.scalatest.exceptions.TestFailedDueToTimeoutException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Minutes, Span}

/** Shared local session for all suites (one JVM under Test/fork). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = GraftEngine.session("4", "graft-test")
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

/** Per-test time limit for specs that drive iterative operators (connected
  * components, BPE merges, the incremental drill), so a runaway loop fails
  * as a named `TestFailedDueToTimeoutException` instead of stalling the
  * suite. ScalaTest's `TimeLimitedTests` signals the test thread and then
  * waits for it to return, but a plan that explodes in Catalyst analysis
  * ignores interrupts and never returns. So the test body runs on its own
  * daemon thread; on expiry the spec cancels the session's Spark jobs,
  * interrupts that thread, reports the failure and moves on. */
trait IterativeTimeLimit extends TestSuiteMixin { this: SparkSpec =>
  def timeLimit: Span = Span(5, Minutes)

  abstract override def withFixture(test: NoArgTest): Outcome = {
    val body = new FutureTask[Outcome](() => super.withFixture(test))
    val runner = new Thread(body, s"time-limited: ${test.name}")
    runner.setDaemon(true)
    runner.start()
    try body.get(timeLimit.totalNanos, TimeUnit.NANOSECONDS)
    catch {
      case e: ExecutionException => throw e.getCause
      case _: TimeoutException =>
        spark.sparkContext.cancelAllJobs()
        runner.interrupt()
        // a plain String capture keeps the exception serializable for the
        // forked test JVM's reporter
        val msg = s"'${test.name}' did not finish within ${timeLimit.prettyString}"
        Failed(new TestFailedDueToTimeoutException(_ => Some(msg), None,
          Left(test.pos.getOrElse(Position.here)), None, timeLimit))
    }
  }
}
