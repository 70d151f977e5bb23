package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  test("self times partition a request; jobs are charged to their span") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val sc = spark.sparkContext
      val counters = new SparkCounters
      sc.addSparkListener(counters)
      val trace = new Trace(true, sc)
      trace.request("request") {
        trace.span("open")(Thread.sleep(5))
        trace.span("exec")(sc.parallelize(1 to 100, 3).count())
      }
      counters.drain(sc)
      val spans = trace.all
      val root = spans.find(_.name == "request").get
      assert(spans.forall(_.request == root.id))
      val self = trace.selfNanos
      assert(spans.map(s => self(s.id)).sum == root.nanos)
      val exec = spans.find(_.name == "exec").get
      assert(counters.of(exec.id).jobs.get == 1 && counters.of(exec.id).tasks.get == 3)
      assert(counters.of(spans.find(_.name == "open").get.id).jobs.get == 0)
    } finally spark.stop()
  }

  test("with tracing off, spans are pass-through") {
    val trace = new Trace(false, null)
    assert(trace.request("r")(trace.span("s")(41) + 1) == 42)
    assert(trace.all.isEmpty)
  }
}
