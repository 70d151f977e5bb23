package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions.col

import graft.operators.IvfIndex

/** The per-layer metrics of a traced run, from the spans the workloads
  * record around each layer call, the [[SparkCounters]] listener and the
  * executed plans' SQL metrics.
  *
  * Every workload prints the same metric names. Times that every workload
  * has (open, plan, exec, scan, ...) are absolute, per operation. The self
  * time of a layer only some workloads pass through (coarse probe, doc
  * fetch, each curate op) is given as its share of the operation's traced
  * wall time, so a workload that skips the layer reports 0 % rather than a
  * timer that never ran; the set-up's index build and segment merges are
  * counted per build and per merge. */
final class Layers(trace: Trace, counters: SparkCounters) {

  private var storagePeak = 0L
  private var joinRows = 0L

  /** JVM-wide garbage-collection time so far, ms. */
  def gcMs(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Peak bytes held by cached (persisted) data, polled after each op. */
  def pollStorage(sc: SparkContext): Unit = {
    val now = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    storagePeak = math.max(storagePeak, now)
  }

  /** Adds the output rows of the joins in an executed plan (SQL metrics). */
  def recordPlan(df: DataFrame): Unit = {
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        if (other.nodeName.contains("Join"))
          joinRows += other.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        other.children.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** Time of a source scan and decode: the frame written to the `noop`
    * sink, median of `reps`, ms. */
  def scanMs(df: DataFrame, reps: Int = 3): Double =
    Workloads.median((0 until reps).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e6
    })

  /** Median scan time of one query's probed clusters, over up to 8
    * queries. */
  def scanProbes(idx: IvfIndex, queries: Seq[Array[Float]], nProbe: Int): Double =
    Workloads.median(queries.take(8).map { q =>
      scanMs(idx.vectors.where(col("cluster").isin(idx.coarseProbes(q, nProbe): _*)))
    })

  /** Coarse-probe time per query, ms. */
  def coarseMs(idx: IvfIndex, queries: Seq[Array[Float]], nProbe: Int): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      queries.foreach(q => idx.coarseProbes(q, nProbe))
      (System.nanoTime() - t0) / 1e6
    }
    once() // warm-up
    Workloads.median((0 until 3).map(_ => once())) / queries.length
  }

  val CurateOps = Seq("exact", "candidates", "clusters",
    "scrub", "quality", "curate")

  /** Every per-layer metric name with its unit, in print order. */
  val names: Seq[(String, String)] = Seq(
    "op_ms" -> "ms", "open_ms" -> "ms", "plan_ms" -> "ms", "exec_ms" -> "ms",
    "client_ms" -> "ms", "scan_ms" -> "ms", "compute_ms" -> "ms",
    "sched_delay_ms" -> "ms", "gc_ms" -> "ms",
    "jobs_per_op" -> "count", "open_jobs" -> "count", "tasks_per_op" -> "count",
    "rows_read_per_op" -> "count", "bytes_read_per_op" -> "bytes",
    "shuffle_bytes_per_op" -> "bytes", "join_rows_per_op" -> "count",
    "coarse_pct" -> "%", "fetch_pct" -> "%", "fetch_rows_scanned" -> "count",
    "merge_ms" -> "ms", "merge_jobs" -> "count",
    "build_jobs" -> "count", "build_core_util_pct" -> "%",
    "index_files" -> "count", "index_bytes" -> "bytes", "dot_gbps" -> "GB/s",
    "storage_peak_bytes" -> "bytes", "heap_growth_kb_per_op" -> "KB") ++
    CurateOps.flatMap(op => Seq(s"${op}_pct" -> "%", s"${op}_jobs" -> "count",
      s"${op}_shuffle_bytes" -> "bytes"))

  private def spansNamed(n: String) = trace.all.filter(_.name == n)

  /** The metrics common to every workload, over the root spans named
    * `op` and the spans of their requests. `scanMs` is the scan of one
    * operation's input. */
  def common(op: String, scanMsPerOp: Double, gcMsTotal: Double): Map[String, Double] = {
    val self = trace.selfNanos
    val roots = spansNamed(op)
    val rootIds = roots.map(_.id).toSet
    val inOp = trace.all.filter(s => rootIds.contains(s.request))
    val n = roots.length.toDouble
    def selfMs(name: String) = inOp.filter(_.name == name).map(s => self(s.id)).sum / 1e6 / n
    def count(spans: Seq[Trace.Span])(f: counters.Counts => Long) =
      spans.map(s => f(counters.of(s.id))).sum.toDouble
    val execMs = selfMs("exec")
    Map(
      // the mean, so that the per-op layer times below add up to it
      "op_ms" -> roots.map(_.nanos).sum / 1e6 / n,
      "open_ms" -> selfMs("open"),
      "plan_ms" -> selfMs("plan"),
      "exec_ms" -> execMs,
      "client_ms" -> roots.map(s => self(s.id)).sum / 1e6 / n,
      "scan_ms" -> scanMsPerOp,
      "compute_ms" -> (execMs - scanMsPerOp),
      "sched_delay_ms" -> count(inOp)(_.schedDelayMs.get) / n,
      "gc_ms" -> gcMsTotal / n,
      "jobs_per_op" -> count(inOp)(_.jobs.get) / n,
      "open_jobs" -> count(inOp.filter(_.name == "open"))(_.jobs.get) / n,
      "tasks_per_op" -> count(inOp)(_.tasks.get) / n,
      "rows_read_per_op" -> count(inOp.filter(_.name == "exec"))(_.recordsRead.get) / n,
      "bytes_read_per_op" -> count(inOp.filter(_.name == "exec"))(_.bytesRead.get) / n,
      "shuffle_bytes_per_op" -> count(inOp)(_.shuffleBytes.get) / n,
      "join_rows_per_op" -> joinRows / n,
      "storage_peak_bytes" -> storagePeak.toDouble)
  }

  /** Share of the `op` roots' traced wall time spent in spans named
    * `layer` (self time), %. */
  def pct(op: String, layer: String): Double = {
    val self = trace.selfNanos
    val roots = spansNamed(op)
    val rootIds = roots.map(_.id).toSet
    val layerNs = trace.all.filter(s => rootIds.contains(s.request) && s.name == layer)
      .map(s => self(s.id)).sum
    100.0 * layerNs / roots.map(_.nanos).sum
  }

  /** Index build counters from the set-up's `build` spans. */
  def build(cores: Int): Map[String, Double] = {
    val bs = spansNamed("build")
    val jobs = bs.map(s => counters.of(s.id).jobs.get).sum
    val taskMs = bs.map(s => counters.of(s.id).runMs.get).sum
    Map("build_jobs" -> jobs.toDouble / bs.length,
      "build_core_util_pct" -> 100.0 * taskMs / (bs.map(_.nanos).sum / 1e6 * cores))
  }

  /** Segment merges of the set-up: time and Spark jobs per merge. */
  def merge(): Map[String, Double] = {
    val ms = spansNamed("merge")
    Map("merge_ms" -> ms.map(_.nanos).sum / 1e6 / ms.length,
      "merge_jobs" -> ms.map(s => counters.of(s.id).jobs.get).sum.toDouble / ms.length)
  }

  def fetch(): Map[String, Double] = {
    val fs = spansNamed("fetch")
    Map("fetch_pct" -> pct("request", "fetch"),
      "fetch_rows_scanned" -> fs.map(s => counters.of(s.id).recordsRead.get).sum.toDouble / fs.length)
  }

  /** Per curate op: share of the pass, jobs and shuffle bytes per pass. */
  def curateOps(passes: Int): Map[String, Double] = {
    val total = spansNamed("pass").map(_.nanos).sum.toDouble
    CurateOps.flatMap { op =>
      val s = spansNamed(op)
      val ids = s.map(_.id).toSet
      val within = s ++ trace.all.filter(x => ids.contains(x.parent))
      Seq(s"${op}_pct" -> 100.0 * s.map(_.nanos).sum / total,
        s"${op}_jobs" -> within.map(x => counters.of(x.id).jobs.get).sum.toDouble / passes,
        s"${op}_shuffle_bytes" -> within.map(x => counters.of(x.id).shuffleBytes.get).sum.toDouble / passes)
    }.toMap
  }

  /** All names, in order; a layer the workload does not pass through reads 0. */
  def render(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    names.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }
}
