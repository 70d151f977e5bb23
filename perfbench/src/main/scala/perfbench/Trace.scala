package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory span recorder for the traced run. A span is opened around each
  * call into a layer's public function; spans of one request share its
  * `request` id. Spark jobs submitted inside a span carry the span id as a
  * job-local property, so [[SparkCounters]] can charge job, task and I/O
  * counts to the span that caused them. With tracing off every call is a
  * plain pass-through. */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  import Trace._

  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private var stack: List[Long] = Nil
  private var currentRequest: Long = -1
  private var suspended = false

  /** Spans are being recorded: tracing is on and not suspended. */
  def recording: Boolean = enabled && !suspended

  /** Runs `body` without recording spans (warm-up work, checks), so the
    * per-layer figures cover the timed operations only. */
  def untraced[T](body: => T): T =
    if (!recording) body
    else {
      suspended = true
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, null)
      try body
      finally { suspended = false; sc.setLocalProperty(SpanProperty, prev) }
    }

  /** Runs `body` as one request: its spans share a fresh request id. */
  def request[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      currentRequest = ids.get() + 1 // the id the root span is about to take
      try span(name)(body) finally currentRequest = -1
    }

  def span[T](name: String)(body: => T): T =
    if (!recording) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.headOption.getOrElse(-1L)
      stack = id :: stack
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanProperty, stack.headOption.map(_.toString).orNull)
        spans += Span(id, parent, if (currentRequest < 0) id else currentRequest, name, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Self time of each span: its duration minus the part its children
    * cover (children never overlap: one client thread). */
  def selfNanos: Map[Long, Long] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.nanos).sum }
    spans.iterator.map(s => s.id -> (s.nanos - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** One JSON object per span, one per line. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val self = selfNanos
    val w = new PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"request":${s.request},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}""")
    } finally w.close()
  }
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Long, parent: Long, request: Long, name: String,
      start: Long, end: Long) {
    def nanos: Long = end - start
  }
}

/** Per-span Spark counters from the public listener API: jobs, tasks,
  * executor time, GC, scheduler delay, bytes and records read, shuffle
  * bytes. Keyed by the [[Trace.SpanProperty]] of the submitting job. */
final class SparkCounters extends SparkListener {
  final class Counts {
    val jobs = new AtomicLong; val tasks = new AtomicLong
    val runMs = new AtomicLong; val gcMs = new AtomicLong
    val schedDelayMs = new AtomicLong
    val bytesRead = new AtomicLong; val recordsRead = new AtomicLong
    val shuffleBytes = new AtomicLong
  }
  private val bySpan = new ConcurrentHashMap[Long, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val markerEnds = new AtomicLong

  private def counts(span: Long) = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(-1L)
    counts(span).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageSpan.put(s, span))
    jobSpan.put(e.jobId, span)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (jobSpan.getOrDefault(e.jobId, -1L) == SparkCounters.Marker)
      markerEnds.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = counts(stageSpan.getOrDefault(e.stageId, -1L))
    c.tasks.incrementAndGet()
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null) {
      c.runMs.addAndGet(m.executorRunTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.bytesRead.addAndGet(m.inputMetrics.bytesRead)
      c.recordsRead.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing the result or fetching it
      val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
      c.schedDelayMs.addAndGet(math.max(0L, delay))
    }
  }

  def of(span: Long): Counts = counts(span)

  /** Runs a one-task marker job and waits until its end event arrives.
    * Listener events are delivered in order, so afterwards every event of
    * the jobs submitted before it has been counted. */
  def drain(sc: SparkContext, timeoutMs: Long = 30000): Unit = {
    val before = markerEnds.get()
    val prev = sc.getLocalProperty(Trace.SpanProperty)
    sc.setLocalProperty(Trace.SpanProperty, SparkCounters.Marker.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.SpanProperty, prev)
    val deadline = System.currentTimeMillis() + timeoutMs
    while (markerEnds.get() == before && System.currentTimeMillis() < deadline)
      Thread.sleep(2)
  }
}

object SparkCounters {
  /** Span id of the [[SparkCounters.drain]] marker job. */
  val Marker: Long = -2L
}
