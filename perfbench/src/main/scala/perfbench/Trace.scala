package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch nanoseconds. `parent` is the
  * enclosing span of the same request (0 for a request's root), or -1
  * when the parent is resolved afterwards by time containment (Spark
  * jobs and Catalyst phases, which are reported from other threads). */
final case class Span(id: Long, parent: Long, request: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String])

/** In-memory span recorder for the traced run. Spans are kept in memory
  * and written out once, when the run ends. With tracing off every call
  * is a plain pass-through. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] { // (span id, request id)
    override def initialValue(): List[(Long, Long)] = Nil
  }
  /** Epoch nanoseconds from the monotonic clock. */
  private val offsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowNs: Long = System.nanoTime() + offsetNs

  /** Open a request root span; Spark jobs started by this thread inside
    * it are attributed to it through a local property. */
  def request[T](spark: SparkSession, name: String, attrs: Map[String, String] = Map.empty)(
      body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val sc = spark.sparkContext
      sc.setLocalProperty(Trace.RequestProp, id.toString)
      stack.set(List(id -> id))
      val t0 = nowNs
      val c0 = Trace.codegenNs
      try body
      finally {
        // codegen compiles on the driver and inside tasks alike; the global
        // counter's delta is this request's, up to a concurrent client's
        spans.add(Span(id, 0, id, name, t0, nowNs,
          attrs + ("codegen_ns" -> (Trace.codegenNs - c0).toString)))
        stack.set(Nil)
        sc.setLocalProperty(Trace.RequestProp, null)
      }
    }

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled || stack.get.isEmpty) body
    else {
      val (parent, req) = stack.get.head
      val id = ids.incrementAndGet()
      stack.set((id, req) :: stack.get)
      val t0 = nowNs
      try body
      finally {
        spans.add(Span(id, parent, req, name, t0, nowNs, attrs))
        stack.set(stack.get.tail)
      }
    }

  /** Record an interval measured elsewhere (Catalyst phases), attributed
    * to the calling thread's open request. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && stack.get.nonEmpty)
      spans.add(Span(ids.incrementAndGet(), -1, stack.get.head._2, name, startNs, endNs, Map.empty))

  /** The Catalyst phases a frame's query execution ran after `sinceNs`,
    * recorded as spans of the current request. A cached plan reuses its
    * execution, so its earlier phases fall before `sinceNs` and drop. */
  def catalystPhases(df: DataFrame, sinceNs: Long): Unit =
    if (enabled) df.queryExecution.tracker.phases.foreach { case (phase, s) =>
      val start = s.startTimeMs * 1000000L
      if (start >= sinceNs - 1000000L)
        record(s"spark.catalyst.$phase", start, s.endTimeMs * 1000000L)
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def add(s: Span): Unit = spans.add(s)
  def nextId(): Long = ids.incrementAndGet()
}

object Trace {
  val RequestProp = "perfbench.request"

  /** Cumulative whole-stage and expression codegen compile time. */
  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Per-request Spark execution counters. */
  final class ExecCounters {
    val jobs, stages, tasks, taskMs, shuffleRead, shuffleWrite, spill, input = new LongAdder
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs.sum, "stages" -> stages.sum, "tasks" -> tasks.sum,
      "task_ms" -> taskMs.sum, "shuffle_read_bytes" -> shuffleRead.sum,
      "shuffle_write_bytes" -> shuffleWrite.sum, "spill_bytes" -> spill.sum,
      "input_bytes" -> input.sum)
  }
}

/** Spark's public listeners, attributing jobs, stages and tasks to the
  * request whose thread started them (the `perfbench.request` local
  * property), and counting driver actions. */
final class SparkProbe(trace: Trace) extends SparkListener with QueryExecutionListener {
  import Trace.ExecCounters
  val perRequest = TrieMap.empty[Long, ExecCounters]
  val total = new ExecCounters
  val actions = new LongAdder
  val failedActions = new LongAdder
  private val stageReq = TrieMap.empty[Int, Long]
  private val jobStart = TrieMap.empty[Int, (Long, Long)] // job -> (request, start ms)

  private def counters(req: Long): Seq[ExecCounters] =
    if (req > 0) Seq(total, perRequest.getOrElseUpdate(req, new ExecCounters)) else Seq(total)

  private def reqOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Trace.RequestProp)))
      .map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = reqOf(e.properties)
    e.stageIds.foreach(s => stageReq.put(s, req))
    jobStart.put(e.jobId, (req, e.time))
    counters(req).foreach(_.jobs.increment())
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (req, t0) =>
      if (req > 0)
        trace.add(Span(trace.nextId(), -1, req, "spark.exec.job", t0 * 1000000L,
          e.time * 1000000L, Map("job" -> e.jobId.toString)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val req = stageReq.getOrElse(e.stageInfo.stageId, reqOf(e.properties))
    stageReq.put(e.stageInfo.stageId, req)
    counters(req).foreach(_.stages.increment())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    counters(stageReq.getOrElse(e.stageId, 0L)).foreach { c =>
      c.tasks.increment()
      if (m != null) {
        c.taskMs.add(m.executorRunTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        c.input.add(m.inputMetrics.bytesRead)
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    actions.increment()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = {
    actions.increment(); failedActions.increment()
  }
}
