package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the benchmark's result and trace files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}

/** One timed interval at a layer boundary. Spans of one operation share
  * `op`, the id of the operation's root span.
  */
final class Span(val id: Long, val parent: Long, val op: Long, val name: String,
    val startNs: Long) {
  @volatile var endNs: Long = -1L
  val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = attrs.synchronized {
    attrs(k) = attrs.getOrElse(k, 0.0) + v
  }
}

/** Keeps spans in memory; with tracing off every call is a no-op. The span
  * id is set as a Spark local property on the calling thread, so the jobs a
  * layer call starts are attributed to its span.
  */
final class Tracer(val on: Boolean, spark: SparkSession) {
  val SpanKey = "perfbench.span"
  private val ids = new AtomicLong(0L)
  val spans = new ConcurrentLinkedQueue[Span]()

  def start(name: String, parent: Span = null): Span =
    if (!on) null
    else {
      val id = ids.incrementAndGet()
      val s = new Span(id, if (parent == null) 0L else parent.id,
        if (parent == null) id else parent.op, name, System.nanoTime())
      spans.add(s)
      s
    }

  def end(s: Span): Unit = if (s != null) s.endNs = System.nanoTime()

  /** Run `body` inside a span that owns the Spark jobs it starts. */
  def span[A](name: String, parent: Span = null)(body: Span => A): A =
    if (!on) body(null)
    else {
      val s = start(name, parent)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body(s)
      finally {
        end(s)
        sc.setLocalProperty(SpanKey, prev)
      }
    }
}

/** Spark engine counters from the public listener interfaces: per span
  * (via the job's local property) and in total.
  */
final class SparkCounters(spanKey: String) extends SparkListener {
  private val stageSpan = mutable.Map.empty[Int, Long]
  val total: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
  val perSpan: mutable.Map[Long, mutable.Map[String, Double]] = mutable.Map.empty

  private def add(span: Long, k: String, v: Double): Unit = synchronized {
    total(k) = total.getOrElse(k, 0.0) + v
    val m = perSpan.getOrElseUpdate(span, mutable.LinkedHashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  def snapshot(): Map[String, Double] = synchronized(total.toMap)
  def spanSnapshot(): Map[Long, Map[String, Double]] =
    synchronized(perSpan.map { case (k, v) => k -> v.toMap }.toMap)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(spanKey)))
      .map(_.toLong).getOrElse(0L)
    synchronized(e.stageIds.foreach(stageSpan(_) = span))
    add(span, "jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    add(synchronized(stageSpan.getOrElse(e.stageInfo.stageId, 0L)), "stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = synchronized(stageSpan.getOrElse(e.stageId, 0L))
    val info = e.taskInfo
    add(span, "tasks", 1)
    if (!info.successful) add(span, "tasks_failed", 1)
    add(span, "task_wall_ms", (info.finishTime - info.launchTime).toDouble)
    val m = e.taskMetrics
    if (m != null) {
      add(span, "task_run_ms", m.executorRunTime.toDouble)
      add(span, "task_deserialize_ms", m.executorDeserializeTime.toDouble)
      add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
}

/** Planning phases (analysis, optimization, planning) of every completed
  * SQL action, in completion order, from `QueryExecution.tracker`.
  */
final class PlanPhases extends QueryExecutionListener {
  final case class Rec(noop: Boolean, endMs: Long, phases: Map[String, Double])
  val recs = new ConcurrentLinkedQueue[Rec]()

  private def rec(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    val noop = qe.logical match {
      case w: V2WriteCommand => w.table.toString.contains("noop-table")
      case _ => false
    }
    recs.add(Rec(noop, System.currentTimeMillis(), phases))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = rec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = rec(qe)
}

/** Structured Streaming progress of every micro-batch. */
final class StreamProgress extends StreamingQueryListener {
  final case class Rec(startMs: Long, rows: Long, durations: Map[String, Double])
  val recs = new ConcurrentLinkedQueue[Rec]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    recs.add(Rec(java.time.Instant.parse(p.timestamp).toEpochMilli, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap))
  }
}

/** JVM-wide counters read at the window's edges. */
object Jvm {
  def gcMs: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble
  def codegenCompiles: Double =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
  /** Heap in use after full collections. The pauses between them let
    * Spark's ContextCleaner drop the blocks and broadcasts whose owners the
    * previous collection freed, so the figure does not depend on how far
    * that asynchronous cleanup had got. */
  def retainedHeapMb: Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}
