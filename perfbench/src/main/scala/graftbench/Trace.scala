package graftbench

import org.apache.spark.BenchBusBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed region: `name` is `<layer>.<call>`; `parent` indexes the
  * enclosing span (-1 at the top); `op` is the operation's sequence
  * number in the run. Times are System.nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: Int, op: Int,
                      wallStart: Long, wallEnd: Long)

/** Per-operation counters gathered from Spark's listener bus. */
final class OpCounters {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var tasksOk = 0L
  var taskDurMs = 0L; var taskRunMs = 0L; var gcMs = 0L
  var shufW = 0L; var shufR = 0L; var fetchWaitMs = 0L; var spill = 0L
  var peakExec = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var executions = 0L; var rowsScanned = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // ms, wall clock
}

/** Span recorder plus a SparkListener and a QueryExecutionListener.
  * Inactive (every call a pass-through, no listener registered) unless
  * the run is traced, so the untraced run measures the program alone.
  *
  * Attribution: the benchmark runs one operation at a time and the
  * listener bus is drained at each operation's end, so every event
  * delivered while operation `i` is current belongs to it. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  @volatile private var op = -1
  val counters = mutable.Map.empty[Int, OpCounters]
  private val jobStart = mutable.Map.empty[Int, Long]

  private def cur: OpCounters = counters.getOrElseUpdate(op, new OpCounters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      cur.jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(t0 => cur.jobSpans += ((t0, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { cur.stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = cur
      c.tasks += 1
      if (e.taskInfo.successful) c.tasksOk += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskDurMs += e.taskInfo.duration
        c.taskRunMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shufW += m.shuffleWriteMetrics.bytesWritten
        c.shufR += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = Trace.this.synchronized {
      val c = cur
      c.executions += 1
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      c.analysisMs += ms("analysis")
      c.optimizationMs += ms("optimization")
      c.planningMs += ms("planning")
      c.rowsScanned += scanned(qe.executedPlan)
    }
  }

  /** Rows produced by the plan's leaves (file and in-memory scans). */
  private def scanned(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanned(a.executedPlan)
    case s: QueryStageExec => scanned(s.plan)
    case r: ReusedExchangeExec => 0L
    case l if l.children.isEmpty =>
      l.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    case other => other.children.map(scanned).sum
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def drain(): Unit = if (enabled) BenchBusBridge.drain(spark.sparkContext)

  /** Mark the start of operation `i` (events before it are flushed to
    * the previous operation). */
  def beginOp(i: Int): Unit = if (enabled) { drain(); op = i }
  def endOp(): Unit = if (enabled) { drain(); op = -1 }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val parent = stack.headOption.getOrElse(-1)
      val idx = spans.size
      spans += Span(name, System.nanoTime(), 0L, parent, op,
        System.currentTimeMillis(), 0L)
      stack = idx :: stack
      try f
      finally {
        stack = stack.tail
        spans(idx) = spans(idx).copy(end = System.nanoTime(),
          wallEnd = System.currentTimeMillis())
      }
    }

  /** Self seconds (span time minus its children's) per layer name, the
    * layer being the span name up to its first '.'-separated call. */
  def selfSeconds(ops: Set[Int]): Map[String, Double] = {
    val child = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.filter(i => ops(spans(i).op)).groupBy(i => spans(i).name)
      .map { case (n, is) =>
        n -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e9 }
  }

  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
