package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region of benchmark code: a call into a layer's public API. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, var endNs: Long = -1L) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-span roll-up of the Spark work attributed to it. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var failedTasks = 0L
  var taskSumMs = 0L; var taskMaxMs = 0L; var gcMs = 0L
  var scanBytes = 0L; var scanRows = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var peakExecMem = 0L
}

/** Per-query planning and write figures from the QueryExecutionListener. */
final case class QueryRecord(analysisMs: Long, optimizationMs: Long, planningMs: Long,
                             durationMs: Double, writeRows: Long, writeFiles: Long,
                             writeBytes: Long, isWrite: Boolean)

/** Spans, job attribution and listener counters for one traced iteration.
  *
  * Spans are opened and closed from the benchmark's own code on the driver
  * thread. The innermost open span's id rides on the job-local property
  * [[Tracer.SpanKey]], so every Spark job the call launches carries it in
  * its `SparkListenerJobStart` properties; stage and task events are then
  * attributed to that span through the stage-to-job map. Everything stays
  * in memory until [[Tracer.finish]], which drains the listener bus.
  */
final class Tracer(spark: SparkSession, val runId: String) {
  import Tracer._

  private val sc: SparkContext = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val workBySpan = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val queries = mutable.ArrayBuffer.empty[QueryRecord]

  private def work(span: Int): Work = workBySpan.getOrElseUpdate(span, new Work)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      e.stageIds.foreach(stageSpan(_) = sp)
      work(sp).jobs += 1
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      work(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val w = work(stageSpan.getOrElse(e.stageId, -1))
      w.tasks += 1
      if (e.reason != Success) w.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        w.taskSumMs += m.executorRunTime
        w.taskMaxMs = math.max(w.taskMaxMs, m.executorRunTime)
        w.gcMs += m.jvmGCTime
        w.scanBytes += m.inputMetrics.bytesRead
        w.scanRows += m.inputMetrics.recordsRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.diskBytesSpilled
        w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { queries += record(qe, durationNs) }
    override def onFailure(func: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(): Tracer = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    this
  }

  /** Time `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = open(name)
    try body finally close(s)
  }

  def open(name: String): Span = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId,
      System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    stack = stack.dropWhile(_.id != s.id).drop(1)
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** Drain the listener bus and detach; the figures are complete after this. */
  def finish(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    sc.setLocalProperty(SpanKey, null)
  }

  /** Work of the span and all its descendants. */
  def subtree(root: Span): Seq[Work] = {
    val kids = spans.groupBy(_.parent)
    def walk(s: Span): Seq[Work] =
      workBySpan.get(s.id).toSeq ++ kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  def allWork: Seq[Work] = workBySpan.values.toSeq

  /** Wall-clock of the span minus that of its direct children. */
  def selfMs(s: Span): Double =
    s.ms - spans.filter(_.parent == s.id).map(_.ms).sum

  /** One JSON object per span, with self time and the attributed work. */
  def spansJson: Seq[String] = spans.toSeq.map { s =>
    val w = workBySpan.getOrElse(s.id, new Work)
    Json.obj(
      "run_id" -> s.runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms, "self_ms" -> selfMs(s),
      "jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
      "task_sum_ms" -> w.taskSumMs, "shuffle_write_bytes" -> w.shuffleWrite,
      "scan_rows" -> w.scanRows)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val aqe = new AdaptiveSparkPlanHelper {}

  private def record(qe: QueryExecution, durationNs: Long): QueryRecord = {
    val phases = qe.tracker.phases
    def phase(n: String): Long = phases.get(n).map(_.durationMs).getOrElse(0L)
    // Spark 4 plans a write's command under AQE; the helper's collect
    // descends into the adaptive plan.
    val writes = aqe.collect(qe.executedPlan) { case w: DataWritingCommandExec => w }
    def metric(n: String): Long = writes.flatMap(_.cmd.metrics.get(n)).map(_.value).sum
    QueryRecord(phase("analysis"), phase("optimization"), phase("planning"),
      durationNs / 1e6, metric("numOutputRows"), metric("numFiles"),
      metric("numOutputBytes"), writes.nonEmpty)
  }
}
