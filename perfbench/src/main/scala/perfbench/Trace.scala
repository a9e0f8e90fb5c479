package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in fractional epoch milliseconds, on the same base as the
  * millisecond timestamps Spark puts on listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One span. `kind` names the layer; `parent` is -1 at the root. */
final case class Span(id: Int, parent: Int, kind: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

final case class TaskRec(
    stage: Int, finishMs: Long, durMs: Long, runMs: Long, cpuNs: Long,
    inBytes: Long, inRecs: Long, outBytes: Long, outRecs: Long,
    shWriteBytes: Long, shWriteRecs: Long, shReadBytes: Long, shReadRecs: Long,
    fetchWaitMs: Long, spillBytes: Long, peakExecBytes: Long, ok: Boolean)
final case class JobRec(id: Int, startMs: Long, endMs: Long)
final case class StageRec(id: Int, submitMs: Long, endMs: Long)
final case class PlanRec(endMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
final case class BatchRec(run: String, batch: Long, startMs: Long, triggerMs: Long,
                          addBatchMs: Long, planningMs: Long, walMs: Long,
                          stateRows: Long, stateCommitMs: Long) {
  def endMs: Long = startMs + triggerMs
}

/** Records the Spark events the benchmark needs. One SparkContext-level
  * listener sees every session clone, streaming clones included: progress
  * events of all streaming queries arrive through `onOtherEvent`. Micro-batch
  * progress is always kept (the untimed end-to-end batch latency needs it);
  * everything else only while `recording` is on.
  */
final class BusListener extends SparkListener {
  @volatile var recording = false
  val tasks = new ConcurrentLinkedQueue[TaskRec]
  val jobs = new ConcurrentLinkedQueue[JobRec]
  val stages = new ConcurrentLinkedQueue[StageRec]
  val plans = new ConcurrentLinkedQueue[PlanRec]
  val sqlStarts = new ConcurrentLinkedQueue[java.lang.Long]
  val batches = new ConcurrentLinkedQueue[BatchRec]
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (recording) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(s => jobs.add(JobRec(e.jobId, s, e.time)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (recording) {
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime) stages.add(StageRec(i.stageId, s, c))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (recording && e.taskMetrics != null) {
      val m = e.taskMetrics
      val i = e.taskInfo
      tasks.add(TaskRec(e.stageId, i.finishTime, i.duration,
        m.executorRunTime, m.executorCpuTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.peakExecutionMemory, e.reason == Success))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val g = p.progress
      def d(k: String): Long = Option(g.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchRec(g.runId.toString, g.batchId,
        java.time.Instant.parse(g.timestamp).toEpochMilli,
        d("triggerExecution"), d("addBatch"), d("queryPlanning"),
        d("walCommit") + d("commitOffsets"),
        g.stateOperators.map(_.numRowsTotal).sum,
        g.stateOperators.map(_.commitTimeMs).sum))
    case s: SparkListenerSQLExecutionStart if recording => sqlStarts.add(s.time)
    case _ =>
  }

  /** Catalyst phase times of each completed action, on every session that
    * clones the one it is registered on. */
  val planListener: QueryExecutionListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = if (recording) {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val end = ph.values.map(_.endTimeMs).maxOption.getOrElse(System.currentTimeMillis())
      plans.add(PlanRec(end, ms("analysis"), ms("optimization"), ms("planning")))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = rec(qe)
    override def onFailure(f: String, qe: QueryExecution, err: Exception): Unit = rec(qe)
  }
}

/** In-memory span recorder; spans are written out when the run ends. */
final class Tracer {
  private val buf = new ConcurrentLinkedQueue[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var enabled = false

  def span[T](kind: String, name: String, parent: Int)(f: Int => T): T =
    if (!enabled) f(-1)
    else {
      val id = ids.incrementAndGet()
      val t0 = Clock.nowMs
      try f(id) finally buf.add(Span(id, parent, kind, name, t0, Clock.nowMs))
    }

  def spans: Seq[Span] = buf.asScala.toSeq
}
