package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw during one query, read after the bus drained. */
final case class QueryTrace(
    jobs: Seq[(Long, Long, String)], // (start ms, end ms, phase)
    stageTasks: Seq[Int],
    taskRunMs: Long, taskCpuNs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    peakExecMemBytes: Long, inputRows: Long, outputBytes: Long,
    planMs: Long, planNodes: Int)

/** The traced run's instrument, attached from outside the engine: a
  * `SparkListener` for jobs, stages and task metrics, plus a
  * `QueryExecutionListener` for Catalyst's own phase timings
  * (`qe.tracker.phases`) and the executed plan's size, so tracing forces no
  * extra planning. Jobs are split into DataFrame-construction and `.count()`
  * jobs by the `perfbench.phase` local property the harness sets. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val open = mutable.Map.empty[Int, (Long, String)]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Long, String)]
  private val stageTasks = mutable.ArrayBuffer.empty[Int]
  private var taskRunMs, taskCpuNs, shufW, shufR, spill, peakMem, inRows, outBytes = 0L
  private var planMs = 0L
  private var planNodes = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseKey)).orNull
    open(e.jobId) = (e.time, if (phase == null) "other" else phase)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (t0, phase) => jobs += ((t0, e.time, phase)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageTasks += e.stageInfo.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs += m.executorRunTime
      taskCpuNs += m.executorCpuTime
      shufW += m.shuffleWriteMetrics.bytesWritten
      shufR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      peakMem = math.max(peakMem, m.peakExecutionMemory)
      inRows += m.inputMetrics.recordsRead
      outBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
      if (funcName == "count") planNodes = Tracer.nodes(qe.executedPlan)
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Returns everything recorded since the last call and starts afresh. */
  def take(): QueryTrace = synchronized {
    val t = QueryTrace(jobs.toSeq, stageTasks.toSeq, taskRunMs, taskCpuNs, shufW, shufR,
      spill, peakMem, inRows, outBytes, planMs, planNodes)
    jobs.clear(); stageTasks.clear()
    taskRunMs = 0; taskCpuNs = 0; shufW = 0; shufR = 0; spill = 0; peakMem = 0
    inRows = 0; outBytes = 0; planMs = 0; planNodes = 0
    t
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"

  /** Operator count of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def nodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec        => 1 + nodes(s.plan)
    case o => 1 + o.children.map(nodes).sum + o.subqueries.map(nodes).sum
  }

  /** Wall time inside [from, to] covered by at least one job. */
  def busyMs(jobs: Seq[(Long, Long, String)], from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    jobs.map { case (s, e, _) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > end) { busy += e - math.max(s, end); end = e }
      }
    busy
  }
}
