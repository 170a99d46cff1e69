package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one step of one traced pass. Filled from listener events
  * (listener thread) and read after the bus has drained (main thread).
  */
final class StepCounters(val step: String) {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var recordsRead = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var analysisMs, optimizerMs, physicalMs = 0L
  var planChars = 0L
  var broadcasts, broadcastBytes = 0L
  var writeNs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private[perfbench] val jobStart = mutable.HashMap.empty[Int, Long]
}

/** The outside-in tracer: a `SparkListener` plus a `QueryExecutionListener`
  * that the benchmark registers on the session for traced passes. Spark
  * jobs are attributed to a step through the job group the harness sets
  * around the step; query executions go to the step that is open while the
  * bus is drained at its end.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val byGroup = new ConcurrentHashMap[String, StepCounters]()
  private val byJob = new ConcurrentHashMap[Int, StepCounters]()
  private val byStage = new ConcurrentHashMap[Int, StepCounters]()
  @volatile private var current: StepCounters = _

  def open(group: String): StepCounters = {
    val c = new StepCounters(group)
    byGroup.put(group, c)
    current = c
    c
  }

  def close(): Unit = { current = null; byGroup.clear() }

  private def ofJobProps(p: java.util.Properties): StepCounters =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .flatMap(g => Option(byGroup.get(g))).getOrElse(current)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = ofJobProps(e.properties)
    if (c != null) {
      byJob.put(e.jobId, c)
      e.stageIds.foreach(byStage.put(_, c))
      c.synchronized { c.jobs += 1; c.jobStart(e.jobId) = e.time }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byJob.remove(e.jobId)).foreach { c =>
      c.synchronized {
        c.jobStart.remove(e.jobId).foreach(t0 => c.jobIntervals += ((t0, e.time)))
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(byStage.get(e.stageInfo.stageId)).foreach(c =>
      c.synchronized(c.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(byStage.get(e.stageId)).foreach { c =>
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.cpuNs += m.executorCpuTime
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.recordsRead += m.inputMetrics.recordsRead +
            m.shuffleReadMetrics.recordsRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val c = current
    if (c != null) {
      val phases = qe.tracker.phases
      def phaseMs(k: String) = phases.get(k).map(_.durationMs).getOrElse(0L)
      // expression ids depend on how many plans the JVM built before, and
      // model_const leaves print a hash of their trained value, so both
      // are stripped to keep the size a property of the plan's shape
      val planChars = Tracer.IdPattern.replaceAllIn(qe.optimizedPlan.toString, "").length
      var bc, bcBytes = 0L
      Tracer.broadcasts(qe.executedPlan).foreach { b =>
        bc += 1
        bcBytes += b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }
      val isWrite = qe.logical.isInstanceOf[DataWritingCommand] ||
        qe.commandExecuted.isInstanceOf[DataWritingCommand]
      c.synchronized {
        c.analysisMs += phaseMs("analysis")
        c.optimizerMs += phaseMs("optimization")
        c.physicalMs += phaseMs("planning")
        c.planChars += planChars
        c.broadcasts += bc
        c.broadcastBytes += bcBytes
        if (isWrite) c.writeNs += durationNs
      }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  private val IdPattern = "#[0-9a-fA-F]+L?".r

  /** Every broadcast exchange a finished plan ran, looking through adaptive
    * query stages and subqueries; reused exchanges are not counted twice.
    */
  def broadcasts(plan: SparkPlan): Seq[BroadcastExchangeExec] = plan match {
    case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
    case s: QueryStageExec => broadcasts(s.plan)
    case _: ReusedExchangeExec => Nil
    case b: BroadcastExchangeExec => b +: broadcasts(b.child)
    case p => (p.children ++ p.subqueries).flatMap(broadcasts)
  }

  /** Length of the union of [start, end] intervals clipped to a window. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered, reach = 0L
    reach = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    covered
  }
}
