package org.apache.spark.sql.iambench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.FileSourceScanLike
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spark-side counts for the benchmark's trace, attributed to the span
  * that was open when the work was submitted: the benchmark sets the job
  * group to the span's id, every job and SQL execution carries that group,
  * and stages and tasks are attributed through their job. Events arrive on
  * the bus's single dispatch thread; [[SparkTap.drain]] publishes them to
  * the reader.
  *
  * Lives in Spark's namespace for two `private[spark]` members: the
  * listener bus (drained before counts are read, so no event still in
  * flight is missed) and the `QueryExecution` an SQL execution-end event
  * carries (its planning phases and scan metrics).
  */
final class SparkTap extends SparkListener with AdaptiveSparkPlanHelper {
  import SparkTap.Counts

  private val bySpan = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val sqlSpan = new ConcurrentHashMap[Long, String]()

  private def of(span: String): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  /** Counts per span id, complete once [[SparkTap.drain]] has returned. */
  def counts(span: String): Counts = bySpan.getOrDefault(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_GROUP_ID)))
      .foreach { span =>
        of(span).jobs += 1
        e.stageIds.foreach(stageSpan.put(_, span))
      }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(of(_).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { span =>
      val c = of(span)
      c.tasks += 1
      if (!e.taskInfo.successful) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.schedulerDelayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
      if (e.taskExecutorMetrics != null)
        c.storageMemPeak = math.max(c.storageMemPeak,
          e.taskExecutorMetrics.getMetricValue("OnHeapStorageMemory"))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(sqlSpan.put(s.executionId, _))
    case end: SparkListenerSQLExecutionEnd =>
      Option(sqlSpan.remove(end.executionId)).foreach { span =>
        val c = of(span)
        val qe = end.qe
        if (qe != null) {
          val ph = qe.tracker.phases
          def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
          c.analysisMs += ms("analysis")
          c.optimizationMs += ms("optimization")
          c.planningMs += ms("planning")
          collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanLike => s }
            .foreach { s =>
              s.metrics.get("numFiles").foreach(c.scanFiles += _.value)
              s.metrics.get("filesSize").foreach(c.scanBytes += _.value)
            }
        }
      }
    case _ =>
  }
}

object SparkTap {
  final class Counts {
    var jobs, stages, tasks, tasksFailed = 0L
    var busyMs, schedulerDelayMs, shuffleWriteBytes, spillBytes = 0L
    var outputBytes, storageMemPeak = 0L
    var analysisMs, optimizationMs, planningMs, scanFiles, scanBytes = 0L

    def +=(o: Counts): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
      busyMs += o.busyMs; schedulerDelayMs += o.schedulerDelayMs
      shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
      outputBytes += o.outputBytes
      storageMemPeak = math.max(storageMemPeak, o.storageMemPeak)
      analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
      planningMs += o.planningMs; scanFiles += o.scanFiles; scanBytes += o.scanBytes
    }
  }

  def register(sc: SparkContext): SparkTap = {
    val tap = new SparkTap
    sc.addSparkListener(tap)
    tap
  }

  /** Block until every event posted so far has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
