package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's view of the scheduler. Every job the harness causes
  * carries a job group `<query id>|<layer>`; this listener folds each
  * job's stages and tasks into that group, so work is attributed to the
  * layer that launched it. It also keeps each job's interval as a span
  * and the planning time and shuffle exchanges of every command Spark
  * ran (a `df.write` plans its own query), keyed by the group that was
  * current.
  *
  * Events arrive on the listener-bus thread; the harness reads the
  * fields only after `Bus.drain`, so plain collections suffice. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  val groups = mutable.HashMap.empty[String, Agg]
  val jobSpans = mutable.ArrayBuffer.empty[JobSpan]
  /** group -> planning milliseconds of the commands run under it */
  val commandPlanMs = mutable.HashMap.empty[String, Double]
  /** group -> shuffle exchanges in the executed plans of those commands */
  val commandExchanges = mutable.HashMap.empty[String, Int]

  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  @volatile var current: String = ""

  private def agg(g: String): Agg = groups.getOrElseUpdate(g, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("untagged")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    agg(g).jobs += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobGroup.remove(e.jobId).foreach { g =>
      jobSpans += JobSpan(g, e.jobId, jobStart.remove(e.jobId).getOrElse(e.time), e.time)
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    agg(stageGroup.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = agg(stageGroup.getOrElse(e.stageId, "untagged"))
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.scan += m.inputMetrics.bytesRead
    }
  }

  // QueryExecutionListener: called once per completed SQL execution.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (funcName == "command") {
      val ms = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
      commandPlanMs(current) = commandPlanMs.getOrElse(current, 0.0) + ms
      commandExchanges(current) = commandExchanges.getOrElse(current, 0) + exchanges(qe.executedPlan)
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wall milliseconds covered by the jobs of `group` (overlaps merged). */
  def jobWallMs(group: String): Double = {
    val iv = jobSpans.filter(_.group == group).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L; var end = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total.toDouble
  }
}

object Recorder extends AdaptiveSparkPlanHelper {
  /** Shuffle exchanges in a plan, inside adaptive plans and subqueries. */
  def exchanges(p: SparkPlan): Int =
    collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size

  final class Agg {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, scan = 0L
  }
  final case class JobSpan(group: String, jobId: Int, startMs: Long, endMs: Long)
}
