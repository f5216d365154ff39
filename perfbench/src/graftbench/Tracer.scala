package graftbench

import scala.collection.mutable
import org.apache.spark.{Success => TaskOk}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark's own counters, read from outside the engine: a SparkListener
  * that sums task metrics per stage and remembers each job's group and
  * call site, and a QueryExecutionListener that keeps the planning phase
  * times and the operator counts of every executed query's final plan.
  * The harness names each benchmark span as the job group before the
  * call, so every job, stage and task attributes to its span. */
final class Tracer extends SparkListener with QueryExecutionListener {
  final class Stage(val id: Int, val attempt: Int, val group: String) {
    var submitMs, completeMs = 0L
    var tasks, failed = 0
    var runMs, cpuNs, gcMs, schedMs, fetchWaitMs = 0L
    var shWriteB, shWriteRec, shReadB, shReadRec = 0L
    var memSpill, diskSpill, peakMem = 0L
    var inB, inRec, outB, outRec = 0L
    val taskReadB = mutable.ArrayBuffer[Long]()
  }
  final case class Job(id: Int, group: String, execId: String, callSite: String,
      startMs: Long, var endMs: Long = 0L)
  final case class Plan(span: String, func: String, analyzeMs: Long,
      optimizeMs: Long, physicalMs: Long, ops: Map[String, Int])

  private val stages = mutable.LinkedHashMap[(Int, Int), Stage]()
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val pendingPlans = mutable.ArrayBuffer[(String, QueryExecution)]()
  private val plans = mutable.ArrayBuffer[Plan]()

  private def prop(p: java.util.Properties, key: String): String =
    Option(p).flatMap(x => Option(x.getProperty(key))).getOrElse("")
  private def group(p: java.util.Properties): String = prop(p, "spark.jobGroup.id")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is created last; its details are the job's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    jobs(e.jobId) = Job(e.jobId, group(e.properties),
      prop(e.properties, "spark.sql.execution.id"), site, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val s = new Stage(i.stageId, i.attemptNumber(), group(e.properties))
    s.submitMs = i.submissionTime.getOrElse(System.currentTimeMillis)
    stages((i.stageId, i.attemptNumber())) = s
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber()))
      .foreach(_.completeMs = i.completionTime.getOrElse(System.currentTimeMillis))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      if (e.reason != TaskOk) s.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        val r = m.shuffleReadMetrics
        s.shReadB += r.totalBytesRead
        s.shReadRec += r.recordsRead
        s.fetchWaitMs += r.fetchWaitTime
        s.taskReadB += r.totalBytesRead
        s.shWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shWriteRec += m.shuffleWriteMetrics.recordsWritten
        s.memSpill += m.memoryBytesSpilled
        s.diskSpill += m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.inB += m.inputMetrics.bytesRead
        s.inRec += m.inputMetrics.recordsRead
        s.outB += m.outputMetrics.bytesWritten
        s.outRec += m.outputMetrics.recordsWritten
      }
    }
  }

  override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
    synchronized { pendingPlans += func -> qe }
  override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
    synchronized { pendingPlans += func -> qe }

  /** Attribute the queries executed since the last call to `span`; call
    * only after the listener bus has been drained. */
  def claimPlans(span: String): Unit = synchronized {
    pendingPlans.foreach { case (func, qe) =>
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      plans += Plan(span, func, ms("analysis"), ms("optimization"), ms("planning"),
        Tracer.operatorCounts(qe.executedPlan))
    }
    pendingPlans.clear()
  }

  def toJson: Map[String, Any] = synchronized {
    Map(
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "group" -> j.group,
        "exec_id" -> j.execId, "call_site" -> j.callSite, "start_ms" -> j.startMs, "end_ms" -> j.endMs)).toSeq,
      "stages" -> stages.values.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "group" -> s.group, "submit_ms" -> s.submitMs, "complete_ms" -> s.completeMs,
        "tasks" -> s.tasks, "failed" -> s.failed, "run_ms" -> s.runMs,
        "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "sched_ms" -> s.schedMs,
        "fetch_wait_ms" -> s.fetchWaitMs, "shuffle_write_b" -> s.shWriteB,
        "shuffle_write_rec" -> s.shWriteRec, "shuffle_read_b" -> s.shReadB,
        "shuffle_read_rec" -> s.shReadRec, "mem_spill_b" -> s.memSpill,
        "disk_spill_b" -> s.diskSpill, "peak_exec_mem_b" -> s.peakMem,
        "input_b" -> s.inB, "input_rec" -> s.inRec, "output_b" -> s.outB,
        "output_rec" -> s.outRec, "task_read_b" -> s.taskReadB.toSeq)).toSeq,
      "plans" -> plans.map(p => Map("span" -> p.span, "func" -> p.func,
        "analyze_ms" -> p.analyzeMs, "optimize_ms" -> p.optimizeMs,
        "physical_ms" -> p.physicalMs) ++ p.ops).toSeq)
  }
}

object Tracer {
  /** Operator counts of an executed plan, walking into the final AQE plan,
    * its query stages and subqueries; a reused exchange is not counted. */
  def operatorCounts(root: SparkPlan): Map[String, Int] = {
    val n = mutable.Map("exchanges" -> 0, "sorts" -> 0, "smj" -> 0, "bhj" -> 0,
      "sort_aggs" -> 0)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _ =>
        p match {
          case _: ShuffleExchangeLike => n("exchanges") += 1
          case _: SortExec => n("sorts") += 1
          case _: SortMergeJoinExec => n("smj") += 1
          case _: BroadcastHashJoinExec => n("bhj") += 1
          case _: SortAggregateExec => n("sort_aggs") += 1
          case _ =>
        }
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    n.toMap
  }
}
