package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.window.WindowExec

/** Spark-side layer counters for a traced run, attached through the
  * `spark.extraListeners` system property. One `job` line per finished
  * job: its trace context (from the job tag [[Spans]] set), phase, wall
  * interval, description, and the stages, tasks, executor CPU and run
  * time, scheduler delay, shuffle and spill bytes of its tasks. One
  * `sql` line per query execution (its context) and one `qe` line with
  * its Catalyst phases. */
final class SparkTrace extends SparkListener with AdaptiveSparkPlanHelper {

  private final class Job(val ctx: String, val phase: String, val start: Long,
      val desc: String) {
    var stages = 0
    var tasks = 0
    var cpuNs = 0L
    var runMs = 0L
    var schedMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  private val jobs = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val ctx = prop("spark.job.tags").toSeq.flatMap(_.split(","))
      .find(_.startsWith(Spans.TagPrefix)).map(_.stripPrefix(Spans.TagPrefix))
      .getOrElse("bg")
    jobs(e.jobId) = new Job(ctx, prop(Spans.PhaseProperty).getOrElse("exec"), e.time,
      prop("spark.job.description").getOrElse(""))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      val info = e.taskInfo
      Option(e.taskMetrics).foreach { m =>
        j.cpuNs += m.executorCpuTime
        j.runMs += m.executorRunTime
        j.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L))
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { j =>
      stageJob.filterInPlace((_, job) => job != e.jobId)
      Spans.add(s"""{"k":"job","ctx":"${j.ctx}","phase":"${j.phase}","id":${e.jobId},""" +
        s""""start":${j.start},"end":${e.time},"desc":${Json.str(j.desc.take(80))},""" +
        s""""ok":${e.jobResult == JobSucceeded},"stages":${j.stages},"tasks":${j.tasks},""" +
        s""""cpu_ns":${j.cpuNs},"run_ms":${j.runMs},"sched_ms":${j.schedMs},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}""")
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val ctx = s.jobTags.find(_.startsWith(Spans.TagPrefix))
        .map(_.stripPrefix(Spans.TagPrefix)).getOrElse("bg")
      Spans.add(s"""{"k":"sql","exec":${s.executionId},"ctx":"$ctx"}""")
    case end: SparkListenerSQLExecutionEnd =>
      Option(ExecutionEnd.queryExecution(end)).foreach(plan(end.executionId, _))
    case _ =>
  }

  /** Catalyst phase times of one query execution, from its
    * QueryPlanningTracker: analysis, optimization and planning, with the
    * phases' start, and the number of Window operators without a
    * partition spec (which run on a single partition). This is the
    * QueryExecution a QueryExecutionListener would be handed; the
    * execution-end event also carries its execution id, which ties it
    * to the statement or rep that started it. */
  private def plan(executionId: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val t0 = if (phases.isEmpty) 0L else phases.values.map(_.startTimeMs).min
    val windows = try collectWithSubqueries(qe.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => 1
    }.size catch { case scala.util.control.NonFatal(_) => 0 }
    Spans.add(s"""{"k":"qe","exec":$executionId,"t":$t0,"analysis_ms":${ms("analysis")},""" +
      s""""optimizer_ms":${ms("optimization")},"planning_ms":${ms("planning")},""" +
      s""""single_partition_windows":$windows}""")
  }
}
