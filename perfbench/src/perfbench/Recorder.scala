package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced-mode event sink. Jobs, stages and SQL executions are linked
  * to benchmark operations through the job group, a local property the
  * harness sets around every call; tasks are linked through their
  * stage. Everything stays in memory until the run ends and is then
  * written as raw records — the arithmetic happens in `analyze.py`.
  *
  * Times are epoch milliseconds, as Spark reports them.
  */
final class Recorder extends SparkListener with QueryExecutionListener {
  private type Rec = Map[String, Any]
  private val jobs = new ConcurrentLinkedQueue[Rec]()
  private val jobEnds = new ConcurrentLinkedQueue[Rec]()
  private val stages = new ConcurrentLinkedQueue[Rec]()
  private val tasks = new ConcurrentLinkedQueue[Rec]()
  private val execs = new ConcurrentLinkedQueue[Rec]()
  private val phases = new ConcurrentLinkedQueue[Rec]()
  private val queries = new ConcurrentLinkedQueue[Rec]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  @volatile var active = false

  private def group(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    jobs.add(Map(
      "job" -> e.jobId, "group" -> group(e.properties), "start" -> e.time,
      "stages" -> e.stageIds,
      "callsite" -> e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse(""),
      "sql_exec" -> Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")))
    e.stageInfos.foreach(s => stageGroup.putIfAbsent(s.stageId, group(e.properties)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) {
    jobEnds.add(Map("job" -> e.jobId, "end" -> e.time,
      "ok" -> (e.jobResult == JobSucceeded)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) {
    val s = e.stageInfo
    stages.add(Map(
      "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
      "group" -> Option(stageGroup.get(s.stageId)).getOrElse(""),
      "submitted" -> s.submissionTime.getOrElse(-1L),
      "completed" -> s.completionTime.getOrElse(-1L),
      "tasks" -> s.numTasks, "failed" -> s.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    def g(f: org.apache.spark.executor.TaskMetrics => Long): Long = m.map(f).getOrElse(0L)
    tasks.add(Map(
      "stage" -> e.stageId, "group" -> Option(stageGroup.get(e.stageId)).getOrElse(""),
      "launch" -> i.launchTime, "finish" -> i.finishTime,
      "ok" -> (e.reason == Success),
      "run_ms" -> g(_.executorRunTime), "cpu_ns" -> g(_.executorCpuTime),
      "gc_ms" -> g(_.jvmGCTime), "result_bytes" -> g(_.resultSize),
      "in_bytes" -> g(_.inputMetrics.bytesRead),
      "in_records" -> g(_.inputMetrics.recordsRead),
      "out_bytes" -> g(_.outputMetrics.bytesWritten),
      "out_records" -> g(_.outputMetrics.recordsWritten),
      "shuffle_write_bytes" -> g(_.shuffleWriteMetrics.bytesWritten),
      "shuffle_read_bytes" -> g(_.shuffleReadMetrics.totalBytesRead),
      "fetch_wait_ms" -> g(_.shuffleReadMetrics.fetchWaitTime),
      "spill_bytes" -> g(t => t.memoryBytesSpilled + t.diskBytesSpilled)))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if active =>
      execs.add(Map("exec" -> s.executionId, "group" -> s.jobGroupId.getOrElse(""),
        "callsite" -> s.details, "time" -> s.time))
    case e: SparkListenerSQLExecutionEnd if active =>
      queries.add(Map("exec" -> e.executionId, "query" -> Bridge.queryId(e)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      val p = qe.tracker.phases
      def ms(name: String): Long = p.get(name).map(_.durationMs).getOrElse(0L)
      phases.add(Map("query" -> qe.id, "func" -> funcName,
        "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
        "planning_ms" -> ms("planning")))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def records: Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq, "job_ends" -> jobEnds.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "tasks" -> tasks.asScala.toSeq,
    "execs" -> execs.asScala.toSeq, "queries" -> queries.asScala.toSeq,
    "phases" -> phases.asScala.toSeq)
}
