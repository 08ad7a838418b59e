package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.{BenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-runtime counters for one span of one operation. */
final class SparkCounts {
  var jobs, stages, stageRetries, tasks, taskAttempts, taskAttemptsFailed = 0L
  var sqlExecutions, actions = 0L
  var taskMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(o: SparkCounts): Unit = {
    jobs += o.jobs; stages += o.stages; stageRetries += o.stageRetries
    tasks += o.tasks; taskAttempts += o.taskAttempts
    taskAttemptsFailed += o.taskAttemptsFailed
    sqlExecutions += o.sqlExecutions; actions += o.actions
    taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    taskIntervals ++= o.taskIntervals
  }

  /** Seconds of [startMs, endMs] during which at least one task ran. */
  def busySeconds(startMs: Long, endMs: Long): Double = {
    var covered = 0L
    var reach = startMs
    for ((s, e) <- taskIntervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
           .filter { case (s, e) => e > s }.sortBy(_._1)) {
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    covered / 1000.0
  }

  def fields: Map[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "stage_retries" -> stageRetries,
    "tasks" -> tasks, "task_attempts" -> taskAttempts,
    "task_attempts_failed" -> taskAttemptsFailed,
    "sql_executions" -> sqlExecutions, "actions" -> actions,
    "task_s" -> taskMs / 1000.0, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1000.0,
    "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes, "spill_bytes" -> spillBytes)
}

/** The traced run's SparkListener and QueryExecutionListener.
  *
  * The benchmark tags every span with a job group `<op>|<span>`; jobs
  * carry it in their properties, stages and tasks inherit it from their
  * job, and SQL executions carry it as their job group id. Events that
  * carry no group are charged to the span "other" of the operation in
  * flight, which is sound because one operation runs at a time and the
  * bus is drained before the next one starts.
  */
final class Ledger extends SparkListener with QueryExecutionListener {
  private val counts = mutable.Map.empty[String, SparkCounts]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val Unattributed = "other"
  // SparkContext.SPARK_JOB_GROUP_ID, which Spark keeps package-private
  private val JobGroupKey = "spark.jobGroup.id"

  private def acc(group: String): SparkCounts = counts.getOrElseUpdate(group, new SparkCounts)
  private def groupOf(g: String): String = Option(g).filter(_.nonEmpty).getOrElse(Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(Option(e.properties).map(_.getProperty(JobGroupKey)).orNull)
    val c = acc(g)
    c.jobs += 1
    e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val c = acc(stageGroup.getOrElse(e.stageInfo.stageId, Unattributed))
    c.stages += 1
    if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = acc(stageGroup.getOrElse(e.stageId, Unattributed))
    c.taskAttempts += 1
    if (e.reason == Success) c.tasks += 1 else c.taskAttemptsFailed += 1
    c.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m != null) {
      c.taskMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.inputBytes += m.inputMetrics.bytesRead
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      val c = acc(groupOf(s.jobGroupId.orNull))
      c.sqlExecutions += 1
    }
    case _ =>
  }

  // Called on the bus thread, which does not carry the caller's job
  // group: actions count per operation, under "other".
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { val c = acc(Unattributed); c.actions += 1 }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain the bus and hand back (then forget) the counts of operation
    * `op`, per span name, with unattributed events under "other".
    */
  def take(spark: SparkSession, op: Int): Map[String, SparkCounts] = {
    BenchBridge.drain(spark.sparkContext)
    synchronized {
      val prefix = s"$op|"
      val mine = counts.keys.filter(k => k.startsWith(prefix) || k == Unattributed).toSeq
      val out = mine.map(k => k.stripPrefix(prefix) -> counts(k)).toMap
      mine.foreach(counts.remove)
      out
    }
  }
}
