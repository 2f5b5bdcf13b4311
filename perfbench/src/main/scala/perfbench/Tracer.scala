package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job and the counters of the tasks it ran. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
    val sqlExecId: Option[Long], val stageIds: Seq[Int]) {
  var endMs: Long = startMs
  var ok: Boolean = false
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var outputRecords = 0L
}

/** One SQL execution (an action on a Dataset). */
final case class SqlExecRec(id: Long, startMs: Long, endMs: Long, description: String)

/** Catalyst phase times of one query execution, from its planning tracker. */
final case class PlanRec(source: String, analysisMs: Long, optimizationMs: Long, planningMs: Long)

object PlanRec {
  def of(source: String, qe: QueryExecution): PlanRec = {
    val ph = qe.tracker.phases
    def ms(name: String): Long = ph.get(name).map(_.durationMs).getOrElse(0L)
    PlanRec(source, ms("analysis"), ms("optimization"), ms("planning"))
  }
}

/** Everything the listeners saw while one operation ran. */
final case class Captured(jobs: Seq[JobRec], sqlExecs: Seq[SqlExecRec], plans: Seq[PlanRec])

/** A SparkListener plus a QueryExecutionListener, registered only around
  * traced passes. Events are buffered in memory; [[take]] drains the
  * listener bus first, so everything an operation posted is attributed to
  * it before the next one starts. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, JobRec]
  private val sqlStarts = mutable.HashMap.empty[Long, (Long, String)]
  private val sqlExecs = mutable.ArrayBuffer.empty[SqlExecRec]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def take(): Captured = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val c = Captured(jobs.values.toSeq, sqlExecs.toSeq, plans.toSeq)
      jobs.clear(); stageToJob.clear(); sqlExecs.clear(); plans.clear()
      c
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the final stage is named after the job's call site ("count at X.scala:52")
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    val j = new JobRec(e.jobId, e.time, site, exec, e.stageIds)
    jobs(e.jobId) = j
    e.stageIds.foreach(stageToJob(_) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageToJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageToJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      j.inputBytes += m.inputMetrics.bytesRead
      j.inputRecords += m.inputMetrics.recordsRead
      j.outputBytes += m.outputMetrics.bytesWritten
      j.outputRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlStarts(s.executionId) = (s.time, s.description)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      sqlStarts.remove(s.executionId).foreach { case (t0, d) =>
        sqlExecs += SqlExecRec(s.executionId, t0, s.time, d)
      }
    }
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { plans += PlanRec.of(funcName, qe) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { plans += PlanRec.of(funcName, qe) }
}
