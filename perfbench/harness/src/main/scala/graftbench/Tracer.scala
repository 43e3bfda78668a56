package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable
import scala.jdk.CollectionConverters._

final case class JobRec(jobId: Int, qid: String, startMs: Long, endMs: Long)
final case class StageRec(stageId: Int, submitMs: Long, endMs: Long)
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    failed: Boolean, runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
    shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
    outBytes: Long)
final case class PhaseRec(phase: String, startMs: Long, endMs: Long)
final case class TriggerRec(qid: String, streamId: String, durations: Map[String, Long],
    stateRows: Long, stateMemBytes: Long)

/** Listeners attached only while a traced pass runs. They record raw
  * events; `Layers` turns them into spans and per-layer metrics after the
  * run. Jobs carry the query id through a local property, tasks reach
  * their job through `StageJobIndex`, and planner phases reach their query
  * by time, since the driver runs one query at a time. */
final class Tracer(spark: SparkSession) {
  val index = new StageJobIndex
  private val jobStarts = mutable.Map.empty[Int, (String, Long)]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.ArrayBuffer.empty[StageRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]
  val triggers = mutable.ArrayBuffer.empty[TriggerRec]
  private val streamQid = mutable.Map.empty[String, String]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      index.jobStarted(e.jobId, e.stageIds)
      val qid = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Runner.QidProperty))).getOrElse("")
      jobStarts(e.jobId) = (qid, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (qid, start) =>
        jobs += JobRec(e.jobId, qid, start, e.time)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        for (a <- si.submissionTime; b <- si.completionTime)
          stages += StageRec(si.stageId, a, b)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val ti = e.taskInfo
      tasks += (if (m == null)
        TaskRec(e.stageId, ti.launchTime, ti.finishTime, ti.failed,
          0, 0, 0, 0, 0, 0, 0, 0)
      else TaskRec(e.stageId, ti.launchTime, ti.finishTime, ti.failed,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled,
        m.outputMetrics.bytesWritten))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      recordPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      recordPhases(qe)
  }

  def recordPhases(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (name, p) =>
      phases += PhaseRec(name, p.startTimeMs, p.endTimeMs)
    }
  }

  private val streamListener = new StreamingQueryListener {
    // called synchronously from start(), on the thread running the query
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        streamQid(e.id.toString) = Option(
          spark.sparkContext.getLocalProperty(Runner.QidProperty)).getOrElse("")
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        val ops = Option(p.stateOperators).getOrElse(Array.empty)
        triggers += TriggerRec(streamQid.getOrElse(p.id.toString, ""),
          p.id.toString,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every event posted so far has been delivered, then
    * removes the listeners. */
  def detach(): Unit = {
    org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}
