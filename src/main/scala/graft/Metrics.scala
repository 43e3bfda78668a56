package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{classic, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The measurement core: the one code that times a query. `measure`
  * defines a query, runs it through the noop sink and returns its wall
  * time with the split of where that time went:
  *  - jobs, stages and tasks (each job with its task count), job time as
  *    the union of the job intervals and time outside jobs, task run,
  *    CPU and GC time, the slowest task against the median one, input,
  *    shuffle and spill bytes;
  *  - Catalyst analysis, optimization and planning, summed over every
  *    QueryExecution that finishes in the window: the noop write plans
  *    under its own, and so does every eager action of the query
  *    function. The returned frame's own analysis, done when the query
  *    function builds it, is added once: its QueryExecution never runs;
  *  - the triggers of every stream the query function runs, split by
  *    phase, and their state rows;
  *  - block-manager storage memory and persistent RDDs after the action.
  * Bench writes this split for every query into `bench_detail.json`;
  * MetricsSpec asserts byte-level bounds for partition pruning,
  * pre-aggregation and hash-only dedup shuffles with it.
  *
  * Implementation note: a SparkListener, a QueryExecutionListener and a
  * StreamingQueryListener are attached for the duration of one measured
  * query and removed in `finally`. Listener events are delivered
  * asynchronously, so the bus is drained before attaching (no late
  * events of earlier actions) and before reading totals. Tasks are
  * charged to jobs by stageId → jobId, which stays right when AQE runs
  * several stage-jobs at once. Counters are synchronized —
  * tasks end concurrently, and stream progress arrives on its own
  * thread.
  */
object Metrics {

  /** One Spark job of a measured query. */
  final case class JobMetrics(jobId: Int, startMs: Long, endMs: Long,
      tasks: Int) {
    def wallMs: Long = endMs.max(startMs) - startMs
  }

  /** The triggers of the streams a measured query ran; phase times are
    * summed over all triggers. */
  final case class StreamMetrics(
      triggers: Int,
      sourceMs: Long, // latestOffset + getBatch
      planningMs: Long, // queryPlanning
      addBatchMs: Long, // the micro-batch itself
      commitMs: Long, // walCommit + commitOffsets + commitBatch
      triggerMs: Long, // triggerExecution, the whole trigger
      stateRows: Long) // after each stream's last trigger

  /** Aggregated metrics for one measured query. `phaseMs` maps a
    * Catalyst phase name to its time. */
  final case class RunMetrics(
      wallS: Double,
      inputBytes: Long,
      inputRecords: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      tasks: Int,
      jobs: Seq[JobMetrics],
      stages: Int,
      taskRunMs: Long,
      taskCpuMs: Long,
      gcMs: Long,
      taskMaxMs: Long,
      taskMedianMs: Long,
      shuffleReadBytes: Long,
      spillBytes: Long,
      phaseMs: Map[String, Long],
      stream: StreamMetrics,
      storageMemBytes: Long,
      persistentRdds: Int) {

    def wallMs: Long = math.round(wallS * 1e3)

    /** Time inside at least one job: the union of the job intervals. */
    def jobMs: Long =
      jobs.map(j => (j.startMs, j.startMs + j.wallMs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          (sum + (e - s.max(reach)).max(0L), reach.max(e))
        }._1

    /** Time outside every job: definition, eager work between jobs,
      * planning, broadcast and result handling. */
    def outsideJobsMs: Long = (wallMs - jobMs).max(0L)

    /** The split Bench writes, as named counters; the trigger fields
      * only for a query that ran a stream. */
    def split: Seq[(String, Long)] = Seq(
      "jobs" -> jobs.size.toLong, "stages" -> stages.toLong,
      "tasks" -> tasks.toLong, "job_ms" -> jobMs,
      "outside_jobs_ms" -> outsideJobsMs,
      "analysis_ms" -> phaseMs.getOrElse("analysis", 0L),
      "optimization_ms" -> phaseMs.getOrElse("optimization", 0L),
      "planning_ms" -> phaseMs.getOrElse("planning", 0L),
      "task_run_ms" -> taskRunMs, "task_cpu_ms" -> taskCpuMs,
      "gc_ms" -> gcMs, "task_max_ms" -> taskMaxMs,
      "task_median_ms" -> taskMedianMs, "input_bytes" -> inputBytes,
      "shuffle_read_bytes" -> shuffleReadBytes,
      "shuffle_write_bytes" -> shuffleWriteBytes,
      "spill_bytes" -> spillBytes, "storage_mem_bytes" -> storageMemBytes,
      "persistent_rdds" -> persistentRdds.toLong) ++
      (if (stream.triggers == 0) Nil
       else Seq(
         "triggers" -> stream.triggers.toLong,
         "trigger_source_ms" -> stream.sourceMs,
         "trigger_planning_ms" -> stream.planningMs,
         "trigger_addbatch_ms" -> stream.addBatchMs,
         "trigger_commit_ms" -> stream.commitMs,
         "outside_triggers_ms" -> (wallMs - stream.triggerMs).max(0L),
         "state_rows" -> stream.stateRows))
  }

  /** Evaluate every output column of `df`, keeping nothing. NOT count():
    * count() lets Catalyst prune the output projection and every
    * aggregate the grouping keys do not need, so a projection-only query
    * would be timed as a bare row count. */
  def noopSink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private final class Collector extends SparkListener
      with QueryExecutionListener {
    private val jobOfStage = mutable.Map.empty[Int, Int]
    private val jobs = mutable.LinkedHashMap.empty[Int, JobMetrics]
    private val taskRunMs = mutable.ArrayBuffer.empty[Long]
    private var inputBytes, inputRecords, shuffleBytes, shuffleRecords,
      shuffleReadBytes, spillBytes, cpuNs, gcMs = 0L
    private var stages = 0
    private val phaseMs = mutable.Map.empty[String, Long]
    private val reported = mutable.Set.empty[QueryExecution]
    private var triggers = 0
    private var sourceMs, planningMs, addBatchMs, commitMs, triggerMs = 0L
    private val stateRows = mutable.Map.empty[java.util.UUID, Long]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobMetrics(e.jobId, e.time, -1L, 0)
      // a stage already run by an earlier job reappears (skipped) in the
      // stageIds of later jobs: the first job that lists it runs it
      e.stageIds.foreach(jobOfStage.getOrElseUpdate(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.updateWith(e.jobId)(_.map(_.copy(endMs = e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
      }
      taskRunMs += (if (m != null) m.executorRunTime else 0L)
      jobOfStage.get(e.stageId)
        .foreach(jobs.updateWith(_)(_.map(j => j.copy(tasks = j.tasks + 1))))
    }

    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      addPhases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      addPhases(qe)
    private def addPhases(qe: QueryExecution): Unit = synchronized {
      reported += qe
      qe.tracker.phases.foreach { case (phase, t) => addPhase(phase, t.durationMs) }
    }
    private def addPhase(phase: String, ms: Long): Unit =
      phaseMs(phase) = phaseMs.getOrElse(phase, 0L) + ms

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        Collector.this.synchronized {
          val p = e.progress
          val ms = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
            .withDefaultValue(0L)
          triggers += 1
          sourceMs += ms("latestOffset") + ms("getBatch")
          planningMs += ms("queryPlanning")
          addBatchMs += ms("addBatch")
          commitMs += ms("walCommit") + ms("commitOffsets") + ms("commitBatch")
          triggerMs += ms("triggerExecution")
          stateRows(p.id) =
            Option(p.stateOperators).map(_.map(_.numRowsTotal).sum).getOrElse(0L)
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }

    /** `frame` is the returned frame's QueryExecution: its analysis is
      * added unless a listener event already reported it. */
    def result(wallS: Double, frame: QueryExecution, storageMemBytes: Long,
        persistentRdds: Int): RunMetrics = synchronized {
      if (!reported(frame))
        frame.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
          .foreach(t => addPhase(QueryPlanningTracker.ANALYSIS, t.durationMs))
      val runs = taskRunMs.sorted
      RunMetrics(wallS, inputBytes, inputRecords, shuffleBytes,
        shuffleRecords, runs.size, jobs.values.toSeq, stages, runs.sum,
        cpuNs / 1000000L, gcMs, runs.lastOption.getOrElse(0L),
        if (runs.isEmpty) 0L else runs((runs.size - 1) / 2),
        shuffleReadBytes, spillBytes, phaseMs.toMap,
        StreamMetrics(triggers, sourceMs, planningMs, addBatchMs, commitMs,
          triggerMs, stateRows.values.sum),
        storageMemBytes, persistentRdds)
    }
  }

  /** Define `df` and run it through the noop sink with the listeners
    * attached, and return the wall time of both with its split. `df` is
    * taken by name, so eager work inside the query function (actions,
    * checkpoints, streams) is charged to this query. */
  def measure(spark: SparkSession, df: => DataFrame): RunMetrics = {
    val sc = spark.sparkContext
    val planners = spark.asInstanceOf[classic.SparkSession].listenerManager
    val collector = new Collector
    // flush events queued by PRIOR jobs first — async delivery would
    // otherwise route a just-finished job's TaskEnds to this listener
    // and inflate the measured totals
    GraftShim.drainListenerBus(sc)
    sc.addSparkListener(collector)
    planners.register(collector)
    spark.streams.addListener(collector.streams)
    var actionFailed = false
    var frame: QueryExecution = null
    val t0 = System.nanoTime()
    val wallS =
      try {
        val d = df
        frame = d.queryExecution
        noopSink(d)
        (System.nanoTime() - t0) / 1e9
      }
      catch { case e: Throwable => actionFailed = true; throw e }
      finally {
        // deliver queued events before detaching. A drain failure is
        // only swallowed when the query threw (the original exception
        // must not be masked); on a successful run it propagates —
        // undelivered TaskEnds mean the totals are silently undercounted,
        // which must fail loudly rather than flake a byte-bound assertion
        try GraftShim.drainListenerBus(sc)
        catch { case _: Throwable if actionFailed => () }
        finally {
          sc.removeSparkListener(collector)
          planners.unregister(collector)
          spark.streams.removeListener(collector.streams)
        }
      }
    val storageMemBytes = sc.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    collector.result(wallS, frame, storageMemBytes, sc.getPersistentRDDs.size)
  }
}
