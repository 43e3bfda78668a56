package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.GraftShim

/** Task-metrics measurement core: runs an action through the noop sink
  * and aggregates the executor-side metrics of every task it schedules,
  * overall and per Spark job. This is the quantitative side of the
  * PLANS.md story — plan shape says a scan is pruned or a shuffle is
  * narrow; these numbers PROVE it (MetricsSpec asserts byte-level bounds
  * for partition pruning, pre-aggregation and hash-only dedup shuffles),
  * and JobProfile prints its job breakdown from them.
  *
  * Implementation note: a SparkListener is registered for the duration
  * of one measured action and removed in `finally`. Listener events are
  * delivered asynchronously, so the bus is drained before attaching (no
  * late events of earlier actions) and before reading totals. Tasks and
  * stages are charged to jobs by stageId → jobId, which stays right when
  * AQE runs several stage-jobs at once. Counters are synchronized —
  * tasks end concurrently.
  */
object Metrics {

  /** One Spark job of a measured action; `stageNames` are
    * "name(<tasks>t,<ms>ms)" in completion order. */
  final case class JobMetrics(
      jobId: Int,
      startMs: Long,
      endMs: Long,
      stages: Int,
      tasks: Int,
      taskTimeMs: Long,
      stageNames: Vector[String]) {
    def wallMs: Long = endMs.max(startMs) - startMs
  }

  /** Aggregated executor metrics for one measured action. */
  final case class RunMetrics(
      wallS: Double,
      inputBytes: Long,
      inputRecords: Long,
      shuffleWriteBytes: Long,
      shuffleWriteRecords: Long,
      tasks: Int,
      jobs: Seq[JobMetrics])

  /** Evaluate every output column of `df`, keeping nothing. NOT count():
    * count() lets Catalyst prune the output projection and every
    * aggregate the grouping keys do not need, so a projection-only query
    * would be timed as a bare row count. */
  def noopSink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private final class Collector extends SparkListener {
    private val jobOfStage = mutable.Map.empty[Int, Int]
    private val jobs = mutable.LinkedHashMap.empty[Int, JobMetrics]
    private var inputBytes, inputRecords, shuffleBytes, shuffleRecords = 0L
    private var tasks = 0

    // a stage already run by an earlier job reappears (skipped) in the
    // stageIds of later jobs: the first job that lists it runs it
    private def updateJobOf(stageId: Int)(f: JobMetrics => JobMetrics): Unit =
      jobOfStage.get(stageId).foreach(jobs.updateWith(_)(_.map(f)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) =
        JobMetrics(e.jobId, e.time, -1L, e.stageIds.size, 0, 0L, Vector.empty)
      e.stageIds.foreach(jobOfStage.getOrElseUpdate(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.updateWith(e.jobId)(_.map(_.copy(endMs = e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val name = s"${si.name.takeWhile(_ != '.')}(${si.numTasks}t," +
          s"${si.completionTime.getOrElse(0L) - si.submissionTime.getOrElse(0L)}ms)"
        updateJobOf(si.stageId)(j => j.copy(stageNames = j.stageNames :+ name))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      tasks += 1
      if (m != null) {
        inputBytes += m.inputMetrics.bytesRead
        inputRecords += m.inputMetrics.recordsRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      }
      val runMs = if (m != null) m.executorRunTime else 0L
      updateJobOf(e.stageId)(j =>
        j.copy(tasks = j.tasks + 1, taskTimeMs = j.taskTimeMs + runMs))
    }

    def result(wallS: Double): RunMetrics = synchronized {
      RunMetrics(wallS, inputBytes, inputRecords, shuffleBytes,
        shuffleRecords, tasks, jobs.values.toSeq)
    }
  }

  /** Run `df` through the noop sink under a temporary listener and
    * return the wall time and task totals. */
  def measure(spark: SparkSession, df: DataFrame): RunMetrics = {
    val sc = spark.sparkContext
    val collector = new Collector
    // flush events queued by PRIOR jobs first — async delivery would
    // otherwise route a just-finished job's TaskEnds to this listener
    // and inflate the measured totals
    GraftShim.drainListenerBus(sc)
    sc.addSparkListener(collector)
    var actionFailed = false
    val t0 = System.nanoTime()
    val wallS =
      try { noopSink(df); (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable => actionFailed = true; throw e }
      finally {
        // deliver queued TaskEnd events before detaching. A drain failure
        // is only swallowed when the ACTION threw (the original exception
        // must not be masked); on a successful action it propagates —
        // undelivered TaskEnds mean the totals are silently undercounted,
        // which must fail loudly rather than flake a byte-bound assertion
        try GraftShim.drainListenerBus(sc)
        catch { case _: Throwable if actionFailed => () }
        finally sc.removeSparkListener(collector)
      }
    collector.result(wallS)
  }
}
