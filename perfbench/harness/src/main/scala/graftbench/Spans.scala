package graftbench

import scala.collection.mutable

/** One traced interval. `qid` is workload/pass/query; times are epoch
  * microseconds; `parent` is the id of the enclosing span, or -1. */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
    parent: Int, qid: String, counts: Map[String, Double] = Map.empty) {
  def durUs: Long = endUs - startUs
}

object Spans {

  /** Length of the union of `ivs`, each clipped to [lo, hi]. */
  def coveredUs(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = 0L
    var curB = Long.MinValue
    for ((a, b) <- clipped) {
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover. */
  def selfUs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c => (c.startUs, c.endUs))
      s.id -> (s.durUs - coveredUs(s.startUs, s.endUs, cs))
    }.toMap
  }
}

/** Maps each stage to the job that ran it, by stageId → jobId. A job lists
  * every stage of its lineage, and a later job lists an already-run stage
  * only as skipped, so a stage belongs to the lowest-numbered job listing
  * it. This holds when adaptive execution runs stage-jobs concurrently,
  * where charging a task to the most recent open job does not. */
final class StageJobIndex {
  private val stageJob = mutable.Map.empty[Int, Int]

  def jobStarted(jobId: Int, stageIds: Seq[Int]): Unit = synchronized {
    stageIds.foreach { s =>
      if (stageJob.get(s).forall(_ > jobId)) stageJob(s) = jobId
    }
  }

  def jobOf(stageId: Int): Option[Int] = synchronized(stageJob.get(stageId))
}
