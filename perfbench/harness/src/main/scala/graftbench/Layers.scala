package graftbench

/** Turns the traced passes and the tracer's raw events into the span tree
  * (query → define | execute → job → stage) and the per-layer metrics.
  * Every metric is computed per traced pass; the reported value is the
  * median over the timed traced passes. */
object Layers {

  final case class Result(spans: Seq[Span], metrics: Map[String, Double])

  /** `dialect` names the queries whose function goes through `PrestoSql`,
    * `pipeline` those that run a `Pipeline` or `PipelineSpec`. */
  def apply(passes: Seq[Pass], t: Tracer, cores: Int, dialect: Set[String],
      pipeline: Set[String]): Result = {
    var nextId = 0
    def id(): Int = { nextId += 1; nextId }
    val spans = Seq.newBuilder[Span]
    // pass/query → (sample, define span, execute span)
    val byQid = scala.collection.mutable.Map.empty[String, (Sample, Span, Span)]
    for (p <- passes; s <- p.samples) {
      val qid = s"${p.pass}/${s.query}"
      val q = id()
      val d = Span(id(), "define", s.startUs, s.defineEndUs, q, qid)
      val e = Span(id(), "execute", s.defineEndUs, s.endUs, q, qid)
      spans += Span(q, "query", s.startUs, s.endUs, -1, qid) += d += e
      byQid(qid) = (s, d, e)
    }
    // the runner's qid is workload/pass/query; spans key on pass/query
    def key(full: String): String = full.split("/", 2) match {
      case Array(_, rest) => rest
      case _ => full
    }

    val jobSpan = scala.collection.mutable.Map.empty[Int, Span]
    val tasksByStage = t.tasks.groupBy(_.stageId)
    val stagesByJob = t.stages.groupBy(st => t.index.jobOf(st.stageId))
    for (j <- t.jobs; (_, d, e) <- byQid.get(key(j.qid))) {
      val parent = if (j.startMs * 1000 < d.endUs) d else e
      val jobTasks = stagesByJob.getOrElse(Some(j.jobId), Nil)
        .flatMap(st => tasksByStage.getOrElse(st.stageId, Nil))
      val js = Span(id(), "job", j.startMs * 1000, j.endMs * 1000, parent.id,
        parent.qid, Map("tasks" -> jobTasks.size.toDouble))
      jobSpan(j.jobId) = js
      spans += js
    }
    for (st <- t.stages; j <- t.index.jobOf(st.stageId); js <- jobSpan.get(j)) {
      val ts = tasksByStage.getOrElse(st.stageId, Nil)
      spans += Span(id(), "stage", st.submitMs * 1000, st.endMs * 1000, js.id,
        js.qid, Map("tasks" -> ts.size.toDouble,
          "task_run_ms" -> ts.map(_.runMs).sum.toDouble,
          "input_bytes" -> ts.map(_.inBytes).sum.toDouble,
          "shuffle_read_bytes" -> ts.map(_.shuffleReadBytes).sum.toDouble,
          "shuffle_write_bytes" -> ts.map(_.shuffleWriteBytes).sum.toDouble))
    }
    val all = spans.result()
    val self = Spans.selfUs(all)

    // task → query id, through stage → job → job's query
    val jobQid = t.jobs.map(j => j.jobId -> key(j.qid)).toMap
    def stageQid(stageId: Int): Option[String] =
      t.index.jobOf(stageId).flatMap(jobQid.get).filter(byQid.contains)
    def passOf(qid: String): Int = qid.takeWhile(_ != '/').toInt
    def queryOf(qid: String): String = qid.dropWhile(_ != '/').drop(1)

    val queryIvs = byQid.values.map(_._1).toSeq
      .map(s => (s.startUs, s.endUs, s"${s.pass}/${s.query}"))
    def qidAt(us: Long): Option[String] =
      queryIvs.find { case (a, b, _) => a <= us && us <= b }.map(_._3)

    def perPass(f: Int => Double, which: Seq[Pass]): Double =
      if (which.isEmpty) 0.0 else Stats.median(which.map(p => f(p.pass)))
    val timed = passes.filter(_.pass > 0)
    val first = passes.filter(_.pass == 0)

    def samplesOf(pass: Int) = passes.filter(_.pass == pass).flatMap(_.samples)
    def defineSum(pass: Int, pred: String => Boolean): Double =
      samplesOf(pass).filter(s => pred(s.query)).map(_.defineS).sum
    def tasksOf(pass: Int, pred: String => Boolean = _ => true): Seq[TaskRec] =
      t.tasks.toSeq.filter(tk => stageQid(tk.stageId)
        .exists(q => passOf(q) == pass && pred(queryOf(q))))
    def phaseSum(pass: Int, phase: String): Double =
      t.phases.toSeq.filter(_.phase == phase)
        .filter(ph => qidAt(ph.startMs * 1000).exists(passOf(_) == pass))
        .map(ph => (ph.endMs - ph.startMs) / 1e3).sum
    def passWall(pass: Int): Double = {
      val ss = samplesOf(pass)
      (ss.map(_.endUs).max - ss.map(_.startUs).min) / 1e6
    }
    def outsideJobs(pass: Int): Double = samplesOf(pass).map { s =>
      val jobsIv = t.jobs.toSeq.filter(j => key(j.qid) == s"$pass/${s.query}")
        .map(j => (j.startMs * 1000, j.endMs * 1000))
      (s.endUs - s.startUs - Spans.coveredUs(s.startUs, s.endUs, jobsIv)) / 1e6
    }.sum
    def skew(pass: Int): Double = {
      val ratios = tasksOf(pass).groupBy(_.stageId).values.filter(_.size >= 2)
        .map { ts =>
          val runs = ts.map(_.runMs.toDouble)
          runs.max / math.max(1.0, Stats.median(runs))
        }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
    def triggersOf(pass: Int) =
      t.triggers.toSeq.filter(tr => tr.qid.nonEmpty && passOf(key(tr.qid)) == pass)
    def dur(tr: TriggerRec, k: String): Double = tr.durations.getOrElse(k, 0L).toDouble
    def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def stateMax(pass: Int, f: TriggerRec => Long): Double =
      triggersOf(pass).groupBy(_.streamId).values.map(_.map(f).max.toDouble).sum
    def selfSum(pass: Int, name: String): Double =
      all.filter(s => s.name == name && passOf(s.qid) == pass)
        .map(s => self(s.id) / 1e6).sum

    val m = Map[String, Int => Double](
      "ops.define_s" -> (p => defineSum(p, _ => true)),
      "presto.define_warm_s" -> (p => defineSum(p, dialect)),
      "pipeline.define_s" -> (p => defineSum(p, pipeline)),
      "pipeline.output_bytes" -> (p => tasksOf(p, pipeline).map(_.outBytes).sum.toDouble),
      "catalyst.analysis_s" -> (p => phaseSum(p, "analysis")),
      "catalyst.optimization_s" -> (p => phaseSum(p, "optimization")),
      "catalyst.planning_s" -> (p => phaseSum(p, "planning")),
      "exec.jobs" -> (p => t.jobs.count(j => byQid.contains(key(j.qid)) && passOf(key(j.qid)) == p).toDouble),
      "exec.stages" -> (p => t.stages.count(st => stageQid(st.stageId).exists(passOf(_) == p)).toDouble),
      "exec.tasks" -> (p => tasksOf(p).size.toDouble),
      "exec.failed_tasks" -> (p => tasksOf(p).count(_.failed).toDouble),
      "exec.task_run_s" -> (p => tasksOf(p).map(_.runMs).sum / 1e3),
      "exec.task_cpu_s" -> (p => tasksOf(p).map(_.cpuNs).sum / 1e9),
      "exec.gc_s" -> (p => tasksOf(p).map(_.gcMs).sum / 1e3),
      "exec.input_bytes" -> (p => tasksOf(p).map(_.inBytes).sum.toDouble),
      "exec.shuffle_read_bytes" -> (p => tasksOf(p).map(_.shuffleReadBytes).sum.toDouble),
      "exec.shuffle_write_bytes" -> (p => tasksOf(p).map(_.shuffleWriteBytes).sum.toDouble),
      "exec.spill_bytes" -> (p => tasksOf(p).map(_.spillBytes).sum.toDouble),
      "exec.output_bytes" -> (p => tasksOf(p).map(_.outBytes).sum.toDouble),
      "exec.outside_jobs_s" -> outsideJobs,
      "exec.core_util" -> (p => tasksOf(p).map(_.runMs).sum / 1e3 / (passWall(p) * cores)),
      "exec.task_skew" -> skew,
      "streaming.triggers" -> (p => triggersOf(p).size.toDouble),
      "streaming.trigger_p50_ms" -> (p => medianOr0(triggersOf(p).map(dur(_, "triggerExecution")))),
      "streaming.addbatch_share" -> { p =>
        val ts = triggersOf(p)
        val total = ts.map(dur(_, "triggerExecution")).sum
        if (total == 0) 0.0 else ts.map(dur(_, "addBatch")).sum / total
      },
      "streaming.planning_ms" -> (p => medianOr0(triggersOf(p).map(dur(_, "queryPlanning")))),
      "streaming.commit_ms" -> (p => medianOr0(triggersOf(p).map(tr =>
        dur(tr, "walCommit") + dur(tr, "commitOffsets")))),
      "streaming.state_rows" -> (p => stateMax(p, _.stateRows)),
      "streaming.state_mem_bytes" -> (p => stateMax(p, _.stateMemBytes)),
      "self.define_s" -> (p => selfSum(p, "define")),
      "self.execute_s" -> (p => selfSum(p, "execute")),
      "self.job_s" -> (p => selfSum(p, "job")),
      "self.stage_s" -> (p => selfSum(p, "stage")),
    )
    val metrics = m.map { case (k, f) => k -> perPass(f, timed) } +
      ("presto.define_first_s" -> perPass(p => defineSum(p, dialect), first))
    Result(all, metrics)
  }
}
