package graft

/** Per-query job/stage decomposition for the optimization rounds: runs a
  * query twice (rep 1 absorbs codegen/classload warm-up), and for the
  * warm rep prints every Spark job's wall time plus the gap spent
  * OUTSIDE jobs (driver-side planning, broadcast builds, result
  * handling), read from `Metrics.measure`. Usage:
  *   runMain graft.JobProfile <sfDir> <q1,q2,...>
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // shared warm-up
    spark.read.parquet(s"$sfDir/region.parquet").count()
    for (n <- names) SparkEntry.queries.get(n) match {
      case None => System.err.println(s"[jobprofile] UNKNOWN query: $n")
      case Some(fn) =>
        // rep 1: warm-up (codegen, classload, fixture builds)
        Metrics.noopSink(fn(spark, sfDir))
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val tDef = (System.nanoTime() - t0) / 1e6
        val m = Metrics.measure(spark, df)
        val wall = tDef + m.wallS * 1e3
        val phases = df.queryExecution.tracker.phases
          .map { case (p, t) => s"$p=${t.endTimeMs - t.startTimeMs}ms" }
          .mkString(" ")
        println(f"[def ${tDef}%8.1f ms]  phases: $phases")
        val inJobs = m.jobs.map(_.wallMs).sum
        println(f"\n=== $n  wall ${wall}%9.1f ms   jobs ${m.jobs.size}%3d   " +
          f"in-jobs $inJobs%6d ms   outside ${wall - inJobs}%9.1f ms")
        for (j <- m.jobs)
          println(f"  job ${j.jobId}%3d  ${j.wallMs}%6d ms  " +
            f"stages ${j.stages}%2d  tasks ${j.tasks}%4d  " +
            f"taskTime ${j.taskTimeMs}%6d ms  ${j.stageNames.mkString(" ")}")
    }
    spark.stop()
  }
}
