package graft

/** Scratch profiler for the streaming-proof cost floor (r9 verdict #2):
  * runs selected streaming proofs, prints wall time + per-trigger
  * durationMs breakdown from the query listener. Temporary tool; not
  * part of the driver contract. */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val d = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val qs = (if (args.length > 1) args(1)
              else "e1b_stream_tumbling,e25_stream_stream_left").split(",")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val progresses =
      new java.util.concurrent.ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        progresses.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    for (q <- qs; pass <- 1 to 2) {
      progresses.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(q)(spark, d).collect()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"== $q pass$pass wall=$wall%.2fs triggers=${progresses.size}")
      // per-phase split over all triggers (r10 verdict #6): source
      // listing (latestOffset + getBatch), planning (queryPlanning),
      // execution (addBatch — the actual micro-batch compute), commit
      // bookkeeping (walCommit + commitOffsets/commitBatch), trigger
      // total; 'outside' = wall − Σ triggerExecution is start/stop +
      // awaitTermination drain polling, the harness's own cost
      var src = 0L; var plan = 0L; var add = 0L; var commit = 0L
      var trig = 0L
      progresses.forEach { p =>
        val dm = p.durationMs
        def g(k: String): Long =
          if (dm.containsKey(k)) dm.get(k).longValue() else 0L
        src += g("latestOffset") + g("getBatch")
        plan += g("queryPlanning")
        add += g("addBatch")
        commit += g("walCommit") + g("commitOffsets") + g("commitBatch")
        trig += g("triggerExecution")
      }
      val outside = wall - trig / 1e3
      println(f"  sourceListing=${src / 1e3}%.2fs planning=${plan / 1e3}%.2fs " +
        f"addBatch=${add / 1e3}%.2fs commit=${commit / 1e3}%.2fs " +
        f"triggerTotal=${trig / 1e3}%.2fs outsideTriggers=$outside%.2fs")
      progresses.forEach { p =>
        val dm = p.durationMs
        println(s"  batch=${p.batchId} rows=${p.numInputRows} " +
          s"durations=${dm.toString}")
      }
    }
    spark.stop()
  }
}
