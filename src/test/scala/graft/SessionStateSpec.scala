package graft

import graft.streaming.StreamProof

/** Session-scoped state has one owner, `GraftSession`: sessions from its
  * factory have the native functions from birth, and a query that
  * overrides a conf hands on the session it was given. A streaming proof
  * also hands it on without a sink view, a running query or a checkpoint.
  */
class SessionStateSpec extends SparkSpec {

  test("a newSession() of a factory session resolves the native functions") {
    val r = spark.newSession().sql(
      """SELECT cosine_sim(array(3.0F, 4.0F), array(4.0F, 3.0F)) AS c,
        |  unit_q3(array(3.0F, 4.0F)) AS u""".stripMargin).head()
    assert(r.getDouble(0) == 0.96)
    val u = r.getStruct(1)
    assert(u.getSeq[Long](0) == Seq(600L, 800L) && u.getLong(1) == 1000000L)
  }

  test("queries that scope a conf leave the session's explicit confs unchanged") {
    val s = spark.newSession()
    // the table load sets its read-time flag (nanosAsLong) once, by design
    Tables.registerAll(s, sf)
    val before = s.conf.getAll
    def tempViews = s.catalog.listTables().collect().filter(_.isTemporary)
      .map(_.name).toSet
    val viewsBefore = tempViews
    Seq("j11_cbo_reorder", "s9_partition_overwrite", "o11b_merge_cow",
      "p6_daily_incremental", "p4i_presto_explain_analyze",
      "l69_logreg_bigram_quality", "e1b_stream_tumbling",
      "e22_stream_dedup", "e30_stream_transform_state",
      "e16_stream_session", "e24_stream_restart_recovery",
      "e26_stream_update_mode", "p4h_presto_introspection").foreach { q =>
      Metrics.noopSink(SparkEntry.queries(q)(s, sf))
      val after = s.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k)).toSeq.sorted
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$q changed session confs: $changed")
      // a streaming proof leaves no sink view, query or checkpoint behind
      assert(tempViews == viewsBefore,
        s"$q added temp views: ${tempViews -- viewsBefore}")
      assert(s.streams.active.isEmpty, s"$q left a streaming query running")
      assert(Option(StreamProof.checkpointRoot.list()).forall(_.isEmpty),
        s"$q left checkpoints under ${StreamProof.checkpointRoot}")
    }
    // a proof's result outlives its dropped view, and a second run of the
    // same proof in the same session returns the same rows
    val e1b = SparkEntry.queries("e1b_stream_tumbling")
    val first = e1b(s, sf)
    val rows = first.collect().toSeq
    assert(rows.nonEmpty && e1b(s, sf).collect().toSeq == rows)
    assert(first.collect().toSeq == rows)
    assert(tempViews == viewsBefore)
  }
}
