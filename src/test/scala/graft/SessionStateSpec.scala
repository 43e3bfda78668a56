package graft

/** Session-scoped state has one owner, `GraftSession`: sessions from its
  * factory have the native functions from birth, and a query that
  * overrides a conf hands on the session it was given.
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
    Seq("j11_cbo_reorder", "s9_partition_overwrite", "o11b_merge_cow",
      "p6_daily_incremental", "p4i_presto_explain_analyze",
      "l69_logreg_bigram_quality", "e1b_stream_tumbling",
      "e22_stream_dedup", "e30_stream_transform_state").foreach { q =>
      Metrics.noopSink(SparkEntry.queries(q)(s, sf))
      val after = s.conf.getAll
      val changed = (before.keySet ++ after.keySet)
        .filter(k => before.get(k) != after.get(k)).toSeq.sorted
        .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
      assert(changed.isEmpty, s"$q changed session confs: $changed")
    }
  }
}
