package graft

import org.apache.spark.sql.functions._

/** Quantitative scale evidence (the measured counterpart of PLANS.md's
  * plan-shape audit): task-level input/shuffle byte totals prove that
  * partition pruning skips I/O, pre-aggregation shrinks shuffles, and
  * hash-dedup never shuffles payloads. Byte thresholds are deliberately
  * loose (2× headroom) — they assert the mechanism, not the exact size.
  */
class MetricsSpec extends SparkSpec {

  test("partition pruning reads a fraction of the unpruned table (S6)") {
    val out = ops.Sources.scratch("graft_mprune")
    Tables.orders(spark, sf)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    val full = Metrics.measure(spark, spark.read.parquet(out))
    val pruned = Metrics.measure(spark,
      spark.read.parquet(out).filter(col("o_orderstatus") === "P"))
    // 'P' is the smallest status partition (~2% of orders): the pruned
    // scan must read far less than the full table, not filter post-hoc
    assert(pruned.inputBytes > 0)
    assert(pruned.inputBytes * 2 < full.inputBytes,
      s"pruned=${pruned.inputBytes}B full=${full.inputBytes}B")
    assert(pruned.inputRecords * 2 < full.inputRecords)
  }

  test("pre-aggregation below the join shrinks the shuffle (J10 mechanism)") {
    val li = Tables.lineitem(spark, sf)
    val naive = Metrics.measure(spark,
      Tables.orders(spark, sf)
        .join(li.repartition(col("l_orderkey")), // force li through a shuffle
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_extendedprice"))))
    val preagg = Metrics.measure(spark,
      Tables.orders(spark, sf)
        .join(li.groupBy(col("l_orderkey"))
            .agg(sum(col("l_extendedprice")).as("rev")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("rev"))))
    assert(preagg.shuffleWriteRecords < naive.shuffleWriteRecords,
      s"preagg=${preagg.shuffleWriteRecords} naive=${naive.shuffleWriteRecords}")
  }

  test("exact dedup shuffles hashes, never document text (L1 mechanism)") {
    val docs = Tables.documents(spark, sf)
    val viaHash = Metrics.measure(spark,
      docs.select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy(col("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")))
    // the naive formulation groups on the raw text — the whole payload
    // crosses the wire; the hash form must shuffle a small fraction
    val viaText = Metrics.measure(spark,
      docs.groupBy(col("text"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n")))
    assert(viaHash.shuffleWriteBytes > 0 && viaText.shuffleWriteBytes > 0)
    assert(viaHash.shuffleWriteBytes * 2 < viaText.shuffleWriteBytes,
      s"hash=${viaHash.shuffleWriteBytes}B text=${viaText.shuffleWriteBytes}B")
  }

  test("bucketed join shuffles a fraction of the unbucketed equivalent (S14 mechanism)") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // s14's declared query builds (or reuses) the bucketed tables
      val bucketed = Metrics.measure(spark,
        ops.Sources.queries("s14_bucketed_join")(spark, sf))
      val unbucketed = Metrics.measure(spark,
        Tables.orders(spark, sf)
          .join(Tables.lineitem(spark, sf), col("o_orderkey") === col("l_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), Det.dsum(col("l_extendedprice")).as("rev")))
      // bucketed: only post-join agg partials shuffle; unbucketed: both
      // fact tables cross the wire on the join key first
      assert(bucketed.shuffleWriteRecords * 2 < unbucketed.shuffleWriteRecords,
        s"bucketed=${bucketed.shuffleWriteRecords} unbucketed=${unbucketed.shuffleWriteRecords}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("broadcast dim join never shuffles the fact table (J1 mechanism)") {
    val orders = Tables.orders(spark, sf)
    val factRows = orders.count()
    val m = Metrics.measure(spark,
      orders.join(broadcast(Tables.customer(spark, sf)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n")))
    // only the per-partition agg partials shuffle (#segments × #tasks)
    assert(m.shuffleWriteRecords * 10 < factRows,
      s"shuffled=${m.shuffleWriteRecords} factRows=$factRows")
  }

  test("per-job task counts sum to the run's total (stageId → jobId attribution)") {
    // a warm-up action right before: its late events must not be counted
    Tables.orders(spark, sf).count()
    // broadcast build + shuffle map stage + result stage: several jobs,
    // the broadcast job running concurrently with the scan
    val m = Metrics.measure(spark,
      Tables.lineitem(spark, sf)
        .join(broadcast(Tables.orders(spark, sf)),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n")))
    assert(m.jobs.size > 1, s"jobs=${m.jobs}")
    assert(m.tasks > 0)
    assert(m.jobs.map(_.tasks).sum == m.tasks, s"jobs=${m.jobs} total=${m.tasks}")
  }

  test("eager work inside the query function is charged to its own jobs") {
    val orders = Tables.orders(spark, sf)
    def agg = orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    val plain = Metrics.measure(spark, agg)
    val eager = Metrics.measure(spark, { orders.count(); agg })
    assert(eager.jobs.size > plain.jobs.size,
      s"eager=${eager.jobs} plain=${plain.jobs}")
    assert(eager.tasks > plain.tasks)
  }

  test("the split reports optimization and planning, not only analysis") {
    def agg = Tables.lineitem(spark, sf).filter(col("l_quantity") > 10)
      .groupBy(col("l_returnflag")).agg(sum(col("l_extendedprice")).as("rev"))
    // phases are whole milliseconds and a warm plan takes a few: three
    // runs are summed so a sub-millisecond phase cannot read as missing
    val splits = (1 to 3).map(_ => Metrics.measure(spark, agg))
    assert(splits.forall(m =>
      Set("optimization", "planning").subsetOf(m.phaseMs.keySet)), splits)
    for (phase <- Seq("optimization_ms", "planning_ms", "jobs", "stages", "tasks"))
      assert(splits.map(_.split.toMap.apply(phase)).sum > 0, phase)
  }

  test("the split reports the declared frame's own analysis") {
    val q = SparkEntry.queries("a1_pricing_summary")
    // the frame is analysed when the query function builds it, and the
    // noop write re-analyses nothing; phases are whole milliseconds, so
    // three runs are summed
    val analysis = (1 to 3).map(_ => Metrics.measure(spark, q(spark, sf)))
      .map(_.split.toMap.apply("analysis_ms"))
    assert(analysis.sum > 0, analysis)
  }
}
