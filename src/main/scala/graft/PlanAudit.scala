package graft

/** Dumps formatted physical plans for the plan-shape audit (SURVEY §4):
  * filter/projection pushdown, broadcast vs shuffle joins, top-k without
  * global sort, partial aggregation. Output reviewed into PLANS.md.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = GraftSession.builder()
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val interesting = Seq(
      "s1_parquet_scan",      // expect PushedFilters + pruned ReadSchema
      "j1_inner",             // expect BroadcastHashJoin
      "j9_star",              // expect all dims broadcast, one shuffle for o⋈l
      "j7_range",             // expect SortMergeJoin w/ range residual, not BNLJ
      "o2_topn",              // expect TakeOrderedAndProject
      "a1_pricing_summary",   // expect partial+final HashAggregate
      "l3_knn_cosine",        // expect BroadcastNestedLoopJoin w/ tiny bcast side
      "l2_minhash_lsh",       // expect shuffle only on band keys
      "s6_partitioned_scan",  // expect PartitionFilters
      "l2c_simhash",          // r2: expect join keyed on (lang, band, bval)
      "j8b_asof_union",       // r2: expect Window over union — NO join node
      "l3b_knn_ivf",          // r2: expect broadcast centroid array, no corpus shuffle to assign
      "s7_jdbc_roundtrip",    // r2: expect JDBCRelation scan with 4 partitions
      "a14_decimal_agg",      // r2: expect decimal(25,2) sum in partial agg
      "j8c_asof_custom",      // r2: expect AsOfJoin exec, 1 Exchange+Sort per side
      "e8_match_recognize",   // r3: expect codegen'd step predicates pre-shuffle,
                              //     one Exchange(user_id) + Sort, MapGroups
      "j8d_asof_forward",     // r3s3: expect AsOfJoin exec (forward), same layout as j8c
      "l22_decontaminate",    // r3s3: expect shingle-keyed hash join, no BNLJ
      "l24_stable_ids",       // r3s3: expect range Exchange + per-pid Window + P-row cumsum
      "l25_unigram_logprob",  // r3s3: expect word-keyed partial+final aggs + 1-row bcast total
      "e12_retention_cohorts", // r3s3: expect distinct-then-join on user_id
      "w8_groups_frame",       // r4: expect rollup agg + window over rollup + broadcast join back — NO per-row Window
      "e8b_pattern_alternation", // r4: expect same minimal-width shuffle as e8 (dedup'd step booleans)
      "l4c_bpe_tokens",        // r4: expect bpe_count inside scan-stage WholeStageCodegen
      "l22b_decontaminate_capped", // r4: expect broadcast LeftAnti on both sides pre-join
      "l7c_image_decode",      // r4: expect image_stats in the binaryFile scan project
      "j12_geo_distance_join", // r4: expect cell-id equi-join + haversine residual, no BNLJ
      "l6_embedding_centroids", // r7: expect Generate over slice(embedding,1,8) — explode width 8, not 64
      "l54_perplexity_buckets", // r9: expect Window PARTITION BY source (never global) + broadcast n_src join
      "l55_ngram_saturation",   // r9: expect shingle-keyed aggregates; the only unpartitioned Window sits on the |sources|-row frame
      "l56_line_dedup",         // r9s4: expect ONE scan-stage Project, zero Exchange before the output sort
      "l57_gopher_repetition",  // r9s4: expect the six fused run-length kernels in ONE scan-stage Project, zero Exchange before the output sort
      "l58_doremi_step",        // r9s4: expect vocab-keyed aggregates feeding BROADCAST joins, k-row softmax — no corpus-wide window
      "l60_prototype_pruning",  // r9s4: expect broadcast centroid join + per-label Window only
      "l69_logreg_bigram_quality", // r14: expect the FINAL scoring pass to
                                  // broadcast the 8192-row weight table
                                  // into a hash join + doc-keyed aggregate
                                  // (training steps share the shape; the
                                  // corpus never reaches the driver)
      "l71_cluster_diversity",    // r16: expect TWO partial/final agg
                                  // chains + a |labels|-row join; no
                                  // CartesianProduct; embedding pruned
                                  // before every Exchange
      "l71b_cluster_diversity_decimal", // r17: l71's shape with the
                                  // rollup aggregates widened to
                                  // DECIMAL(38,0) — same two chains,
                                  // same |labels|-row join, no pair join
      "l72_chunk_windows",        // r16: expect scan-stage HOF Project +
                                  // ONE Generate, zero hash Exchange
                                  // before the output sort
      "l73_calibration_bins"      // r16: expect l69's scoring shape +
                                  // a 10-row bin-keyed HashAggregate;
                                  // edge literals inlined in codegen
    )
    interesting.foreach { name =>
      println(s"\n================ $name ================")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }

    // Bucketed co-located join: both sides pre-bucketed on the join key →
    // the sort-merge join should show NO Exchange on either input (the
    // 100 TB pattern for repeated big-big joins).
    println("\n================ bucketed orders⋈lineitem ================")
    import org.apache.spark.sql.functions.{col, count, lit}
    // stale files from a previous audit run break saveAsTable (the
    // in-memory catalog forgot the table but its location persists)
    import scala.reflect.io.Directory
    new Directory(new java.io.File("/tmp/graft-warehouse")).deleteRecursively()
    Tables.orders(spark, sfDir).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")
    Tables.lineitem(spark, sfDir).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
    // disable auto-broadcast so the plan shows what a big-big join does
    GraftSession.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val bucketed = spark.table("orders_b")
        .join(spark.table("lineitem_b"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      println(bucketed.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
