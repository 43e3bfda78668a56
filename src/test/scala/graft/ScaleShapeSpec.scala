package graft

import graft.functions.{GraftFunctions => GF, TextFunctions => TF}
import org.apache.spark.sql.functions._

/** Scale-shape guarantees: the linear/bucketed reformulations must return
  * EXACTLY the same rows as their quadratic/expanding reference forms, and
  * their physical plans must not contain the node the reformulation removed.
  */
class ScaleShapeSpec extends SparkSpec {

  test("l2c Hamming-LSH banding ≡ brute-force all-pairs (recall-exact by pigeonhole)") {
    val viaLsh = ops.LlmOps.queries("l2c_simhash")(spark, sf)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        GF.simhash48(TF.shingleHashes(TF.wordTokens(col("text")))).as("sh"))
    val a = docs.select(col("lang"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(brute.nonEmpty, "testdata should contain at least one near-dup pair")
    assert(viaLsh == brute,
      s"LSH missed: ${brute.diff(viaLsh).take(5)}; extra: ${viaLsh.diff(brute).take(5)}")
  }

  test("connectedComponents labels a 50-deep chain correctly (diameter > old 20-round cap)") {
    import SparkSpec.spark.implicits._
    // path graph 0-1-2-…-50 plus an isolated vertex and a separate triangle:
    // one component needs 50 propagation rounds worth of diameter
    val chain = (0L until 50L).map(i => (i, i + 1))
    val tri = Seq((100L, 101L), (101L, 102L), (100L, 102L))
    val pairs = (chain ++ tri).toDF("a", "b")
    val vertices = ((0L to 50L) ++ Seq(99L, 100L, 101L, 102L)).toDF("id")
    val got = ops.LlmOps.connectedComponents(vertices, pairs, maxRounds = 60)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L to 50L).foreach(i => assert(got(i) == 0L, s"chain vertex $i"))
    assert(got(99L) == 99L && got(100L) == 100L &&
      got(101L) == 100L && got(102L) == 100L)
  }

  test("connectedComponents throws loudly when the round cap truncates propagation") {
    import SparkSpec.spark.implicits._
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("a", "b")
    val vertices = (0L to 30L).toDF("id")
    intercept[IllegalStateException] {
      ops.LlmOps.connectedComponents(vertices, pairs, maxRounds = 3)
    }
  }

  test("l2c banded plan joins on band keys, not an all-pairs self-join") {
    val plan = ops.LlmOps.queries("l2c_simhash")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("band"), plan.take(2000))
  }

  test("fused sketch kernels sit in the scan-stage plan, not behind HOF chains") {
    // the signature frames are localCheckpointed inside the queries, so
    // pin the kernel placement on the pre-checkpoint select directly
    import org.apache.spark.sql.functions.col
    val mh = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhashTextSig(col("text"), 5).as("sig"))
      .queryExecution.executedPlan.toString
    assert(mh.contains("minhash_text_sig") && !mh.contains("transform("),
      mh.take(2000))
    val sh = Tables.documents(spark, sf)
      .select(col("doc_id"),
        graft.functions.GraftFunctions.simhash48Text(col("text")).as("sh"))
      .queryExecution.executedPlan.toString
    assert(sh.contains("simhash48_text") && !sh.contains("lambdafunction"),
      sh.take(2000))
  }

  test("l28 dynamic quality gate is one source-keyed window, no self-join") {
    val plan = ops.LlmOps.queries("l28_quality_gate_dynamic")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("percent_rank") && !plan.toLowerCase.contains("join"),
      plan.take(2000))
  }

  test("l28 skewSafe fallback: window-free broadcast-threshold plan, answer-equal") {
    val exact = ops.LlmOps.qualityGateDynamic(spark, sf, skewSafe = false)
    val safe = ops.LlmOps.qualityGateDynamic(spark, sf, skewSafe = true)
    // plan shape: the fallback must contain NO window operator at all —
    // its threshold is a sketch aggregate broadcast back onto the scan
    val safePlan = safe.queryExecution.executedPlan.toString
    assert(!safePlan.contains("Window"), safePlan.take(2000))
    assert(safePlan.contains("BroadcastHashJoin") ||
      safePlan.contains("BroadcastNestedLoop"), safePlan.take(2000))
    assert(safePlan.contains("approx_percentile") ||
      safePlan.contains("percentile_approx"), safePlan.take(2000))
    // keep-set equality is exact at this scale (sketch retains every
    // sample; odd/even boundary algebra matches percent_rank ≥ 0.5)
    assert(exact.collect().toSeq == safe.collect().toSeq)
  }

  test("o9b stratified sample plan prunes per-partition before the shuffle") {
    val plan = ops.Relational.queries("o9b_stratified_sample")(spark, sf)
      .queryExecution.executedPlan.toString
    // rn <= 3 must trigger the group-limit prune so each input partition
    // forwards at most 3 rows per stratum into the window shuffle
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("a19 histogram aggregates map-side (partial+final)") {
    val plan = ops.Aggregates.queries("a19_numeric_histogram")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      plan.take(1000))
    assert(plan.contains("width_bucket") || plan.contains("FLOOR"), plan.take(1000))
  }

  test("l2d embedding near-dup broadcasts the pair side, corpus never shuffles") {
    val plan = ops.LlmOps.queries("l2d_embedding_neardup")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Broadcast"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("j8b merge-asof ≡ j8 range-join as-of, with a join-free plan") {
    val viaUnion = ops.Joins.queries("j8b_asof_union")(spark, sf).collect().map(_.toSeq)
    val viaRange = ops.Joins.queries("j8_asof")(spark, sf).collect().map(_.toSeq)
    assert(viaUnion.nonEmpty)
    assert(viaUnion.toSeq == viaRange.toSeq)

    val plan = ops.Joins.queries("j8b_asof_union")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"merge-asof must not expand via a join:\n${plan.take(2000)}")
  }

  test("l2e RHP-LSH plan joins on band buckets with cosine as join residual") {
    val plan = ops.LlmOps.queries("l2e_embedding_rhp_lsh")(spark, sf)
      .queryExecution.executedPlan.toString
    // candidates come from a (band, bval) key join — never a cross join —
    // and the exact cosine runs inside the join as a residual condition
    assert(plan.contains("band"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("cosine_sim"), plan.take(2000))
  }

  test("j13 polygon join broadcasts the replicated polygons and joins on grid cells") {
    val df = ops.Joins.queries("j13_polygon_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // candidates come from the (ci, cj) cell-key equi-join with the tiny
    // replicated polygon side broadcast; the exact ray cast runs as a
    // residual/post-join filter, never as a cross product over all
    // (point, polygon) pairs
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("st_contains"), plan.take(3000))
  }

  test("j18 polygon-polygon join: cell-key equi join, reference-cell dedup, no distinct") {
    val df = ops.Joins.queries("j18_polygon_polygon_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // candidates come from the grid equi-join with the replicated
    // polygon side broadcast; st_intersects is a post-join residual;
    // the reference-cell rule replaces the post-join distinct an
    // exploded grid join otherwise needs — no Aggregate-for-dedup,
    // no BNLJ, no cross product
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("st_intersects"), plan.take(3000))
    // exactly one aggregate pair (partial+final of the final rollup) —
    // a distinct-based dedup would add a second one keyed on the pair
    val nAgg = "HashAggregate".r.findAllIn(plan).size
    assert(nAgg <= 4, s"expected only the rollup aggregates, got $nAgg\n" +
      plan.take(3000))
  }

  test("l52 paragraph dedup shuffles on the paragraph key once, no join-back") {
    val df = ops.LlmOps.queries("l52_paragraph_dedup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // first-occurrence = ONE window over the paragraph key; reassembly =
    // one doc-keyed aggregation; no join back to the corpus
    assert(!plan.contains("Join"), plan.take(3000))
    assert("Window".r.findAllIn(plan).size == 1, plan.take(3000))
  }

  test("p2g translated UNNEST plans as pure Generates — no decorrelation join") {
    // the correlated-LATERAL form decorrelates into a DISTINCT-domain
    // join keyed on the exploded expression (full re-scan + text-keyed
    // shuffle at 100 TB); the LATERAL VIEW emission must stay a chain
    // of Generates over one scan with the filter pushed down
    val plan = ops.Etl.queries("p2g_presto_unnest")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.contains("Generate"), plan.take(3000))
    assert(plan.contains("PushedFilters: [IsNotNull(doc_id)"), plan.take(3000))
  }

  test("l26 SemDeDup recovers the planted ground truth through internal k-means clusters") {
    val df = ops.LlmOps.queries("l26_semdedup")(spark, sf)
    val rows = df.collect().map(r => (r.getLong(0), r.getBoolean(1)))
    assert(rows.exists(_._1 >= 100000L), "planted ε-copies must be present")
    // every planted copy (id ≥ 100000) has its original at cosine ≈ 1.0 in
    // the same cluster and must be pruned; every natural vector survives
    // (corpus max pairwise cosine ≈ 0.51 < τ = 0.95)
    val wrong = rows.filter { case (id, kept) => kept != (id < 100000L) }
    assert(wrong.isEmpty, s"mislabelled: ${wrong.take(5).mkString(",")}")

    val plan = df.queryExecution.executedPlan.toString
    // pair generation joins on the cluster id — never all-pairs; the only
    // nested-loop shape allowed is the 1-row broadcast centroid frame
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    val pairJoin = plan.linesIterator
      .filter(l => l.contains("Join") && l.contains("cid")).mkString
    assert(pairJoin.nonEmpty, plan.take(3000))
  }

  test("l26 two-level assignment broadcasts only √k coarse centroids — no n×k shape") {
    // r10 verdict #1: k ∝ n, so a brute argmax over a broadcast of all k
    // fine centroids is O(n·k) with a growing broadcast. The two-level
    // plan must (a) resolve the fine argmax through a ccid-KEYED join
    // (per-cell arrays meet points on ccid — an equi-join, shuffleable
    // at scale), and (b) keep every nested-loop join a 1-row broadcast
    // array frame (the √k coarse table collected into ONE row), never a
    // row-per-centroid cross product.
    // twoLevelMin = 1 forces the two-level path (the gate corpus's
    // k ≈ 40 sits under the adaptive threshold, where the flat
    // broadcast is the RIGHT plan — bounded by the constant threshold)
    val df = ops.LlmOps.semdedupAssigned(spark, sf, twoLevelMin = 1)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the fine-cell join is an EQUI-join keyed on ccid (hash- or
    // sort-merge-joinable, so it shuffles instead of broadcasting when
    // the cell table outgrows the broadcast threshold) — nested-loop
    // nodes in the plan are only the 1-row coarse-array frames
    val equiOnCcid = """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[ccid""".r
    assert(equiOnCcid.findFirstIn(plan).isDefined, plan.take(3000))
    // the assignment is exhaustive and deterministic: every corpus row
    // (n natural + 100 planted) gets exactly one cluster id
    val n = Tables.embeddings(spark, sf).count() + 100
    assert(df.count() == n)
    assert(df.select("vec_id").distinct().count() == n)
  }

  test("l26 adaptive-dispatch BOUNDARY: flat and two-level paths keep identical sets (r13)") {
    // the gate corpus sits below the production threshold (k < 256), so
    // l26 always takes the flat path and l26c always forces two-level —
    // this pin runs the SAME corpus through both sides of the dispatch
    // and asserts the kept set is a pure function of the data, not of
    // the plan chosen
    // the two ASSIGNMENT plans must actually differ (two-level has the
    // ccid-keyed fine-assignment join; flat must not) — asserted on the
    // assignment stage because the prune checkpoints its input
    val equiOnCcid =
      """(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[ccid""".r
    assert(equiOnCcid.findFirstIn(
      ops.LlmOps.semdedupAssigned(spark, sf, twoLevelMin = 1L)
        .queryExecution.executedPlan.toString).isDefined)
    assert(equiOnCcid.findFirstIn(
      ops.LlmOps.semdedupAssigned(spark, sf, twoLevelMin = Long.MaxValue)
        .queryExecution.executedPlan.toString).isEmpty)
    def kept(thr: Long) =
      ops.LlmOps.semdedupKept(spark, sf, twoLevelMin = thr)
    val fm = kept(Long.MaxValue).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val tm = kept(1L).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(fm.size == tm.size && fm == tm,
      s"dispatch-dependent kept set: ${ (fm.toSet diff tm.toSet).take(5) }")
  }

  test("l68b bigram NB separates the planted classes; the unigram control cannot beat the prior") {
    val rows = ops.LlmOps.queries("l68b_nb_bigram_quality")(spark, sf)
      .select("pos", "pred_big", "pred_uni").collect()
    val n = rows.length
    val nNeg = rows.count(!_.getBoolean(0))
    val bigOk = rows.count(r => r.getBoolean(1) == r.getBoolean(0))
    val uniOk = rows.count(r => r.getBoolean(2) == r.getBoolean(0))
    // the planted signal is bigram-only: the hashed-bigram model must
    // essentially solve the task; the unigram model must do no better
    // than always answering the majority class (the corpus is
    // unigram-blind by construction)
    assert(bigOk >= n * 99 / 100, s"bigram model: $bigOk/$n")
    assert(uniOk <= nNeg + n / 100,
      s"unigram control beats the prior: $uniOk/$n vs prior $nNeg - " +
        "the plant leaked unigram signal")
  }

  test("l27 span dedup reduces first-occurrence via partial min-struct, not a window") {
    val df = ops.LlmOps.queries("l27_span_dedup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // corpus-wide duplicate blocks must collapse MAP-SIDE: a partial
    // min(struct(doc_id, pos)) runs before the blk-keyed Exchange — not
    // the oracle's row_number window (which would sort every block group)
    assert(plan.contains("partial_min"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))

    // every document survives (possibly empty), and the kept-block total
    // is exactly the distinct-block count of the same decomposition
    val docs = Tables.documents(spark, sf)
    val rows = df.collect()
    assert(rows.length == docs.count())
    val distinctBlocks = docs.select(posexplode(expr(
      """transform(
        |  sequence(0, cast(ceil(size(split(text, ' ')) / 8.0) as int) - 1),
        |  i -> concat_ws(' ', slice(split(text, ' '), i * 8 + 1, 8)))"""
        .stripMargin))).select("col").distinct().count()
    assert(rows.map(_.getLong(1)).sum == distinctBlocks)
  }

  test("l19 packing plan shuffles only narrow planning columns, never text") {
    val plan = ops.LlmOps.queries("l19_pack_sequences")(spark, sf)
      .queryExecution.executedPlan.toString
    // the running-sum window partitions by source; the scan must prune
    // `text` away before the Exchange (only doc_id/source/n_toks flow)
    assert(plan.contains("Window"), plan.take(2000))
    val exchangeOn = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).mkString
    assert(exchangeOn.contains("source"), plan.take(2000))
    assert(!exchangeOn.contains("text"), exchangeOn)
  }

  test("l16 set digest aggregates two-level with map-side partials") {
    val plan = ops.LlmOps.queries("l16_setdigest_jaccard")(spark, sf)
      .queryExecution.executedPlan.toString
    // both aggregation levels must be ObjectHashAggregate partial+final —
    // the digest buffers combine map-side before any shuffle
    assert(plan.contains("ObjectHashAggregate"), plan.take(2000))
    assert(plan.contains("partial_"), plan.take(2000))
    assert(plan.contains("In(source"), plan.take(2000)) // pushdown to scan
  }

  test("runtime bloom filter prunes the fact scan of a selective dim join (§4)") {
    // the big-big-join scale path when broadcast is off the table: the
    // selectively-filtered creation side injects a bloom filter into the
    // fact side's scan stage, so shuffled fact rows are pre-pruned. The
    // answer must be identical with the filter on and off.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def q = Tables.lineitem(spark, sf)
        .join(Tables.orders(spark, sf).filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain") || plan.contains("bloom"),
        s"expected an injected runtime bloom filter:\n${plan.take(2000)}")
      val withFilter = q.collect().map(_.toSeq).toSeq
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val without = q.collect().map(_.toSeq).toSeq
      assert(withFilter.nonEmpty && withFilter == without)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("l24 stable ids are dense 0..N-1 in doc_id order (no global sort bottleneck)") {
    val rows = ops.LlmOps.queries("l24_stable_ids")(spark, sf)
      .select("doc_id", "stable_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.nonEmpty)
    // dense and contiguous
    assert(rows.map(_._2).sorted.toSeq == (0L until rows.length).toSeq)
    // order-preserving: sorting by doc_id sorts by stable_id
    val byDoc = rows.sortBy(_._1).map(_._2).toSeq
    assert(byDoc == byDoc.sorted, "ids must follow doc_id order")
    // (plan shape: the per-partition row_number sits behind the eager
    // localCheckpoint — only the 8-row offsets cumsum is a global window,
    // and its input is the tiny per-pid Aggregate, never the scan)
  }

  test("l33 shard totals are balanced within the LPT-shaped bound") {
    val shards = ops.LlmOps.queries("l33_shard_balance")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(shards.length == 16)
    assert(shards.map(_._1).sorted.toSeq == (0L until 16L).toSeq)
    // every document is in exactly one shard
    val docs = Tables.documents(spark, sf)
      .select(size(split(col("text"), " ")).cast("long").as("n"))
      .agg(count(lit(1)), sum(col("n"))).collect().head
    assert(shards.map(_._2).sum == docs.getLong(0))
    assert(shards.map(_._3).sum == docs.getLong(1))
    // balance: the boustrophedon stripe over the size-descending rank
    // keeps the max−min token spread within the largest single document
    // (the LPT-style bound — one misplaced largest item is the worst
    // case); at sf0.01 the real spread is far tighter
    val maxDoc = Tables.documents(spark, sf)
      .select(max(size(split(col("text"), " ")).cast("long"))).collect().head.getLong(0)
    val spread = shards.map(_._3).max - shards.map(_._3).min
    assert(spread <= maxDoc, s"spread $spread > largest doc $maxDoc")
  }

  test("s14 bucketed join plans with zero pre-join Exchange") {
    // force the SMJ path: at spec scale the dim side broadcasts (which
    // ignores bucketing); at 100 TB both sides are fact tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = ops.Sources.queries("s14_bucketed_join")(spark, sf)
      df.collect() // finalize adaptive planning
      val full = df.queryExecution.executedPlan.toString
      // keep only the final AQE plan — the echoed "Initial Plan" section
      // below it still shows pre-AQE Exchanges
      val planStr = full.split("== Initial Plan ==").head
      val joinIdx = planStr.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected a SortMergeJoin:\n${planStr.take(800)}")
      // everything below the join is its children: bucketed scans may
      // sort in-partition but must NOT shuffle
      assert(!planStr.substring(joinIdx).contains("Exchange"),
        planStr.substring(joinIdx).take(1500))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("l2c2 production bands (4×12-bit, hamming ≤ 3) ≡ brute force") {
    val viaBands = ops.LlmOps.queries("l2c2_simhash_bands")(spark, sf)
      .select("doc_a", "doc_b", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"),
        GF.simhash48(TF.shingleHashes(TF.wordTokens(col("text")))).as("sh"))
    val a = docs.select(col("lang"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val b = docs.select(col("lang").as("lang_b"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    val brute = a.join(b, col("lang") === col("lang_b") && col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    assert(brute.nonEmpty, "testdata should contain at least one tight pair")
    assert(viaBands == brute,
      s"pigeonhole recall must be exact at ≤3 over 4 bands: " +
        s"missing=${brute.diff(viaBands).take(3)} extra=${viaBands.diff(brute).take(3)}")
  }

  test("l22 decontamination joins on shingles, never a cartesian/BNLJ pair blowup") {
    val qe = ops.LlmOps.queries("l22_decontaminate")(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must ride the shingle equi-join:\n${plan.take(2000)}")
  }

  test("l22b df-cap: broadcast anti-join shape, no-op at T=20, binding at T=1") {
    // plan shape: the hot-shingle filter is a BROADCAST anti-join on both
    // sides, and pair generation still rides the shingle equi-join
    val capped = ops.LlmOps.decontaminate(spark, sf, dfCap = Some(20L))
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), "df-cap must be an anti-join")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"))

    // pair quality survives the production-shaped cap: the fixture's max
    // shingle df is 3, so T=20 must reproduce the uncapped rows exactly.
    // sf0.01 here — the 0.01-Jaccard threshold yields zero pairs at the
    // unit-test default sf0.001, which would make the equality vacuous.
    val sf01 = "/root/testdata/sf0.01"
    val uncapped = ops.LlmOps.decontaminate(spark, sf01, dfCap = None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val at20 = ops.LlmOps.decontaminate(spark, sf01, dfCap = Some(20L))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(uncapped.nonEmpty && at20 == uncapped)

    // a binding cap drops candidates, never invents them: at T=1 every
    // shared shingle (df >= 2 by construction of a cross-source match) is
    // capped away, so the candidate-pair set must be EMPTY — the extreme
    // end of the selectivity dial, proving the filter actually binds
    val at1 = ops.LlmOps.decontaminate(spark, sf01, dfCap = Some(1L)).collect()
    assert(at1.isEmpty,
      s"T=1 caps every cross-source shingle, got ${at1.length} rows")
  }

  test("l31 packing windows are per-bucket/per-source — no single-partition sort (L31)") {
    // the anti-pattern a naive global row_number would introduce is a
    // Window with an EMPTY partition spec (all rows to one task); both
    // strategies here partition their windows (length bucket / source).
    // The plan-level check is exact: every Window node must carry a
    // non-empty partitionSpec. (The final 2-row scorecard aggregate DOES
    // legitimately collapse to one partition — that's a partial+final
    // global agg over 2 rows, not a data-sized sort.)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = ops.LlmOps.queries("l31_length_bucket_pack")(spark, sf)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected window-based batch numbering")
    wins.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window: $w"))
  }

  test("g1 PageRank plan is join+agg only — no cartesian, no global sort before top-k (G1)") {
    val df = ops.Graph.queries("g1_pagerank")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // top-40 must be TakeOrdered (per-partition heaps), not Sort+Limit
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("l32 ADC is one corpus scan — no join, no cartesian anywhere (L32)") {
    // r8 layout: codebook + per-query distance tables are driver state
    // shipped by closure; encode/ADC/re-rank evaluate scan-stage, so the
    // whole search is ONE scan of embeddings + two tiny qid windows —
    // the plan must contain no join node of any kind
    val plan = ops.LlmOps.queries("l32_pq_adc")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("l36 multi_count evaluates in the scan-stage codegen Project — one pass, no join/explode (L36)") {
    val df = ops.LlmOps.queries("l36_blocklist_filter")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the automaton runs per-row in the scan stage: no Generate (explode),
    // no join against a patterns table, exactly the one aggregation
    // shuffle for the per-source rollup
    assert(plan.contains("multi_count"), plan.take(2000))
    assert(!plan.contains("Generate") && !plan.contains("Join"),
      plan.take(2000))
  }

  test("l37 BM25 top-20 is TakeOrdered — never a global-window single partition (L37)") {
    val df = ops.LlmOps.queries("l37_bm25")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // per-partition 20-row heaps + merge for the cut; the only Window
    // runs AFTER the 20-row limit (rank assignment on the result)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("j19 within-distance join: cell equi-join + distance residual, no cartesian (r13)") {
    val df = ops.Joins.queries("j19_distance_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // candidates meet on the expanded-bbox grid cells; st_distance is
    // the residual, never the join condition
    val cellJoin = plan.linesIterator.filter(l =>
      l.contains("Join") && l.contains("ci") && l.contains("cj")).mkString
    assert(cellJoin.nonEmpty, plan.take(3000))
  }

  test("j14 binned pure-range join is an equi hash join — no nested loop (J14)") {
    val df = ops.Joins.queries("j14_binned_range_join")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the un-binned declaration of this key-less interval join is a
    // BroadcastNestedLoopJoin; the bin key must make it a hash join
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      plan.take(2000))
  }

  test("s16 z-order read-back pushes BOTH box dimensions to the parquet scan (S16)") {
    val dir = ops.Sources.scratch("graft_s16pin")
    ops.Sources.writeZOrdered(
      Tables.lineitem(spark, sf).select(col("l_orderkey"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity")),
      "l_partkey", "l_suppkey", 4, dir)
    val df = spark.read.parquet(dir)
      .filter(col("l_partkey").between(10, 40) &&
        col("l_suppkey").between(2, 7))
    // both dims must reach PushedFilters so footer stats prune files —
    // the entire point of the layout. Read the scan node's metadata
    // (the rendered plan string truncates the filter list).
    import org.apache.spark.sql.execution.FileSourceScanExec
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    val pushed = scan.metadata("PushedFilters")
    assert(pushed.contains("GreaterThanOrEqual(l_partkey,10)") &&
      pushed.contains("LessThanOrEqual(l_partkey,40)") &&
      pushed.contains("GreaterThanOrEqual(l_suppkey,2)") &&
      pushed.contains("LessThanOrEqual(l_suppkey,7)"), pushed)
  }

  test("g2 triangles: broadcast wedge/close joins, no cartesian, no sort-merge") {
    val plan = ops.Graph.queries("g2_triangle_count")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("g1 pagerank round joins broadcast the rank vector, never shuffle edges") {
    val plan = ops.Graph.queries("g1_pagerank")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("l41 bigram LM: count tables join on their keys, never forced broadcast (r10)") {
    // The observed-bigram table is billions of rows at 100 TB: a forced
    // broadcast() hint would OOM the driver there. The pin is therefore
    // the INVERSE of the r8 one: no broadcast hint survives to the
    // optimized plan for the count-table joins (AQE may still choose
    // broadcast at runtime when the table is actually small — that is
    // the size guard), and the pre-AQE physical plan is a shuffle join
    // on the (w1, w2) key.
    // (1-row scalar sides — the vocab count — stay hinted via
    // crossJoin(broadcast(..)), and appear as "Join Cross" lines)
    val qe = ops.LlmOps.queries("l41_bigram_logprob")(spark, sf).queryExecution
    val opt = qe.optimizedPlan.toString
    val badHint = opt.linesIterator.filter(l =>
      l.contains("Join Inner") && l.contains("strategy=broadcast")).toSeq
    assert(badHint.isEmpty, s"forced broadcast on a count-table join:\n$badHint")
    val phys = qe.executedPlan.toString
    assert(phys.contains("SortMergeJoin") || phys.contains("ShuffledHashJoin"),
      phys.take(3000))
    assert(!phys.contains("CartesianProduct"), phys.take(3000))
  }

  test("l58 DoReMi: unigram/bigram count tables join on their keys, never forced broadcast (r10)") {
    val qe = ops.LlmOps.queries("l58_doremi_step")(spark, sf).queryExecution
    val opt = qe.optimizedPlan.toString
    // the only hinted broadcasts left are the provably-bounded sides:
    // 1-row scalars (vocab count, corpus total, softmax Z) on Cross joins
    val badHint = opt.linesIterator.filter(l =>
      l.contains("Join Inner") && l.contains("strategy=broadcast")).toSeq
    assert(badHint.isEmpty, s"forced broadcast on a count-table join:\n$badHint")
    assert(!qe.executedPlan.toString.contains("CartesianProduct"))
  }

  test("l44 source overlap joins on the shingle key, never a source-pair product") {
    val plan = ops.LlmOps.queries("l44_source_overlap")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("shingle"), plan.take(3000))
  }

  test("l2f banding sweep: 3 rows, deterministic, monotone S-curve (r9)") {
    def rows() = ops.LlmOps.queries("l2f_minhash_band_sweep")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    val a = rows()
    assert(a.length == 3)
    assert(a.map(x => (x._1, x._2)).toSeq ==
      Seq((8L, 8L), (16L, 4L), (32L, 2L)))
    // contiguous band slices NEST (an 8-row band match implies all its
    // sub-band matches), so candidates and recall are monotone in the
    // band count — the S-curve the (b, r) dial is for
    assert(a(0)._3 <= a(1)._3 && a(1)._3 <= a(2)._3,
      s"candidates must grow with bands: ${a.toSeq}")
    assert(a(0)._6 <= a(1)._6 && a(1)._6 <= a(2)._6,
      s"recall must grow with bands: ${a.toSeq}")
    // the truth set is non-empty (the corpus carries near-dup pairs) and
    // the finest config reaches full recall on this skew-free corpus
    assert(a(2)._5 > 0, s"empty truth set: ${a.toSeq}")
    assert(a(2)._6 == 1000000L, s"(32,2) should catch every pair: ${a.toSeq}")
    // deterministic end to end (hash kernel + integer arithmetic)
    assert(rows().toSeq == a.toSeq)
  }

  test("l61 curriculum schedule: one shard-keyed Exchange, text pruned, no join") {
    val plan = ops.LlmOps.queries("l61_curriculum_schedule")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    // exactly the shard key shuffles; the corpus text never does
    assert(exchanges.nonEmpty && exchanges.forall(_.contains("shard")),
      exchanges.mkString("\n"))
    assert(!exchanges.mkString.contains("text"), exchanges.mkString("\n"))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("l63 bloom prune: recall-exact candidates, broadcast-only joins") {
    val out = ops.LlmOps.queries("l63_bloom_decontaminate")(spark, sf)
    val rows = out.collect()
    val contaminated = rows.count(_.getBoolean(2))
    // non-vacuous: the fixture carries cross-source 4-shingle overlap
    assert(contaminated > 0, s"vacuous fixture: 0 contaminated")
    // the bloom's false-negative-free guarantee is the oracle gate
    // itself (the exact semi-join answer); here pin the RUNTIME plan:
    // the only joins are broadcast (bench side + bloom row) — the
    // corpus never sort-merge-joins. Only the FINAL AQE plan counts:
    // benchSh's localCheckpoint hides size stats from the static
    // planner, so the pre-AQE initial plan may guess SMJ before runtime
    // stats convert it — the executed section is what runs at scale.
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("l63 executor-built bloom ≡ single-threaded driver build, long-for-long (r10)") {
    // The aggregator's OR-merge is commutative/associative and every
    // probe position is exact integer arithmetic, so the multi-partition
    // executor build must equal a driver loop over the same keys EXACTLY
    // — the guarantee that lets l63 keep its bit-identical SQL probe.
    val benchSh = Tables.documents(spark, sf)
      .filter(col("source") === "src1")
      .select(explode(array_distinct(
        TF.wordShingles(TF.wordTokens(col("text")), 4))).as("shingle"))
      .distinct()
    val hs = benchSh.select(xxhash64(col("shingle")).as("h1"),
      xxhash64(col("shingle"), lit(1L)).as("h2")).collect()
    val n = math.max(hs.length, 1)
    val m = ((10L * n).max(64L) + 63) / 64 * 64
    val driverBits = new Array[Long]((m / 64).toInt)
    hs.foreach { r =>
      val b1 = ((r.getLong(0) % m) + m) % m
      val b2 = ((r.getLong(1) % m) + m) % m
      var i = 0L
      while (i < 4) {
        val pos = (b1 + i * b2) % m
        driverBits((pos / 64).toInt) |= (1L << (pos % 64).toInt)
        i += 1
      }
    }
    val execBits = benchSh.repartition(4) // force a real multi-buffer merge
      .select(xxhash64(col("shingle")).as("h1"),
        xxhash64(col("shingle"), lit(1L)).as("h2"))
      .agg(graft.functions.BloomAggregator
        .bloomBits(m, col("h1"), col("h2")).as("bits"))
      .head.getSeq[Long](0)
    assert(execBits == driverBits.toSeq,
      s"first diff at word ${execBits.zip(driverBits).indexWhere(p => p._1 != p._2)}")
  }

  test("l65 substring dedup: planted copies fully covered, hash-keyed phase-1, no cartesian (r10)") {
    val out = ops.LlmOps.queries("l65_substring_dedup")(spark, sf)
    val rows = out.collect()
    val planted = rows.filter(_.getLong(0) >= 1000000L)
    // non-vacuous: plants exist and each planted 120-char copy is ONE
    // fully-duplicated span (dup_chars == n_chars, n_spans == 1)
    assert(planted.nonEmpty, "no planted docs in fixture")
    planted.foreach { r =>
      assert(r.getLong(2) == 1L && r.getLong(3) == r.getLong(1),
        s"planted doc not fully covered: $r")
    }
    // and some NATURAL doc carries the donor side of the plant
    assert(rows.exists(r => r.getLong(0) < 1000000L && r.getLong(3) > 0))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // phase 1 shuffles the 8-byte gram hash, never the 50-char string
    assert(plan.contains("hashpartitioning(h#") ||
      plan.linesIterator.exists(l => l.contains("Exchange hashpartitioning")
        && l.contains("h#")), plan.take(3000))
  }

  test("l66 substring scrub: planted copies scrub to empty, natural text survives (r10)") {
    val out = ops.LlmOps.queries("l66_substring_scrub")(spark, sf)
    val rows = out.collect()
    val planted = rows.filter(_.getLong(0) >= 1000000L)
    assert(planted.nonEmpty)
    // a planted doc is ONE fully-duplicated span → retained text empty
    planted.foreach(r => assert(r.getString(2) == "" && r.getLong(3) == 0L,
      s"planted doc not fully scrubbed: ${r.getLong(0)}"))
    // invariants: retained is always a subsequence-by-cutting of text
    // (length ≤ n_chars) and SOME natural doc keeps nonzero text
    rows.foreach(r => assert(r.getLong(3) <= r.getLong(1)))
    assert(rows.exists(r => r.getLong(0) < 1000000L && r.getLong(3) > 0))
    // donors lost exactly their copied 120-char slice (minus any extra
    // natural dups): donor retained_len <= n_chars - 120
    val donors = rows.filter(r => r.getLong(0) < 50L && r.getLong(1) >= 130L)
    donors.foreach(r => assert(r.getLong(3) <= r.getLong(1) - 120L,
      s"donor ${r.getLong(0)} kept its duplicated slice"))
    assert(!out.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("l66b canonical keeper: donors keep their duplicated slice, plants lose it (r11)") {
    val out = ops.LlmOps.queries("l66b_substring_scrub_keep")(spark, sf)
    val strict = ops.LlmOps.queries("l66_substring_scrub")(spark, sf)
      .select("doc_id", "retained_len")
      .withColumnRenamed("retained_len", "strict_len")
    val rows = out.collect()
    // plants (+1e6) duplicate a DONOR slice at a larger doc_id: every
    // covered plant position has its canonical occurrence in the donor,
    // so plants scrub to empty exactly as under the strict policy
    val planted = rows.filter(_.getLong(0) >= 1000000L)
    assert(planted.nonEmpty)
    planted.foreach(r => assert(r.getString(2) == "" && r.getLong(3) == 0L,
      s"planted doc kept text under the keeper policy: ${r.getLong(0)}"))
    // donors are the FIRST occurrence of the planted slice — the keeper
    // policy must NOT cut it on account of the plant. A donor can still
    // lose chars to NATURAL duplicates it is not canonical for, so the
    // sharp invariant is vs the strict policy: strictly more retained
    // than l66 (which cuts the whole 120-char slice) for some donor,
    // and never less for any doc.
    val both = out.select("doc_id", "retained_len").join(strict, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    both.foreach { case (id, keep, cut) =>
      assert(keep >= cut, s"doc $id retained less under keeper than strict") }
    val donors = both.filter { case (id, _, _) => id < 50L }
    assert(donors.exists { case (_, keep, cut) => keep > cut },
      "no donor retained more under the keeper policy")
    assert(!out.queryExecution.executedPlan.toString.contains("CartesianProduct"))
  }

  test("l68 trained NB rediscovers the planted class signal from counts alone (r11)") {
    val df = ops.LlmOps.queries("l68_nb_quality")(spark, sf)
    val rows = df.collect()
      .map(r => (r.getBoolean(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    // nothing tells the scorer which token matters: the separation
    // below exists only if training actually learned the anchor's
    // per-class count asymmetry. Zero false positives (neg docs carry
    // no anchor and the prior is negative); ≥90% recall on pos (a
    // single-anchor doc can sit near the boundary at tiny SFs).
    val (pos, neg) = rows.partition(_._1)
    assert(neg.nonEmpty && pos.nonEmpty)
    assert(neg.forall(!_._4), "false positive: a neg doc predicted hi")
    val recall = pos.count(_._4).toDouble / pos.length
    assert(recall >= 0.9, s"pos recall $recall < 0.9")
    // decision values are pure integers; the score actually separates
    // in aggregate, not just at the threshold
    assert(pos.map(_._3).sum / pos.length > neg.map(_._3).sum / neg.length)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // scoring joins token→model on the WORD key (vocab-sized, shuffle-
    // able) — never a doc×vocab nested loop
    assert(plan.linesIterator.exists(l =>
      l.contains("Join") && l.contains("w#")), plan.take(3000))
  }

  test("l62 FIM split is a pure scan-stage projection — no hash Exchange, no join") {
    val plan = ops.LlmOps.queries("l62_fim_split")(spark, sf)
      .queryExecution.executedPlan.toString
    // the only Exchange allowed is the presentation orderBy's range
    // partitioning; the operator itself never hash-shuffles
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(!plan.contains("Join"), plan.take(2000))
  }

  test("l71 diversity: linear-pass identity — no pair join, label/dim-keyed " +
      "aggregates only (r16)") {
    val df = ops.LlmOps.queries("l71_cluster_diversity")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the quadratic definition would need an embeddings self-join;
    // the identity plan has NO join between corpus-scale relations —
    // the only join is the |labels|-row perLabel ⋈ comp
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // component sums aggregate map-side: partial + final HashAggregate
    // pairs keyed by (label, dim) then label
    assert(plan.contains("HashAggregate"), plan.take(2000))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      <= 3, plan.take(3000)) // (label,dim), label, and the tiny join side
    // vectors never reach the exchange: the exploded rows carry only
    // (label, dim, qd) — the embedding column is pruned before shuffle
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("embedding")), plan.take(3000))
    // and the identity must agree with a driver-side brute force
    val rows = df.collect()
    val emb = Tables.embeddings(spark, sf).collect()
    val byLabel = emb.groupBy(_.getAs[Int]("label"))
    rows.foreach { r =>
      val lbl = r.getLong(0).toInt
      val vs = byLabel(lbl).map { e =>
        val v = e.getSeq[Float](1).map(_.toDouble).toArray
        val nrm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => math.floor(x / nrm * 1000 + 0.5).toLong)
      }
      var s = 0L
      for (i <- vs.indices; j <- vs.indices if i != j)
        s += vs(i).zip(vs(j)).map { case (a, b) => a * b }.sum
      assert(r.getLong(2) == s, s"label $lbl: ${r.getLong(2)} vs $s")
    }
  }

  test("l71b decimal variant: same shape pins as l71, values agree " +
      "with the BIGINT path (r17)") {
    val df = ops.LlmOps.queries("l71b_cluster_diversity_decimal")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      <= 3, plan.take(3000))
    assert(!plan.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("embedding")), plan.take(3000))
    // the decimal rollup must agree with the BIGINT path value-for-value
    // wherever BIGINT cannot overflow (i.e. at any test SF)
    val dec = df.collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getString(2), if (r.isNullAt(3)) None
        else Some(r.getLong(3))))).toMap
    val big = ops.LlmOps.queries("l71_cluster_diversity")(spark, sf)
      .collect().map(r => (r.getLong(0),
      (r.getLong(1), r.getLong(2).toString, if (r.isNullAt(3)) None
        else Some(r.getLong(3))))).toMap
    assert(dec == big, s"decimal vs bigint diversity mismatch")
  }
}
