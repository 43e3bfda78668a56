package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale rehearsal beyond sf0.1 (r8 verdict next-round #10): expand the
  * sf0.1 documents/embeddings corpus by deterministic replication into
  * factor-F slices, run the heavy dedup/ANN family once per scale, and
  * print a timing table — empirical (not just plan-shape) sub-quadratic
  * evidence for the 100 TB design. Results are committed in SCALING.md.
  *
  * The expansion preserves workload STRUCTURE instead of inflating it:
  * replica i of a document salts every word with "_i", so each replica
  * shard reproduces the original corpus's shingle-sharing structure
  * exactly — true candidate pairs grow LINEARLY with F (10× data = 10×
  * pairs). Naive copying would make every replica set a 10-deep
  * near-duplicate clique and inflate pairs 100× — a different (and
  * unrepresentative) workload. Embeddings perturb deterministically per
  * (vec_id, replica, dim) via the Murmur3 hash so replicas are not
  * mutual near-duplicates and ANN geometry stays realistic.
  *
  * Usage: runMain graft.ScaleRehearsal [srcSfDir] [workDir] [factors]
  * (defaults: /root/testdata/sf0.1, /tmp/graft_scale, 10,30)
  */
object ScaleRehearsal {

  private val Heavy = Seq(
    "l2_minhash_lsh", "l22_decontaminate", "l26_semdedup",
    "l27_span_dedup", "l32_pq_adc", "l35_ivfpq", "p3_dedup_pipeline",
    "l52_paragraph_dedup", "l51_pii_scrub",
    "l54_perplexity_buckets", "l55_ngram_saturation",
    "l56_line_dedup", "l57_gopher_repetition",
    "l61_curriculum_schedule", "l62_fim_split", "l63_bloom_decontaminate",
    // r10: the de-broadcast bigram-LM path (count tables now keyed
    // joins), the corpus-scaled-k SemDeDup re-rehearsal, and the
    // two-phase exact-substring dedup
    "l41_bigram_logprob", "l58_doremi_step", "l65_substring_dedup",
    "l66_substring_scrub",
    // r11: the two-level SemDeDup ASSIGNMENT phase in isolation (the
    // r10 verdict asked for the centroid-side curve, not just l26's
    // total — special-cased in timeOnce, not a SparkEntry query), the
    // canonical-keeper ExactSubstr variant, and the trained NB
    // classifier (two corpus passes + a vocab-keyed model join)
    "l26_assign", "l66b_substring_scrub_keep", "l68_nb_quality",
    // r13: the hashed-bigram NB — the l68 shape with an 8192-bucket
    // feature aggregate alongside the vocab-keyed one
    "l68b_nb_bigram_quality",
    // r14: the trained logistic regression — 5 full-batch steps, each
    // one broadcast join of the 8192-row weight table + one integer
    // gradient aggregate; the curve must stay linear in corpus size
    // (the model is corpus-size-independent by construction)
    "l69_logreg_bigram_quality")

  def expand(spark: SparkSession, src: String, out: String, f: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.withColumn("rep", explode(sequence(lit(0), lit(f - 1))))
      .select(
        (col("doc_id") * f + col("rep")).as("doc_id"),
        when(col("rep") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), " "),
            w => when(length(w) > 0,
              concat(w, lit("_"), col("rep").cast("string"))).otherwise(w))))
          .as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.withColumn("rep", explode(sequence(lit(0), lit(f - 1))))
      .select(
        (col("vec_id") * f + col("rep")).as("vec_id"),
        when(col("rep") === 0, col("embedding")).otherwise(expr(
          """transform(embedding, (x, i) ->
            |  CAST(x + (pmod(hash(vec_id, rep, i), 200) - 100) / 500.0
            |    AS FLOAT))""".stripMargin)).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // done-marker AFTER the last table lands (r12 ADVICE: reuse used to
    // key on embeddings _SUCCESS alone, so an expansion interrupted
    // between documents and embeddings — or killed mid-overwrite of
    // documents — could be silently reused with a stale/partial slice)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$out/_GRAFT_EXPANSION_DONE"),
      s"src=$src f=$f".getBytes("UTF-8"))
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val work = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val factors =
      (if (args.length > 2) args(2) else "10,30").split(",").map(_.toInt)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val dirs = ("x1" -> src) +: factors.toSeq.map { f =>
      val out = s"$work/x$f"
      // SPARK_GRAFT_REUSE_SCALE=1 skips re-expansion when the slice is
      // already on disk (expansion is deterministic in src and f) —
      // local iteration only; the committed protocol always expands
      val reuse = sys.env.get("SPARK_GRAFT_REUSE_SCALE").contains("1") &&
        new java.io.File(s"$out/_GRAFT_EXPANSION_DONE").exists()
      if (!reuse) {
        // remove a stale marker BEFORE re-expanding so a kill mid-write
        // can never leave marker-plus-partial-data behind
        new java.io.File(s"$out/_GRAFT_EXPANSION_DONE").delete()
        expand(spark, src, out, f)
      }
      s"x$f" -> out
    }
    // optional 4th arg: comma-separated query subset (local iteration —
    // re-running one new query without re-timing the whole family)
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").toSet) else None
    println(f"${"query"}%-22s ${dirs.map(_._1).map(n => f"$n%10s").mkString}")
    for (q <- Heavy if only.forall(_.contains(q))) {
      val times = dirs.map { case (_, dir) =>
        // run twice, report the warm pass (codegen/classload amortized;
        // p3's build-once fixture makes its warm pass a cached read, so
        // p3 reports the COLD pass — noted in SCALING.md)
        val cold = timeOnce(spark, q, dir)
        val warm = timeOnce(spark, q, dir)
        if (q == "p3_dedup_pipeline") cold else math.min(cold, warm)
      }
      println(f"$q%-22s ${times.map(t => f"$t%9.2fs").mkString}")
    }
    spark.stop()
  }

  private def timeOnce(spark: SparkSession, q: String, dir: String): Double = {
    val t0 = System.nanoTime()
    val df =
      // twoLevelMin = 1: the rehearsal measures the TWO-LEVEL path's
      // curve at every scale (the adaptive dispatch would route small
      // corpora to the flat broadcast and muddy the shape evidence)
      if (q == "l26_assign")
        graft.ops.LlmOps.semdedupAssigned(spark, dir, twoLevelMin = 1)
      else SparkEntry.queries(q)(spark, dir)
    Metrics.noopSink(df)
    (System.nanoTime() - t0) / 1e9
  }
}
