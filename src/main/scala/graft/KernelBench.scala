package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions => TF}

/** One-JVM interleaved microbench for the r18 native kernels vs their HOF
  * reference forms — immune to the host's cross-JVM phase drift (both
  * forms alternate inside one session). Times a noop-sink pass over the
  * documents table per form. Usage: runMain graft.KernelBench <sfDir>
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
      .localCheckpoint()
    def time(name: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val forms: Seq[(String, () => Unit)] = Seq(
      "wt_native" -> (() => Metrics.noopSink(
        docs.select(TF.wordTokens(col("text")).as("w")))),
      "wt_hof" -> (() => Metrics.noopSink(
        docs.select(TF.wordTokensRef(col("text")).as("w")))),
      "kg_native" -> (() => Metrics.noopSink(docs.select(
        TF.kgramHashes(TF.wordTokens(col("text")), 2).as("h")))),
      "kg_hof" -> (() => Metrics.noopSink(docs.select(
        TF.kgramHashesRef(TF.wordTokensRef(col("text")), 2).as("h")))),
      "explode_native" -> (() => Metrics.noopSink(docs.select(explode(
        TF.kgramHashes(TF.wordTokens(col("text")), 2)).as("h"))
        .groupBy(col("h")).count())),
      "explode_hof" -> (() => Metrics.noopSink(docs.select(explode(
        TF.kgramHashesRef(TF.wordTokensRef(col("text")), 2)).as("h"))
        .groupBy(col("h")).count())),
    )
    val reps = 5
    val samples = collection.mutable.Map.empty[String, Vector[Double]]
      .withDefaultValue(Vector.empty)
    // warm-up pass then interleaved reps
    forms.foreach { case (_, f) => f() }
    for (_ <- 1 to reps; (n, f) <- forms) samples(n) :+= time(n)(f())
    for ((n, _) <- forms) {
      val ts = samples(n).sorted
      println(f"[kernelbench] $n%-16s median ${ts((ts.size - 1) / 2)}%6.3f s  " +
        ts.map(t => f"$t%.3f").mkString("[", " ", "]"))
    }
    spark.stop()
  }
}
