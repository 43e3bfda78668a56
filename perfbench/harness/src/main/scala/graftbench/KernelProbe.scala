package graftbench

import graft.functions.{GraftFunctions => GF, TextFunctions => TF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-row cost of the native kernels, measured through their public
  * Column calls: a noop-sink pass of `kernel(input)` minus a projection-
  * only pass of `input` over the same cached rows, divided by the rows.
  * The tables are repeated `Copies` times so each pass is long enough to
  * time; the passes alternate and each side reports its median. */
object KernelProbe {
  val Copies = 4
  val Reps = 3

  def run(spark: SparkSession, dataDir: String): Map[String, Double] = {
    GF.register(spark)
    val copies = spark.range(Copies).toDF("copy")
    val docs = spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("text")).crossJoin(copies)
      .withColumn("tokens", TF.wordTokens(col("text")))
      .withColumn("hashes", TF.kgramHashes(col("tokens"), 2))
      .drop("copy").cache()
    val embs = spark.read.parquet(s"$dataDir/embeddings.parquet")
      .select(col("embedding")).crossJoin(copies).drop("copy").cache()
    val nDocs = docs.count().toDouble
    val nEmbs = embs.count().toDouble
    val probe = embs.limit(1).collect().head.getSeq[Float](0)
    val probeCol = array(probe.map(x => lit(x)): _*)

    val kernels: Seq[(String, DataFrame, Column, Column, Double)] = Seq(
      ("functions.word_tokens_ns_row", docs, TF.wordTokens(col("text")), col("text"), nDocs),
      ("functions.kgram_hashes_ns_row", docs, TF.kgramHashes(col("tokens"), 2), col("tokens"), nDocs),
      ("functions.minhash_ns_row", docs, GF.minhashSig(col("hashes")), col("hashes"), nDocs),
      ("functions.simhash48_ns_row", docs, GF.simhash48(col("hashes")), col("hashes"), nDocs),
      ("functions.cosine_sim_ns_row", embs, GF.cosineSim(col("embedding"), probeCol), col("embedding"), nEmbs),
      ("functions.unit_q3_ns_row", embs, call_function("unit_q3", col("embedding")), col("embedding"), nEmbs),
    )
    def time(df: DataFrame, c: Column): Double = {
      val t0 = System.nanoTime()
      Runner.noopSink(df.select(c.as("out")))
      (System.nanoTime() - t0).toDouble
    }
    val result = kernels.map { case (name, df, kernel, input, rows) =>
      time(df, kernel); time(df, input)
      val k = Seq.newBuilder[Double]
      val p = Seq.newBuilder[Double]
      for (_ <- 1 to Reps) { k += time(df, kernel); p += time(df, input) }
      name -> (Stats.median(k.result()) - Stats.median(p.result())) / rows
    }.toMap
    docs.unpersist(); embs.unpersist()
    result
  }
}
