package graft

import org.apache.spark.sql.functions._

/** Quantitative audit (the measured sibling of PLANS.md's plan audit):
  * prints task-metric totals for the mechanism comparisons MetricsSpec
  * asserts, at a real SF, so PLANS.md can quote concrete byte/record
  * numbers.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 sbt "runMain graft.MetricsAudit"`
  */
object MetricsAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def row(name: String, m: Metrics.RunMetrics): Unit =
      println(f"$name%-28s input=${m.inputBytes}%10dB (${m.inputRecords}%8d rows)  " +
        f"shuffle=${m.shuffleWriteBytes}%10dB (${m.shuffleWriteRecords}%8d rows)")

    // 1. partition pruning
    val out = ops.Sources.scratch("graft_maud")
    Tables.orders(spark, sfDir)
      .write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    row("scan: full", Metrics.measure(spark, spark.read.parquet(out)))
    row("scan: pruned (status=P)", Metrics.measure(spark,
      spark.read.parquet(out).filter(col("o_orderstatus") === "P")))

    // 2. pre-aggregation below the join
    val li = Tables.lineitem(spark, sfDir)
    row("join: li shuffled raw", Metrics.measure(spark,
      Tables.orders(spark, sfDir)
        .join(li.repartition(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("l_extendedprice")))))
    row("join: li pre-aggregated", Metrics.measure(spark,
      Tables.orders(spark, sfDir)
        .join(li.groupBy(col("l_orderkey"))
            .agg(sum(col("l_extendedprice")).as("rev")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority")).agg(sum(col("rev")))))

    // 3. dedup shuffle: hash key vs raw text key
    val docs = Tables.documents(spark, sfDir)
    row("dedup: md5-keyed", Metrics.measure(spark,
      docs.select(col("doc_id"), md5(col("text")).as("h"))
        .groupBy(col("h")).agg(min(col("doc_id")), count(lit(1)))))
    row("dedup: text-keyed", Metrics.measure(spark,
      docs.groupBy(col("text")).agg(min(col("doc_id")), count(lit(1)))))

    // 4. broadcast dim join
    row("join: broadcast dim", Metrics.measure(spark,
      Tables.orders(spark, sfDir)
        .join(broadcast(Tables.customer(spark, sfDir)),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)))))

    spark.stop()
  }
}
