package graft

import graft.streaming.{EventStreams, StreamProof}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end file-source streaming: parquet files landing in a directory
  * are picked up by readStream, flow through the shared window transform,
  * and reach a sink — the full readStream → transform → writeStream path
  * over the real events schema (not just MemoryStream).
  */
class FileStreamSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("readStream over a parquet directory == batch on the same files (E1)") {
    val dir = ops.Sources.scratch("graft_stream_in")
    // two "micro-batch" files landing in the source directory
    val all = Tables.events(spark, sf)
    all.filter($"event_id" % 2 === 0).write.mode("append").parquet(dir)
    all.filter($"event_id" % 2 === 1).write.mode("append").parquet(dir)

    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    val streamed = spark.readStream.schema(schema).parquet(dir)
    val got = StreamProof.toMemory(
        EventStreams.tumblingCounts(streamed), "complete")
      .select(unix_timestamp($"window.start").as("w"), $"event_type", $"n")
      .orderBy("w", "event_type").as[(Long, String, Long)].collect()
    val expected = all
      .groupBy(window($"ts", "1 hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp($"window.start").as("w"), $"event_type", $"n")
      .orderBy("w", "event_type").as[(Long, String, Long)].collect()
    assert(got.sameElements(expected))
  }
}
