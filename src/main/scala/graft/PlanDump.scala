package graft

import java.nio.file.{Files, Paths}

/** Dumps `.explain("formatted")` for named queries to files — the
  * optimization-round evidence trail (`plans/r<N>/<query>_<tag>.txt`).
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val tag = args(2)
    val names = args(3).split(",").toSeq
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val qs = SparkEntry.queries
    for (n <- names) qs.get(n) match {
      case Some(fn) =>
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${n}_$tag.txt"),
          plan.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote ${n}_$tag.txt")
      case None => System.err.println(s"[plandump] UNKNOWN query: $n")
    }
    spark.stop()
  }
}
