package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Wall clock in epoch microseconds with nanoTime resolution, comparable
  * with the millisecond epoch times Spark's listener events carry. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** One execution of one query: `defineEndUs` is when the query function
  * returned its DataFrame, `endUs` when the sink finished. */
final case class Sample(query: String, pass: Int, startUs: Long,
    defineEndUs: Long, endUs: Long, error: Option[String]) {
  def ok: Boolean = error.isEmpty
  /** A failed query is never timed as fast: it counts as infinitely slow. */
  def latencyS: Double =
    if (ok) (endUs - startUs) / 1e6 else Double.PositiveInfinity
  def defineS: Double = (defineEndUs - startUs) / 1e6
}

final case class Pass(pass: Int, traced: Boolean, samples: Seq[Sample]) {
  def wallS: Double =
    if (samples.forall(_.ok))
      (samples.map(_.endUs).max - samples.map(_.startUs).min) / 1e6
    else Double.PositiveInfinity
}

/** Closed loop with one client: each query is submitted after the previous
  * one completes. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** Local property carrying the query id into every job the query runs. */
  val QidProperty = "graftbench.qid"

  def qid(workload: String, pass: Int, query: String): String =
    s"$workload/$pass/$query"

  /** The noop sink forces full evaluation; count() would let Catalyst prune
    * the projection. */
  def noopSink(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** The seed permutes the query order of every timed pass. The warm-up
    * pass (0) runs in name order on every seed: the order in which a cold
    * JVM first meets the queries shapes what the JIT compiles, and that
    * would otherwise make whole runs faster or slower by seed. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    if (pass == 0) names.sorted
    else new scala.util.Random(seed * 1000003L + pass).shuffle(names.sorted)

  def runOne(spark: SparkSession, dataDir: String, workload: String,
      pass: Int, name: String, fn: Query,
      sink: DataFrame => Unit = noopSink,
      onDefined: DataFrame => Unit = _ => ()): Sample = {
    val sc = spark.sparkContext
    sc.setLocalProperty(QidProperty, qid(workload, pass, name))
    val t0 = Clock.nowUs
    var t1 = t0
    val error =
      try {
        val df = fn(spark, dataDir)
        t1 = Clock.nowUs
        sink(df)
        onDefined(df)
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = Clock.nowUs
          Some(s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(200))
      } finally sc.setLocalProperty(QidProperty, null)
    Sample(name, pass, t0, t1, Clock.nowUs, error)
  }

  def runPass(spark: SparkSession, dataDir: String, workload: String,
      pass: Int, seed: Long, queries: Map[String, Query], traced: Boolean,
      onDefined: DataFrame => Unit = _ => ()): Pass =
    Pass(pass, traced, order(queries.keys.toSeq, seed, pass).map { n =>
      runOne(spark, dataDir, workload, pass, n, queries(n), onDefined = onDefined)
    })
}
