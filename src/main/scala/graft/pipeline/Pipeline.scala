package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The ETL-pipeline surface (SURVEY §0: a presto-etl-tool defines
  * source→transform→sink pipelines whose transforms are SQL statements —
  * `INSERT INTO … SELECT` / `CREATE TABLE AS` — executed by the engine).
  *
  * Spark-native re-expression: each step is a named transform (SQL text
  * over the views produced by upstream steps, or a DataFrame function),
  * steps form a DAG, results register as temp views for downstream SQL,
  * and sinks write through the normal DataFrame writers.
  *
  * Scale notes: steps stay LAZY until a sink or explicit materialization —
  * Catalyst optimizes ACROSS step boundaries (a filter in step 3 pushes
  * into step 1's scan), which a statement-at-a-time SQL orchestrator
  * cannot do. A run leaves only its temp views behind: nothing is
  * cached, so the session's CacheManager is as the run found it.
  */
object Pipeline {

  sealed trait Sink
  final case class ParquetSink(path: String,
                               mode: SaveMode = SaveMode.Overwrite,
                               partitionBy: Seq[String] = Nil,
                               coalesce: Option[Int] = None) extends Sink
  final case class CsvSink(path: String, header: Boolean = true,
                           mode: SaveMode = SaveMode.Overwrite) extends Sink

  final case class Step(
      name: String,
      dependsOn: Seq[String] = Nil,
      sql: Option[String] = None,
      transform: Option[SparkSession => DataFrame] = None,
      sink: Option[Sink] = None) {
    require(sql.isDefined ^ transform.isDefined,
      s"step '$name' needs exactly one of sql/transform")
  }

  def sqlStep(name: String, sqlText: String, dependsOn: Seq[String] = Nil,
              sink: Option[Sink] = None): Step =
    Step(name, dependsOn, sql = Some(sqlText), sink = sink)

  def dfStep(name: String, dependsOn: Seq[String] = Nil,
             sink: Option[Sink] = None)
            (f: SparkSession => DataFrame): Step =
    Step(name, dependsOn, transform = Some(f), sink = sink)

  final case class Result(views: Map[String, DataFrame], order: Seq[String])

  /** Validate the DAG, topologically order it, run every step (each result
    * registered as a temp view named after the step), execute sinks.
    */
  def run(spark: SparkSession, steps: Seq[Step]): Result = {
    val byName = steps.map(s => s.name -> s).toMap
    require(byName.size == steps.size, "duplicate step names")
    steps.foreach(s => s.dependsOn.foreach(d =>
      require(byName.contains(d), s"step '${s.name}' depends on unknown '$d'")))

    // Kahn topological sort; cycle → leftover nodes
    val order = scala.collection.mutable.ListBuffer.empty[String]
    val pending = scala.collection.mutable.Map(steps.map(s => s.name -> s.dependsOn.toSet): _*)
    while (pending.nonEmpty) {
      val ready = pending.collect { case (n, deps) if deps.isEmpty => n }.toSeq.sorted
      require(ready.nonEmpty, s"dependency cycle among: ${pending.keys.mkString(", ")}")
      ready.foreach { n =>
        order += n
        pending.remove(n)
        pending.mapValuesInPlace((_, deps) => deps - n)
      }
    }

    val views = order.map { name =>
      val step = byName(name)
      val df = step.sql.map(spark.sql).getOrElse(step.transform.get(spark))
      df.createOrReplaceTempView(name)
      step.sink.foreach(write(df, _))
      name -> df
    }.toMap

    Result(views, order.toSeq)
  }

  private def write(df: DataFrame, sink: Sink): Unit = sink match {
    case ParquetSink(path, mode, parts, coal) =>
      val base = coal.map(df.coalesce).getOrElse(df).write.mode(mode)
      (if (parts.nonEmpty) base.partitionBy(parts: _*) else base).parquet(path)
    case CsvSink(path, header, mode) =>
      df.write.mode(mode).option("header", header.toString).csv(path)
  }
}
