package graft

import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point for sessions graft does not
  * build (spark-sql, thrift, spark-submit): `--conf
  * spark.sql.extensions=graft.GraftExtensions` adds the engine's native
  * expressions and the as-of join planner. Sessions from
  * `GraftSession.builder` get the functions without it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectOptimizerRule(_ => graft.plans.AsOfJoinFilterPushdown)
  }
}
