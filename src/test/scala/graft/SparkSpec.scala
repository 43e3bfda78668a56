package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps the
  * suite fast; tests only read tiny in-memory frames + sf0.001 parquet),
  * configured by the same factory as every entry point.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(cpus = 2).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sf: String = SparkSpec.sf
}
