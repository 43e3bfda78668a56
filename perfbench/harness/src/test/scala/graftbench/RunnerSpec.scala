package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val good: Runner.Query = (s, _) => s.range(1000).toDF("id")
  private val broken: Runner.Query =
    (s, _) => s.read.parquet("/nonexistent/definitely/missing.parquet")

  test("a failing query counts as failed and is never timed as fast") {
    val pass = Runner.runPass(spark, "", "w", 1, seed = 7,
      Map("good" -> good, "broken" -> broken), traced = false)
    val byName = pass.samples.map(s => s.query -> s).toMap
    assert(byName("good").ok)
    assert(!byName("broken").ok)
    assert(byName("broken").error.exists(_.contains("AnalysisException")))
    assert(pass.samples.count(!_.ok) == 1)
    // infinitely slow, so it can only push percentiles and pass time up
    assert(byName("broken").latencyS.isPosInfinity)
    assert(pass.wallS.isPosInfinity)
    val latencies = pass.samples.map(_.latencyS)
    assert(Stats.median(latencies).isPosInfinity)
    assert(Stats.medianQuery(pass.samples.map(s => s.query -> s.latencyS)).isPosInfinity)
    assert(Stats.percentile(latencies, 50) == byName("good").latencyS)
  }

  test("the time of a failed pass is written as null, not as Infinity") {
    val text = Main.json(Map("pass_s" -> Double.PositiveInfinity,
      "latencies" -> Seq(0.25, Double.NaN), "tail" -> null, "n" -> 3))
    assert(text == """{"pass_s":null,"latencies":[0.25,null],"tail":null,"n":3}""")
  }

  test("the seed permutes the order of every timed pass, reproducibly") {
    val names = (1 to 12).map(i => s"q$i")
    val o1 = Runner.order(names, 3, 1)
    assert(o1 == Runner.order(names.reverse, 3, 1))
    assert(o1.sorted == names.sorted)
    assert(o1 != Runner.order(names, 3, 2))
    assert(o1 != Runner.order(names, 4, 1))
    // the warm-up pass runs in the same order on every seed
    assert(Runner.order(names, 3, 0) == names.sorted)
    assert(Runner.order(names.reverse, 4, 0) == names.sorted)
  }

  test("jobs of a query carry its id; the property is cleared afterwards") {
    val seen = new java.util.concurrent.atomic.AtomicReference[String]()
    val q: Runner.Query = (s, _) => {
      seen.set(s.sparkContext.getLocalProperty(Runner.QidProperty)); good(s, "")
    }
    assert(Runner.runOne(spark, "", "w", 2, "q", q).ok)
    assert(seen.get == "w/2/q")
    assert(spark.sparkContext.getLocalProperty(Runner.QidProperty) == null)
  }
}
