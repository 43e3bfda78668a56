package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Proves the bench harness fails LOUDLY on a broken query (r3 verdict
  * "what's wrong" #1): a throwing query must surface in the errors list
  * and the JSON line, never silently bench as a ~0 s success.
  */
class BenchSpec extends SparkSpec {

  private val goodQuery: (SparkSession, String) => DataFrame =
    (s, dir) => s.read.parquet(s"$dir/region.parquet")
  private val brokenQuery: (SparkSession, String) => DataFrame =
    (s, _) => s.read.parquet("/nonexistent/definitely/missing.parquet")

  test("broken query is recorded in errors, not swallowed") {
    val (results, errors, splits) = Bench.run(spark, sf,
      Map("zz_broken" -> brokenQuery, "aa_good" -> goodQuery), reps = 1)
    assert(results.map(_._1) == Seq("aa_good", "zz_broken"))
    assert(errors.nonEmpty, "a throwing query must produce an error entry")
    assert(errors.forall(_.startsWith("zz_broken:")))
    assert(splits.keySet == Set("aa_good"))
  }

  test("stdout line and detail medians keep their exact format") {
    // whatever reads the bench output parses these strings: any drift in
    // them is a contract break, so they are pinned byte for byte
    val rs = Seq("b_query" -> 1.23456789, "a_query" -> 0.1,
      "c_query" -> 2.0 / 3, "d_tie" -> 0.0005)
    val errs = Seq("c_query: Boom: say \"hi\"")
    val dir = "/data/sf0.1"
    assert(Bench.jsonLine(rs, Nil, dir) ==
      """{"metric":"total","value":2.002,"unit":"sec","queries":{"b_query":1.235,"c_query":0.667,"a_query":0.100,"d_tie":0.001},"queries_n":4,"detail":"bench_detail.json","sf":"/data/sf0.1"}""")
    assert(Bench.jsonLine(rs, errs, dir) ==
      """{"metric":"total","value":2.002,"unit":"sec","queries":{"b_query":1.235,"c_query":0.667,"a_query":0.100,"d_tie":0.001},"queries_n":4,"detail":"bench_detail.json","errors":["c_query: Boom: say \"hi\""],"sf":"/data/sf0.1"}""")
    assert(Bench.jsonLine(rs, Nil, dir, budget = 140) ==
      """{"metric":"total","value":2.002,"unit":"sec","queries":{"b_query":1.235},"queries_n":4,"detail":"bench_detail.json","sf":"/data/sf0.1"}""")
    // the detail file keeps every field in place; the split follows them
    for ((e, errField) <- Seq(Nil -> "",
        errs -> ""","errors":["c_query: Boom: say \"hi\""]"""))
      assert(Bench.fullJson(rs, e, dir).startsWith(
        """{"metric":"total","value":2.001734556666667,"unit":"sec","queries":{"b_query":1.23456789,"a_query":0.1,"c_query":0.6666666666666666,"d_tie":5.0E-4}""" +
          errField + ""","sf":"/data/sf0.1","split":{"""))
  }

  test("a streaming proof's split carries its triggers") {
    val q = "e1b_stream_tumbling"
    val (_, errors, splits) =
      Bench.run(spark, sf, Map(q -> SparkEntry.queries(q)), reps = 1)
    assert(errors.isEmpty, errors)
    val s = splits(q).stream
    assert(s.triggers >= 1 && s.addBatchMs > 0, s)
    assert(Bench.fullJson(Seq(q -> 1.0), Nil, sf, splits)
      .contains(s""""split":{"$q":{"jobs":"""))
  }

  test("clean run has no errors field; broken run emits one") {
    val clean = Bench.jsonLine(Seq("aa_good" -> 0.1), Nil, sf)
    assert(!clean.contains("\"errors\""))
    val dirty = Bench.jsonLine(Seq("aa_good" -> 0.1),
      Seq("zz_broken: AnalysisException: path does not exist"), sf)
    assert(dirty.contains("\"errors\":[\"zz_broken: AnalysisException"))
  }

  test("error messages are JSON-escaped") {
    val line = Bench.jsonLine(Nil, Seq("q: boom \"quoted\"\npath\\x"), sf)
    assert(line.contains("\\\"quoted\\\""))
    assert(!line.contains("\n"))
    assert(line.contains("\\\\x"))
  }

  test("stdout line fits the driver's 2000-char tail at 250+ queries") {
    // BENCH_r01–r05 all show parsed:null — the full 215-entry map is ~7 KB
    // against a 2000-char output tail. The compact line must stay complete.
    val many = (1 to 250).map(i => f"q$i%03d_some_operator_name" -> i * 0.01)
    val line = Bench.jsonLine(many, Nil, sf)
    assert(line.length <= 1600, s"line too long: ${line.length}")
    assert(line.startsWith("{\"metric\":\"total\",\"value\":"))
    assert(line.endsWith(s""","sf":"$sf"}"""))
    assert(line.contains("\"queries_n\":250"))
    // slowest query is always present; total is the sum over ALL queries
    assert(line.contains("\"q250_some_operator_name\":2.5"))
    val expectedTotal = many.map(_._2).sum
    val value = line.split("\"value\":")(1).split(",")(0).toDouble
    assert(math.abs(value - expectedTotal) < 0.01)
  }

  test("full detail JSON keeps every query at full precision") {
    val many = (1 to 250).map(i => f"q$i%03d" -> i * 0.01)
    val full = Bench.fullJson(many, Nil, sf)
    assert(many.forall { case (k, _) => full.contains("\"" + k + "\":") })
  }

  test("SPARK_GRAFT_EXTRA_CONF parses key=value pairs; blank entries skip") {
    assert(GraftSession.parseExtraConf("a.b=1;c=x=y; d = 2 ;") ==
      Seq("a.b" -> "1", "c" -> "x=y", "d" -> "2"))
    assert(GraftSession.parseExtraConf("").isEmpty)
  }

  test("SPARK_GRAFT_EXTRA_CONF entry without '=' fails naming the entry") {
    for (bad <- Seq("a=1;spark.sql.foo", "=v")) {
      val e = intercept[IllegalArgumentException](
        GraftSession.parseExtraConf(bad))
      assert(e.getMessage.contains(s"'${bad.split(";").last}'"), e.getMessage)
    }
  }
}
