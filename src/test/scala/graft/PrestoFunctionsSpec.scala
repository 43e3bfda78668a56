package graft

import graft.presto.{PrestoFunctions => P}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

/** The Presto-named facade behaves per the published Trino semantics. */
class PrestoFunctionsSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("strpos: 1-based, 0 when absent") {
    val out = Seq("hello").toDF("s")
      .select(P.strpos($"s", "ll"), P.strpos($"s", "zz")).as[(Long, Long)].head()
    assert(out == ((3L, 0L)))
  }

  test("cardinality + array_join + split_literal") {
    val out = Seq("a|b|c").toDF("s")
      .select(P.cardinality(P.split_literal($"s", "|")).as("n"),
        P.array_join(P.split_literal($"s", "|"), "-").as("joined"))
      .as[(Long, String)].head()
    assert(out == ((3L, "a-b-c")))
  }

  test("codepoint/chr round-trip") {
    val out = Seq(("A", 66)).toDF("s", "cp")
      .select(P.codepoint($"s"), P.chr($"cp")).as[(Int, String)].head()
    assert(out == ((65, "B")))
  }

  test("date_diff across units") {
    val df = Seq((Timestamp.valueOf("2024-01-01 00:00:00"),
                  Timestamp.valueOf("2024-03-01 12:30:00"))).toDF("a", "b")
    val (days, hours, months) = df.select(
      P.date_diff("day", $"a", $"b"),
      P.date_diff("hour", $"a", $"b"),
      P.date_diff("month", $"a", $"b")).as[(Long, Long, Long)].head()
    assert(days == 60 && hours == 1452 && months == 2)
  }

  test("to_iso8601 renders ms-precision T-form; array_position/arrays_overlap pass through") {
    val r = graft.presto.PrestoSql.sql(spark,
      """SELECT to_iso8601(TIMESTAMP '2024-03-01 12:30:45.125') AS iso,
        |  array_position(ARRAY[7, 8, 9], 9) AS found,
        |  array_position(ARRAY[7, 8, 9], 4) AS missing,
        |  arrays_overlap(ARRAY[1, 2], ARRAY[2, 3]) AS ov,
        |  arrays_overlap(ARRAY[1, 2], ARRAY[5, 6]) AS nov""".stripMargin)
      .collect().head
    assert(r.getString(0) == "2024-03-01T12:30:45.125")
    assert(r.getLong(1) == 3L && r.getLong(2) == 0L)
    assert(r.getBoolean(3) && !r.getBoolean(4))
  }

  test("element_at_safe: null out-of-bounds instead of ANSI error") {
    val out = Seq(Seq(1, 2, 3)).toDF("a")
      .select(P.element_at_safe($"a", 10)).as[Option[Int]].head()
    assert(out.isEmpty)
  }

  test("approx_distinct within tolerance; array_agg collects") {
    val df = (1 to 1000).map(i => i % 97).toDF("v")
    val approx = df.select(P.approx_distinct($"v")).as[Long].head()
    assert(math.abs(approx - 97) <= 5)
    val agg = Seq(1, 2, 2).toDF("v").select(array_sort(P.array_agg($"v"))).as[Seq[Int]].head()
    assert(agg == Seq(1, 2, 2))
  }

  test("try_eval: NULL on runtime error, value otherwise, errors not leaked") {
    val out = Seq(("12", 2), ("xy", 0), ("7", 1)).toDF("s", "n")
      .select(
        expr("try_eval(CAST(s AS INT))").as("i"),
        expr("try_eval(10 div n)").as("d"))
      .as[(Option[Int], Option[Long])].collect().toSeq
    assert(out == Seq((Some(12), Some(5L)), (None, None), (Some(7), Some(10L))))
  }

  test("try_eval preserves child type and does not swallow analysis errors") {
    val df = Seq(1).toDF("x").select(expr("try_eval(x + 1)"))
    assert(df.schema.head.dataType == org.apache.spark.sql.types.IntegerType)
    intercept[Exception] { // unresolved column is an ANALYSIS error → throws
      Seq(1).toDF("x").select(expr("try_eval(no_such_col)")).collect()
    }
  }

  test("r2 facade names: checksum order-independent, listagg sorted, url, hh") {
    val df = Seq("b", "a", "c").toDF("s")
    // checksum is order-independent: same digest under any row order
    val c1 = df.agg(P.checksum($"s")).as[Long].head()
    val c2 = Seq("c", "b", "a").toDF("s").agg(P.checksum($"s")).as[Long].head()
    assert(c1 == c2)
    assert(df.agg(P.listagg($"s", "|")).as[String].head() == "a|b|c")
    assert(df.agg(P.set_agg($"s")).as[Seq[String]].head() == Seq("a", "b", "c"))
    val url = Seq("https://example.com/p/q?x=1").toDF("u")
      .select(P.url_extract_host($"u"), P.url_extract_path($"u"))
      .as[(String, String)].head()
    assert(url == (("example.com", "/p/q")))
    val hh = df.agg(P.approx_most_frequent($"s", 4)).as[Seq[String]].head()
    assert(hh.size == 3 && hh.forall(_.endsWith(":1")))
    // sketch per-group, then merge — aggregates can't nest in one step
    val est = df.withColumn("g", substring($"s", 1, 1))
      .groupBy($"g").agg(P.approx_set($"s").as("sk"))
      .agg(P.cardinality_hll(P.merge_hll($"sk"))).as[Long].head()
    assert(est == 3L)
  }

  test("normalize_str: NFC composes, NFD decomposes, idempotent on ASCII") {
    val decomposed = "cafe\u0301" // e + combining acute
    val composed = "caf\u00e9"    // precomposed
    val out = Seq((decomposed, composed, "plain")).toDF("d", "c", "a")
      .select(
        expr("normalize_str(d, 'NFC')"), expr("normalize_str(c, 'NFD')"),
        expr("normalize_str(a, 'NFC')"), expr("normalize_str(d)"))
      .as[(String, String, String, String)].head()
    assert(out._1 == composed)
    assert(out._2 == decomposed)
    assert(out._3 == "plain")
    assert(out._4 == composed) // default form NFC
  }
}
