package graft

import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.{dfStep, sqlStep, ParquetSink}
import org.apache.spark.sql.functions._

/** The ETL orchestration surface: DAG validation, topological execution,
  * SQL-over-upstream-views transforms, sinks, end-to-end read-back.
  */
class PipelineSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  test("three-step source→transform→sink pipeline round-trips") {
    val out = ops.Sources.scratch("graft_pipe")
    val result = Pipeline.run(spark, Seq(
      dfStep("src_orders")(s => Tables.orders(s, sf)),
      sqlStep("big_orders",
        "SELECT o_custkey, o_totalprice FROM src_orders WHERE o_totalprice > 100000",
        dependsOn = Seq("src_orders")),
      sqlStep("spend_per_cust",
        """SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n
          |FROM big_orders GROUP BY o_custkey""".stripMargin,
        dependsOn = Seq("big_orders"),
        sink = Some(ParquetSink(s"$out/spend", coalesce = Some(1))))))
    assert(result.order == Seq("src_orders", "big_orders", "spend_per_cust"))
    val written = spark.read.parquet(s"$out/spend")
    assert(written.count() == result.views("spend_per_cust").count())
    assert(written.count() > 0)
  }

  test("diamond dependencies run in topological order") {
    val r = Pipeline.run(spark, Seq(
      sqlStep("join_ab", "SELECT a.k FROM left_v a JOIN right_v b ON a.k = b.k",
        dependsOn = Seq("left_v", "right_v")),
      dfStep("left_v")(_ => Seq(1, 2, 3).toDF("k")),
      dfStep("right_v")(_ => Seq(2, 3, 4).toDF("k"))))
    assert(r.order.last == "join_ab")
    assert(r.views("join_ab").count() == 2)
  }

  test("cycles and unknown dependencies are rejected") {
    val e1 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, Seq(
        sqlStep("a", "SELECT 1", dependsOn = Seq("b")),
        sqlStep("b", "SELECT 1", dependsOn = Seq("a"))))
    }
    assert(e1.getMessage.contains("cycle"))
    val e2 = intercept[IllegalArgumentException] {
      Pipeline.run(spark, Seq(sqlStep("a", "SELECT 1", dependsOn = Seq("ghost"))))
    }
    assert(e2.getMessage.contains("unknown"))
  }

  test("contract consistency: every oracle key has a query; keys well-formed") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle-only keys: ${o.diff(q)}")
    assert(q.forall(_.matches("[a-z0-9_]+")))
  }

  test("JSON spec parses to steps, runs the DAG, and honors sinks") {
    import graft.pipeline.PipelineSpec
    val out = ops.Sources.scratch("graft_spec")
    Seq((1, "a"), (2, "a"), (3, "b")).toDF("k", "g").createOrReplaceTempView("spec_src")
    val r = PipelineSpec.run(spark,
      s"""{ "steps": [
         |  { "name": "agg_g",
         |    "sql": "SELECT g, COUNT(*) AS n FROM spec_src GROUP BY g",
         |    "depends_on": [],
         |    "sink": { "format": "parquet", "path": "$out/agg",
         |              "partition_by": ["g"], "coalesce": 1 } },
         |  { "name": "only_a",
         |    "sql": "SELECT n FROM agg_g WHERE g = 'a'",
         |    "depends_on": ["agg_g"] } ] }""".stripMargin)
    assert(r.order == Seq("agg_g", "only_a"))
    assert(r.views("only_a").as[Long].collect().toSeq == Seq(2L))
    // partitioned sink wrote hive-style directories
    val back = spark.read.parquet(s"$out/agg")
    assert(back.count() == 2 &&
      back.columns.toSet == Set("g", "n") &&
      new java.io.File(s"$out/agg/g=a").isDirectory)
  }

  test("JSON spec parser is strict: typo'd fields and bad shapes throw") {
    import graft.pipeline.PipelineSpec
    // unknown step field (typo of depends_on)
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1", "dependson": [] } ] }""")
    }
    // unknown sink field
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1",
          |  "sink": { "path": "/tmp/x", "coalesce_to": 1 } } ] }""".stripMargin)
    }
    // missing sql
    intercept[IllegalArgumentException] {
      PipelineSpec.parse("""{ "steps": [ { "name": "x" } ] }""")
    }
    // unsupported sink format
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1",
          |  "sink": { "format": "avro", "path": "/tmp/x" } } ] }""".stripMargin)
    }
    // no steps array
    intercept[IllegalArgumentException] { PipelineSpec.parse("""{ "pipeline": [] }""") }
    // wrong TYPES throw too (Jackson's lenient accessors must not coerce:
    // a string depends_on would silently become Nil and break the DAG)
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1", "depends_on": "y" } ] }""")
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1",
          |  "sink": { "path": "/tmp/x", "coalesce": "four" } } ] }""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1",
          |  "sink": { "path": "/tmp/x", "partition_by": "g" } } ] }""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      PipelineSpec.parse(
        """{ "steps": [ { "name": "x", "sql": "SELECT 1", "cache": "yes" } ] }""")
    }
    // dependency cycle still caught by Pipeline.run's Kahn sort
    intercept[IllegalArgumentException] {
      PipelineSpec.run(spark,
        """{ "steps": [
          |  { "name": "a", "sql": "SELECT * FROM b", "depends_on": ["b"] },
          |  { "name": "b", "sql": "SELECT * FROM a", "depends_on": ["a"] } ] }""".stripMargin)
    }
  }

  test("contract consistency: no module declares a duplicate query name") {
    val allKeys = Seq(
      ops.Sources, ops.Filters, ops.Joins, ops.Aggregates, ops.Windows,
      ops.Relational, ops.Scalars, ops.Events, ops.LlmOps, ops.Etl, ops.Graph)
      .flatMap(_.queries.keys)
    val dupes = allKeys.groupBy(identity).collect { case (k, v) if v.size > 1 => k }
    assert(dupes.isEmpty, s"duplicate query names across modules: $dupes")
    assert(allKeys.size == SparkEntry.queries.size)
  }

  test("contract consistency: no duplicate map-literal keys in module sources") {
    // A duplicate key inside ONE Map literal is silently last-wins at
    // runtime (it can't be seen by inspecting the Map), so scan the source:
    // each declared query name may appear as a `"name" ->` key at most
    // twice per file — once in `queries`, once in `oracleSql`.
    import scala.jdk.CollectionConverters._
    val opsDir = java.nio.file.Paths.get("src/main/scala/graft/ops")
    assume(java.nio.file.Files.isDirectory(opsDir), "run from repo root")
    val keyArrow = """"([a-z0-9_]+)"\s*->""".r
    val offenders = java.nio.file.Files.list(opsDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        keyArrow.findAllMatchIn(src).map(_.group(1)).toSeq
          .filter(SparkEntry.queries.keySet)
          .groupBy(identity).collect { case (k, v) if v.size > 2 => s"$p: $k (${v.size}x)" }
      }.toSeq
    assert(offenders.isEmpty, s"duplicate map keys: $offenders")
  }
}
