package graft.pipeline

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._

/** Config-driven pipeline definition (SURVEY §0: a presto-etl-tool's
  * pipelines are DECLARED in config files — named SQL transforms with
  * dependencies and sinks — not written in a host language). This parses
  * that declaration form into [[Pipeline.Step]]s:
  *
  * {{{
  * { "steps": [
  *     { "name": "cust_spend",
  *       "sql":  "SELECT ... FROM customer JOIN orders ...",
  *       "depends_on": ["other_step"],
  *       "sink": { "format": "parquet", "path": "/out/dir",
  *                 "partition_by": ["seg"], "coalesce": 1 } } ] }
  * }}}
  *
  * Only declarative fields exist — no code hooks — so a spec file is
  * engine-portable the way an ETL tool's SQL-file pipelines are. The
  * parser is strict: unknown step/sink fields throw (a typo'd field name
  * silently ignored is how config-driven pipelines corrupt data).
  *
  * Scale note: the spec compiles to the same lazy-view DAG as the Scala
  * API, so Catalyst still optimizes across step boundaries (Pipeline.scala
  * header); declaring a pipeline as config costs nothing at plan time.
  */
object PipelineSpec {

  private val mapper = new ObjectMapper()

  private val stepFields = Set("name", "sql", "depends_on", "sink")
  private val sinkFields = Set("format", "path", "partition_by", "coalesce", "header")

  def parse(json: String): Seq[Pipeline.Step] = {
    val root = mapper.readTree(json)
    require(root != null && root.has("steps") && root.get("steps").isArray,
      "pipeline spec needs a top-level \"steps\" array")
    root.get("steps").elements().asScala.map(parseStep).toSeq
  }

  /** Parse and run in one call — the whole ETL-tool entry point. */
  def run(spark: org.apache.spark.sql.SparkSession, json: String): Pipeline.Result =
    Pipeline.run(spark, parse(json))

  /** Strictness helper: wrong TYPES must throw like unknown fields do —
    * Jackson's lenient accessors (`elements()` on a scalar → empty,
    * `asInt()` on text → 0) would otherwise turn a malformed field into a
    * silently different pipeline. */
  private def stringArray(ctx: String, n: JsonNode): Seq[String] = {
    require(n.isArray && n.elements().asScala.forall(_.isTextual),
      s"$ctx must be an array of strings")
    n.elements().asScala.map(_.asText()).toSeq
  }

  private def parseStep(n: JsonNode): Pipeline.Step = {
    val unknown = n.fieldNames().asScala.toSet -- stepFields
    require(unknown.isEmpty, s"unknown step field(s): ${unknown.mkString(", ")}")
    require(n.has("name") && n.get("name").isTextual, "step needs a string \"name\"")
    val name = n.get("name").asText()
    require(n.has("sql") && n.get("sql").isTextual, s"step '$name' needs a string \"sql\"")
    Pipeline.Step(
      name = name,
      dependsOn =
        if (n.has("depends_on"))
          stringArray(s"step '$name': \"depends_on\"", n.get("depends_on"))
        else Nil,
      sql = Some(n.get("sql").asText()),
      sink = if (n.has("sink")) Some(parseSink(name, n.get("sink"))) else None)
  }

  private def parseSink(step: String, n: JsonNode): Pipeline.Sink = {
    val unknown = n.fieldNames().asScala.toSet -- sinkFields
    require(unknown.isEmpty,
      s"step '$step': unknown sink field(s): ${unknown.mkString(", ")}")
    require(n.has("path") && n.get("path").isTextual,
      s"step '$step': sink needs a string \"path\"")
    require(!n.has("format") || n.get("format").isTextual,
      s"step '$step': sink \"format\" must be a string")
    val path = n.get("path").asText()
    n.path("format").asText("parquet") match {
      case "parquet" =>
        require(!n.has("coalesce") || n.get("coalesce").isIntegralNumber,
          s"step '$step': sink \"coalesce\" must be an integer")
        Pipeline.ParquetSink(
          path,
          partitionBy =
            if (n.has("partition_by"))
              stringArray(s"step '$step': sink \"partition_by\"", n.get("partition_by"))
            else Nil,
          coalesce = if (n.has("coalesce")) Some(n.get("coalesce").asInt()) else None)
      case "csv" =>
        require(!n.has("header") || n.get("header").isBoolean,
          s"step '$step': sink \"header\" must be a boolean")
        Pipeline.CsvSink(path, header = n.path("header").asBoolean(true))
      case other => throw new IllegalArgumentException(
        s"step '$step': unsupported sink format '$other'")
    }
  }
}
