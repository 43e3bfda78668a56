package graft.ops

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY §2.7 — scalar function families, one grouped verification query
  * per family, evaluated over real testdata columns.
  *
  * Oracle SQL is written defensively around Spark↔DuckDB drift:
  * regexp_replace needs the 'g' flag in DuckDB, dayofweek differs by one,
  * list functions are `list_*`, double→string formatting is checked only on
  * values both engines print identically (shortest round-trip).
  *
  * Scale notes: all functions here are codegen'd row-ops inside
  * WholeStageCodegen — no shuffle except the final sort.
  */
/** Shared geometry-fixture builders for the sc21f/g/h clipping-tier
  * queries (r11 review: the helpers and the g/h fixture polygons were
  * triplicated — a fixture tweak applied to one copy would silently
  * diverge the oracles). All coordinates dyadic on the nation-keyed
  * (cx, cy, a, b) parameter frame. */
private[ops] object GeoFix {
  import org.apache.spark.sql.functions._

  def dstr(c: Column): Column = c.cast("string")

  def poly(pts: Seq[(Column, Column)]): Column = {
    val body = pts.flatMap { case (x, y) =>
      Seq(dstr(x), lit(" "), dstr(y), lit(", ")) }.dropRight(1)
    concat((lit("POLYGON ((") +: body :+ lit("))")): _*)
  }

  def q6(c: Column): Column = floor(c * 1e6 + 0.5).cast("long")

  def line(pts: Seq[(Column, Column)]): Column = {
    val body = pts.flatMap { case (x, y) =>
      Seq(dstr(x), lit(" "), dstr(y), lit(", ")) }.dropRight(1)
    concat((lit("LINESTRING (") +: body :+ lit(")")): _*)
  }

  def point(x: Column, y: Column): Column =
    concat(lit("POINT ("), dstr(x), lit(" "), dstr(y), lit(")"))

  /** MULTILINESTRING text from per-part vertex lists (r14). */
  def mline(parts: Seq[Seq[(Column, Column)]]): Column = {
    val partCols: Seq[Column] = parts.map { pts =>
      val body = pts.flatMap { case (x, y) =>
        Seq(dstr(x), lit(" "), dstr(y), lit(", ")) }.dropRight(1)
      concat((lit("(") +: body :+ lit(")")): _*)
    }
    val mid = partCols.flatMap(c => Seq(c, lit(", "))).dropRight(1)
    concat((lit("MULTILINESTRING (") +: mid :+ lit(")")): _*)
  }

  /** Axis-parallel rectangle [x0, x0+w] × [y0, y0+h] as WKT. */
  def rect(x0: Column, y0: Column, w: Column, h: Column): Column =
    poly(Seq((x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h),
      (x0, y0)))

  /** nation-keyed dyadic parameter frame: n_nationkey, cx, cy, a, b. */
  def base(s: SparkSession, d: String): DataFrame =
    Tables.nation(s, d).select(col("n_nationkey"),
      (col("n_nationkey") * 13 % 140 - 70).cast("double").as("cx"),
      (col("n_nationkey") % 11 - 5).cast("double").as("cy"),
      ((col("n_nationkey") % 5) + 2).cast("double").as("a"),
      ((col("n_nationkey") % 3) + 1).cast("double").as("b"))

  /** The sc21g/h fixture set over base(): `big` (2a×2b rect), `big_far`
    * (disjoint a×b rect at +1000), `inner` (the centered a×b rect,
    * strictly inside big), `cshape` (square annulus with a right-side
    * slot, area 11ab), `bar` (the slot cap, area 15ab/8). */
  def holesFixtures(s: SparkSession, d: String): DataFrame =
    base(s, d)
      .withColumn("big", poly(Seq(
        (col("cx"), col("cy")),
        (col("cx") + col("a") * 2, col("cy")),
        (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
        (col("cx"), col("cy") + col("b") * 2),
        (col("cx"), col("cy")))))
      .withColumn("big_far", poly(Seq(
        (col("cx") + lit(1000.0), col("cy")),
        (col("cx") + lit(1000.0) + col("a"), col("cy")),
        (col("cx") + lit(1000.0) + col("a"), col("cy") + col("b")),
        (col("cx") + lit(1000.0), col("cy") + col("b")),
        (col("cx") + lit(1000.0), col("cy")))))
      .withColumn("inner", poly(Seq(
        (col("cx") + col("a") / 2, col("cy") + col("b") / 2),
        (col("cx") + col("a") * 1.5, col("cy") + col("b") / 2),
        (col("cx") + col("a") * 1.5, col("cy") + col("b") * 1.5),
        (col("cx") + col("a") / 2, col("cy") + col("b") * 1.5),
        (col("cx") + col("a") / 2, col("cy") + col("b") / 2))))
      .withColumn("cshape", poly(Seq(
        (col("cx"), col("cy")),
        (col("cx") + col("a") * 4, col("cy")),
        (col("cx") + col("a") * 4, col("cy") + col("b") * 1.5),
        (col("cx") + col("a") * 3, col("cy") + col("b") * 1.5),
        (col("cx") + col("a") * 3, col("cy") + col("b")),
        (col("cx") + col("a"), col("cy") + col("b")),
        (col("cx") + col("a"), col("cy") + col("b") * 3),
        (col("cx") + col("a") * 3, col("cy") + col("b") * 3),
        (col("cx") + col("a") * 3, col("cy") + col("b") * 2.5),
        (col("cx") + col("a") * 4, col("cy") + col("b") * 2.5),
        (col("cx") + col("a") * 4, col("cy") + col("b") * 4),
        (col("cx"), col("cy") + col("b") * 4),
        (col("cx"), col("cy")))))
      .withColumn("bar", poly(Seq(
        (col("cx") + col("a") * 3.25, col("cy") + col("b") * 1.25),
        (col("cx") + col("a") * 4.5, col("cy") + col("b") * 1.25),
        (col("cx") + col("a") * 4.5, col("cy") + col("b") * 2.75),
        (col("cx") + col("a") * 3.25, col("cy") + col("b") * 2.75),
        (col("cx") + col("a") * 3.25, col("cy") + col("b") * 1.25))))
}

object Scalars extends QueryModule {

  // sc22's per-JVM scratch dir: stable within a run, distinct across runs
  private lazy val sc22Dir: String = Sources.scratch("graft_sc22")

  val queries: Map[String, Q] = Map(
    // String family.
    "sc1_string" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("cat"),
          substring(col("p_name"), 1, 5).as("name5"),
          length(col("p_name")).as("name_len"),
          upper(col("p_brand")).as("brand_up"),
          lower(col("p_type")).as("type_lo"),
          trim(lit("  pad  ")).as("trimmed"),
          regexp_replace(col("p_type"), "[aeiou]", "_").as("devoweled"),
          regexp_extract(col("p_brand"), "#(\\d+)", 1).as("brand_num"),
          lpad(col("p_brand"), 12, ".").as("brand_pad"),
          instr(col("p_type"), "BRASS").cast("long").as("brass_pos"),
          col("p_name").startsWith("a").as("starts_a"),
          col("p_name").contains("steel").as("has_steel"),
          reverse(col("p_brand")).as("brand_rev"),
          repeat(col("p_brand"), 2).as("brand2"),
          split(col("p_name"), " ").getItem(0).as("first_word"))
        .orderBy(col("p_partkey"))
    }),

    // Date/time family.
    "sc2_datetime" -> ((s, d) => {
      Tables.orders(s, d).filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          (dayofweek(col("o_orderdate")) - 1).as("dow_sunday0"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          (col("o_orderdate") + expr("INTERVAL 90 DAYS")).as("plus90d"),
          datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date"))
            .cast("long").as("days_to_2002"),
          unix_timestamp(col("o_orderdate")).as("epoch_s"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym_str"),
          quarter(col("o_orderdate")).as("qtr"))
        .orderBy(col("o_orderkey"))
    }),

    // Date/time family, part 2.
    "sc2b_datetime_extras" -> ((s, d) => {
      Tables.orders(s, d).filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"),
          col("o_orderdate").cast("date").as("as_date"),
          last_day(col("o_orderdate")).as("month_end"),
          add_months(col("o_orderdate").cast("date"), 2).as("plus2m"),
          make_date(year(col("o_orderdate")), month(col("o_orderdate")), lit(1)).as("month_first"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          dayofyear(col("o_orderdate")).as("doy"),
          (hour(col("o_orderdate")) + minute(col("o_orderdate"))).as("hm_zero"))
        .orderBy(col("o_orderkey"))
    }),

    // Math family, part 2: logs, trig, bitwise.
    "sc3b_math_extras" -> ((s, d) => {
      Tables.customer(s, d).filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          round(log10(abs(col("c_acctbal")) + 1.0), 6).as("lg10"),
          round(log2(abs(col("c_acctbal")) + 1.0), 6).as("lg2"),
          round(cbrt(abs(col("c_acctbal"))), 6).as("curt"),
          round(sin(col("c_custkey") * 0.1), 6).as("sin_k"),
          round(atan2(col("c_acctbal"), lit(100.0)), 6).as("at2"),
          round(degrees(col("c_custkey") * 0.01), 6).as("deg"),
          (col("c_custkey").bitwiseAND(lit(255L))).as("band"),
          (col("c_custkey").bitwiseOR(lit(16L))).as("bor"),
          (col("c_custkey").bitwiseXOR(lit(85L))).as("bxor"),
          shiftleft(col("c_custkey"), 3).as("shl3"),
          bit_count(col("c_custkey")).cast("long").as("popcount"))
        .orderBy(col("c_custkey"))
    }),

    // Math family (exact ops + correctly-rounded sqrt; libm-dependent
    // exp/ln rounded to 6dp, far above cross-libm ulp noise).
    "sc3_math" -> ((s, d) => {
      Tables.customer(s, d).filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          abs(col("c_acctbal")).as("bal_abs"),
          // Spark ceil/floor(double) return BIGINT; DuckDB's return DOUBLE —
          // cast back so the hashed parquet values agree (1864 vs 1864.0).
          ceil(col("c_acctbal")).cast("double").as("bal_ceil"),
          floor(col("c_acctbal")).cast("double").as("bal_floor"),
          signum(col("c_acctbal")).as("bal_sign"),
          round(sqrt(abs(col("c_acctbal"))), 6).as("bal_sqrt"),
          round(exp(col("c_acctbal") / 10000.0), 6).as("bal_exp"),
          round(log(abs(col("c_acctbal")) + 1.0), 6).as("bal_ln"),
          (col("c_custkey") % 7).as("key_mod7"),
          greatest(col("c_acctbal"), lit(0.0)).as("bal_pos"),
          least(col("c_acctbal"), lit(1000.0)).as("bal_cap"))
        .orderBy(col("c_custkey"))
    }),

    // Array family over embeddings (higher-order functions). Array-typed
    // RESULT columns crash the driver's pandas comparator (unhashable
    // ndarray), so list outputs are serialized to strings: each float is
    // quantized floor(x*1e6+0.5) in IEEE double (bit-identical on both
    // engines, see l6) and the bigints joined with ','.
    "sc4_array" -> ((s, d) => {
      Tables.embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("dim"),
          col("embedding").getItem(0).cast("double").as("first_elem"),
          element_at(col("embedding"), 64).cast("double").as("last_elem"),
          expr("array_join(transform(slice(embedding, 1, 3), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ',')").as("head3"),
          array_max(col("embedding")).cast("double").as("vmax"),
          array_min(col("embedding")).cast("double").as("vmin"),
          expr("CAST(size(filter(embedding, x -> x > 0)) AS BIGINT)").as("n_pos"),
          expr("array_join(transform(sort_array(transform(slice(embedding, 1, 4), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), x -> CAST(x AS STRING)), ',')").as("sorted4"),
          array_contains(col("embedding"), lit(0.0f)).as("has_zero"))
        .orderBy(col("vec_id"))
    }),

    // String family, part 2: Presto-flavored functions.
    "sc1b_string_extras" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 200)
        .select(col("p_partkey"),
          ascii(col("p_name")).as("first_cp"),
          expr("char(65 + p_partkey % 26)").as("letter"),
          translate(col("p_type"), "AEIOU", "aeiou").as("lowered_vowels"),
          locate("a", col("p_name")).cast("long").as("a_pos"),
          expr("left(p_name, 4)").as("head4"),
          expr("right(p_name, 3)").as("tail3"),
          expr("split_part(p_name, ' ', 2)").as("second_word"),
          levenshtein(col("p_brand"), lit("Brand#1")).as("lev_to_b1"))
        .orderBy(col("p_partkey"))
    }),

    // Array family, part 2: set-ish array operations. Same string
    // serialization as sc4_array: quantize floats to bigints, join with ','.
    "sc4b_array_extras" -> ((s, d) => {
      Tables.embeddings(s, d).filter(col("vec_id") < 20)
        .select(col("vec_id"),
          array_position(col("embedding"), array_max(col("embedding"))).as("argmax_pos"),
          expr("array_join(transform(sort_array(transform(array_intersect(slice(embedding, 1, 8), slice(embedding, 5, 8)), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), x -> CAST(x AS STRING)), ',')").as("inter_overlap"),
          arrays_overlap(slice(col("embedding"), 1, 8), slice(col("embedding"), 5, 8)).as("has_overlap"),
          expr("array_join(transform(array_remove(slice(embedding, 1, 4), element_at(embedding, 2)), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ',')").as("removed2"),
          expr("array_join(transform(concat(slice(embedding, 1, 2), slice(embedding, 63, 2)), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ',')").as("ends"),
          expr("array_join(transform(flatten(array(slice(embedding, 1, 2), slice(embedding, 3, 2))), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ',')").as("flat4"),
          expr("CAST(element_at(reverse(embedding), 1) AS DOUBLE)").as("last_via_reverse"))
        .orderBy(col("vec_id"))
    }),

    // Map / struct family (built from JSON props).
    "sc5_map_struct" -> ((s, d) => {
      Tables.events(s, d).filter(col("event_id") < 500)
        .select(col("event_id"),
          from_json(col("props"), lit("k INT")).getField("k").as("k_from_struct"),
          map_keys(from_json(col("props"), lit("map<string,int>"))).getItem(0).as("first_key"),
          struct(col("user_id").as("u"), col("event_type").as("t"))
            .getField("t").as("type_via_struct"))
        .orderBy(col("event_id"))
    }),

    // JSON family over events.props.
    "sc6_json" -> ((s, d) => {
      Tables.events(s, d).filter(col("event_id") < 500)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          get_json_object(col("props"), "$.k").cast("int").as("k_int"),
          get_json_object(col("props"), "$.missing").as("missing_key"),
          to_json(struct(col("user_id").as("u"))).as("built_json"))
        .orderBy(col("event_id"))
    }),

    // sc6b: JSON arrays + nested objects (Presto json_array_length /
    // json_array_get / json_extract / json_parse + CAST AS ARRAY):
    // constructed per-row JSON exercises array length, path indexing,
    // parse-to-typed-array + fold, key listing, and nested extraction.
    "sc6b_json_arrays" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .withColumn("jarr", concat(lit("["), col("p_size"), lit(","),
          col("p_size") * 2, lit(","), col("p_partkey") % 7, lit("]")))
        .withColumn("jobj", to_json(struct(col("p_size").as("a"),
          struct(col("p_brand").as("b")).as("nest"))))
        .select(col("p_partkey"),
          json_array_length(col("jarr")).cast("long").as("arr_len"),
          get_json_object(col("jarr"), "$[1]").cast("long").as("second"),
          aggregate(
            from_json(col("jarr"),
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.LongType)),
            lit(0L), (acc, x) => acc + x).as("arr_sum"),
          array_join(json_object_keys(col("jobj")), ",").as("keys"),
          get_json_object(col("jobj"), "$.nest.b").as("nested_b"))
        .orderBy(col("p_partkey"))
    }),

    // sc6c: SQL:2016 JSON path trio (json_exists / json_value /
    // json_query — r3 verdict missing #2), exercised through the Presto
    // dialect entry over a per-row constructed JSON document with nested
    // objects, arrays, a row-dependent OPTIONAL key, scalar vs non-scalar
    // extraction, and lax/strict mode prefixes. Built on Spark 4 VARIANT
    // (see PrestoSql.dialectFns): missing member ≠ JSON null, string
    // scalars keep quotes under json_query and lose them under json_value.
    "sc6c_json_path" -> ((s, d) => {
      Tables.registerAll(s, d)
      graft.presto.PrestoSql.sql(s,
        """SELECT "event_id",
          |  json_exists(j, '$.opt') AS has_opt,
          |  json_exists(j, 'lax $.meta.v') AS has_v,
          |  json_exists(j, '$.nope') AS has_nope,
          |  json_value(j, '$.meta.v') AS v_str,
          |  json_value(j, '$.tags[0]') AS tag0,
          |  json_value(j, 'strict $.tags') AS tags_nonscalar,
          |  json_query(j, '$.tags') AS q_tags,
          |  json_query(j, '$.tags[0]') AS q_tag0,
          |  json_query(j, '$.meta') AS q_meta,
          |  json_query(j, '$.nope') AS q_missing,
          |  json_size(j, '$.tags') AS sz_tags,
          |  json_size(j, '$.meta') AS sz_meta,
          |  json_size(j, '$.id') AS sz_scalar,
          |  json_size(j, '$.nope') AS sz_missing
          |FROM (
          |  SELECT "event_id",
          |    '{"id":' || CAST("event_id" AS VARCHAR) ||
          |    ',"tags":["' || "event_type" || '","x"]' ||
          |    ',"meta":{"v":' || CAST("event_id" % 50 AS VARCHAR) || '}' ||
          |    CASE WHEN "event_id" % 3 = 0 THEN ',"opt":"y"' ELSE '' END ||
          |    '}' AS j
          |  FROM events WHERE "event_id" < 500)
          |ORDER BY "event_id"""".stripMargin)
    }),

    // sc21: geospatial starter family (r3 verdict missing #5) — haversine
    // great-circle distance + bounding-box containment over lat/lon
    // doubles synthesized deterministically from customer keys (integer-
    // derived, so both engines see bit-identical inputs). Distances are
    // q6-quantized; the Spark expression tree and the oracle SQL mirror
    // each other operation-for-operation (see functions/GeoFunctions).
    "sc21_geo" -> ((s, d) => {
      import graft.functions.GeoFunctions._
      val pts = Tables.customer(s, d).filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          (col("c_custkey") % 120 - 60 + lit(0.25)).as("lat"),
          (col("c_custkey") * 7 % 360 - 180 + lit(0.5)).as("lon"))
      pts.select(col("c_custkey"), col("lat"), col("lon"),
        floor(haversineKm(col("lat"), col("lon"),
          lit(48.8566), lit(2.3522)) * 1e6 + 0.5).cast("long")
          .as("d_paris_q6"),
        floor(haversineKm(col("lat"), col("lon"),
          lit(35.6762), lit(139.6503)) * 1e6 + 0.5).cast("long")
          .as("d_tokyo_q6"),
        inBbox(col("lat"), col("lon"), 35.0, -10.0, 60.0, 30.0)
          .as("in_europe_box"),
        (col("lat") >= -23.5 && col("lat") <= 23.5).as("in_tropics"))
        .orderBy(col("c_custkey"))
    }),

    // sc21b: WKT text geometry — POINT round-trip through st_x/st_y and
    // literal-polygon st_contains (diamond + rectangle, both evaluated
    // by the generic ray cast; the oracle uses their closed forms).
    // Coordinates are (x=lon, y=lat) per WKT convention. Fractions are
    // engineered so no point lands on an edge (point fracs .5/.25 vs
    // polygon fracs .3).
    "sc21b_wkt" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      val pts = Tables.customer(s, d).filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          (col("c_custkey") % 120 - 60 + lit(0.25)).as("lat"),
          (col("c_custkey") * 7 % 360 - 180 + lit(0.5)).as("lon"))
        .withColumn("wkt", concat(lit("POINT ("), col("lon").cast("string"),
          lit(" "), col("lat").cast("string"), lit(")")))
      val diamond =
        "POLYGON ((50.3 0, 0 50.3, -50.3 0, 0 -50.3, 50.3 0))"
      val rect = "POLYGON ((-150.3 -60.3, 150.3 -60.3, 150.3 60.3, " +
        "-150.3 60.3, -150.3 -60.3))"
      pts.select(col("c_custkey"),
          GF.stX(col("wkt")).as("x"),
          GF.stY(col("wkt")).as("y"),
          GF.stContains(lit(diamond), col("lon"), col("lat")).as("in_diamond"),
          GF.stContains(lit(rect), col("lon"), col("lat")).as("in_rect"))
        .orderBy(col("c_custkey"))
    }),

    // sc21c: ST_Area / ST_Length over synthesized WKT — planar shoelace
    // and segment-sum with FIXED term/accumulation order, so the DuckDB
    // oracle mirrors the arithmetic operation-for-operation on the same
    // round-trip-exact vertex doubles (the sc21 contract), q6-quantized.
    "sc21c_wkt_measure" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      def dstr(c: org.apache.spark.sql.Column) = c.cast("string")
      val g = Tables.nation(s, d).select(
        col("n_nationkey"),
        (col("n_nationkey") % 11 - 5).cast("double").as("cy"),
        (col("n_nationkey") * 13 % 140 - 70).cast("double").as("cx"),
        ((col("n_nationkey") % 5).cast("double") + lit(3.3)).as("r"))
      g.withColumn("poly", concat(
          lit("POLYGON (("),
          dstr(col("cx") + col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") + col("r")), lit(", "),
          dstr(col("cx") - col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") - col("r")), lit("))")))
        .withColumn("line", concat(
          lit("LINESTRING ("),
          dstr(col("cx")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx") + col("r")), lit(" "), dstr(col("cy") + col("r")),
          lit(", "),
          dstr(col("cx") + col("r") + col("r")), lit(" "), dstr(col("cy")),
          lit(")")))
        .select(col("n_nationkey"),
          floor(GF.stArea(col("poly")) * 1e6 + 0.5).cast("long").as("area_q6"),
          floor(GF.stLength(col("line")) * 1e6 + 0.5).cast("long").as("len_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21d: polygon-polygon predicates — ST_Within (both directions)
    // and ST_Overlaps, the next geospatial tier above point-in-polygon
    // (r8 verdict missing #3 closed out: intersects landed with j18,
    // this adds the containment/overlap split). Diamond/rectangle pairs
    // synthesize in four MODES so every branch genuinely fires:
    // 0 = rect inside diamond, 1 = partial overlap (proper edge
    // crossings), 2 = disjoint, 3 = diamond inside rect. The oracle
    // re-derives all four flags from closed forms (max-corner L1 bound,
    // interval nesting, clamped-L1 intersection) — independent of the
    // WKT parse, ray cast, and edge-crossing kernel. Fractional offsets
    // keep every comparison strictly off boundaries (min margin 0.1 vs
    // ~1e-13 double noise).
    "sc21d_geo_predicates" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      def dstr(c: org.apache.spark.sql.Column) = c.cast("string")
      val g = Tables.nation(s, d).select(
          col("n_nationkey"),
          (col("n_nationkey") % 11 - 5).cast("double").as("cy"),
          (col("n_nationkey") * 13 % 140 - 70).cast("double").as("cx"),
          ((col("n_nationkey") % 5).cast("double") + lit(3.3)).as("r"))
        .withColumn("mode", explode(array(lit(0), lit(1), lit(2), lit(3))))
        .withColumn("ox", col("cx") +
          when(col("mode") === 0, lit(0.1))
            .when(col("mode") === 1, col("r") + lit(0.15))
            .when(col("mode") === 2, col("r") * 3)
            .otherwise(lit(0.1)))
        .withColumn("oy", col("cy") +
          when(col("mode") === 0, lit(-0.1))
            .when(col("mode") === 1, lit(0.0))
            .when(col("mode") === 2, lit(2.0))
            .otherwise(lit(0.2)))
        .withColumn("hw",
          when(col("mode") === 0, col("r") / 4)
            .when(col("mode") === 1, col("r") / 2)
            .when(col("mode") === 2, lit(1.0))
            .otherwise(col("r") * 2))
        .withColumn("hh",
          when(col("mode") === 0, col("r") / 5)
            .when(col("mode") === 1, col("r") / 2)
            .when(col("mode") === 2, lit(1.0))
            .otherwise(col("r") * 2))
        .withColumn("diamond", concat(
          lit("POLYGON (("),
          dstr(col("cx") + col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") + col("r")), lit(", "),
          dstr(col("cx") - col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") - col("r")), lit(", "),
          dstr(col("cx") + col("r")), lit(" "), dstr(col("cy")), lit("))")))
        .withColumn("rect", concat(
          lit("POLYGON (("),
          dstr(col("ox") - col("hw")), lit(" "), dstr(col("oy") - col("hh")),
          lit(", "),
          dstr(col("ox") + col("hw")), lit(" "), dstr(col("oy") - col("hh")),
          lit(", "),
          dstr(col("ox") + col("hw")), lit(" "), dstr(col("oy") + col("hh")),
          lit(", "),
          dstr(col("ox") - col("hw")), lit(" "), dstr(col("oy") + col("hh")),
          lit(", "),
          dstr(col("ox") - col("hw")), lit(" "), dstr(col("oy") - col("hh")),
          lit("))")))
      g.select(col("n_nationkey"), col("mode"),
          GF.stWithin(col("rect"), col("diamond")).as("rect_in_diamond"),
          GF.stWithin(col("diamond"), col("rect")).as("diamond_in_rect"),
          GF.stOverlaps(col("diamond"), col("rect")).as("overlaps"),
          GF.stIntersects(col("diamond"), col("rect")).as("intersects"))
        .orderBy(col("n_nationkey"), col("mode"))
    }),

    // sc21e: polygon CONSTRUCTION over convex inputs —
    // ST_Intersection and ST_Union (the polygon overlay, WktOverlay)
    // and ST_Buffer (miter join). Oracle strategy: every coordinate is
    // DYADIC (integers and quarters), so overlay/offset arithmetic is
    // exact in IEEE and the shoelace areas land exactly on closed forms
    // DuckDB computes from first principles — rect∩rect = overlap box,
    // two offset congruent L1-balls intersect in a diamond of area 2t²
    // (t = r − dx/2), union by inclusion–exclusion, miter rect buffer =
    // the grown rectangle. Centers (cx, cy) translate out of every
    // area, so the oracle needs only the size parameters. The disjoint
    // pair pins the "POLYGON EMPTY" result as text.
    "sc21e_geo_clipping" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      def dstr(c: org.apache.spark.sql.Column) = c.cast("string")
      def rectWkt(x1: org.apache.spark.sql.Column,
          y1: org.apache.spark.sql.Column, x2: org.apache.spark.sql.Column,
          y2: org.apache.spark.sql.Column) = concat(
        lit("POLYGON (("), dstr(x1), lit(" "), dstr(y1), lit(", "),
        dstr(x2), lit(" "), dstr(y1), lit(", "),
        dstr(x2), lit(" "), dstr(y2), lit(", "),
        dstr(x1), lit(" "), dstr(y2), lit(", "),
        dstr(x1), lit(" "), dstr(y1), lit("))"))
      def diamondWkt(cx: org.apache.spark.sql.Column,
          cy: org.apache.spark.sql.Column, r: org.apache.spark.sql.Column) =
        concat(
          lit("POLYGON (("),
          dstr(cx + r), lit(" "), dstr(cy), lit(", "),
          dstr(cx), lit(" "), dstr(cy + r), lit(", "),
          dstr(cx - r), lit(" "), dstr(cy), lit(", "),
          dstr(cx), lit(" "), dstr(cy - r), lit(", "),
          dstr(cx + r), lit(" "), dstr(cy), lit("))"))
      val g = Tables.nation(s, d).select(col("n_nationkey"),
          (col("n_nationkey") * 13 % 140 - 70).cast("double").as("cx"),
          (col("n_nationkey") % 11 - 5).cast("double").as("cy"),
          ((col("n_nationkey") % 5) + 2).cast("double").as("hw"),
          ((col("n_nationkey") % 3) + 1).cast("double").as("hh"),
          ((col("n_nationkey") % 4) + 2).cast("double").as("r"))
        .withColumn("sx", col("hw") + 0.5)  // corner overlap by design
        .withColumn("sy", col("hh") - 0.5)
        .withColumn("dx", col("r") - 0.5)   // 0 < dx < 2r: proper overlap
        .withColumn("rect_a", rectWkt(col("cx") - col("hw"),
          col("cy") - col("hh"), col("cx") + col("hw"),
          col("cy") + col("hh")))
        .withColumn("rect_b", rectWkt(col("cx") + col("sx") - col("hw"),
          col("cy") + col("sy") - col("hh"),
          col("cx") + col("sx") + col("hw"),
          col("cy") + col("sy") + col("hh")))
        .withColumn("rect_far", rectWkt(col("cx") + lit(1000.0) - col("hw"),
          col("cy") - col("hh"), col("cx") + lit(1000.0) + col("hw"),
          col("cy") + col("hh")))
        .withColumn("dia1", diamondWkt(col("cx"), col("cy"), col("r")))
        .withColumn("dia2", diamondWkt(col("cx") + col("dx"), col("cy"),
          col("r")))
        // point set whose hull is exactly dia1: the 4 extremes plus two
        // strictly-interior points (|0.5| + |0.25| < r) the chain drops
        .withColumn("pts", concat(
          lit("LINESTRING ("),
          dstr(col("cx") + col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") + col("r")), lit(", "),
          dstr(col("cx") - col("r")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy") - col("r")), lit(", "),
          dstr(col("cx")), lit(" "), dstr(col("cy")), lit(", "),
          dstr(col("cx") + lit(0.5)), lit(" "), dstr(col("cy") + lit(0.25)),
          lit(")")))
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5).cast("long")
      g.select(col("n_nationkey"),
          q6(GF.stArea(GF.stIntersection(col("rect_a"), col("rect_b"))))
            .as("inter_rr_q6"),
          q6(GF.stArea(GF.stUnion(col("rect_a"), col("rect_b"))))
            .as("union_rr_q6"),
          q6(GF.stArea(GF.stIntersection(col("dia1"), col("dia2"))))
            .as("inter_dd_q6"),
          q6(GF.stArea(GF.stUnion(col("dia1"), col("dia2"))))
            .as("union_dd_q6"),
          // r14: this tier documents the MITER construction — pinned
          // via the explicit flag now that the default join is round
          q6(GF.stArea(call_function("st_buffer", col("rect_a"),
            lit(1.25), lit("miter")))).as("buffer_q6"),
          GF.stIntersection(col("rect_a"), col("rect_far"))
            .as("disjoint_wkt"),
          q6(GF.stArea(call_function("st_convexhull", col("pts"))))
            .as("hull_q6"),
          (size(split(call_function("st_convexhull", col("pts")), ","))
            - 1).cast("long").as("hull_nv"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21f: concave clipping — ST_Intersection/ST_Union/ST_Difference
    // through the polygon overlay (WktOverlay), plus MULTIPOLYGON
    // rendering for multi-component results. Fixtures are hole-free
    // concave polygons with DYADIC axis-parallel edges, so every
    // crossing coordinate and shoelace area is IEEE-exact against
    // first-principles closed forms: an L-shape (area 3ab) clipped by a rectangle riding its
    // notch corner (∩ = 3ab/4, − = 9ab/4, ∪ = 13ab/4 — inclusion–
    // exclusion closes exactly); a U-shape whose bar crosses BOTH arms
    // (∩ = two components, ab/2 total — the MULTIPOLYGON path); a
    // disjoint union (two components, 4ab); and the contained
    // difference pinning 'POLYGON EMPTY' as text. Component counts ride
    // the WKT text (each hole-free component renders exactly one '((').
    "sc21f_geo_clipping_general" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      def dstr(c: org.apache.spark.sql.Column) = c.cast("string")
      def poly(pts: Seq[(org.apache.spark.sql.Column,
          org.apache.spark.sql.Column)]) = {
        val body = pts.flatMap { case (x, y) =>
          Seq(dstr(x), lit(" "), dstr(y), lit(", ")) }.dropRight(1)
        concat((lit("POLYGON ((") +: body :+ lit("))")): _*)
      }
      val g = Tables.nation(s, d).select(col("n_nationkey"),
          (col("n_nationkey") * 13 % 140 - 70).cast("double").as("cx"),
          (col("n_nationkey") % 11 - 5).cast("double").as("cy"),
          ((col("n_nationkey") % 5) + 2).cast("double").as("a"),
          ((col("n_nationkey") % 3) + 1).cast("double").as("b"))
        .withColumn("lshape", poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("clip", poly(Seq(
          (col("cx") + col("a") / 2, col("cy") + col("b") / 2),
          (col("cx") + col("a") * 1.5, col("cy") + col("b") / 2),
          (col("cx") + col("a") * 1.5, col("cy") + col("b") * 1.5),
          (col("cx") + col("a") / 2, col("cy") + col("b") * 1.5),
          (col("cx") + col("a") / 2, col("cy") + col("b") / 2))))
        .withColumn("clip_far", poly(Seq(
          (col("cx") + lit(1000.0), col("cy")),
          (col("cx") + lit(1000.0) + col("a"), col("cy")),
          (col("cx") + lit(1000.0) + col("a"), col("cy") + col("b")),
          (col("cx") + lit(1000.0), col("cy") + col("b")),
          (col("cx") + lit(1000.0), col("cy")))))
        .withColumn("inner", poly(Seq(
          (col("cx") + col("a") * 0.75, col("cy") + col("b") * 0.75),
          (col("cx") + col("a"), col("cy") + col("b") * 0.75),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 0.75, col("cy") + col("b")),
          (col("cx") + col("a") * 0.75, col("cy") + col("b") * 0.75))))
        .withColumn("ushape", poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 3, col("cy")),
          (col("cx") + col("a") * 3, col("cy") + col("b") * 2),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx") + col("a") * 2, col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("bar", poly(Seq(
          (col("cx") + col("a") / 2, col("cy") + col("b") * 1.25),
          (col("cx") + col("a") * 2.5, col("cy") + col("b") * 1.25),
          (col("cx") + col("a") * 2.5, col("cy") + col("b") * 1.75),
          (col("cx") + col("a") / 2, col("cy") + col("b") * 1.75),
          (col("cx") + col("a") / 2, col("cy") + col("b") * 1.25))))
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5).cast("long")
      def ncomp(c: org.apache.spark.sql.Column) =
        (size(split(c, "\\(\\(")) - 1).cast("long")
      g.select(col("n_nationkey"),
          q6(GF.stArea(GF.stIntersection(col("lshape"), col("clip"))))
            .as("inter_l_q6"),
          q6(GF.stArea(GF.stDifference(col("lshape"), col("clip"))))
            .as("diff_l_q6"),
          q6(GF.stArea(GF.stUnion(col("lshape"), col("clip"))))
            .as("union_l_q6"),
          q6(GF.stArea(GF.stIntersection(col("ushape"), col("bar"))))
            .as("inter_u_q6"),
          ncomp(GF.stIntersection(col("ushape"), col("bar")))
            .as("inter_u_ncomp"),
          q6(GF.stArea(GF.stDifference(col("ushape"), col("bar"))))
            .as("diff_u_q6"),
          q6(GF.stArea(GF.stUnion(col("lshape"), col("clip_far"))))
            .as("union_far_q6"),
          ncomp(GF.stUnion(col("lshape"), col("clip_far")))
            .as("union_far_ncomp"),
          GF.stDifference(col("inner"), col("clip")).as("contained_wkt"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21g: INTERIOR-RING (holes) tier (r11, past the r10 ask) — a
    // difference with B strictly inside A emits `POLYGON ((shell),
    // (hole))` instead of throwing; a union that ENCLOSES A VOID (a
    // C-shape capped by a bar) emits the void as an interior ring; and
    // st_area/st_contains consume holed polygons (holes subtract /
    // even-odd). Closed forms: hole-difference = 3ab with 2 rings;
    // C (square annulus, right slot) = 11ab, bar = 15ab/8, overlap =
    // 3ab/8 (two wall windows — a 2-component MULTIPOLYGON), union =
    // 12.5ab with the void (4ab + ab/4) as one interior ring; all
    // coordinates dyadic so inclusion–exclusion closes exactly.
    "sc21g_geo_holes" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.q6
      val g = GeoFix.holesFixtures(s, d)
      def nrings(c: org.apache.spark.sql.Column) =
        (size(split(c, "\\(")) - 2).cast("long")  // outer paren + rings
      val dHole = GF.stDifference(col("big"), col("inner"))
      val uVoid = GF.stUnion(col("cshape"), col("bar"))
      g.select(col("n_nationkey"),
          q6(GF.stArea(dHole)).as("diff_hole_q6"),
          nrings(dHole).as("diff_hole_nrings"),
          q6(GF.stArea(uVoid)).as("union_void_q6"),
          nrings(uVoid).as("union_void_nrings"),
          q6(GF.stArea(GF.stIntersection(col("cshape"), col("bar"))))
            .as("inter_cb_q6"),
          q6(GF.stArea(GF.stDifference(col("cshape"), col("bar"))))
            .as("diff_cb_q6"),
          // even-odd containment against the HOLED results: the hole
          // center is outside, the annulus body is inside
          GF.stContains(dHole, col("cx") + col("a"), col("cy") + col("b"))
            .as("hole_center_in"),
          GF.stContains(dHole, col("cx") + col("a") / 4,
            col("cy") + col("b")).as("annulus_in"),
          GF.stContains(uVoid, col("cx") + col("a") * 2,
            col("cy") + col("b") * 2).as("void_center_in"),
          GF.stContains(uVoid, col("cx") + col("a") / 2,
            col("cy") + col("b") * 2).as("wall_in"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21h: geometry ACCESSORS over the multi-ring model (Trino's
    // ST_NumGeometries / ST_GeometryN / ST_ExteriorRing /
    // ST_NumInteriorRing / ST_InteriorRingN) plus MULTIPOLYGON-aware
    // ST_Contains — exercised against sc21g's constructed results so
    // the accessors read REAL clipper output, not hand-typed text:
    // the 2-component wall-window intersection (components ordered
    // canonically, both windows 3ab/16), the holed difference (shell
    // perimeter 4(a+b), hole perimeter 2(a+b)), out-of-range NULLs,
    // and EMPTY → 0 components.
    "sc21h_geo_accessors_multi" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.q6
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("multi", GF.stIntersection(col("cshape"), col("bar")))
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
      g.select(col("n_nationkey"),
          call_function("st_numgeometries", col("multi")).as("ng_multi"),
          call_function("st_numgeometries", col("dhole")).as("ng_single"),
          call_function("st_numgeometries",
            GF.stIntersection(col("big"), col("big_far"))).as("ng_empty"),
          q6(GF.stArea(call_function("st_geometryn", col("multi"), lit(1))))
            .as("g1_area_q6"),
          call_function("st_geometryn", col("multi"), lit(3)).isNull
            .as("g3_null"),
          call_function("st_numinteriorring", col("dhole")).as("n_holes"),
          q6(GF.stLength(call_function("st_exteriorring", col("dhole"))))
            .as("ext_len_q6"),
          q6(GF.stLength(call_function("st_interiorringn", col("dhole"),
            lit(1)))).as("int_len_q6"),
          call_function("st_interiorringn", col("dhole"), lit(2)).isNull
            .as("ring2_null"),
          GF.stContains(col("multi"), col("cx") + col("a") * 3.5,
            col("cy") + col("b") * 1.375).as("in_window1"),
          GF.stContains(col("multi"), col("cx") + col("a") * 3.5,
            col("cy") + col("b") * 2).as("between_windows"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21i: envelope + centroid over HOLED and MULTIPOLYGON geometries
    // (r11, closing the accessor surface): the envelope of a holed
    // polygon is its shell's bbox (interior rings cannot extend it) and
    // a MULTIPOLYGON's envelope spans all shells; the centroid
    // accumulates the shoelace moment terms over every ring with fixed
    // orientation (shells CCW, holes CW), so moments are shell − holes.
    // Exactness: both probed centroids are DYADIC by symmetry — the
    // holed difference shares its hole's center so the centroid stays
    // the common center; the two equal wall windows average to
    // (29a/8, 2b) — and an IEEE division whose true quotient is
    // representable is exact, so q6 lands on the closed form.
    "sc21i_geo_env_centroid_multi" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.q6
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("multi", GF.stIntersection(col("cshape"), col("bar")))
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
      def f(name: String, c: org.apache.spark.sql.Column) =
        call_function(name, c)
      g.select(col("n_nationkey"),
          q6(f("st_xmin", col("multi"))).as("m_xmin_q6"),
          q6(f("st_xmax", col("multi"))).as("m_xmax_q6"),
          q6(f("st_ymin", col("multi"))).as("m_ymin_q6"),
          q6(f("st_ymax", col("multi"))).as("m_ymax_q6"),
          q6(f("st_xmax", col("dhole"))).as("h_xmax_q6"),
          q6(f("st_ymax", col("dhole"))).as("h_ymax_q6"),
          q6(f("st_centroid_x", col("dhole"))).as("h_cx_q6"),
          q6(f("st_centroid_y", col("dhole"))).as("h_cy_q6"),
          q6(f("st_centroid_x", col("multi"))).as("m_cx_q6"),
          q6(f("st_centroid_y", col("multi"))).as("m_cy_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21j: ST_IsValid / geometry_invalid_reason (r11) — STRICT
    // structural validity over the multi-ring model: simple rings,
    // nonzero area, interior rings strictly inside with disjoint
    // boundaries, component shells disjoint and non-nested (stricter
    // than OGC's isolated-point hole tangency, documented — matching
    // the clipping tier's scope). Fixtures: the clipper's OWN holed
    // difference output must validate; an asymmetric bow-tie, a
    // collinear zero-area ring, a hole outside / crossing its shell,
    // and nested MULTIPOLYGON components each pin their reason string;
    // EMPTY is valid.
    "sc21j_geo_validity" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.poly
      def ring(pts: Seq[(org.apache.spark.sql.Column,
          org.apache.spark.sql.Column)]) = {
        val body = pts.flatMap { case (x, y) =>
          Seq(GeoFix.dstr(x), lit(" "), GeoFix.dstr(y), lit(", "))
        }.dropRight(1)
        concat((lit("(") +: body :+ lit(")")): _*)
      }
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("bow", poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx") + col("a"), col("cy")),
          (col("cx"), col("cy") + col("b")),
          (col("cx"), col("cy")))))
        .withColumn("flat", poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("shell_ring", ring(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("hole_out", concat(lit("POLYGON ("), col("shell_ring"),
          lit(", "), ring(Seq(
            (col("cx") + col("a") * 10, col("cy")),
            (col("cx") + col("a") * 11, col("cy")),
            (col("cx") + col("a") * 11, col("cy") + col("b")),
            (col("cx") + col("a") * 10, col("cy") + col("b")),
            (col("cx") + col("a") * 10, col("cy")))), lit(")")))
        .withColumn("hole_cross", concat(lit("POLYGON ("), col("shell_ring"),
          lit(", "), ring(Seq(
            (col("cx") + col("a") * 1.5, col("cy") + col("b") / 2),
            (col("cx") + col("a") * 2.5, col("cy") + col("b") / 2),
            (col("cx") + col("a") * 2.5, col("cy") + col("b") * 1.5),
            (col("cx") + col("a") * 1.5, col("cy") + col("b") * 1.5),
            (col("cx") + col("a") * 1.5, col("cy") + col("b") / 2))),
          lit(")")))
        .withColumn("nested", concat(lit("MULTIPOLYGON ("),
          regexp_replace(col("big"), "^POLYGON ", ""), lit(", "),
          regexp_replace(col("inner"), "^POLYGON ", ""), lit(")")))
      def valid(c: org.apache.spark.sql.Column) =
        call_function("st_isvalid", c)
      def why(c: org.apache.spark.sql.Column) =
        call_function("geometry_invalid_reason", c)
      g.select(col("n_nationkey"),
          valid(col("big")).as("v_rect"), why(col("big")).as("r_rect"),
          valid(col("dhole")).as("v_dhole"),
          valid(col("bow")).as("v_bow"), why(col("bow")).as("r_bow"),
          valid(col("flat")).as("v_flat"), why(col("flat")).as("r_flat"),
          valid(col("hole_out")).as("v_hole_out"),
          why(col("hole_out")).as("r_hole_out"),
          valid(col("hole_cross")).as("v_hole_cross"),
          why(col("hole_cross")).as("r_hole_cross"),
          valid(col("nested")).as("v_nested"),
          why(col("nested")).as("r_nested"),
          valid(lit("POLYGON EMPTY")).as("v_empty"),
          // r14: validity is an AREAL concept — points/lines are valid
          // once parsed (simplicity is st_issimple's question), and a
          // collection is valid iff every member is
          valid(GeoFix.point(col("cx"), col("cy"))).as("v_pt"),
          valid(GeoFix.line(Seq((col("cx"), col("cy")),
            (col("cx") + col("a"), col("cy")),
            (col("cx"), col("cy") + col("b"))))).as("v_line"),
          valid(concat(lit("GEOMETRYCOLLECTION ("),
            GeoFix.point(col("cx"), col("cy")), lit(", "), col("big"),
            lit(")"))).as("v_gc_ok"),
          valid(concat(lit("GEOMETRYCOLLECTION ("),
            GeoFix.point(col("cx"), col("cy")), lit(", "), col("bow"),
            lit(")"))).as("v_gc_bad"),
          why(concat(lit("GEOMETRYCOLLECTION ("),
            GeoFix.point(col("cx"), col("cy")), lit(", "), col("bow"),
            lit(")"))).as("r_gc_bad"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21k: SHARED-BORDER (non-transversal) contact in ∩/∪/− (r13
    // verdict missing #1) — the overlay tier resolves edge-adjacent,
    // corner-touch, T-junction, vertex-on-edge and partial collinear-
    // overlap contact instead of throwing. Closed forms are dyadic
    // rectangle/diamond algebra; the flagship column pins the EXACT
    // canonical WKT of an edge-adjacent union (the shared border
    // cancels and its collinear pass-through nodes drop, so two a×b
    // rectangles fuse to the one 2a×b rectangle both engines can
    // render from first principles).
    "sc21k_geo_shared_border" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{q6, rect}
      def ncomp(c: org.apache.spark.sql.Column) =
        (size(split(c, "\\(\\(")) - 1).cast("long")
      val g = GeoFix.base(s, d)
        .withColumn("rl", rect(col("cx"), col("cy"), col("a"), col("b")))
        .withColumn("rr", rect(col("cx") + col("a"), col("cy"), col("a"),
          col("b")))
        .withColumn("rdiag", rect(col("cx") + col("a"),
          col("cy") + col("b"), col("a"), col("b")))
        .withColumn("big", rect(col("cx"), col("cy"), col("a") * 4,
          col("b") * 2))
        .withColumn("top", rect(col("cx") + col("a"),
          col("cy") + col("b") * 2, col("a") * 2, col("b") * 2))
        .withColumn("r2", rect(col("cx"), col("cy"), col("a") * 2,
          col("b") * 2))
        .withColumn("dia", GeoFix.poly(Seq(
          (col("cx") + col("a") * 1.5, col("cy") + col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b") / 2),
          (col("cx") + col("a") * 2.5, col("cy") + col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 1.5),
          (col("cx") + col("a") * 1.5, col("cy") + col("b")))))
        .withColumn("ov1", rect(col("cx"), col("cy"), col("a") * 2,
          col("b")))
        .withColumn("ov2", rect(col("cx") + col("a"), col("cy") + col("b"),
          col("a") * 2, col("b")))
      g.select(col("n_nationkey"),
          GF.stUnion(col("rl"), col("rr")).as("adj_union_wkt"),
          q6(GF.stArea(GF.stUnion(col("rl"), col("rr"))))
            .as("adj_union_q6"),
          GF.stIntersection(col("rl"), col("rr")).as("adj_inter_wkt"),
          q6(GF.stArea(GF.stDifference(col("rl"), col("rr"))))
            .as("adj_diff_q6"),
          ncomp(GF.stUnion(col("rl"), col("rdiag"))).as("corner_ncomp"),
          q6(GF.stArea(GF.stUnion(col("rl"), col("rdiag"))))
            .as("corner_union_q6"),
          call_function("st_isvalid", GF.stUnion(col("rl"), col("rdiag")))
            .as("corner_valid"),
          q6(GF.stArea(GF.stUnion(col("big"), col("top"))))
            .as("t_union_q6"),
          ncomp(GF.stUnion(col("big"), col("top"))).as("t_union_ncomp"),
          q6(GF.stArea(GF.stDifference(col("big"), col("top"))))
            .as("t_diff_q6"),
          q6(GF.stArea(GF.stIntersection(col("r2"), col("dia"))))
            .as("vx_inter_q6"),
          q6(GF.stArea(GF.stUnion(col("r2"), col("dia"))))
            .as("vx_union_q6"),
          q6(GF.stArea(GF.stDifference(col("r2"), col("dia"))))
            .as("vx_diff_q6"),
          q6(GF.stArea(GF.stUnion(col("ov1"), col("ov2"))))
            .as("ov_union_q6"),
          GF.stIntersection(col("ov1"), col("ov2")).as("ov_inter_wkt"),
          q6(GF.stArea(GF.stDifference(col("ov1"), col("ov2"))))
            .as("ov_diff_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21l: HOLED INPUTS to ∩/∪/− (r13 verdict missing #2) — the
    // clipping tier's own outputs feed back in: a window clipped
    // against the holed difference crosses shell AND hole; a bite torn
    // through the annulus wall ALONG the hole's own edge merges the
    // hole with the outside (one ring left); plugging the hole with its
    // exact shape reconstitutes the rectangle TEXT-exactly; a window
    // fully inside the hole is EMPTY. Closed forms: dyadic rectangle
    // algebra on the sc21g fixture frame.
    "sc21l_geo_holed_inputs" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{q6, rect}
      def nrings(c: org.apache.spark.sql.Column) =
        (size(split(c, "\\(")) - 2).cast("long")
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("win1", rect(col("cx") - col("a") / 2,
          col("cy") + col("b") * 0.75, col("a") * 1.25, col("b") / 2))
        .withColumn("bite", rect(col("cx") + col("a") * 1.5,
          col("cy") + col("b") * 0.75, col("a"), col("b") / 2))
        .withColumn("bite2", rect(col("cx") + col("a") * 1.75,
          col("cy") + col("b") * 0.75, col("a") * 0.75, col("b") / 2))
        .withColumn("w2", rect(col("cx") + col("a") * 0.75,
          col("cy") + col("b") * 0.75, col("a") / 2, col("b") / 2))
      g.select(col("n_nationkey"),
          q6(GF.stArea(GF.stIntersection(col("dhole"), col("win1"))))
            .as("win_inter_q6"),
          q6(GF.stArea(GF.stDifference(col("dhole"), col("bite"))))
            .as("bite_diff_q6"),
          nrings(GF.stDifference(col("dhole"), col("bite")))
            .as("bite_nrings"),
          q6(GF.stArea(GF.stDifference(col("dhole"), col("bite2"))))
            .as("bite2_diff_q6"),
          nrings(GF.stDifference(col("dhole"), col("bite2")))
            .as("bite2_nrings"),
          GF.stIntersection(col("dhole"), col("w2")).as("inhole_wkt"),
          GF.stUnion(col("dhole"), col("inner")).as("plug_union_wkt"),
          q6(GF.stArea(GF.stUnion(col("dhole"), col("inner"))))
            .as("plug_union_q6"),
          q6(GF.stArea(GF.stIntersection(col("dhole"), col("big"))))
            .as("self_inter_q6"),
          nrings(GF.stIntersection(col("dhole"), col("big")))
            .as("self_inter_nrings"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21m: ST_Touches / ST_Crosses and LINESTRING predicates (r13
    // verdict missing #3) — the OGC relate pair over the point/line/
    // polygon matrix, incl. holed operands (a polygon exactly filling a
    // donut hole TOUCHES the donut; a line inside the hole does not
    // intersect it). Every verdict is a structural constant of the
    // dyadic fixture frame.
    "sc21m_geo_relate" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, rect}
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("radj", rect(col("cx") + col("a") * 2, col("cy"),
          col("a"), col("b")))
        .withColumn("rcorner", rect(col("cx") + col("a") * 2,
          col("cy") + col("b") * 2, col("a"), col("b")))
        .withColumn("rover", rect(col("cx") + col("a"), col("cy") + col("b"),
          col("a") * 2, col("b") * 2))
        .withColumn("lthrough", line(Seq(
          (col("cx") - col("a"), col("cy") + col("b") * 1.75),
          (col("cx") + col("a") * 3, col("cy") + col("b") * 1.75))))
        .withColumn("ledge", line(Seq(
          (col("cx"), col("cy")), (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("lend", line(Seq(
          (col("cx") - col("a"), col("cy") - col("b")),
          (col("cx"), col("cy")))))
        .withColumn("lin", line(Seq(
          (col("cx") + col("a") / 4, col("cy") + col("b") / 4),
          (col("cx") + col("a") / 2, col("cy") + col("b") / 4))))
        .withColumn("lhole", line(Seq(
          (col("cx") + col("a") * 0.75, col("cy") + col("b")),
          (col("cx") + col("a") * 1.25, col("cy") + col("b")))))
        .withColumn("l1", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2))))
        .withColumn("l2", line(Seq(
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("l3", line(Seq(
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 3, col("cy") + col("b")))))
        .withColumn("l4", line(Seq(
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 3, col("cy") + col("b") * 3))))
      g.select(col("n_nationkey"),
          GF.stTouches(col("big"), col("radj")).as("t_adj"),
          GF.stTouches(col("big"), col("rcorner")).as("t_corner"),
          GF.stTouches(col("big"), col("rover")).as("t_over"),
          GF.stTouches(col("big"), col("inner")).as("t_contained"),
          GF.stTouches(col("big"), col("big")).as("t_equal"),
          GF.stTouches(col("big"), col("big_far")).as("t_far"),
          GF.stCrosses(col("big"), col("rover")).as("c_areal"),
          GF.stTouches(col("dhole"), col("inner")).as("t_plug"),
          GF.stCrosses(col("lthrough"), col("big")).as("c_through"),
          GF.stTouches(col("lthrough"), col("big")).as("t_through"),
          GF.stTouches(col("ledge"), col("big")).as("t_edge"),
          GF.stTouches(col("big"), col("ledge")).as("t_edge_sym"),
          GF.stCrosses(col("ledge"), col("big")).as("c_edge"),
          GF.stTouches(col("lend"), col("big")).as("t_end"),
          GF.stTouches(col("lin"), col("big")).as("t_in"),
          GF.stCrosses(col("lin"), col("big")).as("c_in"),
          call_function("st_intersects", col("lin"), col("big"))
            .as("i_in"),
          call_function("st_intersects", col("lhole"), col("dhole"))
            .as("i_hole"),
          GF.stCrosses(col("l3"), col("dhole")).as("c_hole_exit"),
          GF.stCrosses(col("l1"), col("l2")).as("c_x"),
          GF.stTouches(col("l1"), col("l2")).as("t_x"),
          GF.stTouches(col("l1"), col("l3")).as("t_tee"),
          GF.stCrosses(col("l1"), col("l3")).as("c_tee"),
          GF.stTouches(col("l1"), col("l4")).as("t_overlap"),
          call_function("st_intersects", col("l1"), col("l4"))
            .as("i_overlap"),
          GF.stTouches(point(col("cx") + col("a") * 2, col("cy") + col("b")),
            col("big")).as("t_pt_edge"),
          GF.stTouches(point(col("cx") + col("a") / 4,
            col("cy") + col("b") / 4), col("big")).as("t_pt_in"),
          GF.stTouches(point(col("cx"), col("cy")), col("l1"))
            .as("t_pt_term"),
          GF.stTouches(point(col("cx") + col("a"), col("cy") + col("b")),
            col("l1")).as("t_pt_mid"),
          call_function("st_intersects",
            point(col("cx") + col("a"), col("cy") + col("b")), col("l1"))
            .as("i_pt_mid"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21n: LINE CLIPPING — ST_Intersection(LINESTRING, (MULTI)
    // POLYGON) returns the maximal inside/boundary-run chains of the
    // line (LINESTRING / MULTILINESTRING / LINESTRING EMPTY), the last
    // piece of the r13 line-predicate surface. Fixture lines are
    // chosen so every crossing parameter is DYADIC (t ∈ {1/8, 1/4,
    // 1/2, 5/8} on the spanning line), making the emitted crossing
    // coordinates IEEE-exact against the closed-form strings the
    // oracle concatenates. A chord through the HOLED difference splits
    // into two wall runs (MULTILINESTRING); a line along an edge is a
    // boundary run kept whole; hole-interior and disjoint lines are
    // EMPTY.
    "sc21n_geo_line_clip" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, q6}
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("lthrough", line(Seq(
          (col("cx") - col("a"), col("cy") + col("b") * 1.75),
          (col("cx") + col("a") * 3, col("cy") + col("b") * 1.75))))
        .withColumn("lspan", line(Seq(
          (col("cx") - col("a") / 2, col("cy") + col("b")),
          (col("cx") + col("a") * 3.5, col("cy") + col("b")))))
        .withColumn("ledge", line(Seq(
          (col("cx"), col("cy")), (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("lfar", line(Seq(
          (col("cx"), col("cy") - col("b")),
          (col("cx") + col("a"), col("cy") - col("b")))))
        .withColumn("linhole", line(Seq(
          (col("cx") + col("a") * 0.75, col("cy") + col("b")),
          (col("cx") + col("a") * 1.25, col("cy") + col("b")))))
      g.select(col("n_nationkey"),
          GF.stIntersection(col("lthrough"), col("big")).as("th_wkt"),
          q6(GF.stLength(GF.stIntersection(col("lthrough"), col("big"))))
            .as("th_len_q6"),
          GF.stIntersection(col("lspan"), col("dhole")).as("span_wkt"),
          q6(GF.stLength(GF.stIntersection(col("lspan"), col("dhole"))))
            .as("span_len_q6"),
          GF.stIntersection(col("ledge"), col("big")).as("edge_wkt"),
          q6(GF.stLength(GF.stIntersection(col("ledge"), col("big"))))
            .as("edge_len_q6"),
          GF.stIntersection(col("lfar"), col("big")).as("far_wkt"),
          GF.stIntersection(col("linhole"), col("dhole")).as("inhole_wkt"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21o: geometry AGGREGATES + ST_Boundary (r13 — the Trino
    // geospatial aggregation pair): geometry_union_agg dissolves each
    // nation's four QUADRANT tiles (edge-adjacent — the overlay's
    // shared-border machinery runs inside the fold) back into the ONE
    // 2a×2b rectangle TEXT-exactly; a second column folds two disjoint
    // tiles (each fed twice — equal-operand unions are exercised) into
    // a 2-component MULTIPOLYGON; convex_hull_agg over the quadrants
    // re-derives the same rectangle, and over the disjoint pair the
    // spanning 4a×b box. st_boundary renders the holed difference's
    // two rings as a measurable MULTILINESTRING. All closed forms are
    // dyadic rectangle algebra.
    "sc21o_geo_aggregates" -> ((s, d) => {
      import graft.functions.{GeomAggregators => GA, GraftFunctions => GF}
      import GeoFix.{q6, rect}
      def ncomp(c: org.apache.spark.sql.Column) =
        (size(split(c, "\\(\\(")) - 1).cast("long")
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("i", explode(sequence(lit(0), lit(3))))
        .withColumn("quad", rect(
          col("cx") + (col("i") % 2) * col("a"),
          col("cy") + floor(col("i") / 2) * col("b"), col("a"), col("b")))
        .withColumn("disj", rect(
          col("cx") + (col("i") % 2) * col("a") * 3,
          col("cy"), col("a"), col("b")))
      g.groupBy(col("n_nationkey"))
        .agg(
          GA.geometryUnion(col("quad")).as("u1_wkt"),
          GA.geometryUnion(col("disj")).as("u2_wkt"),
          GA.convexHull(col("quad")).as("h1_wkt"),
          GA.convexHull(col("disj")).as("h2_wkt"),
          first(col("dhole")).as("dhole"))
        .select(col("n_nationkey"),
          col("u1_wkt"),
          q6(GF.stArea(col("u1_wkt"))).as("u1_area_q6"),
          ncomp(col("u2_wkt")).as("u2_ncomp"),
          q6(GF.stArea(col("u2_wkt"))).as("u2_area_q6"),
          col("h1_wkt"),
          q6(GF.stArea(col("h2_wkt"))).as("h2_area_q6"),
          q6(GF.stLength(GF.stBoundary(col("dhole")))).as("bnd_len_q6"),
          (size(split(GF.stBoundary(col("dhole")), "\\(")) - 2)
            .cast("long").as("bnd_nrings"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21p: ST_Within / ST_Overlaps over HOLED, MULTIPOLYGON and
    // SHARED-BORDER operands + ST_Equals (r13): containment into the
    // annulus wall (the hole must veto the old shell-only answer),
    // within with a shared edge (the overlay decides where a boundary
    // ray cast is float-dependent), overlap verdicts through the three
    // overlay emptiness tests, and point-set equality — big equals the
    // clipper's own hole-plugged union, regardless of vertex count or
    // rotation. Every verdict is a structural constant.
    "sc21p_geo_within_multi" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.rect
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("plugged", GF.stUnion(col("dhole"), col("inner")))
        .withColumn("wallrect", rect(col("cx") + col("a") / 8,
          col("cy") + col("b") * 0.875, col("a") / 4, col("b") / 4))
        .withColumn("rleft", rect(col("cx"), col("cy"), col("a"),
          col("b")))
        .withColumn("bite", rect(col("cx") + col("a") * 1.75,
          col("cy") + col("b") * 0.75, col("a"), col("b") / 2))
      g.select(col("n_nationkey"),
          GF.stWithin(col("inner"), col("big")).as("w_clean"),
          GF.stWithin(col("inner"), col("dhole")).as("w_in_hole"),
          GF.stWithin(col("wallrect"), col("dhole")).as("w_wall"),
          GF.stWithin(col("rleft"), col("big")).as("w_shared_edge"),
          GF.stWithin(col("big"), col("rleft")).as("w_reverse"),
          GF.stWithin(col("dhole"), col("big")).as("w_holed_arg"),
          GF.stOverlaps(col("dhole"), col("bite")).as("o_wall_bite"),
          GF.stOverlaps(col("dhole"), col("inner")).as("o_plug"),
          GF.stOverlaps(col("big"), col("big")).as("o_equal"),
          GF.stEquals(col("big"), col("plugged")).as("eq_plugged"),
          GF.stEquals(col("big"), col("dhole")).as("eq_holed"),
          GF.stEquals(GeoFix.point(col("cx"), col("cy")),
            GeoFix.point(col("cx"), col("cy"))).as("eq_pt"),
          GF.stEquals(GeoFix.point(col("cx"), col("cy")),
            col("big")).as("eq_mixed"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21q: general ST_Distance (r13) — planar minimum distance over
    // the point/line/polygon matrix: perpendicular point-to-edge,
    // inside-the-hole to the hole ring, polygon-to-polygon across a
    // gap, line-to-polygon, corner-to-corner diagonal (an exact
    // vertex–vertex sqrt both engines round identically), and the
    // zero cases (touching, intersecting). All squared distances are
    // dyadic; the single final sqrt is correctly rounded in both
    // engines.
    "sc21q_geo_distance" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, q6, rect}
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("rdiag", rect(col("cx") + col("a") * 3,
          col("cy") + col("b") * 3, col("a"), col("b")))
        .withColumn("radj", rect(col("cx") + col("a") * 2, col("cy"),
          col("a"), col("b")))
        .withColumn("rover", rect(col("cx") + col("a"), col("cy") + col("b"),
          col("a") * 2, col("b") * 2))
        .withColumn("lbelow", line(Seq(
          (col("cx"), col("cy") - col("b")),
          (col("cx") + col("a") * 2, col("cy") - col("b")))))
        .withColumn("labove", line(Seq(
          (col("cx"), col("cy") + col("b") * 3),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 3))))
      g.select(col("n_nationkey"),
          q6(GF.stDistance(point(col("cx"), col("cy")),
            point(col("cx") + col("a"), col("cy") + col("b"))))
            .as("d_pp_q6"),
          q6(GF.stDistance(point(col("cx") - col("a"), col("cy") + col("b")),
            col("big"))).as("d_pt_poly_q6"),
          q6(GF.stDistance(point(col("cx") + col("a"), col("cy") + col("b")),
            col("dhole"))).as("d_in_hole_q6"),
          q6(GF.stDistance(col("big"), col("big_far"))).as("d_gap_q6"),
          q6(GF.stDistance(col("lbelow"), col("big"))).as("d_line_q6"),
          q6(GF.stDistance(col("lbelow"), col("labove"))).as("d_ll_q6"),
          q6(GF.stDistance(col("big"), col("rdiag"))).as("d_diag_q6"),
          q6(GF.stDistance(col("big"), col("radj"))).as("d_touch_q6"),
          q6(GF.stDistance(col("big"), col("rover"))).as("d_over_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21r: line & scalar ACCESSORS (r13 — the remaining small Trino
    // geospatial surface): ST_GeometryType / ST_IsEmpty / ST_Dimension
    // / ST_NumPoints / ST_PointN / ST_StartPoint / ST_EndPoint /
    // ST_IsClosed / ST_IsRing / line_locate_point /
    // line_interpolate_point. Fixture: an axis-parallel 3-segment
    // polyline (lengths a, b, a — every cumulative length dyadic), the
    // clipper-built exterior ring as a CLOSED line, a closed bow-tie
    // (isring must veto), and the midpoint-locate identity: the point
    // at (cx+a, cy+b/2) sits at cumulative a + b/2 = exactly HALF of
    // 2a + b for every (a, b).
    "sc21r_geo_accessors_line" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("r1", rect(col("cx"), col("cy"), col("a"), col("b")))
        .withColumn("rfar", rect(col("cx") + 1000, col("cy"), col("a"),
          col("b")))
        .withColumn("mpoly", GF.stUnion(col("r1"), col("rfar")))
        .withColumn("lineA", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b")))))
        .withColumn("ring", f("st_exteriorring", col("r1")))
        .withColumn("bow", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy")),
          (col("cx"), col("cy") + col("b")),
          (col("cx"), col("cy")))))
      g.select(col("n_nationkey"),
          f("st_geometrytype", col("lineA")).as("t_line"),
          f("st_geometrytype", col("r1")).as("t_poly"),
          f("st_geometrytype", col("mpoly")).as("t_multi"),
          f("st_geometrytype", point(col("cx"), col("cy"))).as("t_pt"),
          f("st_isempty", lit("POLYGON EMPTY")).as("e_empty"),
          f("st_isempty", col("r1")).as("e_rect"),
          f("st_dimension", col("lineA")).as("dim_line"),
          f("st_dimension", col("r1")).as("dim_poly"),
          f("st_numpoints", col("lineA")).as("np_line"),
          f("st_pointn", col("lineA"), lit(2)).as("p2_wkt"),
          f("st_pointn", col("lineA"), lit(9)).isNull.as("p9_null"),
          f("st_startpoint", col("lineA")).as("sp_wkt"),
          f("st_endpoint", col("lineA")).as("ep_wkt"),
          f("st_isclosed", col("lineA")).as("c_open"),
          f("st_isclosed", col("ring")).as("c_ring"),
          f("st_isring", col("ring")).as("r_ring"),
          f("st_isring", col("bow")).as("r_bow"),
          q6(f("line_locate_point", col("lineA"),
            point(col("cx") + col("a"), col("cy") + col("b") / 2)))
            .as("loc_mid_q6"),
          q6(f("line_locate_point", col("lineA"),
            point(col("cx") + col("a") / 2, col("cy")))).as("loc_q_q6"),
          f("line_interpolate_point", col("lineA"), lit(0.5))
            .as("interp_mid_wkt"),
          f("line_interpolate_point", col("lineA"), lit(0.0))
            .as("interp_0_wkt"),
          f("line_interpolate_point", col("lineA"), lit(1.0))
            .as("interp_1_wkt"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21s: simplify_geometry (Douglas-Peucker, r13) — a rectangle
    // with a b/8 bump on its bottom edge simplifies back to the plain
    // rectangle TEXT-exactly at tolerance b/4 (the bump's perpendicular
    // distance to the horizontal chord is exactly b/8 — the dyadic
    // squared comparison is unambiguous); a zigzag polyline collapses
    // to its chord; tolerance 0 keeps every SHAPE-CARRYING vertex (the midpoint
    // vertex lying exactly on its neighbors' chord is geometrically
    // redundant and drops even at 0 — 4 of 5 survive);
    // the holed difference re-renders UNCHANGED at a tolerance below
    // every feature size.
    "sc21s_geo_simplify" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, q6}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("zigrect", GeoFix.poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") - col("b") / 8),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("zigline", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") / 2, col("cy") + col("b") / 8),
          (col("cx") + col("a"), col("cy")),
          (col("cx") + col("a") * 1.5, col("cy") - col("b") / 8),
          (col("cx") + col("a") * 2, col("cy")))))
      g.select(col("n_nationkey"),
          f("simplify_geometry", col("zigrect"), col("b") / 4)
            .as("simp_poly_wkt"),
          q6(GF.stArea(f("simplify_geometry", col("zigrect"),
            col("b") / 4))).as("simp_area_q6"),
          f("simplify_geometry", col("zigline"), col("b") / 4)
            .as("simp_line_wkt"),
          f("st_numpoints", f("simplify_geometry", col("zigline"),
            lit(0.0))).as("noop_np"),
          (f("simplify_geometry", col("dhole"), col("b") / 8) ===
            col("dhole")).as("dhole_same"),
          // r14: MULTILINESTRING simplifies part-by-part — both zig
          // parts collapse to their chords at tol = b/4
          f("simplify_geometry", GeoFix.mline(Seq(
            Seq((col("cx"), col("cy")),
              (col("cx") + col("a") / 2, col("cy") + col("b") / 8),
              (col("cx") + col("a"), col("cy"))),
            Seq((col("cx"), col("cy") + col("b")),
              (col("cx") + col("a") / 2,
                col("cy") + col("b") + col("b") / 8),
              (col("cx") + col("a"), col("cy") + col("b"))))),
            col("b") / 4).as("simp_ml_wkt"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21t: CONCAVE ST_Buffer (r13 — closing the r10 convex-only
    // scope): the miter buffer decomposes into input + per-edge
    // outward rectangles + per-convex-corner miter kites, folded
    // through the overlay union. For any simple RECTILINEAR ring the
    // closed form is area + perimeter·d + 4·d² (convex minus reflex
    // corners always nets to 4), exact on the dyadic fixture frame.
    "sc21t_geo_buffer_concave" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.q6
      val g = GeoFix.base(s, d)
        .withColumn("lshape", GeoFix.poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("ushape", GeoFix.poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 3, col("cy")),
          (col("cx") + col("a") * 3, col("cy") + col("b") * 2),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx") + col("a") * 2, col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
      // r14: the default join became ROUND (Trino/GEOS arcs) — these
      // rows price the MITER closed form, so they pin the explicit flag
      g.select(col("n_nationkey"),
          q6(GF.stArea(call_function("st_buffer", col("lshape"),
            col("b") / 4, lit("miter")))).as("l_buf_q6"),
          // d = b/4 keeps the arms' inward buffers (2·d ≤ 1.5) from
          // closing the a-wide notch (a ≥ 2): the union handles the
          // merged case correctly, but the rectilinear closed form
          // only prices the non-self-merging regime
          q6(GF.stArea(call_function("st_buffer", col("ushape"),
            col("b") / 4, lit("miter")))).as("u_buf_q6"),
          // d = b/2 straddles the SELF-MERGING boundary across the
          // fixture frame: when 2d ≥ a the arms' inward buffers close
          // the notch entirely and the result is the bounding
          // rectangle's buffer (6ab + (6a+4b)d + 4d²) — the union
          // resolves the merge and the oracle prices both regimes
          q6(GF.stArea(call_function("st_buffer", col("ushape"),
            col("b") / 2, lit("miter")))).as("u_buf_merge_q6"),
          call_function("st_within", col("lshape"),
            call_function("st_buffer", col("lshape"), col("b") / 4,
              lit("miter"))).as("l_contains_input"),
          q6(GF.stArea(call_function("st_buffer", col("lshape"),
            lit(0.0)))).as("l_d0_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21u: GeoJSON interchange (r13 — Trino's to/from_geojson_
    // geometry): RFC 7946 rendering (closed rings, right-hand rule,
    // shortest-round-trip numbers) and a strict parser; round trips
    // land exactly on the canonical WKT — checked on the clipper's own
    // HOLED output and a MULTIPOLYGON, plus exact-text columns the
    // oracle re-derives by string construction.
    "sc21u_geo_geojson" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("r1", rect(col("cx"), col("cy"), col("a"), col("b")))
        .withColumn("mp", GF.stUnion(col("r1"), col("big_far")))
        .withColumn("lineA", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")))))
      g.select(col("n_nationkey"),
          f("to_geojson_geometry", point(col("cx"), col("cy")))
            .as("gj_point"),
          f("to_geojson_geometry", col("r1")).as("gj_poly"),
          (f("from_geojson_geometry",
            f("to_geojson_geometry", col("dhole"))) === col("dhole"))
            .as("rt_holed"),
          (f("from_geojson_geometry",
            f("to_geojson_geometry", col("lineA"))) === col("lineA"))
            .as("rt_line"),
          q6(GF.stArea(f("from_geojson_geometry",
            f("to_geojson_geometry", col("mp"))))).as("rt_multi_q6"),
          (f("from_geojson_geometry",
            f("to_geojson_geometry", col("mp"))) === col("mp"))
            .as("rt_multi_same"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21v: WKB interchange (r13 — Trino's ST_AsBinary /
    // ST_GeomFromBinary): OGC well-known binary, little-endian, rings
    // closed + region-normalized (canonical rotation, shells CCW /
    // holes CW). Byte LENGTHS are closed forms (9-byte headers, 4-byte
    // ring counts, 16 bytes per point incl. the ring closer), round
    // trips land exactly on canonical text, areas survive the trip,
    // and a constant geometry pins the exact hex in both engines.
    "sc21v_geo_wkb" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.holesFixtures(s, d)
        .withColumn("dhole", GF.stDifference(col("big"), col("inner")))
        .withColumn("r1", rect(col("cx"), col("cy"), col("a"), col("b")))
        .withColumn("mp", GF.stUnion(col("r1"), col("big_far")))
        .withColumn("lineA", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a") * 2, col("cy")))))
      g.select(col("n_nationkey"),
          length(f("st_asbinary", point(col("cx"), col("cy"))))
            .cast("long").as("len_point"),
          length(f("st_asbinary", col("r1"))).cast("long").as("len_rect"),
          length(f("st_asbinary", col("dhole"))).cast("long").as("len_holed"),
          length(f("st_asbinary", col("mp"))).cast("long").as("len_multi"),
          length(f("st_asbinary", col("lineA"))).cast("long").as("len_line"),
          (f("st_geomfrombinary", f("st_asbinary", col("dhole")))
            === col("dhole")).as("rt_holed"),
          (f("st_geomfrombinary", f("st_asbinary", col("mp")))
            === col("mp")).as("rt_multi"),
          q6(GF.stArea(f("st_geomfrombinary",
            f("st_asbinary", col("dhole"))))).as("rt_area_q6"),
          lower(hex(f("st_asbinary", lit("POINT (1 2)")))).as("hex_unit"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21w: geometry_nearest_points + st_issimple + st_coorddim +
    // line_interpolate_points (r13 — the remaining small Trino
    // geospatial surface). Nearest pairs are dyadic closed forms
    // (edge-projection to a point, corner-to-corner between diagonal
    // rects — fixtures chosen so the argmin is UNIQUE, never a tie);
    // interpolation fractions land on exact dyadic targets.
    "sc21w_geo_nearest_simple" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, poly, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("r1", rect(col("cx"), col("cy"), col("a"), col("b")))
        .withColumn("far", rect(col("cx") + col("a") + 2,
          col("cy") + col("b") + 1, col("a"), col("b")))
        .withColumn("pt", point(col("cx") - 3, col("cy") - 4))
        .withColumn("lineA", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + 3, col("cy")),
          (col("cx") + 3, col("cy") + 1))))
        .withColumn("bow", poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy")),
          (col("cx"), col("cy") + col("b")),
          (col("cx"), col("cy")))))
      g.select(col("n_nationkey"),
          element_at(f("geometry_nearest_points", col("r1"), col("pt")), 1)
            .as("np_a"),
          element_at(f("geometry_nearest_points", col("r1"), col("pt")), 2)
            .as("np_b"),
          element_at(f("geometry_nearest_points", col("r1"), col("far")), 1)
            .as("np2_a"),
          element_at(f("geometry_nearest_points", col("r1"), col("far")), 2)
            .as("np2_b"),
          f("st_issimple", col("lineA")).as("simp_line"),
          f("st_issimple", col("bow")).as("simp_bow"),
          f("st_coorddim", col("r1")).as("cdim"),
          array_join(f("line_interpolate_points", col("lineA"),
            lit(0.25)), "|").as("interp_q"),
          // POINT buffer (r13): 32-gon disk, closed-form area mirror
          q6(GF.stArea(call_function("st_buffer",
            point(col("cx"), col("cy")), col("b")))).as("pbuf_q6"),
          call_function("st_contains",
            call_function("st_buffer", point(col("cx"), col("cy")),
              col("b")), col("cx") + col("b") / 2, col("cy"))
            .as("pbuf_ctr"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21x: spherical geography (r13 — Trino's to_spherical_geography
    // / to_geometry and geography-typed ST_Distance / ST_Area /
    // ST_Length). Distance and length are the haversine meters kernel
    // mirrored operation-for-operation against the oracle (the
    // sc21_geo parity rule: same literals, same association order, q6
    // quantization absorbs the ≤ few-ulp libm spread); area is the
    // Chamberlain–Duquette spherical excess with the same term order,
    // quantized at whole m² (ulp audit: ~2e-4 m² worst-case spread on
    // these fixtures vs the 0.5 m² decision boundary).
    "sc21x_geo_spherical" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val pts = Tables.customer(s, d).filter(col("c_custkey") < 500)
        .select(col("c_custkey"),
          (col("c_custkey") % 120 - 60 + 0.25).cast("double").as("lat"),
          (col("c_custkey") * 7 % 150 - 75 + 0.5).cast("double").as("lon"),
          ((col("c_custkey") % 5) + 2).cast("double").as("a"),
          ((col("c_custkey") % 3) + 1).cast("double").as("b"))
        .withColumn("gpt",
          f("to_spherical_geography", point(col("lon"), col("lat"))))
        .withColumn("gpt2", f("to_spherical_geography",
          point(col("lon") + col("a"), col("lat") + col("b"))))
        .withColumn("grect", f("to_spherical_geography",
          rect(col("lon"), col("lat"), col("a"), col("b"))))
        .withColumn("gline", f("to_spherical_geography", line(Seq(
          (col("lon"), col("lat")),
          (col("lon") + col("a"), col("lat") + col("b"))))))
      pts.select(col("c_custkey"),
          floor(GF.stDistance(col("gpt"), col("gpt2")) * 1e6 + 0.5)
            .cast("long").as("d_m_q6"),
          floor(GF.stArea(col("grect")) + 0.5).cast("long").as("area_m2_q0"),
          floor(GF.stLength(col("gline")) * 1e6 + 0.5)
            .cast("long").as("len_m_q6"),
          (f("to_geometry", col("gpt")) === point(col("lon"), col("lat")))
            .as("rt_tag"))
        .orderBy(col("c_custkey"))
    }),

    // sc21z: MULTIPOINT — the last WKT kind (r13) — and Trino's
    // ST_Points. Accessors, the degenerate-segment distance path (the
    // 3-4-5 fixture makes the nearest member exact), both interchange
    // round trips, and the closed-form WKB length.
    "sc21z_geo_multipoint" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{dstr, line, point, q6}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("mp", concat(lit("MULTIPOINT (("), dstr(col("cx")),
          lit(" "), dstr(col("cy")), lit("), ("),
          dstr(col("cx") + col("a")), lit(" "),
          dstr(col("cy") + col("b")), lit("))")))
        .withColumn("lineA", line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")))))
      g.select(col("n_nationkey"),
          f("st_geometrytype", col("mp")).as("gtype"),
          f("st_numgeometries", col("mp")).as("ng"),
          f("st_geometryn", col("mp"), lit(2)).as("second_pt"),
          q6(GF.stDistance(col("mp"), point(col("cx") - 3, col("cy") - 4)))
            .as("d5_q6"),
          array_join(f("st_points", col("lineA")), "|").as("pts_j"),
          length(f("st_asbinary", col("mp"))).cast("long").as("wkb_len"),
          (f("st_geomfrombinary", f("st_asbinary", col("mp"))) ===
            f("from_geojson_geometry", f("to_geojson_geometry", col("mp"))))
            .as("rt_agree"),
          f("st_issimple", col("mp")).as("simple_mp"),
          f("st_dimension", col("mp")).as("dim0"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21y: MULTILINESTRING completion (r14 — the r13 verdict's
    // missing #2): kind-aware accessors, the OGC mod-2 boundary
    // (shared part endpoints are INTERIOR; a closed line's boundary is
    // EMPTY), SFS MultiCurve simplicity (T-junctions and collinear
    // overlaps are non-simple), multi-part line×line predicates, line
    // clipping over parts, spherical geography length over parts (the
    // ADVICE-dead branch, now live), and both interchange round trips.
    // All contact points and lengths are dyadic on the fixture frame;
    // the geography mirror re-derives the haversine operation-for-
    // operation like sc21x.
    "sc21y_geo_multiline" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, mline, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("elbow", mline(Seq(
          Seq((col("cx"), col("cy")), (col("cx") + col("a"), col("cy"))),
          Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a"), col("cy") + col("b"))))))
        .withColumn("ringml", mline(Seq(Seq(
          (col("cx"), col("cy")), (col("cx") + col("a"), col("cy")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx"), col("cy"))))))
        .withColumn("tee", mline(Seq(
          Seq((col("cx"), col("cy")),
            (col("cx") + col("a") * 2, col("cy"))),
          Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a"), col("cy") + col("b"))))))
        .withColumn("plus", mline(Seq(
          Seq((col("cx"), col("cy") + col("b")),
            (col("cx") + col("a") * 2, col("cy") + col("b"))),
          Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a"), col("cy") + col("b") * 2)))))
        .withColumn("dup", mline(Seq(
          Seq((col("cx"), col("cy")), (col("cx") + col("a"), col("cy"))),
          Seq((col("cx"), col("cy")), (col("cx") + col("a"), col("cy"))))))
        .withColumn("touchline", line(Seq(
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx") + col("a"), col("cy") + col("b")))))
        .withColumn("midline", line(Seq(
          (col("cx") + col("a"), col("cy")),
          (col("cx") + col("a") * 2, col("cy") - col("b")))))
        .withColumn("crossline", line(Seq(
          (col("cx") + col("a") / 2, col("cy") - col("b")),
          (col("cx") + col("a") / 2, col("cy") + col("b")))))
        .withColumn("ovl", line(Seq(
          (col("cx"), col("cy")), (col("cx") + col("a") / 2, col("cy")))))
        .withColumn("vert100", line(Seq(
          (col("cx") + col("a") + 100, col("cy")),
          (col("cx") + col("a") + 100, col("cy") + col("b")))))
        .withColumn("clipr", rect(col("cx") - col("a"), col("cy") - col("b"),
          col("a") * 1.5, col("b") * 2))
      g.select(col("n_nationkey"),
          f("st_geometrytype", col("elbow")).as("gtype"),
          f("st_numgeometries", col("elbow")).as("ng"),
          f("st_geometryn", col("elbow"), lit(2)).as("g2"),
          f("st_numpoints", col("elbow")).as("npts"),
          q6(GF.stLength(col("elbow"))).as("len_q6"),
          f("st_isclosed", col("ringml")).as("closed_ring"),
          f("st_isclosed", col("elbow")).as("closed_elbow"),
          f("st_boundary", col("elbow")).as("bnd"),
          f("st_boundary", col("ringml")).as("bnd_closed"),
          f("st_boundary", col("ovl")).as("bnd_ls"),
          f("st_boundary", point(col("cx"), col("cy"))).as("bnd_pt"),
          f("st_numgeometries", f("st_boundary", col("tee"))).as("bnd_tee_n"),
          f("st_issimple", col("elbow")).as("s_elbow"),
          f("st_issimple", col("tee")).as("s_tee"),
          f("st_issimple", col("plus")).as("s_plus"),
          f("st_issimple", col("dup")).as("s_dup"),
          f("st_issimple", lit("MULTILINESTRING EMPTY")).as("s_empty"),
          f("st_touches", col("elbow"), col("touchline")).as("t_end"),
          f("st_crosses", col("elbow"), col("touchline")).as("c_end"),
          f("st_touches", col("elbow"), col("midline")).as("t_mid"),
          f("st_crosses", col("elbow"), col("crossline")).as("c_cross"),
          f("st_touches", col("elbow"), col("crossline")).as("t_cross"),
          f("st_intersects", col("elbow"), col("ovl")).as("i_ovl"),
          f("st_touches", col("elbow"), col("ovl")).as("t_ovl"),
          f("st_crosses", col("elbow"), col("ovl")).as("c_ovl"),
          q6(GF.stDistance(col("elbow"), col("vert100"))).as("d100_q6"),
          f("st_intersection", col("elbow"), col("clipr")).as("clip_wkt"),
          floor(GF.stLength(f("to_spherical_geography", col("elbow")))
            * 1e6 + 0.5).cast("long").as("geo_len_q6"),
          length(f("st_asbinary", col("elbow"))).cast("long").as("wkb_len"),
          (f("st_geomfrombinary", f("st_asbinary", col("elbow"))) ===
            col("elbow")).as("rt_wkb"),
          (f("from_geojson_geometry", f("to_geojson_geometry",
            col("elbow"))) === col("elbow")).as("rt_gj"),
          // r14: line centroid — length-weighted segment midpoints
          // (axis-parallel parts make both lengths exact: a and b)
          q6(call_function("st_centroid_x", col("elbow"))).as("cen_x_q6"),
          q6(call_function("st_centroid_y", col("elbow"))).as("cen_y_q6"),
          q6(call_function("st_centroid_x",
            concat(lit("MULTIPOINT (("), GeoFix.dstr(col("cx")), lit(" "),
              GeoFix.dstr(col("cy")), lit("), ("),
              GeoFix.dstr(col("cx") + col("a")), lit(" "),
              GeoFix.dstr(col("cy")), lit("))")))).as("mp_cen_x_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21aa: GEOMETRYCOLLECTION — the last WKT kind (r14, the r13
    // verdict's missing #1): the validating constructor path
    // (st_geometryfromtext in the dialect rides the same parse),
    // accessors over top-level members (nested collections count as
    // ONE member), max-dimension, all-members-empty emptiness, WKB
    // (type 7, nested full geometries) and GeoJSON
    // ("GeometryCollection"/"geometries") round trips with closed-form
    // byte lengths, and geometry_union_agg over a MIXED-dimension
    // group: areal parts dissolve through the overlay, covered
    // lower-dimension parts are absorbed, survivors render as a
    // collection in fixed dimension order.
    "sc21aa_geo_collection" -> ((s, d) => {
      import graft.functions.{GeomAggregators => GA, GraftFunctions => GF}
      import GeoFix.{dstr, line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val base = GeoFix.base(s, d)
        .withColumn("gc", concat(lit("GEOMETRYCOLLECTION ("),
          point(col("cx"), col("cy")), lit(", "),
          line(Seq((col("cx"), col("cy") + col("b")),
            (col("cx") + col("a"), col("cy") + col("b")))), lit(", "),
          GeoFix.poly(Seq(
            (col("cx") + col("a") * 2, col("cy")),
            (col("cx") + col("a") * 3, col("cy")),
            (col("cx") + col("a") * 3, col("cy") + col("b")),
            (col("cx") + col("a") * 2, col("cy") + col("b")),
            (col("cx") + col("a") * 2, col("cy")))), lit(")")))
        .withColumn("nested", concat(lit("GEOMETRYCOLLECTION ("),
          point(col("cx"), col("cy")), lit(", GEOMETRYCOLLECTION ("),
          point(col("cx") + col("a"), col("cy")), lit(", "),
          point(col("cx"), col("cy") + col("b")), lit("))")))
      // mixed-dimension union-agg group: a rectangle, a line INSIDE it
      // (absorbed), a line outside (kept), a point inside (absorbed), a
      // point outside (kept)
      val mixed = base
        .withColumn("geom", explode(array(
          rect(col("cx"), col("cy"), col("a") * 2, col("b")),
          line(Seq((col("cx") + col("a") / 2, col("cy") + col("b") / 2),
            (col("cx") + col("a"), col("cy") + col("b") / 2))),
          line(Seq((col("cx"), col("cy") + col("b") * 2),
            (col("cx") + col("a"), col("cy") + col("b") * 2))),
          point(col("cx") + col("a"), col("cy") + col("b") / 2),
          point(col("cx"), col("cy") + col("b") * 3))))
        .groupBy(col("n_nationkey"))
        .agg(GA.geometryUnion(col("geom")).as("ua_wkt"))
      base.join(mixed, Seq("n_nationkey"))
        .select(col("n_nationkey"),
          f("st_geometrytype", col("gc")).as("gtype"),
          f("st_numgeometries", col("gc")).as("ng"),
          f("st_geometryn", col("gc"), lit(1)).as("g1"),
          q6(GF.stArea(f("st_geometryn", col("gc"), lit(3))))
            .as("g3_area_q6"),
          f("st_dimension", col("gc")).as("dim2"),
          f("st_numgeometries", col("nested")).as("ng_nested"),
          f("st_dimension", col("nested")).as("dim_nested"),
          f("st_isempty", lit("GEOMETRYCOLLECTION EMPTY")).as("e_lit"),
          f("st_isempty",
            lit("GEOMETRYCOLLECTION (POLYGON EMPTY, LINESTRING EMPTY)"))
            .as("e_members"),
          f("st_isempty", col("gc")).as("e_full"),
          length(f("st_asbinary", col("gc"))).cast("long").as("wkb_len"),
          (f("st_geomfrombinary", f("st_asbinary", col("gc"))) ===
            col("gc")).as("rt_wkb"),
          (f("from_geojson_geometry", f("to_geojson_geometry",
            col("gc"))) === col("gc")).as("rt_gj"),
          // r14: measures/predicates over collections — area sums the
          // areal members, intersects is any-member, distance is the
          // member minimum
          q6(GF.stArea(col("gc"))).as("gc_area_q6"),
          f("st_intersects", col("gc"),
            rect(col("cx") - col("a") / 2, col("cy") - col("b") / 2,
              col("a"), col("b"))).as("gc_i_hit"),
          f("st_intersects", col("gc"),
            rect(col("cx") + lit(1000.0), col("cy"), col("a"), col("b")))
            .as("gc_i_miss"),
          q6(call_function("st_distance", col("gc"),
            point(col("cx"), col("cy") - col("b")))).as("gc_d_q6"),
          col("ua_wkt"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21ab: ROUND-join ST_Buffer — the new DEFAULT (r14, the r13
    // verdict's missing #3: Trino/GEOS arc joins, 8 chords per
    // quarter-turn) — and NEGATIVE-distance erosion via the overlay
    // difference. Closed forms: a rectilinear round buffer prices
    // A + P·d + (#convex·4·d²·sin(π/16)) − (#reflex·d²); erosion
    // prices A − P·d + (#convex·d²) − (#reflex·4·d²·sin(π/16));
    // axis-parallel EROSION of a rectangle is exactly the inner
    // rectangle TEXT (all piece coordinates dyadic). The miter form
    // stays available under the explicit flag (sc21t pins it) and the
    // POINT disk is the same 32-gon under both styles.
    "sc21ab_geo_buffer_round" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("sq", rect(col("cx"), col("cy"),
          col("a") * 2, col("b") * 2))
        .withColumn("lshape", GeoFix.poly(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b")),
          (col("cx") + col("a"), col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
        .withColumn("hline", GeoFix.line(Seq(
          (col("cx"), col("cy")), (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("elbline", GeoFix.line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b")))))
        .withColumn("ringline", GeoFix.line(Seq(
          (col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2),
          (col("cx"), col("cy") + col("b") * 2),
          (col("cx"), col("cy")))))
      g.select(col("n_nationkey"),
          q6(GF.stArea(f("st_buffer", col("sq"), col("b") / 2)))
            .as("sq_round_q6"),
          f("st_within", col("sq"),
            f("st_buffer", col("sq"), col("b") / 2)).as("sq_within"),
          q6(GF.stArea(f("st_buffer", col("lshape"), col("b") / 4)))
            .as("l_round_q6"),
          f("st_buffer", col("sq"), -col("b") / 2).as("erode_sq_wkt"),
          q6(GF.stArea(f("st_buffer", col("sq"), -col("b") / 2)))
            .as("erode_sq_q6"),
          q6(GF.stArea(f("st_buffer", col("lshape"), -col("b") / 4)))
            .as("erode_l_q6"),
          f("st_within", f("st_buffer", col("lshape"), -col("b") / 4),
            col("lshape")).as("erode_within"),
          f("st_buffer", col("sq"), -col("b") * 2).as("erode_all"),
          (f("st_buffer", point(col("cx"), col("cy")), col("b")) ===
            f("st_buffer", point(col("cx"), col("cy")), col("b"),
              lit("miter"))).as("pt_styles_agree"),
          // r14: LINE capsules — straight segment, elbow joint, and the
          // closed ring line whose capsule is an ANNULAR (holed) band
          q6(GF.stArea(f("st_buffer", col("hline"), col("b") / 2)))
            .as("cap_q6"),
          q6(GF.stArea(f("st_buffer", col("elbline"), col("b") / 4)))
            .as("elb_q6"),
          q6(GF.stArea(f("st_buffer", col("ringline"), col("b") / 4)))
            .as("band_q6"),
          q6(GF.stLength(f("st_intersection", col("hline"),
            f("st_buffer", col("hline"), col("b") / 2))))
            .as("cap_cover_len_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21ac: MIXED-DIMENSION ST_Union / ST_Difference (r14 — the r13
    // loud scope-out becomes real semantics now that the model has
    // GEOMETRYCOLLECTION): union of any kinds through the
    // decompose-and-absorb fold (covered lower-dimension parts vanish,
    // survivors render as a collection in fixed dimension order);
    // difference for line − areal (the complement clip — chains
    // strictly outside, boundary runs removed), areal − line/point
    // (the region unchanged, canonical), and point(s) − areal/line
    // (covered members drop; an emptied point set is MULTIPOINT EMPTY,
    // this model's empty-point spelling). All contact coordinates
    // dyadic.
    "sc21ac_geo_mixed_ops" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("r", rect(col("cx"), col("cy"), col("a") * 2, col("b")))
        .withColumn("chord", line(Seq(
          (col("cx") - col("a"), col("cy") + col("b") / 2),
          (col("cx") + col("a") * 3, col("cy") + col("b") / 2))))
        .withColumn("halfline", line(Seq(
          (col("cx") + col("a"), col("cy") + col("b") / 2),
          (col("cx") + col("a") * 3, col("cy") + col("b") / 2))))
        .withColumn("inline", line(Seq(
          (col("cx") + col("a") / 2, col("cy") + col("b") / 2),
          (col("cx") + col("a"), col("cy") + col("b") / 2))))
        .withColumn("inpt", point(col("cx") + col("a"),
          col("cy") + col("b") / 2))
        .withColumn("outpt", point(col("cx"), col("cy") + col("b") * 2))
        .withColumn("gcmix", concat(lit("GEOMETRYCOLLECTION ("),
          col("outpt"), lit(", "), col("halfline"), lit(")")))
      g.select(col("n_nationkey"),
          f("st_union", col("halfline"), col("r")).as("u_line"),
          f("st_union", col("r"), col("inline")).as("u_covered"),
          f("st_union", col("inpt"), col("r")).as("u_pt_in"),
          f("st_union", col("outpt"), col("r")).as("u_pt_out"),
          f("st_union", col("outpt"), col("outpt")).as("u_pts2"),
          f("st_union", col("gcmix"), col("r")).as("u_gc"),
          f("st_difference", col("chord"), col("r")).as("d_chord"),
          q6(GF.stLength(f("st_difference", col("chord"), col("r"))))
            .as("d_chord_len_q6"),
          f("st_difference", col("r"), col("chord")).as("d_area"),
          f("st_difference", col("inpt"), col("r")).as("d_pt_in"),
          f("st_difference", col("outpt"), col("r")).as("d_pt_out"),
          f("st_difference",
            concat(lit("MULTIPOINT (("), GeoFix.dstr(col("cx") + col("a")),
              lit(" "), GeoFix.dstr(col("cy") + col("b") / 2), lit("), ("),
              GeoFix.dstr(col("cx")), lit(" "),
              GeoFix.dstr(col("cy") + col("b") * 2), lit("))")),
            col("r")).as("d_mp"),
          f("st_difference",
            point(col("cx"), col("cy") + col("b") / 2), col("chord"))
            .as("d_pt_line"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21ad: LINE − LINE ST_Difference + collection subtrahends (r15 —
    // the r14 verdict missing #2): the noded per-part scan keeps the
    // maximal chains of the minuend not collinearly covered by the
    // subtrahend (WktOverlay.lineLineDifference); transversal crossings
    // and touches remove a measure-zero set so the canonical minuend
    // returns byte-identically; collection subtrahends decompose as a
    // sequential a − m1 − m2 − … chain over any member kinds; point
    // subtrahends cover by coordinate equality. All coordinates dyadic,
    // so the oracle is pure string construction + a closed-form length.
    "sc21ad_geo_line_difference" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, mline, point, q6}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("bse", line(Seq((col("cx"), col("cy")),
          (col("cx") + col("a") * 4, col("cy")))))
        .withColumn("midcov", line(Seq((col("cx") + col("a"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("twocov", mline(Seq(
          Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a") * 2, col("cy"))),
          Seq((col("cx") + col("a") * 3, col("cy")),
            (col("cx") + col("a") * 4, col("cy"))))))
        .withColumn("ell", line(Seq((col("cx"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")),
          (col("cx") + col("a") * 2, col("cy") + col("b") * 2))))
        .withColumn("crossv", line(Seq(
          (col("cx") + col("a") * 2, col("cy") - col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b")))))
        .withColumn("gcsub", concat(lit("GEOMETRYCOLLECTION ("),
          line(Seq((col("cx"), col("cy")),
            (col("cx") + col("a"), col("cy")))),
          lit(", "), point(col("cx") + col("a") * 3, col("cy")), lit(")")))
      g.select(col("n_nationkey"),
          f("st_difference", col("bse"), col("midcov")).as("d_mid"),
          q6(GF.stLength(f("st_difference", col("bse"), col("midcov"))))
            .as("d_mid_len_q6"),
          f("st_difference", col("bse"), col("twocov")).as("d_two"),
          f("st_difference", col("ell"), col("midcov")).as("d_ell"),
          f("st_difference", col("bse"), col("crossv")).as("d_cross"),
          f("st_difference", col("bse"), col("gcsub")).as("d_gc"),
          f("st_difference", col("bse"),
            line(Seq((col("cx") - col("a"), col("cy")),
              (col("cx") + col("a") * 5, col("cy"))))).as("d_all"),
          f("st_difference",
            concat(lit("MULTIPOINT (("), GeoFix.dstr(col("cx")), lit(" "),
              GeoFix.dstr(col("cy")), lit("), ("),
              GeoFix.dstr(col("cx") + col("a")), lit(" "),
              GeoFix.dstr(col("cy") + col("b")), lit("))")),
            point(col("cx"), col("cy"))).as("d_pp"),
          // collection MINUEND: members subtract independently (the
          // line member is fully covered; the far point survives)
          f("st_difference",
            concat(lit("GEOMETRYCOLLECTION ("),
              point(col("cx"), col("cy") + col("b") * 5), lit(", "),
              line(Seq((col("cx"), col("cy")),
                (col("cx") + col("a"), col("cy")))), lit(")")),
            col("bse")).as("d_gcm"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21af: ST_Intersection TOTAL over the kind matrix (r15): line ×
    // line keeps collinear covered runs as chains and isolated contacts
    // (crossings, touches, vertex coincidences) as sorted deduped
    // points — the exact dual of sc21ad's difference under the same
    // noding; point(s) ∩ x keeps covered members; GEOMETRYCOLLECTION
    // operands decompose and member results absorb through the mixed
    // union; empties render MULTIPOINT EMPTY (the point-set empty).
    // All coordinates dyadic → string-constructed oracle.
    "sc21af_geo_line_intersection" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{line, mline, point, q6}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("bse", line(Seq((col("cx"), col("cy")),
          (col("cx") + col("a") * 4, col("cy")))))
        .withColumn("midcov", line(Seq((col("cx") + col("a"), col("cy")),
          (col("cx") + col("a") * 2, col("cy")))))
        .withColumn("twocov", mline(Seq(
          Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a") * 2, col("cy"))),
          Seq((col("cx") + col("a") * 3, col("cy")),
            (col("cx") + col("a") * 4, col("cy"))))))
        .withColumn("crossv", line(Seq(
          (col("cx") + col("a") * 2, col("cy") - col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b")))))
        .withColumn("crossv2", mline(Seq(
          Seq((col("cx") + col("a"), col("cy") - col("b")),
            (col("cx") + col("a"), col("cy") + col("b"))),
          Seq((col("cx") + col("a") * 3, col("cy") - col("b")),
            (col("cx") + col("a") * 3, col("cy") + col("b"))))))
        .withColumn("gcmix", concat(lit("GEOMETRYCOLLECTION ("),
          line(Seq((col("cx") + col("a"), col("cy")),
            (col("cx") + col("a") * 2, col("cy")))), lit(", "),
          line(Seq((col("cx") + col("a") * 3, col("cy") - col("b")),
            (col("cx") + col("a") * 3, col("cy") + col("b")))),
          lit(")")))
      g.select(col("n_nationkey"),
          f("st_intersection", col("bse"), col("midcov")).as("i_mid"),
          q6(GF.stLength(f("st_intersection", col("bse"), col("midcov"))))
            .as("i_mid_len_q6"),
          f("st_intersection", col("bse"), col("twocov")).as("i_two"),
          f("st_intersection", col("bse"), col("crossv")).as("i_cross"),
          f("st_intersection", col("bse"), col("crossv2")).as("i_cross2"),
          f("st_intersection", col("bse"), col("gcmix")).as("i_gc"),
          f("st_intersection", col("bse"),
            line(Seq((col("cx"), col("cy") + col("b") * 5),
              (col("cx") + col("a"), col("cy") + col("b") * 5))))
            .as("i_disj"),
          f("st_intersection", point(col("cx") + col("a"), col("cy")),
            col("bse")).as("i_pt"),
          f("st_intersection",
            concat(lit("MULTIPOINT (("), GeoFix.dstr(col("cx") + col("a")),
              lit(" "), GeoFix.dstr(col("cy")), lit("), ("),
              GeoFix.dstr(col("cx")), lit(" "),
              GeoFix.dstr(col("cy") + col("b") * 5), lit("))")),
            col("bse")).as("i_mp"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21ag: ST_SymDifference TOTAL over the kind matrix (r16 — the
    // r15 verdict missing #1): (a − b) ∪ (b − a) by composition over
    // the total difference + mixed-union absorb. The overlapping-
    // squares case renders the two L-pieces as a (valid) MULTIPOLYGON
    // touching at the boundary-crossing points — no pinch hazard
    // because the pieces never share interior; partially-overlapping
    // collinear lines keep both uncovered runs; equal inputs render the
    // union fold's canonical POLYGON EMPTY; point sets XOR by coverage;
    // mixed dimensions absorb in dimension-DESC collection order.
    // Symmetry is geometric, not textual (member order follows the
    // a-side) — st_equals pins it per row. All coordinates dyadic →
    // string-constructed oracle + closed-form area 6a² / length 2a and
    // the exact dual identity len(sym) = len(a−b) + len(b−a).
    "sc21ag_geo_sym_difference" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{dstr, line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("sqa", rect(col("cx"), col("cy"),
          col("a") * 2, col("a") * 2))
        .withColumn("sqb", rect(col("cx") + col("a"), col("cy") + col("a"),
          col("a") * 2, col("a") * 2))
        .withColumn("bse", line(Seq((col("cx"), col("cy")),
          (col("cx") + col("a") * 4, col("cy")))))
        .withColumn("ext", line(Seq((col("cx") + col("a"), col("cy")),
          (col("cx") + col("a") * 5, col("cy")))))
        .withColumn("crossv", line(Seq(
          (col("cx") + col("a") * 2, col("cy") - col("b")),
          (col("cx") + col("a") * 2, col("cy") + col("b")))))
        .withColumn("gcmix", concat(lit("GEOMETRYCOLLECTION ("),
          point(col("cx"), col("cy") + col("b") * 5), lit(", "),
          col("bse"), lit(")")))
      g.select(col("n_nationkey"),
          f("st_symdifference", col("sqa"), col("sqb")).as("s_sq"),
          q6(GF.stArea(f("st_symdifference", col("sqa"), col("sqb"))))
            .as("s_sq_area_q6"),
          f("st_equals", f("st_symdifference", col("sqa"), col("sqb")),
            f("st_symdifference", col("sqb"), col("sqa"))).as("s_commut"),
          f("st_symdifference", col("bse"), col("ext")).as("s_line"),
          q6(GF.stLength(f("st_symdifference", col("bse"), col("ext"))))
            .as("s_line_len_q6"),
          (q6(GF.stLength(f("st_symdifference", col("bse"), col("ext"))))
            === q6(GF.stLength(f("st_difference", col("bse"), col("ext"))))
            + q6(GF.stLength(f("st_difference", col("ext"), col("bse")))))
            .as("s_len_dual"),
          f("st_symdifference", col("sqa"), col("sqa")).as("s_self"),
          f("st_symdifference",
            concat(lit("MULTIPOINT (("), dstr(col("cx")), lit(" "),
              dstr(col("cy")), lit("), ("), dstr(col("cx") + col("a")),
              lit(" "), dstr(col("cy")), lit("))")),
            concat(lit("MULTIPOINT (("), dstr(col("cx") + col("a")),
              lit(" "), dstr(col("cy")), lit("), ("),
              dstr(col("cx") + col("a") * 2), lit(" "), dstr(col("cy")),
              lit("))"))).as("s_pts"),
          f("st_symdifference", point(col("cx") + col("a"), col("cy")),
            col("bse")).as("s_ptln"),
          f("st_symdifference", col("gcmix"), col("bse")).as("s_gc"),
          f("st_symdifference", col("bse"), col("crossv")).as("s_cross"),
          f("st_equals", f("st_symdifference", col("bse"), col("crossv")),
            f("st_symdifference", col("crossv"), col("bse")))
            .as("s_commut_ln"),
          f("st_symdifference", rect(col("cx"), col("cy"),
              col("a") * 2, col("b") * 2),
            line(Seq((col("cx") + 100, col("cy")),
              (col("cx") + 100 + col("a"), col("cy"))))).as("s_mix"))
        .orderBy(col("n_nationkey"))
    }),

    // sc21ae: ST_Buffer over MULTIPOINT and GEOMETRYCOLLECTION (r15 —
    // the r14 verdict missing #4): per-member buffer folded through the
    // union dispatch. Well-separated members (spacing 100 ≫ 2d ≤ 6)
    // give the closed forms: k disjoint disks = k·16d²·sin(π/16) as a
    // k-component MULTIPOLYGON; a mixed collection sums disk + capsule
    // + rectangle-dilation closed forms. Overlapping disks merge to ONE
    // component; EMPTY inputs/members pin to POLYGON EMPTY / skipped;
    // d = 0 is the canonical input; negative d: EMPTY over point sets.
    // r16 (the r15 verdict missing #2): erosion DISTRIBUTES over
    // MULTIPOLYGON components and collection members when they are
    // pairwise strictly separated (a connected d-disk cannot span a
    // positive gap) — axis-parallel insets stay exact closed forms,
    // vanished members drop from the fold (er_vanish/er_all), point/
    // line members erode to measure zero, and dilation distributes
    // unconditionally (Minkowski identity, dil_mp_area_q6). r17 (the
    // r16 verdict #5): CONTACTING members union-then-erode — the
    // definition itself, erosion acts on the region — so edge-sharing
    // components heal into the merged rectangle whose inset is the
    // er_touch closed form; only union folds the overlay itself
    // refuses (point-pinched merges) stay loud (WktSpec-pinned).
    "sc21ae_geo_buffer_multi" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      import GeoFix.{dstr, line, point, q6, rect}
      def f(name: String, cs: org.apache.spark.sql.Column*) =
        call_function(name, cs: _*)
      val g = GeoFix.base(s, d)
        .withColumn("mp3", concat(lit("MULTIPOINT (("),
          dstr(col("cx")), lit(" "), dstr(col("cy")), lit("), ("),
          dstr(col("cx") + 100), lit(" "), dstr(col("cy")), lit("), ("),
          dstr(col("cx") + 200), lit(" "), dstr(col("cy")), lit("))")))
        .withColumn("mp2near", concat(lit("MULTIPOINT (("),
          dstr(col("cx")), lit(" "), dstr(col("cy")), lit("), ("),
          dstr(col("cx") + col("b")), lit(" "), dstr(col("cy")),
          lit("))")))
        .withColumn("gcmix", concat(lit("GEOMETRYCOLLECTION ("),
          point(col("cx"), col("cy")), lit(", "),
          line(Seq((col("cx") + 100, col("cy")),
            (col("cx") + 100 + col("a") * 2, col("cy")))), lit(", "),
          rect(col("cx") + 200, col("cy"), col("a") * 2, col("b") * 2),
          lit(")")))
        .withColumn("gcskip", concat(lit("GEOMETRYCOLLECTION ("),
          lit("LINESTRING EMPTY, "), point(col("cx"), col("cy")),
          lit(")")))
      // r16 erosion fixtures: strictly-separated axis-parallel members
      def ringBody(x0: org.apache.spark.sql.Column,
          y0: org.apache.spark.sql.Column,
          w: org.apache.spark.sql.Column,
          h: org.apache.spark.sql.Column) =
        concat(dstr(x0), lit(" "), dstr(y0), lit(", "),
          dstr(x0 + w), lit(" "), dstr(y0), lit(", "),
          dstr(x0 + w), lit(" "), dstr(y0 + h), lit(", "),
          dstr(x0), lit(" "), dstr(y0 + h), lit(", "),
          dstr(x0), lit(" "), dstr(y0))
      val g2 = g
        .withColumn("mpoly", concat(lit("MULTIPOLYGON ((("),
          ringBody(col("cx"), col("cy"), col("a") * 2, col("b") * 2),
          lit(")), (("),
          ringBody(col("cx") + 100, col("cy"), col("a") * 2, col("b") * 2),
          lit(")))")))
        .withColumn("mpolyv", concat(lit("MULTIPOLYGON ((("),
          ringBody(col("cx"), col("cy"), col("a") * 2, col("b") * 2),
          lit(")), (("),
          ringBody(col("cx") + 200, col("cy"), col("b") / 2, col("b") / 2),
          lit(")))")))
        .withColumn("mptiny", concat(lit("MULTIPOLYGON ((("),
          ringBody(col("cx") + 200, col("cy"), col("b") / 2, col("b") / 2),
          lit(")), (("),
          ringBody(col("cx") + 300, col("cy"), col("b") / 2, col("b") / 2),
          lit(")))")))
        .withColumn("gcfar", concat(lit("GEOMETRYCOLLECTION ("),
          point(col("cx") + 100, col("cy") + 50), lit(", "),
          line(Seq((col("cx") + 200, col("cy")),
            (col("cx") + 200 + col("a"), col("cy")))), lit(", "),
          rect(col("cx"), col("cy"), col("a") * 2, col("b") * 2),
          lit(")")))
        // r17: EDGE-SHARING components — the union-then-erode path
        .withColumn("mptouch", concat(lit("MULTIPOLYGON ((("),
          ringBody(col("cx"), col("cy"), col("a") * 2, col("b") * 2),
          lit(")), (("),
          ringBody(col("cx") + col("a") * 2, col("cy"), col("a") * 2,
            col("b") * 2),
          lit(")))")))
      g2.select(col("n_nationkey"),
          q6(GF.stArea(f("st_buffer", col("mp3"), col("b"))))
            .as("mp_area_q6"),
          f("st_numgeometries", f("st_buffer", col("mp3"), col("b")))
            .as("mp_n"),
          f("st_numgeometries", f("st_buffer", col("mp2near"), col("b")))
            .as("mp_near_n"),
          f("st_buffer", col("mp3"), lit(0.0)).as("mp_zero"),
          f("st_buffer", col("mp3"), -col("b")).as("mp_neg"),
          f("st_buffer", lit("MULTIPOINT EMPTY"), col("b"))
            .as("mp_empty"),
          q6(GF.stArea(f("st_buffer", col("gcmix"), col("b") / 2)))
            .as("gc_area_q6"),
          f("st_numgeometries", f("st_buffer", col("gcmix"),
            col("b") / 2)).as("gc_n"),
          f("st_buffer", lit("GEOMETRYCOLLECTION EMPTY"), col("b"))
            .as("gc_empty"),
          q6(GF.stArea(f("st_buffer", col("gcskip"), col("b"))))
            .as("gc_skip_q6"),
          // r15: st_convexhull total over the kind matrix — hull of a
          // non-collinear MULTIPOINT and of the mixed collection
          f("st_convexhull", concat(lit("MULTIPOINT (("),
            dstr(col("cx")), lit(" "), dstr(col("cy")), lit("), ("),
            dstr(col("cx") + col("a")), lit(" "), dstr(col("cy")),
            lit("), ("), dstr(col("cx")), lit(" "),
            dstr(col("cy") + col("b")), lit("))"))).as("hull_mp"),
          f("st_convexhull", col("gcmix")).as("hull_gc"),
          // r15: GC centroid = the highest-dimension members' centroid
          // (the rect member dominates gcmix; gcskip reduces to its
          // point member)
          q6(call_function("st_centroid_x", col("gcmix"))).as("cgx_q6"),
          q6(call_function("st_centroid_y", col("gcmix"))).as("cgy_q6"),
          q6(call_function("st_centroid_x", col("gcskip"))).as("cpx_q6"),
          // r15: envelope bounds over GC span the members; MULTIPOINT
          // is its point set's bbox
          q6(call_function("st_xmax", col("gcmix"))).as("env_xmax_q6"),
          q6(call_function("st_ymax", col("gcmix"))).as("env_ymax_q6"),
          q6(call_function("st_xmin", col("gcmix"))).as("env_xmin_q6"),
          q6(call_function("st_ymax", concat(lit("MULTIPOINT (("),
            dstr(col("cx")), lit(" "), dstr(col("cy")), lit("), ("),
            dstr(col("cx") + col("a")), lit(" "), dstr(col("cy")),
            lit("), ("), dstr(col("cx")), lit(" "),
            dstr(col("cy") + col("b")), lit("))"))))
            .as("env_mp_ymax_q6"),
          // r15: simplify + simplicity over collections — the collinear
          // interior vertex of the line member drops; simplicity is
          // per-member (a self-crossing member breaks it)
          f("simplify_geometry", concat(lit("GEOMETRYCOLLECTION ("),
            point(col("cx"), col("cy")), lit(", "),
            line(Seq((col("cx") + 100, col("cy")),
              (col("cx") + 100 + col("a"), col("cy")),
              (col("cx") + 100 + col("a") * 2, col("cy")))), lit(")")),
            col("b") / 4).as("simp_gc"),
          f("st_issimple", concat(lit("GEOMETRYCOLLECTION ("),
            point(col("cx"), col("cy")), lit(", "),
            line(Seq((col("cx") + 100, col("cy")),
              (col("cx") + 100 + col("a") * 2, col("cy")))), lit(")")))
            .as("issimp_gc"),
          f("st_issimple", concat(lit("GEOMETRYCOLLECTION ("),
            point(col("cx"), col("cy")), lit(", "),
            line(Seq((col("cx"), col("cy") + col("b")),
              (col("cx") + col("a") * 2, col("cy") + col("b") * 3),
              (col("cx") + col("a") * 2, col("cy") + col("b")),
              (col("cx"), col("cy") + col("b") * 3))), lit(")")))
            .as("issimp_gc_cross"),
          // r16: erosion distributes over STRICTLY separated members
          // (MULTIPOLYGON components + collection members) — per-member
          // negative buffer folded through the union; the insets stay
          // exact axis-parallel closed forms; vanished members drop;
          // touching members stay LOUD (WktSpec-pinned, not oracled)
          f("st_buffer", col("mpoly"), -col("b") / 4).as("er_mp"),
          q6(GF.stArea(f("st_buffer", col("mpoly"), -col("b") / 4)))
            .as("er_mp_area_q6"),
          f("st_buffer", col("mpolyv"), -col("b") / 2).as("er_vanish"),
          f("st_buffer", col("mptiny"), -col("b")).as("er_all"),
          f("st_buffer", col("gcfar"), -col("b") / 4).as("er_gc"),
          // r17: edge-sharing components union-then-erode — the merged
          // 4a×2b rectangle's inset, ONE canonical polygon whose
          // closed form (4a − b/2)(2b − b/2) differs from the wrong
          // erode-then-union 2(2a − b/2)(2b − b/2) by the healed seam
          f("st_buffer", col("mptouch"), -col("b") / 4).as("er_touch"),
          q6(GF.stArea(f("st_buffer", col("mptouch"), -col("b") / 4)))
            .as("er_touch_area_q6"),
          // dilation distributes exactly (Minkowski): per-component
          // round dilation of the separated pair, closed-form area
          q6(GF.stArea(f("st_buffer", col("mpoly"), col("b") / 4)))
            .as("dil_mp_area_q6"))
        .orderBy(col("n_nationkey"))
    }),

    // Regex family (Presto regexp_like/count/extract_all/position).
    "sc11_regex" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          col("p_name").rlike("w.dget").as("has_wdget"),
          expr("regexp_count(p_name, '[aeiou]')").cast("long").as("n_vowels"),
          expr("regexp_substr(p_name, '[a-z]+')").as("first_word_re"),
          expr("regexp_instr(p_name, 'o.')").cast("long").as("o_pos"),
          expr("array_join(regexp_extract_all(p_type, '[A-Z]+', 0), ',')").as("caps_runs"),
          split(col("p_name"), "\\s+").getItem(1).as("second_tok"))
        .orderBy(col("p_partkey"))
    }),

    // Date/time parsing family (Presto date_parse/format_datetime/
    // from_unixtime): string → timestamp/date round-trips.
    // sc14: map higher-order functions (Presto transform_values /
    // map_filter / map_concat / map_from_entries): maps built from row
    // columns, transformed, filtered, merged — serialized as sorted
    // "k=v" entries for the hash compare (map column order is undefined).
    // sc14b: the rest of the map surface (Presto map_zip_with /
    // transform_keys / split_to_map / map_from_entries) — per-row codegen
    // map ops, serialized scalar-wise for the hash compare like sc14.
    "sc14b_map_extras" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .withColumn("sm", expr(
          "str_to_map(concat('a:', p_size, ',b:', p_partkey % 7, ',c:9'), ',', ':')"))
        .withColumn("m1", map(lit("x"), col("p_size").cast("double"),
          lit("y"), col("p_retailprice")))
        .withColumn("m2", map(lit("x"), lit(2.0), lit("y"), lit(3.0)))
        .select(col("p_partkey"),
          element_at(col("sm"), "b").cast("long").as("sm_b"),
          array_join(array_sort(map_keys(
            transform_keys(col("sm"), (k, _) => upper(k)))), ",").as("tk_keys"),
          array_join(array_sort(transform(map_entries(
            map_zip_with(col("m1"), col("m2"), (_, v1, v2) => v1 * v2)),
            e => concat(e.getField("key"), lit("="),
              floor(e.getField("value") * 100.0 + 0.5).cast("long").cast("string")))),
            ";").as("zipped"),
          element_at(map_from_entries(array(struct(lit("k").as("key"),
            col("p_size").as("value")))), "k").cast("long").as("fe_roundtrip"))
        .orderBy(col("p_partkey"))
    }),

    "sc14_map_hof" -> ((s, d) => {
      Tables.orders(s, d).filter(col("o_orderkey") < 500)
        .withColumn("m", map_concat(
          map(lit("price"), col("o_totalprice")),
          map(lit("key"), col("o_orderkey").cast("double"))))
        .withColumn("m2", transform_values(col("m"), (_, v) => v * 2.0))
        .withColumn("big", map_filter(col("m2"), (_, v) => v > 1000.0))
        .select(col("o_orderkey"),
          array_join(array_sort(transform(map_entries(col("m2")),
            e => concat(e.getField("key"), lit("="),
              floor(e.getField("value") * 100.0 + 0.5).cast("long").cast("string")))),
            ";").as("doubled"),
          size(col("big")).cast("long").as("n_big"),
          array_join(array_sort(map_keys(col("big"))), ",").as("big_keys"))
        .orderBy(col("o_orderkey"))
    }),

    // sc13: array-construction family (Presto sequence / repeat / zip):
    // generated arrays stay inside codegen; serialized to scalars for the
    // hash compare (harness rule).
    "sc13_sequence" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 500)
        .select(col("p_partkey"),
          array_join(transform(sequence(lit(1), col("p_size")),
            x => x * x), ",").as("squares"),
          size(sequence(lit(1), col("p_size"))).cast("long").as("seq_len"),
          repeat(col("p_brand"), 2).as("brand2x"),
          array_join(zip_with(sequence(lit(1), lit(3)), sequence(lit(4), lit(6)),
            (x, y) => x * lit(10) + y), ";").as("zipped"))
        .orderBy(col("p_partkey"))
    }),

    // sc15: AT TIME ZONE family (Presto `x AT TIME ZONE tz` /
    // `with_timezone` / `to_unixtime`): named-zone wall-clock rendering,
    // zone-local field extraction, and the inverse conversion round-trip.
    // Pure per-row exprs inside codegen; zone rules come from the JVM tz
    // db on executors — no shuffle implications at any scale.
    "sc15_timezone" -> ((s, d) => {
      Tables.events(s, d).filter(col("event_id") < 5000)
        .withColumn("t", col("ts").cast("timestamp"))
        .select(col("event_id"),
          date_format(from_utc_timestamp(col("t"), "America/New_York"),
            "yyyy-MM-dd HH:mm:ss").as("ny_wall"),
          hour(from_utc_timestamp(col("t"), "Asia/Tokyo"))
            .cast("long").as("tokyo_hour"),
          date_format(from_utc_timestamp(col("t"), "Europe/Paris"),
            "yyyy-MM-dd").as("paris_date"),
          // fixed-offset zone: the from/to inverse is identity by
          // construction (a DST zone's repeated fall-back hour would make
          // the round-trip lossy and the oracle's identity brittle to any
          // fixture date change)
          unix_seconds(to_utc_timestamp(
            from_utc_timestamp(col("t"), "UTC+05:30"),
            "UTC+05:30")).as("offset_roundtrip_s"),
          unix_seconds(col("t")).as("to_unixtime_s"))
        .orderBy(col("event_id"))
    }),

    "sc12_datetime_parse" -> ((s, d) => {
      Tables.orders(s, d).filter(col("o_orderkey") < 300)
        .withColumn("dstr", date_format(col("o_orderdate"), "yyyy-MM-dd"))
        .select(col("o_orderkey"),
          to_timestamp(col("dstr"), "yyyy-MM-dd").as("parsed_ts"),
          to_date(col("dstr"), "yyyy-MM-dd").as("parsed_date"),
          unix_millis(to_timestamp(col("dstr"), "yyyy-MM-dd")).as("epoch_ms"),
          date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
          make_timestamp(year(col("o_orderdate")), month(col("o_orderdate")),
            dayofmonth(col("o_orderdate")), lit(0), lit(0), lit(0)).as("made_ts"))
        .orderBy(col("o_orderkey"))
    }),

    // Generalized TRY(expr) — Presto semantics: NULL on runtime evaluation
    // error. Session ANSI mode is ON, so the wrapped cast / integer
    // division / out-of-bounds element_at genuinely throw without it.
    "sc8_try" -> ((s, d) => {
      Tables.part(s, d).filter(col("p_partkey") < 300)
        .select(col("p_partkey"),
          // 'Brand#13' → 13; 'Brand#5' → '#5' → error → NULL
          expr("try_eval(CAST(right(p_brand, 2) AS INT))").as("maybe_int"),
          // p_partkey % 3 == 0 → ANSI divide-by-zero → NULL
          expr("try_eval(p_partkey div (p_partkey % 3))").as("maybe_div"),
          // never a valid date → NULL on every row (pure catch path)
          expr("try_eval(CAST(p_brand AS DATE))").as("maybe_date"),
          // ANSI element_at beyond array length throws → NULL
          expr("try_eval(element_at(split(p_name, ' '), 99))").as("maybe_elem"))
        .orderBy(col("p_partkey"))
    }),

    // URL family (Presto url_extract_* / url_encode) via parse_url +
    // url_encode over deterministic synthetic URLs.
    "sc9_url" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .withColumn("url", concat(lit("https://"), col("source"),
          lit(".example.com/"), col("lang"), lit("/page?id="),
          col("doc_id").cast("string"), lit("&ref=home")))
        .select(col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("qs"),
          expr("parse_url(url, 'QUERY', 'id')").as("qid"),
          expr("url_encode(lang || ' ' || source)").as("enc"),
          expr("url_decode(url_encode(lang || ' ' || source))").as("roundtrip"))
        .orderBy(col("doc_id"))
    }),

    // Unicode normalization (Presto normalize(s, NFC...)) — custom codegen
    // expression over java.text.Normalizer; composed vs precomposed accents
    // built portably from chr() so the check is meaningful on ASCII testdata.
    "sc10_normalize" -> ((s, d) => {
      // 'e' + U+0301 combining acute, appended to real ASCII data. (Spark's
      // chr() is byte-mod-256, unusable for codepoints — literals instead.)
      Tables.part(s, d).filter(col("p_partkey") < 100)
        .withColumn("decomposed", concat(col("p_name"), lit(" caf"), lit("e\u0301")))
        .select(col("p_partkey"),
          expr("normalize_str(decomposed, 'NFC')").as("nfc"),
          length(expr("normalize_str(decomposed, 'NFC')")).as("nfc_len"),
          length(col("decomposed")).as("raw_len"),
          (expr("normalize_str(decomposed, 'NFC')") ===
            concat(col("p_name"), lit(" caf\u00e9"))).as("composed_eq"),
          // NFD round-trip restores the decomposed original (ASCII + e+́)
          expr("normalize_str(normalize_str(decomposed, 'NFC'), 'NFD')").as("nfd"))
        .orderBy(col("p_partkey"))
    }),

    // Hash/checksum family (md5/sha2 portable; xxhash64 Spark-native, cross-
    // checked in unit tests instead).
    "sc7_hash" -> ((s, d) => {
      Tables.documents(s, d).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          md5(col("text").cast("binary")).as("text_md5"),
          sha2(col("text").cast("binary"), 256).as("text_sha256"),
          md5(concat(col("lang"), lit("|"), col("source")).cast("binary")).as("meta_md5"))
        .orderBy(col("doc_id"))
    }),

    // sc4c: array set operations (Presto array_union/array_except/
    // array_position/slice/array_compact). Set results serialize
    // sorted-quantized (the sc4b idiom) so the byte-hash compare is
    // order-insensitive; dedup happens on exact float bits in BOTH
    // engines before quantization.
    "sc4c_array_setops" -> ((s, d) => {
      Tables.embeddings(s, d).filter(col("vec_id") < 30)
        .select(col("vec_id"),
          expr("""array_join(transform(array_sort(transform(
                |  array_union(slice(embedding, 1, 6), slice(embedding, 4, 6)),
                |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))),
                |  x -> CAST(x AS STRING)), ',')""".stripMargin).as("union_sq"),
          expr("""array_join(transform(array_sort(transform(
                |  array_except(slice(embedding, 1, 8), slice(embedding, 5, 12)),
                |  x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))),
                |  x -> CAST(x AS STRING)), ',')""".stripMargin).as("except_sq"),
          expr("""array_join(transform(slice(embedding, 5, 3),
                |  x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS STRING)), ',')"""
            .stripMargin).as("mid3"),
          expr("""CAST(size(array_compact(array(
                |  element_at(embedding, 1), CAST(NULL AS FLOAT),
                |  element_at(embedding, 2)))) AS BIGINT)""".stripMargin).as("compact_n"),
          expr("CAST(array_position(embedding, array_min(embedding)) AS BIGINT)")
            .as("argmin_pos"))
        .orderBy(col("vec_id"))
    }),

    // sc17: ANSI-safe arithmetic — Spark 4 runs with ANSI mode ON, where
    // division by zero and numeric overflow THROW; the try_* family is
    // the null-on-error escape hatch (Presto's TRY(expr) per-operator).
    // Oracle: DuckDB returns NULL/overflows differently, so each case is
    // mirrored with explicit CASE guards.
    "sc17_try_arith" -> ((s, d) => {
      Tables.customer(s, d).filter(col("c_custkey") < 300)
        .select(col("c_custkey"),
          try_divide(col("c_acctbal"), col("c_custkey") % 5).as("div_maybe0"),
          try_divide(lit(1L), col("c_custkey") - col("c_custkey")).as("div_by0"),
          try_add(lit(Long.MaxValue), col("c_custkey")).as("add_overflow"),
          try_multiply(lit(Long.MaxValue / 2), col("c_custkey") % 4).as("mul_maybe_overflow"),
          try_subtract(col("c_custkey"), lit(10L)).as("sub_ok"))
        .orderBy(col("c_custkey"))
    }),

    // sc16: binary/encoding family (Presto to_base64/from_base64,
    // to_hex/from_hex, bit_length/octet_length and shifts) — per-row
    // codegen expressions, scan-stage at any scale.
    "sc16_binary" -> ((s, d) => {
      Tables.customer(s, d).filter(col("c_custkey") <= 200)
        .select(col("c_custkey"),
          base64(col("c_name").cast("binary")).as("b64"),
          unbase64(base64(col("c_name").cast("binary"))).cast("string").as("b64_roundtrip"),
          hex(col("c_name").cast("binary")).as("name_hex"),
          unhex(hex(col("c_name").cast("binary"))).cast("string").as("hex_roundtrip"),
          bit_length(col("c_name")).cast("long").as("bits"),
          octet_length(col("c_name")).cast("long").as("octets"),
          shiftleft(col("c_custkey"), 3).as("shl3"),
          shiftright(col("c_custkey"), 2).as("shr2"))
        .orderBy(col("c_custkey"))
    }),

    // sc20: collations (Spark 4) — case-insensitive comparison semantics
    // as a TYPE property (UTF8_LCASE) instead of scattered lower() calls:
    // distinct-counting and equality both honor the collation. The
    // union plants an upper-cased twin of every name, so exact-distinct
    // sees 2 per key while collated-distinct sees 1.
    "sc20_collation" -> ((s, d) => {
      val c = Tables.customer(s, d)
      def side(f: Column => Column) = c.select(
        (col("c_custkey") % 50).as("g"), f(col("c_name")).as("nm"))
      side(identity).unionByName(side(upper))
        .groupBy(col("g"))
        .agg(countDistinct(col("nm")).as("n_exact"),
          countDistinct(collate(col("nm"), "UTF8_LCASE")).as("n_ci"),
          count_if(collate(col("nm"), "UTF8_LCASE") === upper(col("nm")))
            .as("n_ci_eq"))
        .orderBy(col("g"))
    }),

    // sc19: VARIANT semi-structured type (Spark 4) — parse_json into the
    // binary VARIANT encoding, typed extraction via variant_get, NULL
    // taxonomy (malformed input under try_parse_json vs JSON null), and
    // schema_of_variant introspection. At 100 TB VARIANT beats JSON
    // strings: parsing happens once at ingest, extraction reads the
    // binary encoding (and parquet shredding prunes it like columns).
    "sc19_variant" -> ((s, d) => {
      Tables.events(s, d).filter(col("event_id") < 1500)
        .select(col("event_id"),
          variant_get(parse_json(col("props")), "$.k", "bigint").as("k_big"),
          variant_get(parse_json(col("props")), "$.k", "string").as("k_str"),
          variant_get(try_parse_json(lit("{broken")), "$.k", "bigint").as("bad_json"),
          is_variant_null(parse_json(lit("null"))).as("json_null"),
          schema_of_variant(parse_json(col("props"))).as("schema"))
        .orderBy(col("event_id"))
    }),

    // sc22: TIMESTAMP (session-TZ) vs TIMESTAMP_NTZ semantics — Presto
    // distinguishes `timestamp` (wall clock, no zone) from `timestamp
    // with time zone`; Spark 4's TIMESTAMP_NTZ is the wall-clock type
    // and the testdata now ships NTZ-encoded columns, so the mapping is
    // load-bearing. The query round-trips an NTZ column through parquet
    // (Spark writes isAdjustedToUTC=false; the read-back must preserve
    // the wall clock bit-exactly — the oracle compares against DuckDB's
    // naive-timestamp view of the ORIGINAL data, so any drift in the
    // round-trip breaks the hash), then shows the semantic split: the
    // same wall clock pinned as UTC vs interpreted in a DST zone yields
    // different instants, offset by the zone's date-dependent UTC offset.
    // SC24: Jaro–Winkler similarity — the record-linkage measure next to
    // levenshtein (j17's residual): own codegen kernel (Winkler 1990
    // conventions pinned in the Scaladoc and against DuckDB's native
    // jaro_winkler_similarity, which IS the oracle's implementation —
    // two independent implementations agreeing to 6 decimal places on
    // 500 real name pairs is the strongest scalar check in the suite).
    // Three comparisons per part: name vs its one-char-deletion typo
    // (high similarity), vs the reversed name (low), first word vs
    // second word (unrelated).
    "sc24_jaro_winkler" -> ((s, d) => {
      import graft.functions.{GraftFunctions => GF}
      def q6(c: org.apache.spark.sql.Column) =
        floor(c * 1e6 + 0.5).cast("long")
      Tables.part(s, d).filter(col("p_partkey") < 500)
        .select(col("p_partkey"), col("p_name"))
        .withColumn("typo",
          concat(expr("split(p_name, ' ')[0]"), lit(" "),
            expr("substring(split(p_name, ' ')[1], 1, 1)"),
            expr("substring(split(p_name, ' ')[1], 3)")))
        .select(col("p_partkey"), col("p_name"),
          q6(GF.jaroWinkler(col("p_name"), col("typo"))).as("jw_typo_q6"),
          q6(GF.jaroWinkler(col("p_name"), reverse(col("p_name"))))
            .as("jw_rev_q6"),
          q6(GF.jaroWinkler(expr("split(p_name, ' ')[0]"),
            expr("split(p_name, ' ')[1]"))).as("jw_words_q6"))
        .orderBy(col("p_partkey"))
    }),

    "sc22_timestamp_ntz" -> ((s, d) => {
      // scratch location unique per RUN (one dir per JVM), overwritten
      // within it: repeated bench reps in one run don't accumulate, and
      // two concurrent runs on one host can't clobber each other's file
      // mid-read (a fixed shared path did exactly that)
      val out = s"$sc22Dir/ntz.parquet"
      Tables.events(s, d).filter(col("event_id") < 5000)
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ntz"))
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        // DST guard: wall clocks in the 01:00–03:59 window could land in
        // a spring-forward gap / fall-back ambiguity, where Spark
        // (java.time) and DuckDB (ICU) may resolve the offset
        // differently; the driver rewrites the data between rounds, so
        // exclude the window instead of betting no fixture row hits it
        .filter(!hour(col("ntz")).between(1, 3))
        .select(col("event_id"),
          date_format(col("ntz"), "yyyy-MM-dd HH:mm:ss").as("ntz_wall"),
          unix_seconds(to_utc_timestamp(col("ntz").cast("timestamp"), "UTC"))
            .as("as_utc_s"),
          unix_seconds(to_utc_timestamp(col("ntz").cast("timestamp"),
            "America/New_York")).as("as_ny_s"))
        .withColumn("ny_offset_h",
          expr("(as_ny_s - as_utc_s) div 3600"))
        .orderBy(col("event_id"))
    }),

    // sc18: bitwise family (Presto bitwise_and/or/xor/not, bit_count,
    // bit extraction) — pure per-row codegen arithmetic, scan-stage at
    // any scale. Complements sc16's shifts.
    "sc18_bitwise" -> ((s, d) => {
      Tables.lineitem(s, d).filter(col("l_orderkey") < 400)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_orderkey").bitwiseAND(col("l_partkey")).as("band"),
          col("l_orderkey").bitwiseOR(col("l_partkey")).as("bor"),
          col("l_orderkey").bitwiseXOR(col("l_partkey")).as("bxor"),
          bitwise_not(col("l_orderkey")).as("bnot"),
          bit_count(col("l_orderkey")).as("nbits"),
          shiftright(col("l_orderkey"), 3).bitwiseAND(lit(1L)).as("bit3"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "sc24_jaro_winkler" ->
      // DuckDB's native jaro_winkler_similarity is an INDEPENDENT
      // implementation of the same published algorithm
      """SELECT p_partkey, p_name,
        |  CAST(floor(jaro_winkler_similarity(p_name,
        |    split_part(p_name, ' ', 1) || ' ' ||
        |    substr(split_part(p_name, ' ', 2), 1, 1) ||
        |    substr(split_part(p_name, ' ', 2), 3)) * 1e6 + 0.5) AS BIGINT)
        |    AS jw_typo_q6,
        |  CAST(floor(jaro_winkler_similarity(p_name, reverse(p_name))
        |    * 1e6 + 0.5) AS BIGINT) AS jw_rev_q6,
        |  CAST(floor(jaro_winkler_similarity(split_part(p_name, ' ', 1),
        |    split_part(p_name, ' ', 2)) * 1e6 + 0.5) AS BIGINT)
        |    AS jw_words_q6
        |FROM part WHERE p_partkey < 500
        |ORDER BY p_partkey""".stripMargin,

    "sc22_timestamp_ntz" ->
      // ts::TIMESTAMP is DuckDB's naive wall clock — epoch_us pins it as
      // UTC; timezone(tz, naive) interprets it as zone-local (ICU),
      // giving the instant the NY wall clock names on that date
      """SELECT event_id,
        |  strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS ntz_wall,
        |  epoch_us(ts::TIMESTAMP) // 1000000 AS as_utc_s,
        |  epoch_us(timezone('America/New_York', ts::TIMESTAMP)) // 1000000
        |    AS as_ny_s,
        |  (epoch_us(timezone('America/New_York', ts::TIMESTAMP)) // 1000000
        |   - epoch_us(ts::TIMESTAMP) // 1000000) // 3600 AS ny_offset_h
        |FROM events WHERE event_id < 5000
        |  AND hour(ts::TIMESTAMP) NOT BETWEEN 1 AND 3
        |ORDER BY event_id""".stripMargin,

    "sc1_string" ->
      """SELECT p_partkey,
        |  p_brand || ':' || p_type AS cat,
        |  substring(p_name, 1, 5) AS name5,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  upper(p_brand) AS brand_up,
        |  lower(p_type) AS type_lo,
        |  trim('  pad  ') AS trimmed,
        |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
        |  regexp_extract(p_brand, '#(\d+)', 1) AS brand_num,
        |  lpad(p_brand, 12, '.') AS brand_pad,
        |  CAST(strpos(p_type, 'BRASS') AS BIGINT) AS brass_pos,
        |  starts_with(p_name, 'a') AS starts_a,
        |  contains(p_name, 'steel') AS has_steel,
        |  reverse(p_brand) AS brand_rev,
        |  repeat(p_brand, 2) AS brand2,
        |  str_split(p_name, ' ')[1] AS first_word
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin,

    "sc1b_string_extras" ->
      """SELECT p_partkey,
        |  CAST(ascii(p_name) AS INT) AS first_cp,
        |  chr(CAST(65 + p_partkey % 26 AS INT)) AS letter,
        |  translate(p_type, 'AEIOU', 'aeiou') AS lowered_vowels,
        |  CAST(strpos(p_name, 'a') AS BIGINT) AS a_pos,
        |  left(p_name, 4) AS head4,
        |  right(p_name, 3) AS tail3,
        |  split_part(p_name, ' ', 2) AS second_word,
        |  CAST(levenshtein(p_brand, 'Brand#1') AS INT) AS lev_to_b1
        |FROM part WHERE p_partkey < 200 ORDER BY p_partkey""".stripMargin,

    "sc15_timezone" ->
      // session-TZ-independent: timezone('UTC', naive) pins the instant,
      // outer timezone(tz, tstz) renders zone wall time — equivalent to
      // Spark's from_utc_timestamp under the pinned-UTC session contract.
      """SELECT event_id,
        |  strftime(timezone('America/New_York', timezone('UTC', ts::TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS ny_wall,
        |  CAST(hour(timezone('Asia/Tokyo', timezone('UTC', ts::TIMESTAMP))) AS BIGINT) AS tokyo_hour,
        |  strftime(timezone('Europe/Paris', timezone('UTC', ts::TIMESTAMP)), '%Y-%m-%d') AS paris_date,
        |  epoch_us(ts::TIMESTAMP) // 1000000 AS offset_roundtrip_s,
        |  epoch_us(ts::TIMESTAMP) // 1000000 AS to_unixtime_s
        |FROM events WHERE event_id < 5000 ORDER BY event_id""".stripMargin,

    "sc2_datetime" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS y,
        |  CAST(month(o_orderdate) AS INT) AS m,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(o_orderdate) AS INT) AS dow_sunday0,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  o_orderdate + INTERVAL 90 DAY AS plus90d,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS BIGINT) AS days_to_2002,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
        |  strftime(o_orderdate, '%Y-%m') AS ym_str,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr
        |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin,

    "sc2b_datetime_extras" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS as_date,
        |  CAST(last_day(o_orderdate) AS DATE) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  make_date(CAST(year(o_orderdate) AS INT), CAST(month(o_orderdate) AS INT), 1) AS month_first,
        |  CAST(weekofyear(o_orderdate) AS INT) AS iso_week,
        |  CAST(dayofyear(o_orderdate) AS INT) AS doy,
        |  CAST(hour(o_orderdate) + minute(o_orderdate) AS INT) AS hm_zero
        |FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey""".stripMargin,

    "sc3b_math_extras" ->
      """SELECT c_custkey,
        |  round(log10(abs(c_acctbal) + 1.0), 6) AS lg10,
        |  round(log2(abs(c_acctbal) + 1.0), 6) AS lg2,
        |  round(cbrt(abs(c_acctbal)), 6) AS curt,
        |  round(sin(c_custkey * 0.1), 6) AS sin_k,
        |  round(atan2(c_acctbal, 100.0), 6) AS at2,
        |  round(degrees(c_custkey * 0.01), 6) AS deg,
        |  c_custkey & 255 AS band,
        |  c_custkey | 16 AS bor,
        |  xor(c_custkey, 85) AS bxor,
        |  c_custkey << 3 AS shl3,
        |  CAST(bit_count(c_custkey) AS BIGINT) AS popcount
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,

    "sc3_math" ->
      """SELECT c_custkey,
        |  abs(c_acctbal) AS bal_abs,
        |  ceil(c_acctbal) AS bal_ceil,
        |  floor(c_acctbal) AS bal_floor,
        |  CAST(sign(c_acctbal) AS DOUBLE) AS bal_sign,
        |  round(sqrt(abs(c_acctbal)), 6) AS bal_sqrt,
        |  round(exp(c_acctbal / 10000.0), 6) AS bal_exp,
        |  round(ln(abs(c_acctbal) + 1.0), 6) AS bal_ln,
        |  c_custkey % 7 AS key_mod7,
        |  greatest(c_acctbal, 0.0) AS bal_pos,
        |  least(c_acctbal, 1000.0) AS bal_cap
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,

    "sc4_array" ->
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  CAST(embedding[1] AS DOUBLE) AS first_elem,
        |  CAST(embedding[64] AS DOUBLE) AS last_elem,
        |  array_to_string(list_transform(embedding[1:3], x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)), ',') AS head3,
        |  CAST(list_max(embedding) AS DOUBLE) AS vmax,
        |  CAST(list_min(embedding) AS DOUBLE) AS vmin,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  array_to_string(list_sort(list_transform(embedding[1:4], x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), ',') AS sorted4,
        |  list_contains(embedding, 0.0) AS has_zero
        |FROM embeddings WHERE vec_id < 30 ORDER BY vec_id""".stripMargin,

    "sc4b_array_extras" ->
      """SELECT vec_id,
        |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos,
        |  array_to_string(list_sort(list_transform(list_intersect(embedding[1:8], embedding[5:12]), x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), ',') AS inter_overlap,
        |  list_has_any(embedding[1:8], embedding[5:12]) AS has_overlap,
        |  array_to_string(list_transform(list_filter(embedding[1:4], x -> x != embedding[2]), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)), ',') AS removed2,
        |  array_to_string(list_transform(list_concat(embedding[1:2], embedding[63:64]), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)), ',') AS ends,
        |  array_to_string(list_transform(flatten([embedding[1:2], embedding[3:4]]), x -> CAST(CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS VARCHAR)), ',') AS flat4,
        |  CAST(list_reverse(embedding)[1] AS DOUBLE) AS last_via_reverse
        |FROM embeddings WHERE vec_id < 20 ORDER BY vec_id""".stripMargin,

    "sc5_map_struct" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_from_struct,
        |  json_keys(props)[1] AS first_key,
        |  event_type AS type_via_struct
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin,

    "sc6_json" ->
      """SELECT event_id,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract(props, '$.k') AS INT) AS k_int,
        |  json_extract_string(props, '$.missing') AS missing_key,
        |  '{"u":' || CAST(user_id AS VARCHAR) || '}' AS built_json
        |FROM events WHERE event_id < 500 ORDER BY event_id""".stripMargin,

    "sc6c_json_path" ->
      // DuckDB equivalents: json_extract keeps JSON text (quotes/minified
      // like Spark's to_json(variant)); json_extract_string strips quotes;
      // non-scalar json_value → NULL via the json_type guard.
      """WITH src AS (
        |  SELECT event_id,
        |    '{"id":' || CAST(event_id AS VARCHAR) ||
        |    ',"tags":["' || event_type || '","x"]' ||
        |    ',"meta":{"v":' || CAST(event_id % 50 AS VARCHAR) || '}' ||
        |    CASE WHEN event_id % 3 = 0 THEN ',"opt":"y"' ELSE '' END ||
        |    '}' AS j
        |  FROM events WHERE event_id < 500)
        |SELECT event_id,
        |  json_extract(j, '$.opt') IS NOT NULL AS has_opt,
        |  json_extract(j, '$.meta.v') IS NOT NULL AS has_v,
        |  json_extract(j, '$.nope') IS NOT NULL AS has_nope,
        |  json_extract_string(j, '$.meta.v') AS v_str,
        |  json_extract_string(j, '$.tags[0]') AS tag0,
        |  CASE WHEN json_type(j::JSON, '$.tags') IN ('ARRAY', 'OBJECT')
        |    THEN NULL ELSE json_extract_string(j, '$.tags') END AS tags_nonscalar,
        |  CAST(json_extract(j, '$.tags') AS VARCHAR) AS q_tags,
        |  CAST(json_extract(j, '$.tags[0]') AS VARCHAR) AS q_tag0,
        |  CAST(json_extract(j, '$.meta') AS VARCHAR) AS q_meta,
        |  CAST(json_extract(j, '$.nope') AS VARCHAR) AS q_missing,
        |  CAST(json_array_length(j, '$.tags') AS BIGINT) AS sz_tags,
        |  CAST(len(json_keys(j, '$.meta')) AS BIGINT) AS sz_meta,
        |  CAST(0 AS BIGINT) AS sz_scalar,
        |  CAST(NULL AS BIGINT) AS sz_missing
        |FROM src ORDER BY event_id""".stripMargin,

    "sc21b_wkt" ->
      // closed-form mirrors of the diamond (|x|+|y| < 50.3) and
      // rectangle (strict bbox) the Spark side tests via generic WKT
      // parse + ray cast; x/y are the POINT round-trip, exact because
      // double→string→double is shortest-repr lossless on both sides
      """SELECT c_custkey,
        |  CAST(c_custkey * 7 % 360 - 180 + 0.5 AS DOUBLE) AS x,
        |  CAST(c_custkey % 120 - 60 + 0.25 AS DOUBLE) AS y,
        |  abs(CAST(c_custkey * 7 % 360 - 180 + 0.5 AS DOUBLE)) +
        |    abs(CAST(c_custkey % 120 - 60 + 0.25 AS DOUBLE)) < 50.3
        |    AS in_diamond,
        |  CAST(c_custkey * 7 % 360 - 180 + 0.5 AS DOUBLE)
        |    BETWEEN -150.3 AND 150.3
        |  AND CAST(c_custkey % 120 - 60 + 0.25 AS DOUBLE)
        |    BETWEEN -60.3 AND 60.3 AS in_rect
        |FROM customer WHERE c_custkey < 500
        |ORDER BY c_custkey""".stripMargin,

    "sc21c_wkt_measure" ->
      // vertex doubles recomputed identically (string round-trip on the
      // Spark side is shortest-repr lossless); shoelace terms and segment
      // hypots mirrored in the exact accumulation order of WktCore
      """WITH g AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 5 AS DOUBLE) + 3.3 AS r
        |  FROM nation),
        |v AS (
        |  SELECT n_nationkey,
        |    cx + r AS x0, cy AS y0,
        |    cx AS x1, cy + r AS y1,
        |    cx - r AS x2, cy AS y2,
        |    cx AS x3, cy - r AS y3,
        |    cx AS p0x, cy AS p0y,
        |    cx + r AS p1x, cy + r AS p1y,
        |    cx + r + r AS p2x, cy AS p2y
        |  FROM g)
        |SELECT n_nationkey,
        |  CAST(floor(abs((x0*y1 - x1*y0) + (x1*y2 - x2*y1)
        |    + (x2*y3 - x3*y2) + (x3*y0 - x0*y3)) / 2 * 1e6 + 0.5)
        |    AS BIGINT) AS area_q6,
        |  CAST(floor((sqrt((p1x-p0x)*(p1x-p0x) + (p1y-p0y)*(p1y-p0y))
        |    + sqrt((p2x-p1x)*(p2x-p1x) + (p2y-p1y)*(p2y-p1y))) * 1e6 + 0.5)
        |    AS BIGINT) AS len_q6
        |FROM v ORDER BY n_nationkey""".stripMargin,

    "sc21d_geo_predicates" ->
      // closed forms, independent of the kernel: rect ⊆ diamond iff the
      // max-corner L1 distance to the center is < r; diamond ⊆ rect iff
      // the diamond's extreme intervals nest strictly; intersection is
      // j18's clamped-L1 formula; overlap = intersect minus both
      // containments. Same IEEE arithmetic shapes, margins ≥ 0.1.
      """WITH g AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 5 AS DOUBLE) + 3.3 AS r
        |  FROM nation),
        |m AS (
        |  SELECT g.*, mode
        |  FROM g, (SELECT unnest([0, 1, 2, 3]) AS mode) md),
        |p AS (
        |  SELECT n_nationkey, mode, cx, cy, r,
        |    cx + CASE mode WHEN 0 THEN 0.1 WHEN 1 THEN r + 0.15
        |      WHEN 2 THEN r * 3 ELSE 0.1 END AS ox,
        |    cy + CASE mode WHEN 0 THEN -0.1 WHEN 1 THEN 0.0
        |      WHEN 2 THEN 2.0 ELSE 0.2 END AS oy,
        |    CASE mode WHEN 0 THEN r / 4 WHEN 1 THEN r / 2
        |      WHEN 2 THEN 1.0 ELSE r * 2 END AS hw,
        |    CASE mode WHEN 0 THEN r / 5 WHEN 1 THEN r / 2
        |      WHEN 2 THEN 1.0 ELSE r * 2 END AS hh
        |  FROM m),
        |f AS (
        |  SELECT n_nationkey, mode,
        |    (greatest(abs(ox - hw - cx), abs(ox + hw - cx))
        |     + greatest(abs(oy - hh - cy), abs(oy + hh - cy))) < r
        |      AS rect_in_diamond,
        |    (cx - r > ox - hw AND cx + r < ox + hw
        |     AND cy - r > oy - hh AND cy + r < oy + hh) AS diamond_in_rect,
        |    (greatest((ox - hw) - cx, 0, cx - (ox + hw))
        |     + greatest((oy - hh) - cy, 0, cy - (oy + hh))) < r AS intersects
        |  FROM p)
        |SELECT n_nationkey, mode, rect_in_diamond, diamond_in_rect,
        |  intersects AND NOT rect_in_diamond AND NOT diamond_in_rect
        |    AS overlaps,
        |  intersects
        |FROM f ORDER BY n_nationkey, mode""".stripMargin,

    // sc21e: pure closed forms — every coordinate is dyadic so the
    // Spark kernels (polygon overlay, miter offset, shoelace area) are
    // exact, and the 1e6+0.5 quantization lands on the same integers
    // as these first-principles formulas; centers translate out of
    // every area
    "sc21e_geo_clipping" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS hw,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS hh,
        |    CAST((n_nationkey % 4) + 2 AS DOUBLE) AS r
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor((hw - 0.5) * (hh + 0.5) * 1e6 + 0.5) AS BIGINT)
        |    AS inter_rr_q6,
        |  CAST(floor((8 * hw * hh - (hw - 0.5) * (hh + 0.5)) * 1e6 + 0.5)
        |    AS BIGINT) AS union_rr_q6,
        |  CAST(floor(2 * (r / 2 + 0.25) * (r / 2 + 0.25) * 1e6 + 0.5)
        |    AS BIGINT) AS inter_dd_q6,
        |  CAST(floor((4 * r * r - 2 * (r / 2 + 0.25) * (r / 2 + 0.25))
        |    * 1e6 + 0.5) AS BIGINT) AS union_dd_q6,
        |  CAST(floor((2 * hw + 2.5) * (2 * hh + 2.5) * 1e6 + 0.5)
        |    AS BIGINT) AS buffer_q6,
        |  'POLYGON EMPTY' AS disjoint_wkt,
        |  CAST(floor(2 * r * r * 1e6 + 0.5) AS BIGINT) AS hull_q6,
        |  CAST(4 AS BIGINT) AS hull_nv
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21f: pure closed forms — dyadic axis-parallel fixtures make the
    // general clipper's crossing arithmetic and shoelace sums IEEE-exact,
    // so inclusion–exclusion identities land on these first-principles
    // products; component counts and the EMPTY text are structural
    "sc21f_geo_clipping_general" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor(3 * a * b / 4 * 1e6 + 0.5) AS BIGINT) AS inter_l_q6,
        |  CAST(floor(9 * a * b / 4 * 1e6 + 0.5) AS BIGINT) AS diff_l_q6,
        |  CAST(floor(13 * a * b / 4 * 1e6 + 0.5) AS BIGINT) AS union_l_q6,
        |  CAST(floor(a * b / 2 * 1e6 + 0.5) AS BIGINT) AS inter_u_q6,
        |  CAST(2 AS BIGINT) AS inter_u_ncomp,
        |  CAST(floor(9 * a * b / 2 * 1e6 + 0.5) AS BIGINT) AS diff_u_q6,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS union_far_q6,
        |  CAST(2 AS BIGINT) AS union_far_ncomp,
        |  'POLYGON EMPTY' AS contained_wkt
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21g: pure closed forms (dyadic fixtures — see the query notes);
    // ring counts and containment flags are structural constants
    "sc21g_geo_holes" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor(3 * a * b * 1e6 + 0.5) AS BIGINT) AS diff_hole_q6,
        |  CAST(2 AS BIGINT) AS diff_hole_nrings,
        |  CAST(floor(12.5 * a * b * 1e6 + 0.5) AS BIGINT) AS union_void_q6,
        |  CAST(2 AS BIGINT) AS union_void_nrings,
        |  CAST(floor(3 * a * b / 8 * 1e6 + 0.5) AS BIGINT) AS inter_cb_q6,
        |  CAST(floor(85 * a * b / 8 * 1e6 + 0.5) AS BIGINT) AS diff_cb_q6,
        |  false AS hole_center_in,
        |  true AS annulus_in,
        |  false AS void_center_in,
        |  true AS wall_in
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21h: structural constants + dyadic perimeter/area closed forms
    // (both wall windows are (3a/4)×(b/4); shell = the 2a×2b rectangle,
    // hole = the a×b inner rectangle — closed-ring lengths)
    "sc21h_geo_accessors_multi" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(2 AS BIGINT) AS ng_multi,
        |  CAST(1 AS BIGINT) AS ng_single,
        |  CAST(0 AS BIGINT) AS ng_empty,
        |  CAST(floor(3 * a * b / 16 * 1e6 + 0.5) AS BIGINT) AS g1_area_q6,
        |  true AS g3_null,
        |  CAST(1 AS BIGINT) AS n_holes,
        |  CAST(floor((4 * a + 4 * b) * 1e6 + 0.5) AS BIGINT) AS ext_len_q6,
        |  CAST(floor((2 * a + 2 * b) * 1e6 + 0.5) AS BIGINT) AS int_len_q6,
        |  true AS ring2_null,
        |  true AS in_window1,
        |  false AS between_windows
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21i: dyadic closed forms — window bbox [13a/4, 4a]×[5b/4, 11b/4]
    // around the centers, big's bbox for the holed shape, and the two
    // symmetry-exact centroids
    "sc21i_geo_env_centroid_multi" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor((cx + 13 * a / 4) * 1e6 + 0.5) AS BIGINT) AS m_xmin_q6,
        |  CAST(floor((cx + 4 * a) * 1e6 + 0.5) AS BIGINT) AS m_xmax_q6,
        |  CAST(floor((cy + 5 * b / 4) * 1e6 + 0.5) AS BIGINT) AS m_ymin_q6,
        |  CAST(floor((cy + 11 * b / 4) * 1e6 + 0.5) AS BIGINT) AS m_ymax_q6,
        |  CAST(floor((cx + 2 * a) * 1e6 + 0.5) AS BIGINT) AS h_xmax_q6,
        |  CAST(floor((cy + 2 * b) * 1e6 + 0.5) AS BIGINT) AS h_ymax_q6,
        |  CAST(floor((cx + a) * 1e6 + 0.5) AS BIGINT) AS h_cx_q6,
        |  CAST(floor((cy + b) * 1e6 + 0.5) AS BIGINT) AS h_cy_q6,
        |  CAST(floor((cx + 29 * a / 8) * 1e6 + 0.5) AS BIGINT) AS m_cx_q6,
        |  CAST(floor((cy + 2 * b) * 1e6 + 0.5) AS BIGINT) AS m_cy_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21j: verdicts and reason strings are structural constants
    "sc21j_geo_validity" ->
      """SELECT n_nationkey,
        |  true AS v_rect, CAST(NULL AS VARCHAR) AS r_rect,
        |  true AS v_dhole,
        |  false AS v_bow, 'self-intersecting ring' AS r_bow,
        |  false AS v_flat, 'zero-area ring' AS r_flat,
        |  false AS v_hole_out,
        |  'interior ring not inside shell' AS r_hole_out,
        |  false AS v_hole_cross,
        |  'interior ring crosses shell' AS r_hole_cross,
        |  false AS v_nested, 'nested component shells' AS r_nested,
        |  true AS v_empty,
        |  true AS v_pt, true AS v_line,
        |  true AS v_gc_ok, false AS v_gc_bad,
        |  'self-intersecting ring' AS r_gc_bad
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // sc21k: dyadic rectangle/diamond closed forms; the flagship text
    // column re-renders the fused rectangle with DuckDB's own
    // shortest-round-trip double → VARCHAR (identical to Java's for
    // these dyadic values — the p2t2 contract)
    "sc21k_geo_shared_border" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS adj_union_wkt,
        |  CAST(floor(2 * a * b * 1e6 + 0.5) AS BIGINT) AS adj_union_q6,
        |  'POLYGON EMPTY' AS adj_inter_wkt,
        |  CAST(floor(a * b * 1e6 + 0.5) AS BIGINT) AS adj_diff_q6,
        |  CAST(2 AS BIGINT) AS corner_ncomp,
        |  CAST(floor(2 * a * b * 1e6 + 0.5) AS BIGINT) AS corner_union_q6,
        |  true AS corner_valid,
        |  CAST(floor(12 * a * b * 1e6 + 0.5) AS BIGINT) AS t_union_q6,
        |  CAST(1 AS BIGINT) AS t_union_ncomp,
        |  CAST(floor(8 * a * b * 1e6 + 0.5) AS BIGINT) AS t_diff_q6,
        |  CAST(floor(a * b / 4 * 1e6 + 0.5) AS BIGINT) AS vx_inter_q6,
        |  CAST(floor(17 * a * b / 4 * 1e6 + 0.5) AS BIGINT) AS vx_union_q6,
        |  CAST(floor(15 * a * b / 4 * 1e6 + 0.5) AS BIGINT) AS vx_diff_q6,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS ov_union_q6,
        |  'POLYGON EMPTY' AS ov_inter_wkt,
        |  CAST(floor(2 * a * b * 1e6 + 0.5) AS BIGINT) AS ov_diff_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21l: dyadic closed forms on the sc21g fixture frame; the plug
    // union re-renders `big` text-exactly
    "sc21l_geo_holed_inputs" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor(a * b / 4 * 1e6 + 0.5) AS BIGINT) AS win_inter_q6,
        |  CAST(floor(11 * a * b / 4 * 1e6 + 0.5) AS BIGINT)
        |    AS bite_diff_q6,
        |  CAST(1 AS BIGINT) AS bite_nrings,
        |  CAST(floor(23 * a * b / 8 * 1e6 + 0.5) AS BIGINT)
        |    AS bite2_diff_q6,
        |  CAST(2 AS BIGINT) AS bite2_nrings,
        |  'POLYGON EMPTY' AS inhole_wkt,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS plug_union_wkt,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS plug_union_q6,
        |  CAST(floor(3 * a * b * 1e6 + 0.5) AS BIGINT) AS self_inter_q6,
        |  CAST(2 AS BIGINT) AS self_inter_nrings
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21m: every relate verdict is a structural constant of the
    // dyadic fixture frame
    "sc21m_geo_relate" ->
      """SELECT n_nationkey,
        |  true AS t_adj, true AS t_corner, false AS t_over,
        |  false AS t_contained, false AS t_equal, false AS t_far,
        |  false AS c_areal, true AS t_plug,
        |  true AS c_through, false AS t_through,
        |  true AS t_edge, true AS t_edge_sym, false AS c_edge,
        |  true AS t_end, false AS t_in, false AS c_in, true AS i_in,
        |  false AS i_hole, true AS c_hole_exit,
        |  true AS c_x, false AS t_x, true AS t_tee, false AS c_tee,
        |  false AS t_overlap, true AS i_overlap,
        |  true AS t_pt_edge, false AS t_pt_in,
        |  true AS t_pt_term, false AS t_pt_mid, true AS i_pt_mid
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // sc21n: closed-form chain strings (all crossing coordinates dyadic
    // — see the query note) + dyadic lengths
    "sc21n_geo_line_clip" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('LINESTRING (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 1.75 * b AS VARCHAR), ', ',
        |    CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 1.75 * b AS VARCHAR), ')') AS th_wkt,
        |  CAST(floor(2 * a * 1e6 + 0.5) AS BIGINT) AS th_len_q6,
        |  concat('MULTILINESTRING ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ',
        |    CAST(cx + a / 2 AS VARCHAR), ' ', CAST(cy + b AS VARCHAR),
        |    '), (', CAST(cx + 1.5 * a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR),
        |    ' ', CAST(cy + b AS VARCHAR), '))') AS span_wkt,
        |  CAST(floor(a * 1e6 + 0.5) AS BIGINT) AS span_len_q6,
        |  concat('LINESTRING (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS edge_wkt,
        |  CAST(floor(2 * a * 1e6 + 0.5) AS BIGINT) AS edge_len_q6,
        |  'LINESTRING EMPTY' AS far_wkt,
        |  'LINESTRING EMPTY' AS inhole_wkt
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21o: dyadic closed forms; the dissolve and hull texts are the
    // canonical rectangles both engines render from first principles
    "sc21o_geo_aggregates" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS u1_wkt,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS u1_area_q6,
        |  CAST(2 AS BIGINT) AS u2_ncomp,
        |  CAST(floor(2 * a * b * 1e6 + 0.5) AS BIGINT) AS u2_area_q6,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS h1_wkt,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS h2_area_q6,
        |  CAST(floor(6 * (a + b) * 1e6 + 0.5) AS BIGINT) AS bnd_len_q6,
        |  CAST(2 AS BIGINT) AS bnd_nrings
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21p: structural constants (the hole vetoes w_in_hole; the
    // shared-edge containment holds; the plugged union equals big as a
    // point set)
    "sc21p_geo_within_multi" ->
      """SELECT n_nationkey,
        |  true AS w_clean,
        |  false AS w_in_hole,
        |  true AS w_wall,
        |  true AS w_shared_edge,
        |  false AS w_reverse,
        |  true AS w_holed_arg,
        |  true AS o_wall_bite,
        |  false AS o_plug,
        |  false AS o_equal,
        |  true AS eq_plugged,
        |  false AS eq_holed,
        |  true AS eq_pt,
        |  false AS eq_mixed
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // sc21q: dyadic squared-distance closed forms; sqrt is correctly
    // rounded identically in both engines
    "sc21q_geo_distance" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor(sqrt(a * a + b * b) * 1e6 + 0.5) AS BIGINT)
        |    AS d_pp_q6,
        |  CAST(floor(a * 1e6 + 0.5) AS BIGINT) AS d_pt_poly_q6,
        |  CAST(floor(least(a / 2, b / 2) * 1e6 + 0.5) AS BIGINT)
        |    AS d_in_hole_q6,
        |  CAST(floor((1000 - 2 * a) * 1e6 + 0.5) AS BIGINT) AS d_gap_q6,
        |  CAST(floor(b * 1e6 + 0.5) AS BIGINT) AS d_line_q6,
        |  CAST(floor(4 * b * 1e6 + 0.5) AS BIGINT) AS d_ll_q6,
        |  CAST(floor(sqrt(a * a + b * b) * 1e6 + 0.5) AS BIGINT)
        |    AS d_diag_q6,
        |  CAST(0 AS BIGINT) AS d_touch_q6,
        |  CAST(0 AS BIGINT) AS d_over_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21r: structural constants + dyadic coordinate texts; the
    // midpoint locate is exactly 1/2 for every (a, b) by construction
    "sc21r_geo_accessors_line" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  'ST_LineString' AS t_line,
        |  'ST_Polygon' AS t_poly,
        |  'ST_MultiPolygon' AS t_multi,
        |  'ST_Point' AS t_pt,
        |  true AS e_empty,
        |  false AS e_rect,
        |  CAST(1 AS BIGINT) AS dim_line,
        |  CAST(2 AS BIGINT) AS dim_poly,
        |  CAST(4 AS BIGINT) AS np_line,
        |  concat('POINT (', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS p2_wkt,
        |  true AS p9_null,
        |  concat('POINT (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS sp_wkt,
        |  concat('POINT (', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ')') AS ep_wkt,
        |  false AS c_open,
        |  true AS c_ring,
        |  true AS r_ring,
        |  false AS r_bow,
        |  CAST(500000 AS BIGINT) AS loc_mid_q6,
        |  CAST(floor((a / 2) / (2 * a + b) * 1e6 + 0.5) AS BIGINT)
        |    AS loc_q_q6,
        |  concat('POINT (', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), ')') AS interp_mid_wkt,
        |  concat('POINT (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS interp_0_wkt,
        |  concat('POINT (', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ')') AS interp_1_wkt
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21s: the simplified texts are the canonical closed forms
    "sc21s_geo_simplify" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS simp_poly_wkt,
        |  CAST(floor(4 * a * b * 1e6 + 0.5) AS BIGINT) AS simp_area_q6,
        |  concat('LINESTRING (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS simp_line_wkt,
        |  CAST(4 AS BIGINT) AS noop_np,
        |  true AS dhole_same,
        |  concat('MULTILINESTRING ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '), (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), '))') AS simp_ml_wkt
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21t: rectilinear miter-buffer closed forms — L: area 3ab,
    // perimeter 4(a+b); U: area 5ab, perimeter 6(a+b); + P·d + 4d²
    "sc21t_geo_buffer_concave" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor((3 * a * b + (4 * a + 4 * b) * b / 4
        |    + 4 * (b / 4) * (b / 4)) * 1e6 + 0.5) AS BIGINT) AS l_buf_q6,
        |  CAST(floor((5 * a * b + (6 * a + 6 * b) * b / 4
        |    + 4 * (b / 4) * (b / 4)) * 1e6 + 0.5) AS BIGINT) AS u_buf_q6,
        |  CAST(floor(CASE WHEN b >= a THEN
        |      6 * a * b + (6 * a + 4 * b) * b / 2 + 4 * (b / 2) * (b / 2)
        |    ELSE
        |      5 * a * b + (6 * a + 6 * b) * b / 2 + 4 * (b / 2) * (b / 2)
        |    END * 1e6 + 0.5) AS BIGINT) AS u_buf_merge_q6,
        |  true AS l_contains_input,
        |  CAST(floor(3 * a * b * 1e6 + 0.5) AS BIGINT) AS l_d0_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21u: exact GeoJSON texts by string construction + round-trip
    // truths
    "sc21u_geo_geojson" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('{"type":"Point","coordinates":[', CAST(cx AS VARCHAR),
        |    ',', CAST(cy AS VARCHAR), ']}') AS gj_point,
        |  concat('{"type":"Polygon","coordinates":[[[',
        |    CAST(cx AS VARCHAR), ',', CAST(cy AS VARCHAR), '],[',
        |    CAST(cx + a AS VARCHAR), ',', CAST(cy AS VARCHAR), '],[',
        |    CAST(cx + a AS VARCHAR), ',', CAST(cy + b AS VARCHAR), '],[',
        |    CAST(cx AS VARCHAR), ',', CAST(cy + b AS VARCHAR), '],[',
        |    CAST(cx AS VARCHAR), ',', CAST(cy AS VARCHAR), ']]]}')
        |    AS gj_poly,
        |  true AS rt_holed,
        |  true AS rt_line,
        |  CAST(floor(2 * a * b * 1e6 + 0.5) AS BIGINT) AS rt_multi_q6,
        |  true AS rt_multi_same
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21v: WKB byte lengths are closed forms over the fixtures'
    // vertex counts; the unit-point hex is the OGC little-endian
    // constant; the holed round-trip area is big (4ab) − inner (ab)
    "sc21v_geo_wkb" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(21 AS BIGINT) AS len_point,
        |  CAST(93 AS BIGINT) AS len_rect,
        |  CAST(177 AS BIGINT) AS len_holed,
        |  CAST(195 AS BIGINT) AS len_multi,
        |  CAST(57 AS BIGINT) AS len_line,
        |  true AS rt_holed,
        |  true AS rt_multi,
        |  CAST(floor(3 * a * b * 1e6 + 0.5) AS BIGINT) AS rt_area_q6,
        |  '0101000000000000000000f03f0000000000000040' AS hex_unit
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21w: nearest-pair points and quarter interpolants as exact
    // dyadic texts by string construction
    "sc21w_geo_nearest_simple" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  concat('POINT (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')') AS np_a,
        |  concat('POINT (', CAST(cx - 3 AS VARCHAR), ' ',
        |    CAST(cy - 4 AS VARCHAR), ')') AS np_b,
        |  concat('POINT (', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ')') AS np2_a,
        |  concat('POINT (', CAST(cx + a + 2 AS VARCHAR), ' ',
        |    CAST(cy + b + 1 AS VARCHAR), ')') AS np2_b,
        |  true AS simp_line,
        |  false AS simp_bow,
        |  CAST(2 AS BIGINT) AS cdim,
        |  concat(
        |    'POINT (', CAST(cx + 1 AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ')|POINT (', CAST(cx + 2 AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ')|POINT (', CAST(cx + 3 AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ')|POINT (', CAST(cx + 3 AS VARCHAR), ' ',
        |    CAST(cy + 1 AS VARCHAR), ')') AS interp_q,
        |  CAST(floor(16 * b * b * sin(pi() / 16) * 1e6 + 0.5) AS BIGINT)
        |    AS pbuf_q6,
        |  true AS pbuf_ctr
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21x: haversine meters + C&D spherical excess mirrored
    // operation-for-operation (K = π/180, 12742.0176 = 2R km,
    // 6371008.8 = R m; the two zero edges of the rect drop from the
    // sum without changing any rounding — x + 0.0 is exact)
    "sc21x_geo_spherical" -> {
      val k = "0.017453292519943295"
      val dmeters =
        s"""12742.0176 * asin(sqrt(least(
           |    sin(((lat + b) * $k - lat * $k) / 2) *
           |    sin(((lat + b) * $k - lat * $k) / 2) +
           |    cos(lat * $k) * cos((lat + b) * $k) *
           |    sin(((lon + a) * $k - lon * $k) / 2) *
           |    sin(((lon + a) * $k - lon * $k) / 2),
           |    CAST(1.0 AS DOUBLE)))) * 1000.0""".stripMargin
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |    CAST(c_custkey % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         |    CAST(c_custkey * 7 % 150 - 75 + 0.5 AS DOUBLE) AS lon,
         |    CAST((c_custkey % 5) + 2 AS DOUBLE) AS a,
         |    CAST((c_custkey % 3) + 1 AS DOUBLE) AS b
         |  FROM customer WHERE c_custkey < 500)
         |SELECT c_custkey,
         |  CAST(floor($dmeters * 1e6 + 0.5) AS BIGINT) AS d_m_q6,
         |  CAST(floor(abs(
         |    ((lon + a) * $k - lon * $k) *
         |      (2.0 + sin(lat * $k) + sin(lat * $k)) +
         |    (lon * $k - (lon + a) * $k) *
         |      (2.0 + sin((lat + b) * $k) + sin((lat + b) * $k))
         |  ) / 2 * 6371008.8 * 6371008.8 + 0.5) AS BIGINT) AS area_m2_q0,
         |  CAST(floor($dmeters * 1e6 + 0.5) AS BIGINT) AS len_m_q6,
         |  true AS rt_tag
         |FROM pts ORDER BY c_custkey""".stripMargin
    },

    // sc21z: structural constants + the 3-4-5 distance + point texts by
    // string construction (WKB length: 9-byte header + 2 × 21-byte
    // nested points)
    "sc21z_geo_multipoint" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  'ST_MultiPoint' AS gtype,
        |  CAST(2 AS BIGINT) AS ng,
        |  concat('POINT (', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ')') AS second_pt,
        |  CAST(5000000 AS BIGINT) AS d5_q6,
        |  concat('POINT (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ')|POINT (', CAST(cx + a AS VARCHAR),
        |    ' ', CAST(cy + b AS VARCHAR), ')') AS pts_j,
        |  CAST(51 AS BIGINT) AS wkb_len,
        |  true AS rt_agree,
        |  true AS simple_mp,
        |  CAST(0 AS BIGINT) AS dim0
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21y: structural constants + dyadic lengths/texts; the geography
    // length re-derives the haversine operation-for-operation (the
    // sc21x mirror); WKB length = 9-byte header + 2 parts × (9 + 2·16)
    "sc21y_geo_multiline" -> {
      val k = s"CAST(${math.Pi / 180.0} AS DOUBLE)"
      def gc(lon1: String, lat1: String, lon2: String, lat2: String)
          : String = {
        val sdp = s"sin((($lat2) * $k - ($lat1) * $k) / 2)"
        val sdl = s"sin((($lon2) * $k - ($lon1) * $k) / 2)"
        val a = s"$sdp * $sdp + cos(($lat1) * $k) * cos(($lat2) * $k)" +
          s" * $sdl * $sdl"
        s"(12742.0176 * asin(sqrt(least($a, 1.0))) * 1000.0)"
      }
      s"""WITH p AS (
         |  SELECT n_nationkey,
         |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
         |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
         |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
         |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
         |  FROM nation)
         |SELECT n_nationkey,
         |  'ST_MultiLineString' AS gtype,
         |  CAST(2 AS BIGINT) AS ng,
         |  concat('LINESTRING (', CAST(cx + a AS VARCHAR), ' ',
         |    CAST(cy AS VARCHAR), ', ', CAST(cx + a AS VARCHAR), ' ',
         |    CAST(cy + b AS VARCHAR), ')') AS g2,
         |  CAST(4 AS BIGINT) AS npts,
         |  CAST(floor((a + b) * 1e6 + 0.5) AS BIGINT) AS len_q6,
         |  true AS closed_ring,
         |  false AS closed_elbow,
         |  concat('MULTIPOINT ((', CAST(cx AS VARCHAR), ' ',
         |    CAST(cy AS VARCHAR), '), (', CAST(cx + a AS VARCHAR), ' ',
         |    CAST(cy + b AS VARCHAR), '))') AS bnd,
         |  'MULTIPOINT EMPTY' AS bnd_closed,
         |  concat('MULTIPOINT ((', CAST(cx AS VARCHAR), ' ',
         |    CAST(cy AS VARCHAR), '), (', CAST(cx + a / 2 AS VARCHAR),
         |    ' ', CAST(cy AS VARCHAR), '))') AS bnd_ls,
         |  'GEOMETRYCOLLECTION EMPTY' AS bnd_pt,
         |  CAST(4 AS BIGINT) AS bnd_tee_n,
         |  true AS s_elbow, false AS s_tee, false AS s_plus,
         |  false AS s_dup, true AS s_empty,
         |  true AS t_end, false AS c_end, true AS t_mid,
         |  true AS c_cross, false AS t_cross,
         |  true AS i_ovl, false AS t_ovl, false AS c_ovl,
         |  CAST(100000000 AS BIGINT) AS d100_q6,
         |  concat('LINESTRING (', CAST(cx AS VARCHAR), ' ',
         |    CAST(cy AS VARCHAR), ', ', CAST(cx + a / 2 AS VARCHAR), ' ',
         |    CAST(cy AS VARCHAR), ')') AS clip_wkt,
         |  CAST(floor((${gc("cx", "cy", "cx + a", "cy")} +
         |    ${gc("cx + a", "cy", "cx + a", "cy + b")}) * 1e6 + 0.5)
         |    AS BIGINT) AS geo_len_q6,
         |  CAST(91 AS BIGINT) AS wkb_len,
         |  true AS rt_wkb, true AS rt_gj,
         |  CAST(floor((a * (cx + a / 2) + b * (cx + a)) / (a + b)
         |    * 1e6 + 0.5) AS BIGINT) AS cen_x_q6,
         |  CAST(floor((a * cy + b * (cy + b / 2)) / (a + b)
         |    * 1e6 + 0.5) AS BIGINT) AS cen_y_q6,
         |  CAST(floor((cx + (cx + a)) / 2 * 1e6 + 0.5) AS BIGINT)
         |    AS mp_cen_x_q6
         |FROM p ORDER BY n_nationkey""".stripMargin
    },

    // sc21aa: structural constants; canonical texts by string
    // construction; WKB length = 9 + 21 (point) + 41 (2-pt line) +
    // 93 (5-pt-ring polygon) = 164
    "sc21aa_geo_collection" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  'ST_GeomCollection' AS gtype,
        |  CAST(3 AS BIGINT) AS ng,
        |  concat('POINT (', CAST(cx AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ')') AS g1,
        |  CAST(floor(a * b * 1e6 + 0.5) AS BIGINT) AS g3_area_q6,
        |  CAST(2 AS BIGINT) AS dim2,
        |  CAST(2 AS BIGINT) AS ng_nested,
        |  CAST(0 AS BIGINT) AS dim_nested,
        |  true AS e_lit, true AS e_members, false AS e_full,
        |  CAST(164 AS BIGINT) AS wkb_len,
        |  true AS rt_wkb, true AS rt_gj,
        |  CAST(floor(a * b * 1e6 + 0.5) AS BIGINT) AS gc_area_q6,
        |  true AS gc_i_hit,
        |  false AS gc_i_miss,
        |  CAST(floor(b * 1e6 + 0.5) AS BIGINT) AS gc_d_q6,
        |  concat('GEOMETRYCOLLECTION (POLYGON ((',
        |    CAST(cx AS VARCHAR), ' ', CAST(cy AS VARCHAR), ', ',
        |    CAST(cx + 2 * a AS VARCHAR), ' ', CAST(cy AS VARCHAR), ', ',
        |    CAST(cx + 2 * a AS VARCHAR), ' ', CAST(cy + b AS VARCHAR),
        |    ', ', CAST(cx AS VARCHAR), ' ', CAST(cy + b AS VARCHAR),
        |    ', ', CAST(cx AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ')), LINESTRING (', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ', CAST(cx + a AS VARCHAR),
        |    ' ', CAST(cy + 2 * b AS VARCHAR), '), POINT (',
        |    CAST(cx AS VARCHAR), ' ', CAST(cy + 3 * b AS VARCHAR), '))')
        |    AS ua_wkt
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21ab: rectilinear round-buffer closed forms — dilation
    // A + P·d + #convex·4d²·sin(π/16) − #reflex·d², erosion
    // A − P·d + #convex·d² − #reflex·4d²·sin(π/16) (the d×d corner
    // overlaps and the reflex arc fan are exact by construction);
    // axis-parallel erosion text is the inner rectangle, dyadic
    "sc21ab_geo_buffer_round" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor((4 * a * b + (4 * a + 4 * b) * (b / 2) +
        |    16 * (b / 2) * (b / 2) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS sq_round_q6,
        |  true AS sq_within,
        |  CAST(floor((3 * a * b + (4 * a + 4 * b) * (b / 4) -
        |    (b / 4) * (b / 4) +
        |    20 * (b / 4) * (b / 4) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS l_round_q6,
        |  concat('POLYGON ((',
        |    CAST(cx + b / 2 AS VARCHAR), ' ', CAST(cy + b / 2 AS VARCHAR),
        |    ', ', CAST(cx + 2 * a - b / 2 AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), ', ',
        |    CAST(cx + 2 * a - b / 2 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 2 AS VARCHAR), ', ',
        |    CAST(cx + b / 2 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 2 AS VARCHAR), ', ',
        |    CAST(cx + b / 2 AS VARCHAR), ' ', CAST(cy + b / 2 AS VARCHAR),
        |    '))') AS erode_sq_wkt,
        |  CAST(floor((2 * a - b) * b * 1e6 + 0.5) AS BIGINT)
        |    AS erode_sq_q6,
        |  CAST(floor((3 * a * b - (4 * a + 4 * b) * (b / 4) +
        |    5 * (b / 4) * (b / 4) -
        |    4 * (b / 4) * (b / 4) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS erode_l_q6,
        |  true AS erode_within,
        |  'POLYGON EMPTY' AS erode_all,
        |  true AS pt_styles_agree,
        |  CAST(floor((2 * (b / 2) * (2 * a) +
        |    16 * (b / 2) * (b / 2) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS cap_q6,
        |  CAST(floor((2 * (b / 4) * (2 * a + b) - (b / 4) * (b / 4) +
        |    20 * (b / 4) * (b / 4) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS elb_q6,
        |  CAST(floor(((4 * a + 4 * b) * (2 * (b / 4)) -
        |    4 * (b / 4) * (b / 4) +
        |    16 * (b / 4) * (b / 4) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS band_q6,
        |  CAST(floor(2 * a * 1e6 + 0.5) AS BIGINT) AS cap_cover_len_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21ac: canonical texts by string construction (chains in line
    // order, collection members in fixed dimension order) + the dyadic
    // outside-chain length
    "sc21ac_geo_mixed_ops" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation),
        |w AS (
        |  SELECT n_nationkey, cx, cy, a, b,
        |    concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |      CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |      CAST(cy AS VARCHAR), ', ', CAST(cx + 2 * a AS VARCHAR), ' ',
        |      CAST(cy + b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |      CAST(cy + b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |      CAST(cy AS VARCHAR), '))') AS rcanon,
        |    concat('LINESTRING (', CAST(cx + a AS VARCHAR), ' ',
        |      CAST(cy + b / 2 AS VARCHAR), ', ',
        |      CAST(cx + 3 * a AS VARCHAR), ' ',
        |      CAST(cy + b / 2 AS VARCHAR), ')') AS halfline,
        |    concat('POINT (', CAST(cx AS VARCHAR), ' ',
        |      CAST(cy + 2 * b AS VARCHAR), ')') AS outpt
        |  FROM p)
        |SELECT n_nationkey,
        |  concat('GEOMETRYCOLLECTION (', rcanon, ', ', halfline, ')')
        |    AS u_line,
        |  rcanon AS u_covered,
        |  rcanon AS u_pt_in,
        |  concat('GEOMETRYCOLLECTION (', rcanon, ', ', outpt, ')')
        |    AS u_pt_out,
        |  outpt AS u_pts2,
        |  concat('GEOMETRYCOLLECTION (', rcanon, ', ', halfline, ', ',
        |    outpt, ')') AS u_gc,
        |  concat('MULTILINESTRING ((', CAST(cx - a AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), '), (',
        |    CAST(cx + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), ', ',
        |    CAST(cx + 3 * a AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), '))') AS d_chord,
        |  CAST(floor(2 * a * 1e6 + 0.5) AS BIGINT) AS d_chord_len_q6,
        |  rcanon AS d_area,
        |  'MULTIPOINT EMPTY' AS d_pt_in,
        |  outpt AS d_pt_out,
        |  outpt AS d_mp,
        |  'MULTIPOINT EMPTY' AS d_pt_line
        |FROM w ORDER BY n_nationkey""".stripMargin,

    // sc21af: canonical texts by string construction — covered runs in
    // document order, contact points sorted by (x, y), the GC-operand
    // absorb in dimension order, MULTIPOINT EMPTY on disjoint — plus
    // the closed-form kept length a
    "sc21af_geo_line_intersection" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation),
        |w AS (
        |  SELECT n_nationkey, cx, cy, a, b,
        |    CAST(cy AS VARCHAR) AS sy,
        |    CAST(cx + a AS VARCHAR) AS x1,
        |    CAST(cx + 2 * a AS VARCHAR) AS x2,
        |    CAST(cx + 3 * a AS VARCHAR) AS x3,
        |    CAST(cx + 4 * a AS VARCHAR) AS x4
        |  FROM p)
        |SELECT n_nationkey,
        |  concat('LINESTRING (', x1, ' ', sy, ', ', x2, ' ', sy, ')')
        |    AS i_mid,
        |  CAST(floor(a * 1e6 + 0.5) AS BIGINT) AS i_mid_len_q6,
        |  concat('MULTILINESTRING ((', x1, ' ', sy, ', ', x2, ' ', sy,
        |    '), (', x3, ' ', sy, ', ', x4, ' ', sy, '))') AS i_two,
        |  concat('POINT (', x2, ' ', sy, ')') AS i_cross,
        |  concat('MULTIPOINT ((', x1, ' ', sy, '), (', x3, ' ', sy,
        |    '))') AS i_cross2,
        |  concat('GEOMETRYCOLLECTION (LINESTRING (', x1, ' ', sy, ', ',
        |    x2, ' ', sy, '), POINT (', x3, ' ', sy, '))') AS i_gc,
        |  'MULTIPOINT EMPTY' AS i_disj,
        |  concat('POINT (', x1, ' ', sy, ')') AS i_pt,
        |  concat('POINT (', x1, ' ', sy, ')') AS i_mp
        |FROM w ORDER BY n_nationkey""".stripMargin,

    // sc21ag: canonical texts by string construction — the two L-piece
    // rings lex-min-started CCW inside the MULTIPOLYGON, line runs in
    // minuend-first order, points deduped + sorted — plus closed-form
    // area 6a², length 2a, and the always-true commutativity / length-
    // duality pins
    "sc21ag_geo_sym_difference" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation),
        |w AS (
        |  SELECT n_nationkey, cx, cy, a, b,
        |    CAST(cx AS VARCHAR) AS x0, CAST(cy AS VARCHAR) AS y0,
        |    CAST(cx + a AS VARCHAR) AS xa,
        |    CAST(cx + 2 * a AS VARCHAR) AS x2a,
        |    CAST(cx + 3 * a AS VARCHAR) AS x3a,
        |    CAST(cx + 4 * a AS VARCHAR) AS x4a,
        |    CAST(cx + 5 * a AS VARCHAR) AS x5a,
        |    CAST(cy + a AS VARCHAR) AS ya,
        |    CAST(cy + 2 * a AS VARCHAR) AS y2a,
        |    CAST(cy + 3 * a AS VARCHAR) AS y3a,
        |    CAST(cy - b AS VARCHAR) AS ymb,
        |    CAST(cy + b AS VARCHAR) AS ypb,
        |    CAST(cy + 2 * b AS VARCHAR) AS y2b,
        |    CAST(cy + 5 * b AS VARCHAR) AS y5b,
        |    CAST(cx + 100 AS VARCHAR) AS xf0,
        |    CAST(cx + 100 + a AS VARCHAR) AS xf1
        |  FROM p)
        |SELECT n_nationkey,
        |  concat('MULTIPOLYGON (((',
        |    x0, ' ', y0, ', ', x2a, ' ', y0, ', ', x2a, ' ', ya, ', ',
        |    xa, ' ', ya, ', ', xa, ' ', y2a, ', ', x0, ' ', y2a, ', ',
        |    x0, ' ', y0, ')), ((',
        |    xa, ' ', y2a, ', ', x2a, ' ', y2a, ', ', x2a, ' ', ya, ', ',
        |    x3a, ' ', ya, ', ', x3a, ' ', y3a, ', ', xa, ' ', y3a, ', ',
        |    xa, ' ', y2a, ')))') AS s_sq,
        |  CAST(floor(6 * a * a * 1e6 + 0.5) AS BIGINT) AS s_sq_area_q6,
        |  true AS s_commut,
        |  concat('MULTILINESTRING ((', x0, ' ', y0, ', ', xa, ' ', y0,
        |    '), (', x4a, ' ', y0, ', ', x5a, ' ', y0, '))') AS s_line,
        |  CAST(floor(2 * a * 1e6 + 0.5) AS BIGINT) AS s_line_len_q6,
        |  true AS s_len_dual,
        |  'POLYGON EMPTY' AS s_self,
        |  concat('MULTIPOINT ((', x0, ' ', y0, '), (', x2a, ' ', y0,
        |    '))') AS s_pts,
        |  concat('LINESTRING (', x0, ' ', y0, ', ', x4a, ' ', y0, ')')
        |    AS s_ptln,
        |  concat('POINT (', x0, ' ', y5b, ')') AS s_gc,
        |  concat('MULTILINESTRING ((', x0, ' ', y0, ', ', x4a, ' ', y0,
        |    '), (', x2a, ' ', ymb, ', ', x2a, ' ', ypb, '))') AS s_cross,
        |  true AS s_commut_ln,
        |  concat('GEOMETRYCOLLECTION (POLYGON ((',
        |    x0, ' ', y0, ', ', x2a, ' ', y0, ', ', x2a, ' ', y2b, ', ',
        |    x0, ' ', y2b, ', ', x0, ' ', y0,
        |    ')), LINESTRING (', xf0, ' ', y0, ', ', xf1, ' ', y0, '))')
        |    AS s_mix
        |FROM w ORDER BY n_nationkey""".stripMargin,

    // sc21ae: closed forms — k disjoint 32-gon disks = k·16d²·sin(π/16);
    // the mixed collection sums disk + capsule + rectangle-dilation
    // terms written operation-for-operation; canonical/EMPTY texts by
    // string construction
    "sc21ae_geo_buffer_multi" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation)
        |SELECT n_nationkey,
        |  CAST(floor(3 * (16 * b * b * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS mp_area_q6,
        |  CAST(3 AS BIGINT) AS mp_n,
        |  CAST(1 AS BIGINT) AS mp_near_n,
        |  concat('MULTIPOINT ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '), (', CAST(cx + 100 AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '), (', CAST(cx + 200 AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS mp_zero,
        |  'POLYGON EMPTY' AS mp_neg,
        |  'POLYGON EMPTY' AS mp_empty,
        |  CAST(floor((16 * (b / 2) * (b / 2) * sin(pi() / 16) +
        |    (2 * (b / 2) * (2 * a) + 16 * (b / 2) * (b / 2) *
        |      sin(pi() / 16)) +
        |    (4 * a * b + (4 * a + 4 * b) * (b / 2) +
        |      16 * (b / 2) * (b / 2) * sin(pi() / 16))) * 1e6 + 0.5)
        |    AS BIGINT) AS gc_area_q6,
        |  CAST(3 AS BIGINT) AS gc_n,
        |  'POLYGON EMPTY' AS gc_empty,
        |  CAST(floor(16 * b * b * sin(pi() / 16) * 1e6 + 0.5) AS BIGINT)
        |    AS gc_skip_q6,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx + a AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy + b AS VARCHAR), ', ', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), '))') AS hull_mp,
        |  concat('POLYGON ((', CAST(cx AS VARCHAR), ' ',
        |    CAST(cy AS VARCHAR), ', ',
        |    CAST(cx + 200 + 2 * a AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    ', ', CAST(cx + 200 + 2 * a AS VARCHAR), ' ',
        |    CAST(cy + 2 * b AS VARCHAR), ', ',
        |    CAST(cx + 200 AS VARCHAR), ' ', CAST(cy + 2 * b AS VARCHAR),
        |    ', ', CAST(cx AS VARCHAR), ' ', CAST(cy AS VARCHAR), '))')
        |    AS hull_gc,
        |  CAST(floor((cx + 200 + a) * 1e6 + 0.5) AS BIGINT) AS cgx_q6,
        |  CAST(floor((cy + b) * 1e6 + 0.5) AS BIGINT) AS cgy_q6,
        |  CAST(floor(cx * 1e6 + 0.5) AS BIGINT) AS cpx_q6,
        |  CAST(floor((cx + 200 + 2 * a) * 1e6 + 0.5) AS BIGINT)
        |    AS env_xmax_q6,
        |  CAST(floor((cy + 2 * b) * 1e6 + 0.5) AS BIGINT) AS env_ymax_q6,
        |  CAST(floor(cx * 1e6 + 0.5) AS BIGINT) AS env_xmin_q6,
        |  CAST(floor((cy + b) * 1e6 + 0.5) AS BIGINT) AS env_mp_ymax_q6,
        |  concat('GEOMETRYCOLLECTION (POINT (', CAST(cx AS VARCHAR),
        |    ' ', CAST(cy AS VARCHAR), '), LINESTRING (',
        |    CAST(cx + 100 AS VARCHAR), ' ', CAST(cy AS VARCHAR), ', ',
        |    CAST(cx + 100 + 2 * a AS VARCHAR), ' ', CAST(cy AS VARCHAR),
        |    '))') AS simp_gc,
        |  true AS issimp_gc,
        |  false AS issimp_gc_cross,
        |  concat('MULTIPOLYGON (((',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    ', ', CAST(cx + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    ')), ((',
        |    CAST(cx + 100 + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 100 + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 100 + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 100 + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 100 + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ')))') AS er_mp,
        |  CAST(floor(2 * (2 * a - b / 2) * (2 * b - b / 2) * 1e6 + 0.5)
        |    AS BIGINT) AS er_mp_area_q6,
        |  concat('POLYGON ((',
        |    CAST(cx + b / 2 AS VARCHAR), ' ', CAST(cy + b / 2 AS VARCHAR),
        |    ', ', CAST(cx + 2 * a - b / 2 AS VARCHAR), ' ',
        |    CAST(cy + b / 2 AS VARCHAR), ', ',
        |    CAST(cx + 2 * a - b / 2 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 2 AS VARCHAR), ', ',
        |    CAST(cx + b / 2 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 2 AS VARCHAR), ', ',
        |    CAST(cx + b / 2 AS VARCHAR), ' ', CAST(cy + b / 2 AS VARCHAR),
        |    '))') AS er_vanish,
        |  'POLYGON EMPTY' AS er_all,
        |  concat('POLYGON ((',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    ', ', CAST(cx + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 2 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    '))') AS er_gc,
        |  concat('POLYGON ((',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    ', ', CAST(cx + 4 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + b / 4 AS VARCHAR), ', ',
        |    CAST(cx + 4 * a - b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ',
        |    CAST(cy + 2 * b - b / 4 AS VARCHAR), ', ',
        |    CAST(cx + b / 4 AS VARCHAR), ' ', CAST(cy + b / 4 AS VARCHAR),
        |    '))') AS er_touch,
        |  CAST(floor((4 * a - b / 2) * (2 * b - b / 2) * 1e6 + 0.5)
        |    AS BIGINT) AS er_touch_area_q6,
        |  CAST(floor(2 * (4 * a * b + (4 * a + 4 * b) * (b / 4) +
        |    16 * (b / 4) * (b / 4) * sin(pi() / 16)) * 1e6 + 0.5)
        |    AS BIGINT) AS dil_mp_area_q6
        |FROM p ORDER BY n_nationkey""".stripMargin,

    // sc21ad: canonical texts by string construction (kept chains in
    // document order; fmtCoord = CAST AS VARCHAR on dyadic doubles) +
    // the closed-form kept length 3a
    "sc21ad_geo_line_difference" ->
      """WITH p AS (
        |  SELECT n_nationkey,
        |    CAST(n_nationkey * 13 % 140 - 70 AS DOUBLE) AS cx,
        |    CAST(n_nationkey % 11 - 5 AS DOUBLE) AS cy,
        |    CAST((n_nationkey % 5) + 2 AS DOUBLE) AS a,
        |    CAST((n_nationkey % 3) + 1 AS DOUBLE) AS b
        |  FROM nation),
        |w AS (
        |  SELECT n_nationkey, cx, cy, a, b,
        |    CAST(cy AS VARCHAR) AS sy,
        |    CAST(cx AS VARCHAR) AS x0,
        |    CAST(cx + a AS VARCHAR) AS x1,
        |    CAST(cx + 2 * a AS VARCHAR) AS x2,
        |    CAST(cx + 3 * a AS VARCHAR) AS x3,
        |    CAST(cx + 4 * a AS VARCHAR) AS x4
        |  FROM p)
        |SELECT n_nationkey,
        |  concat('MULTILINESTRING ((', x0, ' ', sy, ', ', x1, ' ', sy,
        |    '), (', x2, ' ', sy, ', ', x4, ' ', sy, '))') AS d_mid,
        |  CAST(floor(3 * a * 1e6 + 0.5) AS BIGINT) AS d_mid_len_q6,
        |  concat('MULTILINESTRING ((', x0, ' ', sy, ', ', x1, ' ', sy,
        |    '), (', x2, ' ', sy, ', ', x3, ' ', sy, '))') AS d_two,
        |  concat('MULTILINESTRING ((', x0, ' ', sy, ', ', x1, ' ', sy,
        |    '), (', x2, ' ', sy, ', ', x2, ' ',
        |    CAST(cy + 2 * b AS VARCHAR), '))') AS d_ell,
        |  concat('LINESTRING (', x0, ' ', sy, ', ', x4, ' ', sy, ')')
        |    AS d_cross,
        |  concat('LINESTRING (', x1, ' ', sy, ', ', x4, ' ', sy, ')')
        |    AS d_gc,
        |  'LINESTRING EMPTY' AS d_all,
        |  concat('POINT (', x1, ' ', CAST(cy + b AS VARCHAR), ')') AS d_pp,
        |  concat('POINT (', x0, ' ', CAST(cy + 5 * b AS VARCHAR), ')')
        |    AS d_gcm
        |FROM w ORDER BY n_nationkey""".stripMargin,

    "sc21_geo" -> {
      // operation-for-operation mirror of GeoFunctions.haversineKm: same
      // constants (shortest-round-trip doubles), same association order,
      // so both engines round identically at every step
      val k = s"CAST(${math.Pi / 180.0} AS DOUBLE)"
      val twoR = s"CAST(${2 * graft.functions.GeoFunctions.EarthRadiusKm} AS DOUBLE)"
      def hav(latRef: String, lonRef: String): String = {
        val sdp = s"sin(((CAST($latRef AS DOUBLE) * $k) - (lat * $k)) / 2)"
        val sdl = s"sin(((CAST($lonRef AS DOUBLE) * $k) - (lon * $k)) / 2)"
        val a = s"$sdp * $sdp + cos(lat * $k) * cos(CAST($latRef AS DOUBLE) * $k) * $sdl * $sdl"
        s"$twoR * asin(sqrt(least($a, 1.0)))"
      }
      s"""WITH pts AS (
         |  SELECT c_custkey,
         |    CAST(c_custkey % 120 - 60 + 0.25 AS DOUBLE) AS lat,
         |    CAST(c_custkey * 7 % 360 - 180 + 0.5 AS DOUBLE) AS lon
         |  FROM customer WHERE c_custkey < 500)
         |SELECT c_custkey, lat, lon,
         |  CAST(floor(${hav("48.8566", "2.3522")} * 1e6 + 0.5) AS BIGINT) AS d_paris_q6,
         |  CAST(floor(${hav("35.6762", "139.6503")} * 1e6 + 0.5) AS BIGINT) AS d_tokyo_q6,
         |  lat >= 35.0 AND lat <= 60.0 AND lon >= -10.0 AND lon <= 30.0 AS in_europe_box,
         |  lat >= -23.5 AND lat <= 23.5 AS in_tropics
         |FROM pts ORDER BY c_custkey""".stripMargin
    },

    "sc6b_json_arrays" ->
      """WITH j AS (
        |  SELECT p_partkey,
        |    '[' || p_size || ',' || (p_size * 2) || ',' || (p_partkey % 7) || ']' AS jarr,
        |    '{"a":' || p_size || ',"nest":{"b":"' || p_brand || '"}}' AS jobj,
        |    p_size, p_brand
        |  FROM part WHERE p_partkey < 300)
        |SELECT p_partkey,
        |  CAST(json_array_length(jarr) AS BIGINT) AS arr_len,
        |  CAST(json_extract(jarr, '$[1]') AS BIGINT) AS second,
        |  CAST(p_size + p_size * 2 + p_partkey % 7 AS BIGINT) AS arr_sum,
        |  array_to_string(json_keys(jobj), ',') AS keys,
        |  json_extract_string(jobj, '$.nest.b') AS nested_b
        |FROM j ORDER BY p_partkey""".stripMargin,

    "sc11_regex" ->
      """SELECT p_partkey,
        |  regexp_matches(p_name, 'w.dget') AS has_wdget,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
        |  regexp_extract(p_name, '[a-z]+') AS first_word_re,
        |  CASE WHEN regexp_matches(p_name, 'o.')
        |       THEN CAST(strpos(p_name, regexp_extract(p_name, 'o.')) AS BIGINT)
        |       ELSE 0 END AS o_pos,
        |  array_to_string(regexp_extract_all(p_type, '[A-Z]+'), ',') AS caps_runs,
        |  regexp_split_to_array(p_name, '\s+')[2] AS second_tok
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,

    "sc14b_map_extras" ->
      """SELECT p_partkey,
        |  CAST(p_partkey % 7 AS BIGINT) AS sm_b,
        |  'A,B,C' AS tk_keys,
        |  'x=' || CAST(CAST(floor(p_size * 2.0 * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
        |    || ';y=' || CAST(CAST(floor(p_retailprice * 3.0 * 100.0 + 0.5) AS BIGINT) AS VARCHAR) AS zipped,
        |  CAST(p_size AS BIGINT) AS fe_roundtrip
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,

    "sc14_map_hof" ->
      """SELECT o_orderkey,
        |  'key=' || CAST(CAST(floor(o_orderkey * 2.0 * 100.0 + 0.5) AS BIGINT) AS VARCHAR)
        |    || ';price=' || CAST(CAST(floor(o_totalprice * 2.0 * 100.0 + 0.5) AS BIGINT) AS VARCHAR) AS doubled,
        |  CAST(CASE WHEN o_orderkey * 2.0 > 1000.0 THEN 1 ELSE 0 END
        |   + CASE WHEN o_totalprice * 2.0 > 1000.0 THEN 1 ELSE 0 END AS BIGINT) AS n_big,
        |  CASE
        |    WHEN o_orderkey * 2.0 > 1000.0 AND o_totalprice * 2.0 > 1000.0 THEN 'key,price'
        |    WHEN o_totalprice * 2.0 > 1000.0 THEN 'price'
        |    WHEN o_orderkey * 2.0 > 1000.0 THEN 'key'
        |    ELSE '' END AS big_keys
        |FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""".stripMargin,

    "sc13_sequence" ->
      """SELECT p_partkey,
        |  array_to_string(list_transform(generate_series(1, p_size), x -> x * x), ',') AS squares,
        |  len(generate_series(1, p_size)) AS seq_len,
        |  repeat(p_brand, 2) AS brand2x,
        |  array_to_string(list_transform(list_zip(generate_series(1, 3), generate_series(4, 6)),
        |    p -> p[1] * 10 + p[2]), ';') AS zipped
        |FROM part WHERE p_partkey < 500 ORDER BY p_partkey""".stripMargin,

    "sc12_datetime_parse" ->
      """WITH u AS (
        |  SELECT o_orderkey, o_orderdate,
        |    strftime(o_orderdate, '%Y-%m-%d') AS dstr
        |  FROM orders WHERE o_orderkey < 300)
        |SELECT o_orderkey,
        |  strptime(dstr, '%Y-%m-%d') AS parsed_ts,
        |  CAST(strptime(dstr, '%Y-%m-%d') AS DATE) AS parsed_date,
        |  epoch_ms(strptime(dstr, '%Y-%m-%d')) AS epoch_ms,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  make_timestamp(CAST(year(o_orderdate) AS BIGINT),
        |    CAST(month(o_orderdate) AS BIGINT), CAST(day(o_orderdate) AS BIGINT),
        |    0, 0, 0.0) AS made_ts
        |FROM u ORDER BY o_orderkey""".stripMargin,

    "sc8_try" ->
      """SELECT p_partkey,
        |  TRY_CAST(right(p_brand, 2) AS INT) AS maybe_int,
        |  CASE WHEN p_partkey % 3 = 0 THEN NULL
        |       ELSE CAST(p_partkey // (p_partkey % 3) AS BIGINT) END AS maybe_div,
        |  TRY_CAST(p_brand AS DATE) AS maybe_date,
        |  str_split(p_name, ' ')[99] AS maybe_elem
        |FROM part WHERE p_partkey < 300 ORDER BY p_partkey""".stripMargin,

    "sc9_url" ->
      """WITH u AS (
        |  SELECT doc_id, lang, source,
        |    'https://' || source || '.example.com/' || lang || '/page?id='
        |      || CAST(doc_id AS VARCHAR) || '&ref=home' AS url
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |  regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
        |  regexp_extract(url, '\?(.*)$', 1) AS qs,
        |  regexp_extract(url, '[?&]id=([^&]*)', 1) AS qid,
        |  replace(lang || ' ' || source, ' ', '+') AS enc,
        |  lang || ' ' || source AS roundtrip
        |FROM u ORDER BY doc_id""".stripMargin,

    "sc10_normalize" ->
      """WITH u AS (
        |  SELECT p_partkey, p_name,
        |    p_name || ' caf' || chr(101) || chr(769) AS decomposed
        |  FROM part WHERE p_partkey < 100)
        |SELECT p_partkey,
        |  nfc_normalize(decomposed) AS nfc,
        |  CAST(length(nfc_normalize(decomposed)) AS INT) AS nfc_len,
        |  CAST(length(decomposed) AS INT) AS raw_len,
        |  nfc_normalize(decomposed) = p_name || ' caf' || chr(233) AS composed_eq,
        |  decomposed AS nfd
        |FROM u ORDER BY p_partkey""".stripMargin,

    "sc7_hash" ->
      """SELECT doc_id,
        |  md5(text) AS text_md5,
        |  sha256(text) AS text_sha256,
        |  md5(lang || '|' || source) AS meta_md5
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,

    "sc4c_array_setops" ->
      """SELECT vec_id,
        |  array_to_string(list_sort(list_transform(
        |    list_distinct(list_concat(embedding[1:6], embedding[4:9])),
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), ',') AS union_sq,
        |  array_to_string(list_sort(list_transform(
        |    list_distinct(list_filter(embedding[1:8], x -> NOT list_contains(embedding[5:16], x))),
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))), ',') AS except_sq,
        |  array_to_string(list_transform(embedding[5:7],
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)), ',') AS mid3,
        |  CAST(len(list_filter([embedding[1], NULL, embedding[2]], x -> x IS NOT NULL)) AS BIGINT) AS compact_n,
        |  CAST(list_position(embedding, list_min(embedding)) AS BIGINT) AS argmin_pos
        |FROM embeddings WHERE vec_id < 30 ORDER BY vec_id""".stripMargin,

    "sc17_try_arith" ->
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 5 = 0 THEN NULL
        |       ELSE c_acctbal / (c_custkey % 5) END AS div_maybe0,
        |  CAST(NULL AS DOUBLE) AS div_by0,
        |  CASE WHEN c_custkey = 0 THEN 9223372036854775807
        |       ELSE CAST(NULL AS BIGINT) END AS add_overflow,
        |  CASE WHEN c_custkey % 4 >= 3 THEN NULL
        |       ELSE 4611686018427387903 * (c_custkey % 4) END AS mul_maybe_overflow,
        |  c_custkey - 10 AS sub_ok
        |FROM customer WHERE c_custkey < 300 ORDER BY c_custkey""".stripMargin,

    "sc16_binary" ->
      """SELECT c_custkey,
        |  base64(c_name::BLOB) AS b64,
        |  CAST(from_base64(base64(c_name::BLOB)) AS VARCHAR) AS b64_roundtrip,
        |  hex(c_name) AS name_hex,
        |  CAST(unhex(hex(c_name)) AS VARCHAR) AS hex_roundtrip,
        |  CAST(bit_length(c_name) AS BIGINT) AS bits,
        |  CAST(octet_length(c_name::BLOB) AS BIGINT) AS octets,
        |  c_custkey << 3 AS shl3,
        |  c_custkey >> 2 AS shr2
        |FROM customer WHERE c_custkey <= 200 ORDER BY c_custkey""".stripMargin,

    "sc20_collation" ->
      """WITH names AS (
        |  SELECT c_custkey % 50 AS g, c_name AS nm FROM customer
        |  UNION ALL
        |  SELECT c_custkey % 50, upper(c_name) FROM customer)
        |SELECT g, COUNT(DISTINCT nm) AS n_exact,
        |  COUNT(DISTINCT lower(nm)) AS n_ci,
        |  CAST(COUNT(*) AS BIGINT) AS n_ci_eq
        |FROM names GROUP BY g ORDER BY g""".stripMargin,

    "sc19_variant" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_big,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(NULL AS BIGINT) AS bad_json,
        |  TRUE AS json_null,
        |  'OBJECT<k: BIGINT>' AS schema
        |FROM events WHERE event_id < 1500 ORDER BY event_id""".stripMargin,

    "sc18_bitwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & l_partkey AS band,
        |  l_orderkey | l_partkey AS bor,
        |  xor(l_orderkey, l_partkey) AS bxor,
        |  ~l_orderkey AS bnot,
        |  CAST(bit_count(l_orderkey) AS INT) AS nbits,
        |  (l_orderkey >> 3) & 1 AS bit3
        |FROM lineitem WHERE l_orderkey < 400
        |ORDER BY l_orderkey, l_linenumber""".stripMargin
  )
}
