package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.graftshim.GraftShim
import org.apache.spark.sql.types._

/** Registry for the engine's native expressions. `GraftSession.builder`
  * injects `all` into every session it builds, so declared queries never
  * register anything; `GraftExtensions` injects the same set for sessions
  * configured with spark.sql.extensions, and `register` (idempotent)
  * serves any other session graft did not build.
  *
  * Adding a native scalar function takes a static method on a kernel
  * object plus one `kernel(...)` line below: the [[Kernel]] expression
  * calls the method from both `eval` and generated code, checks the
  * argument count and that constant parameters are literals, and casts
  * arguments to the method's parameter types. Hand-written expressions
  * remain only where one static call cannot express the kernel:
  *  - `cosine_sim`, `cosine_similarity`, `dot_product`: vector loops
  *    written out in generated code, and an array/map overload;
  *  - `multi_count`: holds an Aho-Corasick automaton built at plan time;
  *  - `bpe_count`, `bpe_segment`, `bpe_count_bytes`,
  *    `bpe_segment_bytes`: hold the merge-rank map built at plan time;
  *  - `try_eval`: wraps an arbitrary child, interpreted on purpose;
  *  - the PQ expressions (`PqFunctions`), never registered, hold the
  *    trained codebooks.
  */
object GraftFunctions {

  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def entry(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** `name(cols column arguments, lits literal arguments)` calls
    * `target.method(columns…, literal values…, fixed…)`. */
  private def kernel(name: String, target: AnyRef, method: String,
      dataType: DataType, cols: Int = 1, lits: Int = 0, fixed: Seq[Any] = Nil,
      nullResult: Boolean = false, sqlName: String = null): Entry =
    entry(name, classOf[Kernel])(e => Kernel.build(Option(sqlName).getOrElse(name),
      e, cols, lits, fixed, target, method, dataType, nullResult))

  private val strings = ArrayType(StringType, containsNull = false)
  private val longs = ArrayType(LongType, containsNull = false)

  val all: Seq[Entry] = Seq(
    entry("cosine_sim", classOf[CosineSimilarityExpression]) { e =>
      Kernel.arity("cosine_sim", e, 2)
      CosineSimilarityExpression(e(0), e(1))
    },
    // Trino's dual-form similarity functions (r15): array×array dense
    // AND map<string,·>×map sparse behind one name — the overload SQL
    // temp functions cannot express (dialect infra note in PrestoSql)
    entry("cosine_similarity", classOf[CosineSimilarityDispatchExpression]) { e =>
      Kernel.arity("cosine_similarity", e, 2)
      CosineSimilarityDispatchExpression(e(0), e(1))
    },
    entry("dot_product", classOf[DotProductDispatchExpression]) { e =>
      Kernel.arity("dot_product", e, 2)
      DotProductDispatchExpression(e(0), e(1))
    },
    entry("to_iso8601", classOf[Kernel]) { e =>
      val method = e.headOption.map(_.dataType) match {
        case Some(DateType) => "fmtDate"
        case Some(TimestampType) | None => "fmtTs"
        case Some(other) => throw new IllegalArgumentException(
          s"to_iso8601: DATE or TIMESTAMP argument required, got $other")
      }
      Kernel.build("to_iso8601", e, 1, 0, Nil, Iso8601Core, method, StringType,
        nullResult = false)
    },
    kernel("to_base32", Base32Core, "encode", StringType),
    kernel("from_base32", Base32Core, "decodeB32", BinaryType),
    kernel("murmur3_x64_128", WireHashCore, "murmur3x64128", BinaryType),
    // Trino's name for the same 128-bit digest
    kernel("murmur3", WireHashCore, "murmur3x64128", BinaryType,
      sqlName = "murmur3_x64_128"),
    kernel("spooky_hash_v2_32", WireHashCore, "spooky32", BinaryType),
    kernel("spooky_hash_v2_64", WireHashCore, "spooky64", BinaryType),
    kernel("minhash_sig", SketchKernels, "minhash", longs, fixed = Seq(64)),
    kernel("minhash_text_sig", SketchKernels, "minhashTextSig", longs, lits = 1,
      fixed = Seq(64)),
    kernel("simhash48", SketchKernels, "simhash48", LongType),
    kernel("perm_match_count", SketchKernels, "matchCount", IntegerType, cols = 2),
    kernel("simhash48_text", SketchKernels, "simhash48Text", LongType),
    kernel("rhp_sig64", SketchKernels, "rhpSig64", LongType),
    kernel("char_shingles", ShingleKernels, "charShingles", strings, lits = 1),
    kernel("gram_hashes", ShingleKernels, "gramHashes", longs, lits = 1),
    kernel("word_shingles", ShingleKernels, "wordShingles", strings, lits = 1),
    kernel("word_tokens", ShingleKernels, "wordTokens", strings),
    kernel("kgram_hashes", ShingleKernels, "kgramHashes", longs, lits = 1),
    kernel("unit_q3", VectorQuantizeKernel, "unitQ3", VectorQuantizeKernel.resultType),
    // Trino's to_ieee754_* take DOUBLE / REAL: any numeric argument casts
    entry("to_ieee754_64", classOf[Kernel])(e => Kernel.build("to_ieee754_64",
      e.map(Cast(_, DoubleType)), 1, 0, Nil, IeeeKernels, "to64", BinaryType, false)),
    entry("to_ieee754_32", classOf[Kernel])(e => Kernel.build("to_ieee754_32",
      e.map(Cast(_, FloatType)), 1, 0, Nil, IeeeKernels, "to32", BinaryType, false)),
    kernel("from_ieee754_64", IeeeKernels, "from64", DoubleType),
    kernel("from_ieee754_32", IeeeKernels, "from32", FloatType),
    kernel("fnv1_32", FnvKernels, "fnv32", LongType, fixed = Seq(false)),
    kernel("fnv1a_32", FnvKernels, "fnv32", LongType, fixed = Seq(true)),
    kernel("fnv1_64", FnvKernels, "fnv64", LongType, fixed = Seq(false)),
    kernel("fnv1a_64", FnvKernels, "fnv64", LongType, fixed = Seq(true)),
    kernel("gopher_repetition_stats", GopherKernels, "repetitionStats",
      GopherKernels.resultType),
    entry("try_eval", classOf[TryEvalExpression]) { e =>
      Kernel.arity("try_eval", e, 1)
      TryEvalExpression(e(0))
    },
    // Presto normalize(string[, form]); the form is a plan-time literal
    entry("normalize_str", classOf[Kernel]) { e =>
      val form =
        if (e.length == 2) Kernel.literal("normalize_str", e(1), 2).toString else "NFC"
      require(Set("NFC", "NFD", "NFKC", "NFKD")(form), s"bad normalization form: $form")
      Kernel.build("normalize_str", if (e.length == 2) e.init else e, 1, 0, Seq(form),
        NormalizeKernel, "normalize", StringType, nullResult = false)
    },
    entry("bpe_count", classOf[BpeCountExpression])(e =>
      BpeCountExpression(e(0), merges("bpe_count", e))),
    kernel("image_stats", ImageCore, "stats", ImageCore.resultType, nullResult = true),
    kernel("audio_stats", AudioCore, "stats", AudioCore.resultType, nullResult = true),
    kernel("ws_words", BpeCore, "wsWords", strings),
    entry("bpe_segment", classOf[BpeSegmentExpression])(e =>
      BpeSegmentExpression(e(0), merges("bpe_segment", e))),
    entry("bpe_count_bytes", classOf[ByteBpeCountExpression])(e =>
      ByteBpeCountExpression(e(0), merges("bpe_count_bytes", e))),
    entry("bpe_segment_bytes", classOf[ByteBpeSegmentExpression])(e =>
      ByteBpeSegmentExpression(e(0), merges("bpe_segment_bytes", e))),
    // arity dispatch: the 3-arg form is the original (polyWkt, x, y)
    // point test; the 2-arg form is OGC ST_Contains(a, b) — geometry b
    // within geometry a — which is exactly the within kernel with the
    // arguments swapped (so the Trino geospatial page runs unmodified)
    entry("st_contains", classOf[Kernel]) { e =>
      if (e.length == 2) Kernel.build("st_within", e.reverse, 2, 0, Nil, WktCore,
        "withinWkt", BooleanType, nullResult = false)
      else Kernel.build("st_contains", e, 3, 0, Nil, WktCore, "containsWkt",
        BooleanType, nullResult = false)
    },
    kernel("st_intersects", WktCore, "intersectsWkt", BooleanType, cols = 2),
    kernel("st_touches", WktCore, "touchesWkt", BooleanType, cols = 2),
    kernel("st_crosses", WktCore, "crossesWkt", BooleanType, cols = 2),
    kernel("st_within", WktCore, "withinWkt", BooleanType, cols = 2),
    kernel("st_overlaps", WktCore, "overlapsWkt", BooleanType, cols = 2),
    kernel("st_x", WktCore, "pointCoord", DoubleType, fixed = Seq(0)),
    kernel("st_y", WktCore, "pointCoord", DoubleType, fixed = Seq(1)),
    kernel("st_centroid_x", WktCore, "centroid", DoubleType, fixed = Seq(0)),
    kernel("st_centroid_y", WktCore, "centroid", DoubleType, fixed = Seq(1)),
    kernel("st_xmin", WktCore, "envBound", DoubleType, fixed = Seq(0)),
    kernel("st_ymin", WktCore, "envBound", DoubleType, fixed = Seq(1)),
    kernel("st_xmax", WktCore, "envBound", DoubleType, fixed = Seq(2)),
    kernel("st_ymax", WktCore, "envBound", DoubleType, fixed = Seq(3)),
    kernel("st_area", WktCore, "area", DoubleType),
    kernel("st_length", WktCore, "length", DoubleType),
    kernel("st_intersection", WktCore, "intersectionWkt", StringType, cols = 2),
    kernel("st_union", WktCore, "unionWkt", StringType, cols = 2),
    kernel("st_difference", WktCore, "differenceWkt", StringType, cols = 2),
    kernel("st_symdifference", WktCore, "symDifferenceWkt", StringType, cols = 2),
    kernel("st_numgeometries", WktCore, "numGeometries", LongType),
    kernel("st_geometryn", WktCore, "geometryN", StringType, cols = 2,
      nullResult = true),
    kernel("st_exteriorring", WktCore, "exteriorRing", StringType),
    kernel("st_numinteriorring", WktCore, "numInteriorRing", LongType),
    kernel("st_interiorringn", WktCore, "interiorRingN", StringType, cols = 2,
      nullResult = true),
    kernel("st_isvalid", WktCore, "isValid", BooleanType),
    kernel("geometry_invalid_reason", WktCore, "invalidReason", StringType,
      nullResult = true),
    kernel("st_geometrytype", WktCore, "geometryType", StringType),
    kernel("st_isempty", WktCore, "isEmptyGeom", BooleanType),
    kernel("st_dimension", WktCore, "dimensionOf", LongType),
    kernel("st_numpoints", WktCore, "numPoints", LongType),
    kernel("st_startpoint", WktCore, "lineTerminal", StringType, fixed = Seq(false)),
    kernel("st_endpoint", WktCore, "lineTerminal", StringType, fixed = Seq(true)),
    kernel("st_isclosed", WktCore, "isClosedLine", BooleanType),
    kernel("st_isring", WktCore, "isRingLine", BooleanType),
    kernel("st_pointn", WktCore, "pointN", StringType, cols = 2, nullResult = true),
    kernel("line_locate_point", WktCore, "lineLocatePoint", DoubleType, cols = 2),
    kernel("line_interpolate_point", WktCore, "lineInterpolatePoint", StringType,
      cols = 2),
    kernel("to_geojson_geometry", WktCore, "toGeoJson", StringType),
    kernel("from_geojson_geometry", WktCore, "fromGeoJson", StringType),
    kernel("simplify_geometry", WktCore, "simplifyWkt", StringType, cols = 2),
    kernel("st_distance", WktCore, "distanceWkt", DoubleType, cols = 2),
    kernel("st_equals", WktCore, "equalsWkt", BooleanType, cols = 2),
    kernel("st_boundary", WktCore, "boundaryWkt", StringType),
    // optional 3rd arg: join style literal — 'round' (default, Trino/GEOS
    // arcs) or 'miter' (the r13 closed form)
    entry("st_buffer", classOf[Kernel]) { e =>
      val style = if (e.length != 3) WktCore.BufRound
        else Kernel.literal("st_buffer", e(2), 3).toString
          .toLowerCase(java.util.Locale.ROOT) match {
            case "round" => WktCore.BufRound
            case "miter" => WktCore.BufMiter
            case other => throw new IllegalArgumentException(
              s"st_buffer: unknown join style '$other' (round | miter)")
          }
      Kernel.build("st_buffer", if (e.length == 3) e.init else e, 2, 0, Seq(style),
        WktCore, "bufferWkt", StringType, nullResult = false)
    },
    kernel("st_convexhull", WktCore, "convexHullWkt", StringType),
    kernel("geometry_nearest_points", WktCore, "nearestPointsWkt", strings,
      cols = 2, nullResult = true),
    kernel("line_interpolate_points", WktCore, "lineInterpolatePoints", strings,
      cols = 2),
    kernel("st_issimple", WktCore, "isSimpleWkt", BooleanType),
    kernel("st_coorddim", WktCore, "coordDim", LongType),
    kernel("st_points", WktCore, "pointsOf", strings, nullResult = true),
    kernel("to_spherical_geography", WktCore, "toSphericalGeography", StringType),
    kernel("to_geometry", WktCore, "sphericalToGeometry", StringType),
    kernel("st_asbinary", WktCore, "toWkb", BinaryType),
    kernel("st_geomfrombinary", WktCore, "fromWkb", StringType),
    // Trino's 2-arg form takes a language code; the kernel is the
    // English Porter stemmer, so only 'en' is honest — any other
    // language fails loudly rather than silently mis-stemming
    entry("word_stem", classOf[Kernel]) { e =>
      if (e.length == 2) {
        val lang = Kernel.literal("word_stem", e(1), 2).toString
        require(lang == "en",
          s"word_stem: only language 'en' is supported (Porter stemmer), got '$lang'")
      }
      Kernel.build("word_stem", if (e.length == 2) e.init else e, 1, 0, Nil,
        PorterKernel, "stem", StringType, nullResult = false)
    },
    kernel("jaro_winkler", JaroWinklerKernel, "sim", DoubleType, cols = 2),
    entry("multi_count", classOf[MultiCountExpression]) { e =>
      Kernel.arity("multi_count", e, 2, atLeast = true)
      MultiCountExpression(e(0), e.tail.zipWithIndex.map { case (p, i) =>
        Kernel.literal("multi_count", p, i + 2).toString
      })
    },
    kernel("graft_pgamma", StatKernel, "pgamma", DoubleType, cols = 2),
    kernel("graft_ibeta", StatKernel, "ibeta", DoubleType, cols = 3),
    kernel("graft_inv_pgamma", StatKernel, "invPgamma", DoubleType, cols = 2),
    kernel("graft_inv_ibeta", StatKernel, "invIbeta", DoubleType, cols = 3),
    kernel("graft_inv_poisson", StatKernel, "invPoisson", LongType, cols = 2),
    kernel("graft_inv_binomial", StatKernel, "invBinomial", LongType, cols = 3))

  /** The merge list of a BPE entry `name(text, 'l r,l r,…')`. */
  private def merges(name: String, e: Seq[Expression]): Seq[(String, String)] = {
    Kernel.arity(name, e, 2)
    BpeCountExpression.parseMerges(Kernel.literal(name, e(1), 2).toString)
  }

  private lazy val builders = all.map { case (id, _, b) => id.funcName -> b }.toMap

  /** The registered expression `name(args…)` as a Column, built directly
    * from the registry, so the session needs no registration. A Column
    * argument is an expression; any other value is a literal (a Column's
    * expression is only resolved at analysis, so `lit(k)` is not one). */
  def native(name: String, args: Any*): Column =
    GraftShim.exprCol(builders(name)(args.map {
      case c: Column => GraftShim.colExpr(c)
      case v => Literal(v)
    }))

  def register(spark: SparkSession): Unit =
    all.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }

  // Column-API entry points (the session must have the functions).
  def cosineSim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)
  def minhashSig(hashes: Column): Column = call_function("minhash_sig", hashes)
  def minhashTextSig(text: Column, k: Int): Column =
    call_function("minhash_text_sig", text, org.apache.spark.sql.functions.lit(k))
  def simhash48(hashes: Column): Column = call_function("simhash48", hashes)
  def simhash48Text(text: Column): Column = call_function("simhash48_text", text)
  def permMatchCount(a: Column, b: Column): Column =
    call_function("perm_match_count", a, b)
  def rhpSig64(vec: Column): Column = call_function("rhp_sig64", vec)
  def charShingles(text: Column, k: Int): Column =
    call_function("char_shingles", text, org.apache.spark.sql.functions.lit(k))
  def wordShingles(tokens: Column, n: Int): Column =
    call_function("word_shingles", tokens, org.apache.spark.sql.functions.lit(n))
  def gopherRepetitionStats(tokens: Column): Column =
    call_function("gopher_repetition_stats", tokens)
  def tryEval(e: Column): Column = call_function("try_eval", e)
  def bpeCount(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_count", text, org.apache.spark.sql.functions.lit(
      merges.map { case (l, r) => s"$l $r" }.mkString(",")))
  def imageStats(bytes: Column): Column = call_function("image_stats", bytes)
  def audioStats(bytes: Column): Column = call_function("audio_stats", bytes)
  def wsWords(text: Column): Column = call_function("ws_words", text)
  def bpeSegment(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_segment", text, org.apache.spark.sql.functions.lit(
      merges.map { case (l, r) => s"$l $r" }.mkString(",")))
  def bpeCountBytes(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_count_bytes", text, org.apache.spark.sql.functions.lit(
      merges.map { case (l, r) => s"$l $r" }.mkString(",")))
  def bpeSegmentBytes(text: Column, merges: Seq[(String, String)]): Column =
    call_function("bpe_segment_bytes", text, org.apache.spark.sql.functions.lit(
      merges.map { case (l, r) => s"$l $r" }.mkString(",")))
  def stContains(polyWkt: Column, x: Column, y: Column): Column =
    call_function("st_contains", polyWkt, x, y)
  def stIntersects(aWkt: Column, bWkt: Column): Column =
    call_function("st_intersects", aWkt, bWkt)
  def stWithin(aWkt: Column, bWkt: Column): Column =
    call_function("st_within", aWkt, bWkt)
  def stOverlaps(aWkt: Column, bWkt: Column): Column =
    call_function("st_overlaps", aWkt, bWkt)
  def stX(pointWkt: Column): Column = call_function("st_x", pointWkt)
  def stY(pointWkt: Column): Column = call_function("st_y", pointWkt)
  def stArea(polyWkt: Column): Column = call_function("st_area", polyWkt)
  def stLength(lineWkt: Column): Column = call_function("st_length", lineWkt)
  def stIntersection(aWkt: Column, bWkt: Column): Column =
    call_function("st_intersection", aWkt, bWkt)
  def stUnion(aWkt: Column, bWkt: Column): Column =
    call_function("st_union", aWkt, bWkt)
  def stBoundary(g: Column): Column = call_function("st_boundary", g)
  def stDistance(aWkt: Column, bWkt: Column): Column =
    call_function("st_distance", aWkt, bWkt)
  def stEquals(aWkt: Column, bWkt: Column): Column =
    call_function("st_equals", aWkt, bWkt)
  def stTouches(aWkt: Column, bWkt: Column): Column =
    call_function("st_touches", aWkt, bWkt)
  def stCrosses(aWkt: Column, bWkt: Column): Column =
    call_function("st_crosses", aWkt, bWkt)
  def stDifference(aWkt: Column, bWkt: Column): Column =
    call_function("st_difference", aWkt, bWkt)
}
