package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.functions.call_function

/** Registry for the engine's native expressions. `GraftSession.builder`
  * injects `all` into every session it builds, so declared queries never
  * register anything; `GraftExtensions` injects the same set for sessions
  * configured with spark.sql.extensions, and `register` (idempotent)
  * serves any other session graft did not build.
  */
object GraftFunctions {

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarityExpression].getName, "cosine_sim"),
      (e: Seq[Expression]) => CosineSimilarityExpression(e(0), e(1))),
    // Trino's dual-form similarity functions (r15): array×array dense
    // AND map<string,·>×map sparse behind one name — the overload SQL
    // temp functions cannot express (dialect infra note in PrestoSql)
    (FunctionIdentifier("cosine_similarity"),
      new ExpressionInfo(classOf[CosineSimilarityDispatchExpression].getName,
        "cosine_similarity"),
      (e: Seq[Expression]) => {
        require(e.length == 2,
          s"cosine_similarity expects 2 arguments; got ${e.length}")
        CosineSimilarityDispatchExpression(e(0), e(1))
      }),
    (FunctionIdentifier("to_iso8601"),
      new ExpressionInfo(classOf[ToIso8601Expression].getName, "to_iso8601"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"to_iso8601 expects 1 argument; got ${e.length}")
        ToIso8601Expression(e(0))
      }),
    (FunctionIdentifier("to_base32"),
      new ExpressionInfo(classOf[ToBase32Expression].getName, "to_base32"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"to_base32 expects 1 argument; got ${e.length}")
        ToBase32Expression(e(0))
      }),
    (FunctionIdentifier("from_base32"),
      new ExpressionInfo(classOf[FromBase32Expression].getName,
        "from_base32"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"from_base32 expects 1 argument; got ${e.length}")
        FromBase32Expression(e(0))
      }),
    (FunctionIdentifier("murmur3_x64_128"),
      new ExpressionInfo(classOf[Murmur3X64128Expression].getName,
        "murmur3_x64_128"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"murmur3_x64_128 expects 1 argument; got ${e.length}")
        Murmur3X64128Expression(e(0))
      }),
    // Trino's name for the same 128-bit digest
    (FunctionIdentifier("murmur3"),
      new ExpressionInfo(classOf[Murmur3X64128Expression].getName,
        "murmur3"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"murmur3 expects 1 argument; got ${e.length}")
        Murmur3X64128Expression(e(0))
      }),
    (FunctionIdentifier("spooky_hash_v2_32"),
      new ExpressionInfo(classOf[SpookyHashV232Expression].getName,
        "spooky_hash_v2_32"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"spooky_hash_v2_32 expects 1 argument; got ${e.length}")
        SpookyHashV232Expression(e(0))
      }),
    (FunctionIdentifier("spooky_hash_v2_64"),
      new ExpressionInfo(classOf[SpookyHashV264Expression].getName,
        "spooky_hash_v2_64"),
      (e: Seq[Expression]) => {
        require(e.length == 1,
          s"spooky_hash_v2_64 expects 1 argument; got ${e.length}")
        SpookyHashV264Expression(e(0))
      }),
    (FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProductDispatchExpression].getName,
        "dot_product"),
      (e: Seq[Expression]) => {
        require(e.length == 2,
          s"dot_product expects 2 arguments; got ${e.length}")
        DotProductDispatchExpression(e(0), e(1))
      }),
    (FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSignatureExpression].getName, "minhash_sig"),
      (e: Seq[Expression]) => MinHashSignatureExpression(e(0), 64)),
    (FunctionIdentifier("minhash_text_sig"),
      new ExpressionInfo(
        classOf[MinHashTextSignatureExpression].getName, "minhash_text_sig"),
      (e: Seq[Expression]) =>
        MinHashTextSignatureExpression(e(0), litInt(e(1)), 64)),
    (FunctionIdentifier("simhash48"),
      new ExpressionInfo(classOf[SimHash48Expression].getName, "simhash48"),
      (e: Seq[Expression]) => SimHash48Expression(e(0))),
    (FunctionIdentifier("perm_match_count"),
      new ExpressionInfo(
        classOf[PermMatchCountExpression].getName, "perm_match_count"),
      (e: Seq[Expression]) => PermMatchCountExpression(e(0), e(1))),
    (FunctionIdentifier("simhash48_text"),
      new ExpressionInfo(
        classOf[SimHash48TextExpression].getName, "simhash48_text"),
      (e: Seq[Expression]) => SimHash48TextExpression(e(0))),
    (FunctionIdentifier("rhp_sig64"),
      new ExpressionInfo(classOf[RhpSignatureExpression].getName, "rhp_sig64"),
      (e: Seq[Expression]) => RhpSignatureExpression(e(0))),
    (FunctionIdentifier("char_shingles"),
      new ExpressionInfo(classOf[CharShinglesExpression].getName, "char_shingles"),
      (e: Seq[Expression]) => CharShinglesExpression(e(0), litInt(e(1)))),
    (FunctionIdentifier("gram_hashes"),
      new ExpressionInfo(classOf[GramHashesExpression].getName, "gram_hashes"),
      (e: Seq[Expression]) => GramHashesExpression(e(0), litInt(e(1)))),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShinglesExpression].getName, "word_shingles"),
      (e: Seq[Expression]) => WordShinglesExpression(e(0), litInt(e(1)))),
    (FunctionIdentifier("word_tokens"),
      new ExpressionInfo(classOf[WordTokensExpression].getName, "word_tokens"),
      (e: Seq[Expression]) => WordTokensExpression(e(0))),
    (FunctionIdentifier("kgram_hashes"),
      new ExpressionInfo(classOf[KGramHashesExpression].getName, "kgram_hashes"),
      (e: Seq[Expression]) => KGramHashesExpression(e(0), litInt(e(1)))),
    (FunctionIdentifier("unit_q3"),
      new ExpressionInfo(classOf[UnitQ3Expression].getName, "unit_q3"),
      (e: Seq[Expression]) => UnitQ3Expression(e(0))),
    (FunctionIdentifier("to_ieee754_64"),
      new ExpressionInfo(classOf[ToIeee754Expression].getName, "to_ieee754_64"),
      (e: Seq[Expression]) => ToIeee754Expression(
        org.apache.spark.sql.catalyst.expressions.Cast(
          e(0), org.apache.spark.sql.types.DoubleType), 64)),
    (FunctionIdentifier("to_ieee754_32"),
      new ExpressionInfo(classOf[ToIeee754Expression].getName, "to_ieee754_32"),
      (e: Seq[Expression]) => ToIeee754Expression(
        org.apache.spark.sql.catalyst.expressions.Cast(
          e(0), org.apache.spark.sql.types.FloatType), 32)),
    (FunctionIdentifier("from_ieee754_64"),
      new ExpressionInfo(classOf[FromIeee754Expression].getName, "from_ieee754_64"),
      (e: Seq[Expression]) => FromIeee754Expression(e(0), 64)),
    (FunctionIdentifier("from_ieee754_32"),
      new ExpressionInfo(classOf[FromIeee754Expression].getName, "from_ieee754_32"),
      (e: Seq[Expression]) => FromIeee754Expression(e(0), 32)),
    (FunctionIdentifier("fnv1_32"),
      new ExpressionInfo(classOf[FnvExpression].getName, "fnv1_32"),
      (e: Seq[Expression]) => FnvExpression(e(0), 32, fnv1a = false)),
    (FunctionIdentifier("fnv1a_32"),
      new ExpressionInfo(classOf[FnvExpression].getName, "fnv1a_32"),
      (e: Seq[Expression]) => FnvExpression(e(0), 32, fnv1a = true)),
    (FunctionIdentifier("fnv1_64"),
      new ExpressionInfo(classOf[FnvExpression].getName, "fnv1_64"),
      (e: Seq[Expression]) => FnvExpression(e(0), 64, fnv1a = false)),
    (FunctionIdentifier("fnv1a_64"),
      new ExpressionInfo(classOf[FnvExpression].getName, "fnv1a_64"),
      (e: Seq[Expression]) => FnvExpression(e(0), 64, fnv1a = true)),
    (FunctionIdentifier("gopher_repetition_stats"),
      new ExpressionInfo(
        classOf[GopherRepetitionExpression].getName, "gopher_repetition_stats"),
      (e: Seq[Expression]) => GopherRepetitionExpression(e(0))),
    (FunctionIdentifier("try_eval"),
      new ExpressionInfo(classOf[TryEvalExpression].getName, "try_eval"),
      (e: Seq[Expression]) => TryEvalExpression(e(0))),
    (FunctionIdentifier("normalize_str"),
      new ExpressionInfo(classOf[NormalizeExpression].getName, "normalize_str"),
      (e: Seq[Expression]) =>
        NormalizeExpression(e(0), if (e.size > 1) litStr(e(1)) else "NFC")),
    (FunctionIdentifier("bpe_count"),
      new ExpressionInfo(classOf[BpeCountExpression].getName, "bpe_count"),
      (e: Seq[Expression]) =>
        BpeCountExpression(e(0), BpeCountExpression.parseMerges(litStr(e(1))))),
    (FunctionIdentifier("image_stats"),
      new ExpressionInfo(classOf[ImageStatsExpression].getName, "image_stats"),
      (e: Seq[Expression]) => ImageStatsExpression(e(0))),
    (FunctionIdentifier("audio_stats"),
      new ExpressionInfo(classOf[AudioStatsExpression].getName, "audio_stats"),
      (e: Seq[Expression]) => AudioStatsExpression(e(0))),
    (FunctionIdentifier("ws_words"),
      new ExpressionInfo(classOf[WsWordsExpression].getName, "ws_words"),
      (e: Seq[Expression]) => WsWordsExpression(e(0))),
    (FunctionIdentifier("bpe_segment"),
      new ExpressionInfo(classOf[BpeSegmentExpression].getName, "bpe_segment"),
      (e: Seq[Expression]) =>
        BpeSegmentExpression(e(0), BpeCountExpression.parseMerges(litStr(e(1))))),
    (FunctionIdentifier("bpe_count_bytes"),
      new ExpressionInfo(classOf[ByteBpeCountExpression].getName, "bpe_count_bytes"),
      (e: Seq[Expression]) =>
        ByteBpeCountExpression(e(0), BpeCountExpression.parseMerges(litStr(e(1))))),
    (FunctionIdentifier("bpe_segment_bytes"),
      new ExpressionInfo(classOf[ByteBpeSegmentExpression].getName, "bpe_segment_bytes"),
      (e: Seq[Expression]) =>
        ByteBpeSegmentExpression(e(0), BpeCountExpression.parseMerges(litStr(e(1))))),
    (FunctionIdentifier("st_contains"),
      new ExpressionInfo(classOf[StContainsExpression].getName, "st_contains"),
      // arity dispatch: the 3-arg form is the original (polyWkt, x, y)
      // point test; the 2-arg form is OGC ST_Contains(a, b) — geometry b
      // within geometry a — which is exactly the within kernel with the
      // arguments swapped (so the Trino geospatial page runs unmodified)
      (e: Seq[Expression]) =>
        if (e.length == 2) StWithinExpression(e(1), e(0))
        else StContainsExpression(e(0), e(1), e(2))),
    (FunctionIdentifier("st_intersects"),
      new ExpressionInfo(classOf[StIntersectsExpression].getName, "st_intersects"),
      (e: Seq[Expression]) => StIntersectsExpression(e(0), e(1))),
    (FunctionIdentifier("st_touches"),
      new ExpressionInfo(classOf[StTouchesExpression].getName, "st_touches"),
      (e: Seq[Expression]) => StTouchesExpression(e(0), e(1))),
    (FunctionIdentifier("st_crosses"),
      new ExpressionInfo(classOf[StCrossesExpression].getName, "st_crosses"),
      (e: Seq[Expression]) => StCrossesExpression(e(0), e(1))),
    (FunctionIdentifier("st_within"),
      new ExpressionInfo(classOf[StWithinExpression].getName, "st_within"),
      (e: Seq[Expression]) => StWithinExpression(e(0), e(1))),
    (FunctionIdentifier("st_overlaps"),
      new ExpressionInfo(classOf[StOverlapsExpression].getName, "st_overlaps"),
      (e: Seq[Expression]) => StOverlapsExpression(e(0), e(1))),
    (FunctionIdentifier("st_x"),
      new ExpressionInfo(classOf[StPointCoordExpression].getName, "st_x"),
      (e: Seq[Expression]) => StPointCoordExpression(e(0), 0)),
    (FunctionIdentifier("st_y"),
      new ExpressionInfo(classOf[StPointCoordExpression].getName, "st_y"),
      (e: Seq[Expression]) => StPointCoordExpression(e(0), 1)),
    (FunctionIdentifier("st_centroid_x"),
      new ExpressionInfo(classOf[StCentroidExpression].getName, "st_centroid_x"),
      (e: Seq[Expression]) => StCentroidExpression(e(0), 0)),
    (FunctionIdentifier("st_centroid_y"),
      new ExpressionInfo(classOf[StCentroidExpression].getName, "st_centroid_y"),
      (e: Seq[Expression]) => StCentroidExpression(e(0), 1)),
    (FunctionIdentifier("st_xmin"),
      new ExpressionInfo(classOf[StEnvBoundExpression].getName, "st_xmin"),
      (e: Seq[Expression]) => StEnvBoundExpression(e(0), 0)),
    (FunctionIdentifier("st_ymin"),
      new ExpressionInfo(classOf[StEnvBoundExpression].getName, "st_ymin"),
      (e: Seq[Expression]) => StEnvBoundExpression(e(0), 1)),
    (FunctionIdentifier("st_xmax"),
      new ExpressionInfo(classOf[StEnvBoundExpression].getName, "st_xmax"),
      (e: Seq[Expression]) => StEnvBoundExpression(e(0), 2)),
    (FunctionIdentifier("st_ymax"),
      new ExpressionInfo(classOf[StEnvBoundExpression].getName, "st_ymax"),
      (e: Seq[Expression]) => StEnvBoundExpression(e(0), 3)),
    (FunctionIdentifier("st_area"),
      new ExpressionInfo(classOf[StAreaExpression].getName, "st_area"),
      (e: Seq[Expression]) => StAreaExpression(e(0))),
    (FunctionIdentifier("st_length"),
      new ExpressionInfo(classOf[StLengthExpression].getName, "st_length"),
      (e: Seq[Expression]) => StLengthExpression(e(0))),
    (FunctionIdentifier("st_intersection"),
      new ExpressionInfo(classOf[StIntersectionExpression].getName,
        "st_intersection"),
      (e: Seq[Expression]) => StIntersectionExpression(e(0), e(1))),
    (FunctionIdentifier("st_union"),
      new ExpressionInfo(classOf[StUnionExpression].getName, "st_union"),
      (e: Seq[Expression]) => StUnionExpression(e(0), e(1))),
    (FunctionIdentifier("st_difference"),
      new ExpressionInfo(classOf[StDifferenceExpression].getName,
        "st_difference"),
      (e: Seq[Expression]) => StDifferenceExpression(e(0), e(1))),
    (FunctionIdentifier("st_symdifference"),
      new ExpressionInfo(classOf[StSymDifferenceExpression].getName,
        "st_symdifference"),
      (e: Seq[Expression]) => StSymDifferenceExpression(e(0), e(1))),
    (FunctionIdentifier("st_numgeometries"),
      new ExpressionInfo(classOf[StNumGeometriesExpression].getName,
        "st_numgeometries"),
      (e: Seq[Expression]) => StNumGeometriesExpression(e(0))),
    (FunctionIdentifier("st_geometryn"),
      new ExpressionInfo(classOf[StGeometryNExpression].getName,
        "st_geometryn"),
      (e: Seq[Expression]) => StGeometryNExpression(e(0), e(1))),
    (FunctionIdentifier("st_exteriorring"),
      new ExpressionInfo(classOf[StExteriorRingExpression].getName,
        "st_exteriorring"),
      (e: Seq[Expression]) => StExteriorRingExpression(e(0))),
    (FunctionIdentifier("st_numinteriorring"),
      new ExpressionInfo(classOf[StNumInteriorRingExpression].getName,
        "st_numinteriorring"),
      (e: Seq[Expression]) => StNumInteriorRingExpression(e(0))),
    (FunctionIdentifier("st_interiorringn"),
      new ExpressionInfo(classOf[StInteriorRingNExpression].getName,
        "st_interiorringn"),
      (e: Seq[Expression]) => StInteriorRingNExpression(e(0), e(1))),
    (FunctionIdentifier("st_isvalid"),
      new ExpressionInfo(classOf[StIsValidExpression].getName,
        "st_isvalid"),
      (e: Seq[Expression]) => StIsValidExpression(e(0))),
    (FunctionIdentifier("geometry_invalid_reason"),
      new ExpressionInfo(classOf[StInvalidReasonExpression].getName,
        "geometry_invalid_reason"),
      (e: Seq[Expression]) => StInvalidReasonExpression(e(0))),
    (FunctionIdentifier("st_geometrytype"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_geometrytype"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 0)),
    (FunctionIdentifier("st_isempty"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_isempty"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 1)),
    (FunctionIdentifier("st_dimension"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_dimension"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 2)),
    (FunctionIdentifier("st_numpoints"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_numpoints"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 3)),
    (FunctionIdentifier("st_startpoint"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_startpoint"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 4)),
    (FunctionIdentifier("st_endpoint"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_endpoint"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 5)),
    (FunctionIdentifier("st_isclosed"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_isclosed"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 6)),
    (FunctionIdentifier("st_isring"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_isring"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 7)),
    (FunctionIdentifier("st_pointn"),
      new ExpressionInfo(classOf[StPointNExpression].getName, "st_pointn"),
      (e: Seq[Expression]) => StPointNExpression(e(0), e(1))),
    (FunctionIdentifier("line_locate_point"),
      new ExpressionInfo(classOf[LineLocatePointExpression].getName,
        "line_locate_point"),
      (e: Seq[Expression]) => LineLocatePointExpression(e(0), e(1))),
    (FunctionIdentifier("line_interpolate_point"),
      new ExpressionInfo(classOf[LineInterpolatePointExpression].getName,
        "line_interpolate_point"),
      (e: Seq[Expression]) =>
        LineInterpolatePointExpression(e(0), dbl(e(1)))),
    (FunctionIdentifier("to_geojson_geometry"),
      new ExpressionInfo(classOf[GeoJsonExpression].getName,
        "to_geojson_geometry"),
      (e: Seq[Expression]) => GeoJsonExpression(e(0), 0)),
    (FunctionIdentifier("from_geojson_geometry"),
      new ExpressionInfo(classOf[GeoJsonExpression].getName,
        "from_geojson_geometry"),
      (e: Seq[Expression]) => GeoJsonExpression(e(0), 1)),
    (FunctionIdentifier("simplify_geometry"),
      new ExpressionInfo(classOf[SimplifyGeometryExpression].getName,
        "simplify_geometry"),
      (e: Seq[Expression]) => SimplifyGeometryExpression(e(0), dbl(e(1)))),
    (FunctionIdentifier("st_distance"),
      new ExpressionInfo(classOf[StDistanceExpression].getName,
        "st_distance"),
      (e: Seq[Expression]) => StDistanceExpression(e(0), e(1))),
    (FunctionIdentifier("st_equals"),
      new ExpressionInfo(classOf[StEqualsExpression].getName, "st_equals"),
      (e: Seq[Expression]) => StEqualsExpression(e(0), e(1))),
    (FunctionIdentifier("st_boundary"),
      new ExpressionInfo(classOf[StBoundaryExpression].getName,
        "st_boundary"),
      (e: Seq[Expression]) => StBoundaryExpression(e(0))),
    (FunctionIdentifier("st_buffer"),
      new ExpressionInfo(classOf[StBufferExpression].getName, "st_buffer"),
      (e: Seq[Expression]) => {
        // optional 3rd arg: join style literal — 'round' (default,
        // Trino/GEOS arcs) or 'miter' (the r13 closed form)
        require(e.length == 2 || e.length == 3,
          s"st_buffer expects (geometry, distance[, join_style]); got " +
            s"${e.length} arguments")
        val style =
          if (e.length < 3) WktCore.BufRound
          else litStr(e(2)).toLowerCase(java.util.Locale.ROOT) match {
            case "round" => WktCore.BufRound
            case "miter" => WktCore.BufMiter
            case other => throw new IllegalArgumentException(
              s"st_buffer: unknown join style '$other' (round | miter)")
          }
        StBufferExpression(e(0), e(1), style)
      }),
    (FunctionIdentifier("st_convexhull"),
      new ExpressionInfo(classOf[StConvexHullExpression].getName,
        "st_convexhull"),
      (e: Seq[Expression]) => StConvexHullExpression(e(0))),
    (FunctionIdentifier("geometry_nearest_points"),
      new ExpressionInfo(classOf[GeometryNearestPointsExpression].getName,
        "geometry_nearest_points"),
      (e: Seq[Expression]) => GeometryNearestPointsExpression(e(0), e(1))),
    (FunctionIdentifier("line_interpolate_points"),
      new ExpressionInfo(classOf[LineInterpolatePointsExpression].getName,
        "line_interpolate_points"),
      (e: Seq[Expression]) =>
        LineInterpolatePointsExpression(e(0), dbl(e(1)))),
    (FunctionIdentifier("st_issimple"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_issimple"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 8)),
    (FunctionIdentifier("st_coorddim"),
      new ExpressionInfo(classOf[StGeomInfoExpression].getName,
        "st_coorddim"),
      (e: Seq[Expression]) => StGeomInfoExpression(e(0), 9)),
    (FunctionIdentifier("st_points"),
      new ExpressionInfo(classOf[StPointsExpression].getName, "st_points"),
      (e: Seq[Expression]) => StPointsExpression(e(0))),
    (FunctionIdentifier("to_spherical_geography"),
      new ExpressionInfo(classOf[SphericalGeographyExpression].getName,
        "to_spherical_geography"),
      (e: Seq[Expression]) => SphericalGeographyExpression(e(0), 0)),
    (FunctionIdentifier("to_geometry"),
      new ExpressionInfo(classOf[SphericalGeographyExpression].getName,
        "to_geometry"),
      (e: Seq[Expression]) => SphericalGeographyExpression(e(0), 1)),
    (FunctionIdentifier("st_asbinary"),
      new ExpressionInfo(classOf[WkbExpression].getName, "st_asbinary"),
      (e: Seq[Expression]) => WkbExpression(e(0), 0)),
    (FunctionIdentifier("st_geomfrombinary"),
      new ExpressionInfo(classOf[WkbExpression].getName, "st_geomfrombinary"),
      (e: Seq[Expression]) => WkbExpression(e(0), 1)),
    (FunctionIdentifier("word_stem"),
      new ExpressionInfo(classOf[WordStemExpression].getName, "word_stem"),
      // Trino's 2-arg form takes a language code; the kernel is the
      // English Porter stemmer, so only 'en' is honest — any other
      // language fails loudly rather than silently mis-stemming
      (e: Seq[Expression]) => {
        if (e.length == 2) require(litStr(e(1)) == "en",
          s"word_stem: only language 'en' is supported (Porter stemmer)" +
            s", got '${litStr(e(1))}'")
        WordStemExpression(e(0))
      }),
    (FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpression].getName, "jaro_winkler"),
      (e: Seq[Expression]) => JaroWinklerExpression(e(0), e(1))),
    (FunctionIdentifier("multi_count"),
      new ExpressionInfo(classOf[MultiCountExpression].getName, "multi_count"),
      (e: Seq[Expression]) => MultiCountExpression(e(0), e.tail.map(litStr))),
    (FunctionIdentifier("graft_pgamma"),
      new ExpressionInfo(classOf[RegGammaPExpression].getName, "graft_pgamma"),
      (e: Seq[Expression]) => RegGammaPExpression(dbl(e(0)), dbl(e(1)))),
    (FunctionIdentifier("graft_ibeta"),
      new ExpressionInfo(classOf[RegBetaExpression].getName, "graft_ibeta"),
      (e: Seq[Expression]) => RegBetaExpression(dbl(e(0)), dbl(e(1)), dbl(e(2)))),
    (FunctionIdentifier("graft_inv_pgamma"),
      new ExpressionInfo(classOf[InvRegGammaExpression].getName,
        "graft_inv_pgamma"),
      (e: Seq[Expression]) => InvRegGammaExpression(dbl(e(0)), dbl(e(1)))),
    (FunctionIdentifier("graft_inv_ibeta"),
      new ExpressionInfo(classOf[InvRegBetaExpression].getName, "graft_inv_ibeta"),
      (e: Seq[Expression]) => InvRegBetaExpression(dbl(e(0)), dbl(e(1)), dbl(e(2)))),
    (FunctionIdentifier("graft_inv_poisson"),
      new ExpressionInfo(classOf[InvPoissonCdfExpression].getName,
        "graft_inv_poisson"),
      (e: Seq[Expression]) => InvPoissonCdfExpression(dbl(e(0)), dbl(e(1)))),
    (FunctionIdentifier("graft_inv_binomial"),
      new ExpressionInfo(classOf[InvBinomialCdfExpression].getName,
        "graft_inv_binomial"),
      (e: Seq[Expression]) => InvBinomialCdfExpression(lng(e(0)), dbl(e(1)),
        dbl(e(2)))))

  private def lng(e: Expression): Expression =
    if (e.dataType == org.apache.spark.sql.types.LongType) e
    else org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.LongType)

  // numeric-literal convenience: the stat kernels are double-only
  private def dbl(e: Expression): Expression =
    if (e.dataType == org.apache.spark.sql.types.DoubleType) e
    else org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.DoubleType)

  private def litInt(e: Expression): Int =
    e.eval(null) match {
      case i: Int => i
      case other => throw new IllegalArgumentException(
        s"expected foldable int literal, got $other")
    }

  private def litStr(e: Expression): String =
    e.eval(null) match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"expected foldable string literal, got $other")
    }

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
  def normalizeStr(s: Column, form: String = "NFC"): Column =
    call_function("normalize_str", s, org.apache.spark.sql.functions.lit(form))
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
