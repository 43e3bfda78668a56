package graft

import graft.functions.{Geom, GraftFunctions => GF, WktCore}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** WKT geometry v2: parser round-trips, ray-cast correctness vs a
  * brute-force reference on random polygons, hostile-input behavior,
  * and DataFrame-plan (codegen) equality with direct evaluation. */
class WktSpec extends SparkSpec {
  import SparkSpec.spark.implicits._

  // coordinates of one kind, read through WktCore.read; any other kind
  // is an IllegalArgumentException, as the reader's own errors are
  private def kind[A](wkt: String)(pf: PartialFunction[Geom, A]): A = {
    val g = WktCore.read(UTF8String.fromString(wkt))
    pf.applyOrElse(g, (_: Geom) =>
      throw new IllegalArgumentException(s"unexpected kind: $wkt"))
  }
  private def point(wkt: String): Array[Double] =
    kind(wkt) { case Geom.Point(x, y) => Array(x, y) }
  /** The shell of a hole-free POLYGON. */
  private def shell(wkt: String): Array[Double] =
    kind(wkt) { case Geom.Polys(Array((s, h)), false) if h.isEmpty => s }
  private def line(wkt: String): Array[Double] =
    kind(wkt) { case Geom.Lines(Array(c), false) => c }
  private def multiPoint(wkt: String): Array[Double] =
    kind(wkt) { case Geom.MultiPoint(c) => c }

  test("POINT and POLYGON parse, closing vertex dropped, whitespace tolerated") {
    assert(point("POINT (3.5 -2.25)").sameElements(Array(3.5, -2.25)))
    assert(point("  point( 1 2 )  ").sameElements(Array(1.0, 2.0)))
    val tri = shell("POLYGON ((0 0, 4 0, 0 4, 0 0))")
    assert(tri.sameElements(Array(0.0, 0.0, 4.0, 0.0, 0.0, 4.0)))
    // unclosed ring is accepted as-is
    val tri2 = shell("POLYGON((0 0, 4 0, 0 4))")
    assert(tri2.sameElements(Array(0.0, 0.0, 4.0, 0.0, 0.0, 4.0)))
  }

  test("malformed WKT throws (TRY-able), not garbage") {
    Seq("POLYGO ((0 0, 1 0, 0 1))", "POLYGON (0 0, 1 0)", "POLYGON ((0 0, 1 1))",
        "POINT ()", "POINT (1)", "LINESTRING (0 0, 1 1)").foreach { bad =>
      intercept[IllegalArgumentException] {
        if (bad.toUpperCase.startsWith("POI")) point(bad)
        else shell(bad)
      }
    }
  }

  test("ray cast agrees with closed forms on diamond, rect, and concave shapes") {
    val diamond = shell(
      "POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))")
    val rect = shell(
      "POLYGON ((-3 -2, 3 -2, 3 2, -3 2, -3 -2))")
    // L-shape: unit squares at (0..2)x(0..1) plus (0..1)x(1..2)
    val ell = shell(
      "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))")
    for (x <- -60 to 60; y <- -60 to 60) {
      // off-edge offsets: ±.013 ±.037 can never sum to a multiple of 0.1,
      // so |px|+|py| and each coordinate stay off every polygon boundary
      val (px, py) = (x / 10.0 + 0.013, y / 10.0 + 0.037)
      assert(WktCore.contains(diamond, px, py)
        == (math.abs(px) + math.abs(py) < 5.0), s"diamond ($px,$py)")
      assert(WktCore.contains(rect, px, py)
        == (px > -3 && px < 3 && py > -2 && py < 2), s"rect ($px,$py)")
      val inEll = (px > 0 && px < 2 && py > 0 && py < 1) ||
        (px > 0 && px < 1 && py > 0 && py < 2)
      assert(WktCore.contains(ell, px, py) == inEll, s"L ($px,$py)")
    }
  }

  test("st_area and st_length compute closed-form values on known shapes") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // diamond r=5 → area 2r² = 50; axis rect 6×4 → 24; concave L → 3
    assert(WktCore.area(u("POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))")) == 50.0)
    assert(WktCore.area(u("POLYGON ((-3 -2, 3 -2, 3 2, -3 2, -3 -2))")) == 24.0)
    assert(WktCore.area(u("POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))")) == 3.0)
    // 3-4-5 triangle legs then hypotenuse back
    assert(WktCore.length(u("LINESTRING (0 0, 3 0, 3 4, 0 0)")) == 12.0)
    intercept[IllegalArgumentException] {
      line("LINESTRING (1 2)")
    }
    // SQL path, codegen'd
    val r = Seq(1).toDF("i").select(
      GF.stArea(lit("POLYGON ((0 0, 4 0, 0 3, 0 0))")).as("a"),
      GF.stLength(lit("LINESTRING (0 0, 0 7)")).as("l")).collect().head
    assert(r.getDouble(0) == 6.0 && r.getDouble(1) == 7.0)
  }

  test("st_contains/st_x/st_y evaluate identically in a codegen'd plan") {
    val poly = "POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))"
    val rows = Seq((1L, 1.25, 2.5), (2L, 4.75, 4.75), (3L, -1.25, -0.5),
        (4L, 5.25, 0.25))
      .toDF("id", "x", "y")
      .withColumn("wkt", concat(lit("POINT ("), $"x".cast("string"),
        lit(" "), $"y".cast("string"), lit(")")))
      .select($"id", GF.stContains(lit(poly), $"x", $"y").as("c"),
        GF.stX($"wkt").as("px"), GF.stY($"wkt").as("py"),
        $"x", $"y")
      .orderBy("id").collect()
    rows.foreach { r =>
      val (x, y) = (r.getDouble(4), r.getDouble(5))
      assert(r.getBoolean(1) == (math.abs(x) + math.abs(y) < 5.0))
      assert(r.getDouble(2) == x && r.getDouble(3) == y)
    }
    // NULL propagation through the expression
    val n = Seq((1L, Option.empty[Double])).toDF("id", "x")
      .select(GF.stContains(lit(poly), $"x", lit(0.0)).as("c")).collect().head
    assert(n.isNullAt(0))
  }

  test("st_intersects: crossing, containment both ways, disjoint, codegen parity") {
    import graft.functions.WktCore
    def p(wkt: String) = shell(wkt)
    val diamond = p("POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))")
    // PURE edge crossing: a thin slab cutting through the diamond with
    // NO vertex of either shape inside the other (slab corners have
    // L1 >= 7.75; diamond vertices are outside the y in [0.75, 1.25] band)
    assert(WktCore.intersects(diamond,
      p("POLYGON ((-7 0.75, 7 0.75, 7 1.25, -7 1.25, -7 0.75))")))
    // rect fully inside diamond (no edge crossings)
    assert(WktCore.intersects(diamond, p("POLYGON ((-1 -1, 1 -1, 1 1, -1 1, -1 -1))")))
    // diamond fully inside a big rect
    assert(WktCore.intersects(diamond, p("POLYGON ((-9 -9, 9 -9, 9 9, -9 9, -9 -9))")))
    // disjoint (nearest rect corner (3,3) has L1 = 6 > 5)
    assert(!WktCore.intersects(diamond, p("POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))")))
    assert(!WktCore.intersects(diamond, p("POLYGON ((8 8, 10 8, 10 10, 8 10, 8 8))")))
    // symmetric
    assert(WktCore.intersects(
      p("POLYGON ((-7 0.75, 7 0.75, 7 1.25, -7 1.25, -7 0.75))"), diamond))
    // closed-form sweep: diamond vs rect intersect iff L1 dist to rect < r
    // (fractions chosen so dx+dy is never an integer -> no boundary ties)
    val r = 5.0
    for (ox <- -12 to 12; oy <- -12 to 12) {
      val (x1, y1, x2, y2) = (ox + 0.25, oy + 0.15, ox + 2.35, oy + 1.55)
      val rect = p(s"POLYGON (($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))")
      val dx = math.max(math.max(x1 - 0.0, 0.0), 0.0 - x2)
      val dy = math.max(math.max(y1 - 0.0, 0.0), 0.0 - y2)
      assert(WktCore.intersects(diamond, rect) == (dx + dy < r),
        s"rect at ($ox,$oy): L1=${dx + dy}")
    }
    // expression evaluates in a codegen'd plan with NULL propagation
    val got = Seq(
        (1L, "POLYGON ((-7 0.75, 7 0.75, 7 1.25, -7 1.25, -7 0.75))"),
        (2L, "POLYGON ((8 8, 10 8, 10 10, 8 10, 8 8))"))
      .toDF("id", "wkt")
      .select($"id", GF.stIntersects(
        lit("POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))"), $"wkt").as("x"))
      .orderBy("id").collect()
    assert(got.map(_.getBoolean(1)).toSeq == Seq(true, false))
    val n = Seq(Tuple1(Option.empty[String])).toDF("wkt")
      .select(GF.stIntersects($"wkt",
        lit("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")).as("x")).collect().head
    assert(n.isNullAt(0))
    // POINT degenerates to containment / coordinate equality, either side
    import graft.functions.WktCore.intersectsWkt
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val dia = "POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))"
    assert(intersectsWkt(u("POINT (1 1)"), u(dia)))
    assert(intersectsWkt(u(dia), u("POINT (1 1)")))
    assert(!intersectsWkt(u("POINT (4 4)"), u(dia)))
    assert(intersectsWkt(u("point (2 3)"), u("POINT (2 3)")))
    assert(!intersectsWkt(u("POINT (2 3)"), u("POINT (2 4)")))
  }

  test("st_within / st_overlaps: containment, overlap, concave re-entry (r9)") {
    import graft.functions.WktCore.{overlapsWkt, withinWkt}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val dia = "POLYGON ((5 0, 0 5, -5 0, 0 -5, 5 0))"
    // strict containment both directions (OGC order: a within b)
    assert(withinWkt(u("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"), u(dia)))
    assert(!withinWkt(u(dia), u("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")))
    assert(withinWkt(u(dia),
      u("POLYGON ((-9 -9, 9 -9, 9 9, -9 9, -9 -9))")))
    // partial overlap is not within, but is overlaps
    val half = "POLYGON ((2.25 -1.15, 9 -1.15, 9 1.15, 2.25 1.15, 2.25 -1.15))"
    assert(!withinWkt(u(half), u(dia)) && !withinWkt(u(dia), u(half)))
    assert(overlapsWkt(u(dia), u(half)) && overlapsWkt(u(half), u(dia)))
    // containment and disjoint are NOT overlaps (OGC: neither contains)
    assert(!overlapsWkt(u(dia), u("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")))
    assert(!overlapsWkt(u(dia),
      u("POLYGON ((8 8, 10 8, 10 10, 8 10, 8 8))")))
    // CONCAVE-container case the vertex test alone would miss: every
    // vertex of the bar sits inside one of the U's prongs, but the bar
    // spans the notch between them — only the proper-crossing walk can
    // veto the containment
    val uShape = "POLYGON ((0.25 -3, 1.25 -3, 1.25 1, 2.25 1, 2.25 -3, " +
      "3.25 -3, 3.25 2, 0.25 2, 0.25 -3))"
    val bar =
      "POLYGON ((0.5 -1.45, 3.0 -1.45, 3.0 -0.95, 0.5 -0.95, 0.5 -1.45))"
    assert(!withinWkt(u(bar), u(uShape)))
    assert(overlapsWkt(u(bar), u(uShape)))
    // and a bar fully inside one prong IS within the concave ring
    assert(withinWkt(
      u("POLYGON ((0.5 -1.45, 1.0 -1.45, 1.0 -0.95, 0.5 -0.95, 0.5 -1.45))"),
      u(uShape)))
    // POINT operands: within degenerates to containment; overlaps is a
    // dimension mismatch and always false
    assert(withinWkt(u("POINT (1 1)"), u(dia)))
    assert(!withinWkt(u("POINT (6 6)"), u(dia)))
    assert(!overlapsWkt(u("POINT (1 1)"), u(dia)))
    assert(!overlapsWkt(u(dia), u("POINT (1 1)")))
    // codegen path + NULL propagation through the Column API
    val got = Seq((1L, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"), (2L, half))
      .toDF("id", "wkt")
      .select($"id", GF.stWithin($"wkt", lit(dia)).as("w"),
        GF.stOverlaps($"wkt", lit(dia)).as("o"))
      .orderBy("id").collect()
    assert(got.map(r => (r.getBoolean(1), r.getBoolean(2))).toSeq ==
      Seq((true, false), (false, true)))
    val n = Seq(Tuple1(Option.empty[String])).toDF("wkt")
      .select(GF.stWithin($"wkt", lit(dia)).as("w")).collect().head
    assert(n.isNullAt(0))
  }

  test("centroid and envelope bounds: closed forms, winding, geometry kinds") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // unit square: centroid (0.5, 0.5) regardless of winding
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    val sqR = "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))" // reversed winding
    assert(WktCore.centroid(u(sq), 0) == 0.5 && WktCore.centroid(u(sq), 1) == 0.5)
    assert(WktCore.centroid(u(sqR), 0) == 0.5 && WktCore.centroid(u(sqR), 1) == 0.5)
    // right triangle (0,0)(3,0)(0,3): centroid (1, 1) exactly
    val tri = "POLYGON ((0 0, 3 0, 0 3))"
    assert(WktCore.centroid(u(tri), 0) == 1.0 && WktCore.centroid(u(tri), 1) == 1.0)
    // asymmetric kite: centroid shifts toward the long lobe — compute
    // independently: vertices (2,0),(0,3),(-4,0),(0,-1)
    // A-terms: cross = [6, 12, 4, 2] → sa = 24, area 12
    // sx = (2+0)·6 + (0−4)·12 + (−4+0)·4 + (0+2)·2 = 12−48−16+4 = −48
    // cx = −48/72 = −2/3; sy = (0+3)·6+(3+0)·12+(0−1)·4+(−1+0)·2 = 48
    // cy = 48/72 = 2/3
    val kite = "POLYGON ((2 0, 0 3, -4 0, 0 -1))"
    assert(math.abs(WktCore.centroid(u(kite), 0) - (-2.0 / 3)) < 1e-15)
    assert(math.abs(WktCore.centroid(u(kite), 1) - 2.0 / 3) < 1e-15)
    // envelope bounds across geometry kinds
    assert(WktCore.envBound(u(kite), 0) == -4.0)
    assert(WktCore.envBound(u(kite), 1) == -1.0)
    assert(WktCore.envBound(u(kite), 2) == 2.0)
    assert(WktCore.envBound(u(kite), 3) == 3.0)
    assert(WktCore.envBound(u("LINESTRING (1 2, -3 4, 5 0)"), 0) == -3.0)
    assert(WktCore.envBound(u("LINESTRING (1 2, -3 4, 5 0)"), 3) == 4.0)
    assert(WktCore.envBound(u("POINT (7 -2)"), 2) == 7.0)
    assert(WktCore.envBound(u("POINT (7 -2)"), 1) == -2.0)
  }

  test("polygon construction tier: clip/union/buffer hand cases + loud scoping (r10)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val unitSq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    // intersection of two unit squares offset by (0.5, 0.5): the 0.5 box
    val sqB = "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))"
    val inter = WktCore.intersectionWkt(u(unitSq), u(sqB)).toString
    assert(WktCore.area(u(inter)) == 0.25, inter)
    // one rendering whichever operand comes first: every ring starts at
    // its lexicographically smallest vertex (a Sutherland–Hodgman clip
    // of sqB by unitSq starts at (0.5, 1.0))
    assert(inter == "POLYGON ((0.5 0.5, 1.0 0.5, 1.0 1.0, 0.5 1.0, 0.5 0.5))")
    assert(WktCore.intersectionWkt(u(sqB), u(unitSq)).toString == inter)
    assert(WktCore.unionWkt(u(sqB), u(unitSq)).toString ==
      WktCore.unionWkt(u(unitSq), u(sqB)).toString)
    // clockwise input normalizes (winding-insensitive)
    val cw = "POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))"
    val interCw = WktCore.intersectionWkt(u(cw), u(sqB)).toString
    assert(WktCore.area(u(interCw)) == 0.25, interCw)
    // disjoint → POLYGON EMPTY
    val far = "POLYGON ((10 10, 11 10, 11 11, 10 11, 10 10))"
    assert(WktCore.intersectionWkt(u(unitSq), u(far)).toString ==
      "POLYGON EMPTY")
    // containment short-circuits union
    val big = "POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))"
    val unBig = WktCore.unionWkt(u(unitSq), u(big)).toString
    assert(WktCore.area(u(unBig)) == 9.0, unBig)
    // corner-overlap union: inclusion-exclusion 1 + 1 − 0.25 = 1.75
    val un = WktCore.unionWkt(u(unitSq), u(sqB)).toString
    assert(WktCore.area(u(un)) == 1.75, un)
    // miter buffer of the unit square by 0.5 (r14: miter is now the
    // explicit flag; the DEFAULT is round joins): the 2×2 square
    val buf = WktCore.bufferWkt(u(unitSq), 0.5, WktCore.BufMiter).toString
    assert(WktCore.area(u(buf)) == 4.0, buf)
    assert(WktCore.envBound(u(buf), 0) == -0.5 &&
      WktCore.envBound(u(buf), 2) == 1.5)
    // round default: A + P·d + 16·d²·sin(π/16), within float noise
    val bufR = WktCore.bufferWkt(u(unitSq), 0.5).toString
    val expR = 1.0 + 4.0 * 0.5 + 16 * 0.25 * math.sin(math.Pi / 16)
    assert(math.abs(WktCore.area(u(bufR)) - expR) < 1e-9, bufR)
    // (r13) a concave input with NON-TRANSVERSAL contact no longer
    // throws — the overlay tier resolves it: the unit square lies inside
    // the concave polygon sharing the (0,0) corner and two boundary
    // runs, so ∩ = the square, ∪ = the concave polygon (area 10), and
    // square − concave = EMPTY
    val concave = "POLYGON ((0 0, 4 0, 4 4, 2 1, 0 4, 0 0))"
    assert(WktCore.area(u(
      WktCore.intersectionWkt(u(concave), u(unitSq)).toString)) == 1.0)
    assert(WktCore.area(u(
      WktCore.unionWkt(u(concave), u(unitSq)).toString)) == 10.0)
    assert(WktCore.differenceWkt(u(unitSq), u(concave)).toString ==
      "POLYGON EMPTY")
    assert(WktCore.area(u(
      WktCore.differenceWkt(u(concave), u(unitSq)).toString)) == 9.0)
    // (r11) disjoint union is now a two-component MULTIPOLYGON
    val duni = WktCore.unionWkt(u(unitSq), u(far)).toString
    assert(duni.startsWith("MULTIPOLYGON"), duni)
    assert(WktCore.area(u(duni)) == 2.0, duni)
    // negative buffer distance ERODES (r14): d = -1 consumes the unit
    // square entirely
    assert(WktCore.bufferWkt(u(unitSq), -1.0).toString == "POLYGON EMPTY")
    // (r13 flagship) edge-sharing tangency: the union of two unit
    // squares sharing the x=1 edge is ONE canonical rectangle — the
    // shared border cancels and the collinear pass-through nodes drop
    val adjacent = "POLYGON ((1 0, 2 0, 2 1, 1 1, 1 0))"
    assert(WktCore.unionWkt(u(unitSq), u(adjacent)).toString ==
      "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 1.0, 0.0 1.0, 0.0 0.0))")
    // convex hull: monotone chain drops interior AND collinear boundary
    // points; output starts at the lexicographically smallest vertex
    val pts = "LINESTRING (2 0, 0 2, -2 0, 0 -2, 0 0, 1 0, 0.5 0.25)"
    val hull = WktCore.convexHullWkt(u(pts)).toString
    assert(hull == "POLYGON ((-2.0 0.0, 0.0 -2.0, 2.0 0.0, 0.0 2.0, -2.0 0.0))",
      hull)
    assert(WktCore.area(u(hull)) == 8.0)
    // collinear degenerate input: Trino-style segment as of r16
    assert(WktCore.convexHullWkt(
      u("LINESTRING (0 0, 1 1, 2 2, 3 3)")).toString ==
      "LINESTRING (0.0 0.0, 3.0 3.0)")
    // edge-tangent rectangles: the AREAL intersection is empty — the
    // shared edge (a lower-dimensional contact) must NOT surface as a
    // zero-area sliver polygon (r10 review finding)
    assert(WktCore.intersectionWkt(u(unitSq), u(adjacent)).toString ==
      "POLYGON EMPTY")
    // corner-touching squares likewise
    val cornerTouch = "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"
    assert(WktCore.intersectionWkt(u(unitSq), u(cornerTouch)).toString ==
      "POLYGON EMPTY")
    // all-collinear "polygon" input is loud for every construction kernel
    val flat = "POLYGON ((0 0, 2 2, 4 4, 0 0))"
    intercept[IllegalArgumentException] {
      WktCore.intersectionWkt(u(flat), u(unitSq))
    }
    // coordinates >= 1e7 render in plain notation, not scientific —
    // Double.toString would emit 1.0E7, invalid WKT downstream
    val farRect =
      "POLYGON ((10000000 0, 10000001 0, 10000001 1, 10000000 1, 10000000 0))"
    val farBuf = WktCore.bufferWkt(u(farRect), 0.0).toString
    assert(!farBuf.contains("E"), farBuf)
    assert(farBuf.contains("10000000"), farBuf)
  }

  test("general clipping tier: concave ∩/∪/−, MULTIPOLYGON, loud scoping (r11)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def a(s: String) = WktCore.area(u(s))
    // hole-free concave pair with dyadic transversal crossings:
    // L-shape (area 6) ∩ rectangle (area 2) → concave L result, area 1.5
    val L = "POLYGON ((0 0, 4 0, 4 1, 2 1, 2 2, 0 2, 0 0))"
    val B = "POLYGON ((1 0.5, 3 0.5, 3 1.5, 1 1.5, 1 0.5))"
    val inter = WktCore.intersectionWkt(u(L), u(B)).toString
    assert(inter == "POLYGON ((1.0 0.5, 3.0 0.5, 3.0 1.0, 2.0 1.0, " +
      "2.0 1.5, 1.0 1.5, 1.0 0.5))", inter)
    assert(a(inter) == 1.5)
    // difference and union close inclusion–exclusion exactly
    val diff = WktCore.differenceWkt(u(L), u(B)).toString
    assert(a(diff) == 4.5, diff)
    val uni = WktCore.unionWkt(u(L), u(B)).toString
    assert(a(uni) == 6.5, uni)
    assert(a(diff) + a(inter) == a(L) - 0.0 && a(uni) == a(L) + a(B) - a(inter))
    // winding-insensitive: CW L gives the same results
    val Lcw = "POLYGON ((0 0, 0 2, 2 2, 2 1, 4 1, 4 0, 0 0))"
    assert(WktCore.intersectionWkt(u(Lcw), u(B)).toString == inter)
    // U-shape ∩ bar crossing both arms → TWO components (MULTIPOLYGON)
    val Ush = "POLYGON ((0 0, 3 0, 3 2, 2 2, 2 1, 1 1, 1 2, 0 2, 0 0))"
    val bar = "POLYGON ((0.5 1.25, 2.5 1.25, 2.5 1.75, 0.5 1.75, 0.5 1.25))"
    val mp = WktCore.intersectionWkt(u(Ush), u(bar)).toString
    assert(mp == "MULTIPOLYGON (((0.5 1.25, 1.0 1.25, 1.0 1.75, 0.5 1.75, " +
      "0.5 1.25)), ((2.0 1.25, 2.5 1.25, 2.5 1.75, 2.0 1.75, 2.0 1.25)))", mp)
    assert(a(mp) == 0.5)
    // concave difference: U (area 5) minus the two arm windows (0.5)
    assert(a(WktCore.differenceWkt(u(Ush), u(bar)).toString) == 4.5)
    // A ⊆ B difference → POLYGON EMPTY; area of EMPTY is 0
    val inner = "POLYGON ((1.25 0.75, 1.75 0.75, 1.75 1.25, 1.25 1.25, 1.25 0.75))"
    assert(WktCore.differenceWkt(u(inner), u(B)).toString == "POLYGON EMPTY")
    assert(a("POLYGON EMPTY") == 0.0)
    // B strictly inside A: the difference carries B as an INTERIOR
    // ring (r11 holes tier) — area subtracts, containment respects it
    val holed = WktCore.differenceWkt(u(B), u(inner)).toString
    assert(holed.startsWith("POLYGON ((") && holed.contains("), ("), holed)
    assert(a(holed) == 2.0 - 0.25, holed)
    assert(!WktCore.containsWkt(u(holed), 1.5, 1.0))  // inside the hole
    assert(WktCore.containsWkt(u(holed), 1.1, 1.0))   // in the annulus
    // self-intersecting (bow-tie) input is loud on the general path
    val bow = "POLYGON ((0 0, 2 2, 2 0, 0 2, 0.5 3, 0 3, 0 0))"
    val es = intercept[IllegalArgumentException] {
      WktCore.intersectionWkt(u(bow), u(B))
    }
    assert(es.getMessage.contains("self-intersecting"), es.getMessage)
    // non-transversal contact (vertex of B on an edge of concave A:
    // (1.5, 1) sits on U's notch-bottom edge) resolves through the
    // overlay tier (r13) — pin it with the inclusion–exclusion and
    // difference identities, which close exactly on dyadic input
    val quad = "POLYGON ((1.5 1, 2.5 0.25, 2.5 0.75, 1.5 1.5, 1.5 1))"
    val iq = a(WktCore.intersectionWkt(u(Ush), u(quad)).toString)
    val uq = a(WktCore.unionWkt(u(Ush), u(quad)).toString)
    val dq = a(WktCore.differenceWkt(u(Ush), u(quad)).toString)
    assert(iq > 0 && iq < a(quad), iq)
    assert(iq + uq == a(Ush) + a(quad), (iq, uq))
    assert(dq == a(Ush) - iq, (dq, iq))
    // disjoint concave pair: ∩ EMPTY, ∪ MULTIPOLYGON, − returns A
    val Lfar = "POLYGON ((100 0, 104 0, 104 1, 102 1, 102 2, 100 2, 100 0))"
    assert(WktCore.intersectionWkt(u(L), u(Lfar)).toString == "POLYGON EMPTY")
    assert(WktCore.unionWkt(u(L), u(Lfar)).toString.startsWith("MULTIPOLYGON"))
    assert(a(WktCore.unionWkt(u(L), u(Lfar)).toString) == 12.0)
    assert(a(WktCore.differenceWkt(u(L), u(Lfar)).toString) == 6.0)
    // containment: concave A ⊂ big box — ∩ is A, ∪ is the box
    val box = "POLYGON ((-1 -1, 5 -1, 5 3, -1 3, -1 -1))"
    assert(a(WktCore.intersectionWkt(u(L), u(box)).toString) == 6.0)
    assert(a(WktCore.unionWkt(u(L), u(box)).toString) == 24.0)
  }

  test("holes tier: void-enclosing union, holed difference, holed inputs (r11)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def a(s: String) = WktCore.area(u(s))
    // a C-shape (square annulus with a right-side slot, area 11) and a
    // bar capping the slot from outside: the union ENCLOSES a void —
    // one shell + one interior ring, all crossings transversal dyadic
    val c = "POLYGON ((0 0, 4 0, 4 1.5, 3 1.5, 3 1, 1 1, 1 3, 3 3, " +
      "3 2.5, 4 2.5, 4 4, 0 4, 0 0))"
    val bar = "POLYGON ((3.25 1.25, 4.5 1.25, 4.5 2.75, 3.25 2.75, 3.25 1.25))"
    assert(a(c) == 11.0)
    val uni = WktCore.unionWkt(u(c), u(bar)).toString
    assert(uni.startsWith("POLYGON ((") && uni.contains("), ("), uni)
    // void = inner 2×2 box + the un-capped slot remnant 0.25×1 = 4.25;
    // union = 11 + 1.875 − 0.375 = 12.5 (inclusion–exclusion closes)
    assert(a(uni) == 12.5, uni)
    val inter = WktCore.intersectionWkt(u(c), u(bar)).toString
    assert(inter.startsWith("MULTIPOLYGON"), inter) // two wall overlaps
    assert(a(inter) == 0.375, inter)
    assert(a(WktCore.differenceWkt(u(c), u(bar)).toString) == 10.625)
    assert(a(c) + a(bar) - a(inter) == a(uni))
    // the enclosed void is OUTSIDE the union polygon; the walls are in
    assert(!WktCore.containsWkt(u(uni), 2.0, 2.0))
    assert(WktCore.containsWkt(u(uni), 0.5, 2.0))
    assert(WktCore.containsWkt(u(uni), 4.25, 2.0)) // inside the bar cap
    // holed polygons as INPUT: area/contains work; pairwise ops are loud
    val donut = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    assert(a(donut) == 12.0)
    assert(!WktCore.containsWkt(u(donut), 2.0, 2.0))
    assert(WktCore.containsWkt(u(donut), 0.5, 2.0))
    // (r13) holed polygons as CLIP-OP inputs are now supported: the
    // bar window over the donut's right wall (hole ends at x=3, bar
    // starts at x=3.25) is the full 0.75 × 1.5 rectangle
    assert(a(WktCore.intersectionWkt(u(donut), u(bar)).toString) == 1.125)
    assert(a(WktCore.differenceWkt(u(donut), u(bar)).toString) == 10.875)
    assert(a(WktCore.unionWkt(u(donut), u(bar)).toString) == 12.75)
    // both EMPTY spellings are the empty geometry; the match is EXACT —
    // text that starts with the EMPTY keyword but carries trailing
    // garbage (and no ring) stays loud instead of silently reading as
    // the empty geometry (r11 review findings)
    assert(a("MULTIPOLYGON EMPTY") == 0.0)
    assert(!WktCore.containsWkt(u("MULTIPOLYGON EMPTY"), 0.0, 0.0))
    intercept[IllegalArgumentException] {
      WktCore.area(u("POLYGON EMPTY TRAILING"))
    }
    intercept[IllegalArgumentException] {
      WktCore.area(u("MULTIPOLYGON EMPTINESS"))
    }
    // ASYMMETRIC-hole centroid (the symmetric oracle case cannot catch
    // a hole-SIGN error — adding instead of subtracting the hole's
    // moments leaves a symmetric centroid unchanged): big [0,4]² minus
    // off-center hole [1,2]² → cen_x = (16·2 − 1·1.5)/15 = 61/30
    val offHole =
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    assert(math.abs(WktCore.centroid(u(offHole), 0) - 61.0 / 30) < 1e-12)
    assert(math.abs(WktCore.centroid(u(offHole), 1) - 61.0 / 30) < 1e-12)
    // asymmetric MULTIPOLYGON centroid: unit square + 3×1 rect at x=10
    val mp2 = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), " +
      "((10 0, 13 0, 13 1, 10 1, 10 0)))"
    assert(WktCore.centroid(u(mp2), 0) == 8.75)
    assert(WktCore.centroid(u(mp2), 1) == 0.5)
    // envelope: holes never extend it; MULTIPOLYGON spans all shells
    assert(WktCore.envBound(u(offHole), 2) == 4.0)
    assert(WktCore.envBound(u(mp2), 2) == 13.0 &&
      WktCore.envBound(u(mp2), 0) == 0.0)
  }

  test("overlay tier: shared borders, corner/T contact, holed operands (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def a(s: String) = WktCore.area(u(s))
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    // corner-touch union: two components meeting at a point — a
    // MULTIPOLYGON that the relaxed validity model accepts (OGC allows
    // isolated-point contact between components)
    val diag = "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"
    val cu = WktCore.unionWkt(u(sq), u(diag)).toString
    assert(cu.startsWith("MULTIPOLYGON"), cu)
    assert(a(cu) == 2.0)
    assert(WktCore.isValid(u(cu)), cu)
    assert(WktCore.intersectionWkt(u(sq), u(diag)).toString ==
      "POLYGON EMPTY")
    // T-junction: a tower standing on the slab's top edge, feet
    // strictly inside the edge — union is one 8-vertex T shape
    val slab = "POLYGON ((0 0, 4 0, 4 1, 0 1, 0 0))"
    val tower = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
    val tu = WktCore.unionWkt(u(slab), u(tower)).toString
    assert(a(tu) == 8.0, tu)
    assert(tu ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, 3.0 1.0, 3.0 3.0, " +
        "1.0 3.0, 1.0 1.0, 0.0 1.0, 0.0 0.0))", tu)
    assert(a(WktCore.differenceWkt(u(slab), u(tower)).toString) == 4.0)
    // partial collinear overlap, offset rectangles stacked on one edge
    val lo = "POLYGON ((0 0, 4 0, 4 1, 0 1, 0 0))"
    val hiR = "POLYGON ((2 1, 6 1, 6 2, 2 2, 2 1))"
    assert(a(WktCore.unionWkt(u(lo), u(hiR)).toString) == 8.0)
    assert(WktCore.intersectionWkt(u(lo), u(hiR)).toString ==
      "POLYGON EMPTY")
    assert(a(WktCore.differenceWkt(u(lo), u(hiR)).toString) == 4.0)
    // vertex-on-edge crossing contact: a diamond straddling the
    // square's right edge, its top/bottom vertices ON the edge — the
    // areal halves split exactly
    val big = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    val dia = "POLYGON ((3 2, 4 1, 5 2, 4 3, 3 2))"
    assert(a(WktCore.intersectionWkt(u(big), u(dia)).toString) == 1.0)
    assert(a(WktCore.differenceWkt(u(big), u(dia)).toString) == 15.0)
    assert(a(WktCore.unionWkt(u(big), u(dia)).toString) == 17.0)
    // holed operands end-to-end: donut ∩ a window crossing shell AND
    // hole; plugging the hole exactly reconstitutes the rectangle
    val donut =
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    val win = "POLYGON ((-1 1.5, 1.5 1.5, 1.5 2.5, -1 2.5, -1 1.5))"
    assert(a(WktCore.intersectionWkt(u(donut), u(win)).toString) == 1.0)
    val plug = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
    assert(WktCore.unionWkt(u(donut), u(plug)).toString ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    // donut − bite: the bite tears through the right wall along the
    // hole's own edge — the hole merges into the outside, ONE ring left
    val bite = "POLYGON ((3 1.5, 5 1.5, 5 2.5, 3 2.5, 3 1.5))"
    val torn = WktCore.differenceWkt(u(donut), u(bite)).toString
    assert(a(torn) == 11.0, torn)
    assert(!torn.contains("), ("), torn) // no interior ring anymore
    // the overlay's own MULTIPOLYGON output feeds back in
    assert(a(WktCore.intersectionWkt(u(cu), u(big)).toString) == 2.0)
    // EMPTY operands are defined: ∩ absorbs, ∪ passes through
    assert(WktCore.intersectionWkt(u("POLYGON EMPTY"), u(sq)).toString ==
      "POLYGON EMPTY")
    assert(a(WktCore.unionWkt(u("POLYGON EMPTY"), u(sq)).toString) == 1.0)
    assert(a(WktCore.differenceWkt(u(sq), u("POLYGON EMPTY")).toString) == 1.0)
    assert(WktCore.differenceWkt(u("POLYGON EMPTY"), u(sq)).toString ==
      "POLYGON EMPTY")
    // equal operands: ∪ and ∩ are the operand, − is EMPTY (full
    // boundary coincidence, same-side interiors)
    assert(a(WktCore.intersectionWkt(u(sq), u(sq)).toString) == 1.0)
    assert(a(WktCore.unionWkt(u(sq), u(sq)).toString) == 1.0)
    assert(WktCore.differenceWkt(u(sq), u(sq)).toString == "POLYGON EMPTY")
    // MULTIPOLYGON operand: slab swallows the unit square and carries
    // the diagonal square edge-adjacent on top — 4 + 2 − 1
    assert(a(WktCore.unionWkt(u(cu), u(slab)).toString) == 5.0)
  }

  test("WKT parse hardening: trailing garbage + multiply-wound rings (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // trailing content after the final ring used to parse silently
    intercept[IllegalArgumentException] {
      WktCore.area(u("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0)) junk"))
    }
    intercept[IllegalArgumentException] {
      WktCore.area(u("POLYGON junk ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    }
    intercept[IllegalArgumentException] {
      WktCore.area(u("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0))) x"))
    }
    // plain whitespace still parses
    assert(WktCore.area(u("POLYGON  ((0 0, 1 0, 1 1, 0 1, 0 0)) ")) == 1.0)
    // a pentagram turns left at every vertex (multiply wound) — it used
    // to slip through the convex fast path as silent garbage; the
    // winding bound now routes it to the general tier, which is loud
    val star = "POLYGON ((0 0, 2 6, 4 0, -1 4, 5 4, 0 0))"
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    val e = intercept[IllegalArgumentException] {
      WktCore.intersectionWkt(u(star), u(sq))
    }
    assert(e.getMessage.contains("self-intersecting"), e.getMessage)
  }

  test("st_touches / st_crosses / line predicates (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def touches(a: String, b: String) = WktCore.touchesWkt(u(a), u(b))
    def crosses(a: String, b: String) = WktCore.crossesWkt(u(a), u(b))
    def inter(a: String, b: String) = WktCore.intersectsWkt(u(a), u(b))
    val R = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    // areal pairs: edge-adjacent and corner-touch touch; overlap /
    // containment / equality / disjoint do not
    assert(touches(R, "POLYGON ((4 0, 6 0, 6 2, 4 2, 4 0))"))
    assert(touches(R, "POLYGON ((4 4, 5 4, 5 5, 4 5, 4 4))"))
    assert(!touches(R, "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"))
    assert(!touches(R, "POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))"))
    assert(!touches(R, R))
    assert(!touches(R, "POLYGON ((10 0, 11 0, 11 1, 10 1, 10 0))"))
    assert(!crosses(R, "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))")) // area×area
    // a polygon exactly filling a donut hole touches the donut
    val donut =
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    assert(touches(donut, "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"))
    // line × polygon
    val through = "LINESTRING (-1 2, 5 2)"
    assert(crosses(through, R) && crosses(R, through))
    assert(!touches(through, R))
    assert(inter(through, R) && inter(R, through))
    val alongEdge = "LINESTRING (0 0, 4 0)"
    assert(touches(alongEdge, R) && !crosses(alongEdge, R))
    assert(inter(alongEdge, R))
    val endTouch = "LINESTRING (-2 -2, 0 0)"
    assert(touches(endTouch, R) && !crosses(endTouch, R))
    val insideL = "LINESTRING (1 1, 2 2)"
    assert(!touches(insideL, R) && !crosses(insideL, R))
    assert(inter(insideL, R))
    val halfOut = "LINESTRING (2 2, 6 2)"
    assert(crosses(halfOut, R) && !touches(halfOut, R))
    val farL = "LINESTRING (10 10, 11 11)"
    assert(!touches(farL, R) && !crosses(farL, R) && !inter(farL, R))
    // a line crossing INTO the donut hole never meets the interior
    val inHole = "LINESTRING (1.5 1.5, 2.5 2.5)"
    assert(!inter(inHole, donut) && !crosses(inHole, donut))
    // line × line
    val d1 = "LINESTRING (0 0, 4 4)"
    val d2 = "LINESTRING (0 4, 4 0)"
    assert(crosses(d1, d2) && !touches(d1, d2) && inter(d1, d2))
    val tee = "LINESTRING (2 2, 6 2)" // starts ON d1's interior
    assert(touches(d1, tee) && !crosses(d1, tee))
    val over = "LINESTRING (2 2, 6 6)" // collinear overlap with d1
    assert(!touches(d1, over) && !crosses(d1, over) && inter(d1, over))
    val chain = "LINESTRING (4 4, 8 0)" // shared terminal endpoint
    assert(touches(d1, chain) && !crosses(d1, chain))
    // points
    assert(touches("POINT (4 2)", R))       // on the boundary
    assert(!touches("POINT (2 2)", R))      // interior
    assert(inter("POINT (2 2)", R))
    assert(!inter("POINT (5 5)", R))
    assert(touches("POINT (0 0)", d1))      // line terminal
    assert(!touches("POINT (2 2)", d1))     // line interior
    assert(inter("POINT (2 2)", d1))
    assert(!crosses("POINT (2 2)", d1))
    assert(!touches("POINT (1 1)", "POINT (1 1)"))
    // validity relaxation: point contact is valid, crossing stays loud
    assert(WktCore.isValid(u(
      "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), " +
        "((1 1, 2 1, 2 2, 1 2, 1 1)))")))
    assert(WktCore.isValid(u(
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 0, 3 1, 1 2, 1 0))")))
    // island inside another component hole is legal OGC nesting
    assert(WktCore.isValid(u(
      "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0), " +
        "(1 1, 3 1, 3 3, 1 3, 1 1)), " +
        "((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5)))")))
    assert(WktCore.invalidReason(u(
      "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), " +
        "((1 1, 3 1, 3 3, 1 3, 1 1)))")).toString ==
      "nested component shells")
  }

  test("line clipping: st_intersection with a LINESTRING operand (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val R = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    val donut =
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    // straight through: clipped to the chord, exact text
    assert(WktCore.intersectionWkt(u("LINESTRING (-1 2, 5 2)"), u(R))
      .toString == "LINESTRING (0.0 2.0, 4.0 2.0)")
    // argument order is commutative
    assert(WktCore.intersectionWkt(u(R), u("LINESTRING (-1 2, 5 2)"))
      .toString == "LINESTRING (0.0 2.0, 4.0 2.0)")
    // through the donut: the hole splits the chord into TWO wall runs
    val two = WktCore.intersectionWkt(
      u("LINESTRING (-1 2, 5 2)"), u(donut)).toString
    assert(two ==
      "MULTILINESTRING ((0.0 2.0, 1.0 2.0), (3.0 2.0, 4.0 2.0))", two)
    assert(WktCore.length(u(two)) == 2.0)
    // boundary run: a line along an edge is kept whole (dimension 1)
    assert(WktCore.intersectionWkt(u("LINESTRING (0 0, 4 0)"), u(R))
      .toString == "LINESTRING (0.0 0.0, 4.0 0.0)")
    // disjoint / inside-the-hole / corner-point contact → EMPTY
    assert(WktCore.intersectionWkt(u("LINESTRING (10 10, 11 11)"), u(R))
      .toString == "LINESTRING EMPTY")
    assert(WktCore.intersectionWkt(u("LINESTRING (1.5 2, 2.5 2)"), u(donut))
      .toString == "LINESTRING EMPTY")
    assert(WktCore.intersectionWkt(u("LINESTRING (-1 -1, 0 0)"), u(R))
      .toString == "LINESTRING EMPTY")
    assert(WktCore.length(u("LINESTRING EMPTY")) == 0.0)
    // a polyline weaving in and out through vertices on the boundary
    val weave = WktCore.intersectionWkt(
      u("LINESTRING (2 2, 2 5, 3 5, 3 2)"), u(R)).toString
    assert(weave ==
      "MULTILINESTRING ((2.0 2.0, 2.0 4.0), (3.0 4.0, 3.0 2.0))", weave)
    // r14: mixed-dimension ∪/− have real semantics now (the model has
    // GEOMETRYCOLLECTION); r15 made ∩ total over the kind matrix too
    val uMix = WktCore.unionWkt(
      u("LINESTRING (2 2, 7 2)"), u(R)).toString
    assert(uMix == "GEOMETRYCOLLECTION (POLYGON ((0.0 0.0, 4.0 0.0, " +
      "4.0 4.0, 0.0 4.0, 0.0 0.0)), LINESTRING (2.0 2.0, 7.0 2.0))", uMix)
    // a fully-covered line is absorbed: plain areal output
    assert(WktCore.unionWkt(u("LINESTRING (1 1, 3 1)"), u(R)).toString
      .startsWith("POLYGON"), "covered line must be absorbed")
    // line − areal: the complement clip (outside chains only)
    val dMix = WktCore.differenceWkt(
      u("LINESTRING (-2 2, 6 2)"), u(R)).toString
    assert(dMix == "MULTILINESTRING ((-2.0 2.0, 0.0 2.0), " +
      "(4.0 2.0, 6.0 2.0))", dMix)
    // areal − line: the region unchanged (canonical)
    assert(WktCore.differenceWkt(u(R), u("LINESTRING (0 0, 1 1)"))
      .toString.startsWith("POLYGON (("))
    // point(s) − areal: covered members drop
    assert(WktCore.differenceWkt(u("POINT (2 2)"), u(R)).toString ==
      "MULTIPOINT EMPTY")
    assert(WktCore.differenceWkt(u("POINT (9 9)"), u(R)).toString ==
      "POINT (9.0 9.0)")
    assert(WktCore.differenceWkt(
      u("MULTIPOINT ((2 2), (9 9))"), u(R)).toString == "POINT (9.0 9.0)")
    // line×line ∩ and − are both DEFINED as of r15 and dual: the
    // transversal crossing is a POINT for ∩ and measure-zero for −
    assert(WktCore.intersectionWkt(u("LINESTRING (0 0, 1 1)"),
      u("LINESTRING (0 1, 1 0)")).toString == "POINT (0.5 0.5)")
    assert(WktCore.differenceWkt(u("LINESTRING (0 0, 1 1)"),
      u("LINESTRING (0 1, 1 0)")).toString == "LINESTRING (0.0 0.0, 1.0 1.0)")
  }

  test("st_envelope / st_centroid over MULTIPOINT and GEOMETRYCOLLECTION (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    // MULTIPOINT bbox
    assert(WktCore.envBound(u("MULTIPOINT ((1 2), (5 -3), (0 7))"), 0) == 0.0)
    assert(WktCore.envBound(u("MULTIPOINT ((1 2), (5 -3), (0 7))"), 1) == -3.0)
    assert(WktCore.envBound(u("MULTIPOINT ((1 2), (5 -3), (0 7))"), 2) == 5.0)
    assert(WktCore.envBound(u("MULTIPOINT ((1 2), (5 -3), (0 7))"), 3) == 7.0)
    // GC envelope spans members; EMPTY members span nothing
    val gc = "GEOMETRYCOLLECTION (POINT (9 1), LINESTRING EMPTY, " +
      "LINESTRING (0 0, 2 5))"
    assert(WktCore.envBound(u(gc), 0) == 0.0)
    assert(WktCore.envBound(u(gc), 2) == 9.0)
    assert(WktCore.envBound(u(gc), 3) == 5.0)
    intercept[IllegalArgumentException] {
      WktCore.envBound(u("GEOMETRYCOLLECTION EMPTY"), 0)
    }
    intercept[IllegalArgumentException] {
      WktCore.envBound(u("MULTIPOINT EMPTY"), 0)
    }
    // GC centroid: highest-dimension members only
    assert(WktCore.centroid(u("GEOMETRYCOLLECTION (POINT (9 9), " +
      "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"), 0) == 1.0)
    assert(WktCore.centroid(u("GEOMETRYCOLLECTION (POINT (9 9), " +
      "LINESTRING (0 0, 4 0))"), 1) == 0.0)
    assert(WktCore.centroid(u("GEOMETRYCOLLECTION (POINT (1 1), " +
      "POINT (3 5))"), 1) == 3.0)
    intercept[IllegalArgumentException] {
      WktCore.centroid(u("GEOMETRYCOLLECTION (LINESTRING EMPTY)"), 0)
    }
  }

  test("st_convexhull total kind matrix (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def h(s: String) = WktCore.convexHullWkt(u(s)).toString
    assert(h("MULTIPOINT ((0 0), (4 0), (0 3), (1 1))") ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 0.0 3.0, 0.0 0.0))")
    assert(h("MULTILINESTRING ((0 0, 2 0), (0 2, 2 2))") ==
      "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    assert(h("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), " +
      "((3 0, 4 0, 4 1, 3 1, 3 0)))") ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 1.0, 0.0 1.0, 0.0 0.0))")
    assert(h("GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (0 0, 2 0))") ==
      "POLYGON ((0.0 0.0, 2.0 0.0, 5.0 5.0, 0.0 0.0))")
    // EMPTY members contribute nothing; all-EMPTY stays loud
    assert(h("GEOMETRYCOLLECTION (LINESTRING EMPTY, " +
      "MULTIPOINT ((0 0), (1 0), (0 1)))") ==
      "POLYGON ((0.0 0.0, 1.0 0.0, 0.0 1.0, 0.0 0.0))")
    intercept[IllegalArgumentException] { h("MULTIPOINT EMPTY") }
    intercept[IllegalArgumentException] { h("GEOMETRYCOLLECTION EMPTY") }
    // collinear clouds degenerate Trino-style as of r16: the segment
    // between the lexicographic extremes (order along the carrier
    // line), a single distinct point its POINT — no longer loud
    assert(h("MULTIPOINT ((0 0), (1 0), (2 0))") ==
      "LINESTRING (0.0 0.0, 2.0 0.0)")
    assert(h("LINESTRING (0 2, 0 0, 0 7)") ==
      "LINESTRING (0.0 0.0, 0.0 7.0)")
    assert(h("MULTIPOINT ((3 4), (3 4))") == "POINT (3.0 4.0)")
  }

  test("st_equals total kind matrix: lines, point sets, collections, empties (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def eq(a: String, b: String) = WktCore.equalsWkt(u(a), u(b))
    // line kinds: point-set equality via two empty noded differences —
    // extra collinear vertices, reversed direction, and part splits at
    // interior points are all the same point set
    assert(eq("LINESTRING (0 0, 4 0)", "LINESTRING (4 0, 2 0, 0 0)"))
    assert(eq("LINESTRING (0 0, 4 0)",
      "MULTILINESTRING ((0 0, 1 0), (1 0, 4 0))"))
    assert(!eq("LINESTRING (0 0, 4 0)", "LINESTRING (0 0, 3 0)"))
    assert(!eq("LINESTRING (0 0, 4 0)",
      "MULTILINESTRING ((0 0, 1 0), (2 0, 4 0))"))
    // point sets: distinct coordinate sets (repeats collapse)
    assert(eq("MULTIPOINT ((1 2))", "POINT (1 2)"))
    assert(eq("MULTIPOINT ((1 2), (1 2), (3 4))", "MULTIPOINT ((3 4), (1 2))"))
    assert(!eq("MULTIPOINT ((1 2), (3 4))", "POINT (1 2)"))
    // cross-dimension is false, not loud
    assert(!eq("POINT (1 1)", "LINESTRING (0 0, 2 2)"))
    assert(!eq("LINESTRING (0 0, 1 0)",
      "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    // every EMPTY equals every EMPTY (the point-set rule)
    assert(eq("POLYGON EMPTY", "LINESTRING EMPTY"))
    assert(eq("MULTIPOINT EMPTY", "GEOMETRYCOLLECTION EMPTY"))
    assert(!eq("POLYGON EMPTY", "POINT (0 0)"))
    // collections: self-absorb (covered members drop), then compare
    // per dimension; a single-member collection equals its member
    assert(eq("GEOMETRYCOLLECTION (POINT (1 2))", "POINT (1 2)"))
    assert(eq(
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), POINT (1 0))",
      "LINESTRING (0 0, 2 0)")) // the on-line point absorbs
    assert(eq(
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), POINT (5 5))",
      "GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (2 0, 1 0), " +
        "LINESTRING (1 0, 0 0))"))
    assert(!eq(
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), POINT (5 5))",
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 2 0), POINT (6 6))"))
    assert(!eq("GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 1 1))",
      "POINT (1 2)"))
  }

  test("st_intersection total kind matrix: line×line, points, collections (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def ix(a: String, b: String) =
      WktCore.intersectionWkt(u(a), u(b)).toString
    val A = "LINESTRING (0 0, 4 0)"
    // collinear overlap → the covered run
    assert(ix(A, "LINESTRING (1 0, 2 0)") == "LINESTRING (1.0 0.0, 2.0 0.0)")
    assert(ix(A, "LINESTRING (3 0, 9 0)") == "LINESTRING (3.0 0.0, 4.0 0.0)")
    // two disjoint covers → MULTILINESTRING
    assert(ix(A, "MULTILINESTRING ((0 0, 1 0), (3 0, 4 0))") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (3.0 0.0, 4.0 0.0))")
    // transversal crossings and touches → points, sorted, deduped
    assert(ix(A, "LINESTRING (2 -1, 2 1)") == "POINT (2.0 0.0)")
    assert(ix(A, "MULTILINESTRING ((1 -1, 1 1), (3 -1, 3 1))") ==
      "MULTIPOINT ((1.0 0.0), (3.0 0.0))")
    // T-touch at a vertex of b on a's interior; shared endpoints
    assert(ix(A, "LINESTRING (2 1, 2 0)") == "POINT (2.0 0.0)")
    assert(ix(A, "LINESTRING (4 0, 6 2)") == "POINT (4.0 0.0)")
    // mixed run + crossing → GEOMETRYCOLLECTION (lines first)
    assert(ix("LINESTRING (0 0, 4 0, 4 4)",
      "MULTILINESTRING ((1 0, 2 0), (0 2, 9 2))") ==
      "GEOMETRYCOLLECTION (LINESTRING (1.0 0.0, 2.0 0.0), POINT (4.0 2.0))")
    // a crossing point lying ON a kept run is absorbed by the run
    assert(ix(A, "MULTILINESTRING ((1 0, 3 0), (2 -1, 2 1))") ==
      "LINESTRING (1.0 0.0, 3.0 0.0)")
    // disjoint → the point-set empty
    assert(ix(A, "LINESTRING (0 5, 1 5)") == "MULTIPOINT EMPTY")
    // point(s) ∩ everything: covered members survive, dedupe + sort
    assert(ix("POINT (2 0)", A) == "POINT (2.0 0.0)")
    assert(ix("POINT (2 9)", A) == "MULTIPOINT EMPTY")
    assert(ix("MULTIPOINT ((2 0), (9 9), (4 0))", A) ==
      "MULTIPOINT ((2.0 0.0), (4.0 0.0))")
    assert(ix("MULTIPOINT ((1 1), (3 3))", "MULTIPOINT ((3 3), (5 5))") ==
      "POINT (3.0 3.0)")
    val R = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert(ix("MULTIPOINT ((2 2), (9 9), (4 4))", R) ==
      "MULTIPOINT ((2.0 2.0), (4.0 4.0))") // inside + boundary corner
    assert(ix(R, "POINT (2 2)") == "POINT (2.0 2.0)")
    // GEOMETRYCOLLECTION operands decompose; results absorb
    assert(ix("GEOMETRYCOLLECTION (POINT (2 0), LINESTRING (1 0, 2 0))",
      A) == "LINESTRING (1.0 0.0, 2.0 0.0)")
    assert(ix(A,
      "GEOMETRYCOLLECTION (LINESTRING (0 0, 1 0), POINT (3 0))") ==
      "GEOMETRYCOLLECTION (LINESTRING (0.0 0.0, 1.0 0.0), POINT (3.0 0.0))")
    assert(ix("GEOMETRYCOLLECTION (POINT (9 9))", A) == "MULTIPOINT EMPTY")
    assert(ix("GEOMETRYCOLLECTION EMPTY", A) == "MULTIPOINT EMPTY")
  }

  test("line−line st_difference: collinear coverage, touches, collections (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def d(a: String, b: String) =
      WktCore.differenceWkt(u(a), u(b)).toString
    val A = "LINESTRING (0 0, 4 0)"
    // collinear mid-cover splits the minuend
    assert(d(A, "LINESTRING (1 0, 2 0)") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (2.0 0.0, 4.0 0.0))")
    // prefix / suffix covers trim
    assert(d(A, "LINESTRING (0 0, 1 0)") == "LINESTRING (1.0 0.0, 4.0 0.0)")
    assert(d(A, "LINESTRING (3 0, 4 0)") == "LINESTRING (0.0 0.0, 3.0 0.0)")
    // exact and superset covers empty out
    assert(d(A, A) == "LINESTRING EMPTY")
    assert(d(A, "LINESTRING (-1 0, 5 0)") == "LINESTRING EMPTY")
    // overhanging cover: only the overlap is removed
    assert(d(A, "LINESTRING (3 0, 9 0)") == "LINESTRING (0.0 0.0, 3.0 0.0)")
    // disjoint, T-touch, and transversal crossings leave the minuend
    // byte-identical to its canonical form (original vertices kept)
    assert(d("LINESTRING (0 0, 2 0, 4 0)", "LINESTRING (0 5, 1 5)") ==
      "LINESTRING (0.0 0.0, 2.0 0.0, 4.0 0.0)")
    assert(d(A, "LINESTRING (2 -1, 2 0)") == "LINESTRING (0.0 0.0, 4.0 0.0)")
    assert(d(A, "LINESTRING (2 -1, 2 1)") == "LINESTRING (0.0 0.0, 4.0 0.0)")
    // multi-part both sides: per-part scan, parts never fuse
    assert(d("MULTILINESTRING ((0 0, 2 0), (0 1, 2 1))",
      "LINESTRING (1 0, 1 1, 3 1)") ==
      "MULTILINESTRING ((0.0 0.0, 2.0 0.0), (0.0 1.0, 1.0 1.0))")
    // perpendicular subtrahend crossing an interior ORIGINAL vertex
    // keeps that vertex; collinear subtrahend across a vertex removes
    // through it (two chains, no phantom vertex at the old node)
    assert(d("LINESTRING (0 0, 2 0, 2 2)", "LINESTRING (1 0, 3 0)") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (2.0 0.0, 2.0 2.0))")
    // line − point(s) and EMPTY edges
    assert(d(A, "POINT (2 0)") == "LINESTRING (0.0 0.0, 4.0 0.0)")
    assert(d(A, "MULTIPOINT ((0 0), (4 0))") ==
      "LINESTRING (0.0 0.0, 4.0 0.0)")
    assert(d(A, "LINESTRING EMPTY") == "LINESTRING (0.0 0.0, 4.0 0.0)")
    assert(d("LINESTRING EMPTY", A) == "LINESTRING EMPTY")
    // point − point coverage by coordinate equality
    assert(d("MULTIPOINT ((1 1), (2 2))", "POINT (1 1)") == "POINT (2.0 2.0)")
    assert(d("POINT (1 1)", "MULTIPOINT ((1 1), (3 3))") == "MULTIPOINT EMPTY")
    assert(d("POINT (1 1)", "POINT (2 2)") == "POINT (1.0 1.0)")
    // collection subtrahends: sequential chain over members, any kinds
    assert(d(A, "GEOMETRYCOLLECTION (LINESTRING (1 0, 2 0), POINT (5 5))") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (2.0 0.0, 4.0 0.0))")
    assert(d("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",
      "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 4, 0 4, 0 0))," +
        " LINESTRING (3 0, 3 4))") ==
      "POLYGON ((2.0 0.0, 4.0 0.0, 4.0 4.0, 2.0 4.0, 2.0 0.0))")
    assert(d(A, "GEOMETRYCOLLECTION EMPTY") == "LINESTRING (0.0 0.0, 4.0 0.0)")
    // collection MINUEND (r15 follow-up): members subtract
    // independently — difference distributes over the minuend's union —
    // and results absorb through the mixed union
    assert(d("GEOMETRYCOLLECTION (POINT (1 1), LINESTRING (0 0, 2 0))",
      A) == "POINT (1.0 1.0)") // the line member is fully covered
    assert(d("GEOMETRYCOLLECTION (POINT (5 5), LINESTRING (0 1, 2 1))",
      "POINT (9 9)") ==
      "GEOMETRYCOLLECTION (LINESTRING (0.0 1.0, 2.0 1.0), POINT (5.0 5.0))")
    assert(d("GEOMETRYCOLLECTION (POINT (0 0))", "POINT (0 0)") ==
      "POLYGON EMPTY") // a fully-consumed collection: the fold's empty
    assert(d(
      "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), POINT (9 9))",
      "POINT (9 9)") == "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
  }

  test("st_distance matrix / st_equals / extended within-overlaps (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def d(a: String, b: String) = WktCore.distanceWkt(u(a), u(b))
    val R = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    val donut =
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    // point cases: perpendicular to an edge, corner diagonal, inside
    assert(d("POINT (-3 2)", R) == 3.0)
    assert(d("POINT (7 8)", R) == 5.0)           // 3-4-5 to corner (4,4)
    assert(d("POINT (2 2)", R) == 0.0)
    assert(d("POINT (2 2)", donut) == 1.0)       // hole center → hole ring
    assert(d("POINT (1 1)", "POINT (4 5)") == 5.0)
    // line and polygon pairs; symmetry
    assert(d("LINESTRING (0 -2, 4 -2)", R) == 2.0)
    assert(d(R, "LINESTRING (0 -2, 4 -2)") == 2.0)
    assert(d(R, "POLYGON ((7 4, 8 4, 8 5, 7 5, 7 4))") == 3.0)
    assert(d(R, "POLYGON ((5 5, 6 5, 6 6, 5 6, 5 5))") == math.sqrt(2.0))
    // touching and overlapping are 0
    assert(d(R, "POLYGON ((4 0, 6 0, 6 2, 4 2, 4 0))") == 0.0)
    assert(d(R, "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))") == 0.0)
    assert(d("LINESTRING (-1 2, 5 2)", R) == 0.0)
    // st_equals: point-set equality, not text equality — the same
    // square with extra collinear vertices and a rotated start
    assert(WktCore.equalsWkt(u(R),
      u("POLYGON ((4 0, 4 4, 0 4, 0 0, 2 0, 4 0))")))
    assert(!WktCore.equalsWkt(u(R), u(donut)))
    assert(WktCore.equalsWkt(u("POINT (1 2)"), u("POINT (1 2)")))
    assert(!WktCore.equalsWkt(u("POINT (1 2)"), u(R)))
    // extended within/overlaps: holed containers and shared borders
    assert(WktCore.withinWkt(
      u("POLYGON ((0.25 0.25, 0.75 0.25, 0.75 0.75, 0.25 0.75, 0.25 0.25))"),
      u(donut)))
    assert(!WktCore.withinWkt(
      u("POLYGON ((1.5 1.5, 2.5 1.5, 2.5 2.5, 1.5 2.5, 1.5 1.5))"),
      u(donut)))   // inside the hole is NOT within the donut
    assert(WktCore.withinWkt(
      u("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"), u(R))) // shared corner+edges
    assert(WktCore.overlapsWkt(u(donut),
      u("POLYGON ((2.5 1.5, 5 1.5, 5 2.5, 2.5 2.5, 2.5 1.5))")))
    assert(!WktCore.overlapsWkt(u(donut),
      u("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"))) // exactly plugs the hole
  }

  test("st_buffer over MULTIPOINT / GEOMETRYCOLLECTION (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def a(s: String) = WktCore.area(u(s))
    val disk = 16 * 0.25 * math.sin(math.Pi / 16) // d = 0.5
    // disjoint points → 2-component MULTIPOLYGON, area = 2 disks
    val bmp = WktCore.bufferWkt(u("MULTIPOINT ((0 0), (10 0))"), 0.5)
      .toString
    assert(bmp.startsWith("MULTIPOLYGON"), bmp)
    assert(math.abs(a(bmp) - 2 * disk) < 1e-9)
    // heavily overlapping disks merge to ONE polygon, area < 2 disks
    val bnear = WktCore.bufferWkt(u("MULTIPOINT ((0 0), (0.25 0))"), 0.5)
      .toString
    assert(bnear.startsWith("POLYGON"), bnear)
    assert(a(bnear) > disk && a(bnear) < 2 * disk)
    // d = 0 canonical; negative → EMPTY; EMPTY input → POLYGON EMPTY
    assert(WktCore.bufferWkt(u("MULTIPOINT ((1 2), (3 4))"), 0.0)
      .toString == "MULTIPOINT ((1.0 2.0), (3.0 4.0))")
    assert(WktCore.bufferWkt(u("MULTIPOINT ((1 2), (3 4))"), -0.5)
      .toString == "POLYGON EMPTY")
    assert(WktCore.bufferWkt(u("MULTIPOINT EMPTY"), 0.5).toString ==
      "POLYGON EMPTY")
    // mixed collection: disk + capsule + dilated rect, far apart
    val gc = "GEOMETRYCOLLECTION (POINT (0 0), " +
      "LINESTRING (20 0, 22 0), " +
      "POLYGON ((40 0, 42 0, 42 1, 40 1, 40 0)))"
    val bgc = WktCore.bufferWkt(u(gc), 0.5).toString
    assert(bgc.startsWith("MULTIPOLYGON"), bgc)
    val exp = disk + (2 * 0.5 * 2 + disk) + (2.0 + 6 * 0.5 + disk)
    assert(math.abs(a(bgc) - exp) < 1e-9, a(bgc))
    // EMPTY members are skipped; all-EMPTY → POLYGON EMPTY
    assert(math.abs(a(WktCore.bufferWkt(
      u("GEOMETRYCOLLECTION (LINESTRING EMPTY, POINT (0 0))"), 0.5)
      .toString) - disk) < 1e-12)
    assert(WktCore.bufferWkt(
      u("GEOMETRYCOLLECTION (LINESTRING EMPTY)"), 0.5).toString ==
      "POLYGON EMPTY")
    assert(WktCore.bufferWkt(u("GEOMETRYCOLLECTION EMPTY"), 0.5)
      .toString == "POLYGON EMPTY")
    // r16: negative distance over a collection of STRICTLY separated
    // members distributes — the point and line erode to measure zero,
    // only the eroded rect survives (1.5 × 0.5)
    val egc = WktCore.bufferWkt(u(gc), -0.25).toString
    assert(egc == "POLYGON ((40.25 0.25, 41.75 0.25, 41.75 0.75, " +
      "40.25 0.75, 40.25 0.25))", egc)
  }

  test("st_buffer erosion over MULTIPOLYGON / separated collections (r16)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val mp2 = "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), " +
      "((10 0, 14 0, 14 4, 10 4, 10 0)))"
    // per-component insets as a 2-component MULTIPOLYGON, exact text
    val er = WktCore.bufferWkt(u(mp2), -1.0).toString
    assert(er == "MULTIPOLYGON (((1.0 1.0, 3.0 1.0, 3.0 3.0, 1.0 3.0, " +
      "1.0 1.0)), ((11.0 1.0, 13.0 1.0, 13.0 3.0, 11.0 3.0, 11.0 1.0)))",
      er)
    assert(WktCore.area(u(er)) == 8.0)
    // vanished-member edge: the 1×1 component is consumed, the other
    // survives as a plain POLYGON; all-vanished renders POLYGON EMPTY
    assert(WktCore.bufferWkt(u("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, " +
      "0 0)), ((10 0, 11 0, 11 1, 10 1, 10 0)))"), -1.0).toString ==
      "POLYGON ((1.0 1.0, 3.0 1.0, 3.0 3.0, 1.0 3.0, 1.0 1.0))")
    assert(WktCore.bufferWkt(u("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, " +
      "0 0)), ((10 0, 11 0, 11 1, 10 1, 10 0)))"), -1.0).toString ==
      "POLYGON EMPTY")
    // r17: CONTACTING areal members union-then-erode — the definition
    // (erosion acts on the region). Edge-sharing squares merge into
    // the 8×4 rectangle whose 1-inset is 6×2 = area 12; the WRONG
    // erode-then-union would give 2·(2×2) = 8, so the closed form
    // pins the merged-region semantics
    val eSharedMp = WktCore.bufferWkt(
      u("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), " +
        "((4 0, 8 0, 8 4, 4 4, 4 0)))"), -1.0).toString
    assert(WktCore.area(u(eSharedMp)) == 12.0, eSharedMp)
    val eSharedGc = WktCore.bufferWkt(u("GEOMETRYCOLLECTION (" +
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), " +
      "POLYGON ((4 0, 8 0, 8 4, 4 4, 4 0)))"), -1.0).toString
    assert(WktCore.area(u(eSharedGc)) == 12.0, eSharedGc)
    // overlapping members merge the same way: (0..4)×(0..4) ∪
    // (2..6)×(0..4) = the 6×4 rectangle, 1-inset = the 4×2 rectangle
    // (this config agrees with erode-then-union — the edge-share pin
    // above is the one that separates the semantics; here the text
    // pin proves the merged path renders ONE canonical polygon)
    val eOv = WktCore.bufferWkt(u("GEOMETRYCOLLECTION (" +
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), " +
      "POLYGON ((2 0, 6 0, 6 4, 2 4, 2 0)))"), -1.0).toString
    assert(eOv == "POLYGON ((1.0 1.0, 5.0 1.0, 5.0 3.0, 1.0 3.0, " +
      "1.0 1.0))", eOv)
    // corner-touching components: the union renders the valid
    // point-touching MULTIPOLYGON, whose components erode
    // independently (no positive-radius disk passes a point contact)
    val eCorner = WktCore.bufferWkt(
      u("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), " +
        "((4 4, 8 4, 8 8, 4 8, 4 4)))"), -1.0).toString
    assert(eCorner == "MULTIPOLYGON (((1.0 1.0, 3.0 1.0, 3.0 3.0, " +
      "1.0 3.0, 1.0 1.0)), ((5.0 5.0, 7.0 5.0, 7.0 7.0, 5.0 7.0, " +
      "5.0 5.0)))", eCorner)
    // diagonal overlap: the merged staircase has REFLEX corners, so
    // its erosion grows round fillets there — exact area 10 − π/2
    // plus the chord slack of the 8-segment quarter arcs (the chords
    // under-cut the removed disk sectors, so the polygon area sits
    // just above the exact value)
    val eDiag = WktCore.bufferWkt(u("GEOMETRYCOLLECTION (" +
      "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0)), " +
      "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2)))"), -1.0).toString
    val aDiag = WktCore.area(u(eDiag))
    assert(aDiag >= 10 - math.Pi / 2 && aDiag < 10 - math.Pi / 2 + 0.02,
      s"$aDiag / $eDiag")
    // a nested-collection member cannot be classified — LOUD
    intercept[IllegalArgumentException] {
      WktCore.bufferWkt(u("GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (" +
        "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))))"), -1.0)
    }
    // MULTIPOLYGON dilation distributes unconditionally (Minkowski):
    // separated components stay separate; near components merge
    val disk = (d: Double) => 16 * d * d * math.sin(math.Pi / 16)
    val dil = WktCore.bufferWkt(u(mp2), 0.5).toString
    assert(dil.startsWith("MULTIPOLYGON"), dil)
    assert(math.abs(WktCore.area(u(dil)) -
      2 * (16 + 16 * 0.5 + disk(0.5))) < 1e-9)
    assert(WktCore.bufferWkt(u("MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, " +
      "0 0)), ((3 0, 5 0, 5 2, 3 2, 3 0)))"), 1.0).toString
      .startsWith("POLYGON"))
    // d = 0 canonical; MULTIPOLYGON EMPTY erodes to POLYGON EMPTY
    assert(WktCore.bufferWkt(u(mp2), 0.0).toString ==
      "MULTIPOLYGON (((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0)), " +
      "((10.0 0.0, 14.0 0.0, 14.0 4.0, 10.0 4.0, 10.0 0.0)))")
    assert(WktCore.bufferWkt(u("MULTIPOLYGON EMPTY"), -1.0).toString ==
      "POLYGON EMPTY")
  }

  test("st_distance EMPTY operands are loud; collection empties skipped (r15)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def d(a: String, b: String) = WktCore.distanceWkt(u(a), u(b))
    val R = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    // r15 ADVICE: each EMPTY spelling used to silently return
    // sqrt(Double.MaxValue) once segmentsOf went through lineParts
    for (e <- Seq("LINESTRING EMPTY", "MULTILINESTRING EMPTY",
        "POLYGON EMPTY", "MULTIPOLYGON EMPTY", "MULTIPOINT EMPTY")) {
      intercept[IllegalArgumentException] { d(e, R) }
      intercept[IllegalArgumentException] { d(R, e) }
    }
    // EMPTY members inside a collection are skipped, not poisonous
    assert(d("GEOMETRYCOLLECTION (LINESTRING EMPTY, POINT (7 4))", R) == 3.0)
    assert(d(R, "GEOMETRYCOLLECTION (MULTIPOINT EMPTY, POINT (-3 2))") == 3.0)
    // a collection with ONLY empty members has no distance — loud
    intercept[IllegalArgumentException] {
      d("GEOMETRYCOLLECTION (LINESTRING EMPTY)", R)
    }
    intercept[IllegalArgumentException] { d("GEOMETRYCOLLECTION EMPTY", R) }
  }

  test("concave miter buffer via piece union (r13)") {
    import graft.functions.WktCore
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def a(s: String) = WktCore.area(u(s))
    // rectilinear closed form: area + perimeter·d + (convex − reflex)·d²
    // = A + P·d + 4·d² for any simple rectilinear ring
    val ell = "POLYGON ((0 0, 2 0, 2 1, 1 1, 1 2, 0 2, 0 0))"
    val bl = WktCore.bufferWkt(u(ell), 0.5, WktCore.BufMiter).toString
    assert(a(bl) == 3.0 + 8.0 * 0.5 + 4 * 0.25, bl)
    // round default on the same L: A + P·d + 5·4d²·sin(π/16) − d²
    val blR = WktCore.bufferWkt(u(ell), 0.5).toString
    val expLR = 3.0 + 8.0 * 0.5 + 20 * 0.25 * math.sin(math.Pi / 16) - 0.25
    assert(math.abs(a(blR) - expLR) < 1e-9, blR)
    // EROSION (r14): axis-parallel square erodes to the exact inner
    // square; the L erodes to A − P·d + 5d² − 4d²·sin(π/16)
    val sq22 = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    val er = WktCore.bufferWkt(u(sq22), -0.5).toString
    assert(er == "POLYGON ((0.5 0.5, 1.5 0.5, 1.5 1.5, 0.5 1.5, 0.5 0.5))", er)
    val erL = WktCore.bufferWkt(u(ell), -0.25).toString
    val expLE = 3.0 - 8.0 * 0.25 + 5 * 0.0625 -
      4 * 0.0625 * math.sin(math.Pi / 16)
    assert(math.abs(a(erL) - expLE) < 1e-9, erL)
    assert(WktCore.withinWkt(u(erL), u(ell)))
    // erosion that consumes the ring is EMPTY; negative point buffer too
    assert(WktCore.bufferWkt(u(sq22), -2.0).toString == "POLYGON EMPTY")
    assert(WktCore.bufferWkt(u("POINT (1 1)"), -0.5).toString ==
      "POLYGON EMPTY")
    // LINE capsule (r14): straight segment = 2dL + two half-disk caps
    // (16 chords each → 16 d² sin(π/16) total)
    val cap = WktCore.bufferWkt(u("LINESTRING (0 0, 4 0)"), 1.0).toString
    val sinQ = math.sin(math.Pi / 16)
    assert(math.abs(a(cap) - (8.0 + 16 * sinQ)) < 1e-9, cap)
    // elbow: 2d(a+b) − d² (inner overlap) + caps + one outer joint fan
    val elb = WktCore.bufferWkt(u("LINESTRING (0 0, 3 0, 3 2)"), 0.5)
      .toString
    assert(math.abs(a(elb) -
      (2 * 0.5 * 5 - 0.25 + 20 * 0.25 * sinQ)) < 1e-9, elb)
    // the capsule COVERS the line: clipping the line to it keeps the
    // full length
    assert(WktCore.length(u(WktCore.intersectionWkt(
      u("LINESTRING (0 0, 3 0, 3 2)"), u(elb)).toString)) == 5.0)
    // closed ring line → an ANNULAR band (outer fans, inner overlaps)
    val ringLine = "LINESTRING (0 0, 4 0, 4 4, 0 4, 0 0)"
    val band = WktCore.bufferWkt(u(ringLine), 0.5).toString
    assert(band.contains("), ("), s"band must be holed: $band")
    assert(math.abs(a(band) - (16.0 - 4 * 0.25 + 16 * 0.25 * sinQ))
      < 1e-9, band)
    // MULTILINESTRING: disjoint parts buffer to a MULTIPOLYGON
    val mlb = WktCore.bufferWkt(
      u("MULTILINESTRING ((0 0, 2 0), (10 0, 12 0))"), 0.5).toString
    assert(mlb.startsWith("MULTIPOLYGON"), mlb)
    assert(math.abs(a(mlb) - 2 * (2.0 + 16 * 0.25 * sinQ)) < 1e-9, mlb)
    // negative / zero on lines
    assert(WktCore.bufferWkt(u("LINESTRING (0 0, 2 0)"), -0.5).toString ==
      "POLYGON EMPTY")
    assert(WktCore.bufferWkt(u("LINESTRING (0 0, 2 0)"), 0.0).toString ==
      "LINESTRING (0 0, 2 0)")
    // U-shape: A = 5, P = 12, 8 convex − 2 reflex... rectilinear always
    // nets to 4: A + P·d + 4·d²
    val ush = "POLYGON ((0 0, 3 0, 3 2, 2 2, 2 1, 1 1, 1 2, 0 2, 0 0))"
    val bu = WktCore.bufferWkt(u(ush), 0.25, WktCore.BufMiter).toString
    assert(a(bu) == 5.0 + 12.0 * 0.25 + 4 * 0.0625, bu)
    // the buffered region CONTAINS the input and its near-offset points
    assert(WktCore.withinWkt(u(ell), u(bl)))
    assert(WktCore.containsWkt(u(bl), -0.25, -0.25)) // outside the miter? corner kite covers the diagonal
    assert(WktCore.containsWkt(u(bl), 2.4, 0.5))      // edge offset
    assert(!WktCore.containsWkt(u(bl), 1.8, 1.8))     // in the notch, > d away
    // convex inputs keep the legacy closed-form path bit-stably under
    // the explicit miter flag (r14: the default is round joins)
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    assert(WktCore.bufferWkt(u(sq), 0.5, WktCore.BufMiter).toString ==
      "POLYGON ((-0.5 -0.5, 1.5 -0.5, 1.5 1.5, -0.5 1.5, -0.5 -0.5))")
    // d = 0 on a concave ring normalizes instead of throwing (r13)
    assert(a(WktCore.bufferWkt(u(ell), 0.0).toString) == 3.0)
    // POINT buffer: the regular 32-gon disk approximation (r13)
    val disk = WktCore.bufferWkt(u("POINT (2 3)"), 1.5).toString
    val exact = 16.0 * 1.5 * 1.5 * math.sin(math.Pi / 16)
    assert(math.abs(a(disk) / exact - 1.0) < 1e-12, disk)
    assert(WktCore.isValid(u(disk)))
    assert(WktCore.containsWkt(u(disk), 2.0, 3.0))       // center
    assert(WktCore.containsWkt(u(disk), 2.0 + 1.3, 3.0)) // inside apothem
    assert(!WktCore.containsWkt(u(disk), 2.0 + 1.51, 3.0))
    assert(WktCore.bufferWkt(u("POINT (2 3)"), 0.0).toString ==
      "POINT (2.0 3.0)")
  }

  test("geometry_nearest_points / st_issimple / st_coorddim / line_interpolate_points (r13)") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def np(a: String, b: String): (String, String) = {
      val r = WktCore.nearestPointsWkt(u(a), u(b))
      (r.getUTF8String(0).toString, r.getUTF8String(1).toString)
    }
    val sq = "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"
    // point to edge interior: the projection realizes the pair
    assert(np(sq, "POINT (0.5 3)") == ("POINT (0.5 1.0)", "POINT (0.5 3.0)"))
    // corner-to-corner between diagonal rects
    assert(np(sq, "POLYGON ((3 2, 4 2, 4 3, 3 3, 3 2))") ==
      ("POINT (1.0 1.0)", "POINT (3.0 2.0)"))
    // line to point
    assert(np("LINESTRING (0 0, 4 0)", "POINT (2 2)") ==
      ("POINT (2.0 0.0)", "POINT (2.0 2.0)"))
    // NULL on EMPTY; loud on intersecting inputs
    assert(WktCore.nearestPointsWkt(u("POLYGON EMPTY"), u(sq)) == null)
    intercept[IllegalArgumentException] {
      WktCore.nearestPointsWkt(u(sq), u("POLYGON ((0.5 0.5, 2 0.5, 2 2, 0.5 2, 0.5 0.5))"))
    }
    // GEOMETRYCOLLECTION operands (r15): argmin over member segments;
    // EMPTY members contribute nothing; all-empty collections are NULL
    assert(np("GEOMETRYCOLLECTION (POINT (9 9), LINESTRING (3 0, 4 0))",
      "POINT (0 0)") == ("POINT (3.0 0.0)", "POINT (0.0 0.0)"))
    assert(np("GEOMETRYCOLLECTION (LINESTRING EMPTY, POINT (0 3))", sq) ==
      ("POINT (0.0 3.0)", "POINT (0.0 1.0)"))
    assert(WktCore.nearestPointsWkt(
      u("GEOMETRYCOLLECTION (MULTIPOINT EMPTY)"), u(sq)) == null)
    assert(WktCore.nearestPointsWkt(
      u("GEOMETRYCOLLECTION EMPTY"), u(sq)) == null)

    // st_issimple over the matrix
    assert(WktCore.isSimpleWkt(u("POINT (1 2)")))
    assert(WktCore.isSimpleWkt(u("LINESTRING (0 0, 2 0, 2 2)")))
    assert(WktCore.isSimpleWkt(u("LINESTRING (0 0, 1 0, 1 1, 0 0)"))) // ring
    assert(!WktCore.isSimpleWkt(u("LINESTRING (0 0, 2 2, 2 0, 0 2)"))) // cross
    assert(!WktCore.isSimpleWkt(u("LINESTRING (0 0, 2 0, 1 0)"))) // fold-back
    assert(!WktCore.isSimpleWkt(u("LINESTRING (0 0, 0 0, 1 1)"))) // zero-seg
    assert(WktCore.isSimpleWkt(u(sq)))
    assert(!WktCore.isSimpleWkt(u("POLYGON ((0 0, 2 2, 2 0, 0 2, 0 0))")))
    assert(WktCore.isSimpleWkt(u("POLYGON EMPTY")))
    // MULTILINESTRING simplicity (r14): SFS part-pairwise rule
    assert(WktCore.isSimpleWkt(u("MULTILINESTRING ((0 0, 1 0), (2 0, 3 0))")))
    assert(WktCore.isSimpleWkt(
      u("MULTILINESTRING ((0 0, 1 0), (1 0, 1 1))"))) // shared endpoint
    assert(!WktCore.isSimpleWkt(
      u("MULTILINESTRING ((0 0, 2 0), (1 0, 1 1))"))) // T-junction
    assert(!WktCore.isSimpleWkt(
      u("MULTILINESTRING ((0 0, 2 0), (1 0, 3 0))"))) // collinear overlap
    assert(!WktCore.isSimpleWkt(
      u("MULTILINESTRING ((0 0, 2 2), (0 2, 2 0))"))) // proper cross
    assert(WktCore.isSimpleWkt(u("MULTILINESTRING EMPTY")))

    // st_coorddim validates the parse
    assert(WktCore.coordDim(u(sq)) == 2L)
    intercept[IllegalArgumentException] { WktCore.coordDim(u("POLYGO (1)")) }

    // line_interpolate_points: Trino's count = floor(1/fraction)
    def ip(l: String, f: Double): Seq[String] = {
      val r = WktCore.lineInterpolatePoints(u(l), f)
      (0 until r.numElements()).map(r.getUTF8String(_).toString)
    }
    assert(ip("LINESTRING (0 0, 3 0, 3 1)", 0.25) == Seq(
      "POINT (1.0 0.0)", "POINT (2.0 0.0)", "POINT (3.0 0.0)",
      "POINT (3.0 1.0)"))
    assert(ip("LINESTRING (0 0, 4 0)", 0.5) ==
      Seq("POINT (2.0 0.0)", "POINT (4.0 0.0)"))
    intercept[IllegalArgumentException] {
      WktCore.lineInterpolatePoints(u("LINESTRING (0 0, 1 0)"), 0.0)
    }

    // codegen parity inside a plan
    val row = Seq((sq, "POINT (0.5 3)")).toDF("g", "p")
      .selectExpr("geometry_nearest_points(g, p) AS np",
        "st_issimple(g) AS simp", "st_coorddim(g) AS cd",
        "line_interpolate_points('LINESTRING (0 0, 4 0)', 0.5d) AS ips")
      .head()
    assert(row.getSeq[String](0) == Seq("POINT (0.5 1.0)", "POINT (0.5 3.0)"))
    assert(row.getBoolean(1) && row.getLong(2) == 2L)
    assert(row.getSeq[String](3) == Seq("POINT (2.0 0.0)", "POINT (4.0 0.0)"))
  }

  test("spherical geography: tag typing, great-circle meters, spherical excess (r13)") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def geo(s: String) = WktCore.toSphericalGeography(u(s))

    // tagging validates ranges and kind; to_geometry round-trips
    assert(geo("POINT (10 20)").toString == "GEOGRAPHY POINT (10 20)")
    assert(WktCore.sphericalToGeometry(geo("POINT (10 20)")).toString ==
      "POINT (10 20)")
    intercept[IllegalArgumentException] { geo("POINT (181 0)") }
    intercept[IllegalArgumentException] { geo("POINT (0 91)") }
    intercept[IllegalArgumentException] {
      WktCore.toSphericalGeography(geo("POINT (0 0)")) // double tag
    }
    intercept[IllegalArgumentException] {
      WktCore.sphericalToGeometry(u("POINT (0 0)")) // untagged
    }

    // one degree of longitude at the equator = πR/180 meters
    val d = WktCore.distanceWkt(geo("POINT (0 0)"), geo("POINT (1 0)"))
    assert(math.abs(d - math.Pi * 6371008.8 / 180.0) < 1e-4, d)
    assert(WktCore.distanceWkt(geo("POINT (1 0)"), geo("POINT (0 0)")) == d)
    assert(WktCore.distanceWkt(geo("POINT (5 5)"), geo("POINT (5 5)")) == 0.0)
    // type errors are loud: mixed operands, non-point geography
    intercept[IllegalArgumentException] {
      WktCore.distanceWkt(geo("POINT (0 0)"), u("POINT (1 0)"))
    }
    intercept[IllegalArgumentException] {
      WktCore.distanceWkt(geo("LINESTRING (0 0, 1 0)"), geo("POINT (0 0)"))
    }

    // spherical rect area: 1°×1° at the equator ≈ R²·(π/180)²·cos(0.5°)
    val area = WktCore.area(geo("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))"))
    val approx = 6371008.8 * 6371008.8 *
      (math.Pi / 180) * (math.Pi / 180) * math.cos(0.5 * math.Pi / 180)
    assert(math.abs(area / approx - 1.0) < 1e-4, s"$area vs $approx")
    // length of the geography segment equals the point distance exactly
    // (identical kernel, identical operation order)
    assert(WktCore.length(geo("LINESTRING (0 0, 1 0)")) == d)
    // planar inputs keep planar semantics bit-identically
    assert(WktCore.area(u("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")) == 1.0)

    // the Trino spelling end-to-end in a plan
    val row = Seq((0.0, 0.0, 1.0, 0.0)).toDF("x1", "y1", "x2", "y2")
      .selectExpr(
        """st_distance(
          |  to_spherical_geography(concat('POINT (', x1, ' ', y1, ')')),
          |  to_spherical_geography(concat('POINT (', x2, ' ', y2, ')'))
          |) AS d""".stripMargin)
      .head()
    assert(row.getDouble(0) == d)
  }

  test("MULTIPOINT: parse/render, accessors, distance, interchange, st_points (r13)") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    val mp = "MULTIPOINT ((1 2), (3 4), (0 0))"

    // both spellings parse; the parenthesized form is canonical
    assert(multiPoint(mp).sameElements(
      Array(1.0, 2.0, 3.0, 4.0, 0.0, 0.0)))
    assert(multiPoint("MULTIPOINT (1 2, 3 4)").sameElements(
      Array(1.0, 2.0, 3.0, 4.0)))
    intercept[IllegalArgumentException] {
      multiPoint("MULTIPOINT ((1 2), ())")
    }

    // accessors
    assert(WktCore.geometryType(u(mp)).toString == "ST_MultiPoint")
    assert(!WktCore.isEmptyGeom(u(mp)))
    assert(WktCore.isEmptyGeom(u("MULTIPOINT EMPTY")))
    assert(WktCore.dimensionOf(u(mp)) == 0L)
    assert(WktCore.numPoints(u(mp)) == 3L)
    assert(WktCore.numGeometries(u(mp)) == 3L)
    assert(WktCore.geometryN(u(mp), 2).toString == "POINT (3.0 4.0)")
    assert(WktCore.geometryN(u(mp), 4) == null)
    assert(WktCore.isSimpleWkt(u(mp)))
    assert(!WktCore.isSimpleWkt(u("MULTIPOINT ((1 2), (1 2))")))

    // distance rides the degenerate-segment path: nearest of the three
    // points to (6 8) is (3 4) at distance 5 exactly
    assert(WktCore.distanceWkt(u(mp), u("POINT (6 8)")) == 5.0)
    val np = WktCore.nearestPointsWkt(u(mp), u("POINT (6 8)"))
    assert(np.getUTF8String(0).toString == "POINT (3.0 4.0)")

    // interchange round trips land on the canonical parenthesized form
    val canon = "MULTIPOINT ((1.0 2.0), (3.0 4.0), (0.0 0.0))"
    assert(WktCore.fromWkb(WktCore.toWkb(u(mp))).toString == canon)
    assert(WktCore.fromGeoJson(WktCore.toGeoJson(u(mp))).toString == canon)
    assert(WktCore.toGeoJson(u(mp)).toString == "{\"type\":\"MultiPoint\"," +
      "\"coordinates\":[[1.0,2.0],[3.0,4.0],[0.0,0.0]]}")
    // WKB: 9-byte header + three 21-byte nested points
    assert(WktCore.toWkb(u(mp)).length == 72)

    // st_points over the point/line kinds; NULL on EMPTY
    def pts(s: String): Seq[String] = {
      val r = WktCore.pointsOf(u(s))
      (0 until r.numElements()).map(r.getUTF8String(_).toString)
    }
    assert(pts(mp) == Seq("POINT (1.0 2.0)", "POINT (3.0 4.0)",
      "POINT (0.0 0.0)"))
    assert(pts("LINESTRING (0 0, 1 1)") ==
      Seq("POINT (0.0 0.0)", "POINT (1.0 1.0)"))
    assert(pts("POINT (5 6)") == Seq("POINT (5.0 6.0)"))
    assert(WktCore.pointsOf(u("MULTIPOINT EMPTY")) == null)

    // codegen parity
    val row = Seq(mp).toDF("g")
      .selectExpr("st_points(g) AS p", "st_numgeometries(g) AS n",
        "st_geomfrombinary(st_asbinary(g)) AS rt")
      .head()
    assert(row.getSeq[String](0).head == "POINT (1.0 2.0)")
    assert(row.getLong(1) == 3L && row.getString(2) == canon)
  }

  test("WKB interchange: exact bytes, round trips, both orders, loud scoping (r13)") {
    def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def hexOf(s: String): String =
      java.util.HexFormat.of().formatHex(WktCore.toWkb(u(s)))
    def rt(s: String): String =
      WktCore.fromWkb(WktCore.toWkb(u(s))).toString

    // exact little-endian bytes for the spec's own worked example shape
    assert(hexOf("POINT (1 2)") ==
      "0101000000000000000000f03f0000000000000040")
    // zero-element encodings: declared type, count 0
    assert(hexOf("POLYGON EMPTY") == "010300000000000000")
    assert(hexOf("LINESTRING EMPTY") == "010200000000000000")
    assert(hexOf("MULTIPOLYGON EMPTY") == "010600000000000000")

    // round trips land on canonical text (doubles render with .0)
    assert(rt("POINT (-3.5 0.25)") == "POINT (-3.5 0.25)")
    assert(rt("LINESTRING (0 0, 2 1, 4 0)") ==
      "LINESTRING (0.0 0.0, 2.0 1.0, 4.0 0.0)")
    val sq = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    assert(rt(sq) ==
      "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0, 0.0 0.0))")
    val holed = WktCore.differenceWkt(u(sq),
      u("POLYGON ((1 1, 2 1, 2 2, 1 2, 1 1))")).toString
    assert(rt(holed) == holed)
    val mp = WktCore.unionWkt(u(sq),
      u("POLYGON ((10 0, 12 0, 12 2, 10 2, 10 0))")).toString
    assert(mp.startsWith("MULTIPOLYGON") && rt(mp) == mp)
    assert(rt("MULTILINESTRING ((0 0, 1 0), (2 0, 3 0, 3 1))") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (2.0 0.0, 3.0 0.0, 3.0 1.0))")
    // canonical EMPTY is POLYGON EMPTY for any empty areal (the
    // canonMinimalWkt convention)
    assert(rt("MULTIPOLYGON EMPTY") == "POLYGON EMPTY")

    // the binary is a pure function of the REGION: rotated start vertex
    // and reversed winding encode to identical bytes
    assert(hexOf(sq) == hexOf("POLYGON ((4 0, 4 4, 0 4, 0 0, 4 0))"))
    assert(hexOf(sq) == hexOf("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))"))

    // big-endian input parses (byte-order marker 00)
    val be = java.util.HexFormat.of().parseHex(
      "00000000013ff00000000000004000000000000000")
    assert(WktCore.fromWkb(be).toString == "POINT (1.0 2.0)")

    // loud scoping: bad marker, unknown type, Z/M/SRID flags, trailing
    // bytes, unclosed ring, truncation
    def bad(hex: String): Unit = intercept[IllegalArgumentException] {
      WktCore.fromWkb(java.util.HexFormat.of().parseHex(hex))
    }
    bad("02010000000000000000000000000000000000f03f") // byte order 2
    bad("0107000000")                                 // GEOMETRYCOLLECTION
    bad("01010000a0")                                 // EWKB Z|SRID flags
    bad("0101000000000000000000f03f000000000000004000") // trailing byte
    bad("0101000000000000000000f03f")                 // truncated point
    // polygon whose single ring is not closed
    bad("010300000001000000040000000000000000000000000000000000000000" +
      "000000000000f03f0000000000000000000000000000f03f000000000000f03f")

    // codegen parity: hex(st_asbinary) and the round trip inside a plan
    val row = Seq((sq, holed)).toDF("sq", "holed")
      .selectExpr("lower(hex(st_asbinary(sq))) AS h",
        "st_geomfrombinary(st_asbinary(holed)) AS rt")
      .head()
    assert(row.getString(0) == hexOf(sq))
    assert(row.getString(1) == holed)
  }

  test("st_symdifference: total over the kind matrix (r16)") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.WktCore
    def u(x: String) = UTF8String.fromString(x)
    def sym(a: String, b: String) =
      WktCore.symDifferenceWkt(u(a), u(b)).toString
    // areal x areal, transversal overlap: the two L-pieces as a valid
    // MULTIPOLYGON touching at the boundary-crossing points; area
    // decomposes as |a| + |b| - 2|a ∩ b| = 6
    val sqa = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    val sqb = "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"
    val sSq = sym(sqa, sqb)
    assert(sSq == "MULTIPOLYGON (((0.0 0.0, 2.0 0.0, 2.0 1.0, 1.0 1.0, " +
      "1.0 2.0, 0.0 2.0, 0.0 0.0)), ((1.0 2.0, 2.0 2.0, 2.0 1.0, " +
      "3.0 1.0, 3.0 3.0, 1.0 3.0, 1.0 2.0)))", sSq)
    assert(WktCore.area(u(sSq)) == 6.0)
    assert(WktCore.equalsWkt(u(sSq), u(sym(sqb, sqa))))
    // disjoint areal: plain union; equal inputs: canonical EMPTY
    assert(sym(sqa, sqa) == "POLYGON EMPTY")
    assert(sym(sqa, "POLYGON ((5 0, 6 0, 6 1, 5 1, 5 0))")
      .startsWith("MULTIPOLYGON"))
    // line x line: collinear partial overlap keeps both uncovered runs
    assert(sym("LINESTRING (0 0, 4 0)", "LINESTRING (1 0, 5 0)") ==
      "MULTILINESTRING ((0.0 0.0, 1.0 0.0), (4.0 0.0, 5.0 0.0))")
    assert(sym("LINESTRING (0 0, 4 0)", "LINESTRING (0 0, 4 0)") ==
      "POLYGON EMPTY")
    // crossing lines: measure-zero contact keeps both canonical minuends
    assert(sym("LINESTRING (0 0, 2 0)", "LINESTRING (1 -1, 1 1)") ==
      "MULTILINESTRING ((0.0 0.0, 2.0 0.0), (1.0 -1.0, 1.0 1.0))")
    // point sets XOR by coverage (deduped + sorted)
    assert(sym("MULTIPOINT ((0 0), (1 0))", "MULTIPOINT ((1 0), (2 0))") ==
      "MULTIPOINT ((0.0 0.0), (2.0 0.0))")
    // mixed dimensions: covered point vanishes, line survives; the
    // areal + line pair absorbs in dimension-DESC collection order
    assert(sym("POINT (1 0)", "LINESTRING (0 0, 4 0)") ==
      "LINESTRING (0.0 0.0, 4.0 0.0)")
    assert(sym(sqa, "LINESTRING (5 0, 6 0)") ==
      "GEOMETRYCOLLECTION (POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, " +
      "0.0 2.0, 0.0 0.0)), LINESTRING (5.0 0.0, 6.0 0.0))")
    // GC operand decomposes; the covered member vanishes
    assert(sym("GEOMETRYCOLLECTION (POINT (9 9), LINESTRING (0 0, 2 0))",
      "LINESTRING (0 0, 2 0)") == "POINT (9.0 9.0)")
    // EMPTY operand: sym(a, EMPTY) = a canonically, both ways
    assert(sym(sqa, "POLYGON EMPTY") ==
      "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    assert(sym("POLYGON EMPTY", sqa) ==
      "POLYGON ((0.0 0.0, 2.0 0.0, 2.0 2.0, 0.0 2.0, 0.0 0.0))")
    // the collinear-boundary pinch stays LOUD (documented model edge):
    // B fills A's notch except for a corner-contact crossing
    // the dialect spelling resolves (Trino geospatial ST_SymDifference)
    val spark = SparkSpec.spark
    val r = graft.presto.PrestoSql.sql(spark,
      s"SELECT ST_AsText(ST_SymDifference(ST_GeometryFromText('$sqa'), " +
        s"ST_GeometryFromText('$sqb'))) AS v").head()
    assert(r.getString(0) == sSq)
  }

  test("WktCore.read: one parsed value per text, two per thread memoized") {
    def u(x: String) = UTF8String.fromString(x)
    val a = WktCore.read(u("POLYGON ((0 0, 1 0, 1 1, 0 0))"))
    val b = WktCore.read(u("POINT (1 2)"))
    // both the constant side and the probe side of a join stay parsed
    assert(WktCore.read(u("POLYGON ((0 0, 1 0, 1 1, 0 0))")) eq a)
    assert(WktCore.read(u("POINT (1 2)")) eq b)
    assert(WktCore.read(u(" point(1 2) ")) == Geom.Point(1, 2))
    // the EMPTY spellings are their declared kind with no parts
    assert(WktCore.read(u("multilinestring empty")) match {
      case Geom.Lines(Array(), true) => true
      case _ => false
    })
    assert(WktCore.read(u("GEOMETRYCOLLECTION (POINT (1 2), POLYGON EMPTY)")) match {
      case Geom.Collection(Array(Geom.Point(1.0, 2.0), Geom.Polys(Array(), false))) => true
      case _ => false
    })
    Seq("POINT EMPTY", "POINT (1 2) x", "LINESTRING (0 0, 1 1", "GEOMETRYCOLLECTION ()",
        "MULTIPOINT ((1 2) (3 4))", "TRIANGLE ((0 0, 1 0, 0 1, 0 0))").foreach { bad =>
      intercept[IllegalArgumentException](WktCore.read(u(bad)))
    }
  }

  test("every EMPTY spelling round-trips through GeoJSON and WKB to its canonical EMPTY") {
    def u(x: String) = UTF8String.fromString(x)
    // (spelling, GeoJSON type, WKB type code, canonical text read back)
    Seq(("POLYGON EMPTY", "Polygon", 3, "POLYGON EMPTY"),
        ("MULTIPOLYGON EMPTY", "MultiPolygon", 6, "POLYGON EMPTY"),
        ("LINESTRING EMPTY", "LineString", 2, "LINESTRING EMPTY"),
        ("MULTILINESTRING EMPTY", "MultiLineString", 5, "LINESTRING EMPTY"),
        ("MULTIPOINT EMPTY", "MultiPoint", 4, "MULTIPOINT EMPTY"),
        ("GEOMETRYCOLLECTION EMPTY", "GeometryCollection", 7, "GEOMETRYCOLLECTION EMPTY"))
      .foreach { case (empty, typ, code, canon) =>
        val json = WktCore.toGeoJson(u(empty)).toString
        val member = if (code == 7) "geometries" else "coordinates"
        assert(json == s"""{"type":"$typ","$member":[]}""", empty)
        assert(WktCore.fromGeoJson(u(json)).toString == canon, empty)
        val wkb = WktCore.toWkb(u(empty))
        assert(java.util.HexFormat.of().formatHex(wkb) == f"01$code%02x00000000000000", empty)
        assert(WktCore.fromWkb(wkb).toString == canon, empty)
      }
  }

  test("one answer per kind: a POINT is one component, every EMPTY has no envelope, " +
      "every leading control character is whitespace") {
    def u(x: String) = UTF8String.fromString(x)
    assert(WktCore.numGeometries(u("POINT (1 2)")) == 1L)
    assert(WktCore.geometryN(u("POINT (1 2)"), 1).toString == "POINT (1.0 2.0)")
    assert(WktCore.geometryN(u("POINT (1 2)"), 2) == null)
    for (empty <- Seq("POLYGON EMPTY", "MULTIPOLYGON EMPTY", "LINESTRING EMPTY",
        "MULTILINESTRING EMPTY", "MULTIPOINT EMPTY", "GEOMETRYCOLLECTION EMPTY");
        which <- 0 to 3) {
      val e = intercept[IllegalArgumentException](WktCore.envBound(u(empty), which))
      assert(e.getMessage.contains("st_envelope: empty geometry"), s"$empty: ${e.getMessage}")
    }
    // String.trim's whitespace: every character up to U+0020
    val tri = "POLYGON ((0 0, 1 0, 0 1, 0 0))"
    for (ws <- Seq("\f", "\u000b", "\u0001", "\t\n")) {
      assert(WktCore.intersectsWkt(u(ws + "POINT (0.1 0.1)"), u(tri)))
      assert(WktCore.area(u(ws + tri)) == 0.5)
      assert(WktCore.geometryType(u(ws + "LINESTRING (0 0, 1 1)")).toString == "ST_LineString")
    }
  }
}
