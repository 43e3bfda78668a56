package graft.functions

import graft.functions.Geom._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import scala.collection.mutable.ArrayBuffer

/** The WKT geometry kernels behind the ST_* functions. Every kernel
  * reads its WKT argument once, through `read`, into a parsed `Geom` —
  * point, multipoint, lines, polygons or collection, where EMPTY is the
  * declared kind with no parts — and pattern-matches on that value; no
  * kernel looks at the text. `render` is the one way back: each kind
  * through its canonical formatter.
  *
  * Scale shape: the parse is O(text) per DISTINCT value, not per row —
  * `read` keeps a two-entry memo per thread, so a plan-constant
  * polygon (parsed once per task), a run of equal values (a sorted or
  * bucketed join) and both sides of a two-geometry join probe each
  * parse once. The kernels then run over primitive double arrays.
  *
  * Boundary semantics: even-odd ray casting — points strictly inside
  * are true, strictly outside false; points ON an edge are
  * floating-point-dependent, exactly like Trino's ST_Contains edge
  * behavior in practice. Oracle queries synthesize data with a margin
  * from every edge.
  */
object WktCore {

  // ---- reading and rendering ----------------------------------------------

  private final class Memo {
    var k0: UTF8String = null; var v0: Geom = null
    var k1: UTF8String = null; var v1: Geom = null
  }

  private val memo = ThreadLocal.withInitial[Memo](() => new Memo)

  /** The parsed value of a WKT argument (`Geom.parse`), through the
    * per-thread memo of the two most recently read distinct values. */
  def read(g: UTF8String): Geom = {
    val m = memo.get()
    if (g.equals(m.k0)) return m.v0
    val hit = g.equals(m.k1)
    // clone: the argument may view a reused row buffer
    val k = if (hit) m.k1 else g.clone()
    val v = if (hit) m.v1 else Geom.parse(g.toString)
    m.k1 = m.k0; m.v1 = m.v0
    m.k0 = k; m.v0 = v
    v
  }

  /** Canonical WKT of a parsed value; EMPTY keeps its declared kind. */
  def render(g: Geom): String = g match {
    case Point(x, y) => pointText(x, y)
    case MultiPoint(c) => fmtMultiPoint(c)
    case Lines(ps, multi) =>
      if (ps.isEmpty && multi) "MULTILINESTRING EMPTY" else fmtLines(ps)
    case Polys(ps, multi) =>
      if (ps.isEmpty && multi) "MULTIPOLYGON EMPTY" else fmtGeom(ps)
    case Collection(ms) =>
      if (ms.isEmpty) "GEOMETRYCOLLECTION EMPTY"
      else ms.map(render).mkString("GEOMETRYCOLLECTION (", ", ", ")")
  }

  private def text(g: Geom): UTF8String = UTF8String.fromString(render(g))

  // computed values are built in the form their rendering reads back as
  private val NoArea = Polys(Array.empty, multi = false)
  private val NoPoints = MultiPoint(Array.emptyDoubleArray)

  private def areal(ps: Array[Poly]): Polys = Polys(canonPolys(ps), ps.length > 1)

  private def lines(cs: Array[Array[Double]]): Lines = Lines(cs, cs.length > 1)

  private def pointSet(c: Array[Double]): Geom =
    if (c.length == 2) Point(c(0), c(1)) else MultiPoint(c)

  private def kindName(g: Geom): String = g match {
    case _: Point => "POINT"
    case _: MultiPoint => "MULTIPOINT"
    case Lines(_, multi) => if (multi) "MULTILINESTRING" else "LINESTRING"
    case Polys(_, multi) => if (multi) "MULTIPOLYGON" else "POLYGON"
    case _: Collection => "GEOMETRYCOLLECTION"
  }

  private def notA(op: String, want: String, g: Geom): Nothing =
    throw new IllegalArgumentException(
      s"$op: not a $want (got ${kindName(g)}${if (isEmpty(g)) " EMPTY" else ""})")

  /** The components of an areal value; any other kind is loud. */
  private def polysOf(g: Geom, op: String): Array[Poly] = g match {
    case Polys(ps, _) => ps
    case _ => notA(op, "POLYGON or MULTIPOLYGON", g)
  }

  /** The vertices of a non-empty LINESTRING; any other kind is loud. */
  private def lineOf(g: Geom, op: String): Array[Double] = g match {
    case Lines(Array(c), false) => c
    case _ => notA(op, "non-empty LINESTRING", g)
  }

  private def pointOf(g: Geom, op: String): Point = g match {
    case p: Point => p
    case _ => notA(op, "POINT", g)
  }

  /** EMPTY: no point at all (a collection of EMPTY members included). */
  private def isEmpty(g: Geom): Boolean = g match {
    case _: Point => false
    case MultiPoint(c) => c.isEmpty
    case Lines(ps, _) => ps.isEmpty
    case Polys(ps, _) => ps.isEmpty
    case Collection(ms) => ms.forall(isEmpty)
  }

  /** Every vertex in document order (shells before their interior
    * rings) as one flat list. */
  private[functions] def vertices(g: Geom): Array[Double] = g match {
    case Point(x, y) => Array(x, y)
    case MultiPoint(c) => c
    case Lines(ps, _) => ps.flatten
    case Polys(ps, _) => ps.flatMap { case (shell, holes) => shell +: holes.toSeq }.flatten
    case Collection(ms) => ms.flatMap(vertices)
  }

  /** Even-odd ray-cast containment test against a flat coords ring. */
  def contains(coords: Array[Double], x: Double, y: Double): Boolean = {
    val n = coords.length / 2
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = coords(2 * i); val yi = coords(2 * i + 1)
      val xj = coords(2 * j); val yj = coords(2 * j + 1)
      if ((yi > y) != (yj > y) &&
          x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        inside = !inside
      j = i
      i += 1
    }
    inside
  }

  /** Codegen entry: st_contains(geomWkt, x, y) — holes- and
    * MULTIPOLYGON-aware: the even-odd rule XORs ring membership within
    * a component (a point inside an interior ring is OUTSIDE), and a
    * MULTIPOLYGON contains the point iff any component does. EMPTY
    * contains nothing. */
  def containsWkt(poly: UTF8String, x: Double, y: Double): Boolean =
    containsPolys(polysOf(read(poly), "st_contains"), x, y)

  /** Even-odd containment over parsed components (shared with the
    * overlay tier, which classifies noded segment midpoints). */
  private[functions] def containsPolys(polys: Array[Poly],
      x: Double, y: Double): Boolean = {
    var p = 0
    while (p < polys.length) {
      val (shell, holes) = polys(p)
      var in = contains(shell, x, y)
      var i = 0
      while (i < holes.length) {
        if (contains(holes(i), x, y)) in = !in
        i += 1
      }
      if (in) return true
      p += 1
    }
    false
  }

  /** Codegen entry: POINT coordinate extraction (0 = x, 1 = y). */
  def pointCoord(wkt: UTF8String, idx: Int): Double = {
    val p = pointOf(read(wkt), "st_x/st_y")
    if (idx == 0) p.x else p.y
  }

  /** Segment–segment intersection (orientation signs; collinear
    * endpoint-on-segment counts as intersecting). */
  def segIntersect(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    @inline def o(px: Double, py: Double, qx: Double, qy: Double,
        rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    @inline def onSeg(px: Double, py: Double, qx: Double, qy: Double,
        rx: Double, ry: Double): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
        math.min(py, qy) <= ry && ry <= math.max(py, qy)
    val o1 = o(ax, ay, bx, by, cx, cy)
    val o2 = o(ax, ay, bx, by, dx, dy)
    val o3 = o(cx, cy, dx, dy, ax, ay)
    val o4 = o(cx, cy, dx, dy, bx, by)
    if (((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
        ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))) true
    else (o1 == 0 && onSeg(ax, ay, bx, by, cx, cy)) ||
      (o2 == 0 && onSeg(ax, ay, bx, by, dx, dy)) ||
      (o3 == 0 && onSeg(cx, cy, dx, dy, ax, ay)) ||
      (o4 == 0 && onSeg(cx, cy, dx, dy, bx, by))
  }

  /** Polygon–polygon intersection over the outer rings (simple
    * polygons): true iff any edge pair intersects, or either polygon
    * contains a vertex of the other — the standard complete test
    * (crossing boundaries, or one fully inside the other). O(n·m) edge
    * pairs; boundary-touching pairs are floating-point-dependent like
    * every predicate here, so oracle data keeps a margin. */
  def intersects(a: Array[Double], b: Array[Double]): Boolean = {
    val na = a.length / 2
    val nb = b.length / 2
    var i = 0
    while (i < na) {
      val i2 = if (i + 1 == na) 0 else i + 1
      var j = 0
      while (j < nb) {
        val j2 = if (j + 1 == nb) 0 else j + 1
        if (segIntersect(a(2 * i), a(2 * i + 1), a(2 * i2), a(2 * i2 + 1),
            b(2 * j), b(2 * j + 1), b(2 * j2), b(2 * j2 + 1)))
          return true
        j += 1
      }
      i += 1
    }
    contains(a, b(0), b(1)) || contains(b, a(0), a(1))
  }

  /** Codegen entry: st_intersects(aWkt, bWkt). A collection or a
    * MULTIPOINT intersects iff some member does; a POINT pair compares
    * coordinates, a POINT against a hole-free POLYGON is its
    * containment test, a hole-free POLYGON pair keeps the edge walk
    * above, and every other pairing (lines, holes, MULTIPOLYGON,
    * EMPTY) rides the overlay tier's relate. */
  def intersectsWkt(a: UTF8String, b: UTF8String): Boolean =
    geomIntersects(read(a), read(b))

  private def geomIntersects(a: Geom, b: Geom): Boolean = (a, b) match {
    case (Collection(ms), _) => ms.exists(geomIntersects(_, b))
    case (_, Collection(ms)) => ms.exists(geomIntersects(a, _))
    case (MultiPoint(c), _) => pointsIn(c).exists(geomIntersects(_, b))
    case (_, MultiPoint(c)) => pointsIn(c).exists(geomIntersects(a, _))
    case (Point(x, y), Point(u, v)) => x == u && y == v
    case (Point(x, y), Polys(Array((shell, holes)), _)) if holes.isEmpty =>
      contains(shell, x, y)
    case (Polys(Array((shell, holes)), _), Point(x, y)) if holes.isEmpty =>
      contains(shell, x, y)
    case (Polys(Array((sa, ha)), _), Polys(Array((sb, hb)), _))
        if ha.isEmpty && hb.isEmpty =>
      intersects(sa, sb)
    case _ => WktOverlay.intersects(a, b)
  }

  private def pointsIn(c: Array[Double]): Array[Geom] =
    Array.tabulate[Geom](c.length / 2)(i => Point(c(2 * i), c(2 * i + 1)))

  /** Codegen entry: st_touches(aWkt, bWkt) — OGC: the geometries
    * intersect but their interiors do not. Full POINT / LINESTRING /
    * (MULTI)POLYGON matrix via the overlay tier (areal pairs: boundary
    * contact AND an empty areal intersection). */
  def touchesWkt(a: UTF8String, b: UTF8String): Boolean =
    WktOverlay.touches(read(a), read(b))

  /** Codegen entry: st_crosses(aWkt, bWkt) — OGC: interiors intersect
    * in a lower dimension than the higher-dimensional operand
    * (line×line point contact; a line passing through a polygon's
    * interior AND exterior). POINT pairings and area×area are false,
    * matching JTS/Trino. */
  def crossesWkt(a: UTF8String, b: UTF8String): Boolean =
    WktOverlay.crosses(read(a), read(b))

  /** PROPER edge crossing only — the strict-interior branch of
    * segIntersect (collinear touches and shared endpoints excluded).
    * Containment must not be broken by a shared boundary; the oracle
    * data keeps a margin from exact touches like every predicate here. */
  private[functions] def properCross(ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, dx: Double, dy: Double): Boolean = {
    @inline def o(px: Double, py: Double, qx: Double, qy: Double,
        rx: Double, ry: Double): Double =
      (qx - px) * (ry - py) - (qy - py) * (rx - px)
    val o1 = o(ax, ay, bx, by, cx, cy)
    val o2 = o(ax, ay, bx, by, dx, dy)
    val o3 = o(cx, cy, dx, dy, ax, ay)
    val o4 = o(cx, cy, dx, dy, bx, by)
    ((o1 > 0 && o2 < 0) || (o1 < 0 && o2 > 0)) &&
      ((o3 > 0 && o4 < 0) || (o3 < 0 && o4 > 0))
  }

  /** Simple-polygon containment over the outer rings: every vertex of
    * `b` inside `a` AND no proper edge crossing. For convex rings the
    * vertex test alone suffices; the crossing walk closes the concave
    * case (an edge of b exiting and re-entering between two inside
    * vertices). O(n·m) edge pairs like intersects(). */
  def containsPoly(a: Array[Double], b: Array[Double]): Boolean = {
    val nb = b.length / 2
    var j = 0
    while (j < nb) {
      if (!contains(a, b(2 * j), b(2 * j + 1))) return false
      j += 1
    }
    val na = a.length / 2
    var i = 0
    while (i < na) {
      val i2 = if (i + 1 == na) 0 else i + 1
      var k = 0
      while (k < nb) {
        val k2 = if (k + 1 == nb) 0 else k + 1
        if (properCross(a(2 * i), a(2 * i + 1), a(2 * i2), a(2 * i2 + 1),
            b(2 * k), b(2 * k + 1), b(2 * k2), b(2 * k2 + 1)))
          return false
        k += 1
      }
      i += 1
    }
    true
  }

  /** Codegen entry: st_within(aWkt, bWkt) — OGC argument order (is `a`
    * within `b`). POINT a degenerates to point-in-polygon. */
  def withinWkt(a: UTF8String, b: UTF8String): Boolean = {
    val gb = polysOf(read(b), "st_within")
    read(a) match {
      // point-in-geometry: the holes- and MULTIPOLYGON-aware even-odd
      // test (r11), identical to the single-ring ray cast on hole-free
      // POLYGON inputs
      case Point(x, y) => containsPolys(gb, x, y)
      case a0 =>
        val ga = polysOf(a0, "st_within")
        // clean single hole-free pairs keep the r9 vertex+crossing
        // kernel; holed / MULTIPOLYGON / EMPTY operands and DEGENERATE
        // boundary contact (shared edges — where a ray cast on boundary
        // vertices is float-dependent) resolve through the overlay
        // (r13): A ⊆ B ⟺ the areal difference A − B is empty
        if (ga.length == 1 && ga(0)._2.isEmpty &&
            gb.length == 1 && gb(0)._2.isEmpty &&
            !WktOverlay.degenerateContact(Array(toCcw(ga(0)._1)),
              Array(toCcw(gb(0)._1))))
          containsPoly(gb(0)._1, ga(0)._1)
        else if (ga.isEmpty) false // EMPTY is within nothing (Trino)
        else {
          requireValidGeom(ga)
          requireValidGeom(gb)
          WktOverlay.overlay(ga, gb, 2, "st_within").isEmpty
        }
    }
  }

  /** Codegen entry: st_overlaps(aWkt, bWkt) — POLYGON×POLYGON only:
    * interiors intersect but NEITHER ring contains the other (the OGC
    * same-dimension overlap; equal rings report false through the
    * mutual-containment test). POINT operands are dimension-mismatched
    * per OGC and return false. */
  def overlapsWkt(a: UTF8String, b: UTF8String): Boolean =
    (read(a), read(b)) match {
      case (_: Point, _) | (_, _: Point) => false
      case (a0, b0) =>
        val ga = polysOf(a0, "st_overlaps")
        val gb = polysOf(b0, "st_overlaps")
        if (ga.length == 1 && ga(0)._2.isEmpty &&
            gb.length == 1 && gb(0)._2.isEmpty &&
            !WktOverlay.degenerateContact(Array(toCcw(ga(0)._1)),
              Array(toCcw(gb(0)._1)))) {
          val ca = ga(0)._1
          val cb = gb(0)._1
          intersects(ca, cb) && !containsPoly(ca, cb) && !containsPoly(cb, ca)
        } else if (ga.isEmpty || gb.isEmpty) false
        else {
          // holed / MULTIPOLYGON / degenerate-contact operands (r13):
          // OGC overlaps ⟺ the interiors share area AND each side keeps
          // some exclusive area — three overlay emptiness tests
          requireValidGeom(ga)
          requireValidGeom(gb)
          WktOverlay.overlay(ga, gb, 0, "st_overlaps").nonEmpty &&
            WktOverlay.overlay(ga, gb, 2, "st_overlaps").nonEmpty &&
            WktOverlay.overlay(gb, ga, 2, "st_overlaps").nonEmpty
        }
    }

  /** Codegen entry: st_distance(aWkt, bWkt) — planar minimum distance
    * over the POINT / LINESTRING / (MULTI)POLYGON matrix (r13):
    * 0 when the point sets intersect (boundary contact included),
    * else the minimum over element pairs of segment–segment distance
    * (each segment distance = min of four point-to-segment
    * projections; a POINT is a zero-length segment). Squared
    * distances compare exactly; ONE final sqrt — so with dyadic
    * axis-parallel fixtures the result is the correctly-rounded sqrt
    * of an exact value, mirrorable by any IEEE engine. Distance to a
    * holed polygon from inside its hole is the distance to the hole
    * ring — the ring sweep covers interior rings naturally. */
  def distanceWkt(a: UTF8String, b: UTF8String): Double = {
    // GEOGRAPHY-tagged operands: great-circle meters, POINT × POINT
    // only (Trino's documented spherical ST_Distance scope); a
    // geometry×geography mix is a type error, loud (r13)
    val geoA = isGeography(a)
    val geoB = isGeography(b)
    if (geoA || geoB) {
      require(geoA && geoB,
        "st_distance: cannot mix GEOMETRY and GEOGRAPHY operands")
      val p = pointOf(geography(a), "st_distance")
      val q = pointOf(geography(b), "st_distance")
      return gcMeters(p.x, p.y, q.x, q.y)
    }
    geomDistance(read(a), read(b))
  }

  private def geomDistance(a: Geom, b: Geom): Double = {
    // GEOMETRYCOLLECTION operands (r14): min over members (the point-
    // set distance); EMPTY members contribute no points so they are
    // skipped, and a collection with no non-empty member has no
    // distance — loud
    def overMembers(ms: Array[Geom], d: Geom => Double): Double = {
      val comps = ms.filterNot(isEmpty)
      require(comps.nonEmpty, "st_distance: GEOMETRYCOLLECTION with no " +
        "non-empty members has no distance")
      comps.map(d).min
    }
    (a, b) match {
      case (Collection(ms), _) => return overMembers(ms, geomDistance(_, b))
      case (_, Collection(ms)) => return overMembers(ms, geomDistance(a, _))
      // MULTIPOINT operands (r13): the areal-overlay intersects test
      // does not apply to point sets — a member point strictly INSIDE
      // an areal other side is the one zero-distance case the segment
      // math would miss, so it is tested directly; point-on-point and
      // point-on-segment coincidences fall out of the projections at 0
      case (_: MultiPoint, _) | (_, _: MultiPoint) =>
        def inside(mp: Geom, other: Geom): Boolean = (mp, other) match {
          case (MultiPoint(c), Polys(g, _)) =>
            (0 until c.length / 2).exists(i =>
              containsPolys(g, c(2 * i), c(2 * i + 1)))
          case _ => false
        }
        if (inside(a, b) || inside(b, a)) return 0.0
      case _ => if (geomIntersects(a, b)) return 0.0
    }
    val sa = segmentsOf(a)
    val sb = segmentsOf(b)
    // EMPTY operands yield zero segments and would silently return
    // sqrt(Double.MaxValue) — loud instead (r15 ADVICE), matching
    // geometry_nearest_points' EMPTY handling
    require(sa.nonEmpty && sb.nonEmpty,
      "st_distance: EMPTY geometry has no distance")
    var best = Double.MaxValue
    var i = 0
    while (i < sa.length) {
      var j = 0
      while (j < sb.length) {
        val d = segSegDist2(sa(i), sb(j))
        if (d < best) best = d
        j += 1
      }
      i += 1
    }
    math.sqrt(best)
  }

  /** Geometry → segment list (x1,y1,x2,y2 each); a point degenerates to
    * one zero-length segment; polygon rings close; a collection is the
    * union of its members' segments. */
  private def segmentsOf(g: Geom): Array[Array[Double]] = {
    val out = new ArrayBuffer[Array[Double]]()
    def points(c: Array[Double]): Unit = {
      var i = 0
      while (2 * i < c.length) {
        out += Array(c(2 * i), c(2 * i + 1), c(2 * i), c(2 * i + 1))
        i += 1
      }
    }
    g match {
      case Point(x, y) => points(Array(x, y))
      case MultiPoint(c) => points(c)
      case Lines(ps, _) =>
        ps.foreach { c =>
          var i = 0
          while (2 * i + 3 < c.length) {
            out += Array(c(2 * i), c(2 * i + 1), c(2 * i + 2), c(2 * i + 3))
            i += 1
          }
        }
      case Collection(ms) => ms.foreach(m => out ++= segmentsOf(m))
      case Polys(ps, _) =>
        ps.foreach { case (shell, holes) =>
          (shell +: holes.toSeq).foreach { c =>
            val n = c.length / 2
            var i = 0
            while (i < n) {
              val j = if (i + 1 == n) 0 else i + 1
              out += Array(c(2 * i), c(2 * i + 1), c(2 * j), c(2 * j + 1))
              i += 1
            }
          }
        }
    }
    out.toArray
  }

  @inline private def ptSegDist2(px: Double, py: Double, ax: Double,
      ay: Double, bx: Double, by: Double): Double = {
    val dx = bx - ax; val dy = by - ay
    val len2 = dx * dx + dy * dy
    val t =
      if (len2 == 0) 0.0
      else {
        val raw = ((px - ax) * dx + (py - ay) * dy) / len2
        if (raw < 0) 0.0 else if (raw > 1) 1.0 else raw
      }
    val ex = ax + t * dx - px
    val ey = ay + t * dy - py
    ex * ex + ey * ey
  }

  // for non-crossing segments the minimum is attained at an endpoint
  // of one of them — the standard four-projection reduction
  private def segSegDist2(s1: Array[Double], s2: Array[Double]): Double =
    math.min(
      math.min(ptSegDist2(s1(0), s1(1), s2(0), s2(1), s2(2), s2(3)),
        ptSegDist2(s1(2), s1(3), s2(0), s2(1), s2(2), s2(3))),
      math.min(ptSegDist2(s2(0), s2(1), s1(0), s1(1), s1(2), s1(3)),
        ptSegDist2(s2(2), s2(3), s1(0), s1(1), s1(2), s1(3))))

  // ---- geometry_nearest_points (Trino geospatial page, r13) --------------

  /** geometry_nearest_points(a, b) — the closest point PAIR across the
    * point/line/polygon matrix, as [POINT a-side, POINT b-side]. NULL
    * when either geometry is EMPTY (Trino's convention). Intersecting
    * inputs are LOUD: their distance is 0 but the realizing point is
    * not unique, and this engine refuses to pick one silently. Over
    * disjoint inputs the minimum is attained at a segment endpoint's
    * projection — the same four-projection reduction as st_distance —
    * and ties resolve to the first segment pair in document order
    * (deterministic). */
  def nearestPointsWkt(a: UTF8String, b: UTF8String): ArrayData = {
    val ga = read(a)
    val gb = read(b)
    // every EMPTY operand returns NULL (Trino's convention), a
    // collection whose members are all empty included
    if (isEmpty(ga) || isEmpty(gb)) return null
    // MULTIPOINT operands route through the distance kernel's zero
    // test (the areal intersects test does not apply to point sets)
    if (ga.isInstanceOf[MultiPoint] || gb.isInstanceOf[MultiPoint])
      require(geomDistance(ga, gb) > 0,
        "geometry_nearest_points: inputs intersect (distance 0) - the " +
          "nearest pair is not unique; test st_distance first")
    else require(!geomIntersects(ga, gb),
      "geometry_nearest_points: inputs intersect (distance 0) - the " +
        "nearest pair is not unique; test st_intersects first")
    // GEOMETRYCOLLECTION operands (r15) need no special casing beyond
    // this point: segmentsOf unions the members' segments, and the
    // argmin over segment pairs is the collection min
    val sa = segmentsOf(ga)
    val sb = segmentsOf(gb)
    require(sa.nonEmpty && sb.nonEmpty,
      "geometry_nearest_points: operand has no coordinates")
    var best = Double.MaxValue
    var ax = 0.0; var ay = 0.0; var bx = 0.0; var by = 0.0
    // projection of p onto segment (ux,uy)-(vx,vy); writes (d2, x, y)
    val tmp = new Array[Double](3)
    def proj(px: Double, py: Double, ux: Double, uy: Double,
        vx: Double, vy: Double): Unit = {
      val dx = vx - ux; val dy = vy - uy
      val len2 = dx * dx + dy * dy
      val t =
        if (len2 == 0) 0.0
        else {
          val raw = ((px - ux) * dx + (py - uy) * dy) / len2
          if (raw < 0) 0.0 else if (raw > 1) 1.0 else raw
        }
      val qx = ux + t * dx; val qy = uy + t * dy
      val ex = qx - px; val ey = qy - py
      tmp(0) = ex * ex + ey * ey; tmp(1) = qx; tmp(2) = qy
    }
    var i = 0
    while (i < sa.length) {
      val s1 = sa(i)
      var j = 0
      while (j < sb.length) {
        val s2 = sb(j)
        // a-side endpoints against the b segment
        proj(s1(0), s1(1), s2(0), s2(1), s2(2), s2(3))
        if (tmp(0) < best) {
          best = tmp(0); ax = s1(0); ay = s1(1); bx = tmp(1); by = tmp(2)
        }
        proj(s1(2), s1(3), s2(0), s2(1), s2(2), s2(3))
        if (tmp(0) < best) {
          best = tmp(0); ax = s1(2); ay = s1(3); bx = tmp(1); by = tmp(2)
        }
        // b-side endpoints against the a segment
        proj(s2(0), s2(1), s1(0), s1(1), s1(2), s1(3))
        if (tmp(0) < best) {
          best = tmp(0); ax = tmp(1); ay = tmp(2); bx = s2(0); by = s2(1)
        }
        proj(s2(2), s2(3), s1(0), s1(1), s1(2), s1(3))
        if (tmp(0) < best) {
          best = tmp(0); ax = tmp(1); ay = tmp(2); bx = s2(2); by = s2(3)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(Array[Any](pointStr(ax, ay), pointStr(bx, by)))
  }

  /** st_issimple — no anomalous self-contact. POINT and EMPTY are
    * simple; a LINESTRING is simple when non-adjacent segments never
    * touch, adjacent segments meet ONLY at their shared vertex (no
    * collinear fold-back), and no consecutive vertices repeat (a
    * zero-length segment is self-tangency here); a closed line may
    * share exactly first = last. Areal inputs are simple when every
    * ring (shells and holes, all components) is free of
    * self-intersection and has nonzero area — the bow-tie POLYGON is
    * false, not loud, because simplicity is exactly the question being
    * asked. MULTILINESTRING follows the SFS MultiCurve rule (r14):
    * every part simple, and parts may touch ONLY at points on the
    * boundaries (terminals) of both parts — see the inline rule
    * below. */
  def isSimpleWkt(g: UTF8String): Boolean = isSimple(read(g))

  private def isSimple(g: Geom): Boolean = g match {
    case _: Point => true
    // OGC: a MultiPoint is simple iff no two points coincide (r13)
    case MultiPoint(c) =>
      val n = c.length / 2
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          if (c(2 * i) == c(2 * j) && c(2 * i + 1) == c(2 * j + 1))
            return false
          j += 1
        }
        i += 1
      }
      true
    // SFS MultiCurve rule (r14): every part simple AND intersections
    // between any two parts only at points on the BOUNDARIES of both
    // parts (a part's boundary is its terminals — empty when closed):
    // a T-junction (one part's endpoint on another's interior) and any
    // collinear overlap are non-simple; a LINESTRING is the one-part case
    case Lines(parts, _) =>
      if (!parts.forall(isSimpleChain)) return false
      def partBnd(c: Array[Double])(x: Double, y: Double): Boolean = {
        val m = c.length / 2
        val closed = c(0) == c(2 * m - 2) && c(1) == c(2 * m - 1)
        !closed && ((c(0) == x && c(1) == y) ||
          (c(2 * m - 2) == x && c(2 * m - 1) == y))
      }
      var i = 0
      while (i < parts.length) {
        var j = i + 1
        while (j < parts.length) {
          val f = WktOverlay.scanLinePair(parts(i), parts(j),
            partBnd(parts(i)), partBnd(parts(j)))
          if ((f & (WktOverlay.LInterior | WktOverlay.LOverlap |
              WktOverlay.LMixed)) != 0) return false
          j += 1
        }
        i += 1
      }
      true
    case Polys(ps, _) =>
      ps.forall { case (shell, holes) =>
        (shell +: holes.toSeq).forall { r =>
          r.length >= 6 && signedArea2(r) != 0 && selfIntersection(r).isEmpty
        }
      }
    // GEOMETRYCOLLECTION (r15): simple iff every member is (the JTS
    // rule — simplicity is a per-element property for collections)
    case Collection(ms) => ms.forall(isSimple)
  }

  /** Single-chain simplicity (the r13 LINESTRING rule, factored for the
    * MULTILINESTRING part sweep): non-adjacent segments never touch,
    * adjacent segments meet only at their shared vertex, no zero-length
    * segment; a closed chain may share exactly first = last. */
  private def isSimpleChain(c: Array[Double]): Boolean = {
    val n = c.length / 2
    val closed = c(0) == c(2 * n - 2) && c(1) == c(2 * n - 1)
    val m = n - 1 // segment count
    var i = 0
    while (i < m) {
      val ax = c(2 * i); val ay = c(2 * i + 1)
      val bx = c(2 * i + 2); val by = c(2 * i + 3)
      if (ax == bx && ay == by) return false // zero-length segment
      var j = i + 1
      while (j < m) {
        val cx = c(2 * j); val cy = c(2 * j + 1)
        val dx = c(2 * j + 2); val dy = c(2 * j + 3)
        val adjacent = j == i + 1 ||
          (closed && i == 0 && j == m - 1)
        if (adjacent) {
          // shared vertex is legal; fold-back onto the other
          // segment's interior is not
          val sx = if (j == i + 1) cx else ax
          val sy = if (j == i + 1) cy else ay
          // the two non-shared endpoints must be OFF the other seg
          val (oax, oay) = if (j == i + 1) (ax, ay) else (bx, by)
          val (obx, oby) = if (j == i + 1) (dx, dy) else (cx, cy)
          if (ptSegDist2(oax, oay, cx, cy, dx, dy) == 0 &&
              !(oax == sx && oay == sy)) return false
          if (ptSegDist2(obx, oby, ax, ay, bx, by) == 0 &&
              !(obx == sx && oby == sy)) return false
        } else if (segIntersect(ax, ay, bx, by, cx, cy, dx, dy)) {
          return false
        }
        j += 1
      }
      i += 1
    }
    true
  }

  /** st_coorddim — this model is strictly 2-D; the read validates. */
  def coordDim(g: UTF8String): Long = {
    read(g)
    2L
  }

  // ---- GeoJSON interchange (Trino to/from_geojson_geometry, r13) ---------

  /** to_geojson_geometry(wkt) — RFC 7946 geometry object of any kind;
    * EMPTY is its declared type with no coordinates. Rings render
    * CLOSED (first coordinate repeated last, the GeoJSON requirement)
    * with shells CCW and holes CW (the RFC 7946 right-hand rule);
    * numbers use the same shortest-round-trip rendering as WKT, so the
    * trip is lossless. */
  def toGeoJson(g: UTF8String): UTF8String = UTF8String.fromString(geoJson(read(g)))

  private def geoJson(g: Geom): String = {
    def pos(x: Double, y: Double): String =
      "[" + fmtCoord(x) + "," + fmtCoord(y) + "]"
    def chain(c: Array[Double]): String = {
      val sb = new java.lang.StringBuilder("[")
      var i = 0
      while (2 * i < c.length) {
        if (i > 0) sb.append(',')
        sb.append(pos(c(2 * i), c(2 * i + 1)))
        i += 1
      }
      sb.append(']').toString
    }
    def ring(c0: Array[Double], cw: Boolean): String = {
      val c = if (cw) reverseRing(toCcw(c0)) else toCcw(c0)
      chain(c ++ c.take(2))
    }
    def poly(p: Poly): String =
      (ring(p._1, cw = false) +: p._2.map(ring(_, cw = true)).toSeq)
        .mkString("[", ",", "]")
    def obj(typ: String, coords: String): String =
      "{\"type\":\"" + typ + "\",\"coordinates\":" + coords + "}"
    g match {
      case Point(x, y) => obj("Point", pos(x, y))
      case MultiPoint(c) => obj("MultiPoint", chain(c))
      case Lines(ps, false) =>
        obj("LineString", if (ps.isEmpty) "[]" else chain(ps(0)))
      case Lines(ps, true) =>
        obj("MultiLineString", ps.map(chain).mkString("[", ",", "]"))
      case Polys(ps, false) =>
        obj("Polygon", if (ps.isEmpty) "[]" else poly(ps(0)))
      case Polys(ps, true) =>
        obj("MultiPolygon", ps.map(poly).mkString("[", ",", "]"))
      // RFC 7946 GeometryCollection: recursive member objects
      case Collection(ms) =>
        "{\"type\":\"GeometryCollection\",\"geometries\":[" +
          ms.map(geoJson).mkString(",") + "]}"
    }
  }

  /** from_geojson_geometry(json) — strict parser for the geometry
    * objects toGeoJson emits (whitespace tolerated, anything else
    * loud). Rings must arrive closed (the RFC requirement) — the
    * closing duplicate drops into this engine's open-ring model; an
    * object with no coordinates reads as the canonical EMPTY of its
    * kind. Output renders through the canonical WKT formatters. */
  def fromGeoJson(j: UTF8String): UTF8String = {
    val t = j.toString
    var i = 0
    def ws(): Unit = { while (i < t.length && t.charAt(i).isWhitespace) i += 1 }
    def expect(c: Char): Unit = {
      ws()
      require(i < t.length && t.charAt(i) == c,
        s"from_geojson_geometry: expected '$c' at $i: $t")
      i += 1
    }
    def string(): String = {
      expect('"')
      val st = i
      while (i < t.length && t.charAt(i) != '"') i += 1
      require(i < t.length, s"from_geojson_geometry: unterminated string")
      val out = t.substring(st, i)
      i += 1
      out
    }
    def number(): Double = {
      ws()
      val st = i
      while (i < t.length && "+-0123456789.eE".indexOf(t.charAt(i)) >= 0)
        i += 1
      require(i > st, s"from_geojson_geometry: expected number at $st")
      java.lang.Double.parseDouble(t.substring(st, i))
    }
    def position(): (Double, Double) = {
      expect('[')
      val x = number()
      expect(',')
      val y = number()
      ws()
      expect(']')
      (x, y)
    }
    // `[item, item, …]`, possibly empty
    def array[A: scala.reflect.ClassTag](item: => A): Array[A] = {
      expect('[')
      val out = new ArrayBuffer[A]()
      var first = true
      while ({ ws(); require(i < t.length, "from_geojson_geometry: " +
          "unterminated array"); t.charAt(i) != ']' }) {
        if (!first) expect(',')
        first = false
        out += item
      }
      i += 1
      out.toArray
    }
    def posArray(): Array[Double] =
      array(position()).flatMap(p => Array(p._1, p._2))
    def chain(): Array[Double] = {
      val c = posArray()
      require(c.length >= 4,
        "from_geojson_geometry: LineString needs >= 2 positions")
      c
    }
    def ring(): Array[Double] = {
      val c = posArray()
      val n = c.length / 2
      require(n >= 4 && c(0) == c(2 * n - 2) && c(1) == c(2 * n - 1),
        "from_geojson_geometry: ring must be closed with >= 4 positions")
      java.util.Arrays.copyOf(c, c.length - 2)
    }
    def poly(): Array[Poly] = {
      val rs = array(ring())
      if (rs.isEmpty) Array.empty else Array((rs(0), rs.drop(1)))
    }
    // one geometry object — recursive so GeometryCollection members
    // parse through the same strict reader (r14)
    def geomObject(): Geom = {
      expect('{')
      var typ: String = null
      var geom: Geom = null
      var first = true
      while ({ ws(); require(i < t.length, "from_geojson_geometry: " +
          "unterminated object"); t.charAt(i) != '}' }) {
        if (!first) expect(',')
        first = false
        val key = string()
        expect(':')
        key match {
          case "type" => typ = string()
          case "geometries" =>
            require(typ == "GeometryCollection",
              "from_geojson_geometry: \"geometries\" is only valid for " +
                "GeometryCollection (\"type\" must precede it)")
            geom = Collection(array(geomObject()))
          case "coordinates" =>
            require(typ != null,
              "from_geojson_geometry: \"type\" must precede \"coordinates\"")
            geom = typ match {
              case "Point" =>
                val (x, y) = position()
                Point(x, y)
              case "MultiPoint" => MultiPoint(posArray())
              case "LineString" =>
                val c = posArray()
                lines(if (c.isEmpty) Array.empty else {
                  require(c.length >= 4,
                    "from_geojson_geometry: LineString needs >= 2 positions")
                  Array(c)
                })
              case "MultiLineString" => lines(array(chain()))
              case "Polygon" => areal(poly())
              case "MultiPolygon" =>
                areal(array {
                  val p = poly()
                  require(p.nonEmpty,
                    "from_geojson_geometry: empty MultiPolygon component")
                  p(0)
                })
              case other => throw new IllegalArgumentException(
                s"from_geojson_geometry: unsupported type '$other'")
            }
          case other => throw new IllegalArgumentException(
            s"from_geojson_geometry: unexpected member '$other'")
        }
      }
      expect('}')
      require(geom != null, "from_geojson_geometry: missing coordinates")
      geom
    }
    val g = geomObject()
    ws()
    require(i == t.length,
      "from_geojson_geometry: trailing content after the geometry")
    text(g)
  }

  // ---- WKB interchange (Trino ST_AsBinary / ST_GeomFromBinary, r13) ------

  /** st_asbinary(wkt) — OGC 06-103r4 well-known binary, little-endian
    * (byte-order marker 01, the encoding mainstream producers emit),
    * every kind; rings emit CLOSED (first point repeated last, the spec
    * form) with shells CCW and holes CW — the same region-normalization
    * as to_geojson_geometry, so the binary is a pure function of the
    * REGION, not of the input vertex rotation. EMPTY encodes as its
    * declared type with a zero element count; each component of a
    * MULTI carries its own byte-order marker + type header, per the
    * spec. */
  def toWkb(g: UTF8String): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    writeWkb(read(g), new java.io.DataOutputStream(bytes))
    bytes.toByteArray
  }

  private def writeWkb(g: Geom, out: java.io.DataOutputStream): Unit = {
    def int(n: Int): Unit = out.writeInt(Integer.reverseBytes(n))
    def header(typ: Int): Unit = { out.writeByte(1); int(typ) }
    def xy(x: Double, y: Double): Unit = {
      out.writeLong(java.lang.Long.reverseBytes(java.lang.Double.doubleToRawLongBits(x)))
      out.writeLong(java.lang.Long.reverseBytes(java.lang.Double.doubleToRawLongBits(y)))
    }
    def coords(c: Array[Double]): Unit = {
      var i = 0
      while (2 * i < c.length) { xy(c(2 * i), c(2 * i + 1)); i += 1 }
    }
    def line(c: Array[Double]): Unit = { header(2); int(c.length / 2); coords(c) }
    def ring(c: Array[Double]): Unit = { int(c.length / 2 + 1); coords(c); xy(c(0), c(1)) }
    // canonRing after the orientation fix: lexicographic-min start +
    // fixed winding = bytes are a pure function of the region
    def poly(p: Poly): Unit = {
      header(3)
      int(1 + p._2.length)
      ring(canonRing(toCcw(p._1)))
      p._2.foreach(h => ring(canonRing(reverseRing(toCcw(h)))))
    }
    g match {
      case Point(x, y) => header(1); xy(x, y)
      case MultiPoint(c) =>
        header(4); int(c.length / 2)
        var i = 0
        while (2 * i < c.length) { header(1); xy(c(2 * i), c(2 * i + 1)); i += 1 }
      case Lines(ps, false) => if (ps.isEmpty) { header(2); int(0) } else line(ps(0))
      case Lines(ps, true) => header(5); int(ps.length); ps.foreach(line)
      case Polys(ps, false) => if (ps.isEmpty) { header(3); int(0) } else poly(ps(0))
      case Polys(ps, true) => header(6); int(ps.length); ps.foreach(poly)
      // GEOMETRYCOLLECTION (r14): type 7, members as full nested WKB
      // geometries (own byte-order marker + header each, per spec)
      case Collection(ms) => header(7); int(ms.length); ms.foreach(writeWkb(_, out))
    }
  }

  /** st_geomfrombinary(wkb) — strict WKB reader: both byte orders,
    * geometry types 1–7 only (Z/M and EWKB-SRID type flags fail
    * LOUDLY rather than silently dropping dimensions), rings must
    * arrive closed, trailing bytes after the geometry are loud. Output
    * re-renders through the canonical WKT formatters, so
    * st_geomfrombinary(st_asbinary(g)) lands exactly on canonical text
    * (an empty MULTI* reads as the canonical POLYGON EMPTY or
    * LINESTRING EMPTY). */
  def fromWkb(b: Array[Byte]): UTF8String = {
    val bb = java.nio.ByteBuffer.wrap(b)
    def header(): Int = {
      require(bb.remaining >= 5, "st_geomfrombinary: truncated WKB header")
      bb.order(bb.get() match {
        case 0 => java.nio.ByteOrder.BIG_ENDIAN
        case 1 => java.nio.ByteOrder.LITTLE_ENDIAN
        case other => throw new IllegalArgumentException(
          s"st_geomfrombinary: bad byte-order marker $other")
      })
      val typ = bb.getInt
      // EWKB flag bits / ISO 1000-offsets carry Z/M/SRID payloads this
      // 2-D model cannot represent — loud beats silently dropping them
      require((typ & 0xE0000000) == 0 && typ < 1000,
        s"st_geomfrombinary: unsupported type code $typ (Z/M/SRID " +
          "variants are not supported)")
      typ
    }
    def count(what: String): Int = {
      require(bb.remaining >= 4, s"st_geomfrombinary: truncated $what count")
      val n = bb.getInt
      require(n >= 0, s"st_geomfrombinary: negative $what count $n")
      n
    }
    def coords(n: Int, what: String): Array[Double] = {
      require(bb.remaining >= 16L * n, s"st_geomfrombinary: truncated $what")
      val c = new Array[Double](2 * n)
      var i = 0
      while (i < 2 * n) { c(i) = bb.getDouble; i += 1 }
      c
    }
    def lineBody(minPts: Int): Array[Double] = {
      val n = count("LineString point")
      require(n == 0 || n >= minPts,
        s"st_geomfrombinary: LineString needs >= $minPts points, got $n")
      coords(n, "LineString")
    }
    def ringBody(): Array[Double] = {
      val n = count("ring point")
      require(n >= 4, s"st_geomfrombinary: ring needs >= 4 points, got $n")
      val c = coords(n, "ring")
      require(c(0) == c(2 * n - 2) && c(1) == c(2 * n - 1),
        "st_geomfrombinary: ring is not closed")
      java.util.Arrays.copyOf(c, c.length - 2)
    }
    def polyBody(): Array[Poly] = {
      val r = count("ring")
      if (r == 0) Array.empty
      else {
        require(bb.remaining >= 68L * r, // 4-count + 4 closed pts min
          "st_geomfrombinary: truncated POLYGON rings")
        val rings = Array.fill(r)(ringBody())
        Array((rings(0), rings.drop(1)))
      }
    }
    def nested(expectType: Int, what: String): Unit = {
      val typ = header()
      require(typ == expectType,
        s"st_geomfrombinary: $what component has type $typ, " +
          s"expected $expectType")
    }
    // one full geometry — recursive so GEOMETRYCOLLECTION members parse
    // through the same strict reader (r14)
    def geom(): Geom = header() match {
      case 1 =>
        require(bb.remaining >= 16, "st_geomfrombinary: truncated POINT")
        Point(bb.getDouble, bb.getDouble)
      case 2 =>
        val c = lineBody(2)
        lines(if (c.isEmpty) Array.empty else Array(c))
      case 3 => areal(polyBody())
      case 4 =>
        val pts = count("MultiPoint component")
        // bound the allocation by the bytes that could back it — a
        // hostile count must throw, not attempt a giant allocation
        require(bb.remaining >= 21L * pts,
          "st_geomfrombinary: truncated MultiPoint")
        val c = new Array[Double](2 * pts)
        var i = 0
        while (i < pts) {
          nested(1, "MultiPoint")
          require(bb.remaining >= 16, "st_geomfrombinary: truncated POINT")
          c(2 * i) = bb.getDouble; c(2 * i + 1) = bb.getDouble
          i += 1
        }
        MultiPoint(c)
      case 5 =>
        val parts = count("MultiLineString component")
        require(bb.remaining >= 9L * parts, // 9-byte nested headers min
          "st_geomfrombinary: truncated MultiLineString")
        lines(Array.fill(parts) { nested(2, "MultiLineString")
          val c = lineBody(2)
          require(c.nonEmpty,
            "st_geomfrombinary: empty MultiLineString component")
          c })
      case 6 =>
        val comps = count("MultiPolygon component")
        require(bb.remaining >= 13L * comps, // 13-byte nested min
          "st_geomfrombinary: truncated MultiPolygon")
        areal(Array.fill(comps) { nested(3, "MultiPolygon")
          val p = polyBody()
          require(p.nonEmpty,
            "st_geomfrombinary: empty MultiPolygon component")
          p(0) })
      case 7 =>
        val comps = count("GeometryCollection member")
        require(bb.remaining >= 5L * comps, // 5-byte nested headers min
          "st_geomfrombinary: truncated GeometryCollection")
        Collection(Array.fill(comps)(geom()))
      case other => throw new IllegalArgumentException(
        s"st_geomfrombinary: unsupported geometry type $other")
    }
    val g = geom()
    require(bb.remaining == 0,
      "st_geomfrombinary: trailing bytes after the geometry")
    text(g)
  }

  // ---- simplify_geometry (Douglas–Peucker, r13) --------------------------

  /** DP over an OPEN polyline: keep endpoints; if the farthest interior
    * vertex from the endpoint chord is within tol, drop them all, else
    * split there (ties → first). Distances compare SQUARED — exact on
    * dyadic fixtures. */
  private def dpSimplify(c: Array[Double], lo: Int, hi: Int, tol2: Double,
      keep: Array[Boolean]): Unit = {
    if (hi - lo < 2) return
    var best = -1
    var bestD2 = -1.0
    var i = lo + 1
    while (i < hi) {
      val d2 = ptSegDist2(c(2 * i), c(2 * i + 1), c(2 * lo), c(2 * lo + 1),
        c(2 * hi), c(2 * hi + 1))
      if (d2 > bestD2) { bestD2 = d2; best = i }
      i += 1
    }
    if (bestD2 > tol2) {
      keep(best) = true
      dpSimplify(c, lo, best, tol2, keep)
      dpSimplify(c, best, hi, tol2, keep)
    }
  }

  private def dpLine(c: Array[Double], tol: Double): Array[Double] = {
    val n = c.length / 2
    val keep = new Array[Boolean](n)
    keep(0) = true; keep(n - 1) = true
    dpSimplify(c, 0, n - 1, tol * tol, keep)
    val out = new ArrayBuffer[Double]()
    var i = 0
    while (i < n) {
      if (keep(i)) { out += c(2 * i); out += c(2 * i + 1) }
      i += 1
    }
    out.toArray
  }

  /** Codegen entry: simplify_geometry(wkt, tolerance) — Douglas–Peucker
    * (Trino's spelling). Line parts simplify directly, each part in
    * document order; polygon rings anchor at vertex 0 and the vertex
    * FARTHEST from it (ties → first), then DP each half — the standard
    * closed-ring split, deterministic. Point sets are already minimal;
    * a GEOMETRYCOLLECTION simplifies per member. Loud when a simplified
    * ring degenerates (< 3 vertices, zero area, or self-intersecting)
    * instead of emitting silent garbage; Trino's topology-preserving
    * variant never degenerates either, it just stops simplifying. */
  def simplifyWkt(g: UTF8String, tol: Double): UTF8String = {
    require(tol >= 0, s"simplify_geometry: negative tolerance $tol")
    text(simplified(read(g), tol))
  }

  private def simplified(g: Geom, tol: Double): Geom = g match {
    case _: Point | _: MultiPoint => g
    case Collection(ms) => Collection(ms.map(simplified(_, tol)))
    case Lines(ps, multi) => Lines(ps.map(dpLine(_, tol)), multi)
    case Polys(ps, multi) =>
      Polys(ps.map { case (shell, holes) =>
        (simplifyRing(shell, tol), holes.map(simplifyRing(_, tol)))
      }, multi)
  }

  private def simplifyRing(c: Array[Double], tol: Double): Array[Double] = {
    val n = c.length / 2
    // anchor 1 = vertex 0; anchor 2 = the vertex farthest from it
    var far = 1
    var farD2 = -1.0
    var i = 1
    while (i < n) {
      val dx = c(2 * i) - c(0); val dy = c(2 * i + 1) - c(1)
      val d2 = dx * dx + dy * dy
      if (d2 > farD2) { farD2 = d2; far = i }
      i += 1
    }
    // two halves as open polylines sharing the anchors
    val h1 = java.util.Arrays.copyOfRange(c, 0, 2 * far + 2)
    val h2 = new Array[Double](2 * (n - far) + 2)
    System.arraycopy(c, 2 * far, h2, 0, 2 * (n - far))
    h2(h2.length - 2) = c(0); h2(h2.length - 1) = c(1)
    val s1 = dpLine(h1, tol)
    val s2 = dpLine(h2, tol)
    val out = new ArrayBuffer[Double]()
    out ++= s1
    // skip the shared anchor at both seams (start of s2, end of s2)
    var k = 2
    while (k < s2.length - 2) { out += s2(k); k += 1 }
    val r = out.toArray
    require(r.length >= 6 && signedArea2(r) != 0 &&
      selfIntersection(r).isEmpty,
      "simplify_geometry: tolerance collapses a ring into a degenerate " +
        "or self-intersecting shape - lower the tolerance")
    r
  }

  /** Canonical MULTIPOINT rendering: the parenthesized per-point form. */
  private def fmtMultiPoint(c: Array[Double]): String =
    if (c.isEmpty) "MULTIPOINT EMPTY"
    else {
      val sb = new java.lang.StringBuilder("MULTIPOINT (")
      var i = 0
      while (2 * i < c.length) {
        if (i > 0) sb.append(", ")
        sb.append('(').append(fmtCoord(c(2 * i))).append(' ')
          .append(fmtCoord(c(2 * i + 1))).append(')')
        i += 1
      }
      sb.append(')').toString
    }

  /** st_points — the vertex array as POINT texts in document order
    * (Trino's ST_Points): POINT / MULTIPOINT / LINESTRING /
    * MULTILINESTRING; NULL on EMPTY (Trino's convention). */
  def pointsOf(g: UTF8String): ArrayData = {
    val c = read(g) match {
      case Point(x, y) => Array(x, y)
      case MultiPoint(c) => c
      case Lines(ps, _) => ps.flatten
      case other => notA("st_points", "POINT, MULTIPOINT or (MULTI)LINESTRING", other)
    }
    if (c.isEmpty) null
    else new GenericArrayData(Array.tabulate[Any](c.length / 2)(i =>
      pointStr(c(2 * i), c(2 * i + 1))))
  }

  // ---- line & scalar accessors (Trino geospatial page, r13) -------------

  /** st_geometrytype — Trino's "ST_Point"/"ST_LineString"/"ST_Polygon"/
    * "ST_MultiPolygon"/"ST_GeomCollection" spellings (EMPTY keeps its
    * declared type). */
  def geometryType(g: UTF8String): UTF8String = UTF8String.fromString(read(g) match {
    case _: Point => "ST_Point"
    case _: MultiPoint => "ST_MultiPoint"
    case Lines(_, multi) => if (multi) "ST_MultiLineString" else "ST_LineString"
    case Polys(_, multi) => if (multi) "ST_MultiPolygon" else "ST_Polygon"
    case _: Collection => "ST_GeomCollection"
  })

  /** st_isempty — true for the EMPTY spellings, and for a
    * GEOMETRYCOLLECTION whose members are all empty (the JTS rule). */
  def isEmptyGeom(g: UTF8String): Boolean = isEmpty(read(g))

  /** st_dimension — 0 points, 1 lines, 2 areal; a collection takes the
    * MAX over members (the OGC inherited-dimension rule), 0 if empty. */
  def dimensionOf(g: UTF8String): Long = dim(read(g)).toLong

  private def dim(g: Geom): Int = g match {
    case _: Point | _: MultiPoint => 0
    case _: Lines => 1
    case _: Polys => 2
    case Collection(ms) => if (ms.isEmpty) 0 else ms.map(dim).max
  }

  /** st_numpoints — vertex count of a point set or (MULTI)LINESTRING,
    * summed over parts; areal inputs are loud (Trino counts ring
    * closers — an interop trap this model sidesteps by scoping to the
    * unambiguous kinds). */
  def numPoints(g: UTF8String): Long = read(g) match {
    case _: Point => 1L
    case MultiPoint(c) => c.length / 2
    case Lines(ps, _) => ps.map(_.length / 2).sum.toLong
    case _ => throw new IllegalArgumentException(
      "st_numpoints supports POINT, MULTIPOINT and (MULTI)LINESTRING " +
        "(polygon ring-closer counting differs across engines - count " +
        "st_exteriorring instead)")
  }

  private def pointText(x: Double, y: Double): String =
    "POINT (" + fmtCoord(x) + " " + fmtCoord(y) + ")"

  private def pointStr(x: Double, y: Double): UTF8String =
    UTF8String.fromString(pointText(x, y))

  /** st_pointn(line, n) — 1-based vertex as a POINT; NULL out of range. */
  def pointN(g: UTF8String, n: Int): UTF8String = {
    val c = lineOf(read(g), "st_pointn")
    if (n < 1 || n > c.length / 2) null
    else pointStr(c(2 * (n - 1)), c(2 * (n - 1) + 1))
  }

  /** st_startpoint / st_endpoint — the line terminals. */
  def lineTerminal(g: UTF8String, end: Boolean): UTF8String = {
    val c = lineOf(read(g), if (end) "st_endpoint" else "st_startpoint")
    if (end) pointStr(c(c.length - 2), c(c.length - 1))
    else pointStr(c(0), c(1))
  }

  private def closedChain(c: Array[Double]): Boolean =
    c(0) == c(c.length - 2) && c(1) == c(c.length - 1)

  /** st_isclosed — first vertex equals last; a MULTILINESTRING is
    * closed iff EVERY part is (Trino/OGC), r14. EMPTY is loud. */
  def isClosedLine(g: UTF8String): Boolean = read(g) match {
    case Lines(ps, _) if ps.nonEmpty => ps.forall(closedChain)
    case other => notA("st_isclosed", "non-empty (MULTI)LINESTRING", other)
  }

  /** st_isring — a LINESTRING that is closed AND simple (the ring formed
    * by dropping the closing duplicate has no non-adjacent edge contact
    * and nonzero area). */
  def isRingLine(g: UTF8String): Boolean = {
    val c = lineOf(read(g), "st_isring")
    closedChain(c) && {
      val ring = java.util.Arrays.copyOf(c, c.length - 2)
      ring.length >= 6 && signedArea2(ring) != 0 &&
        selfIntersection(ring).isEmpty
    }
  }

  /** line_locate_point(line, point) — the fraction of the line's length
    * at the point on the line NEAREST to the argument (Trino/PostGIS
    * semantics); ties resolve to the earliest position. */
  def lineLocatePoint(line: UTF8String, pt: UTF8String): Double = {
    val c = lineOf(read(line), "line_locate_point")
    val p = pointOf(read(pt), "line_locate_point")
    val n = c.length / 2
    var bestD2 = Double.MaxValue
    var bestFrac = 0.0
    var before = 0.0
    var total = 0.0
    // two passes folded into one: accumulate total while tracking the
    // best (distance², cumulative-length-at-projection) pair
    var i = 0
    while (i + 1 < n) {
      val ax = c(2 * i); val ay = c(2 * i + 1)
      val bx = c(2 * i + 2); val by = c(2 * i + 3)
      val dx = bx - ax; val dy = by - ay
      val len2 = dx * dx + dy * dy
      val segLen = math.sqrt(len2)
      val t =
        if (len2 == 0) 0.0
        else {
          val raw = ((p.x - ax) * dx + (p.y - ay) * dy) / len2
          if (raw < 0) 0.0 else if (raw > 1) 1.0 else raw
        }
      val ex = ax + t * dx - p.x
      val ey = ay + t * dy - p.y
      val d2 = ex * ex + ey * ey
      if (d2 < bestD2) {
        bestD2 = d2
        bestFrac = before + t * segLen
      }
      before += segLen
      total += segLen
      i += 1
    }
    require(total > 0, "line_locate_point: zero-length line")
    bestFrac / total
  }

  /** line_interpolate_point(line, fraction) — the point at `fraction`
    * of the line's length (0 → start, 1 → end; out of range is loud,
    * matching Trino). */
  def lineInterpolatePoint(line: UTF8String, frac: Double): UTF8String = {
    require(frac >= 0 && frac <= 1,
      s"line_interpolate_point: fraction must be in [0, 1], got $frac")
    pointAlong(lineOf(read(line), "line_interpolate_point"), frac)
  }

  /** line_interpolate_points(line, fraction) — POINTs at fraction,
    * 2·fraction, …, ⌊1/fraction⌋·fraction of the line's length (Trino's
    * contract: 0 < fraction ≤ 1, count = floor(1/fraction); fraction
    * 0.25 includes the endpoint, 0.4 stops at 0.8). */
  def lineInterpolatePoints(line: UTF8String, frac: Double): ArrayData = {
    require(frac > 0 && frac <= 1,
      s"line_interpolate_points: fraction must be in (0, 1], got $frac")
    val c = lineOf(read(line), "line_interpolate_points")
    val k = math.floor(1.0 / frac).toInt
    new GenericArrayData(Array.tabulate[Any](k)(i =>
      pointAlong(c, math.min((i + 1) * frac, 1.0))))
  }

  private def pointAlong(c: Array[Double], frac: Double): UTF8String = {
    val n = c.length / 2
    var total = 0.0
    var i = 0
    while (i + 1 < n) {
      val dx = c(2 * i + 2) - c(2 * i)
      val dy = c(2 * i + 3) - c(2 * i + 1)
      total += math.sqrt(dx * dx + dy * dy)
      i += 1
    }
    require(total > 0, "line_interpolate_point: zero-length line")
    val target = frac * total
    var before = 0.0
    i = 0
    while (i + 1 < n) {
      val ax = c(2 * i); val ay = c(2 * i + 1)
      val bx = c(2 * i + 2); val by = c(2 * i + 3)
      val dx = bx - ax; val dy = by - ay
      val segLen = math.sqrt(dx * dx + dy * dy)
      if (before + segLen >= target || i + 2 == n) {
        val t = if (segLen == 0) 0.0 else (target - before) / segLen
        return pointStr(ax + t * dx, ay + t * dy)
      }
      before += segLen
      i += 1
    }
    pointStr(c(c.length - 2), c(c.length - 1))
  }

  /** Codegen entry: st_equals(aWkt, bWkt) — OGC geometric equality as
    * point sets, TOTAL over the kind matrix as of r15:
    *  - every EMPTY equals every EMPTY (∅ = ∅, whatever the declared
    *    kind — the point-set rule);
    *  - point sets (POINT / MULTIPOINT) compare as distinct coordinate
    *    sets;
    *  - line kinds compare via TWO empty noded differences (a − b and
    *    b − a — the same two-empty-differences rule the areal pairs
    *    have used since r13, on lineLineDifference);
    *  - areal pairs via two empty overlay differences (unchanged);
    *  - GEOMETRYCOLLECTION operands self-absorb first (union with
    *    themselves drops members covered by higher dimensions), then
    *    compare component-wise per dimension;
    *  - cross-dimension pairs are false (the model parse-rejects the
    *    degenerate zero-measure geometries that could tie them). */
  def equalsWkt(a: UTF8String, b: UTF8String): Boolean =
    geomEquals(read(a), read(b))

  private def geomEquals(a: Geom, b: Geom): Boolean = {
    if (isEmpty(a) || isEmpty(b)) return isEmpty(a) && isEmpty(b)
    def ptSet(g: Geom): Set[(Double, Double)] =
      vertices(g).grouped(2).map(p => (p(0), p(1))).toSet
    (a, b) match {
      // GC operands (r15): absorb (self-union), then compare components
      case (_: Collection, _) | (_, _: Collection) =>
        (finishMixed(unionMixed(a, a)), finishMixed(unionMixed(b, b))) match {
          case (aa: Collection, ba: Collection) =>
            val (pa, la, qa) = decompose(aa)
            val (pb, lb, qb) = decompose(ba)
            val arealEq =
              if (pa.polys.isEmpty || pb.polys.isEmpty)
                pa.polys.isEmpty && pb.polys.isEmpty
              else geomEquals(pa, pb)
            val linesEq =
              if (la.isEmpty || lb.isEmpty) la.isEmpty && lb.isEmpty
              else WktOverlay.lineLineDifference(la, lb).isEmpty &&
                WktOverlay.lineLineDifference(lb, la).isEmpty
            val ptsEq = qa.grouped(2).map(p => (p(0), p(1))).toSet ==
              qb.grouped(2).map(p => (p(0), p(1))).toSet
            arealEq && linesEq && ptsEq
          case (_: Collection, _) | (_, _: Collection) => false
          case (aa, ba) => geomEquals(aa, ba)
        }
      case (_: Point | _: MultiPoint, _: Point | _: MultiPoint) => ptSet(a) == ptSet(b)
      case (Lines(pa, _), Lines(pb, _)) =>
        WktOverlay.lineLineDifference(pa, pb).isEmpty &&
          WktOverlay.lineLineDifference(pb, pa).isEmpty
      case (Polys(ga, _), Polys(gb, _)) =>
        requireValidGeom(ga)
        requireValidGeom(gb)
        WktOverlay.overlay(ga, gb, 2, "st_equals").isEmpty &&
          WktOverlay.overlay(gb, ga, 2, "st_equals").isEmpty
      case _ => false
    }
  }

  /** Codegen entry: st_area(polygonWkt) — planar shoelace area. Term
    * and accumulation order are FIXED (i ascending, left-associated
    * sum) so an oracle can mirror the arithmetic operation-for-
    * operation. EMPTY has zero area (Trino's ST_Area convention); a
    * MULTIPOLYGON's area is the sum over components (valid components
    * have disjoint interiors); a component's interior rings SUBTRACT.
    * GEOGRAPHY-tagged input dispatches to the spherical-excess kernel
    * (m², r13). */
  def area(poly: UTF8String): Double =
    if (isGeography(poly)) geographyArea(polysOf(geography(poly), "st_area"))
    else areaOf(read(poly))

  private def areaOf(g: Geom): Double = g match {
    // a collection's area sums its AREAL members; lower-dimension
    // members contribute 0 (the Trino/JTS reading), r14
    case Collection(ms) =>
      ms.map {
        case m @ (_: Polys | _: Collection) => areaOf(m)
        case _ => 0.0
      }.sum
    case _ => polysOf(g, "st_area").map(polyArea).sum
  }

  private def polyArea(p: Poly): Double =
    ringArea(p._1) - p._2.map(ringArea).sum

  // ---- spherical geography (Trino to_spherical_geography tier, r13) -----
  // The engine models Trino's SphericalGeography TYPE as a text tag:
  // to_spherical_geography prefixes the WKT with "GEOGRAPHY " after
  // validating lon/lat ranges, to_geometry strips it, and the three
  // measures (st_distance / st_area / st_length) dispatch on the tag —
  // a poor-man's type exactly strong enough that geometry×geography
  // mixes and unsupported operations fail LOUDLY, like Trino's type
  // errors, instead of silently computing planar math on degrees. The
  // tagged geometry reads through the same reader as any other.

  private val GeoTag = "GEOGRAPHY "
  private val GeoTagBytes = GeoTag.getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  /** Whether the text starts with the tag (after the whitespace
    * `String.trim` drops), probed on the bytes. */
  private def isGeography(g: UTF8String): Boolean = {
    val n = g.numBytes
    var i = 0
    while (i < n && (g.getByte(i) & 0xff) <= ' ') i += 1
    var k = 0
    while (k < GeoTagBytes.length && i + k < n && g.getByte(i + k) == GeoTagBytes(k))
      k += 1
    k == GeoTagBytes.length
  }

  private def untagged(g: UTF8String): String = g.toString.trim.drop(GeoTag.length)

  private def geography(g: UTF8String): Geom = Geom.parse(untagged(g))

  /** to_spherical_geography(geom) — validates the geometry and that
    * every vertex is a lon/lat pair in range (x = longitude, per the
    * geospatial convention), then tags. EMPTY tags as-is. */
  def toSphericalGeography(g: UTF8String): UTF8String = {
    require(!isGeography(g),
      "to_spherical_geography: input is already a geography")
    val c = vertices(read(g))
    var i = 0
    while (2 * i < c.length) {
      val x = c(2 * i); val y = c(2 * i + 1)
      require(x >= -180.0 && x <= 180.0,
        s"to_spherical_geography: longitude $x out of [-180, 180]")
      require(y >= -90.0 && y <= 90.0,
        s"to_spherical_geography: latitude $y out of [-90, 90]")
      i += 1
    }
    UTF8String.fromString(GeoTag + g.toString.trim)
  }

  /** to_geometry(geography) — strips the tag (loud on plain geometry). */
  def sphericalToGeometry(g: UTF8String): UTF8String = {
    require(isGeography(g), "to_geometry: input is not a spherical geography")
    UTF8String.fromString(untagged(g))
  }

  // π/180 and 2R(km) — the same literals as the dialect's
  // great_circle_distance body, so all three engines (this kernel, the
  // temp-function SQL, the DuckDB oracle mirror) fold identical trees
  private final val DegRad = 0.017453292519943295
  private final val TwoRKm = 12742.0176
  private final val RMeters = 6371008.8

  /** Great-circle METERS between two lon/lat points — the haversine of
    * GeoFunctions.haversineKm with identical association order, scaled
    * by 1000 as the final op. */
  private def gcMeters(lon1: Double, lat1: Double,
      lon2: Double, lat2: Double): Double = {
    val sdp = math.sin((lat2 * DegRad - lat1 * DegRad) / 2)
    val sdl = math.sin((lon2 * DegRad - lon1 * DegRad) / 2)
    val a = sdp * sdp +
      math.cos(lat1 * DegRad) * math.cos(lat2 * DegRad) * sdl * sdl
    TwoRKm * math.asin(math.sqrt(math.min(a, 1.0))) * 1000.0
  }

  /** Chamberlain–Duquette (JPL 89-16) ring spherical excess:
    * Σ (λ2 − λ1)(2 + sin φ1 + sin φ2) over edges in PARSED vertex order
    * (closing edge last), left-associated — mirrorable term-for-term.
    * Ring area (m²) = |Σ| / 2 · R². */
  private def sphericalRingArea(c: Array[Double]): Double = {
    val n = c.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += (c(2 * j) * DegRad - c(2 * i) * DegRad) *
        (2.0 + math.sin(c(2 * i + 1) * DegRad) +
          math.sin(c(2 * j + 1) * DegRad))
      i += 1
    }
    math.abs(s) / 2.0 * RMeters * RMeters
  }

  /** Geography ST_Area — m², shells minus holes, components summed. */
  private def geographyArea(ps: Array[Poly]): Double = {
    var total = 0.0
    ps.foreach { case (shell, holes) =>
      var a = sphericalRingArea(shell)
      holes.foreach(h => a -= sphericalRingArea(h))
      total += a
    }
    total
  }

  /** Geography ST_Length — great-circle meters summed over consecutive
    * vertices in line order (LINESTRING / MULTILINESTRING). */
  private def geographyLength(g: Geom): Double = {
    def one(c: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (2 * i + 3 < c.length) {
        s += gcMeters(c(2 * i), c(2 * i + 1), c(2 * i + 2), c(2 * i + 3))
        i += 1
      }
      s
    }
    g match {
      case Lines(ps, _) => ps.map(one).sum
      case other => notA("st_length", "(MULTI)LINESTRING geography", other)
    }
  }

  // ---- geometry accessors (Trino ST_NumGeometries family, r11) ---------

  /** The top-level components: a POINT, LINESTRING or POLYGON is its
    * own one component (none when EMPTY), a MULTI* value has its parts
    * and a GEOMETRYCOLLECTION its members. */
  private def components(g: Geom): Array[Geom] = g match {
    case p: Point => Array(p)
    case MultiPoint(c) => pointsIn(c)
    case Lines(ps, _) => ps.map[Geom](c => Lines(Array(c), multi = false))
    case Polys(ps, _) => ps.map[Geom](p => Polys(Array(p), multi = false))
    case Collection(ms) => ms
  }

  /** st_numgeometries: the component count (EMPTY → 0). */
  def numGeometries(g: UTF8String): Long = components(read(g)).length.toLong

  /** st_geometryn (1-based): the n-th component, canonically rendered;
    * null out of range (Trino's convention). */
  def geometryN(g: UTF8String, n: Int): UTF8String = {
    val cs = components(read(g))
    if (n < 1 || n > cs.length) null else text(cs(n - 1))
  }

  private def singlePoly(g: UTF8String, op: String): Poly = {
    val ps = polysOf(read(g), op)
    require(ps.length == 1,
      s"$op requires a single POLYGON (got ${ps.length} components)")
    ps(0)
  }

  /** st_exteriorring: the shell as a closed LINESTRING. */
  def exteriorRing(g: UTF8String): UTF8String = {
    val (shell, _) = singlePoly(g, "st_exteriorring")
    UTF8String.fromString("LINESTRING (" + ringBody(shell) + ")")
  }

  /** st_numinteriorring: interior-ring count of a POLYGON. */
  def numInteriorRing(g: UTF8String): Long =
    singlePoly(g, "st_numinteriorring")._2.length.toLong

  /** st_interiorringn (1-based): the n-th interior ring as a closed
    * LINESTRING; null out of range. */
  def interiorRingN(g: UTF8String, n: Int): UTF8String = {
    val (_, holes) = singlePoly(g, "st_interiorringn")
    if (n < 1 || n > holes.length) null
    else UTF8String.fromString("LINESTRING (" + ringBody(holes(n - 1)) + ")")
  }

  private def ringArea(c: Array[Double]): Double = {
    val n = c.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += c(2 * i) * c(2 * j + 1) - c(2 * j) * c(2 * i + 1)
      i += 1
    }
    math.abs(s) / 2
  }

  /** Codegen entry: shoelace-weighted polygon centroid (idx 0 = x,
    * 1 = y). Terms accumulate in vertex order — the sc21 mirroring
    * contract — and divide by the SIGNED tripled cross-sum, so the
    * ring's winding cancels and both orientations yield the true
    * centroid. Degenerate (zero-area) rings divide by zero → ±Inf/NaN,
    * loud rather than silently wrong. */
  def centroid(poly: UTF8String, idx: Int): Double = centroidOf(read(poly), idx)

  private def centroidOf(g: Geom, idx: Int): Double = g match {
    // GEOMETRYCOLLECTION (r15): the centroid of the HIGHEST-dimension
    // members only (the JTS convention — lower dimensions carry zero
    // measure against them); areal members fold through the union
    // first, so the result is the POINT-SET centroid (overlapping
    // members are not double-weighted). All-EMPTY stays loud.
    case c: Collection =>
      val (ar, ln, pt) = decompose(c)
      if (ar.polys.nonEmpty) centroidOf(ar, idx)
      else if (ln.nonEmpty) centroidOf(lines(ln), idx)
      else {
        require(pt.nonEmpty, "st_centroid: empty geometry")
        centroidOf(MultiPoint(pt), idx)
      }
    // r14: Trino's ST_Centroid also covers points and lines — a POINT
    // is its own centroid, MULTIPOINT is the arithmetic mean in
    // document order, and (MULTI)LINESTRING is the LENGTH-weighted mean
    // of segment midpoints (segments in document order, ONE final
    // division — mirrorable op-for-op; axis-parallel dyadic fixtures
    // keep every segment length exact)
    case Point(x, y) => if (idx == 0) x else y
    case MultiPoint(c) =>
      require(c.nonEmpty, "st_centroid: empty geometry")
      var s = 0.0
      var i = 0
      while (2 * i < c.length) { s += c(2 * i + idx); i += 1 }
      s / (c.length / 2)
    case Lines(ps, _) =>
      var sLen = 0.0; var sVal = 0.0
      ps.foreach { c =>
        var i = 0
        while (2 * i + 3 < c.length) {
          val dx = c(2 * i + 2) - c(2 * i)
          val dy = c(2 * i + 3) - c(2 * i + 1)
          val len = math.sqrt(dx * dx + dy * dy)
          sLen += len
          sVal += len * ((c(2 * i + idx) + c(2 * i + 2 + idx)) / 2)
          i += 1
        }
      }
      require(sLen > 0, "st_centroid: zero-length line")
      sVal / sLen
    case Polys(polys, _) =>
      require(polys.nonEmpty, "st_centroid: empty geometry")
      if (polys.length == 1 && polys(0)._2.isEmpty) {
        // hole-free single polygon: the ORIGINAL path, bit-identical
        // term order (sc21c's oracle mirrors this arithmetic op-for-op)
        // — winding-insensitive because the signed cross-sum divides out
        val c = polys(0)._1
        val (sa, sx, sy) = centroidTerms(c, 0.0, 0.0, 0.0)
        if (idx == 0) sx / (3.0 * sa) else sy / (3.0 * sa)
      } else {
        // holed / MULTIPOLYGON (r11): same term formulas accumulated
        // over every ring with FIXED orientation — shells CCW (positive
        // cross terms), interior rings CW (negative) — so the moments
        // and the cross-sum are shell − holes and the division yields
        // the true centroid of the remaining region; components
        // accumulate in order, shell before its holes
        var sa = 0.0; var sx = 0.0; var sy = 0.0
        polys.foreach { case (shell0, holes) =>
          val r1 = centroidTerms(toCcw(shell0), sa, sx, sy)
          sa = r1._1; sx = r1._2; sy = r1._3
          holes.foreach { h =>
            val r2 = centroidTerms(reverseRing(toCcw(h)), sa, sx, sy)
            sa = r2._1; sx = r2._2; sy = r2._3
          }
        }
        if (idx == 0) sx / (3.0 * sa) else sy / (3.0 * sa)
      }
  }

  private def centroidTerms(c: Array[Double], sa0: Double, sx0: Double,
      sy0: Double): (Double, Double, Double) = {
    val n = c.length / 2
    var sa = sa0; var sx = sx0; var sy = sy0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val cr = c(2 * i) * c(2 * j + 1) - c(2 * j) * c(2 * i + 1)
      sa += cr
      sx += (c(2 * i) + c(2 * j)) * cr
      sy += (c(2 * i + 1) + c(2 * j + 1)) * cr
      i += 1
    }
    (sa, sx, sy)
  }

  /** Codegen entry: envelope bound of any geometry — which: 0 xmin,
    * 1 ymin, 2 xmax, 3 ymax. Min/max over vertices: order-independent
    * and exact in IEEE, so no accumulation-order contract is needed.
    * EMPTY has no envelope — loud, every kind alike. */
  def envBound(g: UTF8String, which: Int): Double = bound(read(g), which)

  private def bound(g: Geom, which: Int): Double = {
    require(!isEmpty(g), "st_envelope: empty geometry")
    g match {
      // GEOMETRYCOLLECTION (r15): the envelope spans the members'
      // envelopes (EMPTY members span nothing)
      case Collection(ms) =>
        val vals = ms.filterNot(isEmpty).map(bound(_, which))
        if (which <= 1) vals.min else vals.max
      case _ =>
        // the envelope of a holed polygon is its SHELL's bbox (interior
        // rings cannot extend it); a MULTIPOLYGON's spans all shells
        val rings: Array[Array[Double]] = g match {
          case Polys(ps, _) => ps.map(_._1)
          case other => Array(vertices(other))
        }
        var xmin = rings(0)(0)
        var ymin = rings(0)(1)
        var xmax = xmin
        var ymax = ymin
        rings.foreach { c =>
          var i = 0
          while (2 * i < c.length) {
            val x = c(2 * i)
            val y = c(2 * i + 1)
            if (x < xmin) xmin = x
            if (x > xmax) xmax = x
            if (y < ymin) ymin = y
            if (y > ymax) ymax = y
            i += 1
          }
        }
        which match {
          case 0 => xmin
          case 1 => ymin
          case 2 => xmax
          case _ => ymax
        }
    }
  }

  /** Codegen entry: st_length(lineWkt) — planar length, segment
    * hypots accumulated in point order (same mirroring contract).
    * MULTILINESTRING sums its parts in order; EMPTY is 0 (r13, so the
    * line-clip outputs are measurable). r15: point sets measure 0 and
    * GEOMETRYCOLLECTION sums its members (the sc21aa decomposing
    * convention) — so the mixed line×line intersection outputs are
    * measurable too; areal operands stay loud (Trino's ST_Length is
    * not a perimeter). */
  def length(line: UTF8String): Double =
    if (isGeography(line)) geographyLength(geography(line)) // meters (r13)
    else lengthOf(read(line))

  private def lengthOf(g: Geom): Double = g match {
    case _: Point | _: MultiPoint => 0.0
    case Collection(ms) => ms.map(lengthOf).sum
    case Lines(ps, _) =>
      var s = 0.0
      ps.foreach { c =>
        val n = c.length / 2
        var i = 1
        while (i < n) {
          val dx = c(2 * i) - c(2 * (i - 1))
          val dy = c(2 * i + 1) - c(2 * i - 1)
          s += math.sqrt(dx * dx + dy * dy)
          i += 1
        }
      }
      s
    case other => notA("st_length", "line, point set or collection", other)
  }

  /** OGC mod-2 boundary of a line geometry: the endpoints that occur in
    * an ODD number of part boundaries (a closed part's coincident
    * endpoints count twice, so a closed LINESTRING has an EMPTY
    * boundary — the SFS rule JTS's Mod2BoundaryNodeRule implements).
    * Output is lexicographically sorted flat coords — deterministic for
    * the MULTIPOINT rendering in st_boundary. */
  private[functions] def lineBoundaryPts(
      parts: Array[Array[Double]]): Array[Double] = {
    val counts = scala.collection.mutable.LinkedHashMap
      .empty[(Double, Double), Int]
    parts.foreach { c =>
      val m = c.length / 2
      val e0 = (c(0), c(1))
      val e1 = (c(2 * m - 2), c(2 * m - 1))
      counts.update(e0, counts.getOrElse(e0, 0) + 1)
      counts.update(e1, counts.getOrElse(e1, 0) + 1)
    }
    val odd = counts.iterator.filter(_._2 % 2 == 1).map(_._1).toArray
      .sortBy(identity)
    val out = new Array[Double](2 * odd.length)
    var i = 0
    while (i < odd.length) {
      out(2 * i) = odd(i)._1; out(2 * i + 1) = odd(i)._2
      i += 1
    }
    out
  }

  /** LINESTRING / MULTILINESTRING / LINESTRING EMPTY rendering of
    * line-clip chains (chains are in line order — already
    * deterministic, no canonical rotation needed). */
  private def fmtLines(chains: Array[Array[Double]]): String = {
    def body(c: Array[Double]): String = {
      val sb = new java.lang.StringBuilder()
      val n = c.length / 2
      var i = 0
      while (i < n) {
        if (i > 0) sb.append(", ")
        sb.append(fmtCoord(c(2 * i))).append(' ')
          .append(fmtCoord(c(2 * i + 1)))
        i += 1
      }
      sb.toString
    }
    if (chains.isEmpty) "LINESTRING EMPTY"
    else if (chains.length == 1) "LINESTRING (" + body(chains(0)) + ")"
    else chains.map(c => "(" + body(c) + ")")
      .mkString("MULTILINESTRING (", ", ", ")")
  }

  // ---- ring helpers: orientation, convexity, simplicity ----------
  // Shared by st_buffer's convex corner tiers, st_convexhull, the
  // validity checks and the polygon overlay (WktOverlay), which builds
  // every ST_Intersection / ST_Union / ST_Difference of two areal
  // operands.

  private[functions] def signedArea2(c: Array[Double]): Double = {
    val n = c.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      s += c(2 * i) * c(2 * j + 1) - c(2 * j) * c(2 * i + 1)
      i += 1
    }
    s
  }

  private[functions] def toCcw(c: Array[Double]): Array[Double] =
    if (signedArea2(c) >= 0) c else reverseRing(c)

  private[functions] def isConvexRing(c: Array[Double]): Boolean = {
    if (signedArea2(c) == 0) return false
    val n = c.length / 2
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val k = if (j + 1 == n) 0 else j + 1
      val cr = (c(2 * j) - c(2 * i)) * (c(2 * k + 1) - c(2 * j + 1)) -
        (c(2 * j + 1) - c(2 * i + 1)) * (c(2 * k) - c(2 * j))
      if (cr < 0) return false
      i += 1
    }
    // all-left-turns alone also accepts multiply-wound self-intersecting
    // rings (a pentagram traversal turns left at every vertex) — and
    // st_buffer's convex corner tiers would then return silent garbage.
    // Bound total turning to ONE revolution: the edge
    // directions of a simple convex CCW ring are circularly sorted by
    // angle and wrap past any fixed reference exactly once. The wrap
    // count is exact sign logic (quadrant sector + cross product), no
    // atan2.
    def sector(dx: Double, dy: Double): Int =
      if (dy > 0 || (dy == 0 && dx > 0)) 0 else 1 // upper vs lower half-turn
    var wraps = 0
    i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val k = if (j + 1 == n) 0 else j + 1
      val d1x = c(2 * j) - c(2 * i); val d1y = c(2 * j + 1) - c(2 * i + 1)
      val d2x = c(2 * k) - c(2 * j); val d2y = c(2 * k + 1) - c(2 * j + 1)
      val s1 = sector(d1x, d1y); val s2 = sector(d2x, d2y)
      // CCW angle order within a half-turn: cross > 0 means d2 is ahead
      val cr = d1x * d2y - d1y * d2x
      val back =
        if (s1 != s2) s2 < s1 // crossing into the earlier half-turn = wrap
        else cr < 0           // stepping backwards within one half-turn
      // equal directions (cr == 0, same sector, dot > 0) never wrap
      if (back || (s1 == s2 && cr == 0 && d1x * d2x + d1y * d2y < 0))
        wraps += 1
      i += 1
    }
    wraps == 1
  }

  /** First pair of non-adjacent edges of one ring that touch, if any
    * (the simple-ring test; adjacent edges legitimately share their
    * common vertex and are skipped). */
  private[functions] def selfIntersection(c: Array[Double]): Option[(Int, Int)] = {
    val n = c.length / 2
    var i = 0
    while (i < n) {
      val i2 = if (i + 1 == n) 0 else i + 1
      var j = i + 1
      while (j < n) {
        val j2 = if (j + 1 == n) 0 else j + 1
        val adjacent = i2 == j || j2 == i
        if (!adjacent && segIntersect(c(2 * i), c(2 * i + 1),
            c(2 * i2), c(2 * i2 + 1),
            c(2 * j), c(2 * j + 1), c(2 * j2), c(2 * j2 + 1)))
          return Some((i, j))
        j += 1
      }
      i += 1
    }
    None
  }

  /** Loud simple-ring validation for st_buffer's general tier:
    * non-adjacent edges must not touch at all (the convex tiers' turn
    * test subsumes this; a concave ring needs the O(n²) pair check). */
  private[functions] def requireSimple(c: Array[Double], op: String): Unit = {
    require(signedArea2(c) != 0, s"$op: degenerate zero-area ring")
    selfIntersection(c).foreach { case (i, j) =>
      throw new IllegalArgumentException(
        s"$op: self-intersecting ring (edges $i and $j) - " +
          "simple polygons only")
    }
  }

  /** Any edge of ring a touching any edge of ring b (boundary-disjoint
    * test between two rings). */
  private[functions] def ringsTouch(a: Array[Double], b: Array[Double]): Boolean = {
    val na = a.length / 2; val nb = b.length / 2
    var i = 0
    while (i < na) {
      val i2 = if (i + 1 == na) 0 else i + 1
      var j = 0
      while (j < nb) {
        val j2 = if (j + 1 == nb) 0 else j + 1
        if (segIntersect(a(2 * i), a(2 * i + 1), a(2 * i2), a(2 * i2 + 1),
            b(2 * j), b(2 * j + 1), b(2 * j2), b(2 * j2 + 1)))
          return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** st_isvalid / geometry_invalid_reason: structural validity of a
    * (MULTI)POLYGON — rings non-degenerate and simple, interior rings
    * inside their shell and not nested, components with disjoint
    * interiors and not nested; rings may touch at isolated points, as
    * OGC permits. EMPTY is valid. Points and lines are always valid
    * once they read (simplicity is the separate st_issimple question),
    * and a collection is valid iff every member is (JTS/Trino).
    * Malformed TEXT still throws (parse errors are not validity
    * verdicts — wrap in try_eval for NULL). Returns null when valid,
    * else the reason. */
  def invalidReason(g: UTF8String): UTF8String = {
    val why = invalidity(read(g))
    if (why == null) null else UTF8String.fromString(why)
  }

  private def invalidity(g: Geom): String = g match {
    case Polys(ps, _) => invalidReasonPolys(ps)
    case Collection(ms) => ms.iterator.map(invalidity).find(_ != null).orNull
    case _ => null
  }

  /** Same verdict over already-parsed components (shared with the
    * overlay tier's input validation). */
  private[functions] def invalidReasonPolys(
      polys: Array[(Array[Double], Array[Array[Double]])]): String = {
    def r(s: String): String = s
    var p = 0
    while (p < polys.length) {
      val (shell, holes) = polys(p)
      val rings = shell +: holes.toSeq
      var k = 0
      while (k < rings.length) {
        if (signedArea2(rings(k)) == 0) return r("zero-area ring")
        if (selfIntersection(rings(k)).isDefined)
          return r("self-intersecting ring")
        k += 1
      }
      // r13 (OGC alignment, unlocking the overlay tier's own outputs):
      // ISOLATED-POINT contact between rings is now VALID — a hole may
      // touch its shell at a point, holes may touch each other at a
      // point, and MULTIPOLYGON component shells may touch at a point
      // (the overlay emits exactly that for a corner-touch union).
      // Proper edge crossings, positive-length collinear overlap, and
      // crossing THROUGH shared vertices (detected as mixed in/out
      // elementary midpoints after noding) remain invalid, with the
      // same reason strings as r11.
      var hi = 0
      while (hi < holes.length) {
        if (WktOverlay.properCrossOrOverlap(shell, holes(hi)))
          return r("interior ring crosses shell")
        val (hin, hout) = WktOverlay.ringSides(holes(hi), shell)
        if (hin && hout) return r("interior ring crosses shell")
        if (!hin) return r("interior ring not inside shell")
        var hj = hi + 1
        while (hj < holes.length) {
          if (WktOverlay.properCrossOrOverlap(holes(hi), holes(hj)))
            return r("interior rings cross")
          val (iIn, iOut) = WktOverlay.ringSides(holes(hi), holes(hj))
          if (iIn && iOut) return r("interior rings cross")
          if (iIn) return r("nested interior rings")
          val (jIn, jOut) = WktOverlay.ringSides(holes(hj), holes(hi))
          if (jIn && jOut) return r("interior rings cross")
          if (jIn) return r("nested interior rings")
          hj += 1
        }
        hi += 1
      }
      // components must have DISJOINT INTERIORS: any ring of one
      // properly crossing / collinear-overlapping any ring of the other
      // is invalid, and any boundary point of one strictly interior to
      // the other (as a REGION, holes carved out — a component inside
      // another component's hole is legal OGC) is invalid
      var q = p + 1
      while (q < polys.length) {
        val ringsP = shell +: holes.toSeq
        val ringsQ = polys(q)._1 +: polys(q)._2.toSeq
        var rp = 0
        while (rp < ringsP.length) {
          var rq = 0
          while (rq < ringsQ.length) {
            if (WktOverlay.properCrossOrOverlap(ringsP(rp), ringsQ(rq)))
              return r("component shells cross")
            rq += 1
          }
          rp += 1
        }
        val (qInP, qOutP) = WktOverlay.ringSidesPoly(polys(q)._1, polys(p))
        if (qInP && qOutP) return r("component shells cross")
        if (qInP) return r("nested component shells")
        val (pInQ, pOutQ) = WktOverlay.ringSidesPoly(shell, polys(q))
        if (pInQ && pOutQ) return r("component shells cross")
        if (pInQ) return r("nested component shells")
        q += 1
      }
      p += 1
    }
    null
  }

  def isValid(g: UTF8String): Boolean = invalidReason(g) == null

  /** Loud input gate for the overlay tier: structurally invalid
    * operands throw with the validity reason instead of producing an
    * undefined overlay. */
  private[functions] def requireValidGeom(polys: Array[Poly]): Unit = {
    val why = invalidReasonPolys(polys)
    if (why != null) throw new IllegalArgumentException(
      s"invalid geometry operand ($why): ${fmtGeom(polys)}")
  }

  private[functions] def reverseRing(c: Array[Double]): Array[Double] = {
    val n = c.length / 2
    val out = new Array[Double](c.length)
    var i = 0
    while (i < n) {
      out(2 * i) = c(2 * (n - 1 - i))
      out(2 * i + 1) = c(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  /** Rotate a ring to start at its lexicographically smallest vertex —
    * a canonical form so overlay WKT output is independent of node
    * discovery order. */
  private[functions] def canonRing(c: Array[Double]): Array[Double] = {
    val n = c.length / 2
    var best = 0
    var i = 1
    while (i < n) {
      if (c(2 * i) < c(2 * best) ||
          (c(2 * i) == c(2 * best) && c(2 * i + 1) < c(2 * best + 1)))
        best = i
      i += 1
    }
    if (best == 0) c
    else {
      val out = new Array[Double](c.length)
      i = 0
      while (i < n) {
        val j = (best + i) % n
        out(2 * i) = c(2 * j); out(2 * i + 1) = c(2 * j + 1)
        i += 1
      }
      out
    }
  }

  /** Canonical form of polygon components, for output independent of
    * node discovery order: every ring rotated to start at its
    * lexicographically smallest vertex, interior rings and components
    * sorted by that vertex. */
  private def canonPolys(ps: Array[Poly]): Array[Poly] = {
    val c = ps.map { case (shell, holes) =>
      (canonRing(shell), holes.map(canonRing).sortBy(h => (h(0), h(1))))
    }
    if (c.length > 1) c.sortBy(p => (p._1(0), p._1(1))) else c
  }

  /** POLYGON / MULTIPOLYGON / POLYGON EMPTY rendering of components in
    * canonical form. Shells render CCW and interior rings keep their
    * CW winding (the usual WKT convention; the reader is
    * winding-insensitive). */
  private[functions] def fmtGeom(ps: Array[Poly]): String = {
    def polyBody(p: Poly): String = {
      val sb = new java.lang.StringBuilder("((")
      sb.append(ringBody(p._1)).append(')')
      p._2.foreach(h => sb.append(", (").append(ringBody(h)).append(')'))
      sb.append(')').toString
    }
    val c = canonPolys(ps)
    if (c.isEmpty) "POLYGON EMPTY"
    else if (c.length == 1) "POLYGON " + polyBody(c(0))
    else c.map(polyBody).mkString("MULTIPOLYGON (", ", ", ")")
  }

  // Double.toString switches to scientific notation outside
  // [1e-3, 1e7), which is not valid WKT for downstream consumers
  // (Trino/JTS/DuckDB-spatial); render those exactly in plain notation
  private def fmtCoord(d: Double): String = {
    val s = java.lang.Double.toString(d)
    if (s.indexOf('E') < 0) s
    // parse the SHORTEST string, not the raw double: BigDecimal(double)
    // would expand the exact binary value into dozens of noise digits
    else new java.math.BigDecimal(s).toPlainString
  }

  private def ringBody(c: Array[Double]): String = {
    val sb = new java.lang.StringBuilder()
    val n = c.length / 2
    var i = 0
    while (i <= n) {
      val k = if (i == n) 0 else i  // WKT closes the ring
      if (i > 0) sb.append(", ")
      sb.append(fmtCoord(c(2 * k))).append(' ')
        .append(fmtCoord(c(2 * k + 1)))
      i += 1
    }
    sb.toString
  }

  private[functions] def fmtRing(c: Array[Double]): String =
    if (c.isEmpty) "POLYGON EMPTY"
    else "POLYGON ((" + ringBody(c) + "))"

  /** Codegen entry: st_intersection(aWkt, bWkt). Two areal operands
    * (convex or concave, holed, MULTIPOLYGON) go through the polygon
    * overlay; "POLYGON EMPTY" when the AREAL intersection is empty
    * (disjoint interiors — including edge/point tangency, whose
    * lower-dimensional contact an areal result cannot represent).
    * Point, line and collection operands take the non-areal branches
    * of `intersection`. */
  def intersectionWkt(a: UTF8String, b: UTF8String): UTF8String =
    text(intersection(read(a), read(b)))

  /** Codegen entry: st_union(aWkt, bWkt). Two areal operands go
    * through the polygon overlay: a containing operand absorbs the
    * other, disjoint or corner-touching operands render as a
    * MULTIPOLYGON, and operands sharing an edge merge into one
    * polygon. Any other kind pair takes the mixed decompose-and-absorb
    * union (a GEOMETRYCOLLECTION when dimensions differ). */
  def unionWkt(a: UTF8String, b: UTF8String): UTF8String =
    text(union(read(a), read(b)))

  /** Codegen entry: st_difference(aWkt, bWkt) — A minus B. Two areal
    * operands go through the polygon overlay: "POLYGON EMPTY" when
    * A ⊆ B; B strictly inside A yields A with B carved out as an
    * INTERIOR ring (`POLYGON ((shell), (hole))`). Structurally invalid
    * operands throw with their validity reason. Non-areal kind pairs
    * take the branches of `difference`. */
  def differenceWkt(a: UTF8String, b: UTF8String): UTF8String =
    text(difference(read(a), read(b)))

  /** Codegen entry: st_symdifference(aWkt, bWkt) — (a − b) ∪ (b − a),
    * the fourth set operation (r16, the r15 verdict missing #1). Total
    * over the kind matrix by composition: both differences ride the
    * total − dispatch and the results fold through the total mixed
    * union. The two pieces never share interior by construction (they
    * live on opposite sides of a ∩ b), so transversal pairs render as
    * disjoint or point-touching members; equal inputs render the
    * union fold's canonical POLYGON EMPTY. Two documented edges: (1)
    * when ∂a and ∂b overlap COLLINEARLY the two pieces can share edges
    * and the merged XOR region may be point-pinched — the overlay's
    * deliberate loud refusal applies (WktFuzzSpec measures ~6/40 on
    * fully-aligned grids, 0/40 transversal); (2) a minuend that
    * traverses a run twice keeps both traversals in the difference but
    * the union dedupes identical parts, so sym is a POINT-SET result —
    * lengths don't decompose over multiplicities (the fuzz checks the
    * exact cell-set identity instead). Member order follows the
    * union's canonical rendering of (a − b) first, so textual output
    * is NOT symmetric in general — st_equals(sym(a,b), sym(b,a)) is
    * the symmetry invariant (WktSpec/WktFuzzSpec pin it). */
  def symDifferenceWkt(a: UTF8String, b: UTF8String): UTF8String = {
    val ga = read(a)
    val gb = read(b)
    text(union(difference(ga, gb), difference(gb, ga)))
  }

  /** Two POLYGON/MULTIPOLYGON operands take one path: `requireValidGeom`
    * on each, then the noded planar-subdivision overlay
    * (`WktOverlay.overlay`), in canonical form. */
  private def overlayOp(pa: Array[Poly], pb: Array[Poly], op: Int,
      name: String): Polys = {
    requireValidGeom(pa)
    requireValidGeom(pb)
    areal(WktOverlay.overlay(pa, pb, op, name))
  }

  /** Whether (x, y) lies on `g` — the coverage test of the point-set
    * intersection and difference. */
  private def covers(g: Geom, x: Double, y: Double): Boolean = g match {
    case Point(u, v) => u == x && v == y
    case MultiPoint(c) =>
      var j = 0; var hit = false
      while (2 * j < c.length && !hit) {
        hit = c(2 * j) == x && c(2 * j + 1) == y
        j += 1
      }
      hit
    case Lines(ps, _) => ps.exists(WktOverlay.pointOnLine(_, x, y))
    case Polys(ps, _) =>
      containsPolys(ps, x, y) || WktOverlay.pointOnBoundary(ps, x, y)
    case Collection(ms) => ms.exists(covers(_, x, y))
  }

  // Non-areal operands: ∪ (r14) and − and ∩ (r15) are TOTAL over the
  // kind matrix — collections decompose, point sets test coverage, line
  // pairs ride the noded per-part scan.

  private def union(a: Geom, b: Geom): Geom = (a, b) match {
    case (Polys(pa, _), Polys(pb, _)) => overlayOp(pa, pb, 1, "st_union")
    // the model has GEOMETRYCOLLECTION (r14), so a mixed-dimension ∪
    // gets real semantics: the mixed decompose-and-absorb
    case _ => finishMixed(unionMixed(a, b))
  }

  private def difference(a: Geom, b: Geom): Geom = (a, b) match {
    case (Polys(pa, _), Polys(pb, _)) => overlayOp(pa, pb, 2, "st_difference")
    // collection MINUEND (r15 follow-up): difference distributes over
    // the minuend's union — (m1 ∪ m2) − b = (m1−b) ∪ (m2−b), so members
    // subtract independently and the results fold through the
    // mixed-union absorb (a fully-consumed collection renders the
    // fold's canonical POLYGON EMPTY)
    case (Collection(ms), _) =>
      val folded = finishMixed(
        ms.map(difference(_, b)).reduceOption(unionMixed).getOrElse(NoArea))
      if (isEmpty(folded)) NoArea else folded
    // collection SUBTRAHEND (r15, verdict missing #2): a SEQUENTIAL
    // difference chain a − m1 − m2 − … (the overlay's pinch rule: never
    // union-then-subtract); an all-EMPTY collection subtracts nothing
    case (_, Collection(ms)) => ms.foldLeft(a)(difference)
    // line − line (r15, verdict missing #2): maximal chains of the
    // minuend not collinearly covered by the subtrahend — the noded
    // per-part scan (lineLineDifference); crossings and touches remove
    // a measure-zero set, so purely-transversal pairs return the
    // canonical minuend (st_intersection's line×line dual keeps
    // exactly what this drops: covered runs + contact points)
    case (Lines(pa, _), Lines(pb, _)) =>
      lines(WktOverlay.lineLineDifference(pa, pb))
    // line − areal: the complement clip (chains strictly outside)
    case (Lines(pa, _), Polys(g, _)) =>
      requireValidGeom(g)
      lines(pa.flatMap(WktOverlay.lineClipOut(_, g)))
    // line − point(s): a measure-zero subtrahend — canonical minuend
    case (Lines(pa, _), _) => lines(pa)
    // areal − (line|point): subtracting a measure-zero set leaves the
    // REGION unchanged — canonical re-render
    case (Polys(pa, _), _) => areal(pa)
    // point(s) − (areal|line|point(s)): drop covered members, in
    // document order; an emptied point set renders MULTIPOINT EMPTY
    // (this model's empty-point spelling — documented where Trino
    // would say POINT EMPTY)
    case _ => pointSet(keepPoints(vertices(a), !covers(b, _, _)))
  }

  private def keepPoints(c: Array[Double],
      keep: (Double, Double) => Boolean): Array[Double] = {
    val out = new ArrayBuffer[Double]()
    var i = 0
    while (2 * i < c.length) {
      val x = c(2 * i); val y = c(2 * i + 1)
      if (keep(x, y)) { out += x; out += y }
      i += 1
    }
    out.toArray
  }

  // INTERSECTION — TOTAL over the kind matrix as of r15. Emptied
  // non-areal intersections render MULTIPOINT EMPTY (the point-set
  // empty — intersections only REMOVE, so the natural empty is the
  // lowest-dimensional spelling).
  private def intersection(a: Geom, b: Geom): Geom = {
    // GEOMETRYCOLLECTION operands decompose over members (∩ distributes
    // over ∪) and member results fold through the mixed union absorb
    def fold(parts: Array[Geom]): Geom = {
      val f = finishMixed(parts.reduceOption(unionMixed).getOrElse(NoPoints))
      if (isEmpty(f)) NoPoints else f
    }
    (a, b) match {
      case (Polys(pa, _), Polys(pb, _)) => overlayOp(pa, pb, 0, "st_intersection")
      case (Collection(ms), _) => fold(ms.map(intersection(_, b)))
      case (_, Collection(ms)) => fold(ms.map(intersection(a, _)))
      // point(s) ∩ x — the covered members survive (the exact dual of
      // the point-minuend difference: same covered tests), deduped and
      // sorted — the mixed-union point convention
      case (_: Point | _: MultiPoint, _) | (_, _: Point | _: MultiPoint) =>
        val (pts, other) = a match {
          case _: Point | _: MultiPoint => (a, b)
          case _ => (b, a)
        }
        val kept = keepPoints(vertices(pts), covers(other, _, _))
        pointSet(kept.grouped(2).map(p => (p(0), p(1))).toArray.distinct.sorted
          .flatMap(p => Array(p._1, p._2)))
      // line × line (r15): collinear covered runs as chains + isolated
      // contacts (crossings, touches, vertex coincidences) as points —
      // the dual of lineLineDifference under the same noding
      case (Lines(pa, _), Lines(pb, _)) =>
        val (chains, pts) = WktOverlay.lineLineIntersection(pa, pb)
        val members = new ArrayBuffer[Geom]()
        if (chains.nonEmpty) members += lines(chains)
        if (pts.nonEmpty) members += pointSet(pts)
        if (members.isEmpty) NoPoints
        else if (members.length == 1) members(0)
        else Collection(members.toArray)
      // MULTILINESTRING inputs clip part-by-part in document order (r14)
      case (Lines(ps, _), Polys(g, _)) => clipLines(ps, g)
      case (Polys(g, _), Lines(ps, _)) => clipLines(ps, g)
    }
  }

  private def clipLines(parts: Array[Array[Double]], g: Array[Poly]): Geom = {
    requireValidGeom(g)
    lines(parts.flatMap(WktOverlay.lineClip(_, g)))
  }

  /** Codegen entry: st_buffer(polyWkt, d) — MITER-join outward offset of
    * a convex ring by d ≥ 0: each edge shifts along its outward normal,
    * consecutive offset lines intersect at the new vertex (one per
    * original vertex — pure line arithmetic, no arcs; GEOS's round-join
    * default is out of scope, documented). d = 0 returns the normalized
    * CCW ring. */
  // st_buffer join styles (r14): ROUND is the default — Trino/GEOS's
  // arc-approximated convex corners with QuadSegs segments per
  // quarter-turn (GEOS's quadrantSegments default of 8; the r13 POINT
  // disk was already the matching 32-gon); MITER keeps the r13
  // one-vertex-per-corner form under the explicit 'miter' flag.
  final val BufRound = 0
  final val BufMiter = 1
  private final val QuadSegs = 8

  def bufferWkt(g: UTF8String, d: Double): UTF8String =
    bufferWkt(g, d, BufRound)

  /** Arc fan points for a corner at (vx, vy): radius r, from unit
    * normal (pnx, pny) to (inx, iny) turning by the SIGNED angle delta
    * (CCW positive). Endpoints are emitted EXACTLY as v + n·r (the same
    * doubles the edge rectangles use, so the overlay sees shared
    * vertices); interior points ride cos/sin. Segment count
    * m = max(1, round(|delta| / (π/2) · QuadSegs)) — a quarter turn gets
    * exactly QuadSegs chords, robust to the ±1-ulp angle wiggle a
    * ceil would amplify. */
  private def arcFan(vx: Double, vy: Double, r: Double,
      pnx: Double, pny: Double, inx: Double, iny: Double,
      delta: Double): Array[Double] = {
    val m = math.max(1, math.round(
      math.abs(delta) / (math.Pi / 2) * QuadSegs).toInt)
    val out = new scala.collection.mutable.ArrayBuffer[Double]()
    out += vx + pnx * r; out += vy + pny * r
    val phi0 = math.atan2(pny, pnx)
    var j = 1
    while (j < m) {
      val phi = phi0 + delta * j / m
      out += vx + r * math.cos(phi); out += vy + r * math.sin(phi)
      j += 1
    }
    out += vx + inx * r; out += vy + iny * r
    out.toArray
  }

  /** Signed CCW angle from unit vector (ax, ay) to (bx, by), in
    * (-π, π]. */
  private def turnAngle(ax: Double, ay: Double,
      bx: Double, by: Double): Double =
    math.atan2(ax * by - ay * bx, ax * bx + ay * by)

  /** Codegen entry: st_buffer(wkt, d [, style]) — style 0 = round
    * (default, the Trino/GEOS arc-join convention), 1 = miter (the r13
    * closed-form join, kept under the explicit flag).
    *
    * d > 0 dilates: convex+miter keeps the bit-stable legacy
    * closed-form ring; convex+round constructs the offset ring directly
    * (edge offsets + per-corner arc fans); concave rings decompose into
    * input + per-edge outward rectangles + per-convex-corner join piece
    * (kite or fan), folded through the overlay union.
    *
    * d < 0 ERODES (r14): the eroded region is g MINUS the set of points
    * within |d| of the boundary — per-edge INWARD rectangles plus a
    * join piece at each REFLEX corner (where the inward rectangles
    * leave a wedge), folded through the overlay union and subtracted
    * via the overlay difference. Axis-parallel fixtures erode exactly
    * (all piece coordinates dyadic); an erosion that consumes the whole
    * ring returns POLYGON EMPTY.
    *
    * POINT input: the disk as a regular CCW 4·QuadSegs-gon (32-gon,
    * circumradius d, vertex 0 at angle 0) under BOTH styles — a
    * DOCUMENTED approximation; area = 16·d²·sin(π/16) in closed form.
    * d = 0 returns the input unchanged; negative d on a POINT is the
    * empty region. */
  def bufferWkt(g: UTF8String, d: Double, style: Int): UTF8String =
    read(g) match {
      // a line at distance 0 comes back as given
      case _: Lines if d == 0 => g
      case v => UTF8String.fromString(buffer(v, d, style))
    }

  /** Union of buffer outputs in order; a single output stays as it is. */
  private def unionFold(parts: Array[String]): String =
    parts.reduceLeft((acc, p) => render(union(Geom.parse(acc), Geom.parse(p))))

  private def ringPiece(c: Array[Double]): Geom =
    Polys(Array((c, Array.empty[Array[Double]])), multi = false)

  private def buffer(g: Geom, d: Double, style: Int): String = g match {
    case Point(x, y) =>
      if (d == 0) pointText(x, y)
      else if (d < 0) "POLYGON EMPTY"
      else {
        val n = 4 * QuadSegs
        val out = new Array[Double](2 * n)
        var k = 0
        while (k < n) {
          val th = 2.0 * math.Pi * k / n
          out(2 * k) = x + d * math.cos(th)
          out(2 * k + 1) = y + d * math.sin(th)
          k += 1
        }
        fmtRing(out)
      }
    // MULTIPOINT / GEOMETRYCOLLECTION buffers (r15, verdict missing
    // #4): per-member buffer folded through the union dispatch —
    // disjoint member buffers render as MULTIPOLYGON; members whose
    // buffers merely TOUCH at a point hit the overlay's loud pinch
    // rule (documented). d = 0 returns the canonical input; EMPTY
    // inputs (and EMPTY members) buffer to nothing, an all-EMPTY input
    // to POLYGON EMPTY; negative d over a point set erodes a
    // measure-zero set to EMPTY. Negative d over a COLLECTION: see
    // erodeMembers.
    case MultiPoint(c) =>
      if (c.isEmpty) "POLYGON EMPTY"
      else if (d == 0) render(g)
      else if (d < 0) "POLYGON EMPTY"
      else unionFold(pointsIn(c).map(buffer(_, d, style)))
    case Collection(ms) =>
      val members = ms.filterNot(isEmpty)
      if (ms.isEmpty) "POLYGON EMPTY"
      else if (d == 0) render(g)
      else if (members.isEmpty) "POLYGON EMPTY"
      else if (d < 0) erodeMembers(members, d, style, "GEOMETRYCOLLECTION")
      else unionFold(members.map(buffer(_, d, style)))
    // MULTIPOLYGON buffers (r16): dilation distributes over union
    // EXACTLY ((A ∪ B) ⊕ d = (A ⊕ d) ∪ (B ⊕ d) is the Minkowski
    // identity) — per-component dilation folded through the overlay
    // union (canonical components touch at most at points, so their
    // dilations overlap with positive area and merge cleanly);
    // erosion (r17): separated components erode independently,
    // contacting ones union-then-erode — see erodeMembers; only
    // union-pinched folds stay loud.
    case Polys(ps, true) =>
      val comps = ps.map[Geom](p => areal(Array(p)))
      if (ps.isEmpty) "POLYGON EMPTY"
      else if (d == 0) render(g)
      else if (d < 0) erodeMembers(comps, d, style, "MULTIPOLYGON")
      else unionFold(comps.map(buffer(_, d, style)))
    case Lines(parts, _) =>
      if (d == 0) render(g)
      else if (d < 0) "POLYGON EMPTY"
      else {
        require(parts.nonEmpty, "st_buffer: empty line geometry")
        render(minimal(polysOf(capsule(parts, d, style), "st_buffer")))
      }
    case Polys(ps, false) =>
      if (ps.isEmpty) "POLYGON EMPTY"
      else {
        require(ps(0)._2.isEmpty,
          "interior rings (holes) unsupported by this operation - " +
            "only st_area / st_contains accept holed polygons")
        bufferRing(toCcw(ps(0)._1), g, d, style)
      }
  }

  /** Shared erosion kernel for MULTIPOLYGON components and
    * GEOMETRYCOLLECTION members. r16 required the areal members to be
    * pairwise non-intersecting (erosion distributes exactly across a
    * positive gap — a connected d-disk cannot span it); r17 extends to
    * CONTACTING members by UNION-THEN-ERODE, which is not a heuristic
    * but the definition: erosion acts on the point set, so the merged
    * region is what must erode. Contacting areal members fold through
    * the overlay union (which absorbs edge contacts and overlaps into
    * merged polygons) and each RESULTING component erodes
    * independently — exact because components of the union result
    * touch at most at isolated points, and a positive-radius disk
    * contained in the union can never pass through a point contact
    * (the complement wedges at a pinch have positive angle), so every
    * such disk lies within one closed component. What stays LOUD is
    * exactly what the overlay union itself refuses: folds whose merged
    * region is point-pinched (the pinch rule) — the erosion contract
    * now coincides with the union contract instead of adding its own
    * refusal. Point/line members erode to measure zero and vanish; a
    * member whose erosion consumes it renders POLYGON EMPTY and drops
    * from the fold; all-vanished renders POLYGON EMPTY. */
  private def erodeMembers(members: Array[Geom], d: Double, style: Int,
      kind: String): String = {
    // flatten MULTIPOLYGON members (a collection member can itself be
    // multi) so contact detection sees elementary polygons
    val polys = members.flatMap {
      case Polys(ps, true) => ps.map[Geom](p => areal(Array(p)))
      case m: Polys => Array[Geom](m)
      case _: Lines | _: Point | _: MultiPoint => Array.empty[Geom]
      case m => throw new IllegalArgumentException(
        s"st_buffer: negative distance cannot erode a $kind member " +
          s"of kind '${kindName(m)}'")
    }
    var anyContact = false
    var i = 0
    while (i < polys.length && !anyContact) {
      var j = i + 1
      while (j < polys.length && !anyContact) {
        if (geomIntersects(polys(i), polys(j))) anyContact = true
        j += 1
      }
      i += 1
    }
    val units =
      if (!anyContact) polys
      else polysOf(polys.reduceLeft(union), "st_buffer")
        .map[Geom](p => areal(Array(p)))
    val eroded = units.map(buffer(_, d, style))
      .filterNot(e => isEmpty(Geom.parse(e)))
    if (eroded.isEmpty) "POLYGON EMPTY" else unionFold(eroded)
  }

  /** (MULTI)LINESTRING buffer (r14): the CAPSULE/corridor — per-segment
    * rectangles of width 2d, a join fan on the OUTER side of every
    * interior vertex (the side where the normals diverge; the inner
    * side is covered by the rectangles' own overlap), and a half-disk
    * cap (θ = π → 16 chords) at each open-part terminal; closed parts
    * treat the seam vertex as an interior joint. Pieces fold through
    * the overlay union segment-by-segment (each cap/fan shares an
    * edge with its rectangle; consecutive rectangles overlap with
    * positive area at the joint — never point-pinched). Parts of a
    * MULTILINESTRING buffer independently and union (disjoint parts →
    * MULTIPOLYGON). Both styles share the shape: miter replaces the
    * outer fan with the kite, caps stay round (GEOS's flat/square caps
    * are a different cap_style, not a join style). */
  private def capsule(parts: Array[Array[Double]], d: Double,
      style: Int): Geom = {
    var acc: Geom = null
    parts.foreach { c =>
      require(isSimpleChain(c),
        "st_buffer: self-intersecting LINESTRING part - simplify first")
      val m = c.length / 2
      val closed = c(0) == c(2 * m - 2) && c(1) == c(2 * m - 1)
      val segs = m - 1
      val nx = new Array[Double](segs); val ny = new Array[Double](segs)
      var i = 0
      while (i < segs) {
        val ex = c(2 * i + 2) - c(2 * i)
        val ey = c(2 * i + 3) - c(2 * i + 1)
        val len = math.sqrt(ex * ex + ey * ey)
        require(len > 0, "st_buffer: zero-length segment")
        nx(i) = ey / len
        ny(i) = -ex / len
        i += 1
      }
      val pieces = new ArrayBuffer[Geom]()
      i = 0
      while (i < segs) {
        pieces += ringPiece(Array(
          c(2 * i) + nx(i) * d, c(2 * i + 1) + ny(i) * d,
          c(2 * i + 2) + nx(i) * d, c(2 * i + 3) + ny(i) * d,
          c(2 * i + 2) - nx(i) * d, c(2 * i + 3) - ny(i) * d,
          c(2 * i) - nx(i) * d, c(2 * i + 1) - ny(i) * d))
        i += 1
      }
      // interior joints (plus the seam joint when closed)
      val joints =
        if (closed) (0 until segs).map(i =>
          (if (i == 0) segs - 1 else i - 1, i, 2 * i))
        else (1 until segs).map(i => (i - 1, i, 2 * i))
      joints.foreach { case (p, i2, vOff) =>
        val delta = turnAngle(nx(p), ny(p), nx(i2), ny(i2))
        if (delta != 0) {
          val s = if (delta > 0) 1.0 else -1.0
          val vx = c(vOff); val vy = c(vOff + 1)
          if (style == BufMiter) {
            // outer miter kite: intersect the two outer offset lines
            // (unit directions recovered from the normals: dir =
            // (−ny, nx), exact negation/swap of the stored unit n)
            val dpx = -ny(p); val dpy = nx(p)
            val dix = -ny(i2); val diy = nx(i2)
            val opx = vx + s * nx(p) * d; val opy = vy + s * ny(p) * d
            val oix = vx + s * nx(i2) * d; val oiy = vy + s * ny(i2) * d
            val den = dpx * diy - dpy * dix
            require(den != 0, "st_buffer: collinear consecutive " +
              "segments - drop redundant vertices upstream")
            val tt = ((oix - opx) * diy - (oiy - opy) * dix) / den
            pieces += ringPiece(Array(
              vx, vy, opx, opy,
              opx + tt * dpx, opy + tt * dpy,
              oix, oiy))
          } else {
            val fan = arcFan(vx, vy, d, s * nx(p), s * ny(p),
              s * nx(i2), s * ny(i2),
              turnAngle(s * nx(p), s * ny(p), s * nx(i2), s * ny(i2)))
            pieces += ringPiece(Array(vx, vy) ++ fan)
          }
        }
      }
      if (!closed) {
        // half-disk caps: sweep from +n through the BACK direction to
        // −n (start cap CW, end cap CCW) — θ = π, 16 chords
        pieces += ringPiece(Array(c(0), c(1)) ++ arcFan(c(0), c(1), d,
          nx(0), ny(0), -nx(0), -ny(0), -math.Pi))
        val l = segs - 1
        pieces += ringPiece(Array(c(2 * m - 2), c(2 * m - 1)) ++
          arcFan(c(2 * m - 2), c(2 * m - 1), d, nx(l), ny(l),
            -nx(l), -ny(l), math.Pi))
      }
      val part = pieces.reduceLeft(union)
      acc = if (acc == null) part else union(acc, part)
    }
    acc
  }

  /** st_buffer of one hole-free ring `c` (CCW) of the POLYGON `g`. */
  private def bufferRing(c: Array[Double], g: Geom, d: Double,
      style: Int): String = {
    if (d == 0) return fmtRing(c)
    val n = c.length / 2
    // unit outward normals + edge lengths (CCW ring: outward is right)
    val nx = new Array[Double](n); val ny = new Array[Double](n)
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val ex = c(2 * j) - c(2 * i)
      val ey = c(2 * j + 1) - c(2 * i + 1)
      val len = math.sqrt(ex * ex + ey * ey)
      require(len > 0, "st_buffer: zero-length edge")
      nx(i) = ey / len
      ny(i) = -ex / len
      i += 1
    }
    @inline def crossAt(i: Int): Double = {
      val p = if (i == 0) n - 1 else i - 1
      val j = if (i + 1 == n) 0 else i + 1
      (c(2 * i) - c(2 * p)) * (c(2 * j + 1) - c(2 * i + 1)) -
        (c(2 * i + 1) - c(2 * p + 1)) * (c(2 * j) - c(2 * i))
    }
    // miter point of the two offset lines incident to vertex i, at
    // signed offset dd (the r13 arithmetic, shared by dilation kites
    // and erosion kites)
    def miterPoint(i: Int, dd: Double): (Double, Double) = {
      val p = if (i == 0) n - 1 else i - 1
      val j = if (i + 1 == n) 0 else i + 1
      val dpx = c(2 * i) - c(2 * p); val dpy = c(2 * i + 1) - c(2 * p + 1)
      val dix = c(2 * j) - c(2 * i); val diy = c(2 * j + 1) - c(2 * i + 1)
      val opx = c(2 * p) + nx(p) * dd; val opy = c(2 * p + 1) + ny(p) * dd
      val oix = c(2 * i) + nx(i) * dd; val oiy = c(2 * i + 1) + ny(i) * dd
      val den = dpx * diy - dpy * dix
      require(den != 0, "st_buffer: collinear consecutive edges - " +
        "drop redundant vertices upstream")
      val t = ((oix - opx) * diy - (oiy - opy) * dix) / den
      (opx + t * dpx, opy + t * dpy)
    }
    if (d > 0 && isConvexRing(c) && style == BufMiter) {
      // legacy closed-form convex miter ring — bit-identical to r13
      val out = new Array[Double](2 * n)
      i = 0
      while (i < n) {
        val (mx, my) = miterPoint(i, d)
        out(2 * i) = mx; out(2 * i + 1) = my
        i += 1
      }
      return fmtRing(out)
    }
    if (d > 0 && isConvexRing(c) && style == BufRound) {
      // direct rounded offset of a convex ring: per-vertex arc fan
      // endpoints double as the edge-offset corners
      val out = new ArrayBuffer[Double]()
      i = 0
      while (i < n) {
        val p = if (i == 0) n - 1 else i - 1
        val delta = turnAngle(nx(p), ny(p), nx(i), ny(i))
        val fan = arcFan(c(2 * i), c(2 * i + 1), d,
          nx(p), ny(p), nx(i), ny(i), delta)
        var k = 0
        while (k < fan.length / 2) {
          // drop a duplicate seam point (a zero-turn corner collapses
          // its fan to one point)
          if (out.length < 2 || out(out.length - 2) != fan(2 * k) ||
              out(out.length - 1) != fan(2 * k + 1)) {
            out += fan(2 * k); out += fan(2 * k + 1)
          }
          k += 1
        }
        i += 1
      }
      return fmtRing(out.toArray)
    }
    requireSimple(c, "st_buffer")
    val r = math.abs(d)
    val inward = d < 0
    val sgn = if (inward) -1.0 else 1.0
    val pieces = new ArrayBuffer[Geom]()
    if (!inward) pieces += ringPiece(c)
    // per-edge rectangles at signed offset (outward for dilation,
    // inward for erosion)
    i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      pieces += ringPiece(Array(
        c(2 * i), c(2 * i + 1), c(2 * j), c(2 * j + 1),
        c(2 * j) + sgn * nx(i) * r, c(2 * j + 1) + sgn * ny(i) * r,
        c(2 * i) + sgn * nx(i) * r, c(2 * i + 1) + sgn * ny(i) * r))
      i += 1
    }
    // join pieces at the corners the rectangles leave open: CONVEX
    // corners for dilation, REFLEX corners for erosion
    i = 0
    while (i < n) {
      val cr = crossAt(i)
      if ((!inward && cr > 0) || (inward && cr < 0)) {
        val p = if (i == 0) n - 1 else i - 1
        val vx = c(2 * i); val vy = c(2 * i + 1)
        if (style == BufMiter) {
          val (mx, my) = miterPoint(i, sgn * r)
          pieces += ringPiece(Array(
            vx, vy, vx + sgn * nx(p) * r, vy + sgn * ny(p) * r,
            mx, my, vx + sgn * nx(i) * r, vy + sgn * ny(i) * r))
        } else {
          val delta = turnAngle(sgn * nx(p), sgn * ny(p),
            sgn * nx(i), sgn * ny(i))
          pieces += ringPiece(Array(vx, vy) ++ arcFan(vx, vy, r,
            sgn * nx(p), sgn * ny(p), sgn * nx(i), sgn * ny(i), delta))
        }
      }
      i += 1
    }
    val region =
      // dilation: fold onto the INPUT ring first — every strip shares
      // an edge with it, so no intermediate union is point-pinched
      if (!inward) pieces.reduceLeft(union)
      // erosion: subtract each piece from g SEQUENTIALLY (adjacent
      // inward strips meet only at the input vertex — their union is
      // point-pinched, which the overlay rightly refuses; the
      // difference chain computes g − ∪pieces without ever forming it)
      else pieces.foldLeft(g)(difference)
    render(minimal(polysOf(region, "st_buffer")))
  }

  /** Codegen entry: st_convexhull(geomWkt) — Andrew's monotone chain
    * over the geometry's vertices, TOTAL over the kind matrix as of
    * r15 (multi-kinds flatten their parts' vertices; a
    * GEOMETRYCOLLECTION unions its members' vertex sets; interior-ring
    * vertices are included — harmless, the hull ignores interior
    * points). Output is the minimal hull ring, CCW, starting at
    * the lexicographically smallest vertex — deterministic; collinear
    * boundary points are DROPPED (strict turns only), matching the
    * minimal-vertex hull every classical presentation produces.
    * EMPTY inputs throw loudly; collinear ones degenerate to a segment
    * or a point (degenerateHullWkt). */
  def convexHullWkt(g: UTF8String): UTF8String = {
    val c = vertices(read(g))
    require(c.nonEmpty, "st_convexhull: EMPTY geometry has no hull")
    val out = monotoneChain(c)
    UTF8String.fromString(
      if (out.length >= 6) fmtRing(out) else degenerateHullWkt(c))
  }

  /** The hull of a collinear point cloud, Trino-style (r16): one
    * distinct point → that POINT; otherwise the segment between the
    * lexicographic extremes — for collinear points lexicographic order
    * IS the order along the carrier line, so those extremes are the
    * geometric endpoints. (r13–r15 threw here; the model always had
    * LINESTRING, so the POLYGON-only contract was needlessly loud.)
    * Shared by st_convexhull and convex_hull_agg. */
  private[functions] def degenerateHullWkt(c: Array[Double]): String = {
    var minX = c(0); var minY = c(1); var maxX = c(0); var maxY = c(1)
    var i = 1
    while (2 * i < c.length) {
      val x = c(2 * i); val y = c(2 * i + 1)
      if (x < minX || (x == minX && y < minY)) { minX = x; minY = y }
      if (x > maxX || (x == maxX && y > maxY)) { maxX = x; maxY = y }
      i += 1
    }
    if (minX == maxX && minY == maxY)
      s"POINT (${fmtCoord(minX)} ${fmtCoord(minY)})"
    else s"LINESTRING (${fmtCoord(minX)} ${fmtCoord(minY)}, " +
      s"${fmtCoord(maxX)} ${fmtCoord(maxY)})"
  }

  /** Andrew's monotone chain over a flat point list → minimal CCW hull
    * ring starting at the lexicographically smallest vertex (collinear
    * boundary points dropped), or an EMPTY array when every point is
    * collinear (< 3 hull vertices). Shared by st_convexhull and the
    * convex_hull_agg aggregator. */
  private[functions] def monotoneChain(c: Array[Double]): Array[Double] = {
    val n = c.length / 2
    if (n == 0) return Array.emptyDoubleArray
    val idx = (0 until n).sortBy(i => (c(2 * i), c(2 * i + 1))).toArray
    @inline def cross(o: Int, a: Int, b: Int): Double =
      (c(2 * a) - c(2 * o)) * (c(2 * b + 1) - c(2 * o + 1)) -
        (c(2 * a + 1) - c(2 * o + 1)) * (c(2 * b) - c(2 * o))
    val hull = new Array[Int](2 * n + 1)
    var k = 0
    var i = 0
    while (i < n) {                        // lower hull
      while (k >= 2 && cross(hull(k - 2), hull(k - 1), idx(i)) <= 0) k -= 1
      hull(k) = idx(i); k += 1
      i += 1
    }
    val lower = k + 1
    i = n - 2
    while (i >= 0) {                       // upper hull
      while (k >= lower && cross(hull(k - 2), hull(k - 1), idx(i)) <= 0)
        k -= 1
      hull(k) = idx(i); k += 1
      i -= 1
    }
    val m = k - 1                          // last point == first point
    if (m < 3) return Array.emptyDoubleArray
    val out = new Array[Double](2 * m)
    i = 0
    while (i < m) {
      out(2 * i) = c(2 * hull(i)); out(2 * i + 1) = c(2 * hull(i) + 1)
      i += 1
    }
    out
  }

  /** Codegen entry: st_boundary — areal inputs: every ring as a closed
    * LINESTRING, components in input order (shell before its interior
    * rings); one ring renders LINESTRING, several MULTILINESTRING,
    * EMPTY stays EMPTY (r13). Line inputs (r14): the OGC mod-2
    * boundary — endpoints occurring in an odd number of part
    * boundaries — as a MULTIPOINT (lexicographic order, deterministic);
    * a closed line's boundary is MULTIPOINT EMPTY. POINT/MULTIPOINT
    * have an empty boundary: GEOMETRYCOLLECTION EMPTY, the JTS/Trino
    * convention. */
  def boundaryWkt(g: UTF8String): UTF8String = UTF8String.fromString(read(g) match {
    case _: Point | _: MultiPoint => "GEOMETRYCOLLECTION EMPTY"
    case Lines(ps, _) => fmtMultiPoint(lineBoundaryPts(ps))
    case Polys(ps, _) =>
      val rings = ps.flatMap { case (shell, holes) => shell +: holes.toSeq }
      if (rings.isEmpty) "LINESTRING EMPTY"
      else if (rings.length == 1) "LINESTRING (" + ringBody(rings(0)) + ")"
      else rings.map(r => "(" + ringBody(r) + ")")
        .mkString("MULTILINESTRING (", ", ", ")")
    case other => notA("st_boundary", "POINT, LINE or POLYGON kind", other)
  })

  // ---- mixed-dimension union (r14: geometry_union_agg over mixed
  // kinds emits a GEOMETRYCOLLECTION, the Trino geometry_union shape) --

  /** Areal union with EMPTY short-circuits (an EMPTY side is the
    * union identity — skip the overlay). */
  private def unionAreal(a: Polys, b: Polys): Polys =
    if (a.polys.isEmpty) b
    else if (b.polys.isEmpty) a
    else overlayOp(a.polys, b.polys, 1, "st_union")

  /** Decompose any value into (its areal part — the fold of its areal
    * members, EMPTY if none; line chains; flat point coords).
    * Collections recurse. */
  private def decompose(g: Geom): (Polys, Array[Array[Double]], Array[Double]) =
    g match {
      case Point(x, y) => (NoArea, Array.empty, Array(x, y))
      case MultiPoint(c) => (NoArea, Array.empty, c)
      case Lines(ps, _) => (NoArea, ps, Array.emptyDoubleArray)
      case p: Polys => (p, Array.empty, Array.emptyDoubleArray)
      case Collection(ms) =>
        var area = NoArea
        val chains = new ArrayBuffer[Array[Double]]()
        val pts = new ArrayBuffer[Double]()
        ms.foreach { m =>
          val (a2, l2, p2) = decompose(m)
          area = unionAreal(area, a2)
          chains ++= l2
          pts ++= p2
        }
        (area, chains.toArray, pts.toArray)
    }

  /** Lexicographically canonical chain direction (so an exact duplicate
    * arriving reversed still dedupes). */
  private def canonChain(c: Array[Double]): Array[Double] = {
    val r = new Array[Double](c.length)
    val n = c.length / 2
    var i = 0
    while (i < n) {
      r(2 * i) = c(2 * (n - 1 - i)); r(2 * i + 1) = c(2 * (n - 1 - i) + 1)
      i += 1
    }
    var k = 0
    while (k < c.length) {
      if (c(k) < r(k)) return c
      if (c(k) > r(k)) return r
      k += 1
    }
    c
  }

  /** The point-set union of two geometries of ANY supported kinds:
    * areal parts fold through the overlay union; line chains dedupe
    * exactly (canonical direction) and drop when fully covered by the
    * areal region (strictly inside or running along its boundary);
    * points dedupe exactly and drop when on the region or on a kept
    * chain. Line chains crossing the region's boundary are kept WHOLE —
    * the represented point set is still exactly the union (the covered
    * run is redundantly covered), and whole-chain identity keeps the
    * fold associative and order-independent. Members come in fixed
    * dimension order (areal, lines, points), chains and points sorted —
    * the rendering is a pure function of the inputs' point set, so
    * map-side partials merge deterministically. */
  private[functions] def unionMixed(a: Geom, b: Geom): Geom = {
    val (pa, la, qa) = decompose(a)
    val (pb, lb, qb) = decompose(b)
    val area = unionAreal(pa, pb)
    val region = area.polys
    // chains: canonical direction, exact dedupe, drop fully-covered
    val chains = (la ++ lb).map(canonChain)
    val keptChains = new ArrayBuffer[Array[Double]]()
    val chainOrd = new Ordering[Array[Double]] {
      def compare(x: Array[Double], y: Array[Double]): Int = {
        var k = 0
        while (k < x.length && k < y.length) {
          val c = java.lang.Double.compare(x(k), y(k))
          if (c != 0) return c
          k += 1
        }
        x.length - y.length
      }
    }
    chains.sorted(chainOrd).foreach { c =>
      val dup = keptChains.exists(k => java.util.Arrays.equals(k, c))
      val covered = region.nonEmpty && {
        val (_, _, hasOut) = WktOverlay.lineAreaRelate(c, region)
        !hasOut
      }
      if (!dup && !covered) keptChains += c
    }
    // points: exact dedupe, drop covered by the region or a kept chain
    val keptPts = new ArrayBuffer[Double]()
    val seen = scala.collection.mutable.LinkedHashSet[(Double, Double)]()
    var i = 0
    while (2 * i < qa.length + qb.length) {
      val x = if (2 * i < qa.length) qa(2 * i) else qb(2 * i - qa.length)
      val y = if (2 * i < qa.length) qa(2 * i + 1)
        else qb(2 * i + 1 - qa.length)
      seen += ((x, y))
      i += 1
    }
    seen.toArray.sorted.foreach { case (x, y) =>
      val onRegion = region.nonEmpty && (containsPolys(region, x, y) ||
        WktOverlay.pointOnBoundary(region, x, y))
      val onChain = keptChains.exists(c => WktOverlay.pointOnLine(c, x, y))
      if (!onRegion && !onChain) { keptPts += x; keptPts += y }
    }
    val members = new ArrayBuffer[Geom]()
    if (region.nonEmpty) members += area
    if (keptChains.nonEmpty) members += lines(keptChains.toArray)
    if (keptPts.nonEmpty) members += pointSet(keptPts.toArray)
    if (members.isEmpty) NoArea
    else if (members.length == 1) members(0)
    else Collection(members.toArray)
  }

  /** Finish step for the mixed union: every areal part in its
    * canonical-minimal form (the r13 fold-artifact rule). */
  private[functions] def finishMixed(g: Geom): Geom = g match {
    case Collection(ms) => Collection(ms.map(finishMixed))
    case Polys(ps, _) => minimal(ps)
    case _ => g
  }

  /** Minimal-vertex canonical form for the union aggregator's finish
    * and st_buffer's folds: exactly-collinear straight-through vertices
    * (fold-order artifacts — crossing points that ended up interior to
    * a final edge) are dropped from every ring, so the rendering is a
    * pure function of the REGION, independent of reduce/merge order. */
  private def minimal(ps: Array[Poly]): Polys = {
    def dropCollinear(c: Array[Double]): Array[Double] = {
      val n = c.length / 2
      val keep = new ArrayBuffer[Double]()
      var i = 0
      while (i < n) {
        val p = if (i == 0) n - 1 else i - 1
        val q = if (i + 1 == n) 0 else i + 1
        val cr = (c(2 * i) - c(2 * p)) * (c(2 * q + 1) - c(2 * i + 1)) -
          (c(2 * i + 1) - c(2 * p + 1)) * (c(2 * q) - c(2 * i))
        if (cr != 0) { keep += c(2 * i); keep += c(2 * i + 1) }
        i += 1
      }
      if (keep.length >= 6) keep.toArray else c
    }
    areal(ps.map { case (shell, holes) =>
      (dropCollinear(shell), holes.map(dropCollinear))
    })
  }
}
