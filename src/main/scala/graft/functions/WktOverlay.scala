package graft.functions

import graft.functions.Geom.{Lines, Point, Poly, Polys}

/** The polygon overlay: boolean ops and OGC relate predicates over
  * (MULTI)POLYGONs, convex or concave, with interior rings and with
  * any boundary contact (transversal crossings, vertex-on-edge,
  * collinear overlap, corner touch). Every ST_Intersection /
  * ST_Union / ST_Difference of two areal operands is built here
  * (`WktCore.overlayOp`), and the relate predicates below match on
  * the parsed `Geom` values that `WktCore.read` gives every kernel.
  *
  * Method — a noded planar-subdivision overlay (the classical
  * snap-free exact-arithmetic variant of Weiler–Atherton /
  * Martinez–Rueda, public-domain algorithm family):
  *
  *  1. NODE: every boundary ring of A and B is split at every
  *     intersection with every other ring — proper transversal
  *     crossings (one shared t-division, bit-identical on both rings),
  *     vertices lying on edge interiors, and the endpoints of
  *     collinear-overlap runs. After noding, no elementary sub-segment
  *     interior touches any other ring.
  *  2. CLASSIFY: rings are orientation-normalized (shells CCW, holes
  *     CW) so each input's interior is locally LEFT of traversal.
  *     For each geometric elementary segment, in/out of A on each side
  *     is read from A's traversal direction when the segment lies on
  *     A's boundary, else from one even-odd test of the segment
  *     midpoint (strictly off A's boundary, by noding). Same for B.
  *  3. SELECT: the segment belongs to the result boundary iff the op
  *     predicate (∩ = a∧b, ∪ = a∨b, − = a∧¬b) differs across its two
  *     sides; it is emitted oriented with the result interior LEFT.
  *     Shared collinear segments resolve naturally: same-side interiors
  *     keep one copy, opposite-side interiors cancel.
  *  4. STITCH: rings are traced through the node graph; at a
  *     multi-degree node (degenerate contact) the walk leaves by the
  *     outgoing segment with the MAXIMUM CCW angle from the reversed
  *     incoming direction — the standard planar-subdivision face rule,
  *     which splits point-pinched regions into separate simple rings.
  *     Exactly-collinear pass-through vertices (nodes introduced on a
  *     straight result edge) are dropped, so e.g. the union of two
  *     rectangles sharing an edge renders as ONE canonical rectangle.
  *  5. ASSEMBLE: CCW result rings are shells, CW rings interior rings;
  *     each interior ring attaches to the smallest-area shell that
  *     strictly contains a "clean" vertex of it (one not lying on any
  *     shell boundary — exists for every non-pathological result).
  *
  * Exactness contract: all predicates are sign tests on double
  * cross-products and the only division is the proper-crossing t;
  * with dyadic axis-parallel fixture edges every node
  * coordinate is exact in IEEE, so node identity by coordinate value is
  * sound. Loud scope: inputs must be structurally valid
  * (`WktCore.invalidReason`); results whose boundary would revisit a
  * node within one ring (a pinched face) throw rather than emit a
  * non-simple ring.
  */
private[functions] object WktOverlay {

  @inline private def orient(px: Double, py: Double, qx: Double, qy: Double,
      rx: Double, ry: Double): Double =
    (qx - px) * (ry - py) - (qy - py) * (rx - px)

  /** v strictly between a and b on their common line (collinearity is
    * the caller's precondition). */
  @inline private def strictlyBetween(ax: Double, ay: Double,
      bx: Double, by: Double, vx: Double, vy: Double): Boolean = {
    if (math.abs(bx - ax) >= math.abs(by - ay))
      (vx > math.min(ax, bx)) && (vx < math.max(ax, bx))
    else
      (vy > math.min(ay, by)) && (vy < math.max(ay, by))
  }

  @inline private def onSegIncl(ax: Double, ay: Double, bx: Double,
      by: Double, vx: Double, vy: Double): Boolean =
    orient(ax, ay, bx, by, vx, vy) == 0 &&
      vx >= math.min(ax, bx) && vx <= math.max(ax, bx) &&
      vy >= math.min(ay, by) && vy <= math.max(ay, by)

  /** Param of collinear point v along edge (a → b), dominant axis. */
  @inline private def paramOn(ax: Double, ay: Double, bx: Double,
      by: Double, vx: Double, vy: Double): Double =
    if (math.abs(bx - ax) >= math.abs(by - ay)) (vx - ax) / (bx - ax)
    else (vy - ay) / (by - ay)

  // ---- directed ring sets -------------------------------------------------

  /** All boundary rings of a geometry, oriented so the interior is
    * locally LEFT of traversal: shells CCW, interior rings CW. */
  private[functions] def directedRings(g: Array[Poly]): Array[Array[Double]] = {
    val out = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    g.foreach { case (shell, holes) =>
      out += WktCore.toCcw(shell)
      holes.foreach(h => out += WktCore.reverseRing(WktCore.toCcw(h)))
    }
    out.toArray
  }

  /** Even-odd containment over every ring of a geometry (point must be
    * strictly off the boundary for a reliable verdict). */
  private def containsGeom(g: Array[Poly], x: Double, y: Double): Boolean =
    WktCore.containsPolys(g, x, y)

  // ---- degenerate-contact pre-test ---------------------------------------

  /** True iff some edge pair across the two ring sets touches
    * non-transversally (vertex-on-edge, collinear overlap, shared
    * vertex). The single-ring fast paths of `withinWkt` and
    * `overlapsWkt` hold only without such contact. */
  private[functions] def degenerateContact(ringsA: Array[Array[Double]],
      ringsB: Array[Array[Double]]): Boolean = {
    var i = 0
    while (i < ringsA.length) {
      var j = 0
      while (j < ringsB.length) {
        val a = ringsA(i); val b = ringsB(j)
        val na = a.length / 2; val nb = b.length / 2
        var ia = 0
        while (ia < na) {
          val a2 = if (ia + 1 == na) 0 else ia + 1
          var ib = 0
          while (ib < nb) {
            val b2 = if (ib + 1 == nb) 0 else ib + 1
            if (WktCore.segIntersect(a(2 * ia), a(2 * ia + 1),
                a(2 * a2), a(2 * a2 + 1), b(2 * ib), b(2 * ib + 1),
                b(2 * b2), b(2 * b2 + 1)) &&
              !WktCore.properCross(a(2 * ia), a(2 * ia + 1),
                a(2 * a2), a(2 * a2 + 1), b(2 * ib), b(2 * ib + 1),
                b(2 * b2), b(2 * b2 + 1)))
              return true
            ib += 1
          }
          ia += 1
        }
        j += 1
      }
      i += 1
    }
    false
  }

  // ---- noding -------------------------------------------------------------

  private final class Edge(val owner: Int, val px: Double, val py: Double,
      val qx: Double, val qy: Double) {
    // split points strictly interior to this edge: (t, x, y)
    val splits = new scala.collection.mutable.ArrayBuffer[(Double, Double, Double)]()
    def addSplit(x: Double, y: Double): Unit = {
      val t = paramOn(px, py, qx, qy, x, y)
      splits += ((t, x, y))
    }
  }

  /** Node edge a against edge b: record interior split points on both.
    * Covers proper crossings, endpoints on edge interiors, and
    * collinear-overlap run endpoints. */
  private def nodePair(a: Edge, b: Edge): Unit = {
    val d1 = orient(b.px, b.py, b.qx, b.qy, a.px, a.py)
    val d2 = orient(b.px, b.py, b.qx, b.qy, a.qx, a.qy)
    val d3 = orient(a.px, a.py, a.qx, a.qy, b.px, b.py)
    val d4 = orient(a.px, a.py, a.qx, a.qy, b.qx, b.qy)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) {
      // proper transversal crossing: ONE t-division shared by both edges
      val den = (a.qx - a.px) * (b.qy - b.py) - (a.qy - a.py) * (b.qx - b.px)
      val t = ((b.px - a.px) * (b.qy - b.py) - (b.py - a.py) * (b.qx - b.px)) / den
      val x = a.px + t * (a.qx - a.px)
      val y = a.py + t * (a.qy - a.py)
      a.splits += ((t, x, y))
      b.addSplit(x, y)
    } else if (d1 == 0 && d2 == 0) {
      // same supporting line: split each edge at the other's interior vertices
      if (strictlyBetween(a.px, a.py, a.qx, a.qy, b.px, b.py))
        a.addSplit(b.px, b.py)
      if (strictlyBetween(a.px, a.py, a.qx, a.qy, b.qx, b.qy))
        a.addSplit(b.qx, b.qy)
      if (strictlyBetween(b.px, b.py, b.qx, b.qy, a.px, a.py))
        b.addSplit(a.px, a.py)
      if (strictlyBetween(b.px, b.py, b.qx, b.qy, a.qx, a.qy))
        b.addSplit(a.qx, a.qy)
    } else {
      if (d1 == 0 && strictlyBetween(b.px, b.py, b.qx, b.qy, a.px, a.py))
        b.addSplit(a.px, a.py)
      if (d2 == 0 && strictlyBetween(b.px, b.py, b.qx, b.qy, a.qx, a.qy))
        b.addSplit(a.qx, a.qy)
      if (d3 == 0 && strictlyBetween(a.px, a.py, a.qx, a.qy, b.px, b.py))
        a.addSplit(b.px, b.py)
      if (d4 == 0 && strictlyBetween(a.px, a.py, a.qx, a.qy, b.qx, b.qy))
        a.addSplit(b.qx, b.qy)
    }
  }

  // ---- geometric segment table --------------------------------------------

  private final class SegInfo {
    var dirA: Int = 0 // +1 = traverses canonical (min → max) direction
    var dirB: Int = 0
  }

  /** Elementary-segment table of the noded arrangement: key is the
    * canonical endpoint pair, value records which input(s) traverse it
    * and in which direction. Also flags, per owner, whether any
    * elementary segment of that owner has strict-interior /
    * strict-exterior midpoints w.r.t. the OTHER geometry (reused by the
    * relate predicates). */
  private def buildSegments(ringsA: Array[Array[Double]],
      ringsB: Array[Array[Double]], name: String)
      : java.util.LinkedHashMap[(Double, Double, Double, Double), SegInfo] = {
    val edges = new scala.collection.mutable.ArrayBuffer[Edge]()
    val ringOf = new scala.collection.mutable.ArrayBuffer[Int]()
    var ringId = 0
    def addRing(c: Array[Double], owner: Int): Unit = {
      val n = c.length / 2
      var i = 0
      while (i < n) {
        val j = if (i + 1 == n) 0 else i + 1
        edges += new Edge(owner, c(2 * i), c(2 * i + 1), c(2 * j), c(2 * j + 1))
        ringOf += ringId
        i += 1
      }
      ringId += 1
    }
    ringsA.foreach(addRing(_, 0))
    ringsB.foreach(addRing(_, 1))
    // pairwise noding across DIFFERENT rings (same-ring contact would be
    // an invalid input, rejected upstream); includes same-owner ring
    // pairs so point-contact rings of one input node each other
    var i = 0
    while (i < edges.length) {
      var j = i + 1
      while (j < edges.length) {
        if (ringOf(i) != ringOf(j)) nodePair(edges(i), edges(j))
        j += 1
      }
      i += 1
    }
    val segs = new java.util.LinkedHashMap[(Double, Double, Double, Double), SegInfo]()
    edges.foreach { e =>
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var k = 0
      while (k + 1 < pts.length) {
        val (x1, y1) = pts(k); val (x2, y2) = pts(k + 1)
        val canonical = x1 < x2 || (x1 == x2 && y1 < y2)
        val key = if (canonical) (x1, y1, x2, y2) else (x2, y2, x1, y1)
        var info = segs.get(key)
        if (info == null) { info = new SegInfo; segs.put(key, info) }
        val dir = if (canonical) 1 else -1
        if (e.owner == 0) {
          require(info.dirA == 0,
            s"$name: overlapping boundary segments within one input geometry")
          info.dirA = dir
        } else {
          require(info.dirB == 0,
            s"$name: overlapping boundary segments within one input geometry")
          info.dirB = dir
        }
        k += 1
      }
    }
    segs
  }

  // ---- ring tracing -------------------------------------------------------

  /** θ(u) measured CCW from reference r, compared without atan2:
    * sector 0 = (0,π), 1 = exactly π, 2 = (π,2π); within a sector the
    * cross sign orders. Distinct outgoing rays at a node never tie. */
  private def ccwLess(rx: Double, ry: Double, ux: Double, uy: Double,
      vx: Double, vy: Double): Boolean = {
    def sector(x: Double, y: Double): Int = {
      val cr = rx * y - ry * x
      if (cr > 0) 0 else if (cr < 0) 2 else 1
    }
    val su = sector(ux, uy); val sv = sector(vx, vy)
    if (su != sv) su < sv
    else ux * vy - uy * vx > 0
  }

  /** Stitch directed segments (result interior LEFT) into simple rings. */
  private def traceRings(
      dirSegs: scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)],
      name: String): Array[Array[Double]] = {
    val outBy = new java.util.HashMap[(Double, Double),
      scala.collection.mutable.ArrayBuffer[Int]]()
    dirSegs.zipWithIndex.foreach { case ((x1, y1, _, _), i) =>
      var lst = outBy.get((x1, y1))
      if (lst == null) {
        lst = new scala.collection.mutable.ArrayBuffer[Int]()
        outBy.put((x1, y1), lst)
      }
      lst += i
    }
    val used = new Array[Boolean](dirSegs.length)
    val rings = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    var s0 = 0
    while (s0 < dirSegs.length) {
      if (!used(s0)) {
        val pts = new scala.collection.mutable.ArrayBuffer[Double]()
        var cur = s0
        var guard = 0
        var closed = false
        while (!closed) {
          require(guard <= dirSegs.length,
            s"$name: boundary walk did not close - degenerate result")
          guard += 1
          used(cur) = true
          val (x1, y1, x2, y2) = dirSegs(cur)
          pts += x1; pts += y1
          val cands = outBy.get((x2, y2))
          require(cands != null,
            s"$name: open result boundary at ($x2, $y2)")
          // max CCW angle from the reversed incoming direction
          val rx = x1 - x2; val ry = y1 - y2
          var best = -1
          var bi = 0
          while (bi < cands.length) {
            val c = cands(bi)
            val (_, _, cx2, cy2) = dirSegs(c)
            val dx = cx2 - x2; val dy = cy2 - y2
            if (best < 0) best = c
            else {
              val (_, _, bx2, by2) = dirSegs(best)
              if (ccwLess(rx, ry, bx2 - x2, by2 - y2, dx, dy)) best = c
            }
            bi += 1
          }
          cur = best
          closed = cur == s0
          require(closed || !used(cur),
            s"$name: inconsistent stitch - segment re-entered")
        }
        // drop exactly-collinear pass-through vertices (nodes introduced
        // on a straight result edge, e.g. a dropped shared border)
        val n = pts.length / 2
        val keep = new scala.collection.mutable.ArrayBuffer[Double]()
        var i = 0
        while (i < n) {
          val p = if (i == 0) n - 1 else i - 1
          val q = if (i + 1 == n) 0 else i + 1
          val cr = orient(pts(2 * p), pts(2 * p + 1), pts(2 * i),
            pts(2 * i + 1), pts(2 * q), pts(2 * q + 1))
          if (cr != 0) { keep += pts(2 * i); keep += pts(2 * i + 1) }
          else {
            // straight-through only; a spike (reversal) cannot arise from
            // face tracing of a valid arrangement — loud if it does
            val dot = (pts(2 * i) - pts(2 * p)) * (pts(2 * q) - pts(2 * i)) +
              (pts(2 * i + 1) - pts(2 * p + 1)) *
                (pts(2 * q + 1) - pts(2 * i + 1))
            require(dot > 0, s"$name: spike vertex in result ring")
          }
          i += 1
        }
        val ring = keep.toArray
        require(ring.length >= 6, s"$name: degenerate result ring")
        WktCore.selfIntersection(ring).foreach { _ =>
          throw new IllegalArgumentException(
            s"$name: result region is point-pinched along one ring - " +
              "out of this tier's scope")
        }
        rings += ring
      }
      s0 += 1
    }
    rings.toArray
  }

  // ---- the overlay --------------------------------------------------------

  @inline private def opPred(inA: Boolean, inB: Boolean, op: Int): Boolean =
    op match {
      case 0 => inA && inB
      case 1 => inA || inB
      case _ => inA && !inB
    }

  /** Boolean overlay of two VALID (MULTI)POLYGON component lists.
    * op: 0 = ∩, 1 = ∪, 2 = A − B. Returns result components
    * (shell, holes) with shells CCW and holes CW. */
  private[functions] def overlay(a: Array[Poly], b: Array[Poly], op: Int,
      name: String): Array[Poly] = {
    val ringsA = directedRings(a)
    val ringsB = directedRings(b)
    val segs = buildSegments(ringsA, ringsB, name)
    val selected =
      new scala.collection.mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    val it = segs.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (x1, y1, x2, y2) = e.getKey
      val info = e.getValue
      val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
      // in/out of each input on the LEFT and RIGHT of the canonical
      // (min → max) direction
      val (inAL, inAR) =
        if (info.dirA != 0) (info.dirA == 1, info.dirA == -1)
        else { val v = containsGeom(a, mx, my); (v, v) }
      val (inBL, inBR) =
        if (info.dirB != 0) (info.dirB == 1, info.dirB == -1)
        else { val v = containsGeom(b, mx, my); (v, v) }
      val pL = opPred(inAL, inBL, op)
      val pR = opPred(inAR, inBR, op)
      if (pL && !pR) selected += ((x1, y1, x2, y2))
      else if (pR && !pL) selected += ((x2, y2, x1, y1))
    }
    if (selected.isEmpty) return Array.empty
    val rings = traceRings(selected, name)
    val shells = rings.filter(WktCore.signedArea2(_) > 0)
    val holes = rings.filter(WktCore.signedArea2(_) < 0)
    require(shells.nonEmpty, s"$name: internal - only hole rings traced")
    // attach each interior ring to the smallest-area shell strictly
    // containing a clean vertex of it (innermost enclosing shell =
    // the ring's parent in a properly nested result)
    val shellArea = shells.map(sh => math.abs(WktCore.signedArea2(sh)))
    val holeParent = holes.map { h =>
      val nh = h.length / 2
      var vx = 0.0; var vy = 0.0
      var found = false
      var i = 0
      while (i < nh && !found) {
        val x = h(2 * i); val y = h(2 * i + 1)
        val onShell = shells.exists { sh =>
          val ns = sh.length / 2
          var k = 0
          var on = false
          while (k < ns && !on) {
            val k2 = if (k + 1 == ns) 0 else k + 1
            on = onSegIncl(sh(2 * k), sh(2 * k + 1), sh(2 * k2),
              sh(2 * k2 + 1), x, y)
            k += 1
          }
          on
        }
        if (!onShell) { vx = x; vy = y; found = true }
        i += 1
      }
      require(found, s"$name: interior ring with every vertex on a shell" +
        " - pathological pinch contact, out of scope")
      var best = -1
      var bestArea = Double.MaxValue
      var s = 0
      while (s < shells.length) {
        if (WktCore.contains(shells(s), vx, vy) && shellArea(s) < bestArea) {
          best = s; bestArea = shellArea(s)
        }
        s += 1
      }
      require(best >= 0, s"$name: interior ring outside every shell")
      best
    }
    shells.indices.map { s =>
      (shells(s),
        holes.indices.filter(holeParent(_) == s).map(holes(_)).toArray)
    }.toArray
  }

  // ---- relate predicates ---------------------------------------------------

  /** Any boundary contact between two ring sets (shared points count). */
  private def ringsContact(ringsA: Array[Array[Double]],
      ringsB: Array[Array[Double]]): Boolean = {
    var i = 0
    while (i < ringsA.length) {
      var j = 0
      while (j < ringsB.length) {
        if (WktCore.ringsTouch(ringsA(i), ringsB(j))) return true
        j += 1
      }
      i += 1
    }
    false
  }

  /** Point exactly on any ring edge of a geometry (closed test). */
  private[functions] def pointOnBoundary(g: Array[Poly], x: Double,
      y: Double): Boolean = {
    val rings = directedRings(g)
    var r = 0
    while (r < rings.length) {
      val c = rings(r)
      val n = c.length / 2
      var i = 0
      while (i < n) {
        val j = if (i + 1 == n) 0 else i + 1
        if (onSegIncl(c(2 * i), c(2 * i + 1), c(2 * j), c(2 * j + 1), x, y))
          return true
        i += 1
      }
      r += 1
    }
    false
  }

  /** Point exactly on an open polyline. */
  private[functions] def pointOnLine(line: Array[Double], x: Double,
      y: Double): Boolean = {
    val n = line.length / 2
    var i = 0
    while (i + 1 < n) {
      if (onSegIncl(line(2 * i), line(2 * i + 1), line(2 * i + 2),
        line(2 * i + 3), x, y)) return true
      i += 1
    }
    false
  }

  /** Relate an open polyline to an areal geometry: node the line at
    * every ring intersection, then classify each elementary
    * sub-segment midpoint — ON a ring edge (boundary run), strictly
    * inside, or strictly outside. */
  private[functions] def lineAreaRelate(line: Array[Double], g: Array[Poly])
      : (Boolean, Boolean, Boolean) = { // (contact, hasIn, hasOut)
    val rings = directedRings(g)
    var contact = false
    val n = line.length / 2
    var hasIn = false
    var hasOut = false
    var i = 0
    while (i + 1 < n) {
      val e = new Edge(0, line(2 * i), line(2 * i + 1), line(2 * i + 2),
        line(2 * i + 3))
      rings.foreach { c =>
        val m = c.length / 2
        var k = 0
        while (k < m) {
          val k2 = if (k + 1 == m) 0 else k + 1
          val re = new Edge(1, c(2 * k), c(2 * k + 1), c(2 * k2), c(2 * k2 + 1))
          if (WktCore.segIntersect(e.px, e.py, e.qx, e.qy,
            re.px, re.py, re.qx, re.qy)) contact = true
          nodePair(e, re)
          k += 1
        }
      }
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var k = 0
      while (k + 1 < pts.length) {
        val mx = (pts(k)._1 + pts(k + 1)._1) / 2
        val my = (pts(k)._2 + pts(k + 1)._2) / 2
        if (!pointOnBoundary(g, mx, my)) {
          if (containsGeom(g, mx, my)) hasIn = true else hasOut = true
        }
        k += 1
      }
      i += 1
    }
    (contact, hasIn, hasOut)
  }

  /** Line × area INTERSECTION (r13): the portions of an open polyline
    * inside (or running along the boundary of) an areal geometry, as
    * maximal chains in line order. Node the line at every ring
    * intersection, keep each elementary sub-segment whose midpoint is
    * inside the region or exactly ON a ring edge (a boundary run —
    * dimension 1, so it belongs to the intersection), and merge
    * consecutive kept sub-segments. Isolated POINT contact (dimension
    * 0) is dropped — the same lower-dimensional-contact convention as
    * the areal clippers' EMPTY-on-tangency. */
  private[functions] def lineClip(line: Array[Double], g: Array[Poly])
      : Array[Array[Double]] = {
    val rings = directedRings(g)
    val chains = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val cur = new scala.collection.mutable.ArrayBuffer[Double]()
    def close(): Unit = {
      if (cur.length >= 4) chains += cur.toArray
      cur.clear()
    }
    val n = line.length / 2
    var i = 0
    while (i + 1 < n) {
      val e = new Edge(0, line(2 * i), line(2 * i + 1), line(2 * i + 2),
        line(2 * i + 3))
      rings.foreach { c =>
        val m = c.length / 2
        var k = 0
        while (k < m) {
          val k2 = if (k + 1 == m) 0 else k + 1
          nodePair(e, new Edge(1, c(2 * k), c(2 * k + 1), c(2 * k2),
            c(2 * k2 + 1)))
          k += 1
        }
      }
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var t = 0
      while (t + 1 < pts.length) {
        val (x1, y1) = pts(t); val (x2, y2) = pts(t + 1)
        val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
        val keep = pointOnBoundary(g, mx, my) || containsGeom(g, mx, my)
        if (keep) {
          if (cur.isEmpty) { cur += x1; cur += y1 }
          else if (cur(cur.length - 2) != x1 || cur(cur.length - 1) != y1) {
            // the previous kept sub-segment did not end here: new chain
            close(); cur += x1; cur += y1
          }
          cur += x2; cur += y2
        } else close()
        t += 1
      }
      i += 1
    }
    close()
    chains.toArray
  }

  /** Line × area DIFFERENCE (r14): the portions of an open polyline
    * strictly OUTSIDE an areal geometry, as maximal chains in line
    * order — the complement of lineClip under the same noding.
    * Boundary runs belong to the (closed) region, so they are REMOVED
    * here, exactly complementing lineClip keeping them. */
  private[functions] def lineClipOut(line: Array[Double], g: Array[Poly])
      : Array[Array[Double]] = {
    val rings = directedRings(g)
    val chains = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val cur = new scala.collection.mutable.ArrayBuffer[Double]()
    def close(): Unit = {
      if (cur.length >= 4) chains += cur.toArray
      cur.clear()
    }
    val n = line.length / 2
    var i = 0
    while (i + 1 < n) {
      val e = new Edge(0, line(2 * i), line(2 * i + 1), line(2 * i + 2),
        line(2 * i + 3))
      rings.foreach { c =>
        val m = c.length / 2
        var k = 0
        while (k < m) {
          val k2 = if (k + 1 == m) 0 else k + 1
          nodePair(e, new Edge(1, c(2 * k), c(2 * k + 1), c(2 * k2),
            c(2 * k2 + 1)))
          k += 1
        }
      }
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var t = 0
      while (t + 1 < pts.length) {
        val (x1, y1) = pts(t); val (x2, y2) = pts(t + 1)
        val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
        val keep = !pointOnBoundary(g, mx, my) && !containsGeom(g, mx, my)
        if (keep) {
          if (cur.isEmpty) { cur += x1; cur += y1 }
          else if (cur(cur.length - 2) != x1 || cur(cur.length - 1) != y1) {
            close(); cur += x1; cur += y1
          }
          cur += x2; cur += y2
        } else close()
        t += 1
      }
      i += 1
    }
    close()
    chains.toArray
  }

  /** Line × line DIFFERENCE (r15, verdict missing #2): the portions of
    * the polyline parts `aParts` not collinearly covered by any part of
    * `bParts`, as maximal chains in document order. Each a-edge is
    * noded against every b-edge (nodePair's full matrix: proper
    * crossings, endpoint-on-interior touches, collinear-run endpoints);
    * an elementary sub-segment then survives iff its midpoint is NOT on
    * b — exact after noding, because a b-passage through a sub-segment
    * midpoint other than a collinear covered run would itself have been
    * a node. Transversal crossings and isolated touches remove only a
    * measure-zero set, so their noded points are NOT kept as vertices
    * (consecutive kept sub-segments of one edge re-fuse); original
    * a-vertices are always preserved, keeping disjoint inputs
    * byte-identical to the canonical minuend. */
  private[functions] def lineLineDifference(aParts: Array[Array[Double]],
      bParts: Array[Array[Double]]): Array[Array[Double]] = {
    val chains = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val cur = new scala.collection.mutable.ArrayBuffer[Double]()
    def close(): Unit = {
      if (cur.length >= 4) chains += cur.toArray
      cur.clear()
    }
    def onB(x: Double, y: Double): Boolean =
      bParts.exists(c => pointOnLine(c, x, y))
    aParts.foreach { line =>
      val n = line.length / 2
      var i = 0
      while (i + 1 < n) {
        val e = new Edge(0, line(2 * i), line(2 * i + 1), line(2 * i + 2),
          line(2 * i + 3))
        bParts.foreach { c =>
          val m = c.length / 2
          var k = 0
          while (k + 1 < m) {
            nodePair(e, new Edge(1, c(2 * k), c(2 * k + 1), c(2 * k + 2),
              c(2 * k + 3)))
            k += 1
          }
        }
        val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
        pts += ((e.px, e.py))
        e.splits.sortBy(_._1).foreach { case (_, x, y) =>
          if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
        }
        if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
        // prevKept tracks continuation WITHIN this edge: a kept→kept
        // boundary is a noded point on a straight edge, so the chain
        // runs through it without recording a vertex
        var prevKept = false
        var t = 0
        while (t + 1 < pts.length) {
          val (x1, y1) = pts(t); val (x2, y2) = pts(t + 1)
          val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
          if (!onB(mx, my)) {
            if (prevKept && cur.nonEmpty) {
              cur(cur.length - 2) = x2; cur(cur.length - 1) = y2
            } else {
              if (cur.isEmpty) { cur += x1; cur += y1 }
              else if (cur(cur.length - 2) != x1 ||
                  cur(cur.length - 1) != y1) {
                close(); cur += x1; cur += y1
              }
              cur += x2; cur += y2
            }
            prevKept = true
          } else { close(); prevKept = false }
          t += 1
        }
        i += 1
      }
      close() // chains never span MULTILINESTRING parts
    }
    chains.toArray
  }

  /** Line × line INTERSECTION (r15) — the dual of lineLineDifference
    * under the SAME noding: collinear covered runs survive as maximal
    * chains (an elementary sub-segment is kept iff its midpoint IS on
    * b), and isolated contacts — proper crossings, endpoint touches,
    * vertex coincidences — surface as POINTS. The contact-point set is
    * complete by construction: every edge-interior contact is a noded
    * split (proper crossings and b-vertex touches land on a's edge
    * splits), and vertex contacts are the a-vertices on b plus the
    * b-vertices on a; points lying on a kept chain are absorbed by it
    * (dimension order), the rest dedupe and sort by (x, y). Returns
    * (chains in document order, flat sorted point coords). */
  private[functions] def lineLineIntersection(aParts: Array[Array[Double]],
      bParts: Array[Array[Double]])
      : (Array[Array[Double]], Array[Double]) = {
    val chains = new scala.collection.mutable.ArrayBuffer[Array[Double]]()
    val cur = new scala.collection.mutable.ArrayBuffer[Double]()
    val cands = scala.collection.mutable.LinkedHashSet[(Double, Double)]()
    def close(): Unit = {
      if (cur.length >= 4) chains += cur.toArray
      cur.clear()
    }
    def onB(x: Double, y: Double): Boolean =
      bParts.exists(c => pointOnLine(c, x, y))
    def onA(x: Double, y: Double): Boolean =
      aParts.exists(c => pointOnLine(c, x, y))
    aParts.foreach { line =>
      val n = line.length / 2
      var i = 0
      while (i + 1 < n) {
        val e = new Edge(0, line(2 * i), line(2 * i + 1), line(2 * i + 2),
          line(2 * i + 3))
        bParts.foreach { c =>
          val m = c.length / 2
          var k = 0
          while (k + 1 < m) {
            nodePair(e, new Edge(1, c(2 * k), c(2 * k + 1), c(2 * k + 2),
              c(2 * k + 3)))
            k += 1
          }
        }
        // every interior split of an a-edge is a point where b meets it
        e.splits.foreach { case (_, x, y) => cands += ((x, y)) }
        val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
        pts += ((e.px, e.py))
        e.splits.sortBy(_._1).foreach { case (_, x, y) =>
          if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
        }
        if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
        var prevKept = false
        var t = 0
        while (t + 1 < pts.length) {
          val (x1, y1) = pts(t); val (x2, y2) = pts(t + 1)
          val mx = (x1 + x2) / 2; val my = (y1 + y2) / 2
          if (onB(mx, my)) {
            if (prevKept && cur.nonEmpty) {
              cur(cur.length - 2) = x2; cur(cur.length - 1) = y2
            } else {
              if (cur.isEmpty) { cur += x1; cur += y1 }
              else if (cur(cur.length - 2) != x1 ||
                  cur(cur.length - 1) != y1) {
                close(); cur += x1; cur += y1
              }
              cur += x2; cur += y2
            }
            prevKept = true
          } else { close(); prevKept = false }
          t += 1
        }
        i += 1
      }
      close()
    }
    // vertex contacts both ways (splits only see edge INTERIORS)
    aParts.foreach { c =>
      var i = 0
      while (2 * i < c.length) {
        if (onB(c(2 * i), c(2 * i + 1))) cands += ((c(2 * i), c(2 * i + 1)))
        i += 1
      }
    }
    bParts.foreach { c =>
      var i = 0
      while (2 * i < c.length) {
        if (onA(c(2 * i), c(2 * i + 1))) cands += ((c(2 * i), c(2 * i + 1)))
        i += 1
      }
    }
    val keptChains = chains.toArray
    val pts = cands.toArray
      .filterNot { case (x, y) =>
        keptChains.exists(c => pointOnLine(c, x, y)) }
      .sorted
    (keptChains, pts.flatMap { case (x, y) => Array(x, y) })
  }

  // scanLinePair result flags (r14: parameterized so both the
  // geometry-level mod-2 boundary rule and the part-level simplicity
  // rule ride one kernel)
  private[functions] final val LContact = 1 // any point-set contact
  private[functions] final val LInterior = 2 // interior(A) ∩ interior(B) ≠ ∅
  private[functions] final val LOverlap = 4 // positive-length collinear run
  private[functions] final val LMixed = 8 // contact at boundary of exactly one side

  /** Relate two open polyline CHAINS under caller-supplied boundary
    * predicates (for single LINESTRINGs: the mod-2 boundary — terminals
    * unless closed; for MULTILINESTRING parts the caller passes the
    * geometry-level mod-2 set, for the simplicity check the part-level
    * terminals). Returns an LContact/LInterior/LOverlap/LMixed bitmask.
    * A proper edge-interior crossing classifies its COMPUTED crossing
    * point through the predicates too: under the mod-2 rule a crossing
    * that lands exactly on another part's odd endpoint is boundary
    * contact, not interior contact (dyadic fixtures keep the crossing
    * arithmetic exact, so the equality test is meaningful there). */
  private[functions] def scanLinePair(a: Array[Double], b: Array[Double],
      bndA: (Double, Double) => Boolean,
      bndB: (Double, Double) => Boolean): Int = {
    val na = a.length / 2; val nb = b.length / 2
    var flags = 0
    def touchPoint(x: Double, y: Double): Unit = {
      flags |= LContact
      val onA = bndA(x, y); val onB = bndB(x, y)
      if (!onA && !onB) flags |= LInterior
      else if (onA != onB) flags |= LMixed
    }
    var i = 0
    while (i + 1 < na) {
      val px = a(2 * i); val py = a(2 * i + 1)
      val qx = a(2 * i + 2); val qy = a(2 * i + 3)
      var j = 0
      while (j + 1 < nb) {
        val rx = b(2 * j); val ry = b(2 * j + 1)
        val sx = b(2 * j + 2); val sy = b(2 * j + 3)
        val d1 = orient(rx, ry, sx, sy, px, py)
        val d2 = orient(rx, ry, sx, sy, qx, qy)
        val d3 = orient(px, py, qx, qy, rx, ry)
        val d4 = orient(px, py, qx, qy, sx, sy)
        if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
            ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) {
          // strict edge-interior crossing: classify the crossing point
          val den = (qx - px) * (sy - ry) - (qy - py) * (sx - rx)
          val t = ((rx - px) * (sy - ry) - (ry - py) * (sx - rx)) / den
          touchPoint(px + t * (qx - px), py + t * (qy - py))
        } else if (d1 == 0 && d2 == 0) {
          // same supporting line: overlap run or single-point touch
          val tr = paramOn(px, py, qx, qy, rx, ry)
          val ts = paramOn(px, py, qx, qy, sx, sy)
          val lo = math.max(0.0, math.min(tr, ts))
          val hi = math.min(1.0, math.max(tr, ts))
          if (hi > lo) flags |= LContact | LOverlap | LInterior
          else if (hi == lo)
            touchPoint(px + lo * (qx - px), py + lo * (qy - py))
        } else {
          if (d1 == 0 && onSegIncl(rx, ry, sx, sy, px, py)) touchPoint(px, py)
          if (d2 == 0 && onSegIncl(rx, ry, sx, sy, qx, qy)) touchPoint(qx, qy)
          if (d3 == 0 && onSegIncl(px, py, qx, qy, rx, ry)) touchPoint(rx, ry)
          if (d4 == 0 && onSegIncl(px, py, qx, qy, sx, sy)) touchPoint(sx, sy)
        }
        j += 1
      }
      i += 1
    }
    flags
  }

  /** Membership predicate over a flat sorted point list. */
  private def ptSetContains(pts: Array[Double])(x: Double, y: Double)
      : Boolean = {
    var i = 0
    while (2 * i < pts.length) {
      if (pts(2 * i) == x && pts(2 * i + 1) == y) return true
      i += 1
    }
    false
  }

  /** Relate two line GEOMETRIES (LINESTRING or MULTILINESTRING parts)
    * under the OGC mod-2 boundary rule: (contact, interior-interior
    * point contact, positive-length collinear overlap). */
  private[functions] def lineLineRelate(aParts: Array[Array[Double]],
      bParts: Array[Array[Double]]): (Boolean, Boolean, Boolean) = {
    val bndA = ptSetContains(WktCore.lineBoundaryPts(aParts)) _
    val bndB = ptSetContains(WktCore.lineBoundaryPts(bParts)) _
    var flags = 0
    aParts.foreach { a =>
      bParts.foreach { b => flags |= scanLinePair(a, b, bndA, bndB) }
    }
    ((flags & LContact) != 0, (flags & LInterior) != 0,
      (flags & LOverlap) != 0)
  }

  /** The operand rank of the relate matrix: POINT 0, line kinds 1,
    * areal kinds 2; MULTIPOINT and GEOMETRYCOLLECTION are loud. Each
    * relate below spells out the pairs with rank(a) <= rank(b) and
    * swaps the others. */
  private def rank(g: Geom): Int = g match {
    case _: Point => 0
    case _: Lines => 1
    case _: Polys => 2
    case _ => throw new IllegalArgumentException(
      s"unsupported geometry: ${WktCore.render(g)}")
  }

  private def valid(g: Array[Poly]): Array[Poly] = {
    WktCore.requireValidGeom(g)
    g
  }

  /** lineAreaRelate over every part of a line geometry, OR-combined
    * (contact / inside / outside are each unions over parts). */
  private def linesAreaRelate(parts: Array[Array[Double]], g: Array[Poly])
      : (Boolean, Boolean, Boolean) = {
    var contact = false; var hasIn = false; var hasOut = false
    parts.foreach { c =>
      val (ct, in, out) = lineAreaRelate(c, g)
      contact ||= ct; hasIn ||= in; hasOut ||= out
    }
    (contact, hasIn, hasOut)
  }

  /** OGC ST_Touches over the POINT/(MULTI)LINESTRING/(MULTI)POLYGON
    * matrix: geometries intersect but their interiors do not. */
  private[functions] def touches(a: Geom, b: Geom): Boolean =
    (a, b) match {
      case (_: Point, _: Point) => false // equal points intersect at interiors; disjoint don't touch
      // mod-2 rule: the point must be a boundary point of the line
      // geometry (a shared endpoint of two parts is INTERIOR)
      case (Point(x, y), Lines(ps, _)) =>
        ptSetContains(WktCore.lineBoundaryPts(ps))(x, y)
      case (Point(x, y), Polys(g, _)) => pointOnBoundary(valid(g), x, y)
      case (Lines(pa, _), Lines(pb, _)) =>
        val (contact, ii, overlap) = lineLineRelate(pa, pb)
        contact && !ii && !overlap
      case (Lines(ps, _), Polys(g, _)) =>
        val (contact, hasIn, _) = linesAreaRelate(ps, valid(g))
        contact && !hasIn
      case (Polys(ga, _), Polys(gb, _)) =>
        val pa = valid(ga); val pb = valid(gb)
        if (!ringsContact(directedRings(pa), directedRings(pb))) false
        else overlay(pa, pb, 0, "st_touches").isEmpty
      // the predicate is symmetric: the cases above have rank(a) <= rank(b)
      case _ => rank(a) > rank(b) && touches(b, a)
    }

  /** OGC ST_Crosses: interiors intersect in a lower dimension than the
    * higher-dimensional operand — meaningful for line×line (point
    * contact between interiors) and line×area (the line passes through
    * both interior and exterior); every POINT pairing and area×area is
    * false, matching JTS/Trino. */
  private[functions] def crosses(a: Geom, b: Geom): Boolean =
    (a, b) match {
      case (Lines(pa, _), Lines(pb, _)) =>
        val (_, ii, overlap) = lineLineRelate(pa, pb)
        ii && !overlap
      case (Lines(ps, _), Polys(g, _)) =>
        val (_, hasIn, hasOut) = linesAreaRelate(ps, valid(g))
        hasIn && hasOut
      case _ => rank(a) > rank(b) && crosses(b, a)
    }

  /** ST_Intersects for the pairings the single-ring kernel does not
    * cover: anything involving a (MULTI)LINESTRING, and holed /
    * MULTIPOLYGON / EMPTY areal pairs. */
  private[functions] def intersects(a: Geom, b: Geom): Boolean =
    (a, b) match {
      case (Point(x, y), Point(u, v)) => x == u && y == v
      case (Point(x, y), Lines(ps, _)) => ps.exists(c => pointOnLine(c, x, y))
      case (Point(x, y), Polys(ga, _)) =>
        val g = valid(ga)
        pointOnBoundary(g, x, y) || containsGeom(g, x, y)
      case (Lines(pa, _), Lines(pb, _)) =>
        val (contact, _, _) = lineLineRelate(pa, pb)
        contact
      case (Lines(ps, _), Polys(g, _)) =>
        val (contact, hasIn, _) = linesAreaRelate(ps, valid(g))
        contact || hasIn
      case (Polys(ga, _), Polys(gb, _)) =>
        val pa = valid(ga); val pb = valid(gb)
        if (pa.isEmpty || pb.isEmpty) false
        else if (ringsContact(directedRings(pa), directedRings(pb))) true
        else // no boundary contact: each is entirely in one face of the
             // other, so one clean vertex decides (even-odd, holes-aware)
          containsGeom(pa, pb(0)._1(0), pb(0)._1(1)) ||
            containsGeom(pb, pa(0)._1(0), pa(0)._1(1))
      case _ => rank(a) > rank(b) && intersects(b, a)
    }

  // ---- validity helpers (r13: point-contact tolerance, OGC-aligned) -------

  /** True iff the two rings properly cross edge-to-edge or share a
    * positive-length collinear run — contact that cannot be a legal
    * isolated-point touch. */
  private[functions] def properCrossOrOverlap(a: Array[Double],
      b: Array[Double]): Boolean = {
    val na = a.length / 2; val nb = b.length / 2
    var i = 0
    while (i < na) {
      val i2 = if (i + 1 == na) 0 else i + 1
      var j = 0
      while (j < nb) {
        val j2 = if (j + 1 == nb) 0 else j + 1
        val px = a(2 * i); val py = a(2 * i + 1)
        val qx = a(2 * i2); val qy = a(2 * i2 + 1)
        val rx = b(2 * j); val ry = b(2 * j + 1)
        val sx = b(2 * j2); val sy = b(2 * j2 + 1)
        if (WktCore.properCross(px, py, qx, qy, rx, ry, sx, sy)) return true
        val d1 = orient(rx, ry, sx, sy, px, py)
        val d2 = orient(rx, ry, sx, sy, qx, qy)
        if (d1 == 0 && d2 == 0) {
          val tr = paramOn(px, py, qx, qy, rx, ry)
          val ts = paramOn(px, py, qx, qy, sx, sy)
          if (math.min(1.0, math.max(tr, ts)) >
            math.max(0.0, math.min(tr, ts))) return true
        }
        j += 1
      }
      i += 1
    }
    false
  }

  /** Classify ring `c` against a FULL polygon (shell + holes) after
    * noding against every ring of it: any elementary midpoint strictly
    * interior to the region / strictly exterior? (anyIn, anyOut).
    * Powers the component-disjointness validity check, where a
    * component legally sits inside another component's HOLE. */
  private[functions] def ringSidesPoly(c: Array[Double], p: Poly)
      : (Boolean, Boolean) = {
    val rings = directedRings(Array(p))
    val n = c.length / 2
    var anyIn = false
    var anyOut = false
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val e = new Edge(0, c(2 * i), c(2 * i + 1), c(2 * j), c(2 * j + 1))
      rings.foreach { rc =>
        val m = rc.length / 2
        var k = 0
        while (k < m) {
          val k2 = if (k + 1 == m) 0 else k + 1
          nodePair(e, new Edge(1, rc(2 * k), rc(2 * k + 1), rc(2 * k2),
            rc(2 * k2 + 1)))
          k += 1
        }
      }
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var t = 0
      while (t + 1 < pts.length) {
        val mx = (pts(t)._1 + pts(t + 1)._1) / 2
        val my = (pts(t)._2 + pts(t + 1)._2) / 2
        if (WktCore.containsPolys(Array(p), mx, my)) anyIn = true
        else anyOut = true
        t += 1
      }
      i += 1
    }
    (anyIn, anyOut)
  }

  /** Classify ring `inner` against ring `outer` after noding: does any
    * elementary sub-segment midpoint fall strictly inside / strictly
    * outside `outer`? (anyIn, anyOut). Mixed = inner crosses outer
    * through shared vertices even without a proper edge cross. */
  private[functions] def ringSides(inner: Array[Double],
      outer: Array[Double]): (Boolean, Boolean) = {
    val n = inner.length / 2
    val m = outer.length / 2
    var anyIn = false
    var anyOut = false
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val e = new Edge(0, inner(2 * i), inner(2 * i + 1), inner(2 * j),
        inner(2 * j + 1))
      var k = 0
      while (k < m) {
        val k2 = if (k + 1 == m) 0 else k + 1
        nodePair(e, new Edge(1, outer(2 * k), outer(2 * k + 1),
          outer(2 * k2), outer(2 * k2 + 1)))
        k += 1
      }
      val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
      pts += ((e.px, e.py))
      e.splits.sortBy(_._1).foreach { case (_, x, y) =>
        if (pts.last._1 != x || pts.last._2 != y) pts += ((x, y))
      }
      if (pts.last._1 != e.qx || pts.last._2 != e.qy) pts += ((e.qx, e.qy))
      var t = 0
      while (t + 1 < pts.length) {
        val mx = (pts(t)._1 + pts(t + 1)._1) / 2
        val my = (pts(t)._2 + pts(t + 1)._2) / 2
        // midpoints are off `outer` unless the run is collinear-shared —
        // the caller excludes overlap before calling
        if (WktCore.contains(outer, mx, my)) anyIn = true else anyOut = true
        t += 1
      }
      i += 1
    }
    (anyIn, anyOut)
  }
}
