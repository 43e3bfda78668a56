package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{Geom, WktCore}

/** Randomized adversarial cross-check of the general clipping tier
  * (r11): the clipper's ∩/∪/− outputs — including MULTIPOLYGON
  * components and interior rings — are verified CELL BY CELL against an
  * exact rasterization oracle that shares no code with the kernel.
  *
  * Fixture family: random rectilinear "skyline" polygons (histogram
  * outlines — simple by construction). Polygon A lives on the 0.5
  * grid; polygon B is translated by (0.25, 0.25), so A's and B's edge
  * lines can never coincide and no vertex of either lies on an edge of
  * the other — EVERY boundary contact is a proper transversal crossing
  * and no sample hits the loud degeneracy scope.
  *
  * Oracle: sample the plane at 0.125-cell centers (offset 0.0625 from
  * every grid line, so a center is never ON any boundary). For each
  * center, point-in-A and point-in-B come from an independent even-odd
  * ray cast; the kernel's output polygon must contain the center
  * exactly when `inA op inB` — a full semantic check of shells, holes,
  * and component assignment, far stronger than comparing areas (which
  * is also done, via exact cell counting). */
class WktFuzzSpec extends AnyFunSuite {

  private def u(s: String) = UTF8String.fromString(s)

  /** The vertices of a LINESTRING, through WktCore.read. */
  private def line(wkt: String): Array[Double] = WktCore.read(u(wkt)) match {
    case Geom.Lines(Array(c), false) => c
    case _ => throw new IllegalArgumentException(s"not a LINESTRING: $wkt")
  }

  /** Skyline polygon over columns [x0, x0+k·w]: per-column heights,
    * traced CCW with the base at y0. Heights > 0; adjacent equal
    * heights produce collinear straight-through vertices, which the
    * kernel must tolerate. */
  private def skyline(x0: Double, y0: Double, w: Double,
      hs: Seq[Double]): String = {
    val pts = new scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    pts += ((x0, y0))
    pts += ((x0 + w * hs.length, y0))
    // right edge up to the last column's height, then walk the skyline
    // right-to-left emitting a step at each height change
    var x = x0 + w * hs.length
    var h = hs.last
    pts += ((x, y0 + h))
    for (i <- hs.length - 2 to 0 by -1) {
      x = x0 + w * (i + 1)
      if (hs(i) != h) {
        pts += ((x, y0 + h))
        pts += ((x, y0 + hs(i)))
        h = hs(i)
      }
    }
    pts += ((x0, y0 + h))
    val body = (pts :+ pts.head)
      .map { case (px, py) => s"$px $py" }.mkString(", ")
    s"POLYGON (($body))"
  }

  /** Independent even-odd ray cast over the raw vertex list (no WktCore
    * code): standard crossing-number test. */
  private def rayCast(poly: Array[(Double, Double)], x: Double,
      y: Double): Boolean = {
    var in = false
    var j = poly.length - 1
    for (i <- poly.indices) {
      val (xi, yi) = poly(i); val (xj, yj) = poly(j)
      if ((yi > y) != (yj > y) &&
          x < (xj - xi) * (y - yi) / (yj - yi) + xi) in = !in
      j = i
    }
    in
  }

  private def verts(wkt: String): Array[(Double, Double)] = {
    val body = wkt.substring(wkt.indexOf("((") + 2, wkt.indexOf("))"))
    body.split(",").map { p =>
      val t = p.trim.split(" ")
      (t(0).toDouble, t(1).toDouble)
    }.dropRight(1) // closing duplicate
  }

  test("general clipper ∩/∪/− agree with exact rasterization on 40 random rectilinear pairs") {
    val rnd = new scala.util.Random(20260815)
    var multis = 0
    var holes = 0
    for (trial <- 1 to 40) {
      val nA = 3 + rnd.nextInt(5)
      val nB = 3 + rnd.nextInt(5)
      val hsA = Seq.fill(nA)(0.5 * (1 + rnd.nextInt(6)))
      val hsB = Seq.fill(nB)(0.5 * (1 + rnd.nextInt(6)))
      // A on the 0.5 grid; B offset by (0.25, 0.25) — no shared lines
      val a = skyline(0.0, 0.0, 1.0, hsA)
      val b = skyline(0.25 + 0.5 * rnd.nextInt(3),
        0.25 + 0.5 * (rnd.nextInt(3) - 1), 1.0, hsB)
      val va = verts(a); val vb = verts(b)
      val ops = Seq(
        ("inter", WktCore.intersectionWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p && q),
        ("union", WktCore.unionWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p || q),
        ("diff", WktCore.differenceWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p && !q),
        // r16: symDifference raster rule is XOR — the strongest check
        // the cell oracle can give the fourth set operation
        ("sym", WktCore.symDifferenceWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p != q))
      for ((name, out, rule) <- ops) {
        if (out.startsWith("MULTIPOLYGON")) multis += 1
        if (out.contains("), (")) holes += 1
        // cell centers at 0.0625 offsets over the joint bounding box
        var x = -1.0 + 0.0625
        var cellsIn = 0L
        var expIn = 0L
        while (x < 10.0) {
          var y = -2.0 + 0.0625
          while (y < 5.0) {
            val inA = rayCast(va, x, y)
            val inB = rayCast(vb, x, y)
            val want = rule(inA, inB)
            val got =
              if (out == "POLYGON EMPTY") false
              else if (out.startsWith("MULTIPOLYGON"))
                multiContains(out, x, y) // per-component even-odd
              else WktCore.containsWkt(u(out), x, y)
            if (want) expIn += 1
            if (got) cellsIn += 1
            assert(got == want,
              s"trial $trial $name mismatch at ($x, $y): want $want\nA=$a\nB=$b\nout=$out")
            y += 0.125
          }
          x += 0.125
        }
        // area cross-check: exact cell counting (each cell 0.125²)
        val kernelArea = if (out == "POLYGON EMPTY") 0.0
          else WktCore.area(u(out))
        assert(math.abs(kernelArea - expIn * 0.015625) < 1e-9,
          s"trial $trial $name area: kernel $kernelArea vs raster ${expIn * 0.015625}")
      }
      // r16: sym-difference symmetry is geometric (member order follows
      // the a-side, so compare with st_equals, not text)
      assert(WktCore.equalsWkt(WktCore.symDifferenceWkt(u(a), u(b)),
        WktCore.symDifferenceWkt(u(b), u(a))),
        s"trial $trial sym commutativity\nA=$a\nB=$b")
    }
    // the sweep must actually exercise the interesting output shapes
    assert(multis >= 3, s"only $multis MULTIPOLYGON outputs — fixture too tame")
    info(s"outputs: $multis MULTIPOLYGON, $holes with interior rings")
  }

  test("overlay tier agrees with rasterization on 40 ALIGNED-grid pairs (degenerate contact, r13)") {
    val rnd = new scala.util.Random(20260815 + 13)
    var multis = 0
    var holes = 0
    var degenerate = 0
    var pinched = 0
    for (trial <- 1 to 40) {
      val nA = 3 + rnd.nextInt(5)
      val nB = 3 + rnd.nextInt(5)
      val hsA = Seq.fill(nA)(0.5 * (1 + rnd.nextInt(6)))
      val hsB = Seq.fill(nB)(0.5 * (1 + rnd.nextInt(6)))
      // BOTH polygons on the same 0.5 grid with 0.5-step offsets: edge
      // lines coincide constantly — shared borders, vertex-on-edge and
      // corner contact are the NORM in this sweep, not the exception
      val a = skyline(0.0, 0.0, 1.0, hsA)
      val b = skyline(0.5 * rnd.nextInt(5), 0.5 * (rnd.nextInt(5) - 2),
        1.0, hsB)
      val va = verts(a); val vb = verts(b)
      // count pairs with at least one shared boundary point that is not
      // a proper crossing (the degenerate class this sweep targets)
      val shared = va.exists { case (x, y) =>
        vb.exists { case (p, q) => p == x && q == y } } ||
        va.exists { case (x, y) => y == 0.0 } && vb.exists {
          case (_, q) => q == 0.0 }
      if (shared) degenerate += 1
      // r16: on ALIGNED grids ∂A and ∂B overlap collinearly, so the two
      // sym pieces can share edges, merge, and pinch — the overlay's
      // deliberate loud refusal (the transversal sweep above never
      // pinches and XOR-checks sym on all 40 pairs). Accept exactly
      // that refusal here; XOR-check every pair that renders, and the
      // reversed call must pinch exactly when the forward one does.
      val symOut =
        try Some(WktCore.symDifferenceWkt(u(a), u(b)).toString)
        catch {
          case e: IllegalArgumentException
              if e.getMessage.contains("point-pinched") =>
            pinched += 1
            assert(
              try { WktCore.symDifferenceWkt(u(b), u(a)); false }
              catch { case e2: IllegalArgumentException =>
                e2.getMessage.contains("point-pinched") },
              s"trial $trial reversed sym did not pinch\nA=$a\nB=$b")
            None
        }
      symOut.foreach { o =>
        assert(WktCore.equalsWkt(u(o), WktCore.symDifferenceWkt(u(b), u(a))),
          s"trial $trial sym commutativity\nA=$a\nB=$b")
      }
      val ops = Seq(
        ("inter", WktCore.intersectionWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p && q),
        ("union", WktCore.unionWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p || q),
        ("diff", WktCore.differenceWkt(u(a), u(b)).toString,
          (p: Boolean, q: Boolean) => p && !q)) ++
        symOut.map(o =>
          ("sym", o, (p: Boolean, q: Boolean) => p != q)).toSeq
      for ((name, out, rule) <- ops) {
        if (out.startsWith("MULTIPOLYGON")) multis += 1
        if (out.contains("), (")) holes += 1
        var x = -1.0 + 0.0625
        var expIn = 0L
        while (x < 10.0) {
          var y = -2.0 + 0.0625
          while (y < 6.0) {
            val inA = rayCast(va, x, y)
            val inB = rayCast(vb, x, y)
            val want = rule(inA, inB)
            val got =
              if (out == "POLYGON EMPTY") false
              else if (out.startsWith("MULTIPOLYGON"))
                multiContains(out, x, y)
              else WktCore.containsWkt(u(out), x, y)
            if (want) expIn += 1
            assert(got == want,
              s"trial $trial $name mismatch at ($x, $y): want $want\nA=$a\nB=$b\nout=$out")
            y += 0.125
          }
          x += 0.125
        }
        val kernelArea = if (out == "POLYGON EMPTY") 0.0
          else WktCore.area(u(out))
        assert(math.abs(kernelArea - expIn * 0.015625) < 1e-9,
          s"trial $trial $name area: kernel $kernelArea vs raster ${expIn * 0.015625}")
        // every non-empty output must satisfy the (point-contact
        // tolerant) validity model — the self-consistency gate
        if (out != "POLYGON EMPTY")
          assert(WktCore.isValid(u(out)), s"trial $trial $name invalid: $out")
      }
    }
    assert(degenerate >= 20, s"only $degenerate degenerate-contact pairs")
    // the XOR sweep must still exercise plenty of rendering pairs
    assert(pinched <= 20, s"$pinched of 40 sym pairs pinched")
    info(s"degenerate-contact pairs: $degenerate/40; outputs: " +
      s"$multis MULTIPOLYGON, $holes with interior rings; " +
      s"sym pinch refusals: $pinched")
  }

  test("relate predicates satisfy their overlay identities on 40 aligned-grid pairs (r13)") {
    val rnd = new scala.util.Random(20260815 + 99)
    var touchCount = 0
    var withinCount = 0
    for (trial <- 1 to 40) {
      val nA = 3 + rnd.nextInt(5)
      val nB = 3 + rnd.nextInt(5)
      val a = skyline(0.0, 0.0, 1.0, Seq.fill(nA)(0.5 * (1 + rnd.nextInt(6))))
      val b = skyline(0.5 * rnd.nextInt(5), 0.5 * (rnd.nextInt(5) - 2),
        1.0, Seq.fill(nB)(0.5 * (1 + rnd.nextInt(6))))
      val ua = u(a); val ub = u(b)
      val interArea = WktCore.area(u(
        WktCore.intersectionWkt(ua, ub).toString))
      val abArea = WktCore.area(u(WktCore.differenceWkt(ua, ub).toString))
      val baArea = WktCore.area(u(WktCore.differenceWkt(ub, ua).toString))
      val touches = WktCore.touchesWkt(ua, ub)
      val intersects = WktCore.intersectsWkt(ua, ub)
      val within = WktCore.withinWkt(ua, ub)
      val overlaps = WktCore.overlapsWkt(ua, ub)
      val equal = WktCore.equalsWkt(ua, ub)
      val dist = WktCore.distanceWkt(ua, ub)
      // identities tying every predicate to the raster-verified overlay
      assert(within == (abArea == 0.0), s"trial $trial within\nA=$a\nB=$b")
      assert(equal == (abArea == 0.0 && baArea == 0.0), s"trial $trial equals")
      assert(overlaps == (interArea > 0 && abArea > 0 && baArea > 0),
        s"trial $trial overlaps")
      if (touches) {
        assert(intersects, s"trial $trial touches⟹intersects")
        assert(interArea == 0.0, s"trial $trial touches⟹no shared area")
        touchCount += 1
      }
      if (interArea > 0)
        assert(intersects && !touches, s"trial $trial area⟹intersects")
      assert((dist == 0.0) == intersects, s"trial $trial dist-zero⟺intersects")
      if (!intersects)
        assert(dist > 0.0, s"trial $trial disjoint⟹positive distance")
      if (within) withinCount += 1
      // reflexive identities on every sampled polygon
      assert(WktCore.equalsWkt(ua, ua) && WktCore.withinWkt(ua, ua))
      assert(!WktCore.touchesWkt(ua, ua) && !WktCore.overlapsWkt(ua, ua))
    }
    // targeted shared-border pairs: B starts exactly where A ends, so
    // the right/left edges share a segment at x = nA — touches must
    // hold on every one (interiors disjoint by construction)
    for (trial <- 1 to 20) {
      val nA = 3 + rnd.nextInt(5)
      val a = skyline(0.0, 0.0, 1.0, Seq.fill(nA)(0.5 * (1 + rnd.nextInt(6))))
      val b = skyline(nA.toDouble, 0.0, 1.0,
        Seq.fill(3 + rnd.nextInt(5))(0.5 * (1 + rnd.nextInt(6))))
      val ua = u(a); val ub = u(b)
      assert(WktCore.touchesWkt(ua, ub), s"adj trial $trial\nA=$a\nB=$b")
      assert(WktCore.intersectsWkt(ua, ub))
      assert(WktCore.distanceWkt(ua, ub) == 0.0)
      assert(!WktCore.overlapsWkt(ua, ub))
      assert(WktCore.area(u(WktCore.intersectionWkt(ua, ub).toString)) == 0.0)
      touchCount += 1
    }
    info(s"touch pairs: $touchCount, within pairs: $withinCount")
  }

  /** Random rectilinear staircase polyline on the 0.5-grid: alternating
    * H/V steps, never zero-length. */
  private def staircase(rnd: scala.util.Random, x0: Double, y0: Double)
      : String = {
    val n = 2 + rnd.nextInt(5)
    var x = x0; var y = y0
    val sb = new StringBuilder(s"$x $y")
    var horizontal = rnd.nextBoolean()
    for (_ <- 1 to n) {
      val step = 0.5 * (1 + rnd.nextInt(4)) * (if (rnd.nextBoolean()) 1 else -1)
      if (horizontal) x += step else y += step
      horizontal = !horizontal
      sb.append(s", $x $y")
    }
    sb.toString
  }

  /** Exact point-set cells for axis-parallel dyadic line WKT: every
    * segment split into direction-normalized 0.5-length elementary
    * cells (all staircase/overlay vertices live on the 0.5 grid, so
    * the decomposition is exact). The set view is traversal-
    * multiplicity-blind — the right oracle for set-operation
    * identities over MULTILINESTRINGs that may cover a run twice. */
  private def lineCells(g: String): Set[(Double, Double, Double, Double)] = {
    if (g.endsWith("EMPTY")) return Set.empty
    val parts: Seq[Array[Double]] =
      if (g.startsWith("MULTILINESTRING"))
        g.stripPrefix("MULTILINESTRING ((").stripSuffix("))")
          .split("\\), \\(").toSeq
          .map(p => line(s"LINESTRING ($p)"))
      else Seq(line(g))
    val cells = scala.collection.mutable.Set[(Double, Double, Double, Double)]()
    parts.foreach { c =>
      var i = 0
      while (2 * i + 3 < c.length) {
        val (x1, y1, x2, y2) = (c(2 * i), c(2 * i + 1), c(2 * i + 2), c(2 * i + 3))
        val n = math.max(1, math.round(math.abs(x2 - x1 + y2 - y1) / 0.5).toInt)
        val dx = (x2 - x1) / n; val dy = (y2 - y1) / n
        for (k <- 0 until n) {
          val (ax, ay, bx, by) = (x1 + k * dx, y1 + k * dy,
            x1 + (k + 1) * dx, y1 + (k + 1) * dy)
          cells += (if (ax < bx || (ax == bx && ay < by)) (ax, ay, bx, by)
            else (bx, by, ax, ay))
        }
        i += 1
      }
    }
    cells.toSet
  }

  test("line-pair relate fuzz: predicates vs brute-force segment truth " +
      "on 60 staircase pairs incl. MULTILINESTRING (r14)") {
    val rnd = new scala.util.Random(20260816 + 14)
    def bruteContact(a: String, b: String): Boolean = {
      def segs(g: String): Seq[(Double, Double, Double, Double)] = {
        // independent text-level part split (the staircases contain no
        // nested parens), each part through the public line parser
        val parts: Seq[Array[Double]] =
          if (g.startsWith("MULTILINESTRING"))
            g.stripPrefix("MULTILINESTRING ((").stripSuffix("))")
              .split("\\), \\(").toSeq
              .map(p => line(s"LINESTRING ($p)"))
          else Seq(line(g))
        parts.flatMap { c =>
          (0 until c.length / 2 - 1).map(i =>
            (c(2 * i), c(2 * i + 1), c(2 * i + 2), c(2 * i + 3)))
        }
      }
      segs(a).exists { case (px, py, qx, qy) =>
        segs(b).exists { case (rx, ry, sx, sy) =>
          WktCore.segIntersect(px, py, qx, qy, rx, ry, sx, sy) } }
    }
    var contacts = 0
    var multis = 0
    for (trial <- 1 to 60) {
      def mk(): String =
        if (rnd.nextBoolean()) {
          multis += 1
          "MULTILINESTRING ((" +
            staircase(rnd, 0.5 * rnd.nextInt(5), 0.5 * rnd.nextInt(5)) +
            "), (" +
            staircase(rnd, 0.5 * rnd.nextInt(5), 0.5 * rnd.nextInt(5)) +
            "))"
        } else "LINESTRING (" +
          staircase(rnd, 0.5 * rnd.nextInt(5), 0.5 * rnd.nextInt(5)) + ")"
      val a = mk(); val b = mk()
      val ua = u(a); val ub = u(b)
      val inter = WktCore.intersectsWkt(ua, ub)
      val touch = WktCore.touchesWkt(ua, ub)
      val cross = WktCore.crossesWkt(ua, ub)
      val dist = WktCore.distanceWkt(ua, ub)
      // independent segment-pair ground truth for contact
      assert(inter == bruteContact(a, b), s"trial $trial intersects\nA=$a\nB=$b")
      if (inter) contacts += 1
      assert((dist == 0.0) == inter, s"trial $trial dist⟺intersects\nA=$a\nB=$b")
      // touches/crosses refine intersects and are mutually exclusive
      if (touch || cross) assert(inter, s"trial $trial refine\nA=$a\nB=$b")
      assert(!(touch && cross), s"trial $trial touch∧cross\nA=$a\nB=$b")
      // symmetry
      assert(inter == WktCore.intersectsWkt(ub, ua), s"trial $trial sym-i")
      assert(touch == WktCore.touchesWkt(ub, ua), s"trial $trial sym-t")
      assert(cross == WktCore.crossesWkt(ub, ua), s"trial $trial sym-c")
      // reflexivity: self-contact is interior overlap, never touch/cross
      assert(WktCore.intersectsWkt(ua, ua) && !WktCore.touchesWkt(ua, ua) &&
        !WktCore.crossesWkt(ua, ua), s"trial $trial reflexive\nA=$a")
      // the mod-2 boundary has an EVEN point count (total endpoint
      // multiplicity is even), and renders round-trip-stably
      val bnd = WktCore.boundaryWkt(ua).toString
      assert(WktCore.numGeometries(u(bnd)) % 2 == 0,
        s"trial $trial odd boundary $bnd\nA=$a")
      // clipping to a covering box preserves total length
      val box = "POLYGON ((-100 -100, 100 -100, 100 100, -100 100, -100 -100))"
      assert(WktCore.length(u(WktCore.intersectionWkt(ua, u(box)).toString))
        == WktCore.length(ua), s"trial $trial cover-clip\nA=$a")
      // r15 ∩/− duality: the covered runs and the kept runs PARTITION
      // the minuend under the shared noding — length(a ∩ b) +
      // length(a − b) = length(a) for every pair (contact points are
      // measure-zero; length decomposes over the mixed outputs; the
      // dyadic staircase grid keeps the identity exact)
      val ixLen = WktCore.length(u(
        WktCore.intersectionWkt(ua, ub).toString))
      val dfLen = WktCore.length(u(
        WktCore.differenceWkt(ua, ub).toString))
      assert(math.abs(ixLen + dfLen - WktCore.length(ua)) < 1e-9,
        s"trial $trial duality: $ixLen + $dfLen != ${WktCore.length(ua)}" +
          s"\nA=$a\nB=$b")
      // r15 equals: point-set reflexivity (a − a empty both ways), and
      // a self-difference that is textually EMPTY
      assert(WktCore.equalsWkt(ua, ua), s"trial $trial self-equals\nA=$a")
      assert(WktCore.differenceWkt(ua, ua).toString == "LINESTRING EMPTY",
        s"trial $trial self-diff\nA=$a")
      // r16 sym-difference identities on the same dyadic grid, as
      // POINT SETS via the exact elementary-cell oracle (a staircase
      // may traverse a run twice; the difference keeps both traversals
      // while the union dedupes identical parts, so LENGTHS don't
      // decompose — cell sets do, exactly): cells(sym) is the disjoint
      // union of cells(a−b) and cells(b−a), and equals the symmetric
      // set difference of cells(a) and cells(b). Plus: symmetry via
      // st_equals (textual member order follows the a-side), and
      // self-sym renders the union fold's canonical EMPTY.
      val symAB = WktCore.symDifferenceWkt(ua, ub).toString
      val cSym = lineCells(symAB)
      val cAB = lineCells(WktCore.differenceWkt(ua, ub).toString)
      val cBA = lineCells(WktCore.differenceWkt(ub, ua).toString)
      assert((cAB & cBA).isEmpty,
        s"trial $trial a−b and b−a share cells\nA=$a\nB=$b")
      assert(cSym == (cAB | cBA),
        s"trial $trial sym cells != (a−b) ⊎ (b−a)\nA=$a\nB=$b\nsym=$symAB")
      val cA = lineCells(a); val cB = lineCells(b)
      assert(cSym == ((cA | cB) -- (cA & cB)),
        s"trial $trial sym cells != cells(a) XOR cells(b)\nA=$a\nB=$b\nsym=$symAB")
      assert(WktCore.equalsWkt(u(symAB),
        WktCore.symDifferenceWkt(ub, ua)),
        s"trial $trial sym commutativity\nA=$a\nB=$b")
      assert(WktCore.symDifferenceWkt(ua, ua).toString == "POLYGON EMPTY",
        s"trial $trial self-sym\nA=$a")
    }
    info(s"contact pairs: $contacts of 60; multiline operands: $multis")
  }

  test("GEOMETRYCOLLECTION round-trip fuzz: 40 random mixed collections " +
      "(r14)") {
    val rnd = new scala.util.Random(20260816 + 77)
    for (trial <- 1 to 40) {
      val members = (1 to 1 + rnd.nextInt(3)).map { _ =>
        rnd.nextInt(4) match {
          case 0 =>
            val x = 0.5 * rnd.nextInt(9); val y = 0.5 * rnd.nextInt(9)
            s"POINT ($x $y)"
          case 1 => "LINESTRING (" +
            staircase(rnd, 0.5 * rnd.nextInt(5), 0.5 * rnd.nextInt(5)) + ")"
          case 2 =>
            // a canonical overlay output (possibly MULTIPOLYGON/holed)
            val a = skyline(0.0, 0.0, 1.0,
              Seq.fill(3 + rnd.nextInt(4))(0.5 * (1 + rnd.nextInt(6))))
            val b = skyline(0.5 * rnd.nextInt(4), 0.5 * (rnd.nextInt(5) - 2),
              1.0, Seq.fill(3 + rnd.nextInt(4))(0.5 * (1 + rnd.nextInt(6))))
            val out = WktCore.unionWkt(u(a), u(b)).toString
            if (out == "POLYGON EMPTY") a else out
          case _ =>
            val x = 0.5 * rnd.nextInt(9); val y = 0.5 * rnd.nextInt(9)
            s"MULTIPOINT (($x $y), (${x + 1} $y))"
        }
      }
      val gc = members.mkString("GEOMETRYCOLLECTION (", ", ", ")")
      val ugc = u(gc)
      // canonical text: both interchange trips land exactly on it
      val canon = WktCore.fromWkb(WktCore.toWkb(ugc)).toString
      assert(WktCore.fromGeoJson(WktCore.toGeoJson(ugc)).toString == canon,
        s"trial $trial GeoJSON vs WKB\ngc=$gc")
      assert(WktCore.fromWkb(WktCore.toWkb(u(canon))).toString == canon,
        s"trial $trial WKB not idempotent\ngc=$gc")
      // accessors
      assert(WktCore.numGeometries(ugc) == members.length, s"trial $trial ng")
      (1 to members.length).foreach { k =>
        val g = WktCore.geometryN(ugc, k)
        assert(g != null, s"trial $trial geometryn $k")
        WktCore.isEmptyGeom(g) // parses
      }
      assert(WktCore.geometryN(ugc, members.length + 1) == null)
      assert(!WktCore.isEmptyGeom(ugc), s"trial $trial nonempty")
      val dims = members.map(m => WktCore.dimensionOf(u(m)))
      assert(WktCore.dimensionOf(ugc) == dims.max, s"trial $trial dim")
    }
    // malformed collections stay loud
    Seq("GEOMETRYCOLLECTION (POINT (1 2)",
        "GEOMETRYCOLLECTION (POINT (1 2),, POINT (3 4))",
        "GEOMETRYCOLLECTION junk (POINT (1 2))").foreach { bad =>
      intercept[IllegalArgumentException] {
        WktCore.numGeometries(u(bad))
      }
    }
  }

  /** Even-odd containment across every component of a MULTIPOLYGON via
    * the public parser-free text split (each component re-wrapped as a
    * POLYGON and tested with the holes-aware containsWkt). */
  private def multiContains(mp: String, x: Double, y: Double): Boolean = {
    // split components at "(((" boundaries: ")), ((" separates them
    val inner = mp.substring(mp.indexOf('(') + 1, mp.lastIndexOf(')'))
    inner.split("\\)\\)\\s*,\\s*\\(\\(").exists { comp0 =>
      val comp = comp0.stripPrefix("((").stripSuffix("))")
      WktCore.containsWkt(u(s"POLYGON (($comp))"), x, y)
    }
  }

  test("WKB/GeoJSON round-trip fuzz: 60 overlay outputs + hostile bytes (r13)") {
    val rnd = new scala.util.Random(20260816)
    var holed = 0
    var multi = 0
    for (trial <- 1 to 60) {
      val nA = 3 + rnd.nextInt(5)
      val nB = 3 + rnd.nextInt(5)
      val a = skyline(0.0, 0.0, 1.0, Seq.fill(nA)(0.5 * (1 + rnd.nextInt(6))))
      val b = skyline(0.5 * rnd.nextInt(5), 0.5 * (rnd.nextInt(5) - 2),
        1.0, Seq.fill(nB)(0.5 * (1 + rnd.nextInt(6))))
      val op = trial % 3
      val out =
        if (op == 0) WktCore.intersectionWkt(u(a), u(b))
        else if (op == 1) WktCore.unionWkt(u(a), u(b))
        else WktCore.differenceWkt(u(a), u(b))
      val txt = out.toString
      if (txt.startsWith("MULTIPOLYGON")) multi += 1
      if (txt.contains("), (")) holed += 1
      // canonical overlay output survives BOTH interchange trips
      // text-exactly, and the binary is idempotent
      val wkb = WktCore.toWkb(out)
      assert(WktCore.fromWkb(wkb).toString == txt,
        s"trial $trial WKB trip\nin=$txt")
      assert(java.util.Arrays.equals(WktCore.toWkb(WktCore.fromWkb(wkb)), wkb),
        s"trial $trial WKB not idempotent")
      assert(WktCore.fromGeoJson(WktCore.toGeoJson(out)).toString == txt,
        s"trial $trial GeoJSON trip\nin=$txt")
      // area survives exactly (same doubles in, same doubles out)
      assert(WktCore.area(u(WktCore.fromWkb(wkb).toString)) ==
        WktCore.area(out), s"trial $trial area drift")
    }
    info(s"round-tripped: $multi MULTIPOLYGON, $holed holed of 60")

    // hostile bytes: the reader must throw cleanly (IllegalArgument /
    // buffer bounds), never return garbage or attempt giant allocations
    for (trial <- 1 to 500) {
      val len = rnd.nextInt(64)
      val bytes = new Array[Byte](len)
      rnd.nextBytes(bytes)
      // half the trials get a plausible header to reach deeper states
      if (trial % 2 == 0 && len >= 5) {
        bytes(0) = 1
        bytes(1) = (1 + rnd.nextInt(6)).toByte
        bytes(2) = 0; bytes(3) = 0; bytes(4) = 0
      }
      try {
        val out = WktCore.fromWkb(bytes)
        // rare survivor: must itself be canonical + re-encodable
        assert(WktCore.fromWkb(WktCore.toWkb(out)).toString == out.toString)
      } catch {
        case _: IllegalArgumentException => // loud, expected
        case _: java.nio.BufferUnderflowException =>
          fail(s"trial $trial: raw underflow escaped the length guards")
      }
    }
  }
}
