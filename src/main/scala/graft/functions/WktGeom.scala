package graft.functions

import scala.collection.mutable.{ArrayBuffer, ArrayBuilder}
import scala.reflect.ClassTag

/** A parsed WKT geometry — what `WktCore.read` returns and every
  * geometry kernel matches on. Coordinates are flat `[x0, y0, x1, y1, …]`
  * arrays; polygon rings are open (the closing vertex is dropped).
  * EMPTY is the declared kind with no parts. Values may be shared
  * through the parse memo, so their arrays are never mutated. */
sealed trait Geom

object Geom {
  /** One polygon: its shell and its interior rings. */
  type Poly = (Array[Double], Array[Array[Double]])

  final case class Point(x: Double, y: Double) extends Geom
  final case class MultiPoint(coords: Array[Double]) extends Geom
  /** A LINESTRING (one part, none when EMPTY) or a MULTILINESTRING. */
  final case class Lines(parts: Array[Array[Double]], multi: Boolean) extends Geom
  /** A POLYGON (one component, none when EMPTY) or a MULTIPOLYGON. */
  final case class Polys(polys: Array[Poly], multi: Boolean) extends Geom
  final case class Collection(members: Array[Geom]) extends Geom

  /** Reads one WKT geometry. Keywords are case-insensitive and
    * whitespace is every character ≤ U+0020 (`String.trim`'s rule).
    * Malformed text throws IllegalArgumentException: an unknown
    * keyword, text before the first '(' or after the last ')',
    * unbalanced parens, a line with fewer than 2 points, a ring with
    * fewer than 3 vertices, POINT EMPTY. */
  def parse(text: String): Geom = {
    val r = new Reader(text)
    val g = r.geom()
    r.end()
    g
  }

  private final class Reader(t: String) {
    private var i = 0

    private def fail(what: String): Nothing =
      throw new IllegalArgumentException(s"$what: ${t.trim}")

    private def ws(): Unit = while (i < t.length && t.charAt(i) <= ' ') i += 1

    private def at(c: Char): Boolean = {
      ws()
      i < t.length && t.charAt(i) == c
    }

    private def take(c: Char, kind: String): Unit =
      if (at(c)) i += 1 else fail(s"bad $kind syntax")

    private def word(): String = {
      ws()
      val st = i
      while (i < t.length && Character.isLetter(t.charAt(i))) i += 1
      t.substring(st, i)
    }

    def end(): Unit = {
      ws()
      if (i < t.length) fail("trailing content after the geometry")
    }

    private def num(kind: String): Double = {
      ws()
      val st = i
      while (i < t.length && t.charAt(i) > ' ' && t.charAt(i) != ',' &&
          t.charAt(i) != '(' && t.charAt(i) != ')') i += 1
      if (i == st) fail(s"bad $kind coordinate")
      java.lang.Double.parseDouble(t.substring(st, i))
    }

    /** `(item, item, …)` */
    private def list[A: ClassTag](kind: String)(item: => A): Array[A] = {
      take('(', kind)
      val out = ArrayBuffer(item)
      while (at(',')) { i += 1; out += item }
      take(')', kind)
      out.toArray
    }

    /** `(x y, x y, …)` with at least `min` points. */
    private def chain(kind: String, min: Int, what: String): Array[Double] = {
      take('(', kind)
      val b = new ArrayBuilder.ofDouble
      b += num(kind); b += num(kind)
      while (at(',')) { i += 1; b += num(kind); b += num(kind) }
      take(')', kind)
      val c = b.result()
      if (c.length < 2 * min) fail(s"$kind $what needs >= $min points")
      c
    }

    private def ring(kind: String): Array[Double] = {
      val c = chain(kind, 3, "ring")
      val n = c.length / 2
      if (n > 3 && c(0) == c(2 * n - 2) && c(1) == c(2 * n - 1))
        java.util.Arrays.copyOf(c, 2 * (n - 1))
      else c
    }

    private def poly(kind: String): Poly = {
      val rings = list(kind)(ring(kind))
      (rings.head, rings.tail)
    }

    /** MULTIPOINT members: `(x y)` or bare `x y`. */
    private def points(kind: String): Array[Double] =
      list(kind) {
        val paren = at('(')
        if (paren) i += 1
        val p = (num(kind), num(kind))
        if (paren) take(')', kind)
        p
      }.flatMap(p => Array(p._1, p._2))

    def geom(): Geom = {
      val kind = word().toUpperCase(java.util.Locale.ROOT)
      val mark = i
      val empty = word().equalsIgnoreCase("EMPTY")
      if (!empty) i = mark
      kind match {
        case "POINT" =>
          if (empty) fail("POINT EMPTY is not supported")
          take('(', kind)
          val p = Point(num(kind), num(kind))
          take(')', kind)
          p
        case "MULTIPOINT" =>
          MultiPoint(if (empty) Array.emptyDoubleArray else points(kind))
        case "LINESTRING" =>
          Lines(if (empty) Array.empty else Array(chain(kind, 2, "line")), multi = false)
        case "MULTILINESTRING" =>
          Lines(if (empty) Array.empty else list(kind)(chain(kind, 2, "part")), multi = true)
        case "POLYGON" =>
          Polys(if (empty) Array.empty else Array(poly(kind)), multi = false)
        case "MULTIPOLYGON" =>
          Polys(if (empty) Array.empty else list(kind)(poly(kind)), multi = true)
        case "GEOMETRYCOLLECTION" =>
          Collection(if (empty) Array.empty else list(kind)(geom()))
        case _ => fail("unsupported geometry")
      }
    }
  }
}
