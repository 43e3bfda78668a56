package graft.functions

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Geometry AGGREGATES (r13, SURVEY §2.10) — the Trino geospatial
  * aggregation pair:
  *
  *  - `geometry_union_agg` (Trino's geometry_union / ST_Union over a
  *    group): the "dissolve" every spatial rollup wants. Buffer and
  *    output are WKT text; reduce/merge fold `WktCore.unionMixed` (the
  *    r13 overlay handles shared borders, holes, MULTIPOLYGON and
  *    EMPTY, so any fold shape is total on valid inputs). The union
  *    REGION is associative + commutative, so map-side partial
  *    aggregation is sound; finish re-renders through
  *    `WktCore.finishMixed`, dropping exactly-collinear fold artifacts so
  *    the TEXT is a pure function of the region, independent of
  *    reduce/merge order (GeomAggSpec pins fold-order invariance).
  *
  *  - `convex_hull_agg`: hull of everything in the group. A hull
  *    depends only on vertices and hull(A ∪ B) = hull(hull(A) ∪
  *    hull(B)), so the buffer keeps just the CURRENT hull's vertices
  *    (pruned by monotone chain at every step — O(hull) state, never
  *    O(group)); while the accumulated points are still collinear
  *    (< 3 hull vertices) the distinct point set is carried instead.
  *    finish renders the minimal CCW hull, loud when the whole group
  *    is collinear — `st_convexhull`'s contract.
  *
  * Scale: both buffers are small (a geometry boundary / a hull vertex
  * list), merges are associative, and partial aggregation runs
  * map-side — 100 TB of geometries reduce to #groups × #partitions
  * buffers on the wire. Per-merge cost is the overlay's O((na+nb)²)
  * noding on the group's ACCUMULATED boundary — the standard dissolve
  * assumption that per-group result complexity stays bounded.
  */
object GeomAggregators {

  val unionOf: Aggregator[String, String, String] =
    new Aggregator[String, String, String] {
      def zero: String = "POLYGON EMPTY"
      // r14: mixed-dimension groups (areal + line + point kinds,
      // GEOMETRYCOLLECTION members included) fold through unionMixed —
      // areal parts ride the overlay union exactly as before (all-areal
      // groups produce byte-identical r13 output), line/point parts
      // dedupe and drop when covered by the region, and a
      // mixed-dimension result renders as a GEOMETRYCOLLECTION in fixed
      // dimension order — Trino's geometry_union shape
      def reduce(b: String, g: String): String =
        if (g == null) b else merge(b, g)
      def merge(x: String, y: String): String =
        WktCore.render(WktCore.unionMixed(Geom.parse(x), Geom.parse(y)))
      def finish(b: String): String =
        WktCore.render(WktCore.finishMixed(Geom.parse(b)))
      def bufferEncoder: Encoder[String] = Encoders.STRING
      def outputEncoder: Encoder[String] = Encoders.STRING
    }

  case class HullBuf(var pts: Array[Double])

  val hullOf: Aggregator[String, HullBuf, String] =
    new Aggregator[String, HullBuf, String] {
      def zero: HullBuf = HullBuf(Array.emptyDoubleArray)

      // prune to the hull's vertices; keep the DISTINCT point set while
      // the accumulation is still degenerate (< 3 hull vertices)
      private def prune(pts: Array[Double]): Array[Double] = {
        val hull = WktCore.monotoneChain(pts)
        if (hull.nonEmpty) hull
        else {
          val seen = scala.collection.mutable.LinkedHashSet[(Double, Double)]()
          var i = 0
          while (2 * i < pts.length) {
            seen += ((pts(2 * i), pts(2 * i + 1)))
            i += 1
          }
          seen.toArray.sorted.flatMap { case (x, y) => Array(x, y) }
        }
      }

      def reduce(b: HullBuf, g: String): HullBuf = {
        if (g != null) b.pts = prune(b.pts ++ WktCore.vertices(Geom.parse(g)))
        b
      }
      def merge(x: HullBuf, y: HullBuf): HullBuf = {
        x.pts = prune(x.pts ++ y.pts)
        x
      }
      def finish(b: HullBuf): String = {
        if (b.pts.isEmpty) return null // all-NULL group, Trino's NULL
        val hull = WktCore.monotoneChain(b.pts)
        // collinear groups degenerate Trino-style (r16): POINT /
        // LINESTRING between the lexicographic extremes, shared with
        // st_convexhull
        if (hull.length >= 6) WktCore.fmtRing(hull)
        else WktCore.degenerateHullWkt(b.pts)
      }
      def bufferEncoder: Encoder[HullBuf] = Encoders.product[HullBuf]
      def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Column-form aggregates. */
  def geometryUnion(c: Column): Column = udaf(unionOf).apply(c)
  def convexHull(c: Column): Column = udaf(hullOf).apply(c)
}
