package graft.spatial

import org.locationtech.jts.{geom => jts}
import org.locationtech.jts.algorithm.MinimumBoundingCircle
import org.locationtech.jts.geom.impl.PackedCoordinateSequence
import org.locationtech.jts.operation.buffer.BufferOp
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import org.locationtech.jts.operation.relateng.{RelateNG, RelatePredicate, TopologyPredicate}
import org.locationtech.jts.operation.valid.IsSimpleOp
import org.locationtech.jts.simplify.DouglasPeuckerSimplifier

/**
 * Set-theoretic / constructive operations and the relationship predicates
 * beyond [[GeomOps]], delegated to JTS 1.20 (the reference likewise
 * delegates to the `geo` crate instead of hand-rolling geometry):
 *  - overlay (intersection/difference/union/symdifference): `OverlayNGRobust`,
 *    any pair of Point/Line/Polygon classes and their multi forms;
 *  - buffer: `BufferOp` with `quadSegs` segments per quarter circle;
 *  - relate and the predicates: `RelateNG`; isSimple: `IsSimpleOp`;
 *    boundary: `getBoundary`; minimum bounding circle: `MinimumBoundingCircle`.
 *
 * Semantics are JTS's (GEOS/PostGIS share them). Outputs are 2D and are
 * written by our own WKB/WKT writers. Constructive outputs drop collinear
 * node vertices, so a dissolved union keeps only its corners. Inputs JTS
 * rejects — a mixed-dimension GEOMETRYCOLLECTION operand, an invalid
 * polygon the overlay cannot node (e.g. a bowtie), an unclosed ring —
 * give `None` (SQL NULL), not a failed query.
 */
object GeomSetOps {

  private val factory = new jts.GeometryFactory()

  // ------------------------------------------------------------- bridge

  private def seq(cs: Array[Double], dim: Int): jts.CoordinateSequence =
    new PackedCoordinateSequence.Double(cs, dim, if (dim == 4) 1 else 0)

  private def ring(cs: Array[Double], dim: Int): jts.LinearRing =
    factory.createLinearRing(seq(cs, dim))

  private[spatial] def toJts(g: Geometry): jts.Geometry = g match {
    case p: Point => if (p.isEmpty) factory.createPoint() else factory.createPoint(seq(p.coords, p.dim))
    case l: LineString => factory.createLineString(seq(l.coords, l.dim))
    case pg: Polygon =>
      if (pg.isEmpty) factory.createPolygon()
      else factory.createPolygon(ring(pg.rings(0), pg.dim), pg.rings.tail.map(ring(_, pg.dim)))
    case mp: MultiPoint => factory.createMultiPoint(mp.points.map(toJts(_).asInstanceOf[jts.Point]))
    case ml: MultiLineString =>
      factory.createMultiLineString(ml.lines.map(toJts(_).asInstanceOf[jts.LineString]))
    case mpg: MultiPolygon =>
      factory.createMultiPolygon(mpg.polygons.map(toJts(_).asInstanceOf[jts.Polygon]))
    case gc: GeometryCollection => factory.createGeometryCollection(gc.geoms.map(toJts))
  }

  private def coords(s: jts.CoordinateSequence): Array[Double] = {
    val out = new Array[Double](s.size * 2)
    var i = 0
    while (i < s.size) { out(2 * i) = s.getX(i); out(2 * i + 1) = s.getY(i); i += 1 }
    out
  }

  private def polygon(p: jts.Polygon): Polygon =
    if (p.isEmpty) Polygon(Array.empty, 2)
    else Polygon(coords(p.getExteriorRing.getCoordinateSequence) +:
      Array.tabulate(p.getNumInteriorRing)(i => coords(p.getInteriorRingN(i).getCoordinateSequence)), 2)

  private def parts[T](g: jts.Geometry)(f: jts.Geometry => T)(implicit ct: scala.reflect.ClassTag[T]): Array[T] =
    Array.tabulate(g.getNumGeometries)(i => f(g.getGeometryN(i)))

  private def fromJts(g: jts.Geometry): Geometry = g match {
    case p: jts.Point => if (p.isEmpty) Point.empty else Point.xy(p.getX, p.getY)
    case l: jts.LineString => LineString(coords(l.getCoordinateSequence), 2)
    case p: jts.Polygon => polygon(p)
    case mp: jts.MultiPoint => MultiPoint(parts(mp)(fromJts(_).asInstanceOf[Point]), 2)
    case ml: jts.MultiLineString => MultiLineString(parts(ml)(fromJts(_).asInstanceOf[LineString]), 2)
    case mpg: jts.MultiPolygon => MultiPolygon(parts(mpg)(p => polygon(p.asInstanceOf[jts.Polygon])), 2)
    case gc: jts.GeometryCollection => GeometryCollection(parts(gc)(fromJts), 2)
  }

  /** Drops collinear node vertices the overlay leaves on straight edges
    * (Douglas–Peucker at tolerance 0 removes exactly the zero-deviation
    * vertices; no validity repair). */
  private def cornersOnly(g: jts.Geometry): jts.Geometry = {
    val s = new DouglasPeuckerSimplifier(g)
    s.setDistanceTolerance(0.0)
    s.setEnsureValid(false)
    s.getResultGeometry
  }

  /** `f`, or `None` when JTS rejects an input (mixed-dimension collection,
    * malformed ring, or an invalid polygon the overlay cannot node). */
  private[spatial] def attempt[T](f: => T): Option[T] =
    try Some(f) catch {
      case _: IllegalArgumentException | _: jts.TopologyException |
           _: org.locationtech.jts.util.AssertionFailedException => None
    }

  // ---------------------------------------------------------- overlay

  private def overlay(a: Geometry, b: Geometry, op: Int): Option[Geometry] =
    attempt(fromJts(cornersOnly(OverlayNGRobust.overlay(toJts(a), toJts(b), op))))

  def intersection(a: Geometry, b: Geometry): Option[Geometry] = overlay(a, b, OverlayNG.INTERSECTION)
  def difference(a: Geometry, b: Geometry): Option[Geometry] = overlay(a, b, OverlayNG.DIFFERENCE)
  def union(a: Geometry, b: Geometry): Option[Geometry] = overlay(a, b, OverlayNG.UNION)
  def symDifference(a: Geometry, b: Geometry): Option[Geometry] = overlay(a, b, OverlayNG.SYMDIFFERENCE)

  /** Dissolved union of a whole set (unary union, cascaded over `OverlayNGRobust`). */
  def unionAll(gs: Seq[Geometry]): Option[Geometry] =
    attempt(fromJts(cornersOnly(OverlayNGRobust.union(
      factory.createGeometryCollection(gs.map(toJts).toArray)))))

  /** ST_Buffer with `quadSegs` segments per quarter circle (PostGIS default
    * 8); negative distances erode areal inputs. */
  def buffer(g: Geometry, dist: Double, quadSegs: Int = 8): Option[Geometry] =
    attempt(fromJts(BufferOp.bufferOp(toJts(g), dist, quadSegs)))

  // ------------------------------------------------------- predicates
  // These throw where JTS rejects an input (e.g. an unclosed ring); the SQL
  // expressions turn that into NULL through [[attempt]].

  private def holds(a: Geometry, b: Geometry, p: TopologyPredicate): Boolean =
    RelateNG.relate(toJts(a), toJts(b), p)

  /** ST_Relate: the DE-9IM matrix as a 9-char string. */
  def relate(a: Geometry, b: Geometry): String = RelateNG.relate(toJts(a), toJts(b)).toString
  def equalsGeom(a: Geometry, b: Geometry): Boolean = holds(a, b, RelatePredicate.equalsTopo())
  def touches(a: Geometry, b: Geometry): Boolean = holds(a, b, RelatePredicate.touches())
  def crosses(a: Geometry, b: Geometry): Boolean = holds(a, b, RelatePredicate.crosses())
  def overlaps(a: Geometry, b: Geometry): Boolean = holds(a, b, RelatePredicate.overlaps())
  def isSimple(g: Geometry): Boolean = IsSimpleOp.isSimple(toJts(g))

  /** ST_Boundary; a collection's boundary is the collection of its members'. */
  def boundary(g: Geometry): Geometry = g match {
    case gc: GeometryCollection => GeometryCollection(gc.geoms.map(boundary), 2)
    case _ => fromJts(toJts(g).getBoundary)
  }
}

/** Minimum enclosing circle of all vertices (JTS `MinimumBoundingCircle`). */
object MinCircle {
  /** (cx, cy, r) of the smallest circle containing all vertices; None if
    * empty or rejected by JTS. */
  def of(g: Geometry): Option[(Double, Double, Double)] =
    GeomSetOps.attempt {
      val m = new MinimumBoundingCircle(GeomSetOps.toJts(g))
      Option(m.getCentre).map(c => (c.x, c.y, m.getRadius))
    }.flatten
}
