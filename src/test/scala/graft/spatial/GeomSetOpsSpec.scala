package graft.spatial

import org.scalatest.funsuite.AnyFunSuite

class GeomSetOpsSpec extends AnyFunSuite {

  private def poly(wkt: String) = WKT.read(wkt).asInstanceOf[Polygon]

  val sq10 = poly("POLYGON ((0 0,10 0,10 10,0 10,0 0))")      // convex
  val sq5 = poly("POLYGON ((5 5,15 5,15 15,5 15,5 5))")       // convex, overlaps sq10
  val inner = poly("POLYGON ((2 2,4 2,4 4,2 4,2 2))")         // inside sq10
  val far = poly("POLYGON ((100 100,110 100,110 110,100 110,100 100))")
  val lShape = poly("POLYGON ((0 0,6 0,6 2,2 2,2 6,0 6,0 0))") // non-convex

  test("intersection of overlapping convex squares") {
    val r = GeomSetOps.intersection(sq10, sq5).get
    assert(GeomOps.area(r) == 25.0)
    val e = r.envelope
    assert(e.xmin == 5 && e.ymin == 5 && e.xmax == 10 && e.ymax == 10)
  }

  test("intersection with contained polygon = contained polygon") {
    val r = GeomSetOps.intersection(sq10, inner).get
    assert(GeomOps.area(r) == 4.0)
  }

  test("intersection of disjoint polygons is empty") {
    val r = GeomSetOps.intersection(sq10, far).get
    assert(r.isEmpty || GeomOps.area(r) == 0.0)
  }

  test("intersection involving non-convex works when other side is convex") {
    val r = GeomSetOps.intersection(lShape, sq10).get // sq10 convex
    assert(GeomOps.area(r) == GeomOps.area(lShape)) // lShape inside sq10
  }

  test("difference: area identity A−B = area(A) − area(A∩B)") {
    val d = GeomSetOps.difference(sq10, sq5).get
    assert(math.abs(GeomOps.area(d) - (100.0 - 25.0)) < 1e-9)
    val d2 = GeomSetOps.difference(sq10, inner).get
    assert(math.abs(GeomOps.area(d2) - 96.0) < 1e-9)
  }

  test("union: area identity A∪B = A + B − A∩B") {
    val u = GeomSetOps.union(sq10, sq5).get
    assert(math.abs(GeomOps.area(u) - 175.0) < 1e-9)
    val disjoint = GeomSetOps.union(sq10, far).get
    assert(GeomOps.area(disjoint) == 200.0)
  }

  test("symDifference area = A + B − 2·A∩B") {
    val s = GeomSetOps.symDifference(sq10, sq5).get
    assert(math.abs(GeomOps.area(s) - 150.0) < 1e-9)
  }

  test("non-convex × non-convex overlay via triangulation") {
    val l2 = poly("POLYGON ((1 1,9 1,9 3,3 3,3 9,1 9,1 1))") // L, overlaps lShape
    val aL = GeomOps.area(lShape)
    val aL2 = GeomOps.area(l2)
    val inter = GeomOps.area(GeomSetOps.intersection(lShape, l2).get)
    val diff = GeomOps.area(GeomSetOps.difference(lShape, l2).get)
    val uni = GeomOps.area(GeomSetOps.union(lShape, l2).get)
    val sym = GeomOps.area(GeomSetOps.symDifference(lShape, l2).get)
    assert(inter > 0)
    assert(math.abs(diff - (aL - inter)) < 1e-9)
    assert(math.abs(uni - (aL + aL2 - inter)) < 1e-9)
    assert(math.abs(sym - (aL + aL2 - 2 * inter)) < 1e-9)
  }

  test("hole-aware overlay: holes excluded from intersection, restored in difference") {
    val holed = poly("POLYGON ((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4))") // area 96
    val clip = poly("POLYGON ((3 3,7 3,7 7,3 7,3 3))")                              // area 16
    // a∩b excludes the hole: 16 − 4 = 12
    val inter = GeomOps.area(GeomSetOps.intersection(holed, clip).get)
    assert(math.abs(inter - 12.0) < 1e-9)
    // a−b: 96 − 12 = 84
    val diff = GeomOps.area(GeomSetOps.difference(holed, clip).get)
    assert(math.abs(diff - 84.0) < 1e-9)
    // b−a: parts of clip inside a's hole survive: 16 − 12 = 4
    val diff2 = GeomOps.area(GeomSetOps.difference(clip, holed).get)
    assert(math.abs(diff2 - 4.0) < 1e-9)
    // union area: 96 + 16 − 12 = 100
    val uni = GeomOps.area(GeomSetOps.union(holed, clip).get)
    assert(math.abs(uni - 100.0) < 1e-9)
  }

  test("union aggregator dissolves overlapping polygons (area)") {
    val agg = new UnionAggregator
    val p1 = WKB.write(poly("POLYGON ((0 0,10 0,10 10,0 10,0 0))"))  // 100
    val p2 = WKB.write(poly("POLYGON ((5 5,15 5,15 15,5 15,5 5))"))  // 100, overlap 25
    val p3 = WKB.write(poly("POLYGON ((100 100,101 100,101 101,100 101,100 100))")) // 1, disjoint
    val b = agg.reduce(agg.reduce(agg.reduce(agg.zero, p1), p2), p3)
    val u = WKB.read(agg.finish(b))
    assert(math.abs(GeomOps.area(u) - 176.0) < 1e-9)
    // idempotent: unioning the same polygon twice adds nothing
    val b2 = agg.reduce(agg.reduce(agg.zero, p1), p1)
    assert(math.abs(GeomOps.area(WKB.read(agg.finish(b2))) - 100.0) < 1e-9)
  }

  test("point/multipoint set ops") {
    val p = WKT.read("POINT (5 5)")
    val mp = WKT.read("MULTIPOINT ((5 5),(50 50))")
    assert(!GeomSetOps.intersection(p, sq10).get.isEmpty)
    assert(GeomSetOps.intersection(WKT.read("POINT (50 50)"), sq10).get.isEmpty)
    // a one-point result is a POINT, as in PostGIS/GEOS
    val mpIn = GeomSetOps.intersection(mp, sq10).get
    assert(mpIn.numPoints == 1)
    val mpDiff = GeomSetOps.difference(mp, sq10).get
    assert(mpDiff.numPoints == 1 && mpDiff.envelope.xmin == 50)
  }

  test("buffer of point: ~circle area, contains center ring") {
    val b = GeomSetOps.buffer(WKT.read("POINT (0 0)"), 10.0).get
    val a = GeomOps.area(b)
    assert(math.abs(a - math.Pi * 100) / (math.Pi * 100) < 0.01) // 32-gon ≈ 99.4%
    assert(GeomOps.contains(b, WKT.read("POINT (9 0)")))
    assert(!GeomOps.intersects(b, WKT.read("POINT (11 0)")))
  }

  test("buffer of linestring: capsule covers the line") {
    val l = WKT.read("LINESTRING (0 0,10 0)")
    val b = GeomSetOps.buffer(l, 2.0).get
    assert(GeomOps.intersects(b, WKT.read("POINT (5 1.9)")))
    assert(!GeomOps.intersects(b, WKT.read("POINT (5 2.5)")))
    assert(GeomOps.intersects(b, WKT.read("POINT (-1.5 0)"))) // end cap
  }

  test("negative buffer erodes the polygon") {
    val sq = poly("POLYGON ((0 0,10 0,10 10,0 10,0 0))")
    val eroded = GeomSetOps.buffer(sq, -2.0).get
    // exact erosion = 6×6 = 36; capsule N-gon approximation is close
    assert(math.abs(GeomOps.area(eroded) - 36.0) < 1.0)
    assert(GeomOps.contains(sq, WKT.read("POINT (5 5)")))
    assert(!GeomOps.intersects(eroded, WKT.read("POINT (1 1)"))) // within the band
    // erode past the inradius → empty
    val gone = GeomSetOps.buffer(sq, -6.0).get
    assert(GeomOps.area(gone) < 1e-6)
  }

  test("equals") {
    val sq10b = poly("POLYGON ((10 0,10 10,0 10,0 0,10 0))") // rotated start
    assert(GeomSetOps.equalsGeom(sq10, sq10b))
    assert(!GeomSetOps.equalsGeom(sq10, sq5))
    assert(GeomSetOps.equalsGeom(WKT.read("POINT (1 2)"), WKT.read("POINT (1 2)")))
    assert(GeomSetOps.equalsGeom(
      WKT.read("LINESTRING (0 0,1 1)"), WKT.read("LINESTRING (1 1,0 0)")))
  }

  test("touches") {
    val adjacent = poly("POLYGON ((10 0,20 0,20 10,10 10,10 0))") // shares edge x=10
    assert(GeomSetOps.touches(sq10, adjacent))
    assert(!GeomSetOps.touches(sq10, sq5))      // overlap, not touch
    assert(!GeomSetOps.touches(sq10, far))      // disjoint
    val cornerPt = WKT.read("POINT (10 10)")
    assert(GeomSetOps.touches(sq10, cornerPt))  // boundary point
    val insidePt = WKT.read("POINT (5 5)")
    assert(!GeomSetOps.touches(sq10, insidePt))
  }

  test("crosses") {
    val through = WKT.read("LINESTRING (-5 5,15 5)")
    assert(GeomSetOps.crosses(through, sq10))
    val insideLine = WKT.read("LINESTRING (2 2,8 8)")
    assert(!GeomSetOps.crosses(insideLine, sq10)) // fully within, no exit
    val l1 = WKT.read("LINESTRING (0 0,10 10)")
    val l2 = WKT.read("LINESTRING (0 10,10 0)")
    assert(GeomSetOps.crosses(l1, l2))
  }

  test("overlaps") {
    assert(GeomSetOps.overlaps(sq10, sq5))
    assert(!GeomSetOps.overlaps(sq10, inner))   // containment, not overlap
    assert(!GeomSetOps.overlaps(sq10, far))
    assert(!GeomSetOps.overlaps(sq10, WKT.read("LINESTRING (-5 5,15 5)"))) // dim mismatch
  }

  test("overlaps detected when all corners sit on shared boundaries") {
    // stride-64 width-96 rects: corners of each lie on the other's edges
    val r0 = poly("POLYGON ((0 0,96 0,96 64,0 64,0 0))")
    val r1 = poly("POLYGON ((64 0,160 0,160 64,64 64,64 0))")
    assert(GeomSetOps.overlaps(r0, r1))
    assert(!GeomSetOps.touches(r0, r1))
    val r2 = poly("POLYGON ((128 0,224 0,224 64,128 64,128 0))")
    assert(!GeomSetOps.overlaps(r0, r2)) // gap of 32
    // edge-adjacent (shared edge only) stays touches, not overlaps
    val adj = poly("POLYGON ((96 0,192 0,192 64,96 64,96 0))")
    assert(GeomSetOps.touches(r0, adj))
    assert(!GeomSetOps.overlaps(r0, adj))
  }

  test("isSimple") {
    assert(GeomSetOps.isSimple(WKT.read("LINESTRING (0 0,1 1,2 0)")))
    assert(!GeomSetOps.isSimple(WKT.read("LINESTRING (0 0,10 10,10 0,0 10)"))) // bowtie
    assert(GeomSetOps.isSimple(sq10))
    assert(!GeomSetOps.isSimple(WKT.read("MULTIPOINT ((1 1),(1 1))")))
  }

  test("boundary") {
    // a hole-free polygon's boundary is its shell as a LINESTRING (PostGIS)
    assert(WKT.write(GeomSetOps.boundary(sq10)) ==
      "LINESTRING (0.0 0.0,10.0 0.0,10.0 10.0,0.0 10.0,0.0 0.0)")
    assert(WKT.write(GeomSetOps.boundary(WKT.read("LINESTRING (0 0,5 5)"))) ==
      "MULTIPOINT ((0.0 0.0),(5.0 5.0))")
    assert(GeomSetOps.boundary(WKT.read("POINT (1 1)")).isEmpty)
  }

  test("minimum bounding circle (welzl)") {
    // square corners: circle through diagonal, r = 5√2
    val mp = WKT.read("MULTIPOINT ((0 0),(10 0),(10 10),(0 10))")
    val Some((cx, cy, r)) = MinCircle.of(mp): @unchecked
    assert(math.abs(cx - 5.0) < 1e-9 && math.abs(cy - 5.0) < 1e-9)
    assert(math.abs(r - 5.0 * math.sqrt(2)) < 1e-9)
    // collinear
    val Some((cx2, _, r2)) = MinCircle.of(WKT.read("MULTIPOINT ((0 0),(4 0),(10 0))")): @unchecked
    assert(math.abs(cx2 - 5.0) < 1e-9 && math.abs(r2 - 5.0) < 1e-9)
    // circle contains all vertices of a random-ish polygon
    val pg = WKT.read("POLYGON ((0 0,7 2,9 8,3 9,0 0))")
    val Some((px, py, pr)) = MinCircle.of(pg): @unchecked
    pg.foreachSeq { (cs, dim) =>
      var i = 0
      while (i + 1 < cs.length) {
        assert(math.hypot(cs(i) - px, cs(i + 1) - py) <= pr + 1e-9)
        i += dim
      }
    }
  }

  test("relate matrix basics") {
    val m = GeomSetOps.relate(sq10, inner) // contains
    assert(m.length == 9)
    assert(m(0) == '2') // interiors intersect, areal
    val disj = GeomSetOps.relate(sq10, far)
    assert(disj(0) == 'F')
  }

  // ------------------------------------------------------------- dissolve

  private def perimeter(g: Geometry): Double = GeomOps.perimeter(g)

  private def unionAgg(polys: Geometry*): Geometry = {
    val agg = new UnionAggregator
    WKB.read(agg.finish(polys.foldLeft(agg.zero)((b, p) => agg.reduce(b, WKB.write(p)))))
  }

  test("union of edge-adjacent squares dissolves to ONE polygon, shared edge gone") {
    val a = poly("POLYGON ((0 0,2 0,2 2,0 2,0 0))")
    val b = poly("POLYGON ((2 0,4 0,4 2,2 2,2 0))")
    val u = GeomSetOps.union(a, b).get
    assert(u.isInstanceOf[Polygon], u.typeName)
    assert(GeomOps.area(u) == 8.0)
    assert(perimeter(u) == 12.0) // 2x(4+2): the shared x=2 edge is dissolved
    // corners only — noding artifacts on the straight top/bottom removed
    assert(u.numPoints == 5, WKT.write(u))
  }

  test("union with a T-junction (partial shared edge) dissolves correctly") {
    val a = poly("POLYGON ((0 0,2 0,2 2,0 2,0 0))")
    val b = poly("POLYGON ((2 0,4 0,4 1,2 1,2 0))") // half-height neighbor
    val u = GeomSetOps.union(a, b).get
    assert(u.isInstanceOf[Polygon], u.typeName)
    assert(GeomOps.area(u) == 6.0)
    assert(perimeter(u) == 12.0) // (0,0)->(4,0)->(4,1)->(2,1)->(2,2)->(0,2)->
    assert(u.numPoints == 7, WKT.write(u))
  }

  test("union of overlapping rectangles dissolves the seam") {
    val a = poly("POLYGON ((0 0,2 0,2 2,0 2,0 0))")
    val b = poly("POLYGON ((1 0,3 0,3 2,1 2,1 0))")
    val u = GeomSetOps.union(a, b).get
    assert(u.isInstanceOf[Polygon], u.typeName)
    assert(GeomOps.area(u) == 6.0)
    assert(perimeter(u) == 10.0)
  }

  test("symDifference of touching rectangles merges across the zero-area seam") {
    val a = poly("POLYGON ((0 0,2 0,2 2,0 2,0 0))")
    val b = poly("POLYGON ((2 0,4 0,4 2,2 2,2 0))")
    val sd = GeomSetOps.symDifference(a, b).get
    assert(sd.isInstanceOf[Polygon], sd.typeName)
    assert(GeomOps.area(sd) == 8.0)
    assert(perimeter(sd) == 12.0)
    // overlapping case stays two parts (left sliver + right sliver)
    val c = poly("POLYGON ((1 0,3 0,3 2,1 2,1 0))")
    val sd2 = GeomSetOps.symDifference(a, c).get
    assert(sd2.isInstanceOf[MultiPolygon], sd2.typeName)
    assert(GeomOps.area(sd2) == 4.0)
    assert(perimeter(sd2) == 12.0)
  }

  test("dissolve reconstructs holes: disjoint frame tiles become shell + hole") {
    val tiles = Array(
      poly("POLYGON ((0 0,1 0,1 3,0 3,0 0))"),   // left
      poly("POLYGON ((2 0,3 0,3 3,2 3,2 0))"),   // right
      poly("POLYGON ((1 0,2 0,2 1,1 1,1 0))"),   // bottom middle
      poly("POLYGON ((1 2,2 2,2 3,1 3,1 2))"))   // top middle
    val d = unionAgg(tiles.toIndexedSeq: _*)
    val pg = d match {
      case p: Polygon => p
      case other => fail(s"expected Polygon, got ${other.typeName}: ${WKT.write(other)}")
    }
    assert(pg.rings.length == 2, WKT.write(pg)) // outer + hole
    assert(GeomOps.area(pg) == 8.0)             // 9 − 1
    assert(perimeter(pg) == 12.0 + 4.0)         // outer 3x3 + unit hole
  }

  test("dissolve keeps genuinely disjoint pieces apart") {
    val d = unionAgg(
      poly("POLYGON ((0 0,1 0,1 1,0 1,0 0))"),
      poly("POLYGON ((5 5,6 5,6 6,5 6,5 5))"))
    assert(d.isInstanceOf[MultiPolygon], d.typeName)
    assert(GeomOps.area(d) == 2.0)
    assert(perimeter(d) == 8.0)
  }

  test("dissolved output has no interior shared edges (area/perimeter invariants)") {
    // union area identity holds AND the perimeter equals the closed form
    // for every planted adjacency configuration — a tiling would keep the
    // doubled interior edges and overshoot the perimeter
    val cases = Seq(
      ("POLYGON ((0 0,2 0,2 2,0 2,0 0))", "POLYGON ((2 0,4 0,4 2,2 2,2 0))", 8.0, 12.0),
      ("POLYGON ((0 0,2 0,2 2,0 2,0 0))", "POLYGON ((1 0,3 0,3 2,1 2,1 0))", 6.0, 10.0),
      ("POLYGON ((0 0,2 0,2 2,0 2,0 0))", "POLYGON ((2 0,4 0,4 1,2 1,2 0))", 6.0, 12.0),
      ("POLYGON ((0 0,2 0,2 2,0 2,0 0))", "POLYGON ((0 2,2 2,2 4,0 4,0 2))", 8.0, 12.0))
    for ((wa, wb, area, perim) <- cases;
         u <- Seq(GeomSetOps.union(poly(wa), poly(wb)).get, unionAgg(poly(wa), poly(wb)))) {
      assert(GeomOps.area(u) == area, s"$wa u $wb")
      assert(perimeter(u) == perim, s"$wa u $wb -> ${WKT.write(u)}")
    }
  }

  // -------------------------------------------- regressions (JTS overlay)

  test("buffer of a polygon is one dissolved region (area 35.12, not 60.49)") {
    val b = GeomSetOps.buffer(poly("POLYGON ((0 0,4 0,4 4,0 4,0 0))"), 1.0).get
    assert(b.isInstanceOf[Polygon], b.typeName)
    // 16 + 4·4 sides + a 32-gon's quarter-circle corners (≈ π)
    assert(math.abs(GeomOps.area(b) - 35.12) < 0.01, GeomOps.area(b))
  }

  test("buffer of a bent line does not count the elbow twice (area 42.90)") {
    val b = GeomSetOps.buffer(WKT.read("LINESTRING (0 0,10 0,10 10)"), 1.0).get
    assert(b.isInstanceOf[Polygon], b.typeName)
    assert(math.abs(GeomOps.area(b) - 42.90) < 0.01, GeomOps.area(b))
  }

  test("st_union_agg of two edge-sharing squares is one Polygon of perimeter 12") {
    val u = unionAgg(
      poly("POLYGON ((0 0,2 0,2 2,0 2,0 0))"), poly("POLYGON ((2 0,4 0,4 2,2 2,2 0))"))
    assert(u.isInstanceOf[Polygon], WKT.write(u))
    assert(GeomOps.area(u) == 8.0)
    assert(perimeter(u) == 12.0)
    assert(u.numPoints == 5, WKT.write(u))
  }

  test("line-line intersection is their crossing point") {
    val r = GeomSetOps.intersection(
      WKT.read("LINESTRING (0 0,2 0)"), WKT.read("LINESTRING (1 -1,1 1)")).get
    assert(WKT.write(r) == "POINT (1.0 0.0)")
  }

  test("operands JTS rejects give None, not an exception") {
    val bowtie = poly("POLYGON ((0 0,10 10,10 0,0 10,0 0))")
    assert(GeomSetOps.intersection(bowtie, sq10).isEmpty)
    val mixed = WKT.read("GEOMETRYCOLLECTION (POINT (1 1),POLYGON ((0 0,1 0,1 1,0 0)))")
    assert(GeomSetOps.intersection(mixed, sq10).isEmpty)
    assert(GeomSetOps.union(sq10, mixed).isEmpty)
  }
}
