package graft.spatial

import org.scalacheck.{Arbitrary, Gen, Properties}
import org.scalacheck.Prop.forAll

/** Property tests (SURVEY §5c): envelope containment, extent-as-fold,
  * codec roundtrips, hull invariants. */
object GeometryPropSpec extends Properties("geometry") {

  private val coord: Gen[Double] =
    Gen.chooseNum(-1000.0, 1000.0).map(d => math.rint(d * 100) / 100)

  private val genPoint: Gen[Point] =
    for { x <- coord; y <- coord } yield Point.xy(x, y)

  private val genLine: Gen[LineString] =
    for {
      n <- Gen.chooseNum(2, 12)
      cs <- Gen.listOfN(n * 2, coord)
    } yield LineString(cs.toArray, 2)

  private val genRing: Gen[Array[Double]] =
    for {
      cx <- coord; cy <- coord
      n <- Gen.chooseNum(3, 10)
      r <- Gen.chooseNum(1.0, 100.0)
    } yield {
      // star-shaped valid ring around (cx, cy)
      val pts = (0 until n).map { i =>
        val a = 2 * math.Pi * i / n
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      (pts :+ pts.head).flatMap(p => Seq(p._1, p._2)).toArray
    }

  private val genPolygon: Gen[Polygon] = genRing.map(r => Polygon(Array(r), 2))

  private val genMultiPoint: Gen[MultiPoint] =
    Gen.nonEmptyListOf(genPoint).map(ps => MultiPoint(ps.toArray, 2))

  private val genGeom: Gen[Geometry] =
    Gen.oneOf(genPoint, genLine, genPolygon, genMultiPoint)

  // XYM: stride-3 geometries whose third ordinate is M, not Z
  private val genPointM: Gen[Point] =
    for { x <- coord; y <- coord; m <- coord } yield {
      val p = Point(Array(x, y, m), 3); p.measured = true; p
    }
  private val genXYMGeom: Gen[Geometry] = Gen.oneOf(
    genPointM,
    for { n <- Gen.chooseNum(2, 8); cs <- Gen.listOfN(n * 3, coord) } yield {
      val l = LineString(cs.toArray, 3); l.measured = true; l
    },
    Gen.nonEmptyListOf(genPointM).map { ps =>
      val mp = MultiPoint(ps.toArray, 3); mp.measured = true; mp
    })

  property("xym roundtrips: M WKT tag, +2000 WKB code, byte-stable") =
    forAll(genXYMGeom) { g =>
      val wkt = WKT.write(g)
      val wkb = WKB.write(g)
      val code = java.nio.ByteBuffer.wrap(wkb)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt(1)
      wkt.contains(" M ") &&
        code / 1000 == 2 &&
        WKT.write(WKB.read(wkb)) == wkt &&
        WKT.write(WKT.read(wkt)) == wkt &&
        java.util.Arrays.equals(WKB.write(WKB.read(wkb)), wkb) &&
        java.util.Arrays.equals(WKB.write(WKT.read(wkt)), wkb)
    }

  property("geojson roundtrip preserves wkt") = forAll(genGeom) { g =>
    val back = GeoJson.readOrNull(GeoJson.write(g))
    back != null && WKT.write(back) == WKT.write(g)
  }

  property("arbitrary strings never crash the GeoJSON reader") =
    forAll { (s: String) =>
      GeoJson.readOrNull(s) match { case null => true; case g => g.typeName != null }
    }

  property("bit-flips and inflated count fields of valid WKB never crash or over-allocate") =
    forAll(genGeom, Gen.chooseNum(0, 1000), Gen.chooseNum(0, 7)) { (g, pos, bit) =>
      val wkb = WKB.write(g)
      val flipped = wkb.clone()
      flipped(pos % wkb.length) = (flipped(pos % wkb.length) ^ (1 << bit)).toByte
      // a ~2^31 count field must be rejected by the count guard (null),
      // not allocated — an OutOfMemoryError would fail this property
      val bloated = wkb.clone()
      if (bloated.length >= 9) {
        bloated(5) = -1; bloated(6) = -1; bloated(7) = -1; bloated(8) = 0x7f
      }
      Seq(flipped, bloated).forall { bytes =>
        WKB.readOrNull(bytes) match { case null => true; case r => r.typeName != null }
      }
    }

  property("envelope contains every vertex") = forAll(genGeom) { g =>
    val e = g.envelope
    var ok = true
    g.foreachSeq { (cs, dim) =>
      var i = 0
      while (i + 1 < cs.length) {
        if (!cs(i).isNaN && !e.containsPoint(cs(i), cs(i + 1))) ok = false
        i += dim
      }
    }
    ok
  }

  property("wkb roundtrip preserves wkt") = forAll(genGeom) { g =>
    WKT.write(WKB.read(WKB.write(g))) == WKT.write(g)
  }

  property("wkt roundtrip preserves wkt") = forAll(genGeom) { g =>
    WKT.write(WKT.read(WKT.write(g))) == WKT.write(g)
  }

  property("streaming wkb envelope == object envelope") = forAll(genGeom) { g =>
    val e1 = g.envelope
    val e2 = new Envelope
    WKB.foldEnvelope(WKB.write(g), e2)
    e1.xmin == e2.xmin && e1.ymin == e2.ymin && e1.xmax == e2.xmax && e1.ymax == e2.ymax
  }

  property("extent aggregator == fold of envelopes") = forAll(Gen.nonEmptyListOf(genGeom)) { gs =>
    val agg = new ExtentAggregator
    val buf = gs.foldLeft(agg.zero)((b, g) => agg.reduce(b, WKB.write(g)))
    val ext = agg.finish(buf)
    val manual = new Envelope
    gs.foreach(_.foldEnvelope(manual))
    if (manual.isEmpty) ext.isEmpty
    else ext == Some(Extent(manual.xmin, manual.ymin, manual.xmax, manual.ymax))
  }

  property("extent merge is order-independent (the reference's merge bug)") =
    forAll(Gen.nonEmptyListOf(genGeom), Gen.nonEmptyListOf(genGeom)) { (as, bs) =>
      val agg = new ExtentAggregator
      def fold(gs: List[Geometry]) = gs.foldLeft(agg.zero)((b, g) => agg.reduce(b, WKB.write(g)))
      val m1 = agg.finish(agg.merge(fold(as), fold(bs)))
      val m2 = agg.finish(agg.merge(fold(bs), fold(as)))
      m1 == m2
    }

  property("convex hull contains all input vertices") = forAll(genMultiPoint) { mp =>
    val hull = GeomOps.convexHull(mp)
    hull match {
      case p: Polygon =>
        mp.points.forall(pt => pt.isEmpty || GeomOps.polygonContainsPoint(p, pt.x, pt.y))
      case _ => true // degenerate collinear/single-point cases
    }
  }

  property("distance is symmetric and nonnegative") = forAll(genGeom, genGeom) { (a, b) =>
    val d1 = GeomOps.distance(a, b)
    val d2 = GeomOps.distance(b, a)
    (d1.isNaN && d2.isNaN) || (d1 == d2 && d1 >= 0.0)
  }

  property("intersects is symmetric") = forAll(genGeom, genGeom) { (a, b) =>
    GeomOps.intersects(a, b) == GeomOps.intersects(b, a)
  }

  private val genStarPolygon: Gen[Polygon] =
    for {
      cx <- Gen.chooseNum(-50.0, 50.0)
      cy <- Gen.chooseNum(-50.0, 50.0)
      n <- Gen.chooseNum(5, 9)
      radii <- Gen.listOfN(n, Gen.chooseNum(5.0, 60.0))
    } yield {
      // star-shaped (generally non-convex) simple polygon
      val pts = radii.zipWithIndex.map { case (r, i) =>
        val a = 2 * math.Pi * i / n
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      Polygon(Array((pts :+ pts.head).flatMap(p => Seq(p._1, p._2)).toArray), 2)
    }

  property("overlay area identities on non-convex pairs") =
    forAll(genStarPolygon, genStarPolygon) { (a, b) =>
      val inter = GeomSetOps.intersection(a, b).map(GeomOps.area).getOrElse(-1.0)
      val diff = GeomSetOps.difference(a, b).map(GeomOps.area).getOrElse(-1.0)
      val union = GeomSetOps.union(a, b).map(GeomOps.area).getOrElse(-1.0)
      val aa = GeomOps.area(a)
      val ab = GeomOps.area(b)
      val tol = 1e-6 * math.max(1.0, aa + ab)
      inter >= -tol && diff >= -tol && union >= -tol &&
        math.abs(diff - (aa - inter)) < tol &&
        math.abs(union - (aa + ab - inter)) < tol
    }

  property("overlay symmetry: |A∩B| == |B∩A| and |A∪B| == |B∪A|") =
    forAll(genStarPolygon, genStarPolygon) { (a, b) =>
      val tol = 1e-6 * math.max(1.0, GeomOps.area(a) + GeomOps.area(b))
      val iAB = GeomSetOps.intersection(a, b).map(GeomOps.area).getOrElse(-1.0)
      val iBA = GeomSetOps.intersection(b, a).map(GeomOps.area).getOrElse(-2.0)
      val uAB = GeomSetOps.union(a, b).map(GeomOps.area).getOrElse(-1.0)
      val uBA = GeomSetOps.union(b, a).map(GeomOps.area).getOrElse(-2.0)
      math.abs(iAB - iBA) < tol && math.abs(uAB - uBA) < tol
    }

  private val genHoledPolygon: Gen[Polygon] =
    for {
      cx <- Gen.chooseNum(-30.0, 30.0)
      cy <- Gen.chooseNum(-30.0, 30.0)
      n <- Gen.chooseNum(5, 8)
      radii <- Gen.listOfN(n, Gen.chooseNum(30.0, 60.0))
      holeR <- Gen.chooseNum(2.0, 8.0)
    } yield {
      val outer = radii.zipWithIndex.map { case (r, i) =>
        val a = 2 * math.Pi * i / n
        (cx + r * math.cos(a), cy + r * math.sin(a))
      }
      // small CW square hole at the star's kernel (center) — always inside
      val hole = Seq(
        (cx - holeR, cy - holeR), (cx - holeR, cy + holeR),
        (cx + holeR, cy + holeR), (cx + holeR, cy - holeR))
      Polygon(Array(
        (outer :+ outer.head).flatMap(p => Seq(p._1, p._2)).toArray,
        (hole :+ hole.head).flatMap(p => Seq(p._1, p._2)).toArray), 2)
    }

  property("holed-polygon overlay area identities") =
    forAll(genHoledPolygon, genStarPolygon) { (a, b) =>
      val aa = GeomOps.area(a)
      val ab = GeomOps.area(b)
      val tol = 1e-6 * math.max(1.0, aa + ab)
      val inter = GeomSetOps.intersection(a, b).map(GeomOps.area).getOrElse(-1.0)
      val diff = GeomSetOps.difference(a, b).map(GeomOps.area).getOrElse(-1.0)
      inter >= -tol && diff >= -tol &&
        math.abs(diff - (aa - inter)) < tol &&
        inter <= math.min(aa, ab) + tol
    }

  property("arbitrary bytes never crash the WKB reader (corrupt rows → null)") =
    forAll(Gen.containerOf[Array, Byte](Arbitrary.arbitrary[Byte])) { bytes =>
      // must return null or a geometry — never throw
      WKB.readOrNull(bytes) match {
        case null => true
        case g => WKT.write(g) != null
      }
    }

  property("truncated valid WKB never crashes") = forAll(genGeom, Gen.chooseNum(0, 64)) { (g, cut) =>
    val full = WKB.write(g)
    val truncated = full.take(math.min(cut, full.length))
    WKB.readOrNull(truncated) match {
      case null => true
      case g2 => g2 != null
    }
  }

  property("arbitrary strings never crash the WKT reader") =
    forAll(Arbitrary.arbitrary[String]) { s =>
      WKT.readOrNull(s) match {
        case null => true
        case g => WKB.write(g) != null
      }
    }

  property("buffer contains the original (points/lines)") =
    forAll(Gen.oneOf(genPoint: Gen[Geometry], genLine: Gen[Geometry]), Gen.chooseNum(0.5, 50.0)) { (g, d) =>
      GeomSetOps.buffer(g, d) match {
        case Some(buf) =>
          var ok = true
          g.foreachSeq { (cs, dim) =>
            var i = 0
            while (i + 1 < cs.length) {
              if (!cs(i).isNaN) {
                val inside = buf match {
                  case p: Polygon => GeomOps.polygonContainsPoint(p, cs(i), cs(i + 1))
                  case mp: MultiPolygon =>
                    mp.polygons.exists(GeomOps.polygonContainsPoint(_, cs(i), cs(i + 1)))
                  case _ => false
                }
                if (!inside) ok = false
              }
              i += dim
            }
          }
          ok
        case None => false
      }
    }
}
