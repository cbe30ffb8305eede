package graft.spatial

import org.scalatest.funsuite.AnyFunSuite

/** Pure-JVM tests of the geometry core (no SparkSession). */
class GeometryCoreSpec extends AnyFunSuite {

  // --- WKT writer golden strings (reference: src/wkt/scalar.rs:280-391) ---

  test("wkt point golden (scalar.rs:301)") {
    assert(WKT.write(Point.xy(1, 2)) == "POINT (1.0 2.0)")
  }

  test("wkt linestring golden (scalar.rs:316)") {
    val l = LineString(Array(1, 2, 3, 4, 5, 6), 2)
    assert(WKT.write(l) == "LINESTRING (1.0 2.0,3.0 4.0,5.0 6.0)")
  }

  test("wkt polygon golden (scalar.rs:332)") {
    val p = Polygon(Array(Array[Double](0, 0, 4, 0, 2, 4, 0, 0)), 2)
    assert(WKT.write(p) == "POLYGON ((0.0 0.0,4.0 0.0,2.0 4.0,0.0 0.0))")
  }

  test("wkt multipoint golden (scalar.rs:347)") {
    val mp = MultiPoint(Array(Point.xy(0, 0), Point.xy(4, 0), Point.xy(2, 4)), 2)
    assert(WKT.write(mp) == "MULTIPOINT ((0.0 0.0),(4.0 0.0),(2.0 4.0))")
  }

  test("wkt multilinestring golden (scalar.rs:364-367)") {
    val ml = MultiLineString(Array(
      LineString(Array(1, 2, 3, 4, 5, 6), 2),
      LineString(Array(7, 8, 9, 0), 2)), 2)
    assert(WKT.write(ml) == "MULTILINESTRING ((1.0 2.0,3.0 4.0,5.0 6.0),(7.0 8.0,9.0 0.0))")
  }

  test("wkt multipolygon golden (scalar.rs:389)") {
    val mp = MultiPolygon(Array(
      Polygon(Array(Array[Double](0, 0, 4, 0, 2, 4, 0, 0)), 2),
      Polygon(Array(Array[Double](4, 4, 8, 4, 8, 8, 4, 8, 4, 4)), 2)), 2)
    assert(WKT.write(mp) ==
      "MULTIPOLYGON (((0.0 0.0,4.0 0.0,2.0 4.0,0.0 0.0)),((4.0 4.0,8.0 4.0,8.0 8.0,4.0 8.0,4.0 4.0)))")
  }

  test("wkt empties") {
    assert(WKT.write(Point.empty) == "POINT EMPTY")
    assert(WKT.write(LineString(Array.empty[Double], 2)) == "LINESTRING EMPTY")
    assert(WKT.write(Polygon(Array.empty, 2)) == "POLYGON EMPTY")
    assert(WKT.write(MultiPoint(Array.empty, 2)) == "MULTIPOINT EMPTY")
    assert(WKT.write(MultiPolygon(Array.empty, 2)) == "MULTIPOLYGON EMPTY")
  }

  test("wkt Z tag") {
    assert(WKT.write(Point(Array(1, 2, 3), 3)) == "POINT Z (1.0 2.0 3.0)")
  }

  test("wkt non-integral floats") {
    assert(WKT.write(Point.xy(1.5, -2.25)) == "POINT (1.5 -2.25)")
  }

  test("depth bombs: adversarially nested input returns null, never StackOverflowError") {
    // SOE is an Error — it would sail past readOrNull's catch-Exception
    // and kill an executor task; the parsers bound recursion instead
    assert(WKT.readOrNull("GEOMETRYCOLLECTION (" * 100000) == null)
    assert(WKT.readOrNull(("GEOMETRYCOLLECTION (" * 20000) + "POINT (1 1)" + (")" * 20000)) == null)
    assert(GeoJson.readOrNull("[" * 100000) == null)
    assert(GeoJson.readOrNull(("{\"type\":\"GeometryCollection\",\"geometries\":[" * 20000) +
      "{\"type\":\"Point\",\"coordinates\":[1,2]}" + ("]}" * 20000)) == null)
    // crafted WKB: 100k nested little-endian GEOMETRYCOLLECTION(1 member) headers
    val bomb = java.nio.ByteBuffer.allocate(9 * 100000)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 100000).foreach { _ => bomb.put(1.toByte).putInt(7).putInt(1) }
    assert(WKB.readOrNull(bomb.array()) == null)
    val env = new Envelope
    intercept[IllegalArgumentException](WKB.foldEnvelope(bomb.array(), env))
    // sane nesting still parses
    val ok = ("GEOMETRYCOLLECTION (" * 100) + "POINT (1.0 2.0)" + (")" * 100)
    assert(WKT.readOrNull(ok) != null)
  }

  test("wkt negative zero keeps its sign and stays WKB-byte-stable") {
    val l = LineString(Array(-0.0, 1.0, 2.0, 3.0, 4.0, 5.0), 3); l.measured = true
    val wkt = WKT.write(l)
    assert(wkt == "LINESTRING M (-0.0 1.0 2.0,3.0 4.0 5.0)")
    val wkb = WKB.write(l)
    assert(java.util.Arrays.equals(WKB.write(WKT.read(wkt)), wkb))
    val gj = GeoJson.write(Point.xy(-0.0, 0.0))
    assert(gj.contains("[-0,0]"))
    assert(java.util.Arrays.equals(
      WKB.write(GeoJson.readOrNull(gj)), WKB.write(Point.xy(-0.0, 0.0))))
  }

  // ------------------------------------------- WKT parser + roundtrips ---

  val samples = Seq(
    "POINT (30.0 10.0)",
    "POINT EMPTY",
    "POINT Z (1.0 2.0 3.0)",
    "LINESTRING (30.0 10.0,10.0 30.0,40.0 40.0)",
    "LINESTRING EMPTY",
    "POLYGON ((30.0 10.0,40.0 40.0,20.0 40.0,10.0 20.0,30.0 10.0))",
    "POLYGON ((35.0 10.0,45.0 45.0,15.0 40.0,10.0 20.0,35.0 10.0),(20.0 30.0,35.0 35.0,30.0 20.0,20.0 30.0))",
    "POLYGON EMPTY",
    "MULTIPOINT ((10.0 40.0),(40.0 30.0),(20.0 20.0),(30.0 10.0))",
    "MULTIPOINT EMPTY",
    "MULTILINESTRING ((10.0 10.0,20.0 20.0,10.0 40.0),(40.0 40.0,30.0 30.0,40.0 20.0,30.0 10.0))",
    "MULTIPOLYGON (((30.0 20.0,45.0 40.0,10.0 40.0,30.0 20.0)),((15.0 5.0,40.0 10.0,10.0 20.0,5.0 10.0,15.0 5.0)))",
    "MULTIPOLYGON EMPTY",
    "GEOMETRYCOLLECTION (POINT (4.0 6.0),LINESTRING (4.0 6.0,7.0 10.0))")

  test("wkt parse → write roundtrip") {
    samples.foreach { s => assert(WKT.write(WKT.read(s)) == s, s"roundtrip of $s") }
  }

  test("wkt parse tolerates unparenthesized multipoint") {
    val g = WKT.read("MULTIPOINT (10 40, 40 30)")
    assert(WKT.write(g) == "MULTIPOINT ((10.0 40.0),(40.0 30.0))")
  }

  test("wkt parse rejects garbage") {
    assert(WKT.readOrNull("POINT (1") == null)
    assert(WKT.readOrNull("FOO (1 2)") == null)
    assert(WKT.readOrNull("") == null)
  }

  test("wkb roundtrip through wkt samples") {
    samples.foreach { s =>
      val g = WKT.read(s)
      val back = WKB.read(WKB.write(g))
      assert(WKT.write(back) == s, s"wkb roundtrip of $s")
    }
  }

  test("wkb big-endian read") {
    // POINT (1 2) big-endian: 00 00000001 3ff... 400...
    val buf = java.nio.ByteBuffer.allocate(21)
    buf.put(0.toByte).putInt(1).putDouble(1.0).putDouble(2.0)
    val g = WKB.read(buf.array())
    assert(WKT.write(g) == "POINT (1.0 2.0)")
  }

  test("wkb geometry type tag (geometry_type.rs:119-146)") {
    assert(WKB.geometryTypeTag(WKB.write(Point.xy(1, 2))) == "ST_Point")
    assert(WKB.geometryTypeTag(WKB.write(Point(Array(1, 2, 3), 3))) == "ST_PointZ")
    assert(WKB.geometryTypeTag(WKB.write(MultiPolygon(Array.empty, 2))) == "ST_MultiPolygon")
    assert(WKB.geometryTypeTag(WKB.write(LineString(Array(1, 2, 3, 4), 2))) == "ST_LineString")
  }

  test("wkb envelope streaming scan matches ADT envelope") {
    samples.foreach { s =>
      val g = WKT.read(s)
      val e1 = g.envelope
      val e2 = new Envelope
      WKB.foldEnvelope(WKB.write(g), e2)
      assert(e1.xmin == e2.xmin && e1.ymin == e2.ymin && e1.xmax == e2.xmax && e1.ymax == e2.ymax, s)
    }
  }

  // --------------------------------------------------------------- ops ---

  test("envelope polygon ring is CCW per reference (envelope.rs:340-343)") {
    val g = WKT.read("LINESTRING (30.0 10.0,10.0 30.0,40.0 40.0)")
    val env = g.envelope.toPolygon
    assert(WKT.write(env) ==
      "POLYGON ((10.0 10.0,40.0 10.0,40.0 40.0,10.0 40.0,10.0 10.0))")
  }

  test("empty geometry envelope → POLYGON EMPTY (envelope.rs:328-336)") {
    assert(WKT.write(Point.empty.envelope.toPolygon) == "POLYGON EMPTY")
  }

  test("point envelope degenerate polygon (envelope.rs:66-80)") {
    assert(WKT.write(Point.xy(30, 10).envelope.toPolygon) ==
      "POLYGON ((30.0 10.0,30.0 10.0,30.0 10.0,30.0 10.0,30.0 10.0))")
  }

  test("area / perimeter / length") {
    val sq = WKT.read("POLYGON ((0.0 0.0,4.0 0.0,4.0 4.0,0.0 4.0,0.0 0.0))")
    assert(GeomOps.area(sq) == 16.0)
    assert(GeomOps.perimeter(sq) == 16.0)
    assert(GeomOps.length(sq) == 0.0)
    val hole = WKT.read("POLYGON ((0 0,4 0,4 4,0 4,0 0),(1 1,2 1,2 2,1 2,1 1))")
    assert(GeomOps.area(hole) == 15.0)
    val l = WKT.read("LINESTRING (0 0,3 4)")
    assert(GeomOps.length(l) == 5.0)
  }

  test("centroid") {
    val sq = WKT.read("POLYGON ((0 0,4 0,4 4,0 4,0 0))")
    val c = GeomOps.centroid(sq)
    assert(c.x == 2.0 && c.y == 2.0)
    val l = WKT.read("LINESTRING (0 0,0 2)")
    val cl = GeomOps.centroid(l)
    assert(cl.x == 0.0 && cl.y == 1.0)
  }

  test("distance") {
    val a = WKT.read("POINT (0 0)")
    val b = WKT.read("POINT (3 4)")
    assert(GeomOps.distance(a, b) == 5.0)
    val sq = WKT.read("POLYGON ((2 0,4 0,4 2,2 2,2 0))")
    assert(GeomOps.distance(a, sq) == 2.0)
    val inside = WKT.read("POINT (3 1)")
    assert(GeomOps.distance(inside, sq) == 0.0)
  }

  test("intersects / contains / within") {
    val sq = WKT.read("POLYGON ((0 0,10 0,10 10,0 10,0 0))")
    val inner = WKT.read("POLYGON ((2 2,4 2,4 4,2 4,2 2))")
    val outer = WKT.read("POLYGON ((20 20,30 20,30 30,20 30,20 20))")
    val crossing = WKT.read("LINESTRING (-5 5,15 5)")
    assert(GeomOps.intersects(sq, inner))
    assert(GeomOps.contains(sq, inner))
    assert(GeomOps.within(inner, sq))
    assert(!GeomOps.intersects(sq, outer))
    assert(GeomOps.intersects(sq, crossing))
    assert(!GeomOps.contains(sq, crossing))
    val pt = WKT.read("POINT (5 5)")
    assert(GeomOps.contains(sq, pt))
    assert(GeomOps.intersects(pt, sq))
    // hole: point in hole is not contained
    val hole = WKT.read("POLYGON ((0 0,10 0,10 10,0 10,0 0),(4 4,6 4,6 6,4 6,4 4))")
    assert(!GeomOps.contains(hole, WKT.read("POINT (5 5)")))
    assert(GeomOps.contains(hole, WKT.read("POINT (2 2)")))
  }

  test("dwithin") {
    val a = WKT.read("POINT (0 0)")
    val b = WKT.read("POINT (3 4)")
    assert(GeomOps.dwithin(a, b, 5.0))
    assert(!GeomOps.dwithin(a, b, 4.9))
  }

  test("convex hull") {
    val mp = WKT.read("MULTIPOINT ((0 0),(4 0),(4 4),(0 4),(2 2))")
    val hull = GeomOps.convexHull(mp)
    assert(GeomOps.area(hull) == 16.0)
    assert(hull.isInstanceOf[Polygon])
    // degenerate
    assert(GeomOps.convexHull(WKT.read("POINT (1 1)")).isInstanceOf[Point])
    assert(GeomOps.convexHull(WKT.read("MULTIPOINT ((0 0),(1 1))")).isInstanceOf[LineString])
  }

  test("simplify (douglas-peucker)") {
    val l = WKT.read("LINESTRING (0 0,1 0.01,2 0,3 0.01,4 0)")
    val s = GeomOps.simplify(l, 0.1).asInstanceOf[LineString]
    assert(s.numPoints == 2)
    val keep = GeomOps.simplify(l, 0.001).asInstanceOf[LineString]
    assert(keep.numPoints == 5)
  }

  test("geo metadata parser handles GeoParquet 1.x shapes (crs objects, bbox)") {
    val realWorld = """{"version": "1.1.0", "primary_column": "geometry",
      "columns": {
        "geometry": {"encoding": "WKB", "geometry_types": ["Polygon", "MultiPolygon"],
                     "crs": {"type": "GeographicCRS", "id": {"authority": "OGC", "code": "CRS84"}},
                     "bbox": [-180.0, -90.0, 180.0, 90.0]},
        "centroid": {"encoding": "point", "geometry_types": ["Point"]}
      }}"""
    val cols = GeoIO.parseGeoJson(realWorld)
    assert(cols == Seq(
      GeoIO.GeoColumn("geometry", "WKB", Seq("Polygon", "MultiPolygon"),
        Some("""{"type":"GeographicCRS","id":{"authority":"OGC","code":"CRS84"}}""")),
      GeoIO.GeoColumn("centroid", "point", Seq("Point"))))
    assert(cols.head.geometryType == "Mixed")
    assert(GeoIO.parseGeoJson("not json at all").isEmpty)
    assert(GeoIO.parseGeoJson("{}").isEmpty)
    // escapes and unicode survive
    val esc = GeoIO.parseGeoJson("""{"columns":{"geom":{"encoding":"WKB"}}}""")
    assert(esc == Seq(GeoIO.GeoColumn("geom", "WKB", Seq.empty)))
  }

  test("geojson writer") {
    assert(GeoJson.write(WKT.read("POINT (30 10)")) ==
      """{"type":"Point","coordinates":[30,10]}""")
    assert(GeoJson.write(WKT.read("LINESTRING (30 10, 10 30)")) ==
      """{"type":"LineString","coordinates":[[30,10],[10,30]]}""")
    assert(GeoJson.write(WKT.read("POLYGON ((0 0,4 0,2 4,0 0))")) ==
      """{"type":"Polygon","coordinates":[[[0,0],[4,0],[2,4],[0,0]]]}""")
    assert(GeoJson.write(WKT.read("MULTIPOLYGON (((0 0,4 0,2 4,0 0)))")) ==
      """{"type":"MultiPolygon","coordinates":[[[[0,0],[4,0],[2,4],[0,0]]]]}""")
    assert(GeoJson.write(WKT.read("POINT (1.5 -2.25)")) ==
      """{"type":"Point","coordinates":[1.5,-2.25]}""")
  }

  test("extent aggregator semantics incl. merge fix (extent.rs:210-224)") {
    val agg = new ExtentAggregator
    val b1 = agg.reduce(agg.zero, WKB.write(Point.xy(0, 5)))
    val b2 = agg.reduce(agg.zero, WKB.write(Point.xy(10, -5)))
    val m = agg.merge(b1, b2)
    val ext = agg.finish(m)
    assert(ext == Some(Extent(0, -5, 10, 5)))
    // empty + null inputs ignored; all-empty → None (a NULL extent in SQL)
    val e = agg.reduce(agg.reduce(agg.zero, null), WKB.write(Point.empty))
    assert(agg.finish(e).isEmpty)
  }
}
