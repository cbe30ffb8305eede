package graft.spatial

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftShim.{column => toCol}
import org.apache.spark.sql.functions.{min, max, struct, udaf}

/**
 * Column-API spatial function surface (the DataFrame-side analogue of the
 * reference's registered UDFs, reference: examples/main.rs:21-25).
 *
 * Geometry columns are WKB `BinaryType`; see [[graft.spatial.StAsText]] et al.
 */
object functions {

  private def expr(c: Column): Expression = org.apache.spark.sql.GraftShim.expression(c)

  // Numeric arguments arrive from SQL as whatever the parser typed the
  // literal — `2.0` is DECIMAL(2,1), `2` is INT — while the kernels take
  // unboxed doubles/ints. Coerce at the builder layer with an explicit Cast:
  // Catalyst's SimplifyCasts erases the no-op when the type already matches,
  // so DataFrame-API plans (already double-typed) are byte-identical, and
  // SQL literal calls stop depending on each eval's tolerance for Decimal.
  private def dbl(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, org.apache.spark.sql.types.DoubleType)
  private def int32(e: Expression): Expression =
    org.apache.spark.sql.catalyst.expressions.Cast(e, org.apache.spark.sql.types.IntegerType)

  // constructors
  def st_point(x: Column, y: Column): Column = toCol(StPoint(dbl(expr(x)), dbl(expr(y))))
  def st_makepoint(x: Column, y: Column, z: Column): Column =
    toCol(StPointZ(dbl(expr(x)), dbl(expr(y)), dbl(expr(z))))
  def st_geomfromtext(wkt: Column): Column = toCol(StGeomFromText(expr(wkt)))
  def st_geomfromwkb(wkb: Column): Column = toCol(StGeomFromWkb(expr(wkb)))
  def st_makeenvelope(xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    toCol(StMakeEnvelope(Seq(expr(xmin), expr(ymin), expr(xmax), expr(ymax)).map(dbl)))

  // accessors
  def st_astext(g: Column): Column = toCol(StAsText(expr(g)))
  def st_asbinary(g: Column): Column = toCol(StAsBinary(expr(g)))
  def st_asgeojson(g: Column): Column = toCol(StAsGeoJson(expr(g)))
  def st_geomfromgeojson(j: Column): Column = toCol(StGeomFromGeoJson(expr(j)))
  def st_geometrytype(g: Column): Column = toCol(StGeometryType(expr(g)))
  def st_envelope(g: Column): Column = toCol(StEnvelope(expr(g)))
  def st_x(g: Column): Column = toCol(StX(expr(g)))
  def st_y(g: Column): Column = toCol(StY(expr(g)))
  def st_z(g: Column): Column = toCol(StZ(expr(g)))
  def st_xmin(g: Column): Column = toCol(StXMin(expr(g)))
  def st_ymin(g: Column): Column = toCol(StYMin(expr(g)))
  def st_xmax(g: Column): Column = toCol(StXMax(expr(g)))
  def st_ymax(g: Column): Column = toCol(StYMax(expr(g)))
  def st_isempty(g: Column): Column = toCol(StIsEmpty(expr(g)))
  def st_dimension(g: Column): Column = toCol(StDimension(expr(g)))
  def st_npoints(g: Column): Column = toCol(StNPoints(expr(g)))
  def st_numgeometries(g: Column): Column = toCol(StNumGeometries(expr(g)))
  def st_srid(g: Column): Column = toCol(StSrid(expr(g)))

  // structural accessors
  def st_pointn(g: Column, n: Column): Column = toCol(StPointN(expr(g), int32(expr(n))))
  def st_startpoint(g: Column): Column = toCol(StStartPoint(expr(g)))
  def st_endpoint(g: Column): Column = toCol(StEndPoint(expr(g)))
  def st_exteriorring(g: Column): Column = toCol(StExteriorRing(expr(g)))
  def st_interiorringn(g: Column, n: Column): Column = toCol(StInteriorRingN(expr(g), int32(expr(n))))
  def st_geometryn(g: Column, n: Column): Column = toCol(StGeometryN(expr(g), int32(expr(n))))
  def st_reverse(g: Column): Column = toCol(StReverse(expr(g)))
  def st_rotate(g: Column, radians: Column): Column = toCol(StRotate(expr(g), dbl(expr(radians))))
  def st_numinteriorrings(g: Column): Column = toCol(StNumInteriorRings(expr(g)))
  def st_translate(g: Column, dx: Column, dy: Column): Column = toCol(StTranslate(expr(g), dbl(expr(dx)), dbl(expr(dy))))
  def st_scale(g: Column, sx: Column, sy: Column): Column = toCol(StScale(expr(g), dbl(expr(sx)), dbl(expr(sy))))

  def st_makeline(pts: Column): Column = toCol(StMakeLine(expr(pts)))
  def st_dumppoints(g: Column): Column = toCol(StDumpPoints(expr(g)))
  def st_azimuth(a: Column, b: Column): Column = toCol(StAzimuth(expr(a), expr(b)))
  def st_lineinterpolatepoint(g: Column, f: Column): Column =
    toCol(StLineInterpolatePoint(expr(g), dbl(expr(f))))
  def st_geohash(g: Column, precision: Column): Column = toCol(StGeoHash(expr(g), int32(expr(precision))))

  // measures
  def st_area(g: Column): Column = toCol(StArea(expr(g)))
  def st_length(g: Column): Column = toCol(StLength(expr(g)))
  def st_perimeter(g: Column): Column = toCol(StPerimeter(expr(g)))
  def st_centroid(g: Column): Column = toCol(StCentroid(expr(g)))
  def st_convexhull(g: Column): Column = toCol(StConvexHull(expr(g)))
  def st_minimumboundingcircle(g: Column): Column = toCol(StMinimumBoundingCircle(expr(g)))
  def st_simplify(g: Column, tol: Column): Column = toCol(StSimplify(expr(g), dbl(expr(tol))))
  def st_distance(a: Column, b: Column): Column = toCol(StDistance(expr(a), expr(b)))
  def st_closestpoint(a: Column, b: Column): Column = toCol(StClosestPoint(expr(a), expr(b)))
  def st_shortestline(a: Column, b: Column): Column = toCol(StShortestLine(expr(a), expr(b)))

  // declared-scope extensions
  def st_issimple(g: Column): Column = toCol(StIsSimple(expr(g)))
  def st_boundary(g: Column): Column = toCol(StBoundary(expr(g)))
  def st_equals(a: Column, b: Column): Column = toCol(StEquals(expr(a), expr(b)))
  def st_touches(a: Column, b: Column): Column = toCol(StTouches(expr(a), expr(b)))
  def st_crosses(a: Column, b: Column): Column = toCol(StCrosses(expr(a), expr(b)))
  def st_overlaps(a: Column, b: Column): Column = toCol(StOverlaps(expr(a), expr(b)))
  def st_relate(a: Column, b: Column): Column = toCol(StRelate(expr(a), expr(b)))
  def st_intersection(a: Column, b: Column): Column = toCol(StIntersection(expr(a), expr(b)))
  def st_difference(a: Column, b: Column): Column = toCol(StDifference(expr(a), expr(b)))
  def st_union(a: Column, b: Column): Column = toCol(StUnion(expr(a), expr(b)))
  def st_symdifference(a: Column, b: Column): Column = toCol(StSymDifference(expr(a), expr(b)))
  def st_buffer(g: Column, d: Column): Column = toCol(StBuffer(expr(g), dbl(expr(d))))

  // predicates
  def st_intersects(a: Column, b: Column): Column = toCol(StIntersects(expr(a), expr(b)))
  def st_disjoint(a: Column, b: Column): Column = toCol(StDisjoint(expr(a), expr(b)))
  def st_contains(a: Column, b: Column): Column = toCol(StContains(expr(a), expr(b)))
  def st_within(a: Column, b: Column): Column = toCol(StWithin(expr(a), expr(b)))
  def st_env_intersects(a: Column, b: Column): Column = toCol(StEnvIntersects(expr(a), expr(b)))
  def st_dwithin(a: Column, b: Column, d: Column): Column =
    toCol(StDWithin(expr(a), expr(b), dbl(expr(d))))

  /**
   * ST_Extent as a *declarative* aggregate: a struct of built-in min/max over
   * the streaming bbox accessors. Fully codegen'd, partial-aggregated
   * map-side, no UDAF object serialization — the fastest form at scale.
   * (Semantics: reference src/udafs/extent.rs:46-229, with merge bugs fixed.)
   */
  def st_extent(g: Column): Column =
    struct(
      min(st_xmin(g)).as("xmin"), min(st_ymin(g)).as("ymin"),
      max(st_xmax(g)).as("xmax"), max(st_ymax(g)).as("ymax"))

  /** The typed-Aggregator form of ST_Extent, for udaf registration. */
  lazy val extentUdaf = udaf(new ExtentAggregator, org.apache.spark.sql.Encoders.BINARY)

  /** ST_Collect aggregate (multi-geometry assembly). */
  lazy val collectUdaf = udaf(new CollectAggregator, org.apache.spark.sql.Encoders.BINARY)
  def st_collect(g: Column): Column = collectUdaf(g)

  /** ST_Union aggregate: the dissolved union of grouped polygons (shared
    * edges merged; JTS unary union — see [[UnionAggregator]]). */
  lazy val unionUdaf = udaf(new UnionAggregator, org.apache.spark.sql.Encoders.BINARY)
  def st_union_agg(g: Column): Column = unionUdaf(g)

  /** Register every ST_* function for SQL use (`spark.sql("… ST_AsText(g) …")`).
    * Mirrors the reference's UDF registration (examples/main.rs:21-27);
    * names are case-insensitive in Spark SQL. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    def r1(name: String, f: Expression => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => f(es.head), "built-in")
    def r2(name: String, f: (Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => f(es(0), es(1)), "built-in")
    def r3(name: String, f: (Expression, Expression, Expression) => Expression): Unit =
      reg.createOrReplaceTempFunction(name, es => f(es(0), es(1), es(2)), "built-in")

    r2("st_point", (x, y) => StPoint(dbl(x), dbl(y)))
    r3("st_makepointz", (x, y, z) => StPointZ(dbl(x), dbl(y), dbl(z)))
    r1("st_geomfromtext", StGeomFromText.apply)
    r1("st_geometryfromtext", StGeomFromText.apply)
    r1("st_geomfromwkb", StGeomFromWkb.apply)
    reg.createOrReplaceTempFunction("st_makeenvelope", es => StMakeEnvelope(es.map(dbl)), "built-in")
    r1("st_astext", StAsText.apply)
    r1("st_asbinary", StAsBinary.apply)
    r1("st_asgeojson", StAsGeoJson.apply)
    r1("st_geomfromgeojson", StGeomFromGeoJson.apply)
    r1("st_geometrytype", StGeometryType.apply)
    r1("st_envelope", StEnvelope.apply)
    r1("st_x", StX.apply)
    r1("st_y", StY.apply)
    r1("st_z", StZ.apply)
    r1("st_xmin", StXMin.apply)
    r1("st_ymin", StYMin.apply)
    r1("st_xmax", StXMax.apply)
    r1("st_ymax", StYMax.apply)
    r1("st_isempty", StIsEmpty.apply)
    r1("st_dimension", StDimension.apply)
    r1("st_npoints", StNPoints.apply)
    r1("st_numpoints", StNPoints.apply)
    r1("st_numgeometries", StNumGeometries.apply)
    r1("st_srid", StSrid.apply)
    r2("st_pointn", (g, n) => StPointN(g, int32(n)))
    r1("st_startpoint", StStartPoint.apply)
    r1("st_endpoint", StEndPoint.apply)
    r1("st_exteriorring", StExteriorRing.apply)
    r2("st_interiorringn", (g, n) => StInteriorRingN(g, int32(n)))
    r2("st_geometryn", (g, n) => StGeometryN(g, int32(n)))
    r1("st_reverse", StReverse.apply)
    r2("st_rotate", (g, r) => StRotate(g, dbl(r)))
    r1("st_numinteriorrings", StNumInteriorRings.apply)
    r3("st_translate", (g, dx, dy) => StTranslate(g, dbl(dx), dbl(dy)))
    r3("st_scale", (g, sx, sy) => StScale(g, dbl(sx), dbl(sy)))
    r2("st_geohash", (g, p) => StGeoHash(g, int32(p)))
    r2("st_azimuth", StAzimuth.apply)
    r1("st_makeline", StMakeLine.apply)
    r1("st_dumppoints", StDumpPoints.apply)
    r2("st_lineinterpolatepoint", (g, f) => StLineInterpolatePoint(g, dbl(f)))
    r1("st_area", StArea.apply)
    r1("st_length", StLength.apply)
    r1("st_perimeter", StPerimeter.apply)
    r1("st_centroid", StCentroid.apply)
    r1("st_convexhull", StConvexHull.apply)
    r1("st_minimumboundingcircle", StMinimumBoundingCircle.apply)
    r2("st_simplify", (g, t) => StSimplify(g, dbl(t)))
    r2("st_distance", StDistance.apply)
    r2("st_closestpoint", StClosestPoint.apply)
    r2("st_shortestline", StShortestLine.apply)
    r2("st_intersects", StIntersects.apply)
    r2("st_disjoint", StDisjoint.apply)
    r2("st_contains", StContains.apply)
    r2("st_within", StWithin.apply)
    r2("st_env_intersects", StEnvIntersects.apply)
    r3("st_dwithin", (a, b, d) => StDWithin(a, b, dbl(d)))
    r1("st_issimple", StIsSimple.apply)
    r1("st_boundary", StBoundary.apply)
    r2("st_equals", StEquals.apply)
    r2("st_touches", StTouches.apply)
    r2("st_crosses", StCrosses.apply)
    r2("st_overlaps", StOverlaps.apply)
    r2("st_relate", StRelate.apply)
    r2("st_intersection", StIntersection.apply)
    r2("st_difference", StDifference.apply)
    r2("st_union", StUnion.apply)
    r2("st_symdifference", StSymDifference.apply)
    r2("st_buffer", (g, d) => StBuffer(g, dbl(d)))
    // aggregate: typed Aggregator via UDF registry
    spark.udf.register("st_extent", extentUdaf)
    spark.udf.register("st_collect", collectUdaf)
    spark.udf.register("st_union_agg", unionUdaf)
  }
}
