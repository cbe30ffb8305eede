package graft.spatial

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
// NOTE: no wildcard import — Spark 4.1's experimental
// org.apache.spark.sql.types.Geometry would shadow graft.spatial.Geometry.
import org.apache.spark.sql.types.{ArrayType, BinaryType, BooleanType,
  DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Catalyst expressions for the ST_* function surface.
 *
 * Geometries are carried between expressions as ISO WKB in `BinaryType`
 * columns — one opaque binary column composes with every built-in Spark
 * operator (parquet scan/write, shuffle, join, agg) and needs no custom
 * data types. This replaces the reference's dual WKB/GeoArrow-native
 * dispatch (reference: src/udfs/as_text.rs:60-64) with a single canonical
 * encoding; native GeoArrow columns are converted to WKB at load time by
 * [[StNativeAsWkb]] / [[GeoIO]].
 *
 * All expressions are null-safe (`null → null`), deterministic and
 * foldable-under-constant-inputs, so Catalyst constant-folds literal calls —
 * the same effect as the reference's `Volatility::Immutable`
 * (reference: src/udfs/as_text.rs:30-33).
 */
object geomutil {
  @inline def fromWkb(v: Any): Geometry = WKB.readOrNull(v.asInstanceOf[Array[Byte]])
  @inline def toWkb(g: Geometry): Array[Byte] = WKB.write(g)
  /** `v`, or SQL NULL when JTS rejects an operand (see [[GeomSetOps]]). */
  def orNull(v: => Any): Any = GeomSetOps.attempt(v).orNull
}

import geomutil._

// ------------------------------------------------------------ constructors

/** ST_Point(x, y) → WKB point. */
case class StPoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_point"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    toWkb(Point.xy(x.asInstanceOf[Double], y.asInstanceOf[Double]))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.spatial.Kernels.pointWkb($x, $y)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_MakePointZ(x, y, z) → WKB XYZ point. */
case class StPointZ(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_makepointz"
  override protected def nullSafeEval(x: Any, y: Any, z: Any): Any =
    toWkb(Point(Array(x.asInstanceOf[Double], y.asInstanceOf[Double], z.asInstanceOf[Double]), 3))
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** ST_GeomFromText(wkt) → WKB; null on malformed input. */
case class StGeomFromText(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromtext"
  override protected def nullSafeEval(v: Any): Any = {
    val g = WKT.readOrNull(v.asInstanceOf[UTF8String].toString)
    if (g == null) null else toWkb(g)
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.spatial.Kernels.geomFromText($c);
      if (${ev.value} == null) ${ev.isNull} = true;
    """)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_GeomFromWKB(bin) → validated canonical (little-endian ISO) WKB. */
case class StGeomFromWkb(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromwkb"
  override protected def nullSafeEval(v: Any): Any = {
    val g = fromWkb(v)
    if (g == null) null else toWkb(g)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_MakeEnvelope(xmin, ymin, xmax, ymax) → WKB polygon. */
case class StMakeEnvelope(children: Seq[Expression])
    extends Expression with CodegenFallback {
  require(children.length == 4, "ST_MakeEnvelope takes 4 arguments")
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = children.exists(_.nullable)
  override def foldable: Boolean = children.forall(_.foldable)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "st_makeenvelope"
  override def eval(input: InternalRow): Any = {
    val vs = children.map(_.eval(input))
    if (vs.exists(_ == null)) null
    else {
      val e = new Envelope
      e.add(vs(0).asInstanceOf[Double], vs(1).asInstanceOf[Double])
      e.add(vs(2).asInstanceOf[Double], vs(3).asInstanceOf[Double])
      toWkb(e.toPolygon)
    }
  }
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]): Expression =
    copy(children = cs)
}

// -------------------------------------------------------------- accessors

abstract class GeomUnary extends UnaryExpression with CodegenFallback {
  override def nullable: Boolean = true
  protected def evalGeom(g: Geometry): Any
  override protected def nullSafeEval(v: Any): Any = {
    val g = fromWkb(v)
    if (g == null) null else evalGeom(g)
  }
}

/**
 * ST_AsText(geom) → WKT string (reference: src/udfs/as_text.rs:39-131).
 */
case class StAsText(child: Expression) extends GeomUnary {
  override def dataType: DataType = StringType
  override def prettyName: String = "st_astext"
  override protected def evalGeom(g: Geometry): Any = UTF8String.fromString(WKT.write(g))
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.spatial.Kernels.asText($c);
      if (${ev.value} == null) ${ev.isNull} = true;
    """)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_AsBinary(geom) → the WKB bytes themselves. */
case class StAsBinary(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_asbinary"
  override protected def nullSafeEval(v: Any): Any = v
  override protected def evalGeom(g: Geometry): Any = toWkb(g)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * ST_GeometryType(geom) → "ST_Point" | … | "ST_MultiPolygonZM"
 * (reference: src/udfs/geometry_type.rs:119-146). Reads only the 5-byte WKB
 * header — no geometry materialization.
 */
case class StGeometryType(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geometrytype"
  override protected def nullSafeEval(v: Any): Any =
    try UTF8String.fromString(WKB.geometryTypeTag(v.asInstanceOf[Array[Byte]]))
    catch { case _: Exception => null }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.spatial.Kernels.geometryType($c);
      if (${ev.value} == null) ${ev.isNull} = true;
    """)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/**
 * ST_Envelope(geom) → bounding box as WKB polygon, CCW ring, POLYGON EMPTY
 * for empty input (reference: src/udfs/envelope.rs:66-80,328-351). Single
 * streaming pass over the WKB — no geometry materialization.
 */
case class StEnvelope(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_envelope"
  override protected def nullSafeEval(v: Any): Any =
    try {
      val e = new Envelope
      WKB.foldEnvelope(v.asInstanceOf[Array[Byte]], e)
      toWkb(e.toPolygon)
    } catch { case _: Exception => null }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.spatial.Kernels.envelope($c);
      if (${ev.value} == null) ${ev.isNull} = true;
    """)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared base for the four bbox ordinate accessors — streaming WKB scan. */
abstract class BoundExpr extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  protected def pick(e: Envelope): Double
  protected def kernel: String
  override protected def nullSafeEval(v: Any): Any =
    try {
      val e = new Envelope
      WKB.foldEnvelope(v.asInstanceOf[Array[Byte]], e)
      if (e.isEmpty) null else pick(e)
    } catch { case _: Exception => null }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.spatial.Kernels.$kernel($c);
      if (Double.isNaN(${ev.value})) ${ev.isNull} = true;
    """)
}
case class StXMin(child: Expression) extends BoundExpr {
  override def prettyName: String = "st_xmin"
  override protected def kernel: String = "xmin"
  override protected def pick(e: Envelope): Double = e.xmin
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StYMin(child: Expression) extends BoundExpr {
  override def prettyName: String = "st_ymin"
  override protected def kernel: String = "ymin"
  override protected def pick(e: Envelope): Double = e.ymin
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StXMax(child: Expression) extends BoundExpr {
  override def prettyName: String = "st_xmax"
  override protected def kernel: String = "xmax"
  override protected def pick(e: Envelope): Double = e.xmax
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StYMax(child: Expression) extends BoundExpr {
  override def prettyName: String = "st_ymax"
  override protected def kernel: String = "ymax"
  override protected def pick(e: Envelope): Double = e.ymax
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_X / ST_Y / ST_Z — point ordinate; null for non-points/empties. */
case class StX(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_x"
  override protected def evalGeom(g: Geometry): Any = g match {
    case p: Point if !p.isEmpty => p.x
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StY(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_y"
  override protected def evalGeom(g: Geometry): Any = g match {
    case p: Point if !p.isEmpty => p.y
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StZ(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_z"
  override protected def evalGeom(g: Geometry): Any = g match {
    case p: Point if !p.isEmpty && p.hasZ => p.z
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_IsEmpty(geom) → boolean (reference: README.md:14, roadmap item). */
case class StIsEmpty(child: Expression) extends GeomUnary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_isempty"
  override protected def evalGeom(g: Geometry): Any = g.isEmpty
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_Dimension(geom) → topological dimension 0/1/2. */
case class StDimension(child: Expression) extends GeomUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_dimension"
  override protected def evalGeom(g: Geometry): Any = g.topoDim
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_NPoints(geom) → vertex count. */
case class StNPoints(child: Expression) extends GeomUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_npoints"
  override protected def evalGeom(g: Geometry): Any = g.numPoints
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_NumGeometries(geom) → member count (1 for simple types). */
case class StNumGeometries(child: Expression) extends GeomUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_numgeometries"
  override protected def evalGeom(g: Geometry): Any = g match {
    case mp: MultiPoint => mp.points.length
    case ml: MultiLineString => ml.lines.length
    case mpg: MultiPolygon => mpg.polygons.length
    case gc: GeometryCollection => gc.geoms.length
    case other => if (other.isEmpty) 0 else 1
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_SRID(geom) → 0 (no CRS support, matching the reference's planar model). */
case class StSrid(child: Expression) extends GeomUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_srid"
  override protected def evalGeom(g: Geometry): Any = 0
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ---------------------------------------------------------------- measures

case class StArea(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_area"
  override protected def evalGeom(g: Geometry): Any = GeomOps.area(g)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StLength(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_length"
  override protected def evalGeom(g: Geometry): Any = GeomOps.length(g)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StPerimeter(child: Expression) extends GeomUnary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_perimeter"
  override protected def evalGeom(g: Geometry): Any = GeomOps.perimeter(g)
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StCentroid(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_centroid"
  override protected def evalGeom(g: Geometry): Any = toWkb(GeomOps.centroid(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StConvexHull(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_convexhull"
  override protected def evalGeom(g: Geometry): Any = toWkb(GeomOps.convexHull(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class StSimplify(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_simplify"
  override protected def nullSafeEval(v: Any, tol: Any): Any = {
    val g = fromWkb(v)
    if (g == null) null else toWkb(GeomOps.simplify(g, tol.asInstanceOf[Double]))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

abstract class GeomBinary extends BinaryExpression with CodegenFallback {
  override def nullable: Boolean = true
  protected def evalGeoms(a: Geometry, b: Geometry): Any
  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = fromWkb(l); val b = fromWkb(r)
    if (a == null || b == null) null else evalGeoms(a, b)
  }
}

case class StDistance(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_distance"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = {
    val d = GeomOps.distance(a, b)
    if (d.isNaN) null else d
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = graft.spatial.Kernels.distance($a, $b);
      if (Double.isNaN(${ev.value})) ${ev.isNull} = true;
    """)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

// -------------------------------------------------------------- predicates

case class StIntersects(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_intersects"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = GeomOps.intersects(a, b)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val t = ctx.freshName("tri")
      s"""
      byte $t = graft.spatial.Kernels.intersects($a, $b);
      ${ev.value} = $t == (byte) 1;
      if ($t < 0) ${ev.isNull} = true;
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StDisjoint(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_disjoint"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = !GeomOps.intersects(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StContains(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_contains"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = GeomOps.contains(a, b)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val t = ctx.freshName("tri")
      s"""
      byte $t = graft.spatial.Kernels.contains($a, $b);
      ${ev.value} = $t == (byte) 1;
      if ($t < 0) ${ev.isNull} = true;
      """
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StWithin(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_within"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = GeomOps.within(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
/** bbox-only intersection test — the cheap pre-filter for spatial joins. */
case class StEnvIntersects(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_env_intersects"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    a.envelope.intersects(b.envelope)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class StDWithin(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = true
  override def prettyName: String = "st_dwithin"
  override protected def nullSafeEval(l: Any, r: Any, d: Any): Any = {
    val a = fromWkb(l); val b = fromWkb(r)
    // the distance may arrive as any numeric type — a SQL literal like
    // `750.0` is a Decimal (ExpectsInputTypes is private[sql], so no
    // implicit cast is injected for us)
    val dist = d match {
      case n: java.lang.Number => n.doubleValue()
      case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
      case other => other.asInstanceOf[Double]
    }
    if (a == null || b == null) null else GeomOps.dwithin(a, b, dist)
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

// ------------------------------------------------- native-layout conversion

/**
 * Convert a GeoArrow-native nested column to WKB, given the declared
 * geometry class (from GeoParquet `geo` metadata — the Spark-idiomatic
 * replacement for the reference's hidden-literal-arg threading,
 * reference: src/rules.rs:131-170).
 *
 * Accepted layouts (reference fixtures, FIXTURES.md §1):
 *   Point            struct&lt;x,y[,z]&gt;
 *   LineString       array&lt;struct&gt;        MultiPoint        array&lt;struct&gt;
 *   Polygon          array&lt;array&lt;struct&gt;&gt; MultiLineString  array&lt;array&lt;struct&gt;&gt;
 *   MultiPolygon     array&lt;array&lt;array&lt;struct&gt;&gt;&gt;
 * plus interleaved `array&lt;double&gt;` coords at the innermost level.
 */
case class StNativeAsWkb(child: Expression, geometryType: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_native_as_wkb"

  private lazy val converter: Any => Geometry = NativeLayout.converter(child.dataType, geometryType)

  override protected def nullSafeEval(v: Any): Any = {
    val g = converter(v)
    if (g == null) null else geomutil.toWkb(g)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Decoders from Spark nested values (InternalRow/ArrayData) to [[Geometry]]. */
object NativeLayout {

  /** dim and a coord extractor from a struct or interleaved layout.
    * dim 0 = dynamic: the interleaved `array<double>` layout carries the
    * dimension as the runtime length of each innermost coordinate array
    * (the Spark mapping of GeoArrow's `FixedSizeList<f64>[dim]`, whose
    * static width the reference dispatches on — helpers.rs:49-71; Spark
    * has no fixed-size list type, so the width is read from the data). */
  private def coordReader(dt: DataType): (Int, Any => Array[Double]) = dt match {
    case st: StructType =>
      val dim = st.fields.length
      (dim, { v =>
        val row = v.asInstanceOf[InternalRow]
        val out = new Array[Double](dim)
        var i = 0
        while (i < dim) { out(i) = row.getDouble(i); i += 1 }
        out
      })
    case ArrayType(DoubleType, _) =>
      (0, { v => v.asInstanceOf[ArrayData].toDoubleArray() })
    case other => throw new IllegalArgumentException(s"not a coord layout: $other")
  }

  /** Effective dimension: the static struct width, or (dynamic layouts)
    * the length of an actual coordinate; 2 when nothing read yet. */
  private def effDim(dim0: Int, c: Array[Double]): Int =
    if (dim0 > 0) dim0 else if (c != null && c.length >= 2) c.length else 2

  /** Dynamic-layout dimension of a coordinate sequence: the width of the
    * FIRST non-null, non-empty coordinate anywhere in the sequence (not
    * just element 0 — the first point of a MultiPoint or first ring of a
    * Polygon may be empty while later components are 3-wide); -1 if the
    * whole sequence is empty. */
  private def seqDim(v: Any, elemType: DataType, rd: Any => Array[Double]): Int = {
    if (v == null) return -1
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val c = rd(arr.get(i, elemType))
        if (c != null && c.length >= 2) return c.length
      }
      i += 1
    }
    -1
  }

  /** [[seqDim]] one nesting level up: array of coordinate sequences. */
  private def seqsDim(v: Any, midType: DataType, elemType: DataType,
                      rd: Any => Array[Double]): Int = {
    if (v == null) return -1
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val d = seqDim(arr.get(i, midType), elemType, rd)
        if (d > 0) return d
      }
      i += 1
    }
    -1
  }

  /** Resolved container dimension: static struct width wins; else the
    * scanned runtime width; else 2. */
  private def resolveDim(dim0: Int, scanned: => Int): Int =
    if (dim0 > 0) dim0 else { val d = scanned; if (d > 0) d else 2 }

  def converter(dt: DataType, geometryType: String): Any => Geometry = {
    val gt = geometryType.toLowerCase
    gt match {
      case "point" =>
        val (dim0, rd) = coordReader(dt)
        v => {
          val c = rd(v)
          val dim = effDim(dim0, c)
          if (c.length == 0 || c(0).isNaN) Point(Array.empty[Double], dim) else Point(c, dim)
        }
      case "linestring" | "multipoint" =>
        val ArrayType(inner, _) = dt: @unchecked
        val (dim0, rd) = coordReader(inner)
        if (gt == "linestring")
          v => {
            val dim = resolveDim(dim0, seqDim(v, inner, rd))
            LineString(flatSeq(v, dim, rd, inner), dim)
          }
        else
          v => {
            val arr = v.asInstanceOf[ArrayData]
            val dim = resolveDim(dim0, seqDim(v, inner, rd))
            val pts = new Array[Point](arr.numElements())
            var i = 0
            while (i < pts.length) {
              val c = readElem(arr, i, inner, rd)
              pts(i) = if (c == null || c.length == 0 || c(0).isNaN) Point(Array.empty[Double], dim) else Point(c, dim)
              i += 1
            }
            MultiPoint(pts, dim)
          }
      case "polygon" | "multilinestring" =>
        val ArrayType(mid @ ArrayType(inner, _), _) = dt: @unchecked
        val (dim0, rd) = coordReader(inner)
        if (gt == "polygon")
          v => {
            val arr = v.asInstanceOf[ArrayData]
            val dim = resolveDim(dim0, seqsDim(v, mid, inner, rd))
            val rings = new Array[Array[Double]](arr.numElements())
            var i = 0
            while (i < rings.length) {
              rings(i) = flatSeq(arr.get(i, mid), dim, rd, inner)
              i += 1
            }
            Polygon(rings, dim)
          }
        else
          v => {
            val arr = v.asInstanceOf[ArrayData]
            val dim = resolveDim(dim0, seqsDim(v, mid, inner, rd))
            val lines = new Array[LineString](arr.numElements())
            var i = 0
            while (i < lines.length) {
              lines(i) = LineString(flatSeq(arr.get(i, mid), dim, rd, inner), dim)
              i += 1
            }
            MultiLineString(lines, dim)
          }
      case "multipolygon" =>
        val ArrayType(mid @ ArrayType(mid2 @ ArrayType(inner, _), _), _) = dt: @unchecked
        val (dim0, rd) = coordReader(inner)
        v => {
          val arr = v.asInstanceOf[ArrayData]
          val dim = resolveDim(dim0, {
            var d = -1
            var i = 0
            while (d <= 0 && i < arr.numElements()) {
              if (!arr.isNullAt(i)) d = seqsDim(arr.get(i, mid), mid2, inner, rd)
              i += 1
            }
            d
          })
          val polys = new Array[Polygon](arr.numElements())
          var i = 0
          while (i < polys.length) {
            val rs = arr.get(i, mid).asInstanceOf[ArrayData]
            val rings = new Array[Array[Double]](rs.numElements())
            var j = 0
            while (j < rings.length) {
              rings(j) = flatSeq(rs.get(j, mid2), dim, rd, inner)
              j += 1
            }
            polys(i) = Polygon(rings, dim)
            i += 1
          }
          MultiPolygon(polys, dim)
        }
      case other => throw new IllegalArgumentException(s"unknown native geometry type: $other")
    }
  }

  private def readElem(arr: ArrayData, i: Int, elemType: DataType, rd: Any => Array[Double]): Array[Double] = {
    if (arr.isNullAt(i)) null else rd(arr.get(i, elemType))
  }

  /** Flat coords of a coordinate sequence at an already-resolved dim
    * (see [[seqDim]]/[[resolveDim]] — the container dimension is
    * established once per geometry, never per component). */
  private def flatSeq(v: Any, dim: Int, rd: Any => Array[Double],
                      elemType: DataType): Array[Double] = {
    if (v == null) return Array.empty[Double]
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return Array.empty[Double]
    val out = new Array[Double](n * dim)
    var i = 0
    while (i < n) {
      val c = readElem(arr, i, elemType, rd)
      if (c != null) System.arraycopy(c, 0, out, i * dim, math.min(dim, c.length))
      i += 1
    }
    out
  }
}

// ------------------------- declared-scope extensions (README.md:8-39) ------

/** ST_IsSimple(geom) — no self-intersections / repeated points. */
case class StIsSimple(child: Expression) extends GeomUnary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_issimple"
  override protected def evalGeom(g: Geometry): Any = orNull(GeomSetOps.isSimple(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_Boundary(geom) — combinatorial boundary. */
case class StBoundary(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_boundary"
  override protected def evalGeom(g: Geometry): Any = orNull(toWkb(GeomSetOps.boundary(g)))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class StEquals(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_equals"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = orNull(GeomSetOps.equalsGeom(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StTouches(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_touches"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = orNull(GeomSetOps.touches(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StCrosses(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_crosses"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = orNull(GeomSetOps.crosses(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StOverlaps(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BooleanType
  override def prettyName: String = "st_overlaps"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = orNull(GeomSetOps.overlaps(a, b))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StRelate(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = StringType
  override def prettyName: String = "st_relate"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    orNull(UTF8String.fromString(GeomSetOps.relate(a, b)))
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Set-theoretic ops (JTS overlay): null when JTS rejects an operand
  * (see [[GeomSetOps]] scaladoc). */
case class StIntersection(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_intersection"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomSetOps.intersection(a, b).map(toWkb).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StDifference(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_difference"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomSetOps.difference(a, b).map(toWkb).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StUnion(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_union"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomSetOps.union(a, b).map(toWkb).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
case class StSymDifference(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_symdifference"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomSetOps.symDifference(a, b).map(toWkb).orNull
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_Buffer(geom, dist) — JTS buffer, 8 segments per quarter circle. */
case class StBuffer(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_buffer"
  override protected def nullSafeEval(v: Any, d: Any): Any = {
    val g = fromWkb(v)
    if (g == null) null
    else GeomSetOps.buffer(g, d.asInstanceOf[Double]).map(toWkb).orNull
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_AsGeoJSON(geom) → RFC 7946 geometry object (no CRS member). */
case class StAsGeoJson(child: Expression) extends GeomUnary {
  override def dataType: DataType = StringType
  override def prettyName: String = "st_asgeojson"
  override protected def evalGeom(g: Geometry): Any = UTF8String.fromString(GeoJson.write(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_GeomFromGeoJSON(json) → WKB; null on malformed input — the input
  * face of [[StAsGeoJson]] (RFC 7946 geometries incl. collections). */
case class StGeomFromGeoJson(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geomfromgeojson"
  override protected def nullSafeEval(v: Any): Any = {
    val g = GeoJson.readOrNull(v.toString)
    if (g == null) null else geomutil.toWkb(g)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

// ----------------------------- structural accessors (PostGIS-standard) -----

/** ST_PointN(line, n) — 1-based nth vertex of a LineString; null otherwise. */
case class StPointN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_pointn"
  override protected def nullSafeEval(v: Any, nv: Any): Any = {
    val g = fromWkb(v)
    val n = nv.asInstanceOf[Number].intValue()
    g match {
      case l: LineString if n >= 1 && n <= l.numPoints =>
        val off = (n - 1) * l.dim
        toWkb(Point(java.util.Arrays.copyOfRange(l.coords, off, off + l.dim), l.dim))
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_StartPoint / ST_EndPoint of a LineString. */
case class StStartPoint(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_startpoint"
  override protected def evalGeom(g: Geometry): Any = g match {
    case l: LineString if !l.isEmpty =>
      toWkb(Point(java.util.Arrays.copyOfRange(l.coords, 0, l.dim), l.dim))
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
case class StEndPoint(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_endpoint"
  override protected def evalGeom(g: Geometry): Any = g match {
    case l: LineString if !l.isEmpty =>
      val off = l.coords.length - l.dim
      toWkb(Point(java.util.Arrays.copyOfRange(l.coords, off, off + l.dim), l.dim))
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_ExteriorRing(polygon) → LineString; null for non-polygons. */
case class StExteriorRing(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_exteriorring"
  override protected def evalGeom(g: Geometry): Any = g match {
    case p: Polygon if !p.isEmpty => toWkb(LineString(p.rings(0), p.dim))
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_InteriorRingN(polygon, n) — 1-based nth hole as LineString. */
case class StInteriorRingN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_interiorringn"
  override protected def nullSafeEval(v: Any, nv: Any): Any = {
    val g = fromWkb(v)
    val n = nv.asInstanceOf[Number].intValue()
    g match {
      case p: Polygon if n >= 1 && n < p.rings.length => toWkb(LineString(p.rings(n), p.dim))
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_GeometryN(multi, n) — 1-based nth member geometry. */
case class StGeometryN(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geometryn"
  override protected def nullSafeEval(v: Any, nv: Any): Any = {
    val g = fromWkb(v)
    val n = nv.asInstanceOf[Number].intValue()
    g match {
      case mp: MultiPoint if n >= 1 && n <= mp.points.length => toWkb(mp.points(n - 1))
      case ml: MultiLineString if n >= 1 && n <= ml.lines.length => toWkb(ml.lines(n - 1))
      case mpg: MultiPolygon if n >= 1 && n <= mpg.polygons.length => toWkb(mpg.polygons(n - 1))
      case gc: GeometryCollection if n >= 1 && n <= gc.geoms.length => toWkb(gc.geoms(n - 1))
      case simple if n == 1 && !simple.isEmpty => toWkb(simple)
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_Reverse — reverse vertex order of every coordinate sequence. */
case class StReverse(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_reverse"
  private def rev(cs: Array[Double], dim: Int): Array[Double] = {
    val n = cs.length / dim
    val out = new Array[Double](cs.length)
    var i = 0
    while (i < n) {
      System.arraycopy(cs, (n - 1 - i) * dim, out, i * dim, dim)
      i += 1
    }
    out
  }
  private def revGeom(g: Geometry): Geometry = g match {
    case l: LineString => LineString(rev(l.coords, l.dim), l.dim)
    case p: Polygon => Polygon(p.rings.map(rev(_, p.dim)), p.dim)
    case ml: MultiLineString => MultiLineString(ml.lines.map(l => LineString(rev(l.coords, l.dim), l.dim)), ml.dim)
    case mpg: MultiPolygon => MultiPolygon(mpg.polygons.map(p => Polygon(p.rings.map(rev(_, p.dim)), p.dim)), mpg.dim)
    case gc: GeometryCollection => GeometryCollection(gc.geoms.map(revGeom), gc.dim)
    case other => other
  }
  override protected def evalGeom(g: Geometry): Any = toWkb(revGeom(g))
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_Translate(geom, dx, dy) — affine shift. */
case class StTranslate(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_translate"
  override protected def nullSafeEval(v: Any, dxv: Any, dyv: Any): Any = {
    val g = fromWkb(v)
    if (g == null) return null
    val dx = dxv.asInstanceOf[Double]
    val dy = dyv.asInstanceOf[Double]
    toWkb(Affine.map(g, (x, y) => (x + dx, y + dy)))
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** ST_Scale(geom, sx, sy) — affine scale about the origin. */
case class StScale(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_scale"
  override protected def nullSafeEval(v: Any, sxv: Any, syv: Any): Any = {
    val g = fromWkb(v)
    if (g == null) return null
    val sx = sxv.asInstanceOf[Double]
    val sy = syv.asInstanceOf[Double]
    toWkb(Affine.map(g, (x, y) => (x * sx, y * sy)))
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** Shared coordinate-wise affine transformer. */
object Affine {
  def map(g: Geometry, f: (Double, Double) => (Double, Double)): Geometry = {
    def seq(cs: Array[Double], dim: Int): Array[Double] = {
      val out = cs.clone()
      var i = 0
      while (i + 1 < out.length) {
        val (nx, ny) = f(out(i), out(i + 1))
        out(i) = nx; out(i + 1) = ny
        i += dim
      }
      out
    }
    g match {
      case p: Point => if (p.isEmpty) p else Point(seq(p.coords, p.dim), p.dim)
      case l: LineString => LineString(seq(l.coords, l.dim), l.dim)
      case pg: Polygon => Polygon(pg.rings.map(seq(_, pg.dim)), pg.dim)
      case mp: MultiPoint => MultiPoint(mp.points.map(p => if (p.isEmpty) p else Point(seq(p.coords, p.dim), p.dim)), mp.dim)
      case ml: MultiLineString => MultiLineString(ml.lines.map(l => LineString(seq(l.coords, l.dim), l.dim)), ml.dim)
      case mpg: MultiPolygon => MultiPolygon(mpg.polygons.map(p => Polygon(p.rings.map(seq(_, p.dim)), p.dim)), mpg.dim)
      case gc: GeometryCollection => GeometryCollection(gc.geoms.map(map(_, f)), gc.dim)
    }
  }
}

/**
 * ST_GeoHash(point, precision) — standard base-32 geohash of a lon/lat
 * point (x = longitude, y = latitude, clamped to valid ranges); null for
 * non-points. Useful as a storage partition key for geo data.
 */
case class StGeoHash(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "st_geohash"
  override protected def nullSafeEval(v: Any, pv: Any): Any = {
    val g = fromWkb(v)
    val precision = math.min(math.max(pv.asInstanceOf[Number].intValue(), 1), 20)
    g match {
      case p: Point if !p.isEmpty =>
        UTF8String.fromString(GeoHash.encode(p.x, p.y, precision))
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Base-32 geohash encoder (public algorithm; x=lon, y=lat). */
object GeoHash {
  private val base32 = "0123456789bcdefghjkmnpqrstuvwxyz"
  def encode(lonRaw: Double, latRaw: Double, precision: Int): String = {
    val lon = math.max(-180.0, math.min(180.0, lonRaw))
    val lat = math.max(-90.0, math.min(90.0, latRaw))
    val sb = new java.lang.StringBuilder(precision)
    var latLo = -90.0; var latHi = 90.0
    var lonLo = -180.0; var lonHi = 180.0
    var isEven = true
    var bit = 0
    var ch = 0
    while (sb.length < precision) {
      if (isEven) {
        val mid = (lonLo + lonHi) / 2
        if (lon >= mid) { ch = (ch << 1) | 1; lonLo = mid } else { ch = ch << 1; lonHi = mid }
      } else {
        val mid = (latLo + latHi) / 2
        if (lat >= mid) { ch = (ch << 1) | 1; latLo = mid } else { ch = ch << 1; latHi = mid }
      }
      isEven = !isEven
      bit += 1
      if (bit == 5) { sb.append(base32.charAt(ch)); bit = 0; ch = 0 }
    }
    sb.toString
  }
}

/** ST_Azimuth(a, b) — angle in radians clockwise from north, point args. */
case class StAzimuth(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "st_azimuth"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any = (a, b) match {
    case (p: Point, q: Point) if !p.isEmpty && !q.isEmpty && (p.x != q.x || p.y != q.y) =>
      val az = math.atan2(q.x - p.x, q.y - p.y)
      if (az < 0) az + 2 * math.Pi else az
    case _ => null
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_LineInterpolatePoint(line, fraction) — point at `fraction` ∈ [0,1]
  * of the line's length. */
case class StLineInterpolatePoint(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_lineinterpolatepoint"
  override protected def nullSafeEval(v: Any, fv: Any): Any = {
    val g = fromWkb(v)
    val f = fv.asInstanceOf[Double]
    g match {
      case l: LineString if !l.isEmpty && f >= 0.0 && f <= 1.0 =>
        val total = GeomOps.length(l)
        if (total == 0.0) {
          toWkb(Point(java.util.Arrays.copyOfRange(l.coords, 0, l.dim), l.dim))
        } else {
          var target = f * total
          val dim = l.dim
          val n = l.coords.length / dim
          var i = 1
          while (i < n) {
            val x0 = l.coords((i - 1) * dim); val y0 = l.coords((i - 1) * dim + 1)
            val x1 = l.coords(i * dim); val y1 = l.coords(i * dim + 1)
            val seg = math.hypot(x1 - x0, y1 - y0)
            if (target <= seg || i == n - 1) {
              val t = if (seg == 0) 0.0 else math.min(target / seg, 1.0)
              return toWkb(Point.xy(x0 + t * (x1 - x0), y0 + t * (y1 - y0)))
            }
            target -= seg
            i += 1
          }
          null
        }
      case _ => null
    }
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_MakeLine(array<geometry>) — line through the given points (in order). */
case class StMakeLine(child: Expression) extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_makeline"
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val buf = new scala.collection.mutable.ArrayBuffer[Double](n * 2)
    var dim = 2
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        geomutil.fromWkb(arr.getBinary(i)) match {
          case p: Point if !p.isEmpty =>
            dim = p.dim
            buf ++= p.coords
          case _ => return null
        }
      }
      i += 1
    }
    geomutil.toWkb(LineString(buf.toArray, dim))
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_DumpPoints(geometry) — every vertex as an array of WKB points. */
case class StDumpPoints(child: Expression) extends GeomUnary {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(BinaryType, containsNull = false)
  override def prettyName: String = "st_dumppoints"
  override protected def evalGeom(g: Geometry): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[Array[Byte]]
    g.foreachSeq { (cs, dim) =>
      var i = 0
      while (i + 1 < cs.length) {
        if (!cs(i).isNaN)
          out += geomutil.toWkb(Point(java.util.Arrays.copyOfRange(cs, i, i + dim), dim))
        i += dim
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray[Any])
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_MinimumBoundingCircle(g) — smallest enclosing circle as an N-gon
  * polygon (32 segments), matching ST_Buffer's approximation style. */
case class StMinimumBoundingCircle(child: Expression) extends GeomUnary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_minimumboundingcircle"
  override protected def evalGeom(g: Geometry): Any =
    MinCircle.of(g) match {
      case None => toWkb(Polygon(Array.empty, 2))
      case Some((cx, cy, r)) =>
        if (r == 0) toWkb(Point.xy(cx, cy))
        else GeomSetOps.buffer(Point.xy(cx, cy), r) match {
          case Some(p) => toWkb(p)
          case None => null
        }
    }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_ClosestPoint(a, b) — the point on `a` closest to `b`. */
case class StClosestPoint(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_closestpoint"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomOps.closestPoints(a, b) match {
      case Some(((ax, ay), _)) => toWkb(Point.xy(ax, ay))
      case None => null
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_ShortestLine(a, b) — the line realizing the minimum distance. */
case class StShortestLine(left: Expression, right: Expression) extends GeomBinary {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "st_shortestline"
  override protected def evalGeoms(a: Geometry, b: Geometry): Any =
    GeomOps.closestPoints(a, b) match {
      case Some(((ax, ay), (bx, by))) => toWkb(LineString(Array(ax, ay, bx, by), 2))
      case None => null
    }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** ST_NumInteriorRings(polygon) — hole count; null for non-polygons. */
case class StNumInteriorRings(child: Expression) extends GeomUnary {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "st_numinteriorrings"
  override protected def evalGeom(g: Geometry): Any = g match {
    case p: Polygon if !p.isEmpty => p.rings.length - 1
    case _ => null
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ST_Rotate(geom, radians) — CCW rotation about the origin. */
case class StRotate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "st_rotate"
  override protected def nullSafeEval(v: Any, rv: Any): Any = {
    val g = fromWkb(v)
    if (g == null) return null
    val a = rv.asInstanceOf[Double]
    val c = math.cos(a); val s = math.sin(a)
    toWkb(Affine.map(g, (x, y) => (x * c - y * s, x * s + y * c)))
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/**
 * st_wkb_as_native(geom): WKB → GeoArrow separated native layout — the
 * write-side inverse of [[StNativeAsWkb]]. Coordinates become
 * `struct<x,y[,z[,m]]>` nested per class exactly like the reference's
 * native fixtures (point: struct; linestring/multipoint: list<struct>;
 * polygon/multilinestring: list<list<struct>>; multipolygon:
 * list<list<list<struct>>>). Completes the native-GeoArrow OUTPUT path the
 * reference computes on zero-copy (reference: src/udfs/envelope.rs:230-326
 * preserves native layouts; this engine canonicalizes to WKB for compute
 * and materializes native on write).
 *
 * Rows whose geometry class does not match the declared column class → SQL
 * NULL (a native column holds exactly one class by construction). Empty
 * points encode as all-NaN ordinates (reference convention:
 * data/generate_test_data.py:79).
 */
case class StWkbAsNative(child: Expression, geometryType: String, dim: Int = 2,
                         interleaved: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  require(dim >= 2 && dim <= 4)
  // interleaved coords are array<double> of length `dim` per coordinate —
  // the Spark mapping of GeoArrow's FixedSizeList<f64>[dim], which the
  // reference dispatches for XY and XYZ alike (helpers.rs:49-71,114-131);
  // the reader (NativeLayout.coordReader) recovers the stride from the
  // runtime array length, so every dim round-trips

  private def coordType: DataType =
    if (interleaved) ArrayType(DoubleType, containsNull = false)
    else StructType(Seq("x", "y", "z", "m").take(dim)
      .map(n => StructField(n, DoubleType, nullable = false)))

  override def dataType: DataType = geometryType.toLowerCase match {
    case "point"                      => coordType
    case "linestring" | "multipoint"  => ArrayType(coordType, containsNull = false)
    case "polygon" | "multilinestring" =>
      ArrayType(ArrayType(coordType, containsNull = false), containsNull = false)
    case "multipolygon" =>
      ArrayType(ArrayType(ArrayType(coordType, containsNull = false),
        containsNull = false), containsNull = false)
    case other => throw new IllegalArgumentException(s"no native layout for $other")
  }
  override def nullable: Boolean = true
  override def prettyName: String = "st_wkb_as_native"

  private def rowOf(cs: Array[Double], off: Int, gdim: Int): Any = {
    if (interleaved) {
      val vals = new Array[Double](dim)
      var i = 0
      while (i < dim) { vals(i) = if (i < gdim) cs(off + i) else Double.NaN; i += 1 }
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(vals)
    }
    val vals = new Array[Any](dim)
    var i = 0
    while (i < dim) { vals(i) = if (i < gdim) cs(off + i) else Double.NaN; i += 1 }
    new GenericInternalRow(vals)
  }

  private def seqOf(cs: Array[Double], gdim: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = cs.length / gdim
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = rowOf(cs, i * gdim, gdim); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def nullSafeEval(v: Any): Any = {
    val g = fromWkb(v)
    if (g == null) return null
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    (geometryType.toLowerCase, g) match {
      case ("point", p: Point) =>
        if (p.isEmpty) rowOf(Array.fill(dim)(Double.NaN), 0, dim)
        else rowOf(p.coords, 0, p.dim)
      case ("linestring", l: LineString) => seqOf(l.coords, l.dim)
      case ("multipoint", mp: MultiPoint) =>
        new GenericArrayData(mp.points.map(p =>
          if (p.isEmpty) rowOf(Array.fill(dim)(Double.NaN), 0, dim)
          else rowOf(p.coords, 0, p.dim)).toArray[Any])
      case ("polygon", pg: Polygon) =>
        new GenericArrayData(pg.rings.map(r => seqOf(r, pg.dim)).toArray[Any])
      case ("multilinestring", ml: MultiLineString) =>
        new GenericArrayData(ml.lines.map(l => seqOf(l.coords, l.dim)).toArray[Any])
      case ("multipolygon", mpg: MultiPolygon) =>
        new GenericArrayData(mpg.polygons.map(pg =>
          new GenericArrayData(pg.rings.map(r => seqOf(r, pg.dim)).toArray[Any])).toArray[Any])
      case _ => null // class mismatch for this native column
    }
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
