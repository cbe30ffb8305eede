package graftbench

import java.nio.{ByteBuffer, ByteOrder}

/** The benchmark's own geometry model: what the generator makes and what
  * every expected value is computed from. It shares no code with the
  * program, so a fault in the program's WKB/WKT codecs or geometry
  * operations cannot hide itself by agreeing with its own expectation. */
sealed trait RGeom {
  /** OGC class code 1..6 (Point … MultiPolygon). */
  def kind: Int
  def isEmpty: Boolean
}
/** A point; EMPTY when `xy` is empty. */
final case class RPoint(xy: Array[Double]) extends RGeom {
  def kind = 1; def isEmpty: Boolean = xy.isEmpty
}
/** A linestring, x/y interleaved; also a bare ring for bounding boxes. */
final case class RLine(cs: Array[Double]) extends RGeom {
  def kind = 2; def isEmpty: Boolean = cs.isEmpty
}
/** A polygon: outer ring first, then holes; each ring closed. */
final case class RPoly(rings: Array[Array[Double]]) extends RGeom {
  def kind = 3; def isEmpty: Boolean = rings.isEmpty
}
/** MultiPoint (4), MultiLineString (5) or MultiPolygon (6) of `parts`. */
final case class RMulti(kind: Int, parts: Array[RGeom]) extends RGeom {
  def isEmpty: Boolean = parts.isEmpty
}

object Ref {
  val ClassNames: Array[String] =
    Array("", "Point", "LineString", "Polygon", "MultiPoint", "MultiLineString", "MultiPolygon")

  def typeTag(g: RGeom): String = "ST_" + ClassNames(g.kind)

  // ------------------------------------------------------------------ WKB

  /** Little-endian ISO WKB; POINT EMPTY is (NaN, NaN). */
  def wkb(g: RGeom): Array[Byte] = {
    val buf = ByteBuffer.allocate(wkbSize(g)).order(ByteOrder.LITTLE_ENDIAN)
    putWkb(g, buf)
    buf.array()
  }

  private def wkbSize(g: RGeom): Int = g match {
    case _: RPoint => 21
    case RLine(cs) => 9 + 8 * cs.length
    case RPoly(rs) => 9 + rs.map(r => 4 + 8 * r.length).sum
    case RMulti(_, ps) => 9 + ps.map(wkbSize).sum
  }

  private def putWkb(g: RGeom, b: ByteBuffer): Unit = {
    b.put(1.toByte).putInt(g.kind)
    g match {
      case RPoint(xy) =>
        if (xy.isEmpty) b.putDouble(Double.NaN).putDouble(Double.NaN)
        else b.putDouble(xy(0)).putDouble(xy(1))
      case RLine(cs) => putSeq(cs, b)
      case RPoly(rs) => b.putInt(rs.length); rs.foreach(putSeq(_, b))
      case RMulti(_, ps) => b.putInt(ps.length); ps.foreach(putWkb(_, b))
    }
  }

  private def putSeq(cs: Array[Double], b: ByteBuffer): Unit = {
    b.putInt(cs.length / 2)
    cs.foreach(b.putDouble)
  }

  /** WKB of the envelope polygon as ST_Envelope defines it: the ring
    * (xmin ymin, xmax ymin, xmax ymax, xmin ymax, xmin ymin); POLYGON EMPTY
    * for an empty input. */
  def envelopeWkb(bb: Array[Double]): Array[Byte] =
    if (bb == null) wkb(RPoly(Array.empty))
    else wkb(RPoly(Array(Array(bb(0), bb(1), bb(2), bb(1), bb(2), bb(3), bb(0), bb(3), bb(0), bb(1)))))

  // ------------------------------------------------------------------ WKT

  /** WKT as the paper's ST_AsText prints it: class tag, one space, no
    * space after commas, every ordinate with a decimal point. */
  def wkt(g: RGeom): String = {
    val sb = new java.lang.StringBuilder
    sb.append(ClassNames(g.kind).toUpperCase).append(' ')
    if (g.isEmpty) sb.append("EMPTY") else body(g, sb)
    sb.toString
  }

  private def body(g: RGeom, sb: java.lang.StringBuilder): Unit = g match {
    case RPoint(xy) => sb.append('('); coord(xy, 0, sb); sb.append(')')
    case RLine(cs) => seq(cs, sb)
    case RPoly(rs) => list(rs.length, sb)(i => seq(rs(i), sb))
    case RMulti(_, ps) => list(ps.length, sb)(i => body(ps(i), sb))
  }

  private def list(n: Int, sb: java.lang.StringBuilder)(f: Int => Unit): Unit = {
    sb.append('(')
    for (i <- 0 until n) { if (i > 0) sb.append(','); f(i) }
    sb.append(')')
  }

  private def seq(cs: Array[Double], sb: java.lang.StringBuilder): Unit =
    list(cs.length / 2, sb)(i => coord(cs, 2 * i, sb))

  private def coord(cs: Array[Double], off: Int, sb: java.lang.StringBuilder): Unit = {
    num(cs(off), sb); sb.append(' '); num(cs(off + 1), sb)
  }

  private def num(d: Double, sb: java.lang.StringBuilder): Unit =
    if (d == math.rint(d) && math.abs(d) < 1e15) sb.append(d.toLong).append(".0")
    else sb.append(java.lang.Double.toString(d))

  // ---------------------------------------------------------- bounds, area

  /** (xmin, ymin, xmax, ymax), or null for an empty geometry. */
  def bbox(g: RGeom): Array[Double] = {
    val bb = Array(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)
    def add(cs: Array[Double]): Unit = {
      var i = 0
      while (i + 1 < cs.length) {
        bb(0) = math.min(bb(0), cs(i)); bb(1) = math.min(bb(1), cs(i + 1))
        bb(2) = math.max(bb(2), cs(i)); bb(3) = math.max(bb(3), cs(i + 1))
        i += 2
      }
    }
    def walk(x: RGeom): Unit = x match {
      case RPoint(xy) => add(xy)
      case RLine(cs) => add(cs)
      case RPoly(rs) => rs.foreach(add)
      case RMulti(_, ps) => ps.foreach(walk)
    }
    walk(g)
    if (bb(0) > bb(2)) null else bb
  }

  /** Shoelace area of a closed ring, absolute. */
  def ringArea(cs: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i + 3 < cs.length) {
      s += cs(i) * cs(i + 3) - cs(i + 2) * cs(i + 1)
      i += 2
    }
    math.abs(s) / 2
  }

  /** Twice the signed area of (a, b, c): > 0 when c is left of a→b. */
  @inline def orient(ax: Double, ay: Double, bx: Double, by: Double,
                     cx: Double, cy: Double): Double =
    (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

  /** Closed point-in-convex-polygon test; `ring` is counter-clockwise. */
  def inConvex(ring: Array[Double], px: Double, py: Double): Boolean = {
    var i = 0
    while (i + 3 < ring.length) {
      if (orient(ring(i), ring(i + 1), ring(i + 2), ring(i + 3), px, py) < 0) return false
      i += 2
    }
    true
  }

  /** Sutherland–Hodgman clip of convex CCW ring `subject` by convex CCW
    * ring `clip`; returns the closed intersection ring (empty if none). */
  def clipConvex(subject: Array[Double], clip: Array[Double]): Array[Double] = {
    var pts: Vector[(Double, Double)] =
      (0 until subject.length / 2 - 1).map(i => (subject(2 * i), subject(2 * i + 1))).toVector
    var e = 0
    while (e + 3 < clip.length && pts.nonEmpty) {
      val (ax, ay, bx, by) = (clip(e), clip(e + 1), clip(e + 2), clip(e + 3))
      val in = pts
      val out = Vector.newBuilder[(Double, Double)]
      for (k <- in.indices) {
        val (px, py) = in(k)
        val (qx, qy) = in((k + 1) % in.size)
        val dp = orient(ax, ay, bx, by, px, py)
        val dq = orient(ax, ay, bx, by, qx, qy)
        if (dp >= 0) out += ((px, py))
        if ((dp >= 0) != (dq >= 0)) {
          val t = dp / (dp - dq)
          out += ((px + t * (qx - px), py + t * (qy - py)))
        }
      }
      pts = out.result()
      e += 2
    }
    if (pts.size < 3) Array.empty
    else (pts :+ pts.head).flatMap { case (x, y) => Seq(x, y) }.toArray
  }

  /** Counter-clockwise convex hull (monotone chain), closed. */
  def convexHull(xy: Array[(Double, Double)]): Array[Double] = {
    val p = xy.distinct.sorted
    if (p.length < 3) return Array.empty
    def half(pts: Seq[(Double, Double)]): Vector[(Double, Double)] =
      pts.foldLeft(Vector.empty[(Double, Double)]) { (h0, q) =>
        var h = h0
        while (h.size >= 2 &&
            orient(h(h.size - 2)._1, h(h.size - 2)._2, h.last._1, h.last._2, q._1, q._2) <= 0)
          h = h.init
        h :+ q
      }
    val lower = half(p.toSeq)
    val upper = half(p.reverse.toSeq)
    val hull = lower.init ++ upper.init
    if (hull.size < 3) Array.empty
    else (hull :+ hull.head).flatMap { case (x, y) => Seq(x, y) }.toArray
  }

  // --------------------------------------------------------------- hashes

  /** Spark's `xxhash64(cols…)` of one row, folded exactly as the SQL
    * function folds its arguments (seed 42; a null argument is skipped). */
  def xxhash(values: Any*): Long = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types._
    values.foldLeft(42L) { (h, v) =>
      v match {
        case null => h
        case l: Long => XxHash64Function.hash(l, LongType, h)
        case s: String =>
          XxHash64Function.hash(org.apache.spark.unsafe.types.UTF8String.fromString(s), StringType, h)
        case b: Array[Byte] => XxHash64Function.hash(b, BinaryType, h)
        case other => throw new IllegalArgumentException(s"xxhash: $other")
      }
    }
  }
}
