package graftbench

import java.util.SplittableRandom

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Input sizes of one scale. `small` runs every workload end to end in
  * seconds (the self-test); `full` is what the benchmark measures. The
  * warm-up inputs have the same make-up and size as the timed ones. */
final case class Scale(
    geoRows: Int,         // rows of each geo_scan dataset
    points: Int,          // spatial_join points
    polygons: Int,        // spatial_join convex polygons
    maxPairs: Int,        // overlapping polygon pairs for the overlay query
    tileGroups: Int,      // edge-sharing tile groups for st_union_agg
    docsPerSlice: Int,    // stream_dedup documents per slice (one trigger)
    minTriggerMs: Int,    // stream_dedup: timed slices last down to this trigger time
    warmSteps: Int,       // geo_scan, spatial_join: untimed warm-up passes
    warmSlices: Int) {    // stream_dedup: untimed warm-up triggers, one slice each
  /** Timed stream_dedup slices for a timed phase of `seconds`: the
    * untimed first trigger, then one per trigger of `minTriggerMs`. If
    * triggers get faster still, the timed phase ends when they run out. */
  def slicesFor(seconds: Double): Int = 1 + math.ceil(seconds * 1000 / minTriggerMs).toInt
}

object Scale {
  val full = Scale(geoRows = 20000, points = 50000, polygons = 1000, maxPairs = 1000,
    tileGroups = 200, docsPerSlice = 1500, minTriggerMs = 400, warmSteps = 2, warmSlices = 2)
  val small = Scale(geoRows = 3000, points = 4000, polygons = 200, maxPairs = 200,
    tileGroups = 20, docsPerSlice = 150, minTriggerMs = 400, warmSteps = 1, warmSlices = 2)
  def apply(name: String): Scale = name match {
    case "full" => full
    case "small" => small
    case other => throw new IllegalArgumentException(s"unknown scale $other")
  }
}

/** Deterministic input generators. Every row is a pure function of
  * (seed, dataset, row id), so the bench JVM regenerates the expected
  * answers in memory without reading the files back. */
object Gen {

  def rng(seed: Long, stream: Long, id: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream) + id))

  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** Vertex count: mostly small (log-uniform in [lo, 16]), one in seven
    * log-uniform up to `hi` — 1 to a few hundred vertices overall. */
  def vertexCount(r: SplittableRandom, lo: Int, hi: Int): Int = {
    val top = if (r.nextInt(7) == 0) hi else math.min(16, hi)
    val v = math.exp(math.log(lo) + r.nextDouble() * (math.log(top + 1) - math.log(lo))).toInt
    math.max(lo, math.min(hi, v))
  }

  // ------------------------------------------------------------ geo_scan

  /** Class weights in ‰: Point, LineString, Polygon, MultiPoint,
    * MultiLineString, MultiPolygon. Like every share in this generator,
    * chosen, not measured: benchmark/README.md's make-up table gives the
    * source of each value where there is one, and what it exercises. */
  private val classPermille = Array(250, 200, 200, 100, 100, 150)

  /** One geo_scan row: its class and geometry, or null geometry (2 %).
    * 2 % of the non-null rows are EMPTY. */
  def geoRow(seed: Long, stream: Long, id: Long): (Int, RGeom) = {
    val r = rng(seed, stream, id)
    var pick = r.nextInt(1000)
    var kind = 1
    while (pick >= classPermille(kind - 1)) { pick -= classPermille(kind - 1); kind += 1 }
    val u = r.nextInt(100)
    if (u < 2) (kind, null)
    else if (u < 4) (kind, emptyOf(kind))
    else {
      val cx = -170 + 340 * r.nextDouble()
      val cy = -80 + 160 * r.nextDouble()
      val s = math.pow(10, -3 + 3 * r.nextDouble())
      (kind, shape(kind, r, cx, cy, s))
    }
  }

  private def emptyOf(kind: Int): RGeom = kind match {
    case 1 => RPoint(Array.empty)
    case 2 => RLine(Array.empty)
    case 3 => RPoly(Array.empty)
    case k => RMulti(k, Array.empty)
  }

  private def shape(kind: Int, r: SplittableRandom, cx: Double, cy: Double, s: Double): RGeom =
    kind match {
      case 1 => RPoint(Array(cx, cy))
      case 2 => walk(r, cx, cy, s, vertexCount(r, 2, 300))
      case 3 => polygon(r, cx, cy, s, vertexCount(r, 3, 300))
      case 4 => RMulti(4, Array.fill(vertexCount(r, 1, 40))(
        RPoint(Array(cx + s * (2 * r.nextDouble() - 1), cy + s * (2 * r.nextDouble() - 1)))))
      case 5 => RMulti(5, Array.tabulate(1 + r.nextInt(4))(k =>
        walk(r, cx + 2 * s * k, cy, s, vertexCount(r, 2, 120))))
      case 6 => RMulti(6, Array.tabulate(1 + r.nextInt(3))(k =>
        polygon(r, cx + 3 * s * k, cy, s, vertexCount(r, 3, 120))))
    }

  private def walk(r: SplittableRandom, cx: Double, cy: Double, s: Double, n: Int): RLine = {
    val cs = new Array[Double](2 * n)
    var x = cx; var y = cy
    for (i <- 0 until n) {
      cs(2 * i) = x; cs(2 * i + 1) = y
      val a = 2 * math.Pi * r.nextDouble()
      x += s / n * math.cos(a); y += s / n * math.sin(a)
    }
    RLine(cs)
  }

  /** Star-shaped simple polygon of `n` distinct vertices; one in five with
    * six or more vertices gets a hole around its centre. */
  private def polygon(r: SplittableRandom, cx: Double, cy: Double, s: Double, n: Int): RPoly = {
    def ring(rad: Double, m: Int, ccw: Boolean): Array[Double] = {
      val angles = Array.tabulate(m)(k => 2 * math.Pi * (k + 0.8 * r.nextDouble()) / m)
      val order = if (ccw) angles else angles.reverse
      val cs = new Array[Double](2 * (m + 1))
      for (k <- 0 until m) {
        val rr = rad * (0.5 + 0.5 * r.nextDouble())
        cs(2 * k) = cx + rr * math.cos(order(k)); cs(2 * k + 1) = cy + rr * math.sin(order(k))
      }
      cs(2 * m) = cs(0); cs(2 * m + 1) = cs(1)
      cs
    }
    val outer = ring(s, n, ccw = true)
    if (n >= 6 && r.nextInt(5) == 0) RPoly(Array(outer, ring(s * 0.2, 4, ccw = false)))
    else RPoly(Array(outer))
  }

  private val NativeSchema = Map(
    1 -> "optional group geometry { required double x; required double y; }",
    2 -> listOf(1), 4 -> listOf(1), 3 -> listOf(2), 5 -> listOf(2), 6 -> listOf(3))

  private def listOf(depth: Int): String = {
    val xy = "required group element { required double x; required double y; }"
    val inner = (1 until depth).foldLeft(xy)((in, _) =>
      s"required group element (LIST) { repeated group list { $in } }")
    s"optional group geometry (LIST) { repeated group list { $inner } }"
  }

  private def geoFooter(encoding: String, types: Seq[String], cols: Seq[String] = Seq("geometry")): String = {
    val t = types.map(x => "\"" + x + "\"").mkString(",")
    val c = cols.map(n => s""""$n":{"encoding":"$encoding","geometry_types":[$t]}""").mkString(",")
    s"""{"version":"1.1.0","primary_column":"${cols.head}","columns":{$c}}"""
  }

  /** Writes one geo_scan dataset: `wkb/` (all rows, WKB) and
    * `native_<class>/` (the same rows split by class, GeoArrow separated
    * layout), each a single parquet file of several row groups. */
  def writeGeoScan(dir: String, seed: Long, stream: Long, rows: Int): Unit = {
    val wkbW = writer(s"$dir/wkb/part-0.parquet",
      "message geo { required int64 id; optional binary geometry; }",
      geoFooter("WKB", Ref.ClassNames.drop(1).toSeq))
    val nativeW = (1 to 6).map { k =>
      k -> writer(s"$dir/native_${Ref.ClassNames(k).toLowerCase}/part-0.parquet",
        s"message geo { required int64 id; ${NativeSchema(k)} }",
        geoFooter(Ref.ClassNames(k).toLowerCase, Seq(Ref.ClassNames(k))))
    }.toMap
    val wf = new SimpleGroupFactory(wkbW._2)
    val nf = nativeW.map { case (k, (_, s)) => k -> new SimpleGroupFactory(s) }
    try {
      for (id <- 0L until rows) {
        val (kind, g) = geoRow(seed, stream, id)
        val w = wf.newGroup().append("id", id)
        if (g != null) w.append("geometry", Binary.fromConstantByteArray(Ref.wkb(g)))
        wkbW._1.write(w)
        val n = nf(kind).newGroup().append("id", id)
        if (g != null) addNative(n.addGroup("geometry"), g)
        nativeW(kind)._1.write(n)
      }
    } finally (wkbW._1 +: nativeW.values.map(_._1).toSeq).foreach(_.close())
  }

  private def addNative(into: Group, g: RGeom): Unit = {
    def xy(e: Group, x: Double, y: Double): Unit = { e.append("x", x); e.append("y", y) }
    def seq(l: Group, cs: Array[Double]): Unit =
      for (i <- 0 until cs.length / 2) xy(l.addGroup("list").addGroup("element"), cs(2 * i), cs(2 * i + 1))
    def rings(l: Group, rs: Array[Array[Double]]): Unit =
      rs.foreach(rg => seq(l.addGroup("list").addGroup("element"), rg))
    g match {
      case RPoint(p) => if (p.isEmpty) xy(into, Double.NaN, Double.NaN) else xy(into, p(0), p(1))
      case RLine(cs) => seq(into, cs)
      case RPoly(rs) => rings(into, rs)
      case RMulti(4, ps) => ps.foreach { case RPoint(p) =>
        xy(into.addGroup("list").addGroup("element"), p(0), p(1)); case _ => () }
      case RMulti(5, ps) => ps.foreach { case RLine(cs) =>
        seq(into.addGroup("list").addGroup("element"), cs); case _ => () }
      case RMulti(_, ps) => ps.foreach { case RPoly(rs) =>
        rings(into.addGroup("list").addGroup("element"), rs); case _ => () }
    }
  }

  /** One Hadoop configuration for every writer: building one per file
    * costs more than writing a slice. */
  private lazy val hadoopConf = new Configuration()

  private def writer(path: String, schema: String, geo: String) = {
    val s = MessageTypeParser.parseMessageType(schema)
    val b = ExampleParquetWriter.builder(new Path(path))
      .withType(s)
      .withConf(hadoopConf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withRowGroupSize(4L << 20)
    val w = (if (geo == null) b else b.withExtraMetaData(java.util.Map.of("geo", geo))).build()
    (w, s)
  }

  // --------------------------------------------------------- spatial_join

  /** Side of the square domain of the join inputs. */
  val Domain = 1000.0

  def joinPoint(seed: Long, id: Long): (Double, Double) = {
    val r = rng(seed, 10, id)
    (Domain * r.nextDouble(), Domain * r.nextDouble())
  }

  /** A convex CCW polygon, closed, of 5–12 hull candidates on a circle;
    * its radius makes the polygons cover the domain about twice over. */
  def joinPolygon(seed: Long, stream: Long, id: Long, count: Int): Array[Double] = {
    val r = rng(seed, stream, id)
    val rad = Domain * math.sqrt(2.0 / (math.Pi * count)) * (0.5 + r.nextDouble())
    val cx = Domain * r.nextDouble(); val cy = Domain * r.nextDouble()
    val m = 5 + r.nextInt(8)
    var hull = Array.empty[Double]
    while (hull.length < 8) {
      hull = Ref.convexHull(Array.fill(m) {
        val a = 2 * math.Pi * r.nextDouble()
        (cx + rad * math.cos(a), cy + rad * math.sin(a))
      })
    }
    hull
  }

  /** Pairs (a, b), a < b, of join polygons whose interiors overlap: the
    * first `max` in (a, b) order. */
  def overlapPairs(polys: Array[Array[Double]], max: Int): Array[(Int, Int)] = {
    val bbs = polys.map(p => Ref.bbox(RLine(p)))
    val grid = new GridIndex(bbs)
    val out = Array.newBuilder[(Int, Int)]
    var n = 0
    var a = 0
    while (a < polys.length && n < max) {
      for (b <- grid.candidates(bbs(a)).filter(_ > a).sorted if n < max) {
        if (Ref.ringArea(Ref.clipConvex(polys(a), polys(b))) > 1e-6) { out += ((a, b)); n += 1 }
      }
      a += 1
    }
    out.result()
  }

  /** Tiles of one st_union_agg group: a convex polygon fan-triangulated
    * into triangles that share their edges. */
  def tileGroup(seed: Long, g: Long): (Array[Double], Array[Array[Double]]) = {
    val hull = joinPolygon(seed, 12, g, 400)
    val n = hull.length / 2 - 1
    val tris = (1 until n - 1).map { i =>
      Array(hull(0), hull(1), hull(2 * i), hull(2 * i + 1),
        hull(2 * i + 2), hull(2 * i + 3), hull(0), hull(1))
    }.toArray
    (hull, tris)
  }

  def writeSpatialJoin(dir: String, seed: Long, sc: Scale): Unit = {
    val pts = writer(s"$dir/points/part-0.parquet",
      "message p { required int64 id; optional binary geometry; }", geoFooter("WKB", Seq("Point")))
    val pf = new SimpleGroupFactory(pts._2)
    try for (i <- 0L until sc.points) {
      val (x, y) = joinPoint(seed, i)
      pts._1.write(pf.newGroup().append("id", i)
        .append("geometry", Binary.fromConstantByteArray(Ref.wkb(RPoint(Array(x, y))))))
    } finally pts._1.close()
    val polys = Array.tabulate(sc.polygons)(i => joinPolygon(seed, 11, i, sc.polygons))
    val pw = writer(s"$dir/polygons/part-0.parquet",
      "message q { required int64 id; optional binary geometry; }", geoFooter("WKB", Seq("Polygon")))
    val qf = new SimpleGroupFactory(pw._2)
    try for (i <- polys.indices) pw._1.write(qf.newGroup().append("id", i.toLong)
      .append("geometry", Binary.fromConstantByteArray(Ref.wkb(RPoly(Array(polys(i)))))))
    finally pw._1.close()
    val pairs = overlapPairs(polys, sc.maxPairs)
    val aw = writer(s"$dir/pairs/part-0.parquet",
      "message pr { required int64 a_id; required int64 b_id; optional binary a; optional binary b; }",
      geoFooter("WKB", Seq("Polygon"), Seq("a", "b")))
    val af = new SimpleGroupFactory(aw._2)
    try pairs.foreach { case (a, b) => aw._1.write(af.newGroup().append("a_id", a.toLong)
      .append("b_id", b.toLong)
      .append("a", Binary.fromConstantByteArray(Ref.wkb(RPoly(Array(polys(a))))))
      .append("b", Binary.fromConstantByteArray(Ref.wkb(RPoly(Array(polys(b))))))) }
    finally aw._1.close()
    val tw = writer(s"$dir/tiles/part-0.parquet",
      "message t { required int64 grp; required int64 id; optional binary geometry; }",
      geoFooter("WKB", Seq("Polygon")))
    val tf = new SimpleGroupFactory(tw._2)
    var tid = 0L
    try for (g <- 0L until sc.tileGroups) {
      tileGroup(seed, g)._2.foreach { t =>
        tw._1.write(tf.newGroup().append("grp", g).append("id", tid)
          .append("geometry", Binary.fromConstantByteArray(Ref.wkb(RPoly(Array(t))))))
        tid += 1
      }
    } finally tw._1.close()
  }

  // --------------------------------------------------------- stream_dedup

  /** Lines shorter than this are exempt from dedup. */
  val MinChars = 12
  private val Words = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod " +
    "tempor incididunt ut labore et dolore magna aliqua enim ad minim veniam quis nostrud " +
    "exercitation ullamco laboris nisi aliquip ex ea commodo consequat").split(' ')
  private val Short = Array("", "--", "ok", "* * *", "end")
  /** Shared boilerplate vocabulary, drawn Zipf(1.1): a few lines repeat in
    * most slices, most repeat rarely. */
  val SharedLines = 20000
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(SharedLines)(k => math.pow(k + 1, -1.1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  private def words(r: SplittableRandom, n: Int): String =
    Array.fill(n)(Words(r.nextInt(Words.length))).mkString(" ")

  def sharedLine(seed: Long, k: Int): String =
    s"shared $k " + words(rng(seed, 20, k), 3 + rng(seed, 21, k).nextInt(8))

  /** Document `doc` of the stream namespace `stream`: 6–18 lines; 40 % from
    * the shared vocabulary, 5 % short exempt lines, the rest unique. */
  def document(seed: Long, stream: Long, doc: Long): Array[String] = {
    val r = rng(seed, stream, doc)
    Array.tabulate(6 + r.nextInt(13)) { pos =>
      val u = r.nextInt(100)
      if (u < 40) {
        val i = java.util.Arrays.binarySearch(zipfCdf, r.nextDouble())
        sharedLine(seed, if (i >= 0) i else math.min(-i - 1, SharedLines - 1))
      } else if (u < 45) Short(r.nextInt(Short.length))
      else s"doc $doc line $pos " + words(r, 2 + r.nextInt(9))
    }
  }

  /** Doc ids of slice `k` in stream namespace `stream`. */
  def sliceDocs(stream: Long, k: Int, sc: Scale): Range.Inclusive = {
    val base = stream * 100000000L + k.toLong * sc.docsPerSlice
    (base.toInt to (base + sc.docsPerSlice - 1).toInt)
  }

  /** The stream's read-only seed line index: empty, with the field
    * metadata (separator, minChars, normalized) the dedup sink reads, in
    * Spark's own parquet schema key. */
  def writeSeedIndex(dir: String): Unit = {
    val sparkSchema = "{\"type\":\"struct\",\"fields\":[{\"name\":\"key\",\"type\":\"string\"," +
      "\"nullable\":true,\"metadata\":{\"separator\":\"\\n\",\"minChars\":" + MinChars +
      ",\"normalized\":false}}]}"
    val s = MessageTypeParser.parseMessageType("message spark_schema { optional binary key (STRING); }")
    ExampleParquetWriter.builder(new Path(s"$dir/part-0.parquet")).withType(s)
      .withConf(hadoopConf)
      .withExtraMetaData(java.util.Map.of("org.apache.spark.sql.parquet.row.metadata", sparkSchema))
      .build().close()
  }

  def writeStream(dir: String, seed: Long, stream: Long, slices: Int, sc: Scale): Unit =
    for (k <- 0 until slices) {
      val w = writer(f"$dir/slice-$k%04d.parquet",
        "message d { required int64 doc_id; required binary text (STRING); }", null)
      val f = new SimpleGroupFactory(w._2)
      try sliceDocs(stream, k, sc).foreach { d =>
        w._1.write(f.newGroup().append("doc_id", d.toLong)
          .append("text", document(seed, stream, d).mkString("\n")))
      } finally w._1.close()
    }

  // ----------------------------------------------------------------- main

  /** Streams (namespaces) of each workload's timed and warm-up inputs. */
  val TimedStream = 1L
  val WarmStream = 2L
  /** The warm-up inputs do not depend on the seed, so they are written
    * once per build and scale. */
  val WarmSeed = 0L

  /** Fixed inputs of geo_scan's known-failing operation (see GeoScan):
    * the same for every seed. */
  val FoldSeed = 0L
  val FoldStream = 3L
  val FoldRows = 2000

  /** java graftbench.Gen <workload> timed <seed> <scale> <seconds> <dir>
    * writes the timed inputs of one workload and seed;
    * java graftbench.Gen <workload> warm <scale> <dir> writes its warm-up
    * inputs (and geo_scan's fixed `fold_union` inputs). Then the `_DONE`
    * marker. */
  def main(args: Array[String]): Unit = {
    val (workload, part) = (args(0), args(1))
    val dir = args.last
    if (part == "timed") {
      val seed = args(2).toLong
      val sc = Scale(args(3))
      workload match {
        case "geo_scan" => writeGeoScan(s"$dir/timed", seed, TimedStream, sc.geoRows)
        case "spatial_join" => writeSpatialJoin(s"$dir/timed", seed, sc)
        case "stream_dedup" =>
          writeStream(s"$dir/timed", seed, TimedStream, sc.slicesFor(args(4).toDouble), sc)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } else {
      val sc = Scale(args(2))
      workload match {
        case "geo_scan" =>
          writeGeoScan(s"$dir/warm", WarmSeed, WarmStream, sc.geoRows)
          writeGeoScan(s"$dir/fold_union", FoldSeed, FoldStream, FoldRows)
        case "spatial_join" => writeSpatialJoin(s"$dir/warm", WarmSeed, sc)
        case "stream_dedup" =>
          writeStream(s"$dir/warm", WarmSeed, WarmStream, sc.warmSlices, sc)
          writeSeedIndex(s"$dir/seed_index")
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "_DONE"), "")
  }
}

/** Uniform grid over bounding boxes: candidate lookup for the brute-force
  * answers (exact tests run on every candidate). */
final class GridIndex(bbs: Array[Array[Double]], cells: Int = 64) {
  private val cell = Gen.Domain / cells
  private val buckets = Array.fill(cells * cells)(Array.newBuilder[Int])
  private def ix(v: Double) = math.max(0, math.min(cells - 1, (v / cell).toInt))
  for (i <- bbs.indices; cx <- ix(bbs(i)(0)) to ix(bbs(i)(2)); cy <- ix(bbs(i)(1)) to ix(bbs(i)(3)))
    buckets(cx * cells + cy) += i
  private val built = buckets.map(_.result())

  def at(x: Double, y: Double): Array[Int] = built(ix(x) * cells + ix(y))

  def candidates(bb: Array[Double]): Array[Int] =
    (for (cx <- ix(bb(0)) to ix(bb(2)); cy <- ix(bb(1)) to ix(bb(3)))
      yield built(cx * cells + cy)).flatten.distinct.filter { j =>
      val o = bbs(j)
      o(0) <= bb(2) && bb(0) <= o(2) && o(1) <= bb(3) && bb(1) <= o(3)
    }.toArray
}
