package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.spatial.{GeoIO, GeomOps, GeomSetOps, SpatialJoin, WKB, functions => G}

/** spatial_join: points in convex polygons that are not axis-aligned, by
  * SpatialJoin.join (ST_Contains) and by a SQL join on ST_Intersects that
  * GridSpatialJoinRule rewrites; ST_Intersection/ST_Union areas over
  * overlapping polygon pairs; st_union_agg over edge-sharing tiles. The
  * work is in GeomOps/GeomSetOps and the grid join's explode and shuffle. */
final class JoinWorkload(run: Run) extends Workload(run) {
  import run.spark

  /** Grid pitch of both joins: about the polygons' mean diameter. */
  private def cellSizeOf(sc: Scale) = 2 * Gen.Domain * math.sqrt(2.0 / (math.Pi * sc.polygons))
  private val cellSize = cellSizeOf(run.scale)

  final case class Expected(matches: Map[Long, (Long, Long)],
                            overlay: Map[(Long, Long), (Double, Double, Double)],
                            unions: Map[Long, Double], opRows: Map[String, Long],
                            cellSize: Double)

  private var timedExp: Expected = _
  private var warmExp: Expected = _

  private def seedOf(set: String) = if (set == "timed") run.seed else Gen.WarmSeed
  private def dir(set: String) = run.dataDir(set)

  /** Brute force in plain Scala: every point against every polygon whose
    * bounding box holds it, by the closed point-in-convex-polygon test. */
  private def expected(seed: Long, sc: Scale): Expected = {
    val polys = Array.tabulate(sc.polygons)(i => Gen.joinPolygon(seed, 11, i, sc.polygons))
    val bbs = polys.map(p => Ref.bbox(RLine(p)))
    val grid = new GridIndex(bbs)
    val n = new Array[Long](polys.length); val x = new Array[Long](polys.length)
    for (pid <- 0L until sc.points) {
      val (px, py) = Gen.joinPoint(seed, pid)
      grid.at(px, py).foreach { q =>
        val bb = bbs(q)
        if (px >= bb(0) && px <= bb(2) && py >= bb(1) && py <= bb(3) && Ref.inConvex(polys(q), px, py)) {
          n(q) += 1; x(q) ^= Ref.xxhash(q.toLong, pid)
        }
      }
    }
    val matches = polys.indices.filter(n(_) > 0).map(q => q.toLong -> (n(q), x(q))).toMap
    val pairs = Gen.overlapPairs(polys, sc.maxPairs)
    val overlay = pairs.map { case (a, b) =>
      (a.toLong, b.toLong) -> (Ref.ringArea(Ref.clipConvex(polys(a), polys(b))),
        Ref.ringArea(polys(a)), Ref.ringArea(polys(b)))
    }.toMap
    var tiles = 0L
    val unions = (0L until sc.tileGroups).map { g =>
      val ts = Gen.tileGroup(seed, g)._2
      tiles += ts.length
      g -> ts.map(Ref.ringArea).sum
    }.toMap
    val joinRows = (sc.points + sc.polygons).toLong
    Expected(matches, overlay, unions, Map("contains" -> joinRows, "sql_intersects" -> joinRows,
      "overlay" -> pairs.length.toLong, "union_agg" -> tiles), cellSizeOf(sc))
  }

  private def read(set: String, name: String): DataFrame =
    GeoIO.readGeoParquet(spark, s"${dir(set)}/$name")

  /** Set-up opens the inputs the timed steps read; the warm-up opens its
    * own. */
  def open(): Unit = for (t <- Seq("points", "polygons", "pairs", "tiles")) read("timed", t).schema

  def expect(): Unit = {
    timedExp = expected(seedOf("timed"), run.scale)
    warmExp = expected(seedOf("warm"), run.scale)
  }

  def warmup(): Unit = pass("warm", warmExp)

  def step(): Long = pass("timed", timedExp)

  private def perPolygon(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("poly_id"))
      .agg(count(lit(1)), bit_xor(xxhash64(col("poly_id"), col("point_id"))))

  private def pass(set: String, e: Expected): Long = {
    val points = read(set, "points").withColumnRenamed("id", "point_id")
    val polys = read(set, "polygons").withColumnRenamed("id", "poly_id")
      .withColumnRenamed("geometry", "shape")
    var dfPairs: Map[Long, (Long, Long)] = null
    var rows = 0L
    def op(name: String)(body: => Unit): Unit = run.op(name)(body).foreach(_ => rows += e.opRows(name))
    op("contains") {
      val joined = SpatialJoin.join(polys, points, col("shape"), col("geometry"),
        Seq("poly_id"), Seq("point_id"), G.st_contains, e.cellSize)
      val (p, got) = Checks.groupsEqual("SpatialJoin.join contains", perPolygon(joined), e.matches)
      run.check(p)
      dfPairs = got
    }
    op("sql_intersects") {
      points.createOrReplaceTempView(s"points_$set")
      polys.createOrReplaceTempView(s"polys_$set")
      spark.conf.set("spark.graft.spatialJoin.cellSize", e.cellSize.toString)
      val joined = spark.sql(s"SELECT q.poly_id, p.point_id FROM polys_$set q " +
        s"JOIN points_$set p ON ST_Intersects(q.shape, p.geometry)")
      val (p, got) = Checks.groupsEqual("SQL ST_Intersects join", perPolygon(joined), e.matches)
      run.check(p)
      if (dfPairs != null)
        run.check(Checks.mapsEqual("DataFrame vs SQL join pairs", got, dfPairs))
    }
    op("overlay") {
      val pairs = read(set, "pairs")
      run.check(Checks.overlayAreas(pairs.select(col("a_id"), col("b_id"),
        G.st_area(G.st_intersection(col("a"), col("b"))), G.st_area(G.st_union(col("a"), col("b"))),
        G.st_area(col("a")), G.st_area(col("b"))), e.overlay))
    }
    op("union_agg") {
      val tiles = read(set, "tiles")
      run.check(Checks.unionAreas(tiles.groupBy(col("grp"))
        .agg(G.st_area(G.st_union_agg(col("geometry")))), e.unions))
    }
    rows
  }

  def layers(): Map[String, Double] = {
    val t = run.tracer
    val sc = run.scale
    val polys = Array.tabulate(sc.polygons)(i => Gen.joinPolygon(run.seed, 11, i, sc.polygons))
    val bbs = polys.map(p => Ref.bbox(RLine(p)))
    val grid = new GridIndex(bbs)
    val shapes = polys.map(p => WKB.read(Ref.wkb(RPoly(Array(p)))))
    // candidate (polygon, point) pairs: bounding box holds the point
    val cand = (0L until math.min(sc.points, 50000).toLong).flatMap { pid =>
      val (px, py) = Gen.joinPoint(run.seed, pid)
      val pt = WKB.read(Ref.wkb(RPoint(Array(px, py))))
      grid.at(px, py).filter { q =>
        val bb = bbs(q); px >= bb(0) && px <= bb(2) && py >= bb(1) && py <= bb(3)
      }.map(q => (shapes(q), pt))
    }
    val pairs = Gen.overlapPairs(polys, sc.maxPairs).toIndexedSeq.map { case (a, b) => (shapes(a), shapes(b)) }

    // grid join counters: matches from the join's result; candidates are
    // the cell-sharing pairs the grid join evaluates its predicate on, from
    // the program's own covering cells (Spark folds the predicate into the
    // join node, so its output-row metric counts matches, not candidates)
    val polys0 = read("timed", "polygons").withColumnRenamed("id", "poly_id")
      .withColumnRenamed("geometry", "shape")
    val points0 = read("timed", "points").withColumnRenamed("id", "point_id")
    val matches = t("join.matches", "probe")(SpatialJoin.join(polys0, points0, col("shape"),
      col("geometry"), Seq("poly_id"), Seq("point_id"), G.st_contains, cellSize).count()).toDouble
    def perCell(df: DataFrame, g: String) =
      df.select(explode(SpatialJoin.st_covering_cells(col(g), cellSize)).as("cell")).groupBy("cell").count()
    val candidates = t("join.candidates", "probe")(perCell(polys0, "shape").withColumnRenamed("count", "a")
      .join(perCell(points0, "geometry").withColumnRenamed("count", "b"), "cell")
      .agg(sum(col("a") * col("b"))).collect()(0).getLong(0)).toDouble

    Map(
      "geom.contains_ns_per_pair" ->
        Layers.perCallNs(t, "geom.contains", cand) { case (a, b) => GeomOps.contains(a, b) },
      "geom.intersects_ns_per_pair" ->
        Layers.perCallNs(t, "geom.intersects", cand) { case (a, b) => GeomOps.intersects(a, b) },
      "geom.intersection_ns_per_pair" ->
        Layers.perCallNs(t, "geom.intersection", pairs) { case (a, b) => GeomSetOps.intersection(a, b) },
      "geom.union_ns_per_pair" ->
        Layers.perCallNs(t, "geom.union", pairs) { case (a, b) => GeomSetOps.union(a, b) },
      "geom.area_ns_per_geom" -> Layers.perCallNs(t, "geom.area", shapes.toIndexedSeq)(GeomOps.area),
      "join.candidate_pairs" -> candidates,
      "join.matches" -> matches,
      "join.candidates_per_match" -> (if (matches > 0) candidates / matches else 0.0),
      "join.contains_ms" -> Layers.opMs(run, "contains"),
      "join.sql_intersects_ms" -> Layers.opMs(run, "sql_intersects"),
      "join.overlay_ms" -> Layers.opMs(run, "overlay"),
      "join.union_agg_ms" -> Layers.opMs(run, "union_agg"))
  }
}
