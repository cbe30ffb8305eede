package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.spatial.{ExtentAggregator, GeoIO, Kernels, WKB, functions => G}

/** geo_scan: the paper's surface (ST_AsText, ST_GeometryType, ST_Envelope,
  * ST_Extent) over GeoParquet, on a WKB file and on the same rows in
  * GeoArrow-native files (one per class). Nearly all the work is GeoIO
  * decode and the raw-byte kernels: no join, almost no shuffle. */
final class GeoScan(run: Run) extends Workload(run) {
  import run.spark

  private val classes = (1 to 6).map(k => Ref.ClassNames(k).toLowerCase)

  /** Expected answers of one dataset, from the generator alone. */
  final case class Expected(rows: Long, types: Map[String, Long], points: Map[String, Long],
                            pointRows: Long, extent: Array[Double],
                            wkt: Long, envelope: Long)

  private var timedExp: Expected = _
  private var warmExp: Expected = _
  private var foldExp: Expected = _

  private def expected(seed: Long, stream: Long, rows: Long): Expected = {
    val types = new Array[Long](7)
    var nulls = 0L; var pointNulls = 0L; var pointRows = 0L
    val ext = Array(Double.PositiveInfinity, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NegativeInfinity)
    var xWkt = 0L; var xEnv = 0L
    for (id <- 0L until rows) {
      val (kind, g) = Gen.geoRow(seed, stream, id)
      if (kind == 1) pointRows += 1
      if (g == null) {
        nulls += 1
        if (kind == 1) pointNulls += 1
        val h = Ref.xxhash(id)
        xWkt ^= h; xEnv ^= h
      } else {
        types(kind) += 1
        val bb = Ref.bbox(g)
        if (bb != null) {
          ext(0) = math.min(ext(0), bb(0)); ext(1) = math.min(ext(1), bb(1))
          ext(2) = math.max(ext(2), bb(2)); ext(3) = math.max(ext(3), bb(3))
        }
        xWkt ^= Ref.xxhash(id, Ref.wkb(g), Ref.wkt(g))
        xEnv ^= Ref.xxhash(id, Ref.envelopeWkb(bb))
      }
    }
    val typeMap = (1 to 6).map(k => s"ST_${Ref.ClassNames(k)}" -> types(k)).toMap + ("null" -> nulls)
    Expected(rows, typeMap.filter(_._2 > 0),
      Map("ST_Point" -> types(1), "null" -> pointNulls).filter(_._2 > 0),
      pointRows, ext, xWkt, xEnv)
  }

  private def dir(set: String) = run.dataDir(set)

  /** A fresh read of one encoding of a dataset (`wkb`, `native`: the
    * union of the class files, or one `native_<class>` file); no step
    * reuses another's. */
  private def read(set: String, enc: String): DataFrame =
    if (enc == "native") classes.map(c => read(set, s"native_$c")).reduce(_ unionByName _)
    else GeoIO.readGeoParquet(spark, s"${dir(set)}/$enc")

  /** The known-failing operation's input: the union of two native class
    * files of the fixed `fold_union` dataset. */
  private val foldClasses = Seq(1, 2)
  private def foldUnion(): DataFrame =
    foldClasses.map(k => read("fold_union", s"native_${classes(k - 1)}")).reduce(_ unionByName _)

  /** Set-up opens the inputs the timed steps read; the warm-up opens its
    * own. */
  def open(): Unit = {
    for (enc <- Seq("wkb", "native")) read("timed", enc).schema
    foldUnion().schema
  }

  def expect(): Unit = {
    timedExp = expected(run.seed, Gen.TimedStream, run.scale.geoRows)
    warmExp = expected(Gen.WarmSeed, Gen.WarmStream, run.scale.geoRows)
    val fold = expected(Gen.FoldSeed, Gen.FoldStream, Gen.FoldRows)
    val foldNulls = (0L until Gen.FoldRows).count { id =>
      val (kind, g) = Gen.geoRow(Gen.FoldSeed, Gen.FoldStream, id)
      g == null && foldClasses.contains(kind)
    }.toLong
    val foldTypes = foldClasses.map(k => s"ST_${Ref.ClassNames(k)}").flatMap(t => fold.types.get(t).map(t -> _))
    foldExp = fold.copy(rows = foldTypes.map(_._2).sum + foldNulls,
      types = (foldTypes ++ Seq("null" -> foldNulls).filter(_._2 > 0)).toMap)
  }

  def warmup(): Unit = pass("warm", warmExp)

  def step(): Long = pass("timed", timedExp)

  /** One pass over the query mix on both encodings; returns input rows.
    * Per encoding: one DataFrame scan answers ST_AsText (with the decoded
    * WKB), ST_Envelope and the declarative ST_Extent; ST_GeometryType runs
    * in DataFrame and in SQL form; the st_extent UDAF in SQL. Then the
    * single-class point file, whose ST_GeometryType the fold rule answers
    * at plan time, and ST_GeometryType over the union of two native class
    * files of the fixed `fold_union` inputs. That last operation fails on
    * every run, because GeometryTypeFoldRule folds the union to its first
    * child's class; it counts as failed, not as a wrong answer, and reads
    * as passed once the rule is mended. */
  private def pass(set: String, e: Expected): Long = {
    var scanned = 0L
    val classParts = classes.map(c => read(set, s"native_$c"))
    for (enc <- Seq("wkb", "native")) {
      val df = if (enc == "wkb") read(set, "wkb") else classParts.reduce(_ unionByName _)
      // per class file on the native side: over a union of the class
      // reads the fold rule answers every row with the first read's class
      val parts = if (enc == "wkb") Seq(df) else classParts
      val g = col("geometry")
      def q(name: String)(body: => Seq[String]): Unit =
        run.op(name) { run.check(body); scanned += e.rows }
      q("scan")(Checks.scanEqual(enc, df.select(col("id"), g, G.st_astext(g).as("wkt"),
        G.st_envelope(g).as("env")), e.wkt, e.envelope, e.rows, e.extent))
      q("geometrytype")(Checks.countsEqual(s"$enc geometrytype",
        parts.map(_.groupBy(G.st_geometrytype(g).as("t")).count()).reduce(_ union _)
          .groupBy("t").agg(sum("count")), e.types))
      q("geometrytype_sql")(Checks.countsEqual(s"$enc geometrytype sql", spark.sql(
        parts.indices.map { i =>
          parts(i).createOrReplaceTempView(s"geo_${enc}_${set}_$i")
          s"SELECT ST_GeometryType(geometry) AS t, count(*) AS n FROM geo_${enc}_${set}_$i GROUP BY t"
        }.mkString("SELECT t, sum(n) FROM (", " UNION ALL ", ") GROUP BY t")), e.types))
      df.createOrReplaceTempView(s"geo_${enc}_$set")
      q("extent_udaf")(Checks.extentEqual(s"$enc st_extent udaf",
        spark.sql(s"SELECT st_extent(geometry) FROM geo_${enc}_$set"), e.extent))
    }
    run.op("geometrytype_folded") {
      classParts.head.createOrReplaceTempView(s"geo_point_$set")
      run.check(Checks.countsEqual("folded geometrytype", spark.sql(
        s"SELECT ST_GeometryType(geometry) AS t, count(*) AS n FROM geo_point_$set GROUP BY t"), e.points))
      scanned += e.pointRows
    }
    run.op("geometrytype_union") {
      val union = foldUnion()
      val problems = Checks.countsEqual("native union geometrytype",
        union.groupBy(G.st_geometrytype(col("geometry")).as("t")).count(), foldExp.types)
      if (problems.nonEmpty) throw new IllegalStateException(problems.head)
      scanned += foldExp.rows
    }
    scanned
  }

  /** Traced run only: each paper function as a query of its own. */
  private def singleQueries(): Map[String, Double] = {
    val df = read("timed", "wkb")
    df.createOrReplaceTempView("geo_single")
    val g = col("geometry")
    def ms(name: String)(action: => Any): Double = run.tracer(s"query.$name", "query") {
      action
      Main.median((1 to 3).map { _ => val t0 = Clock.wallNs; action; (Clock.wallNs - t0) / 1e6 })
    }
    Map(
      "query.astext_ms" -> ms("astext")(Checks.fingerprint(df.select(col("id"), G.st_astext(g)))),
      "query.geometrytype_ms" -> ms("geometrytype")(df.groupBy(G.st_geometrytype(g)).count().collect()),
      "query.geometrytype_folded_ms" -> ms("geometrytype_folded")(spark.sql(
        s"SELECT ST_GeometryType(geometry) AS t, count(*) FROM geo_point_timed GROUP BY t").collect()),
      "query.envelope_ms" -> ms("envelope")(Checks.fingerprint(df.select(col("id"), G.st_envelope(g)))),
      "query.extent_ms" -> ms("extent")(df.select(G.st_extent(g)).collect()),
      "query.extent_udaf_ms" -> ms("extent_udaf")(spark.sql("SELECT st_extent(geometry) FROM geo_single").collect()))
  }

  def layers(): Map[String, Double] = {
    val t = run.tracer
    val rows = timedExp.rows
    val wkbDir = s"${dir("timed")}/wkb"
    val footer = t("geoio.footer", "probe") {
      Main.median((1 to 9).map { _ =>
        val t0 = Clock.wallNs; GeoIO.readGeoMetadata(spark, wkbDir); (Clock.wallNs - t0) / 1e6
      })
    }
    val decodeWkb = Layers.cpuNsPerRow(t, "geoio.decode_wkb", rows)(read("timed", "wkb"))
    val decodeNative = Layers.cpuNsPerRow(t, "geoio.decode_native", rows)(read("timed", "native"))
    val planMs = t("sql.plan", "probe") {
      Main.median((1 to 5).map { _ =>
        read("timed", "wkb").createOrReplaceTempView("geo_plan")
        val t0 = Clock.wallNs
        spark.sql("SELECT ST_GeometryType(geometry) AS t, count(*) AS n FROM geo_plan GROUP BY t")
          .queryExecution.executedPlan
        spark.sql("SELECT st_extent(geometry) AS e FROM geo_plan").queryExecution.executedPlan
        (Clock.wallNs - t0) / 1e6 / 2
      })
    }
    // the generated rows, in memory, for single-thread direct kernel calls
    val wkbs = (0L until rows).flatMap(id =>
      Option(Gen.geoRow(run.seed, Gen.TimedStream, id)._2).map(Ref.wkb))
    val agg = new ExtentAggregator
    Map(
      "geoio.footer_ms" -> footer,
      "geoio.decode_wkb_ns_per_row" -> decodeWkb,
      "geoio.decode_native_ns_per_row" -> decodeNative,
      "kernel.wkb_read_ns_per_row" -> Layers.perCallNs(t, "kernel.wkb_read", wkbs)(WKB.read),
      "kernel.astext_ns_per_row" -> Layers.perCallNs(t, "kernel.astext", wkbs)(Kernels.asText),
      "kernel.geometrytype_ns_per_row" ->
        Layers.perCallNs(t, "kernel.geometrytype", wkbs)(Kernels.geometryType),
      "kernel.envelope_ns_per_row" -> Layers.perCallNs(t, "kernel.envelope", wkbs)(Kernels.envelope),
      "kernel.xmin_ns_per_row" -> Layers.perCallNs(t, "kernel.xmin", wkbs)(Kernels.xmin),
      "kernel.extent_ns_per_row" -> Layers.perCallNs(t, "kernel.extent", wkbs) { b =>
        Kernels.xmin(b) + Kernels.ymin(b) + Kernels.xmax(b) + Kernels.ymax(b) },
      "kernel.extent_agg_ns_per_row" -> {
        val buf = agg.zero
        Layers.perCallNs(t, "kernel.extent_agg", wkbs)(agg.reduce(buf, _))
      },
      "sql.plan_ms" -> planMs) ++ singleQueries()
  }
}
