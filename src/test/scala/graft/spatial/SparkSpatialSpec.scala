package graft.spatial

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

/** End-to-end Spark tests of the ST_* surface over the reference fixture
  * content: the vendored copy, plus the reference checkout's own files
  * wherever it is present ([[ReferenceFixtures]]). */
class SparkSpatialSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.register(s)
    graft.pipeline.Text.register(s)
    s
  }

  private def wkts(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(G.st_astext(col("geometry")).as("wkt"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq

  test("geo metadata parse") {
    ReferenceFixtures.foreachDir { dataDir =>
      val cols = GeoIO.readGeoMetadata(spark, s"$dataDir/data-point-encoding_native.parquet")
      assert(cols == Seq(GeoIO.GeoColumn("geometry", "point", Seq("Point"))))
      val wkb = GeoIO.readGeoMetadata(spark, s"$dataDir/data-multipolygon-encoding_wkb.parquet")
      assert(wkb == Seq(GeoIO.GeoColumn("geometry", "WKB", Seq("MultiPolygon"))))
    }
  }

  test("point fixture native → ST_AsText matches reference content (generate_test_data.py:65-70)") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-point-encoding_native.parquet")
      assert(wkts(df) == Seq("POINT (30.0 10.0)", "POINT EMPTY", null, "POINT (40.0 40.0)"))
    }
  }

  test("all six geometry classes: native and wkb encodings agree") {
    ReferenceFixtures.foreachDir { dataDir =>
      for (cls <- Seq("point", "linestring", "polygon", "multipoint", "multilinestring", "multipolygon")) {
        val native = GeoIO.readGeoParquet(spark, s"$dataDir/data-$cls-encoding_native.parquet")
        val wkb = GeoIO.readGeoParquet(spark, s"$dataDir/data-$cls-encoding_wkb.parquet")
        assert(wkts(native) == wkts(wkb), s"class $cls")
      }
    }
  }

  test("wkt csv fixtures roundtrip through ST_GeomFromText") {
    ReferenceFixtures.foreachDir { dataDir =>
      for (cls <- Seq("point", "linestring", "polygon", "multipoint", "multilinestring", "multipolygon")) {
        val csv = spark.read.option("header", "true").csv(s"$dataDir/data-$cls-wkt.csv")
        val viaText = csv.select(G.st_astext(G.st_geomfromtext(col("geometry"))).as("wkt"))
          .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
        val native = GeoIO.readGeoParquet(spark, s"$dataDir/data-$cls-encoding_native.parquet")
        assert(viaText == wkts(native), s"class $cls")
      }
    }
  }

  test("ST_GeometryType over wkb fixture (examples/main.rs query 1 shape)") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-multipolygon-encoding_wkb.parquet")
      val types = df.select(G.st_geometrytype(col("geometry"))).collect()
        .map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      assert(types.toSet == Set("ST_MultiPolygon", null))
    }
  }

  test("ST_Envelope + ST_Extent over fixtures (examples/main.rs:50-61)") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-linestring-encoding_native.parquet")
      val env = df.select(G.st_astext(G.st_envelope(col("geometry"))).as("e"))
        .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
      assert(env == Seq(
        "POLYGON ((10.0 10.0,40.0 10.0,40.0 40.0,10.0 40.0,10.0 10.0))",
        "POLYGON EMPTY", null))
      val ext = df.agg(G.st_extent(col("geometry")).as("extent")).selectExpr(
        "extent.xmin", "extent.ymin", "extent.xmax", "extent.ymax").head()
      assert(ext.getDouble(0) == 10.0 && ext.getDouble(1) == 10.0 &&
        ext.getDouble(2) == 40.0 && ext.getDouble(3) == 40.0)
    }
  }

  test("SQL registration: full query through spark.sql") {
    ReferenceFixtures.foreachDir { dataDir =>
      GeoIO.readGeoParquet(spark, s"$dataDir/data-polygon-encoding_native.parquet")
        .createOrReplaceTempView("polys")
      val rows = spark.sql(
        """SELECT ST_AsText(ST_Envelope(geometry)) AS env,
          |       ST_GeometryType(geometry) AS gt,
          |       ST_Area(geometry) AS area,
          |       ST_NPoints(geometry) AS np
          |FROM polys WHERE geometry IS NOT NULL""".stripMargin).collect()
      assert(rows.length == 3)
      assert(rows.map(_.getString(1)).toSet == Set("ST_Polygon"))
      // udaf form of extent
      val ext = spark.sql("SELECT st_extent(geometry) AS e FROM polys").head().getStruct(0)
      assert(!ext.isNullAt(0))
    }
  }

  test("predicates & measures through SQL") {
    functions.register(spark)
    val r = spark.sql(
      """SELECT
        |  ST_Intersects(ST_GeomFromText('POLYGON ((0 0,10 0,10 10,0 10,0 0))'),
        |                ST_Point(5.0D, 5.0D)) AS i,
        |  ST_Contains(ST_GeomFromText('POLYGON ((0 0,10 0,10 10,0 10,0 0))'),
        |              ST_GeomFromText('POLYGON ((2 2,4 2,4 4,2 4,2 2))')) AS c,
        |  ST_Distance(ST_Point(0.0D, 0.0D), ST_Point(3.0D, 4.0D)) AS d,
        |  ST_DWithin(ST_Point(0.0D, 0.0D), ST_Point(3.0D, 4.0D), 5.0D) AS dw,
        |  ST_AsText(ST_Centroid(ST_GeomFromText('POLYGON ((0 0,4 0,4 4,0 4,0 0))'))) AS ctr
        |""".stripMargin).head()
    assert(r.getBoolean(0) && r.getBoolean(1))
    assert(r.getDouble(2) == 5.0)
    assert(r.getBoolean(3))
    assert(r.getString(4) == "POINT (2.0 2.0)")
  }

  test("geoparquet write roundtrip preserves geometry metadata + content") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-polygon-encoding_native.parquet")
      val out = "/tmp/graft_geo_roundtrip"
      GeoIO.writeGeoParquet(df, out, Map("geometry" -> "Polygon"))
      val back = spark.read.parquet(out)
      assert(back.schema("geometry").metadata.getString("encoding") == "WKB")
      assert(back.schema("geometry").metadata.getString("geometryType") == "Polygon")
      val a = wkts(df).map(Option(_).getOrElse("")).sorted
      val b = back.select(G.st_astext(col("geometry")).as("w"))
        .collect().map(r => if (r.isNullAt(0)) "" else r.getString(0)).toSeq.sorted
      assert(a == b)
    }
  }

  test("doGenCode paths compile under CODEGEN_ONLY (no fallback)") {
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val df = spark.range(1000).selectExpr(
        "id",
        "st_point(CAST(id AS DOUBLE), CAST(id AS DOUBLE) + 1.0) AS g",
        "CAST(id AS STRING) AS txt")
      val out = df.selectExpr(
        "st_astext(g)", "st_geometrytype(g)", "st_xmin(g)", "st_ymax(g)",
        "st_astext(st_envelope(g))",
        "st_distance(g, st_point(0.0D, 0.0D))",
        "st_intersects(g, st_geomfromtext('POLYGON ((0 0,100 0,100 100,0 100,0 0))'))",
        "st_contains(st_geomfromtext('POLYGON ((0 0,100 0,100 100,0 100,0 0))'), g)",
        "simhash64(txt)", "fingerprint64(txt)", "lang_id(txt)",
        "vec_cosine(array(CAST(id AS DOUBLE), 1.0D), array(1.0D, 1.0D))")
      assert(out.collect().length == 1000)
      // null-sentinel paths: empty geometry bbox → NULL
      val n = spark.sql("SELECT st_xmin(st_geomfromtext('POINT EMPTY')) AS v").head()
      assert(n.isNullAt(0))
    } finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("structural accessors + affine transforms through SQL") {
    val r = spark.sql(
      """SELECT
        |  ST_AsText(ST_PointN(ST_GeomFromText('LINESTRING (1 2, 3 4, 5 6)'), 2)) AS p2,
        |  ST_AsText(ST_StartPoint(ST_GeomFromText('LINESTRING (1 2, 3 4)'))) AS sp,
        |  ST_AsText(ST_EndPoint(ST_GeomFromText('LINESTRING (1 2, 3 4)'))) AS ep,
        |  ST_AsText(ST_ExteriorRing(ST_GeomFromText('POLYGON ((0 0,4 0,4 4,0 4,0 0))'))) AS ring,
        |  ST_AsText(ST_InteriorRingN(ST_GeomFromText(
        |    'POLYGON ((0 0,9 0,9 9,0 9,0 0),(2 2,3 2,3 3,2 3,2 2))'), 1)) AS hole,
        |  ST_AsText(ST_GeometryN(ST_GeomFromText('MULTIPOINT ((1 1),(2 2))'), 2)) AS g2,
        |  ST_AsText(ST_Reverse(ST_GeomFromText('LINESTRING (1 2, 3 4)'))) AS rv,
        |  ST_AsText(ST_Translate(ST_Point(1.0D, 2.0D), 10.0D, 20.0D)) AS tr,
        |  ST_AsText(ST_Scale(ST_Point(2.0D, 3.0D), 2.0D, 10.0D)) AS sc,
        |  ST_PointN(ST_GeomFromText('LINESTRING (1 2, 3 4)'), 9) AS oob
        |""".stripMargin).head()
    assert(r.getString(0) == "POINT (3.0 4.0)")
    assert(r.getString(1) == "POINT (1.0 2.0)")
    assert(r.getString(2) == "POINT (3.0 4.0)")
    assert(r.getString(3) == "LINESTRING (0.0 0.0,4.0 0.0,4.0 4.0,0.0 4.0,0.0 0.0)")
    assert(r.getString(4) == "LINESTRING (2.0 2.0,3.0 2.0,3.0 3.0,2.0 3.0,2.0 2.0)")
    assert(r.getString(5) == "POINT (2.0 2.0)")
    assert(r.getString(6) == "LINESTRING (3.0 4.0,1.0 2.0)")
    assert(r.getString(7) == "POINT (11.0 22.0)")
    assert(r.getString(8) == "POINT (4.0 30.0)")
    assert(r.isNullAt(9))
  }

  test("closest point + shortest line") {
    val r = spark.sql(
      """SELECT ST_AsText(st_closestpoint(
        |         ST_GeomFromText('LINESTRING (0 0,10 0)'), ST_Point(5.0D, 3.0D))) AS cp,
        |       ST_AsText(st_shortestline(
        |         ST_GeomFromText('POLYGON ((2 0,4 0,4 2,2 2,2 0))'), ST_Point(0.0D, 0.0D))) AS sl,
        |       ST_Length(st_shortestline(
        |         ST_Point(0.0D, 0.0D), ST_Point(3.0D, 4.0D))) AS len
        |""".stripMargin).head()
    assert(r.getString(0) == "POINT (5.0 0.0)")
    assert(r.getString(1) == "LINESTRING (2.0 0.0,0.0 0.0)")
    assert(r.getDouble(2) == 5.0)
  }

  test("azimuth + line interpolate point") {
    val r = spark.sql(
      """SELECT st_azimuth(ST_Point(0.0D, 0.0D), ST_Point(1.0D, 0.0D)) AS east,
        |       st_azimuth(ST_Point(0.0D, 0.0D), ST_Point(0.0D, 1.0D)) AS north,
        |       ST_AsText(st_lineinterpolatepoint(
        |         ST_GeomFromText('LINESTRING (0 0,10 0)'), 0.25D)) AS quarter,
        |       ST_AsText(st_lineinterpolatepoint(
        |         ST_GeomFromText('LINESTRING (0 0,4 0,4 4)'), 0.75D)) AS threeq
        |""".stripMargin).head()
    assert(math.abs(r.getDouble(0) - math.Pi / 2) < 1e-12)
    assert(r.getDouble(1) == 0.0)
    assert(r.getString(2) == "POINT (2.5 0.0)")
    assert(r.getString(3) == "POINT (4.0 2.0)")
  }

  test("makeline + dumppoints") {
    val r = spark.sql(
      """SELECT ST_AsText(st_makeline(array(ST_Point(0.0D,0.0D), ST_Point(1.0D,1.0D),
        |                                   ST_Point(2.0D,0.0D)))) AS line,
        |       transform(st_dumppoints(ST_GeomFromText('LINESTRING (5 6,7 8)')),
        |                 p -> ST_AsText(p)) AS pts
        |""".stripMargin).head()
    assert(r.getString(0) == "LINESTRING (0.0 0.0,1.0 1.0,2.0 0.0)")
    assert(r.getSeq[String](1) == Seq("POINT (5.0 6.0)", "POINT (7.0 8.0)"))
  }

  test("rotate + interior ring count + stopword ratio") {
    val r = spark.sql(
      """SELECT ST_AsText(st_rotate(ST_Point(1.0D, 0.0D), pi() / 2)) AS rot,
        |       st_numinteriorrings(ST_GeomFromText(
        |         'POLYGON ((0 0,9 0,9 9,0 9,0 0),(2 2,3 2,3 3,2 3,2 2))')) AS holes,
        |       st_numinteriorrings(ST_Point(1.0D, 1.0D)) AS notpoly
        |""".stripMargin).head()
    val rotated = graft.spatial.WKT.read(r.getString(0)).asInstanceOf[graft.spatial.Point]
    assert(math.abs(rotated.x) < 1e-15 && math.abs(rotated.y - 1.0) < 1e-15)
    assert(r.getInt(1) == 1)
    assert(r.isNullAt(2))
    import org.apache.spark.sql.functions.lit
    val sw = spark.range(1).select(
      graft.pipeline.Text.stopwordRatio(lit("the cat is on the mat")).as("r")).head().getDouble(0)
    assert(math.abs(sw - 4.0 / 6.0) < 1e-12)
  }

  test("geohash known values") {
    // canonical example: lat 42.605, lon -5.603 → ezs42
    val r = spark.sql(
      """SELECT st_geohash(ST_Point(-5.603D, 42.605D), 5) AS g1,
        |       st_geohash(ST_Point(-0.0834D, 51.5048D), 6) AS g2,
        |       st_geohash(ST_GeomFromText('LINESTRING (0 0,1 1)'), 5) AS nonpoint
        |""".stripMargin).head()
    assert(r.getString(0) == "ezs42")
    assert(r.getString(1) == "gcpvn0")
    assert(r.isNullAt(2))
  }

  test("expressions constant-fold (foldable) like Volatility::Immutable") {
    val df = spark.sql("SELECT ST_AsText(ST_Point(1.0D, 2.0D)) AS t")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("POINT (1.0 2.0)"), s"not folded:\n$plan")
  }

  test("SQL numeric literals coerce: DECIMAL and INT args reach double/int kernels") {
    // `2.0` parses as DECIMAL(2,1) and `2` as INT — without the builder-layer
    // Cast these crashed the unboxing evals (and Spark's Decimal is not a
    // java.lang.Number, so even Number.intValue() tolerance didn't cover it).
    val r = spark.sql(
      """SELECT ST_AsText(ST_Point(1.5, 2.5))                                  AS p,
        |       ST_AsText(ST_MakePointZ(1.5, 2.5, 3.5))                        AS pz,
        |       ST_AsText(ST_MakeEnvelope(0.0, 0.0, 2.0, 1.0))                 AS env,
        |       ST_AsText(ST_PointN(ST_GeomFromText('LINESTRING (0 0,1 1,2 0)'), CAST(2.0 AS DECIMAL(3,1)))) AS pn,
        |       ST_AsText(ST_Translate(ST_Point(1.0, 1.0), 0.5, 0.25))         AS tr,
        |       ST_AsText(ST_Buffer(ST_Point(0.0, 0.0), 1.0)) IS NOT NULL      AS buf,
        |       ST_DWithin(ST_Point(0.0, 0.0), ST_Point(3.0, 4.0), 5.5)        AS dw,
        |       st_geohash(ST_Point(-5.603, 42.605), CAST(5.0 AS DECIMAL(3,1))) AS gh,
        |       ST_AsText(ST_Simplify(ST_GeomFromText('LINESTRING (0 0,0.01 0.01,1 1)'), 0.5)) AS simp
        |""".stripMargin).head()
    assert(r.getString(0) == "POINT (1.5 2.5)")
    assert(r.getString(1) == "POINT Z (1.5 2.5 3.5)")
    assert(r.getString(2) == "POLYGON ((0.0 0.0,2.0 0.0,2.0 1.0,0.0 1.0,0.0 0.0))")
    assert(r.getString(3) == "POINT (1.0 1.0)")
    assert(r.getString(4) == "POINT (1.5 1.25)")
    assert(r.getBoolean(5))
    assert(r.getBoolean(6))
    assert(r.getString(7) == "ezs42")
    assert(r.getString(8) == "LINESTRING (0.0 0.0,1.0 1.0)")
  }
}
