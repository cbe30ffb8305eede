package graft.spatial

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

/** Native-GeoArrow OUTPUT path: write WKB columns back out in the separated
  * struct layout and round-trip through the reader. */
class GeoNativeWriteSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-geo-native-write-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val classes = Seq(
    "point" -> "Point", "linestring" -> "LineString", "polygon" -> "Polygon",
    "multipoint" -> "MultiPoint", "multilinestring" -> "MultiLineString",
    "multipolygon" -> "MultiPolygon")

  test("native write round-trips every geometry class (WKT-identical)") {
    ReferenceFixtures.foreachDir { dataDir =>
      for ((fix, gclass) <- classes) {
        val src = GeoIO.readGeoParquet(spark,
          s"$dataDir/data-$fix-encoding_wkb.parquet")
        val out = graft.TestDirs.fresh(s"graft_native_write_$fix")
        GeoIO.writeGeoParquetNative(src, out, Map("geometry" -> gclass))
        val back = GeoIO.readGeoParquet(spark, out)
        val a = src.select(col("col"), G.st_astext(col("geometry")).as("wkt"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val b = back.select(col("col"), G.st_astext(col("geometry")).as("wkt"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(a == b, s"class=$gclass")
      }
    }
  }

  test("written native schema matches the reference native fixtures") {
    ReferenceFixtures.foreachDir { dataDir =>
      for ((fix, gclass) <- classes) {
        val out = graft.TestDirs.fresh(s"graft_native_write_schema_$fix")
        val src = GeoIO.readGeoParquet(spark,
          s"$dataDir/data-$fix-encoding_wkb.parquet")
        GeoIO.writeGeoParquetNative(src, out, Map("geometry" -> gclass))
        val ours = spark.read.parquet(out).schema("geometry").dataType.catalogString
        val ref = spark.read.parquet(s"$dataDir/data-$fix-encoding_native.parquet")
          .schema("geometry").dataType.catalogString
        assert(ours == ref, s"class=$gclass ours=$ours ref=$ref")
      }
    }
  }

  test("interleaved native write round-trips (XY flat-coord layout)") {
    ReferenceFixtures.foreachDir { dataDir =>
      for ((fix, gclass) <- classes) {
        val src = GeoIO.readGeoParquet(spark,
          s"$dataDir/data-$fix-encoding_wkb.parquet")
        val out = graft.TestDirs.fresh(s"graft_native_write_il_$fix")
        GeoIO.writeGeoParquetNative(src, out, Map("geometry" -> gclass), interleaved = true)
        // coords are array<double> at the innermost level, not struct
        val dt = spark.read.parquet(out).schema("geometry").dataType.catalogString
        assert(dt.contains("array<double>") && !dt.contains("struct"), s"$gclass: $dt")
        val back = GeoIO.readGeoParquet(spark, out)
        val a = src.select(col("col"), G.st_astext(col("geometry")).as("wkt"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        val b = back.select(col("col"), G.st_astext(col("geometry")).as("wkt"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
        assert(a == b, s"class=$gclass")
      }
    }
  }

  test("interleaved XYZ round-trips every class; compute matches the WKB frame") {
    G.register(spark)
    // XYZ fixtures of every class, built from WKT (reference dispatches
    // interleaved FixedSizeList coords for XY and XYZ alike —
    // helpers.rs:49-71,114-131; the Spark mapping recovers the stride from
    // the runtime coordinate-array length)
    val fixtures = Seq(
      "Point" -> Seq("POINT Z (1.5 2.5 3.5)", "POINT Z EMPTY"),
      "LineString" -> Seq("LINESTRING Z (0.0 0.0 1.0,2.0 0.0 2.0,2.0 2.0 3.0)"),
      "Polygon" -> Seq("POLYGON Z ((0.0 0.0 1.0,4.0 0.0 1.0,4.0 4.0 1.0,0.0 4.0 1.0,0.0 0.0 1.0))"),
      "MultiPoint" -> Seq("MULTIPOINT Z ((1.0 2.0 3.0),(4.0 5.0 6.0))"),
      "MultiLineString" -> Seq("MULTILINESTRING Z ((0.0 0.0 0.0,1.0 1.0 1.0),(2.0 2.0 2.0,3.0 3.0 3.0))"),
      "MultiPolygon" -> Seq(
        "MULTIPOLYGON Z (((0.0 0.0 5.0,1.0 0.0 5.0,1.0 1.0 5.0,0.0 0.0 5.0)),((2.0 2.0 6.0,3.0 2.0 6.0,3.0 3.0 6.0,2.0 2.0 6.0)))"))
    for ((gclass, wkts) <- fixtures) {
      import spark.implicits._
      val src = wkts.zipWithIndex.toDF("wkt", "id")
        .select(col("id"), expr("ST_GeomFromText(wkt)").as("geometry"))
      val out = graft.TestDirs.fresh(s"graft_native_write_il_xyz_${gclass.toLowerCase}")
      GeoIO.writeGeoParquetNative(src, out, Map("geometry" -> gclass),
        interleaved = true, dim = 3)
      val dt = spark.read.parquet(out).schema("geometry").dataType.catalogString
      assert(dt.contains("array<double>") && !dt.contains("struct"), s"$gclass: $dt")
      val back = GeoIO.readGeoParquet(spark, out)
      def probe(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), G.st_astext(col("geometry")).as("wkt"),
            G.st_geometrytype(col("geometry")).as("gt"),
            G.st_astext(G.st_envelope(col("geometry"))).as("env"))
          .collect().map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
      assert(probe(src) == probe(back), s"class=$gclass")
    }
  }

  test("dynamic interleaved dim survives an empty first component") {
    import org.apache.spark.sql.{GraftShim, Row}
    import org.apache.spark.sql.types._
    G.register(spark)
    // XYZ interleaved MultiPoint whose FIRST point is empty: the container
    // dim must come from the first NON-empty coordinate anywhere in the
    // geometry, not fall back to 2 off element 0
    val schema = StructType(Seq(StructField("geometry",
      ArrayType(ArrayType(DoubleType)))))
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq(Seq.empty[Double], Seq(4.0, 5.0, 6.0)))),
      schema)
    val got = df.select(G.st_astext(GraftShim.column(
        StNativeAsWkb(GraftShim.expression(col("geometry")), "MultiPoint"))).as("wkt"))
      .collect().head.getString(0)
    val expect = spark.sql(
      "SELECT ST_AsText(ST_GeomFromText('MULTIPOINT Z (EMPTY,(4.0 5.0 6.0))'))")
      .collect().head.getString(0)
    assert(got == expect, s"got=$got expect=$expect")
    // and a Polygon whose first ring is empty, one nesting level deeper
    val pschema = StructType(Seq(StructField("geometry",
      ArrayType(ArrayType(ArrayType(DoubleType))))))
    val pdf = spark.createDataFrame(
      java.util.Arrays.asList(Row(Seq(Seq.empty[Seq[Double]],
        Seq(Seq(0.0, 0.0, 1.0), Seq(1.0, 0.0, 1.0), Seq(1.0, 1.0, 1.0),
            Seq(0.0, 0.0, 1.0))))),
      pschema)
    val pgot = pdf.select(G.st_astext(GraftShim.column(
        StNativeAsWkb(GraftShim.expression(col("geometry")), "Polygon"))).as("wkt"))
      .collect().head.getString(0)
    assert(pgot.contains("1.0 1.0 1.0"), pgot)
  }

  test("class-mismatched rows become null in a native column") {
    G.register(spark)
    val mixed = spark.sql("""
      SELECT ST_GeomFromText(CASE WHEN id % 2 = 0 THEN 'POINT (1 2)'
                                  ELSE 'LINESTRING (0 0, 1 1)' END) AS g
      FROM range(4)""")
    val out = graft.TestDirs.fresh("graft_native_write_mismatch")
    GeoIO.writeGeoParquetNative(mixed, out, Map("g" -> "Point"))
    val back = spark.read.parquet(out)
    assert(back.filter(col("g").isNull).count() == 2)
    assert(back.filter(col("g").isNotNull).count() == 2)
  }

  test("CRS passthrough: geo-footer crs survives read -> write -> read byte-identically") {
    // fixture written by a real GeoParquet 1.1-style writer with a PROJJSON
    // crs object on the geometry column (test resource, pyarrow-generated)
    val fixture = getClass.getResource("/graft/crs_points.parquet").getPath
    val cols = GeoIO.readGeoMetadata(spark, fixture)
    assert(cols.map(_.name) == Seq("geometry"))
    val crs0 = cols.head.crs.getOrElse(fail("fixture crs not parsed"))
    assert(crs0.contains("\"authority\":\"EPSG\"") && crs0.contains("\"code\":4326"), crs0)

    val df1 = GeoIO.readGeoParquet(spark, fixture)
    assert(df1.schema("geometry").metadata.getString("crs") == crs0)

    // write (WKB sink), read back: crs must be byte-identical
    val out = java.nio.file.Files.createTempDirectory("graft_crs").toString + "/w"
    GeoIO.writeGeoParquet(df1, out, Map("geometry" -> "Point"))
    val df2 = GeoIO.readGeoParquet(spark, out)
    assert(df2.schema("geometry").metadata.getString("crs") == crs0)
    // a second hop (native layout sink) preserves it too
    val out2 = out + "_native"
    GeoIO.writeGeoParquetNative(df2, out2, Map("geometry" -> "Point"))
    val df3 = GeoIO.readGeoParquet(spark, out2)
    assert(df3.schema("geometry").metadata.getString("crs") == crs0)
    // and the data still round-trips
    val wkts = df3.select(G.st_astext(col("geometry"))).collect().map(_.getString(0)).sorted
    assert(wkts.sameElements(Array("POINT (1.0 2.0)", "POINT (3.0 4.0)", "POINT (5.5 -6.25)")),
      wkts.mkString("; "))
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out).getParentFile)
  }

  test("sinks stamp a REAL geo footer key readable by any GeoParquet engine") {
    G.register(spark)
    val fixture = getClass.getResource("/graft/crs_points.parquet").getPath
    val crs0 = GeoIO.readGeoMetadata(spark, fixture).head.crs.get
    val df = GeoIO.readGeoParquet(spark, fixture)

    val base = java.nio.file.Files.createTempDirectory("graft_footer").toString
    val wkbOut = base + "/wkb"
    GeoIO.writeGeoParquet(df, wkbOut, Map("geometry" -> "Point"))
    // readGeoMetadata goes straight to the parquet key-value footer — it sees
    // the stamped `geo` document, not Spark's field metadata
    val wkbCols = GeoIO.readGeoMetadata(spark, wkbOut)
    assert(wkbCols.map(c => (c.name, c.encoding, c.geometryTypes)) ==
      Seq(("geometry", "WKB", Seq("Point"))), wkbCols)
    assert(wkbCols.head.crs.contains(crs0), wkbCols.head.crs)

    val natOut = base + "/native"
    GeoIO.writeGeoParquetNative(df, natOut, Map("geometry" -> "Point"))
    val natCols = GeoIO.readGeoMetadata(spark, natOut)
    assert(natCols.map(c => (c.name, c.encoding)) == Seq(("geometry", "point")), natCols)
    assert(natCols.head.crs.contains(crs0), natCols.head.crs)

    // the footer rewrite copies row groups raw — data must be intact and
    // Spark's own schema key preserved (field metadata still round-trips)
    val back = GeoIO.readGeoParquet(spark, wkbOut)
    assert(back.schema("geometry").metadata.getString("crs") == crs0)
    val wkts = back.select(G.st_astext(col("geometry"))).collect().map(_.getString(0)).sorted
    assert(wkts.sameElements(Array("POINT (1.0 2.0)", "POINT (3.0 4.0)", "POINT (5.5 -6.25)")),
      wkts.mkString("; "))

    // columns without a carried crs emit a footer without the member (spec
    // says absent/null means the default CRS) — no crash, still parseable
    val plain = spark.sql("SELECT ST_GeomFromText('POINT (7 8)') AS g")
    val plainOut = base + "/plain"
    GeoIO.writeGeoParquet(plain, plainOut, Map("g" -> "Point"))
    val plainCols = GeoIO.readGeoMetadata(spark, plainOut)
    assert(plainCols.map(_.name) == Seq("g") && plainCols.head.crs.isEmpty, plainCols)

    // a withBboxColumn covering column is advertised via the 1.1 covering
    // member, pointing other engines at the row-group-pruning stats
    val covOut = base + "/covered"
    GeoIO.writeGeoParquet(GeoIO.withBboxColumn(plain, "g"), covOut, Map("g" -> "Point"))
    val covJson = rawGeoFooter(covOut)
    assert(covJson.contains(
      """"covering":{"bbox":{"xmin":["bbox","xmin"],"ymin":["bbox","ymin"],"xmax":["bbox","xmax"],"ymax":["bbox","ymax"]}}"""),
      covJson)
    // no bbox column -> no covering member
    assert(!rawGeoFooter(plainOut).contains("covering"))
    // and the covering round-trips through the metadata reader, so a
    // consumer can find the pruning column without knowing the convention
    val covCols = GeoIO.readGeoMetadata(spark, covOut)
    assert(covCols.head.coveringBbox.contains("bbox"), covCols)
    assert(GeoIO.readGeoMetadata(spark, plainOut).head.coveringBbox.isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("readGeoParquetFiltered prunes via the advertised covering column") {
    G.register(spark)
    import spark.implicits._
    val pts = (0 until 200).map(i => (i.toLong, (i % 20).toDouble, (i / 20).toDouble))
      .toDF("id", "x", "y")
      .select(col("id"), expr("ST_Point(x, y)").as("g"))
    val base = java.nio.file.Files.createTempDirectory("graft_covread").toString
    val covOut = base + "/cov"
    GeoIO.writeGeoParquet(GeoIO.withBboxColumn(pts, "g"), covOut, Map("g" -> "Point"))

    val filtered = GeoIO.readGeoParquetFiltered(spark, covOut, 3.0, 2.0, 6.5, 4.5)
    // the covering rectangle test reaches the scan as PushedFilters
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bbox.xmin"), plan.take(1500))
    // results equal the exact filter over the full read
    val expected = GeoIO.readGeoParquet(spark, covOut)
      .filter(G.st_xmin(col("g")) <= 6.5 && G.st_xmax(col("g")) >= 3.0 &&
        G.st_ymin(col("g")) <= 4.5 && G.st_ymax(col("g")) >= 2.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(filtered.select("id").collect().map(_.getLong(0)).toSet == expected)
    assert(expected.nonEmpty && expected.size < 200)

    // no covering column -> same rows through the exact-only path
    val plainOut = base + "/plain"
    GeoIO.writeGeoParquet(pts, plainOut, Map("g" -> "Point"))
    val plainRows = GeoIO.readGeoParquetFiltered(spark, plainOut, 3.0, 2.0, 6.5, 4.5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plainRows == expected)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  private def rawGeoFooter(dir: String): String = {
    import org.apache.hadoop.fs.Path
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val part = p.getFileSystem(conf).listStatus(p).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(part, conf))
    try r.getFooter.getFileMetaData.getKeyValueMetaData.get("geo") finally r.close()
  }
}
