package graft.spatial

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.spark.GraftJobCount
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, MetadataBuilder, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

/** How [[GeoIO]] opens a path: one footer, from the file Spark's own
  * inference would pick; no Spark job; the schema Spark would infer; and
  * Spark's inference itself where one footer cannot give the schema. */
class GeoOpenSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-geo-open-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    functions.register(s)
    s
  }

  private val classes = Seq(
    "point" -> "Point", "linestring" -> "LineString", "polygon" -> "Polygon",
    "multipoint" -> "MultiPoint", "multilinestring" -> "MultiLineString",
    "multipolygon" -> "MultiPolygon")

  private def fixture(cls: String, enc: String): String =
    s"${ReferenceFixtures.vendored}/data-$cls-encoding_$enc.parquet"

  private lazy val crsFixture = getClass.getResource("/graft/crs_points.parquet").getPath

  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private def points: DataFrame =
    spark.sql("SELECT ST_GeomFromText('POINT (1 2)') AS geometry")

  /** The one visible part file `write` leaves in a fresh directory. */
  private def onePart(write: String => Unit): Path = {
    val out = graft.TestDirs.fresh("graft_open_part")
    write(out)
    Files.list(Paths.get(out)).iterator.asScala.toSeq.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".") && !n.startsWith("_")
    } match {
      case Seq(p) => p
      case ps => fail(s"expected one part under $out, got ${ps.mkString(", ")}")
    }
  }

  /** A one-file GeoParquet of [[points]] plus int columns `extra`,
    * stamped with geometry class `gtype`. */
  private def geoPart(gtype: String, extra: String*): Path = onePart { out =>
    val df = extra.foldLeft(points)((d, c) => d.withColumn(c, lit(1)))
    GeoIO.writeGeoParquet(df.coalesce(1), out, Map("geometry" -> gtype))
  }

  private def freshDir(tag: String): Path =
    Files.createDirectories(Paths.get(graft.TestDirs.fresh(tag)))

  /** Rewrite every part under `dir` with its row groups copied raw and its
    * footer key-value metadata passed through `edit`. */
  private def editKeyValues(dir: String)(edit: java.util.Map[String, String] => Unit): Unit = {
    val conf = new Configuration()
    Files.list(Paths.get(dir)).iterator.asScala.toSeq
      .filter(_.getFileName.toString.matches("part-.*\\.parquet")).foreach { part =>
        val in = HadoopInputFile.fromPath(new HPath(part.toUri), conf)
        val reader = ParquetFileReader.open(in)
        val (schema, kv) =
          try {
            val md = reader.getFooter.getFileMetaData
            (md.getSchema, new java.util.HashMap[String, String](md.getKeyValueMetaData))
          } finally reader.close()
        edit(kv)
        val tmp = part.resolveSibling(part.getFileName.toString + ".tmp")
        val writer = new ParquetFileWriter(
          HadoopOutputFile.fromPath(new HPath(tmp.toUri), conf), schema,
          ParquetFileWriter.Mode.OVERWRITE, ParquetWriter.DEFAULT_BLOCK_SIZE,
          ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
        writer.start()
        writer.appendFile(in)
        writer.end(kv)
        Files.move(tmp, part, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.deleteIfExists(part.resolveSibling(s".${part.getFileName}.crc"))
      }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** A Spark-written plain parquet with a long, a string, a binary and a
    * column carrying field metadata. */
  private def plainParquet(): String = {
    val out = graft.TestDirs.fresh("graft_open_plain")
    spark.range(3).select(
      col("id"),
      col("id").cast("string").as("s"),
      col("id").cast("string").cast("binary").as("b"),
      col("id").cast("int").as("m", new MetadataBuilder().putString("note", "kept").build()))
      .coalesce(1).write.parquet(out)
    out
  }

  /** This engine's native-layout output of the points, with its `geo`
    * footer key removed: the geometry is found from field metadata alone. */
  private def nativeWithoutGeoKey(): String = {
    val out = graft.TestDirs.fresh("graft_open_native_nogeo")
    GeoIO.writeGeoParquetNative(points.coalesce(1), out, Map("geometry" -> "Point"))
    editKeyValues(out)(_.remove("geo"))
    out
  }

  /** Every non-geometry field of `readGeoParquet(path)` equals
    * `spark.read.parquet(path)`'s, metadata and nullability included; the
    * geometry column (when given) is WKB carrying
    * `{encoding, sourceEncoding, geometryType, crs}`. */
  private def assertSchemaParity(path: String,
                                 geom: Option[(String, String, String, Option[String])]): StructType = {
    val ours = GeoIO.readGeoParquet(spark, path).schema
    val inferred = spark.read.parquet(path).schema
    assert(ours.fieldNames.toSeq == inferred.fieldNames.toSeq, path)
    for (f <- ours.fields if !geom.exists(_._1 == f.name))
      assert(f == inferred(f.name), path)
    geom.foreach { case (name, source, gtype, crs) =>
      val m = ours(name).metadata
      assert(ours(name).dataType == BinaryType, path)
      assert(m.getString("encoding") == "WKB", path)
      assert(m.getString("sourceEncoding") == source, path)
      assert(m.getString("geometryType") == gtype, path)
      assert((if (m.contains("crs")) Some(m.getString("crs")) else None) == crs, path)
    }
    ours
  }

  test("the footer comes from the first visible data file in path order, the one Spark infers from") {
    val dir = freshDir("graft_open_pick")
    Files.copy(geoPart("Polygon", "b"), dir.resolve("part-00001.parquet"))
    Files.copy(geoPart("Point", "a"), dir.resolve("part-00000.parquet"))
    Files.copy(geoPart("LineString", "c"), dir.resolve("_x.parquet"))
    Files.copy(geoPart("MultiPoint", "d"), dir.resolve(".x.parquet"))
    val path = dir.toString

    assert(GeoIO.readGeoMetadata(spark, path).map(c => c.name -> c.geometryTypes) ==
      Seq("geometry" -> Seq("Point")))
    val df = GeoIO.readGeoParquet(spark, path)
    assert(df.schema("geometry").metadata.getString("geometryType") == "Point")
    assert(df.columns.toSeq == Seq("geometry", "a"))
    assert(df.columns.toSeq == spark.read.parquet(path).columns.toSeq)
    // both visible parts are read, under part-00000's schema
    assert(df.select(G.st_astext(col("geometry"))).collect().map(_.getString(0)).toSeq ==
      Seq("POINT (1.0 2.0)", "POINT (1.0 2.0)"))
  }

  test("opening a GeoParquet path starts no Spark job") {
    val native = nativeWithoutGeoKey()
    val plain = plainParquet()
    val covered = graft.TestDirs.fresh("graft_open_covered")
    GeoIO.writeGeoParquet(GeoIO.withBboxColumn(points, "geometry"), covered,
      Map("geometry" -> "Point"))
    val sc = spark.sparkContext

    for (path <- Seq(fixture("point", "wkb"), fixture("polygon", "native"), native, plain)) {
      val (schema, jobs) = GraftJobCount(sc)(GeoIO.readGeoParquet(spark, path).schema)
      assert(jobs == 0, s"readGeoParquet($path) started $jobs job(s)")
      assert(schema.nonEmpty)
      assert(GraftJobCount(sc)(GeoIO.readGeoMetadata(spark, path))._2 == 0, path)
    }
    val (filtered, jobs) = GraftJobCount(sc)(
      GeoIO.readGeoParquetFiltered(spark, covered, 0.0, 0.0, 5.0, 5.0).schema)
    assert(jobs == 0, s"readGeoParquetFiltered started $jobs job(s)")
    assert(filtered.fieldNames.toSeq == Seq("geometry", "bbox"))

    // the geo-key-less native output still decodes, from field metadata
    assert(GeoIO.readGeoMetadata(spark, native).isEmpty)
    val back = GeoIO.readGeoParquet(spark, native)
    assert(back.schema("geometry").metadata.getString("sourceEncoding") == "point")
    assert(back.select(G.st_astext(col("geometry"))).collect().map(_.getString(0)).toSeq ==
      Seq("POINT (1.0 2.0)"))
  }

  test("the footer schema matches Spark's inference on fixtures, engine outputs and plain parquet") {
    for ((cls, gtype) <- classes) {
      assertSchemaParity(fixture(cls, "wkb"), Some(("geometry", "WKB", gtype, None)))
      assertSchemaParity(fixture(cls, "native"), Some(("geometry", cls, gtype, None)))
    }

    val crs0 = GeoIO.readGeoMetadata(spark, crsFixture).head.crs
    assert(crs0.exists(_.contains("\"code\":4326")), crs0)
    val src = GeoIO.readGeoParquet(spark, crsFixture)
    val wkbOut = graft.TestDirs.fresh("graft_open_crs_wkb")
    GeoIO.writeGeoParquet(src, wkbOut, Map("geometry" -> "Point"))
    assertSchemaParity(wkbOut, Some(("geometry", "WKB", "Point", crs0)))
    val nativeOut = graft.TestDirs.fresh("graft_open_crs_native")
    GeoIO.writeGeoParquetNative(src, nativeOut, Map("geometry" -> "Point"))
    assertSchemaParity(nativeOut, Some(("geometry", "point", "Point", crs0)))

    // Spark's row-metadata key carries field metadata
    val plain = plainParquet()
    assert(assertSchemaParity(plain, None)("m").metadata.getString("note") == "kept")

    // a partitioned directory: the footer sits one level down, and the
    // partition column is still inferred from the paths
    val partitioned = graft.TestDirs.fresh("graft_open_partitioned")
    spark.range(4).withColumn("k", col("id") % 2).write.partitionBy("k").parquet(partitioned)
    assert(assertSchemaParity(partitioned, None).fieldNames.toSeq == Seq("id", "k"))

    // without Spark's row-metadata key the parquet schema goes through the
    // converter, which follows the session's conf
    val bare = plainParquet()
    editKeyValues(bare)(_.remove(SparkRowMetadataKey))
    assert(assertSchemaParity(bare, None)("b").dataType == BinaryType)
    withConf("spark.sql.parquet.binaryAsString", "true") {
      assert(assertSchemaParity(bare, None)("b").dataType == StringType)
    }
  }

  test("mergeSchema on, or summary files present, leave the schema to Spark's inference") {
    val dir = freshDir("graft_open_merge")
    Files.copy(geoPart("Point", "a"), dir.resolve("part-00000.parquet"))
    Files.copy(geoPart("Point", "b"), dir.resolve("part-00001.parquet"))
    val path = dir.toString

    assert(GeoIO.readGeoParquet(spark, path).columns.toSeq == Seq("geometry", "a"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val merged = GeoIO.readGeoParquet(spark, path)
      assert(merged.columns.toSet == Set("geometry", "a", "b"))
      assert(merged.columns.toSeq == spark.read.parquet(path).columns.toSeq)
      assert(merged.schema("geometry").metadata.getString("sourceEncoding") == "WKB")
    }

    // a summary file's schema wins over the first part's in Spark's inference
    val summarized = freshDir("graft_open_summary")
    Files.copy(geoPart("Point", "a"), summarized.resolve("part-00000.parquet"))
    Files.copy(geoPart("Point", "a", "c"), summarized.resolve("_common_metadata"))
    val withSummary = GeoIO.readGeoParquet(spark, summarized.toString)
    assert(withSummary.columns.toSeq == Seq("geometry", "a", "c"))
    assert(withSummary.columns.toSeq == spark.read.parquet(summarized.toString).columns.toSeq)
    assert(withSummary.count() == 1)
  }
}
