package graft.spatial

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

/** Drift check between the vendored fixtures and the reference checkout's
  * own `data/` files ([[ReferenceFixtures]]); canceled where no checkout is
  * present. It compares what the fixture documents pin (FIXTURES.md §1):
  * schema, `geo` footer, row count, which rows are null or EMPTY, and the
  * full WKT of the point and linestring files. The coordinates of the other
  * four classes are given only by shape, so they are not compared. */
class ReferenceFixturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-reference-fixtures-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val classes =
    Seq("point", "linestring", "polygon", "multipoint", "multilinestring", "multipolygon")

  private def raw(path: String): DataFrame =
    if (path.endsWith(".csv")) spark.read.option("header", "true").csv(path)
    else spark.read.parquet(path)

  /** The geometry column decoded to WKB, in file order. */
  private def geoms(path: String): DataFrame =
    if (path.endsWith(".csv")) raw(path).select(G.st_geomfromtext(col("geometry")).as("geometry"))
    else GeoIO.readGeoParquet(spark, path)

  private def rowKinds(df: DataFrame): Seq[String] =
    df.select(col("geometry").isNull, G.st_isempty(col("geometry"))).collect().toSeq.map { r =>
      if (r.getBoolean(0)) "null" else if (r.getBoolean(1)) "empty" else "geometry"
    }

  private def wkts(df: DataFrame): Seq[String] =
    df.select(G.st_astext(col("geometry"))).collect().toSeq
      .map(r => if (r.isNullAt(0)) null else r.getString(0))

  test("vendored fixtures match the reference checkout's files") {
    val refDir = ReferenceFixtures.reference
    assume(refDir.isDefined, "no reference checkout present")
    val files = for (cls <- classes; suffix <- Seq("wkt.csv", "encoding_wkb.parquet",
                                                   "encoding_native.parquet"))
      yield s"data-$cls-$suffix"
    for (name <- files) withClue(s"[$name] ") {
      val ours = s"${ReferenceFixtures.vendored}/$name"
      val ref = s"${refDir.get}/$name"
      assert(raw(ours).schema("geometry").dataType.catalogString ==
        raw(ref).schema("geometry").dataType.catalogString)
      if (name.endsWith(".parquet"))
        assert(GeoIO.readGeoMetadata(spark, ours) == GeoIO.readGeoMetadata(spark, ref))
      val (a, b) = (geoms(ours), geoms(ref))
      assert(a.count() == b.count())
      assert(rowKinds(a) == rowKinds(b))
      if (name.startsWith("data-point-") || name.startsWith("data-linestring-"))
        assert(wkts(a) == wkts(b))
    }
  }
}
