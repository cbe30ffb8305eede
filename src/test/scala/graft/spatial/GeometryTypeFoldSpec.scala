package graft.spatial

import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

/**
 * GeometryTypeFoldRule is registered as a RESOLUTION rule (it must see the
 * analyzed plan — by optimizer time CollapseProject has inlined the GeoIO
 * aliases and dropped their metadata). These tests apply the rule to the
 * analyzed plan directly and execute the transformed plan; the
 * extensions-injection wiring is exercised end-to-end by
 * `graft.tools.ExtensionsDemo`.
 */
class GeometryTypeFoldSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-geomtype-fold-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def folded(df: DataFrame): (String, DataFrame) = {
    val plan = GeometryTypeFoldRule(spark)(df.queryExecution.analyzed)
    (plan.toString, GraftShim.ofRows(spark, plan))
  }

  test("folds to a plan-time constant on a metadata-bearing native column") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-point-encoding_wkb.parquet")
      val q = df.select(G.st_geometrytype(col("geometry")).as("t"))
      val expected = q.collect().map(_.getString(0)).toSeq
      val (plan, run) = folded(q)
      assert(plan.contains("ST_Point"), plan)          // the literal is in the plan
      assert(!plan.contains("st_geometrytype"), plan)  // the per-row decode is gone
      assert(run.collect().map(_.getString(0)).toSeq == expected)
    }
  }

  test("re-derives the class through a metadata-stripping view (no footer re-read)") {
    G.register(spark)
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-point-encoding_wkb.parquet")
      // CASE strips field metadata: the Alias no longer carries geometryType
      val transformed = df.select(col("col"),
        when(col("col") >= 0, col("geometry")).otherwise(col("geometry")).as("g"))
      assert(!transformed.schema("g").metadata.contains("geometryType"))
      transformed.createOrReplaceTempView("geo_stripped_view")
      val q = spark.sql("SELECT ST_GeometryType(g) AS t FROM geo_stripped_view")
      val expected = q.collect().map(r => Option(r.getString(0))).toSeq
      val (plan, run) = folded(q)
      assert(plan.contains("ST_Point") && !plan.contains("st_geometrytype"), plan)
      // identical to the per-row decode (the fixture includes a null geometry)
      assert(run.collect().map(r => Option(r.getString(0))).toSeq == expected)
      assert(expected.flatten.toSet == Set("ST_Point"))
    }
  }

  test("preserves null semantics when the wrapped column can be null") {
    ReferenceFixtures.foreachDir { dataDir =>
      val df = GeoIO.readGeoParquet(spark, s"$dataDir/data-point-encoding_wkb.parquet")
      // CASE with no ELSE: odd rows become null geometries
      val sparse = df.select(col("col"),
        when(col("col") % 2 === 0, col("geometry")).as("g"))
      val q = sparse.select(col("col"), G.st_geometrytype(col("g")).as("t"))
      val expected = q.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      val (plan, run) = folded(q)
      assert(plan.contains("ST_Point"), plan)
      val got = run.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(got == expected)
      assert(got.values.exists(_.isEmpty) && got.values.exists(_.contains("ST_Point")), got)
    }
  }

  test("does not fold without metadata or known lineage") {
    // non-literal WKT: neither Catalyst constant folding nor the metadata
    // rule can know the class at plan time
    val df = spark.range(3).select(
      G.st_geomfromtext(concat(lit("POINT (1 "), col("id").cast("string"), lit(")"))).as("g"))
    val q = df.select(G.st_geometrytype(col("g")).as("t"))
    val (plan, run) = folded(q)
    assert(plan.contains("st_geometrytype"), plan) // per-row path kept
    assert(run.collect().map(_.getString(0)).toSet == Set("ST_Point"))
  }
}
