package graft.tools

import org.apache.spark.sql.SparkSession

/** Smoke-check of the `spark.sql.extensions=graft.GraftExtensions` path:
  * a fresh session built with the extensions class must resolve every
  * function family without per-session registration calls. */
object ExtensionsDemo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-demo")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = spark.sql("""
      SELECT ST_AsText(ST_Point(1.0D, 2.0D)) AS wkt,
             ST_Area(ST_GeomFromText('POLYGON ((0 0,4 0,4 4,0 4,0 0))')) AS area,
             ST_Intersects(ST_Point(1.0D, 1.0D),
                           ST_GeomFromText('POLYGON ((0 0,4 0,4 4,0 4,0 0))')) AS hit,
             ST_AsGeoJSON(ST_Point(3.0D, 4.0D)) AS gj,
             lang_id('the quick brown fox jumps over the lazy dog again and again') AS lang,
             simhash64('hello world hello world') AS sh,
             vec_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos
      """).head()
    assert(r.getString(0) == "POINT (1.0 2.0)", r)
    assert(r.getDouble(1) == 16.0, r)
    assert(r.getBoolean(2), r)
    assert(r.getString(3) == """{"type":"Point","coordinates":[3,4]}""", r)
    assert(r.getString(4) == "en", r)
    assert(r.getDouble(6) == 1.0, r)
    println("EXTENSIONS_OK " + r)

    // optimizer rule: ST_Intersects inner join rewrites to a grid equi-join
    import org.apache.spark.sql.functions._
    import graft.spatial.{functions => G}
    val pts = spark.range(500).select(col("id"),
      G.st_point((col("id") % 100).cast("double"), (col("id") % 50).cast("double")).as("pt"))
    val rects = spark.range(20).select(col("id").as("rid"),
      G.st_makeenvelope((col("id") * 5).cast("double"), lit(0.0),
        (col("id") * 5 + 10).cast("double"), lit(25.0)).as("rect"))
    pts.createOrReplaceTempView("pts")
    rects.createOrReplaceTempView("rects")
    val q = "SELECT count(*) AS n FROM pts JOIN rects ON ST_Intersects(rect, pt)"
    val baseline = spark.sql(q).head().getLong(0) // no conf → BNLJ plan
    spark.conf.set("spark.graft.spatialJoin.cellSize", "10.0")
    val rewritten = spark.sql(q)
    val plan = rewritten.queryExecution.executedPlan.toString
    // main path must be the cell-id equi-join; nested-loop joins remain only
    // in the (empty-at-runtime) over-cap fallback branches
    assert(plan.contains("__cell_l"), "rule did not rewrite: " + plan.take(1500))
    assert(plan.contains("BroadcastHashJoin [__cell_l") ||
      plan.contains("SortMergeJoin [__cell_l") ||
      plan.contains("ShuffledHashJoin [__cell_l"), plan.take(1500))
    assert(plan.contains("Generate"), plan.take(500))
    val n = rewritten.head().getLong(0)
    assert(n == baseline, s"grid=$n nl=$baseline")
    spark.conf.unset("spark.graft.spatialJoin.cellSize")
    println(s"GRID_JOIN_RULE_OK n=$n")

    // resolution rule: ST_GeometryType over a metadata-bearing geo column —
    // and over a view that stripped the metadata — folds to a plan-time
    // constant (no per-row header decode in the optimized plan)
    val geo = graft.spatial.GeoIO.readGeoParquet(
      spark, s"${graft.spatial.Example.FixturesDir}/data-point-encoding_wkb.parquet")
    geo.select(col("col"),
        when(col("col") >= 0, col("geometry")).otherwise(col("geometry")).as("g"))
      .createOrReplaceTempView("geo_view")
    val gt = spark.sql("SELECT ST_GeometryType(g) AS t FROM geo_view")
    val gtPlan = gt.queryExecution.optimizedPlan.toString
    assert(gtPlan.contains("ST_Point") && !gtPlan.contains("st_geometrytype"),
      "geometry-type fold missing: " + gtPlan.take(800))
    assert(gt.collect().flatMap(r => Option(r.getString(0))).toSet == Set("ST_Point"))
    println("GEOMTYPE_FOLD_OK")
    spark.stop()
  }
}
