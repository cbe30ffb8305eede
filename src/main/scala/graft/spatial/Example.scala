package graft.spatial

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.spatial.{functions => G}

/**
 * End-to-end example driver, the analogue of the reference's example
 * (reference: examples/main.rs:16-62): register the spatial functions, load
 * every native-encoding fixture table, run the two reference queries
 * (projection with ST_Envelope/ST_AsText; global ST_Extent aggregate),
 * print 5 rows each.
 *
 * Run: sbt "runMain graft.spatial.Example [dataDir]"
 * (`dataDir` defaults to the vendored fixtures, relative to the repo root;
 * pass the reference checkout's `data/` to run over its own files).
 */
object Example {
  /** The vendored reference fixtures (tools/gen_reference_fixtures.py). */
  val FixturesDir = "src/test/resources/graft/reference_data"

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse(FixturesDir)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-spatial-example")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.register(spark)

    val dir = new java.io.File(dataDir)
    val files = Option(dir.listFiles()).getOrElse {
      System.err.println(s"error: data directory not found: $dataDir")
      spark.stop(); sys.exit(2)
    }
      .filter(f => f.getName.endsWith("encoding_native.parquet"))
      .sortBy(_.getName)
    for (f <- files) {
      val table = f.getName.stripPrefix("data-").stripSuffix(".parquet").replace("-", "_")
      GeoIO.readGeoParquet(spark, f.getPath).createOrReplaceTempView(table)
      println(s"== $table ==")
      spark.sql(
        s"SELECT ST_AsText(ST_Envelope(geometry)) AS envelope, ST_AsText(geometry) AS wkt FROM $table")
        .show(5, truncate = false)
      spark.sql(s"SELECT ST_Extent(geometry) AS extent FROM $table").show(5, truncate = false)
    }
    spark.stop()
  }
}
