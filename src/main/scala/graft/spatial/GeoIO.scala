package graft.spatial

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/**
 * GeoParquet ingestion.
 *
 * The reference relies on DataFusion keeping parquet key-value metadata in
 * the table schema (`skip_metadata=false`, reference: examples/main.rs:18)
 * and a plan rule that threads `geo` metadata into every ST_* call
 * (reference: src/rules.rs:20-170). Spark drops parquet footer key-value
 * metadata from `spark.read.parquet` schemas, so we read the footer
 * ourselves and convert any GeoArrow-native geometry columns to canonical
 * WKB at load — after which no metadata threading is needed anywhere in
 * the plan.
 *
 * Opening a path ([[readGeoParquet]], [[readGeoParquetFiltered]],
 * [[readGeoMetadata]]) reads ONE footer and starts no Spark job. The
 * footer is that of the first visible data file in path order — the file
 * Spark's own non-merging schema inference would pick: names starting
 * with `_` or `.` are skipped at every directory level, as Spark's file
 * index skips them. Both the `geo` document and the Spark schema come from
 * that footer, and the schema is handed to the parquet reader, so the
 * inference job Spark would otherwise run is never started. Spark still
 * infers the schema itself where one footer cannot give it: when
 * `spark.sql.parquet.mergeSchema` is on, or when the directory holds
 * `_metadata`/`_common_metadata` summary files.
 *
 * The `geo` JSON shape (reference: data/generate_test_data.py:26-35):
 * {"version":"1.1.0","primary_column":"geometry",
 *  "columns":{"geometry":{"encoding":"WKB"|"point"|…,"geometry_types":[…]}}}
 */
object GeoIO {

  /** @param crs the column's `crs` member from the `geo` footer (GeoParquet
    *        1.x PROJJSON object or string), rendered to a canonical compact
    *        JSON string at parse time — carried so a non-default CRS
    *        survives read → write → read instead of being silently lost. */
  case class GeoColumn(name: String, encoding: String, geometryTypes: Seq[String],
                       crs: Option[String] = None,
                       coveringBbox: Option[String] = None) {
    /** 0 → Unknown, 1 → that type, >1 → Mixed (reference: src/rules.rs:143-147). */
    def geometryType: String = geometryTypes match {
      case Seq() => "Unknown"
      case Seq(one) => one
      case _ => "Mixed"
    }
  }

  /** Parse the `geo` document (full JSON — handles nested `crs` objects and
    * `bbox` arrays that appear in real GeoParquet 1.x metadata). */
  private[spatial] def parseGeoJson(json: String): Seq[GeoColumn] = {
    import MiniJson._
    parse(json) match {
      case Some(root: JObj) =>
        root.get("columns") match {
          case Some(cols: JObj) =>
            cols.fields.toSeq.flatMap {
              case (name, col: JObj) =>
                col.get("encoding") match {
                  case Some(JStr(enc)) =>
                    val types = col.get("geometry_types") match {
                      case Some(JArr(items)) => items.collect { case JStr(t) => t }.toSeq
                      case _ => Seq.empty
                    }
                    // normalize once via render; absent or JSON-null crs
                    // (the spec's "CRS-less" marker) stays None
                    val crs = col.get("crs").collect {
                      case v if v != JNull => render(v)
                    }
                    // 1.1 covering member: every bbox field must point into
                    // the SAME struct column for it to be usable as a
                    // [[bboxFilter]] target
                    val covering = col.get("covering").flatMap {
                      case cov: JObj => cov.get("bbox").flatMap {
                        case bbox: JObj =>
                          val cols = Seq("xmin", "ymin", "xmax", "ymax").flatMap(m =>
                            bbox.get(m).collect { case JArr(Vector(JStr(c), JStr(`m`))) => c })
                          cols.distinct match {
                            case Seq(c) if cols.size == 4 => Some(c)
                            case _ => None
                          }
                        case _ => None
                      }
                      case _ => None
                    }
                    Some(GeoColumn(name, enc, types, crs, covering))
                  case _ => None
                }
              case _ => None
            }
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
  }

  /** What one open of a path read off its one footer: the `geo` columns,
    * and the reader over the path. `schema` is the footer's Spark schema,
    * or None where Spark's own inference has to run (see [[open]]). */
  private final class Opened(spark: SparkSession, path: String,
                             val footerGeo: Seq[GeoColumn], schema: Option[StructType]) {
    /** Building it starts no Spark job when `schema` is set. */
    lazy val frame: DataFrame =
      schema.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** Open `path`: pick the first visible data file in path order (Spark's
    * non-merging inference picks the same one), read its footer once, and
    * take from it both the `geo` document and the Spark schema. The schema
    * is converted the way Spark's inference converts it: Spark's own
    * row-metadata key wins when present, else the parquet schema goes
    * through a converter built from the session's SQLConf (binaryAsString,
    * INT96, …). With `spark.sql.parquet.mergeSchema` on, or summary files
    * present, one footer cannot give the right schema, so the schema is
    * left to Spark's inference. */
  private def open(spark: SparkSession, path: String): Opened = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val (summaries, data) = leafFiles(fs, fs.getFileStatus(root))
      .sortBy(_.getPath.toString)
      .partition(f => isSummaryFile(f.getPath.getName))
    val first = data.headOption
      .getOrElse(throw new IllegalArgumentException(s"no parquet files under $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(first, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val geo = Option(footer.getFileMetaData.getKeyValueMetaData.get("geo"))
      .map(parseGeoJson).getOrElse(Seq.empty)
    val sqlConf = spark.sessionState.conf
    val schema =
      if (sqlConf.isParquetSchemaMergingEnabled || summaries.nonEmpty) None
      else Some(ParquetFileFormat.readSchemaFromFooter(
        new Footer(first.getPath, footer), new ParquetToSparkSchemaConverter(sqlConf)))
    new Opened(spark, path, geo, schema)
  }

  /** The files under `st`, recursively, without the hidden names Spark's
    * file index skips. */
  private def leafFiles(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => GraftShim.hiddenFromFileIndex(c.getPath.getName))
      .flatMap(leafFiles(fs, _))

  private def isSummaryFile(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  /** The `geo` key-value metadata of the footer [[readGeoParquet]] would
    * read for `path`: one footer read, no Spark job (see [[GeoIO]]). Empty
    * when that footer has no `geo` key. */
  def readGeoMetadata(spark: SparkSession, path: String): Seq[GeoColumn] =
    open(spark, path).footerGeo

  /**
   * Write a DataFrame whose geometry columns are WKB `BinaryType`, recording
   * geometry-column names + types as `StructField` metadata (Spark persists
   * field metadata in its own parquet footer key,
   * `org.apache.spark.sql.parquet.row.metadata`, so [[readGeoParquet]] /
   * plain `spark.read.parquet` round-trips it). The reference has no write
   * path at all (SURVEY §2.2 — sinks: none); this completes the story.
   */
  def writeGeoParquet(df: DataFrame, path: String,
                      geometryColumns: Map[String, String]): Unit = {
    val projected: Seq[Column] = df.schema.fields.toSeq.map { f =>
      geometryColumns.get(f.name) match {
        case Some(gtype) =>
          val mb = new MetadataBuilder()
            .putString("encoding", "WKB")
            .putString("geometryType", gtype)
          // a source CRS read off a GeoParquet footer (or a previous write)
          // rides the field metadata through every write — never silently
          // dropped on round trip
          if (f.metadata.contains("crs"))
            mb.putString("crs", f.metadata.getString("crs"))
          col(f.name).as(f.name, mb.build())
        case None => col(f.name)
      }
    }
    df.select(projected: _*).write.mode("overwrite").parquet(path)
    stampGeoFooter(df.sparkSession, path, geometryColumns.map { case (n, gt) =>
      n -> ((gt, "WKB", crsOf(df, n), coveringOf(df, n, geometryColumns.size)))
    })
  }

  /** The column's carried `crs` field metadata, if any. */
  private def crsOf(df: DataFrame, name: String): Option[String] = {
    val f = df.schema(name)
    if (f.metadata.contains("crs")) Some(f.metadata.getString("crs")) else None
  }

  /** The [[withBboxColumn]] covering column paired with geometry column
    * `name`, if present: `"<name>_bbox"`, or plain `"bbox"` when the file
    * has a single geometry column. Shape-checked so an unrelated column
    * named bbox is never advertised. */
  private def coveringOf(df: DataFrame, name: String, nGeomCols: Int): Option[String] = {
    import org.apache.spark.sql.types.{DoubleType, StructType}
    val candidates = if (nGeomCols == 1) Seq(s"${name}_bbox", "bbox") else Seq(s"${name}_bbox")
    candidates.find { c =>
      df.schema.fields.exists(f => f.name == c && (f.dataType match {
        case s: StructType =>
          Seq("xmin", "ymin", "xmax", "ymax").forall(m =>
            s.fields.exists(g => g.name == m && g.dataType == DoubleType))
        case _ => false
      }))
    }
  }

  /**
   * Write geometry columns in the GeoArrow separated NATIVE layout
   * (point → struct<x,y>, linestring → list<struct>, … — the same nesting
   * as the reference's native fixtures) instead of WKB. The layout is
   * recorded as `{encoding: <class>, geometryType}` field metadata, which
   * [[readGeoParquet]] honors when the `geo` footer key is absent, so the
   * round trip converts back through [[StNativeAsWkb]]. The reference
   * preserves native layouts through compute (src/udfs/envelope.rs:230-326);
   * this engine canonicalizes to WKB for compute and materializes native
   * at the sink.
   *
   * @param geometryColumns column → geometry class ("Point", "Polygon", …)
   * @param dim coordinate width of the written layout (2 = XY … 4 = XYZM;
   *            lower-dimension rows pad missing ordinates with NaN)
   */
  def writeGeoParquetNative(df: DataFrame, path: String,
                            geometryColumns: Map[String, String],
                            interleaved: Boolean = false,
                            dim: Int = 2): Unit = {
    val projected: Seq[Column] = df.schema.fields.toSeq.map { f =>
      geometryColumns.get(f.name) match {
        case Some(gtype) =>
          val mb = new MetadataBuilder()
            .putString("encoding", gtype.toLowerCase)
            .putString("geometryType", gtype)
          if (f.metadata.contains("crs"))
            mb.putString("crs", f.metadata.getString("crs"))
          GraftShim.column(StWkbAsNative(GraftShim.expression(col(f.name)), gtype,
              dim = dim, interleaved = interleaved))
            .as(f.name, mb.build())
        case None => col(f.name)
      }
    }
    df.select(projected: _*).write.mode("overwrite").parquet(path)
    // GeoParquet 1.1 native encodings are the lowercase class names — the
    // same footer interop applies to the native layout sink
    stampGeoFooter(df.sparkSession, path, geometryColumns.map { case (n, gt) =>
      n -> ((gt, gt.toLowerCase, crsOf(df, n), coveringOf(df, n, geometryColumns.size)))
    })
  }

  /**
   * Stamp a REAL GeoParquet `geo` footer key onto every part file under
   * `path` — the interop step that makes this engine's output readable as
   * GeoParquet by OTHER engines (pyarrow/GDAL/DuckDB-spatial and the
   * reference itself, which reads the footer via DataFusion's
   * skip_metadata=false — examples/main.rs:18). Spark's writer cannot set
   * parquet key-value metadata, so each part is rewritten through
   * `ParquetFileWriter.appendFile`: row groups are copied RAW (no
   * decode/re-encode — footer-only cost), the original key-value metadata
   * (including Spark's own schema key) is preserved, and the `geo`
   * document is added.
   *
   * @param geoColumns column → (geometry class, encoding, optional crs JSON,
   *                   optional [[withBboxColumn]] covering column to
   *                   advertise as the 1.1 `covering.bbox` member)
   */
  private def stampGeoFooter(spark: SparkSession, path: String,
                             geoColumns: Map[String, (String, String, Option[String], Option[String])]): Unit = {
    import MiniJson._
    import scala.collection.mutable.LinkedHashMap
    if (geoColumns.isEmpty) return
    val colsObj = JObj(LinkedHashMap(geoColumns.toSeq.map { case (name, (gtype, enc, crs, covering)) =>
      val fields = LinkedHashMap[String, Value](
        "encoding" -> JStr(enc),
        "geometry_types" -> (gtype match {
          case "Unknown" | "Mixed" => JArr(Vector.empty)
          case t => JArr(Vector(JStr(t)))
        }))
      crs.flatMap(parse).foreach(v => fields += ("crs" -> v))
      covering.foreach { c =>
        fields += ("covering" -> JObj(LinkedHashMap[String, Value]("bbox" ->
          JObj(LinkedHashMap[String, Value](
            Seq("xmin", "ymin", "xmax", "ymax").map(m =>
              m -> (JArr(Vector(JStr(c), JStr(m))): Value)): _*)))))
      }
      name -> (JObj(fields): Value)
    }: _*))
    val geoJson = render(JObj(LinkedHashMap[String, Value](
      "version" -> JStr("1.1.0"),
      "primary_column" -> JStr(geoColumns.head._1),
      "columns" -> colsObj)))

    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val parts = fs.listStatus(root).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    parts.foreach { part =>
      val in = HadoopInputFile.fromPath(part, conf)
      val reader = ParquetFileReader.open(in)
      val (schema, kv) =
        try {
          val md = reader.getFooter.getFileMetaData
          (md.getSchema, md.getKeyValueMetaData)
        } finally reader.close()
      val merged = new java.util.HashMap[String, String](kv)
      merged.put("geo", geoJson)
      val tmp = new Path(part.getParent, part.getName + ".geo.tmp")
      val writer = new org.apache.parquet.hadoop.ParquetFileWriter(
        org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(tmp, conf),
        schema, org.apache.parquet.hadoop.ParquetFileWriter.Mode.OVERWRITE,
        org.apache.parquet.hadoop.ParquetWriter.DEFAULT_BLOCK_SIZE,
        org.apache.parquet.hadoop.ParquetWriter.MAX_PADDING_SIZE_DEFAULT)
      writer.start()
      writer.appendFile(in)
      writer.end(merged)
      fs.delete(part, false)
      fs.rename(tmp, part)
    }
  }

  /**
   * Write geo data partitioned by grid anchor cell (the cell of the
   * envelope's min corner): a spatial filter then reads ONLY the matching
   * cell partitions — storage-level partition pruning, the way to avoid
   * full scans of a 100 TB geo corpus for windowed queries. Geometries
   * larger than one cell anchor in their min-corner cell; readers expand
   * the query window by `pad` ≥ the max geometry extent to not miss them.
   */
  def writePartitionedByCell(df: DataFrame, geomCol: String, cellSize: Double,
                             path: String): Unit = {
    val g = col(geomCol)
    df.withColumn("cell",
        SpatialJoin.st_ref_cell(g, g, cellSize))
      .write.mode("overwrite").partitionBy("cell").parquet(path)
  }

  /**
   * GeoParquet 1.1 "covering" bbox column: a flat
   * `struct<xmin,ymin,xmax,ymax>` computed next to the geometry at write
   * time. Parquet keeps per-row-group min/max statistics for the struct's
   * double leaves, so an envelope filter expressed on those leaves
   * ([[bboxFilter]]) reaches the scan as PushedFilters and prunes ROW
   * GROUPS inside every file before any WKB is decoded — finer-grained
   * than cell-partition pruning, with no directory explosion, and it
   * composes with it (partition prune to cells, then stat-prune groups).
   */
  def withBboxColumn(df: DataFrame, geomCol: String,
                     bboxCol: String = "bbox"): DataFrame =
    df.withColumn(bboxCol, struct(
      functions.st_xmin(col(geomCol)).as("xmin"),
      functions.st_ymin(col(geomCol)).as("ymin"),
      functions.st_xmax(col(geomCol)).as("xmax"),
      functions.st_ymax(col(geomCol)).as("ymax")))

  /** Envelope-intersection predicate over a [[withBboxColumn]] covering
    * column — plain comparisons on struct leaves, so parquet row-group
    * stats prune before decode (assert `PushedFilters` mentions the bbox
    * leaves in the scan). Geometries only FULLY inside the window need no
    * residual check; for exact semantics follow with the ST_ predicate. */
  def bboxFilter(bboxCol: String, xmin: Double, ymin: Double,
                 xmax: Double, ymax: Double): Column =
    col(s"$bboxCol.xmin") <= xmax && col(s"$bboxCol.xmax") >= xmin &&
      col(s"$bboxCol.ymin") <= ymax && col(s"$bboxCol.ymax") >= ymin

  /** Read only the cell partitions overlapping `env` expanded by `pad`,
    * then apply the exact envelope filter. */
  def readCellRange(spark: SparkSession, path: String, cellSize: Double,
                    xmin: Double, ymin: Double, xmax: Double, ymax: Double,
                    pad: Double = 0.0): DataFrame = {
    val ix0 = math.floor((xmin - pad) / cellSize).toLong
    val ix1 = math.floor((xmax + pad) / cellSize).toLong
    val iy0 = math.floor((ymin - pad) / cellSize).toLong
    val iy1 = math.floor((ymax + pad) / cellSize).toLong
    require((ix1 - ix0 + 1) * (iy1 - iy0 + 1) <= 65536,
      "query window covers too many cells; coarsen cellSize")
    val cells = for (ix <- ix0 to ix1; iy <- iy0 to iy1)
      yield (ix << 32) | (iy & 0xffffffffL)
    spark.read.parquet(path).filter(col("cell").isin(cells: _*))
  }

  /**
   * Read a (Geo)Parquet file or directory; geometry columns become WKB
   * `BinaryType` with `{encoding, sourceEncoding, geometryType, crs}`
   * recorded as column metadata. WKB-encoded columns pass through;
   * GeoArrow-native nested columns are converted by [[StNativeAsWkb]].
   * Plain parquet (no `geo` footer) reads unchanged.
   *
   * One footer read, and no Spark job until the frame is used: the schema
   * and the `geo` document both come from the first visible data file's
   * footer (see [[GeoIO]] for the file and for when Spark's inference
   * still runs). Without a `geo` key, the geometry columns are those
   * whose field metadata names a native encoding, the carrier used by
   * this engine's own writers.
   */
  def readGeoParquet(spark: SparkSession, path: String): DataFrame =
    decode(open(spark, path))

  /** The opened frame with its geometry columns decoded to WKB: the `geo`
    * footer's columns, else those named by field metadata. */
  private def decode(opened: Opened): DataFrame = {
    val df = opened.frame
    val geoCols =
      if (opened.footerGeo.nonEmpty) opened.footerGeo
      else df.schema.fields.toSeq.collect {
        case f if f.metadata.contains("encoding") && f.metadata.contains("geometryType") &&
            !f.metadata.getString("encoding").equalsIgnoreCase("WKB") =>
          GeoColumn(f.name, f.metadata.getString("encoding"),
            Seq(f.metadata.getString("geometryType")),
            if (f.metadata.contains("crs")) Some(f.metadata.getString("crs")) else None)
      }
    if (geoCols.isEmpty) return df
    val byName = geoCols.map(c => c.name -> c).toMap
    val projected: Seq[Column] = df.schema.fields.toSeq.map { f =>
      byName.get(f.name) match {
        case Some(gc) =>
          val mb = new MetadataBuilder()
            .putString("encoding", "WKB")
            .putString("sourceEncoding", gc.encoding)
            .putString("geometryType", gc.geometryType)
          gc.crs.foreach(mb.putString("crs", _))
          val meta = mb.build()
          val converted =
            if (gc.encoding.equalsIgnoreCase("WKB"))
              GraftShim.column(StGeomFromWkb(GraftShim.expression(col(f.name))))
            else
              GraftShim.column(StNativeAsWkb(GraftShim.expression(col(f.name)), gc.encoding))
          converted.as(f.name, meta)
        case None => col(f.name)
      }
    }
    df.select(projected: _*)
  }

  /**
   * Read with an envelope predicate [xmin,xmax]×[ymin,ymax]: when the
   * footer advertises a `covering.bbox` column ([[GeoColumn.coveringBbox]]
   * — stamped by this engine's sinks or any GeoParquet 1.1 writer), the
   * rectangle test lands on the plain covering struct and pushes through
   * the decode projection to the parquet scan (`PushedFilters` → row
   * groups skip on stats, zero geometry decode for misses); the exact
   * envelope-intersection residual then runs only on survivors. Without a
   * covering, the exact test alone applies — same results, no pruning.
   * Opens the path once, as [[readGeoParquet]] does.
   */
  def readGeoParquetFiltered(spark: SparkSession, path: String,
                             xmin: Double, ymin: Double,
                             xmax: Double, ymax: Double): DataFrame = {
    import graft.spatial.{functions => G}
    val opened = open(spark, path)
    val df = decode(opened)
    val geomName = opened.footerGeo.headOption.map(_.name)
      .orElse(df.schema.fields.find(_.metadata.contains("geometryType")).map(_.name))
      .getOrElse(throw new IllegalArgumentException(s"no geometry column under $path"))
    val g = col(geomName)
    val exact = G.st_xmin(g) <= xmax && G.st_xmax(g) >= xmin &&
      G.st_ymin(g) <= ymax && G.st_ymax(g) >= ymin
    opened.footerGeo.headOption.flatMap(_.coveringBbox) match {
      case Some(bb) => df.filter(bboxFilter(bb, xmin, ymin, xmax, ymax) && exact)
      case None => df.filter(exact)
    }
  }
}
