package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.spatial.{functions => G}
import graft.pipeline.{Clustering, Curate, Dedup, Graph, GroupedTopK, Materialize, Multimodal, Sampling, Sessions, Similarity, Stats, Text}

/**
 * The declared operator surface: every entry is one operator/capability from
 * SURVEY.md §2 (reference-inherited relational surface + the ST_* functions)
 * or §7.6 (LLM-pipeline operators), with a DuckDB oracle where ANSI SQL can
 * express the same semantics.
 *
 * Oracle-parity rules used throughout (so result hashes match bit-for-bit):
 *  - every aggregate over 2-decimal money columns goes through
 *    `CAST(... AS DECIMAL(18,2))` → exact sum in any order → `CAST(AS DOUBLE)`;
 *  - integral-valued doubles (quantities, counts) sum exactly as doubles;
 *  - per-row double arithmetic (sqrt, ratios) is identical IEEE in both
 *    engines when the expression tree is identical;
 *  - timestamps compare as `unix_micros`/`epoch_us` BIGINT;
 *  - every query ends in a total ORDER BY on a unique key set;
 *  - result column names are identical on both sides.
 */
object Queries {

  /** Timestamp-carrying columns per harness table: every one is
    * normalized defensively at load (the round-6 NTZ episode
    * generalized — the only thing that has ever turned the board red was
    * an upstream physical-dtype change, so every plausible encoding maps
    * back to today's logical type at the loader). */
  private[graft] val TsCols: Map[String, Seq[String]] = Map(
    "events" -> Seq("ts"),
    "lineitem" -> Seq("l_shipdate"),
    "orders" -> Seq("o_orderdate"))

  /** Defensive load — tolerate the plausible physical-encoding drifts of
    * the harness generator per column family:
    *  - timestamps as TIMESTAMP(NANOS) (Spark 4 rejects them unless read
    *    as long via `nanosAsLong`), naked `timestamp[us]` (→ NTZ, the
    *    pandas/pyarrow default today), or zoned `timestamp[us, tz=UTC]`.
    *    `events.ts` normalizes to TimestampType µs UTC instants, the
    *    date columns to the TIMESTAMP_NTZ they ship as today — in all
    *    cases via physical µs reinterpretation
    *    ([[graft.pipeline.NtzToUtc]] / [[graft.pipeline.UtcToNtz]]), NOT
    *    session-timezone-dependent casts, so correctness does not depend
    *    on caller config.
    *  - `string` vs `large_string` and int32 vs int64 keys need no
    *    rewrite: Spark reads both to the same logical families, and
    *    keeping the source width keeps Spark outputs dtype-identical to
    *    what DuckDB reads from the same file (suite-pinned by LoaderSpec
    *    over variant-encoded fixtures).
    *  - `embeddings.embedding` as `list<float>` (today) or
    *    `list<double>` both flow through the vector expressions, which
    *    compute in double either way (matching the oracles'
    *    `CAST(embedding AS DOUBLE[])`).
    */
  private[graft] def t(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw0 = spark.read.parquet(s"$sfDir/$name.parquet")
    // decimal drift: money columns shipped as decimal(p,2) normalize to
    // today's DOUBLE logical type (lossless — the generator's prices are
    // exact 2dp, far inside double's exact range). Without this the 199
    // queries' output dtypes would follow the file, and engines diverge
    // on decimal-typed percentile/geometry arithmetic (the decimal
    // variant gate's q142/q17 finding).
    val raw = raw0.schema.fields.foldLeft(raw0) { (df, f) =>
      f.dataType match {
        case _: org.apache.spark.sql.types.DecimalType =>
          df.withColumn(f.name, col(f.name).cast("double"))
        case _ => df
      }
    }
    TsCols.getOrElse(name, Nil).foldLeft(raw) { (df, c) =>
      import org.apache.spark.sql.types._
      val toUtc = name == "events"
      df.schema(c).dataType match {
        case LongType =>
          // int64 timestamp column: either TIMESTAMP(NANOS) read as long
          // epoch-ns (Spark 4's `nanosAsLong` escape hatch — the only
          // reader path that annotates ns) or plain unannotated int64
          // epoch-µs. Decided per COLUMN from the parquet footer's
          // logical-type annotation (a driver-side metadata read, cached
          // per path) — a magnitude heuristic decided per row would
          // misread genuinely-annotated ns instants before ~1973-03 as
          // µs and scale them 1000×.
          val ns = isNanosAnnotated(spark, s"$sfDir/$name.parquet", c)
          val us = timestamp_micros(
            if (ns) expr(s"$c DIV 1000") else col(c))
          df.withColumn(c,
            if (toUtc) us else graft.pipeline.Time.utcToNtz(us))
        case TimestampNTZType if toUtc =>
          df.withColumn(c, graft.pipeline.Time.ntzToUtc(col(c)))
        case TimestampType if !toUtc =>
          df.withColumn(c, graft.pipeline.Time.utcToNtz(col(c)))
        case DateType =>
          // date32 drift: the date-semantic columns ship as plain dates —
          // widen to midnight. date→NTZ is a pure calendar op (no session
          // tz); events.ts would additionally need the NTZ→UTC
          // reinterpretation to stay a µs instant.
          val ntz = col(c).cast(TimestampNTZType)
          df.withColumn(c,
            if (toUtc) graft.pipeline.Time.ntzToUtc(ntz) else ntz)
        case _ => df
      }
    }
  }

  /** Per-(path, column) cache of "is this int64 column annotated
    * TIMESTAMP(NANOS) in the parquet footer" — one footer read per
    * table path per JVM, no data job. */
  private val nanosAnnotatedCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def isNanosAnnotated(spark: SparkSession, path: String,
                               colName: String): Boolean = {
    val key = path + "#" + colName
    val cached = nanosAnnotatedCache.get(key)
    if (cached != null) return cached.booleanValue()
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val st = fs.getFileStatus(p)
    val file =
      if (st.isFile) p
      else fs.listStatus(p).iterator
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_")
          && !f.getPath.getName.startsWith("."))
        .map(_.getPath).toSeq.sortBy(_.getName).headOption
        .getOrElse(throw new java.io.FileNotFoundException(
          s"no data files under $path"))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val res = try {
      val schema = reader.getFooter.getFileMetaData.getSchema
      schema.containsField(colName) && {
        val ty = schema.getType(Seq(colName): _*)
        ty.isPrimitive && (ty.getLogicalTypeAnnotation match {
          case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            ts.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
          case _ => false
        })
      }
    } finally reader.close()
    nanosAnnotatedCache.put(key, java.lang.Boolean.valueOf(res))
    res
  }

  private def events(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  /** Layout-artifact dir shared between q128_zorder_prune and its DuckDB
    * oracle: both engines must read the SAME parquet footers, and oracle
    * SQL is a static string — so the path is an absolute location under
    * the working dir's `target/`, overwritten on every run and left in place for
    * the post-run `parquet_metadata()` replay. Keyed by the JVM's pid
    * (the q200/q202 applicationId pattern — a pid is available without a
    * live session, so the oracle string interpolates the same value):
    * the round-11 sf0.1 gate proved a FIXED path races with a concurrent
    * suite run on the same host, which clobbered the directory mid-gate. */
  val Q128Dir =
    new java.io.File(s"target/q128_layout_pid${ProcessHandle.current().pid()}").getAbsolutePath

  private def prep(spark: SparkSession, sfDir: String, names: String*): Unit = {
    graft.spatial.functions.register(spark)
    graft.pipeline.Text.register(spark)
    names.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
  }

  /**
   * Write `df` as `n` ORDER-PARTITIONED parquet slice files under `dir`
   * (every `orderExpr` value in slice k sorts at-or-before every value in
   * slice k+1; mtimes strictly increasing) — the file feed for the
   * streaming certification faces. A `readStream` over the directory with
   * `maxFilesPerTrigger = 1` then replays the corpus as n ordered
   * micro-batches. Unlike the round-10 MemoryStream feed, nothing ever
   * collects on the driver: boundaries come from an exact quantile sketch
   * (metadata-sized) and each slice is written by its own distributed
   * filter+write job, so the face itself scales with the corpus. (The
   * per-slice repartition(1) packs one file per batch for determinism of
   * the BATCH BOUNDARIES only; production feeds use whatever file
   * granularity the upstream writer produced.)
   */
  /** @return the exact maximum of `orderExpr` over the feed (piggybacked
    *         on the quantile pass at zero extra jobs) — the sentinel
    *         faces previously paid a separate one-row agg+collect job
    *         for it */
  private def writeOrderedFeed(s: SparkSession, df: DataFrame,
                               orderExpr: org.apache.spark.sql.Column,
                               dir: String, n: Int): Double = {
    val tagged = df.withColumn("__ord", orderExpr.cast("double"))
    // a null order value fails every slice's comparison filter — the row
    // would VANISH from the streamed face while staying in the batch
    // oracle (a confusing red, or a silently smaller feed). Fail loudly
    // instead: ordered replay is this helper's whole contract.
    // projected to the single order column BEFORE the filter so the
    // guard's scan is column-pruned (the guard is one narrow pass, not a
    // full-width corpus read)
    require(tagged.select(col("__ord")).where(col("__ord").isNull).isEmpty,
      s"writeOrderedFeed: order expression evaluates to null on some rows " +
        s"of the feed for $dir — nulls cannot be ordered into a slice")
    val qs = tagged.stat.approxQuantile("__ord",
      ((1 until n).map(_.toDouble / n) :+ 1.0).toArray,
      0.0) // relativeError 0 = exact; the appended 1.0 is the exact max
    new java.io.File(dir).mkdirs()
    // ONE shuffle+write job materializes every slice (optimization guide
    // §1.2/§2.4: the per-slice filter+write loop re-scanned the source n
    // times — n+2 jobs per feed across 14 faces). Slice MEMBERSHIP is
    // decided by the same exact quantile boundaries as before, so each
    // slice holds the identical row set and every downstream certified
    // output is unchanged (the faces' outputs are order-insensitive
    // functions of the slice sets — they hash-match an engine that never
    // sees Spark's row order at all). repartition on the slice id puts
    // each slice wholly in one task, so each partition dir gets exactly
    // one file, renamed to the mtime-pinned slice-k name.
    val sliceId = (1 until n).foldLeft(lit(0)) { (acc, k) =>
      when(col("__ord") > lit(qs(k - 1)), lit(k)).otherwise(acc)
    }
    writeSlicedFeed(tagged.withColumn("__slice", sliceId).drop("__ord"),
      dir, n)
    qs.last
  }

  /** Write a frame carrying an integer `__slice` column in [0, n) as `n`
    * mtime-pinned slice files under `dir` in ONE shuffle+write job — the
    * shared materialization of [[writeOrderedFeed]] and the mod-sliced
    * faces (which previously ran one full filter+write job PER slice).
    * Slice k's row set is exactly `__slice = k`; an absent slice value
    * still publishes a schema-only file so the replay keeps exactly n
    * batches. */
  private def writeSlicedFeed(tagged: DataFrame, dir: String, n: Int): Unit = {
    new java.io.File(dir).mkdirs()
    val stage = s"$dir/_stage_all"
    tagged
      .repartition(col("__slice"))
      .write.partitionBy("__slice").mode("overwrite").parquet(stage)
    for (k <- 0 until n) {
      val sliceDir = new java.io.File(stage, s"__slice=$k")
      val parts = Option(sliceDir.listFiles()).toSeq.flatten
        .filter(_.getName.endsWith(".parquet"))
      // exactly-one-file is the move's correctness contract: a second
      // part file (maxRecordsPerFile, committer drift) would be silently
      // deleted with the staging dir — fail loudly instead (the
      // publishFeedSlice zero-file convention)
      if (parts.size > 1)
        throw new IllegalStateException(
          s"feed slice $k produced ${parts.size} part files under " +
            s"$sliceDir — single-file move would drop rows")
      val tgt = new java.io.File(dir, f"slice-$k%03d.parquet")
      parts.headOption match {
        case Some(p) =>
          java.nio.file.Files.move(p.toPath, tgt.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          if (!tgt.setLastModified(1700000000000L + k * 60000L))
            throw new IllegalStateException(
              s"could not pin mtime of feed slice $tgt — ordered replay unsafe")
        case None =>
          // empty slice: publish a schema-only file so the replay keeps
          // exactly n batches, as the per-slice filter loop did
          publishFeedSlice(tagged.drop("__slice").limit(0), dir, k)
      }
    }
    new scala.reflect.io.Directory(new java.io.File(stage)).deleteRecursively()
  }

  /** Write one DataFrame as feed slice `k` of `dir` (single parquet file,
    * mtime pinned so FileStreamSource — which drains oldest-mtime-first —
    * replays slices in index order). Shared by [[writeOrderedFeed]] and
    * the watermark-sentinel batches of the windowed streaming faces. */
  private def publishFeedSlice(df: DataFrame, dir: String, k: Int): Unit = {
    val stage = s"$dir/_stage_$k"
    df.repartition(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(s"no part file in $stage"))
    val tgt = new java.io.File(dir, f"slice-$k%03d.parquet")
    java.nio.file.Files.move(part.toPath, tgt.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // FileStreamSource drains oldest-mtime-first; a silently failed mtime
    // pin would invalidate every ordered-replay certification, so fail
    // loudly (the no-part-file guard's convention)
    if (!tgt.setLastModified(1700000000000L + k * 60000L))
      throw new IllegalStateException(
        s"could not pin mtime of feed slice $tgt — ordered replay unsafe")
    new scala.reflect.io.Directory(new java.io.File(stage)).deleteRecursively()
  }

  /** Pin the STATEFUL operators' parallelism for the stream run inside
    * `body` — one keyed state store per shuffle partition, and store
    * open/commit per partition per micro-batch is pure overhead against
    * small state (q220 measured 18.8 → 7.1 s at 32 → 8). The first
    * micro-batch pins the value into the checkpoint, so the conf must
    * stay set until the stream DRAINS; batch jobs and read-backs outside
    * `body` keep the session default (restored in the finally). */
  private def withStatefulParallelism[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  // =============================================================== queries

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ---- relational surface (inherited operators, SURVEY §2.3-2.8) ----

    "q01_pricing_summary" -> ((s, d) => {
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               count(*) AS count_order
        FROM lineitem
        WHERE l_quantity < 50
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus""")
    }),

    "q02_topk_orders" -> ((s, d) => {
      prep(s, d, "orders")
      s.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
    }),

    "q03_revenue_by_customer" -> ((s, d) => {
      prep(s, d, "customer", "orders", "lineitem")
      s.sql("""
        SELECT c.c_custkey, c.c_name,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1.0 - l.l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")
    }),

    "q04_orders_per_region" -> ((s, d) => {
      prep(s, d, "region", "nation", "customer", "orders")
      s.sql("""
        SELECT r.r_name, count(*) AS n_orders
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY r.r_name ORDER BY r.r_name""")
    }),

    "q05_semi_anti_join" -> ((s, d) => {
      prep(s, d, "nation", "customer", "orders")
      s.sql("""
        SELECT n.n_name,
               count(CASE WHEN o.has_o IS NOT NULL THEN 1 END) AS active_custs,
               count(CASE WHEN o.has_o IS NULL THEN 1 END) AS inactive_custs
        FROM nation n
        JOIN customer c ON c.c_nationkey = n.n_nationkey
        LEFT JOIN (SELECT DISTINCT o_custkey, 1 AS has_o FROM orders) o
          ON o.o_custkey = c.c_custkey
        GROUP BY n.n_name ORDER BY n.n_name""")
    }),

    "q06_distinct_counts" -> ((s, d) => {
      prep(s, d, "lineitem")
      s.sql("""
        SELECT count(DISTINCT l_partkey) AS d_parts,
               count(DISTINCT l_suppkey) AS d_supps,
               count(DISTINCT l_orderkey) AS d_orders
        FROM lineitem""")
    }),

    "q07_window_rank" -> ((s, d) => {
      // grouped top-3 over a 3-value partition key: the naive window would
      // shuffle the whole fact table into 3 partitions; GroupedTopK
      // prefilters each map partition to its local top-3 per flag first,
      // so the exact window sees ≤ 3·numPartitions rows per flag
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem")
        .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
      graft.pipeline.GroupedTopK.topK(li, Seq("l_returnflag"),
          Seq(("l_extendedprice", false), ("l_orderkey", true), ("l_linenumber", true)),
          k = 3, rankCol = "rnk")
        .select(col("l_returnflag"), col("rnk").cast("long").as("rnk"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"))
        .orderBy("l_returnflag", "rnk")
    }),

    "q08_union_segments" -> ((s, d) => {
      prep(s, d, "customer", "orders")
      s.sql("""
        SELECT custkey FROM (
          SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
          UNION
          SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING') u
        ORDER BY custkey""")
    }),

    "q09_except_inactive" -> ((s, d) => {
      prep(s, d, "customer", "orders")
      s.sql("""
        SELECT custkey FROM (
          SELECT c_custkey AS custkey FROM customer
          EXCEPT
          SELECT DISTINCT o_custkey AS custkey FROM orders) e
        ORDER BY custkey""")
    }),

    "q10_event_sessions" -> ((s, d) => {
      // library operator (window-function sessionization, gap 30 min)
      Sessions.sessionStats(events(s, d), gapMinutes = 30)
        .select(col("user_id"), col("session_seq"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    "q11_orders_by_month" -> ((s, d) => {
      prep(s, d, "orders")
      s.sql("""
        SELECT unix_micros(date_trunc('month', o_orderdate)) AS month_us,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders GROUP BY 1 ORDER BY 1""")
    }),

    // ------------------- spatial surface (SURVEY §2.1) -------------------

    "q12_st_astext_points" -> ((s, d) => {
      prep(s, d, "customer")
      s.sql("""
        SELECT c_custkey,
               ST_AsText(ST_Point(c_acctbal, CAST(c_nationkey AS DOUBLE))) AS wkt
        FROM customer ORDER BY c_custkey""")
    }),

    "q13_st_extent" -> ((s, d) => {
      prep(s, d, "lineitem")
      t(s, d, "lineitem")
        .agg(G.st_extent(G.st_point(col("l_extendedprice"), col("l_quantity"))).as("e"))
        .select(col("e.xmin").as("xmin"), col("e.ymin").as("ymin"),
          col("e.xmax").as("xmax"), col("e.ymax").as("ymax"))
    }),

    "q14_st_envelope_area" -> ((s, d) => {
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_orderkey,
               ST_Area(ST_MakeEnvelope(min(l_extendedprice), min(l_quantity),
                                       max(l_extendedprice), max(l_quantity))) AS area
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")
    }),

    "q15_st_contains_filter" -> ((s, d) => {
      prep(s, d, "customer")
      s.sql("""
        SELECT c_nationkey, count(*) AS n_inside
        FROM customer
        WHERE ST_Contains(
                ST_GeomFromText('POLYGON ((1000 2, 8000 2, 8000 20, 1000 20, 1000 2))'),
                ST_Point(c_acctbal, CAST(c_nationkey AS DOUBLE)))
        GROUP BY c_nationkey ORDER BY c_nationkey""")
    }),

    "q16_spatial_join" -> ((s, d) => {
      prep(s, d, "customer", "supplier")
      // bbox per market segment from customer points; suppliers within bbox
      // → broadcast the 5-row bbox dim side (spatial predicate join)
      s.sql("""
        SELECT /*+ BROADCAST(b) */ b.c_mktsegment, count(*) AS n_supp
        FROM (
          SELECT c_mktsegment,
                 ST_MakeEnvelope(min(c_acctbal), CAST(min(c_nationkey) AS DOUBLE),
                                 max(c_acctbal), CAST(max(c_nationkey) AS DOUBLE)) AS bbox
          FROM customer GROUP BY c_mktsegment) b
        JOIN supplier sp
          ON ST_Contains(b.bbox, ST_Point(sp.s_acctbal, CAST(sp.s_nationkey AS DOUBLE)))
        GROUP BY b.c_mktsegment ORDER BY b.c_mktsegment""")
    }),

    "q17_st_distance" -> ((s, d) => {
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               ST_Distance(ST_Point(l_extendedprice, l_quantity),
                           ST_Point(0.0D, 0.0D)) AS dist
        FROM lineitem ORDER BY l_orderkey, l_linenumber""")
    }),

    "q18_st_geometrytype" -> ((s, d) => {
      prep(s, d, "orders")
      s.sql("""
        SELECT ST_GeometryType(ST_GeomFromText(
                 CASE WHEN o_orderkey % 3 = 0 THEN 'POINT (1 2)'
                      WHEN o_orderkey % 3 = 1 THEN 'LINESTRING (0 0, 1 1)'
                      ELSE 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))' END)) AS gtype,
               count(*) AS n
        FROM orders GROUP BY 1 ORDER BY 1""")
    }),

    "q19_st_hull_centroid" -> ((s, d) => {
      // convex hull per order's REAL point cloud, hash-matched against a
      // pure-SQL hull oracle (see the q19 oracle entry): the hull vertex
      // set has a declarative characterization for the ≤7-point groups
      // here, and the ring order (CCW from the lexicographic-min vertex —
      // the monotone chain's output) is reconstructed by angular sort
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_orderkey,
               ST_AsText(ST_ConvexHull(st_collect(ST_Point(l_extendedprice, l_quantity)))) AS hull,
               CAST(ST_NPoints(ST_ConvexHull(st_collect(ST_Point(l_extendedprice, l_quantity)))) AS BIGINT) AS hull_pts
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")
    }),

    "q47_hull_rect_oracle" -> ((s, d) => {
      // convex hull with an analytically known answer: per nation, a point
      // cloud of the four corners of the (n+1)×(n+1) square (products K·0
      // and K·1 are IEEE-exact) plus strictly interior customer-derived fill
      // (coords in [0.25K, 0.745K], ≥ 0.255K from every edge) ⇒ hull = the
      // square, serialized CCW from the lexicographic min vertex — a string
      // DuckDB can emit as a constant. First hash-matched hull coverage
      // (q19 stays rows-only: no spatial oracle available for real clouds).
      prep(s, d, "nation", "customer")
      s.sql("""
        WITH corners AS (
          SELECT n_nationkey AS k,
                 CAST(n_nationkey + 1 AS DOUBLE) * ux AS px,
                 CAST(n_nationkey + 1 AS DOUBLE) * uy AS py
          FROM nation
          LATERAL VIEW explode(array(0.0D, 1.0D)) tx AS ux
          LATERAL VIEW explode(array(0.0D, 1.0D)) ty AS uy),
        interior AS (
          SELECT c_nationkey AS k,
                 CAST(c_nationkey + 1 AS DOUBLE)
                   * (0.25D + 0.005D * CAST(c_custkey % 100 AS DOUBLE)) AS px,
                 CAST(c_nationkey + 1 AS DOUBLE)
                   * (0.25D + 0.005D * CAST(c_custkey % 97 AS DOUBLE)) AS py
          FROM customer),
        allpts AS (SELECT * FROM corners UNION ALL SELECT * FROM interior)
        SELECT k,
               ST_AsText(ST_ConvexHull(st_collect(ST_Point(px, py)))) AS hull,
               CAST(ST_NPoints(ST_ConvexHull(st_collect(ST_Point(px, py)))) AS BIGINT) AS hull_pts
        FROM allpts GROUP BY k ORDER BY k""")
    }),

    "q48_geojson_roundtrip" -> ((s, d) => {
      // GeoJSON input face: build JSON from columns, parse, serialize —
      // the oracle emits the equivalent WKT constants
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               ST_AsText(ST_GeomFromGeoJSON(CASE WHEN n_nationkey % 2 = 0
                 THEN concat('{"type":"Point","coordinates":[',
                             CAST(n_nationkey AS STRING), ',',
                             CAST(n_regionkey AS STRING), ']}')
                 ELSE concat('{"type":"LineString","coordinates":[[0,0],[',
                             CAST(n_nationkey AS STRING), ',2]]}')
                 END)) AS wkt,
               ST_GeomFromGeoJSON('{bad json') IS NULL AS bad_is_null
        FROM nation ORDER BY n_nationkey""")
    }),

    "q49_hash_split" -> ((s, d) => {
      // deterministic train/val/test split: pure function of the key
      // (md5 bucket), stable across runs/layouts — both engines recompute
      // identical assignments
      prep(s, d, "documents")
      Sampling.hashSplit(t(s, d, "documents"), "doc_id",
          Seq(("train", 8000), ("val", 1000), ("test", 1000)))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    "q50_sequence_packing" -> ((s, d) => {
      // stream-offset packing: per-shard token stream cut into 512-token
      // chunks; each doc keyed by its starting chunk + offset
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"),
        (col("doc_id") % 8).as("shard"),
        Text.tokenCount(col("text")).as("toks"))
      Sampling.packSequences(docs, "shard", "doc_id", "toks", 512)
        .select(col("doc_id"), col("pack_offset"), col("pack_id"))
        .orderBy("doc_id")
    }),

    "q51_token_percentiles" -> ((s, d) => {
      // exact grouped percentiles of the token-length distribution (corpus
      // monitoring); Spark `percentile` and DuckDB `quantile_cont` share
      // the type-7 linear interpolation definition — rounded to 4dp to
      // absorb last-ulp expression-tree differences
      prep(s, d, "documents")
      t(s, d, "documents")
        .select((col("doc_id") % 4).as("grp"),
          Text.tokenCount(col("text")).cast("double").as("toks"))
        .groupBy("grp")
        .agg(expr("percentile(toks, array(0.1D, 0.25D, 0.5D, 0.75D, 0.9D))").as("qs"))
        .select(col("grp"), posexplode(col("qs")).as(Seq("i", "v")))
        .select(col("grp"), (col("i") + 1).cast("int").as("idx"),
          round(col("v"), 4).as("v"))
        .orderBy("grp", "idx")
    }),

    "q52_bm25_scores" -> ((s, d) => {
      // BM25 retrieval scores for a fixed term set — relevance-based
      // quality filtering; formula reproduced exactly by the oracle
      // (4dp rounding absorbs cross-engine ln/avg last-ulp noise)
      prep(s, d, "documents")
      Text.bm25(t(s, d, "documents"), "text", "doc_id",
          Seq("join", "hash", "filter"))
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          round(col("bm25"), 4).as("score"))
        .orderBy("doc_id", "term")
    }),

    // ------------- LLM-pipeline operators (SURVEY §7.6) ------------------

    "q20_doc_stats" -> ((s, d) => {
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
          Text.charCount(col("text")).cast("long").as("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("n_tokens"),
          Text.alphaRatio(col("text")).as("alpha_ratio"),
          Text.avgWordLen(col("text")).as("avg_word_len"))
        .orderBy("doc_id")
    }),

    "q21_dedup_exact" -> ((s, d) => {
      prep(s, d, "documents")
      Dedup.exactDuplicateGroups(t(s, d, "documents"), "text", "doc_id")
        .orderBy("content_key")
    }),

    "q22_quality_filter" -> ((s, d) => {
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .filter(col("quality") > 0.5)
        .orderBy("doc_id")
    }),

    "q23_lang_id" -> ((s, d) => {
      // heuristic language ID, hash-matched against a full SQL mirror of the
      // Latin-script stopword-voting path: the corpus is pure-ASCII (checked
      // per sf), so tokenize ≡ lower + split on [^a-z0-9]+ and the script-
      // histogram branches never fire — DuckDB recomputes the 7 profile hit
      // counts, the first-max-wins argmax, and the bestHits·20 ≥ nTokens
      // density rule exactly. (The non-Latin script branches are covered by
      // planted multi-script fixtures in PipelineSpec.)
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    "q24_fingerprint_minhash" -> ((s, d) => {
      // content sketches, hash-matched against full SQL mirrors of the
      // fnv1a64 → fingerprint64/simhash64 kernels (HUGEINT mod-2^64
      // arithmetic in DuckDB — every 64-bit value certified exactly)
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
          Text.fingerprint64(col("text")).as("fp64"),
          Text.simhash64(col("text")).as("sh64"))
        .orderBy("doc_id")
    }),

    "q25_minhash_neardup" -> ((s, d) => {
      // the real near-dup pipeline: MinHash-LSH candidates → exact n-gram
      // Jaccard verify ≥ 0.8, hash-matched against the quadratic DuckDB
      // oracle. Sound because LSH recall at the fixture's similarities
      // (every qualifying pair sits at j ≥ 0.85; nothing natural between
      // 0.04 and 0.85) is 1 — verified per sf, miss probability < 1e-5/pair.
      prep(s, d, "documents")
      // hotBucketBound pinned OFF: this query certifies (and stays
      // bench-comparable on) the exact distinct-free unguarded plan; the
      // library DEFAULT is the self-tuning guard, certified by
      // q86_neardup_autoguard on the same oracle
      Dedup.nearDuplicatePairs(t(s, d, "documents"), "text", "doc_id",
          threshold = 0.8, hotBucketBound = Int.MaxValue)
        .orderBy("id_a", "id_b")
    }),

    "q53_minhash_sig" -> ((s, d) => {
      // the raw MinHash signature, all 64 permutations exploded — certified
      // value-exactly against the DuckDB mulmod mirror (see oracle)
      prep(s, d, "documents")
      t(s, d, "documents")
        .select(col("doc_id"),
          posexplode(Text.minhash(col("text"), 64, 3)).as(Seq("perm", "sigval")))
        .select(col("doc_id"), col("perm").cast("long").as("perm"), col("sigval"))
        .orderBy("doc_id", "perm")
    }),

    "q54_curate" -> ((s, d) => {
      // the END-TO-END curation pipeline (exact dedup → LSH near-dup removal
      // → quality + language gate → deterministic split → shard → pack),
      // certified as ONE composed flow against a DuckDB CTE chain that
      // recomputes every stage. Config chosen so each stage is oracle-
      // expressible: τ=0.8 (LSH recall 1 on this fixture, like q25),
      // lang gate via the q23 SQL mirror, md5 split/shard, 512-token packs.
      prep(s, d, "documents")
      Curate.curate(t(s, d, "documents"), "doc_id", "text",
          Curate.Config(minQuality = 0.5, langs = Seq("en"),
            nearDupJaccard = 0.8,
            splits = Seq(("train", 8000), ("val", 1000), ("test", 1000)),
            packTokens = 512, shards = 8,
            hotBucketBound = Int.MaxValue)) // pinned OFF — see q25/q86 note
        .select(col("doc_id"), col("quality"), col("lang"), col("split"),
          col("shard").cast("long").as("shard"), col("toks").cast("long").as("toks"),
          col("pack_offset"), col("pack_id"))
        .orderBy("doc_id")
    }),

    "q55_langid_scripts" -> ((s, d) => {
      // non-Latin script coverage for language ID (closes the r4 gap "q23's
      // oracle is valid only because the corpus is ASCII"): deterministic
      // multi-script documents constructed from customer keys — the SAME
      // expression both engines can build — staying inside the BMP so the
      // engine's per-UTF-16-char script histogram equals DuckDB's
      // per-codepoint \p{Script} counts. The arithmetic plants both sides
      // of every threshold: the kana-vs-han ja/zh boundary (4·kana vs han),
      // Cyrillic/Arabic density above and below 1/2 (falling through to
      // Latin voting), pure-script rows, stopword voting, letterless und.
      prep(s, d, "customer")
      val text = expr("""CASE
          WHEN c_custkey % 8 = 0 THEN repeat('漢', CAST(c_custkey % 50 + 1 AS INT))
          WHEN c_custkey % 8 = 1 THEN repeat('あ', CAST(c_custkey % 5 + 1 AS INT)) ||
                                      repeat('漢', CAST(c_custkey % 7 AS INT))
          WHEN c_custkey % 8 = 2 THEN repeat('한', CAST(c_custkey % 30 + 1 AS INT))
          WHEN c_custkey % 8 = 3 THEN repeat('д', CAST(c_custkey % 5 + 1 AS INT)) ||
                                      repeat('x', CAST(c_custkey % 7 AS INT))
          WHEN c_custkey % 8 = 4 THEN repeat('ع', CAST(c_custkey % 5 + 1 AS INT)) || ' ' ||
                                      repeat('b', CAST(c_custkey % 7 AS INT))
          WHEN c_custkey % 8 = 5 THEN repeat('द', CAST(c_custkey % 20 + 1 AS INT))
          WHEN c_custkey % 8 = 6 THEN 'the of and to in is that for it as ' ||
                                      repeat('z', CAST(c_custkey % 4 AS INT))
          ELSE repeat('7', CAST(c_custkey % 9 + 1 AS INT))
        END""")
      t(s, d, "customer")
        .select(col("c_custkey"), Text.langId(text).as("lang"))
        .orderBy("c_custkey")
    }),

    "q56_dup_clusters" -> ((s, d) => {
      // near-duplicate CLUSTERS: connected components over the verified
      // pair graph (LSH candidates → exact Jaccard ≥ 0.8, the q25 edge
      // set, whose completeness is established there), labels = component
      // minimum. The oracle recomputes true components from the quadratic
      // pair set with a recursive CTE, so the fixed-round propagation is
      // certified exact on this corpus (planted groups are near-cliques).
      prep(s, d, "documents")
      Dedup.nearDuplicateClusters(t(s, d, "documents"), "text", "doc_id",
          threshold = 0.8, hotBucketBound = Int.MaxValue) // pinned OFF — see q25/q86 note
        .select(col("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    }),

    "q57_rollup_agg" -> ((s, d) => {
      // multi-level aggregation: GROUP BY ROLLUP with grouping() markers
      // (Catalyst expands to one Expand + single hash aggregate — one
      // shuffle for all three levels, not a UNION of re-scans). Keys are
      // coalesced to 'ALL' so neither engine's NULL sort order matters.
      prep(s, d, "lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
               sum(l_quantity) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        ORDER BY rf, ls""")
    }),

    "q58_pivot_wide" -> ((s, d) => {
      // pivot: long → wide with an explicit value list (no extra
      // value-discovery job, stable output schema at any scale); money
      // sums go through DECIMAL per the oracle-parity rule
      prep(s, d, "orders")
      t(s, d, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"))
        .orderBy("o_orderpriority")
    }),

    "q59_stratified_sample" -> ((s, d) => {
      // deterministic stratified sampling: per-segment md5-bucket rates —
      // a pure filter (no shuffle), reproduced exactly by the oracle
      prep(s, d, "customer")
      Sampling.stratifiedSampleHash(t(s, d, "customer"), "c_custkey",
          "c_mktsegment",
          Seq("AUTOMOBILE" -> 2000, "BUILDING" -> 1000, "FURNITURE" -> 500,
              "HOUSEHOLD" -> 1500),
          defaultBp = 250)
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey")
    }),

    "q60_quantize_int8" -> ((s, d) => {
      // symmetric int8 embedding quantization (ANN storage at 100 TB):
      // scale projected ONCE, then a codegen'd per-element transform;
      // exploded so the oracle certifies every quantized value
      prep(s, d, "embeddings")
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Similarity.quantScale(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          posexplode(Similarity.quantizeInt8(col("embedding"), col("scale")))
            .as(Seq("pos", "qval")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("qval"), col("scale"))
        .orderBy("vec_id", "pos")
    }),

    "q61_asof_forward" -> ((s, d) => {
      // forward as-of join: for each click, the user's EARLIEST at-or-after
      // purchase (next-state lookup; DuckDB ASOF with c.ts <= p.ts is the
      // oracle) — same one-shuffle union+window plan as q34, reversed order
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id")) // unique (user, ts)
      graft.pipeline.AsOf.join(clicks, purchases, Seq("user_id"), "ts",
          direction = "forward")
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id")
    }),

    "q62_window_suite" -> ((s, d) => {
      // the navigation/distribution window surface: lag/lead/ntile/
      // percent_rank/cume_dist/first_value over one deterministic
      // (ts, event_id) order — a single Window operator, one shuffle
      events(s, d).createOrReplaceTempView("events_us")
      s.sql("""
        SELECT user_id, event_id,
               lag(event_id) OVER w AS prev_id,
               lead(event_id) OVER w AS next_id,
               CAST(ntile(4) OVER w AS BIGINT) AS quartile,
               percent_rank() OVER w AS pct_rank,
               cume_dist() OVER w AS cume,
               first_value(event_id) OVER w AS first_id
        FROM events_us
        WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts), event_id)
        ORDER BY user_id, event_id""")
    }),

    "q95_pq_encode" -> ((s, d) => {
      // product-quantization encode certified end-to-end: codebook = the
      // 16 vectors with smallest (md5(vec_id), vec_id) — PORTABLE ordering
      // the oracle reproduces — and each embedding compresses to 4 codes
      // (argmin L2^2 per 16-dim subspace, double arithmetic, ties to the
      // smallest code). The oracle recomputes every distance and argmin
      // from first principles, so all 4 codes of all vectors hash-match.
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", k = 16)
      Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4)
        .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
        .orderBy("vec_id", "sub")
    }),

    "q96_pq_adc_topk" -> ((s, d) => {
      // the ANN serving read path certified end-to-end: ADC top-10 per
      // query over the PQ-compressed corpus (q95's codebook + codes) —
      // each query builds its m×k sub-distance table once, every
      // compressed row is scored with m array lookups. Ranking happens on
      // the ROUNDED distance with a neighbor-id tie-break: duplicate
      // vectors share PQ codes, so their ADC distances are equal up to
      // summation order, and DuckDB's parallel hash aggregate sums the m
      // terms in a different order run to run — ranking raw doubles made
      // the oracle itself nondeterministic (observed: ranks 9/10
      // swapping). Rounding to 4dp collapses the ulp noise on BOTH
      // engines before the id tie-break; the raw top-15 over-fetch keeps
      // the re-ranked top-10 safely inside the candidate set.
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val cb = Similarity.pqCodebook(emb, "vec_id", "embedding", k = 16)
      val enc = Similarity.pqEncode(emb, cb, "vec_id", "embedding", m = 4)
      val raw = Similarity.pqTopKAdc(enc, cb, queries, "vec_id", "embedding",
          m = 4, k = 15)
        .select(col("query_id"), col("neighbor_id"),
          round(col("dist"), 4).as("dist"))
      GroupedTopK.topK(raw, Seq("query_id"),
          Seq(("dist", true), ("neighbor_id", true)), 10, "rank")
        .select(col("query_id"), col("neighbor_id"), col("dist"), col("rank"))
        .orderBy("query_id", "rank")
    }),

    "q97_try_surface" -> ((s, d) => {
      // error-safe arithmetic/cast surface: a 100 TB ingest can't abort on
      // one malformed row, so try_* must degrade to NULL exactly where the
      // ANSI form would raise — bad casts, zero divisors, bigint overflow,
      // out-of-range element access, unparseable timestamps. The oracle
      // mirrors each NULL site from first principles (TRY_CAST / nullif /
      // closed-form NULL columns).
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               try_cast(concat(l_returnflag, l_orderkey) AS INT) AS bad_cast,
               try_cast(cast(l_orderkey AS STRING) AS INT) AS good_cast,
               try_divide(cast(l_extendedprice AS DOUBLE),
                          cast(l_quantity AS DOUBLE) - 5.0) AS div_gap,
               try_add(9223372036854775807, l_orderkey) AS add_ovf,
               try_element_at(array(l_returnflag, l_linestatus), 5) AS oob,
               CAST(try_to_timestamp(concat('x', l_shipdate)) AS STRING) AS bad_ts
        FROM lineitem WHERE l_orderkey < 200
        ORDER BY l_orderkey, l_linenumber""")
    }),

    "q99_doc_chunking" -> ((s, d) => {
      // overlapping word-window chunking (window 40, overlap 10 — sized
      // so the fixture's 10-99-word docs split into 1-4 chunks):
      // over-long documents become model-sized pieces, chunk text
      // byte-identical across engines via canonical single-space rejoin.
      // The oracle rebuilds every chunk from the same word list with a
      // bounded non-correlated series join (no lateral in DuckDB).
      prep(s, d, "documents")
      Text.chunkByWords(t(s, d, "documents"), "doc_id", "text",
          window = 40, overlap = 10)
        .orderBy("doc_id", "chunk_idx")
    }),

    "q104_nb_classifier" -> ((s, d) => {
      // train AND score a multinomial Naive Bayes language classifier
      // in one plan — the closed-form stand-in for the fastText-style
      // quality/language filter every curation pipeline runs. Laplace
      // (+1) smoothing; natural-log scores. Scale shape: the model
      // ((class,word) log-likelihoods, priors) is dimension-sized →
      // broadcast to the scoring join; the corpus only moves through
      // partial-aggregated (doc,word)/(class,word) counts; argmax per
      // doc via BoundedTopK (no window). The winning class's score
      // margin over the runner-up is ≥ 3e-4 on this corpus (measured),
      // orders of magnitude above cross-engine libm noise, so the
      // argmax is engine-stable; scores themselves compare at 4dp.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val words = docs.select(col("doc_id"), col("lang"),
        explode(filter(split(trim(col("text")), "\\s+"), w => w =!= "")).as("w"))
      // every model statistic derives from the ONE corpus-wide (class,
      // word) count: wtot/vocab/classes re-aggregate the dim-sized cnts
      // frame, whose identical shuffle subtree is ReuseExchange'd — the
      // corpus contributes a single scan+shuffle to the whole model build
      // (a class present only via wordless docs drops at the wtot join in
      // both engines, so deriving classes from cnts is equivalent)
      val cnts = words.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      val wtot = cnts.groupBy("lang").agg(sum(col("c")).as("wc"))
      val vocab = cnts.select("w").distinct().agg(count(lit(1)).as("v"))
      val lik = cnts.select("lang").distinct()
        .crossJoin(cnts.select("w").distinct())
        .join(wtot, "lang").crossJoin(broadcast(vocab))
        .join(cnts, Seq("lang", "w"), "left")
        .select(col("lang"), col("w"),
          log((coalesce(col("c"), lit(0L)) + lit(1.0)) /
            (col("wc") + col("v"))).as("ll"))
      val total = docs.agg(count(lit(1)).as("n_total"))
      val priors = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .crossJoin(broadcast(total))
        .select(col("lang"),
          log(col("n_docs").cast("double") / col("n_total")).as("lp"))
      val scored = words.groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
        .join(broadcast(lik), "w")
        .groupBy("doc_id", "lang").agg(sum(col("n") * col("ll")).as("sw"))
        .join(broadcast(priors), "lang")
        .select(col("doc_id"), col("lang"), (col("lp") + col("sw")).as("s"))
      GroupedTopK.topK(scored, Seq("doc_id"), Seq(("s", false), ("lang", true)), 1)
        .select(col("doc_id"), col("lang").as("pred_lang"),
          round(col("s"), 4).as("score"))
        .orderBy("doc_id")
    }),

    "q105_html_strip" -> ((s, d) => {
      // WET-style HTML text extraction: markup synthesized
      // deterministically around each document (style block, comment,
      // attributed tags, a script body containing '<', entity-escaped
      // text), then stripped back to clean text with Text.stripHtml.
      // Both engines run the same injected Java∩RE2 regex/replace chain,
      // so the hash certifies block removal order, entity decode order
      // (&amp; last), and whitespace collapse end-to-end (q68/q75
      // precedent).
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val html = concat(
        lit("<html><head><style type=\"text/css\">body { color: #333; }" +
          "</style></head><body><h1 class=\"t\">Doc "), col("doc_id"),
        lit("</h1><!-- trail "), col("doc_id"),
        lit(" --><p>"), col("text"),
        lit("</p><script>if (1 < 2) { emit(\"x\"); }</script>" +
          "<p>Tom &amp; Jerry &lt;3 &quot;q&quot; it&#39;s&nbsp;done</p>" +
          "</body></html>"))
      docs.select(col("doc_id"), Text.stripHtml(html).as("clean_text"))
        .withColumn("clean_len", length(col("clean_text")).cast("long"))
        .orderBy("doc_id")
    }),

    "q106_nfc_normalize" -> ((s, d) => {
      // Unicode NFC normalization certified cross-engine: the JDK
      // Normalizer (Spark side) against DuckDB's utf8proc — two
      // independent implementations of UAX#15. Decomposed sequences
      // (e+U+0301, A+U+030A), already-composed corpus text, and a
      // compatibility ligature (U+FB01, which NFC must PRESERVE, not
      // decompose) are planted around every document; the hash certifies
      // composition, non-decomposition, and code-point length accounting.
      // Normalize-before-hash is the dedup prerequisite: byte-keyed
      // operators miss duplicates that differ only in composition form.
      prep(s, d, "documents")
      t(s, d, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" Cafe\u0301 A\u030A \uFB01n")).as("raw"))
        .select(col("doc_id"),
          Text.nfcNormalize(col("raw")).as("text_nfc"),
          length(col("raw")).cast("long").as("len_raw"),
          length(Text.nfcNormalize(col("raw"))).cast("long").as("len_nfc"))
        .withColumn("composed", col("len_nfc") < col("len_raw"))
        .orderBy("doc_id")
    }),

    "q107_kmeans_clusters" -> ((s, d) => {
      // spherical k-means (k=8, TWO Lloyd rounds, engine-portable md5
      // init) trained IN the engine, then the final assignment summarized
      // per cluster. The oracle replays the identical trajectory in
      // DuckDB — init ordering, cosine argmax with lowest-cid tie-break,
      // element-wise mean update, empty-cluster carry-over — as textually
      // unrolled rounds, so the hash certifies the whole training run,
      // not one step. Float-drift audit (tools/KmeansMargin): the mean's
      // summation order is the only cross-engine nondeterminism (~1e-13);
      // measured best-vs-second margins per round are 6.7e-5 / 2.8e-4 /
      // 4.2e-4 — the integer output is stable by ~8 orders of magnitude.
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val cents = Clustering.kmeansFit(emb, "vec_id", "embedding", 8, 2)
      Clustering.kmeansAssign(emb, cents, "vec_id", "embedding")
        .groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("neighbor_id")).as("min_id"),
          max(col("neighbor_id")).as("max_id"))
        .select(col("list_id").as("cluster_id"),
          col("n_members"), col("min_id"), col("max_id"))
        .orderBy("cluster_id")
    }),

    "q108_semantic_dedup" -> ((s, d) => {
      // SemDeDup end-to-end: k-means clusters bound the pairwise cosine
      // pass; a vector drops when a smaller-id cluster-mate has cos ≥ 0.9.
      // The q27 fixture guarantees recall inside clusters: planted
      // exact-direction duplicates have IDENTICAL cosines to every
      // centroid, so the argmax + lowest-cid tie-break lands both members
      // on the same list, and the max natural pairwise cosine (≈0.51)
      // keeps τ=0.9 margin enormous. The oracle replays the whole
      // trajectory (q107's unrolled Lloyd rounds) plus the within-cluster
      // pair filter — pair cosines are raw-vector sequential arithmetic,
      // bit-identical cross-engine.
      prep(s, d, "embeddings")
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Clustering.semanticDedup(base.unionByName(planted), "vec_id", "embedding",
          k = 8, iters = 2, tau = 0.9)
        .orderBy("id")
    }),

    "q109_dsir_weights" -> ((s, d) => {
      // DSIR importance weights: target = the English slice, raw = the
      // whole corpus, hashed-unigram features (B=1024, md5 buckets —
      // engine-portable). Exact integer counts; ln is the only inexact
      // step (≤1-ulp libm drift) and the per-doc sum's order dependence
      // is ~1e-13 — both absorbed by the 4dp rounding (q79 precedent).
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      Sampling.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
          "doc_id", "text", buckets = 1024)
        .select(col("doc_id"), col("n_tokens"),
          round(col("log_weight"), 4).as("log_weight"))
        .orderBy("doc_id")
    }),

    "q110_gopher_repetition" -> ((s, d) => {
      // Gopher repetition filters: top-2-gram char fraction + duplicate-
      // 3-gram char fraction per document. Character masses are exact
      // integer sums; each fraction is ONE IEEE division — no rounding
      // needed (q67 precedent). Shingles use the unfiltered
      // split(trim, \s+) stream, mirrored exactly by the oracle.
      prep(s, d, "documents")
      Text.ngramRepetitionStats(t(s, d, "documents"), "text", "doc_id")
        .orderBy("doc_id")
    }),

    "q111_pagerank" -> ((s, d) => {
      // PageRank (3 unrolled power iterations, d=0.85) over the
      // symmetrized customer–supplier co-purchase graph — the provenance-
      // authority move on a domain/link graph. Undirected input ⇒ no
      // dangling mass ⇒ Σ rank ≡ 1. The oracle replays the identical
      // trajectory (uniform init, per-edge r/outdeg, damped in-mass sum);
      // 10dp rounding absorbs the per-node sum's ~1e-16 order drift
      // (q107 trajectory-certification precedent).
      prep(s, d, "orders", "lineitem")
      val pairs = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("c"),
          concat(lit("s"), col("l_suppkey")).as("s2"))
        .distinct()
      val edges = pairs.select(col("c").as("src"), col("s2").as("dst"))
        .unionByName(pairs.select(col("s2").as("src"), col("c").as("dst")))
      Graph.pageRank(edges, "src", "dst", iters = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    "q112_funnel" -> ((s, d) => {
      // ordered first-completion funnel view → click → purchase: chained
      // conditional minima (each stage = filter + join on the shrinking
      // per-user frame + partial-aggregated min), no Window, no event-
      // list materialization. Timestamps compare as unix_micros BIGINT
      // (q10/q62 precedent).
      Sessions.funnel(events(s, d), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"))
        .select(col("user_id"), col("stage"),
          unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"),
          unix_micros(col("t3")).as("t3_us"))
        .orderBy("user_id")
    }),

    "q113_weighted_sample" -> ((s, d) => {
      // Efraimidis-Spirakis weighted sampling without replacement,
      // md5-derandomized: top-100 documents by ln(u)/n_chars. Global
      // top-k via TakeOrderedAndProject (per-partition top-m, no sort,
      // no Window). Output is int-only; the rank ORDER is the certified
      // artifact — measured adjacent-key gaps (≥4e-9 at sf0.01) sit ~10
      // orders above the ≤1-ulp ln drift.
      prep(s, d, "documents")
      Sampling.weightedKey(t(s, d, "documents"), "doc_id", "n_chars")
        .orderBy(desc("__wkey"), asc("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("n_chars"))
    }),

    "q114_vocab_oov" -> ((s, d) => {
      // per-doc OOV rate against the corpus top-1000 vocabulary
      // (count desc, word asc — a deterministic boundary). The rate is
      // one exact integer division — no rounding.
      prep(s, d, "documents")
      Text.vocabOovRate(t(s, d, "documents"), "text", "doc_id", 1000)
        .orderBy("doc_id")
    }),

    "q115_word_entropy" -> ((s, d) => {
      // per-doc word-distribution entropy (lexical diversity);
      // 4dp absorbs ln drift + sum order (q79 precedent)
      prep(s, d, "documents")
      Text.wordEntropy(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), col("n_tokens"),
          round(col("entropy"), 4).as("entropy"))
        .orderBy("doc_id")
    }),

    "q117_regression_surface" -> ((s, d) => {
      // linear-regression aggregate surface: regr_slope/intercept/r2/
      // count + corr over (quantity → price) per return flag. 4dp absorbs
      // the engines' different single-pass moment algorithms (~1e-10
      // relative on 60k-row sums)
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
               round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
               round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
               round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
               round(corr(l_extendedprice, l_quantity), 4) AS c
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    "q118_gaps_islands" -> ((s, d) => {
      // gaps-and-islands over event DAYS per user (activity-streak
      // analytics): island key = epoch-day − dense row number; exact
      // integer arithmetic end to end
      events(s, d).createOrReplaceTempView("events")
      s.sql("""
        WITH days AS (
          SELECT DISTINCT user_id,
                 unix_micros(ts) DIV 86400000000 AS day
          FROM events),
        isl AS (
          SELECT user_id, day,
                 day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                   AS grp
          FROM days),
        streaks AS (
          SELECT user_id, grp, count(*) AS len
          FROM isl GROUP BY user_id, grp)
        SELECT user_id, count(*) AS n_islands, max(len) AS longest,
               CAST(sum(len) AS BIGINT) AS active_days
        FROM streaks GROUP BY user_id ORDER BY user_id""")
    }),

    "q119_fuzzy_join" -> ((s, d) => {
      // fuzzy self-join at edit distance ≤ 1 over part names: SymSpell
      // deletion-neighborhood blocking (recall 1 by construction) + exact
      // levenshtein verify. Runs the GUARDED DEFAULT (AutoBound): since
      // round 11 the self-tuned bound is an EXACT percentile
      // (Dedup.occupancyBoundFrame), so the oracle recomputes the
      // identical bound in SQL and replays the star-vs-all-pairs rule —
      // the operator default is certified, not a pinned variant. (Rounds
      // ≤ 10 pinned hotStringBound = Int.MaxValue for bench
      // comparability — series break noted in BENCH_SF1.md; the planted
      // hot-cluster face stays q201.) On this fixture no natural name
      // group exceeds the bound, so the output equals the historical
      // unguarded rows — but the oracle derives that, never assumes it.
      prep(s, d, "part")
      Dedup.fuzzyPairsEd1(t(s, d, "part"), "p_partkey", "p_name")
        .orderBy("id_a", "id_b")
    }),

    "q120_triangles" -> ((s, d) => {
      // per-node triangle counts over the part co-order graph (parts
      // appearing in the same order): compact-forward — orient each edge
      // to the (degree, id)-larger endpoint so wedge generation is
      // bounded by the ~√m out-degree cap even at celebrity nodes, then
      // close wedges against the canonical edge set. The oracle counts
      // the same triangles by a DIFFERENT algorithm (a<b<c three-way
      // join), so the compare certifies the orientation trick, not just
      // replays it. Counts are exact integers.
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem")
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_a"))
      val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_b"))
      val pairs = a.join(b, "ok").filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      Graph.triangleCounts(pairs).orderBy("node")
    }),

    "q121_scd2_apply" -> ((s, d) => {
      // SCD-type-2 MERGE: apply the order-derived segment-change stream
      // to the customer dimension (seeded open at 1990-01-01). Change
      // suppression + interval chaining run over batch-sized window
      // frames; closed history and untouched keys never shuffle. The
      // oracle replays the same definition in SQL windows; dates and
      // strings compare exactly.
      prep(s, d, "customer", "orders")
      val cur = t(s, d, "customer").select(col("c_custkey"),
        col("c_mktsegment").as("seg"),
        to_date(lit("1990-01-01")).as("valid_from"),
        lit(null).cast("date").as("valid_to"))
      val ups = t(s, d, "orders")
        .groupBy(col("o_custkey").as("c_custkey"),
          to_date(col("o_orderdate")).as("ts"))
        .agg(min(col("o_orderpriority")).as("seg"))
      Materialize.scd2Apply(cur, ups, "c_custkey", Seq("seg"), "ts")
        // dates ride the compare as ISO strings (pandas represents Spark
        // DATE as object and DuckDB DATE as datetime64 — a dtype-level
        // false mismatch)
        .select(col("c_custkey"), col("seg"),
          date_format(col("valid_from"), "yyyy-MM-dd").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd").as("valid_to"))
        .orderBy("c_custkey", "valid_from")
    }),

    "q122_rrf_fusion" -> ((s, d) => {
      // hybrid retrieval: reciprocal-rank fusion of the cosine top-20 and
      // the euclidean top-20 per query (the BM25+dense pattern on shared
      // test vectors). Both rankings run the bounded top-k aggregate (no
      // Window); fusion is one partial-aggregated groupBy. RRF terms
      // 1/(60+rank) are single IEEE divisions and the ≤2-term sum is
      // commutative, so fused scores compare UNROUNDED.
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val q = emb.filter(col("vec_id") < 10)
      val cos = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 20)
      val euc = Similarity.bruteForceTopKEuclidean(emb, q, "vec_id", "embedding", 20)
      Similarity.rrfFuse(Seq(cos, euc), k0 = 60, topK = 10)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"), col("rrf"), col("n_systems"))
        .orderBy("query_id", "rank")
    }),

    "q123_robust_outliers" -> ((s, d) => {
      // robust per-nation account-balance outliers: median/MAD z-score
      // (the monitoring rule the outliers can't drag, unlike mean/σ).
      // Exact type-7 medians match quantile_cont bit-for-bit (q51
      // precedent) and the z division replays term-for-term, so z
      // compares UNROUNDED; MAD=0 groups yield NULL z by contract.
      prep(s, d, "customer")
      Stats.robustOutliers(
          t(s, d, "customer")
            .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
          Seq("c_nationkey"), "c_acctbal", threshold = 3.0)
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
          col("z"), col("is_outlier"))
        .orderBy("c_custkey")
    }),

    "q124_shared_spans" -> ((s, d) => {
      // repeated-long-span pairs (exact-substring dedup at 64-char/
      // stride-32 window granularity): md5 window keys, (doc, hash)
      // deduped so internal repetition counts once, self-tuned hot-span
      // guard default-on (inert here — natural span occupancy ~1, bound
      // floor 64). Counts are exact integers; md5 agrees cross-engine.
      prep(s, d, "documents")
      Dedup.sharedSpanPairs(t(s, d, "documents"), "doc_id", "text",
          window = 64, stride = 32)
        .orderBy("id_a", "id_b")
    }),

    "q125_lateral_udtf" -> ((s, d) => {
      // generator/UDTF surface: LATERAL VIEW posexplode over the word
      // split (position-preserving — the tokenize-with-offsets shape),
      // then LATERAL VIEW inline over a constructed struct array fanning
      // each word into (tag, v) attribute rows. The DuckDB mirror zips
      // parallel unnests for ordinality and unions the inline fan-out.
      // All values exact (strings, integer positions/lengths).
      prep(s, d, "documents")
      s.sql("""
        WITH words AS (
          SELECT doc_id, pos, word
          FROM documents
          LATERAL VIEW posexplode(split(text, ' ')) AS pos, word
          WHERE pos < 3),
        tagged AS (
          SELECT doc_id, pos, word, t.tag, t.v
          FROM words
          LATERAL VIEW inline(array(
            named_struct('tag', 'len', 'v', CAST(length(word) AS BIGINT)),
            named_struct('tag', 'pos', 'v', CAST(pos AS BIGINT)))) t AS tag, v)
        SELECT doc_id, pos, word, tag, v FROM tagged
        ORDER BY doc_id, pos, tag""")
    }),

    "q126_phrase_search" -> ((s, d) => {
      // positional phrase search by vote counting (the inverted-index
      // phrase query as ONE shuffle on (doc, candidate-start) over
      // phrase-term postings only). Two phrases: "table table" exercises
      // the repeated-word slot votes incl. overlapping matches;
      // "value table part" the k=3 chain. Exact integers throughout.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      def run(p: String) =
        Text.phraseMatches(docs, "doc_id", "text", p)
          .select(lit(p).as("phrase"), col("id").as("doc_id"),
            col("n_matches"), col("first_start"))
      run("table table").unionByName(run("value table part"))
        .orderBy("phrase", "doc_id")
    }),

    "q127_agg_surface" -> ((s, d) => {
      // the remaining deterministic aggregate surface in one shot:
      // median (exact interpolated — quantile_cont parity, q51),
      // bool_and/bool_or, bit_and/or/xor over BIGINT keys (exact bit
      // algebra, order-free), count_if. Same SQL text runs on both
      // engines.
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               median(l_quantity) AS med_qty,
               bool_and(l_quantity > 0) AS all_pos,
               bool_or(l_discount > 0.05) AS any_disc,
               bit_and(l_orderkey) AS key_band,
               bit_or(l_orderkey) AS key_bor,
               bit_xor(l_orderkey) AS key_bxor,
               count_if(l_tax > 0.03) AS n_taxed
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    "q158_pmi_pairs" -> ((s, d) => {
      // windowed PMI collocations (window 5, both orders collapsed, P
      // over ALL events, surviving pairs need count ≥ 5): the multiword-
      // expression detector. Pair generation is a bounded per-doc array
      // comprehension (w·n fan-out, no posting self-join); the oracle
      // regenerates every event positionally. 6dp absorbs the single
      // ln's ulp.
      prep(s, d, "documents")
      graft.pipeline.Text.pmiPairs(t(s, d, "documents"), "text",
          window = 5, minPairCount = 5)
        .select(col("a"), col("b"), col("pair_count"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy("a", "b")
    }),

    "q159_chi2" -> ((s, d) => {
      // χ² independence of lang × source (the corpus-mix drift scalar).
      // Closed form Σ_observed((o−e)²/e − e) + N — no row×col cross
      // join, and cells with o=0 still contribute their expected mass
      // (the classic χ² implementation bug, avoided identically in the
      // oracle). Exact integer counts; 6dp on the statistic.
      prep(s, d, "documents")
      graft.pipeline.Stats.chiSquareIndependence(t(s, d, "documents"),
          "lang", "source")
        .select(round(col("chi2"), 6).as("chi2"), col("dof"), col("n"))
    }),

    "q160_bpe_apply" -> ((s, d) => {
      // the ENCODE half of the q150 tokenizer: train 5 merges, then
      // segment the whole vocabulary with the trained table (the merge
      // chain compiles to 5 literal replaces in one codegen projection).
      // The oracle replays training AND segmentation, so the trajectory,
      // merge order, and greedy application are all certified at once.
      prep(s, d, "documents")
      val words = t(s, d, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => w =!= "")).as("w"))
        .select(lower(col("w")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      val merges = graft.pipeline.Text.bpeTrain(words, "w", "f", merges = 5)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      words.select(col("w"), col("f"),
          graft.pipeline.Text.bpeSegment(col("w"), merges).as("__toks"))
        .select(col("w"), col("f"),
          size(col("__toks")).cast("long").as("n_tokens"),
          array_join(col("__toks"), " ").as("segmented"))
        .orderBy("w")
    }),

    "q157_image_ahash" -> ((s, d) => {
      // image near-dup dedup certified end-to-end through REAL codecs:
      // checker-family PNGs (pixels closed-form in the id) + planted
      // one-pixel-flipped copies → decode → 8x8 nearest reduction →
      // 64-bit aHash → 4x16-bit band blocking (pigeonhole recall 1 at
      // hamming ≤ 3) → bit_count verify. The oracle rebuilds every
      // hash bit in integer arithmetic (resize index map + threshold
      // rule included) and takes ALL pairs — so banding recall, decode,
      // resize and hashing are all on the hook. Keys thinned 29x
      // (encode+decode is per-row CPU).
      prep(s, d, "customer")
      val keys = t(s, d, "customer").filter(col("c_custkey") % 29 === 0)
      val a = Multimodal.syntheticCheckerPngMedia(keys, "c_custkey")
      val b = Multimodal.syntheticCheckerPngMedia(keys, "c_custkey",
        idOffset = 10000000L, flipFirst = true)
      val hashes = Multimodal.aHash64Batched(a.unionByName(b))
      Multimodal.aHashNearDupPairs(hashes, maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    "q154_mojibake" -> ((s, d) => {
      // encoding-corruption gate: documents deterministically "shipped
      // through a Latin-1 decoder" (UTF-8 artifacts appended by doc_id
      // class — Ã©/â€œ/Ã¯/â€¦ for one class, clean ASCII for another,
      // U+FFFD for the third); mojibakeCount/Score flag the corrupt
      // classes. The oracle replays the identical literal-alternation
      // count (Java∩RE2 dialect) and the same char-length division —
      // identical IEEE operands, exact at any rounding.
      prep(s, d, "documents")
      val corrupted = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0, lit(" cafÃ© â€œnaÃ¯veâ€¦"))
            .when(col("doc_id") % 3 === 1, lit(" clean ascii tail"))
            .otherwise(lit(" broken � end"))).as("text"))
      corrupted.select(col("doc_id"),
          graft.pipeline.Text.mojibakeCount(col("text")).as("n_artifacts"),
          round(graft.pipeline.Text.mojibakeScore(col("text")), 6).as("score"))
        .withColumn("flagged", col("n_artifacts") >= 2)
        .orderBy("doc_id")
    }),

    "q155_bootstrap_ci" -> ((s, d) => {
      // derandomized Bayesian-bootstrap error bars for mean quantity per
      // return flag: 200 replicas, Exp(1) weights from ONE md5 per row
      // remixed per replica by the fixed a·h+b affine family (the
      // q53/q113 construction — 200× less hashing than md5(rowkey‖b),
      // same determinism; the oracle inlines the identical constants).
      // CI = type-7 percentiles over the 200 replica means (bounded
      // buffer). 4dp absorbs Σ-order and ln-ulp drift.
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem").withColumn("__k",
        concat(col("l_orderkey").cast("string"), lit("-"),
          col("l_linenumber").cast("string")))
      graft.pipeline.Stats.bootstrapMeanCI(li, Seq("l_returnflag"),
          "l_quantity", "__k", replicas = 200)
        .select(col("l_returnflag"), col("n"),
          round(col("mean"), 6).as("mean"),
          round(col("ci_lo"), 4).as("ci_lo"),
          round(col("ci_hi"), 4).as("ci_hi"))
        .orderBy("l_returnflag")
    }),

    "q156_ab_welch" -> ((s, d) => {
      // A/B metric gate: Welch's unequal-variance t between purchase and
      // view event values, one conditional-aggregate pass (no self-join).
      // The oracle recomputes the same moments with FILTER aggregates
      // and the same t/dof arithmetic; 4dp absorbs the engines'
      // single-pass variance algorithms (q117 precedent).
      prep(s, d)
      events(s, d).createOrReplaceTempView("events")
      graft.pipeline.Stats.welchT(events(s, d), "event_type", "value",
          "purchase", "view")
        .select(col("n_a"), col("n_b"),
          round(col("mean_a"), 6).as("mean_a"),
          round(col("mean_b"), 6).as("mean_b"),
          round(col("var_a"), 4).as("var_a"),
          round(col("var_b"), 4).as("var_b"),
          round(col("t"), 4).as("t"),
          round(col("dof"), 2).as("dof"))
    }),

    "q150_bpe_train" -> ((s, d) => {
      // BPE tokenizer TRAINING in-engine (Sennrich-style merge loop):
      // 5 merges over the corpus word-frequency table, init = character
      // tokens. Each round: frequency-weighted adjacent-pair count (one
      // vocab-sized shuffle), one-row struct-min winner, literal
      // bracket-token replace ([l][r] → [lr]: left-to-right greedy —
      // canonical BPE merge order, shared by Spark and DuckDB replace).
      // The oracle unrolls all 5 rounds and must reproduce the exact
      // merge trajectory.
      prep(s, d, "documents")
      val words = t(s, d, "documents")
        .select(explode(filter(split(trim(col("text")), "\\s+"),
          w => w =!= "")).as("w"))
        .select(lower(col("w")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
        .groupBy("w").agg(count(lit(1)).as("f"))
      graft.pipeline.Text.bpeTrain(words, "w", "f", merges = 5)
        .orderBy("merge_rank")
    }),

    "q151_dedup_survivors" -> ((s, d) => {
      // quality-aware dedup survivor selection: the q56 near-dup
      // clusters, but each cluster keeps its LONGEST member (n_chars
      // desc, id asc) — what production pipelines actually retain. The
      // winner is a struct-min aggregate over the clustered frame; the
      // oracle recomputes true clusters from the quadratic pair set
      // (recursive CTE) and re-picks the survivor with a window argmax.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val clusters = Dedup.nearDuplicateClusters(docs, "text", "doc_id",
        threshold = 0.8, hotBucketBound = Int.MaxValue) // pinned OFF — q25/q86 note
      val scored = clusters
        .join(docs.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      Dedup.keepBest(scored, "doc_id", "cluster_id", "n_chars")
        .orderBy("cluster_id")
    }),

    "q152_benford" -> ((s, d) => {
      // Benford first-digit audit of lineitem prices — the fabricated-
      // numbers detector. Digits come from exact integer cents (round ×
      // 100 → BIGINT → leading decimal char), NOT log10/pow boundary
      // math; frequencies are exact-integer ratios and the Benford
      // expectation log10(1+1/d) rounds at 6dp (the engines' log paths
      // differ by ulps, ~10 orders below the rounding grid).
      prep(s, d, "lineitem")
      val cents = t(s, d, "lineitem")
        .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      graft.pipeline.Stats.benfordDigits(cents, "cents")
        .select(col("digit"), col("n"),
          round(col("obs_freq"), 6).as("obs_freq"),
          round(col("exp_freq"), 6).as("exp_freq"),
          round(col("abs_dev"), 6).as("abs_dev"))
        .orderBy("digit")
    }),

    "q153_ewma" -> ((s, d) => {
      // exact per-user EWMA of event values (α = 0.25 — α and 1−α both
      // exact binary, so the left fold is a reproducible IEEE operation
      // sequence): y₀ = x₀, yₜ = αxₜ + (1−α)yₜ₋₁ in (event-time,
      // event_id) order. UNROUNDED — the oracle's ordered list_reduce
      // replays the identical fold, certifying bit-equality. No Window:
      // one shuffle on user_id, codegen'd array fold per user.
      prep(s, d)
      graft.pipeline.Sessions.ewma(events(s, d), "user_id", "ts",
          "event_id", "value", alpha = 0.25)
        .orderBy("user_id")
    }),

    "q145_histogram_quantiles" -> ((s, d) => {
      // mergeable equi-width histogram quantile state (the log-structured
      // distribution sketch, Materialize.appendHistogramState's algebra):
      // p50/p90/p99 of lineitem prices per return flag read back from
      // (group, bin, count) cells over a FIXED [900, 105000]x64 domain.
      // Counts, target ranks and edge arithmetic are all single IEEE
      // chains, so the oracle REPLAYS the sketch bit-for-bit — the
      // one-bin-width error bound vs exact quantiles is property-tested
      // in HistogramQuantileSpec instead (a value compare here would
      // certify the data, not the operator).
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem")
      val state = graft.pipeline.Stats.histogramState(li, Seq("l_returnflag"),
        "l_extendedprice", lo = 900.0, hi = 105000.0, nBins = 64)
      graft.pipeline.Stats.histogramQuantiles(state, Seq("l_returnflag"),
          lo = 900.0, hi = 105000.0, nBins = 64, pcts = Seq(0.5, 0.9, 0.99))
        .orderBy("l_returnflag", "p")
    }),

    "q146_url_canonicalize" -> ((s, d) => {
      // URL canonicalization as a dedup key-maker: every document's URL
      // arrives in TWO spellings (shouting scheme/host + explicit :443 +
      // utm_/fbclid trackers + fragment + shuffled params vs an already-
      // tidy form); Text.canonicalizeUrl must fold both to ONE canonical
      // string the oracle rebuilds from first principles (the q100
      // synthesized-provenance precedent). n_raw/n_canon certify the
      // dedup effect, min(canon) the exact canonical bytes.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val messy = docs.select(col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM:443/p/"),
          col("doc_id").cast("string"), lit("?utm_source=feed&b="), col("lang"),
          lit("&a="), (col("doc_id") % 5).cast("string"), lit("#frag")).as("url"))
      val tidy = docs.select(col("doc_id"),
        concat(lit("https://"), lower(col("source")), lit(".example.com/p/"),
          col("doc_id").cast("string"), lit("?a="), (col("doc_id") % 5).cast("string"),
          lit("&b="), col("lang"), lit("&fbclid=x"), col("doc_id").cast("string"))
          .as("url"))
      messy.unionByName(tidy)
        .withColumn("canon", graft.pipeline.Text.canonicalizeUrl(col("url")))
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("url")).as("n_raw"),
          countDistinct(col("canon")).as("n_canon"),
          min(col("canon")).as("canon"))
        .orderBy("doc_id")
    }),

    "q147_knn_classify" -> ((s, d) => {
      // leave-one-out k-NN label vote over the embedding corpus (the
      // label-quality audit / semi-supervised labeling move): each vector
      // classified by its 5 nearest others (cosine, ties by id — the q26
      // ranking), winner by (votes desc, label asc) — integer-exact. The
      // oracle replays neighbors AND vote with window row_numbers; the
      // repo side is Window-free (bounded top-k + struct-min argmax).
      prep(s, d, "embeddings")
      graft.pipeline.Similarity.knnClassify(t(s, d, "embeddings"),
          "vec_id", "embedding", "label", k = 5)
        .orderBy("query_id")
    }),

    "q148_kcore" -> ((s, d) => {
      // k-core backbone (k=11) of the arithmetically-sparsified part
      // co-order graph — iterative peeling to the true fixpoint (8 rounds
      // at sf0.01, 10 at sf0.1; empty core at sf0.001 — all legitimate
      // outcomes). The oracle unrolls 20 peel rounds in SQL: past the
      // fixpoint every extra round is a no-op, so 20 certifies any
      // convergence ≤ 20. Output = surviving nodes with IN-CORE degree,
      // exact integers.
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem")
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_a"))
      val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_b"))
      val pairs = a.join(b, "ok").filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .filter((col("id_a") * 31 + col("id_b")) % 7 === 0)
      graft.pipeline.Graph.kCore(pairs, "id_a", "id_b", k = 11)
        .orderBy("node")
    }),

    "q149_zipf_slope" -> ((s, d) => {
      // Zipf-law fit per language: OLS slope/intercept of ln(count) vs
      // ln(rank) over each lang's top-100 tokens — the corpus-health
      // scalar (natural language ≈ −1; template floods steepen, ID dumps
      // flatten). Top-100 via the bounded GroupedTopK aggregate (ties by
      // token — deterministic), regression over ≤100 rows/group; 6dp
      // absorbs the engines' moment-algorithm difference on 100 terms.
      prep(s, d, "documents")
      graft.pipeline.Stats.zipfSlope(t(s, d, "documents"), Seq("lang"),
          "text", topN = 100)
        .select(col("lang"), col("n_tokens"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"))
        .orderBy("lang")
    }),

    "q144_partition_prune" -> ((s, d) => {
      // hive-partitioned layout made driver-visible: events written
      // partitionBy(event_type), read back with a type filter — the
      // scan lists ONLY the matching partition directory
      // (PartitionFilters; LayoutSpec asserts the pruned plan). The
      // oracle computes the same hourly rollup from the unpartitioned
      // table, certifying the layout loses nothing.
      prep(s, d)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q144_" + d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        graft.pipeline.Time.tsMicros(col("ts")).as("tsu"),
        col("value"), col("event_type"))
      ev.write.mode("overwrite").partitionBy("event_type").parquet(base)
      s.read.parquet(base)
        .filter(col("event_type") === "purchase")
        .groupBy(expr("tsu DIV 3600000000").as("hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("sum_value"))
        .orderBy("hour")
    }),

    "q143_rate_anomaly" -> ((s, d) => {
      // ops-monitoring face: hourly event counts per type, flagged by
      // the median/MAD robust z (q123's operator, composed over the
      // epoch-hour grid) — the alert that survives the spikes it hunts.
      // Exact integer counts; z is a ratio of exact values, 4dp.
      prep(s, d)
      val hourly = events(s, d)
        .select(col("event_type"), graft.pipeline.Time.tsMicros(col("ts")).as("__m"))
        .select(col("event_type"), expr("__m DIV 3600000000").as("hour"))
        .groupBy("event_type", "hour").agg(count(lit(1)).as("cnt"))
      graft.pipeline.Stats.robustOutliers(hourly, Seq("event_type"), "cnt",
          threshold = 3.0)
        .select(col("event_type"), col("hour"), col("cnt"),
          round(col("z"), 4).as("z"), col("is_outlier"))
        .orderBy("event_type", "hour")
    }),

    "q142_winsorize" -> ((s, d) => {
      // per-flag winsorization of prices at [5%, 95%] exact type-7
      // percentiles (Spark percentile ≡ DuckDB quantile_cont, the q51
      // precedent); certified via clamp counts and the realized bounds
      // (min/max of the clamped column — exact doubles).
      prep(s, d, "lineitem")
      val w = graft.pipeline.Stats.winsorize(t(s, d, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", 0.05, 0.95)
      w.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("l_extendedprice_w"), 1L)
            .otherwise(0L)).as("n_lo"),
          sum(when(col("l_extendedprice") > col("l_extendedprice_w"), 1L)
            .otherwise(0L)).as("n_hi"),
          min(col("l_extendedprice_w")).as("lo"),
          max(col("l_extendedprice_w")).as("hi"))
        .orderBy("l_returnflag")
    }),

    "q141_gram_matrix" -> ((s, d) => {
      // d×d Gram matrix of the embedding corpus (upper triangle) — the
      // one-pass statistic behind PCA/whitening; the shuffle carries
      // d(d+1)/2 CELLS, not rows. 4dp absorbs the per-cell Σ-over-rows
      // order dependence.
      prep(s, d, "embeddings")
      Similarity.gramMatrix(t(s, d, "embeddings"), "embedding")
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          round(col("g"), 4).as("g"))
        .orderBy("i", "j")
    }),

    "q140_transitions" -> ((s, d) => {
      // behavioral Markov chain: per-user consecutive event pairs
      // (deterministic (ts, event_id) order) → transition counts and
      // conditional probabilities. Exact-integer ratio, no rounding.
      prep(s, d)
      Sessions.transitionMatrix(events(s, d))
        .orderBy("from_type", "to_type")
    }),

    "q139_validate" -> ((s, d) => {
      // declarative data-quality gate over events: three codegen'd rules
      // (value cap, type blocklist, JSON property range) → per-row
      // violations list + validity flag in ONE scan, no shuffle. The
      // oracle replays each predicate with the same null-fails-closed
      // semantics.
      prep(s, d)
      graft.pipeline.Stats.validate(events(s, d), Seq(
          "value_cap" -> (col("value") <= 400.0),
          "not_error" -> (col("event_type") =!= "error"),
          "small_k" -> (get_json_object(col("props"), "$.k").cast("int") <= 50)))
        .select(col("event_id"), col("is_valid"), col("violations"))
        .orderBy("event_id")
    }),

    "q138_snapshot_diff" -> ((s, d) => {
      // recover the change stream between two snapshots: "yesterday" =
      // customer as-is; "today" derived deterministically (every 97th
      // key dropped, every 10th rebalanced, five synthetic inserts).
      // One full outer join, delta-sized output; the oracle rebuilds
      // both snapshots and classifies with the same null-safe compares.
      prep(s, d, "customer")
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val today = cust.filter(col("c_custkey") % 97 =!= 0)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10.0)
            .otherwise(col("c_acctbal")))
        .unionByName(cust.filter(col("c_custkey") < 5)
          .withColumn("c_custkey", col("c_custkey") + 1000000L))
      graft.pipeline.Materialize.snapshotDiff(cust, today, Seq("c_custkey"))
        .orderBy("c_custkey")
    }),

    "q137_ccnet_buckets" -> ((s, d) => {
      // CCNet head/middle/tail: per-LANGUAGE terciles of the unigram
      // perplexity proxy — the normalize-within-group step that keeps a
      // global quality threshold from discarding whole languages. Exact
      // ntile ranked on the 4dp-rounded score (engine-independent
      // order); the oracle replays the same window.
      prep(s, d, "documents")
      Text.qualityBuckets(t(s, d, "documents"), "text", "doc_id", "lang")
        .select(col("doc_id"), col("lang"),
          round(col("nll"), 4).as("nll"), col("bucket"))
        .orderBy("doc_id")
    }),

    "q136_retention" -> ((s, d) => {
      // weekly retention cohorts over events: first-seen week × age in
      // weeks × distinct active users — the integer-exact analytics
      // staple; weeks are epoch-µs DIV one week (no calendar/locale
      // dependence). NTZ-proof via ts_micros.
      prep(s, d)
      Sessions.retentionCohorts(events(s, d))
        .orderBy("cohort_week", "age_weeks")
    }),

    "q135_label_prop" -> ((s, d) => {
      // deterministic synchronous label propagation (majority label,
      // min tie-break) over the part co-order graph, 3 rounds — the
      // community face of the graph family (q111 pagerank / q116 dbscan
      // / q120 triangles precedents). The oracle unrolls the same three
      // rounds in SQL with a row_number argmax — integer-exact.
      prep(s, d, "lineitem")
      val li = t(s, d, "lineitem")
      val a = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_a"))
      val b = li.select(col("l_orderkey").as("ok"), col("l_partkey").as("id_b"))
      val pairs = a.join(b, "ok").filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      Graph.labelPropagation(pairs, "id_a", "id_b", iters = 3)
        .orderBy("node")
    }),

    "q134_heavy_hitters" -> ((s, d) => {
      // hot-key detection: part keys taking ≥ 0.075% of lineitem — the
      // skew census that feeds salting factors. The count-min sketch
      // prunes pass 2 (only occurrences whose estimate clears the
      // threshold shuffle), but the OUTPUT is the exact brute-force
      // answer (count-min never undercounts), so the plain HAVING
      // oracle certifies it.
      prep(s, d, "lineitem")
      Stats.heavyHitters(t(s, d, "lineitem"), "l_partkey", support = 0.00075)
        .orderBy("l_partkey")
    }),

    "q133_tfidf_cosine" -> ((s, d) => {
      // sparse lexical near-dup pairs: exact TF-IDF cosine ≥ 0.9 via the
      // inverted-index posting join (maxDf inert at this scale — the
      // posting-list bound that caps pair generation at 100 TB). Oracle
      // replays the same ln((N+1)/(df+1))+1 weighting in SQL; cosine
      // rounds to 4dp (sum-order noise ~1e-15). FACE SLICE (doc_id <
      // 500): the ~31-token synthetic vocabulary puts every term in
      // every doc, so posting joins are corpus-quadratic HERE by
      // construction (q130's note) — the slice pins the workload.
      prep(s, d, "documents")
      Text.tfidfCosinePairs(t(s, d, "documents").filter(col("doc_id") < 500),
          "text", "doc_id", threshold = 0.9, maxDf = 10000L)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id_a", "id_b")
    }),

    "q132_bucketed_join" -> ((s, d) => {
      // co-located bucketed join made driver-visible: orders and
      // lineitem are laid out bucketed+sorted on the order key, so the
      // MERGE-hinted join runs with ZERO shuffle exchanges below it
      // (LayoutSpec asserts the plan; this face certifies the VALUES
      // survive the layout). Aggregates are exact (count + integral-
      // double sum); the oracle is the plain parquet join.
      prep(s, d, "orders", "lineitem")
      val suf = d.replaceAll("[^A-Za-z0-9]", "_")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_q132_$suf").getAbsolutePath
      graft.pipeline.Layout.bucketWrite(t(s, d, "orders"),
        s"graft_bo_$suf", "o_orderkey", 8, s"$base/orders")
      graft.pipeline.Layout.bucketWrite(t(s, d, "lineitem"),
        s"graft_bl_$suf", "l_orderkey", 8, s"$base/lineitem")
      val bo = s.table(s"graft_bo_$suf")
      val bl = s.table(s"graft_bl_$suf")
      bo.hint("MERGE").join(bl, bo("o_orderkey") === bl("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    "q131_token_drift" -> ((s, d) => {
      // distribution drift English vs non-English slices: KL both ways +
      // total variation over add-one-smoothed unigram distributions on
      // the union vocab. Totals fold out of the joined count frame — the
      // oracle replays the definition with a FULL JOIN; 6dp rounding
      // bounds the Σ-over-vocab order dependence (~|V|·1e-16).
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      Stats.tokenDrift(docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"), "text")
        .select(col("vocab_size"), col("n_a"), col("n_b"),
          round(col("kl_ab"), 6).as("kl_ab"),
          round(col("kl_ba"), 6).as("kl_ba"),
          round(col("tvd"), 6).as("tvd"))
    }),

    "q130_setsim_join" -> ((s, d) => {
      // exact Jaccard ≥ 0.9 document pairs via prefix filtering (rarest
      // ⌈(1−t)·n⌉+1 tokens indexed under the global (df, token) order).
      // The oracle enumerates ALL shared-token pairs quadratically — a
      // DIFFERENT algorithm — so the compare certifies the prefix
      // filter's recall-1 theorem, not a replay. Counts exact; jaccard
      // is an exact-int ratio (identical IEEE both engines, no rounding).
      // FACE SLICE (doc_id < 500): the synthetic corpus draws every doc
      // from one ~31-token vocabulary, so set-level similarity is
      // degenerate — qualifying pairs (and thus OUTPUT) grow
      // quadratically with corpus size no matter the algorithm. The
      // slice pins the certified workload; the operator's prefix bound
      // is what holds on real Zipf-tailed vocabularies.
      prep(s, d, "documents")
      Dedup.setSimJoin(t(s, d, "documents").filter(col("doc_id") < 500),
          "doc_id", "text", 0.9)
        .orderBy("id_a", "id_b")
    }),

    "q129_bigram_lm" -> ((s, d) => {
      // Stupid Backoff bigram LM scoring: counts trained on the
      // even-doc_id half, ALL docs scored — odd docs' unseen bigrams
      // exercise the smoothed unigram-backoff path, even docs replay
      // the pure-ratio path. The oracle retrains the same counts in SQL
      // and replays the same formula; per-pair scores are exact-count
      // ratios, only the per-doc avg-of-ln needs the 4dp rounding
      // (q79 precedent).
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      Text.bigramLm(docs, docs.filter(col("doc_id") % 2 === 0), "text", "doc_id")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("lm_score"), 4).as("lm_score"))
        .orderBy("doc_id")
    }),

    "q128_zorder_prune" -> ((s, d) => {
      // Z-order layout made driver-visible AND hard-oracled: write events
      // clustered on (user_id, ts µs) via zorderWrite vs a round-robin
      // baseline with the SAME file count, then read back ONLY parquet
      // footers and count row groups whose min/max rectangles survive a
      // selective two-sided band predicate — the exact keep/skip decision
      // a 100 TB scan's row-group filter makes. The written layouts stay
      // at a deterministic path under the repo's build dir so DuckDB can
      // replay the SAME keep/skip decision from the SAME footers via
      // parquet_metadata() — the oracle certifies pruning semantics
      // (parquet-format min/max stats), not a number we asserted; bands
      // come from `percentile` ≡ `quantile_cont` (q51 parity) so both
      // engines derive identical [lo, hi] longs.
      import s.implicits._
      // pid-keyed dirs accumulate across JVM runs (each run writes two
      // full event-table layouts and nothing overwrites another pid's
      // dir) — reap siblings whose owning process is GONE before writing
      // ours; live pids are left alone, so the concurrent-suite race the
      // pid keying fixed stays fixed
      val layoutParent = new java.io.File(Q128Dir).getParentFile
      Option(layoutParent.listFiles()).getOrElse(Array.empty).foreach { f =>
        val m = "q128_layout_pid(\\d+)".r.findFirstMatchIn(f.getName)
        m.foreach { mm =>
          val alive = java.nio.file.Files.exists(
            java.nio.file.Paths.get(s"/proc/${mm.group(1)}"))
          if (!alive && f.getAbsolutePath != Q128Dir)
            new scala.reflect.io.Directory(f).deleteRecursively()
        }
      }
      val ev = events(s, d).select(col("event_id"), col("user_id"),
        graft.pipeline.Time.tsMicros(col("ts")).as("tsu"), col("value"))
      val base = Q128Dir
      graft.pipeline.Layout.zorderWrite(ev, Seq("user_id", "tsu"), s"$base/z", 16)
      ev.repartition(16).write.mode("overwrite").parquet(s"$base/rr")
      // one user band × one time band, ~5% selective each side — the
      // percentile agg is one metadata-sized driver row (cf. ZorderDemo)
      val qs = ev.agg(
          expr("percentile(user_id, 0.40)"), expr("percentile(user_id, 0.45)"),
          expr("percentile(tsu, 0.40)"), expr("percentile(tsu, 0.45)"))
        .head().toSeq.map(_.toString.toDouble.toLong)
      val bands = Seq(("user_id", qs(0), qs(1)), ("tsu", qs(2), qs(3)))
      val (zk, zt) = graft.pipeline.Layout.rowGroupPruneStats(s, s"$base/z", bands)
      val (rk, rt) = graft.pipeline.Layout.rowGroupPruneStats(s, s"$base/rr", bands)
      val matched = s.read.parquet(s"$base/z")
        .filter(col("user_id").between(qs(0), qs(1)) &&
          col("tsu").between(qs(2), qs(3))).count()
      Seq(("roundrobin", rk, rt, matched), ("zorder", zk, zt, matched))
        .toDF("layout", "groups_kept", "groups_total", "rows_matched")
        .orderBy("layout")
    }),

    "q116_dbscan" -> ((s, d) => {
      // deterministic DBSCAN over customer points (eps=10, minPts=5):
      // dilated-grid dwithin self-join → degree count → CONVERGED
      // min-label components over core-core edges (pointer jumping — a
      // fixed round count would mislabel density filaments) → border =
      // min core-neighbor label. The oracle replays the same definition
      // with a recursive-CTE fixpoint; distances are the exact
      // sqrt(dx²+dy²) ≤ eps both sides (q32 precedent).
      prep(s, d, "customer")
      val pts = t(s, d, "customer").select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
      graft.spatial.SpatialCluster.dbscan(pts, "c_custkey", "pt",
          eps = 10.0, minPts = 5, cellSize = 10.0)
        .orderBy("c_custkey")
    }),

    "q102_group_sample" -> ((s, d) => {
      // deterministic EXACT-k per-group sample (the "20 docs per language
      // for eyeballing" daily op): order by a content-free md5 key so the
      // pick is uniform-ish and reproducible across runs/engines.
      // Complements q59 (rate-based stratified sampling, pure filter):
      // exact-k needs a per-group bound, which BoundedTopK supplies with
      // map-side partial reduction — no window, so a 10^9-doc language
      // never sorts in one reducer partition.
      prep(s, d, "documents")
      val base = t(s, d, "documents").select(col("doc_id"), col("lang"),
        md5(col("doc_id").cast("string")).as("h"))
      GroupedTopK.topK(base, Seq("lang"),
          Seq(("h", true), ("doc_id", true)), 20, "rank")
        .orderBy("lang", "rank")
    }),

    "q103_bpe_pair_stats" -> ((s, d) => {
      // tokenizer-training step 1: adjacent-pair frequencies over the
      // corpus (the statistic a BPE merge round maximizes), word-level
      // here because the fixture is ASCII words. Pairs derive per-row
      // from the token array (no self-join — the classic formulation
      // joins the corpus to itself on position); top pairs with a
      // deterministic tie-break.
      prep(s, d, "documents")
      t(s, d, "documents")
        .select(filter(split(trim(col("text")), "\\s+"), w => w =!= "").as("w"))
        .filter(size(col("w")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("w")) - 2),
          i => concat_ws(" ", element_at(col("w"), i + 1),
            element_at(col("w"), i + 2)))).as("pair"))
        .groupBy("pair").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), asc("pair")).limit(30)
    }),

    "q101_line_dedup" -> ((s, d) => {
      // CCNet/C4-style corpus-wide LINE dedup: every line keeps only its
      // globally first occurrence; short lines (< 12 chars — the
      // boilerplate carve-out) are exempt. The fixture's text is
      // single-line, so line structure is derived in-query by folding
      // every third word break into a newline (the q90/q100
      // derive-structure-from-columns precedent; 3-word lines over the
      // small fixture vocabulary collide across documents by the
      // thousands, so the dedup pass has real work). The oracle replays
      // first-occurrence selection with a window and rebuilds each
      // document byte-exactly with an ordered string_agg.
      prep(s, d, "documents")
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), LineFoldRe, "$1\n").as("text"))
      Dedup.dedupLines(lined, "text", "doc_id", "\n", minChars = 12)
        .select(col("doc_id"), col("text").as("text_dedup"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    }),

    "q100_url_domains" -> ((s, d) => {
      // per-domain corpus accounting (the CCNet-style provenance cut):
      // URLs synthesized deterministically from table columns, then
      // host/path/query-param extracted with Spark's parse_url and
      // aggregated per domain. The oracle rebuilds each component from
      // the same construction — any parse_url drift breaks the match.
      prep(s, d, "documents")
      s.sql("""
        WITH u AS (
          SELECT doc_id, lang,
                 concat('https://', source, '.example.com/p/', doc_id,
                        '?ref=', lang, '&x=', doc_id % 7) AS url
          FROM documents)
        SELECT parse_url(url, 'HOST') AS host,
               count(*) AS n_docs,
               count(DISTINCT parse_url(url, 'QUERY', 'ref')) AS n_refs,
               min(parse_url(url, 'PATH')) AS min_path,
               max(parse_url(url, 'QUERY', 'x')) AS max_x
        FROM u GROUP BY host ORDER BY host""")
    }),

    "q98_approx_distinct" -> ((s, d) => {
      // sketch-based cardinality monitoring: HLL++ approx distinct counts
      // (rsd 0.01) certified to land within 5% of the exact count per
      // group — the bounded-memory corpus-monitoring move (exact DISTINCT
      // shuffles every key; the sketch is a fixed-size buffer per group).
      // The oracle recomputes the exact counts and asserts the same bound.
      // The sketch runs in its OWN aggregation, not beside the
      // count(DISTINCT): mixed distinct+sketch plans through Expand and
      // allocates one rsd-0.01 HLL buffer (~16 KB) per PARTIAL DISTINCT
      // GROUP — 7500 sketches / ~1.2 s of merge CPU in one coalesced
      // task at sf0.1, and it grows with user count; separated, partials
      // are per-partition-per-group (~#groups × #partitions buffers,
      // corpus-size-independent). The HLL estimate is identical either
      // way (register maxima depend only on the input SET).
      graft.spatial.functions.register(s)
      events(s, d).createOrReplaceTempView("events")
      s.sql("""
        WITH ex AS (
          SELECT event_type, count(DISTINCT user_id) AS exact_users
          FROM events GROUP BY event_type),
        ap AS (
          SELECT event_type,
                 approx_count_distinct(user_id, 0.01) AS approx_users
          FROM events GROUP BY event_type)
        SELECT ex.event_type, ex.exact_users,
               (abs(CAST(ap.approx_users AS DOUBLE) - ex.exact_users)
                  <= 0.05 * ex.exact_users) AS approx_ok
        FROM ex JOIN ap ON ex.event_type = ap.event_type
        ORDER BY ex.event_type""")
    }),

    "q94_temperature_mix" -> ((s, d) => {
      // temperature-based domain mixing (alpha=0.5): per-lang keep rates
      // derive from the data itself (sqrt-weighted shares, integer-exact
      // weight/total arithmetic, one fixed double chain for the rate), so
      // dominant 'en' flattens toward the rare langs; selection is the
      // q59 md5-bucket predicate. The oracle recomputes the identical
      // rates and buckets from first principles.
      prep(s, d, "documents")
      Sampling.temperatureSampleHash(t(s, d, "documents"), "doc_id", "lang",
          targetBp = 4000, alpha = 0.5)
        .groupBy(col("lang")).agg(count(lit(1)).as("kept"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    }),

    "q91_grouping_sets" -> ((s, d) => {
      // general GROUPING SETS (asymmetric — not expressible as one
      // ROLLUP/CUBE): detail, priority-only, and grand-total grains in ONE
      // pass; Spark plans a single Expand + one shuffle (same shape as
      // q57's ROLLUP). grouping() disambiguates real NULLs from subtotal
      // rows.
      prep(s, d, "orders")
      s.sql("""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderpriority), ())
        ORDER BY gid, status, priority""")
    }),

    "q92_argmax" -> ((s, d) => {
      // argmax/argmin surface: max_by/min_by with a struct ordering key so
      // ties on totalprice break deterministically by orderkey (largest for
      // max_by, smallest for min_by — mirrored by the oracle's two window
      // rankings). One shuffle, partial aggregation on the map side.
      prep(s, d, "orders")
      s.sql("""
        SELECT o_custkey,
               max_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS best_order,
               min_by(o_orderkey, struct(o_totalprice, o_orderkey)) AS worst_order,
               max(o_totalprice) AS best_price
        FROM orders
        GROUP BY o_custkey
        ORDER BY o_custkey""")
    }),

    "q93_unpivot" -> ((s, d) => {
      // UNPIVOT (wide -> long melt, the inverse of q58's pivot): three
      // measure columns become (metric, val) rows in a zero-shuffle
      // Expand, then one aggregation; sums go through DECIMAL(18,2) so
      // they're order-independent (q01 precedent).
      prep(s, d, "lineitem")
      s.sql("""
        SELECT metric, count(*) AS n,
               CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM (SELECT l_quantity, l_extendedprice, l_discount
              FROM lineitem WHERE l_linenumber = 1)
        UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
        GROUP BY metric ORDER BY metric""")
    }),

    "q90_range_join" -> ((s, d) => {
      // batch interval-overlap join (RangeJoin.overlapJoin, self-tuned bin
      // width — the binned equi-join rewrite, NOT a cartesian): every 1994
      // order is "active" for [orderdate, orderdate + 1..7 days]; every
      // returned lineitem is "in flight" for [shipdate, shipdate + 1..3
      // days]; pairs are date-overlapping (order, shipment) combinations,
      // aggregated per priority with the exact overlap length. The oracle
      // is DuckDB's inequality join over the same synthesized intervals.
      val epoch = lit("1970-01-01")
      val o = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01") &&
          col("o_orderdate") < lit("1998-01-01"))
        .select(col("o_orderpriority"),
          datediff(to_date(col("o_orderdate")), epoch).cast("long").as("o_start"),
          (datediff(to_date(col("o_orderdate")), epoch) +
            col("o_orderkey") % 7 + 1).cast("long").as("o_end"))
      val li = t(s, d, "lineitem")
        .filter(col("l_returnflag") === "R" &&
          col("l_shipdate") >= lit("1996-12-01") && col("l_shipdate") < lit("1998-02-01"))
        .select(col("l_quantity"),
          datediff(to_date(col("l_shipdate")), epoch).cast("long").as("l_start"),
          (datediff(to_date(col("l_shipdate")), epoch) +
            col("l_linenumber") % 3 + 1).cast("long").as("l_end"))
      graft.pipeline.RangeJoin.overlapJoin(o, "o_start", "o_end", li, "l_start", "l_end")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("pairs"),
          sum(col("l_quantity")).as("qty"),
          sum(least(col("o_end"), col("l_end")) -
            greatest(col("o_start"), col("l_start")) + 1).as("overlap_days"))
        .orderBy("o_orderpriority")
    }),

    "q89_audio_stats" -> ((s, d) => {
      // REAL audio decode certified end-to-end: a mono PCM16 WAV is
      // synthesized per part (64 + id%32 samples, sample i closed-form in
      // the id), parsed back by the RIFF/WAVE walker, and the exact
      // integer stream stats (sum|s|, peak, count, rate) hash-match the
      // closed-form oracle — the sums can only come from reading every
      // sample off the data chunk. Keys thinned 9x to bound bench cost.
      prep(s, d, "part")
      val base = t(s, d, "part").filter(col("p_partkey") % 9 === 0)
      Multimodal.audioStatsBatched(Multimodal.syntheticWavMedia(base, "p_partkey"))
        .orderBy("media_id")
    }),

    "q88_video_frames" -> ((s, d) => {
      // REAL video-frame extraction certified end-to-end: a RIFF/AVI
      // container is synthesized per supplier (2 + id%3 PNG frames, frame
      // f's pixels closed-form in id*7+f), demuxed by the pure-JVM RIFF
      // walker, sampled every 2nd frame, and each kept frame decoded
      // through imageio — the gradient-channel sums prove the frames
      // actually decode (q85's argument, per frame). Keys thinned 5x to
      // bound bench cost; embarrassingly parallel.
      prep(s, d, "supplier")
      val base = t(s, d, "supplier").filter(col("s_suppkey") % 5 === 0)
      Multimodal.sampleFramesDecoded(
          Multimodal.syntheticAviMedia(base, "s_suppkey"), everyN = 2)
        .orderBy("media_id", "frame_idx")
    }),

    "q87_union_dissolve" -> ((s, d) => {
      // dissolved overlay certification without a spatial oracle engine:
      // four planted configurations (edge-adjacent / overlapping /
      // disjoint / T-junction partial edge) where the dissolved union and
      // symdifference have CLOSED-FORM area, perimeter, and type. The
      // perimeter is the dissolution discriminator — a non-dissolved
      // tiling keeps doubled interior edges and overshoots it (adjacent
      // case: 16 undissolved vs 12 dissolved); the type column pins
      // shell-merging (Polygon vs MultiPolygon). Coordinates are exact
      // small doubles, so every overlay node is IEEE-exact.
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               ST_Area(u)      AS u_area,
               ST_Perimeter(u) AS u_perim,
               ST_GeometryType(u) AS u_type,
               ST_Area(sd)      AS s_area,
               ST_Perimeter(sd) AS s_perim,
               ST_GeometryType(sd) AS s_type
        FROM (
          SELECT n_nationkey,
                 ST_Union(a, b) AS u,
                 ST_SymDifference(a, b) AS sd
          FROM (
            SELECT n_nationkey,
                   ST_MakeEnvelope(x0, 0.0D, x0 + 2.0D, 2.0D) AS a,
                   CASE CAST(n_nationkey % 4 AS INT)
                     WHEN 0 THEN ST_MakeEnvelope(x0 + 2.0D, 0.0D, x0 + 4.0D, 2.0D)
                     WHEN 1 THEN ST_MakeEnvelope(x0 + 1.0D, 0.0D, x0 + 3.0D, 2.0D)
                     WHEN 2 THEN ST_MakeEnvelope(x0 + 3.0D, 0.0D, x0 + 5.0D, 2.0D)
                     ELSE ST_MakeEnvelope(x0 + 2.0D, 0.0D, x0 + 4.0D, 1.0D)
                   END AS b
            FROM (SELECT n_nationkey,
                         CAST(n_nationkey AS DOUBLE) * 16.0D AS x0
                  FROM nation)))
        ORDER BY n_nationkey""")
    }),

    "q86_neardup_autoguard" -> ((s, d) => {
      // The LIBRARY-DEFAULT near-dup plan: self-tuning hot-bucket guard
      // (Dedup.AutoBound — occupancy windows over the pair join's own
      // shuffle + a one-row p99.9-derived bound, no knob anywhere). On
      // this spam-free corpus no bucket reaches the bound, so the output
      // is certified against the SAME quadratic oracle as q25 — while the
      // 10x adversarial spam stress exercises the hub-star degradation
      // this default exists for. q25 keeps the pinned unguarded plan for
      // round-over-round bench comparability; the delta between the two
      // queries IS the guard's no-spam overhead, measured in the open.
      prep(s, d, "documents")
      Dedup.nearDuplicatePairs(t(s, d, "documents"), "text", "doc_id",
          threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),

    "q85_image_decode" -> ((s, d) => {
      // REAL PNG decode (javax.imageio) certified end-to-end: synthesize a
      // genuine PNG per customer (solid R/B channels + an x-gradient G
      // channel, all closed-form in the id), decode it back with the
      // per-partition-initialized ImageDecoder, and emit exact per-channel
      // pixel sums. The gradient sum can only come from inflating the IDAT
      // stream — a header parse cannot produce it — so a hash match against
      // the closed-form oracle proves the decode is real. Keys thinned 7×
      // to bound bench cost (encode+decode is per-row CPU, ~2k rows at
      // sf0.1); embarrassingly parallel, no shuffle before the sort.
      prep(s, d, "customer")
      val base = t(s, d, "customer").filter(col("c_custkey") % 7 === 0)
      Multimodal.decodeImageBatched(Multimodal.syntheticPngMedia(base, "c_custkey"))
        .orderBy("media_id")
    }),

    "q84_l2_normalize" -> ((s, d) => {
      // L2 normalization (cosine-ready embeddings): norm projected ONCE
      // per row, exploded values divided and rounded to 6dp (the q28
      // norm-rounding precedent — engine summation differs in the last
      // ulp); zero vectors normalize to null
      prep(s, d, "embeddings")
      t(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Similarity.norm(col("embedding")).as("nrm"))
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("pos", "x")), col("nrm"))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          when(col("nrm") === 0.0, lit(null).cast("double"))
            .otherwise(round(col("x").cast("double") / col("nrm"), 6)).as("nval"))
        .orderBy("vec_id", "pos")
    }),

    "q83_revenue_rollup_5way" -> ((s, d) => {
      // TPC-H-Q5-style 5-way star join: region → nation → customer →
      // orders → lineitem with a date window, revenue by nation. The dims
      // broadcast; the two fact relations join on their key; the date
      // filter pushes into the orders scan (plan-asserted)
      prep(s, d, "region", "nation", "customer", "orders", "lineitem")
      s.sql("""
        SELECT n_name,
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                        CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
               count(*) AS n_items
        FROM region
        JOIN nation   ON n_regionkey = r_regionkey
        JOIN customer ON c_nationkey = n_nationkey
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE r_name IN ('ASIA', 'EUROPE')
          AND o_orderdate >= TIMESTAMP'1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP'1998-01-01 00:00:00'
        GROUP BY n_name ORDER BY n_name""")
    }),

    "q82_session_window" -> ((s, d) => {
      // Spark's native session_window() (gap-based, 30 min) certified
      // against a first-principles lag/cumsum sessionization in DuckDB:
      // same session starts, counts, and window end = last event + gap
      val ev = events(s, d)
      ev.groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("start_us"),
          unix_micros(col("w.end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "start_us")
    }),

    "q80_collect_agg" -> ((s, d) => {
      // collection aggregates with DETERMINISTIC ordering: collect_list
      // is order-nondeterministic under parallelism, so every use sorts
      // before join/compare — the pattern this query certifies
      prep(s, d, "nation")
      s.sql("""
        SELECT n_regionkey,
               array_join(array_sort(collect_list(n_name)), ',') AS names,
               CAST(size(collect_set(n_nationkey % 5)) AS BIGINT) AS n_mod_classes,
               array_join(slice(array_sort(collect_list(n_name)), 1, 2), '|') AS first_two
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""")
    }),

    "q81_regex_extract" -> ((s, d) => {
      // regex group extraction + existence over structured-ish strings
      // (o_orderpriority '1-URGENT' etc.)
      prep(s, d, "orders")
      s.sql("""
        SELECT o_orderkey,
               regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 1) AS prio_num,
               regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 2) AS prio_word,
               (o_orderpriority RLIKE '^[12]-') AS is_fast,
               regexp_extract(o_orderstatus, '([FO])', 1) AS fo
        FROM orders ORDER BY o_orderkey""")
    }),

    "q79_unigram_nll" -> ((s, d) => {
      // unigram NLL quality proxy; rounded to 4dp — the per-doc average
      // sums ~100 doubles whose order-dependence is ~1e-13, far below the
      // rounding (q51/q74 precedent)
      prep(s, d, "documents")
      Text.unigramLogProb(t(s, d, "documents"), "text", "doc_id")
        .select(col("doc_id"), round(col("nll"), 4).as("nll"))
        .orderBy("doc_id")
    }),

    "q78_subquery_surface" -> ((s, d) => {
      // correlated EXISTS / NOT IN / scalar subquery — Catalyst rewrites
      // these to semi/anti joins and a one-row broadcast. The scalar
      // threshold averages exact BIGINT cents so both engines divide the
      // same exact sum (double money averages are order-dependent)
      prep(s, d, "customer", "orders")
      s.sql("""
        SELECT c_custkey, c_mktsegment
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
          AND c_custkey NOT IN (SELECT o_custkey FROM orders
                                WHERE o_orderstatus = 'P')
          AND c_acctbal * 100 > (SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT))
                                 FROM customer)
        ORDER BY c_custkey""")
    }),

    "q76_null_surface" -> ((s, d) => {
      // null-handling surface: nullif/coalesce/nvl2, null-safe equality
      // (IS [NOT] DISTINCT FROM), and null-aware conditionals, over a
      // synthesized nullable column (every 3rd balance nulled)
      prep(s, d, "customer")
      s.sql("""
        SELECT c_custkey,
               coalesce(nb, -1.0D) AS nb_or_default,
               nullif(c_nationkey, 0) AS nk_nullable,
               nvl2(nb, 'has', 'null') AS has_bal,
               (nb <=> c_acctbal) AS same_nullsafe,
               CAST(nb IS DISTINCT FROM c_acctbal AS BOOLEAN) AS distinct_from,
               CASE WHEN nb IS NULL THEN 'missing'
                    WHEN nb < 0 THEN 'neg' ELSE 'pos' END AS bal_class
        FROM (SELECT c_custkey, c_nationkey, c_acctbal,
                CASE WHEN c_custkey % 3 = 0 THEN CAST(NULL AS DOUBLE)
                     ELSE c_acctbal END AS nb
              FROM customer)
        ORDER BY c_custkey""")
    }),

    "q77_filtered_aggs" -> ((s, d) => {
      // conditional-aggregate surface: FILTER clauses, count_if, bool
      // aggregates — one pass, no self-joins
      prep(s, d, "orders")
      s.sql("""
        SELECT o_orderpriority,
               count(*) AS n,
               count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
               CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                    FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open,
               bool_or(o_orderstatus = 'P') AS any_pending,
               bool_and(o_custkey > 0) AS all_pos_cust
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
    }),

    "q75_bpeish_tokens" -> ((s, d) => {
      // BPE-style pre-tokenizer counts next to whitespace counts — the
      // sequence-packing/training-cost unit; same Java∩RE2 pattern
      // injected into the oracle from Text.BpeishTokenRe
      prep(s, d, "documents")
      t(s, d, "documents")
        .select(col("doc_id"),
          Text.bpeishTokenCount(col("text")).as("bpeish_toks"),
          Text.tokenCount(col("text")).cast("long").as("ws_toks"))
        .orderBy("doc_id")
    }),

    "q74_stats_surface" -> ((s, d) => {
      // statistical aggregate surface: sample stddev/variance, Pearson
      // correlation, sample covariance. Inputs are integral-valued doubles
      // (sums and sums-of-squares exact in 2^53), so the only divergence
      // channel is the engines' merge order in the M2 accumulation —
      // rounded to 4dp, orders of magnitude above that noise (the q51
      // precedent)
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_returnflag,
               round(stddev_samp(l_quantity), 4) AS sd_qty,
               round(var_samp(l_quantity), 4) AS var_qty,
               round(corr(l_quantity, l_linenumber), 4) AS corr_ql,
               round(covar_samp(l_quantity, l_linenumber), 4) AS cov_ql,
               count(*) AS n
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    "q73_time_buckets" -> ((s, d) => {
      // batch face of the streaming tumbling window: window() bucketing ==
      // DuckDB time_bucket (both epoch-hour-aligned). Aggregates are
      // order-insensitive (counts, min/max) — summing arbitrary doubles
      // would couple the hash to reduction order
      events(s, d)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          min(col("value")).as("min_v"), max(col("value")).as("max_v"))
        .select(unix_micros(col("window.start")).as("bucket_us"),
          col("event_type"), col("n"), col("n_users"), col("min_v"), col("max_v"))
        .orderBy("bucket_us", "event_type")
    }),

    "q72_map_surface" -> ((s, d) => {
      // map-type surface: construction, lookup (present + missing keys),
      // key/value projections, cardinality. The oracle recomputes every
      // output value relationally — DuckDB MAP internals never enter the
      // comparison, only the semantics
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               element_at(m, 'name') AS name_v,
               element_at(m, 'region') AS region_v,
               element_at(m, 'missing') AS missing_v,
               CAST(size(m) AS BIGINT) AS m_size,
               array_join(sort_array(map_keys(m)), ',') AS keys_sorted,
               CAST(map_contains_key(m, 'region') AS BOOLEAN) AS has_region
        FROM (SELECT n_nationkey,
                map_from_arrays(array('name', 'region'),
                                array(n_name, CAST(n_regionkey AS STRING))) AS m
              FROM nation)
        ORDER BY n_nationkey""")
    }),

    "q71_string_surface" -> ((s, d) => {
      // string scalar surface: edit distance (fuzzy matching), casing,
      // char translation, reverse, padding, substring search — certified
      // one-to-one against DuckDB equivalents
      prep(s, d, "nation")
      s.sql("""
        SELECT a.n_name AS name_a, b.n_name AS name_b,
               CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist,
               initcap(lower(a.n_name)) AS pretty,
               translate(a.n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
               reverse(b.n_name) AS rev,
               lpad(a.n_name, 12, '.') AS padded,
               CAST(instr(a.n_name, 'AN') AS BIGINT) AS an_pos
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        WHERE levenshtein(a.n_name, b.n_name) <= 6
        ORDER BY name_a, name_b""")
    }),

    "q70_salted_join" -> ((s, d) => {
      // salted skew join certified against the PLAIN join oracle — salting
      // must be row-level invisible (the salt splits hot keys across
      // reducers, the dimension replicates per salt, results identical)
      prep(s, d, "orders", "nation")
      val facts = t(s, d, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 25).as("n_key"), col("o_totalprice"))
      val dim = t(s, d, "nation").select(col("n_nationkey").as("n_key"), col("n_name"))
      graft.pipeline.Skew.saltedJoin(facts, dim, "n_key", nSalts = 8)
        .select(col("o_orderkey"), col("n_name"))
        .orderBy("o_orderkey")
    }),

    "q68_pii_scrub" -> ((s, d) => {
      // PII redaction over deterministically synthesized contact strings:
      // emails/phones replaced by typed placeholders + per-row match
      // counts. Patterns live in Text.EmailRe/PhoneRe (Java∩RE2 dialect)
      prep(s, d, "orders")
      // order BEFORE the regex work (the q63 shape): a trailing ORDER BY
      // makes the range-sampling stage re-run the whole synth+scrub
      // projection (profiled: two ~950 ms single-task stages at sf0.1);
      // range-partitioning the slim raw columns first runs the regex
      // pass ONCE, post-exchange, at session parallelism
      val synth = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .select(col("o_orderkey"),
        concat(lit("Order note: contact user"), col("o_custkey").cast("string"),
          when(col("o_orderkey") % 2 === 0,
            concat(lit("@mail.example.com or +1-555-"),
              lpad((col("o_custkey") % 10000).cast("string"), 4, "0")))
            .otherwise(lit(" by ticket")),
          lit(" thanks")).as("note"))
      // redaction counts come from the placeholders in the scrubbed
      // string (cheap length arithmetic), not a second+third regex pass
      // over the original — the two scans this saves halved the query
      synth.select(col("o_orderkey"), Text.scrubPii(col("note")).as("scrubbed"))
        .select(col("o_orderkey"), col("scrubbed"),
          expr("CAST((length(scrubbed) - length(replace(scrubbed, '<EMAIL>', ''))) DIV 7 AS BIGINT)")
            .as("n_email"),
          expr("CAST((length(scrubbed) - length(replace(scrubbed, '<PHONE>', ''))) DIV 7 AS BIGINT)")
            .as("n_phone"))
    }),

    "q69_datetime_surface" -> ((s, d) => {
      // the datetime scalar surface: parts, day-of-week/year, formatting,
      // date difference, week truncation, calendar month arithmetic with
      // end-of-month clamping
      prep(s, d, "orders")
      s.sql("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS BIGINT) AS y,
               CAST(quarter(o_orderdate) AS BIGINT) AS q,
               CAST(month(o_orderdate) AS BIGINT) AS m,
               CAST(dayofweek(o_orderdate) AS BIGINT) AS dow,
               CAST(dayofyear(o_orderdate) AS BIGINT) AS doy,
               date_format(o_orderdate, 'yyyy-MM-dd') AS d_str,
               CAST(datediff(DATE'2000-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_to_y2k,
               CAST(CAST(date_trunc('week', o_orderdate) AS DATE) AS STRING) AS week_start,
               CAST(add_months(CAST(o_orderdate AS DATE), 2) AS STRING) AS plus2m,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS STRING) AS eom
        FROM orders ORDER BY o_orderkey""")
    }),

    "q66_decontamination" -> ((s, d) => {
      // benchmark decontamination: corpus docs sharing any distinct word
      // 8-gram with the planted "eval set" (doc_id % 7 == 0 — every 7th
      // doc, so planted near-dup partners land on opposite sides and the
      // oracle certifies nonzero hits). Eval grams broadcast; the corpus
      // never shuffles
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val evalSet = docs.filter(col("doc_id") % 7 === 0)
      val corpus = docs.filter(col("doc_id") % 7 =!= 0)
      graft.pipeline.Decontaminate.flags(corpus, evalSet, "text", "doc_id", n = 8)
        .orderBy("doc_id")
    }),

    "q67_repetition_score" -> ((s, d) => {
      // n-gram repetition ratio (boilerplate signal): 1 - distinct/total
      // word 3-grams, rounded to absorb nothing — the division is IEEE-
      // identical in both engines
      prep(s, d, "documents")
      Text.repetitionScore(t(s, d, "documents"), "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),

    "q64_intersect_all" -> ((s, d) => {
      // the remaining set-op faces: INTERSECT (distinct) and UNION ALL /
      // EXCEPT ALL bag semantics in one result
      prep(s, d, "customer", "orders")
      s.sql("""
        SELECT custkey, src FROM (
          SELECT custkey, 'both' AS src FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
            INTERSECT
            SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000) i
          UNION ALL
          SELECT custkey, 'bag' AS src FROM (
            SELECT c_custkey AS custkey FROM customer WHERE c_nationkey < 3
            EXCEPT ALL
            SELECT c_custkey AS custkey FROM customer
            WHERE c_nationkey < 3 AND c_acctbal < 0) e) u
        ORDER BY src, custkey""")
    }),

    "q65_array_surface" -> ((s, d) => {
      // higher-order array-function surface over token arrays: transform,
      // filter, slice, sort, distinct-count, positional zip_with — the
      // primitives the embedding/text pipelines compose, certified
      // one-to-one against DuckDB's list_* family
      prep(s, d, "documents")
      s.sql("""
        SELECT doc_id,
               CAST(size(filter(toks, t -> length(t) > 3)) AS BIGINT) AS n_long,
               CAST(size(array_distinct(toks)) AS BIGINT) AS n_uniq,
               array_join(slice(sort_array(transform(toks, t -> upper(t))), 1, 3),
                          ',') AS top3,
               CAST(aggregate(zip_with(toks, slice(toks, 2, 100000),
                      (a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END),
                    0, (acc, x) -> acc + x) AS BIGINT) AS n_rep
        FROM (SELECT doc_id,
                filter(split(trim(text), '\\s+'), t -> t <> '') AS toks
              FROM documents WHERE doc_id < 200)
        ORDER BY doc_id""")
    }),

    "q63_json_surface" -> ((s, d) => {
      // JSON scalar surface: typed from_json parse + struct/array/nested
      // extraction, one path-based get_json_object, json_array_length.
      // The document is parsed ONCE (from_json in its own projection,
      // non-cheap so CollapseProject keeps it) — the per-path
      // get_json_object form re-parsed the JSON per extraction and cost
      // 5.2 s vs ~1 s at sf0.1. JSON synthesized from int/string columns
      // only — a double would couple the test to float formatting.
      // Order BEFORE parsing: range-partition + sort-within on the raw
      // key, then parse post-exchange — a trailing ORDER BY makes the
      // range sampling pass re-execute the whole parse projection
      // (profiled: two ~1.1 s single-task stages each running the full
      // synth+parse at sf0.1); this shape samples only the slim raw
      // columns and runs the parse once, spread over the range
      // partitions. Global order is preserved (range partitions are
      // ordered, projections keep intra-partition order).
      prep(s, d, "orders")
      val sorted = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"))
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      sorted.createOrReplaceTempView("orders_by_key")
      s.sql("""
        WITH parsed AS (
          SELECT o_orderkey,
                 get_json_object(j, '$.cust') AS cust_s,
                 from_json(j, 'cust BIGINT, status STRING, tags ARRAY<STRING>,
                               nested STRUCT<pri STRING>') AS p
          FROM (SELECT o_orderkey,
                  concat('{"cust":', CAST(o_custkey AS STRING),
                         ',"status":"', o_orderstatus, '"',
                         ',"tags":["a","', o_orderpriority, '"]',
                         ',"nested":{"pri":"', o_orderpriority, '"}}') AS j
                FROM orders_by_key))
        SELECT o_orderkey, cust_s,
               p.cust AS cust_i,
               p.status AS status,
               p.tags[1] AS tag2,
               p.nested.pri AS pri,
               CAST(size(p.tags) AS BIGINT) AS n_tags
        FROM parsed""")
    }),

    "q26_cosine_topk" -> ((s, d) => {
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"), col("neighbor_id"))
        .orderBy("query_id", "rank")
    }),

    "q27_embedding_neardup" -> ((s, d) => {
      // LSH-banded near-dup pairs, exact-verified against the quadratic
      // oracle: planted exact-direction duplicates (×2 scaling is IEEE-exact,
      // so every hyperplane dot product scales exactly and the signatures
      // agree in all bands — recall 1 by construction) are the only pairs
      // with cosine ≥ 0.9 (max natural pairwise cosine in the fixture ≈
      // 0.51), so LSH-candidates ∩ verify ≡ all-pairs ∩ verify.
      prep(s, d, "embeddings")
      val base = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = base.filter(col("vec_id") < 20)
        .select((col("vec_id") + 100000).as("vec_id"),
          transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      // nBits sizes the bucket space (2^12 per band — bounded occupancy up
      // to ~256k vectors); recall on the planted identical-direction pairs
      // is 1 at ANY nBits (they agree in every band by construction), so
      // the oracle is parameter-independent
      Similarity.embeddingNearDupPairs(base.unionByName(planted), "vec_id", "embedding",
          minCosine = 0.9, nBits = 12,
          hotBucketBound = Int.MaxValue) // pinned OFF — see q25/q86 note
        .select(col("id_a"), col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    "q28_embedding_norms" -> ((s, d) => {
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      emb.select(col("vec_id"), col("label"),
          round(Similarity.norm(col("embedding")), 6).as("l2_norm"))
        .orderBy("vec_id")
    }),

    "q30_st_setops" -> ((s, d) => {
      // rect∩rect / rect−rect / rect∪rect via the JTS overlay; coords are
      // powers of two so every overlay node is IEEE-exact → plain
      // arithmetic oracle with no rounding
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               ST_Area(ST_Intersection(
                 ST_MakeEnvelope(CAST(n_nationkey AS DOUBLE) * 128.0D, 0.0D,
                                 CAST(n_nationkey AS DOUBLE) * 128.0D + 512.0D, 256.0D),
                 ST_MakeEnvelope(1024.0D, 64.0D, 1792.0D, 192.0D))) AS inter_area,
               ST_Area(ST_Difference(
                 ST_MakeEnvelope(CAST(n_nationkey AS DOUBLE) * 128.0D, 0.0D,
                                 CAST(n_nationkey AS DOUBLE) * 128.0D + 512.0D, 256.0D),
                 ST_MakeEnvelope(1024.0D, 64.0D, 1792.0D, 192.0D))) AS diff_area,
               ST_Area(ST_Union(
                 ST_MakeEnvelope(CAST(n_nationkey AS DOUBLE) * 128.0D, 0.0D,
                                 CAST(n_nationkey AS DOUBLE) * 128.0D + 512.0D, 256.0D),
                 ST_MakeEnvelope(1024.0D, 64.0D, 1792.0D, 192.0D))) AS union_area
        FROM nation ORDER BY n_nationkey""")
    }),

    "q31_st_touches_chain" -> ((s, d) => {
      // adjacent unit rects per nation: touch exactly when keys differ by 1
      prep(s, d, "nation")
      s.sql("""
        SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b
        FROM nation a JOIN nation b
          ON a.n_nationkey < b.n_nationkey
         AND ST_Touches(
               ST_MakeEnvelope(CAST(a.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                               CAST(a.n_nationkey AS DOUBLE) * 64.0D + 64.0D, 64.0D),
               ST_MakeEnvelope(CAST(b.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                               CAST(b.n_nationkey AS DOUBLE) * 64.0D + 64.0D, 64.0D))
        ORDER BY key_a, key_b""")
    }),

    "q32_st_dwithin_pairs" -> ((s, d) => {
      // distance-bounded point pairs across small dims (supplier × nation)
      prep(s, d, "supplier", "nation")
      s.sql("""
        SELECT /*+ BROADCAST(n) */ sp.s_suppkey, n.n_nationkey
        FROM supplier sp JOIN nation n
          ON ST_DWithin(ST_Point(sp.s_acctbal, CAST(sp.s_nationkey AS DOUBLE)),
                        ST_Point(CAST(n.n_nationkey AS DOUBLE) * 200.0D,
                                 CAST(n.n_nationkey AS DOUBLE)), 500.0D)
        ORDER BY s_suppkey, n_nationkey""")
    }),

    "q33_grid_spatial_join" -> ((s, d) => {
      // grid-partitioned spatial join (equi-join on covering cells) — the
      // no-broadcast path for large×large spatial joins
      prep(s, d, "nation", "customer")
      val rects = t(s, d, "nation").select(col("n_nationkey"),
        G.st_makeenvelope(
          col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
          col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
        ).as("rect"))
      val pts = t(s, d, "customer").select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
      graft.spatial.SpatialJoin.join(rects, pts, col("rect"), col("pt"),
          Seq("n_nationkey"), Seq("c_custkey"), G.st_contains, cellSize = 500.0)
        .groupBy("n_nationkey").agg(count(lit(1)).as("n_pts"))
        .orderBy("n_nationkey")
    }),

    "q34_asof_join" -> ((s, d) => {
      // as-of join: for each click, the user's latest at-or-before purchase
      // (DuckDB's native ASOF JOIN is the oracle)
      val ev = events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("purchase_id")) // unique (user, ts)
      graft.pipeline.AsOf.join(clicks, purchases, Seq("user_id"), "ts")
        .select(col("click_id"), col("purchase_id"))
        .orderBy("click_id")
    }),

    "q35_range_window" -> ((s, d) => {
      // sliding event-time frame: events in the trailing hour per user
      events(s, d).createOrReplaceTempView("events_us")
      s.sql("""
        SELECT user_id, event_id,
               count(*) OVER (PARTITION BY user_id ORDER BY unix_micros(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
        FROM events_us ORDER BY user_id, event_id""")
    }),

    "q36_union_agg" -> ((s, d) => {
      // dissolved union of per-nation rects per segment; disjoint
      // power-of-two rects → union area = 16384 × distinct nations.
      // st_union_agg is the JTS unary union: shared edges merge into
      // shells and holes (the same overlay q87 certifies for ST_Union),
      // though this query only reads the area. The per-group object
      // aggregation is bounded (≤25 rects/group) so the cost does not
      // grow with rows, only with groups.
      prep(s, d, "customer")
      s.sql("""
        SELECT c_mktsegment,
               ST_Area(st_union_agg(ST_MakeEnvelope(
                 CAST(c_nationkey AS DOUBLE) * 128.0D, 0.0D,
                 CAST(c_nationkey AS DOUBLE) * 128.0D + 128.0D, 128.0D))) AS union_area
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    "q37_term_stats" -> ((s, d) => {
      // TF/DF term statistics (exact integer counts) for low-id docs
      prep(s, d, "documents")
      Text.termStats(t(s, d, "documents").filter(col("doc_id") < 50), "text", "doc_id")
        .orderBy("doc_id", "term")
    }),

    "q38_boundary_length" -> ((s, d) => {
      // ST_Boundary + ST_Length over per-order envelopes; |dx|+|dy| doubles
      // are IEEE-exact (sqrt of a square of a representable value)
      prep(s, d, "lineitem")
      s.sql("""
        SELECT l_orderkey,
               ST_Length(ST_Boundary(ST_MakeEnvelope(
                 min(l_extendedprice), min(l_quantity),
                 max(l_extendedprice), max(l_quantity)))) AS boundary_len
        FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""")
    }),

    "q39_stopword_ratio" -> ((s, d) => {
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"), Text.stopwordRatio(col("text")).as("sw_ratio"))
        .orderBy("doc_id")
    }),

    "q40_st_crosses" -> ((s, d) => {
      // vertical line (x, 0)→(x, qty) vs the band y ∈ [10, 20]:
      // crosses ⟺ the line's interior enters the band ⟺ qty > 10.
      // Order on the SLIM keys BELOW the geometry projection (the
      // q63/q68 house pattern): a trailing ORDER BY above ST_Crosses
      // would execute the line construction twice — once in the
      // RangePartitioner's sampling pass, once in the exchange
      // (measured 0.46 s + 0.58 s duplicate stages). repartitionByRange
      // + sortWithinPartitions preserves the same total order; the
      // explicit partition count pins it against AQE coalescing.
      prep(s, d, "lineitem")
      t(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity")
        .repartitionByRange(s.sparkContext.defaultParallelism,
          col("l_orderkey"), col("l_linenumber"))
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .createOrReplaceTempView("li_ordered_q40")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               ST_Crosses(
                 ST_MakeLine(array(ST_Point(l_extendedprice, 0.0D),
                                   ST_Point(l_extendedprice, l_quantity))),
                 ST_GeomFromText('POLYGON ((0 10, 200000 10, 200000 20, 0 20, 0 10))')
               ) AS crosses
        FROM li_ordered_q40""")
    }),

    "q41_st_overlaps_disjoint" -> ((s, d) => {
      // stride-64 width-96 rects: |i−j|=1 → partial overlap; |i−j|≥2 → disjoint
      prep(s, d, "nation")
      s.sql("""
        SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
               ST_Overlaps(
                 ST_MakeEnvelope(CAST(a.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                                 CAST(a.n_nationkey AS DOUBLE) * 64.0D + 96.0D, 64.0D),
                 ST_MakeEnvelope(CAST(b.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                                 CAST(b.n_nationkey AS DOUBLE) * 64.0D + 96.0D, 64.0D)) AS overlaps,
               ST_Disjoint(
                 ST_MakeEnvelope(CAST(a.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                                 CAST(a.n_nationkey AS DOUBLE) * 64.0D + 96.0D, 64.0D),
                 ST_MakeEnvelope(CAST(b.n_nationkey AS DOUBLE) * 64.0D, 0.0D,
                                 CAST(b.n_nationkey AS DOUBLE) * 64.0D + 96.0D, 64.0D)) AS disjoint
        FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
        ORDER BY key_a, key_b""")
    }),

    "q42_st_equals_within" -> ((s, d) => {
      // per-key nested rects: equals ⟺ same key; within ⟺ same key
      prep(s, d, "nation")
      s.sql("""
        SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
               ST_Equals(
                 ST_MakeEnvelope(CAST(a.n_nationkey AS DOUBLE) * 256.0D, 0.0D,
                                 CAST(a.n_nationkey AS DOUBLE) * 256.0D + 256.0D, 256.0D),
                 ST_MakeEnvelope(CAST(b.n_nationkey AS DOUBLE) * 256.0D, 0.0D,
                                 CAST(b.n_nationkey AS DOUBLE) * 256.0D + 256.0D, 256.0D)) AS equal,
               ST_Within(
                 ST_MakeEnvelope(CAST(a.n_nationkey AS DOUBLE) * 256.0D + 64.0D, 64.0D,
                                 CAST(a.n_nationkey AS DOUBLE) * 256.0D + 128.0D, 128.0D),
                 ST_MakeEnvelope(CAST(b.n_nationkey AS DOUBLE) * 256.0D, 0.0D,
                                 CAST(b.n_nationkey AS DOUBLE) * 256.0D + 256.0D, 256.0D)) AS within
        FROM nation a JOIN nation b ON a.n_nationkey <= b.n_nationkey
        ORDER BY key_a, key_b""")
    }),

    "q29_multimodal_decode" -> ((s, d) => {
      prep(s, d, "documents")
      val media = Multimodal.syntheticMedia(t(s, d, "documents"), "doc_id")
      media.select(col("media_id"), Multimodal.decodeImageStub(col("payload")).as("img"))
        .select(col("img.width").as("width"))
        .groupBy("width").agg(count(lit(1)).as("n"))
        .orderBy("width")
    }),

    "q43_knn_join" -> ((s, d) => {
      // large×large KNN: grid-bucketed candidates (equi-join on cell id) +
      // exact residual — no full-right-side broadcast on the main path
      prep(s, d, "supplier", "customer")
      val supp = t(s, d, "supplier").select(col("s_suppkey"),
        G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))
      val cust = t(s, d, "customer").select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("cpt"))
      // NO pitch knob: the cell size is estimated from right-side statistics
      // inside the plan (broadcast one-row aggregate). The hand-tuned 64.0
      // this replaces was 7× off after a 10× density change (BENCH_SF1.md);
      // the estimate tracks density at every sf within ~1.2× of the best
      // hand tune — cellSize never affects correctness, only candidate
      // fan-out
      graft.spatial.SpatialJoin.knnJoinGridAuto(supp, cust, col("spt"), col("cpt"),
          Seq("s_suppkey"), Seq("c_custkey"), k = 3)
        .select(col("s_suppkey"), col("knn_rank").cast("long").as("knn_rank"),
          col("c_custkey"), col("knn_dist"))
        .orderBy("s_suppkey", "knn_rank")
    }),

    "q44_st_accessors" -> ((s, d) => {
      // structural accessors: dimension/srid/isempty as CASE constants,
      // WKB length by construction (ISO little-endian), AsBinary→FromWKB→
      // AsText round-trip against the literal WKT serialization
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               ST_Dimension(ST_GeomFromText(
                 CASE WHEN n_nationkey % 3 = 0 THEN 'POINT (1 2)'
                      WHEN n_nationkey % 3 = 1 THEN 'LINESTRING (0 0, 1 1)'
                      ELSE 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))' END)) AS dim,
               ST_SRID(ST_Point(CAST(n_nationkey AS DOUBLE), 0.0D)) AS srid,
               ST_IsEmpty(ST_GeomFromText(
                 CASE WHEN n_nationkey % 2 = 0 THEN 'POINT EMPTY'
                      ELSE 'POINT (3 4)' END)) AS empty,
               octet_length(ST_AsBinary(ST_GeomFromText(
                 CASE WHEN n_nationkey % 3 = 0 THEN 'POINT (1 2)'
                      WHEN n_nationkey % 3 = 1 THEN 'LINESTRING (0 0, 1 1)'
                      ELSE 'POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))' END))) AS wkb_len,
               ST_AsText(ST_GeomFromWKB(ST_AsBinary(
                 ST_Point(CAST(n_nationkey AS DOUBLE), 2.0D)))) AS rt_wkt
        FROM nation ORDER BY n_nationkey""")
    }),

    "q45_st_relate" -> ((s, d) => {
      // exact DE-9IM matrices for every polygon-pair topology class, plus
      // ST_IsSimple on a simple vs self-crossing linestring
      prep(s, d, "nation")
      s.sql("""
        WITH g AS (
          SELECT n_nationkey,
                 CAST(n_nationkey AS DOUBLE) * 256.0D AS x0
          FROM nation)
        SELECT n_nationkey,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D)) AS rel_equal,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0 + 64.0D, 64.0D, x0 + 192.0D, 192.0D)) AS rel_overlap,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0 + 128.0D, 0.0D, x0 + 256.0D, 128.0D)) AS rel_edge,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0 + 128.0D, 128.0D, x0 + 256.0D, 256.0D)) AS rel_corner,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0 + 32.0D, 32.0D, x0 + 96.0D, 96.0D)) AS rel_contains,
               ST_Relate(ST_MakeEnvelope(x0 + 32.0D, 32.0D, x0 + 96.0D, 96.0D),
                         ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D)) AS rel_within,
               ST_Relate(ST_MakeEnvelope(x0, 0.0D, x0 + 128.0D, 128.0D),
                         ST_MakeEnvelope(x0 + 1024.0D, 1024.0D, x0 + 1152.0D, 1152.0D)) AS rel_disjoint,
               ST_IsSimple(ST_GeomFromText('LINESTRING (0 0, 1 0, 2 1)')) AS simple_line,
               ST_IsSimple(ST_GeomFromText('LINESTRING (0 0, 2 2, 2 0, 0 2)')) AS bowtie_simple
        FROM g ORDER BY n_nationkey""")
    }),

    "q46_st_symdiff_buffer" -> ((s, d) => {
      // symdifference area on power-of-two rects (IEEE-exact overlay) and
      // buffer-disk containment probes far from the N-gon boundary
      prep(s, d, "nation")
      s.sql("""
        SELECT n_nationkey,
               ST_Area(ST_SymDifference(
                 ST_MakeEnvelope(CAST(n_nationkey AS DOUBLE) * 128.0D, 0.0D,
                                 CAST(n_nationkey AS DOUBLE) * 128.0D + 512.0D, 256.0D),
                 ST_MakeEnvelope(1024.0D, 64.0D, 1792.0D, 192.0D))) AS symdiff_area,
               ST_Contains(
                 ST_Buffer(ST_Point(CAST(n_nationkey AS DOUBLE) * 256.0D, 0.0D), 64.0D),
                 ST_Point(CAST(n_nationkey AS DOUBLE) * 256.0D + 32.0D, 0.0D)) AS buf_near,
               ST_Contains(
                 ST_Buffer(ST_Point(CAST(n_nationkey AS DOUBLE) * 256.0D, 0.0D), 64.0D),
                 ST_Point(CAST(n_nationkey AS DOUBLE) * 256.0D + 96.0D, 0.0D)) AS buf_far
        FROM nation ORDER BY n_nationkey""")
    }),

    "q161_interval_coverage" -> ((s, d) => {
      // merged-interval union length per user: each event covers
      // [ts, ts + value minutes); overlapping intervals dissolve into
      // islands via the classic sweep (running max of prior ends → island
      // flag → island ordinal). ONE shuffle on user_id — both windows
      // share the same (user, start, event_id) sort; all arithmetic is
      // integer µs, so the oracle replays it exactly.
      graft.pipeline.Sessions.intervalCoverage(events(s, d), "user_id",
          "ts", "event_id", expr("CAST(floor(value * 60000000.0) AS BIGINT)"))
        .orderBy("user_id")
    }),

    "q162_cusum" -> ((s, d) => {
      // one-sided CUSUM upward-shift detection per user (k = 0.5σ drift
      // allowance, h = 4σ alarm): the recursive Sᵢ = max(0, Sᵢ₋₁ + yᵢ)
      // via its prefix-sum closed form — two cumulative windows over one
      // (user, ts, event_id) sort, no recursion. μ/σ are rounded to 6dp
      // inside the operator so the downstream IEEE chain is engine-
      // independent; max_stat rounds at the edge.
      graft.pipeline.Stats.cusum(events(s, d), "user_id", "ts", "event_id",
          "value", k = 0.5, h = 4.0)
        .select(col("user_id"), col("n_alarms"), col("first_alarm_micros"),
          round(col("max_stat"), 6).as("max_stat"))
        .orderBy("user_id")
    }),

    "q163_bloom_prune" -> ((s, d) => {
      // Bloom-filter runtime join pruning: BUILDING customers' keys fold
      // into a 2²⁰-bit bitset (map-side OR-merge, one row), broadcast;
      // orders are pre-filtered by the codegen'd bit probe BEFORE the
      // join shuffle; the real join removes false positives → EXACT
      // revenue by order month. The pattern that turns a fact-sized
      // shuffle into a match-sized one at 100 TB.
      val dim = t(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val pruned = graft.pipeline.Bloom.prune(
        t(s, d, "orders"), dim, "o_custkey", "c_custkey")
      pruned.join(dim, pruned("o_custkey") === dim("c_custkey"))
        .groupBy(substring(col("o_orderdate").cast("string"), 1, 7).as("month"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("month")
    }),

    "q164_sorted_neighborhood" -> ((s, d) => {
      // sorted-neighborhood record linkage over a 32-char normalized
      // text prefix: global rank from the DISTRIBUTED ranking helper
      // (range partitions + per-partition row_number + tiny offset
      // frame — no single-reducer Window), w = 8 neighbor positions,
      // levenshtein ≤ 4 verify. Candidate volume is exactly n·w —
      // skew-immune by construction.
      // Key derivation is BOUNDED: the regex normalizes a 64-char raw
      // prefix, never the whole document.
      graft.pipeline.Dedup.sortedNeighborhoodPairs(
          t(s, d, "documents"), "doc_id",
          lower(substring(regexp_replace(substring(col("text"), 1, 64),
            "\\s+", " "), 1, 32)),
          w = 8, maxEd = 4)
        .orderBy("id_a", "id_b")
    }),

    "q165_twa" -> ((s, d) => {
      // time-weighted average of the event value per user (trapezoidal
      // integration — the honest mean of an irregularly-sampled signal,
      // where plain avg() over-weights chatty periods). One lead window
      // + one partial-aggregated groupBy.
      graft.pipeline.Sessions.timeWeightedAvg(events(s, d), "user_id",
          "ts", "event_id", "value")
        .select(col("user_id"), col("n_samples"),
          round(col("twa"), 6).as("twa"))
        .orderBy("user_id")
    }),

    "q166_attribution" -> ((s, d) => {
      // last-touch marketing attribution: each purchase credits the
      // latest click/view of the same user at-or-before it within a
      // 7-day lookback (stale or absent → unattributed bucket). Built
      // ON the engine's as-of join: one union + one user-partitioned
      // LOCF window — no per-conversion history scan.
      graft.pipeline.Sessions.lastTouchAttribution(events(s, d), "user_id",
          "ts", "event_type", "purchase", Seq("click", "view"),
          lookbackMicros = 7L * 24 * 3600 * 1000000L)
        .orderBy("touch_type")
    }),

    "q167_rolling_distinct" -> ((s, d) => {
      // exact trailing-7-day distinct actives per day (the WAU curve):
      // sliding distinct doesn't decompose over windows, but the COVER
      // trick makes it two ordinary aggregations — distinct (user, day),
      // ×7 bounded explode, distinct, count. No window function, fully
      // partial-aggregated, integer day arithmetic (µs DIV 86400e6).
      graft.pipeline.Sessions.rollingDistinct(events(s, d), "user_id",
          "ts", windowDays = 7)
        .orderBy("day")
    }),

    "q168_vocab_coverage" -> ((s, d) => {
      // vocabulary coverage curve: smallest frequency-ranked vocab
      // covering 50/75/90/95/99 % of token occurrences. The running
      // total over (count desc, token) comes from the DISTRIBUTED
      // ordered cumsum — range partitions + per-partition fold + tiny
      // offset frame — never a single-reducer `sum() OVER (ORDER BY)`.
      graft.pipeline.Text.vocabCoverage(t(s, d, "documents"), "text",
          Seq(0.5, 0.75, 0.9, 0.95, 0.99))
        .orderBy("threshold")
    }),

    "q169_item_cooccur" -> ((s, d) => {
      // bought-together item pairs with cosine normalization over order
      // baskets: one basket-keyed equi-self-join (fan-out bounded by
      // basket size), partial-aggregated pair counts, two item-keyed
      // frequency joins. Counts exact; cosine is one correctly-rounded
      // sqrt+divide — UNROUNDED cross-engine equality.
      graft.pipeline.Similarity.itemCooccurrence(t(s, d, "lineitem"),
          "l_orderkey", "l_partkey", minTogether = 2L)
        .orderBy("item_a", "item_b")
    }),

    "q170_ndcg" -> ((s, d) => {
      // NDCG@10 of cosine retrieval against label relevance: every 20th
      // vector queries the rest of the corpus; DCG discounts by
      // 1/log₂(rank+1), ideal DCG from corpus label counts. The q·k
      // ranked frame broadcasts to the label joins — the corpus is
      // scanned once, inside the top-k scorer.
      val emb = t(s, d, "embeddings")
      graft.pipeline.Similarity.ndcgAtK(
          emb.where(col("vec_id") % 20 === 0),
          emb.where(col("vec_id") % 20 =!= 0),
          "vec_id", "embedding", "label", k = 10)
        .select(col("query_id"), col("n_rel"), round(col("ndcg"), 6).as("ndcg"))
        .orderBy("query_id")
    }),

    "q171_residual_outliers" -> ((s, d) => {
      // model-based anomalies: per-event-type OLS of value on
      // hour-of-day, residual spread from the SAME moment pass
      // (σ_res = σ_y·√(1−r²)), rows beyond 3σ_res flagged. One
      // aggregate + one broadcast-back join; moments rounded to 6dp
      // inside the operator so the flag decision is engine-independent.
      val ev = events(s, d)
        .withColumn("__us", graft.pipeline.Time.tsMicros(col("ts")))
        .withColumn("hour_frac",
          expr("pmod(__us, 86400000000)").cast("double") / 3600000000.0)
        .select(col("event_id"), col("event_type"), col("hour_frac"),
          col("value"))
      graft.pipeline.Stats.residualOutliers(ev, Seq("event_type"),
          "hour_frac", "value", z = 3.0)
        .select(col("event_id"), col("event_type"),
          round(col("resid"), 6).as("resid"))
        .orderBy("event_id")
    }),

    "q172_session_paths" -> ((s, d) => {
      // top-20 session opening paths (first 5 event types per 30-min
      // session): session-bounded ordered prefix via array_sort(collect_
      // list(struct)) — no extra Window — then partial-aggregated path
      // counts and a bounded top-k on the path-cardinality frame.
      graft.pipeline.Sessions.topPaths(events(s, d), "user_id", "ts",
          "event_id", "event_type", gapMinutes = 30, prefixLen = 5,
          topK = 20)
    }),

    "q173_ref_integrity" -> ((s, d) => {
      // referential-integrity gate: orphan profile of orders→active
      // customers and lineitem→finished orders (filtered parents make
      // the orphan arithmetic non-trivial — the late-arriving-dim
      // shape). One left join + one aggregate per relation.
      val orders = t(s, d, "orders")
      graft.pipeline.Stats.refIntegrity(orders,
          t(s, d, "customer").where(col("c_acctbal") > 0),
          "o_custkey", "c_custkey", "orders->active_customer")
        .unionByName(graft.pipeline.Stats.refIntegrity(t(s, d, "lineitem"),
          orders.where(col("o_orderstatus") === "F"),
          "l_orderkey", "o_orderkey", "lineitem->finished_order"))
        .orderBy("relation")
    }),

    "q174_gini_skew" -> ((s, d) => {
      // key-skew diagnostic: Gini of the orders-per-customer
      // distribution via the distributed ordered rank — exact integer
      // sums, two divisions, UNROUNDED cross-engine equality.
      graft.pipeline.Stats.giniSkew(t(s, d, "orders"), "o_custkey")
    }),

    "q175_mutual_info" -> ((s, d) => {
      // categorical dependence: MI(lang; source) + marginal entropies +
      // normalized MI — the chi2 plan skeleton (one cell aggregate,
      // margins broadcast back), ln terms rounded at the edge.
      graft.pipeline.Stats.mutualInfo(t(s, d, "documents"), "lang", "source")
        .select(col("n"), round(col("mi"), 6).as("mi"),
          round(col("h_a"), 6).as("h_a"), round(col("h_b"), 6).as("h_b"),
          round(col("nmi"), 6).as("nmi"))
    }),

    "q176_skyline" -> ((s, d) => {
      // 2-D Pareto frontier of orders (maximize total price AND
      // recency): the sweep decomposes into a per-a max aggregate +
      // the DISTRIBUTED exclusive running max over the (a, max-b)
      // frame — no single-reducer Window, no quadratic dominance test.
      // Pure comparisons, certified with NO rounding.
      val pts = t(s, d, "orders").select(col("o_orderkey"),
        col("o_totalprice").as("price"),
        expr("CAST(datediff(o_orderdate, DATE'1990-01-01') AS BIGINT)")
          .as("day"))
      graft.pipeline.Pareto.skyline2d(pts, "price", "day")
        .orderBy("o_orderkey")
    }),

    "q177_psi" -> ((s, d) => {
      // drift gate: Population Stability Index of the event value
      // distribution, first half-month vs second, over a fixed
      // [0, 500]×25 bin domain. Two domain-sized bin aggregates + one
      // full-outer bin join; one-sided bins reported, not smoothed.
      val ev = events(s, d)
      graft.pipeline.Stats.psi(
          ev.where(dayofmonth(col("ts")) <= 15),
          ev.where(dayofmonth(col("ts")) > 15),
          "value", lo = 0.0, hi = 500.0, nBins = 25)
        .select(col("n_a"), col("n_b"), col("n_bins_used"),
          col("n_bins_onesided"), round(col("psi"), 6).as("psi"))
    }),

    "q178_rbo" -> ((s, d) => {
      // ranker agreement: truncated rank-biased overlap (p = 0.9,
      // k = 10) between the cosine and euclidean top-10 over the same
      // embedding corpus — a (query, item) equi-join of two bounded
      // ranking frames + a ≤ k depth explode; no re-ranking.
      val emb = t(s, d, "embeddings")
      val qs = emb.where(col("vec_id") < 10)
      val cos = graft.pipeline.Similarity
        .bruteForceTopK(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      val euc = graft.pipeline.Similarity
        .bruteForceTopKEuclidean(emb, qs, "vec_id", "embedding", 10)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
      graft.pipeline.Similarity.rboAtK(cos, euc, p = 0.9, k = 10)
        .select(col("query_id"), round(col("rbo"), 6).as("rbo"))
        .orderBy("query_id")
    }),

    "q179_holt" -> ((s, d) => {
      // Holt level+trend smoothing per user (α = 0.25, β = 0.5 — both
      // exact binary): the ewma discipline one step up — a single
      // codegen'd array fold over (time, tie)-ordered values with a
      // [level, trend] accumulator. UNROUNDED: the oracle's ordered
      // list_reduce replays the identical IEEE chain.
      graft.pipeline.Sessions.holt(events(s, d), "user_id", "ts",
          "event_id", "value", alpha = 0.25, beta = 0.5)
        .orderBy("user_id")
    }),

    "q180_gap_fill" -> ((s, d) => {
      // sensor gap filling: every 7th event's value is treated as
      // missing and linearly interpolated between its nearest observed
      // neighbors (LOCF/NOCB at the edges). Two IGNORE NULLS
      // navigation windows over ONE (user, t, tie) sort; the
      // conditional (value, ts) pairs go null together so the
      // neighbor reads are consistent row pairs.
      val ev = events(s, d).withColumn("value",
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")))
      graft.pipeline.Sessions.gapFill(ev, "user_id", "ts", "event_id",
          "value")
        .where(col("event_id") % 7 === 0)
        .select(col("user_id"), col("event_id"),
          round(col("filled"), 6).as("filled"), col("fill_kind"))
        .orderBy("user_id", "event_id")
    }),

    "q181_k_anonymity" -> ((s, d) => {
      // privacy release gate: k-anonymity of the (nation, segment)
      // quasi-identifier over customers at k = 10 — group count, the
      // smallest group, and how many rows sit in groups below k. One
      // partial-aggregated group count + one tiny rollup; exact-int
      // ratio, UNROUNDED.
      graft.pipeline.Stats.kAnonymity(t(s, d, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 10L)
    }),

    "q182_lexical_diversity" -> ((s, d) => {
      // corpus-health profile per language: token/type counts, TTR,
      // hapax legomena share — template spam shows as low TTR, OCR
      // noise as high hapax rate. Two partial-aggregated passes over
      // the (lang, token) count frame; UNROUNDED exact-int ratios.
      graft.pipeline.Text.lexicalDiversity(t(s, d, "documents"), "lang",
          "text")
        .orderBy("lang")
    }),

    "q183_rolling_median" -> ((s, d) => {
      // rolling 5-event median of the value per user — the robust
      // moving average. ROWS-bounded frame → per-row buffer ≤ 5;
      // interpolated (type-7) middle matches quantile_cont exactly.
      // One key shuffle, one Window node.
      graft.pipeline.Sessions.rollingMedian(events(s, d), "user_id",
          "ts", "event_id", "value", nEvents = 5)
        .select(col("user_id"), col("event_id"), col("n_in_window"),
          round(col("rolling_median"), 6).as("rolling_median"))
        .orderBy("user_id", "event_id")
    }),

    "q184_funnel_timing" -> ((s, d) => {
      // funnel latency profile: stage reach counts + exact p50/p90 of
      // the view→click and click→purchase first-completion delays —
      // one aggregate over the funnel's per-user frame (percentile ≡
      // quantile_cont, the q51 parity).
      // quantiles via Stats.exactQuantileCol over SORTED delta arrays:
      // builtin percentile and quantile_cont agree on the type-7
      // definition but not the internal IEEE chain (a p90 here landed
      // on x.5 µs in Spark and x.49994 in DuckDB — unroundable at 1e11
      // magnitude); the explicit chain is mirrored verbatim in the
      // oracle, making the values BIT-identical, certified unrounded.
      val q = graft.pipeline.Stats.exactQuantileCol _
      graft.pipeline.Sessions.funnel(events(s, d), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .agg(count(lit(1)).as("n_users"),
          sum(when(col("stage") >= 1, 1L).otherwise(0L)).as("n_s1"),
          sum(when(col("stage") >= 2, 1L).otherwise(0L)).as("n_s2"),
          sum(when(col("stage") >= 3, 1L).otherwise(0L)).as("n_s3"),
          sort_array(collect_list(unix_micros(col("t2")) -
            unix_micros(col("t1")))).as("__d12"),
          sort_array(collect_list(unix_micros(col("t3")) -
            unix_micros(col("t2")))).as("__d23"))
        .select(col("n_users"), col("n_s1"), col("n_s2"), col("n_s3"),
          q(col("__d12"), 0.5).as("p50_vc_us"),
          q(col("__d12"), 0.9).as("p90_vc_us"),
          q(col("__d23"), 0.5).as("p50_cp_us"),
          q(col("__d23"), 0.9).as("p90_cp_us"))
    }),

    "q185_markov_entropy" -> ((s, d) => {
      // behavioral predictability: per-state transition entropy of the
      // event-type Markov chain + each state's transition share (the
      // weighted sum is the process entropy rate). Domain-sized
      // aggregates over the transition frame.
      graft.pipeline.Sessions.markovEntropy(events(s, d))
        .select(col("from_type"), col("n_out"), col("share"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("from_type")
    }),

    "q186_bfs_hops" -> ((s, d) => {
      // multi-source BFS over the bought-together graph (q169's
      // co-occurrence pairs): minimum hops from parts 1–10, up to 3.
      // Each unrolled round = one equi-join of the node-sized distance
      // vector with the cached symmetric edge list + a partial-
      // aggregated min — the pageRank discipline.
      val pairs = graft.pipeline.Similarity.itemCooccurrence(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minTogether = 2L)
      graft.pipeline.Graph.bfsHops(pairs, "item_a", "item_b",
          t(s, d, "part").where(col("p_partkey") <= 10), "p_partkey",
          maxHops = 3)
        .orderBy("node")
    }),

    "q187_item_recs" -> ((s, d) => {
      // item-based collaborative filtering: top-3 new parts per
      // customer, scored by summed co-occurrence cosines against the
      // customer's basket history. Equi joins only; per-user top-k via
      // the bounded aggregate (no global Window); ranking on the
      // 6dp-rounded score so engine-order sum drift can't flip ranks.
      val ui = t(s, d, "orders")
        .join(t(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_orderkey"),
          col("l_partkey"))
      graft.pipeline.Similarity.itemRecommendations(ui, "cust",
          "l_orderkey", "l_partkey", k = 3)
        .orderBy("cust", "rank")
    }),

    "q188_peri_event" -> ((s, d) => {
      // peri-event time histogram: clicks relative to purchases of the
      // same user, ±1 h in 5-min buckets — "what happens around a
      // conversion". One user-keyed equi-join of two slim event slices
      // + a domain-sized histogram aggregate.
      graft.pipeline.Sessions.periEventHistogram(events(s, d), "user_id",
          "ts", "event_type", anchorType = "purchase", relType = "click",
          windowMicros = 3600000000L, bucketMicros = 300000000L)
        .orderBy("bucket")
    }),

    "q189_burstiness" -> ((s, d) => {
      // inter-event burstiness per user (Goh–Barabási (σ−μ)/(σ+μ)):
      // −1 metronome, 0 Poisson, →1 bursty. One lead window + one
      // moment aggregate.
      graft.pipeline.Sessions.burstiness(events(s, d), "user_id", "ts",
          "event_id")
        .select(col("user_id"), col("n_gaps"),
          // seconds, not µs: at 1e10 µs magnitudes a 6dp round is a
          // no-op and engine sum-order ulps leak through (q184 lesson)
          round(col("mean_gap_us") / 1000000.0, 6).as("mean_gap_s"),
          round(col("burstiness"), 6).as("burstiness"))
        .orderBy("user_id")
    }),

    "q190_weighted_pagerank" -> ((s, d) => {
      // edge-weighted PageRank over the bought-together graph: mass
      // flows by co-occurrence count / out-strength. 3 unrolled
      // rounds, same caching discipline and 10dp trajectory
      // certification as q111.
      val pairs = graft.pipeline.Similarity.itemCooccurrence(
        t(s, d, "lineitem"), "l_orderkey", "l_partkey", minTogether = 2L)
      val edges = pairs.select(col("item_a").as("src"),
          col("item_b").as("dst"), col("n_together").as("w"))
        .unionByName(pairs.select(col("item_b").as("src"),
          col("item_a").as("dst"), col("n_together").as("w")))
      graft.pipeline.Graph.pageRankWeighted(edges, "src", "dst", "w",
          iters = 3, damping = 0.85)
        .select(col("node"), round(col("rank"), 10).as("rank"))
        .orderBy("node")
    }),

    "q191_neyman_sample" -> ((s, d) => {
      // Neyman-allocated stratified sample: a 100-row budget splits
      // across languages ∝ N_h·σ_h(n_chars) — the survey-statistics
      // optimum (big AND varied strata get more); per-stratum exact-n_h
      // pick by md5 order via the bounded top-k (no Window). σ rounds
      // to 6dp before the allocation, so n_h is engine-identical.
      graft.pipeline.Sampling.neymanSample(t(s, d, "documents"), "lang",
          "doc_id", "n_chars", totalN = 100)
        .orderBy("lang", "rank")
    }),

    "q192_image_features" -> ((s, d) => {
      // REAL per-pixel image features (complexity/quality filtering):
      // horizontal total-variation energy per channel + distinct-value
      // count of green, over genuine synthesized PNGs. The closed-form
      // oracle (solid channels → TV 0; the x-gradient channel
      // telescopes to height·255) can only be matched by actually
      // inflating the IDAT stream and walking the pixel grid.
      prep(s, d, "customer")
      val base = t(s, d, "customer").filter(col("c_custkey") % 7 === 0)
      graft.pipeline.Multimodal.imageFeaturesBatched(
          graft.pipeline.Multimodal.syntheticPngMedia(base, "c_custkey"))
        .orderBy("media_id")
    }),

    "q193_doc_keywords" -> ((s, d) => {
      // keyword extraction: top-3 TF-IDF terms per document (doc_id <
      // 200 slice — q37/q133 precedent) via the bounded per-group
      // top-k, no Window. Per-term weights are single exact-count
      // expressions, so ranking is engine-deterministic; the weight
      // display-rounds (ln differs in the last ulp across libms).
      prep(s, d, "documents")
      graft.pipeline.Text.docKeywords(
          t(s, d, "documents").filter(col("doc_id") < 200), "text",
          "doc_id", k = 3)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"),
          col("df"), round(col("tfidf"), 6).as("tfidf"))
        .orderBy("doc_id", "rank")
    }),

    "q194_kaplan_meier" -> ((s, d) => {
      // Kaplan–Meier time-to-conversion: days from each user's first
      // event to their first purchase; users who never purchase are
      // RIGHT-CENSORED at their last activity (counted at risk, never
      // as failures — the estimator's whole point). One subject-sized
      // aggregate; the at-risk ladder and log-survival product run on
      // the distinct-duration (day-granularity) frame.
      val ev = events(s, d)
        .withColumn("__us", graft.pipeline.Time.tsMicros(col("ts")))
      val subj = ev.groupBy(col("user_id"))
        .agg(min(col("__us")).as("first_us"),
          min(when(col("event_type") === "purchase", col("__us")))
            .as("purch_us"),
          max(col("__us")).as("last_us"))
        .select(col("user_id"),
          expr("(coalesce(purch_us, last_us) - first_us) DIV 86400000000")
            .as("dur_days"),
          col("purch_us").isNotNull.as("observed"))
      graft.pipeline.Stats.kaplanMeier(subj, "dur_days", "observed")
        .select(col("t"), col("n_risk"), col("n_events"),
          round(col("survival"), 6).as("survival"))
        .orderBy("t")
    }),

    "q195_heaps_law" -> ((s, d) => {
      // Heaps'-law vocabulary growth fit V(n) ≈ K·n^β: each token
      // contributes at its first document ordinal (distributed rank),
      // new-token counts cumulate over the |docs|-sized frame
      // (distributed cumsum), one regression fits ln V on ln n.
      // β near 0 = template spam, near 1 = token noise.
      graft.pipeline.Text.heapsLaw(t(s, d, "documents"), "text", "doc_id")
    }),

    "q196_autocorrelation" -> ((s, d) => {
      // seasonality probe: lag-1..24 autocorrelation of the hourly
      // event-count series, missing hours ZERO-FILLED over the span (a
      // gap is a real zero — skipping it would shift every lag). One
      // corpus aggregate → a 720-bucket series; lags and correlations
      // are metadata-scale.
      graft.pipeline.Stats.autocorrelation(events(s, d), "ts",
          bucketMicros = 3600000000L, maxLag = 24)
        .select(col("lag"), col("n_pairs"), round(col("acf"), 6).as("acf"))
        .orderBy("lag")
    }),

    "q197_theil_sen" -> ((s, d) => {
      // robust trend of the hourly event-count series: Theil–Sen slope
      // (median of all pairwise slopes) + median-residual intercept —
      // outlier-immune where OLS is not. The pair space is span²/2
      // (domain-sized, corpus-independent); medians ride
      // exactQuantileCol, so the whole result is BIT-identical across
      // engines — certified UNROUNDED.
      graft.pipeline.Stats.theilSen(events(s, d), "ts",
          bucketMicros = 3600000000L)
    }),

    "q198_odds_ratio" -> ((s, d) => {
      // effect size for the A/B readout: odds ratio of purchasing for
      // users who clicked vs those who didn't, with the Woolf logit CI
      // — one subject rollup + ONE conditional-aggregate pass (the
      // welch shape: no join, single scan of the subject frame).
      val subj = events(s, d).groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "click", 1).otherwise(0))
            .as("clicked"),
          max(when(col("event_type") === "purchase", 1).otherwise(0))
            .as("purchased"))
      graft.pipeline.Stats.oddsRatio(subj,
          col("clicked") === 1, col("purchased") === 1)
        .select(col("a"), col("b"), col("c"), col("d"),
          round(col("odds_ratio"), 6).as("odds_ratio"),
          round(col("ci_lo"), 6).as("ci_lo"),
          round(col("ci_hi"), 6).as("ci_hi"))
    }),

    "q199_wow_overlap" -> ((s, d) => {
      // audience stickiness: Jaccard overlap of consecutive weeks'
      // distinct active users. One (user, week) distinct is the only
      // corpus shuffle; the intersection is a shifted equi-self-join
      // of that slim frame. Exact ints, UNROUNDED.
      graft.pipeline.Sessions.weekOverWeekOverlap(events(s, d),
          "user_id", "ts")
        .orderBy("week")
    }),

    "q200_pruned_range_join" -> ((s, d) => {
      // the REALISTIC 100 TB range-join access path, certified end to
      // end: event intervals land in an interval-bucketed layout (hive
      // partitions on the start's epoch-day,
      // Layout.intervalBucketedWrite), a ~2-day maintenance band prunes
      // the read to ~4 of 31 directories at the DIRECTORY level
      // (PartitionFilters — plan-asserted in PlanShapeSpec) BEFORE the
      // binned equi-range-join runs against the 25 windows. The oracle
      // replays the identical overlap join from the UNPARTITIONED events
      // table: green certifies the prune lost nothing (the margin is the
      // construction's max interval length). This is the q90 100×
      // density argument as a query instead of prose.
      prep(s, d, "nation")
      val dayUs = 86400000000L
      val maxLenUs = 7L * 60000000L // lengths are 1..7 min by construction
      val jan10Us = 1704844800000000L // 2024-01-10T00:00:00Z, mid-corpus
      val tsu = graft.pipeline.Time.tsMicros(col("ts"))
      val ev = events(s, d).select(col("event_id"),
        tsu.as("ev_start"),
        (tsu + (pmod(col("user_id"), lit(7L)) + lit(1L)) * lit(60000000L))
          .as("ev_end"),
        col("value"))
      // NOTE: building this DataFrame RUNS the layout write (a Spark
      // job) at construction time — the partitioned directory must
      // exist before readIntervalBand can plan the pruned scan. The
      // path is keyed by applicationId so concurrent runs (parallel
      // suites, two drivers on one host) never race overwrite-vs-read
      // on a shared directory; within one app the overwrite is
      // idempotent for a given (dataset, width).
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q200_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      graft.pipeline.Layout.intervalBucketedWrite(ev, "ev_start", base, dayUs)
      val nk = col("n_nationkey").cast("long")
      val win = t(s, d, "nation").select(nk.as("win_id"),
        (lit(jan10Us) + nk * lit(7200000000L)).as("w_start"),
        (lit(jan10Us) + nk * lit(7200000000L) + lit(5400000000L)).as("w_end"))
      val bandLo = jan10Us                                  // first w_start
      val bandHi = jan10Us + 24L * 7200000000L + 5400000000L // last w_end
      val slice = graft.pipeline.Layout.readIntervalBand(s, base, dayUs,
        bandLo, bandHi, maxLenUs)
      graft.pipeline.RangeJoin.overlapJoin(slice, "ev_start", "ev_end",
          win, "w_start", "w_end")
        .groupBy("win_id")
        .agg(count(lit(1)).as("pairs"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"),
          sum(least(col("ev_end"), col("w_end")) -
            greatest(col("ev_start"), col("w_start"))).as("overlap_us"))
        .orderBy("win_id")
    }),

    "q201_fuzzy_join_guarded" -> ((s, d) => {
      // the GUARDED fuzzy join face (q119's scale twin): a planted
      // template-spam cluster (every 10th part renamed to one constant —
      // 10% of the corpus in ONE duplicate group, the shape that makes
      // the unguarded ed-0 output quadratic) exercises the hub-star
      // guard: the hot group emits member→keeper pairs (linear) and
      // joins the ed-1 expansion through its keeper row alone, while
      // cold groups keep exact all-pairs semantics. The bound is
      // EXPLICIT (8) so the star rule fires on THIS fixture's planted
      // group regardless of the self-tuned bound's value (q119 now
      // certifies the AutoBound default itself — the exact-percentile
      // bound is SQL-replayable since round 11).
      prep(s, d, "part")
      val spammed = t(s, d, "part").select(col("p_partkey"),
        when(pmod(col("p_partkey"), lit(10)) === 0,
            lit("template spam part name"))
          .otherwise(col("p_name")).as("p_name"))
      Dedup.fuzzyPairsEd1(spammed, "p_partkey", "p_name",
          hotStringBound = 8)
        .orderBy("id_a", "id_b")
    }),

    "q202_stream_line_dedup" -> ((s, d) => {
      // STREAMING correctness face: the whole documents corpus replayed
      // through dedupLinesStream (foreachBatch + standing line-key
      // index) in THREE id-ordered micro-batches from an EMPTY index.
      // Under the append-only-id discipline the union of per-batch
      // outputs equals batch dedupLines over the full corpus — q101's
      // exact semantics — so the DuckDB oracle replays global
      // first-occurrence selection and certifies the streaming path
      // end-to-end (index append, cross-batch suppression, reassembly).
      // The feed is a FILE SOURCE over id-ordered slices
      // (writeOrderedFeed — no driver-side corpus collect, so this face
      // itself scales past bench size; closes the round-10 MemoryStream
      // ceiling). The oracle match doubles as the batch-ORDER check: an
      // out-of-order replay would keep the wrong first occurrences.
      // NOTE: building this DataFrame RUNS the stream to completion
      // (the q200 construction-side-effect precedent); dirs are keyed by
      // applicationId and wiped per construction so checkpoint state
      // never leaks between runs.
      prep(s, d, "documents")
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), LineFoldRe, "$1\n").as("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q202_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      Dedup.writeLineIndex(lined.limit(0), "text", "doc_id",
        s"$base/index", "\n", minChars = 12)
      writeOrderedFeed(s, lined, col("doc_id"), s"$base/feed", 3)
      val stream = s.readStream.schema(lined.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.dedupLinesStream(s, stream,
        "text", "doc_id", s"$base/index", s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      // the external committed-prefix read view (after shutdown every
      // batch is committed, so the gate is a no-op here — the view's
      // contract matters for LIVE readers and is suite-raced separately)
      graft.streaming.StreamOps.readDedupedLines(s, s"$base/out").get
        .select(col("doc_id"), col("text").as("text_dedup"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    }),

    "q203_pruned_grid_join" -> ((s, d) => {
      // the SPATIAL partition-pruned access path, certified end to end
      // (q200's planar twin): customer points land in a 2D grid-bucketed
      // layout (hive partitions on __gx/__gy, Layout.gridBucketedWrite),
      // five query windows prune the read to a band of cells at the
      // DIRECTORY level in BOTH axes (PartitionFilters — plan-asserted
      // in PlanShapeSpec) BEFORE the ST_Contains predicate join runs.
      // The oracle replays the identical containment join from the
      // UNPARTITIONED customer table: green certifies the prune lost
      // nothing (points have zero extent, so the margin is 0).
      // NOTE: building this DataFrame RUNS the layout write at
      // construction time (the q200 precedent); path keyed by
      // applicationId.
      prep(s, d, "customer", "nation")
      graft.spatial.functions.register(s)
      val pts = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").as("x"), col("c_nationkey").cast("double").as("y"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q203_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      graft.pipeline.Layout.gridBucketedWrite(pts, "x", "y", base,
        cellW = 2000.0, cellH = 5.0)
      // five windows inside x ∈ [1000, 4200], y ∈ [0, 14]: the prune
      // reads gx ∈ {0,1,2} of {-1..4} × gy ∈ {0,1,2} of {0..4}
      val rk = col("r_regionkey").cast("long")
      prep(s, d, "region")
      val win = t(s, d, "region").select(rk.as("win_id"),
        (lit(1000.0) + rk * 600.0).as("x0"),
        (lit(1800.0) + rk * 600.0).as("x1"),
        (rk * 2.0).as("y0"), (rk * 2.0 + 6.0).as("y1"))
      val slice = graft.pipeline.Layout.readGridWindow(s, base,
        2000.0, 5.0, 1000.0, 4200.0, 0.0, 14.0)
      slice.createOrReplaceTempView("grid_slice")
      win.createOrReplaceTempView("grid_windows")
      s.sql("""
        SELECT /*+ BROADCAST(w) */ w.win_id, count(*) AS n_pts,
               CAST(sum(CAST(p.x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
               min(p.c_custkey) AS min_cust
        FROM grid_slice p JOIN grid_windows w
          ON ST_Contains(ST_MakeEnvelope(w.x0, w.y0, w.x1, w.y1),
                         ST_Point(p.x, p.y))
        GROUP BY w.win_id ORDER BY w.win_id""")
    }),

    "q207_containment_join" -> ((s, d) => {
      // asymmetric SPAN-containment dedup (3-gram |A∩B|/|A| ≥ 0.9): the
      // snippet-in-page face Jaccard cannot see — every 20th doc's
      // first-8-words snippet (id+200000) is planted next to a quarter
      // of the corpus, and each must surface as contained in its source
      // with containment 1.0 while the reverse direction stays absent.
      // The unit is the word 3-GRAM, which only fires on genuinely
      // embedded spans (unigram containment degenerates on this
      // small-vocabulary fixture: 628k nested-vocab pairs vs 289 real
      // span pairs at sf0.1). The prefix-filtered join (a's rarest
      // grams ⋈ the full index) is recall-1 by the one-sided prefix
      // lemma; the oracle brute-forces candidates from ANY shared gram —
      // a SUPERSET of the prefix candidates — so a hash match certifies
      // the filter lost nothing. Counts exact; containment an exact-int
      // ratio.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val words = filter(split(trim(col("text")), "\\s+"), w => w =!= "")
      val base = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select(col("doc_id"), col("text"))
      val snippets = docs.filter(pmod(col("doc_id"), lit(20)) === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          array_join(slice(words, 1, 8), " ").as("text"))
      Dedup.containmentJoin(base.unionByName(snippets), "doc_id", "text",
          threshold = 0.9, shingle = 3)
        .orderBy("id_a", "id_b")
    }),

    "q219_mix_epochs" -> ((s, d) => {
      // epoch-aware mixing (q204's upsampling complement): weights 6:1
      // over two sources with an 8000-token budget push src3 past its
      // availability — it repeats up to the EXPLICIT 3-epoch cap (full
      // copies + a deterministic fractional epoch; post-cap deficit
      // reported) while src8 lands near 1 epoch with a small fractional
      // tail. Summarized per domain: the audit columns plus emitted
      // row/token totals over all copies. All integer arithmetic
      // replays bit-for-bit; token sums exact.
      prep(s, d, "documents")
      Sampling.mixToBudgetEpochs(t(s, d, "documents"), "doc_id", "source",
          Text.tokenCount(col("text")), MixEpochBudget, MixEpochWeights,
          maxEpochs = 3)
        .groupBy(col("source"))
        .agg(min(col("avail_tokens")).as("avail_tokens"),
          min(col("target_tokens")).as("target_tokens"),
          min(col("rate_bp_total")).as("rate_bp_total"),
          min(col("full_epochs")).as("full_epochs"),
          min(col("frac_bp")).as("frac_bp"),
          min(col("deficit")).as("deficit"),
          count(lit(1)).as("emitted_rows"),
          max(col("epoch")).as("max_epoch"),
          sum(Text.tokenCount(col("text")).cast("long")).as("emitted_tokens"))
        .orderBy("source")
    }),

    "q218_ngram_novelty" -> ((s, d) => {
      // 3-gram novelty of an eval slice against the even-id reference
      // corpus — the synthetic-data memorization gate. Planted verbatim
      // copies of reference docs (every 20th, id+300000) must score
      // novelty EXACTLY 0 while the odd-id docs score their true
      // fractions; counts exact, novelty one exact-int division
      // (unrounded), gram-less docs null.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
      val eval = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Text.ngramNovelty(eval, ref, "text", "doc_id", n = 3)
        .orderBy("doc_id")
    }),

    "q217_cramers_v" -> ((s, d) => {
      // Cramér's V of lang × source — q159's χ² read as a scale-free
      // effect size in [0,1], comparable across differently-sized
      // slices (the corpus-mix drift dashboard number). Same
      // single-cell-aggregate plan; 6dp absorbs the χ² Σ-order drift
      // through the √ (q159 precedent).
      prep(s, d, "documents")
      graft.pipeline.Stats.cramersV(t(s, d, "documents"), "lang", "source")
        .select(round(col("chi2"), 6).as("chi2"), col("dof"), col("n"),
          round(col("cramers_v"), 6).as("cramers_v"))
    }),

    "q216_roc_auc" -> ((s, d) => {
      // ROC-AUC via the exact rank identity AUC = U⁺/(n⁺·n⁻): a
      // deterministic md5-uniform score (q49 idiom) and a label
      // correlated with it through pure integer arithmetic (labelBucket
      // < 3000 + scoreBucket DIV 2 — replayed bit-for-bit), so the AUC
      // lands mid-range (~0.64) with real score ties at half credit.
      // Exact DECIMAL rank arithmetic end to end — auc certifies
      // UNROUNDED.
      prep(s, d, "customer")
      val sb = Sampling.hashBucket(col("c_custkey"))
      val lb = Sampling.hashBucket(
        concat(lit("L"), col("c_custkey").cast("string")))
      val scored = t(s, d, "customer").select(
        (sb.cast("double") / 10000.0).as("score"),
        (lb < lit(3000L) + (sb / lit(2)).cast("long")).as("label"))
      Stats.rocAuc(scored, "score", "label")
    }),

    "q215_spearman" -> ((s, d) => {
      // Spearman ρ between customer balance and nation key — the
      // monotone-association monitor (heavy nation-key ties exercise
      // the midrank path). Midranks double-count to integers over the
      // same prefix-sum substrate as q210/q211, the moments are exact
      // DECIMAL sums, and ρ is one fixed chain over their double casts
      // — certifies UNROUNDED.
      prep(s, d, "customer")
      Stats.spearman(t(s, d, "customer"), "c_acctbal", "c_nationkey")
    }),

    "q214_truncation_budget" -> ((s, d) => {
      // context-length design curve: docs truncated + token mass kept
      // at caps 32/64/128/256 — all |caps| conditional sums ride ONE
      // corpus scan and one one-row aggregate; counts exact integers,
      // keep_frac one exact-int division (unrounded).
      prep(s, d, "documents")
      Text.truncationBudget(t(s, d, "documents"), "text",
          lengths = Seq(32, 64, 128, 256))
        .orderBy("max_len")
    }),

    "q213_bh_fdr" -> ((s, d) => {
      // Benjamini–Hochberg FDR over 300 per-segment pseudo p-values
      // (md5-bucket uniforms keyed by customer id — the q49 determinism
      // idiom, so both engines synthesize identical p's): the
      // multiple-testing gate after a fleet of drift/AB tests. q-values
      // are the fixed chain p·m/rank + order-independent suffix minima
      // — the whole output certifies UNROUNDED; the step-up rejection
      // set falls out as q ≤ 0.05.
      prep(s, d, "customer")
      val hyp = t(s, d, "customer").filter(col("c_custkey") <= 300)
        .select(col("c_custkey").as("test_id"),
          (Sampling.hashBucket(col("c_custkey")).cast("double") / 10000.0)
            .as("p0"))
      Stats.benjaminiHochberg(hyp, "test_id", "p0", alpha = 0.05)
        .select(col("test_id"), col("p"), col("rank"), col("q_value"),
          col("rejected"))
        .orderBy("rank")
    }),

    "q212_hits" -> ((s, d) => {
      // HITS hubs & authorities (2 rounds) over the DIRECTED customer →
      // supplier purchase graph — q111's bidirectional sibling: hub =
      // "buys from many authoritative suppliers", authority = "bought
      // from by many strong hubs" (on the bipartite graph customers get
      // auth 0, suppliers hub 0). The iterations run unnormalized so
      // every intermediate score is an exact integer sum (auth₁ is the
      // in-degree), and the single end max-normalization is one exact
      // division — the whole output certifies UNROUNDED. The oracle
      // unrolls both rounds textually (the q111 trajectory discipline).
      prep(s, d, "orders", "lineitem")
      val pairs = t(s, d, "orders")
        .join(t(s, d, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("src"),
          concat(lit("s"), col("l_suppkey")).as("dst"))
        .distinct()
      Graph.hits(pairs, "src", "dst", iters = 2).orderBy("node")
    }),

    "q211_mann_whitney" -> ((s, d) => {
      // Mann–Whitney U between purchase and view event values — the
      // rank-robust sibling of q156's Welch t (no normality assumption,
      // outlier-immune) on the same slices. 2·R_a accumulates as exact
      // DECIMAL integers over the same one-sweep substrate as q210, so
      // U_a/U_b certify UNROUNDED; z rounds to 6dp (its σ chain is the
      // only parenthesization-sensitive step).
      prep(s, d)
      Stats.mannWhitneyU(
          events(s, d).filter(col("event_type") === "purchase"),
          events(s, d).filter(col("event_type") === "view"), "value")
        .select(col("n_a"), col("n_b"), col("u_a"), col("u_b"),
          round(col("z"), 6).as("z"))
    }),

    "q210_ks_test" -> ((s, d) => {
      // exact two-sample KS between purchase and view event values —
      // q156's Welch-t sibling for SHAPE drift (slices with equal means
      // pass a t-test and still fail KS). Cumulative counts are exact
      // integers riding ONE distributed range-partitioned prefix-sum
      // sweep (no single-reducer window); every F difference is two
      // exact-int divisions, so D and λ certify UNROUNDED.
      prep(s, d)
      Stats.ksTest(
        events(s, d).filter(col("event_type") === "purchase"),
        events(s, d).filter(col("event_type") === "view"), "value")
    }),

    "q209_embedding_drift" -> ((s, d) => {
      // embedding-space drift: each vector's kmeans cell (the SAME
      // certified two-round q107 trajectory) is the category, the
      // corpus splits into reference (even ids) vs candidate (odd ids)
      // slices, and categorical PSI over the cell mix is the drift
      // scalar — the production monitoring gate for embedding
      // pipelines. One-sided cells are reported, never smoothed. The
      // oracle replays trajectory + counts + the PSI formula; 6dp
      // absorbs the ln terms' Σ-order drift.
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val cents = Clustering.kmeansFit(emb, "vec_id", "embedding", 8, 2)
      val assigned = Clustering.kmeansAssign(emb, cents, "vec_id", "embedding")
        .select(col("neighbor_id").as("id"), col("list_id"))
      Stats.psiCategorical(
          assigned.filter(pmod(col("id"), lit(2)) === 0),
          assigned.filter(pmod(col("id"), lit(2)) === 1), "list_id")
        .select(col("n_a"), col("n_b"), col("n_keys_used"),
          col("n_keys_onesided"), round(col("psi"), 6).as("psi"))
    }),

    "q208_truncation_recall" -> ((s, d) => {
      // matryoshka truncation-recall: rank the corpus by cosine over the
      // first 8/16/32 of 64 dimensions and score recall@10 against the
      // full-dimension top-10 — the storage/quality curve that sizes an
      // embedding column before the ANN index is built. Both rankings
      // use the house (sim desc, id asc) rule, so the k-boundary is
      // deterministic; hits and k_full are exact integers, recall an
      // exact-int ratio. The oracle replays truncation as list slices
      // and the identical cosine chain (q26 precedent).
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      Similarity.truncationRecall(emb,
          emb.filter(pmod(col("vec_id"), lit(50)) === 0),
          "vec_id", "embedding", k = 10, dims = Seq(8, 16, 32))
        .orderBy("dim", "query_id")
    }),

    "q204_mix_to_budget" -> ((s, d) => {
      // token-budget corpus mixing: the mixture DESIGNER hands down
      // target weights (6 sources, 4:2:2:1:0.5:0.5) and a 4000-token
      // budget; the solver turns them into per-domain keep rates
      // (min(1, target/avail) in exact integer basis points) and samples
      // deterministically by md5 bucket — the "hit the 1T-token mix"
      // planning op, complementing q94's data-derived temperature rates.
      // Summarized per domain so each certified row carries the whole
      // audit: availability, target, rate, deficit (short domains are
      // kept whole, never silently upsampled), and what was kept. The
      // oracle replays the integer rate arithmetic (targets resolved to
      // the same literals driver-side) and the bucket predicate
      // bit-for-bit; token sums are exact integers.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      Sampling.mixToBudget(docs, "doc_id", "source",
          Text.tokenCount(col("text")), MixBudgetTokens, MixWeights)
        .groupBy(col("source"))
        .agg(min(col("avail_tokens")).as("avail_tokens"),
          min(col("target_tokens")).as("target_tokens"),
          min(col("rate_bp")).as("rate_bp"),
          min(col("deficit")).as("deficit"),
          count(lit(1)).as("kept_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("kept_tokens"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("source")
    }),

    "q205_cohen_kappa" -> ((s, d) => {
      // inter-annotator agreement (Cohen's κ): annotator A = the stored
      // lang label, annotator B = a deterministic noisy relabel (every
      // 5th doc shifts one step around the en→de→fr→es→zh cycle, every
      // 97th is unlabeled) — the label-quality gate before training on
      // annotated data. κ reduces to exact DECIMAL integer arithmetic
      // with ONE IEEE division (Stats.cohenKappa), so n/agree compare as
      // integers and po/pe/kappa compare UNROUNDED; null labels are
      // excluded on both sides like any un-annotated item.
      prep(s, d, "documents")
      val shifted = when(col("lang") === "en", lit("de"))
        .when(col("lang") === "de", lit("fr"))
        .when(col("lang") === "fr", lit("es"))
        .when(col("lang") === "es", lit("zh"))
        .when(col("lang") === "zh", lit("en"))
        .otherwise(col("lang"))
      val labeled = t(s, d, "documents").select(col("lang").as("a"),
        when(pmod(col("doc_id"), lit(97)) === 0, lit(null).cast("string"))
          .when(pmod(col("doc_id"), lit(5)) === 0, shifted)
          .otherwise(col("lang")).as("b"))
      Stats.cohenKappa(labeled, "a", "b")
    }),

    "q222_grid_margin_join" -> ((s, d) => {
      // the grid window read's LOSSLESS-MARGIN claim certified with real
      // extents (q203 proved only the margin-0 point case): customer
      // RECTANGLES keyed by their bbox MIN corner (extent up to 400×2)
      // land in the grid layout; the window read widens BOTH partition
      // filters by the max extent (xLo−400 and yLo−2 each cross a cell
      // boundary, so the margin genuinely adds a directory row in each
      // axis — PlanShapeSpec pins the widened bounds), and the ST
      // intersects join runs on the pruned slice. The oracle replays the
      // identical rectangle-window intersection from the UNPARTITIONED
      // table: green certifies the margin rescued every rectangle whose
      // min corner lies outside the window band but whose extent
      // reaches in.
      prep(s, d, "customer", "region")
      graft.spatial.functions.register(s)
      val rects = t(s, d, "customer").select(col("c_custkey"),
        col("c_acctbal").as("x"),
        col("c_nationkey").cast("double").as("y"),
        (col("c_custkey") % 5).cast("double") * 100.0).toDF(
        "c_custkey", "x", "y", "ex")
        .withColumn("ey", (col("c_custkey") % 3).cast("double"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q222_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      graft.pipeline.Layout.gridBucketedWrite(rects, "x", "y", base,
        cellW = 1000.0, cellH = 5.0)
      val rk = col("r_regionkey").cast("long")
      val win = t(s, d, "region").select(rk.as("win_id"),
        (lit(2100.0) + rk * 300.0).as("x0"),
        (lit(2900.0) + rk * 300.0).as("x1"),
        (lit(6.0) + rk * 2.0).as("y0"), (lit(9.0) + rk * 2.0).as("y1"))
      val slice = graft.pipeline.Layout.readGridWindow(s, base,
        1000.0, 5.0, 2100.0, 4100.0, 6.0, 17.0,
        maxExtentX = 400.0, maxExtentY = 2.0)
      slice.createOrReplaceTempView("grid_margin_slice")
      win.createOrReplaceTempView("grid_margin_windows")
      s.sql("""
        SELECT /*+ BROADCAST(w) */ w.win_id, count(*) AS n_rects,
               CAST(sum(CAST(r.x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
               min(r.c_custkey) AS min_cust
        FROM grid_margin_slice r JOIN grid_margin_windows w
          ON ST_Intersects(
               ST_MakeEnvelope(r.x, r.y, r.x + r.ex, r.y + r.ey),
               ST_MakeEnvelope(w.x0, w.y0, w.x1, w.y1))
        GROUP BY w.win_id ORDER BY w.win_id""")
    }),

    "q223_mix_zero_domain" -> ((s, d) => {
      // the zero-availability limit of the budget mixer, certified
      // (round-11 advisory): src5's text is blanked, so the listed
      // domain has rows but ZERO available tokens — the contract's limit
      // case keeps the domain whole (rate 10000) with deficit = the full
      // target instead of letting the DIV-by-zero null silently drop it
      // from the output AND the audit. The oracle replays the guard's
      // CASE arm and the md5 bucket predicate bit-for-bit.
      prep(s, d, "documents")
      val docs0 = t(s, d, "documents").withColumn("text",
        when(col("source") === "src5", lit("")).otherwise(col("text")))
      Sampling.mixToBudget(docs0, "doc_id", "source",
          Text.tokenCount(col("text")), MixZeroBudget, MixZeroWeights)
        .groupBy(col("source"))
        .agg(min(col("avail_tokens")).as("avail_tokens"),
          min(col("target_tokens")).as("target_tokens"),
          min(col("rate_bp")).as("rate_bp"),
          min(col("deficit")).as("deficit"),
          count(lit(1)).as("kept_docs"),
          sum(Text.tokenCount(col("text")).cast("long")).as("kept_tokens"),
          min(col("doc_id")).as("min_doc"))
        .orderBy("source")
    }),

    "q224_stream_ewma" -> ((s, d) => {
      // STATEFUL mapGroupsWithState certified end-to-end (q153's
      // streaming twin): the event stream replays in three ts-ordered
      // file-fed micro-batches through ewmaStream (state = one
      // (last ts/tie, n, level) row per user; each batch folds its rows
      // in (ts, tie) order with the identical α·x + (1−α)·acc IEEE
      // chain). Because the feed is globally ts-ordered — equal-ts rows
      // never split across slices (the quantile boundary is on the
      // value) — no row is ever dropped as late, so each user's LAST
      // emitted update equals the batch EWMA over the full series:
      // q153's oracle verbatim, UNROUNDED. foreachBatch appends each
      // update with its batch id; the final view is the per-key argmax
      // on batch id (never a driver-side corpus collect).
      prep(s, d, "events")
      val obs = t(s, d, "events").where(col("value").isNotNull)
        .select(col("user_id").as("key"), col("ts"),
          col("event_id").as("tie"), col("value").cast("double").as("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q224_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, obs, expr("unix_micros(ts)"), s"$base/feed", 3)
      import s.implicits._
      val stream = s.readStream.schema(obs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        .as[graft.streaming.StreamOps.Obs]
      // stateful parallelism sized to state volume: key count ≈ users
      withStatefulParallelism(s, 8) {
        val q = graft.streaming.StreamOps.ewmaStream(stream, alpha = 0.25)
          .toDF().writeStream.outputMode("update")
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             bid: Long) =>
              b.withColumn("__b", lit(bid))
                .write.mode("append").parquet(s"$base/out")
              ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      // the typed Obs encoder carries key as long; the certified output
      // follows the INPUT's id width (the variant-axis convention)
      val keyType = t(s, d, "events").schema("user_id").dataType
      s.read.parquet(s"$base/out")
        .groupBy(col("key"))
        .agg(max(struct(col("__b"), col("n_events"), col("ewma"))).as("__w"))
        .select(col("key").cast(keyType).as("user_id"),
          col("__w.n_events").as("n_events"), col("__w.ewma").as("ewma"))
        .orderBy("user_id")
    }),

    "q226_stream_sessionize" -> ((s, d) => {
      // flatMapGroupsWithState + EVENT-TIME TIMEOUT certified end-to-end
      // (q10's streaming twin, the last hard streaming surface): events
      // replay ts-ordered through StreamOps.sessionize (gap 30 min —
      // sessions close inline when a later event opens the next one, or
      // via the event-time timeout when the watermark passes
      // session_end + gap). A sentinel event for a user OUTSIDE the
      // data (-1) rides the last slice purely to push the watermark
      // past every real session's timeout so the final open sessions
      // emit; its own session stays open and never appears in Append
      // output. Closed sessions get session_seq by start order per user
      // in the batch read-back, making the output — and therefore the
      // oracle — q10's VERBATIM (session boundaries depend only on ts
      // values, so intra-batch tie order is immaterial, and equal-ts
      // rows never split across slices).
      prep(s, d, "events")
      import s.implicits._
      // value is unused by the certified output (q10 excludes the
      // order-dependent total) but the typed Event encoder needs it
      // non-null; user ids re-take the INPUT width at the read-back
      val uidType = t(s, d, "events").schema("user_id").dataType
      val ev = t(s, d, "events")
        .select(col("event_id").cast("long").as("event_id"), col("ts"),
          col("user_id").cast("long").as("user_id"),
          col("event_type"),
          coalesce(col("value").cast("double"), lit(0.0)).as("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q226_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val maxTs = writeOrderedFeed(s, ev, expr("unix_micros(ts)"),
        s"$base/feed", 3).toLong // exact feed max, no separate agg job
      publishFeedSlice(s.range(1).select(lit(-1L).as("event_id"),
        timestamp_micros(lit(maxTs + 30L * 86400000000L)).as("ts"),
        lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value")), s"$base/feed", 3)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        .as[graft.streaming.StreamOps.Event]
      val closed = graft.streaming.StreamOps.sessionize(stream,
        gapMinutes = 30).toDF()
      withStatefulParallelism(s, 8) {
        val q = closed.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start", "session_end")
      s.read.parquet(s"$base/out")
        .where(col("user_id") >= 0L)
        .withColumn("session_seq", row_number().over(w).cast("long"))
        .select(col("user_id").cast(uidType).as("user_id"),
          col("session_seq"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
        .orderBy("user_id", "session_seq")
    }),

    "q227_stream_latest_per_key" -> ((s, d) => {
      // the CDC upsert view certified end-to-end — and deliberately fed
      // OUT OF (event-time) ORDER: slices partition on event_id, which
      // is uncorrelated with ts, so late arrivals land in every batch
      // and the mapGroupsWithState head view must never regress (the
      // operator's whole contract: state keeps the (ts, value)-maximum;
      // a stale arrival re-emits the standing latest). Each key's LAST
      // emitted update therefore equals the global (ts, value)-argmax,
      // which the oracle computes directly from the raw table.
      prep(s, d, "events")
      import s.implicits._
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q227_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val feedSrc = t(s, d, "events")
        .select(col("user_id").cast("long").as("key"), col("ts"),
          col("event_type").as("value"), col("event_id"))
      writeOrderedFeed(s, feedSrc, col("event_id"), s"$base/feed", 3)
      val stream = s.readStream.schema(feedSrc.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        .drop("event_id").as[graft.streaming.StreamOps.Change]
      withStatefulParallelism(s, 8) {
        val q = graft.streaming.StreamOps.latestPerKey(stream)
          .toDF().writeStream.outputMode("update")
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             bid: Long) =>
              b.withColumn("__b", lit(bid))
                .write.mode("append").parquet(s"$base/out")
              ()
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      val uidType = t(s, d, "events").schema("user_id").dataType
      s.read.parquet(s"$base/out")
        .groupBy(col("key"))
        .agg(max(struct(col("__b"), col("ts"), col("value"))).as("__w"))
        .select(col("key").cast(uidType).as("user_id"),
          unix_micros(col("__w.ts")).as("ts_us"),
          col("__w.value").as("latest_type"))
        .orderBy("user_id")
    }),

    "q228_stream_window_stats" -> ((s, d) => {
      // the CANONICAL streaming shape — readStream → watermark →
      // tumbling event-time window → writeStream — certified end-to-end
      // (q73's streaming twin): per-hour per-type event counts over the
      // ts-ordered replay, finalized by the far-future sentinel (the
      // q225 pattern; the sentinel's own window never emits and is
      // filtered by the real-max cutoff). The certified columns are the
      // order-INSENSITIVE ones (counts — q73's discipline: summing
      // arbitrary doubles would couple the hash to reduction order);
      // the oracle replays epoch-aligned hour buckets from the raw
      // table.
      prep(s, d, "events")
      val ev = t(s, d, "events").select(col("ts"), col("event_type"),
        coalesce(col("value").cast("double"), lit(0.0)).as("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q228_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val maxTs = writeOrderedFeed(s, ev, expr("unix_micros(ts)"),
        s"$base/feed", 3).toLong // exact feed max, no separate agg job
      publishFeedSlice(s.range(1).select(
        timestamp_micros(lit(maxTs + 30L * 86400000000L)).as("ts"),
        lit("sentinel").as("event_type"), lit(0.0).as("value")),
        s"$base/feed", 3)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val out = graft.streaming.StreamOps.windowedEventStats(stream,
        windowLen = "1 hour", watermarkDelay = "1 hour")
      withStatefulParallelism(s, 8) {
        val q = out.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .where(col("window.start") <= timestamp_micros(lit(maxTs)))
        .select(unix_micros(col("window.start")).as("bucket_us"),
          col("event_type"), col("n_events"))
        .orderBy("bucket_us", "event_type")
    }),

    "q229_stream_window_extent" -> ((s, d) => {
      // the SPATIAL × STREAMING cross-section certified end-to-end: a
      // geometry stream (points synthesized from event value/user — the
      // identical expression on both engines) flows through
      // windowedExtent — per tumbling day, the streaming ST_Extent
      // (min/max of the WKB envelope accessors, order-insensitive by
      // construction) — and the oracle replays the per-window bbox from
      // the raw coordinates. Sentinel + sizing per the q225/q220 notes.
      prep(s, d, "events")
      graft.spatial.functions.register(s)
      val ev = t(s, d, "events").select(col("ts"),
        expr("ST_Point(CAST(value AS DOUBLE), CAST(user_id AS DOUBLE))")
          .as("geom"))
        .where(col("geom").isNotNull)
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q229_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val maxTs = writeOrderedFeed(s, ev, expr("unix_micros(ts)"),
        s"$base/feed", 3).toLong // exact feed max, no separate agg job
      publishFeedSlice(s.range(1).select(
        timestamp_micros(lit(maxTs + 30L * 86400000000L)).as("ts"),
        expr("ST_Point(0.0D, 0.0D)").as("geom")), s"$base/feed", 3)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val out = graft.streaming.StreamOps.windowedExtent(stream, "geom",
        windowLen = "1 day", watermarkDelay = "1 hour")
      withStatefulParallelism(s, 8) {
        val q = out.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .where(col("window.start") <= timestamp_micros(lit(maxTs)))
        .select(unix_micros(col("window.start")).as("bucket_us"),
          col("xmin"), col("ymin"), col("xmax"), col("ymax"), col("n"))
        .orderBy("bucket_us")
    }),

    "q225_stream_psi" -> ((s, d) => {
      // the WINDOWED streaming aggregate certified end-to-end (q177's
      // live face): second-half event values replay ts-ordered through
      // psiStream — per 7-day event-time window, one-hot histogram
      // arrays element-wise-sum in ONE stateful aggregate and PSI
      // evaluates against the broadcast first-half baseline shares. A
      // far-future SENTINEL row (value in-domain, 30 days past the real
      // maximum) rides the last feed slice purely to push the watermark
      // past every real window's end so append mode finalizes them; its
      // own window never emits and the face filters windows past the
      // real maximum. The oracle recomputes per-window binned PSI from
      // the raw table with the identical epoch-aligned integer window
      // arithmetic; psi rounds to 6dp (ln libm), n / n_bins_used exact.
      prep(s, d, "events")
      val ev = t(s, d, "events")
      val baseline = ev.where(dayofmonth(col("ts")) <= 15)
      val secondHalf = ev
        .where(dayofmonth(col("ts")) > 15 && col("value").isNotNull)
        .select(col("ts"), col("value").cast("double").as("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q225_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val maxTs = writeOrderedFeed(s, secondHalf, expr("unix_micros(ts)"),
        s"$base/feed", 3).toLong // exact feed max, no separate agg job
      publishFeedSlice(s.range(1).select(
        timestamp_micros(lit(maxTs + 30L * 86400000000L)).as("ts"),
        lit(250.0).as("value")), s"$base/feed", 3)
      val stream = s.readStream.schema(secondHalf.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val out = graft.streaming.StreamOps.psiStream(stream, baseline,
        "value", lo = 0.0, hi = 500.0, nBins = 25,
        windowLen = "7 days", watermarkDelay = "1 hour")
      // one windowed-aggregate store per partition, a handful of open
      // windows total
      withStatefulParallelism(s, 8) {
        val q = out.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .where(col("window.start") <= timestamp_micros(lit(maxTs)))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("n"), col("n_bins_used"), round(col("psi"), 6).as("psi"))
        .orderBy("win_start_us")
    }),

    "q220_stream_interval_join" -> ((s, d) => {
      // STREAM-STREAM interval join certified end-to-end (q90's
      // streaming sibling): clicks and purchases replay as ts-ordered
      // file-fed streams (writeOrderedFeed × 2, three micro-batches
      // each), StreamOps.intervalJoin pairs each click with the same
      // user's purchases inside [click.ts, click.ts + 30 min] — both
      // sides watermarked, the range condition bounding state in both
      // directions — and the appended parquet sink is summarized per
      // user. Because both feeds are ts-ordered, no row is late and no
      // buffered row is evicted before its last possible match (watermark
      // = min(max ts seen) − delay ≤ every unseen ts), so the streamed
      // pair set must equal the batch inequality join the DuckDB oracle
      // computes — gap sums are exact integer microseconds.
      prep(s, d, "events")
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q220_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, clicks, expr("unix_micros(ts)"), s"$base/feedL", 3)
      writeOrderedFeed(s, purch, expr("unix_micros(ts)"), s"$base/feedR", 3)
      val ls = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feedL")
      val rs = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feedR")
      val joined = graft.streaming.StreamOps.intervalJoin(ls, rs,
        Seq("user_id"), within = "30 minutes",
        watermarkDelay = "30 minutes")
      // a stream-stream join keeps FOUR state stores per partition — see
      // withStatefulParallelism (this face measured 18.8 → 7.1 s at 32 → 8)
      withStatefulParallelism(s, 8) {
        val q = joined.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("pairs"),
          sum(unix_micros(col("ts_r")) - unix_micros(col("ts"))).as("gap_us"),
          min(col("purchase_id_r")).as("first_purchase"),
          max(col("click_id")).as("last_click"))
        .orderBy("user_id")
    }),

    "q221_stream_curate" -> ((s, d) => {
      // the COMPOSED curation pipeline as a stream (q54's streaming
      // twin, the q202 replay pattern): the documents corpus replays in
      // three id-ordered file-fed micro-batches through curateStream —
      // per-batch exact dedup + LSH near-dup removal, cross-batch
      // suppression via the growing sketch index with EXACT Jaccard
      // verification against the standing survivors (exactVerify: the
      // estimate gate can differ at threshold-adjacent pairs, and this
      // corpus's planted ~0.85-similarity pairs sit near τ = 0.8), and
      // per-shard pack offsets continued across batches. Under the
      // append-only id discipline the union of batch outputs equals
      // batch Curate.curate over the full corpus, so the oracle is
      // q54's CTE chain verbatim.
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q221_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      Dedup.writeMinhashIndex(docs.limit(0), "text", "doc_id", s"$base/index")
      writeOrderedFeed(s, docs, col("doc_id"), s"$base/feed", 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.curateStream(s, stream,
        "text", "doc_id", s"$base/index", s"$base/out", s"$base/ckpt",
        Curate.Config(minQuality = 0.5, langs = Seq("en"),
          nearDupJaccard = 0.8,
          splits = Seq(("train", 8000), ("val", 1000), ("test", 1000)),
          packTokens = 512, shards = 8,
          hotBucketBound = Int.MaxValue)) // q54's exact config
      try q.processAllAvailable() finally q.stop()
      // external committed-prefix read view (q202's note applies)
      graft.streaming.StreamOps.readCurated(s, s"$base/out").get
        .select(col("doc_id"), col("quality"), col("lang"), col("split"),
          col("shard").cast("long").as("shard"),
          col("toks").cast("long").as("toks"),
          col("pack_offset"), col("pack_id"))
        .orderBy("doc_id")
    }),

    "q230_stream_neardup_flags" -> ((s, d) => {
      // the LAST stateful streaming dedup operator certified end-to-end:
      // the documents corpus replays in THREE micro-batches through
      // nearDupFlagsStream — each batch MinHash-sketches, bands, and
      // equi-joins against the STANDING sketch index (flags appended),
      // then its own sketches GROW the index for later batches. Batch
      // membership must be SQL-replayable, so slices partition on
      // doc_id mod 3 (not a data-dependent quantile): the flag set is
      // exactly the cross-batch pair slice of the LSH candidate set,
      // directed later-batch → earlier-batch. The oracle replays the
      // ENTIRE sketch algebra from q53's signature mirror — banding =
      // sub-signature equality (xxhash64 on the Spark side is injective
      // up to a 2⁻⁶⁴ collision), est_jaccard = exact signature-agreement
      // count / 64 — so the estimate FILTER itself is mirrored exactly,
      // no separation argument needed. Batch-internal pairs are not
      // flagged by contract (mod classes differ ⟺ cross-batch).
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q230_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(docs.withColumn("__slice",
        (col("doc_id") % 3).cast("int")), s"$base/feed", 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.nearDupFlagsStream(s, stream,
        "text", "doc_id", s"$base/index", s"$base/out", s"$base/ckpt",
        minEstJaccard = 0.5)
      try q.processAllAvailable() finally q.stop()
      // oracle-alignment precondition, asserted rather than assumed: the
      // operator's DEFAULT hot-bucket guard must never trip on this
      // corpus or the hub-star pairs would diverge from the oracle's
      // full band algebra. Asserted against the EXACT self-tuned bound
      // (greatest(64, 16·p99.9 occupancy) — Dedup.occupancyBound, the
      // operators' own arithmetic; the sf10 corpus holds max occupancy
      // 153 under a p99.9-driven bound of 320, so the floor alone would
      // be too strict). Fails loudly (not as a silent hash red) if a
      // future corpus crosses its bound.
      val occ = s.read.parquet(s"$base/index")
        .select(posexplode(col("bh")).as(Seq("band", "bucket")))
        .groupBy("band", "bucket").agg(count(lit(1)).as("__occ"))
      val occStats = occ.agg(max("__occ").as("__max"))
        .crossJoin(Dedup.occupancyBound(occ)).collect()(0)
      require(occStats.getLong(0) <= occStats.getLong(1),
        s"q230: band-bucket occupancy ${occStats.getLong(0)} exceeds the " +
          s"self-tuned AutoBound ${occStats.getLong(1)} — the default hub " +
          "guard would trip and the oracle does not replay hub-star " +
          "pairs; replay the bound in SQL (q119's pattern) before " +
          "certifying this corpus")
      s.read.parquet(s"$base/out")
        .select(col("id"), col("corpus_id"), col("est_jaccard"))
        .orderBy("id", "corpus_id")
    }),

    "q231_stream_agg_state" -> ((s, d) => {
      // the log-structured aggregate-state maintenance operator certified
      // end-to-end: events replay in three ts-ordered micro-batches
      // through aggStateStream (each batch appends ONE partial-aggregate
      // row per touched key — the standing state is never read or
      // rewritten), then readAggState recombines the log; the result
      // must equal one batch aggregation over the union, which is the
      // oracle. Values aggregate as DECIMAL(18,6): partial sums combine
      // EXACTLY across batches and engines (a double sum would couple
      // the hash to reduction order); the final projection casts back
      // to double, exact on both sides.
      prep(s, d, "events")
      val rows = t(s, d, "events").select(col("ts"), col("event_type"),
        (col("user_id") % 8).cast("long").as("uid_bucket"),
        col("value").cast("decimal(18,6)").as("v"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q231_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, rows, expr("unix_micros(ts)"), s"$base/feed", 3)
      val stream = s.readStream.schema(rows.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        .drop("ts")
      val q = graft.streaming.StreamOps.aggStateStream(s, stream,
        Seq("event_type", "uid_bucket"), "v", s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      graft.pipeline.Materialize.readAggState(s, s"$base/state",
          Seq("event_type", "uid_bucket"))
        .select(col("event_type"), col("uid_bucket"), col("n"),
          col("total").cast("double").as("total"),
          col("min_val").cast("double").as("min_val"),
          col("max_val").cast("double").as("max_val"))
        .withColumn("avg_val", col("total") / col("n"))
        .orderBy("event_type", "uid_bucket")
    }),

    "q232_stream_restart_recovery" -> ((s, d) => {
      // checkpoint RESTART recovery — the production streaming contract
      // no other face exercises: the q202 line-dedup replay is split
      // across TWO StreamingQuery lifetimes sharing one checkpoint.
      // Slices 0-1 are published and fully drained by query #1, which
      // then STOPS; slice 2 is published and a NEW query starts from the
      // same checkpoint, which must resume exactly after slice 1 —
      // re-processing a committed slice would append duplicate documents
      // (rows mismatch), skipping ahead would lose slice 2's output — and
      // the combined appended output must equal the batch line-dedup over
      // the full corpus: q202's oracle verbatim. Slices come from ONE
      // writeOrderedFeed into a staging dir and are renamed into the
      // watched dir per phase (rename preserves the pinned mtimes, so
      // replay order stays certified).
      prep(s, d, "documents")
      val lined = t(s, d, "documents").select(col("doc_id"),
        regexp_replace(col("text"), LineFoldRe, "$1\n").as("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q232_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      Dedup.writeLineIndex(lined.limit(0), "text", "doc_id",
        s"$base/index", "\n", minChars = 12)
      writeOrderedFeed(s, lined, col("doc_id"), s"$base/stage", 3)
      new java.io.File(s"$base/feed").mkdirs()
      def publish(k: Int): Unit = {
        val name = f"slice-$k%03d.parquet"
        java.nio.file.Files.move(
          new java.io.File(s"$base/stage", name).toPath,
          new java.io.File(s"$base/feed", name).toPath)
      }
      def drainOnce(): Unit = {
        val stream = s.readStream.schema(lined.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = graft.streaming.StreamOps.dedupLinesStream(s, stream,
          "text", "doc_id", s"$base/index", s"$base/out", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      publish(0); publish(1)
      drainOnce() // lifetime #1: batches 0-1 committed, query stopped
      publish(2)
      drainOnce() // lifetime #2: NEW query, SAME checkpoint — slice 2 only
      s.read.parquet(s"$base/out/data")
        .select(col("doc_id"), col("text").as("text_dedup"),
          col("n_kept"), col("n_removed"))
        .orderBy("doc_id")
    }),

    "q233_duplicate_spans" -> ((s, d) => {
      // EXACT-SUBSTRING duplicate spans at 8-token resolution — the
      // suffix-array training-data dedup operator's Spark-first
      // equivalence (any duplicated run of >= l tokens contains a
      // duplicated l-gram; flag positions whose gram occurs >= 2 times
      // corpus-wide, merge overlapping/adjacent windows per doc). The
      // corpus plants a verbatim copy of every 7th document (id+700000):
      // whole-doc spans must surface in BOTH the original and the copy at
      // identical offsets, and the synthetic corpus's natural repeated
      // runs flag wherever they truly recur. Output is all exact
      // integers — 1-based inclusive token indices, maximal spans only.
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 700000).as("doc_id"), col("text")))
      Dedup.duplicateSpans(corpus, "text", "doc_id", l = 8)
        .orderBy("doc_id", "span_start")
    }),

    "q239_remove_duplicate_spans" -> ((s, d) => {
      // the span-REMOVAL arm over q233's corpus: every duplicated span is
      // cut from the text and the per-doc token savings reported — the
      // operator the published substring-dedup pipelines actually run.
      // Cleaned text certifies VERBATIM (whitespace-normalized token
      // reassembly, identical on both engines), so a mis-merged island or
      // off-by-one cut cannot hide in the counts.
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val corpus = docs.unionByName(docs
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select((col("doc_id") + 700000).as("doc_id"), col("text")))
      Dedup.removeDuplicateSpans(corpus, "text", "doc_id", l = 8)
        .orderBy("doc_id")
    }),

    "q240_contamination_spans" -> ((s, d) => {
      // exact-substring DECONTAMINATION localization: q233's span algebra
      // pointed at a reference corpus — WHERE does a training document
      // verbatim-overlap the benchmark (q218's novelty face tells how
      // much; this tells where, span-precise). Same eval construction as
      // q218: reference = even ids, train = odd ids + planted verbatim
      // copies of every 20th doc — the plants must contaminate end to
      // end, the odd docs only where they truly share 8-token runs.
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
      val train = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      Dedup.contaminationSpans(train, ref, "text", "doc_id", l = 8)
        .orderBy("doc_id", "span_start")
    }),

    "q241_stream_contamination" -> ((s, d) => {
      // the decontamination gate LIVE: q240's train corpus replays as an
      // id-ordered file feed against the same fixed benchmark (the even
      // docs), the pinned gram-digest probe appends each batch's
      // contaminated spans, and the union must hash-match the BATCH
      // operator on the whole corpus — q240's oracle verbatim (spans are
      // per-document, so batch boundaries cannot move them).
      prep(s, d, "documents")
      val docs = t(s, d, "documents")
      val ref = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
        .select(col("doc_id"), col("text"))
      val train = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 0)
          .select((col("doc_id") + 300000).as("doc_id"), col("text")))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q241_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, train, col("doc_id"), s"$base/feed", 3)
      val stream = s.readStream.schema(train.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.contaminationSpansStream(s, stream,
        ref, "text", "doc_id", 8, s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
    }),

    "q242_stream_duplicate_spans" -> ((s, d) => {
      // the flagship substring-dedup operator LIVE with a GROWING gram
      // index: the corpus replays in three doc_id-mod-3 micro-batches;
      // a position flags iff its 8-gram repeats within its own batch or
      // appeared in any EARLIER batch (arrival-time semantics — a later
      // duplicate never retroactively flags the first copy). Batch
      // membership is SQL-replayable (mod 3), so the oracle computes the
      // same rule from per-(gram, batch) counts and first-sighting
      // batches, then runs q233's island merge. Exactly-once plumbing is
      // the q230 batch-partition discipline, suite-pinned separately.
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q242_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(docs.withColumn("__slice",
        (col("doc_id") % 3).cast("int")), s"$base/feed", 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.duplicateSpansStream(s, stream,
        "text", "doc_id", 8, s"$base/index", s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      // external committed-prefix read view (q202's note applies)
      graft.streaming.StreamOps.readDuplicateSpans(s, s"$base/out",
          s"$base/index").get
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_len"))
        .orderBy("doc_id", "span_start")
    }),

    "q243_stream_heavy_hitters" -> ((s, d) => {
      // streaming EXACT heavy hitters with log-structured count-min
      // state: lineitem part keys replay in three micro-batches, each
      // appending only its own batch-sized cell/data partitions (the
      // standing log is never read inside the loop — the aggStateStream
      // cost class); the read view merges the cell log (cells ADD) and
      // runs the exact pass, so the answer is q134's brute-force result
      // over everything streamed and the plain HAVING oracle certifies
      // it. Batch membership (l_orderkey mod 3) is output-invisible —
      // exactness over the union is the contract.
      prep(s, d, "lineitem")
      val rows = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q243_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(rows.select(col("pk"),
        (col("ok") % 3).cast("int").as("__slice")), s"$base/feed", 3)
      val stream = s.readStream.schema("pk LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.heavyHittersStream(s, stream, "pk",
        s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      graft.streaming.StreamOps.readHeavyHitters(s, s"$base/state", "pk",
          support = 0.00075)
        .orderBy("pk")
    }),

    "q244_hll_distinct" -> ((s, d) => {
      // deterministic HyperLogLog distinct counting, exercised through
      // the log-structured index path: even part keys seed the register
      // index, odd keys append (zero reads of standing state), the
      // reader max-merges. The md5-derived bucket/rank algebra is pure
      // SQL, so the oracle replays the ENTIRE sketch — registers,
      // integer-exact harmonic sum Σ2^(49−M) (order-independent BIGINT,
      // the float-sum hash coupling designed out), α·m²/Z raw estimate,
      // and the published small-range correction m·ln(m/V), which arm
      // fires depending on SF (raw at sf0.1's ~20k distinct keys,
      // linear-counting below 2.5m at the smaller SFs) — both engines
      // take the same branch from the same integers.
      prep(s, d, "lineitem")
      val pk = t(s, d, "lineitem").select(col("l_partkey").cast("long").as("pk"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q244_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      graft.pipeline.Stats.writeHllIndex(pk.filter(col("pk") % 2 === 0),
        "pk", s"$base/idx")
      graft.pipeline.Stats.appendHllIndex(s, s"$base/idx",
        pk.filter(col("pk") % 2 === 1), "pk")
      graft.pipeline.Stats.readHllDistinct(s, s"$base/idx")
        .select(col("m"), col("registers_set"), col("harmonic_sum"),
          round(col("est_raw"), 6).as("est_raw"),
          round(col("distinct_est"), 6).as("distinct_est"))
    }),

    "q245_stream_distinct_count" -> ((s, d) => {
      // the streaming cardinality monitor: events replay in three
      // user_id-mod-3 micro-batches — sliced by USER so every batch
      // introduces new keys and the cumulative trajectory GROWS (an
      // event-sliced feed would put every user in every batch, making a
      // broken merge indistinguishable from a correct one: registers are
      // a pure function of the distinct value set). Each batch appends
      // its own HLL register partition (max-mergeable — the log is never
      // read inside the loop); the face folds every batch PREFIX of the
      // log, so the certified object is the cumulative "distinct users
      // seen so far" trajectory, not just the final point. Batch
      // membership is SQL-replayable (mod 3) and the register algebra is
      // the q244 oracle's, evaluated at each prefix.
      prep(s, d, "events")
      val ev = t(s, d, "events")
        .select(col("user_id").cast("long").as("uid"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q245_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(ev.withColumn("__slice",
        (col("uid") % 3).cast("int")), s"$base/feed", 3)
      val stream = s.readStream.schema("uid LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.distinctCountStream(s, stream, "uid",
        s"$base/idx", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      val idx = s.read.parquet(s"$base/idx")
      (0 to 2).map(b => graft.pipeline.Stats
          .hllEstimate(idx.filter(col("__batch") <= b), p = 12)
          .select(lit(b.toLong).as("upto_batch"), col("m"),
            col("registers_set"), col("harmonic_sum"),
            round(col("est_raw"), 6).as("est_raw"),
            round(col("distinct_est"), 6).as("distinct_est")))
        .reduce(_.unionByName(_))
        .orderBy("upto_batch")
    }),

    "q246_hll_distinct_by_group" -> ((s, d) => {
      // grouped HLL — the daily-active-users telemetry: distinct users
      // per epoch-day (the q75 tz-proof integer day index) from one
      // grouped register aggregate over ≤ |days|·4096 rows, never a
      // value-keyed distinct shuffle. The fixture's per-day user sets
      // genuinely differ (15, 14, 11, … at sf0.001), so a register
      // frame leaking across groups cannot hash-match; the oracle
      // replays the q244 algebra per group.
      prep(s, d, "events")
      val ev = t(s, d, "events").select(
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        col("user_id").cast("long").as("uid"))
      graft.pipeline.Stats.hllDistinctByGroup(ev, Seq("day"), "uid")
        .select(col("day"), col("m"), col("registers_set"),
          col("harmonic_sum"), round(col("est_raw"), 6).as("est_raw"),
          round(col("distinct_est"), 6).as("distinct_est"))
        .orderBy("day")
    }),

    "q247_hll_overlap" -> ((s, d) => {
      // cross-corpus overlap estimation — the pre-mixing question ("how
      // many keys do these two sources share?") answered from registers
      // alone: |A∩B| = |A| + |B| − |A∪B| over three HLL estimates, no
      // value-keyed join. Sides are mod-3 key classes (A = classes
      // {0,1}, B = {1,2}; true Jaccard exactly 1/3) because the
      // fixture's natural splits fully overlap — every part ships in
      // every date half — and identical register sets would certify
      // nothing: the sides must DIFFER for a broken union-merge or a
      // side-swap to move the hash.
      prep(s, d, "lineitem")
      val pk = t(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("pk"))
      graft.pipeline.Stats.hllOverlap(
          pk.filter(col("pk") % 3 =!= 2), pk.filter(col("pk") % 3 =!= 0), "pk")
        .select(col("m"), round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("jaccard_est"), 6).as("jaccard_est"))
    }),

    "q248_stream_grouped_topk" -> ((s, d) => {
      // the maintained leaderboard: top-5 events by value per type, kept
      // current as the stream arrives. Order statistics are mergeable —
      // global top-k ⊆ union of per-batch top-k partials — so each batch
      // appends ≤ k·|groups| rows (skew-safe bounded top-k, no window)
      // and the read view re-ranks the tiny partial log; the standing
      // log is never read inside the loop. Batch membership (event_id
      // mod 3) is output-invisible: exactness over the union is the
      // contract, and the unique-eid tiebreak makes ranks deterministic
      // on both engines.
      prep(s, d, "events")
      val ev = t(s, d, "events").select(
        col("event_id").cast("long").as("eid"), col("event_type"),
        col("user_id").cast("long").as("uid"), col("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q248_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(ev.withColumn("__slice",
        (col("eid") % 3).cast("int")), s"$base/feed", 3)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val ord = Seq(("value", false), ("eid", true))
      val q = graft.streaming.StreamOps.groupedTopKStream(s, stream,
        Seq("event_type"), ord, k = 5, s"$base/state", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      graft.streaming.StreamOps.readGroupedTopK(s, s"$base/state",
          Seq("event_type"), ord, k = 5)
        .select(col("event_type"), col("rank").cast("long").as("rnk"),
          col("eid"), col("uid"), col("value"))
        .orderBy("event_type", "rnk")
    }),

    "q249_hll_p16" -> ((s, d) => {
      // HLL at p = 16 — the production cardinality-gate accuracy
      // (σ ≈ 0.4%): the integer harmonic sum's worst case m·2^49 = 2^65
      // overflows BIGINT, so the estimator accumulates in DECIMAL(38,0)
      // — still exact, still order-independent — and the oracle replays
      // the identical algebra in HUGEINT arithmetic cast to the same
      // DECIMAL(38,0). Both engines take the same small-range branch
      // from the same integers (q244's contract at 16× the registers).
      prep(s, d, "lineitem")
      graft.pipeline.Stats.hllDistinct(
          t(s, d, "lineitem").select(col("l_partkey").cast("long").as("pk")),
          "pk", p = 16)
        .select(col("m"), col("registers_set"),
          // surfaced as a STRING: the exact 2^65-scale integer survives
          // both engines' pandas lowering (DuckDB floats wide decimals)
          col("harmonic_sum").cast("string").as("harmonic_sum"),
          round(col("est_raw"), 6).as("est_raw"),
          round(col("distinct_est"), 6).as("distinct_est"))
    }),

    "q250_compacted_hll_log" -> ((s, d) => {
      // register-log COMPACTION certified end to end: three custkey
      // slices append one register partition each (q244's log path),
      // compactHllIndex folds the log back to one row per bucket in O(1)
      // files — asserted in-face, the compaction's whole point — and the
      // READ VIEW of the compacted log must equal the full sketch over
      // the union, which the oracle replays from scratch. Max-merge is
      // the reader's own algebra, so compaction is bit-invisible.
      prep(s, d, "orders")
      val ck = t(s, d, "orders").select(col("o_custkey").cast("long").as("ck"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q250_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      graft.pipeline.Stats.writeHllIndex(ck.filter(col("ck") % 3 === 0),
        "ck", s"$base/idx")
      for (k <- 1 to 2)
        graft.pipeline.Stats.appendHllIndex(s, s"$base/idx",
          ck.filter(col("ck") % 3 === k), "ck")
      graft.pipeline.Stats.compactHllIndex(s, s"$base/idx", s"$base/idx2")
      val files = new java.io.File(s"$base/idx2").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(files == 1, s"compaction left $files data files, expected 1")
      graft.pipeline.Stats.readHllDistinct(s, s"$base/idx2")
        .select(col("m"), col("registers_set"), col("harmonic_sum"),
          round(col("est_raw"), 6).as("est_raw"),
          round(col("distinct_est"), 6).as("distinct_est"))
    }),

    "q251_compacted_cms_log" -> ((s, d) => {
      // CMS cell-log compaction certified end to end: three part-key
      // slices append their cell partitions, compactCmsIndex folds the
      // log to one row per (d, b) cell in O(1) files (asserted), and the
      // exact heavy-hitter read over the compacted index must equal
      // q243's brute-force oracle — cells ADD, so the summed frame
      // serves pass 1 identically and the exact pass drops any false
      // positives either way.
      prep(s, d, "lineitem")
      val rows = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q251_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      graft.pipeline.Stats.writeCmsIndex(
        rows.filter(col("ok") % 3 === 0).select("pk"), "pk", s"$base/idx")
      for (k <- 1 to 2)
        graft.pipeline.Stats.appendCmsIndex(s, s"$base/idx",
          rows.filter(col("ok") % 3 === k).select("pk"), "pk")
      graft.pipeline.Stats.compactCmsIndex(s, s"$base/idx", s"$base/idx2")
      val files = new java.io.File(s"$base/idx2").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(files == 1, s"compaction left $files data files, expected 1")
      graft.pipeline.Stats.heavyHittersFromIndex(s, s"$base/idx2",
          rows.select("pk"), "pk", support = 0.00075)
        .orderBy("pk")
    }),

    "q252_compacted_topk_log" -> ((s, d) => {
      // grouped-top-k partial-log compaction certified end to end: three
      // event slices write their ≤ k·|groups| partial partitions (the
      // q248 log layout, built batch-side — the stream itself is q248's
      // certification), compactTopKLog re-ranks the union down to ≤ k
      // rows per group in O(1) files (asserted), and the read view over
      // the compacted log must equal the global leaderboard — q248's
      // oracle verbatim. Order statistics are mergeable, so one more
      // bounded top-k IS the compaction.
      prep(s, d, "events")
      val ev = t(s, d, "events").select(
        col("event_id").cast("long").as("eid"), col("event_type"),
        col("user_id").cast("long").as("uid"), col("value"))
      val ord = Seq(("value", false), ("eid", true))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q252_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      for (k <- 0 to 2)
        graft.streaming.LogStructuredSink.write(
          graft.pipeline.GroupedTopK.topK(ev.filter(col("eid") % 3 === k),
            Seq("event_type"), ord, 5).drop("rank"),
          s"$base/log", k.toLong)
      graft.pipeline.GroupedTopK.compactTopKLog(s, s"$base/log",
        s"$base/log2", Seq("event_type"), ord, 5)
      val files = new java.io.File(s"$base/log2/__batch=2").listFiles()
        .count(_.getName.endsWith(".parquet"))
      require(files == 1, s"compaction left $files data files, expected 1")
      graft.streaming.StreamOps.readGroupedTopK(s, s"$base/log2",
          Seq("event_type"), ord, k = 5)
        .select(col("event_type"), col("rank").cast("long").as("rnk"),
          col("eid"), col("uid"), col("value"))
        .orderBy("event_type", "rnk")
    }),

    "q253_compacted_agg_state" -> ((s, d) => {
      // aggregate-partial-log compaction under CONTINUED growth — the one
      // log-structured family whose compaction predated the q250–q252
      // certification shape: three orderkey slices append their per-key
      // partials, compactAggState folds the log to one partial per key,
      // then a FOURTH slice appends onto the compacted log — the read
      // view must equal one aggregation over all four slices' union
      // (partials are algebraic: fold-then-merge ≡ merge). Values
      // aggregate as DECIMAL(18,6) so partial sums combine exactly
      // across slices and engines (the q231 discipline).
      prep(s, d, "orders")
      val rows = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("ok"), col("o_orderpriority"),
        (col("o_custkey") % 8).cast("long").as("ck_bucket"),
        col("o_totalprice").cast("decimal(18,6)").as("v"))
      val keys = Seq("o_orderpriority", "ck_bucket")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q253_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      for (k <- 0 to 2)
        graft.pipeline.Materialize.appendAggState(s, s"$base/log",
          rows.filter(col("ok") % 4 === k).drop("ok"), keys, "v")
      val n = graft.pipeline.Materialize.compactAggState(s, s"$base/log",
        s"$base/log2", keys)
      require(n > 0, "compaction folded zero keys")
      graft.pipeline.Materialize.appendAggState(s, s"$base/log2",
        rows.filter(col("ok") % 4 === 3).drop("ok"), keys, "v")
      graft.pipeline.Materialize.readAggState(s, s"$base/log2", keys)
        .select(col("o_orderpriority"), col("ck_bucket"), col("n"),
          col("total").cast("double").as("total"),
          col("min_val").cast("double").as("min_val"),
          col("max_val").cast("double").as("max_val"))
        .withColumn("avg_val", col("total") / col("n"))
        .orderBy("o_orderpriority", "ck_bucket")
    }),

    "q254_hll_group_p16" -> ((s, d) => {
      // the q246 daily-active-users telemetry at PRODUCTION accuracy
      // (p = 16, σ ≈ 0.4%): per-group register frames share
      // hllEstimateFrom with the ungrouped q249 face, so the grouped
      // DECIMAL(38,0) harmonic sum inherits the same exact integer
      // algebra — the oracle replays it per group in HUGEINT, and the
      // 2^65-scale integer crosses the engines as a string (pandas
      // lowers wide decimals to float64 on both sides).
      prep(s, d, "events")
      val ev = t(s, d, "events").select(
        expr("unix_micros(ts) DIV 86400000000").as("day"),
        col("user_id").cast("long").as("uid"))
      graft.pipeline.Stats.hllDistinctByGroup(ev, Seq("day"), "uid", p = 16)
        .select(col("day"), col("m"), col("registers_set"),
          col("harmonic_sum").cast("string").as("harmonic_sum"),
          round(col("est_raw"), 6).as("est_raw"),
          round(col("distinct_est"), 6).as("distinct_est"))
        .orderBy("day")
    }),

    "q255_hll_overlap_p16" -> ((s, d) => {
      // the q247 cross-corpus overlap at p = 16: three register sketches
      // (A, B, max-merged union) on the DECIMAL(38,0) arm feed
      // inclusion–exclusion; only doubles cross the engines — both cast
      // the SAME exact integer harmonic sum, so the IEEE rounding
      // matches bit for bit. Sides are the q247 mod-3 classes (true
      // Jaccard exactly 1/3).
      prep(s, d, "lineitem")
      val pk = t(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("pk"))
      graft.pipeline.Stats.hllOverlap(
          pk.filter(col("pk") % 3 =!= 2), pk.filter(col("pk") % 3 =!= 0),
          "pk", p = 16)
        .select(col("m"), round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("jaccard_est"), 6).as("jaccard_est"))
    }),

    "q256_hll_overlap_single_scan" -> ((s, d) => {
      // q255's overlap telemetry when both sides are FILTERS OF ONE
      // TABLE — the single-source variant that halves the dominant cost:
      // hllOverlap scans each side separately (two full lineitem passes
      // at p = 16, the q255 sf10 bottleneck), while
      // hllOverlapSingleSource explodes each row into its (≤ 2) side
      // tags and builds BOTH register frames in one grouped aggregate
      // over one FileScan (plan-pinned in the suite). Register content
      // is identical — max-merge over the same (side, bucket) updates —
      // so every estimate matches q255 (and its oracle) bit for bit.
      prep(s, d, "lineitem")
      val pk = t(s, d, "lineitem")
        .select(col("l_partkey").cast("long").as("pk"))
      graft.pipeline.Stats.hllOverlapSingleSource(pk,
          col("pk") % 3 =!= 2, col("pk") % 3 =!= 0, "pk", p = 16)
        .select(col("m"), round(col("est_a"), 6).as("est_a"),
          round(col("est_b"), 6).as("est_b"),
          round(col("est_union"), 6).as("est_union"),
          round(col("est_intersection"), 6).as("est_intersection"),
          round(col("jaccard_est"), 6).as("jaccard_est"))
    }),

    "q257_live_compacted_agg_state" -> ((s, d) => {
      // q253's aggregate-partial compaction WHILE ITS STREAM RUNS — the
      // SUM-merged family the round-14 in-place fold excluded by
      // contract: orders replay through aggStateStream in four
      // orderkey-mod slices while a 40 ms ticker live-compacts the
      // partial log (generation layout — the fold publishes with one
      // atomic marker flip, so no reader window ever double-counts).
      // The face REQUIRES at least one fold to land mid-stream (the
      // race must actually be exercised) and the read view must equal
      // one aggregation over the union — partials are algebraic, so
      // fold-then-merge ≡ merge, now certified under concurrency.
      prep(s, d, "orders")
      val rows = t(s, d, "orders").select(
        col("o_orderkey").cast("long").as("ok"), col("o_orderpriority"),
        (col("o_custkey") % 8).cast("long").as("ck_bucket"),
        col("o_totalprice").cast("decimal(18,6)").as("v"))
      val keys = Seq("o_orderpriority", "ck_bucket")
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q257_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          System.nanoTime()).getAbsolutePath // unique per invocation: a
        // raw delete-and-recreate of one path across bench passes can
        // alias Spark's session file-status cache (stale listings of
        // the previous pass's files)
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(rows.withColumn("__slice",
        (col("ok") % 8).cast("int")).drop("ok"), s"$base/feed", 8)
      val stream = s.readStream
        .schema("o_orderpriority STRING, ck_bucket LONG, v DECIMAL(18,6)")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.aggStateStream(s, stream, keys, "v",
        s"$base/state", s"$base/ckpt")
      @volatile var folds = 0
      // the face requires ≥ 1 fold to land while the stream is LIVE; two
      // landed folds certify the race (including fold-over-fold) and the
      // ticker then stops — an UNBOUNDED 40 ms ticker kept folding the
      // same log for the stream's whole life, pure redundant work that
      // tripled the face's job count (optimization guide §1.2: don't
      // compute things you throw away)
      val ticker = new Thread(() =>
        while (q.isActive && folds < 2) {
          // count a fold iff the stream was LIVE when it started — a
          // fold that merely finishes after the drain is not the race
          val live = q.isActive
          try {
            if (graft.pipeline.Materialize.compactAggStateLive(s,
                s"$base/state", keys).isDefined && live) folds += 1
          } catch { case _: Throwable => () } // racing shutdown only
          Thread.sleep(40)
        })
      ticker.start()
      try q.processAllAvailable()
      finally { q.stop(); ticker.join() }
      require(folds >= 1,
        "no live fold landed while the stream ran — race not exercised")
      graft.pipeline.Materialize.readAggState(s, s"$base/state", keys)
        .select(col("o_orderpriority"), col("ck_bucket"), col("n"),
          col("total").cast("double").as("total"),
          col("min_val").cast("double").as("min_val"),
          col("max_val").cast("double").as("max_val"))
        .withColumn("avg_val", col("total") / col("n"))
        .orderBy("o_orderpriority", "ck_bucket")
    }),

    "q258_live_compacted_cms_log" -> ((s, d) => {
      // q243's exact heavy hitters with the CMS CELL log live-compacting
      // mid-stream — cells ADD, the other sum algebra the in-place fold
      // excluded: a 40 ms ticker folds the cell log (including the
      // d = −1 total row) under the generation layout while the three
      // lineitem slices stream in; readHeavyHitters' committed gate
      // resolves one marker generation, so pass 1 and the support
      // threshold always see a consistent, never-double-counted sketch.
      // Exactness over the union is the contract, so the plain HAVING
      // oracle certifies the whole composition.
      prep(s, d, "lineitem")
      val rows = t(s, d, "lineitem")
        .select(col("l_orderkey").cast("long").as("ok"),
          col("l_partkey").cast("long").as("pk"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q258_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          System.nanoTime()).getAbsolutePath // unique per invocation: a
        // raw delete-and-recreate of one path across bench passes can
        // alias Spark's session file-status cache (stale listings of
        // the previous pass's files)
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(rows.select(col("pk"),
        (col("ok") % 6).cast("int").as("__slice")), s"$base/feed", 6)
      val stream = s.readStream.schema("pk LONG")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.heavyHittersStream(s, stream, "pk",
        s"$base/state", s"$base/ckpt")
      @volatile var folds = 0
      // ≥ 1 live fold certifies the race; stop after 2 (see q257 — an
      // unbounded ticker re-folds the same log all stream long)
      val ticker = new Thread(() =>
        while (q.isActive && folds < 2) {
          val live = q.isActive // count folds that STARTED while live
          try {
            if (graft.pipeline.Stats.compactCmsIndexLive(s,
                s"$base/state/cms").isDefined && live) folds += 1
          } catch { case _: Throwable => () } // racing shutdown only
          Thread.sleep(40)
        })
      ticker.start()
      try q.processAllAvailable()
      finally { q.stop(); ticker.join() }
      require(folds >= 1,
        "no live CMS fold landed while the stream ran")
      graft.streaming.StreamOps.readHeavyHitters(s, s"$base/state", "pk",
          support = 0.00075)
        .orderBy("pk")
    }),

    "q259_live_compacted_topk_log" -> ((s, d) => {
      // q248's leaderboard with the partial log live-compacting
      // mid-stream — the rank-merged family: a 40 ms ticker re-ranks the
      // log to ≤ k rows per group under the generation layout while the
      // event slices stream in; readGroupedTopK resolves one marker
      // generation, so its re-rank never seats dropped partials beside
      // their replacement fold. Top-k sets are mergeable, so the final
      // view is q248's oracle verbatim.
      prep(s, d, "events")
      val ev = t(s, d, "events").select(
        col("event_id").cast("long").as("eid"), col("event_type"),
        col("user_id").cast("long").as("uid"), col("value"))
      val ord = Seq(("value", false), ("eid", true))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q259_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          System.nanoTime()).getAbsolutePath // unique per invocation: a
        // raw delete-and-recreate of one path across bench passes can
        // alias Spark's session file-status cache (stale listings of
        // the previous pass's files)
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(ev.withColumn("__slice",
        (col("eid") % 6).cast("int")), s"$base/feed", 6)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.groupedTopKStream(s, stream,
        Seq("event_type"), ord, k = 5, s"$base/state", s"$base/ckpt")
      @volatile var folds = 0
      // ≥ 1 live fold certifies the race; stop after 2 (see q257 — an
      // unbounded ticker re-folds the same log all stream long)
      val ticker = new Thread(() =>
        while (q.isActive && folds < 2) {
          val live = q.isActive // count folds that STARTED while live
          try {
            if (graft.pipeline.GroupedTopK.compactTopKLogLive(s,
                s"$base/state", Seq("event_type"), ord, 5)
                .isDefined && live) folds += 1
          } catch { case _: Throwable => () } // racing shutdown only
          Thread.sleep(40)
        })
      ticker.start()
      try q.processAllAvailable()
      finally { q.stop(); ticker.join() }
      require(folds >= 1,
        "no live top-k fold landed while the stream ran")
      graft.streaming.StreamOps.readGroupedTopK(s, s"$base/state",
          Seq("event_type"), ord, k = 5)
        .select(col("event_type"), col("rank").cast("long").as("rnk"),
          col("eid"), col("uid"), col("value"))
        .orderBy("event_type", "rnk")
    }),

    "q260_autocompact_span_stream" -> ((s, d) => {
      // q242's growing-gram-index dedup with the sink's OPT-IN
      // auto-compaction on (compactEvery = 2, immediate sweep): the
      // trigger body itself folds the digest log every second batch, so
      // a months-running intake stream bounds its per-trigger listing
      // without any operator intervention — the face REQUIRES the root
      // partition count to stay at ≤ compactEvery with a published
      // generation standing in for the folded prefix. The span output
      // must still be q242's oracle verbatim: compaction is read-
      // invisible by the generation contract.
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q260_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          System.nanoTime()).getAbsolutePath // unique per invocation: a
        // raw delete-and-recreate of one path across bench passes can
        // alias Spark's session file-status cache (stale listings of
        // the previous pass's files)
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeSlicedFeed(docs.withColumn("__slice",
        (col("doc_id") % 3).cast("int")), s"$base/feed", 3)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.duplicateSpansStream(s, stream,
        "text", "doc_id", 8, s"$base/index", s"$base/out", s"$base/ckpt",
        compactEvery = 2, compactRetainMs = 0L)
      try q.processAllAvailable() finally q.stop()
      val rootParts = graft.streaming.LogStructuredSink
        .listBatches(s, s"$base/index").get
      require(rootParts.size <= 2 && graft.streaming.LogStructuredSink
          .currentGen(s, s"$base/index").isDefined,
        s"auto-compaction did not bound the digest log: $rootParts")
      graft.streaming.StreamOps.readDuplicateSpans(s, s"$base/out",
          s"$base/index").get
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_len"))
        .orderBy("doc_id", "span_start")
    }),

    "q261_stream_empty_batch_commit" -> ((s, d) => {
      // the committed-prefix gate under an EMPTY batch: the middle
      // micro-batch is one synthetic document with globally-unique
      // tokens — zero duplicate spans — which before round 15 wrote NO
      // span partition, leaving readDuplicateSpans gated behind the
      // last nonempty write (a healthy stream read as less committed
      // than it is). The sink now commits a zero-row marker partition,
      // so the gate tracks actual commits: the face REQUIRES the empty
      // batch's partition to exist, and the committed view must equal
      // the batch-semantics oracle over the real documents (the
      // synthetic doc shares no gram with the corpus, so it is
      // output-invisible by construction).
      prep(s, d, "documents")
      val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q261_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_") + "_" +
          System.nanoTime()).getAbsolutePath // unique per invocation: a
        // raw delete-and-recreate of one path across bench passes can
        // alias Spark's session file-status cache (stale listings of
        // the previous pass's files)
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      publishFeedSlice(docs.filter(col("doc_id") % 2 === 0),
        s"$base/feed", 0)
      publishFeedSlice(
        s.range(1).select(lit(-1L).as("doc_id"),
          lit("zzqa0 zzqa1 zzqa2 zzqa3 zzqa4 zzqa5 zzqa6 zzqa7 zzqa8")
            .as("text")),
        s"$base/feed", 1)
      publishFeedSlice(docs.filter(col("doc_id") % 2 === 1),
        s"$base/feed", 2)
      val stream = s.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = graft.streaming.StreamOps.duplicateSpansStream(s, stream,
        "text", "doc_id", 8, s"$base/index", s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      require(graft.streaming.LogStructuredSink
          .listBatches(s, s"$base/out").get.contains(1L),
        "the empty batch did not commit its span partition")
      graft.streaming.StreamOps.readDuplicateSpans(s, s"$base/out",
          s"$base/index").get
        .select(col("doc_id"), col("span_start"), col("span_end"),
          col("span_len"))
        .orderBy("doc_id", "span_start")
    }),

    "q234_stream_interval_left_join" -> ((s, d) => {
      // the LEFT-OUTER stream-stream interval join — q220's face
      // certifies matched pairs; this one certifies the NULL-AUGMENTED
      // rows ("click never converted"), which only emit when the
      // watermark passes each left row's match horizon, i.e. state
      // EXPIRY is part of the certified semantics. A far-future sentinel
      // slice on BOTH feeds (left user -1, right user -2 — they can
      // never match anything) pushes both watermarks past every real
      // horizon so all outer rows flush; the batch LEFT JOIN oracle then
      // has to agree row-for-row on matched counts, unmatched counts,
      // and the matched-only gap sums (NULL where a user never
      // converted — sum over no rows on both engines).
      prep(s, d, "events")
      val ev = t(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts"), col("user_id"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("ts"), col("user_id"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q234_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      val maxL = writeOrderedFeed(s, clicks, expr("unix_micros(ts)"),
        s"$base/feedL", 3)
      val maxR = writeOrderedFeed(s, purch, expr("unix_micros(ts)"),
        s"$base/feedR", 3)
      // sentinel base = the max over BOTH feeds (the sentinel only needs
      // to outrun every real horizon; its exact value never reaches the
      // certified output — sentinel rows are filtered at read-back)
      val maxTs = math.max(maxL, maxR).toLong
      // sentinel columns take the INPUT widths (the narrow-int variant
      // axis reads event ids as int32 — a bare -1L would widen the slice
      // file and fail the stream's schema)
      val sentinelTs = timestamp_micros(lit(maxTs + 30L * 86400000000L))
      publishFeedSlice(s.range(1).select(
        lit(-1L).cast(clicks.schema("click_id").dataType).as("click_id"),
        sentinelTs.as("ts"), lit(-1L).cast(clicks.schema("user_id").dataType)
          .as("user_id")), s"$base/feedL", 3)
      publishFeedSlice(s.range(1).select(
        lit(-1L).cast(purch.schema("purchase_id").dataType).as("purchase_id"),
        sentinelTs.as("ts"), lit(-2L).cast(purch.schema("user_id").dataType)
          .as("user_id")), s"$base/feedR", 3)
      val ls = s.readStream.schema(clicks.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feedL")
      val rs = s.readStream.schema(purch.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feedR")
      val joined = graft.streaming.StreamOps.intervalJoin(ls, rs,
        Seq("user_id"), within = "30 minutes",
        watermarkDelay = "30 minutes", joinType = "left_outer")
      withStatefulParallelism(s, 8) {
        val q = joined.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .where(col("user_id") >= 0L) // the sentinel click's own outer row
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("purchase_id_r")).as("n_matched"),
          sum(when(col("purchase_id_r").isNull, 1L).otherwise(0L))
            .as("n_unmatched"),
          sum(unix_micros(col("ts_r")) - unix_micros(col("ts"))).as("gap_us"),
          min(col("purchase_id_r")).as("first_purchase"),
          countDistinct(col("click_id")).as("n_clicks"))
        .orderBy("user_id")
    }),

    "q235_stream_dedup_redeliveries" -> ((s, d) => {
      // at-least-once redelivery dedup (dropDuplicatesWithinWatermark —
      // retries re-stamped with a NEW event time, so the id columns alone
      // key the state): slice 0 replays every original event, slices 1-2
      // replay re-stamped redeliveries (every 3rd event at +2 min, every
      // 6th at +4 min — the +4 copy a SECOND retry of an already-retried
      // id). Every redelivery must drop — by live state within the
      // horizon, by the watermark's late filter beyond it (the two
      // eviction regimes partition the id space; both must end in a
      // drop) — so the streamed output is EXACTLY the original event set
      // and the oracle reads the raw table.
      prep(s, d, "events")
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q235_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      publishFeedSlice(ev, s"$base/feed", 0)
      publishFeedSlice(ev.filter(pmod(col("event_id"), lit(3)) === 0)
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + 120000000L)),
        s"$base/feed", 1)
      publishFeedSlice(ev.filter(pmod(col("event_id"), lit(6)) === 0)
        .withColumn("ts", timestamp_micros(unix_micros(col("ts")) + 240000000L)),
        s"$base/feed", 2)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val deduped = graft.streaming.StreamOps.dedupRedeliveries(
        stream, Seq("event_id"))
      withStatefulParallelism(s, 8) {
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"),
          min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .orderBy("user_id")
    }),

    "q236_stream_spatial_enrich" -> ((s, d) => {
      // streaming spatial enrichment (grid-bucketed stream-static join —
      // the streaming face of q33's SpatialJoin): events become a point
      // stream (x = value, y = user_id mod 50), the static side is one
      // rectangle per nation, and each micro-batch equi-joins on covering
      // cells with the exact st_contains as the residual filter. The
      // operator is stateless, so the streamed union over any batch split
      // must equal the batch join — the oracle's inclusive BETWEEN
      // rectangle test (boundary-coincident points included on both
      // engines, the q33 precedent).
      prep(s, d, "events", "nation")
      val pts = t(s, d, "events").select(col("event_id"), col("ts"),
        G.st_point(col("value"),
          pmod(col("user_id"), lit(50)).cast("double")).as("pt"))
      val rects = t(s, d, "nation").select(col("n_nationkey"),
        G.st_makeenvelope(
          col("n_nationkey").cast("double") * 20.0,
          col("n_nationkey").cast("double") - 3.0,
          col("n_nationkey").cast("double") * 20.0 + 50.0,
          col("n_nationkey").cast("double") + 3.0).as("rect"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q236_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, pts, expr("unix_micros(ts)"), s"$base/feed", 3)
      val stream = s.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val joined = graft.streaming.StreamOps.spatialEnrich(stream, rects,
        col("pt"), col("rect"), (sg, dg) => G.st_contains(dg, sg),
        cellSize = 25.0)
      val q = joined.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .groupBy(col("n_nationkey"))
        .agg(count(lit(1)).as("n_pts"),
          min(col("event_id")).as("first_event"),
          max(col("event_id")).as("last_event"))
        .orderBy("n_nationkey")
    }),

    "q237_stream_dedup_events" -> ((s, d) => {
      // exact-redelivery dedup (dropDuplicates on id + event time — the
      // retry carries the ORIGINAL stamp, unlike q235's re-stamped
      // retries): slices 1-2 replay byte-identical copies of every 4th /
      // 8th event. A copy is either deduped by live (id, ts) state or
      // dropped late by the watermark — the streamed output must be
      // exactly the original event set under either regime.
      prep(s, d, "events")
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q237_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      publishFeedSlice(ev, s"$base/feed", 0)
      publishFeedSlice(ev.filter(pmod(col("event_id"), lit(4)) === 0),
        s"$base/feed", 1)
      publishFeedSlice(ev.filter(pmod(col("event_id"), lit(8)) === 0),
        s"$base/feed", 2)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val deduped = graft.streaming.StreamOps.dedupEvents(
        stream, Seq("event_id"))
      withStatefulParallelism(s, 8) {
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      s.read.parquet(s"$base/out")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"),
          min(unix_micros(col("ts"))).as("first_us"),
          max(unix_micros(col("ts"))).as("last_us"))
        .orderBy("user_id")
    }),

    "q238_stream_enrich" -> ((s, d) => {
      // stream-static LEFT enrichment: the event stream joins a customer
      // dimension re-planned per micro-batch (broadcast at this size).
      // The dim keeps only custkeys < 100, so users 100+ exercise the
      // null-extension arm (the '∅' segment) — stateless, so the union
      // over batches must equal the batch left join.
      prep(s, d, "events", "customer")
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"))
      val dim = t(s, d, "customer").filter(col("c_custkey") < 100)
        .select(col("c_custkey").cast(ev.schema("user_id").dataType)
          .as("user_id"), col("c_mktsegment"))
      val base = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_q238_" + s.sparkContext.applicationId + "_" +
          d.replaceAll("[^A-Za-z0-9]", "_")).getAbsolutePath
      new scala.reflect.io.Directory(new java.io.File(base)).deleteRecursively()
      writeOrderedFeed(s, ev, expr("unix_micros(ts)"), s"$base/feed", 3)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val enriched = graft.streaming.StreamOps.enrich(stream, dim,
        Seq("user_id"))
      val q = enriched.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$base/out")
        .groupBy(coalesce(col("c_mktsegment"), lit("∅")).as("segment"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("event_id")).as("id_sum"))
        .orderBy("segment")
    }),

    "q206_davies_bouldin" -> ((s, d) => {
      // clustering-quality gate: Davies–Bouldin index over the SAME
      // certified two-round kmeans trajectory as q107 (per-cluster
      // scatter avg‖x−c‖₂, pairwise centroid separation, worst-ratio
      // max, k-average) — the "is k right before SemDeDup/IVF trusts
      // these clusters" check. The oracle replays the full trajectory
      // AND the index arithmetic; 6dp absorbs the scatter mean's
      // Σ-order drift and the engines' L2 summation order (ratios are
      // separated by ≫1e-6, so the max cannot flip — the q107 margin-
      // audit argument one level up).
      prep(s, d, "embeddings")
      val emb = t(s, d, "embeddings")
      val cents = Clustering.kmeansFit(emb, "vec_id", "embedding", 8, 2)
      Clustering.daviesBouldin(emb, cents, "vec_id", "embedding")
        .select(col("cluster_id"), col("n_members"),
          round(col("scatter"), 6).as("scatter"),
          round(col("r_max"), 6).as("r_max"),
          round(col("db_index"), 6).as("db_index"))
        .orderBy("cluster_id")
    })
  )

  /** q219's epoch-mix spec (same BigInt resolution discipline as q204). */
  private[graft] val MixEpochBudget = 8000L
  private[graft] val MixEpochWeights: Seq[(String, Double)] = Seq(
    "src3" -> 6.0, "src8" -> 1.0)
  private[graft] def mixEpochTargets: Seq[(String, Long)] = {
    val wI = MixEpochWeights.map { case (dm, w) => dm -> BigInt(math.round(w * 1e6)) }
    val sw = wI.map(_._2).sum
    wI.map { case (dm, w) => dm -> (BigInt(MixEpochBudget) * w / sw).toLong }
  }

  /** q223's zero-availability spec (q204's discipline; src5 is blanked
    * in the face, so its avail is 0 while src3 stays natural). */
  private[graft] val MixZeroBudget = 3000L
  private[graft] val MixZeroWeights: Seq[(String, Double)] = Seq(
    "src3" -> 2.0, "src5" -> 1.0)
  private[graft] def mixZeroTargets: Seq[(String, Long)] = {
    val wI = MixZeroWeights.map { case (dm, w) => dm -> BigInt(math.round(w * 1e6)) }
    val sw = wI.map(_._2).sum
    wI.map { case (dm, w) => dm -> (BigInt(MixZeroBudget) * w / sw).toLong }
  }

  /** q204's mixture spec: weights and budget are DRIVER constants, with
    * integer token targets resolved once in BigInt so the builder and
    * the oracle SQL inline the same literals. */
  private[graft] val MixBudgetTokens = 4000L
  private[graft] val MixWeights: Seq[(String, Double)] = Seq(
    "src3" -> 4.0, "src7" -> 2.0, "src11" -> 2.0,
    "src8" -> 1.0, "src14" -> 0.5, "src19" -> 0.5)
  private[graft] def mixTargets: Seq[(String, Long)] = {
    val wI = MixWeights.map { case (dm, w) => dm -> BigInt(math.round(w * 1e6)) }
    val sw = wI.map(_._2).sum
    wI.map { case (dm, w) => dm -> (BigInt(MixBudgetTokens) * w / sw).toLong }
  }

  // ================================================================ oracle

  // ---- DuckDB mirrors of the custom hash kernels (valid for the ASCII
  // corpus: tokenize ≡ lower + split [^a-z0-9]+, chars == UTF-8 bytes).
  // All 64-bit arithmetic runs as HUGEINT mod 2^64; the FNV xor-step only
  // touches the low byte so it stays in BIGINT range, while full-64-bit
  // xors round-trip through signed BIGINT (bit pattern preserved).

  /** q101 line-structure fold: every third word break becomes a newline
    * (Java-regex ∩ RE2-safe; injected into the oracle so the two engines
    * cannot drift). */
  private val LineFoldRe = """((?:\S+ ){2}\S+) """

  private val U64 = "18446744073709551616" // 2^64
  private val S63 = "9223372036854775808"  // 2^63

  /** CTE list: `doc_id, t` (token list) and `doc_id, t, hashes`
    * (per-token fnv1a64 as HUGEINT) over `from`. */
  private def fnvTokenCtes(from: String): String = s"""
      toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                           x -> x <> '') AS t
        FROM $from),
      th AS (
        SELECT doc_id, t,
          list_transform(t, tok ->
            list_reduce(
              list_prepend(CAST(14695981039346656037 AS HUGEINT),
                list_transform(range(1, length(tok)+1),
                               i -> CAST(ascii(substr(tok,i,1)) AS HUGEINT))),
              (h, c) -> ((h - h % 256 + xor(CAST(h % 256 AS BIGINT),
                                            CAST(c AS BIGINT)))
                         * 1099511628211) % $U64)) AS hashes
        FROM toks)"""

  /** Unsigned-mod-2^64 HUGEINT expr → signed BIGINT expr. */
  private def toSigned(e: String): String =
    s"CAST(CASE WHEN $e >= $S63 THEN $e - $U64 ELSE $e END AS BIGINT)"

  /** Full-64-bit xor of two HUGEINT-mod-2^64 exprs, back to HUGEINT. */
  private def xor64(a: String, b: String): String =
    s"(((xor(${toSigned(a)}, ${toSigned(b)}) % $U64) + $U64) % $U64)"

  /** One fnv1a64 combine step over a full 64-bit value: (h ^ x) * prime. */
  private def fnvStep(h: String, x: String): String =
    s"((${xor64(h, x)}) * 1099511628211) % $U64"

  /** Mirror of TextUtil.langId's Latin-script voting: CTEs `ltoks`,
    * `lhits`, `langs(doc_id, lang)` over `from`. Generated from the SAME
    * profile lists as the Scala implementation so the two cannot drift. */
  private def langMirrorCtes(from: String): String = {
    val langs = graft.pipeline.TextUtil.profiles.map(_._1)
    val hitCols = graft.pipeline.TextUtil.profiles.map { case (lang, words) =>
      val lst = words.toSeq.sorted.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(lt, x -> list_contains([$lst], x))) AS h_$lang"
    }.mkString(",\n               ")
    val big = langs.map("h_" + _).mkString("greatest(", ", ", ")")
    val whens = langs.init.map(l => s"WHEN h_$l = $big THEN '$l'")
      .mkString("\n             ")
    s"""
      ltoks AS (
        -- langId votes over at most the first 4096 chars (TextUtil.langId)
        SELECT doc_id,
               list_filter(string_split_regex(lower(substr(text, 1, 4096)),
                                              '[^a-z0-9]+'),
                           x -> x <> '') AS lt
        FROM $from),
      lhits AS (
        SELECT doc_id, len(lt) AS nt,
               $hitCols
        FROM ltoks),
      langs AS (
        SELECT doc_id,
          CASE WHEN $big = 0 OR $big * 20 < nt THEN 'und'
               $whens
               ELSE '${langs.last}' END AS lang
        FROM lhits)"""
  }

  /** CTEs `grams(doc_id, g)`: distinct word-3-gram shingles over `from`
    * (whitespace tokens — mirrors Text.wordShingles, not TextUtil.tokenize). */
  private def gramCtes(from: String): String = s"""
      gtoks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS wt FROM $from),
      grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(wt)-2, 0)+1),
                 i -> wt[i] || ' ' || wt[i+1] || ' ' || wt[i+2])) AS g
        FROM gtoks)"""

  /** Thresholded all-pairs 3-gram Jaccard as a POSTINGS equi-join
    * (explode grams → join on the gram → count shared), not a quadratic
    * `grams a JOIN grams b ON a.doc_id < b.doc_id` scan: for any
    * threshold > 0 a qualifying pair shares ≥1 gram, so the candidate
    * set (pairs with intersection ≥ 1) is exhaustive and the Jaccard
    * |∩|/(n_a+n_b−|∩|) over the DISTINCT gram lists is identical — the
    * same rewrite the Spark side ships as its set-sim join. The
    * quadratic formulation stops being runnable around sf0.1 (50k docs →
    * 1.25×10⁹ list-intersections); this one is posting-list-bounded
    * (~1.3M candidate slots at sf0.1). Emits
    * `dpairs(id_a, id_b, jaccard)`, id_a < id_b. */
  private def gramPairCtes(from: String, threshold: Double): String = s"""
      ${gramCtes(from)},
      gpost AS (SELECT doc_id, unnest(g) AS gr FROM grams),
      gsz AS (SELECT doc_id, len(g) AS n FROM grams),
      gpairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        FROM gpost a JOIN gpost b USING (gr)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2),
      dpairs AS (
        SELECT id_a, id_b,
               CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) AS jaccard
        FROM gpairs
        JOIN gsz sa ON id_a = sa.doc_id
        JOIN gsz sb ON id_b = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= $threshold)"""

  /**
   * Full SQL mirror of the MinHash signature (certified value-exactly by
   * q53): shingle bases are fnv1a64 folds over three consecutive
   * full-64-bit token hashes, permutation j applies a_j·base + b_j mod
   * 2^64 (split mulmod: a_j is up to 2^64, so a_j·base is computed as
   * low32·base + ((high32·(base mod 2^32)) mod 2^32)·2^32 to stay inside
   * HUGEINT), and sig_j is the SIGNED min. The a_j/b_j constants are
   * generated from TextUtil.splitmix64 — the same pure function the Scala
   * kernel uses, so they cannot drift. Emits CTEs ending in
   * `sig(doc_id, j, sigval)` (one row per doc per permutation) and
   * `sigs(doc_id, sg)` (sg = the 64-long signed-BIGINT signature list in
   * permutation order) over `from`.
   */
  private def sigCtes(from: String): String = {
    val aLit = (0 until 64).map(j =>
      s"CAST(${java.lang.Long.toUnsignedString(
        graft.pipeline.TextUtil.splitmix64(0x5851f42d4c957f2dL + j) | 1L)} AS HUGEINT)")
      .mkString(", ")
    val bLit = (0 until 64).map(j =>
      s"CAST(${java.lang.Long.toUnsignedString(
        graft.pipeline.TextUtil.splitmix64(0x14057b7ef767814fL ^ j))} AS HUGEINT)")
      .mkString(", ")
    val b0 = "CAST(14695981039346656037 AS HUGEINT)"
    val b1 = fnvStep(b0, "hashes[i]")
    val b2 = fnvStep(s"($b1)", "hashes[i+1]")
    val b3 = fnvStep(s"($b2)", "hashes[i+2]")
    val hv = s"""((((c.aj % 4294967296) * base) % $U64 +
              ((((c.aj // 4294967296) * (base % 4294967296)) % 4294967296)
               * 4294967296) % $U64 + c.bj) % $U64)"""
    s"""${fnvTokenCtes(from)},
      bases AS (
        SELECT doc_id, len(t) AS ntk,
          list_transform(range(1, greatest(len(t)-2, 0)+1), i -> $b3) AS bs
        FROM th),
      coef AS (
        SELECT unnest(range(0, 64)) AS j,
               unnest([$aLit]) AS aj,
               unnest([$bLit]) AS bj),
      sig AS (
        SELECT b.doc_id, c.j,
          CASE WHEN b.ntk < 3 THEN 9223372036854775807
               ELSE list_min(list_transform(b.bs, base -> ${toSigned(hv)}))
          END AS sigval
        FROM bases b CROSS JOIN coef c),
      sigs AS (
        SELECT doc_id, list(sigval ORDER BY j) AS sg FROM sig GROUP BY doc_id)"""
  }

  /** q155's oracle: the same one-md5-per-row + per-replica a·h+b remix,
    * constants inlined verbatim from [[graft.pipeline.Stats
    * .bootstrapHashFamilies]] so both engines draw the identical
    * bootstrap. a_j < 2³¹ keeps a_j·h+b_j under 2⁶³ — exact signed-64
    * arithmetic both engines (the HUGEINT cast is belt-and-braces). */
  private def bootstrapOracleSql(replicas: Int): String = {
    val fam = graft.pipeline.Stats.bootstrapHashFamilies(replicas)
      .map { case (j, a, b) => s"($j, $a, $b)" }.mkString(", ")
    s"""
      WITH fam(b, a, c) AS (VALUES $fam),
      h AS (
        SELECT l_returnflag,
               CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '-' ||
                 CAST(l_linenumber AS VARCHAR)), 1, 8)) AS UBIGINT) AS h32,
               CAST(l_quantity AS DOUBLE) AS v
        FROM lineitem),
      reps AS (
        SELECT l_returnflag, fam.b AS b,
               -ln((CAST((CAST(fam.a AS HUGEINT) * h32 + fam.c)
                     % 4294967296 AS DOUBLE) + 0.5) / 4294967296.0) AS w,
               v
        FROM h, fam),
      m AS (SELECT l_returnflag, b, sum(w * v) / sum(w) AS m
            FROM reps GROUP BY 1, 2),
      base AS (SELECT l_returnflag, count(*) AS n,
                      avg(CAST(l_quantity AS DOUBLE)) AS mean
               FROM lineitem GROUP BY 1)
      SELECT m.l_returnflag, base.n, round(base.mean, 6) AS mean,
             round(quantile_cont(m.m, 0.025), 4) AS ci_lo,
             round(quantile_cont(m.m, 0.975), 4) AS ci_hi
      FROM m JOIN base USING (l_returnflag)
      GROUP BY m.l_returnflag, base.n, base.mean
      ORDER BY m.l_returnflag"""
  }

  /** q148's oracle: `rounds` unrolled peel iterations (degree recount
    * within survivors, drop under-k nodes). Past the fixpoint each extra
    * round is a no-op, so any Spark-side convergence ≤ `rounds` matches. */
  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    // every CTE is MATERIALIZED: DuckDB inlines plain CTEs, and each
    // round references the previous TWICE — inlining would expand the
    // unrolled chain 2^rounds-fold (file handles included)
    val peels = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT n.s AS node, count(*) AS deg FROM nbr n
         JOIN a${i - 1} x ON n.s = x.node JOIN a${i - 1} y ON n.t = y.node
         GROUP BY 1),
      a$i AS MATERIALIZED (SELECT node FROM d$i WHERE deg >= $k)"""
    }.mkString(",\n      ")
    s"""
      WITH e0 AS MATERIALIZED (
        SELECT s, t FROM (
          SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
          FROM lineitem a JOIN lineitem b
            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
        WHERE (s * 31 + t) % 7 = 0),
      nbr AS MATERIALIZED (SELECT s, t FROM e0 UNION SELECT t, s FROM e0),
      a0 AS MATERIALIZED (SELECT DISTINCT s AS node FROM nbr),
      $peels
      SELECT node, CAST(deg AS BIGINT) AS degree FROM d$rounds
      WHERE deg >= $k ORDER BY node"""
  }

  /** q150's oracle: `merges` unrolled BPE rounds over the bracket-wrapped
    * token encoding (`[a][b][c]` — adjacent tokens share no characters,
    * so DuckDB's left-to-right non-overlapping `replace` of `[l][r]` →
    * `[lr]` is Spark's merge AND canonical BPE, identical-token runs
    * included). Winner per round by (count desc, l, r asc). All CTEs
    * MATERIALIZED (the q148 inlining lesson). */
  private def bpeOracleSql(merges: Int, segmented: Boolean = false): String = {
    val rounds = (1 to merges).map { i =>
      val prev = s"w${i - 1}"
      s"""p$i AS MATERIALIZED (
        SELECT l, r, sum(f) AS c FROM (
          SELECT t.f, t.toks[u.i] AS l, t.toks[u.i + 1] AS r
          FROM (SELECT string_split(regexp_replace(s, '^\\[|\\]$$', '', 'g'),
                                    '][') AS toks, f FROM $prev) t,
               unnest(range(1, len(t.toks))) AS u(i))
        GROUP BY 1, 2),
      m$i AS MATERIALIZED (
        SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1),
      w$i AS MATERIALIZED (
        SELECT w,
               replace(s,
                 '[' || (SELECT l FROM m$i) || '][' || (SELECT r FROM m$i) || ']',
                 '[' || (SELECT l FROM m$i) || (SELECT r FROM m$i) || ']') AS s,
               f
        FROM $prev)"""
    }.mkString(",\n      ")
    val out =
      if (segmented)
        s"""SELECT w, CAST(f AS BIGINT) AS f,
            CAST(len(toks) AS BIGINT) AS n_tokens,
            array_to_string(toks, ' ') AS segmented
          FROM (SELECT w, f,
                  string_split(regexp_replace(s, '^\\[|\\]$$', '', 'g'),
                               '][') AS toks
                FROM w$merges)
          ORDER BY w"""
      else (1 to merges).map(i =>
        s"""SELECT CAST($i AS INTEGER) AS merge_rank, l AS lhs, r AS rhs,
            CAST(c AS BIGINT) AS pair_count FROM m$i""")
          .mkString("\n      UNION ALL\n      ") + "\n      ORDER BY merge_rank"
    s"""
      WITH w0 AS MATERIALIZED (
        SELECT w, regexp_replace(w, '(.)', '[\\1]', 'g') AS s, f FROM (
          SELECT lower(tok) AS w, count(*) AS f FROM (
            SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'),
                          x -> x <> '')) AS tok
            FROM documents) toks
          WHERE regexp_matches(lower(tok), '^[a-z]+$$')
          GROUP BY 1)),
      $rounds
      $out"""
  }

  private val oracleBase: Map[String, String] = Map(

    // epoch-aligned hour buckets replayed from the raw table — the
    // canonical watermark+window shape's oracle (order-insensitive
    // columns only, the q73 discipline)
    // the WHOLE sketch algebra replayed from the signature mirror: banding
    // = sub-signature (4-slice) equality, candidates = pairs sharing ≥ 1
    // band across distinct mod-3 batches, est_jaccard = exact agreement
    // count / 64 — so the ≥ 0.5 gate is mirrored EXACTLY (the only gap is
    // an xxhash64 band collision on the Spark side, ~2⁻⁶⁴ per pair-band)
    "q230_stream_neardup_flags" -> s"""
      WITH ${sigCtes("documents")},
      bnd AS (
        SELECT doc_id, b.b AS band,
               CAST(list_slice(sg, 4 * b.b + 1, 4 * b.b + 4) AS VARCHAR) AS sub
        FROM sigs CROSS JOIN generate_series(0, 15) b(b)),
      cand AS (
        SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        FROM bnd a JOIN bnd b ON a.band = b.band AND a.sub = b.sub
        WHERE a.doc_id < b.doc_id AND (a.doc_id % 3) <> (b.doc_id % 3)),
      est AS (
        SELECT da, db,
               len(list_filter(range(1, 65),
                   i -> list_extract(sa.sg, i) = list_extract(sb.sg, i)))
                 / 64.0 AS ej
        FROM cand
        JOIN sigs sa ON da = sa.doc_id
        JOIN sigs sb ON db = sb.doc_id)
      SELECT CASE WHEN da % 3 > db % 3 THEN da ELSE db END AS id,
             CASE WHEN da % 3 > db % 3 THEN db ELSE da END AS corpus_id,
             ej AS est_jaccard
      FROM est WHERE ej >= 0.5
      ORDER BY id, corpus_id""",

    // one aggregation over the union — the log-structured state's
    // contract; decimal sums are exact, the double cast identical on
    // both engines
    "q231_stream_agg_state" -> """
      WITH v AS (
        SELECT event_type, CAST(user_id % 8 AS BIGINT) AS uid_bucket,
               CAST(value AS DECIMAL(18,6)) AS v
        FROM events)
      SELECT event_type, uid_bucket,
             count(v) AS n,
             CAST(sum(v) AS DOUBLE) AS total,
             CAST(min(v) AS DOUBLE) AS min_val,
             CAST(max(v) AS DOUBLE) AS max_val,
             CAST(sum(v) AS DOUBLE) / count(v) AS avg_val
      FROM v GROUP BY 1, 2 ORDER BY 1, 2""",

    // the q218 tokenization idiom (trim + \s+ split) at l=8, hashes
    // compared within-engine only; flagged windows [p, p+7] island-merge
    // per doc (the q118 gaps-islands idiom over the running max end)
    "q233_duplicate_spans" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 700000 AS doc_id, text FROM documents
        WHERE doc_id % 7 = 0),
      tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM corpus),
      grams AS (
        SELECT doc_id, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
      hits AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (h)),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m)
      SELECT doc_id,
             CAST(min(p) + 1 AS BIGINT) AS span_start,
             CAST(max(p) + 8 AS BIGINT) AS span_end,
             CAST(max(p) + 8 - min(p) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",

    // q233's span chain continued through the cut: covered positions
    // explode from the spans, kept tokens reassemble in position order
    // (string_agg ORDER BY == the array filter's stable order)
    "q239_remove_duplicate_spans" -> """
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 700000 AS doc_id, text FROM documents
        WHERE doc_id % 7 = 0),
      tok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM corpus),
      grams AS (
        SELECT doc_id, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      dup AS (SELECT h FROM grams GROUP BY h HAVING count(*) >= 2),
      hits AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (h)),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m),
      spans AS (
        SELECT doc_id, min(p) AS s0, max(p) + 7 AS e0
        FROM isl GROUP BY doc_id, grp),
      ss AS (
        SELECT doc_id, count(*) AS n_spans,
               sum(e0 - s0 + 1) AS removed
        FROM spans GROUP BY doc_id),
      cov AS (
        SELECT doc_id, unnest(generate_series(s0, e0)) AS cp FROM spans),
      tokpos AS (
        SELECT doc_id, i.i AS p, wt[i.i + 1] AS tk
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 1),
      kept AS (
        SELECT tp.doc_id, tp.p, tp.tk
        FROM tokpos tp LEFT JOIN cov
          ON tp.doc_id = cov.doc_id AND tp.p = cov.cp
        WHERE cov.cp IS NULL),
      reasm AS (
        SELECT doc_id, string_agg(tk, ' ' ORDER BY p) AS text_clean
        FROM kept GROUP BY doc_id)
      SELECT t.doc_id,
             CAST(coalesce(ss.n_spans, 0) AS BIGINT) AS n_spans,
             CAST(coalesce(ss.removed, 0) AS BIGINT) AS tokens_removed,
             CAST(len(t.wt) - coalesce(ss.removed, 0) AS BIGINT)
               AS tokens_kept,
             coalesce(r.text_clean, '') AS text_clean
      FROM tok t
      LEFT JOIN ss ON t.doc_id = ss.doc_id
      LEFT JOIN reasm r ON t.doc_id = r.doc_id
      ORDER BY t.doc_id""",

    // q233's chain with the duplicated-gram set replaced by the
    // reference corpus's distinct gram hashes (q218's eval construction)
    "q240_contamination_spans" -> """
      WITH ref AS (
        SELECT string_split_regex(trim(text), '\s+') AS wt
        FROM documents WHERE doc_id % 2 = 0),
      refg AS (
        SELECT DISTINCT
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM ref JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      train AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text FROM documents
        WHERE doc_id % 20 = 0),
      ttok AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM train),
      tgrams AS (
        SELECT doc_id, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM ttok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      hits AS (SELECT tg.doc_id, tg.p FROM tgrams tg JOIN refg USING (h)),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m)
      SELECT doc_id,
             CAST(min(p) + 1 AS BIGINT) AS span_start,
             CAST(max(p) + 8 AS BIGINT) AS span_end,
             CAST(max(p) + 8 - min(p) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",

    // q233's span algebra under ARRIVAL-TIME knowledge: a position flags
    // iff its gram repeats within its own batch (per-(h, b) count >= 2)
    // or was first sighted in an earlier batch (min batch < its batch);
    // batch = doc_id mod 3, mirrored exactly
    "q242_stream_duplicate_spans" -> """
      WITH tok AS (
        SELECT doc_id, doc_id % 3 AS b,
               string_split_regex(trim(text), '\s+') AS wt
        FROM documents),
      grams AS (
        SELECT doc_id, b, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      bc AS (SELECT h, b, count(*) AS c FROM grams GROUP BY h, b),
      firstb AS (SELECT h, min(b) AS b0 FROM grams GROUP BY h),
      hits AS (
        SELECT g.doc_id, g.p
        FROM grams g
        JOIN bc ON bc.h = g.h AND bc.b = g.b
        JOIN firstb f ON f.h = g.h
        WHERE bc.c >= 2 OR f.b0 < g.b),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m)
      SELECT doc_id,
             CAST(min(p) + 1 AS BIGINT) AS span_start,
             CAST(max(p) + 8 AS BIGINT) AS span_end,
             CAST(max(p) + 8 - min(p) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",

    // the streamed log-structured CMS state serves an EXACT answer over
    // everything streamed (count-min never undercounts; the exact pass
    // drops its false positives), so q134's plain HAVING oracle certifies
    // the whole stream+merge machinery
    "q243_stream_heavy_hitters" -> """
      WITH tot AS (SELECT count(*) AS n FROM lineitem)
      SELECT CAST(l_partkey AS BIGINT) AS pk, count(*) AS cnt
      FROM lineitem, tot
      GROUP BY 1, tot.n
      HAVING count(*) >= CAST(ceil(0.00075 * tot.n) AS BIGINT)
      ORDER BY pk""",

    // full replay of the deterministic HLL register algebra: md5 buckets
    // (first 3 hex chars) and 48-bit ranks (next 12), rho = 49 − bitlen,
    // integer-exact harmonic sum Σ2^(49−M) in BIGINT (order-independent),
    // α·m²/Z raw estimate and the published m·ln(m/V) small-range arm —
    // every double op mirrors the Spark expression shape left-to-right
    "q244_hll_distinct" -> """
      WITH h AS (
        SELECT md5(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS h
        FROM lineitem WHERE l_partkey IS NOT NULL),
      bits AS (
        SELECT CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 4, 12)) AS UBIGINT) AS x
        FROM h),
      regs AS (
        SELECT bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(*) AS rset,
               sum(CAST(power(2, 49 - mr) AS BIGINT)) AS s1
        FROM regs),
      est AS (
        SELECT rset,
               CAST(s1 + (4096 - rset) * 562949953421312 AS BIGINT) AS hs,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 /
                 (CAST(s1 + (4096 - rset) * 562949953421312 AS DOUBLE) /
                   562949953421312.0) AS raw
        FROM agg)
      SELECT CAST(4096 AS BIGINT) AS m,
             rset AS registers_set,
             hs AS harmonic_sum,
             round(raw, 6) AS est_raw,
             round(CASE WHEN raw <= 2.5 * 4096.0 AND rset < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - rset AS DOUBLE))
                   ELSE raw END, 6) AS distinct_est
      FROM est""",

    // q244's register algebra at every batch PREFIX (batch = user mod 3):
    // the cumulative distinct-users trajectory
    "q245_stream_distinct_count" -> """
      WITH pre AS (SELECT 0 AS ub UNION ALL SELECT 1 UNION ALL SELECT 2),
      vals AS (
        SELECT CAST(user_id AS BIGINT) % 3 AS sl,
               md5(CAST(CAST(user_id AS BIGINT) AS VARCHAR)) AS h
        FROM events WHERE user_id IS NOT NULL),
      bits AS (
        SELECT sl, CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 4, 12)) AS UBIGINT) AS x
        FROM vals),
      regs AS (
        SELECT pre.ub, bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits JOIN pre ON bits.sl <= pre.ub GROUP BY pre.ub, bkt),
      agg AS (
        -- LEFT join from pre: a degenerate fixture with an empty user
        -- slice must still emit that prefix's row (registers_set = 0,
        -- distinct_est = 0), matching the Spark face's empty-frame
        -- estimate
        SELECT pre.ub, count(regs.bkt) AS rset,
               coalesce(sum(CAST(power(2, 49 - mr) AS BIGINT)), 0) AS s1
        FROM pre LEFT JOIN regs ON regs.ub = pre.ub GROUP BY pre.ub),
      est AS (
        SELECT ub, rset,
               CAST(s1 + (4096 - rset) * 562949953421312 AS BIGINT) AS hs,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 /
                 (CAST(s1 + (4096 - rset) * 562949953421312 AS DOUBLE) /
                   562949953421312.0) AS raw
        FROM agg)
      SELECT CAST(ub AS BIGINT) AS upto_batch,
             CAST(4096 AS BIGINT) AS m,
             rset AS registers_set,
             hs AS harmonic_sum,
             round(raw, 6) AS est_raw,
             round(CASE WHEN raw <= 2.5 * 4096.0 AND rset < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - rset AS DOUBLE))
                   ELSE raw END, 6) AS distinct_est
      FROM est ORDER BY upto_batch""",

    // q244's register algebra at p = 16: 4-hex-char buckets, HUGEINT
    // harmonic sum cast to DECIMAL(38,0) — the same exact integer the
    // Spark side carries in decimal
    "q249_hll_p16" -> """
      WITH h AS (
        SELECT md5(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS h
        FROM lineitem WHERE l_partkey IS NOT NULL),
      bits AS (
        SELECT CAST(('0x' || substr(h, 1, 4)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 5, 12)) AS UBIGINT) AS x
        FROM h),
      regs AS (
        SELECT bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(*) AS rset,
               coalesce(sum(CAST(power(2, 49 - mr) AS HUGEINT)),
                        CAST(0 AS HUGEINT)) AS s1
        FROM regs),
      est AS (
        SELECT rset,
               s1 + CAST(65536 - rset AS HUGEINT) *
                 CAST(562949953421312 AS HUGEINT) AS hsi
        FROM agg)
      SELECT CAST(65536 AS BIGINT) AS m,
             rset AS registers_set,
             CAST(hsi AS VARCHAR) AS harmonic_sum,
             round((0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 * 65536.0 /
               (CAST(hsi AS DOUBLE) / 562949953421312.0), 6) AS est_raw,
             round(CASE WHEN (0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 *
                     65536.0 / (CAST(hsi AS DOUBLE) / 562949953421312.0)
                     <= 2.5 * 65536.0 AND rset < 65536
                   THEN 65536.0 * ln(65536.0 / CAST(65536 - rset AS DOUBLE))
                   ELSE (0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 *
                     65536.0 / (CAST(hsi AS DOUBLE) / 562949953421312.0)
                   END, 6) AS distinct_est
      FROM est""",

    // q244's register algebra over o_custkey — the compacted-log read
    // view must equal the from-scratch sketch (compaction is max-merge,
    // the reader's own algebra)
    "q250_compacted_hll_log" -> """
      WITH h AS (
        SELECT md5(CAST(CAST(o_custkey AS BIGINT) AS VARCHAR)) AS h
        FROM orders WHERE o_custkey IS NOT NULL),
      bits AS (
        SELECT CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 4, 12)) AS UBIGINT) AS x
        FROM h),
      regs AS (
        SELECT bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(*) AS rset,
               sum(CAST(power(2, 49 - mr) AS BIGINT)) AS s1
        FROM regs),
      est AS (
        SELECT rset,
               CAST(s1 + (4096 - rset) * 562949953421312 AS BIGINT) AS hs,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 /
                 (CAST(s1 + (4096 - rset) * 562949953421312 AS DOUBLE) /
                   562949953421312.0) AS raw
        FROM agg)
      SELECT CAST(4096 AS BIGINT) AS m,
             rset AS registers_set,
             hs AS harmonic_sum,
             round(raw, 6) AS est_raw,
             round(CASE WHEN raw <= 2.5 * 4096.0 AND rset < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - rset AS DOUBLE))
                   ELSE raw END, 6) AS distinct_est
      FROM est""",

    // q244's register algebra per epoch-day group: daily-active-users
    "q246_hll_distinct_by_group" -> """
      WITH vals AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               md5(CAST(CAST(user_id AS BIGINT) AS VARCHAR)) AS h
        FROM events WHERE user_id IS NOT NULL),
      bits AS (
        SELECT day, CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 4, 12)) AS UBIGINT) AS x
        FROM vals),
      regs AS (
        SELECT day, bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits GROUP BY day, bkt),
      agg AS (
        SELECT day, count(*) AS rset,
               sum(CAST(power(2, 49 - mr) AS BIGINT)) AS s1
        FROM regs GROUP BY day),
      est AS (
        SELECT day, rset,
               CAST(s1 + (4096 - rset) * 562949953421312 AS BIGINT) AS hs,
               (0.7213 / (1.0 + 1.079 / 4096.0)) * 4096.0 * 4096.0 /
                 (CAST(s1 + (4096 - rset) * 562949953421312 AS DOUBLE) /
                   562949953421312.0) AS raw
        FROM agg)
      SELECT CAST(day AS BIGINT) AS day,
             CAST(4096 AS BIGINT) AS m,
             rset AS registers_set,
             hs AS harmonic_sum,
             round(raw, 6) AS est_raw,
             round(CASE WHEN raw <= 2.5 * 4096.0 AND rset < 4096
                   THEN 4096.0 * ln(4096.0 / CAST(4096 - rset AS DOUBLE))
                   ELSE raw END, 6) AS distinct_est
      FROM est ORDER BY day""",

    // three q244 register estimates (side A, side B, max-merged union)
    // + inclusion-exclusion; sides are mod-3 classes with true Jaccard 1/3
    "q247_hll_overlap" -> """
      WITH rows_ AS (
        SELECT md5(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS h,
               CAST(l_partkey AS BIGINT) % 3 AS c
        FROM lineitem WHERE l_partkey IS NOT NULL),
      bits AS (
        SELECT c <> 2 AS in_a, c <> 0 AS in_b,
               CAST(('0x' || substr(h, 1, 3)) AS UBIGINT) AS bkt,
               CASE WHEN CAST(('0x' || substr(h, 4, 12)) AS UBIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(
                      CAST(('0x' || substr(h, 4, 12)) AS UBIGINT)))
               END AS rho
        FROM rows_ WHERE c <> 2 OR c <> 0),
      regs AS (
        SELECT bkt,
               max(CASE WHEN in_a THEN rho END) AS ma,
               max(CASE WHEN in_b THEN rho END) AS mb,
               max(rho) AS mu
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(ma) AS ra,
               sum(CASE WHEN ma IS NOT NULL
                   THEN CAST(power(2, 49 - ma) AS BIGINT) END) AS sa,
               count(mb) AS rb,
               sum(CASE WHEN mb IS NOT NULL
                   THEN CAST(power(2, 49 - mb) AS BIGINT) END) AS sb,
               count(mu) AS ru,
               sum(CAST(power(2, 49 - mu) AS BIGINT)) AS su
        FROM regs),
      est AS (
        SELECT
          CASE WHEN (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(sa,0)+(4096-ra)*562949953421312 AS DOUBLE)/
                   562949953421312.0) <= 2.5*4096.0 AND ra < 4096
               THEN 4096.0 * ln(4096.0 / CAST(4096 - ra AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(sa,0)+(4096-ra)*562949953421312 AS DOUBLE)/
                   562949953421312.0) END AS est_a,
          CASE WHEN (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(sb,0)+(4096-rb)*562949953421312 AS DOUBLE)/
                   562949953421312.0) <= 2.5*4096.0 AND rb < 4096
               THEN 4096.0 * ln(4096.0 / CAST(4096 - rb AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(sb,0)+(4096-rb)*562949953421312 AS DOUBLE)/
                   562949953421312.0) END AS est_b,
          CASE WHEN (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(su,0)+(4096-ru)*562949953421312 AS DOUBLE)/
                   562949953421312.0) <= 2.5*4096.0 AND ru < 4096
               THEN 4096.0 * ln(4096.0 / CAST(4096 - ru AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/4096.0))*4096.0*4096.0/
                 (CAST(COALESCE(su,0)+(4096-ru)*562949953421312 AS DOUBLE)/
                   562949953421312.0) END AS est_union
        FROM agg)
      SELECT CAST(4096 AS BIGINT) AS m,
             round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
             round(est_union, 6) AS est_union,
             round(greatest(est_a + est_b - est_union, 0.0), 6)
               AS est_intersection,
             round(CASE WHEN est_union > 0.0
                   THEN greatest(est_a + est_b - est_union, 0.0) / est_union
                   ELSE 0.0 END, 6) AS jaccard_est
      FROM est""",

    // one aggregation over the union — compaction + continued appends
    // must be invisible to the read view (q231's exact-decimal contract)
    "q253_compacted_agg_state" -> """
      WITH v AS (
        SELECT o_orderpriority, CAST(o_custkey % 8 AS BIGINT) AS ck_bucket,
               CAST(o_totalprice AS DECIMAL(18,6)) AS v
        FROM orders)
      SELECT o_orderpriority, ck_bucket,
             count(v) AS n,
             CAST(sum(v) AS DOUBLE) AS total,
             CAST(min(v) AS DOUBLE) AS min_val,
             CAST(max(v) AS DOUBLE) AS max_val,
             CAST(sum(v) AS DOUBLE) / count(v) AS avg_val
      FROM v GROUP BY 1, 2 ORDER BY 1, 2""",

    // q246's per-group register algebra at p = 16: 4-hex buckets,
    // HUGEINT harmonic sums, the exact integer crossing as a string
    "q254_hll_group_p16" -> """
      WITH vals AS (
        SELECT epoch_us(ts) // 86400000000 AS day,
               md5(CAST(CAST(user_id AS BIGINT) AS VARCHAR)) AS h
        FROM events WHERE user_id IS NOT NULL),
      bits AS (
        SELECT day, CAST(('0x' || substr(h, 1, 4)) AS UBIGINT) AS bkt,
               CAST(('0x' || substr(h, 5, 12)) AS UBIGINT) AS x
        FROM vals),
      regs AS (
        SELECT day, bkt,
               max(CASE WHEN x = 0 THEN 49 ELSE 49 - length(bin(x)) END) AS mr
        FROM bits GROUP BY day, bkt),
      agg AS (
        SELECT day, count(*) AS rset,
               sum(CAST(power(2, 49 - mr) AS HUGEINT)) AS s1
        FROM regs GROUP BY day),
      est AS (
        SELECT day, rset,
               s1 + CAST(65536 - rset AS HUGEINT) *
                 CAST(562949953421312 AS HUGEINT) AS hsi
        FROM agg)
      SELECT CAST(day AS BIGINT) AS day,
             CAST(65536 AS BIGINT) AS m,
             rset AS registers_set,
             CAST(hsi AS VARCHAR) AS harmonic_sum,
             round((0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 * 65536.0 /
               (CAST(hsi AS DOUBLE) / 562949953421312.0), 6) AS est_raw,
             round(CASE WHEN (0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 *
                     65536.0 / (CAST(hsi AS DOUBLE) / 562949953421312.0)
                     <= 2.5 * 65536.0 AND rset < 65536
                   THEN 65536.0 * ln(65536.0 / CAST(65536 - rset AS DOUBLE))
                   ELSE (0.7213 / (1.0 + 1.079 / 65536.0)) * 65536.0 *
                     65536.0 / (CAST(hsi AS DOUBLE) / 562949953421312.0)
                   END, 6) AS distinct_est
      FROM est ORDER BY day""",

    // q247's three-sketch inclusion–exclusion at p = 16 — HUGEINT
    // harmonic sums (m·2^49 = 2^65 overflows BIGINT), only doubles cross
    "q255_hll_overlap_p16" -> """
      WITH rows_ AS (
        SELECT md5(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS h,
               CAST(l_partkey AS BIGINT) % 3 AS c
        FROM lineitem WHERE l_partkey IS NOT NULL),
      bits AS (
        SELECT c <> 2 AS in_a, c <> 0 AS in_b,
               CAST(('0x' || substr(h, 1, 4)) AS UBIGINT) AS bkt,
               CASE WHEN CAST(('0x' || substr(h, 5, 12)) AS UBIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(
                      CAST(('0x' || substr(h, 5, 12)) AS UBIGINT)))
               END AS rho
        FROM rows_ WHERE c <> 2 OR c <> 0),
      regs AS (
        SELECT bkt,
               max(CASE WHEN in_a THEN rho END) AS ma,
               max(CASE WHEN in_b THEN rho END) AS mb,
               max(rho) AS mu
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(ma) AS ra,
               sum(CASE WHEN ma IS NOT NULL
                   THEN CAST(power(2, 49 - ma) AS HUGEINT) END) AS sa,
               count(mb) AS rb,
               sum(CASE WHEN mb IS NOT NULL
                   THEN CAST(power(2, 49 - mb) AS HUGEINT) END) AS sb,
               count(mu) AS ru,
               sum(CAST(power(2, 49 - mu) AS HUGEINT)) AS su
        FROM regs),
      hs AS (
        SELECT ra, rb, ru,
          CAST(COALESCE(sa, CAST(0 AS HUGEINT)) +
            CAST(65536 - ra AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS ha,
          CAST(COALESCE(sb, CAST(0 AS HUGEINT)) +
            CAST(65536 - rb AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS hb,
          CAST(COALESCE(su, CAST(0 AS HUGEINT)) +
            CAST(65536 - ru AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS hu
        FROM agg),
      est AS (
        SELECT
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (ha/562949953421312.0) <= 2.5*65536.0 AND ra < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - ra AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (ha/562949953421312.0) END AS est_a,
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hb/562949953421312.0) <= 2.5*65536.0 AND rb < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - rb AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hb/562949953421312.0) END AS est_b,
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hu/562949953421312.0) <= 2.5*65536.0 AND ru < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - ru AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hu/562949953421312.0) END AS est_union
        FROM hs)
      SELECT CAST(65536 AS BIGINT) AS m,
             round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
             round(est_union, 6) AS est_union,
             round(greatest(est_a + est_b - est_union, 0.0), 6)
               AS est_intersection,
             round(CASE WHEN est_union > 0.0
                   THEN greatest(est_a + est_b - est_union, 0.0) / est_union
                   ELSE 0.0 END, 6) AS jaccard_est
      FROM est""",

    // q256: the single-scan overlap variant produces IDENTICAL registers
    // to q255 (same (side, bucket) max-merge updates from one pass), so
    // the q255 oracle certifies it verbatim
    "q256_hll_overlap_single_scan" -> """
      WITH rows_ AS (
        SELECT md5(CAST(CAST(l_partkey AS BIGINT) AS VARCHAR)) AS h,
               CAST(l_partkey AS BIGINT) % 3 AS c
        FROM lineitem WHERE l_partkey IS NOT NULL),
      bits AS (
        SELECT c <> 2 AS in_a, c <> 0 AS in_b,
               CAST(('0x' || substr(h, 1, 4)) AS UBIGINT) AS bkt,
               CASE WHEN CAST(('0x' || substr(h, 5, 12)) AS UBIGINT) = 0
                    THEN 49
                    ELSE 49 - length(bin(
                      CAST(('0x' || substr(h, 5, 12)) AS UBIGINT)))
               END AS rho
        FROM rows_ WHERE c <> 2 OR c <> 0),
      regs AS (
        SELECT bkt,
               max(CASE WHEN in_a THEN rho END) AS ma,
               max(CASE WHEN in_b THEN rho END) AS mb,
               max(rho) AS mu
        FROM bits GROUP BY bkt),
      agg AS (
        SELECT count(ma) AS ra,
               sum(CASE WHEN ma IS NOT NULL
                   THEN CAST(power(2, 49 - ma) AS HUGEINT) END) AS sa,
               count(mb) AS rb,
               sum(CASE WHEN mb IS NOT NULL
                   THEN CAST(power(2, 49 - mb) AS HUGEINT) END) AS sb,
               count(mu) AS ru,
               sum(CAST(power(2, 49 - mu) AS HUGEINT)) AS su
        FROM regs),
      hs AS (
        SELECT ra, rb, ru,
          CAST(COALESCE(sa, CAST(0 AS HUGEINT)) +
            CAST(65536 - ra AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS ha,
          CAST(COALESCE(sb, CAST(0 AS HUGEINT)) +
            CAST(65536 - rb AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS hb,
          CAST(COALESCE(su, CAST(0 AS HUGEINT)) +
            CAST(65536 - ru AS HUGEINT) *
            CAST(562949953421312 AS HUGEINT) AS DOUBLE) AS hu
        FROM agg),
      est AS (
        SELECT
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (ha/562949953421312.0) <= 2.5*65536.0 AND ra < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - ra AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (ha/562949953421312.0) END AS est_a,
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hb/562949953421312.0) <= 2.5*65536.0 AND rb < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - rb AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hb/562949953421312.0) END AS est_b,
          CASE WHEN (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hu/562949953421312.0) <= 2.5*65536.0 AND ru < 65536
               THEN 65536.0 * ln(65536.0 / CAST(65536 - ru AS DOUBLE))
               ELSE (0.7213/(1.0+1.079/65536.0))*65536.0*65536.0/
                 (hu/562949953421312.0) END AS est_union
        FROM hs)
      SELECT CAST(65536 AS BIGINT) AS m,
             round(est_a, 6) AS est_a, round(est_b, 6) AS est_b,
             round(est_union, 6) AS est_union,
             round(greatest(est_a + est_b - est_union, 0.0), 6)
               AS est_intersection,
             round(CASE WHEN est_union > 0.0
                   THEN greatest(est_a + est_b - est_union, 0.0) / est_union
                   ELSE 0.0 END, 6) AS jaccard_est
      FROM est""",

    // q257: live compaction is read-invisible (fold-then-merge ≡ merge),
    // so the q253 aggregate-over-the-union oracle certifies it verbatim
    "q257_live_compacted_agg_state" -> """
      WITH v AS (
        SELECT o_orderpriority, CAST(o_custkey % 8 AS BIGINT) AS ck_bucket,
               CAST(o_totalprice AS DECIMAL(18,6)) AS v
        FROM orders)
      SELECT o_orderpriority, ck_bucket,
             count(v) AS n,
             CAST(sum(v) AS DOUBLE) AS total,
             CAST(min(v) AS DOUBLE) AS min_val,
             CAST(max(v) AS DOUBLE) AS max_val,
             CAST(sum(v) AS DOUBLE) / count(v) AS avg_val
      FROM v GROUP BY 1, 2 ORDER BY 1, 2""",

    // q258: exactness over the union survives the live cell fold — the
    // q243 brute-force HAVING oracle, verbatim
    "q258_live_compacted_cms_log" -> """
      WITH tot AS (SELECT count(*) AS n FROM lineitem)
      SELECT CAST(l_partkey AS BIGINT) AS pk, count(*) AS cnt
      FROM lineitem, tot
      GROUP BY 1, tot.n
      HAVING count(*) >= CAST(ceil(0.00075 * tot.n) AS BIGINT)
      ORDER BY pk""",

    // q259: the live-compacted partial log re-ranks to the same global
    // leaderboard — q248's window oracle, verbatim
    "q259_live_compacted_topk_log" -> """
      SELECT event_type, rnk, eid, uid, value FROM (
        SELECT event_type,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id) AS BIGINT) AS rnk,
               CAST(event_id AS BIGINT) AS eid,
               CAST(user_id AS BIGINT) AS uid, value
        FROM events) t
      WHERE rnk <= 5
      ORDER BY event_type, rnk""",

    // q260: auto-compaction is read-invisible — q242's batch-semantics
    // oracle, verbatim
    "q260_autocompact_span_stream" -> """
      WITH tok AS (
        SELECT doc_id, doc_id % 3 AS b,
               string_split_regex(trim(text), '\s+') AS wt
        FROM documents),
      grams AS (
        SELECT doc_id, b, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      bc AS (SELECT h, b, count(*) AS c FROM grams GROUP BY h, b),
      firstb AS (SELECT h, min(b) AS b0 FROM grams GROUP BY h),
      hits AS (
        SELECT g.doc_id, g.p
        FROM grams g
        JOIN bc ON bc.h = g.h AND bc.b = g.b
        JOIN firstb f ON f.h = g.h
        WHERE bc.c >= 2 OR f.b0 < g.b),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m)
      SELECT doc_id,
             CAST(min(p) + 1 AS BIGINT) AS span_start,
             CAST(max(p) + 8 AS BIGINT) AS span_end,
             CAST(max(p) + 8 - min(p) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",

    // q261: batches are (even docs, one gram-disjoint synthetic doc,
    // odd docs) — the synthetic middle batch contributes nothing, so
    // the q242 rule over the real documents with b = doc_id % 2
    // certifies the committed view (the face separately REQUIRES the
    // empty batch's partition to have committed)
    "q261_stream_empty_batch_commit" -> """
      WITH tok AS (
        SELECT doc_id, doc_id % 2 AS b,
               string_split_regex(trim(text), '\s+') AS wt
        FROM documents),
      grams AS (
        SELECT doc_id, b, i.i AS p,
               md5(wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
                   wt[i.i + 3] || ' ' || wt[i.i + 4] || ' ' ||
                   wt[i.i + 5] || ' ' || wt[i.i + 6] || ' ' ||
                   wt[i.i + 7] || ' ' || wt[i.i + 8]) AS h
        FROM tok JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 8),
      bc AS (SELECT h, b, count(*) AS c FROM grams GROUP BY h, b),
      firstb AS (SELECT h, min(b) AS b0 FROM grams GROUP BY h),
      hits AS (
        SELECT g.doc_id, g.p
        FROM grams g
        JOIN bc ON bc.h = g.h AND bc.b = g.b
        JOIN firstb f ON f.h = g.h
        WHERE bc.c >= 2 OR f.b0 < g.b),
      m AS (
        SELECT doc_id, p,
               max(p + 7) OVER (PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe
        FROM hits),
      isl AS (
        SELECT doc_id, p,
               sum(CASE WHEN pe IS NULL OR p > pe + 1 THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY p) AS grp
        FROM m)
      SELECT doc_id,
             CAST(min(p) + 1 AS BIGINT) AS span_start,
             CAST(max(p) + 8 AS BIGINT) AS span_end,
             CAST(max(p) + 8 - min(p) AS BIGINT) AS span_len
      FROM isl GROUP BY doc_id, grp
      ORDER BY doc_id, span_start""",

    // the streamed partial log re-ranks to the plain window answer
    "q248_stream_grouped_topk" -> """
      SELECT event_type, rnk, eid, uid, value FROM (
        SELECT event_type,
               CAST(row_number() OVER (PARTITION BY event_type
                 ORDER BY value DESC, event_id) AS BIGINT) AS rnk,
               CAST(event_id AS BIGINT) AS eid,
               CAST(user_id AS BIGINT) AS uid, value
        FROM events) t
      WHERE rnk <= 5
      ORDER BY event_type, rnk""",

    // q220's join with the left-outer arm: unmatched clicks contribute a
    // null-extended row; matched-only sums null-skip identically on both
    // engines (a never-converting user's gap_us is NULL — sum over no rows)
    "q234_stream_interval_left_join" -> """
      WITH c AS (SELECT event_id AS click_id, ts, user_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT event_id AS purchase_id, ts, user_id
            FROM events WHERE event_type = 'purchase')
      SELECT c.user_id,
             count(*) AS n_rows,
             count(p.purchase_id) AS n_matched,
             CAST(sum(CASE WHEN p.purchase_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_unmatched,
             CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS gap_us,
             min(p.purchase_id) AS first_purchase,
             count(DISTINCT c.click_id) AS n_clicks
      FROM c LEFT JOIN p ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      GROUP BY c.user_id ORDER BY c.user_id""",

    // every redelivery must have been dropped → the streamed output IS
    // the raw original event set
    "q235_stream_dedup_redeliveries" -> """
      SELECT user_id, count(*) AS n_events,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id ORDER BY user_id""",

    // q33's inclusive rectangle-containment test over the event point
    // stream (x = value, y = user_id mod 50)
    "q236_stream_spatial_enrich" -> """
      SELECT n.n_nationkey, count(*) AS n_pts,
             min(e.event_id) AS first_event,
             max(e.event_id) AS last_event
      FROM nation n JOIN events e
        ON e.value BETWEEN CAST(n.n_nationkey AS DOUBLE) * 20.0
                       AND CAST(n.n_nationkey AS DOUBLE) * 20.0 + 50.0
       AND CAST(e.user_id % 50 AS DOUBLE)
             BETWEEN CAST(n.n_nationkey AS DOUBLE) - 3.0
                 AND CAST(n.n_nationkey AS DOUBLE) + 3.0
      GROUP BY n.n_nationkey ORDER BY n.n_nationkey""",

    "q237_stream_dedup_events" -> """
      SELECT user_id, count(*) AS n_events,
             CAST(sum(event_id) AS BIGINT) AS id_sum,
             min(epoch_us(ts)) AS first_us,
             max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id ORDER BY user_id""",

    "q238_stream_enrich" -> """
      SELECT coalesce(c.c_mktsegment, '∅') AS segment,
             count(*) AS n_events,
             count(DISTINCT e.user_id) AS n_users,
             CAST(sum(e.event_id) AS BIGINT) AS id_sum
      FROM events e LEFT JOIN
        (SELECT c_custkey, c_mktsegment FROM customer
         WHERE c_custkey < 100) c
        ON e.user_id = c.c_custkey
      GROUP BY 1 ORDER BY segment""",

    "q228_stream_window_stats" -> """
      SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS bucket_us,
             event_type, count(*) AS n_events
      FROM events
      GROUP BY 1, 2 ORDER BY bucket_us, event_type""",

    // per-day bbox of the synthesized point stream — the streaming
    // ST_Extent face's oracle (min/max are order-insensitive)
    "q229_stream_window_extent" -> """
      SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
             min(CAST(value AS DOUBLE)) AS xmin,
             min(CAST(user_id AS DOUBLE)) AS ymin,
             max(CAST(value AS DOUBLE)) AS xmax,
             max(CAST(user_id AS DOUBLE)) AS ymax,
             count(*) AS n
      FROM events WHERE value IS NOT NULL
      GROUP BY 1 ORDER BY bucket_us""",

    // the CDC head view: per key the (ts, value)-argmax over the raw
    // table — the out-of-order streamed replay must converge to exactly
    // this (binary string collation matches Scala's ASCII comparison on
    // this corpus)
    "q227_stream_latest_per_key" -> """
      WITH r AS (
        SELECT user_id, ts, event_type,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY ts DESC, event_type DESC) AS rn
        FROM events)
      SELECT user_id, epoch_us(ts) AS ts_us, event_type AS latest_type
      FROM r WHERE rn = 1 ORDER BY user_id""",

    // per-window binned PSI vs the first-half baseline, recomputed from
    // the raw table with epoch-aligned integer window arithmetic —
    // certifies the windowed stateful aggregate end to end
    "q225_stream_psi" -> """
      WITH bse AS (
        SELECT least(greatest(CAST(floor(CAST(value AS DOUBLE) / 20.0)
                 AS BIGINT), 0), 24) AS bin, count(*) AS bc
        FROM events WHERE day(ts) <= 15 AND value IS NOT NULL GROUP BY 1),
      bt AS (SELECT CAST(sum(bc) AS DOUBLE) AS btot FROM bse),
      st AS (
        SELECT (epoch_us(ts) // 604800000000) * 604800000000 AS wus,
               least(greatest(CAST(floor(CAST(value AS DOUBLE) / 20.0)
                 AS BIGINT), 0), 24) AS bin
        FROM events WHERE day(ts) > 15 AND value IS NOT NULL),
      w AS (SELECT wus, bin, count(*) AS c FROM st GROUP BY 1, 2),
      nn AS (SELECT wus, CAST(sum(c) AS BIGINT) AS n FROM w GROUP BY 1),
      terms AS (
        SELECT w.wus, count(*) AS used,
               sum((CAST(w.c AS DOUBLE) / nn.n - bse.bc / bt.btot) *
                   ln((CAST(w.c AS DOUBLE) / nn.n) / (bse.bc / bt.btot)))
                 AS psi
        FROM w JOIN bse USING (bin) JOIN nn USING (wus), bt
        GROUP BY w.wus)
      SELECT nn.wus AS win_start_us, nn.n,
             coalesce(t.used, 0) AS n_bins_used,
             round(coalesce(t.psi, 0.0), 6) AS psi
      FROM nn LEFT JOIN terms t USING (wus)
      ORDER BY win_start_us""",

    // the zero-availability guard replayed: the CASE arm keeps the
    // domain whole (rate 10000) with deficit = the full target
    "q223_mix_zero_domain" -> s"""
      WITH docs0 AS (
        SELECT doc_id, source,
               CASE WHEN source = 'src5' THEN '' ELSE text END AS text
        FROM documents),
      tk AS (
        SELECT doc_id, source,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END
                 AS BIGINT) AS tk
        FROM docs0),
      tgt(source, target_tokens) AS (VALUES
        ${mixZeroTargets.map { case (dm, t) =>
          s"('$dm', CAST($t AS BIGINT))" }.mkString(",\n        ")}),
      avail AS (
        SELECT source, CAST(coalesce(sum(tk), 0) AS BIGINT) AS avail_tokens
        FROM tk JOIN tgt USING (source) GROUP BY source),
      rates AS (
        SELECT a.source, a.avail_tokens, t.target_tokens,
               CASE WHEN a.avail_tokens = 0 THEN CAST(10000 AS BIGINT)
                    ELSE LEAST(CAST(10000 AS BIGINT),
                      (t.target_tokens * 10000) // a.avail_tokens) END AS rate_bp,
               GREATEST(t.target_tokens - a.avail_tokens,
                        CAST(0 AS BIGINT)) AS deficit
        FROM avail a JOIN tgt t USING (source))
      SELECT k.source,
             min(r.avail_tokens) AS avail_tokens,
             min(r.target_tokens) AS target_tokens,
             min(r.rate_bp) AS rate_bp,
             min(r.deficit) AS deficit,
             count(*) AS kept_docs,
             CAST(sum(k.tk) AS BIGINT) AS kept_tokens,
             min(k.doc_id) AS min_doc
      FROM tk k JOIN rates r USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 10000 < r.rate_bp
      GROUP BY k.source ORDER BY k.source""",

    // identical rectangle-window intersection from the UNPARTITIONED
    // table — green certifies the widened grid prune lost nothing
    "q222_grid_margin_join" -> """
      WITH r AS (
        SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS x,
               CAST(c_nationkey AS DOUBLE) AS y,
               CAST(c_custkey % 5 AS DOUBLE) * 100.0 AS ex,
               CAST(c_custkey % 3 AS DOUBLE) AS ey
        FROM customer),
      w AS (
        SELECT CAST(r_regionkey AS BIGINT) AS win_id,
               2100.0 + CAST(r_regionkey AS BIGINT) * 300.0 AS x0,
               2900.0 + CAST(r_regionkey AS BIGINT) * 300.0 AS x1,
               6.0 + CAST(r_regionkey AS BIGINT) * 2.0 AS y0,
               9.0 + CAST(r_regionkey AS BIGINT) * 2.0 AS y1
        FROM region)
      SELECT w.win_id, count(*) AS n_rects,
             CAST(sum(CAST(r.x AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
             min(r.c_custkey) AS min_cust
      FROM r JOIN w
        ON r.x <= w.x1 AND r.x + r.ex >= w.x0
       AND r.y <= w.y1 AND r.y + r.ey >= w.y0
      GROUP BY w.win_id ORDER BY w.win_id""",

    // streamed interval join == the batch inequality join over the same
    // click/purchase slices; gap sums exact integer microseconds
    "q220_stream_interval_join" -> """
      WITH c AS (SELECT event_id AS click_id, ts, user_id
                 FROM events WHERE event_type = 'click'),
      p AS (SELECT event_id AS purchase_id, ts, user_id
            FROM events WHERE event_type = 'purchase')
      SELECT c.user_id, count(*) AS pairs,
             CAST(sum(epoch_us(p.ts) - epoch_us(c.ts)) AS BIGINT) AS gap_us,
             min(p.purchase_id) AS first_purchase,
             max(c.click_id) AS last_click
      FROM c JOIN p ON c.user_id = p.user_id
        AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
      GROUP BY c.user_id ORDER BY c.user_id""",
    "q01_pricing_summary" -> """
      SELECT l_returnflag, l_linestatus,
             sum(l_quantity) AS sum_qty,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS sum_disc_price,
             avg(l_quantity) AS avg_qty,
             count(*) AS count_order
      FROM lineitem
      WHERE l_quantity < 50
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""",

    "q02_topk_orders" -> """
      SELECT o_orderkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",

    "q03_revenue_by_customer" -> """
      SELECT c.c_custkey, c.c_name,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)) *
                      CAST(1.0 - l.l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      GROUP BY c.c_custkey, c.c_name
      ORDER BY revenue DESC, c_custkey LIMIT 20""",

    "q04_orders_per_region" -> """
      SELECT r.r_name, count(*) AS n_orders
      FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY r.r_name ORDER BY r.r_name""",

    "q05_semi_anti_join" -> """
      SELECT n.n_name,
             count(CASE WHEN o.has_o IS NOT NULL THEN 1 END) AS active_custs,
             count(CASE WHEN o.has_o IS NULL THEN 1 END) AS inactive_custs
      FROM nation n
      JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN (SELECT DISTINCT o_custkey, 1 AS has_o FROM orders) o
        ON o.o_custkey = c.c_custkey
      GROUP BY n.n_name ORDER BY n.n_name""",

    "q06_distinct_counts" -> """
      SELECT count(DISTINCT l_partkey) AS d_parts,
             count(DISTINCT l_suppkey) AS d_supps,
             count(DISTINCT l_orderkey) AS d_orders
      FROM lineitem""",

    "q07_window_rank" -> """
      SELECT l_returnflag, rnk, l_orderkey, l_linenumber, l_extendedprice
      FROM (
        SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
               row_number() OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rnk
        FROM lineitem) x
      WHERE rnk <= 3
      ORDER BY l_returnflag, rnk""",

    "q08_union_segments" -> """
      SELECT custkey FROM (
        SELECT DISTINCT o_custkey AS custkey FROM orders WHERE o_totalprice > 300000
        UNION
        SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING') u
      ORDER BY custkey""",

    "q09_except_inactive" -> """
      SELECT custkey FROM (
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT DISTINCT o_custkey AS custkey FROM orders) e
      ORDER BY custkey""",

    "q10_event_sessions" -> """
      WITH lagged AS (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
                    ELSE 0 END AS new_s
        FROM lagged),
      sessions AS (
        SELECT user_id, ts,
               CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
        FROM flagged)
      SELECT user_id, session_seq,
             min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, session_seq
      ORDER BY user_id, session_seq""",

    "q11_orders_by_month" -> """
      SELECT epoch_us(date_trunc('month', o_orderdate)) AS month_us,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY 1""",

    "q12_st_astext_points" -> """
      SELECT c_custkey,
             'POINT (' || CAST(c_acctbal AS VARCHAR) || ' ' ||
             CAST(CAST(c_nationkey AS DOUBLE) AS VARCHAR) || ')' AS wkt
      FROM customer ORDER BY c_custkey""",

    "q13_st_extent" -> """
      SELECT min(l_extendedprice) AS xmin, min(l_quantity) AS ymin,
             max(l_extendedprice) AS xmax, max(l_quantity) AS ymax
      FROM lineitem""",

    // replicates the envelope-polygon shoelace evaluation order (5-point
    // CCW ring, left-associated sum, /2.0, abs) for bit-exact parity
    "q14_st_envelope_area" -> """
      WITH b AS (
        SELECT l_orderkey,
               min(l_extendedprice) AS x0, min(l_quantity) AS y0,
               max(l_extendedprice) AS x1, max(l_quantity) AS y1
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey,
             abs(((x0 * y0 - x1 * y0) + (x1 * y1 - x1 * y0) +
                  (x1 * y1 - x0 * y1) + (x0 * y0 - x0 * y1) +
                  (x0 * y0 - x0 * y0)) / 2.0) AS area
      FROM b ORDER BY l_orderkey""",

    "q15_st_contains_filter" -> """
      SELECT c_nationkey, count(*) AS n_inside
      FROM customer
      WHERE c_acctbal BETWEEN 1000 AND 8000
        AND CAST(c_nationkey AS DOUBLE) BETWEEN 2 AND 20
      GROUP BY c_nationkey ORDER BY c_nationkey""",

    "q16_spatial_join" -> """
      SELECT b.c_mktsegment, count(*) AS n_supp
      FROM (
        SELECT c_mktsegment,
               min(c_acctbal) AS xmin, CAST(min(c_nationkey) AS DOUBLE) AS ymin,
               max(c_acctbal) AS xmax, CAST(max(c_nationkey) AS DOUBLE) AS ymax
        FROM customer GROUP BY c_mktsegment) b
      JOIN supplier sp
        ON sp.s_acctbal BETWEEN b.xmin AND b.xmax
       AND CAST(sp.s_nationkey AS DOUBLE) BETWEEN b.ymin AND b.ymax
      GROUP BY b.c_mktsegment ORDER BY b.c_mktsegment""",

    // CAST AS DOUBLE: no-op on double files; on decimal-typed files it
    // keeps DuckDB's coordinate arithmetic in doubles like the
    // (normalized) Spark side — decimal multiplies round differently in
    // the last ulp (decimal variant gate finding; same in q19/q38)
    "q17_st_distance" -> """
      SELECT l_orderkey, l_linenumber,
             sqrt(CAST(l_extendedprice AS DOUBLE) * CAST(l_extendedprice AS DOUBLE)
                  + l_quantity * l_quantity) AS dist
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q18_st_geometrytype" -> """
      SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'ST_Point'
                  WHEN o_orderkey % 3 = 1 THEN 'ST_LineString'
                  ELSE 'ST_Polygon' END AS gtype,
             count(*) AS n
      FROM orders GROUP BY 1 ORDER BY 1""",

    "q20_doc_stats" -> """
      SELECT doc_id,
             length(text) AS n_chars,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
             CASE WHEN length(text) = 0 THEN 0.0
                  ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                       / length(text) END AS alpha_ratio,
             CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                       / len(string_split_regex(trim(text), '\s+')) END AS avg_word_len
      FROM documents ORDER BY doc_id""",

    "q21_dedup_exact" -> """
      SELECT md5(text) AS content_key, count(*) AS dup_count,
             min(doc_id) AS keeper_id
      FROM documents GROUP BY md5(text) ORDER BY content_key""",

    "q22_quality_filter" -> """
      WITH m AS (
        SELECT doc_id,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                         / length(text) END AS alpha,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^!-/:-@\[-`{-~]', '', 'g')) AS DOUBLE)
                         / length(text) END AS punct,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                         / length(text) END AS digit
        FROM documents)
      SELECT doc_id,
             greatest(least(len_score * 0.3 + alpha * 0.7 - (punct + digit) * 0.5, 1.0), 0.0) AS quality
      FROM m
      WHERE greatest(least(len_score * 0.3 + alpha * 0.7 - (punct + digit) * 0.5, 1.0), 0.0) > 0.5
      ORDER BY doc_id""",

    // Full SQL mirror of TextUtil.langId's Latin-script voting path
    // (generated from the same profile lists — see langMirrorCtes).
    "q23_lang_id" -> s"""
      WITH ${langMirrorCtes("documents")}
      SELECT doc_id, lang AS lang_pred
      FROM langs ORDER BY doc_id""",

    // True connected components over the SAME quadratic exact-Jaccard pair
    // set the q25 oracle certifies the LSH candidates against: label of a
    // doc = min id reachable in the undirected pair graph, computed by a
    // recursive reachability CTE (UNION dedups, so it terminates).
    "q56_dup_clusters" -> s"""
      WITH RECURSIVE ${gramPairCtes("documents", 0.8)},
      dedges AS (
        SELECT id_a AS src, id_b AS dst FROM dpairs
        UNION ALL
        SELECT id_b, id_a FROM dpairs),
      reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, r.lab FROM reach r JOIN dedges e ON e.dst = r.id)
      SELECT id AS doc_id, min(lab) AS cluster_id
      FROM reach GROUP BY id ORDER BY doc_id""",

    "q57_rollup_agg" -> """
      SELECT coalesce(l_returnflag, 'ALL') AS rf,
             coalesce(l_linestatus, 'ALL') AS ls,
             CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
             sum(l_quantity) AS sum_qty,
             count(*) AS n
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rf, ls""",

    "q58_pivot_wide" -> """
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F'
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "F",
             CAST(sum(CASE WHEN o_orderstatus = 'O'
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "O",
             CAST(sum(CASE WHEN o_orderstatus = 'P'
               THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS "P"
      FROM orders GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    "q59_stratified_sample" -> """
      SELECT c_custkey, c_mktsegment
      FROM (SELECT c_custkey, c_mktsegment,
              CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS b
            FROM customer) t
      WHERE b < CASE c_mktsegment
                  WHEN 'AUTOMOBILE' THEN 2000
                  WHEN 'BUILDING'   THEN 1000
                  WHEN 'FURNITURE'  THEN 500
                  WHEN 'HOUSEHOLD'  THEN 1500
                  ELSE 250 END
      ORDER BY c_custkey""",

    // mirrors Similarity.quantizeInt8 exactly: abs/max in double, the
    // left-associated x*127.0/scale product, floor(+0.5) half-up, clamp
    "q60_quantize_int8" -> """
      WITH s AS (
        SELECT vec_id, embedding,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS scale
        FROM embeddings),
      q AS (
        SELECT vec_id, scale,
               CASE WHEN scale IS NULL OR scale = 0.0
                    THEN list_transform(embedding, x -> 0)
                    ELSE list_transform(embedding, x ->
                      CAST(least(greatest(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5),
                        -127.0), 127.0) AS INT))
               END AS q8
        FROM s)
      SELECT vec_id,
             unnest(range(0, len(q8))) AS pos,
             unnest(q8) AS qval,
             scale
      FROM q
      ORDER BY vec_id, pos""",

    "q95_pq_encode" -> """
      WITH ranked AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS code
        FROM embeddings),
      cb AS (SELECT code, embedding AS codevec FROM ranked WHERE code < 16),
      pairs AS (
        SELECT e.vec_id, s.s AS sub, cb.code,
               (SELECT sum((CAST(e.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE))
                         * (CAST(e.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE)))
                FROM generate_series(1, 16) i(i)) AS d2
        FROM embeddings e
        CROSS JOIN generate_series(0, 3) s(s)
        CROSS JOIN cb)
      SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
      FROM (SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d2, code) AS rn
            FROM pairs)
      WHERE rn = 1 ORDER BY vec_id, sub""",

    "q96_pq_adc_topk" -> """
      WITH ranked AS (
        SELECT vec_id, embedding,
               row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                  vec_id) - 1 AS code
        FROM embeddings),
      cb AS (SELECT code, embedding AS codevec FROM ranked WHERE code < 16),
      pairs AS (
        SELECT e.vec_id, s.s AS sub, cb.code,
               (SELECT sum((CAST(e.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE))
                         * (CAST(e.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE)))
                FROM generate_series(1, 16) i(i)) AS d2
        FROM embeddings e
        CROSS JOIN generate_series(0, 3) s(s)
        CROSS JOIN cb),
      codes AS (
        SELECT vec_id, sub, code
        FROM (SELECT vec_id, sub, code,
                     row_number() OVER (PARTITION BY vec_id, sub
                                        ORDER BY d2, code) AS rn
              FROM pairs)
        WHERE rn = 1),
      tab AS (
        SELECT q.vec_id AS query_id, s.s AS sub, cb.code,
               (SELECT sum((CAST(q.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE))
                         * (CAST(q.embedding[s.s * 16 + i.i] AS DOUBLE)
                            - CAST(cb.codevec[s.s * 16 + i.i] AS DOUBLE)))
                FROM generate_series(1, 16) i(i)) AS d2
        FROM embeddings q
        CROSS JOIN generate_series(0, 3) s(s)
        CROSS JOIN cb
        WHERE q.vec_id < 5),
      dists AS (
        SELECT t.query_id, c.vec_id AS neighbor_id, sum(t.d2) AS dist
        FROM codes c
        JOIN tab t ON t.sub = c.sub AND t.code = c.code
        WHERE c.vec_id <> t.query_id
        GROUP BY 1, 2)
      SELECT query_id, CAST(neighbor_id AS BIGINT) AS neighbor_id, dist,
             CAST(rn AS INT) AS rank
      FROM (SELECT query_id, neighbor_id, round(dist, 4) AS dist,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY round(dist, 4), neighbor_id)
                     AS rn
            FROM dists)
      WHERE rn <= 10 ORDER BY query_id, rank""",

    "q97_try_surface" -> """
      SELECT l_orderkey, l_linenumber,
             TRY_CAST(l_returnflag || CAST(l_orderkey AS VARCHAR) AS INT) AS bad_cast,
             TRY_CAST(CAST(l_orderkey AS VARCHAR) AS INT) AS good_cast,
             CAST(l_extendedprice AS DOUBLE)
               / nullif(CAST(l_quantity AS DOUBLE) - 5.0, 0.0) AS div_gap,
             CASE WHEN CAST(l_orderkey AS BIGINT) = 0 THEN 9223372036854775807
                  ELSE CAST(NULL AS BIGINT) END AS add_ovf,
             CAST(NULL AS VARCHAR) AS oob,
             CAST(NULL AS VARCHAR) AS bad_ts
      FROM lineitem WHERE l_orderkey < 200
      ORDER BY l_orderkey, l_linenumber""",

    "q98_approx_distinct" -> """
      SELECT event_type,
             count(DISTINCT user_id) AS exact_users,
             TRUE AS approx_ok
      FROM events GROUP BY event_type ORDER BY event_type""",

    "q99_doc_chunking" -> """
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS wt
        FROM documents),
      c AS (
        SELECT doc_id, wt, len(wt) AS nw,
               greatest(1, CAST(ceil((len(wt) - 40) / 30.0) AS INT) + 1) AS nc
        FROM w WHERE len(wt) > 0)
      SELECT doc_id, CAST(i.i AS INT) AS chunk_idx,
             array_to_string(wt[i.i * 30 + 1 : i.i * 30 + 40], ' ') AS chunk_text,
             CAST(least(40, nw - i.i * 30) AS INT) AS n_words
      FROM c JOIN generate_series(0, 4095) i(i) ON i.i < c.nc
      ORDER BY doc_id, chunk_idx""",

    "q104_nb_classifier" -> """
      WITH w AS (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS w
        FROM documents),
      cnts AS (SELECT lang, w, count(*) AS c FROM w GROUP BY 1, 2),
      wtot AS (SELECT lang, count(*) AS wc FROM w GROUP BY 1),
      vocab AS (SELECT count(DISTINCT w) AS v FROM w),
      lik AS (
        SELECT cl.lang, vw.w,
               ln((coalesce(k.c, 0) + 1.0) / (wtot.wc + vocab.v)) AS ll
        FROM (SELECT DISTINCT lang FROM documents) cl
        CROSS JOIN (SELECT DISTINCT w FROM w) vw
        CROSS JOIN vocab
        JOIN wtot ON wtot.lang = cl.lang
        LEFT JOIN cnts k ON k.lang = cl.lang AND k.w = vw.w),
      priors AS (
        SELECT lang, ln(count(*) * 1.0 / (SELECT count(*) FROM documents)) AS lp
        FROM documents GROUP BY lang),
      scored AS (
        SELECT d.doc_id, l.lang, max(p.lp) + sum(d.n * l.ll) AS s
        FROM (SELECT doc_id, w, count(*) AS n FROM w GROUP BY 1, 2) d
        JOIN lik l ON l.w = d.w
        JOIN priors p ON p.lang = l.lang
        GROUP BY 1, 2),
      r AS (
        SELECT doc_id, lang, s,
               row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang) AS rn
        FROM scored)
      SELECT doc_id, lang AS pred_lang, round(s, 4) AS score
      FROM r WHERE rn = 1 ORDER BY doc_id""",

    "q105_html_strip" -> s"""
      WITH synth AS (
        SELECT doc_id,
          '<html><head><style type="text/css">body { color: #333; }</style></head><body><h1 class="t">Doc ' ||
          CAST(doc_id AS VARCHAR) || '</h1><!-- trail ' ||
          CAST(doc_id AS VARCHAR) || ' --><p>' || text ||
          '</p><script>if (1 < 2) { emit("x"); }</script><p>Tom &amp; Jerry &lt;3 &quot;q&quot; it&#39;s&nbsp;done</p></body></html>' AS html
        FROM documents),
      clean AS (
        SELECT doc_id,
          trim(regexp_replace(
            replace(replace(replace(replace(replace(replace(replace(
              regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                html,
                '${Text.HtmlScriptRe}', ' ', 'g'),
                '${Text.HtmlStyleRe}', ' ', 'g'),
                '${Text.HtmlCommentRe}', ' ', 'g'),
                '${Text.HtmlTagRe}', ' ', 'g'),
              '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
              '&#39;', chr(39)), '&apos;', chr(39)), '&amp;', '&'),
            '${Text.WsRunRe}', ' ', 'g')) AS clean_text
        FROM synth)
      SELECT doc_id, clean_text,
             CAST(length(clean_text) AS BIGINT) AS clean_len
      FROM clean ORDER BY doc_id""",

    "q106_nfc_normalize" -> """
      WITH synth AS (
        SELECT doc_id,
               text || ' Cafe' || chr(769) || ' A' || chr(778) || ' ' ||
               chr(64257) || 'n' AS raw
        FROM documents)
      SELECT doc_id,
             nfc_normalize(raw) AS text_nfc,
             CAST(length(raw) AS BIGINT) AS len_raw,
             CAST(length(nfc_normalize(raw)) AS BIGINT) AS len_nfc,
             length(nfc_normalize(raw)) < length(raw) AS composed
      FROM synth ORDER BY doc_id""",

    "q107_kmeans_clusters" -> """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      c0 AS (
        SELECT id AS cid, v AS cvec FROM e
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      a1 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c0 c) WHERE rn = 1),
      n1 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a1 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c1 AS (
        SELECT c0.cid, coalesce(n1.cvec, c0.cvec) AS cvec
        FROM c0 LEFT JOIN n1 USING (cid)),
      a2 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c1 c) WHERE rn = 1),
      n2 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a2 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c2 AS (
        SELECT c1.cid, coalesce(n2.cvec, c1.cvec) AS cvec
        FROM c1 LEFT JOIN n2 USING (cid)),
      af AS (
        SELECT id, cid FROM (
          SELECT e.id, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c2 c) WHERE rn = 1)
      SELECT CAST(cid AS BIGINT) AS cluster_id, count(*) AS n_members,
             min(id) AS min_id, max(id) AS max_id
      FROM af GROUP BY cid ORDER BY cluster_id""",

    // q107's unrolled two-round trajectory over the q27 planted-union
    // corpus, then the SemDeDup pair rule: drop id when a smaller-id
    // cluster-mate has cosine >= 0.9 (raw-vector arithmetic — the same
    // d / (sqrt(na)*sqrt(nb)) chain as the engine's VecCosine)
    "q108_semantic_dedup" -> """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL
        UNION ALL
        SELECT vec_id + 100000 AS id,
               CAST(list_transform(embedding, x -> x * 2) AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL AND vec_id < 20),
      c0 AS (
        SELECT id AS cid, v AS cvec FROM e
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      a1 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c0 c) WHERE rn = 1),
      n1 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a1 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c1 AS (
        SELECT c0.cid, coalesce(n1.cvec, c0.cvec) AS cvec
        FROM c0 LEFT JOIN n1 USING (cid)),
      a2 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c1 c) WHERE rn = 1),
      n2 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a2 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c2 AS (
        SELECT c1.cid, coalesce(n2.cvec, c1.cvec) AS cvec
        FROM c1 LEFT JOIN n2 USING (cid)),
      af AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c2 c) WHERE rn = 1),
      rm AS (
        SELECT DISTINCT b.id AS rid
        FROM af a JOIN af b ON a.cid = b.cid AND a.id < b.id
        WHERE list_dot_product(a.v, b.v) /
              (sqrt(list_dot_product(a.v, a.v)) *
               sqrt(list_dot_product(b.v, b.v))) >= 0.9)
      SELECT af.id, CAST(af.cid AS BIGINT) AS cluster_id,
             rm.rid IS NULL AS kept
      FROM af LEFT JOIN rm ON af.id = rm.rid
      ORDER BY id""",

    "q109_dsir_weights" -> """
      WITH rtoks AS (
        SELECT doc_id, t FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS t
          FROM documents) u WHERE t <> ''),
      rb AS (
        SELECT doc_id,
               CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 1024
                    AS BIGINT) AS b
        FROM rtoks),
      tb AS (
        SELECT CAST(CAST(('0x' || substr(md5(t), 1, 8)) AS UBIGINT) % 1024
                    AS BIGINT) AS b
        FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents WHERE lang = 'en') u WHERE t <> ''),
      rc AS (SELECT b, count(*) AS cr FROM rb GROUP BY b),
      tc AS (SELECT b, count(*) AS ct FROM tb GROUP BY b),
      nr AS (SELECT count(*) AS n FROM rb),
      nt AS (SELECT count(*) AS n FROM tb)
      SELECT rb.doc_id, count(*) AS n_tokens,
             round(sum(
               ln(CAST(coalesce(tc.ct, 0) + 1 AS DOUBLE) /
                  CAST(nt.n + 1024 AS DOUBLE)) -
               ln(CAST(rc.cr + 1 AS DOUBLE) /
                  CAST(nr.n + 1024 AS DOUBLE))), 4) AS log_weight
      FROM rb JOIN rc USING (b) LEFT JOIN tc USING (b), nr, nt
      GROUP BY rb.doc_id ORDER BY doc_id""",

    // unfiltered split(trim, \s+) word stream (the wordShingles contract,
    // q67 precedent); char mass of a gram = its length minus the joining
    // spaces = sum of member word lengths
    "q110_gopher_repetition" -> """
      WITH w AS (
        SELECT doc_id,
               string_split_regex(trim(text), '\s+') AS wt
        FROM documents),
      tot AS (
        SELECT doc_id,
               coalesce(list_sum(list_transform(wt, x -> length(x))), 0)
                 AS chars
        FROM w),
      g2 AS (
        SELECT doc_id, wt[i.i + 1] || ' ' || wt[i.i + 2] AS g
        FROM w JOIN generate_series(0, 510) i(i) ON i.i <= len(wt) - 2),
      g3 AS (
        SELECT doc_id,
               wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' || wt[i.i + 3] AS g
        FROM w JOIN generate_series(0, 509) i(i) ON i.i <= len(wt) - 3),
      c2 AS (
        SELECT doc_id, g, count(*) AS c, min(length(g) - 1) AS wch
        FROM g2 GROUP BY doc_id, g),
      t2 AS (
        SELECT doc_id, c * wch AS top2_chars FROM (
          SELECT doc_id, c, wch,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY c DESC, g ASC) AS rn
          FROM c2) WHERE rn = 1),
      c3 AS (
        SELECT doc_id, g, count(*) AS c, min(length(g) - 2) AS wch
        FROM g3 GROUP BY doc_id, g),
      d3 AS (
        SELECT doc_id,
               sum(CASE WHEN c >= 2 THEN c * wch ELSE 0 END) AS dup3_chars
        FROM c3 GROUP BY doc_id)
      SELECT tot.doc_id,
             CASE WHEN tot.chars > 0
                  THEN CAST(coalesce(t2.top2_chars, 0) AS DOUBLE) / tot.chars
                  ELSE 0.0 END AS top2_char_frac,
             CASE WHEN tot.chars > 0
                  THEN CAST(coalesce(d3.dup3_chars, 0) AS DOUBLE) / tot.chars
                  ELSE 0.0 END AS dup3_char_frac
      FROM tot LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
      ORDER BY doc_id""",

    // the identical 3-round trajectory: uniform 1/N init, per-edge
    // r/outdeg contributions, damped in-mass; undirected edges so every
    // node has outdeg >= 1 (no dangling correction on either side)
    "q111_pagerank" -> """
      WITH pe AS (
        SELECT DISTINCT 'c' || o_custkey AS c, 's' || l_suppkey AS s2
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      e AS (
        SELECT c AS src, s2 AS dst FROM pe
        UNION ALL
        SELECT s2 AS src, c AS dst FROM pe),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
      r1 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS im
                   FROM e JOIN deg ON e.src = deg.src
                   JOIN r0 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node),
      r2 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS im
                   FROM e JOIN deg ON e.src = deg.src
                   JOIN r1 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node),
      r3 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank / deg.outdeg) AS im
                   FROM e JOIN deg ON e.src = deg.src
                   JOIN r2 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node)
      SELECT node, round(rank, 10) AS rank FROM r3 ORDER BY node""",

    "q112_funnel" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      SELECT u.user_id,
             CAST(CASE WHEN t3 IS NOT NULL THEN 3
                       WHEN t2 IS NOT NULL THEN 2
                       WHEN t1 IS NOT NULL THEN 1
                       ELSE 0 END AS BIGINT) AS stage,
             epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
             epoch_us(t3) AS t3_us
      FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
      LEFT JOIN s3 USING (user_id)
      ORDER BY user_id""",

    "q113_weighted_sample" -> """
      WITH r AS (
        SELECT doc_id, n_chars,
               ln((CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)),
                                             1, 8)) AS UBIGINT) AS DOUBLE)
                   + 0.5) / 4294967296.0) / CAST(n_chars AS DOUBLE) AS rk
        FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
      SELECT doc_id, n_chars FROM r
      ORDER BY rk DESC, doc_id LIMIT 100""",

    "q114_vocab_oov" -> """
      WITH toks AS (
        SELECT doc_id, t FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS t
          FROM documents) u WHERE t <> ''),
      vocab AS (
        SELECT t FROM (SELECT t, count(*) AS c FROM toks GROUP BY t)
        ORDER BY c DESC, t ASC LIMIT 1000)
      SELECT k.doc_id, count(*) AS n_tokens,
             CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS oov_rate
      FROM toks k LEFT JOIN vocab v USING (t)
      GROUP BY k.doc_id ORDER BY doc_id""",

    "q115_word_entropy" -> """
      WITH toks AS (
        SELECT doc_id, t FROM (
          SELECT doc_id,
                 unnest(string_split_regex(trim(text), '\s+')) AS t
          FROM documents) u WHERE t <> ''),
      wc AS (
        SELECT doc_id, t, count(*) AS c FROM toks GROUP BY doc_id, t),
      agg AS (
        SELECT doc_id, sum(c) AS n_tokens,
               sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS s
        FROM wc GROUP BY doc_id)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
             round(ln(CAST(n_tokens AS DOUBLE))
                   - s / CAST(n_tokens AS DOUBLE), 4) AS entropy
      FROM agg ORDER BY doc_id""",

    "q117_regression_surface" -> """
      SELECT l_returnflag,
             CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
             round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
             round(corr(l_extendedprice, l_quantity), 4) AS c
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q118_gaps_islands" -> """
      WITH days AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
        FROM events),
      isl AS (
        SELECT user_id, day,
               day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                 AS grp
        FROM days),
      streaks AS (
        SELECT user_id, grp, count(*) AS len
        FROM isl GROUP BY user_id, grp)
      SELECT user_id, count(*) AS n_islands, max(len) AS longest,
             CAST(sum(len) AS BIGINT) AS active_days
      FROM streaks GROUP BY user_id ORDER BY user_id""",

    // same rollup from the UNPARTITIONED events table
    "q158_pmi_pairs" -> """
      WITH toks AS MATERIALIZED (
        SELECT list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS ts
        FROM documents),
      ev AS MATERIALIZED (
        SELECT least(ts[u.i], ts[u.i + v.o]) AS a,
               greatest(ts[u.i], ts[u.i + v.o]) AS b
        FROM toks,
             unnest(range(1, len(ts) + 1)) u(i),
             unnest(range(1, 6)) v(o)
        WHERE u.i + v.o <= len(ts)),
      pairs_all AS MATERIALIZED (
        SELECT a, b, count(*) AS pair_count FROM ev GROUP BY 1, 2),
      p AS (SELECT CAST(sum(pair_count) AS DOUBLE) AS p FROM pairs_all),
      pairs AS (SELECT * FROM pairs_all WHERE pair_count >= 5 AND a <> b),
      uni AS MATERIALIZED (
        SELECT t, count(*) AS ct
        FROM (SELECT unnest(ts) AS t FROM toks) GROUP BY 1),
      n AS (SELECT CAST(sum(ct) AS DOUBLE) AS n FROM uni)
      SELECT pairs.a, pairs.b, pairs.pair_count,
             round(ln((pairs.pair_count / p.p) /
                      ((ua.ct / n.n) * (ub.ct / n.n))), 6) AS pmi
      FROM pairs, uni ua, uni ub, n, p
      WHERE ua.t = pairs.a AND ub.t = pairs.b
      ORDER BY a, b""",

    "q159_chi2" -> """
      WITH obs AS (
        SELECT lang AS r, source AS c, count(*) AS o
        FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
        GROUP BY 1, 2),
      rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY 1),
      ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY 1),
      tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n,
                     count(DISTINCT r) AS nr, count(DISTINCT c) AS nc
              FROM obs),
      terms AS (
        SELECT (CAST(o AS DOUBLE) - rt.rt * ct.ct / tot.n)
               * (CAST(o AS DOUBLE) - rt.rt * ct.ct / tot.n)
               / (rt.rt * ct.ct / tot.n)
               - (rt.rt * ct.ct / tot.n) AS term,
               tot.n, tot.nr, tot.nc
        FROM obs JOIN rt USING (r) JOIN ct USING (c), tot)
      SELECT round(sum(term) + any_value(n), 6) AS chi2,
             CAST((any_value(nr) - 1) * (any_value(nc) - 1) AS BIGINT) AS dof,
             CAST(any_value(n) AS BIGINT) AS n
      FROM terms""",

    "q160_bpe_apply" -> bpeOracleSql(merges = 5, segmented = true),

    "q157_image_ahash" -> """
      WITH k AS MATERIALIZED (
        SELECT c_custkey AS key FROM customer WHERE c_custkey % 29 = 0),
      ids AS MATERIALIZED (
        SELECT key, key AS id, FALSE AS flip FROM k
        UNION ALL
        SELECT key, key + 10000000, TRUE FROM k),
      cells AS MATERIALIZED (
        SELECT i.id, i.flip, i.key, g.i,
               ((g.i % 8) * (10 + i.key % 5)) // 8 AS sx,
               ((g.i // 8) * (10 + i.key % 5)) // 8 AS sy
        FROM ids i, generate_series(0, 63) g(i)),
      bits AS MATERIALIZED (
        SELECT id, i,
               CASE WHEN flip AND sx = 0 AND sy = 0
                 THEN 1 - ((key // (sx + 1) + 3 * sx + 5 * sy) % 2)
                 ELSE (key // (sx + 1) + 3 * sx + 5 * sy) % 2
               END AS b
        FROM cells),
      hashes AS MATERIALIZED (
        SELECT id, CASE WHEN sum(b) = 64 THEN repeat('0', 64)
                        ELSE string_agg(CAST(b AS VARCHAR), '' ORDER BY i)
                   END AS h
        FROM bits GROUP BY id)
      SELECT CAST(a.id AS BIGINT) AS id_a, CAST(b.id AS BIGINT) AS id_b,
             CAST(hamming(a.h, b.h) AS BIGINT) AS hamming
      FROM hashes a JOIN hashes b ON a.id < b.id
      WHERE hamming(a.h, b.h) <= 3
      ORDER BY 1, 2""",

    "q154_mojibake" -> s"""
      WITH c AS (
        SELECT doc_id,
               text || CASE doc_id % 3
                 WHEN 0 THEN ' cafÃ© â€œnaÃ¯veâ€¦'
                 WHEN 1 THEN ' clean ascii tail'
                 ELSE ' broken � end' END AS text
        FROM documents),
      counted AS (
        SELECT doc_id, text,
               CAST(len(regexp_extract_all(text,
                 '${graft.pipeline.Text.MojibakeRe}')) AS BIGINT) AS n_artifacts
        FROM c)
      SELECT doc_id, n_artifacts,
             round(CAST(n_artifacts AS DOUBLE) /
                   greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS score,
             n_artifacts >= 2 AS flagged
      FROM counted ORDER BY doc_id""",

    "q155_bootstrap_ci" -> bootstrapOracleSql(replicas = 200),

    "q156_ab_welch" -> """
      WITH s AS (
        SELECT count(*) FILTER (WHERE event_type = 'purchase') AS n_a,
               count(*) FILTER (WHERE event_type = 'view') AS n_b,
               avg(value) FILTER (WHERE event_type = 'purchase') AS mean_a,
               avg(value) FILTER (WHERE event_type = 'view') AS mean_b,
               var_samp(value) FILTER (WHERE event_type = 'purchase') AS var_a,
               var_samp(value) FILTER (WHERE event_type = 'view') AS var_b
        FROM events WHERE value IS NOT NULL)
      SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
             round(var_a, 4) AS var_a, round(var_b, 4) AS var_b,
             round((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b), 4) AS t,
             round(pow(var_a / n_a + var_b / n_b, 2) /
                   (pow(var_a / n_a, 2) / (n_a - 1.0) +
                    pow(var_b / n_b, 2) / (n_b - 1.0)), 2) AS dof
      FROM s""",

    "q150_bpe_train" -> bpeOracleSql(merges = 5),

    "q151_dedup_survivors" -> s"""
      WITH RECURSIVE ${gramPairCtes("documents", 0.8)},
      dedges AS (
        SELECT id_a AS src, id_b AS dst FROM dpairs
        UNION ALL
        SELECT id_b, id_a FROM dpairs),
      reach(id, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.src, r.lab FROM reach r JOIN dedges e ON e.dst = r.id),
      clusters AS (
        SELECT id AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY id),
      scored AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars
        FROM clusters c JOIN documents d USING (doc_id)),
      sizes AS (SELECT cluster_id, count(*) AS n_members FROM scored GROUP BY 1),
      win AS (
        SELECT cluster_id, doc_id, n_chars,
               row_number() OVER (PARTITION BY cluster_id
                 ORDER BY n_chars DESC, doc_id) AS rn
        FROM scored)
      SELECT w.cluster_id, CAST(s.n_members AS BIGINT) AS n_members,
             w.doc_id AS survivor_id, w.n_chars AS survivor_score
      FROM win w JOIN sizes s USING (cluster_id)
      WHERE w.rn = 1 ORDER BY w.cluster_id""",

    "q152_benford" -> """
      WITH c AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem),
      d AS (
        SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INTEGER) AS digit,
               count(*) AS n
        FROM c WHERE cents > 0 GROUP BY 1),
      t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM d)
      SELECT digit, n,
             round(CAST(n AS DOUBLE) / tot, 6) AS obs_freq,
             round(log10(1.0 + 1.0 / digit), 6) AS exp_freq,
             round(abs(CAST(n AS DOUBLE) / tot - log10(1.0 + 1.0 / digit)), 6)
               AS abs_dev
      FROM d, t ORDER BY digit""",

    "q153_ewma" -> """
      WITH ordered AS (
        SELECT user_id,
               list(CAST(value AS DOUBLE) ORDER BY epoch_us(ts), event_id) AS a
        FROM events WHERE value IS NOT NULL GROUP BY user_id)
      SELECT user_id, CAST(len(a) AS BIGINT) AS n_events,
             list_reduce(a, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma
      FROM ordered ORDER BY user_id""",

    "q145_histogram_quantiles" -> """
      WITH b AS (
        SELECT l_returnflag,
               least(greatest(CAST(floor((l_extendedprice - 900.0) /
                 ((105000.0 - 900.0) / 64)) AS BIGINT), 0), 63) AS bin
        FROM lineitem WHERE l_extendedprice IS NOT NULL),
      c AS (SELECT l_returnflag, bin, count(*) AS cnt FROM b GROUP BY 1, 2),
      cum AS (
        SELECT l_returnflag, bin,
               sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin) AS cm,
               sum(cnt) OVER (PARTITION BY l_returnflag) AS n
        FROM c),
      ps AS (SELECT * FROM (VALUES (0.5), (0.9), (0.99)) AS t(p)),
      sel AS (
        SELECT cum.l_returnflag, ps.p, min(cum.bin) AS qbin,
               CAST(max(cum.n) AS BIGINT) AS n
        FROM cum, ps WHERE cum.cm >= ceil(ps.p * cum.n) GROUP BY 1, 2)
      SELECT l_returnflag, p, n,
             900.0 + CAST(qbin + 1 AS DOUBLE) * ((105000.0 - 900.0) / 64) AS est
      FROM sel ORDER BY l_returnflag, p""",

    "q146_url_canonicalize" -> """
      SELECT doc_id, CAST(2 AS BIGINT) AS n_raw, CAST(1 AS BIGINT) AS n_canon,
             'https://' || lower(source) || '.example.com/p/' ||
             CAST(doc_id AS VARCHAR) || '?a=' || CAST(doc_id % 5 AS VARCHAR) ||
             '&b=' || lang AS canon
      FROM documents ORDER BY doc_id""",

    "q147_knn_classify" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
                        label FROM embeddings),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nl,
               list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))) AS sim
        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, nl,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored),
      votes AS (SELECT query_id, nl, count(*) AS v FROM ranked
                WHERE rank <= 5 GROUP BY 1, 2),
      pred AS (
        SELECT query_id, nl AS predicted,
               row_number() OVER (PARTITION BY query_id ORDER BY v DESC, nl) AS rn
        FROM votes)
      SELECT p.query_id, e.label AS actual, p.predicted,
             e.label = p.predicted AS correct
      FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
      WHERE p.rn = 1 ORDER BY p.query_id""",

    "q148_kcore" -> kcoreOracleSql(k = 11, rounds = 20),

    "q149_zipf_slope" -> """
      WITH toks AS (
        SELECT lang, u.t FROM documents,
          unnest(list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> '')) AS u(t)),
      c AS (SELECT lang, t, count(*) AS c FROM toks GROUP BY 1, 2),
      r AS (SELECT lang, c,
                   row_number() OVER (PARTITION BY lang ORDER BY c DESC, t) AS r
            FROM c)
      SELECT lang, count(*) AS n_tokens,
             round(regr_slope(ln(c), ln(r)), 6) AS slope,
             round(regr_intercept(ln(c), ln(r)), 6) AS intercept
      FROM r WHERE r <= 100 GROUP BY lang ORDER BY lang""",

    "q144_partition_prune" -> """
      SELECT epoch_us(ts) // 3600000000 AS hour,
             count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1 ORDER BY hour""",

    "q143_rate_anomaly" -> """
      WITH hourly AS (
        SELECT event_type, epoch_us(ts) // 3600000000 AS hour,
               count(*) AS cnt
        FROM events GROUP BY 1, 2),
      med AS (SELECT event_type, quantile_cont(cnt, 0.5) AS m
              FROM hourly GROUP BY 1),
      mad AS (SELECT h.event_type, quantile_cont(abs(h.cnt - med.m), 0.5) AS md
              FROM hourly h JOIN med USING (event_type) GROUP BY 1)
      SELECT h.event_type, h.hour, h.cnt,
             round(CASE WHEN mad.md <> 0
               THEN (h.cnt - med.m) / (1.4826 * mad.md) END, 4) AS z,
             coalesce(CASE WHEN mad.md <> 0
               THEN abs((h.cnt - med.m) / (1.4826 * mad.md)) > 3.0 END,
               false) AS is_outlier
      FROM hourly h
      JOIN med USING (event_type)
      JOIN mad USING (event_type)
      ORDER BY h.event_type, h.hour""",

    // l_extendedprice enters as CAST(... AS DOUBLE): on today's double
    // files a no-op; on decimal-typed files it pins DuckDB to the same
    // double interpolation/comparison arithmetic the (normalized) Spark
    // side uses — quantile_cont over DECIMAL stays in decimal and lands
    // 2dp-truncated (the decimal variant gate's finding)
    "q142_winsorize" -> """
      WITH li AS (
        SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS price
        FROM lineitem),
      cuts AS (
        SELECT l_returnflag,
               quantile_cont(price, 0.05) AS clo,
               quantile_cont(price, 0.95) AS chi
        FROM li GROUP BY 1)
      SELECT l.l_returnflag, count(*) AS n,
             CAST(count(*) FILTER (price < clo) AS BIGINT) AS n_lo,
             CAST(count(*) FILTER (price > chi) AS BIGINT) AS n_hi,
             min(least(greatest(price, clo), chi)) AS lo,
             max(least(greatest(price, clo), chi)) AS hi
      FROM li l JOIN cuts USING (l_returnflag)
      GROUP BY l.l_returnflag ORDER BY l.l_returnflag""",

    "q141_gram_matrix" -> """
      WITH cells AS (
        SELECT ti.i AS i, tj.j AS j,
               CAST(embedding[ti.i + 1] AS DOUBLE) *
               CAST(embedding[tj.j + 1] AS DOUBLE) AS v
        FROM embeddings
        CROSS JOIN (SELECT unnest(range(64)) AS i) ti
        CROSS JOIN (SELECT unnest(range(64)) AS j) tj
        WHERE tj.j >= ti.i)
      SELECT i, j, round(sum(v), 4) AS g
      FROM cells GROUP BY i, j ORDER BY i, j""",

    "q140_transitions" -> """
      WITH seq AS (
        SELECT event_type AS ft,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS tt
        FROM events),
      pairs AS (
        SELECT ft AS from_type, tt AS to_type, count(*) AS n
        FROM seq WHERE tt IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1)
      SELECT from_type, to_type, n,
             CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS p
      FROM pairs JOIN tot USING (from_type)
      ORDER BY from_type, to_type""",

    // same three predicates, null-fails-closed, rule-order violation list
    "q139_validate" -> """
      SELECT event_id,
             coalesce(vio = '', false) AS is_valid, vio AS violations
      FROM (
        SELECT event_id,
               coalesce(array_to_string(list_filter([
                 CASE WHEN NOT coalesce(value <= 400.0, false)
                      THEN 'value_cap' END,
                 CASE WHEN NOT coalesce(event_type <> 'error', false)
                      THEN 'not_error' END,
                 CASE WHEN NOT coalesce(
                        CAST(json_extract_string(props, '$.k') AS INTEGER) <= 50,
                        false) THEN 'small_k' END],
                 x -> x IS NOT NULL), ','), '') AS vio
        FROM events)
      ORDER BY event_id""",

    "q138_snapshot_diff" -> """
      WITH cust AS (
        SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
      today AS (
        SELECT c_custkey, c_mktsegment,
               CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 10.0
                    ELSE c_acctbal END AS c_acctbal
        FROM cust WHERE c_custkey % 97 <> 0
        UNION ALL
        SELECT c_custkey + 1000000, c_mktsegment, c_acctbal
        FROM cust WHERE c_custkey < 5),
      j AS (
        SELECT coalesce(o.c_custkey, n.c_custkey) AS c_custkey,
               o.c_custkey IS NOT NULL AS has_o,
               n.c_custkey IS NOT NULL AS has_n,
               o.c_mktsegment AS om, n.c_mktsegment AS nm,
               o.c_acctbal AS ob, n.c_acctbal AS nb
        FROM cust o FULL JOIN today n ON o.c_custkey = n.c_custkey)
      SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
             CASE WHEN NOT has_o THEN 'insert'
                  WHEN NOT has_n THEN 'delete'
                  ELSE 'update' END AS change_type,
             CASE WHEN has_o AND has_n THEN array_to_string(list_filter([
                    CASE WHEN ob IS DISTINCT FROM nb THEN 'c_acctbal' END,
                    CASE WHEN om IS DISTINCT FROM nm THEN 'c_mktsegment' END],
                    x -> x IS NOT NULL), ',')
                  ELSE '' END AS changed_cols
      FROM j
      WHERE (CASE WHEN NOT has_o THEN 'insert'
                  WHEN NOT has_n THEN 'delete' ELSE 'update' END) <> 'update'
         OR (CASE WHEN has_o AND has_n THEN array_to_string(list_filter([
               CASE WHEN ob IS DISTINCT FROM nb THEN 'c_acctbal' END,
               CASE WHEN om IS DISTINCT FROM nm THEN 'c_mktsegment' END],
               x -> x IS NOT NULL), ',') ELSE '' END) <> ''
      ORDER BY c_custkey""",

    // same per-language ntile over the 4dp-rounded unigram NLL
    "q137_ccnet_buckets" -> """
      WITH toks AS (
        SELECT doc_id, t
        FROM (SELECT doc_id,
                unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x <> '')) AS t
              FROM documents)),
      vocab AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks),
      nll AS (
        SELECT k.doc_id, round(avg(-ln(CAST(v.c AS DOUBLE) / tot.n)), 4) AS nll
        FROM toks k JOIN vocab v USING (t), tot
        GROUP BY k.doc_id)
      SELECT d.doc_id, d.lang, nll.nll,
             CAST(ntile(3) OVER (PARTITION BY d.lang
                                 ORDER BY nll.nll, d.doc_id) AS INT) AS bucket
      FROM documents d JOIN nll USING (doc_id)
      ORDER BY d.doc_id""",

    "q136_retention" -> """
      WITH uw AS (
        SELECT DISTINCT user_id AS u, epoch_us(ts) // 604800000000 AS w
        FROM events),
      first AS (SELECT u, min(w) AS w0 FROM uw GROUP BY u)
      SELECT w0 AS cohort_week, w - w0 AS age_weeks, count(*) AS n_users
      FROM uw JOIN first USING (u)
      GROUP BY 1, 2 ORDER BY cohort_week, age_weeks""",

    // three synchronous LPA rounds unrolled; argmax = row_number over
    // (votes desc, label asc) — the same min-struct tie-break
    "q135_label_prop" -> """
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      nbr AS (SELECT s, t FROM e0 UNION SELECT t, s FROM e0),
      l0 AS (SELECT DISTINCT s AS node, s AS label FROM nbr),
      v1 AS (SELECT nbr.t AS node, l0.label, count(*) AS c
             FROM nbr JOIN l0 ON nbr.s = l0.node GROUP BY 1, 2),
      w1 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, label ASC) AS rn
               FROM v1) WHERE rn = 1),
      l1 AS (SELECT l0.node, coalesce(w1.label, l0.label) AS label
             FROM l0 LEFT JOIN w1 USING (node)),
      v2 AS (SELECT nbr.t AS node, l1.label, count(*) AS c
             FROM nbr JOIN l1 ON nbr.s = l1.node GROUP BY 1, 2),
      w2 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, label ASC) AS rn
               FROM v2) WHERE rn = 1),
      l2 AS (SELECT l1.node, coalesce(w2.label, l1.label) AS label
             FROM l1 LEFT JOIN w2 USING (node)),
      v3 AS (SELECT nbr.t AS node, l2.label, count(*) AS c
             FROM nbr JOIN l2 ON nbr.s = l2.node GROUP BY 1, 2),
      w3 AS (SELECT node, label FROM (
               SELECT node, label, row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, label ASC) AS rn
               FROM v3) WHERE rn = 1),
      l3 AS (SELECT l2.node, coalesce(w3.label, l2.label) AS label
             FROM l2 LEFT JOIN w3 USING (node))
      SELECT node, label FROM l3 ORDER BY node""",

    // exact heavy hitters — the sketch is pruning-only, so plain SQL
    "q134_heavy_hitters" -> """
      WITH tot AS (SELECT count(*) AS n FROM lineitem)
      SELECT l_partkey, count(*) AS cnt
      FROM lineitem, tot
      GROUP BY l_partkey, tot.n
      HAVING count(*) >= CAST(ceil(0.00075 * tot.n) AS BIGINT)
      ORDER BY l_partkey""",

    "q133_tfidf_cosine" -> """
      WITH tf AS (
        SELECT doc_id, t, count(*) AS tf FROM (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS t
          FROM documents WHERE doc_id < 500) GROUP BY doc_id, t),
      dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
      nd AS (SELECT CAST(count(*) AS DOUBLE) AS n
             FROM documents WHERE doc_id < 500),
      w AS (
        SELECT doc_id, t,
               tf * (ln((nd.n + 1.0) / (dfreq.df + 1.0)) + 1.0) AS w
        FROM tf JOIN dfreq USING (t), nd
        WHERE dfreq.df <= 10000),
      nrm AS (SELECT doc_id, sqrt(sum(w*w)) AS nr FROM w GROUP BY doc_id),
      dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.w * b.w) AS dot
        FROM w a JOIN w b USING (t)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, round(dot / (na.nr * nb.nr), 4) AS cosine
      FROM dots
      JOIN nrm na ON id_a = na.doc_id
      JOIN nrm nb ON id_b = nb.doc_id
      WHERE dot / (na.nr * nb.nr) >= 0.9
      ORDER BY id_a, id_b""",

    // the values the bucketed layout must preserve — plain parquet join
    "q132_bucketed_join" -> """
      SELECT o_orderpriority, count(*) AS n_items,
             sum(l_quantity) AS sum_qty
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q131_token_drift" -> """
      WITH ca AS (
        SELECT t, count(*) AS c FROM (
          SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS t
          FROM documents WHERE lang = 'en') GROUP BY t),
      cb AS (
        SELECT t, count(*) AS c FROM (
          SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                    x -> x <> '')) AS t
          FROM documents WHERE lang <> 'en') GROUP BY t),
      j AS (
        SELECT coalesce(ca.c, 0) AS cca, coalesce(cb.c, 0) AS ccb
        FROM ca FULL JOIN cb USING (t)),
      tot AS (
        SELECT CAST(sum(cca) AS DOUBLE) AS na, CAST(sum(ccb) AS DOUBLE) AS nb,
               CAST(count(*) AS DOUBLE) AS v
        FROM j)
      SELECT CAST(v AS BIGINT) AS vocab_size,
             CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             round(sum(((cca+1)/(na+v)) * ln(((cca+1)/(na+v)) /
                                             ((ccb+1)/(nb+v)))), 6) AS kl_ab,
             round(sum(((ccb+1)/(nb+v)) * ln(((ccb+1)/(nb+v)) /
                                             ((cca+1)/(na+v)))), 6) AS kl_ba,
             round(sum(abs((cca+1)/(na+v) - (ccb+1)/(nb+v))) / 2.0, 6) AS tvd
      FROM j, tot
      GROUP BY v, na, nb""",

    // quadratic all-shared-token-pairs enumeration — deliberately NOT
    // the prefix-filter algorithm, so the compare certifies recall
    "q130_setsim_join" -> """
      WITH toks AS (
        SELECT DISTINCT doc_id,
               unnest(list_filter(string_split_regex(trim(text), '\s+'),
                                  x -> x <> '')) AS t
        FROM documents WHERE doc_id < 500),
      sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      ov AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS intersection
        FROM toks a JOIN toks b USING (t)
        WHERE a.doc_id < b.doc_id
        GROUP BY 1, 2)
      SELECT id_a, id_b, intersection,
             sa.n + sb.n - intersection AS union_size,
             CAST(intersection AS DOUBLE) /
               (sa.n + sb.n - intersection) AS jaccard
      FROM ov
      JOIN sz sa ON id_a = sa.doc_id
      JOIN sz sb ON id_b = sb.doc_id
      WHERE CAST(intersection AS DOUBLE) / (sa.n + sb.n - intersection) >= 0.9
      ORDER BY id_a, id_b""",

    // The row-group keep/skip decision replayed from the SAME footers the
    // Spark side wrote (left in place under the repo build dir): DuckDB's
    // parquet_metadata() exposes per-row-group min/max stats, the bands
    // re-derive via quantile_cont ≡ percentile (q51 parity) with the same
    // truncate-to-long, and a row group survives iff its [min,max]
    // intervals intersect BOTH bands — parquet-format pruning semantics,
    // certified end-to-end rather than rows-only.
    // (s-interpolated so the two parquet_metadata paths are BUILT from
    // Q128Dir — the Spark side writes there; drift would silently break
    // the footer replay)
    "q128_zorder_prune" -> s"""
      WITH ev AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
      b AS (
        SELECT CAST(floor(quantile_cont(user_id, 0.40)) AS BIGINT) AS ulo,
               CAST(floor(quantile_cont(user_id, 0.45)) AS BIGINT) AS uhi,
               CAST(floor(quantile_cont(tsu, 0.40)) AS BIGINT) AS tlo,
               CAST(floor(quantile_cont(tsu, 0.45)) AS BIGINT) AS thi
        FROM ev),
      rg AS (
        SELECT 'zorder' AS layout, file_name, row_group_id, path_in_schema,
               stats_min_value, stats_max_value
        FROM parquet_metadata('$Q128Dir/z/*.parquet')
        UNION ALL
        SELECT 'roundrobin', file_name, row_group_id, path_in_schema,
               stats_min_value, stats_max_value
        FROM parquet_metadata('$Q128Dir/rr/*.parquet')),
      g AS (
        SELECT layout, file_name, row_group_id,
               max(CASE WHEN path_in_schema = 'user_id'
                   THEN CAST(stats_min_value AS BIGINT) END) AS umin,
               max(CASE WHEN path_in_schema = 'user_id'
                   THEN CAST(stats_max_value AS BIGINT) END) AS umax,
               max(CASE WHEN path_in_schema = 'tsu'
                   THEN CAST(stats_min_value AS BIGINT) END) AS tmin,
               max(CASE WHEN path_in_schema = 'tsu'
                   THEN CAST(stats_max_value AS BIGINT) END) AS tmax
        FROM rg GROUP BY 1, 2, 3),
      k AS (
        SELECT layout,
               CAST(sum(CASE WHEN umin <= b.uhi AND b.ulo <= umax
                              AND tmin <= b.thi AND b.tlo <= tmax
                        THEN 1 ELSE 0 END) AS BIGINT) AS groups_kept,
               count(*) AS groups_total
        FROM g, b GROUP BY layout),
      m AS (
        SELECT count(*) AS rows_matched FROM ev, b
        WHERE user_id BETWEEN b.ulo AND b.uhi
          AND tsu BETWEEN b.tlo AND b.thi)
      SELECT layout, groups_kept, groups_total, rows_matched
      FROM k, m ORDER BY layout""",

    // Stupid Backoff replayed in SQL: same tokenizer, same even-half
    // training counts, same S(w2|w1) formula (parallel unnests zip in
    // DuckDB — the q126 positional idiom builds the adjacent pairs)
    "q129_bigram_lm" -> """
      WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS ws
        FROM documents),
      toks AS (SELECT doc_id, unnest(ws) AS t FROM w),
      bg AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(ws)), i -> ws[i])) AS w1,
               unnest(list_transform(range(1, len(ws)), i -> ws[i+1])) AS w2
        FROM w WHERE len(ws) >= 2),
      uni AS (SELECT t, count(*) AS c1 FROM toks
              WHERE doc_id % 2 = 0 GROUP BY t),
      big AS (SELECT w1, w2, count(*) AS c12 FROM bg
              WHERE doc_id % 2 = 0 GROUP BY w1, w2),
      tot AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                     CAST(count(DISTINCT t) AS DOUBLE) AS v
              FROM toks WHERE doc_id % 2 = 0)
      SELECT b.doc_id, count(*) AS n_bigrams,
             round(avg(ln(CASE WHEN big.c12 IS NOT NULL
               THEN CAST(big.c12 AS DOUBLE) / CAST(u1.c1 AS DOUBLE)
               ELSE 0.4 * (CAST(coalesce(u2.c1, 0) AS DOUBLE) + 1.0)
                    / (tot.n + tot.v) END)), 4) AS lm_score
      FROM bg b
      LEFT JOIN big ON b.w1 = big.w1 AND b.w2 = big.w2
      LEFT JOIN uni u1 ON b.w1 = u1.t
      LEFT JOIN uni u2 ON b.w2 = u2.t, tot
      GROUP BY b.doc_id ORDER BY b.doc_id""",

    // replays the GUARDED DEFAULT end to end: the exact self-tuned bound
    // (greatest(64, 16 × percentile_disc-0.999 of name-group occupancy,
    // computed by integer rank arithmetic — occupancyBoundFrame's rule),
    // then the q201 star-vs-all-pairs split under THAT bound
    "q119_fuzzy_join" -> """
      WITH base AS (SELECT p_partkey AS id, p_name AS s FROM part),
      occ AS (SELECT s, count(*) AS c, min(id) AS keeper
              FROM base GROUP BY s),
      vc AS (SELECT c AS v, count(*) AS vn FROM occ GROUP BY c),
      cw AS (SELECT v, sum(vn) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS cum,
             sum(vn) OVER () AS n FROM vc),
      bnd AS (SELECT greatest(CAST(64 AS BIGINT), CAST(16 * min(v) AS BIGINT))
                AS bound
              FROM cw WHERE cum >= (999 * n + 999) // 1000),
      ann AS (SELECT b.id, b.s, o.c, o.keeper
              FROM base b JOIN occ o ON b.s = o.s),
      ed0 AS (
        SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS dist
        FROM ann a JOIN ann b ON a.s = b.s AND a.id < b.id, bnd
        WHERE a.c <= bnd.bound
        UNION ALL
        SELECT keeper AS id_a, id AS id_b, CAST(0 AS BIGINT) AS dist
        FROM ann, bnd WHERE c > bnd.bound AND id <> keeper),
      rep AS (SELECT id, s FROM ann, bnd WHERE c <= bnd.bound OR id = keeper),
      ed1 AS (
        SELECT CASE WHEN a.id < b.id THEN a.id ELSE b.id END AS id_a,
               CASE WHEN a.id < b.id THEN b.id ELSE a.id END AS id_b,
               CAST(1 AS BIGINT) AS dist
        FROM rep a JOIN rep b ON a.s < b.s AND levenshtein(a.s, b.s) = 1)
      SELECT id_a, id_b, dist FROM ed0
      UNION ALL SELECT id_a, id_b, dist FROM ed1
      ORDER BY id_a, id_b""",

    // triangle count by the a<b<c three-way join — a deliberately
    // DIFFERENT enumeration than the engine's degree-oriented wedge join
    "q120_triangles" -> """
      WITH e0 AS (
        SELECT DISTINCT a.l_partkey AS lo, b.l_partkey AS hi
        FROM lineitem a JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
      tri AS (
        SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM e0 e1
        JOIN e0 e2 ON e2.lo = e1.hi
        JOIN e0 e3 ON e3.lo = e1.lo AND e3.hi = e2.hi)
      SELECT node, count(*) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY node ORDER BY node""",

    "q121_scd2_apply" -> """
      WITH cur AS (
        SELECT c_custkey AS k, c_mktsegment AS seg,
               DATE '1990-01-01' AS vf
        FROM customer),
      ups AS (
        SELECT o_custkey AS k, CAST(o_orderdate AS DATE) AS ts,
               min(o_orderpriority) AS seg
        FROM orders GROUP BY 1, 2),
      seqs AS (
        SELECT k, seg, vf AS ts, 0 AS src FROM cur
        WHERE k IN (SELECT k FROM ups)
        UNION ALL SELECT k, seg, ts, 1 FROM ups),
      kept AS (
        SELECT k, seg, ts, src FROM (
          SELECT k, seg, ts, src,
                 lag(seg) OVER (PARTITION BY k ORDER BY ts, src) AS prev
          FROM seqs)
        WHERE prev IS NULL OR prev <> seg),
      chained AS (
        SELECT k, seg, ts AS valid_from,
               lead(ts) OVER (PARTITION BY k ORDER BY ts, src) AS valid_to
        FROM kept),
      untouched AS (
        SELECT k, seg, vf AS valid_from, CAST(NULL AS DATE) AS valid_to
        FROM cur WHERE k NOT IN (SELECT k FROM ups))
      SELECT c_custkey, seg,
             CAST(valid_from AS VARCHAR) AS valid_from,
             CAST(valid_to AS VARCHAR) AS valid_to
      FROM (
        SELECT k AS c_custkey, seg, valid_from, valid_to FROM chained
        UNION ALL
        SELECT k AS c_custkey, seg, valid_from, valid_to FROM untouched)
      ORDER BY c_custkey, valid_from""",

    "q122_rrf_fusion" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      cscored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))) AS sim
        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      crank AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM cscored),
      escored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               -(list_dot_product(q.qv, q.qv)
                 + list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                    CAST(e.embedding AS DOUBLE[]))
                 - 2.0 * list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])))
                 AS sim
        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      erank AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM escored),
      u AS (
        SELECT query_id, neighbor_id, rank FROM crank WHERE rank <= 20
        UNION ALL
        SELECT query_id, neighbor_id, rank FROM erank WHERE rank <= 20),
      fused AS (
        SELECT query_id, neighbor_id,
               sum(CAST(1.0 AS DOUBLE) / (60 + rank)) AS rrf,
               count(*) AS n_systems
        FROM u GROUP BY 1, 2),
      fin AS (
        SELECT query_id, neighbor_id, rrf, n_systems,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY rrf DESC, neighbor_id) AS rank
        FROM fused)
      SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id,
             rrf, n_systems FROM fin
      WHERE rank <= 10 ORDER BY query_id, rank""",

    // 1.4826e0 parses as DOUBLE (plain 1.4826 would be DECIMAL and its
    // decimal->double conversion can sit 1 ulp off Spark's literal)
    "q123_robust_outliers" -> """
      WITH med AS (
        SELECT c_nationkey, quantile_cont(c_acctbal, 0.5) AS med
        FROM customer GROUP BY c_nationkey),
      mad AS (
        SELECT c.c_nationkey,
               quantile_cont(abs(c.c_acctbal - m.med), 0.5) AS mad
        FROM customer c JOIN med m USING (c_nationkey)
        GROUP BY c.c_nationkey),
      z AS (
        SELECT c.c_custkey, c.c_nationkey, c.c_acctbal,
               CASE WHEN t.mad <> 0
                 THEN (c.c_acctbal - m.med) / (1.4826e0 * t.mad) END AS z
        FROM customer c
        JOIN med m USING (c_nationkey)
        JOIN mad t USING (c_nationkey))
      SELECT c_custkey, c_nationkey, c_acctbal, z,
             coalesce(abs(z) > 3.0, false) AS is_outlier
      FROM z ORDER BY c_custkey""",

    "q124_shared_spans" -> """
      WITH docs AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= 64),
      w AS (
        SELECT doc_id, text,
               unnest(generate_series(0, (length(text) - 64) // 32)) AS w
        FROM docs),
      spans AS (
        SELECT DISTINCT doc_id, md5(substring(text, w * 32 + 1, 64)) AS h
        FROM w)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      FROM spans a JOIN spans b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // parallel unnests zip in DuckDB — the ordinality mirror of
    // posexplode; the inline fan-out mirrors as a two-branch UNION ALL
    "q125_lateral_udtf" -> """
      WITH parts AS (
        SELECT doc_id, string_split(text, ' ') AS p FROM documents),
      words AS (
        SELECT doc_id,
               unnest(range(len(p))) AS pos,
               unnest(p) AS word
        FROM parts),
      w3 AS (SELECT * FROM words WHERE pos < 3),
      tagged AS (
        SELECT doc_id, pos, word, 'len' AS tag,
               CAST(length(word) AS BIGINT) AS v FROM w3
        UNION ALL
        SELECT doc_id, pos, word, 'pos' AS tag,
               CAST(pos AS BIGINT) AS v FROM w3)
      SELECT doc_id, CAST(pos AS INTEGER) AS pos, word, tag, v
      FROM tagged ORDER BY doc_id, pos, tag""",

    "q126_phrase_search" -> """
      WITH toks AS (
        SELECT doc_id, unnest(range(len(p))) AS pos, unnest(p) AS w
        FROM (SELECT doc_id, string_split(text, ' ') AS p FROM documents)),
      pat1 AS (SELECT * FROM (VALUES ('table', 0), ('table', 1)) t(w, i)),
      m1 AS (
        SELECT doc_id, pos - i AS start
        FROM toks JOIN pat1 USING (w)
        WHERE pos - i >= 0
        GROUP BY doc_id, pos - i HAVING count(*) = 2),
      r1 AS (
        SELECT 'table table' AS phrase, doc_id,
               count(*) AS n_matches, min(start) AS first_start
        FROM m1 GROUP BY doc_id),
      pat2 AS (SELECT * FROM (VALUES ('value', 0), ('table', 1),
                                     ('part', 2)) t(w, i)),
      m2 AS (
        SELECT doc_id, pos - i AS start
        FROM toks JOIN pat2 USING (w)
        WHERE pos - i >= 0
        GROUP BY doc_id, pos - i HAVING count(*) = 3),
      r2 AS (
        SELECT 'value table part' AS phrase, doc_id,
               count(*) AS n_matches, min(start) AS first_start
        FROM m2 GROUP BY doc_id)
      SELECT phrase, doc_id, n_matches,
             CAST(first_start AS INTEGER) AS first_start
      FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
      ORDER BY phrase, doc_id""",

    "q127_agg_surface" -> """
      SELECT l_returnflag,
             median(l_quantity) AS med_qty,
             bool_and(l_quantity > 0) AS all_pos,
             bool_or(l_discount > 0.05) AS any_disc,
             bit_and(l_orderkey) AS key_band,
             bit_or(l_orderkey) AS key_bor,
             bit_xor(l_orderkey) AS key_bxor,
             CAST(count_if(l_tax > 0.03) AS BIGINT) AS n_taxed
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    // the same deterministic DBSCAN definition with the component labels
    // taken to the recursive-CTE FIXPOINT (the engine's pointer-jumping
    // loop converges to the same labels); border ties break to the
    // minimum core label on both sides
    "q116_dbscan" -> """
      WITH RECURSIVE pts AS (
        SELECT c_custkey AS id, c_acctbal AS x,
               CAST(c_nationkey AS DOUBLE) AS y
        FROM customer),
      prs AS (
        SELECT a.id AS id_a, b.id AS id_b
        FROM pts a JOIN pts b ON a.id < b.id
        WHERE sqrt((a.x - b.x) * (a.x - b.x) +
                   (a.y - b.y) * (a.y - b.y)) <= 10.0),
      sym AS (
        SELECT id_a AS id, id_b AS nbr FROM prs
        UNION ALL
        SELECT id_b, id_a FROM prs),
      deg AS (SELECT id, count(*) AS d FROM sym GROUP BY id),
      cores AS (SELECT id FROM deg WHERE d + 1 >= 5),
      ce AS (
        SELECT p.id_a, p.id_b FROM prs p
        JOIN cores ca ON p.id_a = ca.id
        JOIN cores cb ON p.id_b = cb.id),
      ced AS (
        SELECT id_a AS src, id_b AS dst FROM ce
        UNION ALL
        SELECT id_b, id_a FROM ce),
      seeds AS (
        -- labels seed only from LOCAL-MINIMUM core ids (no core neighbor
        -- with a smaller id): the component minimum is always a local
        -- minimum and reaches every member, and min-over-reaching-labels
        -- is unchanged — but the closure shrinks from Σ k² pairs (every
        -- member × every member: infeasible once one giant cluster
        -- appears, as at sf0.1) to Σ k·L_c with L_c ≪ k seeds
        SELECT c.id FROM cores c WHERE NOT EXISTS (
          SELECT 1 FROM ced e WHERE e.src = c.id AND e.dst < c.id)),
      reach(id, lab) AS (
        SELECT id, id FROM seeds
        UNION
        SELECT e.src, r.lab FROM reach r JOIN ced e ON e.dst = r.id),
      clab0 AS (SELECT id, min(lab) AS label FROM reach GROUP BY id),
      -- cores not reached by any seed cannot exist (a strictly descending
      -- neighbor chain from any core ends at a local minimum), but keep
      -- the join total on cores for form's sake
      clab AS (SELECT c.id, cl.label FROM cores c JOIN clab0 cl ON c.id = cl.id),
      blab AS (
        SELECT s.id, min(c.label) AS blabel
        FROM sym s JOIN clab c ON s.nbr = c.id
        WHERE s.id NOT IN (SELECT id FROM cores)
        GROUP BY s.id)
      SELECT p.id AS c_custkey,
             coalesce(cl.label, b.blabel) AS cluster_id,
             CASE WHEN cl.label IS NOT NULL THEN 'core'
                  WHEN b.blabel IS NOT NULL THEN 'border'
                  ELSE 'noise' END AS role
      FROM pts p LEFT JOIN clab cl ON p.id = cl.id
      LEFT JOIN blab b ON p.id = b.id
      ORDER BY c_custkey""",

    "q102_group_sample" -> """
      WITH h AS (
        SELECT doc_id, lang, md5(CAST(doc_id AS VARCHAR)) AS h
        FROM documents),
      r AS (
        SELECT doc_id, lang, h,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                    AS INT) AS rank
        FROM h)
      SELECT doc_id, lang, h, rank FROM r WHERE rank <= 20
      ORDER BY lang, rank""",

    "q103_bpe_pair_stats" -> """
      WITH w AS (
        SELECT list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS wt
        FROM documents),
      p AS (
        SELECT wt[i.i + 1] || ' ' || wt[i.i + 2] AS pair
        FROM w JOIN generate_series(0, 126) i(i) ON i.i <= len(wt) - 2)
      SELECT pair, count(*) AS n FROM p GROUP BY pair
      ORDER BY n DESC, pair LIMIT 30""",

    "q101_line_dedup" -> s"""
      WITH lined AS (
        SELECT doc_id,
               regexp_replace(text, '$LineFoldRe', '\\1' || chr(10), 'g') AS t
        FROM documents),
      ls AS (
        SELECT doc_id, i.i AS pos, string_split(t, chr(10))[i.i + 1] AS line
        FROM lined JOIN generate_series(0, 255) i(i)
          ON i.i < len(string_split(t, chr(10)))),
      k AS (
        SELECT doc_id, pos, line, length(line) >= 12 AS elig,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM ls)
      SELECT doc_id,
             coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE NOT elig OR rn = 1), '') AS text_dedup,
             count(*) FILTER (WHERE NOT elig OR rn = 1) AS n_kept,
             count(*) FILTER (WHERE elig AND rn > 1) AS n_removed
      FROM k GROUP BY doc_id ORDER BY doc_id""",

    "q100_url_domains" -> """
      SELECT source || '.example.com' AS host,
             count(*) AS n_docs,
             count(DISTINCT lang) AS n_refs,
             min('/p/' || CAST(doc_id AS VARCHAR)) AS min_path,
             max(CAST(doc_id % 7 AS VARCHAR)) AS max_x
      FROM documents GROUP BY 1 ORDER BY 1""",

    "q94_temperature_mix" -> """
      WITH c AS (
        SELECT lang, count(*) AS n,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0, 0)
                    AS BIGINT) AS pw
        FROM documents GROUP BY lang),
      r AS (
        SELECT lang, n,
               least(10000, CAST(floor(
                 CAST(4000 AS DOUBLE) * (SELECT sum(n) FROM c) * pw /
                   (SELECT sum(pw) FROM c) / n) AS BIGINT)) AS bp
        FROM c)
      SELECT d.lang, count(*) AS kept, max(d.doc_id) AS max_doc
      FROM documents d JOIN r ON d.lang = r.lang
      WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                 AS UBIGINT) % 10000 < r.bp
      GROUP BY d.lang ORDER BY d.lang""",

    "q91_grouping_sets" -> """
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                  AS BIGINT) AS gid,
             count(*) AS n,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM orders
      GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                              (o_orderpriority), ())
      ORDER BY gid, status, priority""",

    "q92_argmax" -> """
      WITH r AS (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
               row_number() OVER (PARTITION BY o_custkey
                 ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
        FROM orders)
      SELECT o_custkey,
             max(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
             max(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
             max(o_totalprice) AS best_price
      FROM r GROUP BY o_custkey ORDER BY o_custkey""",

    "q93_unpivot" -> """
      SELECT metric, count(*) AS n,
             CAST(sum(CAST(val AS DECIMAL(18,2))) AS DOUBLE) AS total
      FROM (SELECT l_quantity, l_extendedprice, l_discount
            FROM lineitem WHERE l_linenumber = 1)
      UNPIVOT (val FOR metric IN (l_quantity, l_extendedprice, l_discount))
      GROUP BY metric ORDER BY metric""",

    "q90_range_join" -> """
      WITH o AS (
        SELECT o_orderpriority,
               datediff('day', DATE '1970-01-01', o_orderdate::DATE) AS o_start,
               datediff('day', DATE '1970-01-01', o_orderdate::DATE)
                 + o_orderkey % 7 + 1 AS o_end
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'),
      l AS (
        SELECT l_quantity,
               datediff('day', DATE '1970-01-01', l_shipdate::DATE) AS l_start,
               datediff('day', DATE '1970-01-01', l_shipdate::DATE)
                 + l_linenumber % 3 + 1 AS l_end
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_shipdate >= TIMESTAMP '1996-12-01'
          AND l_shipdate < TIMESTAMP '1998-02-01')
      SELECT o_orderpriority,
             count(*) AS pairs,
             sum(l_quantity) AS qty,
             CAST(sum(least(o_end, l_end) - greatest(o_start, l_start) + 1)
                  AS BIGINT) AS overlap_days
      FROM o JOIN l ON o_start <= l_end AND l_start <= o_end
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""",

    // closed forms of Multimodal.syntheticWavMedia: n = 64 + k%32 samples,
    // sample i = ((k*31 + i*17) mod 2003) - 1001, rate 8000 + (k%4)*4000
    "q89_audio_stats" -> """
      WITH s AS (
        SELECT p_partkey, i.i,
               ABS(((p_partkey * 31 + i.i * 17) % 2003) - 1001) AS a
        FROM part, generate_series(0, 95) i(i)
        WHERE p_partkey % 9 = 0 AND i.i < 64 + (p_partkey % 32))
      SELECT CAST(p_partkey AS BIGINT) AS media_id,
             CAST(8000 + (p_partkey % 4) * 4000 AS INT) AS sample_rate,
             CAST(64 + (p_partkey % 32) AS BIGINT) AS n_samples,
             CAST(SUM(a) AS BIGINT) AS sum_abs,
             CAST(MAX(a) AS INT) AS peak
      FROM s GROUP BY p_partkey ORDER BY media_id""",

    // closed forms of Multimodal.syntheticAviMedia: nf = 2 + k%3 frames,
    // sampled f%2=0, frame seed x = k*7 + f, pixels as in q85's pngPayload
    "q88_video_frames" -> """
      WITH g AS (
        SELECT tw.w, SUM((tx.x * 255) // (tw.w - 1)) AS grow
        FROM generate_series(8, 16) tw(w), generate_series(0, 15) tx(x)
        WHERE tx.x < tw.w GROUP BY tw.w),
      f AS (
        SELECT s_suppkey, fr.f AS frame_idx, s_suppkey * 7 + fr.f AS x
        FROM supplier, generate_series(0, 3) fr(f)
        WHERE s_suppkey % 5 = 0 AND fr.f < 2 + (s_suppkey % 3) AND fr.f % 2 = 0)
      SELECT CAST(f.s_suppkey AS BIGINT) AS media_id,
             CAST(f.frame_idx AS INT) AS frame_idx,
             CAST(8 + (x % 9) AS INT) AS width,
             CAST(8 + (x % 7) AS INT) AS height,
             CAST((8 + (x % 9)) * (8 + (x % 7)) * ((x * 7) % 256) AS BIGINT) AS sum_r,
             CAST((8 + (x % 7)) * g.grow AS BIGINT) AS sum_g,
             CAST((8 + (x % 9)) * (8 + (x % 7)) * ((x * 31) % 256) AS BIGINT) AS sum_b
      FROM f JOIN g ON g.w = 8 + (x % 9)
      ORDER BY media_id, frame_idx""",

    // closed forms of the four planted overlay configurations; the
    // perimeter certifies dissolution (doubled interior edges would
    // overshoot it), the type certifies shell-merging
    "q87_union_dissolve" -> """
      SELECT n_nationkey,
             CAST(CASE CAST(n_nationkey % 4 AS INT)
               WHEN 0 THEN 8.0 WHEN 1 THEN 6.0 WHEN 2 THEN 8.0 ELSE 6.0
             END AS DOUBLE) AS u_area,
             CAST(CASE CAST(n_nationkey % 4 AS INT)
               WHEN 0 THEN 12.0 WHEN 1 THEN 10.0 WHEN 2 THEN 16.0 ELSE 12.0
             END AS DOUBLE) AS u_perim,
             CASE CAST(n_nationkey % 4 AS INT)
               WHEN 2 THEN 'ST_MultiPolygon' ELSE 'ST_Polygon'
             END AS u_type,
             CAST(CASE CAST(n_nationkey % 4 AS INT)
               WHEN 0 THEN 8.0 WHEN 1 THEN 4.0 WHEN 2 THEN 8.0 ELSE 6.0
             END AS DOUBLE) AS s_area,
             CAST(CASE CAST(n_nationkey % 4 AS INT)
               WHEN 0 THEN 12.0 WHEN 1 THEN 12.0 WHEN 2 THEN 16.0 ELSE 12.0
             END AS DOUBLE) AS s_perim,
             CASE CAST(n_nationkey % 4 AS INT)
               WHEN 0 THEN 'ST_Polygon' WHEN 1 THEN 'ST_MultiPolygon'
               WHEN 2 THEN 'ST_MultiPolygon' ELSE 'ST_Polygon'
             END AS s_type
      FROM nation ORDER BY n_nationkey""",

    // same quadratic oracle as q25: on a spam-free corpus the self-tuned
    // bound exceeds every bucket occupancy, so the guarded default's
    // output must equal the exact unguarded pair set
    "q86_neardup_autoguard" -> s"""
      WITH ${gramPairCtes("documents", 0.8)}
      SELECT id_a, id_b, jaccard FROM dpairs
      ORDER BY id_a, id_b""",

    // closed forms of Multimodal.pngPayload: w = 8+id%9, h = 8+id%7,
    // R solid (id*7)%256, G gradient (x*255)//(w-1), B solid (id*31)%256.
    // DuckDB lacks lateral generate_series, so the per-width gradient sum
    // comes from a tiny non-correlated width×x cross join (9×16 rows).
    "q85_image_decode" -> """
      WITH g AS (
        SELECT tw.w, SUM((tx.x * 255) // (tw.w - 1)) AS grow
        FROM generate_series(8, 16) tw(w), generate_series(0, 15) tx(x)
        WHERE tx.x < tw.w GROUP BY tw.w)
      SELECT CAST(c_custkey AS BIGINT) AS media_id,
             CAST(8 + (c_custkey % 9) AS INT) AS width,
             CAST(8 + (c_custkey % 7) AS INT) AS height,
             CAST((8 + (c_custkey % 9)) * (8 + (c_custkey % 7)) AS BIGINT) AS n_pixels,
             CAST((8 + (c_custkey % 9)) * (8 + (c_custkey % 7))
                  * ((c_custkey * 7) % 256) AS BIGINT) AS sum_r,
             CAST((8 + (c_custkey % 7)) * g.grow AS BIGINT) AS sum_g,
             CAST((8 + (c_custkey % 9)) * (8 + (c_custkey % 7))
                  * ((c_custkey * 31) % 256) AS BIGINT) AS sum_b
      FROM customer JOIN g ON g.w = 8 + (c_custkey % 9)
      WHERE c_custkey % 7 = 0
      ORDER BY media_id""",

    "q84_l2_normalize" -> """
      WITH n AS (
        SELECT vec_id, embedding,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
        FROM embeddings)
      SELECT vec_id,
             unnest(range(0, len(embedding))) AS pos,
             CASE WHEN nrm = 0.0 THEN NULL
                  ELSE round(unnest(CAST(embedding AS DOUBLE[])) / nrm, 6) END AS nval
      FROM n
      ORDER BY vec_id, pos""",

    "q83_revenue_rollup_5way" -> """
      SELECT n_name,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                      CAST(1.0 - l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
             count(*) AS n_items
      FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey = c_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE r_name IN ('ASIA', 'EUROPE')
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY n_name ORDER BY n_name""",

    "q82_session_window" -> """
      WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM marked)
      SELECT user_id,
             epoch_us(min(ts)) AS start_us,
             epoch_us(max(ts)) + 1800000000 AS end_us,
             count(*) AS n_events
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, start_us""",

    "q80_collect_agg" -> """
      SELECT n_regionkey,
             string_agg(n_name, ',' ORDER BY n_name) AS names,
             CAST(count(DISTINCT n_nationkey % 5) AS BIGINT) AS n_mod_classes,
             array_to_string(list_sort(list(n_name))[1:2], '|') AS first_two
      FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""",

    // Spark regexp_extract returns '' when the pattern misses; DuckDB
    // returns '' too for a non-matching regexp_extract — aligned
    "q81_regex_extract" -> """
      SELECT o_orderkey,
             regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 1) AS prio_num,
             regexp_extract(o_orderpriority, '^([0-9]+)-([A-Z]+)$', 2) AS prio_word,
             regexp_matches(o_orderpriority, '^[12]-') AS is_fast,
             regexp_extract(o_orderstatus, '([FO])', 1) AS fo
      FROM orders ORDER BY o_orderkey""",

    "q79_unigram_nll" -> """
      WITH toks AS (
        SELECT doc_id, t
        FROM (SELECT doc_id,
                unnest(string_split_regex(trim(text), '\s+')) AS t
              FROM documents) u
        WHERE t <> ''),
      vocab AS (SELECT t, count(*) AS c FROM toks GROUP BY t),
      tot AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM toks)
      SELECT k.doc_id, round(avg(-ln(CAST(v.c AS DOUBLE) / tot.n)), 4) AS nll
      FROM toks k JOIN vocab v USING (t), tot
      GROUP BY k.doc_id ORDER BY doc_id""",

    "q78_subquery_surface" -> """
      SELECT c_custkey, c_mktsegment
      FROM customer c
      WHERE EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
        AND c_custkey NOT IN (SELECT o_custkey FROM orders
                              WHERE o_orderstatus = 'P')
        AND c_acctbal * 100 > (SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT))
                               FROM customer)
      ORDER BY c_custkey""",

    "q76_null_surface" -> """
      SELECT c_custkey,
             coalesce(nb, -1.0) AS nb_or_default,
             nullif(c_nationkey, 0) AS nk_nullable,
             CASE WHEN nb IS NOT NULL THEN 'has' ELSE 'null' END AS has_bal,
             (nb IS NOT DISTINCT FROM c_acctbal) AS same_nullsafe,
             (nb IS DISTINCT FROM c_acctbal) AS distinct_from,
             CASE WHEN nb IS NULL THEN 'missing'
                  WHEN nb < 0 THEN 'neg' ELSE 'pos' END AS bal_class
      FROM (SELECT c_custkey, c_nationkey, c_acctbal,
              CASE WHEN c_custkey % 3 = 0 THEN CAST(NULL AS DOUBLE)
                   ELSE c_acctbal END AS nb
            FROM customer) t
      ORDER BY c_custkey""",

    "q77_filtered_aggs" -> """
      SELECT o_orderpriority,
             count(*) AS n,
             count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
             CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_big,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
                  FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS sum_open,
             bool_or(o_orderstatus = 'P') AS any_pending,
             bool_and(o_custkey > 0) AS all_pos_cust
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q75_bpeish_tokens" -> s"""
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '${graft.pipeline.Text.BpeishTokenRe}'))
                  AS BIGINT) AS bpeish_toks,
             CAST(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END
                  AS BIGINT) AS ws_toks
      FROM documents ORDER BY doc_id""",

    "q74_stats_surface" -> """
      SELECT l_returnflag,
             round(stddev_samp(l_quantity), 4) AS sd_qty,
             round(var_samp(l_quantity), 4) AS var_qty,
             round(corr(l_quantity, l_linenumber), 4) AS corr_ql,
             round(covar_samp(l_quantity, l_linenumber), 4) AS cov_ql,
             count(*) AS n
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q73_time_buckets" -> """
      SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS bucket_us,
             event_type,
             count(*) AS n,
             count(DISTINCT user_id) AS n_users,
             min(value) AS min_v, max(value) AS max_v
      FROM events
      GROUP BY 1, 2
      ORDER BY bucket_us, event_type""",

    "q72_map_surface" -> """
      SELECT n_nationkey,
             n_name AS name_v,
             CAST(n_regionkey AS VARCHAR) AS region_v,
             CAST(NULL AS VARCHAR) AS missing_v,
             CAST(2 AS BIGINT) AS m_size,
             'name,region' AS keys_sorted,
             TRUE AS has_region
      FROM nation
      ORDER BY n_nationkey""",

    "q71_string_surface" -> """
      SELECT a.n_name AS name_a, b.n_name AS name_b,
             CAST(levenshtein(a.n_name, b.n_name) AS BIGINT) AS edit_dist,
             list_aggregate(list_transform(string_split(lower(a.n_name), ' '),
               w -> upper(w[1]) || w[2:]), 'string_agg', ' ') AS pretty,
             translate(a.n_name, 'AEIOU', 'aeiou') AS lowered_vowels,
             reverse(b.n_name) AS rev,
             lpad(a.n_name, 12, '.') AS padded,
             CAST(instr(a.n_name, 'AN') AS BIGINT) AS an_pos
      FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      WHERE levenshtein(a.n_name, b.n_name) <= 6
      ORDER BY name_a, name_b""",

    "q70_salted_join" -> """
      SELECT o_orderkey, n_name
      FROM orders JOIN nation ON o_custkey % 25 = n_nationkey
      ORDER BY o_orderkey""",

    // same Java∩RE2 patterns injected from Text.EmailRe/PhoneRe — the
    // mirror cannot drift from the engine; DuckDB needs the 'g' flag for
    // replace-all (Spark's regexp_replace is always global)
    "q68_pii_scrub" -> s"""
      WITH synth AS (
        SELECT o_orderkey,
          'Order note: contact user' || CAST(o_custkey AS VARCHAR) ||
          CASE WHEN o_orderkey % 2 = 0
               THEN '@mail.example.com or +1-555-' ||
                    lpad(CAST(o_custkey % 10000 AS VARCHAR), 4, '0')
               ELSE ' by ticket' END || ' thanks' AS note
        FROM orders),
      scrub AS (
        SELECT o_orderkey,
               regexp_replace(regexp_replace(note, '${Text.EmailRe}', '<EMAIL>', 'g'),
                              '${Text.PhoneRe}', '<PHONE>', 'g') AS scrubbed
        FROM synth)
      SELECT o_orderkey, scrubbed,
             CAST((length(scrubbed) - length(replace(scrubbed, '<EMAIL>', ''))) // 7
                  AS BIGINT) AS n_email,
             CAST((length(scrubbed) - length(replace(scrubbed, '<PHONE>', ''))) // 7
                  AS BIGINT) AS n_phone
      FROM scrub ORDER BY o_orderkey""",

    "q69_datetime_surface" -> """
      SELECT o_orderkey,
             date_part('year', o_orderdate) AS y,
             date_part('quarter', o_orderdate) AS q,
             date_part('month', o_orderdate) AS m,
             date_part('dow', o_orderdate) + 1 AS dow,
             date_part('doy', o_orderdate) AS doy,
             strftime(o_orderdate, '%Y-%m-%d') AS d_str,
             date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k,
             CAST(CAST(date_trunc('week', o_orderdate) AS DATE) AS VARCHAR) AS week_start,
             CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2m,
             CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom
      FROM orders ORDER BY o_orderkey""",

    // 8-gram mirror of Decontaminate.flags: per-doc distinct 8-grams,
    // eval grams flattened+distinct, shared count = list_intersect length
    "q66_decontamination" -> """
      WITH gtoks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt FROM documents),
      g8 AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(wt)-7, 0)+1),
                 i -> wt[i] || ' ' || wt[i+1] || ' ' || wt[i+2] || ' ' ||
                      wt[i+3] || ' ' || wt[i+4] || ' ' || wt[i+5] || ' ' ||
                      wt[i+6] || ' ' || wt[i+7])) AS g
        FROM gtoks),
      ev AS (
        SELECT list_distinct(flatten(list(g))) AS eg FROM g8 WHERE doc_id % 7 = 0)
      SELECT c.doc_id, CAST(len(list_intersect(c.g, ev.eg)) AS BIGINT) AS n_shared_grams
      FROM g8 c, ev
      WHERE c.doc_id % 7 <> 0 AND len(list_intersect(c.g, ev.eg)) > 0
      ORDER BY doc_id""",

    "q67_repetition_score" -> """
      WITH gtoks AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt FROM documents),
      g3 AS (
        SELECT doc_id,
               list_transform(range(1, greatest(len(wt)-2, 0)+1),
                 i -> wt[i] || ' ' || wt[i+1] || ' ' || wt[i+2]) AS g
        FROM gtoks)
      SELECT doc_id,
             CASE WHEN len(g) > 0
                  THEN 1.0 - CAST(len(list_distinct(g)) AS DOUBLE) / len(g)
                  ELSE 0.0 END AS repetition
      FROM g3 ORDER BY doc_id""",

    "q64_intersect_all" -> """
      SELECT custkey, src FROM (
        SELECT custkey, 'both' AS src FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000
          INTERSECT
          SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000) i
        UNION ALL
        SELECT custkey, 'bag' AS src FROM (
          SELECT c_custkey AS custkey FROM customer WHERE c_nationkey < 3
          EXCEPT ALL
          SELECT c_custkey AS custkey FROM customer
          WHERE c_nationkey < 3 AND c_acctbal < 0) e) u
      ORDER BY src, custkey""",

    // list_* mirrors of the higher-order functions; the neighbor-repeat
    // count is an index walk (toks[i] = toks[i+1], out-of-range -> NULL
    // -> 0) matching zip_with's null-padded tail exactly
    "q65_array_surface" -> """
      SELECT doc_id,
             CAST(len(list_filter(toks, t -> length(t) > 3)) AS BIGINT) AS n_long,
             CAST(len(list_distinct(toks)) AS BIGINT) AS n_uniq,
             array_to_string(list_sort(list_transform(toks, t -> upper(t)))[1:3],
                             ',') AS top3,
             CAST(coalesce(list_sum(list_transform(range(1, greatest(len(toks), 1)),
                    i -> CASE WHEN toks[i] = toks[i+1] THEN 1 ELSE 0 END)), 0)
                  AS BIGINT) AS n_rep
      FROM (SELECT doc_id,
              list_filter(string_split_regex(trim(text), '\s+'), t -> t <> '') AS toks
            FROM documents WHERE doc_id < 200) t
      ORDER BY doc_id""",

    "q63_json_surface" -> """
      SELECT o_orderkey,
             json_extract_string(j, '$.cust') AS cust_s,
             CAST(json_extract_string(j, '$.cust') AS BIGINT) AS cust_i,
             json_extract_string(j, '$.status') AS status,
             json_extract_string(j, '$.tags[1]') AS tag2,
             json_extract_string(j, '$.nested.pri') AS pri,
             CAST(json_array_length(json_extract(j, '$.tags')) AS BIGINT) AS n_tags
      FROM (SELECT o_orderkey,
              '{"cust":' || CAST(o_custkey AS VARCHAR) ||
              ',"status":"' || o_orderstatus || '"' ||
              ',"tags":["a","' || o_orderpriority || '"]' ||
              ',"nested":{"pri":"' || o_orderpriority || '"}}' AS j
            FROM orders) t
      ORDER BY o_orderkey""",

    "q61_asof_forward" -> """
      WITH clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      purchases AS (
        SELECT user_id, ts, max(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.click_id, p.purchase_id
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts <= p.ts
      ORDER BY c.click_id""",

    "q62_window_suite" -> """
      SELECT user_id, event_id,
             lag(event_id) OVER w AS prev_id,
             lead(event_id) OVER w AS next_id,
             CAST(ntile(4) OVER w AS BIGINT) AS quartile,
             percent_rank() OVER w AS pct_rank,
             cume_dist() OVER w AS cume,
             first_value(event_id) OVER w AS first_id
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      ORDER BY user_id, event_id""",

    // Full mirror of TextUtil.langId INCLUDING the script-histogram
    // branches: the same document construction (BMP-only, so Java
    // UTF-16-char counts == codepoint counts), script counts via RE2
    // \p{Script} classes (the same Unicode script property
    // Character.UnicodeScript dispatches on), then the identical decision
    // chain with the Latin branch delegating to the voting mirror.
    "q55_langid_scripts" -> s"""
      WITH sdocs AS (
        SELECT c_custkey AS doc_id,
          CASE
            WHEN c_custkey % 8 = 0 THEN repeat('漢', CAST(c_custkey % 50 + 1 AS INT))
            WHEN c_custkey % 8 = 1 THEN repeat('あ', CAST(c_custkey % 5 + 1 AS INT)) ||
                                        repeat('漢', CAST(c_custkey % 7 AS INT))
            WHEN c_custkey % 8 = 2 THEN repeat('한', CAST(c_custkey % 30 + 1 AS INT))
            WHEN c_custkey % 8 = 3 THEN repeat('д', CAST(c_custkey % 5 + 1 AS INT)) ||
                                        repeat('x', CAST(c_custkey % 7 AS INT))
            WHEN c_custkey % 8 = 4 THEN repeat('ع', CAST(c_custkey % 5 + 1 AS INT)) || ' ' ||
                                        repeat('b', CAST(c_custkey % 7 AS INT))
            WHEN c_custkey % 8 = 5 THEN repeat('द', CAST(c_custkey % 20 + 1 AS INT))
            WHEN c_custkey % 8 = 6 THEN 'the of and to in is that for it as ' ||
                                        repeat('z', CAST(c_custkey % 4 AS INT))
            ELSE repeat('7', CAST(c_custkey % 9 + 1 AS INT))
          END AS text
        FROM customer),
      hist AS (
        SELECT doc_id,
          length(regexp_replace(substr(text,1,4096), '[^\\p{L}]', '', 'g')) AS letters,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Hiragana}\\p{Katakana}]', '', 'g')) AS kana,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Han}]', '', 'g')) AS han,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Hangul}]', '', 'g')) AS hangul,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Cyrillic}]', '', 'g')) AS cyr,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Arabic}]', '', 'g')) AS arab,
          length(regexp_replace(substr(text,1,4096), '[^\\p{Devanagari}]', '', 'g')) AS deva
        FROM sdocs),
      ${langMirrorCtes("sdocs")}
      SELECT h.doc_id AS c_custkey,
        CASE WHEN h.letters = 0 THEN 'und'
             WHEN h.kana * 5 > h.letters THEN 'ja'
             WHEN h.han * 2 > h.letters THEN 'zh'
             WHEN h.hangul * 2 > h.letters THEN 'ko'
             WHEN h.cyr * 2 > h.letters THEN 'ru'
             WHEN h.arab * 2 > h.letters THEN 'ar'
             WHEN h.deva * 2 > h.letters THEN 'hi'
             ELSE l.lang END AS lang
      FROM hist h JOIN langs l ON l.doc_id = h.doc_id
      ORDER BY c_custkey""",

    // Full SQL mirrors of the fingerprint64/simhash64 kernels: per-token
    // fnv1a64 as HUGEINT mod-2^64, simhash = per-bit majority vote over the
    // token-hash multiset, fingerprint = fnv over the "token space" stream.
    "q24_fingerprint_minhash" -> s"""
      WITH ${fnvTokenCtes("documents")},
      sh AS (
        SELECT doc_id,
          CASE WHEN len(hashes) = 0 THEN 0 ELSE
            list_sum(list_transform(range(0, 64), b ->
              CASE WHEN 2 * len(list_filter(hashes,
                     h -> (h // (CAST(1 AS HUGEINT) << b)) % 2 = 1)) > len(hashes)
                   THEN (CAST(1 AS HUGEINT) << b) ELSE 0 END)) END AS sh64u
        FROM th),
      fp AS (
        SELECT doc_id,
          list_reduce(
            list_prepend(CAST(14695981039346656037 AS HUGEINT),
              list_transform(range(1, length(joined)+1),
                             i -> CAST(ascii(substr(joined,i,1)) AS HUGEINT))),
            (h, c) -> ((h - h % 256 + xor(CAST(h % 256 AS BIGINT),
                                          CAST(c AS BIGINT)))
                       * 1099511628211) % $U64) AS fp64u
        FROM (SELECT doc_id,
                CASE WHEN len(t) = 0 THEN ''
                     ELSE array_to_string(t, ' ') || ' ' END AS joined
              FROM toks))
      SELECT sh.doc_id, ${toSigned("fp64u")} AS fp64, ${toSigned("sh64u")} AS sh64
      FROM sh JOIN fp USING (doc_id) ORDER BY doc_id""",

    // Quadratic exact n-gram Jaccard over all pairs — the LSH candidate
    // stage provably (checked per sf: zero missed pairs at τ=0.8 with a
    // miss probability < 1e-5 per pair at the fixture's ≥0.85 similarities)
    // covers every qualifying pair, so candidates ∩ verify ≡ all-pairs.
    "q25_minhash_neardup" -> s"""
      WITH ${gramPairCtes("documents", 0.8)}
      SELECT id_a, id_b, jaccard FROM dpairs
      ORDER BY id_a, id_b""",

    // Full SQL mirror of the MinHash signature: shingle bases are fnv1a64
    // folds over three consecutive full-64-bit token hashes, permutation j
    // applies a_j·base + b_j mod 2^64 (split mulmod: a_j is up to 2^64, so
    // a_j·base is computed as low32·base + ((high32·(base mod 2^32)) mod
    // 2^32)·2^32 to stay inside HUGEINT), and sig_j is the SIGNED min.
    // The a_j/b_j constants are generated from TextUtil.splitmix64 — the
    // same pure function the Scala kernel uses, so they cannot drift.
    "q53_minhash_sig" -> s"""
      WITH ${sigCtes("documents")}
      SELECT doc_id, CAST(j AS BIGINT) AS perm, sigval
      FROM sig ORDER BY doc_id, perm""",

    // End-to-end Curate mirror: every pipeline stage recomputed in one CTE
    // chain — exact dedup (keep lowest id per md5), near-dup removal (the
    // quadratic Jaccard oracle standing in for LSH+verify, sound per q25),
    // quality gate (q22 expression), language gate (q23 mirror), md5
    // split/shard buckets (q49), stream-offset packing (q50).
    "q54_curate" -> s"""
      WITH ranked AS (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents),
      keep_exact AS (SELECT doc_id, text FROM ranked WHERE rn = 1),
      ${gramPairCtes("keep_exact", 0.8)},
      losers AS (SELECT DISTINCT id_b AS doc_id FROM dpairs),
      deduped AS (
        SELECT k.doc_id, k.text FROM keep_exact k
        WHERE k.doc_id NOT IN (SELECT doc_id FROM losers)),
      qual AS (
        SELECT doc_id,
               greatest(least(len_score * 0.3 + alpha * 0.7
                              - (punct + digit) * 0.5, 1.0), 0.0) AS quality
        FROM (
          SELECT doc_id,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
                 CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
                           / length(text) END AS alpha,
                 CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                           / length(text) END AS punct,
                 CASE WHEN length(text) = 0 THEN 0.0
                      ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
                           / length(text) END AS digit
          FROM deduped)),
      ${langMirrorCtes("deduped")},
      gated AS (
        SELECT d.doc_id, d.text, q.quality, l.lang
        FROM deduped d JOIN qual q USING (doc_id) JOIN langs l USING (doc_id)
        WHERE q.quality >= 0.5 AND l.lang = 'en'),
      enriched AS (
        SELECT doc_id, quality, lang,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                 % 10000 AS b10k,
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                 % 8 AS BIGINT) AS shard,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT) AS toks
        FROM gated),
      packed AS (
        SELECT doc_id, quality, lang,
               CASE WHEN b10k < 8000 THEN 'train'
                    WHEN b10k < 9000 THEN 'val'
                    ELSE 'test' END AS split,
               shard, toks,
               CAST(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
                 AS BIGINT) AS pack_offset
        FROM enriched)
      SELECT doc_id, quality, lang, split, shard, toks, pack_offset,
             CAST(floor(pack_offset / 512) AS BIGINT) AS pack_id
      FROM packed ORDER BY doc_id""",

    "q26_cosine_topk" -> """
      WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                 FROM embeddings WHERE vec_id < 10),
      scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, CAST(e.embedding AS DOUBLE[])) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                      CAST(e.embedding AS DOUBLE[])))) AS sim
        FROM q, embeddings e WHERE e.vec_id <> q.query_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, CAST(neighbor_id AS BIGINT) AS neighbor_id
      FROM ranked
      WHERE rank <= 5 ORDER BY query_id, rank""",

    // Pure-SQL convex hull over the real per-order clouds (≤ 7 points per
    // group). Vertex set: a distinct point is a hull vertex iff it is NOT
    // in the closed triangle of any 3 other distinct points (non-degenerate
    // triangles only) and NOT on the closed segment of any 2 others — the
    // declarative equivalent of the monotone chain's strict (`<= 0` pop)
    // turn rule. Ring order: the chain emits CCW starting at the
    // lexicographic-min vertex; for a convex vertex set that equals the
    // angular order around the vertex centroid (angles are distinct —
    // two vertices on one centroid ray would contradict convex position),
    // rotated to start at the lexicographic min. Degenerate groups mirror
    // convexHull exactly: 1 distinct point → POINT, 2 distinct or all
    // collinear → LINESTRING of the two lexicographic extremes. Verified
    // 0 mismatches against the Spark output at sf0.001/0.01/0.1
    // (1,473 / 14,743 / 147,236 orders).
    "q19_st_hull_centroid" -> """
      WITH pts AS (
        SELECT DISTINCT l_orderkey AS k,
               CAST(l_extendedprice AS DOUBLE) AS x, l_quantity AS y
        FROM lineitem),
      verts AS (
        SELECT p.k, p.x, p.y FROM pts p
        WHERE NOT EXISTS (
          SELECT 1 FROM pts a, pts b
          WHERE a.k = p.k AND b.k = p.k
            AND NOT (a.x = p.x AND a.y = p.y) AND NOT (b.x = p.x AND b.y = p.y)
            AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
            AND (b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x) = 0
            AND least(a.x, b.x) <= p.x AND p.x <= greatest(a.x, b.x)
            AND least(a.y, b.y) <= p.y AND p.y <= greatest(a.y, b.y))
        AND NOT EXISTS (
          SELECT 1 FROM pts a, pts b, pts c
          WHERE a.k = p.k AND b.k = p.k AND c.k = p.k
            AND NOT (a.x = p.x AND a.y = p.y) AND NOT (b.x = p.x AND b.y = p.y)
            AND NOT (c.x = p.x AND c.y = p.y)
            AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
            AND (b.x < c.x OR (b.x = c.x AND b.y < c.y))
            AND (b.x - a.x) * (c.y - a.y) - (b.y - a.y) * (c.x - a.x) <> 0
            AND ((  ((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x)) >= 0
                AND ((c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x)) >= 0
                AND ((a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x)) >= 0)
              OR (((b.x - a.x) * (p.y - a.y) - (b.y - a.y) * (p.x - a.x)) <= 0
                AND ((c.x - b.x) * (p.y - b.y) - (c.y - b.y) * (p.x - b.x)) <= 0
                AND ((a.x - c.x) * (p.y - c.y) - (a.y - c.y) * (p.x - c.x)) <= 0)))),
      cent AS (SELECT k, avg(x) AS cx, avg(y) AS cy, count(*) AS nv FROM verts GROUP BY k),
      ordered AS (
        SELECT v.k, c.nv,
               list(struct_pack(x := v.x, y := v.y)
                    ORDER BY atan2(v.y - c.cy, v.x - c.cx)) AS vs
        FROM verts v JOIN cent c USING (k)
        GROUP BY v.k, c.nv),
      rot AS (
        SELECT k, nv, vs,
               list_position(vs, (SELECT min(struct_pack(x := u.x, y := u.y))
                                  FROM unnest(vs) AS t(u))) AS mi
        FROM ordered),
      ring AS (
        SELECT k, nv, list_concat(vs[mi:], vs[:mi-1]) AS rv
        FROM rot)
      SELECT k AS l_orderkey,
        CASE WHEN nv = 1 THEN 'POINT (' || CAST(rv[1].x AS VARCHAR) || ' ' || CAST(rv[1].y AS VARCHAR) || ')'
             WHEN nv = 2 THEN 'LINESTRING (' ||
                  CAST((CASE WHEN rv[1] < rv[2] THEN rv[1] ELSE rv[2] END).x AS VARCHAR) || ' ' ||
                  CAST((CASE WHEN rv[1] < rv[2] THEN rv[1] ELSE rv[2] END).y AS VARCHAR) || ',' ||
                  CAST((CASE WHEN rv[1] < rv[2] THEN rv[2] ELSE rv[1] END).x AS VARCHAR) || ' ' ||
                  CAST((CASE WHEN rv[1] < rv[2] THEN rv[2] ELSE rv[1] END).y AS VARCHAR) || ')'
             ELSE 'POLYGON ((' ||
                  array_to_string(list_transform(rv, s -> CAST(s.x AS VARCHAR) || ' ' || CAST(s.y AS VARCHAR)), ',')
                  || ',' || CAST(rv[1].x AS VARCHAR) || ' ' || CAST(rv[1].y AS VARCHAR) || '))'
        END AS hull,
        CAST(CASE WHEN nv <= 2 THEN nv ELSE nv + 1 END AS BIGINT) AS hull_pts
      FROM ring ORDER BY l_orderkey""",

    "q47_hull_rect_oracle" -> """
      SELECT n_nationkey AS k,
             'POLYGON ((0.0 0.0,' || kk || ' 0.0,' || kk || ' ' || kk ||
               ',0.0 ' || kk || ',0.0 0.0))' AS hull,
             CAST(5 AS BIGINT) AS hull_pts
      FROM (SELECT n_nationkey,
                   CAST(CAST(n_nationkey + 1 AS DOUBLE) AS VARCHAR) AS kk
            FROM nation) t
      ORDER BY k""",

    "q48_geojson_roundtrip" -> """
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 2 = 0
               THEN 'POINT (' || CAST(CAST(n_nationkey AS DOUBLE) AS VARCHAR)
                 || ' ' || CAST(CAST(n_regionkey AS DOUBLE) AS VARCHAR) || ')'
               ELSE 'LINESTRING (0.0 0.0,'
                 || CAST(CAST(n_nationkey AS DOUBLE) AS VARCHAR) || ' 2.0)'
               END AS wkt,
             TRUE AS bad_is_null
      FROM nation ORDER BY n_nationkey""",

    "q49_hash_split" -> """
      SELECT doc_id,
             CASE WHEN b < 8000 THEN 'train'
                  WHEN b < 9000 THEN 'val'
                  ELSE 'test' END AS split
      FROM (SELECT doc_id,
              CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
                % 10000 AS b
            FROM documents) t
      ORDER BY doc_id""",

    "q50_sequence_packing" -> """
      WITH t AS (
        SELECT doc_id, doc_id % 8 AS shard,
               CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
        FROM documents),
      p AS (
        SELECT doc_id,
               CAST(sum(toks) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks
                 AS BIGINT) AS off
        FROM t)
      SELECT doc_id, off AS pack_offset,
             CAST(floor(off / 512) AS BIGINT) AS pack_id
      FROM p ORDER BY doc_id""",

    "q51_token_percentiles" -> """
      WITH t AS (
        SELECT doc_id % 4 AS grp,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS toks
        FROM documents),
      q AS (
        SELECT grp, quantile_cont(toks, [0.1, 0.25, 0.5, 0.75, 0.9]) AS qs
        FROM t GROUP BY grp)
      SELECT grp, CAST(i AS INT) AS idx, round(qs[CAST(i AS INT)], 4) AS v
      FROM q, generate_series(1, 5) s(i)
      ORDER BY grp, idx""",

    "q52_bm25_scores" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents),
      tf AS (
        SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
        WHERE term <> '' GROUP BY doc_id, term),
      dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
      dl AS (
        SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\s+')) END AS DOUBLE) AS dl
        FROM documents),
      corpus AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl)
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * tf.tf * 2.2
               / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / corpus.avgdl)), 4) AS score
      FROM tf
      JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN corpus
      WHERE term IN ('join', 'hash', 'filter')
      ORDER BY doc_id, term""",

    "q27_embedding_neardup" -> """
      WITH aug AS (
        SELECT vec_id, embedding FROM embeddings
        UNION ALL
        SELECT vec_id + 100000 AS vec_id,
               list_transform(embedding, x -> x * CAST(2.0 AS FLOAT)) AS embedding
        FROM embeddings WHERE vec_id < 20)
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM aug a JOIN aug b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.9
      ORDER BY id_a, id_b""",

    "q28_embedding_norms" -> """
      SELECT vec_id, label,
             round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))), 6) AS l2_norm
      FROM embeddings ORDER BY vec_id""",

    "q30_st_setops" -> """
      WITH r AS (
        SELECT n_nationkey,
               CAST(n_nationkey AS DOUBLE) * 128.0 AS ax0, 0.0 AS ay0,
               CAST(n_nationkey AS DOUBLE) * 128.0 + 512.0 AS ax1, 256.0 AS ay1,
               1024.0 AS bx0, 64.0 AS by0, 1792.0 AS bx1, 192.0 AS by1
        FROM nation),
      m AS (
        SELECT n_nationkey,
               (ax1 - ax0) * (ay1 - ay0) AS area_a,
               (bx1 - bx0) * (by1 - by0) AS area_b,
               greatest(0.0, least(ax1, bx1) - greatest(ax0, bx0)) *
               greatest(0.0, least(ay1, by1) - greatest(ay0, by0)) AS inter_area
        FROM r)
      SELECT n_nationkey, inter_area,
             area_a - inter_area AS diff_area,
             area_a + area_b - inter_area AS union_area
      FROM m ORDER BY n_nationkey""",

    "q31_st_touches_chain" -> """
      SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b
      FROM nation a JOIN nation b
        ON a.n_nationkey < b.n_nationkey
       AND b.n_nationkey - a.n_nationkey = 1
      ORDER BY key_a, key_b""",

    "q32_st_dwithin_pairs" -> """
      SELECT sp.s_suppkey, n.n_nationkey
      FROM supplier sp JOIN nation n
        ON sqrt((sp.s_acctbal - CAST(n.n_nationkey AS DOUBLE) * 200.0) *
                (sp.s_acctbal - CAST(n.n_nationkey AS DOUBLE) * 200.0) +
                (CAST(sp.s_nationkey AS DOUBLE) - CAST(n.n_nationkey AS DOUBLE)) *
                (CAST(sp.s_nationkey AS DOUBLE) - CAST(n.n_nationkey AS DOUBLE)))
            <= 500.0
      ORDER BY s_suppkey, n_nationkey""",

    "q33_grid_spatial_join" -> """
      SELECT n.n_nationkey, count(*) AS n_pts
      FROM nation n JOIN customer c
        ON c.c_acctbal BETWEEN CAST(n.n_nationkey AS DOUBLE) * 300.0
                           AND CAST(n.n_nationkey AS DOUBLE) * 300.0 + 2000.0
       AND CAST(c.c_nationkey AS DOUBLE) BETWEEN CAST(n.n_nationkey AS DOUBLE) - 3.0
                                             AND CAST(n.n_nationkey AS DOUBLE) + 3.0
      GROUP BY n.n_nationkey ORDER BY n.n_nationkey""",

    "q34_asof_join" -> """
      WITH clicks AS (
        SELECT user_id, ts, event_id AS click_id FROM events WHERE event_type = 'click'),
      purchases AS (
        SELECT user_id, ts, max(event_id) AS purchase_id
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      SELECT c.click_id, p.purchase_id
      FROM clicks c ASOF LEFT JOIN purchases p
        ON c.user_id = p.user_id AND c.ts >= p.ts
      ORDER BY c.click_id""",

    "q35_range_window" -> """
      SELECT user_id, event_id,
             count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS n_last_hour
      FROM events ORDER BY user_id, event_id""",

    "q36_union_agg" -> """
      SELECT c_mktsegment,
             16384.0 * count(DISTINCT c_nationkey) AS union_area
      FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q37_term_stats" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE doc_id < 50),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term <> '' GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
      SELECT tf.term, tf.doc_id, tf.tf, dfreq.df
      FROM tf JOIN dfreq USING (term)
      ORDER BY doc_id, term""",

    "q38_boundary_length" -> """
      WITH b AS (
        SELECT l_orderkey,
               min(CAST(l_extendedprice AS DOUBLE)) AS x0, min(l_quantity) AS y0,
               max(CAST(l_extendedprice AS DOUBLE)) AS x1, max(l_quantity) AS y1
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey,
             (x1 - x0) + (y1 - y0) + (x1 - x0) + (y1 - y0) AS boundary_len
      FROM b ORDER BY l_orderkey""",

    "q39_stopword_ratio" -> """
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0.0
                  ELSE CAST(len(list_filter(
                         string_split_regex(lower(trim(text)), '\s+'),
                         t -> list_contains(['the','of','and','to','in','is','that','for','it','as','was','with','be','by','on','not','this','are','or','his','from','at','which','but','have','an','they','you','were','her'], t))) AS DOUBLE)
                       / len(string_split_regex(trim(text), '\s+')) END AS sw_ratio
      FROM documents ORDER BY doc_id""",

    "q40_st_crosses" -> """
      SELECT l_orderkey, l_linenumber,
             l_quantity > 10.0 AS crosses
      FROM lineitem ORDER BY l_orderkey, l_linenumber""",

    "q41_st_overlaps_disjoint" -> """
      SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
             b.n_nationkey - a.n_nationkey = 1 AS overlaps,
             b.n_nationkey - a.n_nationkey >= 2 AS disjoint
      FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
      ORDER BY key_a, key_b""",

    "q42_st_equals_within" -> """
      SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
             a.n_nationkey = b.n_nationkey AS equal,
             a.n_nationkey = b.n_nationkey AS within
      FROM nation a JOIN nation b ON a.n_nationkey <= b.n_nationkey
      ORDER BY key_a, key_b""",

    "q29_multimodal_decode" -> """
      SELECT CAST(64 + (doc_id % 64) AS INT) AS width, count(*) AS n
      FROM documents GROUP BY 1 ORDER BY 1""",

    // same IEEE tree as GeomOps.distance point-point: sqrt(dx*dx + dy*dy)
    "q43_knn_join" -> """
      WITH l AS (SELECT s_suppkey, s_acctbal AS lx, CAST(s_nationkey AS DOUBLE) AS ly
                 FROM supplier),
      r AS (SELECT c_custkey, c_acctbal AS rx, CAST(c_nationkey AS DOUBLE) AS ry
            FROM customer),
      scored AS (
        SELECT l.s_suppkey, r.c_custkey,
               sqrt((lx - rx) * (lx - rx) + (ly - ry) * (ly - ry)) AS knn_dist
        FROM l, r),
      ranked AS (
        SELECT s_suppkey, c_custkey, knn_dist,
               row_number() OVER (PARTITION BY s_suppkey
                 ORDER BY knn_dist ASC, c_custkey) AS knn_rank
        FROM scored)
      SELECT s_suppkey, knn_rank, c_custkey, knn_dist FROM ranked
      WHERE knn_rank <= 3 ORDER BY s_suppkey, knn_rank""",

    "q44_st_accessors" -> """
      SELECT n_nationkey,
             CASE WHEN n_nationkey % 3 = 0 THEN 0
                  WHEN n_nationkey % 3 = 1 THEN 1
                  ELSE 2 END AS dim,
             0 AS srid,
             n_nationkey % 2 = 0 AS empty,
             CASE WHEN n_nationkey % 3 = 0 THEN 21
                  WHEN n_nationkey % 3 = 1 THEN 41
                  ELSE 93 END AS wkb_len,
             'POINT (' || CAST(CAST(n_nationkey AS DOUBLE) AS VARCHAR) || ' 2.0)' AS rt_wkt
      FROM nation ORDER BY n_nationkey""",

    "q45_st_relate" -> """
      SELECT n_nationkey,
             '2FFF1FFF2' AS rel_equal,
             '212101212' AS rel_overlap,
             'FF2F11212' AS rel_edge,
             'FF2F01212' AS rel_corner,
             '212FF1FF2' AS rel_contains,
             '2FF1FF212' AS rel_within,
             'FF2FF1212' AS rel_disjoint,
             TRUE AS simple_line,
             FALSE AS bowtie_simple
      FROM nation ORDER BY n_nationkey""",

    "q46_st_symdiff_buffer" -> """
      SELECT n_nationkey,
             131072.0 + 98304.0 - 2.0 *
               (GREATEST(LEAST(CAST(n_nationkey AS DOUBLE) * 128.0 + 512.0, 1792.0)
                         - GREATEST(CAST(n_nationkey AS DOUBLE) * 128.0, 1024.0), 0.0)
                * 128.0) AS symdiff_area,
             TRUE AS buf_near,
             FALSE AS buf_far
      FROM nation ORDER BY n_nationkey""",

    "q161_interval_coverage" -> """
      WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + CAST(floor(value * 60000000.0) AS BIGINT) AS e
        FROM events),
      m AS (
        SELECT user_id, event_id, s, e,
               max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runend
        FROM iv),
      f AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN runend IS NULL OR s > runend THEN 1 ELSE 0 END AS ni
        FROM m),
      g AS (
        SELECT user_id, s, e,
               sum(ni) OVER (PARTITION BY user_id ORDER BY s, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM f),
      i AS (SELECT user_id, island, min(s) AS i_s, max(e) AS i_e
            FROM g GROUP BY 1, 2)
      SELECT user_id, CAST(sum(i_e - i_s) AS BIGINT) AS covered_micros,
             count(*) AS n_islands,
             max(i_e) - min(i_s) AS span_micros
      FROM i GROUP BY user_id ORDER BY user_id""",

    "q162_cusum" -> """
      WITH st AS (
        SELECT round(avg(value), 6) AS mu, round(stddev_pop(value), 6) AS sigma
        FROM events WHERE value IS NOT NULL),
      y AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               (CAST(value AS DOUBLE) - mu) / sigma - 0.5 AS yv
        FROM events, st WHERE value IS NOT NULL),
      c AS (
        SELECT user_id, event_id, t,
               sum(yv) OVER (PARTITION BY user_id ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cv
        FROM y),
      sf AS (
        SELECT user_id, t,
               cv - least(0.0, min(cv) OVER (PARTITION BY user_id
                 ORDER BY t, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS sv
        FROM c)
      SELECT user_id,
             CAST(sum(CASE WHEN sv > 4.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
             min(CASE WHEN sv > 4.0 THEN t END) AS first_alarm_micros,
             round(max(sv), 6) AS max_stat
      FROM sf GROUP BY user_id ORDER BY user_id""",

    "q163_bloom_prune" -> """
      SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
             count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
      GROUP BY 1 ORDER BY 1""",

    "q164_sorted_neighborhood" -> """
      WITH keyed AS (
        SELECT doc_id AS id,
               lower(substr(regexp_replace(substr(text, 1, 64),
                 '\s+', ' ', 'g'), 1, 32)) AS k
        FROM documents),
      ranked AS (
        SELECT id, k, row_number() OVER (ORDER BY k, id) AS r FROM keyed)
      SELECT a.id AS id_a, b.id AS id_b, b.r - a.r AS pos_gap,
             CAST(levenshtein(a.k, b.k) AS BIGINT) AS edit_dist
      FROM ranked a JOIN ranked b ON b.r > a.r AND b.r <= a.r + 8
      WHERE levenshtein(a.k, b.k) <= 4
      ORDER BY id_a, id_b""",

    "q165_twa" -> """
      WITH o AS (
        SELECT user_id, epoch_us(ts) AS t, event_id, CAST(value AS DOUBLE) AS v
        FROM events WHERE value IS NOT NULL),
      l AS (
        SELECT user_id, t, v,
               lead(t) OVER w AS nt, lead(v) OVER w AS nv
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
      a AS (
        SELECT user_id, count(*) AS n_samples,
               sum(CASE WHEN nt IS NOT NULL
                   THEN (nv + v) / 2.0 * CAST(nt - t AS DOUBLE) END) AS area,
               sum(CASE WHEN nt IS NOT NULL
                   THEN CAST(nt - t AS DOUBLE) END) AS dt,
               min(v) AS anyv
        FROM l GROUP BY user_id)
      SELECT user_id, n_samples,
             round(CASE WHEN dt IS NOT NULL AND dt > 0.0
                   THEN area / dt ELSE anyv END, 6) AS twa
      FROM a ORDER BY user_id""",

    "q166_attribution" -> """
      WITH ev AS (
        SELECT user_id, epoch_us(ts) AS t, event_id, event_type FROM events),
      tch AS (
        SELECT user_id, t, 0 AS side,
               arg_max(event_type, event_id) AS ttype, t AS touch_t,
               CAST(NULL AS BIGINT) AS conv_id
        FROM ev WHERE event_type IN ('click', 'view') GROUP BY user_id, t),
      conv AS (
        SELECT user_id, t, 1 AS side, CAST(NULL AS VARCHAR) AS ttype,
               CAST(NULL AS BIGINT) AS touch_t, event_id AS conv_id
        FROM ev WHERE event_type = 'purchase'),
      u AS (SELECT * FROM tch UNION ALL SELECT * FROM conv),
      loc AS (
        SELECT user_id, t, side, conv_id,
               last_value(ttype IGNORE NULLS) OVER w AS l_type,
               last_value(touch_t IGNORE NULLS) OVER w AS l_t
        FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t, side
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      SELECT CASE WHEN l_t IS NOT NULL AND t - l_t <= 604800000000
                  THEN l_type END AS touch_type,
             count(*) AS n_conversions,
             count(DISTINCT user_id) AS n_users
      FROM loc WHERE side = 1
      GROUP BY 1 ORDER BY 1 NULLS FIRST""",

    "q167_rolling_distinct" -> """
      WITH ud AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS d
        FROM events),
      cov AS (
        SELECT DISTINCT user_id, d + g.x AS day
        FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS x) g)
      SELECT day, count(*) AS n_active
      FROM cov GROUP BY day ORDER BY day""",

    "q168_vocab_coverage" -> """
      WITH toks AS (
        SELECT u.t FROM documents,
          unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '')) AS u(t)),
      c AS (SELECT t, count(*) AS c FROM toks GROUP BY 1),
      r AS (SELECT t, c,
                   row_number() OVER (ORDER BY c DESC, t) AS rank,
                   CAST(sum(c) OVER (ORDER BY c DESC, t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum
            FROM c),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM c),
      th AS (SELECT CAST(v.t AS DOUBLE) AS threshold
             FROM (VALUES (0.5), (0.75), (0.9), (0.95), (0.99)) v(t))
      SELECT th.threshold,
             CAST(min(r.rank) AS BIGINT) AS vocab_size,
             CAST(arg_min(r.cum, r.rank) AS BIGINT) AS tokens_covered,
             CAST(min(tot.n) AS BIGINT) AS total_tokens
      FROM th, r, tot
      WHERE CAST(r.cum AS DOUBLE) >= th.threshold * CAST(tot.n AS DOUBLE)
      GROUP BY th.threshold ORDER BY th.threshold""",

    "q169_item_cooccur" -> """
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      freq AS (SELECT i, count(*) AS n FROM bi GROUP BY 1),
      p AS (
        SELECT a.i AS item_a, b.i AS item_b, count(*) AS n_together
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2)
      SELECT item_a, item_b, CAST(n_together AS BIGINT) AS n_together,
             CAST(fa.n AS BIGINT) AS n_a, CAST(fb.n AS BIGINT) AS n_b,
             CAST(n_together AS DOUBLE) /
               sqrt(CAST(fa.n AS DOUBLE) * CAST(fb.n AS DOUBLE)) AS cosine
      FROM p JOIN freq fa ON p.item_a = fa.i JOIN freq fb ON p.item_b = fb.i
      ORDER BY item_a, item_b""",

    "q170_ndcg" -> """
      WITH q AS (
        SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv,
               label AS ql
        FROM embeddings WHERE vec_id % 20 = 0),
      c AS (
        SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv, label AS cl
        FROM embeddings WHERE vec_id % 20 <> 0),
      scored AS (
        SELECT q.query_id, q.ql, c.nid, c.cl,
               list_dot_product(q.qv, c.cv) /
               (sqrt(list_dot_product(q.qv, q.qv)) *
                sqrt(list_dot_product(c.cv, c.cv))) AS sim
        FROM q, c),
      ranked AS (
        SELECT query_id, ql, cl,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY sim DESC, nid) AS rank
        FROM scored),
      d AS (
        SELECT query_id, ql,
               sum(CASE WHEN cl = ql THEN 1.0 / log2(rank + 1)
                   ELSE 0.0 END) AS dcg,
               CAST(sum(CASE WHEN cl = ql THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_rel
        FROM ranked WHERE rank <= 10 GROUP BY 1, 2),
      labn AS (SELECT cl, count(*) AS nl FROM c GROUP BY 1),
      ii AS (
        SELECT d.query_id, d.n_rel, d.dcg,
               least(coalesce(labn.nl, 0), 10) AS ideal
        FROM d LEFT JOIN labn ON d.ql = labn.cl),
      iv AS (
        SELECT m, sum(1.0 / log2(x + 1)) AS v FROM (
          SELECT m, unnest(generate_series(1, m)) AS x
          FROM (SELECT DISTINCT ideal AS m FROM ii)) GROUP BY m)
      SELECT ii.query_id, ii.n_rel,
             round(CASE WHEN ii.ideal > 0 THEN ii.dcg / iv.v
                   ELSE 0.0 END, 6) AS ndcg
      FROM ii LEFT JOIN iv ON ii.ideal = iv.m
      ORDER BY ii.query_id""",

    "q171_residual_outliers" -> """
      WITH ev AS (
        SELECT event_id, event_type,
               CAST(epoch_us(ts) % 86400000000 AS DOUBLE) / 3600000000.0
                 AS hour_frac,
               CAST(value AS DOUBLE) AS value
        FROM events),
      mo AS (
        SELECT event_type AS g,
               var_pop(hour_frac) AS vx, var_pop(value) AS vy,
               covar_pop(value, hour_frac) AS cxy,
               avg(hour_frac) AS xbar, avg(value) AS my
        FROM ev
        WHERE hour_frac IS NOT NULL AND value IS NOT NULL
        GROUP BY 1),
      f0 AS (
        SELECT g,
               CASE WHEN vx > 0.0 THEN round(cxy / vx, 6) END AS b0,
               CASE WHEN vx > 0.0
                    THEN round(my - cxy / vx * xbar, 6) END AS a0,
               CASE WHEN vx > 0.0
                    THEN round(sqrt(greatest(vy - cxy * cxy / vx, 0.0)), 6)
               END AS sres0,
               round(sqrt(vy), 6) AS sy,
               round(my, 6) AS ybar
        FROM mo),
      f AS (
        SELECT g, coalesce(b0, 0.0) AS b, coalesce(a0, ybar) AS a,
               CASE WHEN sres0 IS NULL OR sres0 = 0.0 THEN sy
                    ELSE sres0 END AS sres
        FROM f0)
      SELECT event_id, event_type,
             round(value - (a + b * hour_frac), 6) AS resid
      FROM ev JOIN f ON event_type = f.g
      WHERE abs(value - (a + b * hour_frac)) > 3.0 * sres
      ORDER BY event_id""",

    "q172_session_paths" -> """
      WITH lagged AS (
        SELECT user_id, ts, event_id, event_type,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_ts
        FROM events),
      flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN prev_ts IS NULL
                      OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1
                    ELSE 0 END AS new_s
        FROM lagged),
      sessions AS (
        SELECT user_id, ts, event_id, event_type,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS seq
        FROM flagged),
      paths AS (
        SELECT array_to_string(
                 list_slice(list(event_type ORDER BY epoch_us(ts), event_id),
                            1, 5), '>') AS path
        FROM sessions GROUP BY user_id, seq)
      SELECT path, count(*) AS n_sessions
      FROM paths GROUP BY path
      ORDER BY n_sessions DESC, path ASC LIMIT 20""",

    "q173_ref_integrity" -> """
      WITH a AS (
        SELECT 'orders->active_customer' AS relation,
               count(*) AS n_child,
               CAST(sum(CASE WHEN c.c_custkey IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_orphan
        FROM orders o LEFT JOIN (
          SELECT DISTINCT c_custkey FROM customer WHERE c_acctbal > 0) c
          ON o.o_custkey = c.c_custkey),
      b AS (
        SELECT 'lineitem->finished_order' AS relation,
               count(*) AS n_child,
               CAST(sum(CASE WHEN o2.o_orderkey IS NOT NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_matched,
               CAST(sum(CASE WHEN o2.o_orderkey IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_orphan
        FROM lineitem l LEFT JOIN (
          SELECT DISTINCT o_orderkey FROM orders WHERE o_orderstatus = 'F') o2
          ON l.l_orderkey = o2.o_orderkey)
      SELECT relation, n_child, n_matched, n_orphan,
             CAST(n_orphan AS DOUBLE) / CAST(n_child AS DOUBLE) AS orphan_rate
      FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
      ORDER BY relation""",

    "q174_gini_skew" -> """
      WITH c AS (
        SELECT o_custkey AS k, count(*) AS c FROM orders
        WHERE o_custkey IS NOT NULL GROUP BY 1),
      r AS (SELECT c, k, row_number() OVER (ORDER BY c, k) AS r FROM c)
      SELECT count(*) AS n_keys, CAST(sum(c) AS BIGINT) AS total,
             2.0 * CAST(sum(r * c) AS DOUBLE) /
               (CAST(count(*) AS DOUBLE) * CAST(sum(c) AS DOUBLE)) -
               CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE) AS gini
      FROM r""",

    "q175_mutual_info" -> """
      WITH obs AS (
        SELECT lang AS a, source AS b, count(*) AS o FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
      ma AS (SELECT a, CAST(sum(o) AS BIGINT) AS na FROM obs GROUP BY 1),
      mb AS (SELECT b, CAST(sum(o) AS BIGINT) AS nb FROM obs GROUP BY 1),
      t AS (SELECT CAST(sum(o) AS DOUBLE) AS n FROM obs),
      terms AS (
        SELECT CAST(o AS DOUBLE) / n AS p, na, nb, n
        FROM obs JOIN ma USING (a) JOIN mb USING (b), t)
      SELECT CAST(n AS BIGINT) AS n,
             round(sum(p * ln(p * n * n /
               (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))), 6) AS mi,
             round(-sum(p * ln(CAST(na AS DOUBLE) / n)), 6) AS h_a,
             round(-sum(p * ln(CAST(nb AS DOUBLE) / n)), 6) AS h_b,
             round(sum(p * ln(p * n * n /
                 (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)))) /
               sqrt((-sum(p * ln(CAST(na AS DOUBLE) / n))) *
                    (-sum(p * ln(CAST(nb AS DOUBLE) / n)))), 6) AS nmi
      FROM terms GROUP BY n""",

    "q176_skyline" -> """
      WITH pts AS (
        SELECT o_orderkey, o_totalprice AS price,
               CAST(datediff('day', DATE '1990-01-01', o_orderdate)
                 AS BIGINT) AS day
        FROM orders
        WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
      m AS (SELECT price, max(day) AS mb FROM pts GROUP BY price),
      h AS (SELECT price, mb,
                   max(mb) OVER (ORDER BY price DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hb
            FROM m)
      SELECT p.o_orderkey, p.price, p.day
      FROM pts p JOIN h USING (price)
      WHERE p.day = h.mb AND (h.hb IS NULL OR h.hb < p.day)
      ORDER BY p.o_orderkey""",

    "q177_psi" -> """
      WITH av AS (
        SELECT CAST(value AS DOUBLE) AS v FROM events
        WHERE day(ts) <= 15 AND value IS NOT NULL),
      bv AS (
        SELECT CAST(value AS DOUBLE) AS v FROM events
        WHERE day(ts) > 15 AND value IS NOT NULL),
      ab AS (SELECT least(greatest(CAST(floor((v - 0.0) / 20.0) AS BIGINT),
               0), 24) AS bin, count(*) AS ca FROM av GROUP BY 1),
      bb AS (SELECT least(greatest(CAST(floor((v - 0.0) / 20.0) AS BIGINT),
               0), 24) AS bin, count(*) AS cb FROM bv GROUP BY 1),
      t AS (SELECT (SELECT CAST(sum(ca) AS DOUBLE) FROM ab) AS na,
                   (SELECT CAST(sum(cb) AS DOUBLE) FROM bb) AS nb),
      j AS (SELECT ca, cb FROM ab FULL OUTER JOIN bb ON ab.bin = bb.bin)
      SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
             CAST(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_used,
             CAST(sum(CASE WHEN ca IS NULL OR cb IS NULL
               THEN 1 ELSE 0 END) AS BIGINT) AS n_bins_onesided,
             round(sum(CASE WHEN ca IS NOT NULL AND cb IS NOT NULL THEN
               (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb) *
               ln((CAST(ca AS DOUBLE) / na) / (CAST(cb AS DOUBLE) / nb))
               END), 6) AS psi
      FROM j, t GROUP BY na, nb""",

    "q178_rbo" -> """
      WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
        FROM embeddings WHERE vec_id < 10),
      c AS (SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
            FROM embeddings),
      sc AS (
        SELECT qid, nid,
               list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) *
                sqrt(list_dot_product(cv, cv))) AS sim
        FROM q, c WHERE nid <> qid),
      ra AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, nid) AS r FROM sc),
      se AS (
        SELECT qid, nid,
               -(list_dot_product(qv, qv) + list_dot_product(cv, cv) -
                 2.0 * list_dot_product(qv, cv)) AS sim
        FROM q, c WHERE nid <> qid),
      re AS (SELECT qid, nid, row_number() OVER (PARTITION BY qid
               ORDER BY sim DESC, nid) AS r FROM se),
      pr AS (
        SELECT a.qid, greatest(a.r, b.r) AS d0
        FROM (SELECT * FROM ra WHERE r <= 10) a
        JOIN (SELECT * FROM re WHERE r <= 10) b
          ON a.qid = b.qid AND a.nid = b.nid),
      ov AS (SELECT qid, d, count(*) AS ov FROM (
               SELECT qid, unnest(generate_series(d0, 10)) AS d FROM pr)
             GROUP BY 1, 2),
      s AS (SELECT qid, sum(pow(0.9, d - 1) * CAST(ov AS DOUBLE) /
              CAST(d AS DOUBLE)) AS s FROM ov GROUP BY 1)
      SELECT ql.qid AS query_id,
             round(coalesce((1.0 - 0.9) * s.s, 0.0), 6) AS rbo
      FROM (SELECT DISTINCT qid FROM q) ql LEFT JOIN s USING (qid)
      ORDER BY query_id""",

    "q179_holt" -> """
      WITH ordered AS (
        SELECT user_id,
               list([CAST(value AS DOUBLE), 0.0]
                 ORDER BY epoch_us(ts), event_id) AS a
        FROM events WHERE value IS NOT NULL GROUP BY user_id),
      r AS (
        SELECT user_id, CAST(len(a) AS BIGINT) AS n_events,
               list_reduce(a, (acc, e) ->
                 [0.25 * e[1] + 0.75 * (acc[1] + acc[2]),
                  0.5 * (0.25 * e[1] + 0.75 * (acc[1] + acc[2]) - acc[1]) +
                  0.5 * acc[2]]) AS lb
        FROM ordered)
      SELECT user_id, n_events, lb[1] AS level, lb[2] AS trend,
             lb[1] + lb[2] AS forecast
      FROM r ORDER BY user_id""",

    "q180_gap_fill" -> """
      WITH base AS (
        SELECT user_id, event_id, epoch_us(ts) AS t,
               CASE WHEN event_id % 7 = 0 THEN NULL
                    ELSE CAST(value AS DOUBLE) END AS v
        FROM events),
      w AS (
        SELECT user_id, event_id, t, v,
               last_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                 OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                 OVER wp AS pt,
               first_value(CASE WHEN v IS NOT NULL THEN v END IGNORE NULLS)
                 OVER wf AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                 OVER wf AS nt
        FROM base
        WINDOW wp AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wf AS (PARTITION BY user_id ORDER BY t, event_id
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
      SELECT user_id, event_id,
             round(CASE WHEN v IS NOT NULL THEN v
                   WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                     pv + (nv - pv) * CAST(t - pt AS DOUBLE) /
                       CAST(nt - pt AS DOUBLE)
                   WHEN pv IS NOT NULL THEN pv
                   WHEN nv IS NOT NULL THEN nv END, 6) AS filled,
             CASE WHEN v IS NOT NULL THEN 'observed'
                  WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 'interp'
                  WHEN pv IS NOT NULL THEN 'locf'
                  WHEN nv IS NOT NULL THEN 'nocb'
                  ELSE 'none' END AS fill_kind
      FROM w WHERE event_id % 7 = 0 ORDER BY user_id, event_id""",

    "q181_k_anonymity" -> """
      WITH g AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS n
        FROM customer GROUP BY 1, 2)
      SELECT count(*) AS n_groups, CAST(sum(n) AS BIGINT) AS n_rows,
             CAST(min(n) AS BIGINT) AS min_group_size,
             CAST(sum(CASE WHEN n < 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating_groups,
             CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT)
               AS n_rows_at_risk,
             CAST(sum(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE) /
               CAST(sum(n) AS DOUBLE) AS risk_rate
      FROM g""",

    "q182_lexical_diversity" -> """
      WITH toks AS (
        SELECT lang, u.t FROM documents,
          unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '')) AS u(t)),
      c AS (SELECT lang, t, count(*) AS c FROM toks GROUP BY 1, 2)
      SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_types,
             CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS ttr,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hapax,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) /
               CAST(count(*) AS DOUBLE) AS hapax_rate
      FROM c GROUP BY lang ORDER BY lang""",

    "q183_rolling_median" -> """
      SELECT user_id, event_id,
             CAST(count(*) OVER w AS BIGINT) AS n_in_window,
             round(median(CAST(value AS DOUBLE)) OVER w, 6) AS rolling_median
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
      ORDER BY user_id, event_id""",

    "q184_funnel_timing" -> """
      WITH u AS (SELECT DISTINCT user_id FROM events),
      s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        WHERE e.event_type = 'click' GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      j AS (
        SELECT u.user_id, t1, t2, t3
        FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
        LEFT JOIN s3 USING (user_id)),
      agg AS (
        SELECT count(*) AS n_users,
               CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_s1,
               CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_s2,
               CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_s3,
               list(epoch_us(t2) - epoch_us(t1) ORDER BY 1)
                 FILTER (WHERE t2 IS NOT NULL AND t1 IS NOT NULL) AS d12,
               list(epoch_us(t3) - epoch_us(t2) ORDER BY 1)
                 FILTER (WHERE t3 IS NOT NULL AND t2 IS NOT NULL) AS d23
        FROM j)
      SELECT n_users, n_s1, n_s2, n_s3,
             CASE WHEN CAST((len(d12) - 1) AS DOUBLE) * 0.5 -
                       floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5) = 0.0
                  THEN CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE)
                  ELSE CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE) +
                       (CAST((len(d12) - 1) AS DOUBLE) * 0.5 - floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5)) *
                       (CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5) AS INT) + 2] AS DOUBLE) -
                        CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE))
             END AS p50_vc_us,
             CASE WHEN CAST((len(d12) - 1) AS DOUBLE) * 0.9 -
                       floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9) = 0.0
                  THEN CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE)
                  ELSE CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE) +
                       (CAST((len(d12) - 1) AS DOUBLE) * 0.9 - floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9)) *
                       (CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9) AS INT) + 2] AS DOUBLE) -
                        CAST(list_sort(d12)[CAST(floor(CAST((len(d12) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE))
             END AS p90_vc_us,
             CASE WHEN CAST((len(d23) - 1) AS DOUBLE) * 0.5 -
                       floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5) = 0.0
                  THEN CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE)
                  ELSE CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE) +
                       (CAST((len(d23) - 1) AS DOUBLE) * 0.5 - floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5)) *
                       (CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5) AS INT) + 2] AS DOUBLE) -
                        CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE))
             END AS p50_cp_us,
             CASE WHEN CAST((len(d23) - 1) AS DOUBLE) * 0.9 -
                       floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9) = 0.0
                  THEN CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE)
                  ELSE CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE) +
                       (CAST((len(d23) - 1) AS DOUBLE) * 0.9 - floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9)) *
                       (CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9) AS INT) + 2] AS DOUBLE) -
                        CAST(list_sort(d23)[CAST(floor(CAST((len(d23) - 1) AS DOUBLE) * 0.9) AS INT) + 1] AS DOUBLE))
             END AS p90_cp_us
      FROM agg""",

    "q185_markov_entropy" -> """
      WITH pr AS (
        SELECT event_type AS f,
               lead(event_type) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) AS t
        FROM events),
      c AS (SELECT f, t, count(*) AS n FROM pr WHERE t IS NOT NULL
            GROUP BY 1, 2),
      t1 AS (SELECT f, CAST(sum(n) AS BIGINT) AS n_out FROM c GROUP BY f),
      g AS (
        SELECT c.f, t1.n_out,
               -sum((CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE)) *
                 ln(CAST(n AS DOUBLE) / CAST(n_out AS DOUBLE))) AS entropy
        FROM c JOIN t1 USING (f) GROUP BY c.f, t1.n_out),
      tot AS (SELECT CAST(sum(n_out) AS DOUBLE) AS tt FROM g)
      SELECT f AS from_type, n_out,
             CAST(n_out AS DOUBLE) / tot.tt AS share,
             round(entropy, 6) AS entropy
      FROM g, tot ORDER BY from_type""",

    "q186_bfs_hops" -> """
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      p2 AS (
        SELECT a.i AS x, b.i AS y
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS (SELECT x AS u, y AS v FROM p2
            UNION SELECT y AS u, x AS v FROM p2),
      d0 AS (SELECT p_partkey AS node, CAST(0 AS BIGINT) AS dist
             FROM part WHERE p_partkey <= 10),
      d1 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d0 UNION ALL
               SELECT e.v AS node, d0.dist + 1 AS dist
               FROM e JOIN d0 ON e.u = d0.node) GROUP BY node),
      d2 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d1 UNION ALL
               SELECT e.v AS node, d1.dist + 1 AS dist
               FROM e JOIN d1 ON e.u = d1.node) GROUP BY node),
      d3 AS (SELECT node, min(dist) AS dist FROM (
               SELECT node, dist FROM d2 UNION ALL
               SELECT e.v AS node, d2.dist + 1 AS dist
               FROM e JOIN d2 ON e.u = d2.node) GROUP BY node)
      SELECT node, CAST(dist AS BIGINT) AS dist FROM d3 ORDER BY node""",

    "q187_item_recs" -> """
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      freq AS (SELECT i, count(*) AS n FROM bi GROUP BY 1),
      p AS (
        SELECT a.i AS ia, b.i AS ib, count(*) AS nt
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2),
      wts AS (
        SELECT ia, ib, CAST(nt AS DOUBLE) /
               sqrt(CAST(fa.n AS DOUBLE) * CAST(fb.n AS DOUBLE)) AS cosine
        FROM p JOIN freq fa ON p.ia = fa.i JOIN freq fb ON p.ib = fb.i),
      sym AS (SELECT ia AS i, ib AS j, cosine FROM wts
              UNION ALL SELECT ib AS i, ia AS j, cosine FROM wts),
      owned AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS i
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nb AS (
        SELECT i, j, cosine FROM (
          SELECT i, j, cosine,
                 row_number() OVER (PARTITION BY i
                   ORDER BY cosine DESC, j) AS nr
          FROM sym) WHERE nr <= 10),
      sc AS (
        SELECT u, j, round(sum(cosine), 6) AS score, count(*) AS n_sources
        FROM owned JOIN nb USING (i) GROUP BY u, j),
      cand AS (
        SELECT sc.* FROM sc LEFT JOIN owned o2
          ON sc.u = o2.u AND sc.j = o2.i
        WHERE o2.i IS NULL),
      rk AS (
        SELECT u, j, score, n_sources,
               row_number() OVER (PARTITION BY u
                 ORDER BY score DESC, j) AS rank
        FROM cand)
      SELECT u AS cust, j AS item, score,
             CAST(n_sources AS BIGINT) AS n_sources, CAST(rank AS INT) AS rank
      FROM rk WHERE rank <= 3 ORDER BY cust, rank""",

    "q188_peri_event" -> """
      WITH a AS (SELECT user_id, epoch_us(ts) AS ta FROM events
                 WHERE event_type = 'purchase'),
      r AS (SELECT user_id, epoch_us(ts) AS tr FROM events
            WHERE event_type = 'click'),
      p AS (SELECT tr - ta AS dt FROM a JOIN r USING (user_id)
            WHERE tr - ta BETWEEN -3600000000 AND 3600000000)
      SELECT CAST(floor(CAST(dt AS DOUBLE) / 300000000.0) AS BIGINT)
               AS bucket,
             count(*) AS n,
             CAST(floor(CAST(dt AS DOUBLE) / 300000000.0) AS BIGINT) *
               300000000 AS bucket_start_micros
      FROM p GROUP BY 1 ORDER BY bucket""",

    "q189_burstiness" -> """
      WITH g AS (
        SELECT user_id,
               CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
                 ORDER BY epoch_us(ts), event_id) - epoch_us(ts)
                 AS DOUBLE) AS gap
        FROM events),
      m AS (
        -- mu from the EXACT integer µs sum, not avg(): gaps are integer
        -- µs, so sum is exact in both engines and the single division
        -- reproduces Spark's sum/count bit-for-bit — DuckDB's avg()
        -- accumulates differently and at 1e10-µs magnitudes the 6dp
        -- round can straddle a boundary (caught by the sf0.1 gate)
        SELECT user_id, count(*) AS n_gaps,
               CAST(sum(CAST(gap AS BIGINT)) AS DOUBLE) / count(*) AS mu,
               stddev_pop(gap) AS sigma
        FROM g WHERE gap IS NOT NULL GROUP BY 1)
      SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps,
             -- Spark's round() on a double rounds the SHORTEST decimal
             -- repr (BigDecimal.valueOf), not the full binary expansion:
             -- an exact-ratio tie like 2469680517145/74/1e6 prints
             -- "...0425" and rounds UP even though the raw double sits
             -- just below the tie. VARCHAR→DECIMAL reproduces exactly
             -- that (DuckDB's double→VARCHAR is shortest-round-trip;
             -- decimal round is half-away like HALF_UP for positives).
             -- Found by the sf0.1 gate on user 1124.
             CAST(round(CAST(CAST(mu / 1000000.0 AS VARCHAR)
                             AS DECIMAL(30,15)), 6) AS DOUBLE) AS mean_gap_s,
             round((sigma - mu) / (sigma + mu), 6) AS burstiness
      FROM m WHERE n_gaps >= 2 ORDER BY user_id""",

    "q190_weighted_pagerank" -> """
      WITH bi AS (
        SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      p2 AS (
        SELECT a.i AS x, b.i AS y, count(*) AS nt
        FROM bi a JOIN bi b ON a.b = b.b AND a.i < b.i
        GROUP BY 1, 2 HAVING count(*) >= 2),
      e AS (SELECT x AS src, y AS dst, CAST(nt AS DOUBLE) AS w FROM p2
            UNION ALL SELECT y AS src, x AS dst, CAST(nt AS DOUBLE) AS w
            FROM p2),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      st AS (SELECT src, sum(w) AS os FROM e GROUP BY src),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
      r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n),
      r1 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank * e.w / st.os) AS im
                   FROM e JOIN st ON e.src = st.src
                   JOIN r0 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node),
      r2 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank * e.w / st.os) AS im
                   FROM e JOIN st ON e.src = st.src
                   JOIN r1 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node),
      r3 AS (
        SELECT nd.node,
               (1.0 - 0.85) / n.n + 0.85 * coalesce(m.im, 0.0) AS rank
        FROM nodes nd CROSS JOIN n
        LEFT JOIN (SELECT e.dst AS node, sum(r.rank * e.w / st.os) AS im
                   FROM e JOIN st ON e.src = st.src
                   JOIN r2 r ON e.src = r.node GROUP BY e.dst) m
          ON nd.node = m.node)
      SELECT node, round(rank, 10) AS rank FROM r3 ORDER BY node""",

    "q191_neyman_sample" -> """
      WITH st AS (
        SELECT lang, count(*) AS nh, round(stddev_pop(n_chars), 6) AS sh
        FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
      w AS (SELECT lang, nh, CAST(nh AS DOUBLE) * sh AS wv FROM st),
      tw AS (SELECT sum(wv) AS tv FROM w),
      alloc AS (
        SELECT lang,
               least(CAST(floor(100.0 * wv / tv) AS BIGINT),
                     CAST(nh AS BIGINT)) AS alloc
        FROM w, tw),
      rk AS (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        FROM documents)
      SELECT rk.lang, rk.doc_id, CAST(rank AS INT) AS rank, alloc
      FROM rk JOIN alloc USING (lang) WHERE rank <= alloc
      ORDER BY lang, rank""",

    "q192_image_features" -> """
      SELECT CAST(c_custkey AS BIGINT) AS media_id,
             CAST(8 + (c_custkey % 9) AS INT) AS width,
             CAST(8 + (c_custkey % 7) AS INT) AS height,
             CAST(0 AS BIGINT) AS tv_r,
             CAST((8 + (c_custkey % 7)) * 255 AS BIGINT) AS tv_g,
             CAST(0 AS BIGINT) AS tv_b,
             CAST(8 + (c_custkey % 9) AS INT) AS n_distinct_g
      FROM customer WHERE c_custkey % 7 = 0 ORDER BY media_id""",

    "q193_doc_keywords" -> """
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
        FROM documents WHERE doc_id < 200),
      tf AS (
        SELECT doc_id, term, count(*) AS tf FROM toks
        WHERE term <> '' GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents
            WHERE doc_id < 200),
      wt AS (
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               CAST(tf.tf AS DOUBLE) *
                 (ln((n.nd + 1.0) / (CAST(dfreq.df AS DOUBLE) + 1.0)) + 1.0)
                 AS tfidf
        FROM tf JOIN dfreq USING (term), n),
      rk AS (
        SELECT doc_id, term, tf, df, tfidf,
               row_number() OVER (PARTITION BY doc_id
                 ORDER BY tfidf DESC, term) AS rank
        FROM wt)
      SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df,
             round(tfidf, 6) AS tfidf
      FROM rk WHERE rank <= 3 ORDER BY doc_id, rank""",

    "q194_kaplan_meier" -> """
      WITH s AS (
        SELECT user_id, min(epoch_us(ts)) AS first_us,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                 AS purch_us,
               max(epoch_us(ts)) AS last_us
        FROM events GROUP BY 1),
      subj AS (
        SELECT (coalesce(purch_us, last_us) - first_us) // 86400000000 AS t,
               purch_us IS NOT NULL AS obs
        FROM s),
      pt AS (
        SELECT t, CAST(sum(CASE WHEN obs THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_events,
               count(*) AS c
        FROM subj GROUP BY 1),
      tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM pt),
      lad AS (
        SELECT t, n_events,
               CAST(n - coalesce(sum(c) OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS n_risk
        FROM pt, tot),
      ev2 AS (SELECT * FROM lad WHERE n_events > 0)
      SELECT t, n_risk, n_events,
             round(exp(sum(CASE WHEN n_events = n_risk
                 THEN CAST('-infinity' AS DOUBLE)
                 ELSE ln(1.0 - CAST(n_events AS DOUBLE) /
                         CAST(n_risk AS DOUBLE)) END)
               OVER (ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
               AS survival
      FROM ev2 ORDER BY t""",

    "q195_heaps_law" -> """
      WITH ords AS (
        SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS ord
        FROM (SELECT DISTINCT doc_id FROM documents)),
      toks AS (
        SELECT d.doc_id, u.t FROM documents d,
          unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '')) AS u(t)),
      fo AS (SELECT t, min(ord) AS fo FROM toks JOIN ords USING (doc_id)
             GROUP BY t),
      np AS (SELECT fo AS ord, count(*) AS nw FROM fo GROUP BY 1),
      curve AS (
        SELECT o.ord,
               CAST(sum(coalesce(np.nw, 0)) OVER (ORDER BY o.ord
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS v
        FROM ords o LEFT JOIN np ON o.ord = np.ord)
      SELECT count(*) AS n_docs, CAST(max(v) AS BIGINT) AS vocab,
             round(regr_slope(ln(CAST(v AS DOUBLE)),
               ln(CAST(ord AS DOUBLE))), 6) AS beta,
             round(regr_intercept(ln(CAST(v AS DOUBLE)),
               ln(CAST(ord AS DOUBLE))), 6) AS ln_k
      FROM curve""",

    "q196_autocorrelation" -> """
      WITH b AS (
        SELECT epoch_us(ts) // 3600000000 AS bk, count(*) AS c
        FROM events GROUP BY 1),
      sp AS (SELECT min(bk) AS lo, max(bk) AS hi FROM b),
      grid AS (SELECT unnest(generate_series(lo, hi)) AS bk FROM sp),
      s AS (SELECT grid.bk, CAST(coalesce(b.c, 0) AS DOUBLE) AS x
            FROM grid LEFT JOIN b USING (bk)),
      lags AS (SELECT unnest(generate_series(1, 24)) AS lag),
      pairs AS (
        SELECT l.lag, a.x AS xa, c2.x AS xb
        FROM lags l
        JOIN s a ON true
        JOIN s c2 ON c2.bk = a.bk + l.lag)
      SELECT CAST(lag AS INT) AS lag, CAST(count(*) AS BIGINT) AS n_pairs,
             round(corr(xa, xb), 6) AS acf
      FROM pairs GROUP BY lag ORDER BY lag""",

    "q197_theil_sen" -> """
      WITH b AS (
        SELECT epoch_us(ts) // 3600000000 AS bk, count(*) AS c
        FROM events GROUP BY 1),
      sp AS (SELECT min(bk) AS lo, max(bk) AS hi FROM b),
      grid AS (SELECT unnest(generate_series(lo, hi)) AS bk FROM sp),
      s AS (SELECT grid.bk, CAST(coalesce(b.c, 0) AS DOUBLE) AS x
            FROM grid LEFT JOIN b USING (bk)),
      sl AS (
        SELECT (b2.x - a.x) / CAST(b2.bk - a.bk AS DOUBLE) AS sv
        FROM s a JOIN s b2 ON b2.bk > a.bk),
      ag AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                    list(sv ORDER BY sv) AS arr FROM sl),
      med AS (
        SELECT n_pairs,
               CASE WHEN CAST((len(arr) - 1) AS DOUBLE) * 0.5 -
                         floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5) = 0.0
                    THEN CAST(arr[CAST(floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE)
                    ELSE CAST(arr[CAST(floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE) +
                         (CAST((len(arr) - 1) AS DOUBLE) * 0.5 - floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5)) *
                         (CAST(arr[CAST(floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5) AS INT) + 2] AS DOUBLE) -
                          CAST(arr[CAST(floor(CAST((len(arr) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE))
               END AS slope
        FROM ag),
      res AS (
        SELECT med.n_pairs, med.slope,
               s.x - med.slope * CAST(s.bk AS DOUBLE) AS r
        FROM s, med),
      ag2 AS (
        SELECT n_pairs, slope, CAST(count(*) AS BIGINT) AS n_points,
               list(r ORDER BY r) AS ra
        FROM res GROUP BY 1, 2)
      SELECT n_points, n_pairs, slope,
             CASE WHEN CAST((len(ra) - 1) AS DOUBLE) * 0.5 -
                       floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5) = 0.0
                  THEN CAST(ra[CAST(floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE)
                  ELSE CAST(ra[CAST(floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE) +
                       (CAST((len(ra) - 1) AS DOUBLE) * 0.5 - floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5)) *
                       (CAST(ra[CAST(floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5) AS INT) + 2] AS DOUBLE) -
                        CAST(ra[CAST(floor(CAST((len(ra) - 1) AS DOUBLE) * 0.5) AS INT) + 1] AS DOUBLE))
             END AS intercept
      FROM ag2""",

    "q198_odds_ratio" -> """
      WITH subj AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS clicked,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS purchased
        FROM events GROUP BY 1),
      t AS (
        SELECT CAST(sum(CASE WHEN clicked = 1 AND purchased = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS a,
               CAST(sum(CASE WHEN clicked = 1 AND purchased = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS b,
               CAST(sum(CASE WHEN clicked = 0 AND purchased = 1
                 THEN 1 ELSE 0 END) AS BIGINT) AS c,
               CAST(sum(CASE WHEN clicked = 0 AND purchased = 0
                 THEN 1 ELSE 0 END) AS BIGINT) AS d
        FROM subj)
      SELECT a, b, c, d,
             round((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5) /
               ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5)), 6)
               AS odds_ratio,
             round(exp(ln((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5) /
                 ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5))) -
               1.959964 * sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) +
                 1.0 / (CAST(b AS DOUBLE) + 0.5) +
                 1.0 / (CAST(c AS DOUBLE) + 0.5) +
                 1.0 / (CAST(d AS DOUBLE) + 0.5))), 6) AS ci_lo,
             round(exp(ln((CAST(a AS DOUBLE) + 0.5) * (CAST(d AS DOUBLE) + 0.5) /
                 ((CAST(b AS DOUBLE) + 0.5) * (CAST(c AS DOUBLE) + 0.5))) +
               1.959964 * sqrt(1.0 / (CAST(a AS DOUBLE) + 0.5) +
                 1.0 / (CAST(b AS DOUBLE) + 0.5) +
                 1.0 / (CAST(c AS DOUBLE) + 0.5) +
                 1.0 / (CAST(d AS DOUBLE) + 0.5))), 6) AS ci_hi
      FROM t""",

    "q199_wow_overlap" -> """
      WITH kw AS (
        SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS w
        FROM events),
      sizes AS (SELECT w, count(*) AS n FROM kw GROUP BY 1),
      inter AS (
        SELECT a.w, count(*) AS i
        FROM kw a JOIN kw b ON a.user_id = b.user_id AND b.w = a.w + 1
        GROUP BY a.w)
      SELECT s1.w AS week, s1.n AS n_prev, s2.n AS n_next,
             CAST(coalesce(i.i, 0) AS BIGINT) AS n_both,
             CAST(coalesce(i.i, 0) AS DOUBLE) /
               CAST(s1.n + s2.n - coalesce(i.i, 0) AS DOUBLE) AS jaccard
      FROM sizes s1 JOIN sizes s2 ON s2.w = s1.w + 1
      LEFT JOIN inter i ON i.w = s1.w
      ORDER BY week""",

    // the same overlap join from the UNPARTITIONED events table — green
    // certifies the Spark side's directory-level prune lost nothing
    "q200_pruned_range_join" -> """
      WITH ev AS (
        SELECT epoch_us(ts) AS s,
               epoch_us(ts) + (user_id % 7 + 1) * 60000000 AS e,
               value
        FROM events),
      w AS (
        SELECT CAST(n_nationkey AS BIGINT) AS win_id,
               1704844800000000 + CAST(n_nationkey AS BIGINT) * 7200000000 AS ws,
               1704844800000000 + CAST(n_nationkey AS BIGINT) * 7200000000
                 + 5400000000 AS we
        FROM nation)
      SELECT win_id, count(*) AS pairs,
             CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
             CAST(sum(least(e, we) - greatest(s, ws)) AS BIGINT) AS overlap_us
      FROM ev JOIN w ON s <= we AND ws <= e
      GROUP BY win_id ORDER BY win_id""",

    // replays the explicit-bound hub-star rule exactly: groups over the
    // bound emit member→min(id) pairs and enter the ed-1 expansion via
    // the keeper row only; cold groups keep all-pairs + full expansion
    "q201_fuzzy_join_guarded" -> """
      WITH base AS (
        SELECT p_partkey AS id,
               CASE WHEN p_partkey % 10 = 0 THEN 'template spam part name'
                    ELSE p_name END AS s
        FROM part),
      occ AS (SELECT s, count(*) AS c, min(id) AS keeper
              FROM base GROUP BY s),
      ann AS (SELECT b.id, b.s, o.c, o.keeper
              FROM base b JOIN occ o ON b.s = o.s),
      ed0 AS (
        SELECT a.id AS id_a, b.id AS id_b, CAST(0 AS BIGINT) AS dist
        FROM ann a JOIN ann b ON a.s = b.s AND a.id < b.id
        WHERE a.c <= 8
        UNION ALL
        SELECT keeper AS id_a, id AS id_b, CAST(0 AS BIGINT) AS dist
        FROM ann WHERE c > 8 AND id <> keeper),
      rep AS (SELECT id, s FROM ann WHERE c <= 8 OR id = keeper),
      ed1 AS (
        SELECT CASE WHEN a.id < b.id THEN a.id ELSE b.id END AS id_a,
               CASE WHEN a.id < b.id THEN b.id ELSE a.id END AS id_b,
               CAST(1 AS BIGINT) AS dist
        FROM rep a JOIN rep b ON a.s < b.s AND levenshtein(a.s, b.s) = 1)
      SELECT id_a, id_b, dist FROM ed0
      UNION ALL SELECT id_a, id_b, dist FROM ed1
      ORDER BY id_a, id_b""",

    // the streamed 3-batch replay must equal GLOBAL first-occurrence
    // line dedup — q101's oracle verbatim
    "q202_stream_line_dedup" -> s"""
      WITH lined AS (
        SELECT doc_id,
               regexp_replace(text, '$LineFoldRe', '\\1' || chr(10), 'g') AS t
        FROM documents),
      ls AS (
        SELECT doc_id, i.i AS pos, string_split(t, chr(10))[i.i + 1] AS line
        FROM lined JOIN generate_series(0, 255) i(i)
          ON i.i < len(string_split(t, chr(10)))),
      k AS (
        SELECT doc_id, pos, line, length(line) >= 12 AS elig,
               row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS rn
        FROM ls)
      SELECT doc_id,
             coalesce(string_agg(line, chr(10) ORDER BY pos)
                      FILTER (WHERE NOT elig OR rn = 1), '') AS text_dedup,
             count(*) FILTER (WHERE NOT elig OR rn = 1) AS n_kept,
             count(*) FILTER (WHERE elig AND rn > 1) AS n_removed
      FROM k GROUP BY doc_id ORDER BY doc_id""",

    // identical containment join from the UNPARTITIONED table — green
    // certifies the grid-directory prune lost nothing
    "q203_pruned_grid_join" -> """
      WITH w AS (
        SELECT CAST(r_regionkey AS BIGINT) AS win_id,
               1000.0 + CAST(r_regionkey AS BIGINT) * 600.0 AS x0,
               1800.0 + CAST(r_regionkey AS BIGINT) * 600.0 AS x1,
               CAST(r_regionkey AS BIGINT) * 2.0 AS y0,
               CAST(r_regionkey AS BIGINT) * 2.0 + 6.0 AS y1
        FROM region)
      SELECT w.win_id, count(*) AS n_pts,
             CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_x,
             min(c.c_custkey) AS min_cust
      FROM customer c JOIN w
        ON CAST(c.c_acctbal AS DOUBLE) BETWEEN w.x0 AND w.x1
       AND CAST(c.c_nationkey AS DOUBLE) BETWEEN w.y0 AND w.y1
      GROUP BY w.win_id ORDER BY w.win_id""",

    // targets inlined from the same BigInt resolution; full copies via
    // generate_series, fractional epoch via the md5 bucket — all
    // integer arithmetic bit-for-bit
    "q219_mix_epochs" -> s"""
      WITH tk AS (
        SELECT doc_id, source,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END
                 AS BIGINT) AS tk
        FROM documents),
      tgt(source, target_tokens) AS (VALUES
        ${mixEpochTargets.map { case (dm, t) =>
          s"('$dm', CAST($t AS BIGINT))" }.mkString(",\n        ")}),
      rates AS (
        SELECT a.source, a.avail_tokens, t.target_tokens,
               LEAST(CAST(30000 AS BIGINT),
                     (t.target_tokens * 10000) // a.avail_tokens)
                 AS rate_bp_total
        FROM (SELECT source, CAST(sum(tk) AS BIGINT) AS avail_tokens
              FROM tk JOIN tgt USING (source) GROUP BY source) a
        JOIN tgt t USING (source)),
      rates2 AS (
        SELECT *, rate_bp_total // 10000 AS full_epochs,
               rate_bp_total % 10000 AS frac_bp,
               GREATEST(target_tokens - (avail_tokens *
                 (rate_bp_total // 10000) +
                 (avail_tokens * (rate_bp_total % 10000)) // 10000),
                 CAST(0 AS BIGINT)) AS deficit
        FROM rates),
      emitted AS (
        SELECT k.source, k.tk, r.avail_tokens, r.target_tokens,
               r.rate_bp_total, r.full_epochs, r.frac_bp, r.deficit,
               e.e AS epoch
        FROM tk k JOIN rates2 r USING (source)
        JOIN generate_series(0, 2999) e(e) ON e.e < r.full_epochs
        UNION ALL
        SELECT k.source, k.tk, r.avail_tokens, r.target_tokens,
               r.rate_bp_total, r.full_epochs, r.frac_bp, r.deficit,
               r.full_epochs AS epoch
        FROM tk k JOIN rates2 r USING (source)
        WHERE CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))
                AS UBIGINT) % 10000 < r.frac_bp)
      SELECT source,
             min(avail_tokens) AS avail_tokens,
             min(target_tokens) AS target_tokens,
             min(rate_bp_total) AS rate_bp_total,
             min(full_epochs) AS full_epochs,
             min(frac_bp) AS frac_bp,
             min(deficit) AS deficit,
             count(*) AS emitted_rows,
             max(epoch) AS max_epoch,
             CAST(sum(tk) AS BIGINT) AS emitted_tokens
      FROM emitted GROUP BY source ORDER BY source""",

    // the q110/q207 3-gram construction both sides; novel grams from a
    // NOT EXISTS anti-join — counts exact, novelty unrounded
    "q218_ngram_novelty" -> """
      WITH ref AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM documents WHERE doc_id % 2 = 0),
      refg AS (
        SELECT DISTINCT wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
               wt[i.i + 3] AS g
        FROM ref JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 3),
      ev AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + 300000 AS doc_id, text FROM documents
        WHERE doc_id % 20 = 0),
      evw AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM ev),
      evg AS (
        SELECT DISTINCT doc_id, wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' ||
               wt[i.i + 3] AS g
        FROM evw JOIN generate_series(0, 509) i(i)
          ON i.i <= len(wt) - 3),
      agg AS (
        SELECT doc_id, count(*) AS n_grams,
               CAST(sum(CASE WHEN NOT EXISTS
                 (SELECT 1 FROM refg WHERE refg.g = evg.g)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM evg GROUP BY doc_id)
      SELECT e.doc_id,
             CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
             CAST(coalesce(a.n_novel, 0) AS BIGINT) AS n_novel,
             CASE WHEN coalesce(a.n_grams, 0) > 0
                  THEN CAST(a.n_novel AS DOUBLE) / CAST(a.n_grams AS DOUBLE)
             END AS novelty
      FROM ev e LEFT JOIN agg a USING (doc_id)
      ORDER BY e.doc_id""",

    // q159's chi2 construction + V = sqrt(chi2 / (n * min(r-1, c-1)))
    "q217_cramers_v" -> """
      WITH obs AS (
        SELECT lang AS r, source AS c, count(*) AS o FROM documents
        WHERE lang IS NOT NULL AND source IS NOT NULL GROUP BY 1, 2),
      rt AS (SELECT r, sum(o) AS rt FROM obs GROUP BY r),
      ct AS (SELECT c, sum(o) AS ct FROM obs GROUP BY c),
      tot AS (SELECT CAST(sum(o) AS DOUBLE) AS n,
                     count(DISTINCT r) AS nr, count(DISTINCT c) AS nc
              FROM obs),
      s AS (
        SELECT sum((CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) *
                 CAST(ct.ct AS DOUBLE) / tot.n) *
               (CAST(o AS DOUBLE) - CAST(rt.rt AS DOUBLE) *
                 CAST(ct.ct AS DOUBLE) / tot.n) /
               (CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / tot.n) -
               CAST(rt.rt AS DOUBLE) * CAST(ct.ct AS DOUBLE) / tot.n)
                 AS term,
               min(tot.n) AS n, min(tot.nr) AS nr, min(tot.nc) AS nc
        FROM obs JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot)
      SELECT round(term + n, 6) AS chi2,
             CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
             CAST(n AS BIGINT) AS n,
             CASE WHEN n > 0 AND least(nr - 1, nc - 1) > 0
                  THEN round(sqrt((term + n) /
                    (n * CAST(least(nr - 1, nc - 1) AS DOUBLE))), 6)
             END AS cramers_v
      FROM s""",

    // the q211 rank construction over label slices + the exact
    // AUC = U+/(n+ * n-) identity — unrounded
    "q216_roc_auc" -> """
      WITH scored AS (
        SELECT CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                 1, 8)) AS UBIGINT) % 10000 AS DOUBLE) / 10000.0 AS score,
               CAST(('0x' || substr(md5('L' || CAST(c_custkey AS VARCHAR)),
                 1, 8)) AS UBIGINT) % 10000 <
                 3000 + (CAST(('0x' || substr(md5(CAST(c_custkey
                   AS VARCHAR)), 1, 8)) AS UBIGINT) % 10000) // 2 AS label
        FROM customer),
      va AS (SELECT score AS v, count(*) AS c FROM scored
             WHERE label GROUP BY 1),
      vb AS (SELECT score AS v, count(*) AS c FROM scored
             WHERE NOT label GROUP BY 1),
      m AS (
        SELECT coalesce(va.v, vb.v) AS v,
               coalesce(va.c, 0) AS ca, coalesce(vb.c, 0) AS cb
        FROM va FULL OUTER JOIN vb ON va.v = vb.v),
      cum AS (
        SELECT ca, cb, ca + cb AS t,
               sum(ca + cb) OVER (ORDER BY v) - (ca + cb) AS cbefore
        FROM m),
      agg AS (
        SELECT sum(CAST(ca AS DECIMAL(19,0)) *
                   CAST(cbefore * 2 + t + 1 AS DECIMAL(19,0))) AS r2s
        FROM cum),
      tot AS (SELECT CAST((SELECT sum(ca) FROM m) AS BIGINT) AS na,
                     CAST((SELECT sum(cb) FROM m) AS BIGINT) AS nb)
      SELECT t.na AS n_pos, t.nb AS n_neg,
             (CAST(a.r2s - CAST(t.na AS DECIMAL(19,0)) *
                CAST(t.na + 1 AS DECIMAL(19,0)) AS DOUBLE) / 2.0) /
               CAST(t.na * t.nb AS DOUBLE) AS auc
      FROM agg a CROSS JOIN tot t""",

    // midrank2 per column via window cumsum over (value, count), exact
    // DECIMAL moments, the identical final chain — rho unrounded
    "q215_spearman" -> """
      WITH rows_ AS (
        SELECT CAST(c_acctbal AS DOUBLE) AS x,
               CAST(c_nationkey AS DOUBLE) AS y
        FROM customer
        WHERE c_acctbal IS NOT NULL AND c_nationkey IS NOT NULL),
      mx AS (
        SELECT v, (c2 - t) * 2 + t + 1 AS mr2 FROM (
          SELECT x AS v, count(*) AS t,
                 sum(count(*)) OVER (ORDER BY x) AS c2
          FROM rows_ GROUP BY x)),
      my AS (
        SELECT v, (c2 - t) * 2 + t + 1 AS mr2 FROM (
          SELECT y AS v, count(*) AS t,
                 sum(count(*)) OVER (ORDER BY y) AS c2
          FROM rows_ GROUP BY y)),
      ranked AS (
        SELECT CAST(mx.mr2 AS DECIMAL(19,0)) AS rx,
               CAST(my.mr2 AS DECIMAL(19,0)) AS ry
        FROM rows_ r JOIN mx ON mx.v = r.x JOIN my ON my.v = r.y),
      m AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(rx) AS sx, sum(ry) AS sy,
               sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
               sum(rx * ry) AS sxy
        FROM ranked)
      SELECT n,
             CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
                   AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
                  THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                       (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                             CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                        sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                             CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
             END AS rho
      FROM m""",

    // the q50 token-count idiom + per-cap conditional sums — exact
    // integers, unrounded fraction
    "q214_truncation_budget" -> """
      WITH tk AS (
        SELECT CAST(CASE WHEN trim(text) = '' THEN 0
               ELSE len(string_split_regex(trim(text), '\s+')) END
               AS BIGINT) AS tk
        FROM documents),
      caps(max_len) AS (VALUES (32), (64), (128), (256))
      SELECT c.max_len,
             CAST(sum(CASE WHEN tk.tk > c.max_len THEN 1 ELSE 0 END)
               AS BIGINT) AS docs_truncated,
             CAST(sum(least(tk.tk, c.max_len)) AS BIGINT) AS tokens_kept,
             CAST(sum(tk.tk) AS BIGINT) AS tokens_total,
             CAST(sum(least(tk.tk, c.max_len)) AS DOUBLE) /
               CAST(sum(tk.tk) AS DOUBLE) AS keep_frac
      FROM tk CROSS JOIN caps c
      GROUP BY c.max_len ORDER BY c.max_len""",

    // identical md5-bucket p synthesis (q49 idiom), rank + inclusive
    // suffix-min window — q-values unrounded
    "q213_bh_fdr" -> """
      WITH hyp AS (
        SELECT c_custkey AS test_id,
               CAST(CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR)),
                 1, 8)) AS UBIGINT) % 10000 AS DOUBLE) / 10000.0 AS p
        FROM customer WHERE c_custkey <= 300),
      t AS (
        SELECT test_id, p,
               CAST(row_number() OVER (ORDER BY p, test_id) AS BIGINT)
                 AS rank,
               count(*) OVER () AS m
        FROM hyp),
      q AS (
        SELECT test_id, p, rank,
               least(min(p * m / rank) OVER (ORDER BY rank DESC), 1.0)
                 AS q_value
        FROM t)
      SELECT test_id, p, rank, q_value, q_value <= 0.05 AS rejected
      FROM q ORDER BY rank""",

    // both HITS rounds unrolled textually; every score is an integer
    // sum until the final exact max-division (unrounded equality)
    "q212_hits" -> """
      WITH pairs AS (
        SELECT DISTINCT 'c' || o_custkey AS src, 's' || l_suppkey AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
      nodes AS (
        SELECT src AS node FROM pairs UNION SELECT dst AS node FROM pairs),
      a1 AS (
        SELECT n.node, CAST(coalesce(i.cnt, 0) AS DOUBLE) AS s
        FROM nodes n LEFT JOIN
          (SELECT dst, count(*) AS cnt FROM pairs GROUP BY dst) i
          ON i.dst = n.node),
      h1 AS (
        SELECT n.node, coalesce(x.s, 0.0) AS s
        FROM nodes n LEFT JOIN
          (SELECT p.src AS node, sum(a1.s) AS s
           FROM pairs p JOIN a1 ON a1.node = p.dst GROUP BY p.src) x
          ON x.node = n.node),
      a2 AS (
        SELECT n.node, coalesce(x.s, 0.0) AS s
        FROM nodes n LEFT JOIN
          (SELECT p.dst AS node, sum(h1.s) AS s
           FROM pairs p JOIN h1 ON h1.node = p.src GROUP BY p.dst) x
          ON x.node = n.node),
      h2 AS (
        SELECT n.node, coalesce(x.s, 0.0) AS s
        FROM nodes n LEFT JOIN
          (SELECT p.src AS node, sum(a2.s) AS s
           FROM pairs p JOIN a2 ON a2.node = p.dst GROUP BY p.src) x
          ON x.node = n.node),
      mx AS (SELECT (SELECT max(s) FROM h2) AS mh,
                    (SELECT max(s) FROM a2) AS ma)
      SELECT h2.node,
             CASE WHEN mx.mh > 0 THEN h2.s / mx.mh ELSE 0.0 END AS hub,
             CASE WHEN mx.ma > 0 THEN a2.s / mx.ma ELSE 0.0 END AS auth
      FROM h2 JOIN a2 ON a2.node = h2.node CROSS JOIN mx
      ORDER BY h2.node""",

    // midranks double-counted to integers over the same merged
    // distinct-value order as q210; U exact, z's sigma chain mirrored
    // term for term
    "q211_mann_whitney" -> """
      WITH va AS (
        SELECT CAST(value AS DOUBLE) AS v, count(*) AS c FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
      vb AS (
        SELECT CAST(value AS DOUBLE) AS v, count(*) AS c FROM events
        WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1),
      m AS (
        SELECT coalesce(va.v, vb.v) AS v,
               coalesce(va.c, 0) AS ca, coalesce(vb.c, 0) AS cb
        FROM va FULL OUTER JOIN vb ON va.v = vb.v),
      cum AS (
        SELECT ca, cb, ca + cb AS t,
               sum(ca + cb) OVER (ORDER BY v) - (ca + cb) AS cbefore
        FROM m),
      agg AS (
        SELECT sum(CAST(ca AS DECIMAL(19,0)) *
                   CAST(cbefore * 2 + t + 1 AS DECIMAL(19,0))) AS r2s,
               sum(CAST(t AS DECIMAL(19,0)) * CAST(t AS DECIMAL(19,0)) *
                   CAST(t AS DECIMAL(19,0)) - CAST(t AS DECIMAL(19,0)))
                 AS ties
        FROM cum),
      tot AS (SELECT CAST((SELECT sum(ca) FROM m) AS BIGINT) AS na,
                     CAST((SELECT sum(cb) FROM m) AS BIGINT) AS nb),
      u AS (
        SELECT t.na, t.nb,
               CAST(a.r2s - CAST(t.na AS DECIMAL(19,0)) *
                 CAST(t.na + 1 AS DECIMAL(19,0)) AS DOUBLE) / 2.0 AS u_a,
               CAST(a.ties AS DOUBLE) AS ties
        FROM agg a CROSS JOIN tot t)
      SELECT na AS n_a, nb AS n_b, u_a,
             CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) - u_a AS u_b,
             round(CASE WHEN sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                     / 12.0 * ((CAST(na + nb AS DOUBLE) + 1.0) - ties /
                     (CAST(na + nb AS DOUBLE) *
                      (CAST(na + nb AS DOUBLE) - 1.0)))) > 0
               THEN (u_a - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 2.0) /
                 sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0 *
                   ((CAST(na + nb AS DOUBLE) + 1.0) - ties /
                    (CAST(na + nb AS DOUBLE) *
                     (CAST(na + nb AS DOUBLE) - 1.0))))
               END, 6) AS z
      FROM u""",

    // the same cumulative-F construction over the merged distinct-value
    // order; window default frame is fine (values are distinct in m)
    "q210_ks_test" -> """
      WITH va AS (
        SELECT CAST(value AS DOUBLE) AS v, count(*) AS c FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL GROUP BY 1),
      vb AS (
        SELECT CAST(value AS DOUBLE) AS v, count(*) AS c FROM events
        WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1),
      m AS (
        SELECT coalesce(va.v, vb.v) AS v,
               coalesce(va.c, 0) AS ca, coalesce(vb.c, 0) AS cb
        FROM va FULL OUTER JOIN vb ON va.v = vb.v),
      cum AS (
        SELECT sum(ca) OVER (ORDER BY v) AS cca,
               sum(cb) OVER (ORDER BY v) AS ccb
        FROM m),
      tot AS (SELECT CAST((SELECT sum(ca) FROM m) AS BIGINT) AS na,
                     CAST((SELECT sum(cb) FROM m) AS BIGINT) AS nb)
      SELECT t.na AS n_a, t.nb AS n_b,
             CAST(count(*) AS BIGINT) AS n_values,
             max(abs(CAST(cca AS DOUBLE) / t.na -
                     CAST(ccb AS DOUBLE) / t.nb)) AS d_stat,
             max(abs(CAST(cca AS DOUBLE) / t.na -
                     CAST(ccb AS DOUBLE) / t.nb)) *
               sqrt(CAST(t.na AS DOUBLE) * t.nb / (t.na + t.nb))
               AS ks_lambda
      FROM cum CROSS JOIN tot t GROUP BY t.na, t.nb""",

    // q107's unrolled trajectory, then slice counts + the PSI formula
    // over the final cell assignment
    "q209_embedding_drift" -> """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      c0 AS (
        SELECT id AS cid, v AS cvec FROM e
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      a1 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c0 c) WHERE rn = 1),
      n1 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a1 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c1 AS (
        SELECT c0.cid, coalesce(n1.cvec, c0.cvec) AS cvec
        FROM c0 LEFT JOIN n1 USING (cid)),
      a2 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c1 c) WHERE rn = 1),
      n2 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a2 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c2 AS (
        SELECT c1.cid, coalesce(n2.cvec, c1.cvec) AS cvec
        FROM c1 LEFT JOIN n2 USING (cid)),
      af AS (
        SELECT id, cid FROM (
          SELECT e.id, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c2 c) WHERE rn = 1),
      ca AS (SELECT cid, count(*) AS c FROM af WHERE id % 2 = 0 GROUP BY cid),
      cb AS (SELECT cid, count(*) AS c FROM af WHERE id % 2 = 1 GROUP BY cid),
      tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ca) AS na,
                     (SELECT CAST(sum(c) AS BIGINT) FROM cb) AS nb),
      terms AS (
        SELECT ca.c AS c_a, cb.c AS c_b
        FROM ca FULL OUTER JOIN cb USING (cid))
      SELECT t.na AS n_a, t.nb AS n_b,
             CAST(count(*) FILTER (WHERE c_a IS NOT NULL AND c_b IS NOT NULL)
               AS BIGINT) AS n_keys_used,
             CAST(count(*) FILTER (WHERE c_a IS NULL OR c_b IS NULL)
               AS BIGINT) AS n_keys_onesided,
             round(sum(CASE WHEN c_a IS NOT NULL AND c_b IS NOT NULL THEN
               (CAST(c_a AS DOUBLE) / t.na - CAST(c_b AS DOUBLE) / t.nb) *
               ln((CAST(c_a AS DOUBLE) / t.na) /
                  (CAST(c_b AS DOUBLE) / t.nb)) END), 6) AS psi
      FROM terms CROSS JOIN tot t GROUP BY t.na, t.nb""",

    // truncation as list slices + the identical cosine chain and
    // (sim desc, id asc) ranking — recall fractions are exact-int ratios
    "q208_truncation_recall" -> """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      q AS (SELECT id AS query_id, v AS qv FROM e WHERE id % 50 = 0),
      full_r AS (
        SELECT query_id, neighbor_id FROM (
          SELECT q.query_id, e.id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.query_id ORDER BY
                   list_dot_product(q.qv, e.v) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(e.v, e.v))) DESC, e.id) AS rn
          FROM q CROSS JOIN e WHERE e.id <> q.query_id)
        WHERE rn <= 10),
      fc AS (SELECT query_id, count(*) AS nf FROM full_r GROUP BY query_id),
      dims(dim) AS (VALUES (8), (16), (32)),
      tr AS (
        SELECT dim, query_id, neighbor_id FROM (
          SELECT dm.dim, q.query_id, e.id AS neighbor_id,
                 row_number() OVER (PARTITION BY dm.dim, q.query_id
                   ORDER BY
                   list_dot_product(q.qv[1:dm.dim], e.v[1:dm.dim]) /
                   (sqrt(list_dot_product(q.qv[1:dm.dim], q.qv[1:dm.dim])) *
                    sqrt(list_dot_product(e.v[1:dm.dim], e.v[1:dm.dim])))
                   DESC, e.id) AS rn
          FROM dims dm CROSS JOIN q CROSS JOIN e
          WHERE e.id <> q.query_id)
        WHERE rn <= 10),
      j AS (
        SELECT t.dim, t.query_id,
               CASE WHEN f.query_id IS NOT NULL THEN 1 ELSE 0 END AS hit
        FROM tr t LEFT JOIN full_r f
          ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id)
      SELECT j.dim, j.query_id, CAST(sum(j.hit) AS BIGINT) AS hits,
             CAST(min(fc.nf) AS BIGINT) AS k_full,
             CAST(sum(j.hit) AS DOUBLE) / CAST(min(fc.nf) AS DOUBLE)
               AS recall
      FROM j JOIN fc ON fc.query_id = j.query_id
      GROUP BY j.dim, j.query_id
      ORDER BY j.dim, j.query_id""",

    // candidates from ANY shared distinct token (a superset of the
    // engine's prefix candidates) + the identical exact verify — a hash
    // match certifies prefix filtering lost no qualifying pair
    "q207_containment_join" -> """
      WITH base AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
        UNION ALL
        SELECT doc_id + 200000 AS doc_id,
               array_to_string(list_filter(
                 string_split_regex(trim(text), '\s+'),
                 x -> x <> '')[1:8], ' ') AS text
        FROM documents WHERE doc_id % 20 = 0),
      w AS (
        SELECT doc_id, string_split_regex(trim(text), '\s+') AS wt
        FROM base),
      g3 AS (
        SELECT doc_id,
               wt[i.i + 1] || ' ' || wt[i.i + 2] || ' ' || wt[i.i + 3] AS g
        FROM w JOIN generate_series(0, 509) i(i) ON i.i <= len(wt) - 3),
      tk AS (SELECT DISTINCT doc_id AS id, g AS t FROM g3),
      sets AS (
        SELECT id, list(t ORDER BY t) AS toks, count(*) AS n
        FROM tk GROUP BY id),
      cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM tk a JOIN tk b ON a.t = b.t AND a.id <> b.id)
      SELECT c.id_a, c.id_b,
             CAST(len(list_intersect(sa.toks, sb.toks)) AS BIGINT)
               AS intersection,
             CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b,
             CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
               CAST(sa.n AS DOUBLE) AS containment
      FROM cand c JOIN sets sa ON sa.id = c.id_a
                  JOIN sets sb ON sb.id = c.id_b
      WHERE CAST(len(list_intersect(sa.toks, sb.toks)) AS DOUBLE) /
              CAST(sa.n AS DOUBLE) >= 0.9
      ORDER BY id_a, id_b""",

    // integer token targets inlined from the SAME driver-side BigInt
    // resolution the builder uses; rate arithmetic and md5 bucket
    // predicate replay bit-for-bit (q49 idiom)
    "q204_mix_to_budget" -> s"""
      WITH tk AS (
        SELECT doc_id, source,
               CAST(CASE WHEN trim(text) = '' THEN 0
                    ELSE len(string_split_regex(trim(text), '\\s+')) END
                 AS BIGINT) AS tk
        FROM documents),
      tgt(source, target_tokens) AS (VALUES
        ${mixTargets.map { case (dm, t) =>
          s"('$dm', CAST($t AS BIGINT))" }.mkString(",\n        ")}),
      avail AS (
        SELECT source, CAST(sum(tk) AS BIGINT) AS avail_tokens
        FROM tk JOIN tgt USING (source) GROUP BY source),
      rates AS (
        SELECT a.source, a.avail_tokens, t.target_tokens,
               LEAST(CAST(10000 AS BIGINT),
                     (t.target_tokens * 10000) // a.avail_tokens) AS rate_bp,
               GREATEST(t.target_tokens - a.avail_tokens,
                        CAST(0 AS BIGINT)) AS deficit
        FROM avail a JOIN tgt t USING (source))
      SELECT k.source,
             min(r.avail_tokens) AS avail_tokens,
             min(r.target_tokens) AS target_tokens,
             min(r.rate_bp) AS rate_bp,
             min(r.deficit) AS deficit,
             count(*) AS kept_docs,
             CAST(sum(k.tk) AS BIGINT) AS kept_tokens,
             min(k.doc_id) AS min_doc
      FROM tk k JOIN rates r USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(k.doc_id AS VARCHAR)), 1, 8))
              AS UBIGINT) % 10000 < r.rate_bp
      GROUP BY k.source ORDER BY k.source""",

    // κ as exact DECIMAL integer arithmetic + one IEEE division — the
    // same reduction as Stats.cohenKappa, so po/pe/kappa compare
    // unrounded
    "q205_cohen_kappa" -> """
      WITH l AS (
        SELECT lang AS a,
               CASE WHEN doc_id % 97 = 0 THEN NULL
                    WHEN doc_id % 5 = 0 THEN
                      CASE lang WHEN 'en' THEN 'de' WHEN 'de' THEN 'fr'
                                WHEN 'fr' THEN 'es' WHEN 'es' THEN 'zh'
                                WHEN 'zh' THEN 'en' ELSE lang END
                    ELSE lang END AS b
        FROM documents),
      obs AS (
        SELECT a, b, count(*) AS o FROM l
        WHERE a IS NOT NULL AND b IS NOT NULL GROUP BY a, b),
      ma AS (SELECT a, sum(o) AS na FROM obs GROUP BY a),
      mb AS (SELECT b, sum(o) AS nb FROM obs GROUP BY b),
      pe AS (
        SELECT coalesce(sum(CAST(na AS DECIMAL(19,0)) *
                            CAST(nb AS DECIMAL(19,0))),
                        CAST(0 AS DECIMAL(38,0))) AS penum
        FROM ma JOIN mb ON ma.a = mb.b),
      tot AS (
        SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(coalesce(sum(o) FILTER (WHERE a = b), 0) AS BIGINT)
                 AS agree
        FROM obs)
      SELECT n, agree AS n_agree,
             CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS po,
             CAST(penum AS DOUBLE) /
               CAST(CAST(n AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                 AS DOUBLE) AS pe,
             CASE WHEN CAST(CAST(n AS DECIMAL(19,0)) *
                            CAST(n AS DECIMAL(19,0)) - penum AS DOUBLE) = 0
                  THEN NULL
                  ELSE CAST(CAST(agree AS DECIMAL(19,0)) *
                            CAST(n AS DECIMAL(19,0)) - penum AS DOUBLE) /
                       CAST(CAST(n AS DECIMAL(19,0)) *
                            CAST(n AS DECIMAL(19,0)) - penum AS DOUBLE)
             END AS kappa
      FROM tot CROSS JOIN pe""",

    // q107's unrolled two-round trajectory, then the Davies–Bouldin
    // arithmetic over the final assignment + centroids
    "q206_davies_bouldin" -> """
      WITH e AS (
        SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings WHERE embedding IS NOT NULL),
      c0 AS (
        SELECT id AS cid, v AS cvec FROM e
        ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 8),
      a1 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c0 c) WHERE rn = 1),
      n1 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a1 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c1 AS (
        SELECT c0.cid, coalesce(n1.cvec, c0.cvec) AS cvec
        FROM c0 LEFT JOIN n1 USING (cid)),
      a2 AS (
        SELECT id, v, cid FROM (
          SELECT e.id, e.v, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c1 c) WHERE rn = 1),
      n2 AS (
        SELECT cid, list(mv ORDER BY pos) AS cvec FROM (
          SELECT cid, i.i AS pos, avg(v[i.i]) AS mv
          FROM a2 CROSS JOIN generate_series(1, 64) i(i)
          GROUP BY cid, i.i) GROUP BY cid),
      c2 AS (
        SELECT c1.cid, coalesce(n2.cvec, c1.cvec) AS cvec
        FROM c1 LEFT JOIN n2 USING (cid)),
      af AS (
        SELECT id, cid FROM (
          SELECT e.id, c.cid,
                 row_number() OVER (PARTITION BY e.id ORDER BY
                   list_dot_product(e.v, c.cvec) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cvec, c.cvec))) DESC,
                   c.cid) AS rn
          FROM e CROSS JOIN c2 c) WHERE rn = 1),
      scat AS (
        SELECT af.cid, count(*) AS n_members,
               avg(list_distance(e.v, c2.cvec)) AS scatter
        FROM af JOIN e USING (id) JOIN c2 USING (cid)
        GROUP BY af.cid),
      pr AS (
        SELECT i.cid AS cid,
               max((i.scatter + j.scatter) /
                   list_distance(ci.cvec, cj.cvec)) AS r_max
        FROM scat i JOIN scat j ON i.cid <> j.cid
        JOIN c2 ci ON ci.cid = i.cid
        JOIN c2 cj ON cj.cid = j.cid
        WHERE list_distance(ci.cvec, cj.cvec) > 0
        GROUP BY i.cid),
      db AS (
        SELECT avg(p.r_max) AS db_index
        FROM scat s LEFT JOIN pr p ON s.cid = p.cid)
      SELECT CAST(s.cid AS BIGINT) AS cluster_id, s.n_members,
             round(s.scatter, 6) AS scatter,
             round(p.r_max, 6) AS r_max,
             round(db.db_index, 6) AS db_index
      FROM scat s LEFT JOIN pr p ON s.cid = p.cid CROSS JOIN db
      ORDER BY cluster_id"""
  )

  /** q221 replays q54's batch pipeline through curateStream — under the
    * append-only id discipline the streamed union must equal the batch
    * run, so the oracle is q54's CTE chain VERBATIM (sharing the string
    * keeps the two certifications provably identical). */
  val oracle: Map[String, String] =
    oracleBase + ("q221_stream_curate" -> oracleBase("q54_curate")) +
      ("q224_stream_ewma" -> oracleBase("q153_ewma")) +
      ("q226_stream_sessionize" -> oracleBase("q10_event_sessions")) +
      // restart recovery must reassemble EXACTLY the single-lifetime
      // stream's output — q202's oracle verbatim
      ("q232_stream_restart_recovery" -> oracleBase("q202_stream_line_dedup")) +
      // spans are per-document — the streamed union must equal the batch
      // operator on the whole corpus, q240's oracle verbatim
      ("q241_stream_contamination" -> oracleBase("q240_contamination_spans")) +
      // compaction is bit-invisible to the read views: the compacted CMS
      // and top-k logs must answer exactly what the uncompacted operators
      // answer — q243's / q248's oracles verbatim
      ("q251_compacted_cms_log" -> oracleBase("q243_stream_heavy_hitters")) +
      ("q252_compacted_topk_log" -> oracleBase("q248_stream_grouped_topk"))
}
