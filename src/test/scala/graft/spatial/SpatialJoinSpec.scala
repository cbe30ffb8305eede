package graft.spatial

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.spatial.{functions => G}

class SpatialJoinSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spatialjoin-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("grid join == broadcast-NL join on contains predicate") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    // one rect per nation: x ∈ [nk*300, nk*300+2000], y ∈ [nk-3, nk+3]
    val rects = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        G.st_makeenvelope(
          col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
          col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
        ).as("rect"))

    val expected = rects.crossJoin(cust)
      .filter(G.st_contains(col("rect"), col("pt")))
      .select("n_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(expected.nonEmpty)

    val grid = SpatialJoin.join(rects, cust, col("rect"), col("pt"),
        Seq("n_nationkey"), Seq("c_custkey"), G.st_contains, cellSize = 500.0)
      .select("n_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(grid == expected)
  }

  test("grid join plans as an equi-join, not broadcast nested loop") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val rects = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        G.st_makeenvelope(lit(0.0), lit(0.0), lit(1000.0), lit(10.0)).as("rect"))
    val joined = SpatialJoin.join(rects, cust, col("rect"), col("pt"),
      Seq("n_nationkey"), Seq("c_custkey"), G.st_intersects, cellSize = 500.0)
    val plan = joined.queryExecution.executedPlan.toString
    // the MAIN path is the cell-id equi-join; nested-loop joins may appear
    // only in the (empty-at-runtime) over-cap fallback branches
    assert(plan.contains("BroadcastHashJoin [__cell") ||
      plan.contains("SortMergeJoin [__cell") ||
      plan.contains("ShuffledHashJoin [__cell"), plan.take(2000))
  }

  test("knn join finds the k nearest by distance") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val nations = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        G.st_point(col("n_nationkey").cast("double") * 300.0,
          col("n_nationkey").cast("double")).as("npt"))
    val knn = SpatialJoin.knnJoin(cust, nations, col("pt"), col("npt"),
      Seq("c_custkey"), Seq("n_nationkey"), k = 3)
    val counts = knn.groupBy("c_custkey").count().select("count").distinct().collect()
    assert(counts.map(_.getLong(0)).toSeq == Seq(3L))
    // spot-check one row against manual computation
    val row = spark.read.parquet(s"$sf/customer.parquet").filter(col("c_custkey") === 1).head()
    val (px, py) = (row.getDouble(3), row.getInt(2).toDouble)
    val expect = (0 until 25).map(nk => (nk, math.hypot(px - nk * 300.0, py - nk)))
      .sortBy(_._2).take(3).map(_._1).toSet
    val got = knn.filter(col("c_custkey") === 1).select("n_nationkey")
      .collect().map(_.getInt(0)).toSet
    assert(got == expect)
  }

  test("GridSpatialJoinRule rewrites ST_Intersects joins (via extraOptimizations)") {
    graft.spatial.functions.register(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(GridSpatialJoinRule(spark))
    spark.conf.set("spark.graft.spatialJoin.cellSize", "500.0")
    try {
      val sf = "/root/testdata/sf0.001"
      spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"),
          G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
        .createOrReplaceTempView("cust_pts")
      spark.read.parquet(s"$sf/nation.parquet")
        .select(col("n_nationkey"),
          G.st_makeenvelope(
            col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
            col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
          ).as("rect"))
        .createOrReplaceTempView("nation_rects")
      val df = spark.sql(
        "SELECT count(*) AS n FROM nation_rects r JOIN cust_pts c ON ST_Intersects(r.rect, c.pt)")
      val plan = df.queryExecution.executedPlan.toString
      // the main path is the cell-id equi-join; nested-loop joins may appear
      // only in the (empty-at-runtime) over-cap fallback branches
      assert(plan.contains("__cell_l"), plan.take(1500))
      assert(plan.contains("BroadcastHashJoin [__cell_l") ||
        plan.contains("SortMergeJoin [__cell_l") ||
        plan.contains("ShuffledHashJoin [__cell_l"), plan.take(1500))
      val n = df.head().getLong(0)
      // equivalence vs un-rewritten plan
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
      val baseline = spark.sql(
        "SELECT count(*) AS n FROM nation_rects r JOIN cust_pts c ON ST_Intersects(r.rect, c.pt)")
        .head().getLong(0)
      assert(n == baseline, s"grid=$n nl=$baseline")
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
    }
  }

  test("GridSpatialJoinRule cellSize=auto rewrites with a statistics subquery pitch") {
    graft.spatial.functions.register(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(GridSpatialJoinRule(spark))
    spark.conf.set("spark.graft.spatialJoin.cellSize", "auto")
    try {
      val sf = "/root/testdata/sf0.001"
      spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"),
          G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
        .createOrReplaceTempView("cust_pts_a")
      spark.read.parquet(s"$sf/nation.parquet")
        .select(col("n_nationkey"),
          G.st_makeenvelope(
            col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
            col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
          ).as("rect"))
        .createOrReplaceTempView("nation_rects_a")
      val q = "SELECT count(*) AS n FROM nation_rects_a r JOIN cust_pts_a c " +
        "ON ST_Contains(r.rect, c.pt)"
      val df = spark.sql(q)
      val plan = df.queryExecution.executedPlan.toString
      // grid path on the cell id, pitch fed by a (reused) scalar subquery
      assert(plan.contains("__cell_l"), plan.take(1500))
      assert(plan.toLowerCase.contains("subquery"), plan.take(1500))
      val n = df.head().getLong(0)
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
      val baseline = spark.sql(q).head().getLong(0)
      assert(n == baseline && n > 0, s"grid=$n nl=$baseline")
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
    }
  }

  test("bbox covering column: envelope filter pushes to the parquet scan") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val out = graft.TestDirs.fresh("graft_bbox_covered")
    GeoIO.withBboxColumn(cust, "pt").write.mode("overwrite").parquet(out)

    val back = spark.read.parquet(out)
      .filter(GeoIO.bboxFilter("bbox", 0, 0, 2500, 12))
    // the struct-leaf comparisons must reach the scan as pushed filters
    // (row-group min/max stats prune before WKB decode)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("bbox.xmin"), plan.take(1500))
    val got = back.select("c_custkey").collect().map(_.getLong(0)).toSet
    val expected = cust
      .filter(G.st_xmin(col("pt")).between(0, 2500) &&
              G.st_ymin(col("pt")).between(0, 12))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
  }

  test("cell-partitioned layout: pruned reads match full-scan filter") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val out = graft.TestDirs.fresh("graft_cell_partitioned")
    GeoIO.writePartitionedByCell(cust, "pt", 1000.0, out)

    // query window: x ∈ [0, 2500], y ∈ [0, 12]
    val pruned = GeoIO.readCellRange(spark, out, 1000.0, 0, 0, 2500, 12)
      .filter(G.st_xmin(col("pt")).between(0, 2500) &&
              G.st_ymin(col("pt")).between(0, 12))
    val expected = cust
      .filter(G.st_xmin(col("pt")).between(0, 2500) &&
              G.st_ymin(col("pt")).between(0, 12))
      .select("c_custkey").collect().map(_.getLong(0)).toSet
    val got = pruned.select("c_custkey").collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty)
    // partition pruning is visible in the scan
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"), plan.take(1200))
  }

  test("grid knn join == broadcast knn join, any pitch") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"),
        G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))

    val expected = SpatialJoin.knnJoin(cust, supp, col("pt"), col("spt"),
        Seq("c_custkey"), Seq("s_suppkey"), k = 3)
      .select("c_custkey", "s_suppkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // generous pitch (most rows certified on the grid path) and a tiny pitch
    // (escalation + terminal residual do the work) must both reproduce the
    // exact result
    for (pitch <- Seq(2000.0, 5.0)) {
      val got = SpatialJoin.knnJoinGrid(cust, supp, col("pt"), col("spt"),
          Seq("c_custkey"), Seq("s_suppkey"), k = 3, cellSize = pitch)
        .select("c_custkey", "s_suppkey", "knn_rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"pitch=$pitch")
    }
  }

  test("grid knn join is exact for non-point left geometries") {
    // left = wide rects whose far extent is many cells from the min corner;
    // a min-corner-cell-only mapping (round-1 behavior) would certify wrong
    // neighbors for these. Compare against the brute-force result.
    val sf = "/root/testdata/sf0.001"
    val rects = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        G.st_makeenvelope(
          col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
          col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
        ).as("rect"))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"),
        G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))

    val expected = SpatialJoin.knnJoin(rects, supp, col("rect"), col("spt"),
        Seq("n_nationkey"), Seq("s_suppkey"), k = 3)
      .select("n_nationkey", "s_suppkey", "knn_rank")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet

    for (pitch <- Seq(400.0, 37.0)) {
      val got = SpatialJoin.knnJoinGrid(rects, supp, col("rect"), col("spt"),
          Seq("n_nationkey"), Seq("s_suppkey"), k = 3, cellSize = pitch)
        .select("n_nationkey", "s_suppkey", "knn_rank")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"pitch=$pitch")
    }
  }

  test("grid knn join == broadcast knn join on random clouds (seeded)") {
    import spark.implicits._
    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      // clustered + uniform mix straddling the origin (negative coords
      // exercise the sign-extension of packed (ix,iy) cell ids), with
      // exact duplicate locations thrown in
      val lpts = (0 until 200).map { i =>
        val cl = (rnd.nextInt(5) - 2) * 1000.0
        (i.toLong, cl + rnd.nextDouble() * 80.0, rnd.nextDouble() * 200.0 - 100.0)
      }
      val rpts = (0 until 150).map { i =>
        val cl = (rnd.nextInt(5) - 2) * 1000.0
        val (x, y) =
          if (i % 17 == 0) (cl, -50.0) // repeated exact locations (distance ties)
          else (cl + rnd.nextDouble() * 80.0, rnd.nextDouble() * 200.0 - 100.0)
        (i.toLong, x, y)
      }
      val l = lpts.toDF("lid", "lx", "ly").select(col("lid"), G.st_point(col("lx"), col("ly")).as("lg"))
      val r = rpts.toDF("rid", "rx", "ry").select(col("rid"), G.st_point(col("rx"), col("ry")).as("rg"))
      val expected = SpatialJoin.knnJoin(l, r, col("lg"), col("rg"), Seq("lid"), Seq("rid"), k = 4)
        .select("lid", "rid", "knn_rank")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      for (pitch <- Seq(30.0, 400.0)) {
        val got = SpatialJoin.knnJoinGrid(l, r, col("lg"), col("rg"), Seq("lid"), Seq("rid"),
            k = 4, cellSize = pitch)
          .select("lid", "rid", "knn_rank")
          .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
        assert(got == expected, s"seed=$seed pitch=$pitch")
      }
      // and the statistics-estimated pitch on the same clustered clouds
      val auto = SpatialJoin.knnJoinGridAuto(l, r, col("lg"), col("rg"),
          Seq("lid"), Seq("rid"), k = 4)
        .select("lid", "rid", "knn_rank")
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(auto == expected, s"seed=$seed auto")
    }
  }

  test("adaptivePitch solves target rows per cell, incl. flat and tiny extents") {
    import spark.implicits._
    // 2-D uniform: 1000 pts in [0,100]², τ=10 → p0 = sqrt(10·100·100/1000) = 10
    val rnd = new scala.util.Random(11L)
    val sq = (0 until 1000).map(i => (i.toLong, rnd.nextDouble() * 100.0, rnd.nextDouble() * 100.0))
      .toDF("id", "x", "y").select(col("id"), G.st_point(col("x"), col("y")).as("g"))
    val p2d = SpatialJoin.adaptivePitch(sq, col("g"), 10.0).head().getDouble(0)
    assert(p2d > 7.0 && p2d < 13.0, s"p2d=$p2d")
    // flat-in-y (the q43 shape): 1000 pts on a 999-wide line → τ·W/N ≈ 10
    val flat = (0 until 1000).map(i => (i.toLong, i.toDouble, 0.0))
      .toDF("id", "x", "y").select(col("id"), G.st_point(col("x"), col("y")).as("g"))
    val pf = SpatialJoin.adaptivePitch(flat, col("g"), 10.0).head().getDouble(0)
    assert(pf > 8.0 && pf < 12.0, s"pf=$pf")
    // fewer rows than target: one macro-cell spanning the extent
    val tiny = Seq((1L, 0.0, 0.0), (2L, 50.0, 20.0)).toDF("id", "x", "y")
      .select(col("id"), G.st_point(col("x"), col("y")).as("g"))
    val pt = SpatialJoin.adaptivePitch(tiny, col("g"), 10.0).head().getDouble(0)
    assert(pt == 50.0, s"pt=$pt")
    // empty input: non-null positive fallback
    val pe = SpatialJoin.adaptivePitch(tiny.filter(col("id") > 99), col("g"), 10.0)
      .head().getDouble(0)
    assert(pe == 1.0, s"pe=$pe")
  }

  test("adaptivePitch stays positive, finite, and within the extent on random clouds") {
    import spark.implicits._
    val rnd = new scala.util.Random(5L)
    for (trial <- 0 until 8) {
      val n = 1 + rnd.nextInt(400)
      val w = math.pow(10.0, rnd.nextInt(5) - 2) // 0.01 .. 100
      val h = math.pow(10.0, rnd.nextInt(5) - 2)
      val df = (0 until n).map(i => (i.toLong, rnd.nextDouble() * w, rnd.nextDouble() * h))
        .toDF("id", "x", "y").select(col("id"), G.st_point(col("x"), col("y")).as("g"))
      val p = SpatialJoin.adaptivePitch(df, col("g"), 24.0).head().getDouble(0)
      assert(p > 0 && java.lang.Double.isFinite(p), s"trial=$trial n=$n p=$p")
      assert(p <= math.max(w, h) * 1.01 + 1e-9, s"trial=$trial n=$n w=$w h=$h p=$p")
    }
  }

  test("grid knn auto-pitch == broadcast knn join (no caller knob)") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"),
        G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))
    val expected = SpatialJoin.knnJoin(cust, supp, col("pt"), col("spt"),
        Seq("c_custkey"), Seq("s_suppkey"), k = 3)
      .select("c_custkey", "s_suppkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val auto = SpatialJoin.knnJoinGridAuto(cust, supp, col("pt"), col("spt"),
      Seq("c_custkey"), Seq("s_suppkey"), k = 3)
    val got = auto.select("c_custkey", "s_suppkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    // ranking still window-free; pitch columns never leak into the output
    val plan = auto.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!auto.columns.exists(_.contains("pitch")), auto.columns.mkString(","))
  }

  test("grid join keeps matches of over-cap geometries (DataFrame API)") {
    import spark.implicits._
    // one rect spanning ≫ 4096 cells at pitch 1 (its cell array nulls out)
    // plus a normal rect; both must still find their contained points —
    // the over-cap rows take the exact fallback branches like the rule
    val rects = Seq((1, 0.0, 0.0, 500.0, 500.0), (2, 10.0, 10.0, 12.0, 12.0))
      .toDF("rid", "x0", "y0", "x1", "y1")
      .select(col("rid"), G.st_makeenvelope(col("x0"), col("y0"), col("x1"), col("y1")).as("rect"))
    val pts = Seq((10L, 250.0, 250.0), (20L, 11.0, 11.0), (30L, 900.0, 900.0))
      .toDF("pid", "px", "py")
      .select(col("pid"), G.st_point(col("px"), col("py")).as("pt"))
    val got = SpatialJoin.join(rects, pts, col("rect"), col("pt"),
        Seq("rid"), Seq("pid"), G.st_contains, cellSize = 1.0)
      .select("rid", "pid").collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    // rect 1 is over-cap and contains points 10 and 20; rect 2 contains 20
    assert(got == Set((1, 10L), (1, 20L), (2, 20L)), got.toString)
  }

  test("predicate grid joinAuto == static grid join") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val rects = spark.read.parquet(s"$sf/nation.parquet")
      .select(col("n_nationkey"),
        G.st_makeenvelope(
          col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
          col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
        ).as("rect"))
    val expected = SpatialJoin.join(rects, cust, col("rect"), col("pt"),
        Seq("n_nationkey"), Seq("c_custkey"), G.st_contains, cellSize = 500.0)
      .select("n_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    val got = SpatialJoin.joinAuto(rects, cust, col("rect"), col("pt"),
        Seq("n_nationkey"), Seq("c_custkey"), G.st_contains)
      .select("n_nationkey", "c_custkey")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got == expected && got.nonEmpty)
  }

  test("grid knn join never force-broadcasts the right relation") {
    // with auto-broadcast disabled, a BroadcastExchange can only come from an
    // explicit broadcast() hint — the round-2 residual had one on the FULL
    // right side; the escalating-pitch design must have none anywhere
    val sf = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val cust = spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"),
          G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
      val supp = spark.read.parquet(s"$sf/supplier.parquet")
        .select(col("s_suppkey"),
          G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))
      val df = SpatialJoin.knnJoinGrid(cust, supp, col("pt"), col("spt"),
        Seq("c_custkey"), Seq("s_suppkey"), k = 3, cellSize = 2000.0)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan.take(3000))
      // ranking + certification are fused into the BoundedTopK aggregate:
      // no Window (and no WindowGroupLimit) node anywhere in the plan
      assert(!plan.contains("Window"), plan.take(3000))
      assert(plan.contains("bounded_top_k"), plan.take(3000))
      // and the operator still runs end-to-end in this mode
      assert(df.groupBy("c_custkey").count().filter(col("count") =!= 3).isEmpty)
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("rightCountUpperBound <= k skips the grid rounds (degenerate |right| < k)") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val tiny = spark.read.parquet(s"$sf/nation.parquet").limit(4)
      .select(col("n_nationkey"),
        G.st_point(col("n_nationkey").cast("double") * 100.0,
          col("n_nationkey").cast("double")).as("npt"))
    // k > |right|: every left row gets ALL right rows ranked
    val expected = SpatialJoin.knnJoin(cust, tiny, col("pt"), col("npt"),
        Seq("c_custkey"), Seq("n_nationkey"), k = 7)
      .select("c_custkey", "n_nationkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val clamped = SpatialJoin.knnJoinGrid(cust, tiny, col("pt"), col("npt"),
        Seq("c_custkey"), Seq("n_nationkey"), k = 7, cellSize = 100.0,
        rightCountUpperBound = Some(4L))
    val got = clamped.select("c_custkey", "n_nationkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == expected)
    // the plan is the residual alone — no cell explode/equi-join machinery
    val plan = clamped.queryExecution.executedPlan.toString
    assert(!plan.contains("__cell"), plan.take(2000))
    // unhinted path stays correct too (just does the wasted rounds)
    val unhinted = SpatialJoin.knnJoinGrid(cust, tiny, col("pt"), col("npt"),
        Seq("c_custkey"), Seq("n_nationkey"), k = 7, cellSize = 100.0)
      .select("c_custkey", "n_nationkey", "knn_rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(unhinted == expected)
  }

  test("grid knn join candidate path is an equi-join on the cell id") {
    val sf = "/root/testdata/sf0.001"
    val cust = spark.read.parquet(s"$sf/customer.parquet")
      .select(col("c_custkey"),
        G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
    val supp = spark.read.parquet(s"$sf/supplier.parquet")
      .select(col("s_suppkey"),
        G.st_point(col("s_acctbal"), col("s_nationkey").cast("double")).as("spt"))
    val plan = SpatialJoin.knnJoinGrid(cust, supp, col("pt"), col("spt"),
        Seq("c_custkey"), Seq("s_suppkey"), k = 3, cellSize = 2000.0)
      .queryExecution.executedPlan.toString
    // the grid candidate generation joins on __cell as a hash/merge equi-join
    assert(plan.contains("__cell"), plan.take(1500))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
      plan.contains("BroadcastHashJoin"), plan.take(1500))
  }

  test("GridSpatialJoinRule rewrites contains/dwithin joins (incl. reversed args)") {
    graft.spatial.functions.register(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(GridSpatialJoinRule(spark))
    try {
      val sf = "/root/testdata/sf0.001"
      spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"),
          G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
        .createOrReplaceTempView("cust_pts3")
      spark.read.parquet(s"$sf/nation.parquet")
        .select(col("n_nationkey"),
          G.st_makeenvelope(
            col("n_nationkey").cast("double") * 300.0, col("n_nationkey").cast("double") - 3.0,
            col("n_nationkey").cast("double") * 300.0 + 2000.0, col("n_nationkey").cast("double") + 3.0
          ).as("rect"))
        .createOrReplaceTempView("nation_rects3")
      val qs = Seq(
        // asymmetric predicate, both argument orders
        "SELECT count(*) AS n FROM nation_rects3 r JOIN cust_pts3 c ON ST_Contains(r.rect, c.pt)",
        "SELECT count(*) AS n FROM cust_pts3 c JOIN nation_rects3 r ON ST_Contains(r.rect, c.pt)",
        // distance predicate: right cells dilate to cover the distance
        "SELECT count(*) AS n FROM nation_rects3 r JOIN cust_pts3 c ON ST_DWithin(r.rect, c.pt, 750.0)")
      for (q <- qs) {
        spark.conf.set("spark.graft.spatialJoin.cellSize", "500.0")
        val df = spark.sql(q)
        val plan = df.queryExecution.executedPlan.toString
        assert(plan.contains("__cell_l"), q + "\n" + plan.take(1200))
        val n = df.head().getLong(0)
        spark.conf.unset("spark.graft.spatialJoin.cellSize")
        val baseline = spark.sql(q).head().getLong(0)
        assert(n == baseline && n > 0, s"$q grid=$n nl=$baseline")
      }
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
    }
  }

  test("GridSpatialJoinRule keeps matches of over-cap geometries (result-preserving)") {
    graft.spatial.functions.register(spark)
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Seq(GridSpatialJoinRule(spark))
    spark.conf.set("spark.graft.spatialJoin.cellSize", "500.0")
    try {
      val sf = "/root/testdata/sf0.001"
      spark.read.parquet(s"$sf/customer.parquet")
        .select(col("c_custkey"),
          G.st_point(col("c_acctbal"), col("c_nationkey").cast("double")).as("pt"))
        .createOrReplaceTempView("cust_pts2")
      // one giant rect per nation covering the whole domain: at pitch 500 its
      // envelope spans ≫ 4096 cells, so StCoveringCells nulls out and only
      // the exact fallback branch can produce its matches
      spark.read.parquet(s"$sf/nation.parquet")
        .select(col("n_nationkey"),
          G.st_makeenvelope(lit(-50000.0), lit(-50000.0), lit(50000.0), lit(50000.0)).as("rect"))
        .createOrReplaceTempView("giant_rects")
      val sql =
        "SELECT count(*) AS n FROM giant_rects r JOIN cust_pts2 c ON ST_Intersects(r.rect, c.pt)"
      val n = spark.sql(sql).head().getLong(0)
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
      val baseline = spark.sql(sql).head().getLong(0)
      assert(n == baseline && n > 0, s"grid=$n nl=$baseline")
    } finally {
      spark.experimental.extraOptimizations = prev
      spark.conf.unset("spark.graft.spatialJoin.cellSize")
    }
  }

  test("covering cells cap degenerate envelopes") {
    val df = spark.range(1).select(
      G.st_makeenvelope(lit(0.0), lit(0.0), lit(1e9), lit(1e9)).as("g"))
    val cells = df.select(SpatialJoin.st_covering_cells(col("g"), 1.0).as("c")).head()
    assert(cells.isNullAt(0)) // > maxCells → null (caller must coarsen)
  }

  test("dwithinPairs == brute-force eps-neighbor pairs (dilated grid)") {
    import spark.implicits._
    // deterministic scatter incl. points straddling cell boundaries
    val pts = (0L until 120L).map { i =>
      val x = (i * 37 % 100).toDouble + (i % 3) * 0.5
      val y = (i * 53 % 40).toDouble
      (i, x, y)
    }
    val df = pts.toDF("id", "x", "y")
      .select(col("id"), G.st_point(col("x"), col("y")).as("pt"))
    val got = SpatialCluster.dwithinPairs(df, "id", "pt", eps = 7.0, cellSize = 5.0)
      .as[(Long, Long)].collect().toSet
    val expect = (for {
      (a, ax, ay) <- pts; (b, bx, by) <- pts if a < b
      if math.sqrt((ax - bx) * (ax - bx) + (ay - by) * (ay - by)) <= 7.0
    } yield (a, b)).toSet
    assert(got == expect)
    assert(got.nonEmpty)
  }

  test("dbscan: closed-form core/border/noise with deterministic labels") {
    import spark.implicits._
    // chain A (1,2,3,4): interior points 2,3 are cores (deg 2 + self ≥ 3),
    // endpoints 1,4 are borders; 5 is noise; chain B (6,7,8): single core
    // 7 with NO core-core edge — exercises the singleton-core label path
    val pts = Seq((1L, 0.0), (2L, 1.0), (3L, 2.0), (4L, 3.4), (5L, 10.0),
      (6L, 20.0), (7L, 21.0), (8L, 22.0))
    val df = pts.toDF("id", "x")
      .select(col("id"), G.st_point(col("x"), lit(0.0)).as("pt"))
    val out = SpatialCluster.dbscan(df, "id", "pt",
        eps = 1.5, minPts = 3, cellSize = 1.5)
      .collect()
      .map(r => (r.getLong(0), (Option(r.get(1)).map(_.asInstanceOf[Long]),
        r.getString(2)))).toMap
    assert(out(1L) == ((Some(2L), "border")))
    assert(out(2L) == ((Some(2L), "core")))
    assert(out(3L) == ((Some(2L), "core")))
    assert(out(4L) == ((Some(2L), "border")))
    assert(out(5L) == ((None, "noise")))
    assert(out(6L) == ((Some(7L), "border")))
    assert(out(7L) == ((Some(7L), "core")))
    assert(out(8L) == ((Some(7L), "border")))
  }
}
