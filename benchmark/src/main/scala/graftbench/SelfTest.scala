package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's own test of its checks: every check passes on a
  * correct answer and fails on a corrupted one.
  *
  *   java … graftbench.SelfTest <work dir>
  *
  * (benchmark/selftest.py runs it after the small-scale runs.) */
object SelfTest {
  private var failures = 0
  private type ScanRow = (Long, Array[Byte], String, Array[Byte])

  private def expect(name: String, shouldPass: Boolean, problems: Seq[String]): Unit = {
    val ok = problems.isEmpty == shouldPass
    if (!ok) failures += 1
    println(s"${if (ok) "ok  " else "FAIL"} ${if (shouldPass) "accepts" else "rejects"} $name" +
      (if (!shouldPass && problems.nonEmpty) s"  [${problems.head}]" else ""))
  }

  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = SparkSession.builder().master("local[1]").appName("graftbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.local.dir", s"$work/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val seed = 7L

    // geo_scan: the combined scan answers (id, geometry, wkt, envelope)
    val rows = (0L until 300L).map(id => id -> Gen.geoRow(seed, 1, id)._2)
    val scan: Seq[ScanRow] = rows.map { case (id, g) =>
      if (g == null) (id, null, null, null)
      else (id, Ref.wkb(g), Ref.wkt(g), Ref.envelopeWkb(Ref.bbox(g)))
    }
    val xWkt = scan.map(r => Ref.xxhash(r._1, r._2, r._3)).reduce(_ ^ _)
    val xEnv = scan.map(r => Ref.xxhash(r._1, r._4)).reduce(_ ^ _)
    val ext = rows.flatMap(r => Option(r._2).flatMap(g => Option(Ref.bbox(g)))).reduce((a, b) =>
      Array(math.min(a(0), b(0)), math.min(a(1), b(1)), math.max(a(2), b(2)), math.max(a(3), b(3))))
    def scanCheck(s: Seq[ScanRow], extent: Array[Double] = ext) =
      Checks.scanEqual("scan", s.toDF("id", "geometry", "wkt", "env"), xWkt, xEnv, 300, extent)
    expect("scan answer", shouldPass = true, scanCheck(scan))
    val k = scan.indexWhere(r => r._3 != null && r._3.contains("("))
    val moved = scan.updated(k, scan(k).copy(_3 = scan(k)._3.replaceFirst("\\d", "9").replaceFirst("\\(9", "(8")))
    expect("ST_AsText with one coordinate changed", shouldPass = false, scanCheck(moved))
    expect("scan with one row missing", shouldPass = false, scanCheck(scan.tail))
    val bb = Ref.bbox(rows(k)._2)
    val grown = scan.updated(k, scan(k).copy(_4 = Ref.envelopeWkb(bb.updated(2, bb(2) + 1e-9))))
    expect("ST_Envelope with one bound moved", shouldPass = false, scanCheck(grown))
    val pts = rows.filter(r => r._2 != null && r._2.kind == 1 && !r._2.isEmpty)
    val other = RPoint(Array(ext(0) - 1, 0.0))
    val decoded = scan.updated(pts.head._1.toInt, scan(pts.head._1.toInt).copy(_2 = Ref.wkb(other)))
    expect("decoded WKB with one point elsewhere", shouldPass = false, scanCheck(decoded))
    expect("ST_Extent against one expected coordinate moved", shouldPass = false,
      scanCheck(scan, ext.updated(1, math.nextUp(ext(1)))))

    // geo_scan: per-class counts, and the st_extent UDAF's one row
    val counts = rows.groupBy { case (_, g) => Option(g).map(Ref.typeTag).getOrElse("null") }
      .map { case (t, rs) => t -> rs.size.toLong }
    def countsDf(m: Map[String, Long]): DataFrame =
      m.toSeq.map { case (t, n) => (if (t == "null") null else t, n) }.toDF("t", "n")
    expect("class counts", shouldPass = true, Checks.countsEqual("types", countsDf(counts), counts))
    val shifted = counts.updated("ST_Point", counts("ST_Point") - 1)
      .updated("ST_Polygon", counts("ST_Polygon") + 1)
    expect("class counts with one row in the wrong class", shouldPass = false,
      Checks.countsEqual("types", countsDf(shifted), counts))
    expect("class counts without the null rows", shouldPass = false,
      Checks.countsEqual("types", countsDf(counts - "null"), counts))
    val extDf = Seq(Tuple1((ext(0), ext(1), ext(2), ext(3)))).toDF("e")
    expect("UDAF extent", shouldPass = true, Checks.extentEqual("udaf", extDf, ext))
    expect("UDAF extent against one expected coordinate moved", shouldPass = false,
      Checks.extentEqual("udaf", extDf, ext.updated(2, math.nextDown(ext(2)))))
    expect("folded counts", shouldPass = true, Checks.countsEqual("folded",
      Seq(("ST_Point", 5L), (null, 1L)).toDF("t", "n"), Map("ST_Point" -> 5L, "null" -> 1L)))
    expect("folded counts with a null row typed", shouldPass = false, Checks.countsEqual("folded",
      Seq(("ST_Point", 6L)).toDF("t", "n"), Map("ST_Point" -> 5L, "null" -> 1L)))

    // spatial_join: per-polygon (count, pair fingerprint)
    val groups = Map(1L -> (3L, 11L), 2L -> (1L, 5L))
    def groupDf(m: Map[Long, (Long, Long)]) = m.toSeq.map { case (q, (n, x)) => (q, n, x) }.toDF("q", "n", "x")
    expect("join matches", shouldPass = true, Checks.groupsEqual("join", groupDf(groups), groups)._1)
    expect("join with one pair dropped", shouldPass = false,
      Checks.groupsEqual("join", groupDf(groups.updated(1L, (2L, 11L ^ 3L))), groups)._1)
    expect("join with one polygon's matches missing", shouldPass = false,
      Checks.groupsEqual("join", groupDf(groups - 2L), groups)._1)
    expect("DataFrame and SQL join disagreeing", shouldPass = false,
      Checks.mapsEqual("pairs", groups.updated(2L, (1L, 6L)), groups))

    // spatial_join: overlay areas against the convex clip and the identity
    val polys = Array.tabulate(60)(i => Gen.joinPolygon(seed, 11, i, 60))
    val pairs = Gen.overlapPairs(polys, 50)
    val overlay = pairs.map { case (a, b) => (a.toLong, b.toLong) ->
      (Ref.ringArea(Ref.clipConvex(polys(a), polys(b))), Ref.ringArea(polys(a)), Ref.ringArea(polys(b))) }.toMap
    def overlayDf(f: (Long, Long, Double) => Double) = overlay.toSeq.map { case ((a, b), (ia, aa, ab)) =>
      (a, b, f(a, b, ia), aa + ab - ia, aa, ab) }.toDF("a", "b", "i", "u", "aa", "ab")
    expect("overlay areas", shouldPass = true, Checks.overlayAreas(overlayDf((_, _, ia) => ia), overlay))
    val (a0, b0) = (pairs(0)._1.toLong, pairs(0)._2.toLong)
    expect("overlay with one pair's intersection area changed", shouldPass = false,
      Checks.overlayAreas(overlayDf((a, b, ia) => if ((a, b) == (a0, b0)) ia * 1.001 else ia), overlay))
    expect("overlay with one pair's union area changed", shouldPass = false,
      Checks.overlayAreas(overlay.toSeq.map { case ((a, b), (ia, aa, ab)) =>
        (a, b, ia, aa + ab - ia + (if ((a, b) == (a0, b0)) 1e-3 else 0.0), aa, ab)
      }.toDF("a", "b", "i", "u", "aa", "ab"), overlay))

    // spatial_join: st_union_agg areas
    val tiles = (0L until 5L).map(g => g -> Gen.tileGroup(seed, g)._2.map(Ref.ringArea).sum).toMap
    expect("union_agg areas", shouldPass = true, Checks.unionAreas(tiles.toSeq.toDF("g", "a"), tiles))
    expect("union_agg with one tile left out", shouldPass = false,
      Checks.unionAreas(tiles.updated(3L, tiles(3L) - Ref.ringArea(Gen.tileGroup(seed, 3)._2.head))
        .toSeq.toDF("g", "a"), tiles))

    // stream_dedup: a correct dedup output, by first occurrence
    val docs = (0L until 40L).map(d => d -> Gen.document(seed, 1, d))
    val seen = scala.collection.mutable.HashSet[String]()
    val out = docs.map { case (d, ls) =>
      val kept = ls.filter(l => l.length < Gen.MinChars || seen.add(l))
      (d, kept.mkString("\n"), kept.length.toLong, (ls.length - kept.length).toLong)
    }
    val keys = docs.flatMap(_._2).filter(_.length >= Gen.MinChars).distinct
    val xKeys = keys.map(Ref.xxhash(_)).reduce(_ ^ _)
    val xDocs = docs.map { case (d, ls) => Ref.xxhash(d, ls.length.toLong) }.reduce(_ ^ _)
    def outDf(o: Seq[(Long, String, Long, Long)]) = o.toDF("doc_id", "text", "n_kept", "n_removed")
    expect("dedup lines", shouldPass = true, Checks.linesKeptOnce(outDf(out), Gen.MinChars, keys.size, xKeys))
    val j = out.indexWhere(_._2.split("\n").count(_.length >= Gen.MinChars) > 1)
    val dropped = out.updated(j, out(j).copy(_2 = out(j)._2.split("\n")
      .filterNot(_ == out(j)._2.split("\n").find(_.length >= Gen.MinChars).get).mkString("\n")))
    expect("dedup output with one line key dropped", shouldPass = false,
      Checks.linesKeptOnce(outDf(dropped), Gen.MinChars, keys.size, xKeys))
    val twice = out.updated(j, out(j).copy(_2 = out(j)._2 + "\n" + out(j)._2.split("\n")
      .find(_.length >= Gen.MinChars).get))
    expect("dedup output with one line key kept twice", shouldPass = false,
      Checks.linesKeptOnce(outDf(twice), Gen.MinChars, keys.size, xKeys))
    expect("dedup documents", shouldPass = true, Checks.docsAccounted(outDf(out), docs.size, xDocs))
    expect("dedup output with one document missing", shouldPass = false,
      Checks.docsAccounted(outDf(out.tail), docs.size, xDocs))
    expect("dedup output with n_removed off by one", shouldPass = false,
      Checks.docsAccounted(outDf(out.updated(0, out(0).copy(_4 = out(0)._4 + 1))), docs.size, xDocs))

    // stream_dedup: orphaned staging dirs
    val sink = new java.io.File(work, "sink/data/__batch=0")
    sink.mkdirs()
    expect("sink without staging dirs", shouldPass = true, Checks.stagingLeft(new java.io.File(work, "sink")))
    new java.io.File(work, "sink/data/.staging-3-abc").mkdirs()
    expect("sink with an orphaned staging dir", shouldPass = false,
      Checks.stagingLeft(new java.io.File(work, "sink")))

    spark.stop()
    println(if (failures == 0) "selftest: all checks behave" else s"selftest: $failures cases wrong")
    System.exit(if (failures == 0) 0 else 1)
  }
}
