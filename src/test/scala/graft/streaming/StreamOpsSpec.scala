package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("windowed event stats over a micro-batch stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val agg = StreamOps.windowedEventStats(input.toDF(), "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("winstats").start()
    try {
      input.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:30"), 1, "click", 1.0),
        StreamOps.Event(2, ts("2026-01-01 10:01:30"), 2, "click", 2.0),
        StreamOps.Event(3, ts("2026-01-01 10:07:00"), 1, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_type, n_events, total_value FROM winstats ORDER BY event_type")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getString(0) == "click" && rows(0).getLong(1) == 2)
      assert(rows(1).getString(0) == "view" && rows(1).getLong(1) == 1)
    } finally q.stop()
  }

  test("windowed spatial extent over a geometry stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.spatial.functions.register(spark)
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val geo = input.toDF().toDF("id", "ts", "wkt")
      .withColumn("g", graft.spatial.functions.st_geomfromtext(col("wkt")))
    val agg = StreamOps.windowedExtent(geo, "g", "5 minutes", "10 minutes")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("extents").start()
    try {
      input.addData(
        (1L, ts("2026-01-01 10:00:10"), "POINT (10 20)"),
        (2L, ts("2026-01-01 10:01:10"), "POINT (30 5)"),
        (3L, ts("2026-01-01 10:02:10"), "LINESTRING (0 0, 15 40)"))
      q.processAllAvailable()
      val r = spark.sql("SELECT xmin, ymin, xmax, ymax, n FROM extents").head()
      assert(r.getDouble(0) == 0.0 && r.getDouble(1) == 0.0)
      assert(r.getDouble(2) == 30.0 && r.getDouble(3) == 40.0)
      assert(r.getLong(4) == 3)
    } finally q.stop()
  }

  test("dedupRedeliveries: re-stamped retries collapse; dropDuplicates would not") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, String)]
    val stream = input.toDF().toDF("event_id", "ts", "payload")
    val out = StreamOps.dedupRedeliveries(stream, Seq("event_id"), "10 minutes")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("redeliv").start()
    try {
      // batch 1: event 1 plus an immediate retry with a LATER timestamp
      input.addData(
        (1L, ts("2026-01-01 10:00:00"), "first"),
        (1L, ts("2026-01-01 10:00:03"), "retry-same-batch"),
        (2L, ts("2026-01-01 10:00:01"), "other"))
      q.processAllAvailable()
      // batch 2: event 1 redelivered again across batches, still within
      // the watermark; and a genuinely new event
      input.addData(
        (1L, ts("2026-01-01 10:00:07"), "retry-next-batch"),
        (3L, ts("2026-01-01 10:00:09"), "new"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, payload FROM redeliv").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(rows.keySet == Set(1L, 2L, 3L))
      assert(rows(1L) == "first") // the FIRST delivery wins, retries drop
    } finally q.stop()
  }

  test("streaming near-dup flags against the persisted sketch index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus: distinct docs; index persisted once (corpus never re-read)
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely different content about spark query planning and shuffles here"),
      (3L, "a third document mentioning grid cells and spatial joins at scale"))
      .toDF("doc_id", "text")
    val idx = graft.TestDirs.fresh("graft_stream_minhash_idx")
    graft.pipeline.Dedup.writeMinhashIndex(corpus, "text", "doc_id", idx)
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val flags = StreamOps.nearDupFlags(spark, stream, "text", "doc_id", idx,
      minEstJaccard = 0.8)
    val q = flags.writeStream.outputMode("append")
      .format("memory").queryName("ndflags").start()
    try {
      input.addData(
        (100L, "the quick brown fox jumps over the lazy dog near the river bank today"), // dup of 1
        (101L, "entirely novel text with no overlap to anything stored in the corpus"))
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, corpus_id, est_jaccard FROM ndflags").collect()
      assert(rows.length == 1)
      assert(rows(0).getLong(0) == 100L && rows(0).getLong(1) == 1L)
      assert(rows(0).getDouble(2) >= 0.99) // identical text → identical signature
      // second batch: another novel doc stays unflagged, a dup of 3 flags
      input.addData((102L, "a third document mentioning grid cells and spatial joins at scale"))
      q.processAllAvailable()
      val rows2 = spark.sql("SELECT id, corpus_id FROM ndflags ORDER BY id").collect()
      assert(rows2.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((100L, 1L), (102L, 3L)))
    } finally q.stop()
  }

  test("nearDupFlagsStream: the index GROWS with the stream — later batches " +
       "flag against earlier ones, never against themselves") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ndfs").toString
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupFlagsStream(spark,
      input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      s"$base/idx", s"$base/out", s"$base/ckpt", minEstJaccard = 0.8)
    try {
      val a = "the quick brown fox jumps over the lazy dog near the river bank today"
      // batch 0: no standing index yet → nothing flags, even though the
      // batch contains an internal near-identical pair (batch-internal
      // pairs are out of contract); both docs' sketches then seed the index
      input.addData((1L, a), (2L, "another document about completely unrelated query planning topics"))
      q.processAllAvailable()
      assert(!new java.io.File(s"$base/out").exists() ||
        spark.read.parquet(s"$base/out").count() == 0)
      // batch 1: a dup of batch-0's doc 1 must flag against the GROWN index
      input.addData((10L, a))
      q.processAllAvailable()
      val rows = spark.read.parquet(s"$base/out").collect()
      assert(rows.map(r => (r.getAs[Long]("id"), r.getAs[Long]("corpus_id"))).toSeq
        == Seq((10L, 1L)))
      assert(rows.head.getAs[Double]("est_jaccard") >= 0.99)
      // the batch-partition probe discipline means no document ever flags
      // against itself or a batch-mate; index now holds all three
      assert(spark.read.parquet(s"$base/idx").count() == 3)
    } finally {
      q.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
    }
  }

  test("nearDupFlagsStream: an at-least-once REPLAY of a committed batch " +
       "changes nothing — no self-flags, no duplicate index or flag rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ndfsrp").toString
    try {
      val a = "the quick brown fox jumps over the lazy dog near the river bank today"
      val slices = Seq(
        0 -> Seq((1L, a), (2L, "a document about query planners and join reordering costs")),
        1 -> Seq((10L, a), (11L, "fresh material on parquet footers and row group statistics")))
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("doc_id", "text").repartition(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.nearDupFlagsStream(spark, stream, "text", "doc_id",
          s"$base/idx", s"$base/out", s"$base/ckpt", minEstJaccard = 0.8)
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      val flags1 = spark.read.parquet(s"$base/out")
        .select("id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val idx1 = spark.read.parquet(s"$base/idx").count()
      assert(flags1 == Seq((10L, 1L)) && idx1 == 4)
      // simulate the at-least-once crash window: batch 1's INDEX write
      // completed but its checkpoint commit did not — delete the commit
      // marker, restart, and the engine replays batch 1 against an index
      // that already contains batch 1's own sketches. The flat-append
      // design flagged 10→10/10→11 self/batch pairs here and doubled the
      // index; the batch-partitioned probe must reproduce EXACTLY the
      // first run's state.
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete() // checksum twin
      drain()
      val flags2 = spark.read.parquet(s"$base/out")
        .select("id", "corpus_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(flags2 == flags1, s"replay changed flags: $flags2 vs $flags1")
      assert(spark.read.parquet(s"$base/idx").count() == idx1,
        "replay duplicated index rows")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("checkpoint restart recovery: a NEW query over the same checkpoint " +
       "resumes after the committed batches, never re-appending them") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val docs = Seq((1L, ""), (2L, "")).toDF("doc_id", "text").limit(0)
    graft.pipeline.Dedup.writeLineIndex(docs, "text", "doc_id",
      s"$base/idx", "\n", minChars = 5)
    new java.io.File(s"$base/feed").mkdirs()
    def slice(k: Int, rows: Seq[(Long, String)]): Unit = {
      val stage = s"$base/stage$k"
      rows.toDF("doc_id", "text").repartition(1)
        .write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      assert(tgt.setLastModified(1700000000000L + k * 60000L))
    }
    def drain(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = StreamOps.dedupLinesStream(spark, stream, "text", "doc_id",
        s"$base/idx", s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    slice(0, Seq((1L, "shared line alpha\nunique to one")))
    drain() // lifetime #1 commits batch 0
    slice(1, Seq((2L, "shared line alpha\nsecond doc line")))
    drain() // lifetime #2: must process ONLY slice 1
    val out = spark.read.parquet(s"$base/out/data")
      .select("doc_id", "text", "n_removed").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1L, 2L)) // doc 1 exactly once: no re-append
    assert(out(1L) == ("shared line alpha\nunique to one", 0L))
    assert(out(2L) == ("second doc line", 1L)) // cross-LIFETIME suppression
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("streaming incremental curate: cross-batch dedup + continued offsets") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val idx = graft.TestDirs.fresh("graft_stream_curate_idx")
    graft.pipeline.Dedup.writeMinhashIndex(corpus, "text", "doc_id", idx)
    val out = graft.TestDirs.fresh("graft_stream_curate_out")
    val ckpt = graft.TestDirs.fresh("graft_stream_curate_ckpt")
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
    val cfg = graft.pipeline.Curate.Config(minQuality = 0.2, shards = 1)
    val q = StreamOps.curateStream(spark, stream, "text", "doc_id", idx, out, ckpt, cfg)
    try {
      input.addData(
        (1000L, "it was the best of times and it was the worst of times for all of us"),
        (1001L, "the quick brown fox jumps over the lazy dog near the river bank today"), // corpus dup
        (1002L, "12345 67890 !!!")) // no language
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$out/data").select("doc_id", "pack_offset")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(b1 == Map(1000L -> 0L), b1.toString)
      input.addData(
        // duplicate of a BATCH-1 survivor: caught because the survivor's
        // sketch was appended to the index after batch 1
        (2000L, "it was the best of times and it was the worst of times for all of us"),
        (2001L, "we were all going direct to heaven and we were all going direct the other way"))
      q.processAllAvailable()
      val b2 = spark.read.parquet(s"$out/data").select("doc_id", "pack_offset")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // batch-2 survivor's pack offset CONTINUES the shard stream (17
      // tokens of doc 1000 precede it)
      assert(b2 == Map(1000L -> 0L, 2001L -> 17L), b2.toString)
    } finally q.stop()
  }

  test("streaming line dedup: cross-batch line suppression via the key index") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val standing = Seq((1L, "standing boilerplate line\nstanding unique line"))
      .toDF("doc_id", "text")
    val idx = graft.TestDirs.fresh("graft_stream_lidx")
    val out = graft.TestDirs.fresh("graft_stream_lidx_out")
    val ckpt = graft.TestDirs.fresh("graft_stream_lidx_ckpt")
    graft.pipeline.Dedup.writeLineIndex(standing, "text", "doc_id", idx,
      "\n", minChars = 4)
    val input = MemoryStream[(Long, String)]
    val q = StreamOps.dedupLinesStream(spark, input.toDF().toDF("doc_id", "text"),
      "text", "doc_id", idx, out, ckpt)
    try {
      input.addData(
        (100L, "standing boilerplate line\nfresh batch-one line"), // line 1 cut
        (101L, "fresh batch-one line\nanother fresh line"))        // first line cut (100 owns it)
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$out/data")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(b1 == Map(100L -> "fresh batch-one line",
        101L -> "another fresh line"), b1.toString)
      input.addData(
        // duplicates a BATCH-1 survivor line: caught because batch 1's new
        // keys were appended to the index
        (200L, "another fresh line\nbatch-two novelty"))
      q.processAllAvailable()
      val b2 = spark.read.parquet(s"$out/data")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(b2 == Map(100L -> "fresh batch-one line",
        101L -> "another fresh line", 200L -> "batch-two novelty"), b2.toString)
    } finally q.stop()
  }

  test("stream-static enrichment join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[StreamOps.Event]
    val enriched = StreamOps.enrich(input.toDF(), dim, Seq("user_id"))
    val q = enriched.writeStream.outputMode("append")
      .format("memory").queryName("enriched").start()
    try {
      input.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0),
        StreamOps.Event(2, ts("2026-01-01 10:00:01"), 9, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, tier FROM enriched ORDER BY event_id").collect()
      assert(rows(0).getString(1) == "gold")
      assert(rows(1).isNullAt(1)) // unknown user → left-join null
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to clicks within the horizon") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamOps.Event]
    val purchases = MemoryStream[StreamOps.Event]
    val joined = StreamOps.intervalJoin(
      clicks.toDF().select(col("user_id"), col("ts"), col("event_id").as("click_id")),
      purchases.toDF().select(col("user_id"), col("ts"), col("event_id").as("purchase_id")),
      Seq("user_id"), within = "30 minutes", watermarkDelay = "1 minute")
    val q = joined.select("click_id", "purchase_id_r").writeStream
      .outputMode("append").format("memory").queryName("attributed").start()
    try {
      clicks.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 0),
        StreamOps.Event(2, ts("2026-01-01 10:00:00"), 2, "click", 0))
      purchases.addData(
        StreamOps.Event(10, ts("2026-01-01 10:10:00"), 1, "purchase", 5.0), // within
        StreamOps.Event(11, ts("2026-01-01 11:10:00"), 1, "purchase", 5.0), // beyond 30m
        StreamOps.Event(12, ts("2026-01-01 09:59:00"), 2, "purchase", 5.0)) // before click
      q.processAllAvailable()
      // second batch: a purchase for user 2 inside the horizon still joins
      purchases.addData(
        StreamOps.Event(13, ts("2026-01-01 10:20:00"), 2, "purchase", 5.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, purchase_id_r FROM attributed").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
      assert(got == Set(1L -> 10L, 2L -> 13L))
    } finally q.stop()
  }

  test("interval join left_outer: unconverted clicks emit null after watermark expiry") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[StreamOps.Event]
    val purchases = MemoryStream[StreamOps.Event]
    val joined = StreamOps.intervalJoin(
      clicks.toDF().select(col("user_id"), col("ts"), col("event_id").as("click_id")),
      purchases.toDF().select(col("user_id"), col("ts"), col("event_id").as("purchase_id")),
      Seq("user_id"), within = "10 minutes", watermarkDelay = "1 minute",
      joinType = "left_outer")
    val q = joined.select("click_id", "purchase_id_r").writeStream
      .outputMode("append").format("memory").queryName("outer_attr").start()
    try {
      clicks.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 0),   // will convert
        StreamOps.Event(2, ts("2026-01-01 10:00:00"), 2, "click", 0))   // never converts
      purchases.addData(
        StreamOps.Event(10, ts("2026-01-01 10:05:00"), 1, "purchase", 5.0))
      q.processAllAvailable()
      // advance BOTH watermarks far past click horizon so the unmatched
      // left row expires and emits with a null right side
      clicks.addData(StreamOps.Event(99, ts("2026-01-01 12:00:00"), 9, "click", 0))
      purchases.addData(StreamOps.Event(98, ts("2026-01-01 12:00:00"), 9, "purchase", 0))
      q.processAllAvailable()
      val got = spark.sql("SELECT click_id, purchase_id_r FROM outer_attr").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
      assert(got.get(1L).contains(10L), got)
      assert(got.get(2L).contains(-1L), got) // expired unmatched → null right
    } finally q.stop()
  }

  test("streaming spatial enrichment: grid equi-join against static polygons") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    graft.spatial.functions.register(spark)
    val G = graft.spatial.functions
    // static zones: unit squares at x ∈ [100z, 100z+50], z = 0,1,2
    val zones = Seq(0, 1, 2).toDF("zone")
      .withColumn("rect", G.st_makeenvelope(
        col("zone").cast("double") * 100.0, lit(0.0),
        col("zone").cast("double") * 100.0 + 50.0, lit(50.0)))
    val input = MemoryStream[(Long, Double, Double)]
    val pts = input.toDF().toDF("id", "x", "y")
      .withColumn("pt", G.st_point(col("x"), col("y")))
    val joined = StreamOps.spatialEnrich(pts, zones,
      col("pt"), col("rect"), (p, rect) => G.st_contains(rect, p), cellSize = 60.0)
    val q = joined.select("id", "zone").writeStream.outputMode("append")
      .format("memory").queryName("zoned").start()
    try {
      input.addData((1L, 10.0, 10.0), (2L, 140.0, 25.0), (3L, 280.0, 10.0), (4L, 75.0, 10.0))
      q.processAllAvailable()
      val got = spark.sql("SELECT id, zone FROM zoned").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      // 3 (x=280) and 4 (x=75) fall in no zone
      assert(got == Map(1L -> 0, 2L -> 1))
    } finally q.stop()
  }

  test("streaming dedup drops redelivered events") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val deduped = StreamOps.dedupEvents(input.toDF(), Seq("event_id"), "1 minute")
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName("dedup").start()
    try {
      input.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0),
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0), // duplicate
        StreamOps.Event(2, ts("2026-01-01 10:00:05"), 1, "view", 2.0))
      q.processAllAvailable()
      input.addData(StreamOps.Event(1, ts("2026-01-01 10:00:00"), 1, "click", 1.0)) // redelivery
      q.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM dedup").head().getLong(0)
      assert(n == 2)
    } finally q.stop()
  }

  test("streaming agg-state maintenance: batches append partials, read view is exact") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_aggstream").toString
    val input = MemoryStream[(String, Long)]
    val q = StreamOps.aggStateStream(spark,
      input.toDF().toDF("k", "v"), Seq("k"), "v",
      s"$base/state", s"$base/ckpt")
    try {
      input.addData(("a", 5L), ("a", 7L), ("b", 1L))
      q.processAllAvailable()
      input.addData(("a", 2L), ("c", 9L))
      q.processAllAvailable()
      val got = graft.pipeline.Materialize.readAggState(spark, s"$base/state", Seq("k"))
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(got == Map(
        "a" -> ((3L, 14L, 2L, 7L)),
        "b" -> ((1L, 1L, 1L, 1L)),
        "c" -> ((1L, 9L, 9L, 9L))))
    } finally q.stop()
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
  }

  test("streaming sessionization closes sessions on gap + watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Event]
    val sessions = StreamOps.sessionize(input.toDS(), gapMinutes = 30, watermarkDelay = "1 minute")
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions").start()
    try {
      // session 1 for user 7: two events 10 min apart
      input.addData(
        StreamOps.Event(1, ts("2026-01-01 10:00:00"), 7, "click", 1.0),
        StreamOps.Event(2, ts("2026-01-01 10:10:00"), 7, "click", 2.0))
      q.processAllAvailable()
      // next event 2 hours later → closes session 1 within the same group batch
      input.addData(StreamOps.Event(3, ts("2026-01-01 12:10:00"), 7, "view", 3.0))
      q.processAllAvailable()
      // advance watermark far enough to time out session 2
      input.addData(StreamOps.Event(4, ts("2026-01-01 15:00:00"), 8, "view", 4.0))
      q.processAllAvailable()
      input.addData(StreamOps.Event(5, ts("2026-01-01 18:00:00"), 8, "view", 5.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, n_events, total_value FROM sessions WHERE user_id = 7 ORDER BY session_start")
        .collect()
      assert(rows.length >= 1)
      assert(rows(0).getLong(0) == 7 && rows(0).getLong(1) == 2 && rows(0).getDouble(2) == 3.0)
    } finally q.stop()
  }

  test("randomized ordered replay fuzz: ewmaStream + sessionize equal batch on a µs-grained corpus") {
    // MICROsecond-granular timestamps — the grid the round-11 ms-truncation
    // bug hid on (every prior fixture was ms-aligned); random batch splits
    // along the (ts, tie) order, including splits inside equal-ts groups
    // (legal for both operators: ewma's late rule admits equal-ts larger-tie
    // rows, session boundaries depend only on ts values)
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def micros(t: Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    def mkTs(us: Long): Timestamp = {
      val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
      t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
      t
    }
    val rnd = new scala.util.Random(211)
    for (_ <- 1 to 2) {
      val events = (1 to 240).map { i =>
        val us = 1704067200000000L + rnd.nextInt(7200).toLong * 1000000L +
          rnd.nextInt(1000000) // random sub-ms fraction
        (rnd.nextInt(5).toLong + 1L, mkTs(us), i.toLong,
          rnd.nextInt(100).toDouble)
      }
      val ordered = events.sortBy(e => (micros(e._2), e._3))
      val nB = 2 + rnd.nextInt(3)
      val cuts = (Seq(0, ordered.length) ++
        Seq.fill(nB - 1)(rnd.nextInt(ordered.length))).sorted
      val batches = cuts.zip(cuts.tail).map { case (a, b) => ordered.slice(a, b) }

      // --- ewmaStream: final view per key == the batch fold
      val in1 = MemoryStream[StreamOps.Obs]
      val q1 = StreamOps.ewmaStream(in1.toDS(), alpha = 0.25)
        .writeStream.outputMode("update")
        .format("memory").queryName("fuzz_ewma").start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) {
            in1.addData(b.map(e => StreamOps.Obs(e._1, e._2, e._3, e._4)))
            q1.processAllAvailable()
          }
        }
        val got = spark.sql("SELECT key, n_events, ewma FROM fuzz_ewma").collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
          .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
        val batch = graft.pipeline.Sessions
          .ewma(events.toDF("key", "ts", "tie", "value"),
            "key", "ts", "tie", "value", alpha = 0.25)
          .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
        assert(got == batch, s"ewma fuzz: $got vs $batch")
      } finally q1.stop()

      // --- sessionize: closed sessions (after a far-future sentinel times
      // everything out) == batch sessionization, to the exact microsecond
      val in2 = MemoryStream[StreamOps.Event]
      val q2 = StreamOps.sessionize(in2.toDS(), gapMinutes = 10,
          watermarkDelay = "1 minute")
        .writeStream.outputMode("append")
        .format("memory").queryName("fuzz_sessions").start()
      try {
        batches.foreach { b =>
          if (b.nonEmpty) {
            in2.addData(b.map(e => StreamOps.Event(e._3, e._2, e._1, "t", e._4)))
            q2.processAllAvailable()
          }
        }
        in2.addData(StreamOps.Event(-1L,
          mkTs(micros(ordered.last._2) + 86400000000L), -1L, "sentinel", 0.0))
        q2.processAllAvailable()
        val got = spark.sql(
          """SELECT user_id, unix_micros(session_start), unix_micros(session_end),
                    n_events FROM fuzz_sessions WHERE user_id > 0""").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        val batch = graft.pipeline.Sessions
          .sessionStats(events.map(e => (e._1, e._2, e._3, e._4))
            .toDF("user_id", "ts", "event_id", "value"), gapMinutes = 10)
          .select(col("user_id"), unix_micros(col("session_start")),
            unix_micros(col("session_end")), col("n_events"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        assert(got == batch,
          s"sessionize fuzz: missing=${batch -- got} extra=${got -- batch}")
      } finally q2.stop()
    }
  }

  test("latestPerKey: upsert view, out-of-order changes never regress") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Change]
    val q = StreamOps.latestPerKey(input.toDS())
      .writeStream.outputMode("update")
      .format("memory").queryName("latest").start()
    def view() = spark.sql("SELECT key, ts, value FROM latest").collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1), r.getString(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 } // last update wins
    try {
      input.addData(
        StreamOps.Change(1L, ts("2024-01-01 10:00:00"), "v1"),
        StreamOps.Change(2L, ts("2024-01-01 11:00:00"), "v2"),
        // same batch, same key: newer ts wins within the batch too
        StreamOps.Change(1L, ts("2024-01-01 10:30:00"), "v1b"))
      q.processAllAvailable()
      val v1 = view()
      assert(v1(1L) == ((ts("2024-01-01 10:30:00"), "v1b")))
      assert(v1(2L) == ((ts("2024-01-01 11:00:00"), "v2")))
      input.addData(
        // key 1: genuinely newer → view advances
        StreamOps.Change(1L, ts("2024-01-01 12:00:00"), "v1c"),
        // key 2: LATE, older than the standing latest → view must not regress
        StreamOps.Change(2L, ts("2024-01-01 09:00:00"), "stale"))
      q.processAllAvailable()
      val v2 = view()
      assert(v2(1L) == ((ts("2024-01-01 12:00:00"), "v1c")))
      assert(v2(2L) == ((ts("2024-01-01 11:00:00"), "v2")))
    } finally q.stop()
  }

  test("latestPerKey with ttl: churned-out keys expire from the state " +
       "store; re-arriving keys restart cleanly; values unchanged") {
    import spark.implicits._
    import scala.concurrent.duration._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Change]
    val q = StreamOps.latestPerKey(input.toDS(), ttl = Some(30.minutes),
        watermarkDelay = "1 minute")
      .writeStream.outputMode("update")
      .format("memory").queryName("latest_ttl").start()
    def stateRows() = q.lastProgress.stateOperators(0).numRowsTotal
    def view() = spark.sql("SELECT key, value FROM latest_ttl").collect()
      .map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    try {
      input.addData(
        StreamOps.Change(1L, ts("2024-01-01 10:00:00"), "v1"),
        StreamOps.Change(2L, ts("2024-01-01 10:00:00"), "v2"))
      q.processAllAvailable()
      assert(view() == Map(1L -> "v1", 2L -> "v2"))
      // advance the watermark past key 1's (ts + ttl) horizon via key 2
      // alone: 12:00 − 1 min delay = 11:59 ≫ 10:30; key 1's state row
      // must vanish (the state-size bound the knob exists for)
      input.addData(StreamOps.Change(2L, ts("2024-01-01 12:00:00"), "v2b"))
      q.processAllAvailable()
      // one empty trigger so the timeout fires under the advanced
      // watermark (timeouts process on the batch AFTER the watermark
      // moves)
      input.addData(StreamOps.Change(2L, ts("2024-01-01 12:00:30"), "v2c"))
      q.processAllAvailable()
      assert(stateRows() == 1L, s"expired key still in store: ${stateRows()}")
      // re-arrival restarts the key cleanly (fresh fold from this change)
      input.addData(StreamOps.Change(1L, ts("2024-01-01 12:30:00"), "v1new"))
      q.processAllAvailable()
      assert(view()(1L) == "v1new")
      assert(stateRows() == 2L)
    } finally q.stop()
  }

  test("ewmaStream: in-order batches equal the batch fold; late stragglers dropped") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[StreamOps.Obs]
    val q = StreamOps.ewmaStream(input.toDS(), alpha = 0.25)
      .writeStream.outputMode("update")
      .format("memory").queryName("ewma_view").start()
    def view() = spark.sql("SELECT key, n_events, ewma FROM ewma_view").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2))))
      .groupBy(_._1).map { case (k, vs) => k -> vs.last._2 }
    def fold(xs: Seq[Double]) =
      xs.tail.foldLeft(xs.head)((acc, x) => 0.25 * x + 0.75 * acc)
    try {
      input.addData(
        StreamOps.Obs(1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
        // same batch out of order: fold must sort by (ts, tie) first
        StreamOps.Obs(1L, ts("2024-01-01 10:02:00"), 3L, 40.0),
        StreamOps.Obs(1L, ts("2024-01-01 10:01:00"), 2L, 20.0))
      q.processAllAvailable()
      assert(view()(1L) == ((3L, fold(Seq(10.0, 20.0, 40.0)))))
      input.addData(
        // second batch continues the fold from standing state
        StreamOps.Obs(1L, ts("2024-01-01 10:03:00"), 4L, 0.0),
        // LATE: at-or-before the state's (ts, tie) → dropped, not refolded
        StreamOps.Obs(1L, ts("2024-01-01 10:00:30"), 9L, 999.0),
        StreamOps.Obs(2L, ts("2024-01-01 09:00:00"), 1L, 7.5))
      q.processAllAvailable()
      val v = view()
      assert(v(1L) == ((4L, fold(Seq(10.0, 20.0, 40.0, 0.0)))))
      assert(v(2L) == ((1L, 7.5)))
      // equality with the batch operator over the same (kept) events
      val kept = Seq(
        (1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
        (1L, ts("2024-01-01 10:01:00"), 2L, 20.0),
        (1L, ts("2024-01-01 10:02:00"), 3L, 40.0),
        (1L, ts("2024-01-01 10:03:00"), 4L, 0.0),
        (2L, ts("2024-01-01 09:00:00"), 1L, 7.5))
        .toDF("key", "ts", "tie", "value")
      val batch = graft.pipeline.Sessions
        .ewma(kept, "key", "ts", "tie", "value", alpha = 0.25)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
      assert(batch == v)
    } finally q.stop()
  }

  // STATE-STORE restart recovery — the stateful complement of the q232
  // board face (which certifies the foreachBatch/file-source side): a
  // mapGroupsWithState query is stopped after committed batches and a NEW
  // query resumes from the same checkpoint — the reloaded per-key state
  // must continue the EWMA fold exactly where lifetime #1 left it (a
  // reload that lost or coarsened state would change the IEEE chain).
  // Run on both providers: the HDFS on-heap store and RocksDB (whose
  // checkpoint format + reload path are entirely different code).
  for (provider <- Seq("hdfs-onheap", "rocksdb"))
    test(s"stateful restart recovery [$provider]: reloaded mapGroupsWithState " +
         "state continues the fold across query lifetimes") {
      import spark.implicits._
      val base = java.nio.file.Files.createTempDirectory("graft_strestart").toString
      val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      if (provider == "rocksdb")
        spark.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        def slice(k: Int, rows: Seq[StreamOps.Obs]): Unit = {
          val stage = s"$base/stage$k"
          rows.toDS().toDF().repartition(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
          tgt.getParentFile.mkdirs()
          java.nio.file.Files.move(part.toPath, tgt.toPath)
          assert(tgt.setLastModified(1700000000000L + k * 60000L))
        }
        def drain(): Unit = {
          val stream = spark.readStream
            .schema(implicitly[org.apache.spark.sql.Encoder[StreamOps.Obs]].schema)
            .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
            .as[StreamOps.Obs]
          val q = StreamOps.ewmaStream(stream, alpha = 0.25)
            .toDF().writeStream.outputMode("update")
            .option("checkpointLocation", s"$base/ckpt")
            .foreachBatch {
              (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
                b.withColumn("__b", lit(bid)).write.mode("append").parquet(s"$base/out")
                ()
            }.start()
          try q.processAllAvailable() finally q.stop()
        }
        slice(0, Seq(StreamOps.Obs(1L, ts("2024-01-01 10:00:00"), 1L, 10.0),
          StreamOps.Obs(1L, ts("2024-01-01 10:01:00"), 2L, 20.0)))
        drain() // lifetime #1: state(key 1) = fold(10, 20), committed
        slice(1, Seq(StreamOps.Obs(1L, ts("2024-01-01 10:02:00"), 3L, 40.0),
          StreamOps.Obs(2L, ts("2024-01-01 10:00:00"), 1L, 7.5)))
        drain() // lifetime #2: NEW query, reloaded state continues the chain
        val last = spark.read.parquet(s"$base/out")
          .groupBy("key").agg(max(struct(col("__b"), col("n_events"), col("ewma"))).as("w"))
          .collect().map(r => r.getLong(0) ->
            (r.getStruct(1).getLong(1), r.getStruct(1).getDouble(2))).toMap
        val expect1 = 0.25 * 40.0 + 0.75 * (0.25 * 20.0 + 0.75 * 10.0)
        assert(last(1L) == ((3L, expect1))) // exact IEEE chain across the restart
        assert(last(2L) == ((1L, 7.5)))
      } finally {
        prev match {
          case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        }
        org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(base))
      }
    }

  test("duplicateSpansStream: arrival-time spans — within-batch repeats and " +
       "earlier-batch hits flag, later duplicates never flag backwards; " +
       "replay changes nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dspstr").toString
    try {
      val run = "w1 w2 w3 w4 w5 w6 w7 w8" // the shared 8-token run
      val slices = Seq(
        // batch 0: doc 1 holds the run ONCE (must NOT flag — nothing
        // earlier, no within-batch repeat); doc 2 repeats its own 8-gram
        // back-to-back (within-batch self-repetition MUST flag)
        0 -> Seq(
          1L -> s"a1 a2 $run a3",
          2L -> "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
        // batch 1: doc 10 carries the run seen in batch 0 → flags here;
        // doc 1 is NOT retroactively flagged
        1 -> Seq(10L -> s"$run tail1 tail2"))
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("doc_id", "text").repartition(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.duplicateSpansStream(spark, stream, "text",
          "doc_id", 8, s"$base/index", s"$base/out", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def spans() = spark.read.parquet(s"$base/out")
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val first = spans()
      // doc 2: 16 tokens, gram[r1..r8] at p=0 and p=8 → merged [1, 16];
      // doc 10: the 8-token prefix flags against batch 0's sighting;
      // doc 1 absent (its copy arrived FIRST)
      assert(first == Seq((2L, 1L, 16L, 16L), (10L, 1L, 8L, 8L)))
      // at-least-once replay of committed batch 1: index already holds
      // batch 1's own digests — the __batch < bid probe must not let
      // them flag the replayed positions (doc 10's tail grams are unique;
      // a self-counting probe would flag the whole doc)
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(spans() == first, "replay changed the span set")
      // digests are unique per (hash, batch) — a hash legitimately
      // recurs across batches (the run is in batch 0 AND batch 1), but a
      // replayed append would duplicate rows WITHIN batch 1's partition
      assert(spark.read.parquet(s"$base/index")
        .select("__h", "__batch").distinct().count() ==
        spark.read.parquet(s"$base/index").count(),
        "replay duplicated index digests")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("contaminationSpansStream: streamed spans across batches == batch operator") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_contamstr").toString
    try {
      val ref = Seq(100L -> "e1 e2 e3 e4 e5 e6 e7 e8 e9").toDF("doc_id", "text")
      val docs = Seq(
        1L -> "a1 a2 e1 e2 e3 e4 e5 e6 e7 e8 e9 a3",  // contaminated, batch 0
        2L -> "clean c1 c2 c3 c4 c5 c6 c7 c8 c9",     // clean, batch 0
        3L -> "e1 e2 e3 e4 e5 e6 e7 e8 tail")          // contaminated, batch 1
      // two slice files so the operator provably accumulates across batches
      for ((k, ids) <- Seq(0 -> Set(1L, 2L), 1 -> Set(3L))) {
        val stage = s"$base/stage$k"
        docs.filter(d => ids(d._1)).toDF("doc_id", "text")
          .repartition(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream
          .schema(docs.toDF("doc_id", "text").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.contaminationSpansStream(spark, stream, ref,
          "text", "doc_id", 8, s"$base/out", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def streamed() = spark.read.parquet(s"$base/out")
        .select("doc_id", "span_start", "span_end", "span_len")
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      val got = streamed()
      val batch = graft.pipeline.Dedup.contaminationSpans(
          docs.toDF("doc_id", "text"), ref, "text", "doc_id", l = 8)
        .orderBy("doc_id", "span_start")
        .as[(Long, Long, Long, Long)].collect().toSeq
      assert(got == batch)
      // and the spans are the expected ones: doc 1 covers the 9 eval
      // tokens (windows p=2,3 merge), doc 3 its 8-token prefix
      assert(got == Seq((1L, 3L, 11L, 9L), (3L, 1L, 8L, 8L)))
      // at-least-once replay of committed batch 1 reproduces its span
      // partition instead of appending duplicates (the flat append did)
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(streamed() == got, "replay duplicated span rows")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("heavyHittersStream: log-structured CMS state — read view is the " +
       "exact batch answer over everything streamed; replay changes nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_hhstr").toString
    try {
      val slices = Seq(
        0 -> (Seq.fill(60)("hot") ++ Seq.fill(10)("warm") ++
          (0 until 20).map(i => s"c$i")),
        1 -> (Seq.fill(40)("hot") ++ Seq.fill(40)("warm") ++
          (20 until 40).map(i => s"c$i")))
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("k").repartition(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream.schema("k STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.heavyHittersStream(spark, stream, "k",
          s"$base/state", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def hh() = StreamOps.readHeavyHitters(spark, s"$base/state", "k", 0.2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = hh()
      // exact over the union (N=190, thresh ⌈38⌉): cnt("hot")=100, "warm"=50
      assert(got == Map("hot" -> 100L, "warm" -> 50L))
      assert(got == graft.pipeline.Stats.heavyHitters(
          slices.flatMap(_._2).toDF("k"), "k", 0.2)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      // at-least-once replay of committed batch 1: per-batch partition
      // overwrite must reproduce, not double-count, its cells and rows
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(hh() == got, "replay changed the heavy-hitter set")
      assert(spark.read.parquet(s"$base/state/data").count() == 190L,
        "replay duplicated data rows")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("distinctCountStream: per-batch register partitions max-merge to " +
       "the batch HLL bit-identically; prefixes are valid; replay changes nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dcstr").toString
    try {
      val slices = Seq(
        0 -> (0 until 2000).map(i => s"u-$i"),
        1 -> (1000 until 3000).map(i => s"u-$i")) // overlaps slice 0
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("k").repartition(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream.schema("k STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.distinctCountStream(spark, stream, "k",
          s"$base/idx", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      // whole-log estimate == from-scratch over the union, bit-identical
      val union = slices.flatMap(_._2).toDF("k")
      assert(graft.pipeline.Stats.readHllDistinct(spark, s"$base/idx")
          .collect().toSeq ==
        graft.pipeline.Stats.hllDistinct(union, "k").collect().toSeq)
      // any batch PREFIX of the log is a valid register state: the
      // cumulative estimate after batch 0 equals batch HLL over slice 0
      val idx = spark.read.parquet(s"$base/idx")
      assert(graft.pipeline.Stats
          .hllEstimate(idx.filter(col("__batch") <= 0), 12)
          .collect().toSeq ==
        graft.pipeline.Stats.hllDistinct(slices(0)._2.toDF("k"), "k")
          .collect().toSeq)
      // replay of committed batch 1 reproduces its register partition
      val before = idx.orderBy("__batch", "__b").collect().toSeq
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(spark.read.parquet(s"$base/idx")
        .orderBy("__batch", "__b").collect().toSeq == before,
        "replay changed the register log")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("distinctCountStream at p = 16: the DECIMAL(38,0) estimator arm " +
       "replays through the register log bit-identically") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dc16").toString
    try {
      val slices = Seq(
        0 -> (0 until 2000).map(i => s"u-$i"),
        1 -> (1000 until 3000).map(i => s"u-$i"))
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("k").repartition(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      def drain(): Unit = {
        val stream = spark.readStream.schema("k STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.distinctCountStream(spark, stream, "k",
          s"$base/idx", s"$base/ckpt", p = 16)
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      // the p stamp survives the log round trip and the wide-decimal
      // estimate over the streamed log equals from-scratch p=16 HLL
      val got = graft.pipeline.Stats.readHllDistinct(spark, s"$base/idx")
      assert(got.schema("harmonic_sum").dataType ==
        org.apache.spark.sql.types.DecimalType(38, 0),
        "p=16 log did not take the DECIMAL(38,0) arm")
      val union = slices.flatMap(_._2).toDF("k")
      assert(got.collect().toSeq ==
        graft.pipeline.Stats.hllDistinct(union, "k", p = 16)
          .collect().toSeq)
      // replay of committed batch 1 reproduces its register partition
      val before = spark.read.parquet(s"$base/idx")
        .orderBy("__batch", "__b").collect().toSeq
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(spark.read.parquet(s"$base/idx")
        .orderBy("__batch", "__b").collect().toSeq == before,
        "replay changed the p=16 register log")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("groupedTopKStream: per-batch partials re-rank to the exact batch " +
       "top-k; later batches displace earlier leaders; replay changes nothing") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_gtkstr").toString
    try {
      val slices = Seq(
        // batch 0: group g1 leaders are (id 1, 9.0), (id 2, 7.0)
        0 -> Seq((1L, "g1", 9.0), (2L, "g1", 7.0), (3L, "g1", 1.0),
          (4L, "g2", 5.0)),
        // batch 1: id 10 takes g1's top spot, id 11 displaces id 2;
        // value tie with id 1 (9.0) resolves by id — 1 < 12
        1 -> Seq((10L, "g1", 20.0), (11L, "g1", 8.0), (12L, "g1", 9.0)))
      for ((k, rows) <- slices) {
        val stage = s"$base/stage$k"
        rows.toDF("id", "g", "v").repartition(1)
          .write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
        tgt.getParentFile.mkdirs()
        java.nio.file.Files.move(part.toPath, tgt.toPath)
        assert(tgt.setLastModified(1700000000000L + k * 60000L))
      }
      val ord = Seq(("v", false), ("id", true))
      def drain(): Unit = {
        val stream = spark.readStream.schema("id LONG, g STRING, v DOUBLE")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.groupedTopKStream(spark, stream, Seq("g"), ord,
          k = 3, s"$base/state", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def view() = StreamOps.readGroupedTopK(spark, s"$base/state",
          Seq("g"), ord, k = 3)
        .select("g", "rank", "id", "v")
        .orderBy("g", "rank").as[(String, Int, Long, Double)].collect().toSeq
      val got = view()
      assert(got == Seq(
        ("g1", 1, 10L, 20.0), ("g1", 2, 1L, 9.0), ("g1", 3, 12L, 9.0),
        ("g2", 1, 4L, 5.0)))
      // equals the batch operator over the union
      val batch = graft.pipeline.GroupedTopK.topK(
          slices.flatMap(_._2).toDF("id", "g", "v"), Seq("g"), ord, 3)
        .select("g", "rank", "id", "v")
        .orderBy("g", "rank").as[(String, Int, Long, Double)].collect().toSeq
      assert(got == batch)
      // replay of committed batch 1 reproduces its partial partition
      assert(new java.io.File(s"$base/ckpt/commits/1").delete())
      new java.io.File(s"$base/ckpt/commits/.1.crc").delete()
      drain()
      assert(view() == got, "replay changed the leaderboard")
      assert(spark.read.parquet(s"$base/state").count() == 7L,
        "replay duplicated partial rows") // 4 from batch 0 (g1 top-3 + g2) + 3 from batch 1
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("psiStream: windowed drift vs a static baseline matches the batch PSI arithmetic") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // baseline: uniform over bins 0..4 (values 0.5, 1.5, …, 4.5 ×10)
    val baseline = (0 until 5).flatMap(b => Seq.fill(10)(b + 0.5)).toDF("value")
    val input = MemoryStream[(Long, Timestamp, Double)]
    val stream = input.toDF().toDF("event_id", "ts", "value")
    val psi = StreamOps.psiStream(stream, baseline, "value",
      lo = 0.0, hi = 5.0, nBins = 5, windowLen = "10 minutes")
    // ALL data lands before the query starts → exactly one micro-batch,
    // so each window updates once (a started query polls continuously,
    // and update mode re-emits a window per batch that touches it — the
    // memory sink would then hold both partial and final rows, a
    // timing-dependent flake under load)
    // window 1: same uniform shape → PSI 0
    (0 until 5).zipWithIndex.foreach { case (b, i) =>
      input.addData((i.toLong, ts("2024-01-01 10:01:00"), b + 0.5)) }
    // window 2: all mass in bin 0 → strong drift
    (0 until 10).foreach { i =>
      input.addData((100L + i, ts("2024-01-01 10:11:00"), 0.5)) }
    val q = psi.writeStream.outputMode("update").format("memory")
      .queryName("psi_view").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT window.start, n, n_bins_used, psi FROM psi_view ORDER BY 1")
        .collect()
      assert(rows.length == 2)
      assert(rows(0).getLong(1) == 5L && rows(0).getLong(2) == 5L &&
        math.abs(rows(0).getDouble(3)) < 1e-12) // no drift
      // drifted window: only bin 0 occupied on both sides;
      // p0 = 1, q0 = 0.2 → psi = (1 − 0.2)·ln(1/0.2)
      val exp = (1.0 - 0.2) * math.log(1.0 / 0.2)
      assert(rows(1).getLong(1) == 10L && rows(1).getLong(2) == 1L &&
        math.abs(rows(1).getDouble(3) - exp) < 1e-12)
      // arithmetic parity with the batch operator on the same slice
      val w2 = Seq.fill(10)(0.5).toDF("value")
      val batch = graft.pipeline.Stats.psi(w2, baseline, "value", 0.0, 5.0, 5)
        .collect()(0)
      assert(math.abs(batch.getDouble(4) - rows(1).getDouble(3)) < 1e-12)
    } finally q.stop()
  }

  // shared scaffolding for the commit-marker-deletion replay tests: write
  // id-ordered parquet slices with pinned mtimes into a watched feed dir
  private def publishSlices[T <: org.apache.spark.sql.Dataset[_]](
      base: String, slices: Seq[(Int, T)]): Unit =
    for ((k, df) <- slices) {
      val stage = s"$base/stage$k"
      df.repartition(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val tgt = new java.io.File(s"$base/feed", f"slice-$k%03d.parquet")
      tgt.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, tgt.toPath)
      assert(tgt.setLastModified(1700000000000L + k * 60000L))
    }

  private def dropCommit(base: String, bid: Int): Unit = {
    assert(new java.io.File(s"$base/ckpt/commits/$bid").delete())
    new java.io.File(s"$base/ckpt/commits/.$bid.crc").delete() // checksum twin
  }

  test("aggStateStream: an at-least-once REPLAY of a committed batch never " +
       "double-counts its partials") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_aggrp").toString
    try {
      publishSlices(base, Seq(
        0 -> Seq(("a", 1.0), ("b", 2.0), ("a", 3.0)).toDF("k", "v"),
        1 -> Seq(("a", 10.0), ("c", 5.0)).toDF("k", "v")))
      def drain(): Unit = {
        val stream = spark.readStream.schema("k STRING, v DOUBLE")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.aggStateStream(spark, stream, Seq("k"), "v",
          s"$base/state", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def view() = graft.pipeline.Materialize
        .readAggState(spark, s"$base/state", Seq("k"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      val got = view()
      assert(got == Map("a" -> (3L, 14.0), "b" -> (1L, 2.0), "c" -> (1L, 5.0)))
      // crash window: batch 1's partials landed but its checkpoint commit
      // did not — the round-12 flat append double-counted a and c here
      dropCommit(base, 1)
      drain()
      assert(view() == got, "replay double-counted a batch's partials")
      assert(spark.read.parquet(s"$base/state")
        .filter(col("__batch") === 1).count() == 2L,
        "replay duplicated partial rows inside the batch partition")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("dedupLinesStream: an at-least-once REPLAY of a committed batch " +
       "never dedups the batch against its own first-attempt keys") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dlsrp").toString
    try {
      graft.pipeline.Dedup.writeLineIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id",
        s"$base/idx", "\n", minChars = 5)
      publishSlices(base, Seq(
        0 -> Seq((1L, "shared line alpha\nunique to one")).toDF("doc_id", "text"),
        1 -> Seq((2L, "shared line alpha\nsecond doc line")).toDF("doc_id", "text")))
      def drain(): Unit = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.dedupLinesStream(spark, stream, "text", "doc_id",
          s"$base/idx", s"$base/out", s"$base/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def view() = spark.read.parquet(s"$base/out/data")
        .select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      val got = view()
      assert(got == Map(1L -> "shared line alpha\nunique to one",
        2L -> "second doc line"))
      // crash window: batch 1's keys landed in the growth zone but the
      // commit did not — a flat append would cut "second doc line" from
      // the replayed batch (its own first-attempt key suppresses it)
      dropCommit(base, 1)
      drain()
      assert(view() == got, "replay deduped a batch against itself")
      assert(spark.read.parquet(s"$base/out/_lineindex")
        .select("key").distinct().count() ==
        spark.read.parquet(s"$base/out/_lineindex").count(),
        "replay duplicated growth-zone keys")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("curateStream: an at-least-once REPLAY of a committed batch never " +
       "drops its survivors as self-dups or stacks pack offsets") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_curp").toString
    try {
      graft.pipeline.Dedup.writeMinhashIndex(
        Seq.empty[(Long, String)].toDF("doc_id", "text"), "text", "doc_id",
        s"$base/idx")
      val cfg = graft.pipeline.Curate.Config(minQuality = 0.2, shards = 1)
      publishSlices(base, Seq(
        0 -> Seq(
          (1L, "it was the best of times and it was the worst of times for all of us"))
          .toDF("doc_id", "text"),
        1 -> Seq(
          (10L, "it was the best of times and it was the worst of times for all of us"), // dup of 1
          (11L, "we were all going direct to heaven and we were all going direct the other way"))
          .toDF("doc_id", "text")))
      def drain(): Unit = {
        val stream = spark.readStream.schema("doc_id LONG, text STRING")
          .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
        val q = StreamOps.curateStream(spark, stream, "text", "doc_id",
          s"$base/idx", s"$base/out", s"$base/ckpt", cfg)
        try q.processAllAvailable() finally q.stop()
      }
      drain()
      def view() = spark.read.parquet(s"$base/out/data")
        .select("doc_id", "pack_offset").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val got = view()
      // doc 10 suppressed cross-batch; doc 11's offset continues doc 1's
      // 17-token shard stream
      assert(got == Map(1L -> 0L, 11L -> 17L))
      // crash window: batch 1's data/index/totals all landed but the
      // commit did not — a flat index append would estimate the replayed
      // doc 11 at jaccard 1.0 against its own first-attempt sketch and
      // DROP it; a flat totals overwrite would restart doc 11's offset
      // from the post-batch totals (34 instead of 17)
      dropCommit(base, 1)
      drain()
      assert(view() == got, "replay changed the curated output")
      assert(spark.read.parquet(s"$base/out/_index")
        .select("id").distinct().count() == 2L,
        "replay duplicated growth-zone sketches")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("duplicateSpansStream: a compactSpanIndex swap between query " +
       "lifetimes is invisible — later batches probe the compacted " +
       "prefix identically") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_spcmp").toString
    try {
      val slices = Seq(
        0 -> Seq((1L, "alpha beta gamma delta one two three four")),
        1 -> Seq((2L, "alpha beta gamma delta five six seven eight")),
        2 -> Seq((3L, "five six seven eight nine ten eleven twelve")))
      def spans(tag: String) = spark.read.parquet(s"$base/$tag/out")
        .select("doc_id", "span_start", "span_end").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // run A: straight through, no compaction — the reference behavior
      // run B: stop after batch 1, compact+swap the digest index, resume
      for (tag <- Seq("a", "b")) {
        val dir = s"$base/$tag"
        new java.io.File(s"$dir/feed").mkdirs()
        def publish(k: Int): Unit = {
          val stage = s"$dir/stage$k"
          slices.find(_._1 == k).get._2.toDF("doc_id", "text")
            .repartition(1).write.mode("overwrite").parquet(stage)
          val part = new java.io.File(stage).listFiles()
            .find(_.getName.endsWith(".parquet")).get
          val tgt = new java.io.File(s"$dir/feed", f"slice-$k%03d.parquet")
          java.nio.file.Files.move(part.toPath, tgt.toPath)
          assert(tgt.setLastModified(1700000000000L + k * 60000L))
        }
        def drain(): Unit = {
          val stream = spark.readStream.schema("doc_id LONG, text STRING")
            .option("maxFilesPerTrigger", "1").parquet(s"$dir/feed")
          val q = StreamOps.duplicateSpansStream(spark, stream, "text",
            "doc_id", l = 4, s"$dir/idx", s"$dir/out", s"$dir/ckpt")
          try q.processAllAvailable() finally q.stop()
        }
        publish(0); publish(1)
        drain()
        if (tag == "b") {
          val n = graft.pipeline.Dedup.compactSpanIndex(spark, s"$dir/idx",
            s"$dir/idx2") // 3-hex re-layout
          assert(n == spark.read.parquet(s"$dir/idx")
            .select("__h").distinct().count())
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(s"$dir/idx"))
          assert(new java.io.File(s"$dir/idx2")
            .renameTo(new java.io.File(s"$dir/idx")))
          assert(new java.io.File(s"$dir/idx/__batch=1").listFiles()
            .exists(f => f.getName.startsWith("__pfx=") &&
              f.getName.length == "__pfx=".length + 3)) // finer layout
        }
        publish(2)
        drain() // batch 2: doc 3 repeats doc 2's "five six seven eight"
      }
      assert(spans("b") == spans("a"), "compaction changed the span set")
      assert(spans("a").exists(_._1 == 3L), "cross-batch hit missing")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }

  test("duplicateSpansStream/dedupLinesStream growth zones: the standing " +
       "probe prunes at the directory level (PartitionFilters on __pfx)") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_pfx").toString
    try {
      publishSlices(base, Seq(
        0 -> Seq((1L, "alpha beta gamma delta alpha beta gamma delta"))
          .toDF("doc_id", "text"),
        1 -> Seq((2L, "alpha beta gamma delta epsilon zeta eta theta"))
          .toDF("doc_id", "text")))
      val stream = spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/feed")
      val q = StreamOps.duplicateSpansStream(spark, stream, "text", "doc_id",
        l = 4, s"$base/idx", s"$base/out", s"$base/ckpt")
      try q.processAllAvailable() finally q.stop()
      // layout: __batch=N/__pfx=XX directories
      val b0 = new java.io.File(s"$base/idx/__batch=0")
      assert(b0.isDirectory &&
        b0.listFiles().exists(_.getName.startsWith("__pfx=")))
      // the probe the sink runs: standing read filtered to the batch's
      // prefix set must show a __pfx PartitionFilter in the scan
      val probe = spark.read.parquet(s"$base/idx")
        .filter(col("__batch") < 1 && col("__pfx").isin("a1", "b2"))
        .select("__h")
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("__pfx"),
        s"expected a __pfx PartitionFilter in:\n$plan")
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(base))
  }
}
