package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Dedup
import graft.streaming.StreamOps

/** stream_dedup: StreamOps.dedupLinesStream fed one parquet slice per
  * trigger. A step drops the next slice into the feed directory and waits
  * until the stream has committed it, so the time is the per-trigger
  * fixed cost (jobs, driver gaps, LogStructuredSink staging + rename
  * commits, the standing-index read) with no geometry work. */
final class StreamDedup(run: Run) extends Workload(run) {
  import run.spark

  private val sc = run.scale
  private val base = s"${run.work}/stream"
  private var warmQuery: StreamingQuery = _
  private var timedQuery: StreamingQuery = _
  private var warmFed = 0
  private var fed = 0
  /** Slices written for the timed stream: enough for `--seconds` down to
    * Scale.minTriggerMs per trigger. */
  private lazy val slices = new java.io.File(run.dataDir("timed")).list().count(_.startsWith("slice-"))
  private var linesFed = 0L

  private def stream(set: String) =
    spark.readStream.schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", "1").parquet(s"$base/$set/feed")

  private def start(set: String): StreamingQuery =
    StreamOps.dedupLinesStream(spark, stream(set), "text", "doc_id",
      run.dataDir("seed_index"), s"$base/$set/out", s"$base/$set/ckpt")

  /** Publishes slice `k` of `set` into its feed directory in one rename. */
  private def feed(set: String, k: Int): Unit = {
    val src = Path.of(run.dataDir(set), f"slice-$k%04d.parquet")
    val tmp = Path.of(base, set, "incoming", src.getFileName.toString)
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Path.of(base, set, "feed", src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }

  def open(): Unit = {
    for (set <- Seq("warm", "timed"); d <- Seq("feed", "incoming"))
      Files.createDirectories(Path.of(base, set, d))
    spark.read.parquet(run.dataDir("seed_index")).schema
    stream("timed").schema
  }

  def expect(): Unit = ()

  override def warmupStart(): Unit = warmQuery = start("warm")

  def warmup(): Unit = {
    feed("warm", warmFed)
    warmFed += 1
    warmQuery.processAllAvailable()
  }

  override def warmSteps: Int = sc.warmSlices

  override def warmupEnd(): Unit = {
    warmQuery.stop()
    // the timed query's own first trigger (query start-up) stays untimed
    timedQuery = start("timed")
    feed("timed", 0)
    fed = 1
    timedQuery.processAllAvailable()
  }

  override def exhausted: Boolean = fed >= slices

  def step(): Long =
    run.op("trigger") {
      feed("timed", fed)
      fed += 1
      timedQuery.processAllAvailable()
    }.fold(0L)(_ => sc.docsPerSlice.toLong)

  private def docsFed = (0 until fed).flatMap(k => Gen.sliceDocs(Gen.TimedStream, k, sc))

  override def finish(): Unit = {
    timedQuery.stop()
    val out = s"$base/timed/out"
    var lines = 0L; var xDocs = 0L
    val keys = new java.util.HashSet[String]
    docsFed.foreach { d =>
      val doc = Gen.document(run.seed, Gen.TimedStream, d)
      lines += doc.length
      xDocs ^= Ref.xxhash(d.toLong, doc.length.toLong)
      doc.foreach(l => if (l.length >= Gen.MinChars) keys.add(l))
    }
    linesFed = lines
    val xKeys = keys.asScala.foldLeft(0L)((x, k) => x ^ Ref.xxhash(k))
    StreamOps.readDedupedLines(spark, out) match {
      case None => run.check(Seq("dedup: nothing committed"))
      case Some(df) =>
        run.check(Checks.linesKeptOnce(df, Gen.MinChars, keys.size.toLong, xKeys))
        run.check(Checks.docsAccounted(df, docsFed.size.toLong, xDocs))
    }
    run.check(Checks.stagingLeft(new java.io.File(out)))
  }

  def layers(): Map[String, Double] = {
    val t = run.tracer
    val out = s"$base/timed/out"
    val progress = timedQuery.recentProgress.filter(_.numInputRows > 0).toSeq
    def dur(k: String) = Main.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val files = Files.walk(Path.of(out)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    val triggers = math.max(1, progress.size)
    val readback = t("sink.readback", "probe") {
      Main.median((1 to 3).map { _ =>
        val t0 = Clock.wallNs
        StreamOps.readDedupedLines(spark, out).foreach(_.count())
        (Clock.wallNs - t0) / 1e6
      })
    }
    val standing = t("dedup.standing_keys", "probe")(spark.read.parquet(s"$out/_lineindex").count())
    val corpus = spark.read.parquet((0 until fed).map(k =>
      f"${run.dataDir("timed")}/slice-$k%04d.parquet"): _*)
    val batch = Layers.cpuNsPerRow(t, "dedup.batch", linesFed)(
      Dedup.dedupLines(corpus, "text", "doc_id", "\n", Gen.MinChars))
    Map(
      "trigger.wall_ms" -> dur("triggerExecution"),
      "trigger.add_batch_ms" -> dur("addBatch"),
      "trigger.query_planning_ms" -> dur("queryPlanning"),
      "trigger.wal_commit_ms" -> dur("walCommit"),
      "trigger.commit_offsets_ms" -> dur("commitOffsets"),
      "trigger.latest_offset_ms" -> dur("latestOffset"),
      "sink.files_per_trigger" -> files.size.toDouble / triggers,
      "sink.bytes_per_trigger" -> files.map(Files.size).sum.toDouble / triggers,
      "sink.staging_left" -> Checks.stagingLeft(new java.io.File(out)).size.toDouble,
      "sink.readback_ms" -> readback,
      "dedup.standing_keys" -> standing.toDouble,
      "dedup.batch_ns_per_line" -> batch)
  }
}
