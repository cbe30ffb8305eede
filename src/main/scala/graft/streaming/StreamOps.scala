package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import graft.spatial.{functions => G}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/**
 * Structured Streaming operators over the `events` schema
 * (event_id, ts, user_id, event_type, value, props).
 *
 * The reference is batch-only (SURVEY §2.10); this is harness-mandated
 * extension scope. Designed for the standard production shape:
 * `readStream` → watermark → windowed agg / stateful sessions →
 * `writeStream` with checkpointing. State is partitioned by user_id —
 * scales horizontally with executors; watermark bounds state size.
 */
object StreamOps {

  /** Run INDEPENDENT per-trigger sink actions concurrently (optimization
    * guide §2.6 — actions are only sequential because the driver calls
    * them sequentially): a trigger that commits several logs pays each
    * write's scheduling + commit latency back-to-back when the writes
    * share no data dependency. Each body runs on its own thread; the
    * trigger section blocks until ALL complete, so the foreachBatch
    * contract (batch done ⇒ every log written) is unchanged, and the
    * committed-prefix gate ([[LogStructuredSink.readCommitted]] — min
    * over logs of max committed batch) is order-insensitive by
    * construction, so external readers see the same consistent
    * snapshots whichever write lands first. A failure in any body fails
    * the whole trigger (rethrown after the others are awaited), which
    * replays the batch — every log then overwrites its own partition,
    * exactly the crash-between-writes story the sink already certifies. */
  private def inParallel(bodies: (() => Unit)*): Unit = {
    if (bodies.size <= 1) { bodies.foreach(_ ()); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(bodies.size)
    try {
      val futs = bodies.map(b =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = b()
        }))
      var err: Throwable = null
      futs.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (err == null) err = e.getCause
        }
      }
      if (err != null) throw err
    } finally pool.shutdown()
  }

  /** Tumbling-window event counts + value sums per event_type.
    * Late data beyond `watermarkDelay` is dropped (state is bounded). */
  def windowedEventStats(events: DataFrame,
                         windowLen: String = "5 minutes",
                         watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))

  /** Streaming exact dedup: drop re-deliveries of the same event id within
    * the watermark horizon (bounded state — the streaming face of
    * [[graft.pipeline.Dedup]]). */
  def dedupEvents(events: DataFrame, idCols: Seq[String],
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicates(idCols :+ "ts")

  /** Streaming dedup for at-least-once sources whose RETRIES carry a new
    * event time (a redelivered webhook/CDC record is stamped at send
    * time, not first-attempt time): dedup on the id columns ALONE, with
    * state expiring one watermark delay after each key's first sighting —
    * `dropDuplicates` above would treat the re-stamped retry as a new
    * event. Built on `dropDuplicatesWithinWatermark`, so state stays
    * bounded: one row per distinct key per horizon, regardless of
    * redelivery count. */
  def dedupRedeliveries(events: DataFrame, idCols: Seq[String],
                        watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Windowed spatial extent of a geometry stream: per time window, the
    * bounding box of all geometries seen (streaming face of ST_Extent —
    * min/max aggregate state is constant-size per window). */
  def windowedExtent(events: DataFrame, geomCol: String,
                     windowLen: String = "5 minutes",
                     watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen))
      .agg(
        min(G.st_xmin(col(geomCol))).as("xmin"),
        min(G.st_ymin(col(geomCol))).as("ymin"),
        max(G.st_xmax(col(geomCol))).as("xmax"),
        max(G.st_ymax(col(geomCol))).as("ymax"),
        count(lit(1)).as("n"))

  /** Stream-static enrichment join: attach dimension attributes to a
    * stream. The static side is re-planned per micro-batch (broadcast when
    * small) — the standard pattern for slowly-changing dimensions. */
  def enrich(events: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    events.join(dim, keys, "left")

  /**
   * Stream-stream interval join: pair each left event with the right
   * events of the same key whose timestamp falls in
   * `[left.ts, left.ts + within]` — e.g. purchases attributed to the
   * click they followed. BOTH sides carry watermarks and the join
   * condition bounds the time range in both directions, which is what
   * lets Spark expire buffered state: left rows are dropped once the
   * right watermark passes `left.ts + within`, right rows once the left
   * watermark passes their ts. Without the range bound the state store
   * grows without limit — the canonical stream-stream join mistake.
   *
   * @param within   attribution horizon, e.g. "30 minutes"
   * @param keys     equality key columns (both sides)
   * @param joinType "inner" (default) or "left_outer" — outer rows for
   *                 left events with no match emit once the right
   *                 watermark passes their horizon (state-expiry time),
   *                 the standard "click never converted" signal
   * @return joined rows: all left columns + the right's non-key columns
   *         suffixed with `rightSuffix`
   */
  def intervalJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
                   within: String, rightSuffix: String = "_r",
                   watermarkDelay: String = "10 minutes",
                   joinType: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val rRenamed = right.columns.filterNot(keys.contains)
      .foldLeft(right)((df, c) => df.withColumnRenamed(c, c + rightSuffix))
    val r = rRenamed.withWatermark("ts" + rightSuffix, watermarkDelay)
    val cond = keys.map(k => l(k) === r(k)).reduce(_ && _) &&
      r("ts" + rightSuffix) >= l("ts") &&
      r("ts" + rightSuffix) <= l("ts") + expr(s"INTERVAL $within")
    keys.foldLeft(l.join(r, cond, joinType))((df, k) => df.drop(r(k)))
  }

  /**
   * Streaming spatial enrichment: join a geometry stream against a static
   * geo table on a spatial predicate, grid-bucketed — the streaming face
   * of [[graft.spatial.SpatialJoin.join]]. A predicate theta join against
   * a streaming side would need a per-batch nested loop; instead both
   * sides explode over their covering cells and the join is a plain
   * stream-static EQUI-join on the cell id (broadcast/hash per
   * micro-batch), with canonical-cell pair dedup and the exact predicate
   * as a filter. Static geometries whose envelope exceeds the covering
   * cap at this pitch are dropped (choose `cellSize` ≳ the largest static
   * envelope, or pre-split such geometries) — streaming cannot union an
   * exact fallback branch without a second scan of every micro-batch.
   */
  def spatialEnrich(stream: DataFrame, static: DataFrame,
                    streamGeom: Column, staticGeom: Column,
                    predicate: (Column, Column) => Column,
                    cellSize: Double): DataFrame = {
    import graft.spatial.SpatialJoin.{st_covering_cells, st_ref_cell}
    val s = stream.withColumn("__cell", explode(st_covering_cells(streamGeom, cellSize)))
    val d = static.withColumn("__cell", explode(st_covering_cells(staticGeom, cellSize)))
    s.join(d, Seq("__cell"))
      .filter(col("__cell") === st_ref_cell(streamGeom, staticGeom, cellSize))
      .filter(predicate(streamGeom, staticGeom))
      .drop("__cell")
  }

  /**
   * In-flight near-duplicate detection of a document stream against a
   * PERSISTED corpus sketch index ([[graft.pipeline.Dedup.writeMinhashIndex]])
   * — the streaming face of the incremental dedup path: incoming documents
   * are MinHash-sketched per micro-batch, banded, and equi-joined (stream ×
   * static, broadcast/hash per batch) against the exploded index buckets;
   * candidates verify by signature agreement. The corpus text is never
   * read — only the slim sketch table — so the per-batch cost is
   * O(batch · bands) plus the bucket probes, independent of corpus size.
   *
   * @return (id = streamed doc id, corpus_id, est_jaccard ≥ minEstJaccard)
   *         — flag or drop the streamed rows by joining on `id`.
   */
  def nearDupFlags(spark: org.apache.spark.sql.SparkSession, stream: DataFrame,
                   textCol: String, idCol: String, indexPath: String,
                   minEstJaccard: Double, shingle: Int = 3): DataFrame = {
    val flagged = graft.pipeline.Dedup.minhashCandidatePairsAgainstIndex(
      spark, indexPath, stream, textCol, idCol, shingle)
      .filter(col("est_jaccard") >= minEstJaccard)
    flagged.select(col("id_b").as("id"), col("id_a").as("corpus_id"),
      col("est_jaccard"))
  }

  /**
   * [[nearDupFlags]] with the corpus index GROWING as the stream arrives —
   * the production shape when the standing corpus IS the stream's own
   * past: each micro-batch flags against the sketches of every EARLIER
   * batch, then its own sketches join the index so later batches flag
   * against it. Batch-internal pairs are not flagged (run
   * [[graft.pipeline.Dedup.minhashCandidatePairs]] per batch if needed);
   * the flag set over an append-only-id replay therefore equals the
   * cross-batch slice of the batch near-dup pair set, directed later →
   * earlier — which is what q230 certifies against the signature-exact
   * oracle.
   *
   * EXACTLY-ONCE under foreachBatch replay: both the index and the flag
   * output are partitioned by the Spark batch id and written with
   * DYNAMIC partition overwrite, and the probe reads only index
   * partitions `__batch < bid`. A replayed batch (crash after the index
   * write, before the checkpoint commit) therefore (a) never sees its
   * own half-written partition — a flat append here would make every
   * replayed document flag against itself and its batch-mates — and
   * (b) overwrites its own partitions with identical deterministic
   * content instead of duplicating rows. The happy path is unchanged:
   * `__batch < bid` is exactly "the index as of the previous batch".
   * The index is OWNED by this sink (created on the first batch with
   * `numHashes`/`bands`; do not seed it with the flat
   * [[graft.pipeline.Dedup.writeMinhashIndex]] layout — mixed
   * partitioned/flat dirs don't read back); batch consumers can still
   * probe it through the `*Sketched` entry points, which carry the
   * field metadata through any filter.
   *
   * The batch is tokenized and sketched ONCE
   * ([[graft.pipeline.Dedup.sketchForIndex]], pinned eagerly — the
   * checkpoint blocks are reaped by the ContextCleaner when the batch's
   * frames go out of scope): flags and the index write both consume the
   * pinned frame, so the per-batch text scan cost is paid once.
   */
  def nearDupFlagsStream(spark: org.apache.spark.sql.SparkSession,
                         docs: DataFrame, textCol: String, idCol: String,
                         indexPath: String, outPath: String, checkpoint: String,
                         minEstJaccard: Double, shingle: Int = 3,
                         numHashes: Int = 64, bands: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = new LogStructuredSink.PathMemo(indexPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val sk = (if (idx.exists(spark))
            graft.pipeline.Dedup.sketchForIndex(spark, indexPath,
              batch.toDF(), textCol, idCol, shingle)
          else graft.pipeline.Dedup.sketchBatch(batch.toDF(), textCol, idCol,
            numHashes, bands, shingle)).localCheckpoint(true)
        // flags and index writes both consume the PINNED sketch frame and
        // commit to different logs — no data dependency, so they overlap
        // (inParallel): the flag probe's standing read resolved its file
        // listing when the frame was built, and the index write publishes
        // `__batch=bid` atomically, invisible to that resolved plan
        val writeFlags = idx.readBefore(spark, bid).map { standing =>
          val flags = graft.pipeline.Dedup
            .minhashCandidatePairsSketched(standing, sk)
            .filter(col("est_jaccard") >= minEstJaccard)
            .select(col("id_b").as("id"), col("id_a").as("corpus_id"),
              col("est_jaccard"))
          () => LogStructuredSink.write(flags, outPath, bid)
        }
        inParallel(Seq(
          () => LogStructuredSink.write(sk, indexPath, bid)
        ) ++ writeFlags: _*)
        ()
      }
      .start()
  }

  /**
   * Streaming incremental curation: each micro-batch of documents is
   * curated against the STANDING corpus with the exact batch semantics of
   * [[graft.pipeline.Curate.curateIncrement]] (gates, batch-internal
   * near-dup removal, sketch-index cross-dedup, continued per-shard pack
   * offsets), appended to `outPath`, and — so later batches dedup against
   * THIS batch's survivors too — the survivors' sketches are appended to
   * the index ([[graft.pipeline.Dedup.appendMinhashIndex]]).
   *
   * `foreachBatch` is the idiomatic shape here: the per-batch work is the
   * already-certified lazy batch pipeline (corpus text never re-read, only
   * the slim sketch index + a one-row-per-shard totals table that this
   * sink maintains under `outPath/_shard_totals`), and the stream stays
   * append-only — no update-mode aggregation state. Batch ids must follow
   * the append-only discipline (greater than every standing id).
   *
   * `exactVerify` (default true): cross-corpus near-dup candidates verify
   * with the EXACT Jaccard against the standing survivors at
   * `outPath/data` — text is read for candidate ids only
   * ([[graft.pipeline.Curate.curateIncrement]]'s broadcast semi-join
   * prune), so the per-batch cost stays candidate-sized and the streamed
   * union matches the batch run even for threshold-adjacent pairs (q221
   * certifies this). Within this sink's own append discipline the index
   * is always a subset of `outPath/data`; if a caller seeds `indexPath`
   * with a PRE-BUILT index over documents never appended to the data dir,
   * those candidates cannot verify exactly and fall back to the estimate
   * gate per pair ([[graft.pipeline.Dedup.nearDuplicatePairsAgainstIndex]]
   * routes index-only candidates through `est_jaccard ≥ τ` instead of
   * dropping them). `false` keeps the estimate gate for ALL cross-corpus
   * candidates: zero corpus access, classification can differ only near
   * the threshold.
   *
   * EXACTLY-ONCE via the [[LogStructuredSink]] discipline, across ALL
   * THREE state writes a batch performs:
   *
   *  - `outPath/data` (survivors) and `outPath/_index` (their sketches)
   *    partition by batch id with dynamic overwrite, and the standing
   *    side each batch curates against is the caller's SEED index at
   *    `indexPath` (read-only — never written by this sink) unioned with
   *    growth partitions `__batch < bid`. A flat append here is the
   *    WORST failure of the class: a replayed batch would probe an index
   *    already holding its own first-attempt sketches, estimate every
   *    survivor at jaccard 1.0 against itself, and drop them ALL —
   *    silently losing the batch instead of duplicating it.
   *  - `outPath/_shard_totals` holds one CUMULATIVE per-shard snapshot
   *    partition per batch; batch `bid` continues pack offsets from the
   *    newest snapshot `__batch < bid`, so a replay re-derives the same
   *    base instead of stacking its own offsets twice.
   *
   * The seed index still fixes the sketch parameters (numHashes/bands)
   * and may be empty (`writeMinhashIndex(docs.limit(0), …)`) or a
   * standing corpus; batch consumers probing "this stream's index" must
   * union `indexPath` with `outPath/_index` (dropping `__batch`).
   */
  def curateStream(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
                   textCol: String, idCol: String, indexPath: String,
                   outPath: String, checkpoint: String,
                   cfg: graft.pipeline.Curate.Config = graft.pipeline.Curate.Config(),
                   exactVerify: Boolean = true)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val totalsPath = s"$outPath/_shard_totals"
    val growthPath = s"$outPath/_index"
    val dataPath = s"$outPath/data"
    val growth = new LogStructuredSink.PathMemo(growthPath)
    val data = new LogStructuredSink.PathMemo(dataPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        val seed = spark.read.parquet(indexPath)
        val standing = growth.readBefore(spark, bid)
          .map(g => seed.unionByName(
            g.select(seed.columns.map(col): _*))) // drops __batch, keeps
          .getOrElse(seed)                        // the seed's metadata
        // newest committed totals snapshot (snapshots are cumulative, so
        // only the latest applies); the max-batch probe is ONE driver-side
        // dir listing — this was a per-trigger agg+collect JOB until
        // round 14 (~0.3 s of local-mode scheduling for a one-row answer
        // the partition layout already holds)
        val base = LogStructuredSink.maxBatchBefore(spark, totalsPath, bid)
          .map(mx => spark.read.parquet(totalsPath)
            .filter(col("__batch") === lit(mx)).drop("__batch"))
        val corpus =
          if (exactVerify)
            data.readBefore(spark, bid)
              .map(_.select(col(idCol), col(textCol)))
          else None
        // localCheckpoint, NOT cache: the exact-verify plan READS
        // outPath/data, and the data write below would invalidate a
        // path-keyed cache entry — a recompute after the index write
        // would then see the batch's own sketches and flag every
        // survivor against itself. The eager checkpoint pins the rows
        // once, immune to both path invalidations; it is batch-sized.
        val curated = graft.pipeline.Curate.curateIncrement(
            spark, batch.toDF(), idCol, textCol, indexPath, base, cfg,
            corpusDocs = corpus, indexFrame = Some(standing))
          .localCheckpoint(true) // consumed three times below
        // totals of the incremented output are ALREADY cumulative (offsets
        // continued from base): touched shards take the batch value,
        // untouched shards keep the standing one. COLLECTED (shards-sized)
        // so the snapshot write never reads the path it overwrites.
        val batchTotals = graft.pipeline.Curate.shardTokenTotals(curated)
        val newTotals = base match {
          case None => batchTotals
          case Some(b) => b.select(col("shard"), col("base_tokens"))
            .join(batchTotals.select(col("shard"), col("base_tokens").as("__bt")),
              Seq("shard"), "full_outer")
            .select(col("shard"),
              coalesce(col("__bt"), col("base_tokens")).as("base_tokens"))
        }
        // the three log commits all consume the PINNED curated frame (or
        // its shards-sized totals) and share no data dependency — they
        // overlap (inParallel; the committed-prefix gate is
        // order-insensitive), instead of paying three write jobs'
        // scheduling + commit latency back-to-back per trigger
        inParallel(
          () => LogStructuredSink.write(curated, dataPath, bid),
          () => LogStructuredSink.write(
            graft.pipeline.Dedup.sketchForIndex(spark, indexPath,
              curated.select(col(idCol), col(textCol)), textCol, idCol),
            growthPath, bid),
          () => {
            val snapshot = newTotals.collect() // one row per shard
            LogStructuredSink.write(
              spark.createDataFrame(
                java.util.Arrays.asList(snapshot: _*), newTotals.schema),
              totalsPath, bid)
          })
        // the localCheckpoint blocks are released by the ContextCleaner
        // once `curated` goes out of scope at the end of this batch
        // (Dataset.unpersist is a no-op for checkpoint blocks — it only
        // clears CacheManager entries); long-running streams hold at
        // most the current batch's pin
        ()
      }
      .start()
  }

  /** Committed-prefix read of a LIVE [[curateStream]]'s survivors: the
    * sink commits THREE logs per trigger (data, sketch index, shard
    * totals) as separate jobs, so all three gate to the common committed
    * batch ([[LogStructuredSink.readCommitted]]) — an external reader
    * between a trigger's data and totals writes must not see survivors
    * whose pack offsets aren't accounted yet. None until the first
    * trigger fully commits. */
  def readCurated(spark: org.apache.spark.sql.SparkSession,
                  outPath: String): Option[DataFrame] =
    LogStructuredSink.readCommitted(spark,
        Seq(s"$outPath/data", s"$outPath/_index", s"$outPath/_shard_totals"))
      .map(_.head.drop("__batch"))

  /**
   * Streaming corpus-wide line dedup: each micro-batch dedups against the
   * standing line-key set plus itself, writes surviving documents under
   * `outPath/data`, then grows the key set with the batch's new keys —
   * so later batches drop lines first seen in earlier ones. The standing
   * corpus text is never re-read — only the one-row-per-distinct-line
   * key set.
   *
   * EXACTLY-ONCE via the [[LogStructuredSink]] discipline: the caller's
   * index at `indexPath` ([[graft.pipeline.Dedup.writeLineIndex]], may
   * be empty) becomes a read-only SEED this sink never writes; the
   * sink's own growth lives at `outPath/_lineindex`, partitioned by
   * batch id (dynamic overwrite) so a replayed batch overwrites its own
   * key partition instead of re-appending — and probes only
   * `__batch < bid`, so a replay never dedups the batch against its own
   * first-attempt keys (a flat append here silently CUT every eligible
   * line of a replayed batch). Separator/minChars/normalize semantics
   * still ride as the seed's field metadata.
   *
   * The growth zone sub-partitions on `__pfx` = the first hex char of
   * md5(key) (16 dirs — a per-trigger write costs the flat layout's
   * file count; finer per-batch prefixes were profiled at ~3 s/trigger
   * of writer-open overhead in the span sink): a batch's probe filters
   * the standing read to its own prefix set, so directory-level pruning
   * (PartitionFilters) bounds the per-trigger index read for small
   * triggers, and the probe also carries the 3-hex set so a future
   * compacted re-layout of the growth zone prunes the same way.
   */
  def dedupLinesStream(spark: org.apache.spark.sql.SparkSession,
                       docs: DataFrame, textCol: String, idCol: String,
                       indexPath: String, outPath: String, checkpoint: String,
                       normalize: Option[org.apache.spark.sql.Column =>
                         org.apache.spark.sql.Column] = None,
                       compactEvery: Int = 0,
                       compactRetainMs: Long = 600000L,
                       compactPfxLen: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val growthPath = s"$outPath/_lineindex"
    val growth = new LogStructuredSink.PathMemo(growthPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
       // trigger section shares the growth zone's lease with
       // [[graft.pipeline.Dedup.compactLineIndexLive]]
       LogStructuredSink.withLease(spark, growthPath) {
        val b = batch.toDF()
        val seed = spark.read.parquet(indexPath)
        val meta = seed.schema("key").metadata
        // batch prefixes (1- and 3-hex unions, bounded) drive the
        // directory-level prune of the growth zone; the collect is
        // bounded and batch-derived
        val bKeys = graft.pipeline.Dedup.lineKeys(b, textCol, idCol,
            meta.getString("separator"), meta.getLong("minChars").toInt,
            normalize)
          .localCheckpoint(true) // split once: prefixes + growth anti-join
        val pfxRows = bKeys
          .select(substring(md5(col("__key")), 1, 1).as("p1"),
            substring(md5(col("__key")), 1, 3).as("p3"))
          .distinct().collect()
        val pfxs = (0 to 1).flatMap(i => pfxRows.map(_.getString(i))).distinct
        val standing = growth.readBefore(spark, bid)
          .map(g => seed.unionByName(
            g.filter(col("__pfx").isin(pfxs: _*)).select(col("key"))))
          .getOrElse(seed)
        // no pin on the new-key anti-join any more: the growth write
        // lands in a hidden staging dir and publishes with one atomic
        // rename ([[LogStructuredSink.write]]), so the plan's already-
        // resolved standing-zone file listing is never overwritten
        // mid-job — the round-15 write barrier (an extra localCheckpoint
        // job per trigger) guarded a self-overwrite that no longer exists
        val newKeys = bKeys
          .join(standing.select(col("key")), col("__key") === col("key"),
            "left_anti")
          .select(col("__key").as("key", meta),
            substring(md5(col("__key")), 1, 1).as("__pfx"))
        // data and growth commits both derive from the pinned batch keys
        // and the standing frame (file listings resolved above) — no
        // dependency between them, so they overlap (inParallel)
        inParallel(
          () => LogStructuredSink.write(
            graft.pipeline.Dedup.dedupLinesIncrementWith(standing, b,
              textCol, idCol, normalize),
            s"$outPath/data", bid),
          () => LogStructuredSink.write(newKeys, growthPath, bid,
            Seq("__pfx")))
       }
        // opt-in auto-compaction of the growth zone (see
        // [[duplicateSpansStream]] — same cadence contract, same
        // outside-the-lease placement)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.Dedup.compactLineIndexLive(spark, growthPath,
            pfxLen = compactPfxLen, retainMs = compactRetainMs)
        ()
      }
      .start()
  }

  /** Committed-prefix read of a LIVE [[dedupLinesStream]]'s surviving
    * documents: data and the line-key growth zone are gated to the
    * common committed batch — an external reader can never see a batch's
    * survivors while its new keys are still in flight (it would
    * otherwise treat their lines as never-seen). None until the first
    * trigger fully commits. */
  def readDedupedLines(spark: org.apache.spark.sql.SparkSession,
                       outPath: String): Option[DataFrame] =
    LogStructuredSink.readCommitted(spark,
        Seq(s"$outPath/data", s"$outPath/_lineindex"))
      .map(_.head.drop("__batch"))

  /**
   * Streaming exact-substring decontamination localization: each
   * micro-batch of documents is probed against a FIXED benchmark corpus
   * ([[graft.pipeline.Dedup.contaminationSpans]]'s algebra) and the
   * contaminated spans append to `outPath` — the live gate that tells a
   * training-data intake WHERE an incoming document verbatim-overlaps an
   * eval set. Spans are per-document (no cross-batch state), so the
   * streamed union over any batch split equals the batch operator on the
   * union; `foreachBatch` is required only because the island merge is a
   * window, which streaming plans cannot host directly.
   *
   * The benchmark's distinct gram-digest frame is computed ONCE at
   * construction and pinned (eager localCheckpoint) — a raw batch subtree
   * inside the loop would re-tokenize the whole benchmark on every
   * trigger (the psiStream baseline lesson, applied from the start); each
   * batch joins the pinned benchmark-sized digest set (broadcast).
   *
   * EXACTLY-ONCE via the [[LogStructuredSink]] discipline (no standing
   * state to probe — the benchmark is fixed — but a flat append would
   * still DUPLICATE a replayed batch's span rows; the per-batch
   * partition overwrite makes the replay reproduce them instead).
   */
  def contaminationSpansStream(spark: org.apache.spark.sql.SparkSession,
                               docs: DataFrame, reference: DataFrame,
                               textCol: String, idCol: String, l: Int,
                               outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val refHashes = graft.pipeline.Dedup
      .referenceGramHashes(reference, textCol, l).localCheckpoint(true)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        LogStructuredSink.write(
          graft.pipeline.Dedup.contaminationSpansWith(batch.toDF(), refHashes,
            textCol, idCol, l), outPath, bid)
        ()
      }
      .start()
  }

  /**
   * Streaming exact-substring duplicate spans with the gram index GROWING
   * as the stream arrives — the live form of
   * [[graft.pipeline.Dedup.duplicateSpans]] when the corpus to dedup
   * against is the stream's own past (fixed at `minCount = 2`, the
   * published "appears more than once" rule): a batch position flags iff
   * its l-gram occurs ≥ 2 times WITHIN the batch or at all in any
   * EARLIER batch; flagged windows island-merge per document exactly as
   * in the batch operator. Arrival-time semantics by design: a document
   * is judged against what the stream has seen when it arrives — a later
   * duplicate does not retroactively flag the first copy (run the batch
   * operator for hindsight dedup).
   *
   * Existence, not counts: total ≥ 2 ⟺ (batch count ≥ 2) ∨ (hash seen in
   * an earlier batch), so the index stores one DISTINCT digest row per
   * (hash, batch) and the per-batch probe is a PRUNED scan of the
   * standing digest set with the batch's (batch-sized) hash set
   * broadcast — no corpus-sized shuffle per trigger, the same cost class
   * as [[dedupLinesStream]]'s line-key probe.
   *
   * EXACTLY-ONCE via the [[LogStructuredSink]] discipline: spans and
   * digests partition by batch id, each published from a staging dir
   * with one atomic rename, and the probe reads only `__batch < bid` — a
   * replayed batch replaces its partitions bit-identically instead of
   * double-counting its own half-written digests (which would flag every
   * replayed position).
   *
   * Probe pruning: the digest index sub-partitions on `__pfx` — ONE hex
   * char of `__h` for per-batch partitions (16 dirs: a per-trigger write
   * costs the same file count as the round-12 flat layout; profiled, a
   * 256-dir per-trigger write spent ~3 s/trigger opening writers), three
   * hex chars after a [[graft.pipeline.Dedup.compactSpanIndex]] pass
   * (4096 dirs, paid once at compaction — where the standing bytes
   * live). Each trigger filters the standing read to the union of its
   * batch's 1-/2-/3-hex prefix sets, so every layout generation prunes
   * side by side: the compacted zone (most of the corpus) reads
   * ≈ |batch prefixes|/4096 of its bytes for a small trigger, and the
   * uncompacted tail — small by the compaction cadence — at worst scans.
   */
  def duplicateSpansStream(spark: org.apache.spark.sql.SparkSession,
                           docs: DataFrame, textCol: String, idCol: String,
                           l: Int, indexPath: String, outPath: String,
                           checkpoint: String, compactEvery: Int = 0,
                           compactRetainMs: Long = 600000L,
                           compactPfxLen: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = new LogStructuredSink.PathMemo(indexPath)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
       // the trigger section shares the digest log's lease with
       // [[graft.pipeline.Dedup.compactSpanIndexLive]]: a concurrent
       // in-place re-lay must never delete files under a probe that has
       // already listed them
       LogStructuredSink.withLease(spark, indexPath) {
        val grams = graft.pipeline.Dedup
          .gramHashes(batch.toDF(), textCol, idCol, l)
          .localCheckpoint(true) // tokenize once: probe + digest append
        // the grouped hash frame feeds FOUR consumers (prefix collect,
        // within-batch dups, the standing-probe broadcast, and — being
        // one row per distinct digest — the digest append itself), so
        // pin it too: unpinned, each action re-ran the groupBy shuffle
        // over the pinned grams, and the digest write paid a separate
        // distinct() for a frame this already is (guide §1.2)
        val batchHashes = grams.groupBy("__h").agg(count(lit(1)).as("__c"))
          .localCheckpoint(true)
        val withinDup = batchHashes.filter(col("__c") >= 2L).select("__h")
        // batch prefix sets (1-, 2- AND 3-hex; ≤ 16 + 256 + 4096
        // strings) for the directory-level prune of the standing digest
        // read: per-batch partitions carry 1-hex __pfx values, a
        // compacted prefix ([[graft.pipeline.Dedup.compactSpanIndex]])
        // carries 2- or 3-hex — the union prunes every layout
        // generation exactly. Bounded collect.
        val pfxRows = batchHashes
          .select(substring(col("__h"), 1, 1).as("p1"),
            substring(col("__h"), 1, 2).as("p2"),
            substring(col("__h"), 1, 3).as("p3"))
          .distinct().collect()
        val pfxs = (0 to 2).flatMap(i => pfxRows.map(_.getString(i))).distinct
        val standingDup = idx.readBefore(spark, bid)
          .map(_.filter(col("__pfx").isin(pfxs: _*)).select("__h")
            .join(broadcast(batchHashes.select("__h")), Seq("__h"),
              "left_semi"))
          .getOrElse(withinDup.limit(0))
        // semi-join against the (possibly overlapping) dup-hash union:
        // same row set as the old inner join against its distinct(),
        // without the extra distinct shuffle per trigger
        val dup = withinDup.unionByName(standingDup)
        val hits = grams.join(broadcast(dup), Seq("__h"), "left_semi")
          .select(col(idCol), col("__p"))
        // span and digest commits both consume the PINNED frames (the
        // span probe's standing read resolved its listing above; the
        // digest write publishes atomically, invisible to that plan) —
        // no dependency, so they overlap (inParallel)
        inParallel(
          () => LogStructuredSink.write(
            graft.pipeline.Dedup.mergeIslands(hits, idCol, l), outPath,
            bid),
          () => LogStructuredSink.write(
            batchHashes.select("__h") // one row per distinct digest
              .withColumn("__pfx", substring(col("__h"), 1, 1)),
            indexPath, bid, Seq("__pfx")))
       }
        // opt-in auto-compaction: every N triggers, fold the digest log
        // in place (generation layout). OUTSIDE the trigger's lease —
        // the compactor takes the same lease itself (non-reentrant);
        // between release and re-acquire only another compactor could
        // interleave, which the lease serializes anyway. Without a
        // cadence nothing bounds the per-trigger listing: a
        // 1-trigger/min stream leaves ~43k partition dirs/month/log.
        // cadence folds default to the 1-hex re-lay (16 dirs): the
        // cadence's job is bounding FILE COUNTS, and a finer layout
        // makes every fold and every per-trigger standing listing pay
        // its dir count (a 3-hex auto-fold measured 6x the stream wall
        // at cadence 10 — CompactionSoak). The 3-hex re-lay stays the
        // MANUAL move for huge standing indexes where probe byte
        // pruning dominates.
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.Dedup.compactSpanIndexLive(spark, indexPath,
            pfxLen = compactPfxLen, retainMs = compactRetainMs)
        ()
      }
      .start()
  }

  /** Committed-prefix read of a LIVE [[duplicateSpansStream]]'s span
    * output for external consumers: the sink writes spans then digests
    * per trigger, so both logs are gated to the common committed batch
    * ([[LogStructuredSink.readCommitted]]) — a reader can never see a
    * batch's spans while its digests are still in flight. None until the
    * first trigger fully commits. */
  def readDuplicateSpans(spark: org.apache.spark.sql.SparkSession,
                         outPath: String,
                         indexPath: String): Option[DataFrame] =
    LogStructuredSink.readCommitted(spark, Seq(outPath, indexPath))
      .map(_.head.drop("__batch"))

  /**
   * Streaming EXACT heavy hitters with log-structured count-min state —
   * the live form of [[graft.pipeline.Stats.heavyHitters]]: each
   * micro-batch appends its own (batch-sized) CMS cell partition and its
   * raw rows; NOTHING standing is ever read inside the loop, so the
   * per-trigger cost is the batch, not the corpus — the
   * [[aggStateStream]] cost class. Any reader combines the cell log
   * (cells ADD across batches — the mergeability that makes the sketch a
   * log) via [[readHeavyHitters]] for an exact as-of-the-last-batch
   * answer: the merged sketch prunes pass 2 and the exact pass drops its
   * false positives, so the OUTPUT is the brute-force answer over
   * everything streamed so far.
   *
   * EXACTLY-ONCE via the [[nearDupFlagsStream]] discipline: both the
   * data and cms logs partition by batch id, each published from a
   * staging dir with one atomic rename — a replayed batch replaces its
   * partitions bit-identically instead of double-counting its cells.
   */
  def heavyHittersStream(spark: org.apache.spark.sql.SparkSession,
                         rows: DataFrame, valueCol: String, statePath: String,
                         checkpoint: String, depth: Int = 4,
                         width: Int = 8192, compactEvery: Int = 0,
                         compactRetainMs: Long = 600000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(depth >= 1 && width >= 1,
      s"bad sketch shape ${depth}x$width") // fail at construction
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        // the data write and the cell aggregate each scan the batch —
        // two COLUMNAR scans of the micro-batch's source (for a file
        // feed, the slice parquet). Deliberately NOT pinned: a
        // localCheckpoint would materialize the whole batch row-format
        // in the block manager (measured at sf10: +17 s GC per 20M-row
        // batch), and per-batch caching is exactly the memory hazard a
        // log-structured operator exists to avoid. The nearDupFlags pin
        // is different — there the reuse saves re-SKETCHING, real
        // compute; here it would save only a scan.
        // the data append and the cell aggregate are independent scans of
        // the same micro-batch source committing to different logs — they
        // overlap (inParallel; the readHeavyHitters gate covers BOTH
        // orders by construction, see its scaladoc)
        inParallel(
          () => LogStructuredSink.write(batch.toDF(), s"$statePath/data",
            bid),
          () => LogStructuredSink.write(
            graft.pipeline.Stats.cmsCellFrame(batch.toDF(), valueCol,
              depth, width), s"$statePath/cms", bid))
        // opt-in auto-compaction of the CELL log only (the data log is
        // the corpus the exact pass scans — it is content, not foldable
        // state). The compactor takes the cms log's lease itself.
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.Stats.compactCmsIndexLive(spark,
            s"$statePath/cms", retainMs = compactRetainMs)
        ()
      }
      .start()
  }

  /** Exact heavy hitters over everything [[heavyHittersStream]] has
    * committed: merged cell log serves pass 1, the data log is scanned
    * once for the exact pass. The sink commits the data and cms logs
    * CONCURRENTLY each batch (two independent writes, in either order),
    * so a read racing an in-flight trigger could see data rows whose
    * cells are not yet written (an underestimating
    * pass-1 prune that can transiently drop a true heavy hitter) — or,
    * gating only the data side, cells (and the d = −1 total row,
    * inflating the support threshold) whose data rows are excluded.
    * BOTH logs are therefore gated to the same committed snapshot,
    * `__batch ≤ min(max(data), max(cms))` via
    * [[LogStructuredSink.readCommitted]] — exactly the newest
    * fully-committed prefix, taken ONCE so pass-1 cells, the total row,
    * and the exact pass cover the identical batch set. The bound
    * survives a [[graft.pipeline.Stats.compactCmsIndex]] pass, whose
    * single stamped partition carries the newest covered id. Cost: two
    * driver-side dir listings, zero Spark jobs. */
  def readHeavyHitters(spark: org.apache.spark.sql.SparkSession,
                       statePath: String, valueCol: String,
                       support: Double): DataFrame = {
    val Seq(data, cms) = LogStructuredSink.readCommitted(spark,
        Seq(s"$statePath/data", s"$statePath/cms"))
      .getOrElse(throw new IllegalStateException(
        s"no fully-committed batch under $statePath yet")): @unchecked
    graft.pipeline.Stats.heavyHittersFromCells(cms, data, valueCol, support)
  }

  /**
   * Streaming distinct-count telemetry with log-structured HyperLogLog
   * state ([[graft.pipeline.Stats.hllRegisters]]): each micro-batch
   * appends its own register partition — registers are mergeable (max
   * per bucket), so the standing log is never read; per-trigger cost is
   * one batch-sized aggregate over ≤ 2^p register rows. Readers fold any
   * prefix of the log through [[graft.pipeline.Stats.hllEstimate]]
   * ("distinct URLs/users seen so far", the 100 TB cardinality monitor
   * that never shuffles values). Exactly-once via per-batch dynamic
   * partition overwrite; p is stamped as column metadata on every
   * partition (a metadata-less file would blank it at schema merge).
   */
  def distinctCountStream(spark: org.apache.spark.sql.SparkSession,
                          rows: DataFrame, valueCol: String,
                          indexPath: String, checkpoint: String,
                          p: Int = 12, compactEvery: Int = 0,
                          compactRetainMs: Long = 600000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(p >= 4 && p <= 16 && p % 4 == 0,
      s"bad p $p") // fail at construction, not inside the first trigger
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("p", p.toLong).build()
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        LogStructuredSink.write(
          graft.pipeline.Stats.hllRegisters(batch.toDF(), valueCol, p)
            .select(col("__b").as("__b", meta), col("__m")),
          indexPath, bid)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.Stats.compactHllIndexLive(spark, indexPath,
            retainMs = compactRetainMs)
        ()
      }
      .start()
  }

  /**
   * Streaming grouped top-k (the maintained leaderboard view: "top
   * products per category so far") with log-structured partials — order
   * statistics are MERGEABLE: a group's global top-k is contained in
   * the union of per-batch top-k sets, so each micro-batch appends only
   * its own ≤ k·|groups| partial rows (skew-safe
   * [[graft.pipeline.GroupedTopK]] — map-side bounded, no window) and
   * [[readGroupedTopK]] re-ranks the tiny union. Standing state is
   * never read inside the loop; per-trigger cost is the batch.
   * Exactly-once via per-batch staging-dir write plus atomic rename
   * ([[LogStructuredSink.write]]). Include a
   * unique key in `order` for deterministic ties (the batch operator's
   * caveat, inherited).
   */
  def groupedTopKStream(spark: org.apache.spark.sql.SparkSession,
                        rows: DataFrame, groupCols: Seq[String],
                        order: Seq[(String, Boolean)], k: Int,
                        statePath: String, checkpoint: String,
                        compactEvery: Int = 0,
                        compactRetainMs: Long = 600000L)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(k >= 1, s"k must be >= 1, got $k") // fail at construction
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        LogStructuredSink.write(
          graft.pipeline.GroupedTopK.topK(batch.toDF(), groupCols, order, k)
            .drop("rank"), // partials re-rank at read; batch-local ranks lie
          statePath, bid)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.GroupedTopK.compactTopKLogLive(spark, statePath,
            groupCols, order, k, retainMs = compactRetainMs)
        ()
      }
      .start()
  }

  /** Exact grouped top-k over everything [[groupedTopKStream]] has
    * committed: one more bounded top-k over the ≤ k·|groups|·batches
    * partial log. Generation-aware, so a concurrent
    * [[graft.pipeline.GroupedTopK.compactTopKLogLive]] is invisible. */
  def readGroupedTopK(spark: org.apache.spark.sql.SparkSession,
                      statePath: String, groupCols: Seq[String],
                      order: Seq[(String, Boolean)], k: Int): DataFrame =
    graft.pipeline.GroupedTopK.topK(
      LogStructuredSink.readLogOrRaw(spark, statePath).drop("__batch"),
      groupCols, order, k)

  /**
   * Streaming maintenance of the log-structured aggregate state
   * ([[graft.pipeline.Materialize]]): each micro-batch writes its
   * per-key partials as its own log partition; any reader combines the
   * log via [[graft.pipeline.Materialize.readAggState]] at any time for
   * an exactly-up-to-date (as of the last batch) view (`readAggState`
   * groups on the key columns only, so the `__batch` partition column
   * rides along invisibly).
   *
   * EXACTLY-ONCE via the [[LogStructuredSink]] discipline — and this is
   * the sink where it matters MOST: sum/count partials are not
   * idempotent, so the round-12 flat append double-counted a batch
   * whose crash fell between the append and the checkpoint commit. A
   * replayed batch now overwrites its own partition with identical
   * deterministic content instead.
   */
  def aggStateStream(spark: org.apache.spark.sql.SparkSession,
                     rows: DataFrame, keyCols: Seq[String], valCol: String,
                     statePath: String, checkpoint: String,
                     compactEvery: Int = 0,
                     compactRetainMs: Long = 600000L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
        LogStructuredSink.write(
          graft.pipeline.Materialize.aggPartials(batch.toDF(), keyCols,
            valCol), statePath, bid)
        if (compactEvery > 0 && (bid + 1) % compactEvery == 0)
          graft.pipeline.Materialize.compactAggStateLive(spark, statePath,
            keyCols, retainMs = compactRetainMs)
        ()
      }
      .start()

  /** java.sql.Timestamp carries MICROsecond (nano) precision, but
    * `getTime` truncates to milliseconds — state arithmetic on getTime
    * silently coarsened session boundaries / fold orders to the ms grid
    * (found by q226's oracle: streamed session ends lost their µs
    * fraction). All stateful operators below keep event time in µs. */
  private def tsMicros(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def microsToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  case class Change(key: Long, ts: Timestamp, value: String)

  /**
   * Streaming CDC upsert view: maintain the LATEST change per key across
   * batches (`mapGroupsWithState`, Update output) — the streaming
   * complement of [[graft.pipeline.Materialize.scd2Apply]] (which keeps
   * history; this keeps the head). Out-of-order arrivals never regress
   * the view: the state keeps the (ts, value)-maximum seen, so a late
   * change with an older timestamp re-emits the standing latest
   * unchanged (ties on ts break to the larger value — deterministic
   * under any arrival order). State is one row per key — bounded by the
   * DIMENSION's cardinality, not the change volume, which is the CDC
   * contract.
   *
   * `ttl` bounds state when keys themselves CHURN OUT (deleted users,
   * retired SKUs): a key's state expires once the event-time watermark
   * passes its latest change's timestamp + ttl (event-time timeout —
   * wall-clock pauses never evict), vanishing from the store; a change
   * arriving after expiry restarts the key's view cleanly from that
   * change. For NON-LATE arrivals emitted values are unchanged by the
   * knob — a non-late arrival always outranks the expired state it
   * replaces (its event time exceeds the watermark that evicted it) —
   * so TTL is purely the state-size bound, which the suite asserts
   * through the state-store row metric. LATE arrivals (event time at or
   * below the watermark) are DROPPED, the standard watermark contract:
   * `flatMapGroupsWithState` does not filter them itself, and folding
   * them would make the view arrival-window-dependent — a straggler
   * landing after its key expired would re-seed empty state and be
   * emitted as the key's best, where the same straggler a trigger
   * earlier would have lost to the standing state (suite-pinned). The
   * NoTimeout arm has no watermark and folds everything; choose ttl
   * only with a disciplined event-time feed. Default None keeps the
   * round-12 NoTimeout plan verbatim.
   */
  def latestPerKey(changes: Dataset[Change],
                   ttl: Option[scala.concurrent.duration.Duration] = None,
                   watermarkDelay: String = "10 minutes"): Dataset[Change] = {
    import changes.sparkSession.implicits._
    ttl match {
      case None =>
        changes.groupByKey(_.key)
          .mapGroupsWithState[Change, Change](GroupStateTimeout.NoTimeout) {
            (_: Long, rows: Iterator[Change], state: GroupState[Change]) =>
              val best = (rows ++ state.getOption.iterator)
                .maxBy(c => (tsMicros(c.ts), c.value))
              state.update(best)
              best
          }
      case Some(d) =>
        val ttlMs = d.toMillis
        require(ttlMs > 0, s"ttl must be positive, got $d")
        changes.withWatermark("ts", watermarkDelay)
          .groupByKey(_.key)
          .flatMapGroupsWithState[Change, Change](
            OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
            (_: Long, rows: Iterator[Change], state: GroupState[Change]) =>
              if (state.hasTimedOut) {
                state.remove() // churned-out key: the view forgets it
                Iterator.empty
              } else {
                // drop LATE rows (event time at or below the watermark):
                // the engine does not filter them for
                // flatMapGroupsWithState, and a late straggler must not
                // re-seed an expired key's empty state (it would be
                // emitted as the best where a trigger earlier it would
                // have lost to the standing state). getCurrentWatermarkMs
                // is the PREVIOUS trigger's watermark — exactly the bound
                // that decided expiry.
                val wm = state.getCurrentWatermarkMs()
                val live = rows.filter(c =>
                  Math.floorDiv(tsMicros(c.ts), 1000L) > wm).toSeq
                if (live.isEmpty) Iterator.empty // all late: state, timer,
                else {                           // and view stay untouched
                  val best = (live.iterator ++ state.getOption.iterator)
                    .maxBy(c => (tsMicros(c.ts), c.value))
                  state.update(best)
                  // expire one ttl after the LATEST change's event time
                  // (ceil to the ms grid like sessionize); clamp above
                  // the current watermark — a watermark-adjacent refresh
                  // must still set a legal timer
                  state.setTimeoutTimestamp(math.max(
                    Math.floorDiv(tsMicros(best.ts) + 999L, 1000L) + ttlMs,
                    wm + 1L))
                  Iterator.single(best)
                }
              }
          }
    }
  }

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, end: Long, n: Long, total: Double)
  case class ClosedSession(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long, total_value: Double)

  /**
   * Gap-based streaming sessionization via flatMapGroupsWithState:
   * a session closes when no event arrives for `gapMinutes` (event-time via
   * watermark + processing-time timeout). Emits one row per closed session.
   */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermarkDelay: String = "10 minutes"): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60000000L

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId,
              microsToTs(s.start), microsToTs(s.end), s.n, s.total))
          } else {
            // state carries MICROsecond event time (tsMicros) — the ms
            // grid of Timestamp.getTime coarsened session boundaries
            val sorted = rows.toSeq.sortBy(e => tsMicros(e.ts))
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = tsMicros(e.ts)
              cur match {
                case Some(s) if t - s.end <= gapUs =>
                  cur = Some(SessionState(s.start, math.max(s.end, t), s.n + 1, s.total + e.value))
                case Some(s) =>
                  closed ::= ClosedSession(userId,
                    microsToTs(s.start), microsToTs(s.end), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // the timeout API takes MILLIS: round UP so the timer can
              // never fire before end + gap (an event inside the lost
              // sub-ms window must still be able to extend the session;
              // a marginally-late timeout is harmless — an over-gap
              // event closes the session inline anyway)
              state.setTimeoutTimestamp(
                Math.floorDiv(s.end + gapUs + 999L, 1000L))
            }
            closed.reverseIterator
          }
      }
  }

  case class Obs(key: Long, ts: Timestamp, tie: Long, value: Double)
  case class EwmaState(lastUs: Long, lastTie: Long, n: Long, ewma: Double)
  case class EwmaRow(key: Long, n_events: Long, ewma: Double)

  /**
   * Streaming exact EWMA per key — the unbounded-key answer to
   * [[graft.pipeline.Sessions.ewma]]'s per-key-buffer caveat: state is
   * ONE row per key (last (ts, tie) + the running level), each batch
   * folds its rows in (event-time, tie) order with the identical
   * α·x + (1−α)·acc IEEE chain, so after in-order batches the view
   * equals the batch operator on the union (suite-pinned). EWMA is
   * order-sensitive, so an event at-or-before the state's last (ts,
   * tie) cannot be folded retroactively without replay — late
   * stragglers are DROPPED, never folded out of order (the monitor
   * stays a prefix of the true fold rather than silently wrong; feed
   * in-order or re-run batch for exactness). Emits the updated
   * (key, n_events, ewma) row per touched key each batch (Update mode).
   */
  def ewmaStream(obs: Dataset[Obs], alpha: Double): Dataset[EwmaRow] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    import obs.sparkSession.implicits._
    obs.groupByKey(_.key)
      .mapGroupsWithState[EwmaState, EwmaRow](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[Obs], state: GroupState[EwmaState]) =>
          var st = state.getOption
            .getOrElse(EwmaState(Long.MinValue, Long.MinValue, 0L, 0.0))
          // MICROsecond event time (tsMicros): the ms grid of getTime
          // could fold same-ms observations in tie order where the
          // batch operator orders them by their true µs instants
          rows.toSeq.sortBy(o => (tsMicros(o.ts), o.tie)).foreach { o =>
            val (us, tie) = (tsMicros(o.ts), o.tie)
            if (us > st.lastUs || (us == st.lastUs && tie > st.lastTie)) {
              val y = if (st.n == 0L) o.value
                      else alpha * o.value + (1.0 - alpha) * st.ewma
              st = EwmaState(us, tie, st.n + 1L, y)
            }
          }
          state.update(st)
          EwmaRow(key, st.n, st.ewma)
      }
  }

  /**
   * Streaming PSI drift monitor — the live face of
   * [[graft.pipeline.Stats.psi]]: per event-time window, bin the
   * value stream over the same FIXED [lo, hi]×nBins domain as a
   * static baseline frame and emit the window's Population Stability
   * Index against the baseline's bin shares.
   *
   * Streaming shape: ONE stateful operator. Each row one-hot-encodes
   * into an nBins histogram slot; the watermarked windowed aggregate
   * element-wise-sums those arrays ([[LongVecSumAgg]] — map-side
   * partial combine, state = one nBins-long array per open window).
   * The baseline folds to a single share-array row joined in by
   * broadcast, and PSI evaluates in a codegen'd zip_with/aggregate
   * post-projection — no second streaming aggregation, no chained
   * stateful operators. Bins unoccupied on either side are skipped
   * (the batch operator's report-only honesty; `n_bins_used` says how
   * many contributed).
   *
   * Output per window: (window, n, n_bins_used, psi).
   */
  def psiStream(stream: DataFrame, baseline: DataFrame, valueCol: String,
                lo: Double, hi: Double, nBins: Int,
                windowLen: String = "5 minutes",
                watermarkDelay: String = "10 minutes"): DataFrame = {
    require(nBins >= 2 && hi > lo)
    val width = (hi - lo) / nBins
    def bin(c: org.apache.spark.sql.Column) =
      least(greatest(floor((c.cast("double") - lo) / width).cast("long"),
        lit(0L)), lit(nBins - 1L))
    def oneHot(c: org.apache.spark.sql.Column) =
      transform(sequence(lit(0L), lit(nBins - 1L)),
        i => when(i === bin(c), 1L).otherwise(0L))
    val vecSum = udaf(new LongVecSumAgg(nBins),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
    // the baseline fold is PINNED at construction (eager localCheckpoint):
    // a raw batch subtree inside a streaming plan re-executes on EVERY
    // micro-batch — profiled as one full baseline scan per trigger — and
    // at production baseline sizes that is the whole cost of the monitor.
    // One distributed aggregate runs once; every trigger broadcasts the
    // checkpointed one-row result. Values unchanged (q225 re-certified).
    val baseShares = baseline.where(col(valueCol).isNotNull)
      .select(oneHot(col(valueCol)).as("__h"))
      .agg(vecSum(col("__h")).as("__bc"))
      .select(transform(col("__bc"), c => c.cast("double") /
        aggregate(col("__bc"), lit(0L), (a, x) => a + x).cast("double"))
        .as("__q"))
      .localCheckpoint(true)
    val counts = stream
      .where(col(valueCol).isNotNull)
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen))
      .agg(vecSum(oneHot(col(valueCol))).as("__c"))
    val n = aggregate(col("__c"), lit(0L), (a, x) => a + x).cast("double")
    val terms = zip_with(col("__c"), col("__q"), (c, q) =>
      when(c > 0L && q > 0.0,
        (c.cast("double") / n - q) * log((c.cast("double") / n) / q))
        .otherwise(lit(0.0)))
    val used = zip_with(col("__c"), col("__q"), (c, q) =>
      when(c > 0L && q > 0.0, 1L).otherwise(0L))
    counts.crossJoin(broadcast(baseShares))
      .select(col("window"), n.cast("long").as("n"),
        aggregate(used, lit(0L), (a, x) => a + x).as("n_bins_used"),
        aggregate(terms, lit(0.0), (a, x) => a + x).as("psi"))
  }
}

/** Element-wise sum of fixed-length long vectors (histogram merge). */
class LongVecSumAgg(n: Int)
    extends Aggregator[Seq[Long], Array[Long], Seq[Long]] with Serializable {
  def zero: Array[Long] = new Array[Long](n)
  def reduce(b: Array[Long], v: Seq[Long]): Array[Long] = {
    var i = 0; while (i < n) { b(i) += v(i); i += 1 }; b
  }
  def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0; while (i < n) { a(i) += b(i); i += 1 }; a
  }
  def finish(r: Array[Long]): Seq[Long] = r.toSeq
  def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
