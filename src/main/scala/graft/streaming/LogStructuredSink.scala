package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The exactly-once discipline shared by every log-structured streaming
 * sink in [[StreamOps]], extracted to one definition: a `foreachBatch`
 * body writes each micro-batch's rows to a hidden staging dir and
 * publishes them as the batch's OWN partition (`__batch = bid`) with one
 * atomic rename ([[write]]), and any read of standing state from inside
 * the loop sees only partitions `__batch < bid`. Together these make an
 * at-least-once replay (crash after the write, before the checkpoint
 * commit) invisible:
 *
 *  - the replayed batch REPLACES its own partition (delete, then rename)
 *    with identical deterministic content instead of appending duplicate
 *    rows;
 *  - the probe never sees the crashed attempt's half-written partition,
 *    so a batch can never flag/dedup/aggregate against itself
 *    (the failure the flat-append layout produced in
 *    nearDupFlagsStream's self-review — every replayed document flagged
 *    against its own first-attempt sketches).
 *
 * The happy path is unchanged: `__batch < bid` is exactly "the log as
 * of the previous batch". Hand-rolled five times across round 12's
 * sinks before extraction; a ninth copy is a bug waiting to happen.
 *
 * `subPartitionCols` threads secondary partition columns under
 * `__batch` (e.g. a hash-prefix bucket that lets a standing-index probe
 * prune at the directory level — see
 * [[StreamOps.duplicateSpansStream]]). They live inside the staging dir
 * and move with it in the one rename, which stays safe under replay
 * because the batch's content — hence its sub-partition set — is
 * deterministic.
 *
 * Every filesystem call resolves the log path's OWN scheme ([[fsFor]]),
 * never the default filesystem. The commit relies on that scheme's
 * rename being atomic (local, HDFS); on a scheme whose rename is a
 * copy-then-delete (plain object stores) a reader can see a partially
 * published batch.
 *
 * == The generation layout (live compaction) ==
 *
 * A log compacted under a LIVE stream keeps TWO zones:
 *
 *  - the ROOT zone `path/__batch=N/…` — per-trigger appends, exactly
 *    the layout above, owned by the sink;
 *  - the COMPACTED zone `path/_compact/gen-K/…` — whole-prefix folds
 *    written by [[compactLive]], invisible to a plain
 *    `spark.read.parquet(path)` (leading underscore), made CURRENT by
 *    an atomic marker file under `path/_compact/`.
 *
 * The marker (`m-<gen>-<stamp>-<flipMs>`) encodes everything a reader
 * needs in its NAME, so publishing a fold is one atomic file create:
 * generation K covers batches `__batch ≤ stamp`, and a consistent view
 * of the log is always `gen-K ∪ root partitions > stamp` — readers
 * resolve the newest marker once ([[readLog]]) and never observe a
 * half-applied fold. Superseded state (older generations, root
 * partitions ≤ stamp) is deleted only by a LATER compaction and only
 * after `retainMs` has elapsed since the superseding flip, so an
 * external reader's in-flight scan keeps its listed files — the
 * snapshot-retention contract every table format uses for exactly this
 * race. Readers therefore need NO lease; the lease serializes writers
 * (sink trigger sections and compactors) only.
 */
object LogStructuredSink {

  /** Write `df` as batch `bid`'s own partition(s), exactly-once under
    * replay. `df` must not already carry a `__batch` column. With
    * sub-partition columns the rows are first clustered on them so each
    * partition directory gets O(1) files, not one per upstream task —
    * 256 prefix dirs × 32 shuffle partitions of loose files per trigger
    * is exactly the small-file tax the layout must not introduce.
    *
    * An EMPTY batch still commits: a zero-row write leaves no parquet
    * file in the staging dir, which would leave this log's committed
    * frontier ([[maxBatch]]) stuck and gate every
    * [[readCommitted]]-based view to an ever-older snapshot (a healthy
    * stream with no duplicate spans yet read as "nothing committed").
    * So when no partition landed, the batch writes one zero-row parquet
    * file into its own partition directory — schema preserved, rows
    * none, replay-idempotent — and the frontier advances. String-typed
    * sub-partition columns get a literal `__empty` directory level so
    * partition discovery keeps one consistent depth. */
  def write(df: DataFrame, path: String, bid: Long,
            subPartitionCols: Seq[String] = Nil): Unit = {
    val clustered =
      if (subPartitionCols.isEmpty) df
      else df.repartition(subPartitionCols.map(col): _*)
    // Write the batch's partition to a HIDDEN staging dir and publish it
    // with ONE atomic rename to `__batch=bid`. This keeps the direct
    // write's cost (one plain parquet job — no dynamic-partition-
    // overwrite commit dance, measured ~0.10 s/write cheaper at trigger
    // sizes, WriteModeBench) while restoring the atomicity the layout's
    // readers REQUIRE: `listBatches`/`maxBatch`/`readCommitted` treat
    // directory existence as commitment, so the partition dir must
    // appear complete-or-not-at-all, never mid-job. The dot prefix
    // hides staging from both partition discovery (only `__batch=` dirs
    // are collected) and `spark.read.parquet(path)` (Spark skips
    // `.`/`_`-prefixed paths); a crash before the rename strands only an
    // invisible orphan dir that the replayed attempt ignores.
    val target = s"$path/__batch=$bid"
    val staging =
      s"$path/.staging-$bid-${java.util.UUID.randomUUID().toString}"
    (if (subPartitionCols.isEmpty) clustered.write
     else clustered.write.partitionBy(subPartitionCols: _*))
      .mode("overwrite").parquet(staging)
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    // an EMPTY batch writes no parquet file — commit a zero-row,
    // schema-bearing file so the committed frontier advances and a
    // whole-log read never lacks a schema (see scaladoc). Guarded: a
    // committer that skips dir creation for rowless jobs must fall
    // through to the schema-only write, not throw on the listing.
    var anyParquet = false
    if (fs.exists(stagingPath)) {
      val it = fs.listFiles(stagingPath, true)
      while (!anyParquet && it.hasNext)
        anyParquet = it.next().getPath.getName.endsWith(".parquet")
    }
    if (!anyParquet) {
      val leaf = subPartitionCols.foldLeft(staging) {
        (d, c) => s"$d/$c=__empty"
      }
      df.limit(0).drop(subPartitionCols: _*).repartition(1)
        .write.mode("overwrite").parquet(leaf)
    }
    // Commit point. A replayed batch (crash after a completed rename,
    // before the checkpoint commit) deletes its earlier attempt's dir
    // immediately before the rename: two driver-side metadata ops, not a
    // whole job with the dir visibly half-written.
    val targetPath = new org.apache.hadoop.fs.Path(target)
    if (fs.exists(targetPath)) fs.delete(targetPath, true)
    if (!fs.rename(stagingPath, targetPath))
      throw new java.io.IOException(
        s"failed to commit batch $bid: rename $staging -> $target")
    // the raw rename bypasses Spark's cache invalidation, so refresh the
    // log ROOT explicitly — a later read in this session could otherwise
    // serve a stale root listing from the shared FileStatusCache and
    // miss this batch (the sweepSuperseded lesson)
    spark.catalog.refreshByPath(path)
  }

  /** The filesystem of `path`'s own scheme (not the default one). The
    * commit in [[write]] is atomic only where this filesystem's rename
    * is. */
  private def fsFor(spark: SparkSession, path: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fsFor(spark, path).exists(new org.apache.hadoop.fs.Path(path))

  /** The batch ids present in a log's ROOT partition layout — ONE
    * driver-side `listStatus`, NO Spark job (the point: per-trigger
    * probes that only need existence or the newest id should not launch
    * a distributed max over a one-column read — at local-mode latency
    * each such job costs ~0.3 s of scheduling, and at cluster scale it
    * is a pointless round-trip). None if the path does not exist yet;
    * Some(empty) for an existing dir with no `__batch=` partitions.
    * Does NOT account the compacted zone — see [[maxBatch]]. */
  def listBatches(spark: SparkSession, path: String): Option[Seq[Long]] = {
    val fs = fsFor(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(p)) None
    else Some(fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("__batch=") =>
        n.stripPrefix("__batch=").toLong })
  }

  // ---------------------------------------------------------------------
  // Generation markers (the compacted zone's commit record)
  // ---------------------------------------------------------------------

  /** A published compaction generation: `gen-<gen>` covers every batch
    * `__batch ≤ stamp`; `at` is the flip's wall-clock ms (retention). */
  final case class Gen(gen: Long, stamp: Long, at: Long)

  private def compactDir(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/_compact")

  private[graft] def genDir(path: String, gen: Long): String =
    s"$path/_compact/gen-$gen"

  private def markerPath(path: String, g: Gen) =
    new org.apache.hadoop.fs.Path(
      f"$path%s/_compact/m-${g.gen}%08d-${g.stamp}%d-${g.at}%d")

  /** All published generation markers of a log, unsorted. */
  private def markers(spark: SparkSession, path: String): Seq[Gen] = {
    val fs = fsFor(spark, path)
    val dir = compactDir(path)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.filter(_.isFile)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("m-") =>
        val Array(g, s, a) = n.stripPrefix("m-").split('-')
        Gen(g.toLong, s.toLong, a.toLong) }
  }

  /** The current (newest-published) generation, if the log has ever been
    * live-compacted. A reader resolves this ONCE and the files it
    * implies stay on disk for at least `retainMs` past the NEXT flip. */
  def currentGen(spark: SparkSession, path: String): Option[Gen] = {
    val ms = markers(spark, path)
    if (ms.isEmpty) None else Some(ms.maxBy(_.gen))
  }

  /** Newest batch id a log holds — driver-side, no job; accounts both
    * the root partitions and the compacted zone's stamp. None when the
    * path is missing or holds neither. */
  def maxBatch(spark: SparkSession, path: String): Option[Long] = {
    val root = listBatches(spark, path).getOrElse(Seq.empty)
    val stamp = currentGen(spark, path).map(_.stamp)
    val all = root ++ stamp
    if (all.isEmpty) None else Some(all.max)
  }

  /** Newest COMMITTED batch id strictly before `bid` — the in-loop probe
    * for "the latest snapshot partition that applies to this batch"
    * (curateStream's totals base). One dir listing, zero Spark jobs —
    * this replaces a per-trigger `agg(max(__batch)).collect()` job whose
    * local-mode scheduling alone cost ~0.3 s. */
  def maxBatchBefore(spark: SparkSession, path: String,
                     bid: Long): Option[Long] = {
    val root = listBatches(spark, path).getOrElse(Seq.empty)
    val stamp = currentGen(spark, path).map(_.stamp)
    val before = (root ++ stamp).filter(_ < bid)
    if (before.isEmpty) None else Some(before.max)
  }

  /**
   * Generation-aware read of a whole log: the current compacted
   * generation (its rows re-stamped `__batch = stamp`, where every
   * probe and commit gate expects the folded prefix) unioned with the
   * root partitions NEWER than the stamp. Without a marker this is a
   * plain parquet read — logs that were never live-compacted behave
   * exactly as before. None when the log does not exist at all.
   *
   * This is the ONLY correct way to read a possibly-live-compacted log:
   * a plain `spark.read.parquet(path)` double-reads the fold window
   * before the sweep and loses the folded prefix after it.
   */
  def readLog(spark: SparkSession, path: String): Option[DataFrame] =
    currentGen(spark, path) match {
      case None =>
        if (exists(spark, path)) Some(spark.read.parquet(path)) else None
      case Some(g) =>
        val genDf = spark.read.parquet(genDir(path, g.gen))
          .withColumn("__batch", lit(g.stamp))
        val newer = listBatches(spark, path).getOrElse(Seq.empty)
          .filter(_ > g.stamp)
        if (newer.isEmpty) Some(genDf)
        else {
          val rootDf = spark.read.parquet(path)
            .filter(col("__batch") > lit(g.stamp))
            .withColumn("__batch", col("__batch").cast("long"))
          Some(genDf.unionByName(rootDf.select(genDf.columns.map(col): _*)))
        }
    }

  /** [[readLog]] with the plain-read error surface for callers that
    * require the log to exist (missing path raises Spark's standard
    * path-not-found analysis error). */
  def readLogOrRaw(spark: SparkSession, path: String): DataFrame =
    readLog(spark, path).getOrElse(spark.read.parquet(path))

  /** Per-sink positive-existence memo: a log path never un-exists within
    * one query lifetime, so after the first positive check the
    * per-trigger FS round-trip is skipped (local stat is ~free; on an
    * object store it is a real round trip per trigger). One instance per
    * STARTED query (closure state) — never global: benches and tests
    * delete and recreate the same paths between query lifetimes, and a
    * process-wide memo would poison the second lifetime's first probe. */
  final class PathMemo(path: String) {
    private var known = false
    def exists(spark: SparkSession): Boolean = {
      if (!known) known = LogStructuredSink.exists(spark, path)
      known
    }
    def readBefore(spark: SparkSession, bid: Long): Option[DataFrame] =
      if (exists(spark)) LogStructuredSink.readBefore(spark, path, bid)
      else None
  }

  /** The committed standing prefix of the log as of batch `bid` —
    * partitions strictly before `bid`, generation-aware; None before the
    * first batch has ever written (the path does not exist yet). The
    * compacted stamp is always < any in-flight bid (a fold never touches
    * the newest partition), so the folded prefix passes the filter
    * whole. */
  def readBefore(spark: SparkSession, path: String,
                 bid: Long): Option[DataFrame] =
    readLog(spark, path).map(_.filter(col("__batch") < lit(bid)))

  /**
   * Committed-prefix read of a MULTI-log sink for EXTERNAL readers — the
   * generalized [[graft.streaming.StreamOps.readHeavyHitters]] gate: a
   * sink that commits several logs per trigger (e.g. curateStream's
   * data + sketch index + shard totals) writes them as SEPARATE jobs, so
   * a reader racing an in-flight trigger could see batch N's rows in the
   * first log before its rows land in the last — data without its index,
   * counts without their totals. Batch N is fully committed exactly when
   * EVERY log holds its partition, so the consistent snapshot is each log
   * filtered to `__batch ≤ min over logs of max(__batch)` — one
   * driver-side listing per log, no Spark jobs. Since every batch
   * commits a partition even when it writes zero rows (see [[write]]),
   * the gate tracks actual commits, not merely nonempty writes.
   *
   * In-loop probes don't need this ([[readBefore]]'s `__batch < bid` is
   * already consistent); this is the contract for ad-hoc reads of a LIVE
   * sink's output. Returns one gated frame per path, in order; None for
   * the whole read if any log is missing or empty (no batch has fully
   * committed yet — "data exists but its index doesn't" must read as
   * nothing, not as ungated data). Reads are generation-aware, so a
   * concurrent [[compactLive]] is invisible: the marker flip is atomic
   * and superseded files outlive any in-flight scan by `retainMs`.
   */
  def readCommitted(spark: SparkSession,
                    paths: Seq[String]): Option[Seq[DataFrame]] = {
    require(paths.nonEmpty, "at least one log path")
    val maxes = paths.map(maxBatch(spark, _))
    if (maxes.exists(_.isEmpty)) None
    else {
      val committed = maxes.flatten.min
      Some(paths.map(p => readLogOrRaw(spark, p)
        .filter(col("__batch") <= lit(committed))))
    }
  }

  /**
   * Advisory lease serializing a live sink's trigger section against a
   * concurrent compaction of the same log ([[compactLive]]): without
   * it, two compactors could interleave generation writes, and a
   * compaction's retention sweep could delete files a mid-flight
   * trigger probe already listed. EXTERNAL readers do not take the
   * lease — the generation marker plus retention makes their reads
   * atomic without it. The lease file is a SIBLING of the log dir
   * (`<path>.__lease`) — inside it, its existence would flip a
   * `readBefore` existence probe before the first batch ever writes.
   *
   * Protocol: atomic create-if-absent of the lease file — on the local
   * scheme via `File.createNewFile` (a single O_CREAT|O_EXCL, because
   * Hadoop's LocalFileSystem `create(overwrite = false)` is a racy
   * exists-then-create), on HDFS-like schemes via `create(path, false)`
   * (atomic at the namenode) — and a TOKEN-VERIFIED delete on release:
   * the holder deletes the lease only if the file still carries its own
   * token, so a holder whose lease was (wrongly or rightly) broken can
   * never delete a successor's live lease. While the body runs, a
   * daemon refresher touches the lease mtime every `staleMs / 3`, so a
   * LIVE holder — however long its fold — never looks stale; a lease
   * older than `staleMs` therefore means a crashed holder, and a
   * contender breaks it by renaming the corpse aside (never deleting in
   * place — two breakers deleting could remove a fresh winner's lease).
   * Corpses a crashed BREAKER stranded (`.__lease.stale-*`) are swept
   * on every successful acquisition — they are uniquely named and
   * delete-safe by construction.
   *
   * Cost on the trigger path: two driver-side FS metadata ops per
   * trigger (create + delete) — noise against the trigger's 3–5 jobs.
   */
  def withLease[T](spark: SparkSession, logPath: String,
                   staleMs: Long = 600000L, retryMs: Long = 50L,
                   timeoutMs: Long = 600000L)(body: => T): T = {
    val fs = fsFor(spark, logPath)
    val lease = new org.apache.hadoop.fs.Path(
      logPath.stripSuffix("/") + ".__lease")
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + timeoutMs
    var held = false
    while (!held) {
      held =
        if (fs.getScheme == "file") {
          val f = new java.io.File(lease.toUri.getPath)
          f.getParentFile.mkdirs()
          try {
            val got = f.createNewFile() // atomic O_CREAT|O_EXCL
            if (got) java.nio.file.Files.writeString(f.toPath, token)
            got
          } catch { case _: java.io.IOException => false }
        } else
          try {
            val out = fs.create(lease, false) // atomic create-if-absent
            out.write(token.getBytes("UTF-8")); out.close(); true
          } catch { case _: java.io.IOException => false }
      if (!held) {
        val st = try Some(fs.getFileStatus(lease)) catch {
          case _: java.io.FileNotFoundException => None
        }
        st.foreach { s =>
          if (System.currentTimeMillis() - s.getModificationTime > staleMs) {
            // crashed holder: break by renaming the corpse to a unique
            // name (NOT delete — two breakers deleting could remove a
            // fresh lease the other breaker's winner just created; a
            // rename moves only THIS corpse, exactly once) and re-contend
            // through the atomic create
            val corpse = new org.apache.hadoop.fs.Path(
              s"$lease.stale-$token")
            if (fs.rename(lease, corpse)) fs.delete(corpse, false)
          }
        }
        if (System.currentTimeMillis() > deadline)
          throw new IllegalStateException(
            s"could not acquire lease $lease within ${timeoutMs} ms")
        Thread.sleep(retryMs)
      }
    }
    // sweep corpses a crashed breaker stranded between rename and delete
    try {
      val parent = lease.getParent
      if (parent != null && fs.exists(parent))
        fs.listStatus(parent).foreach { s =>
          if (s.isFile && s.getPath.getName.startsWith(
              lease.getName + ".stale-"))
            fs.delete(s.getPath, false)
        }
    } catch { case _: java.io.IOException => () }
    // live-holder heartbeat: a long fold must never look stale
    val refresher = new Thread(() =>
      try {
        while (true) {
          Thread.sleep(math.max(staleMs / 3, 50L))
          val now = System.currentTimeMillis()
          if (fs.getScheme == "file")
            new java.io.File(lease.toUri.getPath).setLastModified(now)
          else fs.setTimes(lease, now, -1)
        }
      } catch {
        case _: InterruptedException => ()
        case _: java.io.IOException => ()
      })
    refresher.setDaemon(true)
    refresher.start()
    try body
    finally {
      refresher.interrupt()
      refresher.join(1000L)
      val owned =
        try {
          val in = fs.open(lease)
          val buf = new Array[Byte](token.length)
          val n = in.read(buf)
          in.close()
          n == token.length && new String(buf, "UTF-8") == token
        } catch { case _: java.io.IOException => false }
      if (owned) fs.delete(lease, false)
    }
  }

  /**
   * Compaction of a log-structured state log UNDER A LIVE STREAM, for
   * ANY re-foldable algebra — existence/distinct, max-merge, AND the
   * sum-merged families (CMS cells, aggregate partials, top-k ranks)
   * the round-14 in-place fold had to exclude. The fold is published
   * atomically through the generation layout (see the object scaladoc):
   *
   *  1. Fold only root partitions `__batch < max(listed)` (plus the
   *     standing generation): the NEWEST partition is the only one that
   *     can belong to an uncommitted (crashed, will-be-replayed)
   *     attempt — batch N starts only after batch N−1 committed — so
   *     the folded prefix can never be overwritten by a replay.
   *  2. Write the fold to the NEXT generation dir
   *     (`_compact/gen-(K+1)`) — invisible to every reader until
   *     published; a crash here leaves the current generation intact
   *     and the orphan dir is simply overwritten by the next fold.
   *  3. Publish with ONE atomic marker-file create: every reader
   *     resolves either generation K (old fold + all root partitions
   *     > old stamp) or K+1 (new fold + root > new stamp) — both exact,
   *     never a mix, never a window with rows missing or doubled. This
   *     is what makes the layout safe for SUM algebras, where the
   *     round-14 add-in-place fold had an unavoidable double-count
   *     window.
   *  4. Sweep SUPERSEDED state (generations < the newest marker older
   *     than `retainMs`, and root partitions ≤ that marker's stamp) —
   *     deletes trail publication by at least `retainMs`, so an
   *     external reader's in-flight scan keeps its files with no lease.
   *     `retainMs = 0` sweeps immediately (single-writer maintenance
   *     windows); the default keeps ten minutes of grace.
   *
   * Runs under the log's [[withLease]], shared with the sink's trigger
   * body where the sink probes standing state mid-trigger. Returns the
   * folded row count, or None when nothing new is safely foldable
   * (fewer than two root partitions, or none beyond the standing
   * stamp); the retention sweep runs either way.
   */
  def compactLive(spark: SparkSession, path: String,
                  fold: DataFrame => DataFrame,
                  subPartitionCols: Seq[String] = Nil,
                  retainMs: Long = 600000L,
                  staleMs: Long = 600000L,
                  coalesceTo: Int = 1): Option[Long] =
    withLease(spark, path, staleMs) {
      val cur = currentGen(spark, path)
      val stamp0 = cur.map(_.stamp).getOrElse(Long.MinValue)
      val rootIds = listBatches(spark, path).getOrElse(Seq.empty)
      val foldable =
        if (rootIds.size < 2) Seq.empty[Long]
        else rootIds.filter(id => id > stamp0 && id < rootIds.max)
      val res =
        if (foldable.isEmpty) None
        else {
          val newest = rootIds.max
          val gen = cur.map(_.gen).getOrElse(0L)
          val rootPart = spark.read.parquet(path)
            .filter(col("__batch") > lit(stamp0) &&
              col("__batch") < lit(newest))
            .drop("__batch")
          val input = cur match {
            case Some(g) =>
              val genDf = spark.read.parquet(genDir(path, g.gen))
              genDf.unionByName(rootPart.select(genDf.columns.map(col): _*))
            case None => rootPart
          }
          val folded = fold(input)
          // sketch-sized folds take O(1) files (coalesceTo, default 1);
          // key-proportional states pass 0 to keep the fold's own
          // partitioning; sub-partitioned layouts cluster per dir
          val clustered =
            if (subPartitionCols.nonEmpty)
              folded.repartition(subPartitionCols.map(col): _*)
            else if (coalesceTo > 0) folded.coalesce(coalesceTo)
            else folded
          // ONE write job. The round-14 in-place fold needed a
          // persist+count materialization barrier before overwriting its
          // own input; the generation layout writes to a FRESH dir the
          // input never references, so the barrier was a pure extra job
          // (and a cache pin) per fold. The folded row count — part of
          // the return contract — comes from the written files' parquet
          // footers: driver-side metadata, no Spark job.
          val out = genDir(path, gen + 1)
          (if (subPartitionCols.isEmpty) clustered.write
           else clustered.write.partitionBy(subPartitionCols: _*))
            .mode("overwrite").parquet(out)
          val fs = fsFor(spark, path)
          val n = footerRowCount(spark, out)
          val m = Gen(gen + 1, foldable.max, System.currentTimeMillis())
          val mOut = fs.create(markerPath(path, m), true)
          mOut.close()
          Some(n)
        }
      sweepSuperseded(spark, path, retainMs)
      res
    }

  /** Total row count of every parquet file under `dir` (recursive), read
    * from the file FOOTERS on the driver — exact, no Spark job. Used by
    * [[compactLive]] for its folded-row-count return value. */
  private def footerRowCount(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val it = fsFor(spark, dir).listFiles(new org.apache.hadoop.fs.Path(dir), true)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet")) {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(f, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try n += r.getRecordCount finally r.close()
      }
    }
    n
  }

  /** Delete state superseded by a flip at least `retainMs` old: older
    * generations, their markers, and root partitions the expired
    * marker's generation already covers. Callers hold the lease. */
  private def sweepSuperseded(spark: SparkSession, path: String,
                              retainMs: Long): Unit = {
    val ms = markers(spark, path)
    if (ms.isEmpty) return
    val now = System.currentTimeMillis()
    val expired = ms.filter(g => now - g.at >= retainMs)
    if (expired.isEmpty) return
    val e = expired.maxBy(_.gen)
    val fs = fsFor(spark, path)
    val sweptRoot = listBatches(spark, path).getOrElse(Seq.empty)
      .filter(_ <= e.stamp)
    sweptRoot.foreach(id => fs.delete(
      new org.apache.hadoop.fs.Path(s"$path/__batch=$id"), true))
    ms.filter(_.gen < e.gen).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(genDir(path, g.gen)), true)
      fs.delete(markerPath(path, g), false)
    }
    // raw fs deletes do NOT invalidate Spark's session-shared
    // FileStatusCache: a later read IN THIS SESSION could serve the
    // swept files from a cached listing and fail FILE_NOT_EXIST —
    // re-introducing exactly the race the retention window exists to
    // prevent (the cache makes a listing look fresher than it is).
    // Other sessions list for themselves; retention covers them.
    if (sweptRoot.nonEmpty || ms.exists(_.gen < e.gen))
      spark.catalog.refreshByPath(path)
  }
}
