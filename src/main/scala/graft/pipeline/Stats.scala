package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Grouped distribution monitoring (token-length / quality-score profiles
 * over corpus slices).
 *
 * Two variants with the same output shape:
 *
 *  - [[groupedPercentiles]]: EXACT type-7 percentiles (Spark `percentile` ≡
 *    DuckDB `quantile_cont`). The aggregate buffers every value of a group
 *    on the reducer — the right default while group cardinality bounds the
 *    buffer (the q51 monitoring shape).
 *  - [[groupedPercentilesApprox]]: `approx_percentile` over the same
 *    grouping — a bounded-memory quantile sketch with map-side partial
 *    aggregation, for the 100 TB regime with FEW groups where an exact
 *    per-group buffer of billions of doubles is a memory hazard. Rank error
 *    ≤ 1/accuracy of the distribution, not a value-space bound.
 */
object Stats {

  /** (groupCols*, p, value) — one row per requested percentile per group. */
  def groupedPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                         pcts: Seq[Double]): DataFrame =
    exploded(df, groupCols, valueCol, pcts, exact = true, accuracy = 0)

  /** [[groupedPercentiles]] with a bounded-memory sketch; identical shape. */
  def groupedPercentilesApprox(df: DataFrame, groupCols: Seq[String], valueCol: String,
                               pcts: Seq[Double], accuracy: Int = 10000): DataFrame =
    exploded(df, groupCols, valueCol, pcts, exact = false, accuracy = accuracy)

  /**
   * Robust per-group outlier detection: the median/MAD z-score
   * z = (x − median) / (1.4826 · MAD), MAD = median(|x − median|) —
   * the monitoring rule that survives the outliers it is hunting
   * (mean/stddev get dragged by the very tail being flagged; the 1.4826
   * constant rescales MAD to σ under normality). Appends `z` and
   * `is_outlier` (|z| > `threshold`) to every input row.
   *
   * Plan shape: two grouped EXACT medians (each a shuffle of the fact
   * frame on the group key — medians are holistic), the group-level
   * stats frames join among themselves and back to the rows as
   * dimension-sized broadcasts. At 100 TB with few groups swap the
   * exact percentile for `approx_percentile` (the
   * [[groupedPercentilesApprox]] trade) — the flag then carries the
   * sketch's rank error. Degenerate groups (MAD = 0, over half the
   * values identical) yield NULL z / false flag rather than an
   * engine-dependent ±Inf division.
   */
  def robustOutliers(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     threshold: Double = 3.5): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    val med = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, 0.5D)").as("__med"))
    val mad = df.join(med, groupCols)
      .select(groupCols.map(col) :+
        abs(col(valueCol) - col("__med")).as("__absdev"): _*)
      .groupBy(groupCols.map(col): _*)
      .agg(expr("percentile(__absdev, 0.5D)").as("__mad"))
    val z = when(col("__mad") =!= 0.0,
      (col(valueCol) - col("__med")) / (lit(1.4826) * col("__mad")))
    df.join(med.join(mad, groupCols), groupCols)
      .withColumn("z", z)
      .withColumn("is_outlier", coalesce(abs(col("z")) > threshold, lit(false)))
      .drop("__med", "__mad")
  }

  /**
   * Unigram-distribution drift between two corpus slices — the shift
   * detector run before mixing a new crawl/source into training data
   * (tokenizer mismatch, language imbalance, template floods all move
   * these numbers long before a loss curve would).
   *
   * Over the UNION vocabulary V with add-one smoothing —
   * p(t) = (c_a(t)+1)/(N_a+|V|), q(t) = (c_b(t)+1)/(N_b+|V|), both
   * exact probability distributions (they sum to 1 because every slice
   * token is in V) — emits one row:
   * KL(P‖Q), KL(Q‖P) (nats), and total variation ½·Σ|p−q|.
   *
   * Scale shape: two token-keyed count aggregates (map-side partials)
   * meet in ONE full outer equi-join on the token; the three totals
   * (N_a, N_b, |V|) fold out of that same joined frame as a one-row
   * broadcast, so the vocabulary is never collected and nothing bigger
   * than the vocab-keyed shuffle exists at any scale. Per-token
   * contributions are exact-count arithmetic; only the final Σ over V is
   * order-dependent (~|V|·1e-16) — callers round to 6dp.
   */
  def tokenDrift(a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame, cname: String) = df
      .select(explode(filter(split(trim(col(textCol)), "\\s+"),
        t => t =!= "")).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as(cname))
    val joined = counts(a, "__ca").join(counts(b, "__cb"), Seq("__t"), "full_outer")
      .select(coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val totals = joined.agg(sum(col("__ca")).cast("double").as("__na"),
      sum(col("__cb")).cast("double").as("__nb"),
      count(lit(1)).cast("double").as("__v"))
    val p = (col("__ca").cast("double") + 1.0) / (col("__na") + col("__v"))
    val q = (col("__cb").cast("double") + 1.0) / (col("__nb") + col("__v"))
    joined.crossJoin(broadcast(totals))
      .select(col("__v"), col("__na"), col("__nb"),
        (p * log(p / q)).as("__kab"), (q * log(q / p)).as("__kba"),
        abs(p - q).as("__ad"))
      .groupBy(col("__v"), col("__na"), col("__nb"))
      .agg(sum(col("__kab")).as("__sab"), sum(col("__kba")).as("__sba"),
        sum(col("__ad")).as("__sd"))
      .select(col("__v").cast("long").as("vocab_size"),
        col("__na").cast("long").as("n_a"), col("__nb").cast("long").as("n_b"),
        col("__sab").as("kl_ab"), col("__sba").as("kl_ba"),
        (col("__sd") / 2.0).as("tvd"))
  }

  /**
   * EXACT heavy hitters (values with frequency ≥ `support`·N) with a
   * count-min sketch doing the pruning — the hot-key detector that feeds
   * skew decisions (salting factors, AQE hints, hot-bucket guards)
   * without ever shuffling the full key space.
   *
   * Pass 1 folds the stream into a (depth × width)-cell count-min sketch
   * — a TINY aggregate (the cells frame, not the vocabulary, is the
   * shuffle) built with plain `groupBy(d, bucket)` over xxhash64 bucket
   * ids. Pass 2 filters each occurrence by its sketch estimate
   * min_d cell(d, h_d(v)) ≥ ⌈support·N⌉ via `depth` BROADCAST joins
   * (cells are broadcast-sized by construction), and only surviving
   * occurrences enter the exact per-value count. Count-min never
   * underestimates, so true heavy hitters always survive pass 2 and the
   * exact count then drops the sketch's false positives: the OUTPUT is
   * exactly the brute-force answer — the sketch affects only how much
   * data reaches the value-keyed shuffle. At 100 TB under a Zipf key
   * distribution that shuffle shrinks from the full corpus to the heavy
   * tail's occurrences.
   */
  def heavyHitters(df: DataFrame, valueCol: String, support: Double,
                   depth: Int = 4, width: Int = 8192): DataFrame = {
    require(support > 0.0 && support <= 1.0,
      s"support must be in (0, 1], got $support")
    require(depth >= 1 && width >= 1, s"bad sketch shape ${depth}x$width")
    val rows = values(df, valueCol)
    exactPass(rows, cmsCells(rows, depth, width),
      rows.agg(count(lit(1)).as("__n")), valueCol, support, depth, width)
  }

  /** Persist a count-min index of `df[valueCol]`: the (d, b, c) cells
    * plus a (d = −1) total-count row, with the sketch shape recorded as
    * column metadata. Sketches are MERGEABLE (cells add), so growing the
    * index never reads it — see [[appendCmsIndex]]. */
  def writeCmsIndex(df: DataFrame, valueCol: String, path: String,
                    depth: Int = 4, width: Int = 8192): Unit =
    cmsCellFrame(df, valueCol, depth, width)
      .write.mode("overwrite").parquet(path)

  /** Log-structured append: write the BATCH's cells (same shape, read
    * from the index metadata) — zero reads of standing state; the reader
    * sums cells by (d, b). Cost scales with the batch, not the corpus. */
  def appendCmsIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, valueCol: String): Unit = {
    val meta = spark.read.parquet(path).schema("__d").metadata
    // cmsCellFrame re-stamps the shape metadata: a metadata-less appended
    // file would win the read-time schema merge and blank it for readers
    cmsCellFrame(batch, valueCol,
        meta.getLong("depth").toInt, meta.getLong("width").toInt)
      .write.mode("append").parquet(path)
  }

  /** [[heavyHitters]] over `corpus` with pass 1 served by the persisted
    * index (built over exactly that corpus via write + appends): the
    * standing data is scanned ONCE (the exact pass) instead of twice. */
  def heavyHittersFromIndex(spark: org.apache.spark.sql.SparkSession,
                            path: String, corpus: DataFrame, valueCol: String,
                            support: Double): DataFrame =
    heavyHittersFromCells(
      graft.streaming.LogStructuredSink.readLogOrRaw(spark, path),
      corpus, valueCol, support)

  /** [[heavyHittersFromIndex]] over an ALREADY-LOADED (possibly filtered)
    * cell frame — the hook for readers that must restrict the index to a
    * committed prefix (the streaming read view's common-batch gate). */
  def heavyHittersFromCells(idx: DataFrame, corpus: DataFrame,
                            valueCol: String, support: Double): DataFrame = {
    require(support > 0.0 && support <= 1.0,
      s"support must be in (0, 1], got $support")
    val meta = idx.schema("__d").metadata
    val (depth, width) = (meta.getLong("depth").toInt, meta.getLong("width").toInt)
    val cells = idx.where(col("__d") >= 0)
      .groupBy(col("__d"), col("__b")).agg(sum(col("__c")).as("__c"))
    val total = idx.where(col("__d") === -1)
      .agg(sum(col("__c")).as("__n"))
    exactPass(values(corpus, valueCol), cells, total, valueCol,
      support, depth, width)
  }

  /** The (d, b, c) cell frame + (d = −1) total row with the sketch shape
    * stamped as column metadata — the unit [[writeCmsIndex]] persists and
    * [[appendCmsIndex]] appends. Public so log-structured maintainers
    * (e.g. the streaming heavy-hitter state in
    * [[graft.streaming.StreamOps.heavyHittersStream]]) can write
    * per-batch cell partitions themselves: cells are MERGEABLE (they
    * add), so any union of these frames is a valid index. */
  def cmsCellFrame(df: DataFrame, valueCol: String,
                   depth: Int = 4, width: Int = 8192): DataFrame = {
    require(depth >= 1 && width >= 1, s"bad sketch shape ${depth}x$width")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("depth", depth.toLong).putLong("width", width.toLong).build()
    cellsWithTotal(values(df, valueCol), depth, width)
      .select(col("__d").as("__d", meta), col("__b"), col("__c"))
  }

  // ---- HyperLogLog distinct counting (Flajolet–Fuchs–Gandouet–Meunier
  // 2007) with a fully DETERMINISTIC, engine-portable register algebra:
  // the md5-derived bucket/rank mean a DuckDB oracle can replay the
  // whole sketch in SQL, and the estimate is a pure function of the
  // register maxima — no RNG, no JVM-private hashing. The cardinality
  // telemetry op for the 100 TB regime: distinct URLs / users / grams
  // without a value-keyed shuffle (the register frame, ≤ 2^p rows, is
  // the only thing that ever moves), mergeable across shards and time
  // (max of maxes), so the persisted register log grows batch-by-batch
  // without reading standing state.

  /** Present-bucket HLL registers of `df[valueCol]`: (__b, __m) with
    * __b = first p bits of md5 (p/4 hex chars → p ≡ 0 (mod 4)) and
    * __m = max over the bucket of rho(next 48 bits) where
    * rho(x) = leading-zeros + 1 = 49 − bitlength(x) (x = 0 → 49, a
    * 2⁻⁴⁸ tail folded into the same CASE both engines evaluate).
    * Absent buckets are implicit zeros — [[hllEstimate]] accounts them.
    * p = 16 (~0.4% error, the production cardinality-gate accuracy)
    * accumulates its harmonic sum in DECIMAL(38,0) — see
    * [[hllEstimate]]. */
  def hllRegisters(df: DataFrame, valueCol: String, p: Int = 12): DataFrame = {
    require(p >= 4 && p <= 16 && p % 4 == 0,
      s"p must be 4, 8, 12, or 16 (hex-digit buckets), got $p")
    val h = md5(col("__v").cast("string"))
    val x = conv(substring(h, p / 4 + 1, 12), 16, 10).cast("long")
    values(df, valueCol)
      .select(conv(substring(h, 1, p / 4), 16, 10).cast("int").as("__b"),
        when(x === 0L, lit(49)).otherwise(lit(49) - length(bin(x)))
          .cast("int").as("__m"))
      .groupBy(col("__b")).agg(max(col("__m")).as("__m"))
  }

  /** One-row estimate from a register frame (any union of
    * [[hllRegisters]] outputs — merge = max per bucket, done here).
    * The harmonic sum is INTEGER-exact — Σ 2^(49−M_j) plus the empty
    * buckets' m·2^49 term, as BIGINT for p ≤ 12 (worst case m·2^49 ≤
    * 2^61) and as DECIMAL(38,0) for p = 16 (worst case 2^65 overflows
    * BIGINT; decimal is still exact, still order-independent, and still
    * SQL-replayable — DuckDB mirrors it as DECIMAL/HUGEINT arithmetic) —
    * so reduction order cannot move the hash; the small-range correction
    * m·ln(m/V) applies below 2.5m with empty registers, per the
    * published estimator. Emits (m, registers_set, harmonic_sum,
    * est_raw, distinct_est). */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame =
    hllEstimateFrom(
      registers.groupBy(col("__b")).agg(max(col("__m")).as("__m")), Nil, p)

  /** The shared estimate-column construction behind [[hllEstimate]] and
    * [[hllEstimateByGroup]] (ONE definition — a bias-correction tweak
    * cannot desync the grouped and ungrouped estimates): takes the
    * already max-merged register frame, appends (m, registers_set,
    * harmonic_sum, est_raw, distinct_est) per group (global when
    * `groupCols` is empty). */
  private def hllEstimateFrom(merged: DataFrame, groupCols: Seq[String],
                              p: Int): DataFrame = {
    require(p >= 4 && p <= 16 && p % 4 == 0, s"bad p $p")
    val m = 1 << p
    // published bias constants: α₁₆ = 0.673 (p = 4); the closed form
    // covers m ≥ 128 (p = 8, 12, 16 here)
    val alpha = if (m == 16) 0.673 else 0.7213 / (1.0 + 1.079 / m)
    val two49 = 562949953421312.0          // 2^49, exact in binary64
    val rset = coalesce(col("registers_set"), lit(0L))
    // the exact integer accumulator: BIGINT while it fits, DECIMAL(38,0)
    // at p = 16 — identical values, wider carrier
    val (s1, hs) =
      if (p <= 12)
        (sum(pow(lit(2.0), lit(49) - col("__m")).cast("long")),
          coalesce(col("__s1"), lit(0L)) +
            (lit(m.toLong) - rset) * lit(two49.toLong))
      else
        (sum(pow(lit(2.0), lit(49) - col("__m")).cast("decimal(38,0)")),
          coalesce(col("__s1"), lit(0L).cast("decimal(38,0)")) +
            ((lit(m.toLong) - rset).cast("decimal(38,0)") *
              lit(two49.toLong).cast("decimal(38,0)")))
    merged
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("registers_set"), s1.as("__s1"))
      .select(groupCols.map(col) ++ Seq(
        lit(m).cast("long").as("m"),
        rset.as("registers_set"),
        hs.as("harmonic_sum")): _*)
      .withColumn("est_raw",
        lit(alpha) * lit(m.toDouble) * lit(m.toDouble) /
          (col("harmonic_sum").cast("double") / lit(two49)))
      .withColumn("distinct_est",
        when(col("est_raw") <= lit(2.5 * m) && col("registers_set") < lit(m.toLong),
          lit(m.toDouble) *
            log(lit(m.toDouble) / (lit(m.toLong) - col("registers_set"))
              .cast("double")))
          .otherwise(col("est_raw")))
  }

  /** Estimated distinct count of `df[valueCol]` — [[hllRegisters]] +
    * [[hllEstimate]]: ~1.04/√m relative error (1.6% at p = 12), one
    * register-keyed aggregate instead of a value-keyed distinct shuffle. */
  def hllDistinct(df: DataFrame, valueCol: String, p: Int = 12): DataFrame =
    hllEstimate(hllRegisters(df, valueCol, p), p)

  /** Persist the register frame with p stamped as column metadata.
    * Registers are mergeable (max), so growth never reads the index. */
  def writeHllIndex(df: DataFrame, valueCol: String, path: String,
                    p: Int = 12): Unit =
    hllRegisters(df, valueCol, p)
      .select(col("__b").as("__b", hllMeta(p)), col("__m"))
      .write.mode("overwrite").parquet(path)

  /** Log-structured append of a batch's registers — zero reads of
    * standing state (readers max-merge); the [[appendCmsIndex]] shape. */
  def appendHllIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     batch: DataFrame, valueCol: String): Unit = {
    val p = spark.read.parquet(path).schema("__b").metadata.getLong("p").toInt
    hllRegisters(batch, valueCol, p)
      // re-stamp: a metadata-less appended file would win the read-time
      // schema merge and blank p for every reader (the CMS lesson)
      .select(col("__b").as("__b", hllMeta(p)), col("__m"))
      .write.mode("append").parquet(path)
  }

  /** Distinct estimate over the whole persisted register log
    * (generation-aware: a live-compacted log reads through its current
    * marker, so a concurrent [[compactHllIndexLive]] is invisible). */
  def readHllDistinct(spark: org.apache.spark.sql.SparkSession,
                      path: String): DataFrame = {
    val idx = graft.streaming.LogStructuredSink.readLogOrRaw(spark, path)
    hllEstimate(idx, idx.schema("__b").metadata.getLong("p").toInt)
  }

  /**
   * Fold an HLL register log back to ONE row per bucket (max-merge — the
   * same algebra every reader runs) into `outPath`, bounding the
   * file-listing/small-file tax a log that grows one partition per batch
   * pays after ~10⁵ triggers. The read view is preserved EXACTLY:
   * registers max-merge, so [[hllEstimate]] over the compacted frame
   * equals the estimate over the raw log bit for bit (suite-pinned, the
   * [[Materialize.compactAggState]] contract). Output is O(1) files
   * (≤ 2^p rows); `p` metadata re-stamps. If the log is a streaming
   * sink's batch-partitioned layout ([[graft.streaming.StreamOps
   * .distinctCountStream]]), the compacted rows keep that layout under
   * `__batch = max(__batch compacted)` so the sink can keep appending
   * later partitions to a swapped-in compaction — compact only COMMITTED
   * prefixes (the swap is the caller's atomic-rename concern, the
   * [[Layout.compactFiles]] convention). Returns the register count.
   */
  def compactHllIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, outPath: String): Long = {
    val idx = spark.read.parquet(path)
    val p = idx.schema("__b").metadata.getLong("p").toInt
    val folded = idx.groupBy(col("__b")).agg(max(col("__m")).as("__m"))
      .select(col("__b").as("__b", hllMeta(p)), col("__m"))
    Materialize.writeCompacted(folded, idx, outPath)
  }

  /** [[compactHllIndex]] while the
    * [[graft.streaming.StreamOps.distinctCountStream]] that owns the log
    * is LIVE — via [[graft.streaming.LogStructuredSink.compactLive]]'s
    * generation layout (atomic marker flip, retention-deferred sweep);
    * the sink never reads standing state, so only the fold-vs-replay
    * hazard applies and `compactLive`'s newest-partition exclusion
    * closes it. The p metadata re-stamps from the fold's own input
    * frame — read INSIDE the leased section, never as a separate
    * unleased footer probe. Returns the register count, or None when
    * nothing new is foldable. */
  def compactHllIndexLive(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          retainMs: Long = 600000L): Option[Long] = {
    if (!graft.streaming.LogStructuredSink.exists(spark, path)) return None
    graft.streaming.LogStructuredSink.compactLive(spark, path,
      df => {
        val p = df.schema("__b").metadata.getLong("p").toInt
        df.groupBy(col("__b")).agg(max(col("__m")).as("__m"))
          .select(col("__b").as("__b", hllMeta(p)), col("__m"))
      }, retainMs = retainMs)
  }

  /** Fold a CMS cell log back to ONE row per (d, b) cell — cells ADD, so
    * the summed frame serves [[heavyHittersFromIndex]] identically
    * (suite-pinned); the (d = −1) total row folds by the same sum. Same
    * layout/commit contract as [[compactHllIndex]]; output ≤
    * depth·width + 1 rows in O(1) files. Returns the cell count. */
  def compactCmsIndex(spark: org.apache.spark.sql.SparkSession,
                      path: String, outPath: String): Long = {
    val idx = spark.read.parquet(path)
    val meta = idx.schema("__d").metadata
    val folded = idx.groupBy(col("__d"), col("__b"))
      .agg(sum(col("__c")).as("__c"))
      .select(col("__d").as("__d", meta), col("__b"), col("__c"))
    Materialize.writeCompacted(folded, idx, outPath)
  }

  /** [[compactCmsIndex]] while the
    * [[graft.streaming.StreamOps.heavyHittersStream]] that owns the cell
    * log is LIVE — the SUM-merged family the round-14 in-place fold had
    * to exclude by contract (an in-place fold window would double-count
    * cells under a racing reader). The generation layout closes that:
    * the summed fold publishes with one atomic marker flip, so every
    * reader — [[graft.streaming.StreamOps.readHeavyHitters]]'s committed
    * gate included — resolves either the old generation or the new one,
    * never a double-counted mix; superseded files outlive in-flight
    * scans by the retention window. The (d = −1) total row folds by the
    * same sum. Shape metadata re-stamps from the fold's input frame,
    * inside the lease. Returns the folded cell count, or None when
    * nothing new is foldable. */
  def compactCmsIndexLive(spark: org.apache.spark.sql.SparkSession,
                          path: String,
                          retainMs: Long = 600000L): Option[Long] = {
    if (!graft.streaming.LogStructuredSink.exists(spark, path)) return None
    graft.streaming.LogStructuredSink.compactLive(spark, path,
      df => {
        val meta = df.schema("__d").metadata
        df.groupBy(col("__d"), col("__b")).agg(sum(col("__c")).as("__c"))
          .select(col("__d").as("__d", meta), col("__b"), col("__c"))
      }, retainMs = retainMs)
  }

  /** Per-group HLL registers: ([[hllRegisters]] keyed by `groupCols`) —
    * the realistic telemetry shape (distinct users per segment, distinct
    * URLs per domain) with state ≤ |groups|·2^p rows, never a
    * value-keyed shuffle. Same mergeability: max per (group, bucket). */
  def hllRegistersByGroup(df: DataFrame, groupCols: Seq[String],
                          valueCol: String, p: Int = 12): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(p >= 4 && p <= 16 && p % 4 == 0, s"bad p $p")
    val h = md5(col(valueCol).cast("string"))
    val x = conv(substring(h, p / 4 + 1, 12), 16, 10).cast("long")
    // spread the slim (group, value) projection before the per-row md5
    // work — same single-row-group-input repair as [[values]]
    Par.spread(df.where(col(valueCol).isNotNull)
        .select((groupCols :+ valueCol).distinct.map(col): _*))
      .select(groupCols.map(col) :+
        conv(substring(h, 1, p / 4), 16, 10).cast("int").as("__b") :+
        when(x === 0L, lit(49)).otherwise(lit(49) - length(bin(x)))
          .cast("int").as("__m"): _*)
      .groupBy((groupCols :+ "__b").map(col): _*).agg(max(col("__m")).as("__m"))
  }

  /** Per-group [[hllEstimate]] over a (grouped) register frame — the
    * same [[hllEstimateFrom]] columns, keyed. */
  def hllEstimateByGroup(registers: DataFrame, groupCols: Seq[String],
                         p: Int): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    hllEstimateFrom(
      registers.groupBy((groupCols :+ "__b").map(col): _*)
        .agg(max(col("__m")).as("__m")),
      groupCols, p)
  }

  /** Estimated distinct `valueCol` per group — one grouped aggregate over
    * ≤ |groups|·2^p register rows. The COUNT(DISTINCT)-at-100 TB
    * replacement when groups are few and values are many. */
  def hllDistinctByGroup(df: DataFrame, groupCols: Seq[String],
                         valueCol: String, p: Int = 12): DataFrame =
    hllEstimateByGroup(hllRegistersByGroup(df, groupCols, valueCol, p),
      groupCols, p)

  /**
   * Cross-corpus overlap telemetry — the question asked before MIXING two
   * sources ("how many users/URLs/docs do these crawls share?") answered
   * without a value-keyed join: HLL registers are max-mergeable, so
   * |A ∪ B| estimates from the merged registers and
   * |A ∩ B| = |A| + |B| − |A ∪ B| (inclusion–exclusion, clamped at 0 —
   * three ~1.6%-error estimates can subtract slightly negative on
   * near-disjoint sets). One row: (m, est_a, est_b, est_union,
   * est_intersection, jaccard_est). Each side costs one register
   * aggregate; the overlay is arithmetic over ≤ 3·2^p register rows.
   * Deterministic like the rest of the family — the whole algebra is
   * SQL-replayable.
   */
  def hllOverlap(a: DataFrame, b: DataFrame, valueCol: String,
                 p: Int = 12): DataFrame = {
    // each side's register build is consumed exactly ONCE (the tagged
    // union below), so nothing needs pinning: the round-14 shape pinned
    // both frames with eager localCheckpoints and then ran THREE
    // separate estimate aggregates plus two crossJoins over them — four
    // more passes over the register rows than the algebra needs
    // (optimization guide §1.2). All three estimates now come from one
    // bucket-pivoted aggregate, bit-identical by construction.
    overlapEstimates(
      hllRegisters(a, valueCol, p).withColumn("__side", lit("a"))
        .unionByName(
          hllRegisters(b, valueCol, p).withColumn("__side", lit("b"))), p)
  }

  /** All three overlap estimates (side A, side B, union) from ONE pass
    * over a (__side, __b, __m) register frame: pivot the two sides per
    * bucket (union register = max of the sides — HLL mergeability), then
    * a single global aggregate carries each side's (registers_set,
    * harmonic-sum) pair. The per-column algebra replicates
    * [[hllEstimateFrom]] expression for expression — same integer
    * carriers (BIGINT ≤ p 12, DECIMAL(38,0) at p 16), same bias and
    * small-range corrections — so the estimates are bit-identical to
    * running [[hllEstimate]] three times, at one aggregate instead of
    * three plus two crossJoins. */
  private def overlapEstimates(regsTagged: DataFrame, p: Int): DataFrame = {
    require(p >= 4 && p <= 16 && p % 4 == 0, s"bad p $p")
    val m = 1 << p
    val alpha = if (m == 16) 0.673 else 0.7213 / (1.0 + 1.079 / m)
    val two49 = 562949953421312.0 // 2^49, exact in binary64
    val pivoted = regsTagged
      .groupBy(col("__b"))
      .agg(max(when(col("__side") === "a", col("__m"))).as("__ma"),
        max(when(col("__side") === "b", col("__m"))).as("__mb"),
        max(col("__m")).as("__mu"))
    def s1(mc: Column) =
      if (p <= 12) sum(pow(lit(2.0), lit(49) - mc).cast("long"))
      else sum(pow(lit(2.0), lit(49) - mc).cast("decimal(38,0)"))
    val g = pivoted.agg(
      count(col("__ma")).as("rset_a"), s1(col("__ma")).as("s1_a"),
      count(col("__mb")).as("rset_b"), s1(col("__mb")).as("s1_b"),
      count(lit(1)).as("rset_u"), s1(col("__mu")).as("s1_u"))
    def est(s1c: Column, rset: Column) = {
      val hs =
        if (p <= 12)
          coalesce(s1c, lit(0L)) +
            (lit(m.toLong) - rset) * lit(two49.toLong)
        else
          coalesce(s1c, lit(0L).cast("decimal(38,0)")) +
            ((lit(m.toLong) - rset).cast("decimal(38,0)") *
              lit(two49.toLong).cast("decimal(38,0)"))
      val raw = lit(alpha) * lit(m.toDouble) * lit(m.toDouble) /
        (hs.cast("double") / lit(two49))
      when(raw <= lit(2.5 * m) && rset < lit(m.toLong),
        lit(m.toDouble) *
          log(lit(m.toDouble) / (lit(m.toLong) - rset).cast("double")))
        .otherwise(raw)
    }
    g.select(lit(1L << p).as("m"),
        est(col("s1_a"), col("rset_a")).as("est_a"),
        est(col("s1_b"), col("rset_b")).as("est_b"),
        est(col("s1_u"), col("rset_u")).as("est_union"))
      .withColumn("est_intersection",
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0)))
      .withColumn("jaccard_est",
        when(col("est_union") > 0.0,
          col("est_intersection") / col("est_union")).otherwise(lit(0.0)))
  }

  /**
   * [[hllOverlap]] when both sides are FILTERS OF ONE SOURCE — the
   * common telemetry shape ("overlap between this table's segment A and
   * segment B"), where the two-frame API pays two full scans of the same
   * table. Here each row contributes its register update to every side
   * it belongs to in ONE pass: the scan explodes a row into its (≤ 2)
   * side tags and a single grouped aggregate builds both register
   * frames keyed by (side, bucket) — one FileScan, one shuffle of
   * ≤ 2·2^p register rows. The union registers max-merge from the side
   * frames (max of maxes ≡ registers of A ∪ B, the HLL mergeability
   * that defines the sketch), so est_a/est_b/est_union — and therefore
   * every output column — equal [[hllOverlap]] on the same sides bit
   * for bit. Keep the two-frame API for genuinely distinct corpora.
   *
   * @param inA boolean membership column for side A (over `df`'s cols)
   * @param inB boolean membership column for side B (may overlap A)
   */
  def hllOverlapSingleSource(df: DataFrame, inA: Column, inB: Column,
                             valueCol: String, p: Int = 12): DataFrame =
    // one FileScan (plan-pinned), one shuffle of ≤ 2·2^p register rows,
    // one estimate aggregate — the round-15 build pinned the register
    // frame with an eager localCheckpoint and re-read it through three
    // estimate aggregates and two crossJoins (guide §1.2)
    overlapEstimates(overlapRegisters(df, inA, inB, valueCol, p), p)

  /** [[hllOverlapSingleSource]]'s register stage, exposed so the suite
    * can pin the plan shape: BOTH sides' registers from ONE scan —
    * exactly one FileScan feeds the grouped (side, bucket) aggregate. */
  private[graft] def overlapRegisters(df: DataFrame, inA: Column,
                                      inB: Column, valueCol: String,
                                      p: Int): DataFrame =
    hllRegistersByGroup(
      df.where(col(valueCol).isNotNull && (inA || inB))
        .withColumn("__side", explode(array_compact(array(
          when(inA, lit("a")), when(inB, lit("b")))))),
      Seq("__side"), valueCol, p)

  private def hllMeta(p: Int) = new org.apache.spark.sql.types.MetadataBuilder()
    .putLong("p", p.toLong).build()

  /**
   * Per-group winsorization — clamp a value column to its group's
   * [pLo, pHi] exact percentiles (type-7, the [[groupedPercentiles]]
   * semantics): the standard outlier-taming transform before training
   * on heavy-tailed features (prices, counts, durations). Appends
   * `<valueCol>_w` (clamped value), `__lo`/`__hi` dropped. Exact
   * percentiles are holistic (per-group buffers — fine while groups
   * bound the reducer; swap the cutpoints for `approx_percentile` at
   * the 100 TB regime, the [[groupedPercentilesApprox]] trade). The
   * cutpoint frame is group-cardinality-sized and joins back as a
   * broadcast.
   */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
                pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad percentile range [$pLo, $pHi]")
    // BOTH cutpoints from ONE percentile aggregate (array form): two
    // scalar percentile calls each build, merge, and sort their own
    // per-group value-count buffer — the whole cost of this operator —
    // while the array form pays it once (profiled 2× on q142's
    // 600k-row/3-group shape; identical values, same interpolation)
    val cuts = df.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile($valueCol, array(${pLo}D, ${pHi}D))").as("__c"))
      .select((groupCols.map(col) :+ col("__c").getItem(0).as("__lo") :+
        col("__c").getItem(1).as("__hi")): _*)
    df.join(broadcast(cuts), groupCols)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  // the sketch builders' shared input projection: slim (one column), and
  // spread across the session's cores when the source scan is
  // parallelism-deficient (a single-row-group file = one task however it
  // is split — [[Par.spread]]); the md5/xxhash per-row work and its
  // partial aggregation otherwise serialize on one core
  private def values(df: DataFrame, valueCol: String): DataFrame =
    Par.spread(df.select(col(valueCol).as("__v")).where(col("__v").isNotNull))

  private def bucket(dd: Int, width: Int) =
    pmod(xxhash64(col("__v"), lit(dd)), lit(width.toLong))

  private def cmsCells(rows: DataFrame, depth: Int, width: Int): DataFrame =
    rows.select(explode(array((0 until depth).map(dd =>
        struct(lit(dd).as("d"), bucket(dd, width).as("b"))): _*)).as("__db"))
      .groupBy(col("__db.d").as("__d"), col("__db.b").as("__b"))
      .agg(count(lit(1)).as("__c"))

  private def cellsWithTotal(rows: DataFrame, depth: Int, width: Int): DataFrame =
    cmsCells(rows, depth, width).unionByName(
      rows.agg(count(lit(1)).as("__c"))
        .select(lit(-1).as("__d"), lit(-1L).as("__b"), col("__c")))

  private def exactPass(rows: DataFrame, cells0: DataFrame, total: DataFrame,
                        valueCol: String, support: Double,
                        depth: Int, width: Int): DataFrame = {
    // persist the (≤ depth×width)-row cells frame: each per-depth
    // broadcast filters it, and without the cache every join would
    // re-run the full pass-1 aggregation (depth extra corpus scans)
    val cells = cells0.persist()
    val withEst = (0 until depth).foldLeft(rows.crossJoin(broadcast(total))) {
      (acc, dd) =>
        acc.withColumn(s"__b$dd", bucket(dd, width))
          .join(broadcast(cells.where(col("__d") === dd)
            .select(col("__b").as(s"__b$dd"), col("__c").as(s"__c$dd"))),
            Seq(s"__b$dd"))
    }
    val thresh = ceil(lit(support) * col("__n")).cast("long")
    val est = if (depth == 1) col("__c0")
      else least((0 until depth).map(dd => col(s"__c$dd")): _*)
    withEst
      .filter(est >= thresh)
      .groupBy(col("__v"))
      .agg(count(lit(1)).as("cnt"))
      .crossJoin(broadcast(total))
      .filter(col("cnt") >= thresh)
      .select(col("__v").as(valueCol), col("cnt"))
  }

  /**
   * Declarative row validation — the data-quality gate in front of a
   * training pipeline: each rule is a named boolean Column; the output
   * is the input plus `violations` (comma-joined names of failed rules
   * in rule order, "" = clean) and `is_valid`. A NULL rule outcome
   * counts as a FAILURE — "could not evaluate the check" must quarantine
   * the row, not wave it through (the classic null-comparison leak).
   *
   * Pure projection: every rule is a codegen'd expression, no shuffle,
   * no UDF — validating 100 TB costs one scan. Split the stream with
   * `filter(col("is_valid"))` / its negation for the quarantine sink.
   */
  def validate(df: DataFrame,
               rules: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(rules.nonEmpty, "at least one rule")
    require(rules.map(_._1).distinct.size == rules.size, "duplicate rule names")
    val failed = array_compact(array(rules.map { case (name, pred) =>
      when(not(coalesce(pred, lit(false))), lit(name))
    }: _*))
    df.withColumn("violations", array_join(failed, ","))
      .withColumn("is_valid", col("violations") === "")
  }

  /**
   * Zipf-law fit per corpus slice: the OLS slope of ln(count) against
   * ln(rank) over the slice's `topN` most frequent whitespace tokens —
   * the corpus-health scalar run per language/source before mixing.
   * Natural-language slices sit near −1; template floods and
   * boilerplate steepen the head (slope ≪ −1); tables, code and ID
   * dumps flatten it. Output: one row per group with `n_tokens`
   * (≤ `topN` — fewer iff the slice's vocabulary is smaller), `slope`
   * and `intercept` (raw doubles — callers round; the regression sums
   * ≤ `topN` terms, so cross-engine drift is ~1e-13 relative).
   *
   * Scale shape: token counting is a map-side-combined groupBy on
   * (group, token); the top-`topN` cut is [[GroupedTopK]]'s bounded
   * aggregate — per-partition top-k before the exchange, NO Window over
   * the vocabulary, and the rank the regression consumes falls out of
   * the same aggregate. The regression itself runs over ≤ `topN` rows
   * per group (`regr_slope`/`regr_intercept`, map-side partials).
   * Rank ties (equal counts) break by token ascending — deterministic
   * in any engine.
   */
  def zipfSlope(df: DataFrame, groupCols: Seq[String], textCol: String,
                topN: Int = 100): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(topN >= 2, s"need at least 2 ranks for a slope, got $topN")
    val toks = df.select(groupCols.map(col) :+
      explode(filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")).as("__t"): _*)
    val counts = toks.groupBy(groupCols.map(col) :+ col("__t"): _*)
      .agg(count(lit(1)).as("__c"))
    val top = GroupedTopK.topK(counts, groupCols,
      Seq(("__c", false), ("__t", true)), topN, rankCol = "__r")
    top.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_tokens"),
        expr("regr_slope(ln(__c), ln(__r))").as("slope"),
        expr("regr_intercept(ln(__c), ln(__r))").as("intercept"))
  }

  /**
   * MERGEABLE equi-width histogram state — the quantile sibling of the
   * count-min index: (group, bin, count) cells over a FIXED value domain
   * [`lo`, `hi`] with `nBins` equal bins. Cells add, so states from
   * disjoint batches union+sum to the state of the union (the
   * log-structured contract — see `Materialize.appendHistogramState`),
   * which no exact-percentile buffer and no `approx_percentile` sketch
   * surfaced as a stable on-disk format gives you.
   *
   * Binning: bin = clamp(⌊(x − lo) / w⌋, 0, nBins−1), w = (hi−lo)/nBins —
   * one codegen'd arithmetic chain per row, reproducible bit-for-bit in
   * any IEEE engine (no data-dependent cutpoints). Values outside
   * [lo, hi] clamp into the edge bins (callers pick the domain; a
   * degenerate lo = hi domain folds everything into bin 0).
   *
   * Scale shape: ONE map-side-combined groupBy on (group, bin) — the
   * shuffle carries ≤ |groups|·nBins cells regardless of corpus size.
   */
  def histogramState(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(nBins >= 1, s"nBins must be >= 1, got $nBins")
    require(lo <= hi, s"empty domain [$lo, $hi]")
    val w = (hi - lo) / nBins
    val bin =
      if (w == 0.0) lit(0L)
      else least(greatest(floor((col(valueCol).cast("double") - lo) / w)
        .cast("long"), lit(0L)), lit(nBins - 1L))
    df.where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+ bin.as("__bin"): _*)
      .groupBy(groupCols.map(col) :+ col("__bin"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /**
   * Quantile read over [[histogramState]] cells (possibly the summed
   * union of many batches' states): for each group and each p in
   * `pcts`, the upper edge lo + (b+1)·w of the first bin b whose
   * cumulative count reaches ⌈p·N⌉. The estimate brackets every exact
   * rank-⌈p·N⌉ value within one bin width w — the histogram error
   * bound (property-tested against a sorted brute-force reference in
   * HistogramQuantileSpec); halve the error by doubling `nBins`, paid
   * only in state size.
   *
   * Deterministic cross-engine: counts are exact integers, the target
   * rank ⌈p·N⌉ and the edge arithmetic are single IEEE expression
   * chains — a DuckDB replay matches bit-for-bit. The cumulative walk
   * windows over the STATE frame (≤ nBins rows per group), never the
   * data.
   */
  def histogramQuantiles(state: DataFrame, groupCols: Seq[String],
                         lo: Double, hi: Double, nBins: Int,
                         pcts: Seq[Double]): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p > 0.0 && p <= 1.0),
      "percentiles must be in (0, 1]")
    val w = (hi - lo) / nBins
    val summed = state.groupBy(groupCols.map(col) :+ col("__bin"): _*)
      .agg(sum(col("__c")).as("__c"))
    val win = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = summed
      .withColumn("__cum", sum(col("__c")).over(win))
      .withColumn("__n", sum(col("__c")).over(
        Window.partitionBy(groupCols.map(col): _*)
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    cum.select(groupCols.map(col) ++ Seq(col("__bin"), col("__cum"), col("__n"),
        explode(typedLit(pcts)).as("p")): _*)
      .where(col("__cum") >= ceil(col("p") * col("__n")))
      .groupBy(groupCols.map(col) :+ col("p"): _*)
      .agg(min(col("__bin")).as("__qbin"), max(col("__n")).as("n"))
      .select(groupCols.map(col) ++ Seq(col("p"), col("n"),
        (lit(lo) + (col("__qbin") + 1L).cast("double") * w).as("est")): _*)
  }

  /**
   * Benford first-digit audit — the fabricated-numbers detector for a
   * numeric column (organic multiplicative quantities follow
   * P(d) = log10(1 + 1/d); uniform or hand-typed values do not).
   * `intCol` must be a POSITIVE integer-valued column (callers scale
   * decimals first — e.g. cents = round(price·100) — so the leading
   * digit comes from exact integer-to-string conversion, not from
   * log10/pow boundary behavior that differs per libm). Emits one row
   * per observed digit: (digit, n, obs_freq, exp_freq, abs_dev) —
   * obs−exp deviations are the audit signal; Σ n·(obs−exp)²/exp is the
   * χ² if a single scalar is wanted downstream.
   *
   * One map-side-combined 9-key groupBy; the total folds back as a
   * one-row broadcast — auditing 100 TB costs one scan.
   */
  def benfordDigits(df: DataFrame, intCol: String): DataFrame = {
    val digits = df
      .where(col(intCol).isNotNull && col(intCol) > 0)
      .select(substring(col(intCol).cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val total = digits.agg(sum(col("n")).as("__t"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("__t")).as("obs_freq"),
        log(10.0, lit(1.0) + lit(1.0) / col("digit")).as("exp_freq"))
      .withColumn("abs_dev", abs(col("obs_freq") - col("exp_freq")))
  }

  /**
   * Welch's unequal-variance t-test between two slices of a value
   * column — the A/B gate for "did this pipeline change move the
   * metric": t = (m_A − m_B)/√(s²_A/n_A + s²_B/n_B) with the
   * Welch–Satterthwaite degrees of freedom. ONE pass over the filtered
   * rows (conditional aggregates — no self-join, no second scan);
   * output is a single row (n/mean/var per side, t, dof). Sample
   * variances are single-pass moment aggregates — engines differ at
   * ~1e-10 relative on large sums, so callers round (the q117
   * precedent). Degenerate inputs (a side with n < 2 or both variances
   * zero) yield NULL t/dof rather than ±Inf.
   */
  def welchT(df: DataFrame, sliceCol: String, valueCol: String,
             sliceA: String, sliceB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    def side(s: String,
             f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      f(when(col(sliceCol) === s, v))
    val agg = df.where(col(sliceCol).isin(sliceA, sliceB) && v.isNotNull)
      .agg(
        side(sliceA, count).as("n_a"), side(sliceB, count).as("n_b"),
        side(sliceA, avg).as("mean_a"), side(sliceB, avg).as("mean_b"),
        side(sliceA, var_samp).as("var_a"), side(sliceB, var_samp).as("var_b"))
    val sa = col("var_a") / col("n_a")
    val sb = col("var_b") / col("n_b")
    val se2 = sa + sb
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0
    agg.select(col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
      col("var_a"), col("var_b"),
      when(ok, (col("mean_a") - col("mean_b")) / sqrt(se2)).as("t"),
      when(ok, se2 * se2 /
        (sa * sa / (col("n_a") - 1.0) + sb * sb / (col("n_b") - 1.0))).as("dof"))
  }

  /**
   * Derandomized Bayesian-bootstrap confidence interval for a per-group
   * MEAN — the error bar a metrics dashboard should carry: `replicas`
   * resampled means per group, CI = their [loP, hiP] percentiles.
   * Replica weights are Exp(1) draws w = −ln(u); u comes from ONE md5
   * per ROW (32-bit slice h, the [[Sampling.weightedKey]]
   * derandomization — same sample every run, layout, engine, append)
   * remixed per REPLICA by the fixed affine family
   * u_j = ((a_j·h + b_j) mod 2³²  + ½) / 2³² with splitmix64-derived
   * odd multipliers ([[bootstrapHashFamilies]] — the q53/q113 a·h+b
   * construction), so the `replicas`-fold explode costs integer
   * multiply-adds, not `replicas` md5s per row (200× less hashing at
   * 200 replicas). The Bayesian form (continuous Dirichlet weights,
   * Rubin 1981) replaces integer multinomial resampling, so each
   * replica mean is Σwx/Σw — pure aggregates, no per-replica sampling
   * pass.
   *
   * Exactness across engines: a_j < 2³¹ and h < 2³², so a_j·h+b_j
   * < 2⁶³ — exact signed-64 integer arithmetic with no overflow in any
   * ANSI engine; `pmod(·, 2³²)` then lands both engines on the
   * identical integer.
   *
   * Scale shape: the corpus explodes ×`replicas` (the honest cost of a
   * bootstrap — bound it by sampling first at 100 TB), partial-combines
   * into ≤ |groups|·replicas (group, replica) sums, and the percentile
   * runs over the `replicas`-row frame per group (bounded buffer).
   * Exact-integer hashing + one fixed IEEE chain per weight; only Σ
   * order varies across engines (~1e-14 relative) — callers round (4dp
   * leaves ~10 orders of slack).
   */
  /** The per-replica affine hash family (replica, a_j, b_j) shared by
    * [[bootstrapMeanCI]] and its oracle builders: a_j an ODD 31-bit
    * splitmix64 output (odd → a bijection mod 2³², so each replica's
    * remix permutes the row-hash space; 31 bits so a_j·h + b_j with
    * h < 2³² stays under 2⁶³ — exact in ANSI signed-64 arithmetic in
    * ANY engine, no wrapping semantics involved), b_j a 32-bit
    * splitmix64 offset. Fixed seeds — the family is a pure function of
    * the replica index, reproducible by any engine that inlines the
    * same constants. */
  def bootstrapHashFamilies(replicas: Int): IndexedSeq[(Int, Long, Long)] =
    (0 until replicas).map { j =>
      (j,
        (TextUtil.splitmix64(0x243f6a8885a308d3L + j) & 0x7FFFFFFFL) | 1L,
        TextUtil.splitmix64(0x13198a2e03707344L ^ j.toLong) & 0xFFFFFFFFL)
    }

  def bootstrapMeanCI(df: DataFrame, groupCols: Seq[String], valueCol: String,
                      keyCol: String, replicas: Int = 200,
                      loP: Double = 0.025, hiP: Double = 0.975): DataFrame = {
    require(replicas >= 2, s"need at least 2 replicas, got $replicas")
    require(loP > 0 && hiP < 1 && loP < hiP, s"bad CI range [$loP, $hiP]")
    val v = col(valueCol).cast("double")
    val h32 = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast("long")
    val fam = array(bootstrapHashFamilies(replicas).map { case (j, a, b) =>
      struct(lit(j).as("b"), lit(a).as("a"), lit(b).as("c"))
    }: _*)
    val mixed = pmod(col("__f.a") * col("__h") + col("__f.c"),
      lit(4294967296L))
    val u = (mixed.cast("double") + lit(0.5)) / lit(4294967296.0)
    val w = -log(u)
    // ×replicas explode is compute-explosive: scale task count to the
    // session before exploding (the Similarity.scaleOut rationale — a
    // few-MB single-file input otherwise serializes the whole bootstrap
    // through one task)
    val reps = Similarity.scaleOut(df.where(v.isNotNull)
        .select(groupCols.map(col) :+ col(keyCol) :+ v.as("__v"): _*))
      .withColumn("__h", h32)
      .withColumn("__f", explode(fam))
      .withColumn("__b", col("__f.b"))
      .withColumn("__w", w)
      .groupBy(groupCols.map(col) :+ col("__b"): _*)
      .agg((sum(col("__w") * col("__v")) / sum(col("__w"))).as("__m"))
    val base = df.where(v.isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"), avg(v).as("mean"))
    reps.groupBy(groupCols.map(col): _*)
      .agg(expr(s"percentile(__m, ${loP}D)").as("ci_lo"),
        expr(s"percentile(__m, ${hiP}D)").as("ci_hi"))
      .join(base, groupCols)
      .select(groupCols.map(col) ++
        Seq(col("n"), col("mean"), col("ci_lo"), col("ci_hi")): _*)
  }

  /**
   * χ² test of independence between two categorical columns — "did the
   * language mix shift across sources/crawls/shards" as a single
   * scalar. Uses the closed form
   * χ² = Σ_observed((o−e)²/e − e) + N with e = rowTotal·colTotal/N,
   * which needs ONLY the observed cells: the Σe of unobserved cells is
   * N − Σ_observed e, so no row×col cross join ever materializes
   * (cells with o=0 still contribute their e — dropping them is the
   * classic χ² implementation bug). dof = (R−1)(C−1).
   *
   * Scale shape: one (row, col) cell aggregate (map-side combined) —
   * the only corpus shuffle; row/col totals re-aggregate the CELL frame
   * (dimension-sized) and join back as broadcasts. Exact-integer counts
   * in, one IEEE chain per cell, Σ-order drift ~1e-14 — callers round.
   */
  def chiSquareIndependence(df: DataFrame, rowCol: String,
                            colCol: String): DataFrame =
    chiSquareWide(df, rowCol, colCol).select("chi2", "dof", "n")

  /** [[chiSquareIndependence]] plus the marginal cardinalities the
    * effect-size statistics need — shared by [[cramersV]]. */
  private def chiSquareWide(df: DataFrame, rowCol: String,
                            colCol: String): DataFrame = {
    val obs = df.where(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).as("__r"), col(colCol).as("__c"))
      .agg(count(lit(1)).as("__o")).persist()
    val rt = obs.groupBy(col("__r")).agg(sum(col("__o")).as("__rt"))
    val ct = obs.groupBy(col("__c")).agg(sum(col("__o")).as("__ct"))
    val tot = obs.agg(sum(col("__o")).cast("double").as("__n"),
      countDistinct(col("__r")).as("__nr"), countDistinct(col("__c")).as("__nc"))
    val e = col("__rt").cast("double") * col("__ct").cast("double") / col("__n")
    val o = col("__o").cast("double")
    obs.join(broadcast(rt), Seq("__r")).join(broadcast(ct), Seq("__c"))
      .crossJoin(broadcast(tot))
      .select(((o - e) * (o - e) / e - e).as("__term"),
        col("__n"), col("__nr"), col("__nc"))
      .groupBy(col("__n"), col("__nr"), col("__nc"))
      .agg(sum(col("__term")).as("__s"))
      .select((col("__s") + col("__n")).as("chi2"),
        ((col("__nr") - 1) * (col("__nc") - 1)).as("dof"),
        col("__n").cast("long").as("n"),
        col("__nr"), col("__nc"))
  }

  /**
   * One-sided CUSUM change detection per key: with standardized
   * deviations yᵢ = (xᵢ − μ)/σ − k, the recursive statistic
   * Sᵢ = max(0, Sᵢ₋₁ + yᵢ) has the CLOSED FORM
   * Sᵢ = Cᵢ − min(0, min_{j≤i} Cⱼ) where Cᵢ is the prefix sum of y —
   * so the whole fold is two cumulative windows over the same
   * (key, ts, tie) sort, no recursion, no UDF, replayable exactly by
   * any engine with prefix windows. μ/σ are GLOBAL (population, one-row
   * broadcast — at 100 TB a per-key fit would be a second shuffle; the
   * global fit is the standard monitored-process baseline). `k` is the
   * drift allowance and `h` the alarm threshold, both in σ units.
   *
   * Returns per key: n alarm points (Sᵢ > h), the first alarm's µs
   * timestamp (null if never), and the max statistic — the triage
   * surface for "which users/streams shifted upward, and when".
   *
   * Shape: one scan for the one-row (μ, σ) broadcast, then one shuffle
   * on the key; both windows share a single Exchange+Sort; the final
   * groupBy partial-aggregates. Per-key partitions bound memory.
   */
  def cusum(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
            valCol: String, k: Double, h: Double): DataFrame = {
    val rows = df.where(col(valCol).isNotNull)
      .select(col(keyCol), Time.tsMicros(col(tsCol)).as("__t"),
        col(tieCol).as("__tie"), col(valCol).cast("double").as("__x"))
    // pin μ/σ to 6dp: double partial-agg order differs across engines in
    // the last bits; the rounded moments are engine-independent, and the
    // whole downstream window chain is then one identical IEEE sequence —
    // alarm threshold comparisons can't flip between engines
    val stats = rows.agg(round(avg(col("__x")), 6).as("__mu"),
      round(stddev_pop(col("__x")), 6).as("__sigma"))
    val byKey = Window.partitionBy(col(keyCol)).orderBy(col("__t"), col("__tie"))
    val prefix = byKey.rowsBetween(Window.unboundedPreceding, 0)
    rows.crossJoin(broadcast(stats))
      .withColumn("__y", (col("__x") - col("__mu")) / col("__sigma") - lit(k))
      .withColumn("__c", sum(col("__y")).over(prefix))
      .withColumn("__s", col("__c") - least(lit(0.0), min(col("__c")).over(prefix)))
      .groupBy(col(keyCol))
      .agg(
        sum(when(col("__s") > h, 1L).otherwise(0L)).as("n_alarms"),
        min(when(col("__s") > h, col("__t"))).as("first_alarm_micros"),
        max(col("__s")).as("max_stat"))
  }

  /**
   * Model-based anomaly detection: per-group OLS residual outliers in
   * ONE aggregate pass + one join. The per-group fit (slope, intercept)
   * and the residual spread come from the same moment aggregate —
   * σ_res = σ_y·√(1 − r²) is the population residual stddev of the
   * least-squares line, so no second pass over residuals is needed.
   * Rows with |y − (a + b·x)| > z·σ_res are returned.
   *
   * Shape: one partial-aggregated moment pass (group-sized output,
   * broadcast back) + one scan computing residuals in codegen. Moments
   * are rounded to 6dp before the threshold comparison (the q162
   * determinism pin): the flag decision is the same IEEE chain in any
   * engine.
   *
   * Degenerate fits are handled explicitly rather than silently
   * returning no rows: a constant-x group makes `corr` (and thus
   * σ_res) NULL — the fit falls back to the group mean (b=0, a=ȳ) with
   * spread σ_y, i.e. plain z-score outliers on y; a perfectly colinear
   * group (|corr|=1, σ_res=0) also falls back to σ_y, under which its
   * on-the-line residuals (all 0) flag nothing. Groups where y itself
   * is constant have σ_y=0 and 0 residuals — genuinely outlier-free.
   */
  def residualOutliers(df: DataFrame, groupCols: Seq[String], xCol: String,
                       yCol: String, z: Double): DataFrame = {
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
    // moments, not regr_*/corr: ANSI corr on a constant-x group is a
    // 0/0 DIVIDE_BY_ZERO error, while explicit var/cov moments guard
    // cleanly (slope = cov/var_x, σ_res² = var_y − cov²/var_x)
    val moments = rows.groupBy(groupCols.map(col): _*)
      .agg(
        expr(s"var_pop(CAST($xCol AS DOUBLE))").as("__vx"),
        expr(s"var_pop(CAST($yCol AS DOUBLE))").as("__vy"),
        expr(s"covar_pop(CAST($yCol AS DOUBLE), CAST($xCol AS DOUBLE))").as("__cxy"),
        expr(s"avg(CAST($xCol AS DOUBLE))").as("__xbar"),
        expr(s"avg(CAST($yCol AS DOUBLE))").as("__my"))
    val fits = moments.select(groupCols.map(col) ++ Seq(
      when(col("__vx") > 0.0, round(col("__cxy") / col("__vx"), 6)).as("__b0"),
      when(col("__vx") > 0.0,
        round(col("__my") - col("__cxy") / col("__vx") * col("__xbar"), 6)).as("__a0"),
      when(col("__vx") > 0.0,
        round(sqrt(greatest(col("__vy") - col("__cxy") * col("__cxy") / col("__vx"),
          lit(0.0))), 6)).as("__sres0"),
      round(sqrt(col("__vy")), 6).as("__sy"),
      round(col("__my"), 6).as("__ybar")): _*)
    rows.join(broadcast(fits), groupCols)
      .withColumn("__b", coalesce(col("__b0"), lit(0.0)))
      .withColumn("__a", coalesce(col("__a0"), col("__ybar")))
      .withColumn("__sres",
        when(col("__sres0").isNull || col("__sres0") === 0.0, col("__sy"))
          .otherwise(col("__sres0")))
      .withColumn("resid",
        col(yCol).cast("double") - (col("__a") + col("__b") * col(xCol).cast("double")))
      .filter(abs(col("resid")) > lit(z) * col("__sres"))
      .drop("__a0", "__b0", "__sres0", "__sy", "__ybar", "__a", "__b", "__sres")
  }

  /**
   * Gini coefficient of a key-frequency distribution — the skew
   * diagnostic for join/shuffle planning ("how concentrated is this
   * key?"; 0 = uniform, →1 = one key dominates). With counts sorted
   * ascending, G = 2·Σᵢ i·cᵢ / (n·Σc) − (n+1)/n — Σ i·cᵢ comes from
   * the DISTRIBUTED rank ([[Dedup.globalOrderedCumsum]]), so no
   * single-reducer ordering even over 10⁹ distinct keys. All sums are
   * exact integers; the output is two divisions — UNROUNDED
   * cross-engine equality.
   */
  def giniSkew(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.where(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as("__c"))
    Dedup.globalOrderedCumsum(counts,
        Seq(col("__c").asc, col("__k").asc), "__c", "__r", "__cum")
      .agg(count(lit(1)).as("n_keys"),
        sum(col("__c")).as("total"),
        sum(col("__r") * col("__c")).as("__rc"))
      .select(col("n_keys"), col("total"),
        (lit(2.0) * col("__rc").cast("double") /
          (col("n_keys").cast("double") * col("total").cast("double")) -
          (col("n_keys") + 1).cast("double") / col("n_keys").cast("double"))
          .as("gini"))
  }

  /**
   * Mutual information between two categorical columns (feature-
   * relevance / redundancy telemetry), with marginal entropies and the
   * normalized MI / √(H_a·H_b). Same plan skeleton as
   * [[chiSquareIndependence]]: one cell aggregate (the only
   * corpus-sized shuffle), dimension-sized margins joined back as
   * broadcasts, natural-log terms summed — callers round (Σ-order
   * drift ~1e-15).
   */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o")).persist()
    val ma = obs.groupBy(col("__a")).agg(sum(col("__o")).as("__na"))
    val mb = obs.groupBy(col("__b")).agg(sum(col("__o")).as("__nb"))
    val tot = obs.agg(sum(col("__o")).cast("double").as("__n"))
    val p = col("__o").cast("double") / col("__n")
    obs.join(broadcast(ma), Seq("__a")).join(broadcast(mb), Seq("__b"))
      .crossJoin(broadcast(tot))
      .select(
        (p * log(p * col("__n") * col("__n") /
          (col("__na").cast("double") * col("__nb").cast("double")))).as("__mi"),
        (p * log(col("__na").cast("double") / col("__n"))).as("__ha"),
        (p * log(col("__nb").cast("double") / col("__n"))).as("__hb"),
        col("__n"))
      .groupBy(col("__n"))
      .agg(sum(col("__mi")).as("__m"),
        (-sum(col("__ha"))).as("__ea"), (-sum(col("__hb"))).as("__eb"))
      .select(col("__n").cast("long").as("n"), col("__m").as("mi"),
        col("__ea").as("h_a"), col("__eb").as("h_b"),
        (col("__m") / sqrt(col("__ea") * col("__eb"))).as("nmi"))
  }

  /**
   * Cohen's kappa — chance-corrected agreement between two categorical
   * label columns (two annotators, model-vs-gold, two labeling-pipeline
   * versions): the label-quality gate before training on annotated
   * data. κ = (p_o − p_e)/(1 − p_e) with p_o the observed agreement
   * rate and p_e the chance rate Σ_k p_a(k)·p_b(k).
   *
   * Cross-engine exactness: κ reduces to
   * (agree·n − Σ na_k·nb_k) / (n² − Σ na_k·nb_k) — both sides exact
   * DECIMAL(38,0) integer arithmetic (no n² long overflow at corpus
   * scale), ONE IEEE division at the end; p_o and p_e are likewise
   * single divisions of exact integers. Rows where either label is
   * null are excluded (un-annotated items are not disagreements).
   * Degenerate corpus (p_e = 1: both annotators constant and equal)
   * returns null κ rather than 0/0.
   *
   * Plan skeleton = [[chiSquareIndependence]]: ONE corpus-sized cell
   * aggregate (the K×K grid), marginals and totals derived from the
   * grid (tiny), everything else broadcast arithmetic.
   */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val obs = df.where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__o")).persist()
    val ma = obs.groupBy(col("__a")).agg(sum(col("__o")).as("__na"))
    val mb = obs.groupBy(col("__b")).agg(sum(col("__o")).as("__nb"))
    // labels present in only one annotator's marginals contribute 0 to
    // p_e — the inner join drops exactly those products
    val peNum = ma.join(mb, col("__a") === col("__b"))
      .agg(coalesce(sum(col("__na").cast("decimal(19,0)") *
        col("__nb").cast("decimal(19,0)")), lit(0).cast("decimal(38,0)"))
        .as("__penum"))
    val tot = obs.agg(sum(col("__o")).as("__n"),
      coalesce(sum(when(col("__a") === col("__b"), col("__o"))), lit(0L))
        .as("__agree"))
    val n = col("__n").cast("decimal(19,0)")
    val denom = (n * n - col("__penum")).cast("double")
    tot.crossJoin(broadcast(peNum))
      .select(col("__n").cast("long").as("n"),
        col("__agree").cast("long").as("n_agree"),
        (col("__agree").cast("double") / col("__n").cast("double")).as("po"),
        (col("__penum").cast("double") /
          (n * n).cast("double")).as("pe"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise((col("__agree").cast("decimal(19,0)") * n -
            col("__penum")).cast("double") / denom).as("kappa"))
  }

  /**
   * Referential-integrity profile of a child→parent relation: child
   * row count, matched count, orphan count and rate — the pipeline
   * gate before any fact⋈dim assumption. One left join (parent side
   * dimension-sized → broadcast/equi) + one aggregate; orphan_rate is
   * an exact-int ratio.
   */
  def refIntegrity(child: DataFrame, parent: DataFrame, fkCol: String,
                   pkCol: String, relation: String): DataFrame = {
    val p = parent.select(col(pkCol).as("__pk")).distinct()
      .withColumn("__hit", lit(1))
    child.select(col(fkCol).as("__fk"))
      .join(p, col("__fk") === col("__pk"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_matched"),
        sum(when(col("__hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
      .select(lit(relation).as("relation"), col("n_child"), col("n_matched"),
        col("n_orphan"),
        (col("n_orphan").cast("double") / col("n_child").cast("double"))
          .as("orphan_rate"))
  }

  /**
   * Population Stability Index between two slices of a numeric column —
   * the standard ML-monitoring drift gate (PSI < 0.1 stable, > 0.25
   * shifted). Values bin into `nBins` equal widths over the FIXED
   * [lo, hi] domain (clamped, the q145 histogram discipline);
   * PSI = Σ (pᵢ − qᵢ)·ln(pᵢ/qᵢ) over bins occupied on BOTH sides
   * (one-sided bins are reported separately as `n_bins_onesided` —
   * the honest alternative to epsilon-smoothing). Returns one row:
   * (n_a, n_b, n_bins_used, n_bins_onesided, psi).
   *
   * Shape: two bin aggregates (domain-sized output) + one full-outer
   * bin join of two ≤ nBins frames — nothing corpus-sized past the
   * scans. Callers round (ln-term Σ-order drift ~1e-15).
   */
  def psi(a: DataFrame, b: DataFrame, valueCol: String,
          lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins >= 2 && hi > lo)
    def bins(df: DataFrame, cnt: String): DataFrame =
      df.where(col(valueCol).isNotNull)
        .select(least(greatest(
          floor((col(valueCol).cast("double") - lo) / ((hi - lo) / nBins))
            .cast("long"), lit(0L)), lit(nBins - 1L)).as("__bin"))
        .groupBy(col("__bin")).agg(count(lit(1)).as(cnt))
    val ja = bins(a, "__ca"); val jb = bins(b, "__cb")
    val tot = ja.agg(sum(col("__ca")).as("__na"))
      .crossJoin(jb.agg(sum(col("__cb")).as("__nb")))
    ja.join(jb, Seq("__bin"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"),
        when(col("__ca").isNotNull && col("__cb").isNotNull,
          (col("__ca").cast("double") / col("__na").cast("double") -
            col("__cb").cast("double") / col("__nb").cast("double")) *
            log((col("__ca").cast("double") / col("__na").cast("double")) /
              (col("__cb").cast("double") / col("__nb").cast("double"))))
          .as("__term"))
      .groupBy(col("__na"), col("__nb"))
      .agg(sum(when(col("__term").isNotNull, 1L).otherwise(0L)).as("n_bins_used"),
        sum(when(col("__term").isNull, 1L).otherwise(0L)).as("n_bins_onesided"),
        sum(col("__term")).as("psi"))
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("n_bins_used"), col("n_bins_onesided"), col("psi"))
  }

  /**
   * PSI over a CATEGORICAL key — [[psi]]'s sibling for distributions
   * that are already discrete: language mix, source mix, and above all
   * EMBEDDING-SPACE drift, where each vector's IVF/kmeans cell id is
   * the category and a shifted PSI means the new corpus lands in
   * different regions of the space than the reference (the production
   * drift gate for embedding pipelines — certified by q209 over the
   * q107 kmeans cells). Same output contract as [[psi]]: one-sided
   * keys (mass in only one slice) are REPORTED, not smoothed into the
   * sum — smoothing choice belongs to the caller's policy, not the
   * statistic.
   *
   * Shape: two key-sized aggregates, a full outer join of the count
   * frames, one-row totals broadcast — the corpus shuffles once per
   * side on the key.
   */
  def psiCategorical(a: DataFrame, b: DataFrame, keyCol: String): DataFrame = {
    def cnt(df: DataFrame, c: String): DataFrame =
      df.where(col(keyCol).isNotNull)
        .groupBy(col(keyCol).as("__k")).agg(count(lit(1)).as(c))
    val ja = cnt(a, "__ca"); val jb = cnt(b, "__cb")
    val tot = ja.agg(sum(col("__ca")).as("__na"))
      .crossJoin(jb.agg(sum(col("__cb")).as("__nb")))
    ja.join(jb, Seq("__k"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"),
        when(col("__ca").isNotNull && col("__cb").isNotNull,
          (col("__ca").cast("double") / col("__na").cast("double") -
            col("__cb").cast("double") / col("__nb").cast("double")) *
            log((col("__ca").cast("double") / col("__na").cast("double")) /
              (col("__cb").cast("double") / col("__nb").cast("double"))))
          .as("__term"))
      .groupBy(col("__na"), col("__nb"))
      .agg(sum(when(col("__term").isNotNull, 1L).otherwise(0L)).as("n_keys_used"),
        sum(when(col("__term").isNull, 1L).otherwise(0L)).as("n_keys_onesided"),
        sum(col("__term")).as("psi"))
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        col("n_keys_used"), col("n_keys_onesided"), col("psi"))
  }

  /**
   * Exact two-sample Kolmogorov–Smirnov statistic — the
   * distribution-shape drift gate for NUMERIC features ([[psi]] needs a
   * binning policy; KS is binning-free): D = sup over values of
   * |F_a(v) − F_b(v)|, evaluated after each distinct value (the
   * tie-correct convention), plus λ = D·√(n_a·n_b/(n_a+n_b)), the
   * scale-free statistic the asymptotic significance tables index.
   *
   * Scale shape: each side collapses to (distinct value, count) with
   * map-side partials — the only corpus-sized shuffles — then BOTH
   * cumulative counts ride ONE range-partitioned prefix-sum sweep over
   * the merged value order ([[graft.pipeline.Dedup.globalOrderedCumsum]]'s
   * pattern with two summands on one sort: per-partition window sums +
   * a numPartitions-sized offset frame broadcast back — no
   * single-reducer Window). Every F difference is two exact-integer
   * divisions; D and λ certify UNROUNDED.
   */
  def ksTest(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val (sweep, tot) = twoSampleSweep(a, b, valueCol)
    sweep.crossJoin(broadcast(tot))
      .select(col("__na"), col("__nb"),
        abs(col("__cuma").cast("double") / col("__na").cast("double") -
          col("__cumb").cast("double") / col("__nb").cast("double"))
          .as("__d"))
      .groupBy(col("__na"), col("__nb"))
      .agg(count(lit(1)).as("n_values"), max(col("__d")).as("d_stat"))
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"), col("n_values"), col("d_stat"),
        (col("d_stat") * sqrt(col("__na").cast("double") *
          col("__nb").cast("double") /
          (col("__na") + col("__nb")).cast("double"))).as("ks_lambda"))
  }

  /** Shared two-sample sweep: each side collapses to (distinct value,
    * count), both CUMULATIVE counts ride one range-partitioned
    * prefix-sum (per-partition window sums + a numPartitions-sized
    * offset frame broadcast back — [[graft.pipeline.Dedup.globalOrderedCumsum]]'s
    * pattern with two summands on a single sort). Returns
    * ((__v, __ca, __cb, __cuma, __cumb), one-row (__na, __nb)) — the
    * substrate of [[ksTest]] and [[mannWhitneyU]]. */
  private def twoSampleSweep(a: DataFrame, b: DataFrame,
                             valueCol: String): (DataFrame, DataFrame) = {
    def cnts(df: DataFrame, c: String): DataFrame =
      df.where(col(valueCol).isNotNull)
        .select(col(valueCol).cast("double").as("__v"))
        .groupBy("__v").agg(count(lit(1)).as(c))
    val merged = cnts(a, "__ca").join(cnts(b, "__cb"), Seq("__v"), "full_outer")
      .select(col("__v"), coalesce(col("__ca"), lit(0L)).as("__ca"),
        coalesce(col("__cb"), lit(0L)).as("__cb"))
    val parted = merged.repartitionByRange(col("__v"))
      .withColumn("__pid",
        org.apache.spark.sql.functions.spark_partition_id())
    val w = Window.partitionBy(col("__pid")).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = parted
      .withColumn("__la", sum(col("__ca")).over(w))
      .withColumn("__lb", sum(col("__cb")).over(w))
      .persist() // offset agg + final sweep both read it (globalRank note)
    val prev = Window.orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = local.groupBy(col("__pid"))
      .agg(sum(col("__ca")).as("__ta"), sum(col("__cb")).as("__tb"))
      .withColumn("__oa", coalesce(sum(col("__ta")).over(prev), lit(0L)))
      .withColumn("__ob", coalesce(sum(col("__tb")).over(prev), lit(0L)))
      .select(col("__pid"), col("__oa"), col("__ob"))
    val tot = merged.agg(sum(col("__ca")).as("__na"),
      sum(col("__cb")).as("__nb"))
    (local.join(broadcast(offs), Seq("__pid"))
      .select(col("__v"), col("__ca"), col("__cb"),
        (col("__oa") + col("__la")).as("__cuma"),
        (col("__ob") + col("__lb")).as("__cumb")), tot)
  }

  /**
   * Mann–Whitney U (Wilcoxon rank-sum) — the robust two-sample location
   * test ([[welchT]]'s rank sibling: no normality assumption, immune to
   * outliers): U_a counts pairs (x∈a, y∈b) with x > y (ties ½), with
   * the tie-corrected normal approximation
   * z = (U_a − n_a·n_b/2) / √(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1)))).
   *
   * Exactness: midranks double-count to INTEGERS — a value block of
   * size t starting after C predecessors occupies ranks C+1..C+t, so
   * 2·R_a accumulates a's exact contribution ca·(2C+t+1) in
   * DECIMAL(38,0); U_a = (2R_a − n_a(n_a+1))/2 is exact (one halving in
   * double), the tie term Σ(t³−t) is an exact decimal sum (t=1 blocks
   * contribute 0 — no branch), and z is one fixed arithmetic chain —
   * callers round z (6dp) against the σ chain's parenthesization only;
   * U itself certifies unrounded. Degenerate σ = 0 (all values equal)
   * returns null z.
   *
   * Scale shape: the same ONE-sweep substrate as [[ksTest]]
   * ([[twoSampleSweep]]) plus a one-row aggregate — nothing beyond the
   * (distinct value, count) collapse ever shuffles.
   */
  def mannWhitneyU(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val (sweep, tot) = twoSampleSweep(a, b, valueCol)
    val t = col("__ca") + col("__cb")
    val cBefore = col("__cuma") + col("__cumb") - t
    val dec = "decimal(19,0)"
    val agg = sweep.select(
        (col("__ca").cast(dec) * (cBefore * 2 + t + 1).cast(dec)).as("__r2"),
        (t.cast(dec) * t.cast(dec) * t.cast(dec) - t.cast(dec)).as("__t3"))
      .agg(sum(col("__r2")).as("__r2s"), sum(col("__t3")).as("__ties"))
    agg.crossJoin(broadcast(tot))
      .select(col("__na").cast("long").as("n_a"),
        col("__nb").cast("long").as("n_b"),
        ((col("__r2s") - col("__na").cast(dec) *
          (col("__na") + 1).cast(dec)).cast("double") / 2.0).as("u_a"),
        col("__na"), col("__nb"), col("__ties"))
      .select(col("n_a"), col("n_b"), col("u_a"),
        (col("__na").cast("double") * col("__nb").cast("double") -
          col("u_a")).as("u_b"),
        {
          val naD = col("__na").cast("double")
          val nbD = col("__nb").cast("double")
          val nD = (col("__na") + col("__nb")).cast("double")
          val sigma = sqrt(naD * nbD / 12.0 *
            ((nD + 1.0) - col("__ties").cast("double") /
              (nD * (nD - 1.0))))
          when(sigma > 0.0,
            (col("u_a") - naD * nbD / 2.0) / sigma)
            .otherwise(lit(null).cast("double")).as("z")
        })
  }

  /**
   * Spearman rank correlation — the monotone-association monitor
   * (Pearson sees only linearity; Spearman catches "bigger x ⇒ bigger
   * y" of any shape and shrugs at outliers): Pearson over MIDRANKS,
   * the tie-correct definition.
   *
   * Exactness: midranks double-count to integers — a value block of
   * size t after C predecessors has midrank2 = 2C+t+1 — so every
   * moment (Σr, Σr², Σr_x·r_y) is an exact DECIMAL integer sum
   * (doubled ranks leave ρ unchanged: correlation is scale-invariant),
   * and ρ is one fixed arithmetic chain over their double casts —
   * certifies UNROUNDED. Degenerate marginals (all x or all y equal)
   * return null.
   *
   * Scale shape: per column, the (distinct value, count) collapse +
   * the range-partitioned prefix-sum sweep
   * ([[graft.pipeline.Dedup.globalOrderedCumsum]]) build a
   * value→midrank map that joins back value-keyed; one moment
   * aggregate ends it. No single-reducer window anywhere.
   */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val rows = df.where(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .persist() // two rank joins + the moment pass read it
    def midrank2(c: String): DataFrame = {
      val cnt = rows.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__t"))
      Dedup.globalOrderedCumsum(cnt, Seq(col("__v")), "__t",
          rankCol = "__rr", cumCol = "__cum")
        .select(col("__v"),
          ((col("__cum") - col("__t")) * 2 + col("__t") + 1).as("__mr2"))
    }
    val dec = "decimal(19,0)"
    val ranked = rows
      .join(midrank2("__x").select(col("__v").as("__x"),
        col("__mr2").as("__rx")), Seq("__x"))
      .join(midrank2("__y").select(col("__v").as("__y"),
        col("__mr2").as("__ry")), Seq("__y"))
      .select(col("__rx").cast(dec).as("rx"), col("__ry").cast(dec).as("ry"))
    val m = ranked.agg(count(lit(1)).as("__n"),
      sum(col("rx")).as("__sx"), sum(col("ry")).as("__sy"),
      sum(col("rx") * col("rx")).as("__sxx"),
      sum(col("ry") * col("ry")).as("__syy"),
      sum(col("rx") * col("ry")).as("__sxy"))
    val nD = col("__n").cast("double")
    val vx = nD * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val vy = nD * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    m.select(col("__n").cast("long").as("n"),
      when(vx > 0.0 && vy > 0.0,
        (nD * col("__sxy").cast("double") -
          col("__sx").cast("double") * col("__sy").cast("double")) /
          (sqrt(vx) * sqrt(vy)))
        .otherwise(lit(null).cast("double")).as("rho"))
  }

  /**
   * Cramér's V — the effect SIZE companion to
   * [[chiSquareIndependence]] (χ² says "dependent", V says "how much",
   * scale-free in [0,1]): V = √(χ² / (n · min(r−1, c−1))). A corpus-mix
   * audit reads q159's χ² through this to compare drift strength
   * across differently-sized slices. Same single-cell-aggregate plan;
   * the extra arithmetic is one-row. Callers round (the χ² Σ-order
   * drift propagates through the √).
   */
  def cramersV(df: DataFrame, rowCol: String, colCol: String): DataFrame =
    chiSquareWide(df, rowCol, colCol)
      .select(col("chi2"), col("dof"), col("n"),
        when(col("n") > 0 &&
            least(col("__nr") - 1, col("__nc") - 1) > 0,
          sqrt(col("chi2") / (col("n").cast("double") *
            least(col("__nr") - 1, col("__nc") - 1).cast("double"))))
          .otherwise(lit(null).cast("double")).as("cramers_v"))

  /**
   * ROC-AUC of a score column against a boolean label — the
   * classifier/quality-filter eval staple ("does the quality score
   * actually rank kept docs above dropped ones"), computed EXACTLY via
   * the rank identity AUC = U⁺/(n⁺·n⁻) (ties at half credit — the
   * probabilistic definition P(s⁺ > s⁻) + ½P(=)): one
   * [[mannWhitneyU]] over the label slices, so the whole statistic
   * inherits the exact-DECIMAL midrank arithmetic and certifies
   * UNROUNDED — no thresholds, no trapezoid sums, no approximation.
   * Null labels are excluded. Returns (n_pos, n_neg, auc).
   */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val lbl = col(labelCol).cast("boolean")
    mannWhitneyU(df.where(lbl === true), df.where(lbl === false), scoreCol)
      .select(col("n_a").as("n_pos"), col("n_b").as("n_neg"),
        (col("u_a") / (col("n_a") * col("n_b")).cast("double")).as("auc"))
  }

  /**
   * Benjamini–Hochberg FDR correction — the multiple-testing gate for
   * the "ran one drift/AB test per segment, now which of the 10⁵
   * p-values are real" workflow: rank p ascending (ties broken by id —
   * deterministic), q_k = min(1, min_{j≥k} p_j·m/j), reject iff
   * q ≤ alpha (the step-up rule, exactly). Returns every input row
   * with (p, rank, q_value, rejected).
   *
   * Scale shape: rank via [[graft.pipeline.Dedup.globalRank]]
   * (range-partitioned row_number — no single-reducer window), the
   * suffix minimum via [[graft.pipeline.Dedup.globalOrderedCummaxExcl]]
   * on the negated statistic over rank DESC (the frontier-sweep
   * primitive), m as a one-row broadcast. Every q is the fixed chain
   * p·m/rank followed by order-independent mins — certifies UNROUNDED.
   */
  def benjaminiHochberg(df: DataFrame, idCol: String, pCol: String,
                        alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0,1), got $alpha")
    val rows = df.where(col(pCol).isNotNull)
      .select(col(idCol), col(pCol).cast("double").as("p"))
    val ranked = Dedup.globalRank(rows, Seq("p", idCol))
    val m = rows.agg(count(lit(1)).as("__m"))
    val scored = ranked.crossJoin(broadcast(m))
      .withColumn("__q", col("p") * col("__m") / col("rank"))
      .withColumn("__negq", -col("__q"))
    Dedup.globalOrderedCummaxExcl(scored, Seq(col("rank").desc), "__negq",
        cummaxCol = "__cm")
      .select(col(idCol), col("p"), col("rank"),
        least(least(col("__q"), coalesce(-col("__cm"), col("__q"))),
          lit(1.0)).as("q_value"))
      .withColumn("rejected", col("q_value") <= alpha)
  }

  /**
   * k-anonymity gate over a quasi-identifier tuple: every row whose
   * quasi-identifier group has fewer than k members is re-identifiable
   * to that group size. Reports group count, row count, the smallest
   * group, violating-group/row counts and the at-risk rate — the
   * privacy release check that runs BEFORE any row-level export.
   * One partial-aggregated group count + one tiny rollup; the rate is
   * an exact-int ratio.
   */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty && k >= 2)
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("__n")).as("n_rows"),
        min(col("__n")).as("min_group_size"),
        sum(when(col("__n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("n_rows_at_risk"))
      .select(col("n_groups"), col("n_rows"), col("min_group_size"),
        col("n_violating_groups"), col("n_rows_at_risk"),
        (col("n_rows_at_risk").cast("double") / col("n_rows").cast("double"))
          .as("risk_rate"))
  }

  /**
   * Type-7 quantile from an ALREADY-SORTED array column, with the
   * interpolation spelled out as explicit column arithmetic:
   * rank = (n−1)·p, value = a[⌊rank⌋] + frac·(a[⌊rank⌋+1] − a[⌊rank⌋]).
   * Engines' builtin percentile/quantile_cont agree on the DEFINITION
   * but not the internal IEEE chain (observed: a p90 landing on x.5 in
   * one engine and x.49994 in the other — unroundable at 1e11
   * magnitudes); writing the chain once and mirroring it verbatim in
   * the oracle SQL makes the result BIT-identical instead.
   */
  def exactQuantileCol(sortedArr: Column, p: Double): Column = {
    val n = size(sortedArr)
    val rn = (n - 1).cast("double") * lit(p)
    val k = floor(rn).cast("int")
    val frac = rn - floor(rn)
    val lo = element_at(sortedArr, k + 1).cast("double")
    when(n === 0, lit(null).cast("double"))
      .when(frac === 0.0, lo)
      .otherwise(lo + frac *
        (element_at(sortedArr, k + 2).cast("double") - lo))
  }

  /**
   * Kaplan–Meier survival estimator with right-censoring — the
   * time-to-event staple (time to conversion/churn where subjects
   * still alive at last sight are CENSORED, not failures): at each
   * distinct observed event time t, S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ)
   * with dᵢ events and nᵢ at-risk (duration ≥ tᵢ, censored included).
   *
   * Input: one row per subject with an integer `durCol` and a boolean
   * `observedCol` (true = the event happened at that duration).
   * Output: one row per distinct observed event time —
   * (t, n_risk, n_events, survival).
   *
   * Shape: ONE subject-sized aggregate to the per-duration frame
   * (d, c counts); everything after runs on that DOMAIN-SIZED frame —
   * the at-risk ladder and the log-survival running sum are windows
   * over distinct durations, not subjects (a day-granularity study has
   * thousands of rows here regardless of subject count; the explicit
   * single-partition windows on it are metadata-scale, the same
   * stance as the rank-offset frames). The product is computed as
   * exp(Σ ln(1 − d/n)) — one fixed IEEE chain an oracle mirrors;
   * callers round.
   */
  def kaplanMeier(subjects: DataFrame, durCol: String,
                  observedCol: String): DataFrame = {
    val perT = subjects
      .groupBy(col(durCol).cast("long").as("t"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("n_events"),
        count(lit(1)).as("__c"))
    val byT = Window.orderBy(col("t"))
    val cumPrev = byT.rowsBetween(Window.unboundedPreceding, -1)
    val tot = perT.agg(sum(col("__c")).as("__n"))
    perT.crossJoin(broadcast(tot))
      .withColumn("n_risk",
        col("__n") - coalesce(sum(col("__c")).over(cumPrev), lit(0L)))
      .where(col("n_events") > 0)
      .withColumn("survival",
        // d = n (everyone at risk fails) → ln(0): Spark's log NULLs on
        // 0 where other engines give −∞ — pin the branch so the curve
        // drops to exactly 0 everywhere
        exp(sum(when(col("n_events") === col("n_risk"),
            lit(Double.NegativeInfinity))
          .otherwise(log(lit(1.0) -
            col("n_events").cast("double") / col("n_risk").cast("double"))))
          .over(byT.rowsBetween(Window.unboundedPreceding, 0))))
      .select(col("t"), col("n_risk"), col("n_events"), col("survival"))
  }

  /**
   * Lag-k autocorrelation of a bucketed event-count series — the
   * seasonality probe (a daily cycle shows as a peak at the
   * bucket-per-day lag). The series is the count per time bucket with
   * missing buckets ZERO-FILLED over the [min, max] span (a gap is a
   * real zero, not absent data — skipping it would shift every lag).
   *
   * Shape: one corpus-sized count aggregate → a DOMAIN-SIZED series
   * frame (buckets); the zero-fill explodes a one-row (min, max) span,
   * the lag alignment is a lead window over the tiny series, and each
   * lag is one corr aggregate — metadata-scale after the first
   * aggregate (the q194 ladder stance). Returns (lag, n_pairs, acf).
   */
  /** Zero-filled bucketed count series over the [min, max] span —
    * shared by [[autocorrelation]] and [[theilSen]]. One corpus-sized
    * aggregate; the grid explode is a one-row span. */
  private def bucketSeries(df: DataFrame, tsCol: String,
                           bucketMicros: Long): DataFrame = {
    val buckets = df
      .select(Time.tsMicros(col(tsCol)).as("__us"))
      .withColumn("__b", expr(s"__us DIV $bucketMicros"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    val span = buckets.agg(min(col("__b")).as("__lo"), max(col("__b")).as("__hi"))
    val grid = span.select(explode(sequence(col("__lo"), col("__hi"))).as("__b"))
    grid.join(buckets, Seq("__b"), "left")
      .select(col("__b"), coalesce(col("__c"), lit(0L)).cast("double").as("__x"))
  }

  def autocorrelation(df: DataFrame, tsCol: String, bucketMicros: Long,
                      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && bucketMicros > 0)
    val series = bucketSeries(df, tsCol, bucketMicros).persist()
    val w = Window.orderBy(col("__b"))
    val withLeads = series.select(col("__b") +: col("__x") +:
      (1 to maxLag).map(k => lead(col("__x"), k).over(w).as(s"__x$k")): _*)
      .persist()
    (1 to maxLag).map { k =>
      withLeads.agg(lit(k).as("lag"),
        count(col(s"__x$k")).as("n_pairs"),
        corr(col("__x"), col(s"__x$k")).as("acf"))
    }.reduce(_.unionByName(_))
  }

  /**
   * Theil–Sen robust trend of a bucketed count series: slope = the
   * MEDIAN of all pairwise slopes (yⱼ−yᵢ)/(xⱼ−xᵢ), intercept = the
   * median residual at that slope — immune to outlier buckets that
   * would drag an OLS line (up to ~29% contamination). Runs on the
   * same zero-filled [[bucketSeries]] as [[autocorrelation]], so the
   * pair space is span²/2 — domain-sized, independent of corpus rows
   * (720 hourly buckets → 259k pairs). Medians use
   * [[exactQuantileCol]] over sorted slope/residual arrays — the
   * engine-bit-identical interpolation (the q184 lesson; builtin
   * percentile vs quantile_cont differ in the last ulp).
   * Returns (n_points, n_pairs, slope, intercept).
   */
  def theilSen(df: DataFrame, tsCol: String, bucketMicros: Long): DataFrame = {
    require(bucketMicros > 0)
    val s = bucketSeries(df, tsCol, bucketMicros).persist()
    val a = s.select(col("__b").as("__bi"), col("__x").as("__yi"))
    val b = s.select(col("__b").as("__bj"), col("__x").as("__yj"))
    val slopes = a.join(b, col("__bj") > col("__bi"))
      .select(((col("__yj") - col("__yi")) /
        (col("__bj") - col("__bi")).cast("double")).as("__s"))
      .agg(count(lit(1)).as("n_pairs"),
        sort_array(collect_list(col("__s"))).as("__arr"))
      .select(col("n_pairs"),
        exactQuantileCol(col("__arr"), 0.5).as("slope"))
    s.crossJoin(broadcast(slopes))
      .select(col("n_pairs"), col("slope"),
        (col("__x") - col("slope") * col("__b").cast("double")).as("__r"))
      .groupBy(col("n_pairs"), col("slope"))
      .agg(count(lit(1)).as("n_points"),
        sort_array(collect_list(col("__r"))).as("__ra"))
      .select(col("n_points"), col("n_pairs"), col("slope"),
        exactQuantileCol(col("__ra"), 0.5).as("intercept"))
  }

  /**
   * Odds ratio of a binary outcome between two slices (the 2×2
   * epidemiology/experimentation table) with the Woolf logit
   * confidence interval, under the Haldane–Anscombe +0.5 correction
   * (every cell gets +0.5 — the standard zero-cell-safe estimator;
   * with any cell empty the raw OR/CI are 0/∞-degenerate):
   * OR = (a⁺·d⁺)/(b⁺·c⁺), CI = exp(ln OR ± z·√Σ 1/x⁺).
   * ONE conditional-aggregate pass — the [[welchT]] shape: no join,
   * single scan. Returns (a, b, c, d, odds_ratio, ci_lo, ci_hi) with
   * raw cells and corrected estimates; a/b = exposed successes/
   * failures, c/d unexposed.
   */
  def oddsRatio(df: DataFrame, exposedCol: Column, outcomeCol: Column,
                z: Double = 1.959964): DataFrame = {
    val e = exposedCol; val o = outcomeCol
    def h(c: Column) = c.cast("double") + lit(0.5)
    df.agg(
        sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
      .withColumn("odds_ratio",
        h(col("a")) * h(col("d")) / (h(col("b")) * h(col("c"))))
      .withColumn("__se", sqrt(
        lit(1.0) / h(col("a")) + lit(1.0) / h(col("b")) +
          lit(1.0) / h(col("c")) + lit(1.0) / h(col("d"))))
      .withColumn("ci_lo", exp(log(col("odds_ratio")) - lit(z) * col("__se")))
      .withColumn("ci_hi", exp(log(col("odds_ratio")) + lit(z) * col("__se")))
      .drop("__se")
  }

  private def exploded(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       pcts: Seq[Double], exact: Boolean, accuracy: Int): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 0.0 && p <= 1.0))
    val arr = pcts.map(p => s"${p}D").mkString("array(", ", ", ")")
    val agg =
      if (exact) expr(s"percentile($valueCol, $arr)")
      else expr(s"approx_percentile($valueCol, $arr, $accuracy)")
    df.groupBy(groupCols.map(col): _*)
      .agg(agg.as("__qs"))
      .select(groupCols.map(col) :+ posexplode(col("__qs")).as(Seq("__i", "value")): _*)
      .select(groupCols.map(col) :+
        element_at(typedLit(pcts), col("__i").cast("int") + 1).as("p") :+
        col("value"): _*)
  }
}
