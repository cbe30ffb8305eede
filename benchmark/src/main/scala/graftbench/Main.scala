package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload: opened during set-up, warmed up untimed, then stepped in
  * a closed loop (one client; a step starts when the previous one ends). */
abstract class Workload(run: Run) {
  /** Open the inputs: footers read, schemas resolved. Part of set-up. */
  def open(): Unit
  /** Compute the expected answers from the generator. Untimed. */
  def expect(): Unit
  /** Untimed warm-up on inputs separate from the timed ones, of the same
    * make-up: `warmupStart`, then `warmup` (one warm-up step) as often as
    * Main asks, then `warmupEnd`. */
  def warmupStart(): Unit = ()
  def warmup(): Unit
  def warmupEnd(): Unit = ()
  /** How many warm-up steps Main runs. */
  def warmSteps: Int = run.scale.warmSteps
  /** One timed step; returns the input rows of its operations that did
    * not fail. */
  def step(): Long
  /** No timed input left for another step: the timed phase ends early. */
  def exhausted: Boolean = false
  /** Checks that need the whole timed phase (stream output). */
  def finish(): Unit = ()
  /** Traced run only: the workload's layer metrics, probed after the
    * timed phase. */
  def layers(): Map[String, Double]
}

/** State shared by a run: session, tracer, operation and check counts,
  * and per-step operation times. */
final class Run(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val scale: Scale, val inputs: String, val warmInputs: String, val work: String) {
  /** Directory of one input set: `timed` (from the seed) under `inputs`;
    * the warm-up sets (the same for every seed) under `warmInputs`. */
  def dataDir(set: String): String = if (set == "timed") s"$inputs/timed" else s"$warmInputs/$set"

  var attempted = 0L
  var failed = 0L
  val problems = new ArrayBuffer[String]
  var timed = false
  var stepNo = -1
  /** Per timed step: operation name → wall ms (summed over encodings),
    * and `cg:<name>` → Janino compilations during that operation. */
  val stepOps = new ArrayBuffer[mutable.Map[String, Double]]

  def check(problemsFound: Seq[String]): Unit = {
    problemsFound.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    problems ++= problemsFound
  }

  /** Runs one operation under a job group naming its step; a thrown
    * exception counts the operation as failed. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    spark.sparkContext.setJobGroup(s"step-$stepNo/$name", name, interruptOnCancel = false)
    val t0 = Clock.wallNs
    val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    try Some(tracer(name, "query")(body))
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"OPERATION FAILED: $name: $e")
        None
    } finally {
      spark.sparkContext.clearJobGroup()
      if (timed) {
        val m = stepOps.last
        m(name) = m.getOrElse(name, 0.0) + (Clock.wallNs - t0) / 1e6
        m("cg:" + name) = m.getOrElse("cg:" + name, 0.0) +
          (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0)
      }
    }
  }
}

object Main {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Timed steps at the least, whatever `--seconds`: the median of two
    * steps would be their mean, and a run on a slow host would then end
    * one step earlier than a run on a fast one, at a less warm step. */
  val MinTimedSteps = 3

  /** Task threads: half the vCPUs, at most two — fewer task threads than
    * vCPUs keeps run-to-run spread low on a host with CPU steal. */
  def taskThreads: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors() / 2))

  def session(work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$taskThreads]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * taskThreads).toString)
      // a geo_scan step generates more classes than the default 100-entry
      // cache holds, so each step would otherwise recompile its whole mix
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val scale = Scale(opts.getOrElse("scale", "full"))
    val inputs = opts("inputs")
    val work = opts("work")

    val spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    graft.spatial.functions.register(spark)
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val run = new Run(spark, new Tracer(trace), seed, scale, inputs, opts("warm-inputs"), work)
    val wl: Workload = workload match {
      case "geo_scan" => new GeoScan(run)
      case "spatial_join" => new JoinWorkload(run)
      case "stream_dedup" => new StreamDedup(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    wl.open()
    val setupS = Clock.sinceJvmStart

    val e0 = Clock.wallNs
    wl.expect()
    val expectS = (Clock.wallNs - e0) / 1e9
    // warm-up: a fixed number of untimed steps, so that the JIT has
    // compiled the hot paths before timing starts
    val w0 = Clock.wallNs
    var warmSteps = 0
    val warmMs = new ArrayBuffer[Double]
    run.tracer("warmup", "phase") {
      wl.warmupStart()
      while (warmSteps < wl.warmSteps) {
        val t0 = Clock.wallNs
        run.tracer(s"warmup-$warmSteps", "step")(wl.warmup())
        warmMs += (Clock.wallNs - t0) / 1e6
        warmSteps += 1
      }
      wl.warmupEnd()
    }
    val warmupS = (Clock.wallNs - w0) / 1e9

    // timed phase: whole steps until `seconds` of step wall time and at
    // least MinTimedSteps steps, or until the timed inputs run out
    run.timed = true
    val stepWall = new ArrayBuffer[(Long, Long)]
    val stepCpuPerRow = new ArrayBuffer[Double]
    var wallNs = 0L; var cpuNs = 0L; var rows = 0L
    val jit0 = Clock.jitMs
    val jitCpu0 = Clock.jitCpuNs
    val cg0 = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (st0, tot0) = Clock.stealJiffies
    run.tracer("timed", "phase") {
      while ((wallNs < seconds * 1e9 || stepWall.size < MinTimedSteps) && !wl.exhausted) {
        run.stepNo += 1
        run.stepOps += mutable.Map.empty
        val c0 = Clock.cpuNs; val t0 = Clock.wallNs
        val stepRows = run.tracer(s"step-${run.stepNo}", "step")(wl.step())
        val t1 = Clock.wallNs; val c1 = Clock.cpuNs
        rows += stepRows
        if (stepRows > 0) stepCpuPerRow += (c1 - c0).toDouble / stepRows
        stepWall += ((t0, t1))
        wallNs += t1 - t0; cpuNs += c1 - c0
      }
    }
    val jitMs = Clock.jitMs - jit0
    val jitCpuMs = (Clock.jitCpuNs - jitCpu0) / 1e6
    val codegens = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
    val (st1, tot1) = Clock.stealJiffies
    val stealPct = if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0
    run.timed = false
    wl.finish()

    val stepMs = stepWall.map { case (a, b) => (b - a) / 1e6 }.toSeq
    val p50 = median(stepMs)
    System.err.println(f"run: workload=$workload seed=$seed steps=${stepMs.size} " +
      f"host.steal_pct=$stealPct%.2f jvm.jit_ms=$jitMs jvm.jit_cpu_ms=$jitCpuMs%.0f setup_s=$setupS%.2f expect_s=$expectS%.2f " +
      f"jvm.warmup_s=$warmupS%.2f warmup_ms=${warmMs.map(m => f"$m%.0f").mkString(",")} " +
      f"codegens=$codegens cpu_ns_per_row_total=${cpuNs.toDouble / math.max(rows, 1L)}%.0f " +
      s"steps_cpu_ns_per_row=${stepCpuPerRow.map(c => f"$c%.0f").mkString(",")} " +
      s"steps_ms=${stepMs.map(m => f"$m%.0f").mkString(",")} " +
      s"last_step_ops_ms=${run.stepOps.lastOption.map(_.toSeq.sorted.map { case (k, v) => f"$k:$v%.0f" }
        .mkString(",")).getOrElse("")}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("rows_per_s", rows / (wallNs / 1e9), "rows/s"),
        ("step_p50_ms", p50, "ms"),
        // the median step's, so that one step slowed by the host does not
        // move it; the timed phase's total is printed on stderr
        ("cpu_ns_per_row", if (stepCpuPerRow.nonEmpty) median(stepCpuPerRow.toSeq)
          else cpuNs.toDouble / math.max(rows, 1L), "ns/row"))
      else {
        val layer = run.tracer("layers", "phase")(wl.layers())
        val engine = Layers.sparkPerStep(listener, run.tracer, stepWall.toSeq)
        val host = Map("jvm.warmup_s" -> warmupS, "jvm.jit_ms" -> jitMs.toDouble,
          "jvm.jit_cpu_ms" -> jitCpuMs,
          "jvm.heap_peak_mb" -> Clock.heapPeakMb, "host.steal_pct" -> stealPct,
          "trace.step_p50_ms" -> p50)
        val all = layer ++ engine ++ host
        val traces = new java.io.File(opts("traces"))
        traces.mkdirs()
        run.tracer.write(new java.io.File(traces, s"$workload-seed$seed.jsonl").getPath)
        Layers.All.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
      }
    spark.stop()
    val correct = run.problems.isEmpty
    println(Json.result(correct, run.attempted, run.failed, metrics))
    System.exit(if (correct) 0 else 1)
  }
}
