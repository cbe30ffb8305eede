package graftbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame

/** The per-layer metrics of the traced run. A workload reports the layers
  * it reaches; a layer it does not reach reads 0. */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "geoio.footer_ms" -> "ms", "geoio.decode_wkb_ns_per_row" -> "ns/row",
    "geoio.decode_native_ns_per_row" -> "ns/row",
    "kernel.wkb_read_ns_per_row" -> "ns/row", "kernel.astext_ns_per_row" -> "ns/row",
    "kernel.geometrytype_ns_per_row" -> "ns/row", "kernel.envelope_ns_per_row" -> "ns/row",
    "kernel.xmin_ns_per_row" -> "ns/row", "kernel.extent_ns_per_row" -> "ns/row",
    "kernel.extent_agg_ns_per_row" -> "ns/row",
    "query.astext_ms" -> "ms", "query.geometrytype_ms" -> "ms",
    "query.geometrytype_folded_ms" -> "ms", "query.envelope_ms" -> "ms",
    "query.extent_ms" -> "ms", "query.extent_udaf_ms" -> "ms", "sql.plan_ms" -> "ms",
    "geom.contains_ns_per_pair" -> "ns/pair", "geom.intersects_ns_per_pair" -> "ns/pair",
    "geom.intersection_ns_per_pair" -> "ns/pair", "geom.union_ns_per_pair" -> "ns/pair",
    "geom.area_ns_per_geom" -> "ns/geom",
    "join.candidate_pairs" -> "count", "join.matches" -> "count",
    "join.candidates_per_match" -> "ratio", "join.contains_ms" -> "ms",
    "join.sql_intersects_ms" -> "ms", "join.overlay_ms" -> "ms", "join.union_agg_ms" -> "ms",
    "trigger.wall_ms" -> "ms", "trigger.add_batch_ms" -> "ms",
    "trigger.query_planning_ms" -> "ms", "trigger.wal_commit_ms" -> "ms",
    "trigger.commit_offsets_ms" -> "ms", "trigger.latest_offset_ms" -> "ms",
    "sink.files_per_trigger" -> "count", "sink.bytes_per_trigger" -> "bytes",
    "sink.staging_left" -> "count", "sink.readback_ms" -> "ms",
    "dedup.standing_keys" -> "count", "dedup.batch_ns_per_line" -> "ns/line",
    "spark.jobs_per_step" -> "count", "spark.stages_per_step" -> "count",
    "spark.tasks_per_step" -> "count", "spark.driver_gap_ms_per_step" -> "ms",
    "spark.task_cpu_ms_per_step" -> "ms", "spark.gc_ms_per_step" -> "ms",
    "spark.shuffle_write_bytes_per_step" -> "bytes", "spark.spill_bytes_per_step" -> "bytes",
    "jvm.warmup_s" -> "s", "jvm.jit_ms" -> "ms", "jvm.jit_cpu_ms" -> "ms", "jvm.heap_peak_mb" -> "MB",
    "host.steal_pct" -> "%", "trace.step_p50_ms" -> "ms")

  /** Median over timed steps of one operation's wall time. */
  def opMs(run: Run, names: String*): Double =
    Main.median(run.stepOps.toSeq.map(m => names.map(m.getOrElse(_, 0.0)).sum))

  /** Single-thread time per call of `f` over `items`, after one untimed
    * pass, as the median of five passes. */
  def perCallNs[A](tracer: Tracer, name: String, items: IndexedSeq[A])(f: A => Any): Double =
    tracer(name, "kernel") {
      var sink = 0
      def pass(): Long = {
        val t0 = Clock.wallNs
        var i = 0
        while (i < items.length) { if (f(items(i)) != null) sink += 1; i += 1 }
        Clock.wallNs - t0
      }
      pass()
      val ns = Main.median((1 to 5).map(_ => pass().toDouble))
      if (sink < 0) println(sink)
      ns / math.max(1, items.length)
    }

  /** CPU per row (`Clock.cpuNs`, without the JIT compiler threads) of
    * materializing `df` fully (noop sink). */
  def cpuNsPerRow(tracer: Tracer, name: String, rows: Long)(df: => DataFrame): Double =
    tracer(name, "query") {
      df.write.format("noop").mode("overwrite").save()
      val c0 = Clock.cpuNs
      df.write.format("noop").mode("overwrite").save()
      (Clock.cpuNs - c0).toDouble / math.max(1L, rows)
    }

  /** Spark engine metrics per timed step, from the listener: jobs whose
    * start falls in the step, their completed stages, and the step time
    * during which no job ran. A job span goes under the query span its job
    * group names, else under its step; stage spans under their job. */
  def sparkPerStep(l: JobListener, tracer: Tracer,
                   steps: Seq[(Long, Long)]): Map[String, Double] = {
    if (steps.isEmpty) return Map.empty
    val jobs = l.jobs.asScala.toSeq
    val stepSpans = tracer.spans.filter(_.kind == "step").sortBy(_.startNs)
    val per = steps.zipWithIndex.map { case ((t0, t1), i) =>
      val js = jobs.filter(j => j.startNs >= t0 && j.startNs < t1)
      val ss = js.flatMap(_.stages).distinct.flatMap(id => Option(l.stages.get(id)))
        .filter(_.endNs > 0)
      val stepId = if (i < stepSpans.size) stepSpans(i).id else 0
      val queries = tracer.spans.filter(s => s.parent == stepId && s.kind == "query")
        .map(s => s"step-$i/${s.name}" -> s.id).toMap
      js.foreach { j =>
        val end = if (j.endNs > 0) j.endNs else t1
        val parent = Option(j.group).flatMap(queries.get).getOrElse(stepId)
        val jid = tracer.add(parent, s"job-${j.id}", "job", j.startNs, end)
        j.stages.flatMap(id => Option(l.stages.get(id))).filter(_.endNs > 0).foreach(s =>
          tracer.add(jid, s"stage-${s.id}", "stage", s.startNs, s.endNs))
      }
      val iv = js.map(j => (math.max(j.startNs, t0), math.min(if (j.endNs > 0) j.endNs else t1, t1)))
      val gap = tracer.selfNs(Span(0, 0, "", "", t0, t1), iv.map { case (a, b) => Span(0, 0, "", "", a, b) })
      Seq(js.size.toDouble, ss.size.toDouble, ss.map(_.tasks).sum.toDouble, gap / 1e6,
        ss.map(_.cpuNs).sum / 1e6, ss.map(_.gcMs).sum.toDouble,
        ss.map(_.shuffleWrite).sum.toDouble, ss.map(_.spill).sum.toDouble)
    }
    val names = Seq("spark.jobs_per_step", "spark.stages_per_step", "spark.tasks_per_step",
      "spark.driver_gap_ms_per_step", "spark.task_cpu_ms_per_step", "spark.gc_ms_per_step",
      "spark.shuffle_write_bytes_per_step", "spark.spill_bytes_per_step")
    names.zipWithIndex.map { case (n, k) => n -> per.map(_(k)).sum / per.size }.toMap
  }
}
