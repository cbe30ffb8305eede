package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Process-level clocks: wall, process CPU of the program's threads, JIT
  * time and the JIT compiler threads' CPU. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean

  def wallNs: Long = System.nanoTime()
  /** CPU of every thread of the process (task, driver, GC and Spark's own
    * threads) except the JIT compiler threads: C2 compiles through the
    * timed phase, by an amount that swings between runs of the same code,
    * and that is warm-up cost, not cost per row. */
  def cpuNs: Long = os.getProcessCpuTime - jitCpuNs
  def jitMs: Long = jit.getTotalCompilationTime

  /** CPU time of the JIT compiler threads (`C1 CompilerThre…`,
    * `C2 CompilerThre…`) from /proc/self/task, in clock ticks of 10 ms;
    * 0 where /proc is absent. The JVM keeps these threads for its whole
    * life (run.py passes -XX:-UseDynamicNumberOfCompilerThreads), so no
    * compiler CPU is lost with an exited thread. */
  def jitCpuNs: Long =
    try {
      val tasks = new java.io.File("/proc/self/task").listFiles()
      if (tasks == null) 0L
      else tasks.iterator.map { t =>
        try {
          val comm = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "comm").toPath)).trim
          if (!comm.startsWith("C1 CompilerThre") && !comm.startsWith("C2 CompilerThre")) 0L
          else {
            val stat = new String(java.nio.file.Files.readAllBytes(new java.io.File(t, "stat").toPath))
            // fields after the parenthesised name: state is the first, utime the 12th, stime the 13th
            val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
            (f(11).toLong + f(12).toLong) * 10000000L
          }
        } catch { case _: java.io.IOException => 0L }
      }.sum
    } catch { case _: Exception => 0L }

  /** Seconds since the JVM started. */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def heapPeakMb: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** (steal, total) jiffies over all CPUs from /proc/stat; zeros where
    * the file is absent. */
  def stealJiffies: (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }
}

/** One span: a named interval with its parent, in the benchmark's own
  * code (run → step → query/trigger → Spark job → stage, and the direct
  * kernel calls). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
                      startNs: Long, endNs: Long)

/** Span recorder; a no-op unless tracing. Spans stay in memory until
  * [[write]]. Driver-side spans nest on one thread; Spark job and stage
  * spans come from [[JobListener]] and are attached afterwards. */
final class Tracer(val enabled: Boolean) {
  val spans = new ArrayBuffer[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1

  def current: Int = stack.headOption.getOrElse(0)

  def apply[T](name: String, kind: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = current
      stack = id :: stack
      val t0 = Clock.wallNs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, name, kind, t0, Clock.wallNs)
      }
    }

  def add(parent: Int, name: String, kind: String, startNs: Long, endNs: Long): Int = {
    val id = nextId; nextId += 1
    spans += Span(id, parent, name, kind, startNs, endNs)
    id
  }

  /** Self time: duration minus the union of the children's intervals. */
  def selfNs(s: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) covered += curE - curS
    (s.endNs - s.startNs) - covered
  }

  /** Writes every span as one JSON line with its self time. */
  def write(path: String): Unit = {
    val kids = spans.groupBy(_.parent)
    val out = new java.io.PrintWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      val self = selfNs(s, kids.getOrElse(s.id, Nil).toSeq)
      out.println(s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""kind":"${s.kind}","start_ns":${s.startNs},"dur_ns":${s.endNs - s.startNs},"self_ns":$self}""")
    } finally out.close()
  }
}

/** Spark job and stage records from a listener; registered only in the
  * traced run. Times are converted to the driver's nanoTime base. */
final class JobListener extends SparkListener {
  final case class Job(id: Int, group: String, batch: String, startNs: Long, var endNs: Long,
                       stages: Seq[Int])
  final case class Stage(id: Int, var startNs: Long, var endNs: Long, var tasks: Int,
                         var cpuNs: Long, var gcMs: Long, var shuffleWrite: Long, var spill: Long)

  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]

  private val base = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def ns(ms: Long): Long = ms * 1000000L - base

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    def prop(k: String) = if (p == null) null else p.getProperty(k)
    jobs.add(Job(e.jobId, prop("spark.jobGroup.id"), prop("streaming.sql.batchId"),
      ns(e.time), -1L, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.forEach(j => if (j.id == e.jobId) j.endNs = ns(e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val s = stages.computeIfAbsent(i.stageId, id => Stage(id, 0L, 0L, 0, 0L, 0L, 0L, 0L))
    s.startNs = ns(i.submissionTime.getOrElse(0L))
    s.endNs = ns(i.completionTime.getOrElse(0L))
    s.tasks += i.numTasks
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val s = stages.computeIfAbsent(e.stageId, id => Stage(id, 0L, 0L, 0, 0L, 0L, 0L, 0L))
    s.synchronized {
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** Minimal JSON writing for the result line and the trace file. */
object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long,
             metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
