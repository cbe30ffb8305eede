package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Memory-constrained full-board sweep (builder-side): one cold pass per
  * declared query on SPARK_GRAFT_SF_DIR under whatever -Xmx the fork got
  * (SPARK_DRIVER_MEM — driver AND all local[32] executor threads share
  * it), recording per-query wall, disk/memory spill bytes, and peak task
  * execution memory via a task-end listener. The point is memory
  * behavior under pressure, not timing precision — no warmup, single
  * pass. Prints one JSON line per query plus a total; also written to
  * MEMSWEEP_RESULT.json.
  */
object MemSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      new java.io.File("benchdata-sf1p").getAbsolutePath) // under the working dir
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only: String => Boolean = sys.env.get("SPARK_GRAFT_QUERIES") match {
      case Some(pfx) if pfx.nonEmpty =>
        val ps = pfx.split(','); name => ps.exists(name.startsWith)
      case _ => _ => true
    }
    @volatile var disk = 0L
    @volatile var mem = 0L
    @volatile var peak = 0L
    val lock = new Object
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) lock.synchronized {
          disk += m.diskBytesSpilled
          mem += m.memoryBytesSpilled
          peak = math.max(peak, m.peakExecutionMemory)
        }
      }
    })
    val names = SparkEntryNames.filter(only)
    val out = new StringBuilder("[\n")
    var totalSec = 0.0
    var failed = List.empty[String]
    names.zipWithIndex.foreach { case (n, i) =>
      lock.synchronized { disk = 0L; mem = 0L; peak = 0L }
      val t0 = System.nanoTime()
      val ok =
        try { graft.Queries.all(n)(spark, sfDir).queryExecution.toRdd.count(); true }
        catch { case e: Throwable =>
          System.err.println(s"memsweep: $n FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          false
        }
      spark.catalog.clearCache()
      val sec = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; small settle
      Thread.sleep(300)
      val (d, m, p) = lock.synchronized { (disk, mem, peak) }
      if (ok) totalSec += sec else failed ::= n
      val line = f"""{"q":"$n","sec":$sec%.2f,"ok":$ok,"spill_disk":$d,"spill_mem":$m,"peak_exec_mem":$p}"""
      println("MEMSWEEP " + line)
      out.append("  ").append(line)
      if (i != names.length - 1) out.append(",")
      out.append("\n")
    }
    out.append("]\n")
    val summary = f"""{"total_sec":$totalSec%.1f,"n":${names.length},"failed":${failed.size},"failed_names":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},"xmx":"${Runtime.getRuntime.maxMemory() / (1L << 20)}m","sf":"$sfDir"}"""
    println("MEMSWEEP_TOTAL " + summary)
    Files.write(Paths.get("MEMSWEEP_RESULT.json"),
      (summary + "\n" + out.toString).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }

  private def SparkEntryNames: Seq[String] =
    graft.SparkEntry.queries.keys.toSeq.sorted
}
