package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The correctness checks. Each takes the program's answer as a
  * DataFrame, reduces it (the reduction is the last stage of the timed
  * query) and compares the result with a value computed by the benchmark
  * alone. Each returns its problems; empty means the check passed. The
  * self-test feeds every check a corrupted answer. */
object Checks {

  /** Order-independent fingerprint of an (id, value) answer: the count and
    * the XOR of Spark's xxhash64 over every row. */
  def fingerprint(answer: DataFrame): (Long, Long) = {
    val r = answer.agg(count(lit(1)), coalesce(bit_xor(xxhash64(answer.columns.map(col): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** geo_scan's combined scan: `answer` is (id, geometry, wkt, envelope).
    * One aggregate checks the (id, geometry, wkt) and (id, envelope)
    * fingerprints and the declarative ST_Extent of the geometry. */
  def scanEqual(what: String, answer: DataFrame, wkt: Long, env: Long, rows: Long,
                extent: Array[Double]): Seq[String] = {
    import graft.spatial.{functions => G}
    val r = answer.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("id"), col("geometry"), col("wkt"))), lit(0L)),
      coalesce(bit_xor(xxhash64(col("id"), col("env"))), lit(0L)),
      G.st_extent(col("geometry"))).head()
    (if (r.getLong(0) != rows) Seq(s"$what: ${r.getLong(0)} rows, expected $rows") else Nil) ++
      (if (r.getLong(1) != wkt) Seq(s"$what: decoded WKB or ST_AsText differs from the generator's") else Nil) ++
      (if (r.getLong(2) != env) Seq(s"$what: ST_Envelope differs from the generator's bounds") else Nil) ++
      extentOf(s"$what extent", if (r.isNullAt(3)) None else Some(r.getStruct(3)), extent)
  }

  private def extentOf(what: String, s: Option[org.apache.spark.sql.Row],
                       expected: Array[Double]): Seq[String] = s match {
    case None => Seq(s"$what: no extent")
    case Some(x) =>
      val got = (0 until 4).map(x.getDouble)
      if (got == expected.toSeq) Nil else Seq(s"$what: extent $got, expected ${expected.toSeq}")
  }

  /** `answer` is one row of one struct (xmin, ymin, xmax, ymax); equality
    * is exact. */
  def extentEqual(what: String, answer: DataFrame, expected: Array[Double]): Seq[String] = {
    val rows = answer.collect()
    if (rows.length != 1) Seq(s"$what: ${rows.length} extent rows")
    else extentOf(what, if (rows(0).isNullAt(0)) None else Some(rows(0).getStruct(0)), expected)
  }

  /** `answer` is (key: string, n: long); null keys read as "null". */
  def countsEqual(what: String, answer: DataFrame, expected: Map[String, Long]): Seq[String] = {
    val got = answer.collect().map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    mapsEqual(what, got, expected)
  }

  def mapsEqual[K, V](what: String, got: Map[K, V], expected: Map[K, V]): Seq[String] = {
    val bad = (got.keySet ++ expected.keySet).filter(k => got.get(k) != expected.get(k))
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} keys differ, e.g. ${bad.take(3).map(k =>
      s"$k -> ${got.get(k)} expected ${expected.get(k)}").mkString("; ")}")
  }

  /** `answer` is (key: long, n: long, xor: long) per group; compared
    * with per-key (count, xor) computed by brute force. */
  def groupsEqual(what: String, answer: DataFrame,
                  expected: Map[Long, (Long, Long)]): (Seq[String], Map[Long, (Long, Long)]) = {
    val got = answer.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    (mapsEqual(what, got, expected), got)
  }

  def near(a: Double, b: Double, scale: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(scale))

  /** `answer` is (a_id, b_id, area(a∩b), area(a∪b), area(a), area(b)). */
  def overlayAreas(answer: DataFrame, expected: Map[(Long, Long), (Double, Double, Double)]): Seq[String] = {
    val rows = answer.collect()
    val probs = Seq.newBuilder[String]
    if (rows.length != expected.size) probs += s"overlay: ${rows.length} pairs, expected ${expected.size}"
    rows.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      val (ia, ua, aa, ab) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
      expected.get(key) match {
        case None => probs += s"overlay: unexpected pair $key"
        case Some((eia, eaa, eab)) =>
          val scale = eaa + eab
          if (!near(ia, eia, scale)) probs += s"overlay $key: area(a∩b) $ia, clip gives $eia"
          if (!near(aa, eaa, scale) || !near(ab, eab, scale))
            probs += s"overlay $key: areas ($aa, $ab), expected ($eaa, $eab)"
          if (!near(aa + ab, ua + ia, scale))
            probs += s"overlay $key: area(a)+area(b) ${aa + ab} != area(a∪b)+area(a∩b) ${ua + ia}"
      }
    }
    probs.result().take(5)
  }

  /** `answer` is (grp, area of st_union_agg). */
  def unionAreas(answer: DataFrame, expected: Map[Long, Double]): Seq[String] = {
    val got = answer.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val probs = (got.keySet ++ expected.keySet).toSeq.sorted.flatMap { g =>
      (got.get(g), expected.get(g)) match {
        case (Some(a), Some(e)) if near(a, e, e) => Nil
        case (a, e) => Seq(s"union_agg group $g: area $a, tiles sum to $e")
      }
    }
    probs.take(5)
  }

  /** Dedup output (doc_id, text, n_kept, n_removed): every eligible line
    * key occurs once, and the key set is the distinct eligible input keys
    * (count and fingerprint). */
  def linesKeptOnce(out: DataFrame, minChars: Int, distinct: Long, xor: Long): Seq[String] = {
    val lines = out.select(explode(split(col("text"), "\n", -1)).as("line"))
      .filter(length(col("line")) >= minChars)
    val r = lines.agg(count(lit(1)), countDistinct(col("line")),
      coalesce(bit_xor(xxhash64(col("line"))), lit(0L))).head()
    val (n, nd, x) = (r.getLong(0), r.getLong(1), r.getLong(2))
    (if (n != nd) Seq(s"dedup: ${n - nd} eligible lines kept more than once") else Nil) ++
      (if (nd != distinct) Seq(s"dedup: $nd distinct eligible keys kept, input has $distinct") else Nil) ++
      (if (x != xor) Seq(f"dedup: key fingerprint $x%016x, expected $xor%016x") else Nil)
  }

  /** Every fed document is committed once, and kept + removed lines
    * equal its line count. */
  def docsAccounted(out: DataFrame, docs: Long, xor: Long): Seq[String] = {
    val r = out.agg(count(lit(1)), countDistinct(col("doc_id")),
      coalesce(bit_xor(xxhash64(col("doc_id"), col("n_kept") + col("n_removed"))), lit(0L))).head()
    (if (r.getLong(0) != docs || r.getLong(1) != docs)
      Seq(s"dedup: ${r.getLong(0)} rows / ${r.getLong(1)} documents committed, $docs fed") else Nil) ++
      (if (r.getLong(2) != xor) Seq("dedup: kept + removed lines differ from the line counts") else Nil)
  }

  /** Hidden `.staging-*` directories left under `root`. */
  def stagingLeft(root: java.io.File): Seq[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      Option(f.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap(c =>
        if (c.isDirectory) c +: walk(c) else Nil)
    walk(root).filter(_.getName.startsWith(".staging-")).map(d => s"orphaned staging dir ${d.getPath}")
  }
}
