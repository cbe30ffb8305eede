package graft.spatial

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Final result of ST_Extent: Struct{xmin,ymin,xmax,ymax}
  * (reference: src/udafs/extent.rs:59-66). */
case class Extent(xmin: Double, ymin: Double, xmax: Double, ymax: Double)

/** Mutable 4-double partial state (reference: src/udafs/extent.rs:86-93). */
case class ExtentBuf(var xmin: Double, var ymin: Double, var xmax: Double, var ymax: Double)

/**
 * ST_Extent aggregate over WKB geometries: bounding box of all inputs
 * (reference: src/udafs/extent.rs:46-229). Spark's `Aggregator` gives the
 * same two-phase shape — `reduce` ≈ update_batch on executors, a 4-double
 * buffer across the shuffle, `merge` ≈ merge_batch, `finish` ≈ evaluate —
 * with map-side partial aggregation for free.
 *
 * The reference's merge bugs (state order mismatch and min-instead-of-max
 * fold, src/udafs/extent.rs:97-104,210-224) are deliberately NOT replicated;
 * we implement the intended semantics. Null and empty geometries are
 * ignored; a group with no non-empty geometry yields a NULL extent
 * (`finish` returns None, which the output encoder writes as a NULL
 * `struct<xmin,ymin,xmax,ymax>`).
 */
class ExtentAggregator extends Aggregator[Array[Byte], ExtentBuf, Option[Extent]] {
  def zero: ExtentBuf = ExtentBuf(
    Double.PositiveInfinity, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.NegativeInfinity)

  def reduce(b: ExtentBuf, wkb: Array[Byte]): ExtentBuf = {
    if (wkb != null) {
      val e = new Envelope
      try WKB.foldEnvelope(wkb, e) catch { case _: Exception => () }
      if (!e.isEmpty) {
        if (e.xmin < b.xmin) b.xmin = e.xmin
        if (e.ymin < b.ymin) b.ymin = e.ymin
        if (e.xmax > b.xmax) b.xmax = e.xmax
        if (e.ymax > b.ymax) b.ymax = e.ymax
      }
    }
    b
  }

  def merge(a: ExtentBuf, b: ExtentBuf): ExtentBuf = {
    if (b.xmin < a.xmin) a.xmin = b.xmin
    if (b.ymin < a.ymin) a.ymin = b.ymin
    if (b.xmax > a.xmax) a.xmax = b.xmax
    if (b.ymax > a.ymax) a.ymax = b.ymax
    a
  }

  def finish(b: ExtentBuf): Option[Extent] =
    if (b.xmin > b.xmax) None else Some(Extent(b.xmin, b.ymin, b.xmax, b.ymax))

  def bufferEncoder: Encoder[ExtentBuf] = Encoders.product[ExtentBuf]
  def outputEncoder: Encoder[Option[Extent]] = Encoders.product[Option[Extent]]
}
