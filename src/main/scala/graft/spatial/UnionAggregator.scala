package graft.spatial

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders}

/** Buffer for [[UnionAggregator]]: accumulated WKB inputs. */
case class UnionBuf(items: List[Array[Byte]])

/**
 * ST_Union aggregate: the dissolved union of all areal inputs in a group
 * (JTS unary union through [[GeomSetOps.unionAll]]). Shared edges merge,
 * so edge-adjacent tiles come back as one Polygon with holes where the
 * tiles enclose a gap, and disjoint parts as a MultiPolygon. Non-areal
 * inputs are ignored; a group with no areal input gives MULTIPOLYGON EMPTY,
 * and one the union cannot node (an invalid polygon) gives NULL.
 *
 * Holistic like collect_list: inputs buffer until `finish` (union is not
 * decomposable into constant-size partial states without a full overlay
 * per merge). Use with GROUP BY keys that bound group cardinality; for
 * global unions over huge inputs prefer pre-aggregating per grid cell
 * ([[SpatialJoin.st_covering_cells]]) and unioning per cell.
 */
class UnionAggregator extends Aggregator[Array[Byte], UnionBuf, Array[Byte]] {
  def zero: UnionBuf = UnionBuf(Nil)
  def reduce(b: UnionBuf, wkb: Array[Byte]): UnionBuf =
    if (wkb == null) b else UnionBuf(wkb :: b.items)
  def merge(a: UnionBuf, b: UnionBuf): UnionBuf = UnionBuf(a.items ::: b.items)
  def finish(buf: UnionBuf): Array[Byte] = {
    val areal = buf.items.reverseIterator.map(WKB.readOrNull).collect {
      case g @ (_: Polygon | _: MultiPolygon) if !g.isEmpty => g
    }.toSeq
    if (areal.isEmpty) WKB.write(MultiPolygon(Array.empty, 2))
    else GeomSetOps.unionAll(areal).map(WKB.write).orNull
  }

  def bufferEncoder: Encoder[UnionBuf] = Encoders.product[UnionBuf]
  def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}
