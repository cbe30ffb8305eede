package graft.spatial

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/**
 * Plan-time constant fold of ST_GeometryType — the Spark analogue of the
 * reference answering the call from `geo` metadata instead of per-row WKB
 * header decodes (reference: src/udfs/geometry_type.rs:94-110), including
 * its analyzer rule's re-derivation of {encoding, geometry_type} when a
 * plan node lost the field-level metadata (reference: src/rules.rs:20-170,
 * which walks each ST_* call's children down to the first geometry column
 * of a scan that carried `geo` metadata).
 *
 * Sources of plan-time knowledge, in order:
 *  1. attribute metadata — [[GeoIO.readGeoParquet]] records
 *     {encoding, sourceEncoding, geometryType, crs} on every geometry
 *     column it loads, from the one footer it reads at open;
 *  2. lineage — when an operation strips field metadata (CASE/COALESCE
 *     wrappers, re-aliasing, a view over a transformed frame), the rule
 *     walks alias chains and class-preserving expressions in the plan
 *     below to re-derive the class without re-reading any footer;
 *  3. constructors with statically known class (ST_Envelope → Polygon,
 *     matching reference rules.rs:162; ST_Point/ST_MakeEnvelope likewise).
 *
 * Only concrete single-class columns fold — "Unknown"/"Mixed" (the
 * reference's 0-or-many geometry_types cases, src/rules.rs:143-147) stay
 * on the per-row header decode. Null semantics are preserved by guarding
 * the literal with the argument's own null check; like the reference's
 * metadata fast path, rows whose bytes are corrupt (not null) trust the
 * metadata instead of re-validating per row.
 *
 * Registered as a resolution rule by [[graft.GraftExtensions]] (so later
 * optimizer batches can constant-fold through it) and usable as a plain
 * `experimental.extraOptimizations` rule — it only rewrites fully
 * resolved plans and is idempotent (the fold leaves no StGeometryType
 * behind).
 */
case class GeometryTypeFoldRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def concrete(t: String): Boolean =
    t.nonEmpty && t != "Unknown" && t != "Mixed" && t != "Geometry" && t != "GeometryCollection"

  /** GeoParquet class ("Point Z") → reference tag ("ST_PointZ"),
    * reference: src/udfs/geometry_type.rs:95. */
  private def tagOf(t: String): String = "ST_" + t.replace(" ", "")

  /** Geometry class of `e`, from attribute metadata, the lineage map, or a
    * statically classed constructor. */
  private def classOf(e: Expression, known: Map[ExprId, String]): Option[String] = e match {
    case a: AttributeReference =>
      known.get(a.exprId).orElse {
        if (a.metadata.contains("geometryType")) {
          val t = a.metadata.getString("geometryType")
          if (concrete(t)) Some(t) else None
        } else None
      }
    case al: Alias           => classOf(al.child, known)
    case If(_, t, f)         => agree(Seq(t, f), known)
    case CaseWhen(bs, elseV) => agree(bs.map(_._2) ++ elseV.toSeq, known)
    case Coalesce(cs)        => agree(cs, known)
    case StGeomFromWkb(c)    => classOf(c, known) // byte-preserving
    case StAsBinary(c)       => classOf(c, known) // byte-preserving
    case _: StEnvelope       => Some("Polygon")
    case _: StMakeEnvelope   => Some("Polygon")
    case _: StPoint          => Some("Point")
    case _: StPointZ         => Some("Point Z")
    case _                   => None
  }

  /** Common class of all branches, or None. */
  private def agree(es: Seq[Expression], known: Map[ExprId, String]): Option[String] = {
    val cs = es.map(classOf(_, known))
    if (cs.nonEmpty && cs.forall(_.isDefined) && cs.flatten.distinct.size == 1) cs.head
    else None
  }

  /** Classes of project aliases, bottom-up — the lineage re-derivation. */
  private def knownClasses(plan: LogicalPlan): Map[ExprId, String] = {
    var known = Map.empty[ExprId, String]
    plan.foreachUp {
      case p: Project =>
        p.projectList.foreach {
          case al: Alias => classOf(al.child, known).foreach(t => known += (al.exprId -> t))
          case _         => ()
        }
      case _ => ()
    }
    known
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!plan.resolved) return plan
    lazy val known = knownClasses(plan)
    plan.transformAllExpressions {
      case gt @ StGeometryType(e) =>
        classOf(e, known) match {
          case Some(t) =>
            val tag = Literal(UTF8String.fromString(tagOf(t)), StringType)
            if (e.nullable) If(IsNull(e), Literal(null, StringType), tag) else tag
          case None => gt
        }
    }
  }
}
