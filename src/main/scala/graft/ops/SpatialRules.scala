package graft.ops

import org.apache.spark.sql.GraftShim
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType}
import org.locationtech.jts.geom.{MultiPolygon, Polygon}
import graft.geom.WkbCodec
import graft.index.CoverIndex

/** Optimizer rule: point-in-CONSTANT-polygon filters gain a bounding-box
  * pre-filter on the raw lon/lat expressions.
  *
  * `st_contains(<literal wkb>, st_point(lon, lat))` is opaque to the scan:
  * a kernel evaluated per row AFTER reading. The rewrite
  * {{{
  *   lon >= minX AND lon <= maxX AND lat >= minY AND lat <= maxY
  *     AND SqlFunctions.literalContains(<polygons>, lon, lat)
  * }}}
  * exposes four plain comparisons that Catalyst pushes into the parquet
  * scan (`PushedFilters` + min/max row-group pruning) — at 100 TB a
  * region-restricted query then skips whole files instead of decoding
  * every row to throw it away. The exact check remains (bbox is a
  * superset), as [[SqlFunctions.literalContains]]: a Polygon or
  * MultiPolygon literal is decoded once, here, into the kernel's constant
  * [[CoverIndex.Polygons]], and each row runs the PIP joins' ray-crossing
  * test on its lon/lat, with no WKB decoded or encoded per row. That is
  * the answer [[SqlFunctions.contains]] gives a polygon and a point, so
  * the rewrite keeps every row the plain filter keeps. Any other literal
  * keeps the generic `contains` kernel under the bbox.
  *
  * The rule runs after the optimizer's `ReplaceExpressions`, so it matches
  * the `StaticInvoke`s that the two [[Kernel]] calls became. It does not
  * match the polygon kernel it emits, and leaves a generic call that is
  * already a conjunct beside its own four bounds, under an `Or` or a
  * `Not` too, so it is idempotent under the optimizer's fixed-point
  * batches.
  *
  * Register per session with
  * `spark.experimental.extraOptimizations ++= Seq(SpatialFilterPushdown)`
  * or fleet-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
object SpatialFilterPushdown extends Rule[LogicalPlan] with PredicateHelper {

  /** A call of the [[SqlFunctions]] kernel `method` with its arguments. */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case s: StaticInvoke if s.staticObject == SqlFunctions.getClass => Some((s.functionName, s.arguments))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      // a generic call that one of these holds beside its own bbox is left as it is
      val conjunctions = cond.collect { case a: And => splitConjunctivePredicates(a) }
      // bottom-up, so a rewrite that wraps the call is not visited again
      val rewritten = cond.transformUp {
        // guard on DoubleType inputs: the optimizer does not re-run the
        // analyzer, so injected comparisons must be type-correct as built
        case e @ Call("contains", Seq(Literal(wkb: Array[Byte], BinaryType), Call("point", Seq(lon, lat))))
            if lon.dataType == DoubleType && lat.dataType == DoubleType =>
          scala.util.Try(WkbCodec.read(wkb)).toOption match {
            case Some(g) =>
              val env = g.getEnvelopeInternal
              val bounds = Seq(
                GreaterThanOrEqual(lon, Literal(env.getMinX)), LessThanOrEqual(lon, Literal(env.getMaxX)),
                GreaterThanOrEqual(lat, Literal(env.getMinY)), LessThanOrEqual(lat, Literal(env.getMaxY)))
              g match {
                case _: Polygon | _: MultiPolygon =>
                  val (polygons, t) = Kernel.constant(CoverIndex.Polygons(Array(0L), Array(wkb)))
                  And(bounds.reduce(And), Kernel.call("st_contains", SqlFunctions, "literalContains", BooleanType)(
                    GraftShim.expression(polygons) -> t, lon -> DoubleType, lat -> DoubleType).replacement)
                case _ if conjunctions.exists(cs => (e +: bounds).forall(x => cs.exists(_.semanticEquals(x)))) => e
                case _ => And(bounds.reduce(And), e)
              }
            case None => e // undecodable literal: left for the row-level kernel to report
          }
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, f.child)
  }
}
