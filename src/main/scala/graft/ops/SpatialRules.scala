package graft.ops

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BinaryType, BooleanType, DoubleType}
import graft.geom.WkbCodec

/** Optimizer rule: point-in-CONSTANT-polygon filters gain a bounding-box
  * pre-filter on the raw lon/lat expressions.
  *
  * `st_contains(<literal wkb>, st_point(lon, lat))` is opaque to the scan:
  * a JTS kernel evaluated per row AFTER reading. The rewrite
  * {{{
  *   lon >= minX AND lon <= maxX AND lat >= minY AND lat <= maxY
  *     AND SqlFunctions.containsPoint(<wkb>, lon, lat)
  * }}}
  * exposes four plain comparisons that Catalyst pushes into the parquet
  * scan (`PushedFilters` + min/max row-group pruning) — at 100 TB a
  * region-restricted query then skips whole files instead of decoding
  * every row to throw it away. The exact JTS check remains (bbox is a
  * superset), as [[SqlFunctions.containsPoint]], which tests the point
  * without encoding it to WKB and decoding it again.
  *
  * The rule runs after the optimizer's `ReplaceExpressions`, so it matches
  * the `StaticInvoke`s that the two [[Kernel]] calls became. It does not
  * match the kernel it emits, so it is idempotent under the optimizer's
  * fixed-point batches.
  *
  * Register per session with
  * `spark.experimental.extraOptimizations ++= Seq(SpatialFilterPushdown)`
  * or fleet-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
object SpatialFilterPushdown extends Rule[LogicalPlan] {

  /** A call of the [[SqlFunctions]] kernel `method` with its arguments. */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression])] = e match {
      case s: StaticInvoke if s.staticObject == SqlFunctions.getClass => Some((s.functionName, s.arguments))
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform {
        // guard on DoubleType inputs: the optimizer does not re-run the
        // analyzer, so injected comparisons must be type-correct as built
        case e @ Call("contains", Seq(lit @ Literal(wkb: Array[Byte], BinaryType), Call("point", Seq(lon, lat))))
            if lon.dataType == DoubleType && lat.dataType == DoubleType =>
          scala.util.Try(WkbCodec.read(wkb).getEnvelopeInternal).toOption match {
            case Some(env) =>
              val bbox = And(
                And(GreaterThanOrEqual(lon, Literal(env.getMinX)), LessThanOrEqual(lon, Literal(env.getMaxX))),
                And(GreaterThanOrEqual(lat, Literal(env.getMinY)), LessThanOrEqual(lat, Literal(env.getMaxY))))
              And(bbox, Kernel.call("st_contains", SqlFunctions, "containsPoint", BooleanType)(
                lit -> BinaryType, lon -> DoubleType, lat -> DoubleType).replacement)
            case None => e // undecodable literal: left for the row-level kernel to report
          }
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, f.child)
  }
}
