package graft.ops

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.BinaryType
import graft.geom.WkbCodec

/** Optimizer rule: point-in-CONSTANT-polygon filters gain a bounding-box
  * pre-filter on the raw lon/lat expressions.
  *
  * `st_contains(<literal wkb>, st_point(lon, lat))` is opaque to the scan:
  * an interpreted JTS expression evaluated per row AFTER reading. The
  * rewrite
  * {{{
  *   lon >= minX AND lon <= maxX AND lat >= minY AND lat <= maxY
  *     AND st_contains_exact(<wkb>, st_point(lon, lat))
  * }}}
  * exposes four plain comparisons that Catalyst pushes into the parquet
  * scan (`PushedFilters` + min/max row-group pruning) — at 100 TB a
  * region-restricted query then skips whole files instead of decoding
  * every row to throw it away. The exact JTS check remains (bbox is a
  * superset); it is rewritten to [[SqlFunctions.StContainsExact]], a class
  * this rule does not match, so the rule is idempotent under the
  * optimizer's fixed-point batches.
  *
  * Register per session with
  * `spark.experimental.extraOptimizations ++= Seq(SpatialFilterPushdown)`
  * or fleet-wide via `spark.sql.extensions=graft.GraftExtensions`.
  */
object SpatialFilterPushdown extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, _) =>
      val rewritten = cond.transform {
        // guard on DoubleType inputs: the optimizer does not re-run the
        // analyzer, so injected comparisons must be type-correct as built
        case SqlFunctions.StContains(lit @ Literal(wkb: Array[Byte], BinaryType), pt @ SqlFunctions.StPoint(lonE, latE))
            if lonE.dataType == org.apache.spark.sql.types.DoubleType &&
               latE.dataType == org.apache.spark.sql.types.DoubleType =>
          scala.util.Try(WkbCodec.read(wkb).getEnvelopeInternal).toOption match {
            case Some(env) =>
              val bbox = And(
                And(GreaterThanOrEqual(lonE, Literal(env.getMinX)), LessThanOrEqual(lonE, Literal(env.getMaxX))),
                And(GreaterThanOrEqual(latE, Literal(env.getMinY)), LessThanOrEqual(latE, Literal(env.getMaxY))))
              And(bbox, SqlFunctions.StContainsExact(lit, pt))
            case None => SqlFunctions.StContainsExact(lit, pt) // undecodable literal: no bbox
          }
      }
      if (rewritten fastEquals cond) f else Filter(rewritten, f.child)
  }
}
