package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Filter}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{STContainsXY, SpatialFunctions}
import graft.index.PipIndex

/** Catalyst optimizer rule: any `st_contains_xy(geom, x, y)` predicate —
  * however the user wrote it (SQL text, Column API, a view) — gets the
  * engine's PIP plan, the same one `JoinOps.cropPolygon` builds
  * ([[SpatialFunctions.pipPredicate]]):
  *
  * {{{
  *   [bbox(x, y) AND] st_contains_xy(x, y)   -- interval cover inside
  * }}}
  *
  * The cover test is always inside the expression. The bbox conjunction
  * is made of plain comparisons and is added only when x and y are scan
  * columns, where it pushes to the parquet scan. This generalizes the
  * reference's hand-placed bbox prefilter (CropFilter.cpp:139-141,
  * AttributeFilter.cpp:307-315) into an optimization the planner applies
  * for free.
  *
  * Activate per session:
  * `spark.experimental.extraOptimizations ++= Seq(PipPrefilterRule)`
  * or via GraftExtensions (spark.sql.extensions).
  */
object PipPrefilterRule extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Filter(cond, child) if cond.exists(isRewritable) =>
      Filter(cond.transformUp {
        case STContainsXY(x, y, pip, false) => expand(child, x, y, pip)
      }, child)
  }

  private def isRewritable(e: Expression): Boolean = e match {
    case st: STContainsXY => !st.bboxed
    case _ => false
  }

  private def expand(child: LogicalPlan, x: Expression, y: Expression, pip: PipIndex): Expression =
    SpatialFunctions.pipPredicate(x, y, pip,
      SpatialFunctions.readFromRelation(child, x) && SpatialFunctions.readFromRelation(child, y))
}
