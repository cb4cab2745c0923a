package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, StringType}
import graft.index.CellSpace
import graft.operators.HexGrid

/** SparkSessionExtensions registering the engine's scalar functions for
  * SQL use (`spark.sql("SELECT morton_key(x, y) ...")`), its PIP
  * prefilter rule and the planner strategy of its kernel execs:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.functions.GraftExtensions
  * }}}
  *
  * Functions operate in CellSpace.default; geometry arguments are WKT
  * string literals (parsed once at plan time, prepared per executor).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.PipPrefilterRule)
    ext.injectPlannerStrategy(_ => graft.plans.Kernels.Strategy)
    GraftExtensions.functions.foreach { case (name, build) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), build))
    }
  }
}

object GraftExtensions {
  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def litStr(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  /** The engine's SQL functions: name and builder. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "morton_key" -> (args => MortonKey(args(0), args(1), CellSpace.default)),
    "cell_id" -> (args => CellId(args(0), args(1), CellSpace.default, litInt(args(2)))),
    "st_contains_xy" -> (args => SpatialFunctions.stContainsWkt(litStr(args(0)), args(1), args(2))),
    "hex_cell" -> (args => HexGrid.HexCellExpr(args(0), args(1), args(2))),
    "simhash64" -> (args => graft.operators.SimHash64(args(0))),
    "neighbor_cells" -> (args => graft.operators.NeighborCellsExpr(args(0), CellSpace.default)),
    "dot_self" -> (args => graft.operators.AnnOps.DotSelf(args(0))),
    "dot_arrays" -> (args => graft.operators.AnnOps.DotArrays(args(0), args(1))))

  /** Register the same functions on an ALREADY-RUNNING session (temp
    * functions) — for shells/tests where withExtensions wasn't used. */
  def registerTemp(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, build) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, build, "scala_udf")
    }
}
