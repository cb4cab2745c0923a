package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
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

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft", name)

  private[functions] def litIntPub(e: Expression): Int = litInt(e)
  private[functions] def litStrPub(e: Expression): String = litStr(e)

  private def litInt(e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(s"expected int literal, got $other")
  }
  private def litStr(e: Expression): String = e match {
    case Literal(s, StringType) => s.toString
    case other => throw new IllegalArgumentException(s"expected string literal, got $other")
  }

  def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => graft.plans.PipPrefilterRule)
    ext.injectPlannerStrategy(_ => graft.plans.Kernels.Strategy)
    ext.injectFunction((FunctionIdentifier("morton_key"), info("morton_key"),
      (args: Seq[Expression]) => MortonKey(args(0), args(1), CellSpace.default)))
    ext.injectFunction((FunctionIdentifier("cell_id"), info("cell_id"),
      (args: Seq[Expression]) =>
        CellId(args(0), args(1), CellSpace.default, litInt(args(2)))))
    ext.injectFunction((FunctionIdentifier("st_contains_xy"), info("st_contains_xy"),
      (args: Seq[Expression]) =>
        SpatialFunctions.stContainsWkt(litStr(args(0)), args(1), args(2))))
    ext.injectFunction((FunctionIdentifier("hex_cell"), info("hex_cell"),
      (args: Seq[Expression]) => HexGrid.HexCellExpr(args(0), args(1), args(2))))
    ext.injectFunction((FunctionIdentifier("simhash64"), info("simhash64"),
      (args: Seq[Expression]) => graft.operators.SimHash64(args(0))))
    ext.injectFunction((FunctionIdentifier("neighbor_cells"), info("neighbor_cells"),
      (args: Seq[Expression]) =>
        graft.operators.NeighborCellsExpr(args(0), CellSpace.default)))
    ext.injectFunction((FunctionIdentifier("dot_self"), info("dot_self"),
      (args: Seq[Expression]) => graft.operators.AnnOps.DotSelf(args(0))))
    ext.injectFunction((FunctionIdentifier("dot_arrays"), info("dot_arrays"),
      (args: Seq[Expression]) => graft.operators.AnnOps.DotArrays(args(0), args(1))))
  }
}

object GraftExtensions {
  /** Register the same functions on an ALREADY-RUNNING session (temp
    * functions) — for shells/tests where withExtensions wasn't used. */
  def registerTemp(spark: org.apache.spark.sql.SparkSession): Unit = {
    val g = new GraftExtensions
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("morton_key",
      args => MortonKey(args(0), args(1), CellSpace.default), "scala_udf")
    reg.createOrReplaceTempFunction("cell_id",
      args => CellId(args(0), args(1), CellSpace.default, g.litIntPub(args(2))), "scala_udf")
    reg.createOrReplaceTempFunction("st_contains_xy",
      args => SpatialFunctions.stContainsWkt(g.litStrPub(args(0)), args(1), args(2)),
      "scala_udf")
    reg.createOrReplaceTempFunction("hex_cell",
      args => HexGrid.HexCellExpr(args(0), args(1), args(2)), "scala_udf")
    reg.createOrReplaceTempFunction("simhash64",
      args => graft.operators.SimHash64(args(0)), "scala_udf")
    reg.createOrReplaceTempFunction("neighbor_cells",
      args => graft.operators.NeighborCellsExpr(args(0), CellSpace.default), "scala_udf")
    reg.createOrReplaceTempFunction("dot_self",
      args => graft.operators.AnnOps.DotSelf(args(0)), "scala_udf")
    reg.createOrReplaceTempFunction("dot_arrays",
      args => graft.operators.AnnOps.DotArrays(args(0), args(1)), "scala_udf")
  }
}
