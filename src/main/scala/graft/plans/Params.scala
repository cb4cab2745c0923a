package graft.plans

import scala.annotation.tailrec
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.types._
import graft.sources.PointScan

/** A constant that generated code reads from a reference object instead of
  * inlining it as a Java literal, so a new value reuses the compiled class.
  * Not foldable (constant folding would turn it back into a literal) and
  * never null. `value` is in Catalyst's internal form of `dataType`, one of
  * [[Params.Lifted]]. EXPLAIN prints it as the literal it stands for. */
final case class Param(value: Any, dataType: DataType) extends LeafExpression {
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = Literal(value, dataType).toString
  override def sql: String = Literal(value, dataType).sql
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    ev.copy(code = code"final $jt ${ev.value} = $ref.${jt}Value();", isNull = FalseLiteral)
  }
}

/** Optimizer rule: the constants a filter over a point-file scan compares
  * against become [[Param]]s, so a read re-run with new predicate values
  * (a `filters.range` or `filters.crop` box with new bounds, a checksum
  * skipping a new level) compiles no new class.
  *
  * It rewrites only `Filter`s whose child is a [[PointScan]] relation,
  * reached through `Project`s only, and in them only the non-null literals
  * of the [[Lifted]] types that are direct operands of a comparison.
  * Literals inside arithmetic or function arguments (`round`'s scale) stay
  * inlined: functions may need their arguments foldable. It runs in
  * `spark.experimental.extraOptimizations` ([[Kernels.register]]), after
  * the scan pushdown, which still sees real literals; V1 relations
  * (parquet) are never touched, so their `PushedFilters` are unchanged. */
object Params extends Rule[LogicalPlan] {

  /** The atomic types Spark inlines into generated code as Java literals. */
  val Lifted: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType, FloatType,
    DoubleType, DateType, TimestampType)

  def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) if overPointScan(child) =>
      val lifted = cond.transform { case c: BinaryComparison => c.mapChildren(lift) }
      if (lifted fastEquals cond) f else f.copy(condition = lifted)
  }

  private def lift(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && Lifted(t) => Param(v, t)
    case other => other
  }

  @tailrec private def overPointScan(p: LogicalPlan): Boolean = p match {
    case Project(_, c) => overPointScan(c)
    case s: DataSourceV2ScanRelation => PointScan.isPoints(s.relation.table)
    case _ => false
  }
}
