package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Executed physical plans of the actions a block runs, for reading the
  * SQL metrics of single operators from outside the engine. */
object Plans {
  def capture(spark: SparkSession)(body: => Unit): Seq[SparkPlan] = {
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val l = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try body finally {
      org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
      spark.listenerManager.unregister(l)
    }
    plans.synchronized(plans.toSeq)
  }

  /** Every operator of a plan, through adaptive stages and reused exchanges. */
  def operators(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => operators(a.executedPlan)
    case q: QueryStageExec => operators(q.plan)
    case r: ReusedExchangeExec => operators(r.child)
    case other => other +: (other.children ++ other.subqueries).flatMap(operators)
  }

  /** Output rows summed over the operators named `node`. */
  def rowsOut(p: SparkPlan, node: String): Long =
    operators(p).filter(_.nodeName == node)
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
