package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BlockGrid, JoinOps, NbrBlocks, TileOps}
import graft.plans.{Kernels, RowFold}
import graft.sources.Faux

/** The halo-block reduce, the chip finish and the fold tap are planned
  * operators: each is in the executed plan of the action that ran it,
  * named by EXPLAIN, with its SQL metrics filled by that one action. The
  * test session is built without `GraftExtensions`, so the engine
  * registers its planner strategy itself. */
class KernelExecsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._
  import Kernels._
  import KernelExecsSpec.Sum

  private def cloud(n: Int): DataFrame =
    Faux.uniform(spark, Faux.Box3(0, 0, 0, 100, 100, 5), n, seed = 3)

  private def metric(p: SparkPlan, name: String): Long = p.metrics(name).value

  /** Each accumulator's per-task updates in the tasks `body` runs: what
    * the SQL UI aggregates (for "max group rows", by [[MaxOverTasks]]). */
  private def taskUpdates(body: => Unit): Map[Long, Seq[Long]] = {
    val ups = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val l = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = e.taskInfo.accumulables.foreach { a =>
        a.update.foreach { case v: Long => ups.add(a.id -> v); case _ => () }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(1500) } // listener events arrive asynchronously
    finally spark.sparkContext.removeSparkListener(l)
    ups.toArray(Array.empty[(Long, Long)]).toSeq.groupMap(_._1)(_._2)
  }

  /** The largest group any task of `body` reduced in `p`, as the UI shows it. */
  private def maxGroupRows(p: SparkPlan, ups: Map[Long, Seq[Long]]): Long =
    new MaxOverTasks().aggregateTaskMetrics(ups(p.metrics("maxGroupRows").id).toArray).toLong

  /** The executed plans of the actions `body` runs. */
  private def executed(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { body; Thread.sleep(1500) } // listener events arrive asynchronously
    finally spark.listenerManager.unregister(l)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  test("the session has no GraftExtensions; the engine registers its strategy on first use") {
    assert(spark.conf.getOption("spark.sql.extensions").isEmpty)
    NbrBlocks.radiusKeep(cloud(10), 3.0, 1, BlockGrid(0, 0, 3.0))
    assert(spark.experimental.extraStrategies.contains(Kernels.Strategy))
  }

  test("halo-block reduce: planned on __blk, its metrics filled by one action") {
    val kept = NbrBlocks.radiusKeep(cloud(2000), 3.0, 2, BlockGrid(0, 0, 3.0))
    var n = 0
    val ups = taskUpdates { n = kept.collect().length }
    val plan = kept.queryExecution.executedPlan
    val Seq(reduce) = collect(plan) { case e: GroupReduceExec if e.clustered => e }
    assert(kept.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      .contains("HaloBlockReduce radius r=3.0"))
    // Spark planned the exchange the reduce requires
    assert(collect(plan) { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .nonEmpty)
    assert(metric(reduce, "numOutputRows") === n)
    assert(metric(reduce, "numInputRows") > 2000, "home rows plus halo copies")
    assert(metric(reduce, "groups") > 1)
    assert(maxGroupRows(reduce, ups) > 0 && maxGroupRows(reduce, ups) < metric(reduce, "numInputRows"))
    assert(metric(reduce, "spillSize") === 0)
    assert(metric(reduce, "rounds") === 1)
    assert(metric(reduce, "kernelTime") > 0)
  }

  test("kNN rounds: each round's reduce certifies its targets, the round's tap folds them") {
    val pts = cloud(600)
    val plans = executed(JoinOps.statisticalOutlierRemoval(4, 1.0, level = 4)(pts))
    val reduces = plans.flatMap(p => collect(p) { case e: GroupReduceExec if e.clustered => e })
    assert(reduces.nonEmpty)
    // every point is certified exactly once, in the round that answers it
    assert(reduces.map(metric(_, "certified")).sum === 600)
    assert(reduces.map(metric(_, "rounds")) === (1 to reduces.size).map(_.toLong))
    val taps = plans.flatMap(p => collect(p) { case e: FoldTapExec => e })
    // one tap per round (uncertified targets) and one for SOR's moments
    assert(taps.size === reduces.size + 1)
    assert(taps.forall(t => metric(t, "partials") > 0))
  }

  test("chip finish: in the executed plan, one group per node, rounds reported") {
    val chipped = TileOps.chipper(100, taskRows = 600)(cloud(2000))
    val ups = taskUpdates(assert(chipped.collect().length === 2000))
    val Seq(finish) = collect(chipped.queryExecution.executedPlan) { case e: GroupReduceExec => e }
    assert(!finish.clustered)
    assert(chipped.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
      .contains("ChipFinish chipper 20 chips"))
    assert(metric(finish, "numInputRows") === 2000 && metric(finish, "numOutputRows") === 2000)
    assert(metric(finish, "groups") > 1 && maxGroupRows(finish, ups) <= 600)
    assert(metric(finish, "rounds") > 0)
    assert(metric(finish, "kernelTime") > 0)
  }

  test("fold tap: folds every row once, inside the consumer's plan; no pruning or pushdown through it") {
    val df = cloud(1000).select(col("x"), col("y"))
    val (tapped, total) = RowFold.tap(df, () => new Sum(1))
    // the consumer keeps x only and filters: the tap still sees y and every row
    val out = tapped.filter(col("x") < 50).select(col("x"))
    val kept = out.collect().length
    val want = df.agg(count(lit(1)), sum(col("y"))).head()
    assert(total().n === 1000 && kept < 1000)
    assert(math.abs(total().s - want.getDouble(1)) < 1e-6)
    val Seq(tap) = collect(out.queryExecution.executedPlan) { case e: FoldTapExec => e }
    assert(metric(tap, "numOutputRows") === 1000)
    assert(metric(tap, "partials") === df.rdd.getNumPartitions)
    assert(out.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode).contains("FoldTap"))
  }
}

object KernelExecsSpec {
  /** Sum of field `i` and the row count. */
  final class Sum(i: Int) extends RowFold.Partial[Sum] {
    var n = 0L; var s = 0.0
    def add(r: InternalRow): Unit = { n += 1; s += r.getDouble(i) }
    def merge(o: Sum): Unit = { n += o.n; s += o.s }
  }
}
