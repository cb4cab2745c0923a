package graft.plans

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  BoundReference, InterpretedUnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution,
  UnspecifiedDistribution}
import org.apache.spark.sql.connector.metric.CustomMetric
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode,
  UnsafeExternalRowSorter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.CollectionAccumulator
import org.apache.spark.util.collection.unsafe.sort.PrefixComparators

/** The engine's task-side kernels as planned Catalyst operators: the
  * halo-block reduce (`NbrBlocks`), the chipper's in-task finish and the
  * fold tap ([[RowFold.tap]]). Each logical node is planned by [[Strategy]]
  * into an exec that reads and writes UnsafeRows (payload structs pass
  * unopened, no external-Row encoder), declares SQL metrics and is named by
  * EXPLAIN. The engine registers the strategy on a session when it first
  * builds a node or a point scan ([[register]]); `GraftExtensions` also
  * injects it. */
object Kernels {

  /** A task's reduce of one group of rows sharing a long key (a block, a
    * chipper node). The rows are the task's own UnsafeRow copies, which
    * the kernel may return updated in place. Each returned row holds the
    * output columns in order: an UnsafeRow passes on as it is, any other
    * row is written by an interpreted projection. `rounds` is the
    * driver's round count for the kernel (kNN round, PMF windows, chipper
    * sketch rounds). */
  trait GroupKernel extends Serializable {
    def apply(key: Long, rows: Array[InternalRow], certified: SQLMetric): Iterator[InternalRow]
    def rounds: Long
  }

  /** A fold riding a frame's rows: each task folds the rows it passes
    * into `zero()` and adds the partial to `parts` when its partition ends. */
  final class Fold[P <: RowFold.Partial[P]](zero: () => P, parts: CollectionAccumulator[P])
      extends Serializable {
    def over(it: Iterator[InternalRow], rows: SQLMetric, partials: SQLMetric): Iterator[InternalRow] = {
      val p = zero()
      var open = true
      new Iterator[InternalRow] {
        def hasNext: Boolean = {
          val more = it.hasNext
          if (!more && open) { open = false; parts.add(p); partials += 1 }
          more
        }
        def next(): InternalRow = { val r = it.next(); p.add(r); rows += 1; r }
      }
    }
  }

  /** Groups of the child's rows by the long column `key`, each reduced by
    * `kernel`: clustered on `key` (Spark plans the exchange) for the
    * halo-block reduce, as partitioned for the chip finish. `input` is the
    * child's output, every column of which the kernel reads by ordinal, so
    * no column is pruned under the node. */
  final case class GroupReduce(kernel: GroupKernel, key: Attribute, clustered: Boolean,
                               input: Seq[Attribute], output: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    override def producedAttributes = outputSet
    override protected def stringArgs: Iterator[Any] = Iterator(kernel)
    override protected def withNewChildInternal(c: LogicalPlan): GroupReduce = copy(child = c)
  }

  /** The child's rows unchanged, folded on their way. It references every
    * input column and no pushdown rule knows it, so the fold sees each row
    * as the child produced it. */
  final case class FoldTap(fold: Fold[_], input: Seq[Attribute], child: LogicalPlan)
      extends UnaryNode {
    override def output: Seq[Attribute] = child.output
    override protected def stringArgs: Iterator[Any] = Iterator.empty
    override protected def withNewChildInternal(c: LogicalPlan): FoldTap = copy(child = c)
  }

  /** A per-task metric that the SQL UI aggregates by its largest value. */
  final class MaxOverTasks extends CustomMetric {
    def name: String = "max"
    def description: String = "max group rows"
    def aggregateTaskMetrics(values: Array[Long]): String = values.maxOption.getOrElse(0L).toString
  }

  /** The reduce of [[GroupReduce]]: the task's rows sorted on the key by
    * Spark's external sorter (spilling under memory pressure), then one
    * group at a time in ascending key order. Clustered, it requires the
    * halo-block distribution and is named HaloBlockReduce; otherwise it
    * keeps its child's partitioning and is named ChipFinish. */
  final case class GroupReduceExec(kernel: GroupKernel, key: Attribute, clustered: Boolean,
                                   output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {
    override def nodeName: String = if (clustered) "HaloBlockReduce" else "ChipFinish"
    override def producedAttributes: AttributeSet = outputSet
    override def requiredChildDistribution: Seq[Distribution] =
      (if (clustered) ClusteredDistribution(Seq(key)) else UnspecifiedDistribution) :: Nil
    override lazy val metrics: Map[String, SQLMetric] = Map(
      "numInputRows" -> SQLMetrics.createMetric(sparkContext, "rows in"),
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
      "groups" -> SQLMetrics.createMetric(sparkContext, if (clustered) "blocks" else "nodes"),
      "maxGroupRows" -> SQLMetrics.createV2CustomMetric(sparkContext, new MaxOverTasks),
      "rounds" -> SQLMetrics.createMetric(sparkContext, "rounds"),
      "certified" -> SQLMetrics.createMetric(sparkContext, "certified"),
      "spillSize" -> SQLMetrics.createSizeMetric(sparkContext, "spill size"),
      "kernelTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "kernel time"))
    override protected def stringArgs: Iterator[Any] = Iterator(kernel)

    protected override def doExecute(): RDD[InternalRow] = {
      val Seq(in, out, groups, maxRows, rounds, certified, spill, time) = Seq("numInputRows",
        "numOutputRows", "groups", "maxGroupRows", "rounds", "certified", "spillSize",
        "kernelTime").map(longMetric)
      rounds.set(kernel.rounds)
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(rounds))
      val (k, schema, ki) = (kernel, child.schema, child.output.indexWhere(_.exprId == key.exprId))
      val exprs = output.zipWithIndex.map { case (a, i) => BoundReference(i, a.dataType, a.nullable) }
      child.execute().mapPartitions { it =>
        val proj = InterpretedUnsafeProjection.createProjection(exprs)
        val sorted = sortedOn(it, schema, ki, spill).buffered
        Iterator.continually(sorted).takeWhile(_.hasNext).flatMap { _ =>
          val g = sorted.head.getLong(ki)
          val group = ArrayBuffer.empty[InternalRow]
          while (sorted.hasNext && sorted.head.getLong(ki) == g) group += sorted.next().copy()
          val rows = group.toArray
          in += rows.length; groups += 1
          if (rows.length > maxRows.value) maxRows.set(rows.length.toLong)
          val t0 = System.nanoTime()
          val res = k(g, rows, certified).toArray
          time += System.nanoTime() - t0
          out += res.length
          res.iterator.map {
            case u: UnsafeRow => u
            case r => proj(r)
          }
        }
      }
    }
    override protected def withNewChildInternal(c: SparkPlan): GroupReduceExec = copy(child = c)
  }

  /** `rows` sorted on their non-null long field `ki` by Spark's external
    * sorter: a radix sort on the key as the prefix, no generated code,
    * spilling to disk when the task's execution memory runs out. Rows of
    * one key keep their arrival order unless the sorter spilled. The
    * rows returned are reused: copy one to keep it. */
  private def sortedOn(rows: Iterator[InternalRow], schema: StructType, ki: Int,
                       spill: SQLMetric): Iterator[InternalRow] = {
    val prefix = new UnsafeExternalRowSorter.PrefixComputer {
      private val p = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      def computePrefix(r: InternalRow): UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        p.value = r.getLong(ki); p
      }
    }
    val task = TaskContext.get()
    val sorter = UnsafeExternalRowSorter.create(schema, Ordering.by[InternalRow, Long](_.getLong(ki)),
      PrefixComparators.LONG, prefix, ColumnBridge.pageSizeBytes, true)
    lazy val toUnsafe = InterpretedUnsafeProjection.createProjection(
      schema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val spilled = task.taskMetrics().memoryBytesSpilled
    val out = sorter.sort(rows.map {
      case u: UnsafeRow => u
      case r => toUnsafe(r)
    })
    spill += task.taskMetrics().memoryBytesSpilled - spilled
    out
  }

  final case class FoldTapExec(fold: Fold[_], child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = child.output
    override def outputPartitioning = child.outputPartitioning
    override def outputOrdering = child.outputOrdering
    override lazy val metrics: Map[String, SQLMetric] = Map(
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "rows folded"),
      "partials" -> SQLMetrics.createMetric(sparkContext, "partials"))
    override protected def stringArgs: Iterator[Any] = Iterator.empty
    protected override def doExecute(): RDD[InternalRow] = {
      val f = fold
      val (rows, partials) = (longMetric("numOutputRows"), longMetric("partials"))
      child.execute().mapPartitions(it => f.over(it, rows, partials), preservesPartitioning = true)
    }
    override protected def withNewChildInternal(c: SparkPlan): FoldTapExec = copy(child = c)
  }

  /** Plans the kernel nodes. */
  object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case GroupReduce(k, key, clustered, _, out, child) =>
        GroupReduceExec(k, key, clustered, out, planLater(child)) :: Nil
      case FoldTap(f, _, child) => FoldTapExec(f, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Adds [[Strategy]] to `spark`'s planner and the [[Params]] rule to its
    * optimizer, unless they are there. */
  def register(spark: SparkSession): Unit = synchronized {
    val e = spark.experimental
    if (!e.extraStrategies.contains(Strategy)) e.extraStrategies = Strategy +: e.extraStrategies
    if (!e.extraOptimizations.contains(Params)) e.extraOptimizations = e.extraOptimizations :+ Params
  }

  private def frame(df: DataFrame)(node: LogicalPlan => LogicalPlan): DataFrame = {
    register(df.sparkSession)
    ColumnBridge.ofPlan(df.sparkSession, node(df.queryExecution.analyzed))
  }

  /** `rows` grouped by their long column `key`, each group reduced by
    * `kernel` into rows of `out`: clustered on `key` by one exchange (the
    * halo-block reduce), or in the tasks `rows` come in (the chip finish). */
  def groupReduce(rows: DataFrame, key: String, clustered: Boolean, out: StructType,
                  kernel: GroupKernel): DataFrame = frame(rows) { c =>
    GroupReduce(kernel, c.output.find(_.name == key).get, clustered, c.output,
      out.fields.toSeq.map(f => AttributeReference(f.name, f.dataType, f.nullable)()), c)
  }

  /** `df`'s rows, folded by `fold` in the tasks of the job that reads them. */
  def foldTap(df: DataFrame, fold: Fold[_]): DataFrame = frame(df)(c => FoldTap(fold, c.output, c))
}
