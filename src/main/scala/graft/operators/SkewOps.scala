package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.SpatialFunctions
import graft.index.CellSpace

/** Skew handling for dense tiles — the two mechanisms the engine uses
  * at scale (dense urban cells in an otherwise sparse cloud are the
  * norm, not the exception):
  *
  *  1. salted repartition: spread one hot key over S sub-partitions
  *     with a salt that is a PURE function of (key, doc_id) so reruns
  *     and resumed runs place rows identically (deterministic-salt
  *     requirement from SURVEY.md §7 hard parts).
  *  2. adaptive cell-resolution splitting: cells whose population
  *     exceeds a budget recursively split to finer levels, giving a
  *     mixed-resolution tiling whose per-cell counts are bounded —
  *     the declarative analog of the chipper's capacity contract, and
  *     of AQE's skew-split applied to spatial keys.
  */
object SkewOps {

  /** Deterministic salt in [0, salts): pure function of the row's
    * (key, doc_id, span_idx) — identical across reruns. */
  def salt(salts: Int): Column =
    pmod(xxhash64(col("doc_id"), col("span_idx")), lit(salts.toLong))

  /** Salted two-stage aggregation: partial per (key, salt), final per
    * key. Same result as a direct groupBy, but a hot key's partial
    * state is built on `salts` cores instead of one. Aggregations must
    * be algebraic pairs (partialExprs on rows, finalExprs on partials). */
  def saltedAgg(keys: Seq[Column], salts: Int,
                partialExprs: Seq[Column], finalExprs: Seq[Column])
               (df: DataFrame): DataFrame = {
    // the final stage groups by the partial output's key COLUMNS (the
    // original key expressions referenced pre-aggregation columns)
    val keyNames = df.select(keys: _*).schema.fieldNames.toSeq
    df.withColumn("__salt", salt(salts))
      .groupBy(keys :+ col("__salt"): _*)
      .agg(partialExprs.head, partialExprs.tail: _*)
      .groupBy(keyNames.map(col): _*)
      .agg(finalExprs.head, finalExprs.tail: _*)
  }

  /** Salted repartition: co-locate by (key, salt) instead of key so one
    * hot tile spreads over `salts` tasks; downstream per-tile work that
    * is associative (local indexes, per-chunk encoders, writers) runs
    * on the sub-partitions. */
  def saltedRepartition(keys: Seq[Column], salts: Int)(df: DataFrame): DataFrame =
    df.withColumn("__salt", salt(salts))
      .repartition((keys :+ col("__salt")): _*)

  /** Adaptive cell-resolution splitting: assign each point the id of
    * the FINEST ancestor cell, starting at `baseLevel`, such that the
    * chosen cell's population <= budget (or `maxLevel` is reached).
    * Dense cells descend the ladder; sparse regions stay coarse.
    *
    * Shape: one aggregate per refinement round over ONLY the still-dense
    * subset (shrinks geometrically); the dense-cell set rides the plan
    * as a broadcast hash set. Deterministic: depends only on data and
    * budget. Returns df + `cell` (mixed levels). */
  def adaptiveCells(budget: Long, baseLevel: Int, maxLevel: Int,
                    space: CellSpace = CellSpace.default)(df: DataFrame): DataFrame = {
    require(maxLevel >= baseLevel)
    // deep ladders can occupy far more finest-level cells than a driver
    // histogram should hold — route them through the distributed
    // join-based refinement (identical semantics, spec-pinned)
    if (maxLevel > 10) return adaptiveCellsDistributed(budget, baseLevel, maxLevel, space)(df)
    // ONE aggregate at the finest level; all refinement decisions happen
    // on the (occupied-cells-only) histogram driver-side, then a single
    // descend-the-split-set pass assigns final cells. Equivalent to
    // per-level refinement (a cell's level-L count is its subtree total)
    // at 1 job instead of maxLevel-baseLevel jobs. Driver memory is
    // O(occupied cells at maxLevel), bounded by the maxLevel<=10 gate
    // above (<= 4^10 cells).
    val hist = df
      .groupBy(SpatialFunctions.cellId(col("x"), col("y"), maxLevel, space).as("c"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    // roll counts up the ladder
    val counts = new java.util.HashMap[java.lang.Long, Long]()
    hist.foreach { case (c, n) =>
      var id = c; var lvl = maxLevel
      counts.merge(id, n, (a, b) => a + b)
      while (lvl > baseLevel) { id = space.parent(id); lvl -= 1
        counts.merge(id, n, (a, b) => a + b) }
    }
    // split set: over-budget cells that still have room to split
    val splitSet = new java.util.HashSet[java.lang.Long]()
    counts.forEach { (id, n) =>
      if (n > budget && CellSpace.level(id) < maxLevel) splitSet.add(id)
    }
    val assign = org.apache.spark.sql.graftbridge.ColumnBridge.column(
      AdaptiveCellExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("x")),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("y")),
        space, baseLevel, maxLevel, splitSet))
    df.withColumn("cell", assign)
  }

  /** Distributed adaptive-cells refinement for DEEP ladders: one round
    * per level over only the still-over-budget subset (shrinks
    * geometrically), with the split decision as a join instead of a
    * driver histogram — nothing driver-resident grows with data size.
    * Semantics identical to [[adaptiveCells]]: a point's final cell is
    * its finest ancestor, starting at baseLevel, whose subtree population
    * <= budget (or maxLevel). Each round: (1) count the active subset by
    * its level-L cell (counts ARE subtree totals — a cell's points are
    * active all-or-nothing), (2) points in over-budget cells stay active
    * at L+1, the rest settle at L. */
  def adaptiveCellsDistributed(budget: Long, baseLevel: Int, maxLevel: Int,
                               space: CellSpace = CellSpace.default)(df: DataFrame): DataFrame = {
    require(maxLevel >= baseLevel)
    val keyCols = Seq(col("doc_id"), col("span_idx"))
    var active = df.select(keyCols :+ col("x") :+ col("y"): _*)
    var settled: Option[DataFrame] = None
    var lvl = baseLevel
    var doneEarly = false
    while (lvl < maxLevel && !doneEarly) {
      val withCell = active.withColumn("__c",
        SpatialFunctions.cellId(col("x"), col("y"), lvl, space))
      // the over-budget cell set is small (shrinks every round) but can
      // exceed a driver broadcast in adversarial skew — leave the join
      // strategy to AQE; checkpoint it so semi + anti share one aggregate
      val over = withCell.groupBy(col("__c")).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > budget).select(col("__c"))
        .localCheckpoint()
      val joined = withCell.join(over, Seq("__c"), "left_semi")
        .localCheckpoint()
      val done = withCell.join(over, Seq("__c"), "left_anti")
        .withColumnRenamed("__c", "cell")
        .select(keyCols :+ col("cell"): _*)
      settled = Some(settled.map(_.unionByName(done)).getOrElse(done))
      if (joined.isEmpty) doneEarly = true
      else { active = joined.drop("__c"); lvl += 1 }
    }
    val last =
      if (doneEarly) None
      else Some(active
        .withColumn("cell", SpatialFunctions.cellId(col("x"), col("y"), maxLevel, space))
        .select(keyCols :+ col("cell"): _*))
    val assignment = (settled.toSeq ++ last.toSeq).reduce(_ unionByName _)
    df.join(assignment, Seq("doc_id", "span_idx"))
  }

  def descend(x: Double, y: Double, space: CellSpace, baseLevel: Int,
              maxLevel: Int, splitSet: java.util.HashSet[java.lang.Long]): Long = {
    var lvl = baseLevel
    var id = space.cellAt(x, y, lvl)
    while (lvl < maxLevel && splitSet.contains(id)) {
      lvl += 1
      id = space.cellAt(x, y, lvl)
    }
    id
  }
}

/** Mixed-resolution cell assignment: descend the ladder while the
  * current cell is in the (broadcast) split set. */
case class AdaptiveCellExpr(left: org.apache.spark.sql.catalyst.expressions.Expression,
                            right: org.apache.spark.sql.catalyst.expressions.Expression,
                            space: CellSpace, baseLevel: Int, maxLevel: Int,
                            splitSet: java.util.HashSet[java.lang.Long])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with Serializable {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.expressions.Expression
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "adaptive_cell"
  override protected def nullSafeEval(x: Any, y: Any): Any =
    SkewOps.descend(x.asInstanceOf[Double], y.asInstanceOf[Double],
      space, baseLevel, maxLevel, splitSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sp = ctx.addReferenceObj("space", space, classOf[CellSpace].getName)
    val ss = ctx.addReferenceObj("splitSet", splitSet, "java.util.HashSet<Long>")
    nullSafeCodeGen(ctx, ev, (x, y) =>
      s"${ev.value} = graft.operators.SkewOps.descend($x, $y, $sp, $baseLevel, $maxLevel, $ss);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
