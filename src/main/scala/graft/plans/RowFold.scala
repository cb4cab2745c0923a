package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

/** Run facts folded from a frame's rows by the tasks of a job that reads
  * them anyway. Each task folds its rows into a fresh [[Partial]] and adds
  * it to an accumulator when its partition ends; the driver merges the
  * partials. */
object RowFold {

  /** One task's fold of its rows; `merge` folds `o` into this one. */
  trait Partial[P] extends Serializable {
    def add(row: InternalRow): Unit
    def merge(o: P): Unit
  }

  /** `df`'s rows as a new frame whose tasks also fold every row they pass
    * on (a [[Kernels.FoldTap]] node, planned inside the consumer's own
    * plan), and the merge of their partials, to take after a job has
    * consumed the frame.
    *
    * Exactly once: Spark merges a result-stage task's accumulator update
    * once per partition and drops those of retried or speculative copies.
    * So the consumer must read the frame in its result stage with no
    * exchange or sort in between (a parquet write without partitioning or
    * bucketing, an eager local checkpoint, a no-op write); behind a shuffle
    * the tap would sit in a map stage, whose re-runs add again. */
  def tap[P <: Partial[P]](df: DataFrame, zero: () => P): (DataFrame, () => P) = {
    val parts = df.sparkSession.sparkContext.collectionAccumulator[P]
    (Kernels.foldTap(df, new Kernels.Fold(zero, parts)),
      () => { val all = zero(); parts.value.forEach(p => all.merge(p)); all })
  }

  /** The fold of all of `df`'s rows: one map-only job, a write to Spark's
    * no-op sink. */
  def scan[P <: Partial[P]](df: DataFrame, zero: () => P): P = {
    val (tapped, total) = tap(df, zero)
    tapped.write.format("noop").mode("overwrite").save()
    total()
  }
}
