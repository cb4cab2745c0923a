package org.apache.spark.sql
package graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column independent of catalyst Expressions; the official
  * bridge (classic.ExpressionUtils) is private[sql]. This shim lives in a
  * subpackage of org.apache.spark.sql purely to re-export the two
  * conversions our custom expressions need. No Spark internals are
  * reimplemented here. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame over a logical plan (`Dataset.ofRows` is private[sql]):
    * how the engine's planned kernel nodes become frames. */
  def ofPlan(spark: SparkSession, plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The session's SQL conf (`sessionState` is private[sql]). */
  def sqlConf(spark: SparkSession): org.apache.spark.sql.internal.SQLConf =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** The session's Hadoop configuration, with its `spark.hadoop.*`
    * settings: what Spark's file sources hand their tasks. */
  def hadoopConf(spark: SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()

  /** The memory page size Spark's sorters allocate in (the memory
    * manager is private[spark]). */
  def pageSizeBytes: Long = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes

  /** Number of plans pinned in the session's CacheManager. Used by the
    * cache-hygiene spec: operators that `.cache()` internally must
    * release the entry before returning (a leaked entry is pinned for
    * the session's lifetime — steady memory creep in long-lived
    * sessions), so running them must not change this count.
    * `sharedState` is private[sql] and `cachedData` class-private,
    * hence this bridge + reflection. */
  def cacheEntryCount(spark: SparkSession): Int = {
    val cm = spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.immutable.IndexedSeq[_]].size
  }
}
