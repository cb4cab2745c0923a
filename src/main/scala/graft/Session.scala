package graft

import org.apache.spark.sql.SparkSession

/** The engine's one local SparkSession builder. Every caller gets its
  * core count, its shuffle partition count, the UI off and WARN logging;
  * any other setting is passed by the caller, usually one of the named
  * settings below. */
object Session {
  /** One-line plan descriptions for listener events: the default
    * formatted mode re-renders the full plan on every AQE stage update,
    * driver-side time that scales with plan size. */
  val SimplePlans: (String, String) = "spark.sql.ui.explainMode" -> "simple"
  val Adaptive: (String, String) = "spark.sql.adaptive.enabled" -> "true"
  val Utc: (String, String) = "spark.sql.session.timeZone" -> "UTC"
  /** Keeps per-point top-k aggregations on the object hash aggregate.
    * Doc synthesis (collect_list per doc) relies on the early sort-based
    * fallback to bound its memory at high replication, so a session that
    * synthesizes large doc tables leaves this out. */
  val LateSortFallback: (String, String) =
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "5000000"

  def local(cores: Int, shufflePartitions: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
