package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deterministic synthetic point generator, semantics per the reference's
  * readers.faux (io/faux/FauxReader.cpp:132-196):
  *
  *  - ramp:     x_i = minX + (maxX-minX)/(n-1) * i   (same for y, z)
  *  - constant: all points at (minX, minY, minZ)
  *  - uniform:  seeded uniform in the box        -> rand(seed)
  *  - normal:   seeded normal(mean, stdev)       -> randn(seed)
  *
  * plus OffsetTime = point ordinal and optional return-number cycling
  * 1..numReturns (FauxReader.cpp:186-191). Distributed by construction:
  * spark.range partitions the id space, every column is a projection.
  */
object Faux {
  final case class Box3(minx: Double, miny: Double, minz: Double,
                        maxx: Double, maxy: Double, maxz: Double)

  private def base(spark: SparkSession, n: Long, docId: String): DataFrame =
    spark.range(0, n)
      .select(lit(docId).as("doc_id"), col("id").cast(IntegerType).as("span_idx"), col("id"))

  def ramp(spark: SparkSession, b: Box3, n: Long, docId: String = "faux"): DataFrame = {
    val d = (n - 1).toDouble
    base(spark, n, docId).select(col("doc_id"), col("span_idx"),
      (lit(b.minx) + lit((b.maxx - b.minx) / d) * col("id")).as("x"),
      (lit(b.miny) + lit((b.maxy - b.miny) / d) * col("id")).as("y"),
      (lit(b.minz) + lit((b.maxz - b.minz) / d) * col("id")).as("z"),
      col("id").cast(DoubleType).as("offset_time"))
  }

  def constant(spark: SparkSession, b: Box3, n: Long, docId: String = "faux"): DataFrame =
    base(spark, n, docId).select(col("doc_id"), col("span_idx"),
      lit(b.minx).as("x"), lit(b.miny).as("y"), lit(b.minz).as("z"),
      col("id").cast(DoubleType).as("offset_time"))

  def uniform(spark: SparkSession, b: Box3, n: Long, seed: Long, docId: String = "faux"): DataFrame =
    base(spark, n, docId).select(col("doc_id"), col("span_idx"),
      (lit(b.minx) + rand(seed) * lit(b.maxx - b.minx)).as("x"),
      (lit(b.miny) + rand(seed + 1) * lit(b.maxy - b.miny)).as("y"),
      (lit(b.minz) + rand(seed + 2) * lit(b.maxz - b.minz)).as("z"),
      col("id").cast(DoubleType).as("offset_time"))

  def normal(spark: SparkSession, mean: (Double, Double, Double),
             stdev: (Double, Double, Double), n: Long, seed: Long,
             docId: String = "faux"): DataFrame =
    base(spark, n, docId).select(col("doc_id"), col("span_idx"),
      (lit(mean._1) + randn(seed) * lit(stdev._1)).as("x"),
      (lit(mean._2) + randn(seed + 1) * lit(stdev._2)).as("y"),
      (lit(mean._3) + randn(seed + 2) * lit(stdev._3)).as("z"),
      col("id").cast(DoubleType).as("offset_time"))
}
