package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.CellSpace

/** The remaining kernel-level operators (reference apps/pdal verbs). */
object InfoOps {

  /** `pdal info --query "x,y"` (InfoKernel.cpp:382-409 dumpQuery): the k
    * nearest points to a probe location, nearest first. Single-probe
    * broadcast kNN: distance is a projected column, TakeOrdered(k) does
    * a distributed partial top-k — no shuffle of the table, no index
    * build (the reference builds a full KDIndex for one query). */
  def knnQuery(px: Double, py: Double, k: Int, dims3: Option[Double] = None)
              (df: DataFrame): DataFrame = {
    val d2base = (col("x") - px) * (col("x") - px) + (col("y") - py) * (col("y") - py)
    val d2 = dims3 match {
      case Some(pz) => d2base + (col("z") - pz) * (col("z") - pz)
      case None => d2base
    }
    df.withColumn("dist", sqrt(d2))
      .orderBy(col("dist"), col("doc_id"), col("span_idx"))
      .limit(k)
  }

  /** Radius outlier removal (PCL ROR via filters.pclblock,
    * PCLPipeline.hpp:303-325): keep points having at least
    * `minNeighbors` other points within `radius` (3D, exact like the
    * reference KDIndex radius query, KDIndex.hpp:54-106). One pass of the
    * halo-block kernel ([[NbrBlocks]]) with reach = radius: rows pass
    * through unchanged. `level` keeps its contract (cell side at `level`
    * >= radius) for spec compatibility. */
  def radiusOutlierRemoval(radius: Double, minNeighbors: Int, level: Int,
                           space: CellSpace = CellSpace.default)(df: DataFrame): DataFrame = {
    val side = math.min(space.maxx - space.minx, space.maxy - space.miny) / (1L << level).toDouble
    require(side >= radius,
      s"cell side $side at level $level < radius $radius — use a coarser level")
    val reach = if (radius != 0) math.abs(radius) else side
    NbrBlocks.radiusKeep(df, radius, minNeighbors, BlockGrid(space.minx, space.miny, reach))
  }

  /** `pdal diff` (DiffKernel.cpp:111-230): schema / count / value
    * comparison of two point sets. Returns a one-row report; value
    * equality via symmetric exceptAll counts (multiset semantics, like
    * the reference's per-point compare). */
  def diff(a: DataFrame, b: DataFrame): DataFrame = {
    val spark = a.sparkSession
    import spark.implicits._
    val schemaEqual = a.schema == b.schema
    val countA = a.count(); val countB = b.count()
    val (onlyA, onlyB) =
      if (schemaEqual) (a.exceptAll(b).count(), b.exceptAll(a).count())
      else (-1L, -1L)
    Seq((schemaEqual, countA, countB, onlyA, onlyB,
      schemaEqual && countA == countB && onlyA == 0 && onlyB == 0))
      .toDF("schema_equal", "count_a", "count_b", "only_in_a", "only_in_b", "equal")
  }

  /** `pdal info --stats`-style one-call summary (describe + bounds). */
  def quickInfo(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("count"),
      min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"),
      min("z").as("minz"), max("z").as("maxz"))
}
