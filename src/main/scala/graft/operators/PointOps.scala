package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.functions.SpatialFunctions
import graft.index.CellSpace

/** Row-wise operators: pure Catalyst filters/projections (no shuffle).
  * Each maps a reference filter stage; predicates push down to the
  * parquet scan and everything stays inside whole-stage codegen. */
object PointOps {

  /** One dimension's range: keep min <= v <= max, both inclusive
    * (reference filters/range/RangeFilter.cpp:99-124; `equals` collapses
    * to min=max, :75-76; comparison is in double space, :110). */
  final case class DimRange(dim: String, min: Double, max: Double)

  /** filters.range — conjunction of per-dimension inclusive ranges:
    * a point survives iff ALL ranges pass (RangeFilter.cpp:117-123). */
  def range(ranges: Seq[DimRange])(df: DataFrame): DataFrame = {
    require(ranges.nonEmpty, "range filter needs at least one dimension")
    val pred = ranges.map { r =>
      col(r.dim).cast(DoubleType).between(lit(r.min), lit(r.max))
    }.reduce(_ && _)
    df.filter(pred)
  }

  final case class Box3D(minx: Double, miny: Double, minz: Double,
                         maxx: Double, maxy: Double, maxz: Double)

  /** filters.crop, box mode — BOX3D contains with inclusive bounds
    * (include/pdal/util/Bounds.hpp:102-107); `outside` inverts
    * (CropFilter.cpp:219-241). A 2-D box (no z constraint) is the
    * degenerate +/-inf z box, like the reference's BOX2D path. */
  def cropBox(b: Box3D, outside: Boolean = false)(df: DataFrame): DataFrame = {
    val inside =
      col("x").between(lit(b.minx), lit(b.maxx)) &&
      col("y").between(lit(b.miny), lit(b.maxy)) &&
      col("z").between(lit(b.minz), lit(b.maxz))
    df.filter(if (outside) !inside else inside)
  }

  /** filters.ferry — copy dimension to a new dimension; target created as
    * Double (FerryFilter.cpp:95-126); from == to is an error (:85-91). */
  def ferry(pairs: Seq[(String, String)])(df: DataFrame): DataFrame = {
    pairs.foreach { case (from, to) =>
      require(from != to, s"ferry: cannot copy dimension $from to itself")
    }
    pairs.foldLeft(df) { case (d, (from, to)) =>
      d.withColumn(to, col(from).cast(DoubleType))
    }
  }

  /** filters.transformation — 4x4 row-major affine on (x, y, z)
    * (TransformationFilter.cpp:94-112). Constant-folded by Catalyst into
    * three mul-add chains. */
  def transformation(m: Array[Double])(df: DataFrame): DataFrame = {
    require(m.length == 16, "transformation needs a 4x4 row-major matrix")
    def row(r: Int): Column =
      col("x") * m(r * 4) + col("y") * m(r * 4 + 1) + col("z") * m(r * 4 + 2) + m(r * 4 + 3)
    df.withColumns(Map("x" -> row(0), "y" -> row(1), "z" -> row(2)))
  }

  /** filters.decimation — keep every step-th point starting at `offset`,
    * optional cap (DecimationFilter.cpp:69-74). Positional on the
    * explicit span ordinal, so it's a pushable filter, not a window:
    * point i survives iff i >= offset, (i - offset) % step == 0, and
    * fewer than `limit` points survive before it within its document. */
  def decimation(step: Int, offset: Int = 0, limit: Option[Long] = None,
                 ordinal: String = "point_seq")(df: DataFrame): DataFrame = {
    val kept = df.filter(col(ordinal) >= offset && (col(ordinal) - offset) % step === 0)
    limit match {
      case None => kept
      case Some(n) =>
        // deterministic per-document cap: ordinal order
        val w = Window.partitionBy(col("doc_id")).orderBy(col(ordinal))
        kept.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= n).drop("__rn")
    }
  }

  /** Dense per-document point ordinal (0-based, in span order) — the
    * reference's PointId within a view. Needed because span offsets are
    * sparse once text/media spans interleave. */
  def withPointSeq(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("span_idx"))
    df.withColumn("point_seq", row_number().over(w) - 1)
  }

  /** filters.sort — order by one dimension (SortFilter.hpp:55-77).
    * Global: range-partition + local sort (Spark's orderBy). */
  def sortBy(dim: String)(df: DataFrame): DataFrame = df.orderBy(col(dim))

  /** filters.mortonorder — order by Z-curve position
    * (MortonOrderFilter.cpp:64-123). Also the engine's physical
    * clustering key for written tiles. */
  def mortonOrder(space: CellSpace = CellSpace.default)(df: DataFrame): DataFrame =
    df.orderBy(SpatialFunctions.mortonKey(col("x"), col("y"), space))

  /** filters.merge — UNION ALL, duplicates kept (MergeFilter.hpp:61-67;
    * MergeTest expects 2x1065 = 2130). */
  def merge(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ unionByName _)

  /** filters.attribute mode (a) — assign a constant to a dimension for
    * all points (AttributeFilter.cpp:338-357). */
  def assignConstant(dim: String, value: Double)(df: DataFrame): DataFrame =
    df.withColumn(dim, lit(value))
}
