package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Aggregation operators. All are partial+final hash aggregates (map-side
  * combine for free); none needs more than one shuffle. */
object AggOps {

  /** filters.stats — per-dimension count/min/max/mean (streaming Welford
    * mean in the reference, StatsFilter.hpp:77-86 — Spark's partial/final
    * avg is the distributed equivalent). One row per dimension, matching
    * the reference's per-dim Summary objects. `enumerate` dims get their
    * exact distinct value set (StatsFilter.hpp:85,94 uses std::set —
    * exact, not approximate; at scale swap to approx_count_distinct). */
  def stats(dims: Seq[String], enumerate: Set[String] = Set.empty)(df: DataFrame): DataFrame = {
    // ONE scan computing every dimension's aggregates side by side, then
    // an unpivot into the reference's one-row-per-dim shape — N scans
    // unioned would read the input N times for the same answer
    val aggs = dims.flatMap { d =>
      val c = col(d).cast(DoubleType)
      Seq(count(c).as(s"__n_$d"), min(c).as(s"__mn_$d"),
        max(c).as(s"__mx_$d"), avg(c).as(s"__av_$d")) ++
        (if (enumerate(d)) Seq(sort_array(collect_set(c)).as(s"__vs_$d")) else Nil)
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(dims.map { d =>
      struct(lit(d).as("dim"), col(s"__n_$d").as("count"), col(s"__mn_$d").as("min"),
        col(s"__mx_$d").as("max"), col(s"__av_$d").as("avg"),
        (if (enumerate(d)) col(s"__vs_$d") else lit(null).cast(ArrayType(DoubleType)))
          .as("values"))
    }: _*)
    one.select(explode(rows).as("s")).select("s.*")
  }

  /** VoxelGrid downsample (PCL semantics via filters.pclblock,
    * PCLPipeline.hpp:328-349): one output point per occupied leaf box,
    * at the centroid of the points in it. */
  def voxelGrid(lx: Double, ly: Double, lz: Double)(df: DataFrame): DataFrame = {
    df.groupBy(
      floor(col("x") / lx).as("vx"),
      floor(col("y") / ly).as("vy"),
      floor(col("z") / lz).as("vz"))
      .agg(avg("x").as("x"), avg("y").as("y"), avg("z").as("z"),
        count(lit(1)).as("n"))
  }

  /** GridMinimum (PCLPipeline.hpp:351-366): one point per 2-D grid cell —
    * the full row of the minimum-z point. min_by keeps whole-row
    * semantics in a single hash aggregate (no window shuffle). Ties
    * broken deterministically by (z, doc_id, span_idx). */
  def gridMinimum(cellSize: Double)(df: DataFrame): DataFrame = {
    val ord = struct(col("z"), col("doc_id"), col("span_idx"))
    df.groupBy(
      floor(col("x") / cellSize).as("gx"),
      floor(col("y") / cellSize).as("gy"))
      .agg(min_by(struct(df.columns.map(col): _*), ord).as("p"))
      .select(col("gx"), col("gy"), col("p.*"))
  }

  /** writers.p2g — vector -> raster interpolation (P2gWriter.cpp:159-225):
    * grid the plane at (dx, dy) anchored at the data minimum; per output
    * cell emit min/max/mean/idw/count/std of z over all points within
    * `radius` of the cell center. The radius neighborhood is realized as
    * a spatial expand-join: each point flatMaps to every cell whose
    * center it can influence (a (2k+1)^2 explode, k = ceil(radius/d)),
    * then one hash aggregate — no pairwise join, no window.
    *
    * IDW = sum(z/dist) / sum(1/dist) per cell (the p2g InterpInterface
    * semantics). Points exactly on a cell center contribute their z with
    * infinite weight; guarded with a small epsilon like p2g's grid code.
    *
    * `fillWindowSize` reproduces the reference's nodata window fill
    * (P2gWriter.cpp:62-63,185 hands `fill_window_size`, default 3, to
    * the points2grid interpolator; the library's published fill walks
    * each empty in-grid cell's (2w+1)^2 neighborhood, w = size/2, and
    * takes the 1/d^2-weighted mean of non-empty neighbors at Chebyshev
    * distance d — points2grid's WEIGHTER = 2). Realized as one
    * neighbor expand-join + anti-join over the AGGREGATED cell table
    * (cells only — cheap at any scale; the library's in-core raster
    * loop would not distribute). Filled cells carry den = 0, marking
    * them interpolated rather than observed. */
  def p2gRaster(dx: Double, dy: Double, radius: Double,
                originX: Double, originY: Double,
                fillWindowSize: Int = 0)(df: DataFrame): DataFrame = {
    val kx = math.max(0, math.ceil(radius / dx - 0.5).toInt)
    val ky = math.max(0, math.ceil(radius / dy - 0.5).toInt)
    val offsets = for { ox <- -kx to kx; oy <- -ky to ky } yield (ox, oy)
    val offArr = array(offsets.map(o => struct(lit(o._1).as("ox"), lit(o._2).as("oy"))): _*)
    val base = df.select(col("x"), col("y"), col("z"),
      floor((col("x") - originX) / dx).cast(LongType).as("cx0"),
      floor((col("y") - originY) / dy).cast(LongType).as("cy0"))
    val expanded = base
      .withColumn("o", explode(offArr))
      .select(col("x"), col("y"), col("z"),
        (col("cx0") + col("o.ox")).as("px"), (col("cy0") + col("o.oy")).as("py"))
      // cell center distance gate (exact radius semantics)
      .withColumn("cxc", (col("px") + 0.5) * dx + originX)
      .withColumn("cyc", (col("py") + 0.5) * dy + originY)
      .withColumn("dist", sqrt((col("x") - col("cxc")) * (col("x") - col("cxc"))
        + (col("y") - col("cyc")) * (col("y") - col("cyc"))))
      .filter(col("dist") <= radius)
    val eps = 1e-12
    val cells = expanded.groupBy(col("px"), col("py"))
      .agg(
        count(lit(1)).as("den"),
        min("z").as("zmin"), max("z").as("zmax"), avg("z").as("zmean"),
        stddev_pop("z").as("zstd"),
        (sum(col("z") / greatest(col("dist"), lit(eps))) /
          sum(lit(1.0) / greatest(col("dist"), lit(eps)))).as("zidw"))
    if (fillWindowSize <= 1) cells
    else {
      // the aggregated cell table is raster-sized (small); pin it once —
      // it feeds the grid-extent agg, the neighbor expand and the
      // anti-join below
      val c = cells.localCheckpoint()
      val ext = c.agg(min("px"), max("px"), min("py"), max("py")).head()
      val (pxMin, pxMax) = (ext.getLong(0), ext.getLong(1))
      val (pyMin, pyMax) = (ext.getLong(2), ext.getLong(3))
      val w = fillWindowSize / 2
      val neigh = for { ox <- -w to w; oy <- -w to w; if ox != 0 || oy != 0 }
        yield (ox, oy)
      val nArr = array(neigh.map(o =>
        struct(lit(o._1).as("ox"), lit(o._2).as("oy"))): _*)
      val metrics = Seq("zmin", "zmax", "zmean", "zstd", "zidw")
      val cand = c.withColumn("o", explode(nArr))
        .select(Seq(
          (col("px") + col("o.ox")).as("px"),
          (col("py") + col("o.oy")).as("py"),
          greatest(abs(col("o.ox")), abs(col("o.oy")))
            .cast(DoubleType).as("fd")) ++
          metrics.map(m => col(m).as(s"n_$m")): _*)
      val wgt = lit(1.0) / (col("fd") * col("fd")) // WEIGHTER = 2
      val filled = cand
        .filter(col("px").between(pxMin, pxMax) &&
                col("py").between(pyMin, pyMax))
        .join(c.select("px", "py"), Seq("px", "py"), "left_anti")
        .groupBy("px", "py")
        .agg(metrics.map(m => (sum(col(s"n_$m") * wgt) / sum(wgt)).as(m)).head,
             metrics.map(m => (sum(col(s"n_$m") * wgt) / sum(wgt)).as(m)).tail: _*)
        .withColumn("den", lit(0L))
      c.unionByName(filled.select(c.columns.map(col): _*))
    }
  }
}
