package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Progressive Morphological Filter ground classification (Zhang et al.
  * 2003), the algorithm behind the reference's filters.ground /
  * filters.pclblock PMF (plugins/pcl/filters/GroundFilter.cpp:80-195;
  * parameters PCLPipeline.hpp:371-418: cellSize, maxWindowSize, slope,
  * initialDistance, maxDistance, exponential base).
  *
  * Distributed shape (the "raster side" of raster<->vector): the min-Z
  * surface is a cell-keyed DataFrame; each morphological erosion/dilation
  * is a SEPARABLE neighbor-expansion: explode each cell along one axis
  * then aggregate min (or max) — two passes of (2hw+1)x fan-out per op
  * instead of one (2hw+1)^2 pass (square-window min/max is separable into
  * row then column passes; van Herk's 3-ops-per-pixel scan is the next
  * step if window sizes grow). k iterations = 4k hash aggregates, all on
  * the RASTER (cell count), never on the full point set; the point set is
  * touched exactly twice: the initial min aggregate and the final
  * classification join.
  */
object GroundOps {

  final case class PmfParams(
    cellSize: Double = 1.0,
    maxWindowSize: Double = 33.0,
    slope: Double = 1.0,
    initialDistance: Double = 0.15,
    maxDistance: Double = 2.5,
    base: Double = 2.0,
    exponential: Boolean = true,
    /** Compute the window/threshold schedule and the keep test in
      * float32, like PCL stores them (progressive_morphological_filter
      * keeps window_sizes/height_thresholds as float and diffs float
      * z) — the pclblock emulation path sets this; the engine-native
      * filters.ground stays double. Proven bit-for-bit by the NINE
      * thin-autzen goldens (PmfThinGoldenSpec). */
    floatSchedule: Boolean = false)

  /** Cell-unit window half-size ladder used by the GRID (approximate)
    * branch: window_size_k = 2*base^k+1 (exponential) or 2*k*base+1
    * (linear) CELLS, until > maxWindowSize. */
  def windowLadder(p: PmfParams): Seq[Int] = {
    Iterator.from(0)
      .map { k =>
        val hw = if (p.exponential) math.pow(p.base, k) else (k + 1) * p.base
        hw.toInt
      }
      .map(hw => 2 * hw + 1)
      .takeWhile(_ <= p.maxWindowSize)
      .toSeq.distinct
  }

  /** The EXACT branch's (window, threshold) ladder — the published
    * progressive-morphological schedule (Zhang et al. 2003 eq. 4-5 /
    * the PCL ProgressiveMorphologicalFilter setup): world-unit windows
    * w_k = cellSize * (2*base^k + 1) (exponential) or
    * cellSize * (2*(k+1)*base + 1) (linear); thresholds dh_0 =
    * initialDistance, dh_k = slope * (w_k - w_{k-1}) * cellSize +
    * initialDistance, capped at maxDistance. The schedule INCLUDES the
    * first window >= maxWindowSize (the published loop tests the bound
    * before computing the next window, so the final window overshoots —
    * pinned by the autzen pclblock goldens, which are sensitive to the
    * extra round). */
  def pclLadder(p: PmfParams): Seq[(Double, Double)] =
    if (p.floatSchedule) pclLadderFloat(p) else {
      val out = Seq.newBuilder[(Double, Double)]
      var iteration = 0
      var windowSize = 0.0
      var prevWindow = 0.0
      while (windowSize < p.maxWindowSize) {
        prevWindow = windowSize
        windowSize =
          if (p.exponential) p.cellSize * (2.0 * math.pow(p.base, iteration) + 1.0)
          else p.cellSize * (2.0 * (iteration + 1) * p.base + 1.0)
        val dh0 =
          if (iteration == 0) p.initialDistance
          else p.slope * (windowSize - prevWindow) * p.cellSize + p.initialDistance
        out += ((windowSize, math.min(dh0, p.maxDistance)))
        iteration += 1
      }
      out.result()
    }

  /** The same schedule in float32 arithmetic — the precision PCL
    * actually computes and stores it in. The ladder values differ from
    * the double schedule in the last float ulp (e.g. threshold
    * 0.15f != 0.15), which is exactly what the thin-autzen golden
    * counts are sensitive to. */
  private def pclLadderFloat(p: PmfParams): Seq[(Double, Double)] = {
    val out = Seq.newBuilder[(Double, Double)]
    var it = 0
    var w = 0.0f
    var prev = 0.0f
    val cf = p.cellSize.toFloat; val bf = p.base.toFloat
    val sf = p.slope.toFloat; val in0 = p.initialDistance.toFloat
    val mdf = p.maxDistance.toFloat
    while (w < p.maxWindowSize.toFloat) {
      prev = w
      w = if (p.exponential) cf * (2.0f * math.pow(bf, it).toFloat + 1.0f)
          else cf * (2.0f * (it + 1) * bf + 1.0f)
      val dh0 = if (it == 0) in0 else sf * (w - prev) * cf + in0
      out += ((w.toDouble, math.min(dh0, mdf).toDouble))
      it += 1
    }
    out.result()
  }

  /** One separable morphological pass (min or max over a (2hw+1)^2 cell
    * neighborhood) over a raster DF keyed (cx, cy) with value column `v`. */
  private def morph(raster: DataFrame, hw: Int, isMin: Boolean): DataFrame = {
    val offs = array((-hw to hw).map(lit): _*)
    def pass(df: DataFrame, key: String): DataFrame = {
      val aggFn: Column => Column = if (isMin) min else max
      df.withColumn("__o", explode(offs))
        .withColumn(key, col(key) + col("__o"))
        .groupBy(col("cx"), col("cy"))
        .agg(aggFn(col("v")).as("v"))
    }
    pass(pass(raster, "cx"), "cy")
  }

  /** Classify ground points: returns df with `classification` set to 2
    * (ASPRS ground, GroundFilter.cpp:159) for ground hits, or — with
    * `extract = true` — only the ground points (GroundFilter.cpp:166-175).
    */
  def pmf(p: PmfParams = PmfParams(), extract: Boolean = false)(df: DataFrame): DataFrame = {
    val cx = floor(col("x") / p.cellSize).cast(LongType)
    val cy = floor(col("y") / p.cellSize).cast(LongType)
    // min-Z surface raster (only occupied cells; morphology over occupied
    // cells only — matching a point-cloud PMF rather than a dense raster)
    // materialized once (eager localCheckpoint, ContextCleaner-freed —
    // not a CacheManager entry that outlives the query): read by the
    // first erosion AND by `occupied` on every morphology round
    var surface = df.select(cx.as("cx"), cy.as("cy"), col("z"))
      .groupBy("cx", "cy").agg(min("z").as("v"))
      .localCheckpoint(eager = true)
    val occupied = surface.select("cx", "cy")

    val windows = windowLadder(p)
    var prevW = windows.headOption.getOrElse(1)
    var dh = p.initialDistance
    for (w <- windows) {
      val hw = (w - 1) / 2
      dh = math.min(p.slope * (w - prevW) * p.cellSize + p.initialDistance, p.maxDistance)
      // opening = erosion then dilation, clipped back to occupied cells
      val opened = morph(morph(surface, hw, isMin = true), hw, isMin = false)
        .join(occupied, Seq("cx", "cy"), "left_semi")
      // progressive surface: cells rising more than dh above the opened
      // surface are non-ground returns — replace with opened value
      surface = surface.as("s").join(opened.as("o"), Seq("cx", "cy"))
        .select(col("cx"), col("cy"),
          when(col("s.v") - col("o.v") > dh, col("o.v")).otherwise(col("s.v")).as("v"))
        .localCheckpoint(eager = false)
      prevW = w
    }
    val lastDh = dh
    val classified = df
      .withColumn("__cx", cx).withColumn("__cy", cy)
      .join(surface.withColumnRenamed("cx", "__cx").withColumnRenamed("cy", "__cy"),
        Seq("__cx", "__cy"), "left")
      .withColumn("__ground", col("v").isNotNull && (col("z") - col("v") <= lit(lastDh)))
      .drop("v")
    val out =
      if (extract) classified.filter(col("__ground"))
      else {
        val existing = if (df.columns.contains("classification")) col("classification")
                       else lit(0).cast(ShortType)
        classified.withColumn("classification",
          when(col("__ground"), lit(2).cast(ShortType)).otherwise(existing))
      }
    out.drop("__cx", "__cy", "__ground")
  }

  /** EXACT Progressive Morphological Filter — the reference's DEFAULT
    * `filters.ground` branch (GroundFilter.cpp:72 `approximate=false`
    * default, :119-132 pcl::ProgressiveMorphologicalFilter): iterative
    * ground-set pruning per Zhang et al. 2003. Each round k restricts
    * to the CURRENT ground candidates, computes the morphological
    * opening (erosion then dilation) of their ORIGINAL z over a square
    * window of size w_k centered on each point (half-extent w_k / 2 —
    * the engine's pinned window convention, documented because the
    * public algorithm leaves the box convention to the implementation),
    * and keeps a point iff z - opened < dh_k (strict, the keep test of
    * the published algorithm). Unlike [[pmf]] (the grid / approximate
    * branch) nothing is rasterized: every point is tested against a
    * window measured from its own position.
    *
    * SCALE: ONE pass of the halo-block kernel ([[NbrBlocks.pmfGround]]):
    * blocks with a halo of sum(w_k) run every round in place, so the job
    * count does not grow with the ladder; no all-pairs, no driver state,
    * rows pass through the kernel unchanged. */
  def pmfExact(p: PmfParams = PmfParams(), extract: Boolean = false)(df: DataFrame): DataFrame = {
    val ladder = pclLadder(p)
    val classified =
      if (ladder.isEmpty) df.withColumn("__ground", lit(true))
      else NbrBlocks.pmfGround(df, ladder, p.floatSchedule)
    val out =
      if (extract) classified.filter(col("__ground"))
      else {
        val existing = if (df.columns.contains("classification")) col("classification")
                       else lit(0).cast(ShortType)
        classified.withColumn("classification",
          when(col("__ground"), lit(2).cast(ShortType)).otherwise(existing))
      }
    // identity columns first, like the classification join this replaced
    val ids = Seq("doc_id", "span_idx")
    out.select((ids ++ out.columns.filterNot((ids :+ "__ground").contains)).map(col): _*)
  }
}
