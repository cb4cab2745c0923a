package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators.{AggOps, GroundOps, InfoOps, JoinOps, SmoothOps}
import graft.index.CellSpace

/** `filters.pclblock` — the reference's PCL sub-pipeline stage
  * (plugins/pcl/filters/PCLBlock.cpp; JSON format + per-filter dispatch
  * plugins/pcl/pipeline/PCLPipeline.hpp:584-692). A PCLBlock takes a
  * JSON document `{"pipeline": {"filters": [{"name": ..., set...}]}}`
  * (via `filename` or inline `json`) and applies each named PCL filter
  * in order. Every filter in the reference's roster maps to an existing
  * distributed operator:
  *
  *   PassThrough                       -> inclusive range filter
  *   StatisticalOutlierRemoval         -> JoinOps.statisticalOutlierRemoval
  *   RadiusOutlierRemoval              -> InfoOps.radiusOutlierRemoval
  *   VoxelGrid                         -> AggOps.voxelGrid (centroids)
  *   GridMinimum                       -> AggOps.gridMinimum
  *   ProgressiveMorphologicalFilter    -> GroundOps.pmfExact (extract)
  *   ApproximateProgressiveMorph...    -> GroundOps.pmf (grid, extract)
  *   MovingLeastSquares                -> SmoothOps.mlsSmooth (the
  *     reference hardcodes radius 1 / order 2, PCLPipeline.hpp:565-567)
  *
  * COORDINATE CONVENTION: the reference converts the view to a PCL
  * cloud with the view's min-bounds subtracted (PCLBlock.cpp:79-85,
  * PCLConversions.hpp:145-152) and conveys the offsets to PassThrough
  * limits (PCLPipeline.hpp:248-264). The shift anchors VoxelGrid /
  * GridMinimum cells at the DATA MINIMUM, not the world origin — AND
  * narrows the shifted coordinates to float32 (PCL's PointXYZ). We
  * reproduce both exactly (shift in, narrow, filter, shift out): the
  * narrowing is LOAD-BEARING for golden parity — the thin-autzen PMF
  * counts (PmfThinGoldenSpec) are sensitive to float32 window-boundary
  * and keep-test membership.
  *
  * Unknown filter names warn and pass through, like the reference's
  * PCL_WARN + skip (PCLPipeline.hpp:668-669). `pipeline.tile_size`
  * (per-tile independent filtering, PCLPipeline.hpp:619-621) is
  * rejected loudly — its per-tile SOR/PMF semantics differ from the
  * global operators and no in-tree fixture exercises it.
  *
  * SCALE: the only non-operator cost is one bounds aggregate over the
  * input (the reference's calculateBounds does the same pass); every
  * filter is the already-audited distributed operator.
  */
object PclBlock {
  private implicit val fmt: Formats = DefaultFormats

  def runFile(df: DataFrame, path: String): DataFrame = {
    val bytes = graft.sources.PointCodec.readBytes(
      new org.apache.hadoop.fs.Path(path), df.sparkSession.sparkContext.hadoopConfiguration)
    run(df, new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
  }

  def run(df: DataFrame, json: String): DataFrame = {
    val j = JsonMethods.parse(json)
    val pipe = j \ "pipeline"
    require(pipe != JNothing, "pclblock: JSON has no 'pipeline' object")
    val tileSize = (pipe \ "tile_size").extractOpt[Double].getOrElse(0.0)
    require(tileSize == 0.0,
      "pclblock: tile_size (per-tile independent filtering) is not supported — " +
        "chip with filters.chipper/filters.splitter and run the block per chip instead")
    val filters = (pipe \ "filters") match {
      case JArray(items) => items.collect { case o: JObject => o }
      case JNothing => Nil
      case _ => throw new IllegalArgumentException("pclblock: 'filters' must be an array")
    }

    // the reference's per-view min-bounds shift (PCLBlock.cpp:79-85)
    val b = df.agg(min("x"), max("x"), min("y"), max("y"), min("z")).head()
    if (b.isNullAt(0)) return df // empty input: every PCL filter is identity
    val (mx, my, mz) = (b.getDouble(0), b.getDouble(2), b.getDouble(4))
    val extentX = math.max(b.getDouble(1) - mx, 1e-9)
    val extentY = math.max(b.getDouble(3) - my, 1e-9)
    val space = CellSpace(0.0, 0.0, extentX + 1.0, extentY + 1.0)

    // PDALtoPCD narrows the shifted coordinates to FLOAT32 (PCL's
    // PointXYZ, PCLConversions.hpp:150-152); mirroring the narrowing is
    // what makes the thin-autzen PMF goldens land bit-for-bit (the
    // boundary membership of |dx| <= window/2 and the z-diff keep test
    // both see float-valued coordinates)
    val shifted = df
      .withColumn("x", (col("x") - mx).cast(org.apache.spark.sql.types.FloatType)
        .cast(org.apache.spark.sql.types.DoubleType))
      .withColumn("y", (col("y") - my).cast(org.apache.spark.sql.types.FloatType)
        .cast(org.apache.spark.sql.types.DoubleType))
      .withColumn("z", (col("z") - mz).cast(org.apache.spark.sql.types.FloatType)
        .cast(org.apache.spark.sql.types.DoubleType))

    val out = filters.foldLeft(shifted) { (cur, f) =>
      applyFilter(cur, f, mx, my, mz, space)
    }
    out.withColumn("x", col("x") + mx)
      .withColumn("y", col("y") + my)
      .withColumn("z", col("z") + mz)
  }

  /** Coarsest grid level whose cell side still covers `radius` (the
    * ring-join exactness requirement of SOR/ROR). */
  private def levelFor(space: CellSpace, radius: Double): Int = {
    val ext = math.min(space.maxx - space.minx, space.maxy - space.miny)
    var level = 0
    while (ext / (1L << (level + 1)).toDouble >= radius && level < 20) level += 1
    level
  }

  private def applyFilter(df: DataFrame, f: JObject,
                          mx: Double, my: Double, mz: Double,
                          space: CellSpace): DataFrame = {
    def dbl(k: String, d: Double): Double = (f \ k).extractOpt[Double].getOrElse(d)
    def int(k: String, d: Int): Int = (f \ k).extractOpt[Int].getOrElse(d)
    def bool(k: String, d: Boolean): Boolean = (f \ k).extractOpt[Boolean].getOrElse(d)
    val name = (f \ "name").extractOpt[String].getOrElse("")

    name.toLowerCase match {
      case "passthrough" =>
        // limits arrive in WORLD coords; x/y/z limits get the offsets
        // subtracted like the reference (PCLPipeline.hpp:248-264) and are
        // float32 there, as the shifted coordinates are here; inclusive
        // bounds (pcl::PassThrough keeps [min, max])
        val field = (f \ "setFilterFieldName").extractOpt[String]
          .getOrElse(throw new IllegalArgumentException(
            "pclblock PassThrough: setFilterFieldName is required"))
        require(df.columns.contains(field),
          s"pclblock PassThrough: field '$field' not in frame " +
            s"(have ${df.columns.mkString(", ")})")
        val off = field match {
          case "x" => mx; case "y" => my; case "z" => mz; case _ => 0.0
        }
        def limit(k: String) =
          (f \ "setFilterLimits" \ k).extractOpt[Double].map(v => (v - off).toFloat.toDouble)
        val (lo, hi) = (limit("min"), limit("max"))
        val c = col(field)
        (lo, hi) match {
          case (Some(a), Some(b)) => df.filter(c >= a && c <= b)
          case (Some(a), None) => df.filter(c >= a)
          case (None, Some(b)) => df.filter(c <= b)
          case (None, None) => df
        }

      case "statisticaloutlierremoval" =>
        JoinOps.statisticalOutlierRemoval(
          int("setMeanK", 2), dbl("setStddevMulThresh", 0.0),
          JoinOps.AutoLevel, space)(df)

      case "radiusoutlierremoval" =>
        val radius = dbl("setRadiusSearch", 1.0)
        InfoOps.radiusOutlierRemoval(radius,
          int("setMinNeighborsInRadius", 2), levelFor(space, radius), space)(df)

      case "voxelgrid" =>
        // shifted coords are >= 0 and the grid anchors at the shifted
        // origin = the data minimum, exactly pcl::VoxelGrid's leaf
        // indexing; output = per-voxel centroid (synthetic points, like
        // the PCL filter — identity columns do not survive)
        def leaf(k: String): Double =
          (f \ "setLeafSize" \ k).extractOpt[Double].getOrElse(1.0)
        // centroids are synthetic points — regenerate the engine's
        // (doc_id, span_idx) identity so downstream neighbor filters
        // (SOR/ROR/PMF/MLS) in the same block still compose, like
        // PCL's fresh output cloud. Collision-free split of the
        // 64-bit id across the two identity columns.
        val vg = AggOps.voxelGrid(leaf("x"), leaf("y"), leaf("z"))(df)
          .drop("vx", "vy", "vz", "n")
          .withColumn("__vid", monotonically_increasing_id())
        vg.select(
          concat(lit("voxel_"), shiftright(col("__vid"), 31).cast("string")).as("doc_id"),
          (col("__vid").bitwiseAND(0x7fffffffL)).cast("int").as("span_idx"),
          col("x"), col("y"), col("z"))
          // PIN the nondeterministic ids: a downstream neighbor filter
          // evaluates this frame from two plans (its checkpointed slim
          // projection AND the final identity join); without an eager
          // checkpoint the aggregate re-runs and
          // monotonically_increasing_id re-assigns, so the join legs
          // could disagree on which id names which centroid
          .localCheckpoint(true)

      case "gridminimum" =>
        AggOps.gridMinimum(dbl("setResolution", 1.0))(df).drop("gx", "gy")

      case "progressivemorphologicalfilter" |
           "approximateprogressivemorphologicalfilter" =>
        val p = GroundOps.PmfParams(
          cellSize = dbl("setCellSize", 1.0),
          maxWindowSize = int("setMaxWindowSize", 33).toDouble,
          slope = dbl("setSlope", 1.0),
          initialDistance = dbl("setInitialDistance", 0.15),
          maxDistance = dbl("setMaxDistance", 2.5),
          base = dbl("setBase", 2.0),
          exponential = bool("setExponential", true),
          // PCL emulation (float32 ladder + diff) — honored by the
          // EXACT branch; the grid/approximate branch is the engine's
          // own raster variant (the reference's APMF is unvalidated —
          // its own test is disabled as crashing,
          // PCLBlockFilterTest.cpp:138-143) and stays double
          floatSchedule = !name.toLowerCase.startsWith("approximate"))
        val negative = bool("setNegative", false)
        // PCL's PointXYZ cloud carries NO classification dim — the PMF
        // verdict must not be confused with a pre-existing
        // classification column on the frame (autzen carries ASPRS
        // classes already). Compute ground membership on a slim
        // projection and semi/anti-join the original rows.
        val slim = df.select("doc_id", "span_idx", "x", "y", "z")
        val ground = (
          if (name.toLowerCase.startsWith("approximate"))
            GroundOps.pmf(p, extract = true)(slim)
          else GroundOps.pmfExact(p, extract = true)(slim))
          .select("doc_id", "span_idx")
        df.join(ground, Seq("doc_id", "span_idx"),
          if (negative) "left_anti" else "left_semi")

      case "movingleastsquares" =>
        // reference hardcodes radius 1, polynomial order 2
        SmoothOps.mlsSmooth(1.0, levelFor(space, 1.0), polyOrder = 2, space = space)(df)

      case other =>
        // reference parity: warn and skip (PCLPipeline.hpp:668-669)
        System.err.println(s"pclblock: requested filter `$other` not implemented! Skipping...")
        df
    }
  }
}
