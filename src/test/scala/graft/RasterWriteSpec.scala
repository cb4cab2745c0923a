package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.RasterWrite
import graft.operators.AggOps

/** writers.p2g raster FILE emit (RasterWrite): ARC ASCII golden, GRASS
  * grid header math, GeoTIFF self-parse round-trip, nodata holes, the
  * points2grid-style per-type naming, and the pipeline `filename`
  * option end-to-end. */
class RasterWriteSpec extends AnyFunSuite {
  import TestSpark._

  // 2x2 grid with one hole: cells (0,0)=1.5, (1,0)=2, (1,1)=4
  private val cells = Seq(
    (0L, 0L, 1.5), (1L, 0L, 2.0), (1L, 1L, 4.0))

  test("ARC ASCII golden: header math, top-down rows, nodata hole") {
    val g = RasterWrite.toGrid(cells)
    val asc = RasterWrite.arcAscii(g, 2.0, 2.0, 10.0, 20.0)
    assert(asc ===
      """ncols 2
        |nrows 2
        |xllcorner 10
        |yllcorner 20
        |cellsize 2
        |NODATA_value -9999
        |-9999 4
        |1.5 2
        |""".stripMargin)
  }

  test("GRASS grid header: north/south/east/west edges from the cell extent") {
    val g = RasterWrite.toGrid(cells)
    val grid = RasterWrite.gridAscii(g, 2.0, 1.0, 10.0, 20.0)
    val header = grid.linesIterator.take(6).toSeq
    assert(header === Seq("north: 22", "south: 20", "east: 14",
      "west: 10", "rows: 2", "cols: 2"))
  }

  test("minimal GeoTIFF round-trips through its own reader") {
    val g = RasterWrite.toGrid(cells)
    val tif = RasterWrite.geoTiff(g, 2.0, 1.0, 10.0, 20.0)
    val (w, h, scale, origin, vals) = RasterWrite.readGeoTiff(tif)
    assert((w, h) === (2, 2))
    assert(scale === ((2.0, 1.0)))
    assert(origin === ((10.0, 22.0))) // west edge, north edge
    assert(vals.toSeq === Seq(-9999f, 4f, 1.5f, 2f))
  }

  test("far-apart cell ids hit the loud cell-count guard, not an Int-wrap crash") {
    // width ~ 2^33 would wrap (pxMax-pxMin+1).toInt negative before the
    // long-arithmetic fix; must surface the guard message instead
    val ex = intercept[IllegalArgumentException] {
      RasterWrite.toGrid(Seq((0L, 0L, 1.0), (8589934592L, 0L, 2.0)))
    }
    assert(ex.getMessage.contains("single-file guard"), ex.getMessage)
  }

  test("unrecognized output format fails with the reference's wording") {
    val df = spark.range(1).select(lit(0L).as("px"), lit(0L).as("py"),
      lit(1L).as("den"), lit(1.0).as("zmin"), lit(1.0).as("zmax"),
      lit(1.0).as("zmean"), lit(0.0).as("zstd"), lit(1.0).as("zidw"))
    val boom = intercept[IllegalArgumentException] {
      RasterWrite.writeP2g("/tmp/x", df, 1, 1, 0, 0, Nil, "png")
    }
    assert(boom.getMessage.contains("Unrecognized output format"))
  }

  test("writeP2g emits one file per type x format, values from the cell table") {
    val dir = java.nio.file.Files.createTempDirectory("graftp2g").toString
    val pts = spark.range(0, 100).select(
      (col("id") % 10).cast("double").as("x"),
      (col("id") / 10).cast("double").as("y"),
      col("id").cast("double").as("z"))
    val cellsDf = AggOps.p2gRaster(2.0, 2.0, 0.9, 0.0, 0.0)(pts)
    val paths = RasterWrite.writeP2g(s"$dir/out", cellsDf, 2.0, 2.0, 0.0, 0.0,
      Seq("min", "den"), "all")
    assert(paths.toSet === Set(
      s"$dir/out.min.grid", s"$dir/out.min.asc", s"$dir/out.min.tif",
      s"$dir/out.den.grid", s"$dir/out.den.asc", s"$dir/out.den.tif"))
    // the ASC min grid agrees with the cell table cell-for-cell
    val want = cellsDf.select("px", "py", "zmin").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val asc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/out.min.asc")), "US-ASCII")
    val lines = asc.linesIterator.toSeq
    val (ncols, nrows) = (lines(0).split(" ")(1).toInt, lines(1).split(" ")(1).toInt)
    val pxMin = want.keys.map(_._1).min
    val pyMax = want.keys.map(_._2).max
    val grid = lines.drop(6).map(_.split(" ").map(_.toDouble))
    assert(grid.length === nrows && grid.forall(_.length === ncols))
    for (((px, py), v) <- want)
      assert(grid((pyMax - py).toInt)((px - pxMin).toInt) === v,
        s"cell ($px,$py)")
  }

  test("p2g .tif feeds filters.colorization: write raster, colorize points from it") {
    val dir = java.nio.file.Files.createTempDirectory("grafttifcolor").toString
    // 3x1 grid of mean-z values at cells x in {0,1,2}, dx=dy=2
    val pts = spark.range(0, 30).select(
      (col("id") % 3 * 2 + 1).cast("double").as("x"),
      lit(1.0).as("y"),
      (col("id") % 3 * 100).cast("double").as("z"))
    val cellsDf = AggOps.p2gRaster(2.0, 2.0, 0.9, 0.0, 0.0)(pts)
    RasterWrite.writeP2g(s"$dir/r", cellsDf, 2.0, 2.0, 0.0, 0.0, Seq("mean"), "tif")
    val spec = s"""{"pipeline":[
      {"type":"readers.faux","count":3,"mode":"ramp",
       "bounds":[1.0,1.0,0.0,5.0,1.0,0.0]},
      {"type":"filters.colorization","raster":"$dir/r.mean.tif",
       "bands":["band1:sampled_z:1.0"]}]}"""
    val out = graft.plans.Pipeline.run(spark, spec).df
      .select("x", "sampled_z").collect().map(r => (r.getDouble(0), r.getDouble(1)))
      .sortBy(_._1)
    // faux ramp x = 1,3,5 -> cells 0,1,2 -> mean z 0,100,200
    assert(out === Array((1.0, 0.0), (3.0, 100.0), (5.0, 200.0)))
  }

  test("pipeline writers.p2g filename option emits raster files") {
    val dir = java.nio.file.Files.createTempDirectory("graftp2gpipe").toString
    val las = ref("las/1.2-with-color.las")
    val spec = s"""{"pipeline":[
      {"type":"readers.las","path":"$las"},
      {"type":"writers.p2g","filename":"$dir/r","dx":50,"dy":50,
       "radius":36,"origin_x":635619,"origin_y":848899,
       "output_type":["mean"],"output_format":"asc"}]}"""
    graft.plans.Pipeline.run(spark, spec)
    val p = java.nio.file.Paths.get(s"$dir/r.mean.asc")
    assert(java.nio.file.Files.exists(p), "no .mean.asc emitted")
    val head = new String(java.nio.file.Files.readAllBytes(p), "US-ASCII")
      .linesIterator.next()
    assert(head.startsWith("ncols "))
  }
}
