package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Pipeline, PipelineXml}
import graft.sources.LasDecode

/** XML pipeline ingestion (the reference's native spec syntax,
  * src/PipelineReader.cpp) run against the reference's own pipeline
  * fixtures with @CMAKE_SOURCE_DIR@ substitution. */
class PipelineXmlSpec extends AnyFunSuite {
  import TestSpark._

  private val vars = Map("CMAKE_SOURCE_DIR" -> RefRoot)
  private def read(p: String): String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)))

  test("pipeline_read.xml.in: nested reader-inside-filter, per-axis bounds syntax") {
    val out = PipelineXml.run(spark,
      ref("pipeline/pipeline_read.xml.in"), vars)
    assert(out.df.count() === 1065) // the ([0,1e6],[0,1e6],[0,1e6]) box keeps all
  }

  test("range_z.xml.in: dimension option with nested min/max children + LAS writer") {
    val tmp = java.nio.file.Files.createTempDirectory("xmlpipe").toString
    val text = read(ref("filters/range_z.xml.in"))
      .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp)
    val json = PipelineXml.toJsonSpec(text, vars)
    assert(json.contains("\"limits\""))
    assert(json.contains("\"dimension\":\"z\"")) // engine column casing
    val out = Pipeline.run(spark, json)
    val n = out.df.count()
    assert(n > 0 && n < 1065)
    // the written LAS re-decodes to exactly the ranged rows
    val back = LasDecode.asDataFrame(spark, s"$tmp/only_z_400-500.las")
    assert(back.count() === n)
    val mm = back.agg(min("z"), max("z")).head()
    assert(mm.getDouble(0) >= 400.0 - 1e-6 && mm.getDouble(1) <= 500.0 + 1e-6)
    // equality with the direct JSON pipeline of the same semantics
    val direct = Pipeline.run(spark, s"""{"pipeline":[
      {"type":"readers.las","path":"${ref("las/1.2-with-color.las")}"},
      {"type":"filters.range","limits":[{"dimension":"z","min":400,"max":500}]}
    ]}""").df.count()
    assert(direct === n)
  }

  test("pipeline_multioptions.xml.in: nested unknown Options tolerated") {
    val out = PipelineXml.run(spark,
      ref("pipeline/pipeline_multioptions.xml.in"), vars)
    assert(out.df.count() === 1065)
  }

  test("fixture sweep: mississippi copy, compressed drop_color, chipper chain") {
    val tmp = java.nio.file.Files.createTempDirectory("xmlsweep").toString

    // pipeline_mississippi: plain read -> LAS write copy
    val missOut = PipelineXml.toJsonSpec(
      read(ref("pipeline/pipeline_mississippi.xml.in"))
        .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp), vars)
    val nMiss = Pipeline.run(spark, missOut).df.count()
    assert(nMiss > 0)
    assert(LasDecode.asDataFrame(spark, s"$tmp/out2.las").count() === nMiss)

    // drop_color: crop -> COMPRESSED .laz write through the XML path
    val dropOut = PipelineXml.toJsonSpec(
      read(ref("pipeline/drop_color.xml.in"))
        .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp), vars)
    assert(Pipeline.run(spark, dropOut).df.count() === 1065)
    assert(LasDecode.asDataFrame(spark, s"$tmp/pdal-compressed.laz").count() === 1065)

    // chipper chain: chipper(25) -> merge -> LAS write
    val chipOut = PipelineXml.toJsonSpec(
      read(ref("filters/chipper.xml.in"))
        .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp), vars)
    val src = LasDecode.asDataFrame(spark,
      ref("autzen/autzen-utm.las")).count()
    assert(Pipeline.run(spark, chipOut).df.count() === src)
    assert(LasDecode.asDataFrame(spark, s"$tmp/autzen-utm-chipped-25.las").count() === src)
  }

  test("pipeline_write.xml.in: mid-chain stats passes points through to the .laz writer") {
    val tmp = java.nio.file.Files.createTempDirectory("xmlwrite").toString
    val json = PipelineXml.toJsonSpec(
      read(ref("pipeline/pipeline_write.xml.in"))
        .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp), vars)
    assert(json.contains("stats_passthrough"))
    val out = Pipeline.run(spark, json)
    assert(out.df.count() === 1065) // stats did NOT replace the frame
    assert(LasDecode.asDataFrame(spark, s"$tmp/pdal-compressed.laz").count() === 1065)
  }

  test("pipeline_interpolate.xml.in: p2g writer with grid_dist/output_type options") {
    val tmp = java.nio.file.Files.createTempDirectory("xmlp2g").toString
    val json = PipelineXml.toJsonSpec(
      read(ref("pipeline/pipeline_interpolate.xml.in"))
        .replace("@CMAKE_SOURCE_DIR@/test/temp", tmp), vars)
    assert(json.contains("\"dx\":6.0"))
    val out = Pipeline.run(spark, json)
    assert(out.df.count() > 0) // raster cells
    // the fixture's filename + 5 output_type options + asc format ->
    // five ARC ASCII raster files, points2grid naming
    Seq("min", "max", "mean", "idw", "den").foreach { t =>
      val p = java.nio.file.Paths.get(s"$tmp/autzen_grid.$t.asc")
      assert(java.nio.file.Files.exists(p), s"missing $t raster")
      val head = new String(java.nio.file.Files.readAllBytes(p), "US-ASCII")
        .linesIterator.next()
      assert(head.startsWith("ncols "))
    }
  }

  test("splitter without origin defaults to the first point (F9 counts via XML)") {
    val xml = s"""<?xml version="1.0"?>
      <Pipeline version="1.0">
        <Filter type="filters.splitter">
          <Option name="length">1000</Option>
          <Reader type="readers.las">
            <Option name="filename">${ref("las/1.2-with-color.las")}</Option>
          </Reader>
        </Filter>
      </Pipeline>"""
    val out = Pipeline.run(spark, PipelineXml.toJsonSpec(xml)).df
    val counts = out.groupBy("tile_x", "tile_y").count()
      .orderBy("count").select("count").collect().map(_.getLong(0)).toSeq
    // SplitterTest.cpp:92-100's 15 golden tile counts (sorted)
    assert(counts === Seq(24L, 27, 26, 27, 10, 166, 142, 76, 141, 132,
      63, 70, 67, 34, 60).sorted)
  }

  test("bad/ fixtures all fail loudly at translate or run, never silently") {
    val dir = new java.io.File(ref("pipeline/bad"))
    val bads = dir.listFiles().filter(_.getName.endsWith(".xml")).sortBy(_.getName)
    assert(bads.length === 10)
    bads.foreach { f =>
      val r = scala.util.Try {
        Pipeline.run(spark, PipelineXml.toJsonSpec(read(f.getPath), vars)).df.count()
      }
      assert(r.isFailure, s"${f.getName} was accepted")
    }
  }

  test("crop_wkt polygon option flows through (prefix of the fixture chain)") {
    // the fixture's full chain writes LAS; here the polygon path itself:
    // crop_wkt_2d.xml.in carries a 2-D WKT polygon option
    val text = read(ref("filters/crop_wkt_2d.xml.in"))
    val json = PipelineXml.toJsonSpec(
      text.replace("@CMAKE_SOURCE_DIR@/test/temp",
        java.nio.file.Files.createTempDirectory("xmlwkt").toString), vars)
    assert(json.contains("\"polygon\""))
  }
}
