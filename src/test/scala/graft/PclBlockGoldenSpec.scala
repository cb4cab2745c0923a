package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LasDecode
import graft.plans.{PclBlock, Pipeline}

/** filters.pclblock against the REFERENCE'S OWN goldens: every enabled
  * expectation in plugins/pcl/test/PCLBlockFilterTest.cpp, run on the
  * in-tree autzen fixture JSONs and autzen-point-format-3.las (106
  * points). These counts validate the PassThrough / SOR / ROR /
  * VoxelGrid / GridMinimum / exact-PMF semantics — including the PCL
  * window schedule and the min-bounds coordinate shift — against the
  * reference's recorded ground truth, not self-pinned fixtures. */
class PclBlockGoldenSpec extends AnyFunSuite {
  import TestSpark._

  private val FixDir = s"$RefData/filters/pcl"
  private lazy val autzen =
    LasDecode.asDataFrame(spark, s"$RefData/autzen/autzen-point-format-3.las")
      .localCheckpoint(true)

  private def runFixture(json: String): Long =
    PclBlock.runFile(autzen, s"$FixDir/$json.json").count()

  // PCLBlockFilterTest.cpp:110-118
  test("example_PassThrough_1 -> 81 (z in [410, 440])") {
    assert(runFixture("example_PassThrough_1") === 81L)
  }
  test("example_PassThrough_2 -> 50 (PassThrough then SOR meanK=8 mult=0.2)") {
    assert(runFixture("example_PassThrough_2") === 50L)
  }
  // PCLBlockFilterTest.cpp:120-128
  test("example_PMF_1 -> 93 (exact PMF, maxWindowSize=200)") {
    assert(runFixture("example_PMF_1") === 93L)
  }
  test("example_PMF_2 -> 94 (exact PMF, cell 1, window 200, init 0.05, maxDist 3)") {
    assert(runFixture("example_PMF_2") === 94L)
  }
  // PCLBlockFilterTest.cpp:176-183
  test("filter_PassThrough_1 -> 81 (z limits)") {
    assert(runFixture("filter_PassThrough_1") === 81L)
  }
  test("filter_PassThrough_2 -> 33 (x limits)") {
    assert(runFixture("filter_PassThrough_2") === 33L)
  }
  // PCLBlockFilterTest.cpp:158-161
  test("filter_GridMinimum -> 19 (resolution 1000)") {
    assert(runFixture("filter_GridMinimum") === 19L)
  }
  // PCLBlockFilterTest.cpp:185-192
  test("filter_PMF_1 -> 106 (exact PMF, all defaults keep everything)") {
    assert(runFixture("filter_PMF_1") === 106L)
  }
  // PCLBlockFilterTest.cpp:222-229
  test("filter_RadiusOutlierRemoval_1 -> 60 (min 1 within 200)") {
    assert(runFixture("filter_RadiusOutlierRemoval_1") === 60L)
  }
  test("filter_RadiusOutlierRemoval_2 -> 3 (min 2 within 100)") {
    assert(runFixture("filter_RadiusOutlierRemoval_2") === 3L)
  }
  // PCLBlockFilterTest.cpp:231-238
  test("filter_StatisticalOutlierRemoval_1 -> 96 (meanK 2, mult 1.5)") {
    assert(runFixture("filter_StatisticalOutlierRemoval_1") === 96L)
  }
  test("filter_StatisticalOutlierRemoval_2 -> 63 (meanK 5, mult 0)") {
    assert(runFixture("filter_StatisticalOutlierRemoval_2") === 63L)
  }
  // PCLBlockFilterTest.cpp:240-243
  test("filter_VoxelGrid -> 81 (leaf 500 x 500 x 10)") {
    assert(runFixture("filter_VoxelGrid") === 81L)
  }

  // PCLBlockFilterTest.cpp:49-66: the pclblock wrapped in a pipeline
  test("pipeline stage filters.pclblock: example_PassThrough_1 through the JSON pipeline -> 81") {
    val spec = s"""{"pipeline":[
      {"type":"readers.las","path":"$RefData/autzen/autzen-point-format-3.las"},
      {"type":"filters.pclblock","filename":"$FixDir/example_PassThrough_1.json"}]}"""
    assert(Pipeline.run(spark, spec).df.count() === 81L)
  }

  // PCLBlockFilterTest.cpp:49-66 — the reference's NATIVE XML pipeline
  // wrapping filters.pclblock (passthrough.xml), run through the XML
  // ingestion with its relative fixture paths resolved in place
  test("passthrough.xml: the reference XML pipeline with pclblock -> 81, LAS written") {
    val tmp = java.nio.file.Files.createTempDirectory("pclxml").toString
    val xml = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$FixDir/passthrough.xml")), "UTF-8")
      .replace("../../../temp/foo.las", s"$tmp/foo.las")
      .replace("./example_PassThrough_1.json", s"$FixDir/example_PassThrough_1.json")
      .replace("../../autzen/autzen-point-format-3.las",
        s"$RefData/autzen/autzen-point-format-3.las")
    val xmlPath = java.nio.file.Paths.get(tmp, "passthrough.xml")
    java.nio.file.Files.write(xmlPath, xml.getBytes("UTF-8"))
    val out = graft.plans.PipelineXml.run(spark, xmlPath.toString)
    assert(out.df.count() === 81L)
    assert(LasDecode.asDataFrame(spark, s"$tmp/foo.las").count() === 81L)
  }

  test("inline json option and unknown-filter skip") {
    val kept = PclBlock.run(autzen,
      """{"pipeline":{"filters":[
        {"name":"NotARealFilter","setFoo":1},
        {"name":"PassThrough","setFilterFieldName":"z",
         "setFilterLimits":{"min":410.0,"max":440.0}}]}}""").count()
    assert(kept === 81L)
  }

  test("translate-style VoxelGrid decimation leg (TranslateKernel.cpp:276-301's generated json)") {
    // the reference's `pdal translate --decimation-method=VoxelGrid`
    // assembles a filters.pclblock with exactly this inline JSON
    val json = """{  "pipeline": {    "filters": [{      "name": "VoxelGrid",
      "setLeafSize": {        "x": 500,        "y": 500,        "z": 10        }      }]    }}"""
    val spec = s"""{"pipeline":[
      {"type":"readers.las","path":"$RefData/autzen/autzen-point-format-3.las"},
      {"type":"filters.pclblock","json":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(json)))}}]}"""
    // leaf 500x500x10 on autzen = the filter_VoxelGrid golden -> 81
    assert(Pipeline.run(spark, spec).df.count() === 81L)
  }

  test("VoxelGrid composes with downstream neighbor filters (synthetic identity)") {
    // PCL chains freely: VoxelGrid's output cloud feeds the next filter.
    // Our centroids are synthetic rows, so identity must be regenerated
    // for the kNN-based filters to run. leaf 500x500x10 -> 81 voxels;
    // a follow-up ROR with a generous radius keeps all 81 (every
    // centroid has >= 1 neighbor within 3000 on a ~1000-unit-wide
    // dataset), a PassThrough then cuts by z.
    val kept = PclBlock.run(autzen,
      """{"pipeline":{"filters":[
        {"name":"VoxelGrid","setLeafSize":{"x":500.0,"y":500.0,"z":10.0}},
        {"name":"RadiusOutlierRemoval","setMinNeighborsInRadius":1,
         "setRadiusSearch":3000.0}]}}""").count()
    assert(kept === 81L)
    val thin2 = PclBlock.run(autzen,
      """{"pipeline":{"filters":[
        {"name":"VoxelGrid","setLeafSize":{"x":500.0,"y":500.0,"z":10.0}},
        {"name":"PassThrough","setFilterFieldName":"z",
         "setFilterLimits":{"min":410.0,"max":440.0}}]}}""").count()
    assert(thin2 > 0 && thin2 < 81, s"voxel+passthrough kept $thin2")
  }

  test("filters.hexbin option surface: edge_length/edge_size aliases and sample-based auto edge") {
    import graft.plans.Pipeline
    def run(opts: String): Long = Pipeline.run(spark, s"""{"pipeline":[
      {"type":"readers.las","path":"$RefData/las/hextest.las"},
      {"type":"filters.hexbin"$opts}]}""").df.count()
    // the fixture pairing: edge 0.666666666 -> 7 occupied hexes
    assert(run(""","edge_length":0.666666666""") === 7L)
    assert(run(""","edge_size":0.666666666""") === 7L)  // legacy alias
    // edge omitted -> deterministic sample estimate; sane non-empty grid
    val auto = run("")
    assert(auto >= 1L && auto <= 8L, s"auto-edge hex count $auto")
  }

  test("tile_size is rejected loudly") {
    // twin: the LAZ twin; run rejects the option before it reads a row
    val cloud = if (refPresent) autzen else LasDecode.asDataFrame(spark, Twins.laz)
    val ex = intercept[IllegalArgumentException] {
      PclBlock.run(cloud, """{"pipeline":{"tile_size":100,"filters":[]}}""")
    }
    assert(ex.getMessage.contains("tile_size"))
  }

  test("PassThrough limits are float32 like the shifted coordinates they bound") {
    import spark.implicits._
    // float32(0.1) > 0.1: the point at x = 0.1 narrows above a double limit
    // of 0.1, and the reference keeps it against its float limit
    val two = Seq(("a", 0, 0.0, 0.0, 0.0), ("a", 1, 0.1, 0.0, 0.0))
      .toDF("doc_id", "span_idx", "x", "y", "z")
    val kept = PclBlock.run(two, """{"pipeline": {"filters": [{"name": "PassThrough",
      "setFilterFieldName": "x", "setFilterLimits": {"max": 0.1}}]}}""")
    assert(kept.select("span_idx").as[Int].collect().sorted.toSeq === Seq(0, 1))
  }
}
