package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Faux, DocSynth}
import graft.operators._
import graft.model.Model

/** Edge cases: empty inputs, degenerate geometry, single points —
  * the operators must degrade gracefully, not throw. */
class EdgeCaseSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val empty = Faux.ramp(spark, Faux.Box3(0, 0, 0, 1, 1, 1), 2)
    .filter(col("x") > 100)

  test("flagship entry runs end-to-end and yields tiles") {
    val out = SparkEntry.entry(spark)
    assert(out.count() > 0)
    assert(out.columns.toSet === Set("tile_x", "tile_y", "n", "minx", "miny", "maxx", "maxy"))
  }

  test("bench timer reports a crashed query as -1, not a fast wall time") {
    val (name, sec) = Bench.timed("boom")(() => throw new RuntimeException("deliberate"))
    assert(name === "boom" && sec === -1.0)
    val (_, ok) = Bench.timed("fine")(() => ())
    assert(ok >= 0.0)
  }

  test("internally-caching operators leave no CacheManager entries behind") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import spark.implicits._
    val before = ColumnBridge.cacheEntryCount(spark)
    val pts = Faux.ramp(spark, Faux.Box3(0, 0, 0, 100, 100, 10), 400)
    TileOps.chipper(50)(pts).count()
    JoinOps.statisticalOutlierRemoval(4, 2.0, 4)(pts).count()
    GroundOps.pmf()(pts).count()
    val edges = Seq((1L, "a"), (2L, "a"), (3L, "b"), (2L, "b")).toDF("doc_id", "band")
    TextOps.ccFromEdges(edges).count()
    assert(ColumnBridge.cacheEntryCount(spark) === before,
      "an operator leaked a .cache() entry into the session CacheManager")
  }

  test("filters and aggregates handle empty input") {
    assert(PointOps.range(Seq(PointOps.DimRange("z", 0, 1)))(empty).count() === 0)
    assert(JoinOps.cropPolygon("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")(empty).count() === 0)
    assert(AggOps.voxelGrid(1, 1, 1)(empty).count() === 0)
    assert(TileOps.tileCounts(10, 0, 0)(empty).count() === 0)
    assert(TileOps.chipper(10)(empty).count() === 0)
    assert(SkewOps.adaptiveCells(10, 2, 4)(empty).count() === 0)
    assert(JoinOps.statisticalOutlierRemoval(4, 1.0, 4)(empty).count() === 0)
    assert(GroundOps.pmf()(empty).count() === 0)
  }

  test("faux normal mode and ordered LAS write run through the pipeline") {
    val out = java.nio.file.Files.createTempDirectory("graftnorm").toString + "/n.las"
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "normal", "count": 500,
         |   "mean": [100.0, 200.0, 50.0], "stdev": [10.0, 10.0, 5.0], "seed": 7},
         |  {"type": "writers.las", "path": "$out", "format": 0,
         |   "order_by": ["span_idx"]}
         |]}""".stripMargin
    val res = graft.plans.Pipeline.run(spark, spec)
    assert(res.df.count() === 500)
    val (h, rows) = graft.sources.LasDecode.readPoints(out)
    assert(h.pointCount === 500)
    // normal around the mean: bulk of mass within 4 sigma
    val xs = rows.map(_.getDouble(graft.sources.LasDecode.schema.fieldIndex("x")))
    assert(math.abs(xs.sum / xs.size - 100.0) < 3.0, s"mean ${xs.sum / xs.size}")
    assert(xs.count(x => math.abs(x - 100.0) > 40.0) === 0)
  }

  test("single-point input flows through tiling and joins") {
    val one = Faux.constant(spark, Faux.Box3(5, 5, 5, 5, 5, 5), 1)
    assert(TileOps.chipper(10)(one).count() === 1)
    assert(TileOps.tileCounts(10, 0, 0)(one).head().getAs[Long]("n") === 1)
    val crop = JoinOps.cropPolygon("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")(one)
    assert(crop.count() === 1)
  }

  test("dedup on empty documents returns empty") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.dedupExact(noDocs).count() === 0)
    assert(TextOps.minhashDedup()(noDocs).count() === 0)
  }

  test("writers.doc round-trips the doc table through a pipeline") {
    val tmp = java.nio.file.Files.createTempDirectory("graftdocsrt").toString
    val dir = "/root/testdata/sf0.001"
    val docs = DocSynth.cachedDocs(spark, dir)
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.doc", "sf_dir": "$dir"},
         |  {"type": "filters.transformation",
         |   "matrix": "1 0 0 0 0 1 0 0 0 0 1 0 0 0 0 1"},
         |  {"type": "writers.doc", "sf_dir": "$dir", "path": "$tmp/out"}
         |]}""".stripMargin
    graft.plans.Pipeline.run(spark, spec)
    val written = spark.read.parquet(s"$tmp/out")
    val a = Model.spanSignature(written).orderBy("doc_id")
    val b = Model.spanSignature(docs).orderBy("doc_id")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }
}
