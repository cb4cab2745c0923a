package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec")
  private lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    Stats.deleteTree(work)
  }

  private val clustered = Gen.Clustered(hot = 4, share = 0.8, sigma = 5.0, extent = 200)

  test("the generator is deterministic for a given seed") {
    for (mode <- Seq(Gen.Uniform, clustered)) {
      val a = Gen.points(7L, mode, 500)
      val b = Gen.points(7L, mode, 500)
      val c = Gen.points(8L, mode, 500)
      for ((x, y) <- Seq(a.doc -> b.doc, a.xi -> b.xi, a.yi -> b.yi, a.zi -> b.zi,
                         a.intensity -> b.intensity))
        assert(x.sameElements(y))
      assert(!a.xi.sameElements(c.xi))
      assert((0 until 50).forall(d => Gen.docRow(7L, mode, d) == Gen.docRow(7L, mode, d)))
    }
  }

  test("generated doc tables read back to the expected points") {
    val dir = work.resolve("docs")
    Gen.writeDocs(spark, dir.toString, 3L, Gen.Uniform, 2000, 3)
    val pts = Gen.points(3L, Gen.Uniform, 2000)
    val got = graft.model.Model.explodePoints(spark.read.parquet(dir.toString))
      .selectExpr("count(1)", "sum(cast(x * 2 as long))", "sum(intensity)").head()
    assert(got.getLong(0) == pts.size)
    assert(got.getLong(1) == pts.xi.map(_.toLong).sum)
    assert(got.getLong(2) == pts.intensity.map(_.toLong).sum)
  }

  test("the pip_tile check fails when one input row is dropped") {
    val w = new PipTile(spark, 5L, nDocs = 3000, files = 2)
    val dir = work.resolve("pip")
    w.setup(dir)
    w.pass(0)() // the engine agrees with the expectation
    val docs = spark.read.parquet(dir.toString)
    val dropped = work.resolve("pip-dropped")
    docs.filter("doc_id != 'd00000001'").write.parquet(dropped.toString)
    Stats.deleteTree(dir)
    Files.move(dropped, dir)
    assertThrows[WrongOutput](w.pass(0)())
  }

  test("the archive_ingest check fails when one decoded row is dropped") {
    val w = new ArchiveIngest(spark, 5L, nDocs = 2000)
    w.setup(work.resolve("arch"))
    w.pass(0)()
    val laz = work.resolve("arch").resolve("laz")
    val victim = Files.list(laz).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.toString.endsWith(".laz")).head
    val df = graft.sources.LasDecode.asDataFrame(spark, victim.toString)
    val xf = w.xf
    graft.sources.LasWriter.writeLaz(victim.toString, df.limit(df.count().toInt - 1), 1, xf)
    val e = intercept[WrongOutput](w.pass(0)())
    assert(e.getMessage.contains("read laz"))
  }

  test("the radius-outlier expectation counts neighbours inclusively, excluding self") {
    val ids = Array(("a", 0), ("a", 3), ("b", 0), ("c", 0))
    val x = Array(0.0, 1.0, 2.0, 10.0)
    val y = Array(0.0, 0.0, 0.0, 0.0)
    val z = Array(0.0, 0.0, 0.0, 0.0)
    assert(Expect.rorSurvivors(ids, x, y, z, 1.0, 1) == Set(("a", 0), ("a", 3), ("b", 0)))
    assert(Expect.rorSurvivors(ids, x, y, z, 1.0, 2) == Set(("a", 3)))
  }

  test("the metrics the benchmark prints are the ones BENCHMARK.json declares") {
    implicit val fmt: org.json4s.Formats = org.json4s.DefaultFormats
    val spec = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8"))
    def declared(k: String) =
      (spec \ k).children.map(c => (c \ "name").extract[String] -> (c \ "unit").extract[String])
    assert(declared("end_to_end") == Main.EndToEnd)
    assert(declared("per_layer") == Main.PerLayer)
    assert((spec \ "workloads").children.map(c => (c \ "name").extract[String]) == Workloads.Names)
  }

  test("a pass that throws counts as failed, never as fast") {
    val o = Loop.run(0, 4, 4, 0) { p =>
      if (p == 1) throw new IllegalStateException("boom")
      Thread.sleep(20)
      () => if (p == 2) throw new WrongOutput("wrong") else ()
    }
    assert(o.attempted == 4)
    assert(o.failed == 2)
    assert(o.seconds.size == 2)
    assert(o.seconds.forall(_ >= 0.02))
    assert(o.errors.size == 2)
  }
}
