package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.sql.functions._
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory}
import org.locationtech.jts.geom.prep.PreparedGeometryFactory
import graft.index.CellSpace
import graft.operators.JoinOps

/** ScalaCheck property: the polygon crop (interval cover + exact test on
  * boundary cells) keeps exactly the points a plain per-point JTS
  * `PreparedGeometry.contains` keeps — for convex, concave, holed and
  * multi-part polygons, on points placed at vertices, on edges, on cell
  * edges and at random, in both `outside` modes, at two cover levels, on
  * the operator path and the `st_contains_xy` SQL-rule path, for scan
  * columns (literal bbox conjunct) and computed ones (literal-free). */
class PipCropPropertySpec extends AnyFunSuite {
  import TestSpark._

  private val gf = new GeometryFactory()
  private val space = CellSpace.default
  private val coverLevels = Seq(5, 9)

  private def snap(v: Double): Double = math.rint(v * 2) / 2 // vertices on the 0.5 grid

  private def ring(cx: Double, cy: Double, radii: Seq[Double], phase: Double): Array[Coordinate] = {
    val n = radii.length
    val cs = radii.zipWithIndex.map { case (r, i) =>
      val a = phase + 2 * math.Pi * i / n
      new Coordinate(snap(cx + r * math.cos(a)), snap(cy + r * math.sin(a)))
    }
    (cs :+ cs.head).toArray
  }

  private def genCenter(lo: Double, hi: Double): Gen[(Double, Double)] =
    for (x <- Gen.choose(lo, hi); y <- Gen.choose(250.0, 770.0)) yield (x, y)

  private def genConvex(c: Gen[(Double, Double)], rMax: Double): Gen[Geometry] = for {
    cxy <- c; n <- Gen.choose(3, 9); r <- Gen.choose(20.0, rMax); phase <- Gen.choose(0.0, 1.0)
  } yield gf.createPolygon(ring(cxy._1, cxy._2, Seq.fill(n)(r), phase)).convexHull()

  private def genConcave(c: Gen[(Double, Double)], rMax: Double): Gen[Geometry] = for {
    cxy <- c; n <- Gen.choose(4, 8); r <- Gen.choose(40.0, rMax)
    inner <- Gen.choose(0.2, 0.6); phase <- Gen.choose(0.0, 1.0)
  } yield gf.createPolygon(ring(cxy._1, cxy._2,
    (0 until 2 * n).map(i => if (i % 2 == 0) r else r * inner), phase))

  private val genHoled: Gen[Geometry] = for {
    cxy <- genCenter(250, 770); n <- Gen.choose(4, 10); r <- Gen.choose(60.0, 200.0)
    hole <- Gen.choose(0.2, 0.6); phase <- Gen.choose(0.0, 1.0)
  } yield gf.createPolygon(gf.createLinearRing(ring(cxy._1, cxy._2, Seq.fill(n)(r), phase)),
    Array(gf.createLinearRing(ring(cxy._1, cxy._2, Seq.fill(n)(r * hole), phase + 0.3))))

  // the parts' centers are >= 300 apart and their radii <= 140: disjoint
  private val genMulti: Gen[Geometry] = for {
    a <- genConvex(genCenter(150, 350), 140); b <- genConcave(genCenter(650, 870), 140)
  } yield gf.createMultiPolygon(Array(a, b).map(_.asInstanceOf[org.locationtech.jts.geom.Polygon]))

  private val shapes: Seq[(String, Gen[Geometry])] = Seq(
    "convex" -> genConvex(genCenter(250, 770), 200), "concave" -> genConcave(genCenter(250, 770), 200),
    "holed" -> genHoled, "multi" -> genMulti)

  /** Points that stress every branch: vertices and edge points (on the
    * boundary), points on cell edges at each cover level, points on the
    * bbox, and uniform points around the polygon. */
  private def probes(g: Geometry, seed: Long): Seq[(Double, Double)] = {
    val rnd = new scala.util.Random(seed)
    val cs = g.getCoordinates.toSeq
    val verts = cs.map(c => (c.x, c.y))
    val edges = cs.sliding(2).collect { case Seq(a, b) if a != b =>
      val t = rnd.nextInt(4) / 4.0
      (a.x + t * (b.x - a.x), a.y + t * (b.y - a.y))
    }.toSeq
    val env = g.getEnvelopeInternal
    def u(lo: Double, hi: Double) = lo + rnd.nextDouble() * (hi - lo)
    val (x0, x1) = (env.getMinX - 5, env.getMaxX + 5)
    val (y0, y1) = (env.getMinY - 5, env.getMaxY + 5)
    val cellEdges = coverLevels.flatMap { l =>
      val w = (space.maxx - space.minx) / (1L << l)
      Seq.fill(60)((math.floor(u(x0, x1) / w) * w, u(y0, y1))) ++
        Seq.fill(60)((u(x0, x1), math.floor(u(y0, y1) / w) * w))
    }
    val bbox = Seq.fill(20)((env.getMinX, u(y0, y1))) ++ Seq.fill(20)((u(x0, x1), env.getMaxY))
    val uniform = Seq.fill(600)((u(x0, x1), u(y0, y1)))
    verts ++ edges ++ cellEdges ++ bbox ++ uniform
  }

  /** An RDD-backed frame: a scan leaf that the optimizer does not fold
    * into a local relation, so the crop runs in generated code. */
  private def frame(pts: Seq[(Double, Double)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      pts.zipWithIndex.map { case ((x, y), i) => Row("d", i, x, y) }, 2),
      StructType(Seq(StructField("doc_id", StringType), StructField("span_idx", IntegerType),
        StructField("x", DoubleType), StructField("y", DoubleType))))

  /** The same points with x and y computed, so no literal bbox is added. */
  private def computed(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("span_idx"),
      (col("x") + lit(0.0)).as("x"), (col("y") + lit(0.0)).as("y"))

  private def kept(df: DataFrame): Set[Int] =
    df.select("span_idx").collect().map(_.getInt(0)).toSet

  test("polygon crop equals per-point PreparedGeometry.contains (property)") {
    graft.functions.GraftExtensions.registerTemp(spark)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.PipPrefilterRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.PipPrefilterRule
    for ((name, gen) <- shapes; trial <- 1 to 2) {
      val g = gen(Gen.Parameters.default, Seed(1000L * trial + name.length)).get
      assert(g.isValid, s"$name generator made an invalid polygon: $g")
      val wkt = g.toText
      val pts = probes(g, trial)
      val prep = PreparedGeometryFactory.prepare(g)
      val inside = pts.indices.filter { i =>
        prep.contains(gf.createPoint(new Coordinate(pts(i)._1, pts(i)._2)))
      }.toSet
      assert(inside.nonEmpty && inside.size < pts.size, s"$name: degenerate probe set")
      val scan = frame(pts)
      for ((fname, df) <- Seq("scan" -> scan, "computed" -> computed(scan)); outside <- Seq(false, true)) {
        val want = if (outside) pts.indices.toSet -- inside else inside
        def check(path: String, got: Set[Int]): Unit =
          assert(got === want, s"$name trial $trial $fname $path outside=$outside: " +
            s"extra ${(got -- want).take(5).map(pts)} missing ${(want -- got).take(5).map(pts)}\n$wkt")
        coverLevels.foreach { lvl =>
          check(s"cropPolygon(level $lvl)",
            kept(JoinOps.cropPolygon(wkt, outside, space, coverLevel = lvl)(df)))
        }
        df.createOrReplaceTempView("pip_prop")
        val not = if (outside) "NOT " else ""
        check("SQL", kept(spark.sql(
          s"SELECT span_idx FROM pip_prop WHERE ${not}st_contains_xy('$wkt', x, y)")))
      }
    }
  }

  test("the literal bbox conjunct is added for scan columns only") {
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, Literal}
    val wkt = "POLYGON ((100.25 100, 600 100, 600 600, 100.25 600, 100.25 100))"
    def hasBboxLiteral(df: DataFrame): Boolean =
      JoinOps.cropPolygon(wkt)(df).queryExecution.optimizedPlan
        .flatMap(_.expressions).exists(_.exists {
          case GreaterThanOrEqual(_, Literal(v, DoubleType)) => v == 100.25
          case _ => false
        })
    val scan = frame(Seq((1.0, 2.0)))
    assert(hasBboxLiteral(scan))
    assert(!hasBboxLiteral(computed(scan)))
  }
}
