package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.index.CellSpace
import graft.operators.{GroundOps, InfoOps, JoinOps}

/** ScalaCheck properties of the halo-block neighbourhood kernel against
  * brute force: kNN distances (2D and 3D, with and without self), the
  * nearest-1 (d2, doc_id, span_idx) tie-break, radius-outlier counts, and
  * the exact PMF against the per-round window-join implementation it
  * replaced (kept below as a reference), in the double and float32
  * schedules. Point sets mix uniform and clustered points, points outside
  * the cell space, points on block borders and exactly one reach from
  * them, and duplicate coordinates; every result must agree at 4 and 32
  * shuffle partitions. A job-count gate pins the kernel's plan shape. */
class NbrBlocksPropertySpec extends AnyFunSuite {
  import TestSpark._

  private val space = CellSpace(0.0, 0.0, 256.0, 256.0)
  private case class P(doc: String, span: Int, x: Double, y: Double, z: Double)

  private def q(v: Double): Double = math.rint(v * 2) / 2 // the 0.5 grid: ties are common

  private val genUniform: Gen[(Double, Double)] =
    for (x <- Gen.choose(-40.0, 296.0); y <- Gen.choose(-40.0, 296.0)) yield (q(x), q(y))
  private val genClustered: Gen[(Double, Double)] = for {
    c <- Gen.oneOf((60.0, 70.0), (190.0, 120.0), (128.0, 230.0))
    dx <- Gen.choose(-6.0, 6.0); dy <- Gen.choose(-6.0, 6.0)
  } yield (q(c._1 + dx * math.abs(dy) / 3), q(c._2 + dy))
  /** Points on a block border of a grid with block side `side`, or one
    * `reach` (= side / 4), a little less or a little more away from it;
    * and groups sharing y and z that only a full halo resolves: a border
    * point with a partner exactly one reach across the border, and a point
    * half a unit inside a border whose nearest neighbour lies just beyond
    * one reach across it, ahead of a runner-up on its own side. */
  private def genBorder(side: Double): Gen[Seq[(Double, Double)]] = for {
    i <- Gen.choose(-1, (256 / side).toInt + 1)
    off <- Gen.oneOf(0.0, side / 4, -side / 4, side / 4 - 0.5, 0.5 - side / 4, side / 4 + 0.5)
    y <- Gen.choose(-10.0, 266.0); onX <- Gen.oneOf(true, false); shape <- Gen.choose(0, 2)
  } yield {
    val r = side / 4; val b = i * side
    val xs = shape match {
      case 0 => Seq(b + off)
      case 1 => Seq(b, b - r)
      case _ => Seq(b + 0.5, b - r + 0.1, b + 0.5 + r + 0.45)
    }
    xs.map(x => if (onX) (x, q(y)) else (q(y), x))
  }

  private def points(n: Int, seed: Long, borderSide: Double): Seq[P] = {
    val g = Gen.frequency(3 -> genUniform.map(Seq(_)), 3 -> genClustered.map(Seq(_)),
      3 -> genBorder(borderSide))
    val groups = Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).getOrElse(Nil)
    val rnd = new scala.util.Random(seed)
    val pts = groups.flatMap { grp => val z = q(rnd.nextDouble() * 20); grp.map(xy => (xy, z)) }
      .zipWithIndex.map { case (((x, y), z), i) => P(s"d${i % 7}", i, x, y, z) }
    // exact duplicates of some coordinates under other ids
    pts ++ pts.take(n / 10).zipWithIndex.map { case (p, i) => p.copy(doc = s"dup$i", span = 10000 + i) }
  }

  private def frame(pts: Seq[P]): DataFrame =
    spark.createDataFrame(pts).toDF("doc_id", "span_idx", "x", "y", "z")

  /** `f` at 4 and 32 shuffle partitions; both must agree. */
  private def atPartitions[T](f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def at(n: Int): T = {
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val a = at(4); val b = at(32)
    assert(a == b, "result differs between 4 and 32 shuffle partitions")
    a
  }

  private def d2(a: P, b: P, dims3: Boolean): Double = {
    val dx = a.x - b.x; val dy = a.y - b.y; val dz = a.z - b.z
    if (dims3) (dx * dx + dy * dy) + dz * dz else dx * dx + dy * dy
  }

  private val seeds = 1 to 4

  test("kNN distances equal brute force (2D and 3D, self excluded or not)") {
    for (seed <- seeds; dims3 <- Seq(false, true)) {
      val pts = points(160, 100L + seed, borderSide = 64) // start level 4: reach 16
      val df = frame(pts)
      val k = 1 + seed % 5
      val got = atPartitions(JoinOps.exactKnnDistances(df, df, k, startLevel = 4, space,
          dims3 = dims3, excludeSelf = true)
        .select("doc_id", "span_idx", "__nnd2").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap)
      val want = pts.map { p =>
        (p.doc, p.span) -> pts.filterNot(_ eq p).map(d2(p, _, dims3)).sorted.take(k)
      }.toMap
      assert(got === want, s"seed $seed dims3 $dims3 k $k")
      // a second frame as targets: nothing excluded, self at distance 0
      val targets = pts.filter(_.span % 3 == 0)
      val got2 = atPartitions(JoinOps.exactKnnDistances(frame(targets), df, k, startLevel = 5,
          space, dims3 = dims3)
        .select("doc_id", "span_idx", "__nnd2").collect()
        .map(r => (r.getString(0), r.getInt(1)) -> r.getSeq[Double](2)).toMap)
      val want2 = targets.map(p => (p.doc, p.span) -> pts.map(d2(p, _, dims3)).sorted.take(k)).toMap
      assert(got2 === want2, s"seed $seed dims3 $dims3 k $k, separate targets")
    }
  }

  test("nearest-1 equals brute force under the (d2, doc_id, span_idx) order") {
    for (seed <- seeds) {
      val pts = points(160, 200L + seed, borderSide = 16) // start level 6: reach 4
      val src = pts.filter(_.span % 4 == 0)
      val got = atPartitions(JoinOps.exactNearest(frame(src), frame(pts), startLevel = 6, space)
        .select(col("doc_id"), col("span_idx"), col("__n.nx"), col("__n.ny"), col("__n.nz"),
          col("__d2min")).collect()
        .map(r => (r.getString(0), r.getInt(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4)), r.getDouble(5))).toMap)
      val want = src.map { p =>
        val b = pts.minBy(o => (d2(p, o, dims3 = false), o.doc, o.span))
        (p.doc, p.span) -> ((b.x, b.y, b.z), d2(p, b, dims3 = false))
      }.toMap
      assert(got === want, s"seed $seed")
    }
  }

  test("nearest-1 breaks a distance tie across doc_ids in UTF-8 order, also under spark.testing") {
    // UTF8String.compareTo throws whenever spark.testing is set; U+FFFF
    // precedes U+10000 in UTF-8 bytes and follows it in UTF-16 units
    import spark.implicits._
    val left = Seq(("t", 0, 10.0, 10.0, 0.0)).toDF("doc_id", "span_idx", "x", "y", "z")
    val right = Seq(("\uD800\uDC00", 0, 11.0, 10.0, 1.0), ("\uFFFF", 0, 9.0, 10.0, 2.0))
      .toDF("doc_id", "span_idx", "x", "y", "z")
    val prev = Option(System.getProperty("spark.testing"))
    System.setProperty("spark.testing", "1")
    try {
      val n = JoinOps.exactNearest(left, right, startLevel = 6, space)
        .select(col("__n.nz"), col("__d2min")).head()
      assert((n.getDouble(0), n.getDouble(1)) === ((2.0, 1.0)))
    } finally prev.fold(System.clearProperty("spark.testing"))(System.setProperty("spark.testing", _))
  }

  test("radius outlier removal keeps exactly the brute-force survivors") {
    for (seed <- seeds; (radius, minN) <- Seq((4.0, 1), (4.0, 3), (2.5, 2))) {
      val pts = points(200, 300L + seed, borderSide = 4 * radius)
      val got = atPartitions(InfoOps.radiusOutlierRemoval(radius, minN, level = 5, space)(frame(pts))
        .select("doc_id", "span_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet)
      val want = pts.filter { p =>
        val n = pts.count(o => !(o eq p) && d2(p, o, dims3 = true) <= radius * radius)
        n >= math.max(minN, 1)
      }.map(p => (p.doc, p.span)).toSet
      assert(got === want, s"seed $seed radius $radius min $minN")
    }
  }

  /** The per-round window-join exact PMF the kernel replaced: two bucketed
    * window joins and two joins back per ladder round. */
  private def pmfReference(p: GroundOps.PmfParams)(df: DataFrame): Set[(String, Int)] = {
    def windowAgg(target: DataFrame, source: DataFrame, r: Double,
                  valueCol: String, isMin: Boolean, out: String): DataFrame = {
      val offs = array((-1 to 1).map(lit): _*)
      val src = source.select(
        explode(offs).as("__ox"), col("x").as("__sx"), col("y").as("__sy"),
        col(valueCol).as("__sv"))
        .select(explode(offs).as("__oy"), col("__ox"), col("__sx"), col("__sy"), col("__sv"))
        .select(
          (floor(col("__sx") / r).cast(LongType) + col("__ox")).as("__bx"),
          (floor(col("__sy") / r).cast(LongType) + col("__oy")).as("__by"),
          col("__sx"), col("__sy"), col("__sv"))
      val tgt = target.select(col("doc_id"), col("span_idx"),
        col("x").as("__tx"), col("y").as("__ty"),
        floor(col("x") / r).cast(LongType).as("__bx"),
        floor(col("y") / r).cast(LongType).as("__by"))
      val aggFn: Column => Column = if (isMin) min else max
      tgt.join(src, Seq("__bx", "__by"))
        .filter(abs(col("__sx") - col("__tx")) <= r && abs(col("__sy") - col("__ty")) <= r)
        .groupBy(col("doc_id"), col("span_idx"))
        .agg(aggFn(col("__sv")).as(out))
    }
    var ground = df.select(col("doc_id"), col("span_idx"), col("x"), col("y"), col("z"))
      .localCheckpoint(eager = true)
    for ((w, dh) <- GroundOps.pclLadder(p)) {
      val r = w / 2.0
      val eroded = windowAgg(ground, ground, r, "z", isMin = true, "__ev")
        .join(ground.select(col("doc_id"), col("span_idx"), col("x"), col("y")),
          Seq("doc_id", "span_idx"))
      val opened = windowAgg(ground, eroded, r, "__ev", isMin = false, "__ov")
      val keep =
        if (p.floatSchedule) (col("z") - col("__ov")).cast(FloatType) < lit(dh.toFloat)
        else col("z") - col("__ov") < dh
      ground = ground.join(opened, Seq("doc_id", "span_idx")).filter(keep)
        .select(col("doc_id"), col("span_idx"), col("x"), col("y"), col("z"))
        .localCheckpoint(eager = true)
    }
    ground.select("doc_id", "span_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet
  }

  /** Rolling terrain with towers and pits, on and off the 0.5 grid. */
  private def terrain(n: Int, seed: Long): Seq[P] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val x = q(rnd.nextDouble() * 120 - 20); val y = q(rnd.nextDouble() * 120 - 20)
      val base = 10 + 3 * math.sin(x / 9) + 2 * math.cos(y / 7)
      val z = rnd.nextInt(10) match {
        case 0 => base + 1 + rnd.nextInt(8)       // towers
        case 1 => base - rnd.nextDouble()         // pits
        case _ => base + rnd.nextDouble() * 0.3
      }
      P(s"t${i % 5}", i, x, y, if (i % 2 == 0) z else q(z))
    }
  }

  test("exact PMF equals the per-round window-join reference (double and float32)") {
    for (seed <- 1 to 3; floatSchedule <- Seq(false, true);
         maxW <- Seq(5.0, 12.0)) {
      val p = GroundOps.PmfParams(cellSize = 1.0, maxWindowSize = maxW, slope = 0.4,
        initialDistance = 0.3, maxDistance = 3.0, floatSchedule = floatSchedule)
      val df = frame(terrain(500, 400L + seed))
      val got = atPartitions(GroundOps.pmfExact(p, extract = true)(df)
        .select("doc_id", "span_idx").collect().map(r => (r.getString(0), r.getInt(1))).toSet)
      val want = pmfReference(p)(df)
      assert(got === want, s"seed $seed float $floatSchedule maxWindow $maxW")
      assert(want.nonEmpty && want.size < 500, s"seed $seed: the ladder prunes nothing or everything")
    }
  }

  /** Jobs `body` launches. */
  private def jobs(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try { body; Thread.sleep(300) } // drain listener-bus events
    finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("job-count gate: the PMF ladder runs in one pass, SOR rounds stay bounded") {
    val df = frame(terrain(400, 7)).localCheckpoint(eager = true)
    def pmfJobs(maxW: Double): Int = jobs(GroundOps.pmfExact(
      GroundOps.PmfParams(cellSize = 1.0, maxWindowSize = maxW))(df).count())
    assert(GroundOps.pclLadder(GroundOps.PmfParams(cellSize = 1.0, maxWindowSize = 5)).size === 2)
    assert(GroundOps.pclLadder(GroundOps.PmfParams(cellSize = 1.0, maxWindowSize = 33)).size === 5)
    val (two, five) = (pmfJobs(5), pmfJobs(33))
    assert(two === five, s"2-round ladder ran $two jobs, 5-round $five")
    // SOR from a level that leaves sparse points uncertified: one
    // materialized id frame, two jobs per escalation round (block shuffle
    // and its materialization), the mean-distance materialization and the
    // threshold aggregate; 12 allows four rounds
    val sor = jobs(JoinOps.statisticalOutlierRemoval(4, 1.0, level = 5, space)(df).count())
    assert(sor <= 12, s"SOR launched $sor jobs")
  }

  test("halo replication is one codegen'd Generate, with no Scala UDF in the plan") {
    val df = frame(points(100, 9, borderSide = 16))
    val plan = InfoOps.radiusOutlierRemoval(4.0, 2, level = 5, space)(df)
      .queryExecution.executedPlan.toString
    assert(plan.contains("halo_blocks") && plan.contains("Generate"), s"no halo Generate:\n$plan")
    assert(!plan.contains("UDF"), s"halo expansion fell out of codegen:\n$plan")
  }
}
