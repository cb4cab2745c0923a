package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.DataFrame
import graft.operators.TileOps

/** ScalaCheck property of the exact chipper against a driver-side
  * reference (below): the chip of every (doc_id, span_idx) must be the
  * reference's for any point count 0..3000 and any capacity from 1 to
  * above n, on uniform points and on points with repeated x and y values
  * whose x and y ranges tie, with doc_ids whose UTF-8 and UTF-16 orders
  * differ; under task budgets that run 0, 1 or all splits as distributed
  * rounds, and at 4 and 32 shuffle partitions. A job-count gate pins the
  * in-task bottom: past the rounds, the chip count adds no Spark job. */
class ChipperPropertySpec extends AnyFunSuite {
  import TestSpark._

  private case class P(doc: String, span: Int, x: Double, y: Double)

  /** UTF-16 order: "a" < "😀" < "Ａ"; UTF-8 order puts the
    * emoji (F0 9F ..) after the full-width A (EF BC A1). */
  private val docs = Seq("a", "Ａ", "😀", "Ａb", "😀b")

  /** The order the reference sorts a node in along x (`onX`) or y:
    * (axis value, doc_id in UTF-8 bytes, span_idx). */
  private def before(onX: Boolean)(a: P, b: P): Boolean = {
    def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val (va, vb) = if (onX) (a.x, b.x) else (a.y, b.y)
    if (va != vb) va < vb
    else {
      val d = java.util.Arrays.compareUnsigned(utf8(a.doc), utf8(b.doc))
      if (d != 0) d < 0 else a.span < b.span
    }
  }
  private def widerX(ps: Seq[P]): Boolean =
    ps.map(_.x).max - ps.map(_.x).min > ps.map(_.y).max - ps.map(_.y).min

  /** The chipper as the reference runs it, on the driver: stable sort of
    * each node along the axis whose range is strictly wider, split at the
    * lround(i * n / m) bounds. */
  private def reference(pts: Seq[P], capacity: Long): Map[(String, Int), Int] = {
    val n = pts.size
    if (n == 0) return Map.empty
    val m = ((n + capacity - 1) / capacity).toInt
    def bound(i: Int): Long = math.round(i.toDouble * n / m)
    val chip = Map.newBuilder[(String, Int), Int]
    def split(ps: Seq[P], pl: Int, pr: Int): Unit =
      if (pr - pl == 1) ps.foreach(p => chip += (p.doc, p.span) -> pl)
      else {
        val sorted = ps.sortWith(before(widerX(ps)))
        val pc = (pl + pr) / 2
        val t = (bound(pc) - bound(pl)).toInt
        split(sorted.take(t), pl, pc)
        split(sorted.drop(t), pc, pr)
      }
    split(pts, 0, m)
    chip.result()
  }

  /** `n` points, uniform or on a 6-value grid on both axes (repeated x
    * and y, equal ranges), each with a random doc_id and a unique span. */
  private def points(n: Int, seed: Long, grid: Boolean): Seq[P] = {
    val coord = if (grid) Gen.choose(0, 5).map(_ * 10.0) else Gen.choose(0.0, 1000.0)
    val g = for (d <- Gen.oneOf(docs); x <- coord; y <- coord) yield (d, x, y)
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(seed)).get
      .zipWithIndex.map { case ((d, x, y), i) => P(d, i, x, y) }
  }

  private def frame(pts: Seq[P], parts: Int): DataFrame =
    spark.createDataFrame(pts).toDF("doc_id", "span_idx", "x", "y").repartition(parts)

  private def chips(df: DataFrame, capacity: Long, taskRows: Long): Map[(String, Int), Int] =
    TileOps.chipper(capacity, taskRows)(df).select("doc_id", "span_idx", "chip").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap

  /** `f` with `parts` shuffle partitions. */
  private def atPartitions[T](parts: Int)(f: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** Task budgets under which the top runs no distributed round, exactly
    * one (the root's: its children hold at most n - 1 rows, which is
    * min(budget, max(n, budget) / P) here), and every round. */
  private def budgets(n: Int): Seq[(String, Long)] = Seq(
    "no round" -> Long.MaxValue,
    "one round" -> spark.sparkContext.defaultParallelism.toLong * math.max(n - 1, 1),
    "all rounds" -> 0L)

  test("chip assignment equals the driver reference across budgets and partition counts") {
    for (seed <- 1L to 14L) {
      val rnd = new scala.util.Random(seed)
      val n = if (seed <= 2) seed.toInt - 1 else rnd.nextInt(3001)
      val capacity = rnd.nextInt(3) match {
        case 0 => 1L + rnd.nextInt(8)
        case 1 => 1L + rnd.nextInt(n + 1)
        case _ => n + 1L + rnd.nextInt(10)
      }
      val grid = seed % 2 == 1
      val pts = points(n, seed, grid)
      val want = reference(pts, capacity)
      val parts = if (seed % 4 < 2) 4 else 32
      for ((name, budget) <- budgets(n)) {
        val got = atPartitions(parts)(chips(frame(pts, parts), capacity, budget))
        assert(got === want,
          s"seed $seed n $n capacity $capacity grid $grid $name, $parts partitions")
      }
    }
  }

  test("chips hold exactly the reference's sizes: ceil(n / capacity) chips, none over capacity") {
    val pts = points(2500, 77, grid = false)
    for ((name, budget) <- budgets(pts.size)) {
      val sizes = chips(frame(pts, 4), 96, budget).groupBy(_._2).values.map(_.size).toSeq
      assert(sizes.size === 27 && sizes.max <= 96 && sizes.sum === 2500, name)
    }
  }

  test("equal full keys inside a node fail loudly, naming the chipper") {
    // the duplicate is the root's cut row (n = 201, m = 11, 91 rows left)
    val pts = points(200, 5, grid = false)
    val df = frame(pts :+ pts.sortWith(before(widerX(pts)))(90), 4)
    for ((name, budget) <- budgets(201)) {
      val e = intercept[Exception](chips(df, 20, budget))
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("filters.chipper")), s"$name: $e")
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

  test("job-count gate: within the task budget, 2 and 200 chips launch the same jobs") {
    val df = frame(points(3000, 3, grid = false), 4).localCheckpoint(eager = true)
    val two = jobs(TileOps.chipper(1500)(df).count())
    val many = jobs(TileOps.chipper(15)(df).count())
    assert(two === many, s"m = 2 ran $two jobs, m = 200 ran $many")
    // the budget is what adds rounds: none < one < all (8 at m = 200)
    val Seq(none, one, all) = budgets(3000).map { case (_, b) => jobs(TileOps.chipper(15, b)(df).count()) }
    assert(none === many && none < one && one < all, s"jobs: $none, $one, $all")
    info(s"jobs: m = 2 $two, m = 200 $many; budgets forcing 0 / 1 / all rounds $none / $one / $all")
  }
}
