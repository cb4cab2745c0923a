package perfbench

import scala.collection.mutable

/** Expected answers, computed in plain Scala from the generator's
  * arrays — no engine operator is called here. */
object Expect {

  /** The engine's test hexagon shifted by whole units (dx, dy). Vertices
    * keep their .3/.7 fractions, so no 0.5-grid point lies on an edge:
    * every edge line reads a·x + b·y = c with a·x + b·y a multiple of 5
    * on the grid and c not, before and after any integer shift. */
  final case class Hexagon(dx: Int, dy: Int) {
    val verts: Seq[(Double, Double)] = Seq(
      (800.3, 500.7), (650.3, 760.7), (350.3, 760.7),
      (200.3, 500.7), (350.3, 240.7), (650.3, 240.7)).map { case (x, y) => (x + dx, y + dy) }
    def wkt: String =
      "POLYGON ((" + (verts :+ verts.head).map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
    private val vx = verts.map(_._1).toArray
    private val vy = verts.map(_._2).toArray
    /** Strict interior of the counter-clockwise hexagon: left of every edge. */
    def contains(x: Double, y: Double): Boolean = {
      var i = 0
      while (i < 6) {
        val j = (i + 1) % 6
        if ((vx(j) - vx(i)) * (y - vy(i)) - (vy(j) - vy(i)) * (x - vx(i)) <= 0) return false
        i += 1
      }
      true
    }
  }

  /** Hexagon of pass `p`: shifted by at most 30 units each way. */
  def hexagonOfPass(p: Int): Hexagon = Hexagon((p * 37) % 61 - 30, (p * 53) % 61 - 30)

  /** Per-tile (point count, distinct docs) of the points inside `hex`,
    * tiles of side `len` from the origin. */
  def pipTiles(pts: Points, hex: Hexagon, len: Double): Map[(Int, Int), (Long, Long)] = {
    val counts = mutable.HashMap.empty[(Int, Int), Long]
    val docs = mutable.HashSet.empty[(Int, Int, Int)]
    var i = 0
    while (i < pts.size) {
      val x = pts.xi(i) * 0.5; val y = pts.yi(i) * 0.5
      if (hex.contains(x, y)) {
        val t = ((x / len).toInt, (y / len).toInt)
        counts(t) = counts.getOrElse(t, 0L) + 1
        docs += ((t._1, t._2, pts.doc(i)))
      }
      i += 1
    }
    val distinct = docs.groupMapReduce(d => (d._1, d._2))(_ => 1L)(_ + _)
    counts.map { case (t, n) => t -> (n, distinct(t)) }.toMap
  }

  /** Radius outlier removal by a plain grid count: the ids of points
    * with at least `minNeighbors` other points within 3-D distance
    * `radius` (inclusive). */
  def rorSurvivors(ids: Array[(String, Int)], x: Array[Double], y: Array[Double],
                   z: Array[Double], radius: Double, minNeighbors: Int): Set[(String, Int)] = {
    def cell(v: Double): Long = math.floor(v / radius).toLong
    def key(cx: Long, cy: Long): Long = cx * 1000003L + cy
    val buckets = mutable.HashMap.empty[Long, mutable.ArrayBuffer[Int]]
    for (i <- x.indices)
      buckets.getOrElseUpdate(key(cell(x(i)), cell(y(i))), mutable.ArrayBuffer.empty) += i
    val r2 = radius * radius
    x.indices.filter { i =>
      val cx = cell(x(i)); val cy = cell(y(i))
      var n = 0
      for (ox <- -1 to 1; oy <- -1 to 1; j <- buckets.getOrElse(key(cx + ox, cy + oy), Nil)) {
        if (j != i) {
          val dx = x(i) - x(j); val dy = y(i) - y(j); val dz = z(i) - z(j)
          if (dx * dx + dy * dy + dz * dz <= r2) n += 1
        }
      }
      n >= minNeighbors
    }.map(i => ids(i)).toSet
  }

  /** Integer checksum of a point set on the 0.5 grid. */
  final case class Checksum(count: Long, sx: Long, sy: Long, sz: Long, si: Long)
}
