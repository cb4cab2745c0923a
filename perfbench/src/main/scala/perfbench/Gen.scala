package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}

/** Seeded input generator. Every document is a pure function of
  * (seed, mode, doc index), so the in-process arrays the expectations
  * are computed from and the parquet files the engine reads are built
  * independently from the same definition.
  *
  * Points sit on the engine's 0.5 payload grid: `x = xi * 0.5` with
  * `xi` in [0, 2000), so every coordinate lies inside the engine's
  * default [0, 1024)² cell space.
  */
object Gen {

  sealed trait Mode extends Serializable
  /** Uniform density over the whole square. */
  case object Uniform extends Mode
  /** Points confined to [0, extent)²: `hot` gaussian clusters of spread
    * `sigma` (world units) hold `share` of them, cluster c drawn with
    * weight ~ (hot - c)², so one tile is much hotter than the rest; the
    * remainder is uniform background. z follows a gentle ground slope,
    * with a quarter of the points lifted above it (objects for the
    * ground filter). */
  final case class Clustered(hot: Int, share: Double, sigma: Double, extent: Double) extends Mode

  val MaxPointsPerDoc = 7

  /** One document's points as rows of (xi, yi, zi, intensity). */
  def doc(seed: Long, mode: Mode, d: Int): Array[Array[Int]] = {
    val rng = new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + d))
    val n = 1 + rng.nextInt(MaxPointsPerDoc)
    Array.fill(n) {
      mode match {
        case Uniform =>
          Array(rng.nextInt(2000), rng.nextInt(2000), rng.nextInt(400), rng.nextInt(65536))
        case Clustered(hot, share, sigma, extent) =>
          val (xi, yi) =
            if (rng.nextDouble() < share) {
              val u = rng.nextDouble()
              val c = math.min(hot - 1, (hot * u * u).toInt)
              val (cx, cy) = centers(hot)(c)
              (grid(cx * extent + rng.nextGaussian() * sigma, extent),
                grid(cy * extent + rng.nextGaussian() * sigma, extent))
            } else (rng.nextInt((2 * extent).toInt), rng.nextInt((2 * extent).toInt))
          val ground = 200 + (xi + 2 * yi) / 50
          val zi = if (rng.nextDouble() < 0.25) ground + 8 + rng.nextInt(60) else ground + rng.nextInt(2)
          Array(xi, yi, zi, rng.nextInt(65536))
      }
    }
  }

  private def grid(v: Double, extent: Double): Int =
    math.max(0, math.min((2 * extent).toInt - 1, math.round(v * 2).toInt))

  /** Cluster centres as fractions of the extent: a fixed ring, so every
    * seed has the same skew and only the points themselves vary. */
  def centers(hot: Int): Array[(Double, Double)] =
    Array.tabulate(hot) { c =>
      val a = 2 * math.Pi * c / hot
      (0.5 + 0.3 * math.cos(a), 0.5 + 0.3 * math.sin(a))
    }

  /** SplitMix64 finaliser: decorrelates neighbouring doc indices. */
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def docId(d: Int): String = f"d$d%08d"
  def pid(d: Int, j: Int): Long = d.toLong * 8 + j

  /** The canonical `(doc_id, spans)` row of document `d`: point span j
    * at offset 3j with payload `xi,yi,zi,intensity,pid`; a text span
    * after every odd point and a media span after every point with
    * j ≡ 1 (mod 3), interleaved in offset order. */
  def docRow(seed: Long, mode: Mode, d: Int): Row = {
    val pts = doc(seed, mode, d)
    val spans = Array.newBuilder[Row]
    var j = 0
    while (j < pts.length) {
      val p = pts(j)
      spans += Row("point", s"${p(0)},${p(1)},${p(2)},${p(3)},${pid(d, j)}", "", 3 * j)
      if (j % 2 == 1) spans += Row("text", s"segment $j of ${docId(d)}", "", 3 * j + 1)
      if (j % 3 == 1) spans += Row("media", "", s"blob://$d/$j", 3 * j + 2)
      j += 1
    }
    Row(docId(d), spans.result().toSeq)
  }

  /** Write `nDocs` documents as `files` parquet files under `dir`. The
    * executors regenerate their documents from the seed; nothing but
    * (seed, mode, range) crosses to them. */
  def writeDocs(spark: SparkSession, dir: String, seed: Long, mode: Mode,
                nDocs: Int, files: Int): Unit = {
    val per = (nDocs + files - 1) / files
    val rows = spark.sparkContext.parallelize(0 until files, files).flatMap { f =>
      (f * per until math.min(nDocs, (f + 1) * per)).iterator.map(d => docRow(seed, mode, d))
    }
    spark.createDataFrame(rows, graft.model.Model.docSchema)
      .write.mode("overwrite").parquet(dir)
  }

  /** All points of documents [0, nDocs), flattened in doc order. */
  def points(seed: Long, mode: Mode, nDocs: Int): Points = {
    val b = new Points.Builder
    var d = 0
    while (d < nDocs) {
      val ps = doc(seed, mode, d)
      var j = 0
      while (j < ps.length) { b.add(d, j, ps(j)); j += 1 }
      d += 1
    }
    b.result()
  }
}

/** Flattened point set: parallel arrays, one slot per point. */
final class Points(val doc: Array[Int], val span: Array[Int], val xi: Array[Int],
                   val yi: Array[Int], val zi: Array[Int], val intensity: Array[Int]) {
  def size: Int = xi.length
}

object Points {
  final class Builder {
    private val cols = Array.fill(6)(Array.newBuilder[Int])
    def add(d: Int, j: Int, p: Array[Int]): Unit = {
      cols(0) += d; cols(1) += 3 * j
      var k = 0
      while (k < 4) { cols(2 + k) += p(k); k += 1 }
    }
    def result(): Points = {
      val a = cols.map(_.result())
      new Points(a(0), a(1), a(2), a(3), a(4), a(5))
    }
  }
}
