package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Coherent Point Drift registration, Spark-first.
  *
  * The reference exposes CPD as the `pdal cpd` kernel
  * (`plugins/cpd/kernel/Cpd.cpp:196-226` kernel flow, `:288-331`
  * chipThenRegister, `:273-285` getChip): it loads two clouds, optionally
  * chips the fixed cloud with filters.chipper (capacity 8000, buffer 50),
  * registers the moving cloud per chip, and emits the REGISTERED moving
  * points as X/Y/Z with the displacement (original - registered) in the
  * XVelocity/YVelocity/ZVelocity dimensions (`Cpd.cpp:240-251`). The EM
  * solver itself lives in the external public `cpd` library the reference
  * links — nothing of it is in the reference tree, so this file is a
  * clean-room re-derivation of the published algorithm (Myronenko & Song,
  * "Point Set Registration: Coherent Point Drift", IEEE TPAMI 32(12),
  * 2010: rigid Fig. 2, nonrigid Fig. 4) with a Spark-native execution
  * shape:
  *
  *  - GLOBAL RIGID: the moving cloud (M points, chip-sized by design) is
  *    broadcast; each EM iteration is ONE distributed pass over the fixed
  *    cloud (N points, arbitrarily large) accumulating the O(M·D)
  *    sufficient statistics (P1, PX, Pt1-weighted moments) via
  *    per-partition accumulation + treeReduce. The M-step is a 3x3 SVD on
  *    the driver. N never leaves the executors — this is the shape that
  *    survives a 100 TB fixed cloud.
  *  - CHIPPED (rigid or nonrigid): mirrors the reference's
  *    chipThenRegister — chip the fixed cloud (filters.chipper), buffer
  *    each chip bbox in x/y (z kept, `Cpd.cpp:310-315`), cut BOTH clouds
  *    to the buffered box, register per chip, clip the REGISTERED points
  *    back to the unbuffered box (`Cpd.cpp:320-321` tests the registered
  *    coordinates). Chips are independent → they run as parallel tasks
  *    (the reference loops them sequentially); per-chip state is bounded
  *    by the chip capacity, so executor memory is bounded at any scale.
  *
  * Normalization: like the published algorithm (and the external
  * library), each cloud is centered and scaled to unit RMS radius before
  * EM (keeps the default beta/lambda meaningful on any coordinate
  * scale); the recovered transform / registered points are mapped back
  * to world coordinates afterwards. [[estepStats]] itself is raw-space —
  * it is the SQL-mirrorable E-step used by the q_cpd_estep oracle.
  *
  * Defaults follow the reference kernel's published option defaults
  * (`Cpd.cpp:80-108`: tolerance 1e-5, max-iterations 150, outliers 0.1,
  * beta 3, lambda 3, sigma2 auto, chip capacity 8000, chip buffer 50).
  * Not carried: the FGT/low-rank accelerations (approximations internal
  * to the external library; chip-bounded exact EM replaces them here —
  * the per-chip point count is the knob) and the CLI-only file/bounds
  * switches.
  */
object CpdOps {

  /** E-step sufficient statistics for a moving set of m points against a
    * fixed set: layout-packed driver result.
    *   p1(j)        = sum_n p(j,n)                    (column sums of P)
    *   px(3j..3j+2) = sum_n p(j,n) * x_n              (P · X)
    *   spx(0..2)    = sum_n pt1_n * x_n, pt1_n = sum_j p(j,n)
    *   spxx         = sum_n pt1_n * |x_n|^2
    *   np           = sum_{j,n} p(j,n)
    */
  final case class EStats(m: Int, p1: Array[Double], px: Array[Double],
                          spx: Array[Double], spxx: Double, np: Double)

  final case class RigidResult(rotation: Array[Double], scale: Double,
                               translation: Array[Double], sigma2: Double,
                               iterations: Int, converged: Boolean) {
    /** Apply to one point: s·R·y + t. */
    def apply(y0: Double, y1: Double, y2: Double): (Double, Double, Double) = {
      val r = rotation
      (scale * (r(0) * y0 + r(1) * y1 + r(2) * y2) + translation(0),
       scale * (r(3) * y0 + r(4) * y1 + r(5) * y2) + translation(1),
       scale * (r(6) * y0 + r(7) * y1 + r(8) * y2) + translation(2))
    }
  }

  final case class CpdParams(
      tolerance: Double = 1e-5,
      maxIterations: Int = 150,
      outliers: Double = 0.1,
      sigma2: Double = 0.0, // <= 0: auto (paper init, mean sq distance / D)
      allowScale: Boolean = false,
      beta: Double = 3.0,
      lambda: Double = 3.0,
      normalize: Boolean = true)

  /** Hard cap on the broadcast/moving side and on per-chip group sizes —
    * the moving cloud is the replicated operand by design (the reference
    * chips at 8000); a larger one must be chipped first. Loud, not
    * silent. */
  val MaxMoving = 200000
  /** Cap for the nonrigid M×M kernel solve (O(M^3) — the reference
    * delegates bigger M to the external library's low-rank path, which
    * is its internal approximation; here the chip capacity is the
    * intended bound). */
  val MaxNonrigid = 4000

  // ---------------------------------------------------------------------
  // E-step core (shared by the distributed and per-chip paths)
  // ---------------------------------------------------------------------

  /** Accumulate one fixed point into `buf` (layout: p1[0,m) px[m,4m)
    * spx[4m,4m+3) spxx[4m+3] np[4m+4]). `ys` is packed m×3. `c` is the
    * uniform-outlier denominator constant. `scratch` holds the m
    * unnormalized weights (caller-allocated, reused across points). */
  private def accumulatePoint(x0: Double, x1: Double, x2: Double,
                              ys: Array[Double], m: Int, inv2s2: Double,
                              c: Double, buf: Array[Double],
                              scratch: Array[Double]): Unit = {
    var den = c
    var j = 0
    while (j < m) {
      val d0 = x0 - ys(3 * j); val d1 = x1 - ys(3 * j + 1); val d2 = x2 - ys(3 * j + 2)
      val e = math.exp(-(d0 * d0 + d1 * d1 + d2 * d2) * inv2s2)
      scratch(j) = e
      den += e
      j += 1
    }
    if (den > 0.0) {
      var pt1 = 0.0
      j = 0
      while (j < m) {
        val p = scratch(j) / den
        buf(j) += p
        buf(m + 3 * j) += p * x0
        buf(m + 3 * j + 1) += p * x1
        buf(m + 3 * j + 2) += p * x2
        pt1 += p
        j += 1
      }
      buf(4 * m) += pt1 * x0
      buf(4 * m + 1) += pt1 * x1
      buf(4 * m + 2) += pt1 * x2
      buf(4 * m + 3) += pt1 * (x0 * x0 + x1 * x1 + x2 * x2)
      buf(4 * m + 4) += pt1
    }
    // den == 0 only when outliers == 0 AND every weight underflowed —
    // the point is beyond any Gaussian reach; its true posterior mass
    // is a softmax over ~1e-320 values. It contributes nothing.
  }

  private def outlierConst(sigma2: Double, w: Double, m: Long, n: Long): Double =
    if (w <= 0.0) 0.0
    else math.pow(2.0 * math.Pi * sigma2, 1.5) * (w / (1.0 - w)) * m.toDouble / n.toDouble

  private def statsFromBuf(m: Int, buf: Array[Double]): EStats =
    EStats(m,
      java.util.Arrays.copyOfRange(buf, 0, m),
      java.util.Arrays.copyOfRange(buf, m, 4 * m),
      java.util.Arrays.copyOfRange(buf, 4 * m, 4 * m + 3),
      buf(4 * m + 3), buf(4 * m + 4))

  /** Local E-step over packed arrays (per-chip path). */
  private[graft] def estepLocal(xs: Array[Double], n: Int, ys: Array[Double], m: Int,
                                    sigma2: Double, w: Double): EStats = {
    val buf = new Array[Double](4 * m + 5)
    val scratch = new Array[Double](m)
    val inv2s2 = 1.0 / (2.0 * sigma2)
    val c = outlierConst(sigma2, w, m.toLong, n.toLong)
    var i = 0
    while (i < n) {
      accumulatePoint(xs(3 * i), xs(3 * i + 1), xs(3 * i + 2), ys, m, inv2s2, c, buf, scratch)
      i += 1
    }
    statsFromBuf(m, buf)
  }

  /** Distributed E-step: one pass over the fixed cloud; O(M·D) driver
    * result. `fixed` must expose x/y/z; `nFixed` is its count (the
    * outlier constant needs it — pass it in so iterating callers count
    * once). */
  def estepStats(fixed: DataFrame, moving: Array[Double], sigma2: Double,
                 outlierW: Double, nFixed: Long): EStats = {
    val m = moving.length / 3
    require(m > 0, "cpd: moving cloud is empty")
    require(m <= MaxMoving, s"cpd: moving cloud has $m points (> $MaxMoving); chip it first (chippedRegister)")
    require(sigma2 > 0.0, s"cpd: sigma2 must be positive, got $sigma2")
    val spark = fixed.sparkSession
    val ysB = spark.sparkContext.broadcast(moving)
    try {
      val inv2s2 = 1.0 / (2.0 * sigma2)
      val c = outlierConst(sigma2, outlierW, m.toLong, nFixed)
      val parts = fixed.select(col("x").cast("double"), col("y").cast("double"), col("z").cast("double"))
        .rdd.mapPartitions { it =>
          val ys = ysB.value
          val buf = new Array[Double](4 * m + 5)
          val scratch = new Array[Double](m)
          while (it.hasNext) {
            val r = it.next()
            accumulatePoint(r.getDouble(0), r.getDouble(1), r.getDouble(2), ys, m, inv2s2, c, buf, scratch)
          }
          Iterator.single(buf)
        }
      val total = parts.treeReduce({ (a, b) =>
        var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
      }, depth = 2)
      statsFromBuf(m, total)
    } finally ysB.destroy()
  }

  // ---------------------------------------------------------------------
  // Rigid M-step (driver, 3x3)
  // ---------------------------------------------------------------------

  /** One rigid M-step from E-stats. Returns (R row-major, s, t, sigma2New). */
  private def rigidMStep(st: EStats, ys: Array[Double], allowScale: Boolean): (Array[Double], Double, Array[Double], Double) = {
    val m = st.m
    require(st.np > 1e-12, "cpd: E-step posterior mass is ~0 (all points classified as outliers) — sigma2 too small or clouds disjoint")
    val np = st.np
    val mux = Array(st.spx(0) / np, st.spx(1) / np, st.spx(2) / np)
    val muy = new Array[Double](3)
    var j = 0
    while (j < m) {
      muy(0) += st.p1(j) * ys(3 * j); muy(1) += st.p1(j) * ys(3 * j + 1); muy(2) += st.p1(j) * ys(3 * j + 2)
      j += 1
    }
    muy(0) /= np; muy(1) /= np; muy(2) /= np
    // A = sum_m (px_m - p1_m*mux) (y_m - muy)^T   (3x3, row-major)
    val a = new Array[Double](9)
    var syy = 0.0
    j = 0
    while (j < m) {
      val yh0 = ys(3 * j) - muy(0); val yh1 = ys(3 * j + 1) - muy(1); val yh2 = ys(3 * j + 2) - muy(2)
      val q0 = st.px(3 * j) - st.p1(j) * mux(0)
      val q1 = st.px(3 * j + 1) - st.p1(j) * mux(1)
      val q2 = st.px(3 * j + 2) - st.p1(j) * mux(2)
      a(0) += q0 * yh0; a(1) += q0 * yh1; a(2) += q0 * yh2
      a(3) += q1 * yh0; a(4) += q1 * yh1; a(5) += q1 * yh2
      a(6) += q2 * yh0; a(7) += q2 * yh1; a(8) += q2 * yh2
      syy += st.p1(j) * (yh0 * yh0 + yh1 * yh1 + yh2 * yh2)
      j += 1
    }
    val am = new breeze.linalg.DenseMatrix(3, 3, a.clone(), 0, 3, isTranspose = true)
    val breeze.linalg.svd.SVD(u, sv, vt) = breeze.linalg.svd(am)
    // R = U C V^T, C = diag(1, 1, det(U V^T)) — proper rotation, no reflection
    val b = u * vt
    val detUVt =
      b(0, 0) * (b(1, 1) * b(2, 2) - b(1, 2) * b(2, 1)) -
      b(0, 1) * (b(1, 0) * b(2, 2) - b(1, 2) * b(2, 0)) +
      b(0, 2) * (b(1, 0) * b(2, 1) - b(1, 1) * b(2, 0))
    val sign = if (detUVt >= 0.0) 1.0 else -1.0
    val cDiag = breeze.linalg.diag(breeze.linalg.DenseVector(1.0, 1.0, sign))
    val rm = u * cDiag * vt
    val r = Array(rm(0, 0), rm(0, 1), rm(0, 2), rm(1, 0), rm(1, 1), rm(1, 2), rm(2, 0), rm(2, 1), rm(2, 2))
    val trSC = sv(0) + sv(1) + sign * sv(2)
    val s = if (allowScale) { require(syy > 1e-300, "cpd: degenerate moving cloud (zero spread)"); trSC / syy } else 1.0
    val t = Array(
      mux(0) - s * (r(0) * muy(0) + r(1) * muy(1) + r(2) * muy(2)),
      mux(1) - s * (r(3) * muy(0) + r(4) * muy(1) + r(5) * muy(2)),
      mux(2) - s * (r(6) * muy(0) + r(7) * muy(1) + r(8) * muy(2)))
    val sxx = st.spxx - np * (mux(0) * mux(0) + mux(1) * mux(1) + mux(2) * mux(2))
    val s2 = (sxx - 2.0 * s * trSC + s * s * syy) / (np * 3.0)
    (r, s, t, s2)
  }

  // ---------------------------------------------------------------------
  // Normalization (paper/library-style: center + unit RMS radius)
  // ---------------------------------------------------------------------

  private final case class Norm(mu: Array[Double], s: Double)

  private def normOf(sum: Array[Double], sumSq: Double, n: Long): Norm = {
    val mu = Array(sum(0) / n, sum(1) / n, sum(2) / n)
    val varSum = sumSq / n - (mu(0) * mu(0) + mu(1) * mu(1) + mu(2) * mu(2))
    Norm(mu, math.sqrt(math.max(varSum, 1e-300)))
  }

  private def normLocal(ps: Array[Double], n: Int): Norm = {
    val sum = new Array[Double](3); var sq = 0.0
    var i = 0
    while (i < n) {
      val a = ps(3 * i); val b = ps(3 * i + 1); val c = ps(3 * i + 2)
      sum(0) += a; sum(1) += b; sum(2) += c; sq += a * a + b * b + c * c
      i += 1
    }
    normOf(sum, sq, n.toLong)
  }

  private def applyNormLocal(ps: Array[Double], n: Int, nm: Norm): Array[Double] = {
    val out = new Array[Double](3 * n)
    var i = 0
    while (i < n) {
      out(3 * i) = (ps(3 * i) - nm.mu(0)) / nm.s
      out(3 * i + 1) = (ps(3 * i + 1) - nm.mu(1)) / nm.s
      out(3 * i + 2) = (ps(3 * i + 2) - nm.mu(2)) / nm.s
      i += 1
    }
    out
  }

  // ---------------------------------------------------------------------
  // Global rigid registration (distributed fixed cloud)
  // ---------------------------------------------------------------------

  /** Rigid CPD of a (small, broadcastable) moving cloud onto a (large,
    * distributed) fixed cloud. Each EM iteration is one pass over
    * `fixed`; the moving side is packed/broadcast once per sigma2 value.
    * Returns the world-frame transform. */
  def rigid(fixed: DataFrame, moving: Array[Double], params: CpdParams = CpdParams()): RigidResult = {
    val m = moving.length / 3
    require(m > 0, "cpd: moving cloud is empty")
    require(m <= MaxMoving, s"cpd: moving cloud has $m points (> $MaxMoving); chip it first")
    require(params.outliers >= 0.0 && params.outliers < 1.0, s"cpd: outliers must be in [0,1), got ${params.outliers}")

    // one narrow materialization of the fixed side; every EM pass reads it
    val xyz = fixed.select(col("x").cast("double").as("x"), col("y").cast("double").as("y"), col("z").cast("double").as("z"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val agg = xyz.agg(sum("x"), sum("y"), sum("z"),
        sum(col("x") * col("x") + col("y") * col("y") + col("z") * col("z")), count(lit(1))).head()
      val n = agg.getLong(4)
      require(n > 0, "cpd: fixed cloud is empty")
      val nmX = if (params.normalize) normOf(Array(agg.getDouble(0), agg.getDouble(1), agg.getDouble(2)), agg.getDouble(3), n)
                else Norm(Array(0.0, 0.0, 0.0), 1.0)
      // With scale pinned (rigid, no-scale), both clouds MUST share one
      // scale: independent per-cloud RMS normalization would inject an
      // effective world scale nmX.s/nmY.s into the "rigid" transform.
      val nmY0 = if (params.normalize) normLocal(moving, m) else Norm(Array(0.0, 0.0, 0.0), 1.0)
      val nmY = if (params.allowScale) nmY0 else Norm(nmY0.mu, nmX.s)
      val ysN = applyNormLocal(moving, m, nmY)
      val fixedN = if (params.normalize)
        xyz.select(((col("x") - nmX.mu(0)) / nmX.s).as("x"), ((col("y") - nmX.mu(1)) / nmX.s).as("y"), ((col("z") - nmX.mu(2)) / nmX.s).as("z"))
      else xyz

      // sigma2 init (paper): (1/DNM) sum_{mn} |x_n - y_m|^2, in normalized space
      var sigma2 =
        if (params.sigma2 > 0.0) params.sigma2 / (nmX.s * nmX.s) // user value is world-scale
        else {
          val a2 = fixedN.agg(sum("x"), sum("y"), sum("z"),
            sum(col("x") * col("x") + col("y") * col("y") + col("z") * col("z"))).head()
          val sx = Array(a2.getDouble(0), a2.getDouble(1), a2.getDouble(2))
          val sxx = a2.getDouble(3)
          var syy = 0.0; val sy = new Array[Double](3)
          var j = 0
          while (j < m) {
            sy(0) += ysN(3 * j); sy(1) += ysN(3 * j + 1); sy(2) += ysN(3 * j + 2)
            syy += ysN(3 * j) * ysN(3 * j) + ysN(3 * j + 1) * ysN(3 * j + 1) + ysN(3 * j + 2) * ysN(3 * j + 2)
            j += 1
          }
          (m * sxx + n * syy - 2.0 * (sx(0) * sy(0) + sx(1) * sy(1) + sx(2) * sy(2))) / (3.0 * n * m)
        }
      require(sigma2 > 0.0, s"cpd: non-positive initial sigma2 ($sigma2)")

      var r = Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
      var s = 1.0
      var t = new Array[Double](3)
      var it = 0
      var converged = false
      val cur = new Array[Double](3 * m)
      while (it < params.maxIterations && !converged) {
        // transform current moving estimate, E-step, M-step
        var j = 0
        while (j < m) {
          val y0 = ysN(3 * j); val y1 = ysN(3 * j + 1); val y2 = ysN(3 * j + 2)
          cur(3 * j) = s * (r(0) * y0 + r(1) * y1 + r(2) * y2) + t(0)
          cur(3 * j + 1) = s * (r(3) * y0 + r(4) * y1 + r(5) * y2) + t(1)
          cur(3 * j + 2) = s * (r(6) * y0 + r(7) * y1 + r(8) * y2) + t(2)
          j += 1
        }
        // E-step at the CURRENT transformed positions; the M-step then
        // solves for the ABSOLUTE transform against the original
        // (normalized) moving cloud — the P statistics index moving
        // points by ordinal, not by coordinates, so they carry over
        val st = estepStats(fixedN, cur, sigma2, params.outliers, n)
        val (r2, s2v, t2, sig2) = rigidMStep(st, ysN, params.allowScale)
        r = r2; s = s2v; t = t2
        val next = if (sig2 > 0.0) sig2 else 1e-12
        converged = math.abs(sigma2 - next) < params.tolerance * math.max(sigma2, 1e-12)
        sigma2 = next
        it += 1
      }
      // denormalize: X ≈ sX (ŝ R ŷ + t̂) + muX with ŷ = (y - muY)/sY
      val sWorld = s * nmX.s / nmY.s
      val tWorld = Array(
        nmX.s * t(0) + nmX.mu(0) - sWorld * (r(0) * nmY.mu(0) + r(1) * nmY.mu(1) + r(2) * nmY.mu(2)),
        nmX.s * t(1) + nmX.mu(1) - sWorld * (r(3) * nmY.mu(0) + r(4) * nmY.mu(1) + r(5) * nmY.mu(2)),
        nmX.s * t(2) + nmX.mu(2) - sWorld * (r(6) * nmY.mu(0) + r(7) * nmY.mu(1) + r(8) * nmY.mu(2)))
      RigidResult(r, sWorld, tWorld, sigma2 * nmX.s * nmX.s, it, converged)
    } finally { xyz.unpersist(); () }
  }

  /** DataFrame front-end: collects the moving cloud (loud cap), runs
    * [[rigid]], returns (result, registered moving frame) with the
    * reference's output contract — registered x/y/z plus displacement
    * dx/dy/dz = original − registered (`Cpd.cpp:240-251`). */
  def rigidRegister(fixed: DataFrame, moving: DataFrame, params: CpdParams = CpdParams()): (RigidResult, DataFrame) = {
    val rows = moving.select(col("doc_id"), col("span_idx"),
      col("x").cast("double"), col("y").cast("double"), col("z").cast("double"))
      .orderBy("doc_id", "span_idx").collect()
    require(rows.length <= MaxMoving, s"cpd: moving cloud has ${rows.length} points (> $MaxMoving); chip it first")
    val ys = new Array[Double](3 * rows.length)
    var j = 0
    while (j < rows.length) {
      ys(3 * j) = rows(j).getDouble(2); ys(3 * j + 1) = rows(j).getDouble(3); ys(3 * j + 2) = rows(j).getDouble(4)
      j += 1
    }
    val res = rigid(fixed, ys, params)
    val spark = fixed.sparkSession
    import spark.implicits._
    val out = rows.toSeq.map { rw =>
      val (rx, ry, rz) = res(rw.getDouble(2), rw.getDouble(3), rw.getDouble(4))
      (rw.getString(0), rw.getInt(1), rx, ry, rz, rw.getDouble(2) - rx, rw.getDouble(3) - ry, rw.getDouble(4) - rz)
    }.toDF("doc_id", "span_idx", "x", "y", "z", "dx", "dy", "dz")
    (res, out)
  }

  // ---------------------------------------------------------------------
  // Local EM (per-chip): rigid and nonrigid
  // ---------------------------------------------------------------------

  /** Local rigid EM over packed arrays; returns registered ys. */
  private[graft] def rigidLocal(xs: Array[Double], n: Int, ys: Array[Double], m: Int,
                                    params: CpdParams): (Array[Double], RigidResult) = {
    val nmX = if (params.normalize) normLocal(xs, n) else Norm(Array(0.0, 0.0, 0.0), 1.0)
    // shared scale when scale is pinned — see rigid()
    val nmY0 = if (params.normalize) normLocal(ys, m) else Norm(Array(0.0, 0.0, 0.0), 1.0)
    val nmY = if (params.allowScale) nmY0 else Norm(nmY0.mu, nmX.s)
    val xsN = applyNormLocal(xs, n, nmX)
    val ysN = applyNormLocal(ys, m, nmY)
    var sigma2 =
      if (params.sigma2 > 0.0) params.sigma2 / (nmX.s * nmX.s)
      else {
        var sxx = 0.0; var syy = 0.0
        val sx = new Array[Double](3); val sy = new Array[Double](3)
        var i = 0
        while (i < n) { sx(0) += xsN(3 * i); sx(1) += xsN(3 * i + 1); sx(2) += xsN(3 * i + 2)
          sxx += xsN(3 * i) * xsN(3 * i) + xsN(3 * i + 1) * xsN(3 * i + 1) + xsN(3 * i + 2) * xsN(3 * i + 2); i += 1 }
        var j = 0
        while (j < m) { sy(0) += ysN(3 * j); sy(1) += ysN(3 * j + 1); sy(2) += ysN(3 * j + 2)
          syy += ysN(3 * j) * ysN(3 * j) + ysN(3 * j + 1) * ysN(3 * j + 1) + ysN(3 * j + 2) * ysN(3 * j + 2); j += 1 }
        (m * sxx + n * syy - 2.0 * (sx(0) * sy(0) + sx(1) * sy(1) + sx(2) * sy(2))) / (3.0 * n * m)
      }
    var r = Array(1.0, 0.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 1.0)
    var s = 1.0; var t = new Array[Double](3)
    var it = 0; var converged = false
    val cur = new Array[Double](3 * m)
    while (it < params.maxIterations && !converged) {
      var j = 0
      while (j < m) {
        val y0 = ysN(3 * j); val y1 = ysN(3 * j + 1); val y2 = ysN(3 * j + 2)
        cur(3 * j) = s * (r(0) * y0 + r(1) * y1 + r(2) * y2) + t(0)
        cur(3 * j + 1) = s * (r(3) * y0 + r(4) * y1 + r(5) * y2) + t(1)
        cur(3 * j + 2) = s * (r(6) * y0 + r(7) * y1 + r(8) * y2) + t(2)
        j += 1
      }
      val st = estepLocal(xsN, n, cur, m, sigma2, params.outliers)
      val (r2, s2v, t2, sig2) = rigidMStep(st, ysN, params.allowScale)
      r = r2; s = s2v; t = t2
      val next = if (sig2 > 0.0) sig2 else 1e-12
      converged = math.abs(sigma2 - next) < params.tolerance * math.max(sigma2, 1e-12)
      sigma2 = next
      it += 1
    }
    val sWorld = s * nmX.s / nmY.s
    val tWorld = Array(
      nmX.s * t(0) + nmX.mu(0) - sWorld * (r(0) * nmY.mu(0) + r(1) * nmY.mu(1) + r(2) * nmY.mu(2)),
      nmX.s * t(1) + nmX.mu(1) - sWorld * (r(3) * nmY.mu(0) + r(4) * nmY.mu(1) + r(5) * nmY.mu(2)),
      nmX.s * t(2) + nmX.mu(2) - sWorld * (r(6) * nmY.mu(0) + r(7) * nmY.mu(1) + r(8) * nmY.mu(2)))
    val res = RigidResult(r, sWorld, tWorld, sigma2 * nmX.s * nmX.s, it, converged)
    val reg = new Array[Double](3 * m)
    var j = 0
    while (j < m) {
      val (a, b, c) = res(ys(3 * j), ys(3 * j + 1), ys(3 * j + 2))
      reg(3 * j) = a; reg(3 * j + 1) = b; reg(3 * j + 2) = c
      j += 1
    }
    (reg, res)
  }

  /** Local nonrigid EM (Myronenko & Song Fig. 4, full Gaussian kernel).
    * G_jk = exp(-|y_j - y_k|^2 / (2 beta^2)); each iteration solves
    * (d(P1)·G + lambda·sigma2·I) W = PX − d(P1)·Y for W (M×3), then
    * T = Y + G·W. O(M^3) per solve — loudly capped at [[MaxNonrigid]];
    * the chipped path is the scale mechanism (the external library's
    * low-rank/FGT modes are its internal approximations of the same
    * bound). Returns registered ys (world frame). */
  private[graft] def nonrigidLocal(xs: Array[Double], n: Int, ys: Array[Double], m: Int,
                                       params: CpdParams): (Array[Double], Double, Int, Boolean) = {
    require(m <= MaxNonrigid, s"cpd nonrigid: $m moving points exceeds the M×M solve cap $MaxNonrigid — lower the chip capacity")
    import breeze.linalg.DenseMatrix
    val nmX = if (params.normalize) normLocal(xs, n) else Norm(Array(0.0, 0.0, 0.0), 1.0)
    // per-cloud centers, shared scale: a scale mismatch between the two
    // normalized frames would read as a spurious global deformation that
    // the lambda regularizer then has to fight
    val nmY = if (params.normalize) Norm(normLocal(ys, m).mu, nmX.s) else Norm(Array(0.0, 0.0, 0.0), 1.0)
    val xsN = applyNormLocal(xs, n, nmX)
    val ysN = applyNormLocal(ys, m, nmY)
    val inv2b2 = 1.0 / (2.0 * params.beta * params.beta)
    val g = DenseMatrix.zeros[Double](m, m)
    var j = 0
    while (j < m) {
      var k = 0
      while (k < m) {
        val d0 = ysN(3 * j) - ysN(3 * k); val d1 = ysN(3 * j + 1) - ysN(3 * k + 1); val d2 = ysN(3 * j + 2) - ysN(3 * k + 2)
        g(j, k) = math.exp(-(d0 * d0 + d1 * d1 + d2 * d2) * inv2b2)
        k += 1
      }
      j += 1
    }
    var sigma2 =
      if (params.sigma2 > 0.0) params.sigma2 / (nmX.s * nmX.s)
      else {
        var sxx = 0.0; var syy = 0.0
        val sx = new Array[Double](3); val sy = new Array[Double](3)
        var i = 0
        while (i < n) { sx(0) += xsN(3 * i); sx(1) += xsN(3 * i + 1); sx(2) += xsN(3 * i + 2)
          sxx += xsN(3 * i) * xsN(3 * i) + xsN(3 * i + 1) * xsN(3 * i + 1) + xsN(3 * i + 2) * xsN(3 * i + 2); i += 1 }
        var q = 0
        while (q < m) { sy(0) += ysN(3 * q); sy(1) += ysN(3 * q + 1); sy(2) += ysN(3 * q + 2)
          syy += ysN(3 * q) * ysN(3 * q) + ysN(3 * q + 1) * ysN(3 * q + 1) + ysN(3 * q + 2) * ysN(3 * q + 2); q += 1 }
        (m * sxx + n * syy - 2.0 * (sx(0) * sy(0) + sx(1) * sy(1) + sx(2) * sy(2))) / (3.0 * n * m)
      }
    val tcur = ysN.clone()
    var it = 0; var converged = false
    while (it < params.maxIterations && !converged) {
      val st = estepLocal(xsN, n, tcur, m, sigma2, params.outliers)
      require(st.np > 1e-12, "cpd nonrigid: E-step posterior mass is ~0 — sigma2 too small or clouds disjoint")
      // LHS = d(P1) G + lambda sigma2 I ; RHS = PX - d(P1) Y
      val lhs = DenseMatrix.zeros[Double](m, m)
      var a = 0
      while (a < m) {
        var b = 0
        while (b < m) { lhs(a, b) = st.p1(a) * g(a, b); b += 1 }
        lhs(a, a) += params.lambda * sigma2
        a += 1
      }
      val rhs = DenseMatrix.zeros[Double](m, 3)
      a = 0
      while (a < m) {
        rhs(a, 0) = st.px(3 * a) - st.p1(a) * ysN(3 * a)
        rhs(a, 1) = st.px(3 * a + 1) - st.p1(a) * ysN(3 * a + 1)
        rhs(a, 2) = st.px(3 * a + 2) - st.p1(a) * ysN(3 * a + 2)
        a += 1
      }
      val wMat = lhs \ rhs
      val gw = g * wMat
      var trPxT = 0.0; var trTdT = 0.0
      a = 0
      while (a < m) {
        tcur(3 * a) = ysN(3 * a) + gw(a, 0)
        tcur(3 * a + 1) = ysN(3 * a + 1) + gw(a, 1)
        tcur(3 * a + 2) = ysN(3 * a + 2) + gw(a, 2)
        trPxT += st.px(3 * a) * tcur(3 * a) + st.px(3 * a + 1) * tcur(3 * a + 1) + st.px(3 * a + 2) * tcur(3 * a + 2)
        trTdT += st.p1(a) * (tcur(3 * a) * tcur(3 * a) + tcur(3 * a + 1) * tcur(3 * a + 1) + tcur(3 * a + 2) * tcur(3 * a + 2))
        a += 1
      }
      val next0 = (st.spxx - 2.0 * trPxT + trTdT) / (st.np * 3.0)
      val next = if (next0 > 0.0) next0 else 1e-12
      converged = math.abs(sigma2 - next) < params.tolerance * math.max(sigma2, 1e-12)
      sigma2 = next
      it += 1
    }
    // denormalize registered points into the FIXED cloud's world frame
    val reg = new Array[Double](3 * m)
    j = 0
    while (j < m) {
      reg(3 * j) = tcur(3 * j) * nmX.s + nmX.mu(0)
      reg(3 * j + 1) = tcur(3 * j + 1) * nmX.s + nmX.mu(1)
      reg(3 * j + 2) = tcur(3 * j + 2) * nmX.s + nmX.mu(2)
      j += 1
    }
    (reg, sigma2 * nmX.s * nmX.s, it, converged)
  }

  // ---------------------------------------------------------------------
  // Chipped registration (the reference kernel's chipThenRegister shape)
  // ---------------------------------------------------------------------

  // not `private`: Dataset encoders generate bytecode in another package
  // that must access these classes
  private[graft] final case class ChipPt(chip: Int, side: Byte, doc_id: String, span_idx: Int,
                                         x: Double, y: Double, z: Double)
  private[graft] final case class RegPt(chip: Int, doc_id: String, span_idx: Int,
                                        x: Double, y: Double, z: Double,
                                        dx: Double, dy: Double, dz: Double)

  /** Chip the fixed cloud, register the moving cloud per chip (rigid or
    * nonrigid), clip registered output to the unbuffered chip bounds —
    * the reference's chipThenRegister (`Cpd.cpp:288-331`) with the chip
    * loop distributed across executors instead of sequential. Both
    * clouds are cut to each chip's buffered box (x/y ± buffer, z from
    * the chip's own extent, `Cpd.cpp:310-315`); clipping tests the
    * REGISTERED coordinates (`Cpd.cpp:320-321`), so buffer-zone
    * duplicates and drops match the reference's semantics. Moving
    * points outside every buffered chip are dropped, as there.
    *
    * Output: one row per surviving (chip, moving point): registered
    * x/y/z + displacement dx/dy/dz (original − registered). */
  def chippedRegister(fixed: DataFrame, moving: DataFrame,
                      capacity: Long = 8000L, chipBuffer: Double = 50.0,
                      method: String = "rigid",
                      params: CpdParams = CpdParams()): DataFrame = {
    require(method == "rigid" || method == "nonrigid", s"cpd: unknown method '$method' (rigid|nonrigid)")
    val spark = fixed.sparkSession
    import spark.implicits._
    val chips = TileOps.chipper(capacity)(fixed)
    // per-chip 3D bounds: a bounded driver aggregate (#chips = n/capacity)
    val bounds = chips.groupBy("chip").agg(
      min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"),
      min("z").as("minz"), max("z").as("maxz")).collect()
      .map(r => (r.getInt(0),
        r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    val bDf = bounds.toSeq.toDF("chip", "minx", "maxx", "miny", "maxy", "minz", "maxz")

    def cut(df: DataFrame, side: Byte): Dataset[ChipPt] =
      df.select(col("doc_id").cast("string"), col("span_idx").cast("int"),
          col("x").cast("double"), col("y").cast("double"), col("z").cast("double"))
        .join(broadcast(bDf),
          col("x") >= col("minx") - chipBuffer && col("x") <= col("maxx") + chipBuffer &&
          col("y") >= col("miny") - chipBuffer && col("y") <= col("maxy") + chipBuffer &&
          col("z") >= col("minz") && col("z") <= col("maxz"))
        .select(col("chip"), lit(side).as("side"), col("doc_id"), col("span_idx"), col("x"), col("y"), col("z"))
        .as[ChipPt]

    val tagged = cut(fixed, 0).union(cut(moving, 1))
    val bByChip = bounds.map(b => b._1 -> b).toMap
    val bB = spark.sparkContext.broadcast(bByChip)
    val cap = capacity
    val registered = tagged.groupByKey(_.chip).flatMapGroups { (chip, it) =>
      val xsB = scala.collection.mutable.ArrayBuilder.make[Double]
      val ysB = scala.collection.mutable.ArrayBuilder.make[Double]
      val yIds = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
      var nx = 0; var ny = 0
      it.foreach { p =>
        if (p.side == 0) { xsB += p.x; xsB += p.y; xsB += p.z; nx += 1 }
        else { ysB += p.x; ysB += p.y; ysB += p.z; yIds += ((p.doc_id, p.span_idx)); ny += 1 }
        require(nx + ny <= 64L * cap + 65536,
          s"cpd chip $chip: group exceeds ${64L * cap + 65536} points — chip buffer too wide for the point density")
      }
      if (nx == 0 || ny == 0) Iterator.empty
      else {
        val xs = xsB.result(); val ys = ysB.result()
        val reg = method match {
          case "rigid" => rigidLocal(xs, nx, ys, ny, params)._1
          case _ => nonrigidLocal(xs, nx, ys, ny, params)._1
        }
        val (_, minx, maxx, miny, maxy, minz, maxz) = bB.value(chip)
        (0 until ny).iterator.flatMap { j =>
          val rx = reg(3 * j); val ry = reg(3 * j + 1); val rz = reg(3 * j + 2)
          // clip on the REGISTERED coordinates against the UNBUFFERED box
          if (rx >= minx && rx <= maxx && ry >= miny && ry <= maxy && rz >= minz && rz <= maxz) {
            val (d, si) = yIds(j)
            Some(RegPt(chip, d, si, rx, ry, rz, ys(3 * j) - rx, ys(3 * j + 1) - ry, ys(3 * j + 2) - rz))
          } else None
        }
      }
    }
    registered.toDF()
  }
}
