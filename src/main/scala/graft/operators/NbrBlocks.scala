package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeArrayData}
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import graft.functions.InSortedLongs
import graft.index.CellSpace
import graft.plans.{Kernels, RowFold}

/** The neighbourhood kernel's block grid: square blocks of side
  * 4 * `reach` anchored at (ox, oy), unclamped. A point lives in its home
  * block and is copied into each neighbouring block whose border lies
  * within `reach` of it, so a block's rows hold every point within
  * `reach` of the block. On uniform data that is 1 + 4/4 + 4/16 = 2.25
  * rows per point and never more than 4 (the side is four reaches, so a
  * point is near at most one x border and one y border). With `single`
  * every point is in block 0 and nothing is copied. */
final case class BlockGrid(ox: Double, oy: Double, reach: Double, single: Boolean = false) {
  require(single || (reach > 0 && !reach.isInfinite), s"block reach $reach must be positive and finite")
  val side: Double = 4 * reach

  private def index(v: Double): Long = {
    val b = math.floor(v / side).toLong
    if (b < -BlockGrid.MaxIndex || b > BlockGrid.MaxIndex)
      throw new IllegalArgumentException(
        s"offset $v lies more than 2^30 blocks of side $side from the block grid origin")
    b
  }

  /** Key of the block holding (x, y). */
  def home(x: Double, y: Double): Long =
    if (single) 0L else BlockGrid.pack(index(x - ox), index(y - oy))

  /** Keys of the home block (first) and of every halo block of (x, y). */
  def blocks(x: Double, y: Double): Array[Long] = {
    if (single) return Array(0L)
    val u = x - ox; val v = y - oy
    val bx = index(u); val by = index(v)
    val h = reach + NbrBlocks.tol(x, y, side)
    val xs = BlockGrid.near(bx, u - bx * side, side, h)
    val ys = BlockGrid.near(by, v - by * side, side, h)
    val out = new Array[Long](xs.length * ys.length)
    var i = 0
    for (a <- xs; b <- ys) { out(i) = BlockGrid.pack(a, b); i += 1 }
    out
  }

  /** Distance from (x, y) to the border of its home block `key`. */
  def edge(x: Double, y: Double, key: Long): Double =
    if (single) Double.PositiveInfinity
    else {
      val fx = (x - ox) - (key >> 32) * side
      val fy = (y - oy) - ((key << 32) >> 32) * side
      math.min(math.min(fx, side - fx), math.min(fy, side - fy))
    }
}

object BlockGrid {
  private val MaxIndex = 1L << 30
  private def pack(bx: Long, by: Long): Long = (bx << 32) | (by & 0xffffffffL)
  /** Block indices along one axis: home `b`, then the neighbours whose
    * border lies within `h` of the in-block offset `f`. */
  private def near(b: Long, f: Double, side: Double, h: Double): Array[Long] =
    (f <= h, side - f <= h) match {
      case (false, false) => Array(b)
      case (true, false) => Array(b, b - 1)
      case (false, true) => Array(b, b + 1)
      case (true, true) => Array(b, b - 1, b + 1)
    }

  /** Grid whose reach is the cell side at kNN `level` (level 0: one block). */
  def atLevel(space: CellSpace, level: Int): BlockGrid = {
    val reach = math.min(space.maxx - space.minx, space.maxy - space.miny) / (1L << level).toDouble
    BlockGrid(space.minx, space.miny, reach, single = level == 0)
  }
}

/** Codegen'd block keys of a point: the home block and its halo copies
  * (array, for `explode`), or the home block alone. */
case class HaloBlocksExpr(left: Expression, right: Expression, grid: BlockGrid,
                          homeOnly: Boolean = false)
    extends BinaryExpression with Serializable {
  override def dataType: DataType =
    if (homeOnly) LongType else ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (homeOnly) "home_block" else "halo_blocks"
  override protected def nullSafeEval(x: Any, y: Any): Any = {
    val (a, b) = (x.asInstanceOf[Double], y.asInstanceOf[Double])
    if (homeOnly) grid.home(a, b) else NbrBlocks.haloData(grid, a, b)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val g = ctx.addReferenceObj("grid", grid, classOf[BlockGrid].getName)
    nullSafeCodeGen(ctx, ev, (x, y) =>
      if (homeOnly) s"${ev.value} = $g.home($x, $y);"
      else s"${ev.value} = graft.operators.NbrBlocks.haloData($g, $x, $y);")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Uncertified kNN targets of one round's output rows (`__x`, `__y` and
  * `__ok` are fields 1, 2 and 5): how many, and the distinct keys of their
  * home blocks on grid `next`, up to `cap` (past it the key set is
  * dropped and the next round reads every source). */
final class PendingBlocks(cap: Int, next: BlockGrid) extends RowFold.Partial[PendingBlocks] {
  var count = 0L
  private var overflow = false
  private val keys = new java.util.HashSet[java.lang.Long]()
  def add(r: InternalRow): Unit =
    if (!r.getBoolean(5)) { count += 1; addKey(next.home(r.getDouble(1), r.getDouble(2))) }
  private def addKey(k: Long): Unit =
    if (!overflow) {
      keys.add(k)
      if (keys.size > cap) { overflow = true; keys.clear() }
    }
  def merge(p: PendingBlocks): Unit = {
    count += p.count
    if (p.overflow) { overflow = true; keys.clear() }
    else p.keys.forEach(k => addKey(k))
  }
  /** The sorted next-level block keys, or None past the cap. */
  def blocks: Option[Array[Long]] =
    if (overflow) None else Some(keys.toArray(Array.empty[java.lang.Long]).map(_.longValue).sorted)
}

/** One neighbourhood kernel for the engine's exact point-neighbourhood
  * operators (kNN distances, nearest-1, radius counts, per-point PMF).
  * Each point is keyed to its [[BlockGrid]] block and copied into the
  * blocks within `reach` (one codegen'd [[HaloBlocksExpr]] under an
  * `explode`); ONE shuffle groups each block, and an exact reducer runs
  * over the block's primitive arrays with a local bucket grid. No pair
  * rows, no aggregate, no join per round: the adaptive-replication spatial
  * join (*Parallel Spatial Join Processing with Adaptive Replication*,
  * EDBT 2025) without the pair list a top-k would otherwise factor over
  * (*Adaptive Factorization*, CIDR 2025).
  *
  * Block rows: (__blk, __tgt, __src, __pid, __x, __y, __z, __row[, __sid]).
  * `__tgt` rows are answered (always in their home block), `__src` rows
  * are searched; `__row` carries a target's payload through unchanged. */
object NbrBlocks {
  import ExpressionUtils.{column => toCol, expression => toExpr}

  /** Float tolerance around (x, y): halo tests widen and certificates
    * narrow by it — orders of magnitude above the rounding of the
    * coordinate arithmetic, far below any physical distance. */
  @inline def tol(x: Double, y: Double, scale: Double): Double =
    1e-12 * (math.abs(x) + math.abs(y) + scale)

  def haloData(g: BlockGrid, x: Double, y: Double): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(g.blocks(x, y))

  private def halo(g: BlockGrid): Column =
    toCol(HaloBlocksExpr(toExpr(col("__x")), toExpr(col("__y")), g))
  private def home(g: BlockGrid): Column =
    toCol(HaloBlocksExpr(toExpr(col("__x")), toExpr(col("__y")), g, homeOnly = true))

  /** Null coordinates read as NaN: such a point is in no neighbourhood. */
  private def coord(c: String): Column = coalesce(col(c).cast(DoubleType), lit(Double.NaN))

  /** (__pid, __x, __y, __z, __row = struct of `payload`) of `df`. */
  private def points(df: DataFrame, payload: Seq[String], pid: Column): DataFrame =
    df.select(pid.as("__pid"), coord("x").as("__x"), coord("y").as("__y"), coord("z").as("__z"),
      struct(payload.map(col): _*).as("__row"))

  private val core = Seq("__pid", "__x", "__y", "__z").map(col)

  /** Every point as target (home copy) and source (home + halo copies). */
  private def selfRows(pts: DataFrame, g: BlockGrid, extra: Seq[Column]): DataFrame =
    pts.select(col("*"), posexplode(halo(g)).as(Seq("__pos", "__blk")))
      .select(Seq(col("__blk"), (col("__pos") === 0).as("__tgt"), lit(true).as("__src")) ++ core ++
        Seq(when(col("__pos") === 0, col("__row")).as("__row")) ++ extra: _*)

  /** Points grouped by block (home and halo copies), each block reduced
    * in its task by the planned halo-block reduce ([[Kernels.groupReduce]]):
    * one exchange on `__blk`, rows kept as UnsafeRows, payloads unopened. */
  private def perBlock(rows: DataFrame, out: StructType, name: String, n: Long)
                      (reduce: (Block, SQLMetric) => Iterator[InternalRow]): DataFrame = {
    val width = rows.schema("__row").dataType.asInstanceOf[StructType].length
    Kernels.groupReduce(rows, "__blk", clustered = true, out, new Kernels.GroupKernel {
      def apply(key: Long, rs: Array[InternalRow], ok: SQLMetric) = reduce(new Block(key, rs, width), ok)
      def rounds: Long = n
      override def toString: String = name
    })
  }

  /** One block's rows as primitive arrays; `row` and `sid` are the
    * payload and (doc_id, span_idx) structs, null where a row has none. */
  private final class Block(val key: Long, rs: Array[InternalRow], width: Int) {
    val n: Int = rs.length
    val tgt: Array[Boolean] = rs.map(_.getBoolean(1))
    val src: Array[Boolean] = rs.map(_.getBoolean(2))
    val pid: Array[Long] = rs.map(_.getLong(3))
    val x: Array[Double] = rs.map(_.getDouble(4))
    val y: Array[Double] = rs.map(_.getDouble(5))
    val z: Array[Double] = rs.map(_.getDouble(6))
    val row: Array[InternalRow] = rs.map(r => if (r.isNullAt(7)) null else r.getStruct(7, width))
    val sid: Array[InternalRow] =
      rs.map(r => if (r.numFields < 9 || r.isNullAt(8)) null else r.getStruct(8, 2))
    def finite(i: Int): Boolean = !x(i).isNaN && !y(i).isNaN
    @inline def d2(t: Int, s: Int, dims3: Boolean): Double = {
      // explicit products in this order: bit-identical to the SQL twins
      val dx = x(t) - x(s); val dy = y(t) - y(s)
      if (dims3) { val dz = z(t) - z(s); (dx * dx + dy * dy) + dz * dz }
      else dx * dx + dy * dy
    }
  }

  /** Counting-sort bucket grid over the finite `members` of a block,
    * spanning every finite point of the block (targets included); the
    * cell side starts at `cell0` and doubles until at most `cap` cells. */
  private final class LocalGrid(b: Block, members: Array[Int], cell0: Double, cap: Long) {
    var minx = Double.PositiveInfinity; var miny = Double.PositiveInfinity
    private var maxx = Double.NegativeInfinity; private var maxy = Double.NegativeInfinity
    (0 until b.n).foreach { i =>
      if (b.finite(i)) {
        minx = math.min(minx, b.x(i)); maxx = math.max(maxx, b.x(i))
        miny = math.min(miny, b.y(i)); maxy = math.max(maxy, b.y(i))
      }
    }
    if (minx > maxx) { minx = 0; maxx = 0; miny = 0; maxy = 0 }
    val cell: Double = {
      var c = if (cell0 > 0) cell0 else 1.0
      while ((math.floor((maxx - minx) / c) + 1) * (math.floor((maxy - miny) / c) + 1) > cap) c *= 2
      c
    }
    val nx: Int = math.floor((maxx - minx) / cell).toInt + 1
    val ny: Int = math.floor((maxy - miny) / cell).toInt + 1
    def cx(v: Double): Int = clampTo(math.floor((v - minx) / cell), nx)
    def cy(v: Double): Int = clampTo(math.floor((v - miny) / cell), ny)
    private def clampTo(i: Double, n: Int): Int = if (!(i > 0)) 0 else if (i >= n) n - 1 else i.toInt
    val start = new Array[Int](nx * ny + 1)
    private val live = members.filter(b.finite)
    val items = new Array[Int](live.length)
    live.foreach(s => start(cy(b.y(s)) * nx + cx(b.x(s)) + 1) += 1)
    (1 to nx * ny).foreach(c => start(c) += start(c - 1))
    private val fill = java.util.Arrays.copyOf(start, start.length)
    live.foreach { s =>
      val c = cy(b.y(s)) * nx + cx(b.x(s)); items(fill(c)) = s; fill(c) += 1
    }
    /** Members in the cells overlapping [x0, x1] x [y0, y1]. */
    def box(x0: Double, x1: Double, y0: Double, y1: Double)(f: Int => Unit): Unit = {
      var gy = cy(y0); val gy1 = cy(y1)
      while (gy <= gy1) {
        var gx = cx(x0); val gx1 = cx(x1)
        while (gx <= gx1) {
          val c = gy * nx + gx
          var p = start(c)
          while (p < start(c + 1)) { f(items(p)); p += 1 }
          gx += 1
        }
        gy += 1
      }
    }
  }

  /** A target's candidate set during a ring search. */
  private trait Collect {
    def full: Boolean
    def worst: Double
    def offer(d2: Double, s: Int): Unit
    /** Exact given every source within `rMax` was offered (one block:
      * exact whenever anything was found). */
    def ok(rMax: Double, single: Boolean): Boolean
    /** The result columns' values. */
    def values: Seq[Any]
  }

  /** The k smallest squared distances (a max-heap in `h`). */
  private final class TopK(k: Int) extends Collect {
    private val h = new Array[Double](k)
    var size = 0
    def full: Boolean = size == k
    def worst: Double = h(0)
    def offer(d2: Double, s: Int): Unit =
      if (size < k) {
        var i = size; h(i) = d2; size += 1
        while (i > 0 && h((i - 1) / 2) < h(i)) {
          val p = (i - 1) / 2; val t = h(p); h(p) = h(i); h(i) = t; i = p
        }
      } else if (d2 < h(0)) {
        h(0) = d2
        var i = 0; var go = true
        while (go) {
          val l = 2 * i + 1; val r = l + 1
          var m = i
          if (l < k && h(l) > h(m)) m = l
          if (r < k && h(r) > h(m)) m = r
          if (m == i) go = false else { val t = h(i); h(i) = h(m); h(m) = t; i = m }
        }
      }
    def ok(rMax: Double, single: Boolean): Boolean =
      if (single) size > 0 else full && h(0) <= rMax * rMax
    def values: Seq[Any] = {
      val a = java.util.Arrays.copyOf(h, size); java.util.Arrays.sort(a)
      Seq(UnsafeArrayData.fromPrimitiveArray(a))
    }
  }

  /** The nearest source under the (d2, doc_id, span_idx) order. */
  private final class Nearest(b: Block, ids: Seq[DataType]) extends Collect {
    var best = -1
    var bestD2 = Double.PositiveInfinity
    def full: Boolean = best >= 0
    def worst: Double = bestD2
    def offer(d2: Double, s: Int): Unit =
      if (best < 0 || d2 < bestD2 || (d2 == bestD2 && compareIds(b.sid(s), b.sid(best), ids) < 0)) {
        best = s; bestD2 = d2
      }
    def ok(rMax: Double, single: Boolean): Boolean = full && bestD2 <= rMax * rMax
    def values: Seq[Any] = Seq(new GenericInternalRow(Array[Any](b.x(best), b.y(best), b.z(best))), bestD2)
  }

  /** Spark's ascending order of (doc_id, span_idx): nulls first, strings
    * by UTF-8 bytes. */
  private def compareIds(a: InternalRow, b: InternalRow, types: Seq[DataType]): Int = {
    def one(u: Any, v: Any): Int = (u, v) match {
      case (null, null) => 0
      case (null, _) => -1
      case (_, null) => 1
      case (s: UTF8String, t: UTF8String) => s.binaryCompare(t)
      case (s, t) => s.asInstanceOf[Comparable[Any]].compareTo(t)
    }
    val c = one(a.get(0, types(0)), b.get(0, types(0)))
    if (c != 0) c else one(a.get(1, types(1)), b.get(1, types(1)))
  }

  /** Offer target t's sources ring by ring around its cell until the
    * candidates are complete (the worst lies inside the searched square)
    * or the square covers radius `rMax`. `self` is a pid never offered. */
  private def ringSearch(b: Block, gr: LocalGrid, t: Int, rMax: Double, self: Long,
                         dims3: Boolean, c: Collect): Unit = {
    val tx = b.x(t); val ty = b.y(t)
    val sl = 2 * tol(tx, ty, gr.cell)
    val cx = gr.cx(tx); val cy = gr.cy(ty)
    def visit(gx: Int, gy: Int): Unit = {
      val cell = gy * gr.nx + gx
      var p = gr.start(cell)
      while (p < gr.start(cell + 1)) {
        val s = gr.items(p)
        if (b.pid(s) != self) c.offer(b.d2(t, s, dims3), s)
        p += 1
      }
    }
    var j = 0
    var go = true
    while (go) {
      val x0 = cx - j; val x1 = cx + j; val y0 = cy - j; val y1 = cy + j
      if (j == 0) visit(cx, cy)
      else {
        var gx = math.max(x0, 0)
        while (gx <= math.min(x1, gr.nx - 1)) {
          if (y0 >= 0) visit(gx, y0)
          if (y1 < gr.ny) visit(gx, y1)
          gx += 1
        }
        var gy = math.max(y0 + 1, 0)
        while (gy <= math.min(y1 - 1, gr.ny - 1)) {
          if (x0 >= 0) visit(x0, gy)
          if (x1 < gr.nx) visit(x1, gy)
          gy += 1
        }
      }
      // distance from t to the unsearched cells (infinite past the grid)
      val inf = Double.PositiveInfinity
      val bound = math.min(
        math.min(if (x0 <= 0) inf else tx - (gr.minx + x0 * gr.cell),
          if (x1 >= gr.nx - 1) inf else (gr.minx + (x1 + 1) * gr.cell) - tx),
        math.min(if (y0 <= 0) inf else ty - (gr.miny + y0 * gr.cell),
          if (y1 >= gr.ny - 1) inf else (gr.miny + (y1 + 1) * gr.cell) - ty)) - sl
      go = !(bound.isPosInfinity || bound >= rMax ||
        (c.full && bound >= 0 && c.worst <= bound * bound))
      j += 1
    }
  }

  /** Exact kNN by certificate and escalation. A target certifies in its
    * home block when its candidates are complete within radius reach +
    * its distance to the block border (every point that close is in the
    * block's rows); the rest re-run 4x coarser, against only the sources
    * of the blocks that hold them, until level 0 (one block: exact by
    * construction, targets without any candidate dropped). Each round is
    * one block shuffle, materialized once; the round's uncertified count
    * and next-level blocks are folded ([[PendingBlocks]]) by that
    * materialization's own job, so a round launches no job beyond it.
    * Returns `payload` columns + `result` columns. */
  private def knnRounds(left: DataFrame, right: DataFrame, startLevel: Int, space: CellSpace,
                        dims3: Boolean, excludeSelf: Boolean, kHint: Int, payload: Seq[String],
                        nearest: Boolean, result: StructType)
                       (collector: Block => Collect): DataFrame = {
    require(!excludeSelf || (left eq right),
      "excludeSelf requires the same frame reference on both sides " +
        "(self identity is tracked by the internal point id)")
    val self = left eq right
    val xyz = Seq(coord("x").as("__x"), coord("y").as("__y"), coord("z").as("__z"))
    val sid = if (nearest) Seq(col("__sid")) else Nil
    // sources (and a self join's targets) materialized once with a frozen
    // point id: every round reads them, and excludeSelf compares ids
    val rP = right.select((monotonically_increasing_id().as("__pid") +: xyz) ++
        (if (self) Seq(struct(payload.map(col): _*).as("__row")) else Nil) ++
        (if (nearest) Seq(struct(col("doc_id"), col("span_idx")).as("__sid")) else Nil): _*)
      .localCheckpoint(eager = true)
    var pending =
      if (self) rP.select(core :+ col("__row"): _*) else points(left, payload, lit(-1L))
    val rowType = pending.schema("__row").dataType
    val noSid = if (nearest) Seq(lit(null).cast(rP.schema("__sid").dataType).as("__sid")) else Nil
    // the point columns are never null (null coordinates read as NaN), so
    // every round's block key, like the first's, is a non-null long
    val out = StructType(Seq("__pid" -> LongType, "__x" -> DoubleType, "__y" -> DoubleType,
        "__z" -> DoubleType).map { case (c, t) => StructField(c, t, nullable = false) } ++
      Seq(StructField("__row", rowType), StructField("__ok", BooleanType, nullable = false)) ++
      result.fields)
    var lvl =
      if (startLevel >= 0) startLevel
      else if (!dims3) JoinOps.knnAutoLevel(rP.count(), kHint)
      else {
        // one tiny aggregate over the materialized sources: row count +
        // robust vertical spread (p05..p95) for the 3D-aware level pick
        val st = rP.agg(count(lit(1)).as("n"),
          expr("percentile_approx(__z, array(0.05d, 0.95d))").as("zq")).head()
        val zq = if (st.isNullAt(1)) null else st.getSeq[Double](1)
        val spread = if (zq == null || zq.length < 2) 0.0 else zq(1) - zq(0)
        JoinOps.knnAutoLevel(st.getLong(0), kHint, space, spread, margin = 6.0)
      }
    val certified = ArrayBuffer.empty[DataFrame]
    var keep: Option[Array[Long]] = None
    var first = true
    var done = false
    var rounds = 0L
    while (!done) {
      val g = BlockGrid.atLevel(space, lvl)
      val next = BlockGrid.atLevel(space, math.max(0, lvl - 2))
      val rows =
        if (first && self) selfRows(rP, g, sid)
        else {
          val halos = rP.select(col("*"), explode(halo(g)).as("__blk"))
          // escalation rounds: only blocks that hold pending targets matter
          // — filter map-side, before the shuffle
          val kept = keep.filterNot(_ => g.single)
            .fold(halos)(ks => halos.filter(toCol(InSortedLongs(toExpr(col("__blk")), ks))))
          kept.select(Seq(col("__blk"), lit(false).as("__tgt"), lit(true).as("__src")) ++ core ++
              Seq(lit(null).cast(rowType).as("__row")) ++ sid: _*)
            .unionByName(pending.select(Seq(home(g).as("__blk"), lit(true).as("__tgt"),
              lit(false).as("__src")) ++ core ++ Seq(col("__row")) ++ noSid: _*))
        }
      rounds += 1
      val kind = if (nearest) "nearest" else s"kNN k=$kHint"
      val round = perBlock(rows, out, s"$kind level $lvl", rounds) { (b, ok) =>
        val members = (0 until b.n).filter(b.src(_)).toArray
        // cells of ~2 sources: the ring search stops after a ring or two
        val gr = new LocalGrid(b, members, g.reach / 64, members.length / 2 + 16)
        (0 until b.n).iterator.filter(b.tgt(_)).flatMap { t =>
          val (tx, ty) = (b.x(t), b.y(t))
          val rMax = g.reach + g.edge(tx, ty, b.key) - 2 * tol(tx, ty, g.side)
          val c = collector(b)
          ringSearch(b, gr, t, rMax, if (excludeSelf) b.pid(t) else Long.MinValue, dims3, c)
          val head = Seq(b.pid(t), tx, ty, b.z(t), b.row(t))
          def row(vs: Seq[Any]): InternalRow = new GenericInternalRow((head ++ vs).toArray)
          if (c.ok(rMax, g.single)) { ok += 1; Some(row(true +: c.values)) }
          else if (g.single) None
          else Some(row(false +: result.fields.map(_ => null).toSeq))
        }
      }
      val (tapped, pend) = RowFold.tap(round, () => new PendingBlocks(1 << 16, next))
      val res = tapped.localCheckpoint(eager = true)
      certified += res.filter(col("__ok"))
      val uncertified = pend()
      if (uncertified.count == 0) done = true
      else {
        pending = res.filter(!col("__ok")).select(core :+ col("__row"): _*)
        keep = uncertified.blocks
        lvl = math.max(0, lvl - 2)
      }
      first = false
    }
    certified.reduce(_ unionByName _)
      .select(col("__row.*") +: result.fieldNames.toSeq.map(col): _*)
  }

  /** Exact k smallest squared distances per left point: `payload` columns
    * of `left` + `__nnd2` (array<double>, ascending). */
  def knn(left: DataFrame, right: DataFrame, k: Int, startLevel: Int, space: CellSpace,
          dims3: Boolean, excludeSelf: Boolean, payload: Seq[String]): DataFrame =
    knnRounds(left, right, startLevel, space, dims3, excludeSelf, k, payload, nearest = false,
      StructType(Seq(StructField("__nnd2", ArrayType(DoubleType, containsNull = false)))))(
      _ => new TopK(k))

  /** Exact nearest right point per left point under the (d2, doc_id,
    * span_idx) order: `payload` columns of `left` + `__n` (nx, ny, nz) and
    * `__d2min`. */
  def nearest(left: DataFrame, right: DataFrame, startLevel: Int, space: CellSpace,
              dims3: Boolean, payload: Seq[String]): DataFrame =
    knnRounds(left, right, startLevel, space, dims3, excludeSelf = false, 1, payload,
      nearest = true, StructType(Seq(
        StructField("__n", StructType(Seq("nx", "ny", "nz").map(StructField(_, DoubleType)))),
        StructField("__d2min", DoubleType))))({
      val ids = Seq("doc_id", "span_idx").map(right.schema(_).dataType)
      b => new Nearest(b, ids)
    })

  /** Rows of `df` with at least `minNeighbors` other points (and at least
    * one) within 3D distance `radius`, unchanged. `g.reach` >= |radius|. */
  def radiusKeep(df: DataFrame, radius: Double, minNeighbors: Int, g: BlockGrid): DataFrame = {
    val need = math.max(minNeighbors, 1)
    val r = math.abs(radius); val r2 = radius * radius
    perBlock(selfRows(points(df, df.columns, lit(0L)), g, Nil), df.schema,
        s"radius r=$r min_neighbors=$need", 1) { (b, _) =>
      val gr = new LocalGrid(b, (0 until b.n).toArray, g.reach, 4L * b.n + 64)
      (0 until b.n).iterator.filter(b.tgt(_)).filter { t =>
        val (tx, ty) = (b.x(t), b.y(t))
        val sl = tol(tx, ty, g.side)
        var n = 0
        gr.box(tx - r - sl, tx + r + sl, ty - r - sl, ty + r + sl) { s =>
          if (s != t && b.d2(t, s, dims3 = true) <= r2) n += 1
        }
        n >= need
      }.map(b.row(_))
    }
  }

  /** Rows of `df` + `__ground`: the exact progressive morphological
    * filter over the (window, threshold) `ladder`. Every round runs inside
    * the block: round k's verdict at a point reads points at most w_k
    * away (the erosion's r_k box, then the dilation's), so a halo of
    * sum(w_k) makes every home point's final verdict exact. */
  def pmfGround(df: DataFrame, ladder: Seq[(Double, Double)], floatKeep: Boolean): DataFrame = {
    val g = BlockGrid(0.0, 0.0, ladder.map(_._1).sum)
    perBlock(selfRows(points(df, df.columns, lit(0L)), g, Nil),
        df.schema.add("__ground", BooleanType, nullable = false),
        s"pmf ${ladder.length} windows", ladder.length) { (b, _) =>
      var alive = (0 until b.n).toArray
      val ev = new Array[Double](b.n); val ov = new Array[Double](b.n)
      val has = new Array[Boolean](b.n)
      // Spark's min/max order: NaN above every number
      def lower(a: Double, v: Double) = if (a.isNaN || v < a) v else a
      def upper(a: Double, v: Double) = if (v.isNaN || v > a) v else a
      for ((w, dh) <- ladder) {
        val r = w / 2.0
        val gr = new LocalGrid(b, alive, r, 4L * alive.length + 64)
        // the morphological opening over the surviving points: erosion,
        // then dilation of the eroded values; a point with an empty
        // window drops out
        def window(i: Int, vals: Array[Double], isMin: Boolean, from: Int => Boolean): Boolean = {
          val (tx, ty) = (b.x(i), b.y(i))
          val sl = tol(tx, ty, r)
          var found = false; var m = 0.0
          gr.box(tx - r - sl, tx + r + sl, ty - r - sl, ty + r + sl) { s =>
            if (from(s) && math.abs(b.x(s) - tx) <= r && math.abs(b.y(s) - ty) <= r) {
              val v = vals(s)
              m = if (!found) v else if (isMin) lower(m, v) else upper(m, v)
              found = true
            }
          }
          if (isMin) ev(i) = m else ov(i) = m
          found
        }
        alive.foreach(i => has(i) = window(i, b.z, isMin = true, _ => true))
        alive = alive.filter { i =>
          has(i) && window(i, ev, isMin = false, has(_)) && {
            // strict < keep; under floatKeep the diff narrows to float32
            // before the compare, like PCL's float z arithmetic
            if (floatKeep) (b.z(i) - ov(i)).toFloat < dh.toFloat else b.z(i) - ov(i) < dh
          }
        }
        java.util.Arrays.fill(has, false)
      }
      val ground = new Array[Boolean](b.n)
      alive.foreach(ground(_) = true)
      (0 until b.n).iterator.filter(b.tgt(_))
        .map(t => new JoinedRow(b.row(t), new GenericInternalRow(Array[Any](ground(t)))))
    }
  }
}
