package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.SpatialFunctions
import graft.index.CellSpace
import graft.plans.{Kernels, Param}

/** Tiling operators: fixed-grid splitter, capacity-balanced chipper,
  * LOD pyramid, hex density. These produce the `tile` grouping column
  * that replaces the reference's one-PointView-per-tile fan-out
  * (SplitterFilter.cpp:92-128) with a partition key — the idiomatic
  * Spark shape for "N small views".
  */
object TileOps {

  /** filters.splitter — overlay a square grid of side `length` anchored
    * at `origin`; tile coords are C-style int TRUNCATION toward zero of
    * (v - origin) / length, NOT floor (reference SplitterFilter.cpp:109-115
    * does `int xpos = (x - m_xOrigin) / m_length`): points left of the
    * origin land in tile 0 together with the first positive cell. Spark's
    * double->int cast truncates the same way. Origin defaults to the
    * first point (SplitterFilter.cpp:102-106) — that choice is inherently
    * order-dependent, so callers at scale should pass it explicitly.
    */
  def splitter(length: Double, originX: Double, originY: Double)(df: DataFrame): DataFrame = {
    def ref(v: Double): Column = ColumnBridge.column(Param(v, DoubleType))
    df.withColumn("tile_x", ((col("x") - ref(originX)) / ref(length)).cast(IntegerType))
      .withColumn("tile_y", ((col("y") - ref(originY)) / ref(length)).cast(IntegerType))
  }

  /** Tile summary (one row per non-empty tile) — the golden-fixture shape
    * (SplitterTest.cpp:92-100 asserts per-tile counts). */
  def tileCounts(length: Double, originX: Double, originY: Double)(df: DataFrame): DataFrame =
    splitter(length, originX, originY)(df)
      .groupBy(col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("minx"), min(col("y")).as("miny"),
        max(col("x")).as("maxx"), max(col("y")).as("maxy"))

  /** Rows per node a task finishes in memory ([[finish]]): the task
    * holds the node's rows (copied UnsafeRows, the width of df0's row)
    * plus about 60 bytes per row of keys, ranks and orders, so 1M rows of
    * a ~100-byte point row bound a task's working memory near 160 MB,
    * beside the rows Spark's sorter holds (and spills) for the task's
    * partition. A leaf (one chip) is never split, so a capacity above the
    * budget raises the bound to the capacity. */
  private val TaskRows = 1000000L

  /** Sampled rows per node that bracket a distributed round's cut. */
  private val SampleRows = 20000

  /** filters.chipper — capacity-balanced spatial tiling
    * (ChipperFilter.cpp:39-68): recursively split the point set along the
    * wider axis at the "cumulate and round" rank bounds lround(i * n / m),
    * m = ceil(n / capacity) (ChipperFilter.cpp:153-173), over the stable
    * order (axis value, doc_id, span_idx), until every leaf holds one
    * chip. Chip sizes and membership are the reference's exactly.
    *
    * Distributed shape: Spark rounds over the narrow working set (doc_id,
    * span_idx, x, y) split the top of the tree only while a node is too
    * big to finish in one task ([[sketchRound]]; no round sorts or
    * shuffles the full data). Their cut keys are then replayed map-only
    * on df0's full rows ([[route]]), ONE shuffle groups each node, and
    * each task finishes its nodes' subtrees in memory ([[finish]]).
    *
    * The top splits a node while it holds more than
    * min(taskRows, max(n, taskRows) / P) rows, P = the default
    * parallelism: no node above the task budget reaches a task, and the
    * top stops once about P nodes share the work, or once the nodes are
    * so small (taskRows / P) that a task finishes one sooner than a round
    * of Spark jobs splits it. `taskRows` defaults to [[TaskRows]]; tests
    * lower it to force distributed rounds.
    *
    * Returns doc_id, span_idx, the other columns of df0, then `chip` INT:
    * the leaf's partition index 0..m-1, the reference's emit order. */
  def chipper(capacity: Long, taskRows: Long = TaskRows)(df0: DataFrame): DataFrame = {
    require(capacity >= 1, s"filters.chipper capacity must be >= 1, got $capacity")
    val spark = df0.sparkSession
    val cols = (Seq("doc_id", "span_idx") ++
      df0.columns.filterNot(c => c == "doc_id" || c == "span_idx")).map(col)
    val work = df0.select(col("doc_id"), col("span_idx"), col("x"), col("y"))
      .localCheckpoint()
    val n = work.count()
    if (n == 0) return df0.select(cols :+ lit(0).as("chip"): _*)
    val m = ((n + capacity - 1) / capacity).toInt
    val bound: Int => Long = i => math.round(i.toDouble * n / m)
    val splitAbove = math.min(taskRows,
      math.max(n, taskRows) / spark.sparkContext.defaultParallelism)

    // node id -> its partition range [pl, pr); node i's children are
    // 2i+1 (left) and 2i+2 (right)
    var nodes = Map(0L -> (0, m))
    def big = nodes.filter { case (_, (pl, pr)) =>
      pr - pl > 1 && bound(pr) - bound(pl) > splitAbove }
    var cur = work.withColumn("__node", lit(0L))
    val rounds = ArrayBuffer.empty[Map[Long, Cut]]
    while (big.nonEmpty) {
      val split = big
      val cuts = sketchRound(cur, split.map { case (id, (pl, pr)) =>
        id -> (bound(pr) - bound(pl), bound((pl + pr) / 2) - bound(pl)) })
      rounds += cuts
      cur = cur.withColumn("__node", route(col("__node"), cuts)).localCheckpoint(eager = false)
      nodes = nodes -- split.keys ++ split.flatMap { case (id, (pl, pr)) =>
        val pc = (pl + pr) / 2
        Seq(id * 2 + 1 -> (pl, pc), id * 2 + 2 -> (pc, pr))
      }
    }

    val keyed = rounds.foldLeft(df0.withColumn("__node", lit(0L))) { (df, cuts) =>
      df.withColumn("__node", route(col("__node"), cuts))
    }.select(cols :+ col("__node"): _*)
    val width = cols.length // __node's ordinal
    val (xi, yi) = (keyed.schema.fieldIndex("x"), keyed.schema.fieldIndex("y"))
    val outSchema = StructType(keyed.schema.fields.take(width) :+
      StructField("chip", IntegerType, nullable = false))
    // each node to the partition of its slot, round robin over the node
    // ids: a hash of few node ids would stack several in one task
    val parts = math.min(nodes.size, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val slot = SpatialFunctions.longLookup(col("__node"),
      nodes.keys.toSeq.sorted.zipWithIndex.map { case (id, i) => id -> (i % parts: Any) },
      IntegerType, "slot")
    Kernels.groupReduce(keyed.repartitionById(parts, slot), "__node", clustered = false, outSchema,
      new ChipNodes(nodes, n, m, width, xi, yi, rounds.size))
  }

  /** The in-task finish of [[chipper]]: each node's rows (the first
    * `width` fields, then `__node`) chipped over the partition range
    * `ranges(node)` of the m chips of n rows; each row's chip takes the
    * place of its `__node`, its 8-byte slot zeroed first as Spark's row
    * writer leaves an int's, so the row is the output row byte for byte. */
  private final class ChipNodes(ranges: Map[Long, (Int, Int)], n: Long, m: Int, width: Int,
                                xi: Int, yi: Int, val rounds: Long) extends Kernels.GroupKernel {
    override def toString: String = s"chipper $m chips, ${ranges.size} nodes"
    def apply(id: Long, node: Array[InternalRow], certified: SQLMetric): Iterator[InternalRow] = {
      val k = node.length
      val (x, y, doc, span) = (new Array[Double](k), new Array[Double](k),
        new Array[UTF8String](k), new Array[Int](k))
      for (i <- 0 until k) {
        val r = node(i)
        if (r.isNullAt(0) || r.isNullAt(1) || r.isNullAt(xi) || r.isNullAt(yi))
          throw new IllegalArgumentException("filters.chipper needs non-null doc_id, span_idx, x and y")
        x(i) = r.getDouble(xi); y(i) = r.getDouble(yi); doc(i) = r.getUTF8String(0); span(i) = r.getInt(1)
      }
      val (pl, pr) = ranges(id)
      val chips = finish(x, y, doc, span, pl, pr, i => math.round(i.toDouble * n / m))
      node.iterator.zip(chips.iterator).map { case (r, c) => r.setLong(width, 0L); r.setInt(width, c); r }
    }
  }

  /** The reference's axis rule (ChipperFilter.cpp:185-192): split on x
    * only when its range is strictly wider. */
  private def splitOnX(xRange: Double, yRange: Double): Boolean = xRange > yRange

  /** A node's cut key: rows whose full key (axis value, doc_id, span_idx)
    * is <= (a, d, s) go to the left child. */
  private final case class Cut(onX: Boolean, a: Double, d: String, s: Int)

  /** Each row's child after a round's `cuts`, compared as Spark orders
    * the full key; nodes without a cut keep their id. */
  private def route(node: Column, cuts: Map[Long, Cut]): Column = {
    def lookup(f: Cut => Any, vt: DataType, tag: String): Column =
      SpatialFunctions.longLookup(node, cuts.toSeq.map { case (id, c) => id -> f(c) }, vt, tag)
    val a = lookup(_.a, DoubleType, "cuta")
    val d = lookup(_.d, StringType, "cutd")
    val s = lookup(_.s, IntegerType, "cuts")
    val v = when(lookup(_.onX, BooleanType, "onx"), col("x")).otherwise(col("y"))
    val left = v < a || (v === a && (col("doc_id") < d ||
      (col("doc_id") === d && col("span_idx") <= s)))
    when(a.isNull, node).when(left, node * 2 + 1).otherwise(node * 2 + 2)
  }

  /** One distributed split of the nodes `split` (id -> (rows, rows going
    * left)) of `cur` (doc_id, span_idx, x, y, __node), each job collecting
    * at most a few rows per node:
    *   A. per node: count and the exact min/max of both axes, which decide
    *      the axis;
    *   B. a Bernoulli sample of about [[SampleRows]] rows per node, whose
    *      order statistics bracket the cut's axis value;
    *   C. exact counts below and inside each bracket (a bracket that misses
    *      the cut widens to the whole node: slower, still exact);
    *   D. the exact rank of the cut row among the bracketed rows only (a
    *      window over a few percent of the node); its full key is the cut.
    * No job sorts or shuffles the full data. */
  private def sketchRound(cur: DataFrame, split: Map[Long, (Long, Long)]): Map[Long, Cut] = {
    val mine = cur.filter(col("__node").isin(split.keys.toSeq: _*))
    val onX = mine.groupBy(col("__node"))
      .agg(count(lit(1)), min("x"), max("x"), min("y"), max("y"))
      .collect().map { r =>
        val id = r.getLong(0)
        require(r.getLong(1) == split(id)._1, s"filters.chipper: node $id holds " +
          s"${r.getLong(1)} rows, expected ${split(id)._1}; are (doc_id, span_idx) keys duplicated?")
        id -> splitOnX(r.getDouble(3) - r.getDouble(2), r.getDouble(5) - r.getDouble(4))
      }.toMap
    // per-node driver state rides as LongMapLookupExpr hash tables keyed
    // by __node (O(1) probe, constant-size plan rendering)
    def lookup(f: Long => Any, vt: DataType, tag: String): Column =
      SpatialFunctions.longLookup(col("__node"), split.keys.toSeq.map(id => id -> f(id)), vt, tag)
    val v = when(lookup(onX, BooleanType, "onx"), col("x")).otherwise(col("y"))
    val fraction = math.min(1.0, SampleRows.toDouble / split.values.map(_._1).min)
    val sample = mine.sample(fraction, 1L).select(col("__node"), v).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) =>
        val vs = rs.map(_.getDouble(1)); java.util.Arrays.sort(vs); id -> vs }
    // the cut's rank in a sample of s rows is s * q +- sqrt(s * q * (1 - q)),
    // q = the left share; five of those either side
    val bracket = split.map { case (id, (rows, t)) =>
      val vs = sample.getOrElse(id, Array.emptyDoubleArray)
      val q = t.toDouble / rows
      val at = vs.length * q
      val half = 5 * math.sqrt(vs.length * q * (1 - q)) + 1
      val (iLo, iHi) = (math.floor(at - half).toInt, math.ceil(at + half).toInt)
      id -> (if (iLo < 0) Double.NegativeInfinity else vs(iLo),
        if (iHi >= vs.length) Double.PositiveInfinity else vs(iHi))
    }
    val below = {
      val (lo, hi) = (lookup(bracket(_)._1, DoubleType, "lo"), lookup(bracket(_)._2, DoubleType, "hi"))
      val counts = mine.groupBy(col("__node"))
        .agg(sum(when(v < lo, 1L).otherwise(0L)), sum(when(v >= lo && v <= hi, 1L).otherwise(0L)))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      split.map { case (id, (_, t)) =>
        val (under, in) = counts(id)
        id -> (if (under < t && under + in >= t) Some(under) else None)
      }
    }
    val lo = lookup(id => below(id).fold(Double.NegativeInfinity)(_ => bracket(id)._1), DoubleType, "lo")
    val hi = lookup(id => below(id).fold(Double.PositiveInfinity)(_ => bracket(id)._2), DoubleType, "hi")
    val rank = lookup(id => split(id)._2 - below(id).getOrElse(0L), LongType, "rank")
    val w = Window.partitionBy(col("__node")).orderBy(v.asc, col("doc_id").asc, col("span_idx").asc)
    val cutRows = mine.filter(v >= lo && v <= hi)
      .withColumn("__rank", row_number().over(w))
      .filter(col("__rank") === rank)
      .select(col("__node"), v, col("doc_id"), col("span_idx"))
      .collect()
    require(cutRows.length == split.size, s"filters.chipper found ${cutRows.length} of " +
      s"${split.size} node cuts; are (doc_id, span_idx) keys duplicated?")
    cutRows.map { r =>
      r.getLong(0) -> Cut(onX(r.getLong(0)), r.getDouble(1), r.getString(2), r.getInt(3))
    }.toMap
  }

  /** 0 until k in `cmp` order: a bottom-up merge sort on primitive ints. */
  private def sortedBy(k: Int)(cmp: (Int, Int) => Int): Array[Int] = {
    var a = Array.range(0, k)
    var b = new Array[Int](k)
    var w = 1
    while (w < k) {
      var lo = 0
      while (lo < k) {
        val mid = math.min(lo + w, k); val hi = math.min(lo + 2 * w, k)
        var i = lo; var j = mid; var o = lo
        while (o < hi) {
          if (j >= hi || (i < mid && cmp(a(i), a(j)) <= 0)) { b(o) = a(i); i += 1 }
          else { b(o) = a(j); j += 1 }
          o += 1
        }
        lo = hi
      }
      val t = a; a = b; b = t
      w *= 2
    }
    a
  }

  /** The chip of each row of node [pl, pr), its subtree finished in
    * memory with the reference's rules: the wider axis from the sub-node's
    * own min and max, `bound`'s lround rank bounds, and the (axis value,
    * doc_id, span_idx) order, doubles compared as Spark orders them and
    * doc_id in UTF-8 byte order. The (doc_id, span_idx) order is found
    * once, each axis order at most once; a split then sorts the sub-node's
    * ranks as primitives. */
  private def finish(x: Array[Double], y: Array[Double], doc: Array[UTF8String],
                     span: Array[Int], pl: Int, pr: Int, bound: Int => Long): Array[Int] = {
    val k = x.length
    require(k == bound(pr) - bound(pl), s"filters.chipper: the node of chips [$pl, $pr) holds " +
      s"$k rows, expected ${bound(pr) - bound(pl)}; are (doc_id, span_idx) keys duplicated?")
    lazy val tie = ranks(sortedBy(k) { (i, j) =>
      val d = doc(i).binaryCompare(doc(j))
      if (d != 0) d else Integer.compare(span(i), span(j))
    })
    // (each row's rank, the rows in rank order) by full key along `a`
    def order(a: Array[Double]): (Array[Int], Array[Int]) = {
      val sorted = sortedBy(k) { (i, j) =>
        val c = SQLOrderingUtil.compareDoubles(a(i), a(j))
        if (c != 0) c else Integer.compare(tie(i), tie(j))
      }
      for (r <- 1 until k) {
        val (i, j) = (sorted(r - 1), sorted(r))
        if (SQLOrderingUtil.compareDoubles(a(i), a(j)) == 0 && span(i) == span(j) && doc(i) == doc(j))
          throw new IllegalArgumentException(s"filters.chipper: two points share the key " +
            s"(${a(j)}, ${doc(j)}, ${span(j)}); the chipper orders points by (axis, doc_id, span_idx)")
      }
      (ranks(sorted), sorted)
    }
    lazy val (rx, sx) = order(x)
    lazy val (ry, sy) = order(y)
    def range(a: Array[Double], rows: Array[Int]): Double = {
      var lo = a(rows(0)); var hi = lo
      rows.foreach { i =>
        if (SQLOrderingUtil.compareDoubles(a(i), lo) < 0) lo = a(i)
        if (SQLOrderingUtil.compareDoubles(a(i), hi) > 0) hi = a(i)
      }
      hi - lo
    }
    val chip = new Array[Int](k)
    def split(rows: Array[Int], pl: Int, pr: Int): Unit =
      if (pr - pl == 1) rows.foreach(chip(_) = pl)
      else {
        val (rank, sorted) = if (splitOnX(range(x, rows), range(y, rows))) (rx, sx) else (ry, sy)
        val rs = rows.map(rank)
        java.util.Arrays.sort(rs)
        val pc = (pl + pr) / 2
        val t = (bound(pc) - bound(pl)).toInt
        split(rs.take(t).map(sorted), pl, pc)
        split(rs.drop(t).map(sorted), pc, pr)
      }
    split(Array.range(0, k), pl, pr)
    chip
  }

  /** Each position's rank in the permutation `sorted`. */
  private def ranks(sorted: Array[Int]): Array[Int] = {
    val r = new Array[Int](sorted.length)
    for (i <- sorted.indices) r(sorted(i)) = i
    r
  }

  /** writers.rialto's LOD pyramid (RialtoCommon.cpp:79-94): level L of a
    * `maxLevel`-deep pyramid keeps every 4^(maxLevel-L)-th point (by
    * positional ordinal) and tags it with its level-L cell. One pass,
    * no driver loop: explode the level sequence, filter by the skip rule
    * (a deterministic pushable predicate — the "LOD ladder"). */
  def lodPyramid(maxLevel: Int, space: CellSpace = CellSpace.default,
                 ordinal: String = "span_idx")(df: DataFrame): DataFrame = {
    df.withColumn("level", explode(sequence(lit(0), lit(maxLevel))))
      .filter(col(ordinal) % pow(lit(4.0), lit(maxLevel) - col("level")).cast(LongType) === 0)
      .withColumn("cell",
        // cellAt(level) for each row's level: shift the max-res morton key
        // down 2 bits per level difference, then level-tag (CellSpace.pack)
        call_function("shiftleft",
          call_function("shiftright",
            SpatialFunctions.mortonKey(col("x"), col("y"), space),
            (lit(CellSpace.MaxLevel) - col("level")) * 2),
          lit(6)).bitwiseOR(col("level").cast(LongType)))
  }

  /** filters.hexbin — per-hex density (HexBin.cpp:78-146). Hex cell id
    * from axial coordinates with cube rounding (standard public hex-grid
    * math); `edge` is the hexagon edge length. Returns one row per
    * non-empty hex with its density — the aggregated form from which the
    * boundary multipolygon is traced driver-side (it is O(#hexes)). */
  def hexDensity(edge: Double)(df: DataFrame): DataFrame = {
    df.withColumn("hex", HexGrid.hexCellCol(col("x"), col("y"), edge))
      .groupBy(col("hex"))
      .agg(count(lit(1)).as("density"))
      .select(col("hex"), HexGrid.hexQ(col("hex")).as("hex_q"),
        HexGrid.hexR(col("hex")).as("hex_r"), col("density"))
  }
}

object HexBoundary {
  import org.locationtech.jts.geom.{GeometryFactory, Coordinate, Geometry}
  import org.locationtech.jts.operation.union.CascadedPolygonUnion

  /** Boundary MULTIPOLYGON of the occupied hexes (the reference's
    * filters.hexbin boundary output, HexBin.cpp:89-146): driver-side
    * union of the aggregated cells' hexagons — O(#occupied hexes),
    * which is tiny relative to the point count, exactly like the
    * reference's hexer summary. `minDensity` is hexbin's threshold
    * option — default 15, the reference's default (HexBin.cpp:55). */
  def boundaryWkt(hexDensity: DataFrame, edge: Double, minDensity: Long = 15): String = {
    val gf = new GeometryFactory()
    val cells = hexDensity.filter(col("density") >= minDensity)
      .select("hex_q", "hex_r").collect()
    val polys = cells.map { r =>
      val q = r.getInt(0); val rr = r.getInt(1)
      // flat-top axial -> center on the fixture-pinned hexer lattice
      // (inverse of HexGrid.hexCell's shifted transform)
      val cx = edge * 1.5 * q + edge / 2.0
      val cy = edge * math.sqrt(3.0) * (rr + q / 2.0) + edge * math.sqrt(3.0) / 2.0
      val hexV = (0 until 6).map { i =>
        val ang = math.Pi / 180 * (60 * i)
        new Coordinate(cx + edge * math.cos(ang), cy + edge * math.sin(ang))
      }
      // close by repeating the first coordinate exactly (cos/sin of 2*pi
      // are not bit-identical to cos/sin of 0)
      gf.createPolygon((hexV :+ hexV.head).toArray): Geometry
    }
    if (polys.isEmpty) "MULTIPOLYGON EMPTY"
    else {
      val union = CascadedPolygonUnion.union(java.util.Arrays.asList(polys: _*))
      union.toText
    }
  }
}

/** FLAT-TOP axial hex grid with cube rounding, on hexer's layout —
  * the reference's tessellation library (clean-room: standard public
  * hex-grid mathematics, Amit Patel's reference pages, with the grid
  * convention PINNED BY THE REFERENCE'S OWN FIXTURE
  * test/data/filters/hexbin.txt: flat-top hexagons whose LOWER-LEFT
  * VERTEX lattice anchors at the origin, i.e. centers at
  * (1.5e*q + e/2, sqrt(3)*e*(r + q/2) + sqrt(3)*e/2) — the
  * hexbin-boundary golden reproduces that fixture's MULTIPOLYGON
  * exactly). */
object HexGrid {
  /** Axial (q, r) of the hex containing (x, y), packed q<<32|r (each
    * int32). */
  def hexCell(x: Double, y: Double, edge: Double): Long = {
    // shift by the center of hex (0,0) so cube rounding is measured
    // from hex centers on the fixture-pinned lattice
    val xs = x - edge / 2.0
    val ys = y - math.sqrt(3.0) * edge / 2.0
    val qf = (2.0 / 3.0 * xs) / edge
    val rf = (-xs / 3.0 + math.sqrt(3.0) / 3.0 * ys) / edge
    // cube round
    val xf = qf; val zf = rf; val yf = -xf - zf
    var rx = math.round(xf).toDouble
    var ry = math.round(yf).toDouble
    var rz = math.round(zf).toDouble
    val dx = math.abs(rx - xf); val dy = math.abs(ry - yf); val dz = math.abs(rz - zf)
    if (dx > dy && dx > dz) rx = -ry - rz
    else if (dy > dz) ry = -rx - rz
    else rz = -rx - ry
    ((rx.toLong & 0xffffffffL) << 32) | (rz.toLong & 0xffffffffL)
  }
  def q(cell: Long): Int = (cell >> 32).toInt
  def r(cell: Long): Int = cell.toInt

  import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
  import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  case class HexCellExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with Serializable {
    override def dataType: DataType = LongType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "hex_cell"
    override protected def nullSafeEval(x: Any, y: Any, e: Any): Any =
      hexCell(x.asInstanceOf[Double], y.asInstanceOf[Double], e.asInstanceOf[Double])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y, e) =>
        s"${ev.value} = graft.operators.HexGrid.hexCell($x, $y, $e);")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  def hexCellCol(x: Column, y: Column, edge: Double): Column =
    ExpressionUtils.column(HexCellExpr(
      ExpressionUtils.expression(x), ExpressionUtils.expression(y),
      ExpressionUtils.expression(lit(edge))))

  def hexQ(cell: Column): Column = shiftright(cell, 32).cast(IntegerType)
  // sign-extend the low 32 bits before the (ANSI-checked) int cast
  def hexR(cell: Column): Column = shiftright(shiftleft(cell, 32), 32).cast(IntegerType)
}
