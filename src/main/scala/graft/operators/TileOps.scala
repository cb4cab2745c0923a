package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import graft.functions.SpatialFunctions
import graft.index.CellSpace

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
    df.withColumn("tile_x", ((col("x") - lit(originX)) / lit(length)).cast(IntegerType))
      .withColumn("tile_y", ((col("y") - lit(originY)) / lit(length)).cast(IntegerType))
  }

  /** Tile summary (one row per non-empty tile) — the golden-fixture shape
    * (SplitterTest.cpp:92-100 asserts per-tile counts). */
  def tileCounts(length: Double, originX: Double, originY: Double)(df: DataFrame): DataFrame =
    splitter(length, originX, originY)(df)
      .groupBy(col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n"), min(col("x")).as("minx"), min(col("y")).as("miny"),
        max(col("x")).as("maxx"), max(col("y")).as("maxy"))

  /** filters.chipper — capacity-balanced spatial tiling
    * (ChipperFilter.cpp:39-68 algorithm description): recursively split
    * the point set along the wider axis at "cumulate and round" rank
    * boundaries (partition i boundary = lround(i * n / m), m = ceil(n /
    * capacity), ChipperFilter.cpp:153-173) until each leaf covers one
    * partition. Chip sizes reproduce the reference exactly because rank
    * selection is exact (window row_number per node, stable tiebreak on
    * original point order, matching the reference's stable_sort).
    *
    * Distributed shape: log2(m) rounds. Small nodes rank with one window
    * shuffle keyed by node; nodes above `sketchSplitMinRows` rows switch
    * to a quantile-sketch split (aggregate + boundary refinement + map-
    * only cut-key assignment — see the strategy comment in the loop)
    * whose jobs never sort or shuffle the full data, so the first rounds
    * stay parallel at any scale. Both paths are exact and bit-identical;
    * the threshold is a parameter only so tests can force either path.
    * At very large m, swap `exactRanks = false`-style sampling in; the
    * contract (<= capacity, spatially contiguous, squarish) survives
    * approximation — only exact size parity needs exact ranks.
    *
    * Returns df + `chip` column (0-based chip ordinal in partition
    * order along the recursion, which equals the reference's emit order).
    */
  def chipper(capacity: Long, sketchSplitMinRows: Long = 2000000L)(df0: DataFrame): DataFrame = {
    // The driver loop only ever re-scans the NARROW working set
    // (doc_id, span_idx, x, y) — materialize exactly that as an eager
    // row-format localCheckpoint. A full-width columnar cache of df0
    // (the previous shape) built the expensive array/struct columnar
    // batches for columns the loop never touches and still paid a
    // columnar->row conversion per scan; the narrow checkpoint is both
    // cheaper to build and cheaper to read. df0 itself is scanned
    // exactly once more by the final assignment join.
    val work = df0.select(col("doc_id"), col("span_idx"), col("x"), col("y"))
      .localCheckpoint()
    val n = work.count()
    if (n == 0) return df0.withColumn("chip", lit(0))
    val m = ((n + capacity - 1) / capacity).toInt
    // partition boundary i (0..m): lround(i * n / m) — computed lazily,
    // never materialized (O(1) per lookup, scale-safe).
    def bound(i: Int): Long = math.round(i.toDouble * n / m)

    // node encoding: (pl, pr) partition-index range; root = (0, m).
    // Active nodes tracked on the driver (final count = m).
    final case class Node(pl: Int, pr: Int) { def leaf: Boolean = pr - pl == 1 }
    var nodes = Map(0L -> Node(0, m))
    // recursion carries only (id, coords, node) — the narrow working set
    // is what gets checkpointed log2(m) times, not the full row
    var cur = work.withColumn("__node", lit(0L))

    // Two per-round split strategies, chosen by rows-per-node:
    //
    // WINDOW (small nodes): rank every row of every active node with one
    // row_number window — one job, cheapest when each node's rows fit a
    // single sort task.
    //
    // SKETCH (big nodes — the scale path): the window shape is a dead
    // end for early rounds at scale (round 1 = sort the ENTIRE dataset
    // inside one partition). Instead:
    //   A. per-node aggregate: count, ranges, and approximate quantile
    //      sketches of both axes (partial-aggregated, one row per node);
    //   B. per-node exact counts around the sketch-bracketed split value
    //      (verifies the bracket; falls back to the full range on the
    //      rare sketch miss);
    //   C. exact rank of the threshold row among ONLY the bracketed
    //      boundary rows (a window over ~n/G rows per node), collecting
    //      one CUT KEY (axis value, doc_id, span_idx) per node.
    // Assignment is then a map-only lexicographic comparison against the
    // broadcast cut keys — rows with full key <= cut go left, exactly
    // the window path's `row_number < thresh` split (full keys are
    // unique: the engine-wide (doc_id, span_idx) point identity). No
    // full-data shuffle or sort exists anywhere in the sketch path; both
    // paths produce bit-identical assignments (spec-pinned).
    val G = 200          // sketch grid: boundary rows ~ n/G per node
    val ACC = 10000      // percentile_approx rank-error <= n/ACC
    val fractions = (0 to G).map(_.toDouble / G).toArray
    while (nodes.values.exists(!_.leaf)) {
      val activeIds = nodes.filter(!_._2.leaf).keySet
      val useSketch = n / activeIds.size > sketchSplitMinRows
      // A. per-node count/ranges (+ sketches on the sketch path);
      //    driver-collected, <= #nodes rows
      val baseAggs = Seq(
        min("x").as("minx"), max("x").as("maxx"),
        min("y").as("miny"), max("y").as("maxy"))
      val sketchAggs = if (useSketch) Seq(
        percentile_approx(col("x"), typedLit(fractions), lit(ACC)).as("qx"),
        percentile_approx(col("y"), typedLit(fractions), lit(ACC)).as("qy"))
        else Nil
      val statRows = cur.filter(col("__node").isin(activeIds.toSeq: _*))
        .groupBy(col("__node"))
        .agg(count(lit(1)).as("n"), (baseAggs ++ sketchAggs): _*)
        .collect()
      // B-prep. split decision + sketch bracket per node: wider axis
      //   (x iff xrange > yrange, ChipperFilter.cpp:185-192) + rank
      //   threshold from the cumulate-and-round formula
      final case class Split(id: Long, onX: Boolean, t: Long, n: Long,
                             var vLo: Double, var vHi: Double,
                             var cLo: Long = 0L)
      val splits = statRows.map { r =>
        val id = r.getLong(0); val nNode = r.getLong(1)
        val (mnx, mxx, mny, mxy) =
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))
        val onX = (mxx - mnx) > (mxy - mny)
        val Node(pl, pr) = nodes(id)
        val pc = (pl + pr) / 2
        val t = bound(pc) - bound(pl) // # points going left
        if (!useSketch) Split(id, onX, t, nNode,
          Double.NegativeInfinity, Double.PositiveInfinity)
        else {
          val grid = r.getSeq[Double](if (onX) 6 else 7)
          val q = t.toDouble / nNode
          val eps = 1.0 / G + 2.0 / ACC
          val iLo = math.floor((q - eps) * G).toInt
          val iHi = math.ceil((q + eps) * G).toInt
          val vLo = if (iLo < 0) Double.NegativeInfinity else grid(iLo)
          val vHi = if (iHi > G) Double.PositiveInfinity else grid(iHi)
          Split(id, onX, t, nNode, vLo, vHi)
        }
      }
      def axisVal(byNode: Column): Column = when(byNode, col("x")).otherwise(col("y"))
      // per-node driver state rides as LongMapLookupExpr hash tables
      // keyed by __node (O(1) probe, constant-size plan rendering, one
      // shared reference per task) — NOT as map(lit...) literal trees,
      // whose size-m expression trees made AQE's per-stage plan-string
      // rendering the dominant cost of the whole operator
      def lookupOf(f: Split => Any, vt: DataType, tag: String): Column =
        SpatialFunctions.longLookup(col("__node"),
          splits.map(s => s.id -> f(s)).toSeq, vt, tag)
      if (!useSketch) {
        // WINDOW path: rank within node along the chosen axis, stable
        // (doc_id, span_idx) tiebreak, one shuffle keyed by node
        val axisByNode = lookupOf(_.onX, BooleanType, "axis")
        val threshByNode = lookupOf(_.t, LongType, "thresh")
        val av = axisVal(axisByNode)
        val w = Window.partitionBy(col("__node"))
          .orderBy(av.asc, col("doc_id").asc, col("span_idx").asc)
        cur = cur
          .withColumn("__rank", row_number().over(w) - 1)
          .withColumn("__node",
            // leaf-node rows (no entry in the decision tables) keep their node
            when(threshByNode.isNull, col("__node"))
              .when(col("__rank") < threshByNode, col("__node") * 2 + 1)
              .otherwise(col("__node") * 2 + 2))
          .drop("__rank")
      } else {
      // B. exact counts below/inside the bracket; sketch-miss nodes fall
      //    back to the full range (bracket = everything, cLo = 0)
      val needCut = splits.filter(s => s.t > 0 && s.t < s.n)
      var cutRows: Array[org.apache.spark.sql.Row] = Array.empty
      if (needCut.nonEmpty) {
        val onXM = lookupOf(_.onX, BooleanType, "onx")
        val vLoM = lookupOf(_.vLo, DoubleType, "vlo")
        val vHiM = lookupOf(_.vHi, DoubleType, "vhi")
        val av = axisVal(onXM)
        val cnt = cur.filter(col("__node").isin(needCut.map(_.id).toSeq: _*))
          .groupBy(col("__node"))
          .agg(sum(when(av < vLoM, 1L).otherwise(0L)).as("c_lo"),
            sum(when(av >= vLoM && av <= vHiM, 1L)
              .otherwise(0L)).as("c_in"))
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
        needCut.foreach { s =>
          val (cLo, cIn) = cnt(s.id)
          if (cLo < s.t && cLo + cIn >= s.t) { s.cLo = cLo }
          else { // sketch miss: widen to the whole node (exact, just slower)
            s.vLo = Double.NegativeInfinity; s.vHi = Double.PositiveInfinity
            s.cLo = 0L
          }
        }
        // C. exact rank among boundary rows only -> one cut key per node
        val onXM2 = lookupOf(_.onX, BooleanType, "onx2")
        val vLoM2 = lookupOf(_.vLo, DoubleType, "vlo2")
        val vHiM2 = lookupOf(_.vHi, DoubleType, "vhi2")
        val resM = lookupOf(s => s.t - s.cLo, LongType, "res")
        val av2 = axisVal(onXM2)
        val wB = Window.partitionBy(col("__node"))
          .orderBy(av2.asc, col("doc_id").asc, col("span_idx").asc)
        cutRows = cur
          .filter(col("__node").isin(needCut.map(_.id).toSeq: _*))
          .filter(av2 >= vLoM2 && av2 <= vHiM2)
          .withColumn("__brank", row_number().over(wB))
          .filter(col("__brank") === resM)
          .select(col("__node"), av2.as("__cut_a"), col("doc_id"), col("span_idx"))
          .collect()
        require(cutRows.length == needCut.length,
          s"chipper cut-key resolution found ${cutRows.length} of " +
            s"${needCut.length} node cuts — duplicate (doc_id, span_idx) keys?")
      }
      // assignment: full key (axis, doc_id, span_idx) <= cut key.
      // Degenerate thresholds join the same map with an axis cut of
      // +inf (t == n, everything left) or -inf (t == 0, everything
      // right); equality with an infinity never fires, so their missing
      // doc/span entries (null comparisons -> false) are unreachable.
      val cutAEntries: Seq[(Long, Any)] =
        cutRows.map(r => r.getLong(0) -> (r.getDouble(1): Any)).toSeq ++
          splits.filter(s => s.t == 0 || s.t == s.n).map(s =>
            s.id -> ((if (s.t == s.n) Double.PositiveInfinity
              else Double.NegativeInfinity): Any))
      val a = SpatialFunctions.longLookup(col("__node"), cutAEntries,
        DoubleType, "cuta")
      val cutD = SpatialFunctions.longLookup(col("__node"),
        cutRows.map(r => r.getLong(0) -> (r.getString(2): Any)).toSeq,
        StringType, "cutd")
      val cutS = SpatialFunctions.longLookup(col("__node"),
        cutRows.map(r => r.getLong(0) -> (r.getInt(3): Any)).toSeq,
        IntegerType, "cuts")
      val av3 = axisVal(lookupOf(_.onX, BooleanType, "onx3"))
      val goLeft = av3 < a ||
        (av3 === a && (col("doc_id") < cutD ||
          (col("doc_id") === cutD && col("span_idx") <= cutS)))
      cur = cur.withColumn("__node",
        // leaf-node rows (no entry in the maps) keep their node
        when(a.isNull, col("__node"))
          .when(goLeft, col("__node") * 2 + 1)
          .otherwise(col("__node") * 2 + 2))
      }
      nodes = nodes.flatMap { case (id, nd) =>
        if (nd.leaf) Seq(id -> nd)
        else {
          val pc = (nd.pl + nd.pr) / 2
          Seq(id * 2 + 1 -> Node(nd.pl, pc), id * 2 + 2 -> Node(pc, nd.pr))
        }
      }
      cur = cur.localCheckpoint(eager = false)
    }
    // chip ordinal = leaf's pl (partition index) — contiguous 0..m-1;
    // join the assignment back onto the full-width rows
    val chipByNode = SpatialFunctions.longLookup(col("__node"),
      nodes.toSeq.map { case (id, nd) => id -> (nd.pl: Any) },
      IntegerType, "chip")
    val assignment = cur.select(col("doc_id"), col("span_idx"),
      chipByNode.as("chip")).localCheckpoint(eager = true)
    df0.join(assignment, Seq("doc_id", "span_idx"))
  }

  /** Approximate chipper — the scale path promised in SCALE.md: same
    * contract (chips ≈ capacity, spatially contiguous, squarish splits
    * along the wider axis) but split positions come from per-node
    * approximate MEDIANS, and assignment is a map-only comparison
    * against broadcast cut values — no rank window, no per-node sort.
    * Chip sizes are within the quantile sketch's error of the exact
    * sizes; use [[chipper]] when exact reference parity matters.
    *
    * Per-round shape (two jobs, both shrinking):
    *   1. COUNT per active node — a plain codegen'd hash aggregate;
    *      nodes at or under capacity settle, the rest split.
    *   2. median sketch of ONLY the splitting nodes' rows, on ONE axis
    *      per node (the wider side of the node's driver-carried bbox) —
    *      the sketch never runs over settled data, and the final
    *      confirmation round degenerates to the count aggregate alone.
    * Node bboxes are carried on the driver (root from one min/max pass;
    * a split at cut c on axis a gives children the parent bbox with the
    * a-range cut at c) — conservative supersets of the true data bounds,
    * which only affects which axis is called "wider", never sizes. */
  def chipperApprox(capacity: Long)(df0: DataFrame): DataFrame = {
    // narrow eager checkpoint of the working set — see chipper for why
    // this replaces a full-width columnar cache of df0
    val work = df0.select(col("doc_id"), col("span_idx"), col("x"), col("y"))
      .localCheckpoint()
    val total = work.count()
    if (total == 0) return df0.withColumn("chip", lit(0L))

    var cur = work.withColumn("__node", lit(0L))
    val rb = work.agg(min("x"), max("x"), min("y"), max("y")).head()
    // node id -> (minx, maxx, miny, maxy), driver-resident; O(#chips)
    var bounds = Map(0L -> (rb.getDouble(0), rb.getDouble(1),
      rb.getDouble(2), rb.getDouble(3)))
    var active = true
    var round = 0
    var activeNodes: Seq[Long] = Seq(0L)
    val maxRounds = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1, total / capacity)) + 3
    while (active && round < maxRounds) {
      // 1. cheap per-node counts over only the still-active subtree
      val statsSrc =
        if (activeNodes.size <= 4096) cur.filter(col("__node").isin(activeNodes: _*))
        else cur
      val counts = statsSrc.groupBy(col("__node"))
        .agg(count(lit(1)).as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1))
      val splitIds = counts.filter(_._2 > capacity).map(_._1)
      if (splitIds.isEmpty) active = false
      else {
        // 2. wider-axis median for splitting nodes only, one value per row
        val axisOf: Seq[(Long, Any)] = splitIds.toSeq.map { id =>
          val (mnx, mxx, mny, mxy) = bounds(id)
          id -> (((mxx - mnx) > (mxy - mny)): Any)
        }
        val axisByNode = SpatialFunctions.longLookup(col("__node"), axisOf,
          BooleanType, "axis")
        val axisVal = when(axisByNode, col("x")).otherwise(col("y"))
        val cuts = cur.filter(col("__node").isin(splitIds: _*))
          .groupBy(col("__node"))
          .agg(percentile_approx(axisVal, lit(0.5), lit(250)).as("cut"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1))
        val cutByNode = SpatialFunctions.longLookup(col("__node"),
          cuts.toSeq.map { case (id, c) => id -> (c: Any) }, DoubleType, "cut")
        cur = cur.withColumn("__node",
          when(cutByNode.isNull, col("__node"))
            .when(axisVal < cutByNode, col("__node") * 2 + 1)
            .otherwise(col("__node") * 2 + 2))
          .localCheckpoint(eager = false)
        val axisMap = axisOf.toMap
        cuts.foreach { case (id, c) =>
          val (mnx, mxx, mny, mxy) = bounds(id)
          if (axisMap(id).asInstanceOf[Boolean]) {
            bounds += (id * 2 + 1) -> (mnx, c, mny, mxy)
            bounds += (id * 2 + 2) -> (c, mxx, mny, mxy)
          } else {
            bounds += (id * 2 + 1) -> (mnx, mxx, mny, c)
            bounds += (id * 2 + 2) -> (mnx, mxx, c, mxy)
          }
        }
        activeNodes = splitIds.toSeq.flatMap(id => Seq(id * 2 + 1, id * 2 + 2))
      }
      round += 1
    }
    df0.join(
      cur.select(col("doc_id"), col("span_idx"), col("__node").as("chip"))
        .localCheckpoint(eager = true),
      Seq("doc_id", "span_idx"))
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
