package graft.index

import org.locationtech.jts.geom.{Geometry, GeometryFactory, Envelope, Coordinate}
import org.locationtech.jts.geom.prep.{PreparedGeometry, PreparedGeometryFactory}
import org.locationtech.jts.io.{WKTReader, WKBReader, WKBWriter}

/** Morton (Z-order) bit interleaving — the basis of the engine's
  * S2-style planar cell index (S2 itself is a Hilbert curve on cube
  * faces; for a planar point space a Z-curve gives the same prefix
  * containment property with cheaper math). Magic-mask spreading is the
  * standard public-domain bit trick (Hacker's Delight §7-2 / libmorton).
  *
  * The reference sorts by this exact ordering in filters.mortonorder
  * (MortonOrderFilter.cpp:64-88, "less_msb" most-significant-differing-
  * bit comparison — equivalent to comparing interleaved keys).
  */
object Morton {
  /** Spread the low 32 bits of v so bit i lands at bit 2i. */
  @inline def spread(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  @inline def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >>> 1)) & 0x3333333333333333L
    x = (x | (x >>> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >>> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >>> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >>> 16)) & 0x00000000ffffffffL
    x
  }

  /** 64-bit Morton key of two 32-bit coords (x in even bits). */
  @inline def interleave(ix: Long, iy: Long): Long = spread(ix) | (spread(iy) << 1)

  @inline def deinterleaveX(m: Long): Long = compact(m)
  @inline def deinterleaveY(m: Long): Long = compact(m >>> 1)
}

/** A bounded planar cell space with a resolution ladder, levels 0..30.
  * Level L divides the space into 2^L x 2^L square cells. Cell ids are
  * level-tagged Morton codes:
  *
  *   id = (morton(cx, cy) << 6) | level
  *
  * so ids are unique across levels, `parent` is a shift, and all ids of
  * descendants of a cell form one contiguous Morton range — the property
  * that makes covers prunable and range-joinable at scale.
  */
final case class CellSpace(minx: Double, miny: Double, maxx: Double, maxy: Double) {
  import CellSpace._
  require(maxx > minx && maxy > miny, s"degenerate cell space $this")
  val sx: Double = (1L << MaxLevel).toDouble / (maxx - minx)
  val sy: Double = (1L << MaxLevel).toDouble / (maxy - miny)

  /** Integer coordinate on the max-resolution grid, clamped to bounds. */
  @inline def ixAt(x: Double): Long = clamp(((x - minx) * sx).toLong)
  @inline def iyAt(y: Double): Long = clamp(((y - miny) * sy).toLong)
  @inline private def clamp(v: Long): Long =
    if (v < 0) 0L else if (v >= (1L << MaxLevel)) (1L << MaxLevel) - 1 else v

  /** Cell id containing (x, y) at `level`. */
  def cellAt(x: Double, y: Double, level: Int): Long = {
    val shift = MaxLevel - level
    pack(Morton.interleave(ixAt(x) >>> shift, iyAt(y) >>> shift), level)
  }

  /** Geographic envelope of a cell id. */
  def envelope(id: Long): Envelope = {
    val lvl = level(id)
    val m = id >>> 6
    val cx = Morton.deinterleaveX(m)
    val cy = Morton.deinterleaveY(m)
    val w = (maxx - minx) / (1L << lvl)
    val h = (maxy - miny) / (1L << lvl)
    new Envelope(minx + cx * w, minx + (cx + 1) * w, miny + cy * h, miny + (cy + 1) * h)
  }

  def parent(id: Long): Long = {
    val lvl = level(id)
    require(lvl > 0, "root has no parent")
    pack((id >>> 6) >>> 2, lvl - 1)
  }

  def children(id: Long): Array[Long] = {
    val lvl = level(id)
    val base = (id >>> 6) << 2
    Array.tabulate(4)(i => pack(base | i, lvl + 1))
  }

  /** The 8-neighborhood (and self) of a cell — the replication ring for
    * grid-partitioned kNN. Edge cells get fewer neighbors. */
  def neighborhood(id: Long): Array[Long] = {
    val lvl = level(id)
    val n = 1L << lvl
    val m = id >>> 6
    val cx = Morton.deinterleaveX(m)
    val cy = Morton.deinterleaveY(m)
    val out = Array.newBuilder[Long]
    var dx = -1
    while (dx <= 1) {
      var dy = -1
      while (dy <= 1) {
        val nx = cx + dx; val ny = cy + dy
        if (nx >= 0 && nx < n && ny >= 0 && ny < n)
          out += pack(Morton.interleave(nx, ny), lvl)
        dy += 1
      }
      dx += 1
    }
    out.result()
  }
}

object CellSpace {
  val MaxLevel = 30
  /** Max level that can be PACKED into a level-tagged id: a level-L cell
    * id carries 2L morton bits plus the 6-bit level tag, so L=30 would
    * need 66 bits — the top 2 bits would be lost and distinct cells
    * would collide (skipping exact PIP tests for far-away points).
    * Level 29 (~2 nm cells on a 1 km space) is the usable ceiling. */
  val MaxPackLevel = 29
  @inline def pack(morton: Long, level: Int): Long = {
    require(level <= MaxPackLevel, s"level $level > $MaxPackLevel overflows the 64-bit cell id")
    (morton << 6) | level
  }
  @inline def level(id: Long): Int = (id & 0x3fL).toInt

  /** Default space for the synthesized testdata cloud ([0,1000)²). */
  val default: CellSpace = CellSpace(0.0, 0.0, 1024.0, 1024.0)
}

/** A polygon's cell cover: `interior` cells are wholly inside (points in
  * them need no exact test), `boundary` cells intersect the polygon's
  * edge (points need the exact prepared-geometry test). This generalizes
  * the reference's bbox prefilter + exact GEOS contains
  * (CropFilter.cpp:139-151, AttributeFilter.cpp:307-330) into a
  * resolution-ladder cover usable as a join key.
  */
final case class CellCover(interior: Array[Long], boundary: Array[Long])

object PolygonCover {
  /** Compute a compact cover by recursive quadtree descent: interior
    * cells are emitted at the coarsest level at which they're wholly
    * contained; boundary cells at `maxLevel`. Driver-side — covers are
    * small (O(perimeter / cellsize)); broadcast to executors. */
  def cover(geom: Geometry, space: CellSpace, maxLevel: Int): CellCover = {
    val gf = new GeometryFactory()
    val prep = PreparedGeometryFactory.prepare(geom)
    val interior = Array.newBuilder[Long]
    val boundary = Array.newBuilder[Long]

    def rect(env: Envelope): Geometry = gf.toGeometry(env)

    def descend(id: Long, lvl: Int): Unit = {
      val env = space.envelope(id)
      val r = rect(env)
      if (!prep.intersects(r)) ()                 // disjoint: prune
      else if (prep.containsProperly(r)) interior += id
      else if (lvl >= maxLevel) boundary += id
      else space.children(id).foreach(c => descend(c, lvl + 1))
    }

    descend(CellSpace.pack(0L, 0), 0)
    CellCover(interior.result(), boundary.result())
  }

  /** Pick a boundary resolution so a compact cover stays ~`targetCells`:
    * boundary cell count ≈ perimeter / cellSize, so solve for the level
    * whose cell size ≈ perimeter / targetCells. Clamped to [2, MaxLevel]. */
  def autoLevel(geom: Geometry, space: CellSpace, targetCells: Int = 1024): Int = {
    val perim = math.max(geom.getLength, 1e-12)
    val want = perim / targetCells
    val width = space.maxx - space.minx
    val lvl = math.ceil(math.log(width / want) / math.log(2.0)).toInt
    // MaxPackLevel: a level-30 id would overflow 64 bits (see pack)
    math.max(2, math.min(CellSpace.MaxPackLevel, lvl))
  }

  def fromWkt(wkt: String): Geometry = new WKTReader().read(wkt)
}

/** A polygon's cover packed for one point-in-polygon test per row, in the
  * sorted-interval form of *Raster Intervals* (SIGMOD 2023): interior
  * cells merged into sorted level-`level` Morton ranges [lo, hi) (a
  * level-l cell covers the keys sharing its 2l-bit prefix), boundary cells
  * as sorted level-`level` keys. A point costs an envelope check, one
  * Morton key and two binary searches; only boundary-cell points pay the
  * exact prepared-geometry test. Rides a plan as one reference object. */
final class PipIndex private (env: Envelope, space: CellSpace, level: Int,
                              lo: Array[Long], hi: Array[Long],
                              boundary: Array[Long], wkb: Array[Byte]) extends Serializable {
  val minx: Double = env.getMinX
  val miny: Double = env.getMinY
  val maxx: Double = env.getMaxX
  val maxy: Double = env.getMaxY
  private val shift = CellSpace.MaxLevel - level
  @transient private lazy val prepared = GeomCache.prepared(wkb)

  def contains(x: Double, y: Double): Boolean = {
    if (!(x >= minx && x <= maxx && y >= miny && y <= maxy)) return false
    val m = Morton.interleave(space.ixAt(x) >>> shift, space.iyAt(y) >>> shift)
    val i = java.util.Arrays.binarySearch(lo, m)
    // found: m opens a range; otherwise test the range left of the insertion point
    if (i >= 0 || (i < -1 && m < hi(-i - 2))) true
    else java.util.Arrays.binarySearch(boundary, m) >= 0 &&
      prepared.contains(PipIndex.points.createPoint(new Coordinate(x, y)))
  }

  override def toString: String =
    s"PipIndex(level=$level, ranges=${lo.length}, boundary=${boundary.length})"
}

object PipIndex {
  private val points = new GeometryFactory()

  def apply(geom: Geometry, space: CellSpace, level: Int): PipIndex = {
    val cover = PolygonCover.cover(geom, space, level)
    val lo = Array.newBuilder[Long]
    val hi = Array.newBuilder[Long]
    var open = -1L; var end = -1L
    cover.interior.map { id =>
      val d = 2 * (level - CellSpace.level(id))
      ((id >>> 6) << d, ((id >>> 6) + 1) << d)
    }.sortBy(_._1).foreach { case (a, b) =>
      if (a == end) end = b // adjacent along the curve: extend the open range
      else { if (open >= 0) { lo += open; hi += end }; open = a; end = b }
    }
    if (open >= 0) { lo += open; hi += end }
    new PipIndex(geom.getEnvelopeInternal, space, level, lo.result(), hi.result(),
      cover.boundary.map(_ >>> 6).sorted, GeomCache.toWkb(geom))
  }

  /** Index in a cell space padded 10% around the polygon itself, correct
    * for any data coordinate range (the SQL `st_contains_xy` path). */
  def selfSpaced(geom: Geometry): PipIndex = {
    val env = geom.getEnvelopeInternal
    val padX = math.max(env.getWidth * 0.1, 1e-9)
    val padY = math.max(env.getHeight * 0.1, 1e-9)
    val space = CellSpace(env.getMinX - padX, env.getMinY - padY,
      env.getMaxX + padX, env.getMaxY + padY)
    PipIndex(geom, space, PolygonCover.autoLevel(geom, space))
  }
}

/** Executor-side cache of prepared geometries keyed by WKB bytes, so a
  * broadcast/literal geometry is parsed + prepared once per executor
  * (the reference reuses its GEOSPreparedGeometry across probes the same
  * way, CropFilter.cpp:137-142). */
object GeomCache {
  private val cache = new java.util.concurrent.ConcurrentHashMap[java.nio.ByteBuffer, PreparedGeometry]()
  def prepared(wkb: Array[Byte]): PreparedGeometry = {
    val key = java.nio.ByteBuffer.wrap(wkb)
    var g = cache.get(key)
    if (g == null) {
      g = PreparedGeometryFactory.prepare(new WKBReader().read(wkb))
      val prev = cache.putIfAbsent(key, g)
      if (prev != null) g = prev
    }
    g
  }
  def toWkb(g: Geometry): Array[Byte] = new WKBWriter().write(g)

  private val coordFactory = new GeometryFactory()
  /** Exact point-in-polygon test (the hot inner call of the PIP join). */
  def containsXY(wkb: Array[Byte], x: Double, y: Double): Boolean =
    prepared(wkb).contains(coordFactory.createPoint(new Coordinate(x, y)))
}
