package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** writers.rialto DIRECTORY emit — clean-room from the reference's
  * RialtoWriter.cpp / RialtoCommon.cpp:
  *
  *  - `<dir>/header.json`: version 3, the fixed world tilebbox
  *    [-180,-90,180,90] with numTilesX=2 / numTilesY=1, the data bbox,
  *    point count, and per-dimension {datatype, name, min, mean, max}
  *    (RialtoWriter.cpp:86-152 writeHeader);
  *  - `<dir>/<level>/<tx>/<ty>.ria`: the tile's RETAINED points as raw
  *    little-endian packed records in ordinal order, then ONE child-mask
  *    byte (SW=1, SE=2, NE=4, NW=8 — RialtoCommon.cpp:210-219);
  *  - tile tree: TWO level-0 roots (lon < 0 -> tx 0, else tx 1,
  *    RialtoWriter.cpp:135-139), quadrant descent with ties going
  *    west/south (`<= mid`, RialtoCommon.hpp:78-93), ty counted from
  *    the NORTH (NW child ty=2*ty, SW ty=2*ty+1, RialtoCommon.cpp:
  *    154-166); a tile exists iff any point's path crosses it, and a
  *    point is RETAINED at level L iff ordinal % 4^(maxLevel-L) == 0
  *    (the m_skip rule, RialtoCommon.cpp:79-94 — same rule as
  *    TileOps.lodPyramid / the q_lod oracle).
  *
  * Distributed shape: one flatMap explodes each point into its
  * (maxLevel+1)-tile path, one shuffle groups by tile, and each
  * executor task emits its tiles' files (two-phase `.inprogress`
  * publish on scheme'd destinations). The header is one tiny driver
  * aggregate. Record packing is the engine's own (each numeric column
  * little-endian at its natural width, column order preserved) — the
  * reference's record layout is its in-memory dim table, so consumers
  * read the layout from header.json's dimensions list either way. */
object RialtoWrite {

  /** (level, tx, ty) of the tile containing (lon, lat) at `level`,
    * mirroring root split + quadrant descent. */
  def tileOf(lon: Double, lat: Double, level: Int): (Int, Int) = {
    var tx = if (lon < 0) 0 else 1
    var ty = 0
    var west = if (lon < 0) -180.0 else 0.0
    var east = if (lon < 0) 0.0 else 180.0
    var south = -90.0; var north = 90.0
    var l = 0
    while (l < level) {
      val midx = (west + east) / 2; val midy = (south + north) / 2
      val lowX = lon <= midx; val lowY = lat <= midy
      tx = 2 * tx + (if (lowX) 0 else 1)
      ty = 2 * ty + (if (lowY) 1 else 0) // ty grows SOUTH
      if (lowX) east = midx else west = midx
      if (lowY) north = midy else south = midy
      l += 1
    }
    (tx, ty)
  }

  /** Child quadrant bit (SW=1, SE=2, NE=4, NW=8) the point descends to
    * from its level-`level` tile. */
  def childBit(lon: Double, lat: Double, level: Int): Int = {
    var west = if (lon < 0) -180.0 else 0.0
    var east = if (lon < 0) 0.0 else 180.0
    var south = -90.0; var north = 90.0
    var l = 0
    while (l < level) {
      val midx = (west + east) / 2; val midy = (south + north) / 2
      if (lon <= midx) east = midx else west = midx
      if (lat <= midy) north = midy else south = midy
      l += 1
    }
    val midx = (west + east) / 2; val midy = (south + north) / 2
    (if (lon <= midx) (if (lat <= midy) 1 else 8) // SW / NW
     else (if (lat <= midy) 2 else 4))            // SE / NE
  }

  private def pack(cols: Seq[(String, DataType)], r: Row, base: Int): Array[Byte] = {
    val size = cols.map { case (_, dt) => dt match {
      case DoubleType | LongType => 8
      case FloatType | IntegerType => 4
      case ShortType => 2
      case ByteType => 1
      case other => throw new IllegalArgumentException(s"rialto: unwritable $other")
    }}.sum
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    cols.zipWithIndex.foreach { case ((_, dt), i) =>
      dt match {
        case DoubleType => bb.putDouble(r.getDouble(base + i))
        case LongType => bb.putLong(r.getLong(base + i))
        case FloatType => bb.putFloat(r.getFloat(base + i))
        case IntegerType => bb.putInt(r.getInt(base + i))
        case ShortType => bb.putShort(r.getShort(base + i))
        case ByteType => bb.put(r.getByte(base + i))
        case _ =>
      }
    }
    bb.array()
  }

  /** Emit the rialto tile directory. `ordinal` drives the LOD skip rule
    * (the reference uses arrival order; any stable per-point ordinal
    * works and the caller owns it, like [[graft.operators.TileOps
    * .lodPyramid]]). Returns the number of tile files written. */
  def write(dir: String, df: DataFrame, maxLevel: Int,
            ordinal: String = "span_idx", overwrite: Boolean = false): Long = {
    val local = !ShardedWrite.hasScheme(dir)
    if (local) {
      val p = java.nio.file.Paths.get(dir)
      if (java.nio.file.Files.exists(p)) {
        // RialtoWriter.cpp:99-105 semantics: refuse unless overwrite
        require(overwrite,
          "RialtoWriter: Requested directory already exists. " +
            "Use writers.rialto.overwrite to delete the existing directory.")
        def rm(f: java.io.File): Unit = {
          val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
          f.delete(): Unit
        }
        rm(p.toFile)
      }
      java.nio.file.Files.createDirectories(p): Unit
    }
    val valueCols = ShardedWrite.numericCols(df.schema)
      .map(f => (f.name, f.dataType))
    val xi = valueCols.indexWhere(_._1 == "x")
    val yi = valueCols.indexWhere(_._1 == "y")
    require(xi >= 0 && yi >= 0 && valueCols(xi)._2 == DoubleType &&
      valueCols(yi)._2 == DoubleType, "rialto: need double x/y (lon/lat)")
    val src = df.select(
      (col(ordinal).cast(LongType) +: valueCols.map(c => col(c._1))): _*)

    // header: one driver aggregate (numPoints, bbox, per-dim stats)
    val stats = src.agg(
      count(lit(1)), min("x"), max("x"), min("y"), max("y")).head()
    val nPts = stats.getLong(0)
    require(nPts > 0, "rialto: empty input")
    // one scan for all dim stats (3 exprs per dim in a single agg)
    val dimAggExprs = valueCols.flatMap { case (n, _) => Seq(
      min(col(n)).cast(DoubleType), avg(col(n)), max(col(n)).cast(DoubleType)) }
    val dimRow = src.agg(dimAggExprs.head, dimAggExprs.tail: _*).head()
    val dimStats = valueCols.zipWithIndex.map { case ((n, _), i) =>
      (n, dimRow.getDouble(3 * i), dimRow.getDouble(3 * i + 1), dimRow.getDouble(3 * i + 2))
    }
    def f6(v: Double) = java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(v))
    // PDAL-canonical dimension names and C type names in the header, so
    // a rialto consumer reading the reference's header.json layout
    // (test/data/io/header.json) parses ours identically
    def pdalName(n: String): String = n match {
      case "x" => "X"; case "y" => "Y"; case "z" => "Z"
      case "intensity" => "Intensity"; case "offset_time" => "OffsetTime"
      case "gps_time" => "GpsTime"; case "classification" => "Classification"
      case "red" => "Red"; case "green" => "Green"; case "blue" => "Blue"
      case other => other
    }
    def pdalType(dt: DataType): String = dt match {
      case DoubleType => "double"; case FloatType => "float"
      case LongType => "int64_t"; case IntegerType => "int32_t"
      case ShortType => "int16_t"; case ByteType => "int8_t"
      case other => other.simpleString
    }
    // PDAL-unsigned dims get the unsigned name AT THE PACKED WIDTH —
    // the datatype must describe the record bytes actually written
    // (this engine widens unsigned LAS fields on decode, so e.g.
    // classification packs 2 bytes here: uint16_t, not the reference's
    // uint8_t — same non-negative values, self-consistent layout)
    val unsignedDims = Set("intensity", "classification", "red", "green",
      "blue", "user_data", "point_source_id", "return_number",
      "number_of_returns", "offset_time")
    def typeName(n0: String, dt: DataType): String =
      if (unsignedDims.contains(n0)) dt match {
        case LongType => "uint64_t"; case IntegerType => "uint32_t"
        case ShortType => "uint16_t"; case ByteType => "uint8_t"
        case other => pdalType(other) // float/double stay as packed
      } else pdalType(dt)
    val dimJson = valueCols.zip(dimStats).map { case ((n0, dt), (_, mn, mean, mx)) =>
      val n = pdalName(n0)
      val tn = typeName(n0, dt)
      s"""        {
         |            "datatype": "$tn",
         |            "name": "$n",
         |            "min": ${f6(mn)},
         |            "mean": ${f6(mean)},
         |            "max": ${f6(mx)}
         |        }""".stripMargin
    }.mkString(",\n")
    val header =
      s"""{
         |    "version": 3,
         |    "tilebbox": [${f6(-180)}, ${f6(-90)}, ${f6(180)}, ${f6(90)}],
         |    "numTilesX": 2,
         |    "numTilesY": 1,
         |    "databbox": [${f6(stats.getDouble(1))}, ${f6(stats.getDouble(3))}, ${f6(stats.getDouble(2))}, ${f6(stats.getDouble(4))}],
         |    "numPoints": $nPts,
         |    "dimensions": [
         |$dimJson
         |    ]
         |}
         |""".stripMargin
    val conf = ShardedWrite.confFor(df.sparkSession, dir)
    ShardedWrite.publish(dir, "header.json", header.getBytes("US-ASCII"), conf.map(_.value.value))

    // memberships: every point x every level of its path
    val cols = valueCols
    val ml = maxLevel
    val membEnc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      StructField("level", IntegerType), StructField("tx", IntegerType),
      StructField("ty", IntegerType), StructField("keep", BooleanType),
      StructField("cbit", IntegerType), StructField("ord", LongType),
      StructField("rec", BinaryType))))
    val memb = src.flatMap { r =>
      val lon = r.getDouble(1 + xi); val lat = r.getDouble(1 + yi)
      val ord = r.getLong(0)
      val rec = pack(cols, r, 1)
      (0 to ml).map { level =>
        val (tx, ty) = tileOf(lon, lat, level)
        val skip = math.pow(4.0, (ml - level).toDouble).toLong
        val keep = ord % skip == 0L
        // un-retained memberships exist only for tile presence + child
        // masks — shipping their record bytes would multiply shuffle
        // volume by (maxLevel+1); the retained sum is a 4/3 bound
        Row(level, tx, ty, keep,
          if (level == ml) 0 else childBit(lon, lat, level), ord,
          if (keep) rec else Array.emptyByteArray)
      }
    }(membEnc)
    // one shuffle on the tile key; records kept in ordinal order
    val tiles = memb.groupBy(col("level"), col("tx"), col("ty"))
      .agg(
        sort_array(collect_list(when(col("keep"),
          struct(col("ord"), col("rec"))))).as("recs"),
        // union of the quadrant bits every point descends to
        collect_set(col("cbit")).as("cbits"))
    val hasScheme = !local
    val outDir = dir
    val written = tiles.rdd.mapPartitions { it =>
      var n = 0L
      it.foreach { r =>
        val level = r.getInt(0); val tx = r.getInt(1); val ty = r.getInt(2)
        val recs = r.getSeq[Row](3)
        val mask = r.getSeq[Int](4).foldLeft(0)(_ | _)
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach(s => out.write(s.getAs[Array[Byte]](1)))
        out.write(mask & 0xFF)
        if (!hasScheme)
          java.nio.file.Files.createDirectories(
            java.nio.file.Paths.get(s"$outDir/$level/$tx"))
        ShardedWrite.publish(outDir, s"$level/$tx/$ty.ria", out.toByteArray,
          conf.map(_.value.value))
        n += 1
      }
      Iterator.single(n)
    }.sum().toLong
    written
  }
}
