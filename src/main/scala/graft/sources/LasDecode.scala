package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import org.apache.spark.network.util.JavaUtils
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.connector.read.InputPartition
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** LAS 1.0-1.4 point decoder (point record formats 0-10), from the public
  * ASPRS LAS specification; field layout cross-checked against the
  * reference's record decode:
  *  - formats 0-5 (io/las/LasReader.cpp:651-720 loadPoint/loadPointV10:
  *    int32 x,y,z scaled+offset, u16 intensity, flag byte (return 3 bits,
  *    #returns 3 bits, scan dir, edge), classification, i8 scan angle,
  *    u8 user data, u16 point source id, then f64 gps time [fmt 1,3,4,5],
  *    3x u16 rgb [fmt 2,3,5]; wave packets [fmt 4,5] skipped)
  *  - formats 6-10 (io/las/LasReader.cpp:722-788 loadPointV14: int32
  *    x,y,z, u16 intensity, returns byte (4+4 bits), flags byte (class
  *    flags 4, scanner channel 2, scan dir 1, edge 1), u8 classification,
  *    u8 user data, i16 scan angle * 0.006 deg, u16 point source id,
  *    f64 gps time, rgb [fmt 7,8,10], u16 NIR [fmt 8,10])
  *  - header (io/las/LasHeader.cpp:200-255): legacy u32 count at 107;
  *    1.3+ adds the waveform offset; 1.4 stores the real u64 count at
  *    byte 247 and 15 u64 per-return counts; point-format byte masks
  *    off the two laszip compression bits (~0xC0).
  *
  * Every frame read is one [[PointScan]] decoding in executor tasks:
  * one file through [[asDataFrame]], planned from its header (LAZ
  * chunks or record ranges), a glob through [[PointCodec.read]] (whole
  * files). One record decoder, [[decodeRecord]], serves them all and
  * writes only the fields a query reads; the driver decodes whole files
  * only for tests and tools ([[readPoints]]).
  */
object LasDecode {
  final case class LasHeader(
    versionMajor: Int, versionMinor: Int, pointFormat: Int, recordLen: Int,
    pointCount: Long, dataOffset: Long,
    sx: Double, sy: Double, sz: Double, ox: Double, oy: Double, oz: Double,
    maxx: Double, minx: Double, maxy: Double, miny: Double, maxz: Double, minz: Double)

  def readHeader(bb: ByteBuffer): LasHeader = {
    bb.order(ByteOrder.LITTLE_ENDIAN)
    require(bb.get(0) == 'L' && bb.get(1) == 'A' && bb.get(2) == 'S' && bb.get(3) == 'F',
      "not a LAS file")
    val minor = bb.get(25) & 0xff
    // the two high bits of the format byte flag laszip compression
    // (LasHeader.cpp:222-226); mask them off like the reference
    val fmt = bb.get(104) & 0x3f
    val legacyCount = bb.getInt(107) & 0xffffffffL
    // LAS 1.4: the authoritative u64 count lives at byte 247 (legacy u32
    // is zero when the cloud exceeds u32 or uses formats 6+)
    val count =
      if (minor >= 4) { val c = bb.getLong(247); if (c != 0) c else legacyCount }
      else legacyCount
    LasHeader(
      versionMajor = bb.get(24) & 0xff, versionMinor = minor,
      pointFormat = fmt, recordLen = bb.getShort(105) & 0xffff,
      pointCount = count, dataOffset = bb.getInt(96) & 0xffffffffL,
      sx = bb.getDouble(131), sy = bb.getDouble(139), sz = bb.getDouble(147),
      ox = bb.getDouble(155), oy = bb.getDouble(163), oz = bb.getDouble(171),
      maxx = bb.getDouble(179), minx = bb.getDouble(187),
      maxy = bb.getDouble(195), miny = bb.getDouble(203),
      maxz = bb.getDouble(211), minz = bb.getDouble(219))
  }

  // ---- VLRs + SRS inference -------------------------------------------

  /** One variable-length record: 54-byte header (reserved u16, user_id
    * char[16], record_id u16, payload length u16, description char[32])
    * followed by the payload (io/las/VariableLengthRecord.hpp layout). */
  final case class Vlr(userId: String, recordId: Int, description: String,
                       payload: Array[Byte])

  private def cString(bytes: Array[Byte]): String = {
    val n = bytes.indexOf(0.toByte)
    new String(bytes, 0, if (n < 0) bytes.length else n, "US-ASCII").trim
  }

  /** Parse the VLR block between the header and the point data
    * (io/las/LasReader.cpp:307-380 VLR loop). Tolerant of truncation:
    * stops at the first record that would run past the data offset. */
  def readVlrs(bb: ByteBuffer): Seq[Vlr] = {
    bb.order(ByteOrder.LITTLE_ENDIAN)
    val headerSize = bb.getShort(94) & 0xffff
    val nVlrs = bb.getInt(100)
    val dataOffset = bb.getInt(96) & 0xffffffffL
    val out = Vector.newBuilder[Vlr]
    var off = headerSize
    var i = 0
    while (i < nVlrs && off + 54 <= math.min(dataOffset, bb.capacity().toLong)) {
      val uid = new Array[Byte](16); val desc = new Array[Byte](32)
      var p = off + 2
      (0 until 16).foreach { j => uid(j) = bb.get(p + j) }; p += 16
      val rid = bb.getShort(p) & 0xffff; p += 2
      val len = bb.getShort(p) & 0xffff; p += 2
      (0 until 32).foreach { j => desc(j) = bb.get(p + j) }; p += 32
      if (p + len <= bb.capacity()) {
        val payload = new Array[Byte](len)
        (0 until len).foreach { j => payload(j) = bb.get(p + j) }
        out += Vlr(cString(uid), rid, cString(desc), payload)
      }
      off = p + len
      i += 1
    }
    out.result()
  }

  /** EPSG code from the LASF_Projection VLRs: GeoTIFF GeoKeyDirectoryTag
    * (record 34735; short entries (keyId, tagLoc, count, value) after the
    * 4-short directory header — GeoTIFF spec 2.4) with
    * ProjectedCSTypeGeoKey 3072 taking precedence over
    * GeographicTypeGeoKey 2048; falls back to an OGC WKT record (2112)
    * AUTHORITY tail. 32767 = user-defined -> unknown. Mirrors what the
    * reference extracts via GDAL in ReprojectionFilter.cpp:131-180. */
  def epsgOf(vlrs: Seq[Vlr]): Option[Int] = {
    val geoKeys = vlrs.find(v => v.userId == "LASF_Projection" && v.recordId == 34735)
      .map { v =>
        val p = ByteBuffer.wrap(v.payload).order(ByteOrder.LITTLE_ENDIAN)
        val n = p.getShort(6) & 0xffff
        (0 until n).map { k =>
          (p.getShort(8 + 8 * k) & 0xffff, p.getShort(10 + 8 * k) & 0xffff,
            p.getShort(14 + 8 * k) & 0xffff)
        }
      }.getOrElse(Nil)
    def key(id: Int): Option[Int] = geoKeys.collectFirst {
      case (kid, 0, value) if kid == id && value != 32767 => value
    }
    key(3072).orElse(key(2048)).orElse {
      // OGC coordinate system WKT (LAS 1.4 record 2112)
      vlrs.find(v => v.userId == "LASF_Projection" && v.recordId == 2112)
        .flatMap { v =>
          val wkt = cString(v.payload)
          """(?s).*(?:AUTHORITY|ID)\s*\[\s*"EPSG"\s*,\s*"?(\d+)"?\s*\]""".r
            .findFirstMatchIn(wkt).map(_.group(1).toInt)
        }
    }
  }

  /** Map an EPSG code onto the engine's named-SRS registry
    * ([[graft.operators.Reproject]]). NAD83 UTM zones map to the WGS84
    * ellipsoid zones — the registry has NO datum shifts (documented
    * loudly there); NAD83 and WGS84 differ by under 2 m, which matches
    * the no-GDAL contract. Unknown codes -> None (callers fail loudly
    * when asked to auto-infer). */
  def registrySrsForEpsg(code: Int): Option[String] = code match {
    case 4326 | 4269 => Some("EPSG:4326") // NAD83 geographic ~ WGS84 (no datum shift)
    case 3857 | 900913 => Some("EPSG:3857")
    case c if c >= 32601 && c <= 32660 => Some(s"utm:${c - 32600}")
    case c if c >= 26901 && c <= 26923 => Some(s"utm:${c - 26900}") // NAD83 zones
    case _ => None
  }

  /** Parse the LAS 1.4 EXTENDED VLRs (EVLRs) of a file: the header's
    * u64 EVLR offset (byte 235) and u32 count (byte 243) point past the
    * point data; each record is a 60-byte header (reserved u16, user_id
    * char[16], record_id u16, payload length u64, description char[32])
    * plus payload. A 1.4 file may carry its WKT SRS (record 2112) ONLY
    * here, after the points — [[srsOf]] folds these in. Reads just the
    * EVLR region (seek + bounded reads), never the point data; payloads
    * above `maxPayload` are skipped (a waveform-data EVLR can be GBs). */
  def readEvlrs(path: String, maxPayload: Int = 16 << 20): Seq[Vlr] = {
    val head = {
      val in = Files.newInputStream(Paths.get(path))
      try in.readNBytes(375) finally in.close()
    }
    if (head.length < 375 || (head(25) & 0xff) < 4) return Nil
    val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val evlrOff = hb.getLong(235)
    val n = hb.getInt(243)
    val fileLen = Files.size(Paths.get(path))
    if (evlrOff <= 0 || n <= 0 || evlrOff + 60 > fileLen) return Nil
    val ch = java.nio.channels.FileChannel.open(Paths.get(path))
    try {
      val out = Vector.newBuilder[Vlr]
      var off = evlrOff
      var i = 0
      while (i < n && off + 60 <= fileLen) {
        val hdr = ByteBuffer.allocate(60).order(ByteOrder.LITTLE_ENDIAN)
        ch.read(hdr, off)
        hdr.flip()
        val uid = new Array[Byte](16); val desc = new Array[Byte](32)
        hdr.position(2); hdr.get(uid)
        val rid = hdr.getShort() & 0xffff
        val len = hdr.getLong()
        hdr.get(desc)
        if (len >= 0 && len <= maxPayload && off + 60 + len <= fileLen) {
          val payload = ByteBuffer.allocate(len.toInt)
          ch.read(payload, off + 60)
          out += Vlr(cString(uid), rid, cString(desc), payload.array())
        }
        off += 60 + math.max(0L, len)
        i += 1
      }
      out.result()
    } finally ch.close()
  }

  /** Header of a LAS file from its first bytes only (zero Spark jobs) —
    * the free row-count/extent source for pipeline routing decisions. */
  def headerOf(path: String): LasHeader = {
    val in = Files.newInputStream(Paths.get(path))
    val head = try in.readNBytes(375) finally in.close()
    readHeader(ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN))
  }

  /** Inferred registry SRS of a LAS file, from its VLRs ("in_srs"
    * auto-detection — ReprojectionFilter.cpp:131-180 discipline). Reads
    * only the header + VLR block, never the point data. */
  def srsOf(path: String): Option[String] = {
    val in = Files.newInputStream(Paths.get(path))
    val bytes = try {
      val head = in.readNBytes(375)
      val dataOffset = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
        .getInt(96) & 0xffffffffL
      head ++ in.readNBytes(math.max(0L, dataOffset - head.length).toInt)
    } finally in.close()
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    // a 1.4 file may carry the WKT record 2112 only as an EVLR after the
    // point data — fold those in behind the inline VLRs
    epsgOf(readVlrs(bb) ++ readEvlrs(path)).flatMap(registrySrsForEpsg)
  }

  // ---- extra-bytes dimensions (VLR LASF_Spec record 4) -----------------

  /** One extra per-point dimension: record-relative byte offset, LAS
    * type code (1-10 scalars; the spec's multi-element codes 11-30 are
    * flattened to scalars with 0/1/2 name suffixes, matching the
    * reference's Colors0/Colors1/... naming, LasReaderTest.cpp:318-323),
    * optional scale/offset when the descriptor's options flags set them. */
  final case class ExtraDim(name: String, typeCode: Int, offset: Int,
                            scale: Option[Double], offsetV: Option[Double])

  private val ExtraTypeSize = Array(0, 1, 1, 2, 2, 4, 4, 8, 8, 4, 8)

  /** Parse the 192-byte extra-bytes descriptors (LAS 1.4 spec §
    * "Extra Bytes VLR"): reserved u16, data_type u8, options u8,
    * name[32], unused[4], no_data/min/max (3x8 each), scale[3x f64],
    * offset[3x f64], description[32]. Type 0 = `options` opaque bytes
    * (skipped but its width advances the cursor). `baseLen` is the
    * format's standard record length — extras follow it. */
  def extraDimsOf(vlrs: Seq[Vlr], baseLen: Int): Seq[ExtraDim] = {
    vlrs.find(v => v.userId == "LASF_Spec" && v.recordId == 4).map { v =>
      val bb = ByteBuffer.wrap(v.payload).order(ByteOrder.LITTLE_ENDIAN)
      val out = Seq.newBuilder[ExtraDim]
      var off = baseLen
      (0 until v.payload.length / 192).foreach { k =>
        val base = k * 192
        val t = bb.get(base + 2) & 0xFF
        val options = bb.get(base + 3) & 0xFF
        val name = cString(v.payload.slice(base + 4, base + 36))
        if (t == 0) off += options // opaque filler bytes advance the cursor
        else {
          require(t <= 30, s"extra-bytes type $t unsupported")
          val (scalar, n) =
            if (t <= 10) (t, 1) else if (t <= 20) (t - 10, 2) else (t - 20, 3)
          val size = ExtraTypeSize(scalar)
          (0 until n).foreach { e =>
            out += ExtraDim(
              if (n == 1) name else s"$name$e",
              scalar, off + e * size,
              if ((options & 0x08) != 0) Some(bb.getDouble(base + 112 + 8 * e)) else None,
              if ((options & 0x10) != 0) Some(bb.getDouble(base + 136 + 8 * e)) else None)
          }
          off += n * size
        }
      }
      out.result()
    }.getOrElse(Nil)
  }

  private def readExtra(bb: ByteBuffer, recBase: Int, d: ExtraDim): Any = {
    val p = recBase + d.offset
    val raw: Double = d.typeCode match {
      case 1 => (bb.get(p) & 0xFF).toDouble
      case 2 => bb.get(p).toDouble
      case 3 => (bb.getShort(p) & 0xFFFF).toDouble
      case 4 => bb.getShort(p).toDouble
      case 5 => (bb.getInt(p) & 0xFFFFFFFFL).toDouble
      case 6 => bb.getInt(p).toDouble
      case 7 | 8 => bb.getLong(p).toDouble // u64 > 2^63 out of scope
      case 9 => bb.getFloat(p).toDouble
      case 10 => bb.getDouble(p)
    }
    d.scale.map(s => raw * s + d.offsetV.getOrElse(0.0))
      .orElse(d.offsetV.map(raw + _))
      .getOrElse(raw)
  }

  /** Driver decode INCLUDING extra-bytes dimensions as appended DOUBLE
    * columns (the reference registers them as typed proprietary dims,
    * LasReader.cpp extra-dims path; doubles carry every fixture value
    * exactly and keep the schema Spark-simple). */
  def asDataFrameWithExtras(spark: SparkSession, path: String,
                            docId: String = "las"): DataFrame = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val h = readHeader(bb)
    requireSingleBuffer(h)
    val base = baseRecordLen(h.pointFormat)
    val extras = extraDimsOf(readVlrs(bb), base)
    val (pb, off0) = pointBytes(bytes, bb, h)
    // Spark resolves column names case-insensitively: an extra dim named
    // like a standard column (the fixture's "Intensity") gets an extra_
    // prefix instead of shadowing it
    val baseNames = schema.fieldNames.map(_.toLowerCase).toSet
    def colName(d: ExtraDim): String =
      if (baseNames.contains(d.name.toLowerCase)) s"extra_${d.name}" else d.name
    val fullSchema = StructType(schema.fields ++
      extras.map(d => StructField(colName(d), DoubleType, nullable = false)))
    val toRow = rowConverter
    val id = UTF8String.fromString(docId)
    val w = new UnsafeRowWriter(schema.length)
    val rows = (0L until h.pointCount).map { i =>
      val recBase = (off0 + i * h.recordLen).toInt
      val std = toRow(decodeRecord(pb, recBase, h, AllFields, id, i.toInt, w))
      Row.fromSeq(std.toSeq ++ extras.map(readExtra(pb, recBase, _)))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), fullSchema)
  }

  /** Standard (pre-extra-bytes) record length by point format. */
  def baseRecordLen(fmt: Int): Int = fmt match {
    case 0 => 20; case 1 => 28; case 2 => 26; case 3 => 34
    case 4 => 57; case 5 => 63
    case 6 => 30; case 7 => 36; case 8 => 38; case 9 => 59; case 10 => 67
  }

  /** Capability predicates by point format (LasHeader.hpp:310-333). */
  def hasTime(fmt: Int): Boolean = fmt == 1 || (fmt >= 3 && fmt <= 5) || fmt >= 6
  def hasColor(fmt: Int): Boolean = fmt == 2 || fmt == 3 || fmt == 5 || fmt == 7 || fmt == 8 || fmt == 10
  def hasInfrared(fmt: Int): Boolean = fmt == 8 || fmt == 10
  def hasWave(fmt: Int): Boolean = fmt == 4 || fmt == 5 || fmt == 9 || fmt == 10
  def isV14(fmt: Int): Boolean = fmt >= 6

  val schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("span_idx", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("intensity", IntegerType, nullable = false),
    StructField("return_number", ShortType, nullable = false),
    StructField("number_of_returns", ShortType, nullable = false),
    StructField("classification", ShortType, nullable = false),
    StructField("scan_angle_rank", FloatType, nullable = false),
    StructField("user_data", ShortType, nullable = false),
    StructField("point_source_id", IntegerType, nullable = false),
    StructField("gps_time", DoubleType, nullable = false),
    StructField("red", IntegerType, nullable = false),
    StructField("green", IntegerType, nullable = false),
    StructField("blue", IntegerType, nullable = false),
    StructField("nir", IntegerType, nullable = false),
    StructField("scanner_channel", ShortType, nullable = false)))

  /** Single-buffer decodes index with Int offsets: fail clearly on
    * files past 2 GiB (1.4's u64 counts allow them) instead of wrapped
    * offsets and garbage records — large files go through
    * [[asDataFrame]], which bounds each task's buffer. */
  private def requireSingleBuffer(h: LasHeader): Unit =
    require(h.dataOffset + h.pointCount * h.recordLen <= Int.MaxValue,
      s"file too large for single-buffer decode (${h.pointCount} records); " +
        "read it with asDataFrame, which bounds each task's buffer")

  /** The "laszip encoded" VLR, if this is a .laz stream. */
  def lazVlrOf(bb: ByteBuffer): Option[laz.LazDecoder.LazVlr] =
    readVlrs(bb).find(v => v.userId == "laszip encoded" && v.recordId == 22204)
      .map(v => laz.LazDecoder.parseVlr(v.payload))

  /** Point-record bytes of `bb`, decompressing LASzip streams into raw
    * records first (so every caller decodes through the same
    * golden-pinned [[decodeRecord]]). Returns (buffer, offset of record
    * 0 inside it). */
  private def pointBytes(bytes: Array[Byte], bb: ByteBuffer, h: LasHeader): (ByteBuffer, Long) =
    lazVlrOf(bb) match {
      case Some(vlr) =>
        val raw = laz.LazDecoder.decompress(bytes, h.dataOffset.toInt,
          h.pointCount.toInt, h.recordLen, vlr)
        (ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN), 0L)
      case None => (bb, h.dataOffset)
    }

  /** Driver decode of one whole file to external Rows, for tests and
    * tools; frames come from [[asDataFrame]]. */
  def readPoints(path: String, docId: String = "las"): (LasHeader, Vector[Row]) = {
    val bytes = Files.readAllBytes(Paths.get(path))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val h = readHeader(bb)
    require(h.pointFormat <= 10, s"unsupported point format ${h.pointFormat}")
    (h, decodeAll(bytes, bb, h, docId, AllFields).map(rowConverter).toVector)
  }

  /** InternalRow -> external Row of [[schema]]. */
  private def rowConverter: InternalRow => Row = {
    val conv = CatalystTypeConverters.createToScalaConverter(schema)
    r => conv(r).asInstanceOf[Row]
  }

  /** A single LAS/LAZ file as a frame, planned from its header and
    * decoded in executor tasks. A LASzip file reads one task per chunk
    * ([[asChunkSplitDataFrame]]: `bounds` prunes the chunks of a tiled
    * archive). An uncompressed file reads [[splitsFor]] record ranges
    * ([[asSplitDataFrame]]). Either is narrowed to `columns`
    * ([[project]]), so the scan decodes only those. */
  def asDataFrame(spark: SparkSession, path: String, docId: String = "las",
                  columns: Seq[String] = Nil, bounds: Seq[Double] = Nil): DataFrame = {
    val f = fileHead(spark, path)
    if ((f.head(104) & 0xC0) != 0) asChunkSplitDataFrame(spark, path, docId, columns, bounds)
    else project(asSplitDataFrame(spark, path,
      splitsFor(spark, presentRecords(f.len, f.header) * f.header.recordLen), docId), columns)
  }

  /** `df` narrowed to doc_id, span_idx, x, y and `columns` (all of it
    * when `columns` is empty). */
  def project(df: DataFrame, columns: Seq[String]): DataFrame =
    if (columns.isEmpty) df
    else df.select((Seq("doc_id", "span_idx", "x", "y") ++ columns).distinct
      .filter(df.columns.contains).map(org.apache.spark.sql.functions.col): _*)

  /** Task count for `recordBytes` of fixed-length records, sized as
    * Spark sizes file splits: split bytes = min(maxPartitionBytes,
    * max(openCostInBytes, recordBytes / defaultParallelism)). */
  def splitsFor(spark: SparkSession, recordBytes: Long): Int = {
    def conf(k: String) = JavaUtils.byteStringAsBytes(spark.conf.get(k))
    val split = math.max(1L, math.min(conf("spark.sql.files.maxPartitionBytes"),
      math.max(conf("spark.sql.files.openCostInBytes"),
        recordBytes / spark.sparkContext.defaultParallelism)))
    math.max(1L, (recordBytes + split - 1) / split).toInt
  }

  /** Records physically present in an uncompressed file of `len` bytes:
    * a header whose count overruns the file (the reference's
    * 1.2-no-points.las declares 1065 points over zero bytes) clamps to
    * them, the reference reader's read-until-EOF behavior. */
  private def presentRecords(len: Long, h: LasHeader): Long =
    math.min(h.pointCount, math.max(0L, (len - h.dataOffset) / h.recordLen))

  /** The ordinals of every [[schema]] field. */
  val AllFields: Array[Int] = schema.indices.toArray

  /** One point record -> one row of the [[schema]] fields `fields` (in
    * that order), the engine's one LAS record decoder: writes straight
    * into a reusable UnsafeRowWriter and returns a materialized copy, 2
    * allocations per point instead of ~20 (external Row + field boxing
    * + the RowEncoder conversion projection). At 8+ concurrent decode
    * tasks in one JVM the allocation-rate/cache pressure of a boxed
    * decode was the measured scaling bottleneck (a replicated-LAZ
    * scaling run measured GC <= 5% but per-core throughput halved
    * 2 -> 8 cores). A field no format carries (gps_time of format 0, rgb
    * of 0/1/4/6/9, nir below 8, scanner_channel below 6) reads 0. */
  def decodeRecord(bb: ByteBuffer, base: Int, h: LasHeader, fields: Array[Int],
                   docId: UTF8String, idx: Int, w: UnsafeRowWriter): InternalRow = {
    val fmt = h.pointFormat
    val v14 = isV14(fmt)
    val color = if (v14) base + 30 else base + (if (hasTime(fmt)) 28 else 20)
    w.reset()
    var k = 0
    while (k < fields.length) {
      fields(k) match {
        case 0 => w.write(k, docId)
        case 1 => w.write(k, idx)
        case 2 => w.write(k, bb.getInt(base) * h.sx + h.ox)
        case 3 => w.write(k, bb.getInt(base + 4) * h.sy + h.oy)
        case 4 => w.write(k, bb.getInt(base + 8) * h.sz + h.oz)
        case 5 => w.write(k, bb.getShort(base + 12) & 0xffff)
        case 6 => w.write(k, (bb.get(base + 14) & (if (v14) 0xf else 0x7)).toShort)
        case 7 => w.write(k, (if (v14) (bb.get(base + 14) >> 4) & 0xf else (bb.get(base + 14) >> 3) & 0x7).toShort)
        case 8 => w.write(k, (bb.get(base + (if (v14) 16 else 15)) & 0xff).toShort)
        case 9 => w.write(k, if (v14) (bb.getShort(base + 18) * 0.006).toFloat else bb.get(base + 16).toFloat)
        case 10 => w.write(k, (bb.get(base + 17) & 0xff).toShort)
        case 11 => w.write(k, bb.getShort(base + (if (v14) 20 else 18)) & 0xffff)
        case 12 => w.write(k, if (v14) bb.getDouble(base + 22) else if (hasTime(fmt)) bb.getDouble(base + 20) else 0.0)
        case 13 => w.write(k, if (hasColor(fmt)) bb.getShort(color) & 0xffff else 0)
        case 14 => w.write(k, if (hasColor(fmt)) bb.getShort(color + 2) & 0xffff else 0)
        case 15 => w.write(k, if (hasColor(fmt)) bb.getShort(color + 4) & 0xffff else 0)
        case 16 => w.write(k, if (hasInfrared(fmt)) bb.getShort(color + (if (hasColor(fmt)) 6 else 0)) & 0xffff else 0)
        case 17 => w.write(k, (if (v14) (bb.get(base + 15) >> 4) & 0x3 else 0).toShort)
      }
      k += 1
    }
    w.getRow.copy()
  }

  /** Records `from` until `until` of `bb` (record `first` at byte `off`)
    * as rows of `fields`, span_idx = the absolute record index. */
  private def records(bb: ByteBuffer, off: Long, h: LasHeader, fields: Array[Int], docId: String,
                      first: Long, until: Long): Iterator[InternalRow] = {
    val id = UTF8String.fromString(docId)
    val w = new UnsafeRowWriter(fields.length)
    (first until until).iterator.map { i =>
      decodeRecord(bb, (off + (i - first) * h.recordLen).toInt, h, fields, id, i.toInt, w)
    }
  }

  /** Every record of a whole-file buffer as rows of `fields` (laszip
    * decompressed): the per-file unit of the glob and streaming reads. A
    * header whose count overruns the records present clamps to them, as
    * [[presentRecords]] does. */
  def decodeAll(bytes: Array[Byte], bb: ByteBuffer, h: LasHeader, docId: String,
                fields: Array[Int]): Iterator[InternalRow] = {
    requireSingleBuffer(h)
    val (pb, off0) = pointBytes(bytes, bb, h)
    val present = math.max(0L, (pb.capacity() - off0) / h.recordLen)
    records(pb, off0, h, fields, docId, 0L, math.min(h.pointCount, present))
  }

  /** LAS/LAZ on the codec seam, decoding only the fields a read needs.
    * The writer parameters (point format, quantization, LASzip
    * compression) only shape [[PointCodec.encode]] and
    * [[PointCodec.write]]. */
  final case class Codec(pointFormat: Int = 3,
                         xf: LasWriter.XForms = LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0),
                         compress: Boolean = false) extends PointCodec {
    def exts: Seq[String] = if (compress) Seq("laz", "las") else Seq("las", "laz")
    def schema(head: => Array[Byte]): StructType = LasDecode.schema
    def decode(bytes: Array[Byte], docId: String): (StructType, Iterator[Row]) = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      (LasDecode.schema, decodeAll(bytes, bb, readHeader(bb), docId, AllFields).map(rowConverter))
    }
    override def decodeFields(bytes: Array[Byte], path: String, pinned: StructType,
                              fields: Array[Int]): Iterator[InternalRow] = {
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      decodeAll(bytes, bb, readHeader(bb), PointCodec.docIdOf(path), fields)
    }
    override def writeCols(schema: StructType): Seq[StructField] =
      schema.fields.toSeq.filter(f => LasWriter.fieldNames.contains(f.name))
    override def encode(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]]): Array[Byte] =
      LasWriter.imageBytes(cols.map(_._1), recs, pointFormat, xf, compress)
    override def write(path: String, df: DataFrame): Unit =
      if (compress) LasWriter.writeLaz(path, df, pointFormat, xf)
      else LasWriter.write(path, df, pointFormat, xf)
  }

  /** One scan over the files of `pathGlob`, doc_id = file name.
    * Files too large for one task's buffer fail fast; a single one reads
    * through [[asDataFrame]]. */
  def asDistributedDataFrame(spark: SparkSession, pathGlob: String): DataFrame =
    PointCodec.read(spark, pathGlob, Codec())

  /** True iff the file's point-format byte carries the laszip
    * compression bits (header peek only). */
  def isLaszip(path: String): Boolean = {
    val in = Files.newInputStream(Paths.get(path))
    val head = try in.readNBytes(105) finally in.close()
    head.length > 104 && (head(104) & 0xC0) != 0
  }

  /** A planned file: its qualified path, its length and its header and
    * VLR block plus `extra` bytes past the data offset, read through the
    * session's Hadoop FileSystem, the driver's only read of it. */
  private final case class FileHead(path: String, len: Long, head: Array[Byte]) {
    def bb: ByteBuffer = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    def header: LasHeader = readHeader(bb)
  }

  private def fileHead(spark: SparkSession, path: String, extra: Int = 0): FileHead = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(ColumnBridge.hadoopConf(spark))
    val q = fs.makeQualified(p)
    val in = fs.open(q)
    val head = try {
      val h = in.readNBytes(375)
      val dataOffset = if (h.length < 100) 0L
        else ByteBuffer.wrap(h).order(ByteOrder.LITTLE_ENDIAN).getInt(96) & 0xffffffffL
      h ++ in.readNBytes(math.max(0L, dataOffset + extra - h.length).toInt)
    } finally in.close()
    FileHead(q.toString, fs.getFileStatus(q).getLen, head)
  }

  /** One spatially-chunked-archive sidecar entry
    * ([[LasWriter.writeLazTiled]]): the chunk's point count and padded
    * bbox. */
  final case class ChunkBox(count: Int, minx: Double, miny: Double,
                            maxx: Double, maxy: Double)

  def chunkBoxesOf(json: String): Seq[ChunkBox] = {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    org.json4s.jackson.JsonMethods.parse(json).extract[List[ChunkBox]]
  }

  /** One LAZ chunk of a scan: bytes [start, end) of the file, `count`
    * records from absolute record `base`. */
  final case class LazChunk(start: Long, end: Long, count: Int, base: Long) extends InputPartition

  /** The chunks of one LASzip file, one input partition each. Each task
    * reads only its chunk's byte range and decodes it independently.
    * On a layered (compressor 3) stream the fields a read needs select
    * the entropy layers it decodes: an x/y/z query decodes 2 of 9+
    * layers and never touches gps/rgb/extra bytes
    * ([[laz.LazLayered.LayerMask]]); compressor 1/2 interleave all
    * fields, so there every layer decodes. */
  final case class LasChunks(path: String, docId: String, h: LasHeader,
                             vlr: laz.LazDecoder.LazVlr, chunks: Seq[LazChunk]) extends PointScan.Source {
    def name: String = s"laz[$docId, ${chunks.size} chunks]"
    def schema: StructType = LasDecode.schema
    def partitions(spark: SparkSession): Seq[InputPartition] = chunks
    def read(p: InputPartition, fields: Array[Int], conf: Configuration,
             m: PointScan.Counters): Iterator[InternalRow] = {
      val c = p.asInstanceOf[LazChunk]
      val buf = PointScan.readRange(path, conf, c.start, (c.end - c.start).toInt)
      m.files += 1
      m.bytes += buf.length
      val mask =
        if (fields.length == schema.length) laz.LazLayered.LayerMask.All
        else laz.LazLayered.LayerMask.forColumns(fields.map(schema(_).name))
      val raw = laz.LazDecoder.decompressChunk(buf, 0, c.count, h.recordLen, vlr, mask)
      records(ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN), 0L, h, fields, docId,
        c.base, c.base + c.count)
    }
  }

  /** CHUNK-parallel LASzip ingest: ONE large .laz fanned across
    * executors at LAZ chunk boundaries ([[LasChunks]]). Chunks are
    * self-contained by design (raw seed point + fresh entropy models),
    * and the chunk table gives their exact byte offsets, so the driver
    * reads only the header, VLR block and chunk table: a 500 GB .laz
    * (50k-point chunks) becomes tens of thousands of parallel units
    * instead of one pinned executor. span_idx stays the absolute record
    * index, so chunk parallelism never changes the decoded frame.
    * `columns` narrows the frame ([[project]]); `bounds` drops the
    * chunks of a tiled archive whose sidecar box misses it. */
  def asChunkSplitDataFrame(spark: SparkSession, path: String,
                            docId: String = "las",
                            columns: Seq[String] = Nil,
                            bounds: Seq[Double] = Nil): DataFrame = {
    val conf = ColumnBridge.hadoopConf(spark)
    val f = fileHead(spark, path, extra = 8)
    val bb = f.bb
    val h = f.header
    // span_idx is int32 in the frame schema; past 2^31 records the
    // absolute-index identity (dedup/split-equality) would silently wrap
    require(h.pointCount <= Int.MaxValue,
      s"$path holds ${h.pointCount} records; span_idx is int32 — shard the file (2^31-1 records max per file)")
    val vlr = lazVlrOf(bb).getOrElse(
      throw new IllegalArgumentException(s"$path is not a LASzip stream"))
    val fileLen = f.len
    val variable = vlr.compressor >= 2 && vlr.chunkSize == laz.LazDecoder.VarChunkSentinel
    val chunk =
      if (vlr.compressor >= 2 && !variable && vlr.chunkSize > 0) vlr.chunkSize.toInt
      else h.pointCount.toInt
    val nChunksFixed = math.max(1, ((h.pointCount + chunk - 1) / chunk).toInt)
    val tableOff = if (vlr.compressor >= 2) bb.getLong(h.dataOffset.toInt) else fileLen
    def tableBytes(): Array[Byte] = {
      // read ONLY the table region — never the chunk data
      require(tableOff > 0 && tableOff + 8 <= fileLen,
        s"laszip chunk table offset $tableOff outside $path")
      PointScan.readRange(f.path, conf, tableOff, (fileLen - tableOff).toInt)
    }
    val (starts: Seq[Long], counts: Seq[Int]) =
      if (variable) {
        // variable-size chunking: boundaries live in the (count, bytes)
        // pairs of the chunk table
        val ct = laz.LazDecoder.chunkTableFromBytes(tableBytes(), variable = true, 0)
        require(ct.counts.map(_.toLong).sum == h.pointCount,
          s"variable chunk counts sum != point count in $path")
        if (ct.sizes.isEmpty) (Seq(h.dataOffset + 8), Seq(0))
        else (ct.sizes.init.map(_.toLong).scanLeft(h.dataOffset + 8)(_ + _).toSeq,
          ct.counts.toSeq)
      } else if (vlr.compressor >= 2 && nChunksFixed > 1) {
        (laz.LazDecoder.chunkSizesFromTable(tableBytes(), nChunksFixed - 1)
          .map(_.toLong).scanLeft(h.dataOffset + 8)(_ + _),
          (0 until nChunksFixed)
            .map(i => math.min(chunk.toLong, h.pointCount - i.toLong * chunk).toInt))
      } else if (vlr.compressor >= 2) (Seq(h.dataOffset + 8), Seq(h.pointCount.toInt))
      else (Seq(h.dataOffset), Seq(h.pointCount.toInt))
    val chunksEnd = if (tableOff > 0 && tableOff <= fileLen) tableOff else fileLen
    val bases = counts.map(_.toLong).scanLeft(0L)(_ + _)
    val all = starts.zipWithIndex.map { case (s, i) =>
      // +8 slack: the arithmetic decoder primes lookahead bytes past a
      // chunk's own payload
      val end = (if (i + 1 < starts.size) starts(i + 1) else chunksEnd) + 8
      LazChunk(s, math.min(end, fileLen), counts(i), bases(i))
    }
    // CHUNK-LEVEL SPATIAL PRUNING: a `bounds` query box against a
    // spatially-chunked archive ([[LasWriter.writeLazTiled]] sidecar)
    // drops whole chunks before any byte is read or decompressed.
    // Pruning is an optimization, never a filter: kept chunks may hold
    // out-of-box points (callers crop exactly downstream), and a
    // missing or stale sidecar falls back to decoding every chunk.
    val sidecar = new org.apache.hadoop.fs.Path(f.path + ".chunks.json")
    val kept =
      if (bounds.size == 4 && sidecar.getFileSystem(conf).exists(sidecar)) {
        val boxes = chunkBoxesOf(new String(PointCodec.readBytes(sidecar, conf), "UTF-8"))
        if (boxes.size == all.size &&
            boxes.map(_.count.toLong).sum == h.pointCount) {
          val Seq(qminx, qminy, qmaxx, qmaxy) = bounds
          all.zip(boxes).collect {
            case (d, b) if b.maxx >= qminx && b.minx <= qmaxx &&
              b.maxy >= qminy && b.miny <= qmaxy => d
          }
        } else all // stale sidecar: correct, just unpruned
      } else all
    project(PointScan.frame(spark, LasChunks(f.path, docId, h, vlr, kept)), columns)
  }

  /** One LAS record range of a scan: records [start, end). */
  final case class RecordRange(start: Long, end: Long) extends InputPartition

  /** Record ranges of one uncompressed LAS file, one input partition
    * each. Records are fixed-length, so each task reads only its range's
    * bytes, the move Parquet/CSV splittable sources make. */
  final case class LasRanges(path: String, docId: String, h: LasHeader,
                             ranges: Seq[RecordRange]) extends PointScan.Source {
    def name: String = s"las[$docId, ${ranges.size} ranges]"
    def schema: StructType = LasDecode.schema
    def partitions(spark: SparkSession): Seq[InputPartition] = ranges
    def read(p: InputPartition, fields: Array[Int], conf: Configuration,
             m: PointScan.Counters): Iterator[InternalRow] = {
      val r = p.asInstanceOf[RecordRange]
      val buf = PointScan.readRange(path, conf, h.dataOffset + r.start * h.recordLen,
        ((r.end - r.start) * h.recordLen).toInt)
      m.files += 1
      m.bytes += buf.length
      records(ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN), 0L, h, fields, docId, r.start, r.end)
    }
  }

  /** Offset-SPLIT LAS ingest: ONE large file fanned across `numSplits`
    * executor tasks at record boundaries ([[LasRanges]]). The driver
    * reads only the header; each task opens the file through the Hadoop
    * FileSystem (file://, hdfs://, s3a:// all resolve), seeks to its
    * range and decodes with [[decodeRecord]]. span_idx stays the
    * ABSOLUTE record index, so split count never changes the decoded
    * frame. The ranges cover the records present ([[presentRecords]]). A
    * single 500 GB LAS file becomes numSplits parallel scans instead of
    * pinning one executor. */
  def asSplitDataFrame(spark: SparkSession, path: String, numSplits: Int,
                       docId: String = "las"): DataFrame = {
    require(numSplits >= 1, s"numSplits must be >= 1, got $numSplits")
    val f = fileHead(spark, path)
    val h = f.header
    require(h.pointFormat <= 10, s"unsupported point format ${h.pointFormat}")
    require(h.pointCount <= Int.MaxValue,
      s"$path holds ${h.pointCount} records; span_idx is int32 — shard the file (2^31-1 records max per file)")
    // laszip bits in the raw format byte: compressed records are not
    // fixed-length, so offset splitting cannot apply; LAZ chunks are the
    // split unit there
    require((f.head(104) & 0xC0) == 0,
      "offset-split ingest needs uncompressed LAS; read .laz with asChunkSplitDataFrame")
    val n = presentRecords(f.len, h)
    val per = (n + numSplits - 1) / numSplits
    require(per * h.recordLen <= Int.MaxValue,
      s"split of $per records exceeds one task's buffer; raise numSplits")
    val ranges = (0 until numSplits)
      .map(i => RecordRange(n * i / numSplits, n * (i + 1) / numSplits))
      .filter(r => r.end > r.start)
    PointScan.frame(spark, LasRanges(f.path, docId, h, ranges))
  }
}
