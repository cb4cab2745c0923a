package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.GenericRow

/** LAS binary writer — 1.2 for point record formats 0-3, 1.4 for
  * formats 6-8 — the byte-emitting completion of the writers.las
  * semantics already modeled by [[graft.operators.Quantize]]:
  *
  *  - per-point quantization xi = numeric_cast[int32](lround((v - offset)
  *    / scale)) — round half away from zero with an out-of-range THROW,
  *    exactly the reference's conversion (io/las/LasWriter.cpp:603-609);
  *  - flag-byte packing returnNumber | numberOfReturns<<3 | scanDir<<6 |
  *    edge<<7 (io/las/LasWriter.cpp:626-628);
  *  - header finalized with the SummaryData the reference maintains
  *    while writing: point count, per-return counts (returns 1-5),
  *    min/max bounds (io/las/LasHeader.cpp:259-305 field order).
  *
  * Two paths share one record/header encoder:
  *  - [[write]]: single file, driver-side streaming emit (golden
  *    round-trip / fixture parity; one row resident at a time);
  *  - [[writeSharded]]: the bulk-export production path — the
  *    [[ShardedWrite]] harness with the LAS codec as its per-shard
  *    encoder: each shard becomes `<dir>/shard_<value>.las` with its own
  *    finalized header; no driver funnel.
  */
object LasWriter {

  final case class XForms(sx: Double, sy: Double, sz: Double,
                          ox: Double, oy: Double, oz: Double)

  def recordLen(fmt: Int): Int = fmt match {
    case 0 => 20
    case 1 => 28
    case 2 => 26
    case 3 => 34
    case 6 => 30
    case 7 => 36
    case 8 => 38
    case other => throw new IllegalArgumentException(s"writer supports formats 0-3 and 6-8, got $other")
  }

  /** lround + checked int32 cast (reference numeric_cast throw). */
  private def quantize(v: Double, offset: Double, scale: Double): Int = {
    val g = (v - offset) / scale
    val r = if (g >= 0) math.floor(g + 0.5) else math.ceil(g - 0.5)
    if (r < Int.MinValue.toDouble || r > Int.MaxValue.toDouble)
      throw new IllegalArgumentException(s"value out of int32 range after quantization: $v")
    r.toLong.toInt
  }

  /** Column ordinals of the point-frame fields in a Row (-1 = absent). */
  private final case class ColIx(x: Int, y: Int, z: Int, intens: Int,
    ret: Int, num: Int, cls: Int, ang: Int, usr: Int, psi: Int, gps: Int,
    r: Int, g: Int, b: Int, nir: Int, chan: Int)
  private object ColIx {
    def of(columns: Seq[String]): ColIx = {
      val m = columns.zipWithIndex.toMap
      val Seq(x, y, z, intens, ret, num, cls, ang, usr, psi, gps, r, g, b, nir, chan) =
        fieldNames.map(m.getOrElse(_, -1))
      ColIx(x, y, z, intens, ret, num, cls, ang, usr, psi, gps, r, g, b, nir, chan)
    }
  }

  /** The point-frame columns a LAS record encodes, in [[ColIx]] order. */
  val fieldNames: Seq[String] = Seq("x", "y", "z", "intensity", "return_number",
    "number_of_returns", "classification", "scan_angle_rank", "user_data",
    "point_source_id", "gps_time", "red", "green", "blue", "nir", "scanner_channel")

  /** Running per-file summary (the reference's SummaryData). */
  private final class Summary {
    var count = 0L
    val byReturn = new Array[Long](5)
    val byReturn15 = new Array[Long](15)
    var minx = Double.MaxValue; var maxx = -Double.MaxValue
    var miny = Double.MaxValue; var maxy = -Double.MaxValue
    var minz = Double.MaxValue; var maxz = -Double.MaxValue
  }

  /** Encode one Row into `rec` (cleared first) and fold it into `s`. */
  private def encodeRecord(rec: ByteBuffer, row: Row, ix: ColIx,
                           pointFormat: Int, xf: XForms, s: Summary): Unit = {
    val v14 = LasDecode.isV14(pointFormat)
    val x = row.getDouble(ix.x); val y = row.getDouble(ix.y); val z = row.getDouble(ix.z)
    rec.clear()
    rec.putInt(quantize(x, xf.ox, xf.sx))
    rec.putInt(quantize(y, xf.oy, xf.sy))
    rec.putInt(quantize(z, xf.oz, xf.sz))
    rec.putShort((if (ix.intens >= 0) row.getInt(ix.intens) else 0).toShort)
    val retNum = if (ix.ret >= 0) row.getShort(ix.ret).toInt else 0
    val numRet = if (ix.num >= 0) row.getShort(ix.num).toInt else 0
    if (!v14) {
      rec.put(((retNum & 0x7) | ((numRet & 0x7) << 3)).toByte)
      rec.put((if (ix.cls >= 0) row.getShort(ix.cls).toInt else 0).toByte)
      rec.put((if (ix.ang >= 0) math.round(row.getFloat(ix.ang)) else 0).toByte)
      rec.put((if (ix.usr >= 0) row.getShort(ix.usr).toInt else 0).toByte)
      rec.putShort((if (ix.psi >= 0) row.getInt(ix.psi) else 0).toShort)
      if (LasDecode.hasTime(pointFormat))
        rec.putDouble(if (ix.gps >= 0) row.getDouble(ix.gps) else 0.0)
      if (LasDecode.hasColor(pointFormat)) {
        rec.putShort((if (ix.r >= 0) row.getInt(ix.r) else 0).toShort)
        rec.putShort((if (ix.g >= 0) row.getInt(ix.g) else 0).toShort)
        rec.putShort((if (ix.b >= 0) row.getInt(ix.b) else 0).toShort)
      }
    } else {
      // V14 record (io/las/LasReader.cpp:722-788, inverted)
      rec.put(((retNum & 0xf) | ((numRet & 0xf) << 4)).toByte)
      val chan = if (ix.chan >= 0) row.getShort(ix.chan).toInt else 0
      rec.put(((chan & 0x3) << 4).toByte)
      rec.put((if (ix.cls >= 0) row.getShort(ix.cls).toInt else 0).toByte)
      rec.put((if (ix.usr >= 0) row.getShort(ix.usr).toInt else 0).toByte)
      val angle = if (ix.ang >= 0) row.getFloat(ix.ang) else 0.0f
      rec.putShort(math.round(angle / 0.006f).toShort)
      rec.putShort((if (ix.psi >= 0) row.getInt(ix.psi) else 0).toShort)
      rec.putDouble(if (ix.gps >= 0) row.getDouble(ix.gps) else 0.0)
      if (LasDecode.hasColor(pointFormat)) {
        rec.putShort((if (ix.r >= 0) row.getInt(ix.r) else 0).toShort)
        rec.putShort((if (ix.g >= 0) row.getInt(ix.g) else 0).toShort)
        rec.putShort((if (ix.b >= 0) row.getInt(ix.b) else 0).toShort)
      }
      if (LasDecode.hasInfrared(pointFormat))
        rec.putShort((if (ix.nir >= 0) row.getInt(ix.nir) else 0).toShort)
    }
    s.count += 1
    if (retNum >= 1 && retNum <= 15) s.byReturn15(retNum - 1) += 1
    if (retNum >= 1 && retNum <= 5) s.byReturn(retNum - 1) += 1
    if (x < s.minx) s.minx = x; if (x > s.maxx) s.maxx = x
    if (y < s.miny) s.miny = y; if (y > s.maxy) s.maxy = y
    if (z < s.minz) s.minz = z; if (z > s.maxz) s.maxz = z
  }

  /** Finalized header bytes for a file holding `s`. */
  private def headerBytes(pointFormat: Int, xf: XForms, s: Summary): Array[Byte] = {
    val v14 = LasDecode.isV14(pointFormat)
    val rl = recordLen(pointFormat)
    if (s.count == 0) {
      s.minx = 0; s.maxx = 0; s.miny = 0; s.maxy = 0; s.minz = 0; s.maxz = 0
    }
    val HeaderSize = if (v14) 375 else 227
    val hdr = ByteBuffer.allocate(HeaderSize).order(ByteOrder.LITTLE_ENDIAN)
    hdr.put("LASF".getBytes("US-ASCII"))      // 0: signature
    hdr.putShort(0)                            // 4: file source id
    // 6: global encoding — ASPRS 1.4 requires the WKT-CRS bit (0x10)
    // for point formats 6-10; strict readers (lasinfo/PDAL) warn or
    // reject 1.4 files without it. 1.2 formats 0-3 keep 0.
    hdr.putShort(if (v14) 0x10 else 0)
    hdr.position(24)                           // 8-23: project GUID = 0
    hdr.put(1.toByte)                          // 24: version major
    hdr.put(if (v14) 4.toByte else 2.toByte)   // 25: version minor
    val sysId = "graft".padTo(32, '\u0000').getBytes("US-ASCII")
    hdr.put(sysId, 0, 32)                      // 26: system id
    val sw = "graft spark engine".padTo(32, '\u0000').getBytes("US-ASCII")
    hdr.put(sw, 0, 32)                         // 58: software id
    hdr.putShort(0); hdr.putShort(0)           // 90: DOY / year
    hdr.putShort(HeaderSize.toShort)           // 94: header size
    hdr.putInt(HeaderSize)                     // 96: offset to point data
    hdr.putInt(0)                              // 100: #VLRs
    hdr.put(pointFormat.toByte)                // 104: record format
    hdr.putShort(rl.toShort)                   // 105: record length
    // 107: legacy u32 count + 5 return counts — zero for 1.4/formats 6+
    // (the u64 fields at 247 are authoritative there, per the spec)
    hdr.putInt(if (v14) 0 else s.count.toInt)
    s.byReturn.foreach(c => hdr.putInt(if (v14) 0 else c.toInt))
    hdr.putDouble(xf.sx); hdr.putDouble(xf.sy); hdr.putDouble(xf.sz) // 131: scales
    hdr.putDouble(xf.ox); hdr.putDouble(xf.oy); hdr.putDouble(xf.oz) // 155: offsets
    hdr.putDouble(s.maxx); hdr.putDouble(s.minx)   // 179: bounds (max then min)
    hdr.putDouble(s.maxy); hdr.putDouble(s.miny)
    hdr.putDouble(s.maxz); hdr.putDouble(s.minz)
    if (v14) {
      hdr.position(227)
      hdr.putLong(0L)                          // 227: waveform offset
      hdr.putLong(0L); hdr.putInt(0)           // 235: EVLR offset / count
      hdr.putLong(s.count)                     // 247: u64 point count
      s.byReturn15.foreach(hdr.putLong)        // 255: u64 returns 1-15
    }
    hdr.array()
  }

  /** Write `df` (point-frame columns, [[LasDecode.schema]] superset) as a
    * LAS file — version 1.2 for point formats 0-3, version 1.4 (375-byte
    * header, u64 counts at byte 247) for formats 6-8. Row order in the
    * file = iterator order of `df` — callers wanting a deterministic
    * file sort first. Returns the finalized header. */
  def write(path: String, df: DataFrame, pointFormat: Int, xf: XForms): LasDecode.LasHeader = {
    val bytes = fileBytes(df.toLocalIterator().asScala, df.columns.toSeq, pointFormat, xf, compress = false)
    Files.write(Paths.get(path), bytes)
    LasDecode.readHeader(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))
  }

  /** One whole LAS (or, with `compress`, .laz) file image of `rows`, in
    * iterator order — the record loop the driver writers and the
    * sharded encoder ([[imageBytes]]) share. */
  private def fileBytes(rows: Iterator[Row], columns: Seq[String], pointFormat: Int,
                        xf: XForms, compress: Boolean,
                        chunkSize: Int = 50000): Array[Byte] = {
    val rl = recordLen(pointFormat)
    val ix = ColIx.of(columns)
    val body = new ByteArrayOutputStream()
    val s = new Summary
    val rec = ByteBuffer.allocate(rl).order(ByteOrder.LITTLE_ENDIAN)
    rows.foreach { row =>
      encodeRecord(rec, row, ix, pointFormat, xf, s)
      body.write(rec.array(), 0, rl)
    }
    if (compress) lazContainerBytes(body.toByteArray, pointFormat, xf, s, chunkSize)
    else {
      val out = new ByteArrayOutputStream()
      out.write(headerBytes(pointFormat, xf, s))
      body.writeTo(out)
      out.toByteArray
    }
  }

  /** The codec seam's per-shard encoder: one LAS/LAZ file from boxed
    * records over `columns`. */
  private[sources] def imageBytes(columns: Seq[String], recs: IndexedSeq[Array[Any]],
                                  pointFormat: Int, xf: XForms,
                                  compress: Boolean): Array[Byte] =
    fileBytes(recs.iterator.map(new GenericRow(_)), columns, pointFormat, xf, compress)

  /** Write `df` as a COMPRESSED LAS (.laz): LAS header with the laszip
    * VLR (record 22204) and the point block produced by the clean-room
    * [[graft.sources.laz.LazEncoder]] — compressor 2 / item versions 2
    * for formats 0-3 (LAS 1.2 container), LAYERED compressor 3 / item
    * versions 3 for formats 6-8 (LAS 1.4 container,
    * [[graft.sources.laz.LazLayered]]). A small `chunkSize` yields a
    * multi-chunk stream + chunk table (the round-trip spec uses this to
    * exercise multi-chunk decode, which no reference fixture covers).
    * Returns the finalized header. */
  def writeLaz(path: String, df: DataFrame, pointFormat: Int, xf: XForms,
               chunkSize: Int = 50000): LasDecode.LasHeader = {
    val bytes = fileBytes(df.toLocalIterator().asScala, df.columns.toSeq, pointFormat, xf,
      compress = true, chunkSize)
    Files.write(Paths.get(path), bytes)
    LasDecode.readHeader(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))
  }

  /** Full .laz file bytes for already-encoded raw records + summary:
    * patched 1.2 header (laszip format bit, 1 VLR), the laszip VLR, and
    * the chunked compressed block with its chunk table. Shared by the
    * single-file and executor-sharded compressed writers. */
  private def lazContainerBytes(raw: Array[Byte], pointFormat: Int, xf: XForms,
                                s: Summary, chunkSize: Int,
                                chunkCounts: Seq[Int] = null): Array[Byte] = {
    val rl = recordLen(pointFormat)
    val hdr = headerBytes(pointFormat, xf, s)
    val vlrPayload = graft.sources.laz.LazEncoder.vlrPayload(
      pointFormat, chunkSize, variable = chunkCounts != null)
    val dataOffset = hdr.length + 54 + vlrPayload.length
    val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
    hb.putInt(96, dataOffset)
    hb.putInt(100, 1)
    hb.put(104, (hdr(104) | 0x80).toByte)
    val vlrHead = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    vlrHead.putShort(0)
    vlrHead.put("laszip encoded".padTo(16, '\u0000').getBytes("US-ASCII"), 0, 16)
    vlrHead.putShort(22204.toShort)
    vlrHead.putShort(vlrPayload.length.toShort)
    vlrHead.put("graft laszip".padTo(32, '\u0000').getBytes("US-ASCII"), 0, 32)
    val block = graft.sources.laz.LazEncoder.compress(
      raw, s.count.toInt, rl, pointFormat, chunkSize, dataOffset.toLong,
      chunkCounts = chunkCounts)
    val out = new ByteArrayOutputStream(dataOffset + block.length)
    out.write(hdr); out.write(vlrHead.array()); out.write(vlrPayload); out.write(block)
    out.toByteArray
  }

  /** SPATIALLY-CHUNKED compressed export — the cloud-optimized layout
    * on the standard variable-chunk container: points are sorted by
    * `tileSize` tile and every tile becomes its own chunk run (chunks
    * capped at `maxChunk` points), so each LAZ chunk covers a compact
    * spatial extent. A sidecar `<path>.chunks.json` records every
    * chunk's bbox (padded one quantization step outward);
    * [[LasDecode.asChunkSplitDataFrame]] with `bounds` prunes whole
    * chunks against it BEFORE any read or decompression — the
    * compressed-archive analogue of this engine's doc-bbox parquet
    * pruning (and of the reference's tindex discipline,
    * kernels/TIndexKernel.cpp). The driver single-file path is
    * fixture-scale by intent, like [[writeLaz]]; at production scale
    * the executor-sharded writer splits by tile FIRST and each shard
    * gets its own spatial chunking. */
  def writeLazTiled(path: String, df: DataFrame, pointFormat: Int, xf: XForms,
                    tileSize: Double, maxChunk: Int = 50000): LasDecode.LasHeader = {
    import org.apache.spark.sql.functions.{col, floor}
    require(tileSize > 0, s"tileSize $tileSize")
    val rl = recordLen(pointFormat)
    val sorted = df.orderBy(floor(col("x") / tileSize), floor(col("y") / tileSize))
    val ix = ColIx.of(sorted.columns.toSeq)
    val body = new ByteArrayOutputStream()
    val s = new Summary
    val rec = ByteBuffer.allocate(rl).order(ByteOrder.LITTLE_ENDIAN)
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val boxes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Double, Double)]
    var curTx = 0L; var curTy = 0L; var n = 0
    var bminx = 0.0; var bminy = 0.0; var bmaxx = 0.0; var bmaxy = 0.0
    def flush(): Unit = if (n > 0) {
      counts += n
      boxes += ((bminx - xf.sx, bminy - xf.sy, bmaxx + xf.sx, bmaxy + xf.sy))
      n = 0
    }
    val it = sorted.toLocalIterator()
    while (it.hasNext) {
      val row = it.next()
      val x = row.getDouble(ix.x); val y = row.getDouble(ix.y)
      val tx = math.floor(x / tileSize).toLong
      val ty = math.floor(y / tileSize).toLong
      if (n >= maxChunk || (n > 0 && (tx != curTx || ty != curTy))) flush()
      if (n == 0) { curTx = tx; curTy = ty; bminx = x; bminy = y; bmaxx = x; bmaxy = y }
      else {
        if (x < bminx) bminx = x; if (x > bmaxx) bmaxx = x
        if (y < bminy) bminy = y; if (y > bmaxy) bmaxy = y
      }
      encodeRecord(rec, row, ix, pointFormat, xf, s)
      body.write(rec.array(), 0, rl)
      n += 1
    }
    flush()
    val bytes = lazContainerBytes(body.toByteArray, pointFormat, xf, s,
      maxChunk, counts.toSeq)
    Files.write(Paths.get(path), bytes)
    val side = counts.zip(boxes).map { case (c, (a, b, cc, d)) =>
      s"""{"count":$c,"minx":$a,"miny":$b,"maxx":$cc,"maxy":$d}"""
    }.mkString("[", ",\n ", "]")
    Files.write(Paths.get(path + ".chunks.json"), side.getBytes("UTF-8"))
    LasDecode.readHeader(ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN))
  }

  /** Append an OGC-WKT SRS record (2112) as a LAS 1.4 EXTENDED VLR to a
    * finished 1.4 file image: the EVLR goes after the point data and the
    * header's u64 EVLR offset (byte 235) / u32 count (byte 243) are
    * patched. ASPRS 1.4 requires the WKT CRS for formats 6+ (the writer
    * already sets the WKT global-encoding bit); readers that only scan
    * inline VLRs miss EVLR-only SRS — [[LasDecode.readEvlrs]] is the
    * matching read side. */
  def appendWktEvlr(bytes: Array[Byte], wkt: String): Array[Byte] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    require((bb.get(25) & 0xff) >= 4, "EVLRs are a LAS 1.4 feature")
    require(bb.getInt(243) == 0, "file already has EVLRs; appending more is unsupported")
    val payload = wkt.getBytes("US-ASCII") :+ 0.toByte // NUL-terminated per spec
    val evlr = ByteBuffer.allocate(60 + payload.length).order(ByteOrder.LITTLE_ENDIAN)
    evlr.putShort(0)
    evlr.put("LASF_Projection".padTo(16, ' ').getBytes("US-ASCII"), 0, 16)
    evlr.putShort(2112.toShort)
    evlr.putLong(payload.length.toLong)
    evlr.put("OGC WKT SRS".padTo(32, ' ').getBytes("US-ASCII"), 0, 32)
    evlr.put(payload)
    val out = java.util.Arrays.copyOf(bytes, bytes.length + evlr.capacity())
    System.arraycopy(evlr.array(), 0, out, bytes.length, evlr.capacity())
    val ob = ByteBuffer.wrap(out).order(ByteOrder.LITTLE_ENDIAN)
    ob.putLong(235, bytes.length.toLong) // EVLR offset
    ob.putInt(243, 1)                    // EVLR count
    out
  }

  /** Convert an UNCOMPRESSED LAS byte image into the equivalent .laz,
    * preserving the original header fields and every existing VLR
    * (extra-bytes descriptors, SRS records, ...) verbatim — the laszip
    * VLR is appended, the data offset / VLR count / format-byte
    * compression bit patched, and the point block re-emitted through
    * the clean-room encoder. Extra bytes past the standard record
    * layout ride a BYTE (formats 0-3) / BYTE14 (6-8) item. The inverse
    * of [[LasDecode]]'s transparent decompression — together they are
    * las2las's compress/decompress round. */
  def lasToLaz(bytes: Array[Byte], chunkSize: Int = 50000,
               chunkCounts: Seq[Int] = null): Array[Byte] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val h = LasDecode.readHeader(bb)
    require((bytes(104) & 0xC0) == 0, "input is already laszip-compressed")
    val extraBytes = h.recordLen - LasDecode.baseRecordLen(h.pointFormat)
    require(extraBytes >= 0, s"record length ${h.recordLen} below the format's standard layout")
    val headerSize = bb.getShort(94) & 0xffff
    val nVlrs = bb.getInt(100)
    require(h.dataOffset + h.pointCount * h.recordLen <= Int.MaxValue,
      "single-buffer laz conversion caps at 2 GiB; shard first")
    val present = math.min(h.pointCount,
      math.max(0L, (bytes.length - h.dataOffset) / h.recordLen)).toInt
    val raw = java.util.Arrays.copyOfRange(bytes,
      h.dataOffset.toInt, h.dataOffset.toInt + present * h.recordLen)
    val vlrBlock = java.util.Arrays.copyOfRange(bytes, headerSize, h.dataOffset.toInt)
    val payload = graft.sources.laz.LazEncoder.vlrPayload(
      h.pointFormat, chunkSize, extraBytes, variable = chunkCounts != null)
    val vlrHead = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    vlrHead.putShort(0)
    vlrHead.put("laszip encoded".padTo(16, '\u0000').getBytes("US-ASCII"), 0, 16)
    vlrHead.putShort(22204.toShort)
    vlrHead.putShort(payload.length.toShort)
    vlrHead.put("graft laszip".padTo(32, '\u0000').getBytes("US-ASCII"), 0, 32)
    val newDataOffset = headerSize + vlrBlock.length + 54 + payload.length
    val hdr = java.util.Arrays.copyOfRange(bytes, 0, headerSize)
    val hb = ByteBuffer.wrap(hdr).order(ByteOrder.LITTLE_ENDIAN)
    hb.putInt(96, newDataOffset)
    hb.putInt(100, nVlrs + 1)
    hb.put(104, (hdr(104) | 0x80).toByte)
    val block = graft.sources.laz.LazEncoder.compress(
      raw, present, h.recordLen, h.pointFormat, chunkSize, newDataOffset.toLong,
      extraBytes, chunkCounts)
    val out = new ByteArrayOutputStream(newDataOffset + block.length)
    out.write(hdr); out.write(vlrBlock); out.write(vlrHead.array()); out.write(payload)
    out.write(block)
    out.toByteArray
  }

  /** Bulk-export production path: one LAS (or, with `compress`, LAZ)
    * shard per distinct value of `shardCol` (tile id, split id, …),
    * encoded in the executors and published two-phase on scheme'd
    * destinations by [[ShardedWrite.run]]. Returns the shard file names.
    * Reference discipline: io/las/LasWriter.cpp single-file serial emit,
    * fanned out per shard. */
  def writeSharded(dir: String, df: DataFrame, pointFormat: Int, xf: XForms,
                   shardCol: String, numTasks: Int = 0,
                   compress: Boolean = false): Seq[String] = {
    recordLen(pointFormat) // unsupported formats fail on the driver
    ShardedWrite.run(df, dir, shardCol, LasDecode.Codec(pointFormat, xf, compress), numTasks)
  }
}
