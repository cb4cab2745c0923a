package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util.zip.{Deflater, Inflater}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** Clean-room BPF v3 (Binary Point File) reader + writer, covering the
  * reference's readers.bpf / writers.bpf surface (io/bpf/BpfReader.cpp,
  * BpfWriter.cpp, BpfHeader.cpp):
  *
  *  - header: "BPF!0003" magic, LE fields (len, numDim, interleave,
  *    compression, numPts, coordType, coordId, spacing, 4x4 Mueller
  *    matrix, start/end time), then per-dimension offset/min/max arrays
  *    and 32-byte labels (BpfHeader.cpp readV3/BpfDimension::read);
  *    legacy v1/v2 headers (readV1) carry X/Y/Z statically and imply the
  *    interleave from the version;
  *  - three physical layouts: dim-major (0), point-major (1), byte-major
  *    (2) — all values float32 on disk (BpfReader.cpp readPointMajor/
  *    readDimMajor/readByteMajor);
  *  - value reconstruction: f + dimOffset, then the Mueller matrix is
  *    applied to X/Y/Z with the reference's *sequential* update (the
  *    updated x feeds y's row, BpfHeader.hpp BpfMuellerMatrix::apply) —
  *    exact for the diagonal scale matrices the writer emits;
  *  - block compression: data section is a sequence of
  *    [u32 finalBytes][u32 compressBytes][payload] blocks
  *    (BpfReader.cpp readBlock). Zlib (enum 3) inflates with
  *    java.util.zip; FastLZ (enum 2) decodes with the clean-room
  *    decompressor below, with compressBytes == finalBytes meaning the
  *    block was stored raw (observed in the reference's own fastlz
  *    fixtures); QuickLZ (enum 1) fails loudly;
  *  - SRS: coordType UTM derives "EPSG:326<zone>" / "EPSG:327<zone>" by
  *    string concatenation exactly like BpfReader::initialize (zone 1
  *    yields EPSG:3261 — mirrored verbatim, it is what the reference's
  *    own inspect test pins).
  *
  * The writer mirrors BpfWriter: v3 only, the three layouts, optional
  * zlib block compression (the reference writes Zlib only), X/Y/Z
  * required and emitted first, per-axis scale/offset with
  * getAdjustedValue semantics (d/scale - offset for X/Y/Z, d - offset
  * otherwise), header rewritten after the data pass with final counts
  * and per-dimension min/max of the *raw* values.
  */
object Bpf {

  final case class Dim(label: String, offset: Double, min: Double, max: Double)

  final case class Header(
      version: Int, len: Int, interleave: Int, compression: Int,
      numPts: Int, coordType: Int, coordId: Int, spacing: Float,
      xform: Array[Double], startTime: Double, endTime: Double,
      dims: Seq[Dim]) {
    def srsCode: Option[String] =
      if (coordId == 0) None
      else Some(if (coordId > 0) s"EPSG:326${coordId}" else s"EPSG:327${-coordId}")
  }

  val DimMajor = 0
  val PointMajor = 1
  val ByteMajor = 2

  // ---- FastLZ (clean-room, from the published FastLZ format:
  // 3-bit match length / 13-bit offset opcodes, level tag in the top
  // 3 bits of the first byte; level 2 adds 255-extended lengths and
  // 16-bit extended offsets past 8191) --------------------------------
  object FastLz {
    def decompress(in: Array[Byte], outLen: Int): Array[Byte] = {
      val level = ((in(0) & 0xff) >> 5) + 1
      require(level == 1 || level == 2, s"bpf: fastlz level $level")
      val out = new Array[Byte](outLen)
      var ip = 0
      var op = 0
      var ctrl = in(ip) & 31; ip += 1
      var loop = true
      while (loop) {
        if (ctrl >= 32) {
          var len = (ctrl >> 5) - 1
          val ofs = (ctrl & 31) << 8
          var ref = 0
          if (level == 1) {
            if (len == 6) { len += in(ip) & 0xff; ip += 1 }
            val code = in(ip) & 0xff; ip += 1
            ref = op - ofs - code - 1
          } else {
            if (len == 6) {
              var code = 0
              do { code = in(ip) & 0xff; ip += 1; len += code } while (code == 255)
            }
            val code = in(ip) & 0xff; ip += 1
            ref = op - ofs - code - 1
            if (code == 255 && ofs == (31 << 8)) {
              val o2 = ((in(ip) & 0xff) << 8) + (in(ip + 1) & 0xff); ip += 2
              ref = op - o2 - 8191 - 1
            }
          }
          require(ref >= 0, "bpf: fastlz back-reference before stream start")
          if (ip < in.length) { ctrl = in(ip) & 0xff; ip += 1 } else loop = false
          var n = len + 3
          while (n > 0) { out(op) = out(ref); op += 1; ref += 1; n -= 1 }
        } else {
          var n = ctrl + 1
          while (n > 0) { out(op) = in(ip); op += 1; ip += 1; n -= 1 }
          if (ip < in.length) { ctrl = in(ip) & 0xff; ip += 1 } else loop = false
        }
      }
      require(op == outLen, s"bpf: fastlz produced $op of $outLen bytes")
      out
    }
  }

  // ---- header --------------------------------------------------------

  private def label32(bb: ByteBuffer, at: Int): String = {
    val raw = new Array[Byte](32)
    val p = bb.position()
    bb.position(at); bb.get(raw); bb.position(p)
    new String(raw, StandardCharsets.US_ASCII)
      .takeWhile(_ != 0).trim
  }

  def readHeader(bytes: Array[Byte]): Header = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = new String(bytes, 0, math.min(4, bytes.length),
      StandardCharsets.US_ASCII)
    if (magic == "BPF!") {
      val ver = new String(bytes, 4, 4, StandardCharsets.US_ASCII).toInt
      val len = bb.getInt(8)
      val numDim = bytes(12) & 0xff
      val interleave = bytes(13) & 0xff
      val compression = bytes(14) & 0xff
      // bytes(15) reserved
      val numPts = bb.getInt(16)
      val coordType = bb.getInt(20)
      val coordId = bb.getInt(24)
      val spacing = bb.getFloat(28)
      val xform = Array.tabulate(16)(i => bb.getDouble(32 + 8 * i))
      val startTime = bb.getDouble(160)
      val endTime = bb.getDouble(168)
      require(interleave <= 2, s"bpf: unknown interleave $interleave")
      // v3 dimension table follows the fixed 176-byte header directly:
      // numDim offsets, mins, maxs (f64 each), then 32-byte labels
      var p = 176
      val offs = Array.tabulate(numDim)(i => bb.getDouble(p + 8 * i)); p += 8 * numDim
      val mins = Array.tabulate(numDim)(i => bb.getDouble(p + 8 * i)); p += 8 * numDim
      val maxs = Array.tabulate(numDim)(i => bb.getDouble(p + 8 * i)); p += 8 * numDim
      val labels = Array.tabulate(numDim)(i => label32(bb, p + 32 * i))
      val dims = (0 until numDim).map(i => Dim(labels(i), offs(i), mins(i), maxs(i)))
      require(Seq("X", "Y", "Z").forall(l => dims.exists(_.label == l)),
        "bpf: file missing at least one of X, Y or Z dimensions")
      // interleave byte in the file: 0=dim-major, 1=point-major, 2=byte-major
      Header(ver, len, interleave, compression, numPts, coordType, coordId,
        spacing, xform, startTime, endTime, dims)
    } else {
      // legacy v1/v2 (BpfHeader.cpp readV1): [i32 len][i32 version]
      // [i32 numPts][i32 numDim][i32 coordType][i32 coordId][f32 spacing]
      // then X/Y/Z offset/min/max triplets; auxiliary dim table follows
      val len = bb.getInt(0)
      val ver = bb.getInt(4)
      require(ver == 1 || ver == 2, s"bpf: unsupported version $ver")
      val numPts = bb.getInt(8)
      val numAux = bb.getInt(12)
      val coordType = bb.getInt(16)
      val coordId = bb.getInt(20)
      val spacing = bb.getFloat(24)
      var p = 28
      val xyzOff = Array.tabulate(3)(i => bb.getDouble(p + 8 * i)); p += 24
      val xyzMin = Array.tabulate(3)(i => bb.getDouble(p + 8 * i)); p += 24
      val xyzMax = Array.tabulate(3)(i => bb.getDouble(p + 8 * i)); p += 24
      val static = Seq("X", "Y", "Z").zipWithIndex.map { case (l, i) =>
        Dim(l, xyzOff(i), xyzMin(i), xyzMax(i)) }
      val offs = Array.tabulate(numAux)(i => bb.getDouble(p + 8 * i)); p += 8 * numAux
      val mins = Array.tabulate(numAux)(i => bb.getDouble(p + 8 * i)); p += 8 * numAux
      val maxs = Array.tabulate(numAux)(i => bb.getDouble(p + 8 * i)); p += 8 * numAux
      val labels = Array.tabulate(numAux)(i => label32(bb, p + 32 * i))
      val aux = (0 until numAux).map(i => Dim(labels(i), offs(i), mins(i), maxs(i)))
      val interleave = if (ver == 1) DimMajor else PointMajor
      Header(ver, len, interleave, 0, numPts, coordType, coordId, spacing,
        identityXform, 0.0, 0.0, static ++ aux)
    }
  }

  private def identityXform: Array[Double] = {
    val m = new Array[Double](16)
    m(0) = 1.0; m(5) = 1.0; m(10) = 1.0; m(15) = 1.0
    m
  }

  /** Zero-scan preview from the header's own dimension stats (the
    * reference's inspect/QuickInfo path, BpfReader.cpp inspect). */
  final case class QuickInfo(numPts: Int, dimNames: Seq[String],
      bounds: Map[String, (Double, Double)], srs: Option[String])

  def quickInfo(path: String): QuickInfo = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val h = readHeader(bytes)
    val b = Seq("X", "Y", "Z").flatMap { l =>
      h.dims.find(_.label == l).map(d => l -> (d.min, d.max)) }
    QuickInfo(h.numPts, h.dims.map(_.label), b.toMap, h.srsCode)
  }

  // ---- data decode ----------------------------------------------------

  /** Inflate/decode the (possibly compressed) data section into one raw
    * float buffer of numPts*numDims little-endian float32s in the file's
    * native interleave order.
    *
    * `needed` (byte ranges in the DECOMPRESSED image, sorted) enables
    * SELECTIVE DECOMPRESSION: every block carries its own independent
    * zlib/FastLZ stream, so blocks whose output interval misses all
    * needed ranges are skipped without decoding — in dim-major and
    * byte-major layouts a dimension is a contiguous plane, so a pruned
    * column skips its whole block(s) (the BPF twin of the layered-LAZ
    * selective layer decode). Skipped regions stay zero. */
  def dataSection(bytes: Array[Byte], h: Header,
                  needed: Option[Seq[(Long, Long)]] = None): Array[Byte] = {
    val want = h.numPts.toLong * h.dims.size * 4
    require(want <= Int.MaxValue, s"bpf: ${h.numPts} points overflow a buffer — shard the file")
    def overlaps(a: Long, b: Long): Boolean = needed match {
      case None => true
      case Some(rs) => rs.exists { case (s, e) => s < b && a < e }
    }
    if (h.compression == 0) {
      require(bytes.length - h.len >= want,
        s"bpf: truncated data section (${bytes.length - h.len} of $want bytes)")
      java.util.Arrays.copyOfRange(bytes, h.len, h.len + want.toInt)
    } else {
      require(h.compression == 2 || h.compression == 3,
        s"bpf: compression enum ${h.compression} unsupported " +
          "(1=QuickLZ has no public spec; only FastLZ=2 and Zlib=3 decode)")
      val out = new Array[Byte](want.toInt)
      val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
      var pos = h.len
      var at = 0
      while (at < out.length && pos + 8 <= bytes.length) {
        val fin = bb.getInt(pos)
        val comp = bb.getInt(pos + 4)
        pos += 8
        require(fin > 0 && comp > 0 && pos + comp <= bytes.length,
          s"bpf: bad compression block at $pos (final=$fin comp=$comp)")
        if (!overlaps(at, at + fin.toLong)) {
          // pruned: this block's entire output lies in unneeded planes
        } else if (h.compression == 3) {
          val inf = new Inflater()
          inf.setInput(bytes, pos, comp)
          var produced = 0
          while (produced < fin && !inf.finished()) {
            val n = inf.inflate(out, at + produced, fin - produced)
            require(n > 0 || inf.finished(), "bpf: zlib stall")
            produced += n
          }
          inf.end()
          require(produced == fin, s"bpf: zlib block produced $produced of $fin")
        } else if (comp == fin) {
          System.arraycopy(bytes, pos, out, at, fin) // stored raw
        } else {
          val block = FastLz.decompress(
            java.util.Arrays.copyOfRange(bytes, pos, pos + comp), fin)
          System.arraycopy(block, 0, out, at, fin)
        }
        at += fin
        pos += comp
      }
      require(at == out.length, s"bpf: decompressed $at of ${out.length} bytes")
      out
    }
  }

  /** Engine column name for a BPF dimension label: X/Y/Z become the
    * engine's x/y/z; other labels lowercase with spaces collapsed to
    * underscores ("Number of Returns" -> number_of_returns), matching
    * the LAS reader's naming. */
  def colName(label: String): String = label match {
    case "X" => "x"
    case "Y" => "y"
    case "Z" => "z"
    case other => other.trim.toLowerCase.replaceAll("\\s+", "_")
  }

  /** Dim indices a column selection needs decoded: the requested ones
    * plus X/Y/Z (the Mueller transform couples them). Nil = all. */
  private def keptDims(h: Header, columns: Seq[String]): Array[Boolean] =
    if (columns.isEmpty) Array.fill(h.dims.size)(true)
    else {
      val want = columns.toSet ++ Set("x", "y", "z")
      h.dims.map(d => want.contains(colName(d.label))).toArray
    }

  def schemaOf(h: Header, columns: Seq[String] = Nil): StructType = {
    val keep = keptDims(h, columns)
    val sel = columns.toSet
    StructType(
      StructField("doc_id", StringType, nullable = false) +:
      StructField("span_idx", IntegerType, nullable = false) +:
      h.dims.zipWithIndex.collect {
        case (d, i) if keep(i) &&
            (columns.isEmpty || sel.contains(colName(d.label)) ||
             Seq("x", "y", "z").contains(colName(d.label))) =>
          val n = colName(d.label)
          val dt = if (n == "x" || n == "y" || n == "z") DoubleType else FloatType
          StructField(n, dt, nullable = false)
      })
  }

  /** Decode one BPF image to rows of [[schemaOf]]. `count` caps the
    * points read (the reference reader's `count` option). `columns`
    * prunes output dimensions — in dim/byte-major layouts the pruned
    * dimensions' compression blocks are never even decompressed
    * ([[dataSection]]); x/y/z always decode (the Mueller transform
    * couples them). */
  def decode(bytes: Array[Byte], docId: String,
             count: Int = Int.MaxValue,
             columns: Seq[String] = Nil): (StructType, Seq[Row]) = {
    val h = readHeader(bytes)
    val keep = keptDims(h, columns)
    val needed: Option[Seq[(Long, Long)]] =
      if (columns.isEmpty || h.interleave == PointMajor) None
      else Some(h.dims.indices.collect { case d if keep(d) =>
        (d.toLong * h.numPts * 4, (d + 1).toLong * h.numPts * 4) })
    val data = dataSection(bytes, h, needed)
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    val nDim = h.dims.size
    val n = math.min(h.numPts, count)
    val xi = h.dims.indexWhere(_.label == "X")
    val yi = h.dims.indexWhere(_.label == "Y")
    val zi = h.dims.indexWhere(_.label == "Z")
    val offs = h.dims.map(_.offset).toArray
    val m = h.xform
    val schema = schemaOf(h, columns)
    val emit = h.dims.indices.filter { d =>
      keep(d) && (columns.isEmpty || {
        val cn = colName(h.dims(d).label)
        columns.contains(cn) || Seq("x", "y", "z").contains(cn)
      })
    }.toArray

    def rawAt(d: Int, i: Int): Float = h.interleave match {
      case PointMajor => bb.getFloat((i.toLong * nDim + d).toInt * 4)
      case DimMajor   => bb.getFloat((d.toLong * h.numPts + i).toInt * 4)
      case ByteMajor  =>
        // dim-major float planes, themselves split into 4 byte planes
        // (BpfReader.cpp readByteMajor / seekByteMajor)
        val base = d.toLong * h.numPts * 4
        var u = 0
        var b = 0
        while (b < 4) {
          u |= (data((base + b.toLong * h.numPts + i).toInt) & 0xff) << (b * 8)
          b += 1
        }
        java.lang.Float.intBitsToFloat(u)
    }

    val rows = (0 until n).map { i =>
      val vals = new Array[Any](nDim)
      var d = 0
      while (d < nDim) {
        if (keep(d)) vals(d) = rawAt(d, i) + offs(d)
        d += 1
      }
      // Mueller transform on X/Y/Z with the reference's sequential
      // aliasing (BpfMuellerMatrix::apply: updated x feeds y's row)
      var x = anyToDouble(vals(xi))
      var y = anyToDouble(vals(yi))
      var z = anyToDouble(vals(zi))
      val w = x * m(12) + y * m(13) + z * m(14) + m(15)
      x = (x * m(0) + y * m(1) + z * m(2) + m(3)) / w
      y = (x * m(4) + y * m(5) + z * m(6) + m(7)) / w
      z = (x * m(8) + y * m(9) + z * m(10) + m(11)) / w
      val out = new Array[Any](emit.length + 2)
      out(0) = docId
      out(1) = i
      var e = 0
      while (e < emit.length) {
        val d = emit(e)
        out(e + 2) =
          if (d == xi) x
          else if (d == yi) y
          else if (d == zi) z
          else anyToDouble(vals(d)).toFloat
        e += 1
      }
      Row.fromSeq(out.toIndexedSeq)
    }
    (schema, rows)
  }

  private def anyToDouble(a: Any): Double = a match {
    case v: Double => v
    case v: Float  => v.toDouble
  }

  /** BPF on the codec seam. `columns` prunes dimensions codec-side
    * (selective block decompression), `count` caps each file's points,
    * `opts` shapes the written file. */
  final case class Codec(columns: Seq[String] = Nil, count: Int = Int.MaxValue,
                         opts: WriteOpts = WriteOpts()) extends PointCodec {
    def exts: Seq[String] = Seq("bpf")
    def schema(head: => Array[Byte]): StructType = schemaOf(readHeader(head), columns)
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      Bpf.decode(bytes, docId, count, columns)
    /** Decodes only the dimensions of `fields` (x/y/z always: the
      * Mueller transform couples them). */
    override def decodeFields(bytes: Array[Byte], path: String, pinned: StructType,
                              fields: Array[Int]): Iterator[InternalRow] = {
      val own = schemaOf(readHeader(bytes), columns)
      require(own == pinned,
        s"$path: schema ${own.simpleString} differs from the pinned schema ${pinned.simpleString}")
      val names = fields.toSeq.map(pinned(_).name).filterNot(Set("doc_id", "span_idx"))
      val (sch, rows) = Bpf.decode(bytes, PointCodec.docIdOf(path), count,
        if (names.isEmpty) Seq("x") else names)
      rows.iterator.map(PointCodec.writer(sch, fields.map(f => sch.fieldIndex(pinned(f).name))))
    }
    override def writeCols(schema: StructType): Seq[StructField] =
      writeColumns(schema).map(schema(_))
    override def encode(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]]): Array[Byte] =
      imageBytes(cols.map(_._1),
        recs.map(_.map(_.asInstanceOf[Number].doubleValue)).toArray, opts)
  }

  /** One scan over the matched files; `columns` prunes dimensions. */
  def asDistributedDataFrame(spark: SparkSession, pathGlob: String,
                             columns: Seq[String] = Nil): DataFrame =
    PointCodec.read(spark, pathGlob, Codec(columns))

  // ---- writer ---------------------------------------------------------

  final case class WriteOpts(
      format: Int = PointMajor,
      compression: Boolean = false,
      coordId: Int = 0,
      scaleX: Double = 1.0, scaleY: Double = 1.0, scaleZ: Double = 1.0,
      offsetX: Double = 0.0, offsetY: Double = 0.0, offsetZ: Double = 0.0)

  /** The column set a BPF write serializes: every numeric column except
    * the span ordinal, x/y/z first (they become labels X/Y/Z). */
  def writeColumns(schema: StructType): Seq[String] = {
    val names = schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] && f.name != "span_idx" =>
        f.name
    }.toSeq
    require(Seq("x", "y", "z").forall(names.contains),
      "bpf: missing one of dimensions x, y or z — can't write BPF")
    Seq("x", "y", "z") ++ names.filterNot(Seq("x", "y", "z").contains)
  }

  /** Build one complete BPF v3 image for `rows` (one double per ordered
    * column each). Shared by the driver writer and the sharded executor
    * writer. */
  def imageBytes(ordered: Seq[String], rows: Array[Array[Double]],
                 opts: WriteOpts): Array[Byte] = {
    val nDim = ordered.size
    val n = rows.length

    val scales = Array(opts.scaleX, opts.scaleY, opts.scaleZ)
    val offs = Array.fill(nDim)(0.0)
    offs(0) = opts.offsetX; offs(1) = opts.offsetY; offs(2) = opts.offsetZ
    val mins = Array.fill(nDim)(Double.MaxValue)
    val maxs = Array.fill(nDim)(Double.MinValue)

    // adjusted float value per BpfWriter::getAdjustedValue: track raw
    // min/max, divide X/Y/Z by scale, subtract the dimension offset
    def adjusted(r: Array[Double], d: Int): Float = {
      val raw = r(d)
      if (raw < mins(d)) mins(d) = raw
      if (raw > maxs(d)) maxs(d) = raw
      val scaled = if (d < 3) raw / scales(d) else raw
      (scaled - offs(d)).toFloat
    }

    def labelOf(nm: String): String = nm match {
      case "x" => "X"; case "y" => "Y"; case "z" => "Z"; case o => o
    }

    val headerLen = 176 + nDim * (8 * 3 + 32)
    val out = new java.io.ByteArrayOutputStream()
    def writeBlock(payload: Array[Byte]): Unit = {
      val fr = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      if (opts.compression) {
        val defl = new Deflater()
        defl.setInput(payload); defl.finish()
        // drain through a growable sink: dim/byte-major planes are one
        // block of n*4 bytes, and zlib's worst case on incompressible
        // input EXCEEDS the payload length (~5 bytes/64 KB stored-block
        // overhead), so a fixed-slack buffer can fill and stall deflate
        val sink = new java.io.ByteArrayOutputStream(payload.length / 2 + 64)
        val buf = new Array[Byte](64 * 1024)
        while (!defl.finished()) {
          val n = defl.deflate(buf, 0, buf.length)
          if (n > 0) sink.write(buf, 0, n)
        }
        defl.end()
        val comp = sink.toByteArray
        fr.putInt(payload.length).putInt(comp.length)
        out.write(fr.array()); out.write(comp)
      } else out.write(payload)
    }

    opts.format match {
      case PointMajor =>
        // 10k-point blocks (BpfWriter::writePointMajor's 16 MB bound)
        val block = 10000
        var i = 0
        while (i < n) {
          val m = math.min(block, n - i)
          val bb = ByteBuffer.allocate(m * nDim * 4).order(ByteOrder.LITTLE_ENDIAN)
          var j = 0
          while (j < m) {
            var d = 0
            while (d < nDim) { bb.putFloat(adjusted(rows(i + j), d)); d += 1 }
            j += 1
          }
          writeBlock(bb.array())
          i += m
        }
      case DimMajor =>
        var d = 0
        while (d < nDim) {
          val bb = ByteBuffer.allocate(n * 4).order(ByteOrder.LITTLE_ENDIAN)
          var i = 0
          while (i < n) { bb.putFloat(adjusted(rows(i), d)); i += 1 }
          writeBlock(bb.array())
          d += 1
        }
      case ByteMajor =>
        val bb = ByteBuffer.allocate(n * nDim * 4)
        var d = 0
        while (d < nDim) {
          val bits = Array.tabulate(n)(i =>
            java.lang.Float.floatToIntBits(adjusted(rows(i), d)))
          var b = 0
          while (b < 4) {
            var i = 0
            while (i < n) { bb.put(((bits(i) >> (b * 8)) & 0xff).toByte); i += 1 }
            b += 1
          }
          d += 1
        }
        writeBlock(bb.array())
      case other => throw new IllegalArgumentException(s"bpf: write format $other")
    }

    // header (written last — the data pass gathered min/max)
    val hdr = ByteBuffer.allocate(headerLen).order(ByteOrder.LITTLE_ENDIAN)
    hdr.put("BPF!0003".getBytes(StandardCharsets.US_ASCII))
    hdr.putInt(headerLen)
    hdr.put(nDim.toByte)
    hdr.put(opts.format.toByte)
    hdr.put((if (opts.compression) 3 else 0).toByte) // Zlib like the reference
    hdr.put(0.toByte)
    hdr.putInt(n)
    hdr.putInt(if (opts.coordId != 0) 1 else 0) // BpfCoordType::UTM
    hdr.putInt(opts.coordId)
    hdr.putFloat(0.0f)
    val xf = identityXform
    xf(0) = scales(0); xf(5) = scales(1); xf(10) = scales(2)
    xf.foreach(hdr.putDouble)
    hdr.putDouble(0.0); hdr.putDouble(0.0)
    (0 until nDim).foreach(d => hdr.putDouble(offs(d)))
    (0 until nDim).foreach(d => hdr.putDouble(if (n == 0) 0.0 else mins(d)))
    (0 until nDim).foreach(d => hdr.putDouble(if (n == 0) 0.0 else maxs(d)))
    ordered.foreach { nm =>
      val lab = labelOf(nm).getBytes(StandardCharsets.US_ASCII)
      val padded = java.util.Arrays.copyOf(lab, 32)
      hdr.put(padded)
    }

    val img = new java.io.ByteArrayOutputStream(headerLen + out.size())
    img.write(hdr.array()); out.writeTo(img)
    img.toByteArray
  }

  /** Write the DataFrame's numeric columns as one BPF v3 file (driver
    * collect — fixture-scale by intent, like Ply.write; use
    * [[writeSharded]] for volume). x/y/z are required and written first
    * as labels X/Y/Z; the header carries the point count and
    * per-dimension raw min/max gathered in the data pass
    * (BpfWriter::done back-patches the same way). */
  def write(path: String, df: DataFrame, opts: WriteOpts = WriteOpts()): Unit =
    Codec(opts = opts).write(path, df)

  /** Executor-sharded BPF export ([[ShardedWrite.run]]). */
  def writeSharded(dir: String, df: DataFrame, shardCol: String,
                   opts: WriteOpts = WriteOpts(), numTasks: Int = 0): Seq[String] =
    ShardedWrite.run(df, dir, shardCol, Codec(opts = opts), numTasks)
}
