package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Clean-room PCD (PCL Point Cloud Data, format v0.7) reader + writer,
  * covering the reference's readers.pcd / writers.pcd surface
  * (plugins/pcl/io/PcdReader.cpp, PcdWriter.cpp — thin shims over PCL's
  * own PCDReader/PCDWriter). Format per the public PCD spec:
  *
  *  - ASCII header: VERSION / FIELDS / SIZE / TYPE / COUNT / WIDTH /
  *    HEIGHT / VIEWPOINT / POINTS / DATA lines, '#' comments;
  *  - DATA ascii: one whitespace-separated row per point;
  *  - DATA binary: packed little-endian point-major records;
  *  - DATA binary_compressed: [u32 compressedSize][u32 uncompressedSize]
  *    then LZF-compressed field-major (structure-of-arrays) data — the
  *    layout PCL's writeBinaryCompressed emits;
  *  - fields named "_" are padding and are skipped; COUNT>1 fields
  *    flatten to `<name>_<i>` columns (the extra-bytes convention).
  *
  * The LZF codec below is clean-room from the published LibLZF format
  * (literal runs ctrl<32 of ctrl+1 bytes; matches len=(ctrl>>5)+2 with
  * 255-extended length when the 3-bit field saturates, 13-bit offset+1).
  *
  * Writer semantics mirror the reference writer: x/y/z stored as
  * float32 (PCL's XYZIRGBA point type), optionally shifted to the
  * cloud's minimum corner first — PDALtoPCD subtracts the view bounds
  * minimum (plugins/pcl/PCLConversions.hpp:102-104) and nothing adds it
  * back on read, so `shiftOrigin = true` reproduces that lossy
  * reference behavior; the default false keeps absolute coordinates.
  */
object Pcd {

  // ---- LZF (clean-room from the LibLZF format) ------------------------
  object Lzf {
    /** Decompress exactly `outLen` bytes. */
    def decompress(in: Array[Byte], outLen: Int): Array[Byte] = {
      val out = new Array[Byte](outLen)
      var ip = 0
      var op = 0
      while (ip < in.length) {
        val ctrl = in(ip) & 0xff; ip += 1
        if (ctrl < 32) {
          var n = ctrl + 1
          while (n > 0) { out(op) = in(ip); op += 1; ip += 1; n -= 1 }
        } else {
          var len = ctrl >> 5
          if (len == 7) { len += in(ip) & 0xff; ip += 1 }
          val ref = op - (((ctrl & 31) << 8) | (in(ip) & 0xff)) - 1; ip += 1
          require(ref >= 0, "pcd: lzf back-reference before stream start")
          var n = len + 2
          var r = ref
          while (n > 0) { out(op) = out(r); op += 1; r += 1; n -= 1 }
        }
      }
      require(op == outLen, s"pcd: lzf produced $op of $outLen bytes")
      out
    }

    /** Greedy LZF compression (valid stream; not byte-identical to
      * liblzf's heuristics — round-trip is the contract). */
    def compress(in: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(in.length + in.length / 16 + 16)
      val lit = new java.io.ByteArrayOutputStream(32)
      def flushLit(): Unit = if (lit.size() > 0) {
        val b = lit.toByteArray
        var i = 0
        while (i < b.length) {
          val n = math.min(32, b.length - i)
          out.write(n - 1)
          out.write(b, i, n)
          i += n
        }
        lit.reset()
      }
      val hBits = 14
      val hSize = 1 << hBits
      val head = Array.fill(hSize)(-1)
      def hash(i: Int): Int = {
        val v = ((in(i) & 0xff) << 16) | ((in(i + 1) & 0xff) << 8) | (in(i + 2) & 0xff)
        ((v * 2654435761L) >>> (32 - hBits)).toInt & (hSize - 1)
      }
      var i = 0
      val maxOff = 1 << 13
      while (i < in.length) {
        if (i + 2 < in.length) {
          val h = hash(i)
          val cand = head(h)
          head(h) = i
          if (cand >= 0 && i - cand <= maxOff &&
              in(cand) == in(i) && in(cand + 1) == in(i + 1) && in(cand + 2) == in(i + 2)) {
            var len = 3
            val maxLen = math.min(in.length - i, 255 + 7 + 2)
            while (len < maxLen && in(cand + len) == in(i + len)) len += 1
            flushLit()
            val off = i - cand - 1
            val l = len - 2 // encoded length field
            if (l < 7) out.write((l << 5) | (off >> 8))
            else { out.write((7 << 5) | (off >> 8)); out.write(l - 7) }
            out.write(off & 0xff)
            // seed the hash table through the match so later data can
            // reference into it
            var j = i + 1
            val stop = math.min(i + len, in.length - 3)
            while (j < stop) { head(hash(j)) = j; j += 1 }
            i += len
          } else { lit.write(in(i)); i += 1 }
        } else { lit.write(in(i)); i += 1 }
      }
      flushLit()
      out.toByteArray
    }
  }

  // ---- header ----------------------------------------------------------

  final case class Field(name: String, size: Int, tpe: String, count: Int) {
    def byteSize: Int = size * count
  }
  final case class Header(fields: Seq[Field], width: Long, height: Long,
      points: Long, data: String, dataOffset: Int)

  def parseHeader(bytes: Array[Byte]): Header = {
    val probe = new String(bytes, 0, math.min(bytes.length, 65536),
      StandardCharsets.US_ASCII)
    var fields: Seq[String] = Nil
    var sizes: Seq[Int] = Nil
    var types: Seq[String] = Nil
    var counts: Seq[Int] = Nil
    var width = -1L; var height = -1L; var points = -1L
    var data: String = null
    var dataOffset = -1
    // walk lines by raw byte offset (not linesIterator, which strips \r
    // and would undercount a CRLF-terminated header by one byte per
    // line, shifting the binary payload start)
    var pos = 0
    var done = false
    while (pos < probe.length && !done) {
      val nl = probe.indexOf('\n', pos)
      val end = if (nl < 0) probe.length else nl
      val line = probe.substring(pos, end).stripSuffix("\r")
      pos = if (nl < 0) probe.length else nl + 1
      val t = line.trim
      if (t.nonEmpty && !t.startsWith("#")) {
        val tok = t.split("\\s+").toSeq
        tok.head.toUpperCase match {
          case "VERSION"   => // informative
          case "FIELDS" | "COLUMNS" => fields = tok.tail
          case "SIZE"      => sizes = tok.tail.map(_.toInt)
          case "TYPE"      => types = tok.tail
          case "COUNT"     => counts = tok.tail.map(_.toInt)
          case "WIDTH"     => width = tok(1).toLong
          case "HEIGHT"    => height = tok(1).toLong
          case "VIEWPOINT" => // pose — carried by reprojection ops, not rows
          case "POINTS"    => points = tok(1).toLong
          case "DATA"      => data = tok(1).toLowerCase; dataOffset = pos; done = true
          case other => throw new IllegalArgumentException(s"pcd: bad header line '$t'")
        }
      }
    }
    require(data != null, "pcd: missing DATA line")
    require(fields.nonEmpty, "pcd: missing FIELDS")
    require(sizes.size == fields.size && types.size == fields.size,
      "pcd: FIELDS/SIZE/TYPE arity mismatch")
    val cnts = if (counts.isEmpty) Seq.fill(fields.size)(1) else counts
    if (points < 0) points = width * math.max(1L, height)
    require(Seq("ascii", "binary", "binary_compressed").contains(data),
      s"pcd: unsupported DATA $data")
    Header(fields.indices.map(i => Field(fields(i), sizes(i),
      types(i).toUpperCase, cnts(i))), width, height, points, data, dataOffset)
  }

  private def sparkType(f: Field): DataType = (f.tpe, f.size) match {
    case ("F", 4) => FloatType
    case ("F", 8) => DoubleType
    case ("I", 1) => ByteType
    case ("I", 2) => ShortType
    case ("I", 4) => IntegerType
    case ("I", 8) => LongType
    case ("U", 1) => ShortType
    case ("U", 2) => IntegerType
    case ("U", 4) => LongType
    case ("U", 8) => LongType // widened with the engine's documented u64 caveat
    case (t, s) => throw new IllegalArgumentException(s"pcd: type $t size $s")
  }

  /** Flattened output columns (padding "_" skipped, COUNT>1 expanded). */
  def columnsOf(h: Header): Seq[(Field, Int, String)] =
    h.fields.filter(_.name != "_").flatMap { f =>
      if (f.count == 1) Seq((f, 0, f.name))
      else (0 until f.count).map(c => (f, c, s"${f.name}_$c"))
    }

  def schemaOf(h: Header): StructType = StructType(
    StructField("doc_id", StringType, nullable = false) +:
    StructField("span_idx", IntegerType, nullable = false) +:
    columnsOf(h).map { case (f, _, n) =>
      val dt = if (Seq("x", "y", "z").contains(n)) DoubleType else sparkType(f)
      StructField(n, dt, nullable = false)
    })

  private def convert(f: Field, name: String, raw: Double): Any =
    if (Seq("x", "y", "z").contains(name)) raw
    else sparkType(f) match {
      case ByteType    => raw.toByte
      case ShortType   => raw.toShort
      case IntegerType => raw.toInt
      case LongType    => raw.toLong
      case FloatType   => raw.toFloat
      case DoubleType  => raw
    }

  /** Decode one PCD image to rows of [[schemaOf]]. */
  def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) = {
    val h = parseHeader(bytes)
    val schema = schemaOf(h)
    val cols = columnsOf(h)
    val recSize = h.fields.map(_.byteSize).sum
    require(h.points * math.max(1, recSize) <= Int.MaxValue,
      s"pcd: ${h.points} points overflow a buffer — shard the file")
    val n = h.points.toInt

    def numAt(bb: ByteBuffer, f: Field, at: Int): Double = (f.tpe, f.size) match {
      case ("F", 4) => bb.getFloat(at).toDouble
      case ("F", 8) => bb.getDouble(at)
      case ("I", 1) => bb.get(at).toDouble
      case ("I", 2) => bb.getShort(at).toDouble
      case ("I", 4) => bb.getInt(at).toDouble
      case ("I", 8) => bb.getLong(at).toDouble
      case ("U", 1) => (bb.get(at) & 0xff).toDouble
      case ("U", 2) => (bb.getShort(at) & 0xffff).toDouble
      case ("U", 4) => (bb.getInt(at).toLong & 0xffffffffL).toDouble
      case ("U", 8) => bb.getLong(at).toDouble
      case _ => throw new IllegalArgumentException(s"pcd: ${f.tpe}${f.size}")
    }

    h.data match {
      case "ascii" =>
        val text = new String(bytes, h.dataOffset, bytes.length - h.dataOffset,
          StandardCharsets.US_ASCII)
        val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
        // ascii rows carry every field value incl. padding, in field order
        val flat = h.fields.flatMap(f => (0 until f.count).map(c => (f, c)))
        val keep = flat.zipWithIndex.collect {
          case ((f, c), i) if f.name != "_" =>
            (i, f, if (f.count == 1) f.name else s"${f.name}_$c")
        }
        val rows = (0 until n).map { i =>
          val toks = lines.next().split("\\s+")
          val vals = keep.map { case (j, f, nm) =>
            // PCL writes unsigned/rgba as raw integers; tolerate float text
            convert(f, nm, toks(j).toDouble)
          }
          Row.fromSeq(docId +: i +: vals)
        }
        (schema, rows)

      case "binary" | "binary_compressed" =>
        val (buf, soa) = if (h.data == "binary") {
          require(bytes.length - h.dataOffset >= n.toLong * recSize,
            s"pcd: truncated binary data")
          (java.util.Arrays.copyOfRange(bytes, h.dataOffset,
            h.dataOffset + n * recSize), false)
        } else {
          val head = ByteBuffer.wrap(bytes, h.dataOffset, 8)
            .order(ByteOrder.LITTLE_ENDIAN)
          val comp = head.getInt()
          val uncomp = head.getInt()
          val raw = Lzf.decompress(java.util.Arrays.copyOfRange(bytes,
            h.dataOffset + 8, h.dataOffset + 8 + comp), uncomp)
          (raw, true)
        }
        val bb = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
        // precompute per-kept-column byte position functions
        val fieldOffsets = h.fields.scanLeft(0)(_ + _.byteSize)
        // SoA: each (field,count) plane is contiguous across points
        val planeOffsets = {
          var acc = 0
          h.fields.map { f =>
            val o = acc; acc += f.byteSize * n; o
          }
        }
        val keep = cols
        val rows = (0 until n).map { i =>
          val vals = keep.map { case (f, c, nm) =>
            val fi = h.fields.indexOf(f)
            val at =
              if (!soa) i * recSize + fieldOffsets(fi) + c * f.size
              else planeOffsets(fi) + (i.toLong * f.count + c).toInt * f.size
            convert(f, nm, numAt(bb, f, at))
          }
          Row.fromSeq(docId +: i +: vals)
        }
        (schema, rows)
    }
  }

  /** PCD on the codec seam; `data` and `shiftOrigin` shape the
    * written file. */
  final case class Codec(data: String = "binary_compressed",
                         shiftOrigin: Boolean = false) extends PointCodec {
    def exts: Seq[String] = Seq("pcd")
    def schema(head: => Array[Byte]): StructType = schemaOf(parseHeader(head))
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      Pcd.decode(bytes, docId)
    override def encode(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]]): Array[Byte] =
      imageBytes(cols, recs, data, shiftOrigin)
  }

  /** One scan over the matched files. */
  def asDistributedDataFrame(spark: SparkSession, pathGlob: String): DataFrame =
    PointCodec.read(spark, pathGlob, Codec())

  // ---- writer -----------------------------------------------------------

  private def pcdField(name: String, dt: DataType): Field = dt match {
    case ByteType    => Field(name, 1, "I", 1)
    case ShortType   => Field(name, 2, "I", 1)
    case IntegerType => Field(name, 4, "I", 1)
    case LongType    => Field(name, 8, "I", 1)
    // x/y/z as float32 like PCL's XYZ point types
    case FloatType   => Field(name, 4, "F", 1)
    case DoubleType  => Field(name,
      if (Seq("x", "y", "z").contains(name)) 4 else 8, "F", 1)
    case other => throw new IllegalArgumentException(s"pcd: unwritable type $other")
  }

  /** Build one complete PCD v0.7 image for `recs` (one boxed value per
    * column each, in `cols` order). Shared by the driver writer and the
    * sharded executor writer. With `shiftOrigin`, x/y/z are rebased to
    * the records' own minimum (per FILE, like PCLConversions.hpp
    * PDALtoPCD — for a sharded write that is per shard, the same lossy
    * per-file semantic a per-tile reference write would produce). */
  def imageBytes(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]],
                 data: String, shiftOrigin: Boolean): Array[Byte] = {
    require(Seq("ascii", "binary", "binary_compressed").contains(data),
      s"pcd: write DATA $data")
    val fields = cols.map { case (n, dt) => pcdField(n, dt) }
    val n = recs.length

    def numOf(vs: Array[Any], i: Int): Double = cols(i)._2 match {
      case ByteType    => vs(i).asInstanceOf[Byte].toDouble
      case ShortType   => vs(i).asInstanceOf[Short].toDouble
      case IntegerType => vs(i).asInstanceOf[Int].toDouble
      case LongType    => vs(i).asInstanceOf[Long].toDouble
      case FloatType   => vs(i).asInstanceOf[Float].toDouble
      case DoubleType  => vs(i).asInstanceOf[Double]
      case _ => 0.0
    }

    val shift = Array.fill(cols.length)(0.0)
    if (shiftOrigin) {
      cols.indices.foreach { i =>
        if (Seq("x", "y", "z").contains(cols(i)._1) && n > 0)
          shift(i) = recs.iterator.map(vs => numOf(vs, i)).min
      }
    }

    val hdr = new StringBuilder()
    hdr.append("# .PCD v0.7 - Point Cloud Data file format\n")
    hdr.append("VERSION 0.7\n")
    hdr.append("FIELDS ").append(fields.map(_.name).mkString(" ")).append('\n')
    hdr.append("SIZE ").append(fields.map(_.size).mkString(" ")).append('\n')
    hdr.append("TYPE ").append(fields.map(_.tpe).mkString(" ")).append('\n')
    hdr.append("COUNT ").append(fields.map(_.count).mkString(" ")).append('\n')
    hdr.append(s"WIDTH $n\nHEIGHT 1\nVIEWPOINT 0 0 0 1 0 0 0\nPOINTS $n\n")
    hdr.append(s"DATA $data\n")

    val out = new java.io.ByteArrayOutputStream(64 + n * cols.length * 8)
    out.write(hdr.toString.getBytes(StandardCharsets.US_ASCII))
    def putVal(bb: ByteBuffer, i: Int, vs: Array[Any]): Unit = {
      val f = fields(i)
      (f.tpe, f.size) match {
        case ("F", 4) => bb.putFloat((numOf(vs, i) - shift(i)).toFloat)
        case ("F", 8) => bb.putDouble(numOf(vs, i) - shift(i))
        case ("I", 1) => bb.put(vs(i).asInstanceOf[Byte])
        case ("I", 2) => bb.putShort(vs(i).asInstanceOf[Short])
        case ("I", 4) => bb.putInt(vs(i).asInstanceOf[Int])
        case ("I", 8) => bb.putLong(vs(i).asInstanceOf[Long])
        case _ =>
      }
    }
    data match {
      case "ascii" =>
        recs.foreach { vs =>
          val line = fields.indices.map { i =>
            val f = fields(i)
            if (f.tpe == "F") {
              val v = numOf(vs, i) - shift(i)
              if (f.size == 4) v.toFloat.toString else v.toString
            } else vs(i).toString
          }.mkString(" ")
          out.write((line + "\n").getBytes(StandardCharsets.US_ASCII))
        }
      case "binary" =>
        val recSize = fields.map(_.byteSize).sum
        val bb = ByteBuffer.allocate(recSize).order(ByteOrder.LITTLE_ENDIAN)
        recs.foreach { vs =>
          bb.clear()
          fields.indices.foreach(i => putVal(bb, i, vs))
          out.write(bb.array(), 0, recSize)
        }
      case "binary_compressed" =>
        // field-major (SoA) reorder, then LZF
        val total = fields.map(_.byteSize).sum * n
        val bb = ByteBuffer.allocate(total).order(ByteOrder.LITTLE_ENDIAN)
        fields.indices.foreach { i =>
          recs.foreach(vs => putVal(bb, i, vs))
        }
        val comp = Lzf.compress(bb.array())
        val fr = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
        fr.putInt(comp.length).putInt(total)
        out.write(fr.array()); out.write(comp)
    }
    out.toByteArray
  }

  /** Write the DataFrame's numeric columns as ONE PCD file (driver
    * collect — fixture-scale by intent; use [[writeSharded]] for
    * volume). `shiftOrigin` reproduces the reference writer's PDALtoPCD
    * bounds-min subtraction (lossy, nothing re-adds it on read). */
  def write(path: String, df: DataFrame, data: String = "ascii",
            shiftOrigin: Boolean = false): Unit =
    Codec(data, shiftOrigin).write(path, df)

  /** Executor-sharded PCD export ([[ShardedWrite.run]]). */
  def writeSharded(dir: String, df: DataFrame, shardCol: String,
                   data: String = "binary_compressed",
                   shiftOrigin: Boolean = false,
                   numTasks: Int = 0): Seq[String] =
    ShardedWrite.run(df, dir, shardCol, Codec(data, shiftOrigin), numTasks)
}
