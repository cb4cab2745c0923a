package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** Clean-room readers (and, for SBET, a writer) for the reference's three
  * fixed-record trajectory/shot binary formats:
  *
  *  - readers.sbet  — Applanix smoothed best-estimate trajectory: 17
  *    little-endian float64 per record, no header
  *    (io/sbet/SbetCommon.cpp:41-70, io/sbet/SbetReader.cpp:60-110).
  *  - readers.qfit  — NASA ATM qfit .qi shots: fixed records of 10/12/14
  *    big- or little-endian int32 words with per-word scale factors
  *    (io/qfit/QfitReader.cpp — format doc in the file header comment).
  *  - readers.terrasolid — TerraScan .bin: 56-byte little-endian header +
  *    16-byte (v1 20010712) or 20-byte (v2 20020715) records with
  *    optional time and color blocks (io/terrasolid/TerrasolidReader.cpp).
  *
  * Schema convention matches the engine's other point sources: leading
  * (doc_id, span_idx) identity columns, then the format's dimensions in
  * the reference's registration order, snake_case.
  *
  * Each format is a [[PointCodec]]: the seam's driver read serves
  * single-fixture parity and its one-task-per-file read serves
  * archive-scale ingest — these files are per-flightline small (an SBET
  * is one trajectory), so file-level parallelism is the right grain;
  * record-offset splitting as in LasDecode is unnecessary.
  */
object Sbet {

  /** io/sbet/SbetCommon.cpp:54-70 registration order. */
  val dims: Seq[String] = Seq(
    "gpstime", "y", "x", "z",
    "x_velocity", "y_velocity", "z_velocity",
    "roll", "pitch", "platform_heading", "wander_angle",
    "x_body_accel", "y_body_accel", "z_body_accel",
    "x_body_ang_rate", "y_body_ang_rate", "z_body_ang_rate")

  val recordBytes: Int = dims.length * 8

  def schema: StructType = StructType(
    StructField("doc_id", StringType, nullable = false) +:
      StructField("span_idx", IntegerType, nullable = false) +:
      dims.map(d => StructField(d, DoubleType, nullable = false)))

  def decode(bytes: Array[Byte], docId: String): Seq[Row] = {
    require(bytes.length % recordBytes == 0,
      s"invalid sbet file size ${bytes.length} (record is $recordBytes bytes)")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = bytes.length / recordBytes
    (0 until n).map { i =>
      val base = i * recordBytes
      val vals = dims.indices.map(j => bb.getDouble(base + j * 8))
      Row.fromSeq(docId +: (i: Any) +: vals)
    }
  }

  /** SBET on the codec seam. */
  final case class Codec() extends PointCodec {
    def exts: Seq[String] = Seq("sbet")
    def schema(head: => Array[Byte]): StructType = Sbet.schema
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      (Sbet.schema, Sbet.decode(bytes, docId))
  }

  /** writers.sbet (io/sbet/SbetWriter.cpp:35-50): the 17 doubles back out
    * little-endian in registration order; a dimension missing from the
    * input writes as 0.0. Driver write — one SBET is one trajectory file. */
  def write(path: String, df: DataFrame): Unit = {
    val present = df.schema.fieldNames.toSet
    val cols = dims.map(d => if (present(d))
      org.apache.spark.sql.functions.col(d).cast(DoubleType)
    else org.apache.spark.sql.functions.lit(0.0))
    val ordered =
      if (present("span_idx")) df.orderBy("span_idx").select(cols: _*)
      else df.select(cols: _*)
    val rows = ordered.collect()
    val bb = ByteBuffer.allocate(rows.length * recordBytes)
      .order(ByteOrder.LITTLE_ENDIAN)
    rows.foreach(r => dims.indices.foreach(j => bb.putDouble(r.getDouble(j))))
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bb.array())
  }
}

/** NASA ATM qfit (.qi). Endianness is sniffed from the first word (record
  * length in bytes: sane when < 100 → little-endian, else big-endian);
  * format is recLen/4 words (10, 12, or 14); the point-data byte offset is
  * the second word of the second record; everything after it is fixed
  * records, last word the packed GPS time-of-day which the reference
  * discards (QfitReader.cpp:initialize/read). */
object Qfit {

  final case class Header(littleEndian: Boolean, recLen: Int, words: Int,
                          dataOffset: Int)

  /** The header of a whole file, or, with `whole` false, of its first
    * bytes (the file size checks need the whole file). */
  def header(bytes: Array[Byte], whole: Boolean = true): Header = {
    require(bytes.length >= 8, "qfit: file too small")
    val le = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val first = le.getInt(0)
    val littleEndian = first > 0 && first < 100
    val bb = if (littleEndian) le
      else ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val recLen = bb.getInt(0)
    require(recLen > 0 && recLen % 4 == 0,
      s"qfit: record length $recLen not a positive multiple of 4")
    val words = recLen / 4
    require(words == 10 || words == 12 || words == 14,
      s"qfit: unsupported $words-word format")
    // offset to laser data = second word of the second logical record
    val dataOffset = bb.getInt(recLen + 4)
    require(!whole || dataOffset >= 0 && dataOffset <= bytes.length,
      s"qfit: bad data offset $dataOffset")
    require(!whole || (bytes.length - dataOffset) % recLen == 0,
      "qfit: file size inconsistent with point size")
    Header(littleEndian, recLen, words, dataOffset)
  }

  private val baseDims: Seq[StructField] = Seq(
    StructField("offset_time", IntegerType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("start_pulse", IntegerType, nullable = false),
    StructField("reflected_pulse", IntegerType, nullable = false),
    StructField("scan_angle_rank", DoubleType, nullable = false),
    StructField("pitch", DoubleType, nullable = false),
    StructField("roll", DoubleType, nullable = false))

  def schemaOf(words: Int): StructType = {
    val extra = words match {
      case 10 => Nil
      case 12 => Seq(
        StructField("pdop", DoubleType, nullable = false),
        StructField("pulse_width", IntegerType, nullable = false))
      case 14 => Seq(
        StructField("passive_signal", IntegerType, nullable = false),
        StructField("passive_y", DoubleType, nullable = false),
        StructField("passive_x", DoubleType, nullable = false),
        StructField("passive_z", DoubleType, nullable = false))
    }
    StructType(
      StructField("doc_id", StringType, nullable = false) +:
        StructField("span_idx", IntegerType, nullable = false) +:
        (baseDims ++ extra))
  }

  /** flipX: longitudes > 180 shift to the -180..180 range (the
    * reference's flip_coordinates, default true); scaleZ: elevation is
    * stored in millimeters (default 0.001 → meters). */
  def decode(bytes: Array[Byte], docId: String,
             flipX: Boolean = true, scaleZ: Double = 0.001): Seq[Row] = {
    val h = header(bytes)
    val bb = ByteBuffer.wrap(bytes).order(
      if (h.littleEndian) ByteOrder.LITTLE_ENDIAN else ByteOrder.BIG_ENDIAN)
    val n = (bytes.length - h.dataOffset) / h.recLen
    (0 until n).map { i =>
      val p = h.dataOffset + i * h.recLen
      def w(j: Int): Int = bb.getInt(p + j * 4)
      var x = w(2) / 1000000.0
      if (flipX && x > 180) x -= 360
      // explicit Any boxing per slot — a mixed Seq(...) literal would
      // numerically widen the Int words to Double and break the schema
      val base = Seq[Any](
        Int.box(w(0)), w(1) / 1000000.0, x, w(3) * scaleZ,
        Int.box(w(4)), Int.box(w(5)),
        w(6) / 1000.0, w(7) / 1000.0, w(8) / 1000.0)
      val extra = h.words match {
        case 10 => Nil
        case 12 => Seq[Any](w(9) / 10.0, Int.box(w(10)))
        case 14 =>
          var px = w(11) / 1000000.0
          if (flipX && px > 180) px -= 360
          Seq[Any](Int.box(w(9)), w(10) / 1000000.0, px, w(12) * scaleZ)
      }
      // the final word (packed GPS time-of-day) is discarded, as in the
      // reference (QfitReader.cpp read(): "extract this time and drop it")
      Row.fromSeq(docId +: (i: Any) +: (base ++ extra))
    }
  }

  /** QFIT on the codec seam; `flipX`/`scaleZ` as in [[decode]]. */
  final case class Codec(flipX: Boolean = true, scaleZ: Double = 0.001) extends PointCodec {
    def exts: Seq[String] = Seq("qi")
    def schema(head: => Array[Byte]): StructType = schemaOf(header(head, whole = false).words)
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      (schemaOf(header(bytes).words), Qfit.decode(bytes, docId, flipX, scaleZ))
  }
}

/** TerraScan .bin (io/terrasolid/TerrasolidReader.cpp). 56-byte LE header
  * (sizes/version/recognition/count/units/origin/time/color flags), then
  * fixed records; XYZ are int32 decoded as (v - org) / units; time is a
  * uint32 in 1/5000 s rebased to the first record and divided to ms;
  * color is RGBA u8. Echo-number mapping per the reference: 0 → (1,1),
  * 1 → (1,0), else (0,0).
  *
  * Record layouts (tscan spec via the reference): v2 (20020715) = xyz
  * int32, class/echo/flag/mark u8, line/intensity u16 → 20 bytes. v1
  * (20010712) = 16 bytes; the reference's v1 branch reads six u8s and
  * would misalign (TerrasolidReader.cpp:158-186 — no fixture exercises
  * it), so v1 here follows the spec layout instead: xyz int32 then
  * class/echo/flag/mark u8, with line/intensity absent → 0. */
object Terrasolid {

  final case class Header(hdrSize: Int, hdrVersion: Int, recogVal: Int,
                          recogStr: String, pntCnt: Int, units: Int,
                          orgX: Double, orgY: Double, orgZ: Double,
                          time: Int, color: Int) {
    def haveTime: Boolean = time != 0
    def haveColor: Boolean = color != 0
    def recordBytes: Int = {
      val base = hdrVersion match {
        case 20010712 => 16
        case 20020715 => 20
        case v => throw new IllegalArgumentException(
          s"terrasolid: version $v is neither 20010712 nor 20020715")
      }
      base + (if (haveTime) 4 else 0) + (if (haveColor) 4 else 0)
    }
  }

  def header(bytes: Array[Byte]): Header = {
    require(bytes.length >= 56, "terrasolid: file shorter than the header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val h = Header(
      hdrSize = bb.getInt(0), hdrVersion = bb.getInt(4),
      recogVal = bb.getInt(8),
      recogStr = new String(bytes, 12, 4, java.nio.charset.StandardCharsets.US_ASCII),
      pntCnt = bb.getInt(16), units = bb.getInt(20),
      orgX = bb.getDouble(24), orgY = bb.getDouble(32), orgZ = bb.getDouble(40),
      time = bb.getInt(48), color = bb.getInt(52))
    require(h.recogVal == 970401,
      "terrasolid: header identifier was not 970401, not a TerraSolid .bin")
    h.recordBytes // validates version
    h
  }

  def schemaOf(h: Header): StructType = {
    val b = Seq(
      StructField("doc_id", StringType, nullable = false),
      StructField("span_idx", IntegerType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false),
      StructField("z", DoubleType, nullable = false),
      StructField("classification", ShortType, nullable = false),
      StructField("return_number", ShortType, nullable = false),
      StructField("number_of_returns", ShortType, nullable = false),
      StructField("flag", ShortType, nullable = false),
      StructField("mark", ShortType, nullable = false),
      StructField("point_source_id", IntegerType, nullable = false),
      StructField("intensity", IntegerType, nullable = false))
    val t = if (h.haveTime)
      Seq(StructField("offset_time", LongType, nullable = false)) else Nil
    val c = if (h.haveColor) Seq(
      StructField("red", ShortType, nullable = false),
      StructField("green", ShortType, nullable = false),
      StructField("blue", ShortType, nullable = false),
      StructField("alpha", ShortType, nullable = false)) else Nil
    StructType(b ++ t ++ c)
  }

  def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) = {
    val h = header(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val rec = h.recordBytes
    require(56L + h.pntCnt.toLong * rec <= bytes.length,
      s"terrasolid: truncated (${h.pntCnt} records of $rec bytes)")
    var baseTime = 0L
    val rows = (0 until h.pntCnt).map { i =>
      val p = 56 + i * rec
      val xi = bb.getInt(p); val yi = bb.getInt(p + 4); val zi = bb.getInt(p + 8)
      val cls = (bb.get(p + 12) & 0xff).toShort
      val echo = bb.get(p + 13) & 0xff
      val flag = (bb.get(p + 14) & 0xff).toShort
      val mark = (bb.get(p + 15) & 0xff).toShort
      val (line, inten, after) =
        if (h.hdrVersion == 20020715)
          ((bb.getShort(p + 16) & 0xffff), (bb.getShort(p + 18) & 0xffff), p + 20)
        else (0, 0, p + 16)
      val (ret, num): (Short, Short) = echo match {
        case 0 => (1, 1)
        case 1 => (1, 0)
        case _ => (0, 0)
      }
      val base = Seq[Any](
        (xi - h.orgX) / h.units, (yi - h.orgY) / h.units,
        (zi - h.orgZ) / h.units,
        Short.box(cls), Short.box(ret), Short.box(num),
        Short.box(flag), Short.box(mark), Int.box(line), Int.box(inten))
      var q = after
      val t: Seq[Any] = if (h.haveTime) {
        val raw = bb.getInt(q).toLong & 0xffffffffL
        if (i == 0) baseTime = raw
        q += 4
        // offset from the first record, 1/5000 s → ms (uint32 arithmetic
        // like the reference; records before the base wrap, as there)
        Seq(((raw - baseTime) & 0xffffffffL) / 5)
      } else Nil
      val c: Seq[Any] = if (h.haveColor)
        Seq((bb.get(q) & 0xff).toShort, (bb.get(q + 1) & 0xff).toShort,
          (bb.get(q + 2) & 0xff).toShort, (bb.get(q + 3) & 0xff).toShort)
      else Nil
      Row.fromSeq(docId +: (i: Any) +: (base ++ t ++ c))
    }
    (schemaOf(h), rows)
  }

  /** TerraScan on the codec seam. */
  final case class Codec() extends PointCodec {
    def exts: Seq[String] = Seq("bin")
    def schema(head: => Array[Byte]): StructType = schemaOf(header(head))
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      Terrasolid.decode(bytes, docId)
  }
}
