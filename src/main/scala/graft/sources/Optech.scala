package graft.sources

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Clean-room readers.optech — Optech .csd pulse files
  * (io/optech/OptechReader.cpp, OptechCommon.hpp, src/util/Georeference.cpp).
  *
  * A CSD file is a 2048-byte little-endian header followed by 69-byte
  * pulse records: gpsTime f64, returnCount u8, range f32[4],
  * intensity u16[4], scanAngle/roll/pitch/heading f32 (radians),
  * latitude/longitude f64 (radians, WGS84), elevation f32 (m). Each
  * pulse expands to one row per return (max 4; zero-return pulses are
  * dropped). Per return, the scanner-frame vector
  * (range·sin(scanAngle), 0, −range·cos(scanAngle)) is rotated by the
  * boresight matrix (misalignment + IMU-offset angles from the header)
  * then the pulse attitude matrix (R3(heading)·R1(−pitch)·R2(−roll)),
  * converted to curvilinear WGS84 deltas at the pulse latitude, and
  * added to the GPS position; X/Y surface in degrees.
  */
object Optech {

  val headerBytes = 2048
  val recordBytes = 69
  val maxReturns = 4

  final case class Header(signature: String, vendorId: String,
                          softwareVersion: String, formatVersion: Float,
                          headerSize: Int, gpsWeek: Int,
                          minTime: Double, maxTime: Double,
                          numRecords: Long, numStrips: Int,
                          misalignmentAngles: Seq[Double],
                          imuOffsets: Seq[Double],
                          temperature: Double, pressure: Double)

  private def cstr(bytes: Array[Byte], off: Int, len: Int): String = {
    val end = (off until off + len).find(bytes(_) == 0).getOrElse(off + len)
    new String(bytes, off, end - off, java.nio.charset.StandardCharsets.US_ASCII)
  }

  def header(bytes: Array[Byte]): Header = {
    require(bytes.length >= headerBytes, "optech: file shorter than the header")
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val sig = cstr(bytes, 0, 4)
    require(sig == "CSD", s"optech: invalid CSD signature '$sig'")
    Header(
      signature = sig,
      vendorId = cstr(bytes, 4, 64),
      softwareVersion = cstr(bytes, 68, 32),
      formatVersion = bb.getFloat(100),
      headerSize = bb.getShort(104) & 0xffff,
      gpsWeek = bb.getShort(106) & 0xffff,
      minTime = bb.getDouble(108),
      maxTime = bb.getDouble(116),
      numRecords = bb.getInt(124).toLong & 0xffffffffL,
      numStrips = bb.getShort(128) & 0xffff,
      misalignmentAngles = Seq(bb.getDouble(1154), bb.getDouble(1162), bb.getDouble(1170)),
      imuOffsets = Seq(bb.getDouble(1178), bb.getDouble(1186), bb.getDouble(1194)),
      temperature = bb.getDouble(1202),
      pressure = bb.getDouble(1210))
  }

  /** Row-major 3×3 rotation, Optech convention R3(heading)·R1(−pitch)·
    * R2(−roll) (OptechCommon.hpp createOptechRotationMatrix). */
  private def rotationMatrix(roll: Double, pitch: Double,
                             heading: Double): Array[Double] = {
    val (sr, cr) = (math.sin(roll), math.cos(roll))
    val (sp, cp) = (math.sin(pitch), math.cos(pitch))
    val (sh, ch) = (math.sin(heading), math.cos(heading))
    Array(
      cr * ch + sp * sr * sh, cp * sh, ch * sr - cr * sp * sh,
      ch * sp * sr - cr * sh, cp * ch, -sr * sh - cr * ch * sp,
      -cp * sr, sp, cp * cr)
  }

  private def rotate(m: Array[Double], x: Double, y: Double,
                     z: Double): (Double, Double, Double) =
    (m(0) * x + m(1) * y + m(2) * z,
     m(3) * x + m(4) * y + m(5) * z,
     m(6) * x + m(7) * y + m(8) * z)

  // WGS84 ellipsoid (src/util/Georeference.cpp)
  private val A = 6378137.0
  private val F = 1 / 298.257223563
  private val E2 = 2 * F - F * F

  /** The reference's georeferenceWgs84 (src/util/Georeference.cpp:76-88),
    * exposed standalone: scanner polar coordinates -> boresight-aligned
    * -> local-level via the two rotation matrices, then cartesian deltas
    * -> curvilinear at the pulse latitude. Arguments in the reference's
    * order (boresight then imu); lon/lat in RADIANS; returns (lon, lat,
    * elev). Pinned double-for-double by the GeoreferenceTest goldens. */
  def georeferenceWgs84(range: Double, scanAngle: Double,
                        boresight: Array[Double], imu: Array[Double],
                        lon: Double, lat: Double, elev: Double): (Double, Double, Double) = {
    val (sx, sy, sz) = (range * math.sin(scanAngle), 0.0, -range * math.cos(scanAngle))
    val (ax, ay, az) = rotate(boresight, sx, sy, sz)
    val (lx, ly, lz) = rotate(imu, ax, ay, az)
    val w = math.sqrt(1 - E2 * math.sin(lat) * math.sin(lat))
    val n = A / w
    val m = A * (1 - E2) / (w * w * w)
    (lon + lx / (n * math.cos(lat)), lat + ly / m, elev + lz)
  }

  def schema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("span_idx", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false),
    StructField("z", DoubleType, nullable = false),
    StructField("gpstime", DoubleType, nullable = false),
    StructField("return_number", ShortType, nullable = false),
    StructField("number_of_returns", ShortType, nullable = false),
    StructField("echo_range", DoubleType, nullable = false),
    StructField("intensity", IntegerType, nullable = false),
    StructField("scan_angle_rank", DoubleType, nullable = false)))

  def decode(bytes: Array[Byte], docId: String): Seq[Row] = {
    val h = header(bytes)
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val boresight = rotationMatrix(
      h.misalignmentAngles(0) + h.imuOffsets(0),
      h.misalignmentAngles(1) + h.imuOffsets(1),
      h.misalignmentAngles(2) + h.imuOffsets(2))
    require(h.headerSize + h.numRecords * recordBytes <= bytes.length,
      s"optech: truncated (${h.numRecords} records of $recordBytes bytes)")
    val rows = Vector.newBuilder[Row]
    var spanIdx = 0
    var rec = 0L
    while (rec < h.numRecords) {
      val p = h.headerSize + (rec * recordBytes).toInt
      val gpsTime = bb.getDouble(p)
      val returnCount = bb.get(p + 8) & 0xff
      if (returnCount > 0) {
        val range = Array.tabulate(4)(j => bb.getFloat(p + 9 + 4 * j))
        val inten = Array.tabulate(4)(j => bb.getShort(p + 25 + 2 * j) & 0xffff)
        val scanAngle = bb.getFloat(p + 33).toDouble
        val roll = bb.getFloat(p + 37).toDouble
        val pitch = bb.getFloat(p + 41).toDouble
        val heading = bb.getFloat(p + 45).toDouble
        val lat = bb.getDouble(p + 49)
        var lon = bb.getDouble(p + 57)
        val elev = bb.getFloat(p + 65).toDouble
        // observed csd longitudes sit outside ±2π; normalize like the
        // reference (OptechReader.cpp read())
        if (lon < -2 * math.Pi) lon += 2 * math.Pi
        else if (lon > 2 * math.Pi) lon -= 2 * math.Pi
        val attitude = rotationMatrix(roll, pitch, heading)
        val nRet = math.min(returnCount, maxReturns)
        var ri = 0
        while (ri < nRet) {
          val r = range(ri).toDouble
          val (gLon, gLat, gElev) =
            georeferenceWgs84(r, scanAngle, boresight, attitude, lon, lat, elev)
          val retNum: Short =
            if (ri == maxReturns - 1) returnCount.toShort else (ri + 1).toShort
          rows += Row(docId, spanIdx,
            gLon * 180 / math.Pi, gLat * 180 / math.Pi,
            gElev, gpsTime, retNum, returnCount.toShort,
            r, inten(ri), scanAngle * 180 / math.Pi)
          spanIdx += 1
          ri += 1
        }
      }
      rec += 1
    }
    rows.result()
  }

  /** Optech on the codec seam. */
  final case class Codec() extends PointCodec {
    def exts: Seq[String] = Seq("csd")
    def schema(head: => Array[Byte]): StructType = Optech.schema
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      (Optech.schema, Optech.decode(bytes, docId))
  }
}
