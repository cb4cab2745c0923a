package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Clean-room readers.nitf — LAS-in-NITF per the PUBLIC MIL-STD-2500C
  * container layout, covering the reference's nitf plugin read path
  * (plugins/nitf/io/NitfReader.cpp + NitfFile.cpp, which consume the
  * container through the external Nitro library): the point cloud
  * travels as a Data Extension Segment with DESID "LIDARA DES"
  * version 1 (NitfFile.cpp:216), whose payload is a complete LAS file
  * image handed to the LAS reader unchanged.
  *
  * The header walk is the fixed-width ASCII field sequence of
  * MIL-STD-2500C: FHDR..OPHONE (342 bytes), FL(12), HL(6), then the
  * per-segment length lists (images LISH6/LI10, graphics LSSH4/LS6,
  * reserved NUMX, texts LTSH4/LT5, DES LDSH4/LD9); segment bodies
  * follow the header in list order, so each DES payload's byte offset
  * is a running sum — no external container library needed. NITF 2.0
  * files and files without a LIDARA DES fail loudly.
  */
object Nitf {

  /** Extract the LIDARA DES payload (a LAS file image). */
  def lasPayload(bytes: Array[Byte]): Array[Byte] = {
    def s(at: Int, n: Int): String =
      new String(bytes, at, n, StandardCharsets.US_ASCII)
    def num(at: Int, n: Int): Long = {
      val t = s(at, n).trim
      require(t.nonEmpty && t.forall(_.isDigit), s"nitf: bad numeric field at $at")
      t.toLong
    }
    require(bytes.length > 400, "nitf: truncated header")
    require(s(0, 9) == "NITF02.10",
      s"nitf: '${s(0, 9)}' unsupported (NITF 2.1 only)")
    val fl = num(342, 12)
    require(fl <= bytes.length, s"nitf: FL $fl exceeds file size ${bytes.length}")
    val hl = num(354, 6).toInt

    var pos = 360
    val numi = num(pos, 3).toInt; pos += 3
    val imgs = (0 until numi).map { i =>
      (num(pos + 16 * i, 6), num(pos + 16 * i + 6, 10)) }
    pos += 16 * numi
    val nums = num(pos, 3).toInt; pos += 3
    val gfx = (0 until nums).map { i =>
      (num(pos + 10 * i, 4), num(pos + 10 * i + 4, 6)) }
    pos += 10 * nums
    pos += 3 // NUMX (reserved, always 000)
    val numt = num(pos, 3).toInt; pos += 3
    val txt = (0 until numt).map { i =>
      (num(pos + 9 * i, 4), num(pos + 9 * i + 4, 5)) }
    pos += 9 * numt
    val numdes = num(pos, 3).toInt; pos += 3
    val des = (0 until numdes).map { i =>
      (num(pos + 13 * i, 4), num(pos + 13 * i + 4, 9)) }

    var at = hl.toLong
    (imgs ++ gfx ++ txt).foreach { case (sh, d) => at += sh + d }
    des.foreach { case (sh, d) =>
      require(s(at.toInt, 2) == "DE", s"nitf: bad DES subheader at $at")
      val desid = s(at.toInt + 2, 25)
      val ver = s(at.toInt + 27, 2).trim
      if (desid.startsWith("LIDARA DES") && ver.forall(_.isDigit) &&
          ver.nonEmpty && ver.toInt == 1)
        return java.util.Arrays.copyOfRange(bytes, (at + sh).toInt, (at + sh + d).toInt)
      at += sh + d
    }
    throw new IllegalArgumentException(
      "nitf: no LIDARA DES data extension segment (not a LAS-bearing NITF)")
  }

  /** writers.nitf — wrap the DataFrame's points (serialized through the
    * LAS writer) in a minimal NITF 2.1 container holding one LIDARA DES
    * v1, mirroring the reference's NitfWriter envelope (which adds a
    * preview image segment we deliberately omit — the reference's own
    * reader requires only the DES, NitfFile.cpp:85-91). All fixed-width
    * fields carry valid defaults; FDT is a fixed constant so output is
    * byte-deterministic. Driver-scale like the LAS single-file writer. */
  def write(path: String, df: DataFrame, pointFormat: Int = 1,
            xf: LasWriter.XForms = LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0),
            title: String = "graft point cloud"): Unit = {
    val tmp = java.io.File.createTempFile("graftnitf", ".las")
    val las = try {
      LasWriter.write(tmp.getPath, df, pointFormat, xf)
      java.nio.file.Files.readAllBytes(tmp.toPath)
    } finally tmp.delete()

    def pad(s: String, n: Int): String =
      if (s.length >= n) s.substring(0, n) else s + " " * (n - s.length)
    val hl = 401 // 360 fixed-width bytes + the (empty) segment lists below
    val ldsh = 200
    val fl = hl + ldsh + las.length
    val hdr = new StringBuilder()
    hdr.append("NITF02.10").append("03").append("BF01")
    hdr.append(pad("GRAFT", 10)).append("20260101000000").append(pad(title, 80))
    hdr.append("U").append(" " * 166)               // file security block
    hdr.append("00000").append("00000").append("0") // FSCOP/FSCPYS/ENCRYP
    val head1 = hdr.toString.getBytes(StandardCharsets.US_ASCII)
    val hdr2 = new StringBuilder()
    hdr2.append(" " * 24).append(" " * 18)          // ONAME/OPHONE
    hdr2.append(f"$fl%012d").append(f"$hl%06d")
    hdr2.append("000").append("000").append("000").append("000") // NUMI/NUMS/NUMX/NUMT
    hdr2.append("001").append(f"$ldsh%04d").append(f"${las.length}%09d") // the DES
    hdr2.append("000").append("00000").append("00000") // NUMRES/UDHDL/XHDL
    val sub = "DE" + pad("LIDARA DES", 25) + "01" + "U" + " " * 166 + "0000"

    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(path))
    try {
      out.write(head1)
      out.write(Array[Byte](0, 0, 0)) // FBKGC (3 binary bytes)
      out.write(hdr2.toString.getBytes(StandardCharsets.US_ASCII))
      out.write(sub.getBytes(StandardCharsets.US_ASCII))
      out.write(las)
    } finally out.close()
  }

  /** NITF on the codec seam: the LAS codec over the embedded LAS image
    * (LIDARA DES payload), field-pruned decode included. */
  final case class Codec() extends PointCodec {
    private val las = LasDecode.Codec()
    def exts: Seq[String] = Seq("ntf", "nitf")
    def schema(head: => Array[Byte]): StructType = LasDecode.schema
    def decode(bytes: Array[Byte], docId: String): (StructType, Iterator[Row]) =
      las.decode(lasPayload(bytes), docId)
    override def decodeFields(bytes: Array[Byte], path: String, pinned: StructType,
                              fields: Array[Int]): Iterator[InternalRow] =
      las.decodeFields(lasPayload(bytes), path, pinned, fields)
  }
}
