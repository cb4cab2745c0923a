package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Clean-room PLY (Stanford polygon format) point reader + writer,
  * covering the reference's readers.ply / writers.ply surface
  * (io/ply/PlyReader.cpp, io/ply/PlyWriter.cpp — which delegate to the
  * bundled rply C library): the `vertex` element's scalar properties
  * become point dimensions; ascii, binary_little_endian and
  * binary_big_endian formats; x/y/z surfaced as DoubleType for engine
  * interop (PlyReaderTest.cpp:45-50 checks them via getFieldAs<double>),
  * other properties keep a native Spark type per the PLY scalar type.
  *
  * Scope is points, not meshes: elements other than `vertex` are skipped
  * (ascii: line-count skip; binary: fixed-size skip, or a LOUD error if
  * a preceding element carries variable-length list properties — the
  * reference reads only vertex properties too, PlyReader.cpp:160-210).
  */
object Ply {

  final case class Prop(name: String, tpe: String) {
    def byteSize: Int = tpe match {
      case "int8" | "uint8"            => 1
      case "int16" | "uint16"          => 2
      case "int32" | "uint32" | "float32" => 4
      case "float64"                   => 8
      case t => throw new IllegalArgumentException(s"ply scalar type $t")
    }
  }
  final case class Element(name: String, count: Long, props: Seq[Prop],
                           hasList: Boolean)
  final case class Header(format: String, elements: Seq[Element],
                          dataOffset: Int)

  /** Canonicalize the two spellings the spec allows (rply does the
    * same): char/uchar/short/ushort/int/uint/float/double and the
    * intN/uintN/floatN forms. */
  def canonType(t: String): String = t match {
    case "char" | "int8"      => "int8"
    case "uchar" | "uint8"    => "uint8"
    case "short" | "int16"    => "int16"
    case "ushort" | "uint16"  => "uint16"
    case "int" | "int32"      => "int32"
    case "uint" | "uint32"    => "uint32"
    case "float" | "float32"  => "float32"
    case "double" | "float64" => "float64"
    case other => throw new IllegalArgumentException(s"ply scalar type $other")
  }

  def parseHeader(bytes: Array[Byte]): Header = {
    // header is ASCII lines through "end_header\n"; find its end first
    val probe = new String(bytes, 0, math.min(bytes.length, 65536),
      StandardCharsets.US_ASCII)
    val endTok = "end_header"
    val endIdx = probe.indexOf(endTok)
    require(endIdx >= 0, "ply: no end_header in the first 64 KiB")
    val nl = probe.indexOf('\n', endIdx)
    require(nl >= 0, "ply: unterminated end_header line")
    val dataOffset = nl + 1
    val lines = probe.substring(0, endIdx).split("\n").map(_.trim)
    require(lines.headOption.exists(_.startsWith("ply")), "ply: bad magic")
    var format: String = null
    val elements = scala.collection.mutable.ArrayBuffer.empty[Element]
    var curName: String = null
    var curCount = 0L
    var curProps = scala.collection.mutable.ArrayBuffer.empty[Prop]
    var curList = false
    def flush(): Unit = if (curName != null) {
      elements += Element(curName, curCount, curProps.toSeq, curList)
      curProps = scala.collection.mutable.ArrayBuffer.empty[Prop]
      curList = false
    }
    lines.drop(1).foreach { line =>
      val t = line.split("\\s+").toSeq
      t match {
        case Seq("format", f, _) => format = f
        case Seq("comment", _*) | Seq("obj_info", _*) | Seq() | Seq("") =>
        case Seq("element", name, n) =>
          flush(); curName = name; curCount = n.toLong
        case Seq("property", "list", _, _, _) =>
          require(curName != null, "ply: property before element")
          curList = true
        case Seq("property", tpe, name) =>
          require(curName != null, "ply: property before element")
          curProps += Prop(name, canonType(tpe))
        case _ => throw new IllegalArgumentException(s"ply: bad header line '$line'")
      }
    }
    flush()
    require(format != null, "ply: missing format line")
    require(Seq("ascii", "binary_little_endian", "binary_big_endian")
      .contains(format), s"ply: unsupported format $format")
    Header(format, elements.toSeq, dataOffset)
  }

  private def sparkType(t: String): DataType = t match {
    case "int8"    => ByteType
    case "uint8"   => ShortType
    case "int16"   => ShortType
    case "uint16"  => IntegerType
    case "int32"   => IntegerType
    case "uint32"  => LongType
    case "float32" => FloatType
    case "float64" => DoubleType
  }

  /** Engine schema for a vertex property list: doc_id/span_idx identity
    * plus one column per property; x/y/z forced to DoubleType. */
  def schemaOf(props: Seq[Prop]): StructType = {
    val fields = props.map { p =>
      val dt = if (Seq("x", "y", "z").contains(p.name)) DoubleType
        else sparkType(p.tpe)
      StructField(p.name, dt, nullable = false)
    }
    StructType(
      StructField("doc_id", StringType, nullable = false) +:
      StructField("span_idx", IntegerType, nullable = false) +: fields)
  }

  private def convert(p: Prop, raw: Double): Any = {
    val xyz = Seq("x", "y", "z").contains(p.name)
    if (xyz) raw
    else p.tpe match {
      case "int8"    => raw.toByte
      case "uint8"   => raw.toShort
      case "int16"   => raw.toShort
      case "uint16"  => raw.toInt
      case "int32"   => raw.toInt
      case "uint32"  => raw.toLong
      case "float32" => raw.toFloat
      case "float64" => raw
    }
  }

  /** Decode one PLY image to rows of [[schemaOf]]. */
  def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) = {
    val h = parseHeader(bytes)
    val vertexIdx = h.elements.indexWhere(_.name == "vertex")
    if (vertexIdx < 0) return (schemaOf(Nil), Nil)
    val vertex = h.elements(vertexIdx)
    require(!vertex.hasList, "ply: list properties on vertex unsupported")
    val before = h.elements.take(vertexIdx)
    val schema = schemaOf(vertex.props)

    if (h.format == "ascii") {
      val text = new String(bytes, h.dataOffset, bytes.length - h.dataOffset,
        StandardCharsets.US_ASCII)
      val lines = text.split("\n").iterator.map(_.trim).filter(_.nonEmpty)
      before.foreach(e => (0L until e.count).foreach(_ => lines.next()))
      val rows = (0L until vertex.count).map { i =>
        val toks = lines.next().split("\\s+")
        require(toks.length >= vertex.props.length,
          s"ply: vertex line $i has ${toks.length} of ${vertex.props.length} values")
        val vals = vertex.props.zipWithIndex.map { case (p, j) =>
          convert(p, toks(j).toDouble)
        }
        Row.fromSeq(docId +: i.toInt +: vals)
      }
      (schema, rows)
    } else {
      val order = if (h.format == "binary_little_endian") ByteOrder.LITTLE_ENDIAN
        else ByteOrder.BIG_ENDIAN
      val bb = ByteBuffer.wrap(bytes).order(order)
      var off = h.dataOffset
      before.foreach { e =>
        require(!e.hasList,
          s"ply: binary element '${e.name}' with list properties precedes " +
            "vertex — variable-size skip unsupported, reorder or strip it")
        off += (e.count * e.props.map(_.byteSize).sum).toInt
      }
      val recSize = vertex.props.map(_.byteSize).sum
      require(off + vertex.count * recSize <= bytes.length,
        s"ply: truncated vertex data (need ${vertex.count * recSize} bytes)")
      val rows = (0L until vertex.count).map { i =>
        var p = off + (i * recSize).toInt
        val vals = vertex.props.map { prop =>
          val raw: Double = prop.tpe match {
            case "int8"    => bb.get(p).toDouble
            case "uint8"   => (bb.get(p) & 0xff).toDouble
            case "int16"   => bb.getShort(p).toDouble
            case "uint16"  => (bb.getShort(p) & 0xffff).toDouble
            case "int32"   => bb.getInt(p).toDouble
            case "uint32"  => (bb.getInt(p).toLong & 0xffffffffL).toDouble
            case "float32" => bb.getFloat(p).toDouble
            case "float64" => bb.getDouble(p)
          }
          p += prop.byteSize
          convert(prop, raw)
        }
        Row.fromSeq(docId +: i.toInt +: vals)
      }
      (schema, rows)
    }
  }

  /** PLY on the codec seam; `format` is the written layout. */
  final case class Codec(format: String = "binary_little_endian") extends PointCodec {
    def exts: Seq[String] = Seq("ply")
    def schema(head: => Array[Byte]): StructType =
      schemaOf(parseHeader(head).elements.find(_.name == "vertex").map(_.props).getOrElse(Nil))
    def decode(bytes: Array[Byte], docId: String): (StructType, Seq[Row]) =
      Ply.decode(bytes, docId)
    override def encode(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]]): Array[Byte] =
      imageBytes(cols, recs, format)
  }

  /** One scan over the matched files. */
  def asDistributedDataFrame(spark: SparkSession, pathGlob: String): DataFrame =
    PointCodec.read(spark, pathGlob, Codec())

  // ---- writer ------------------------------------------------------------

  private def plyTypeOf(dt: DataType): String = dt match {
    case ByteType    => "int8"
    case ShortType   => "int16"
    case IntegerType => "int32"
    // PLY has no 64-bit integer scalar: the reference maps both signed
    // and unsigned 64-bit dims to float64 (PlyWriter.cpp getPlyType)
    case LongType    => "float64"
    case FloatType   => "float32"
    case DoubleType  => "float64"
    case other => throw new IllegalArgumentException(s"ply: unwritable type $other")
  }

  /** Build one complete single-`vertex`-element PLY image for `recs`
    * (one boxed value per column each, in `cols` order). Shared by the
    * driver writer and the sharded executor writer; column order and
    * types are preserved. */
  def imageBytes(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]],
                 format: String): Array[Byte] = {
    require(Seq("ascii", "binary_little_endian").contains(format),
      s"ply write format $format")
    val out = new java.io.ByteArrayOutputStream(64 + recs.length * cols.length * 8)
    val hdr = new StringBuilder()
    hdr.append("ply\n").append(s"format $format 1.0\n")
    hdr.append(s"element vertex ${recs.length}\n")
    cols.foreach { case (n, dt) => hdr.append(s"property ${plyTypeOf(dt)} $n\n") }
    hdr.append("end_header\n")
    out.write(hdr.toString.getBytes(StandardCharsets.US_ASCII))
    if (format == "ascii") {
      recs.foreach { vs =>
        val line = cols.indices.map { i =>
          cols(i)._2 match {
            case FloatType  => vs(i).asInstanceOf[Float].toString
            case DoubleType => vs(i).asInstanceOf[Double].toString
            case LongType   => vs(i).asInstanceOf[Long].toDouble.toString
            case _          => vs(i).toString
          }
        }.mkString(" ")
        out.write((line + "\n").getBytes(StandardCharsets.US_ASCII))
      }
    } else {
      val recSize = cols.map(c => Prop("c", plyTypeOf(c._2)).byteSize).sum
      val bb = ByteBuffer.allocate(recSize).order(ByteOrder.LITTLE_ENDIAN)
      recs.foreach { vs =>
        bb.clear()
        cols.indices.foreach { i =>
          cols(i)._2 match {
            case ByteType    => bb.put(vs(i).asInstanceOf[Byte])
            case ShortType   => bb.putShort(vs(i).asInstanceOf[Short])
            case IntegerType => bb.putInt(vs(i).asInstanceOf[Int])
            case LongType    => bb.putDouble(vs(i).asInstanceOf[Long].toDouble)
            case FloatType   => bb.putFloat(vs(i).asInstanceOf[Float])
            case DoubleType  => bb.putDouble(vs(i).asInstanceOf[Double])
            case _ =>
          }
        }
        out.write(bb.array(), 0, recSize)
      }
    }
    out.toByteArray
  }

  /** Write the DataFrame's numeric columns as ONE PLY file (driver
    * collect — fixture-scale by intent, like the LAS driver writer; use
    * [[writeSharded]] for volume). doc_id/span_idx are engine row
    * identity, not point dimensions — the reader regenerates them
    * (rename upstream to persist them). */
  def write(path: String, df: DataFrame, format: String = "ascii"): Unit =
    Codec(format).write(path, df)

  /** Executor-sharded PLY export ([[ShardedWrite.run]]). */
  def writeSharded(dir: String, df: DataFrame, shardCol: String,
                   format: String = "binary_little_endian",
                   numTasks: Int = 0): Seq[String] =
    ShardedWrite.run(df, dir, shardCol, Codec(format), numTasks)
}
