package graft.model

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Core data model of the engine.
  *
  * Canonical input is an Iceberg-style table of interleaved text+media
  * documents:
  *
  * {{{
  *   doc_id: string,
  *   spans:  array<struct<kind:string, text:string, media_ref:string, offset:int>>
  * }}}
  *
  * Spans of `kind = "point"` carry a quantized point payload in `text`
  * (comma-separated scaled integers, LAS-style `v = i * scale + offset`
  * dequantization — see reference io/las/LasReader.cpp:651-720 for the
  * semantics being preserved; the reference stores x/y/z as int32 grid
  * steps and dequantizes on read). All other kinds are opaque and must
  * survive every pipeline untouched (span-sequence equality invariant).
  *
  * The exploded ("point frame") representation is a flat DataFrame:
  *
  * {{{
  *   doc_id: string, span_idx: int, x: double, y: double, z: double,
  *   intensity: int, gps_time: double
  * }}}
  *
  * plus any derived dimension columns operators add (ferry, attribute,
  * classification, tiles...). Dimension typing follows the reference's
  * closed registry (include/pdal/Dimension.hpp:104-120): only fixed-width
  * numeric types; unsigned types widen to the next signed Spark type.
  */
object Model {

  /** Quantization scale for point payloads (v = i * SCALE). 0.5 is exactly
    * representable in binary so Spark and any SQL oracle agree bit-for-bit. */
  val Scale: Double = 0.5

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = false),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)
  ))

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType, nullable = false),
    StructField("spans", ArrayType(spanType, containsNull = false), nullable = false)
  ))

  /** Well-known dimension registry (name -> Spark type), mirroring the
    * reference's Dimension.hpp:556-666 defaults with unsigned widening. */
  val dimTypes: Map[String, DataType] = Map(
    "x" -> DoubleType, "y" -> DoubleType, "z" -> DoubleType,
    "intensity" -> IntegerType, // u16 -> int
    "return_number" -> ShortType, "number_of_returns" -> ShortType, // u8 -> short
    "classification" -> ShortType, // u8 -> short
    "scan_angle_rank" -> FloatType,
    "user_data" -> ShortType,
    "point_source_id" -> IntegerType, // u16 -> int
    "gps_time" -> DoubleType,
    "offset_time" -> DoubleType,
    "red" -> IntegerType, "green" -> IntegerType, "blue" -> IntegerType
  )

  /** Type-widening lattice, per PointLayout::resolveType
    * (reference src/PointLayout.cpp:257): same base type -> wider wins;
    * signed+unsigned -> next wider signed; anything+float -> double big
    * enough to hold both. In Spark terms we only need a total order. */
  private val widenOrder: Seq[DataType] =
    Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)

  def widen(a: DataType, b: DataType): DataType = {
    if (a == b) a
    else {
      val ia = widenOrder.indexOf(a); val ib = widenOrder.indexOf(b)
      require(ia >= 0 && ib >= 0, s"cannot widen $a with $b")
      // int64 + float32 must widen to double (float can't hold long)
      if ((a == LongType && b == FloatType) || (a == FloatType && b == LongType)) DoubleType
      else widenOrder(math.max(ia, ib))
    }
  }

  /** Checked cast, preserving the reference's lossy-conversion guard:
    * getFieldAs<T> throws when the (double-roundtripped) value is out of
    * range of the target type (reference include/pdal/PointView.hpp:372-440,
    * convertAndSet :442). Spark's plain cast silently wraps; here we
    * raise_error instead. Integer targets round half away from zero like
    * Utils::sround (PointView.hpp:418-421). */
  def checkedCast(c: Column, to: DataType): Column = {
    val (lo, hi) = to match {
      case ByteType => (Byte.MinValue.toDouble, Byte.MaxValue.toDouble)
      case ShortType => (Short.MinValue.toDouble, Short.MaxValue.toDouble)
      case IntegerType => (Int.MinValue.toDouble, Int.MaxValue.toDouble)
      case LongType => (Long.MinValue.toDouble, Long.MaxValue.toDouble)
      case FloatType => (Float.MinValue.toDouble, Float.MaxValue.toDouble)
      case DoubleType => (Double.MinValue, Double.MaxValue)
      case other => throw new IllegalArgumentException(s"checkedCast to $other")
    }
    val rounded = to match {
      case ByteType | ShortType | IntegerType | LongType =>
        // round half away from zero (Utils::sround)
        when(c >= 0, floor(c + lit(0.5))).otherwise(ceil(c - lit(0.5)))
      case _ => c
    }
    when(rounded.isNull, lit(null).cast(to))
      .when(rounded < lit(lo) || rounded > lit(hi),
        raise_error(concat(lit(s"value out of range for $to: "), c.cast(StringType))).cast(to))
      .otherwise(rounded.cast(to))
  }

  // -------------------------------------------------------------------
  // Span <-> point codec
  // -------------------------------------------------------------------

  /** Decode point spans of a doc table into the flat point frame.
    * Pure narrow transformation: explode + in-place payload reads — no shuffle.
    * Non-point spans are dropped here; use [[implode]] to reassemble
    * documents with non-point spans preserved. */
  def explodePoints(docs: DataFrame): DataFrame = {
    val sp = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "point")
    // each field read in place from the payload bytes — the scan-side hot loop
    def field(i: Int): Column = graft.functions.SpatialFunctions.payloadField(col("s.text"), i)
    sp.select(
      col("doc_id"), col("s.offset").as("span_idx"),
      (field(0) * lit(Scale)).as("x"),
      (field(1) * lit(Scale)).as("y"),
      (field(2) * lit(Scale)).as("z"),
      field(3).cast(IntegerType).as("intensity"),
      field(4).cast(DoubleType).as("gps_time"))
  }

  /** Re-encode a (possibly filtered / transformed) point frame back into a
    * point-span column set (doc_id, kind, text, media_ref, offset). */
  def encodePointSpans(points: DataFrame): DataFrame = {
    points.select(
      col("doc_id"),
      lit("point").as("kind"),
      concat_ws(",",
        (col("x") / Scale).cast(LongType).cast(StringType),
        (col("y") / Scale).cast(LongType).cast(StringType),
        (col("z") / Scale).cast(LongType).cast(StringType),
        col("intensity").cast(StringType),
        col("gps_time").cast(LongType).cast(StringType)
      ).as("text"),
      lit("").as("media_ref"),
      col("span_idx").as("offset")
    )
  }

  /** Reassemble documents: surviving point spans (re-encoded from the
    * point frame) + all original non-point spans, in original offset
    * order. This is what makes the span-sequence invariant testable:
    * explode -> identity -> implode must reproduce `docs` exactly.
    *
    * One shuffle (groupBy doc_id); sort_array orders by the leading
    * struct field = offset, restoring intra-document order without a
    * window function. */
  def implode(docs: DataFrame, points: DataFrame): DataFrame = {
    val nonPoint = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") =!= "point")
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))
    val pointSpans = encodePointSpans(points)
    nonPoint.unionByName(pointSpans)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .select(col("doc_id"),
        transform(col("ordered"), s => struct(
          s.getField("kind").as("kind"),
          s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))).as("spans"))
  }

  // -------------------------------------------------------------------
  // Columnar (dim-major) payload encoding — the second physical layout
  // of the interleaved-payload axis. The reference's BPF format stores
  // the same points row-major, dim-major, or byte-major in one container
  // (io/bpf/BpfReader.cpp:248-253); our doc table mirrors that: a
  // "points" span is row-major (one span per point), a "points_columnar"
  // span carries a whole batch dim-major (one array per dimension,
  // ';'-separated dims of ','-separated ints). Both decode to the same
  // point frame.
  // -------------------------------------------------------------------

  /** Re-encode each document's point spans into ONE dim-major span
    * (kind="points_columnar", offset = first point's offset). */
  def toColumnar(docs: DataFrame): DataFrame = {
    val pts = explodePoints(docs)
    val colSpans = pts
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_idx"),
        (col("x") / Scale).cast(LongType).as("xi"),
        (col("y") / Scale).cast(LongType).as("yi"),
        (col("z") / Scale).cast(LongType).as("zi"),
        col("intensity"), col("gps_time").cast(LongType).as("pid")))).as("ps"))
      .select(col("doc_id"), lit("points_columnar").as("kind"),
        concat_ws(";",
          concat_ws(",", transform(col("ps"), p => p.getField("xi").cast(StringType))),
          concat_ws(",", transform(col("ps"), p => p.getField("yi").cast(StringType))),
          concat_ws(",", transform(col("ps"), p => p.getField("zi").cast(StringType))),
          concat_ws(",", transform(col("ps"), p => p.getField("intensity").cast(StringType))),
          concat_ws(",", transform(col("ps"), p => p.getField("pid").cast(StringType))),
          concat_ws(",", transform(col("ps"), p => p.getField("span_idx").cast(StringType)))
        ).as("text"),
        lit("").as("media_ref"),
        element_at(col("ps"), 1).getField("span_idx").as("offset"))
    val nonPoint = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") =!= "point")
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))
    nonPoint.unionByName(colSpans)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .select(col("doc_id"),
        transform(col("ordered"), s => struct(
          s.getField("kind").as("kind"), s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"), s.getField("offset").as("offset")))
          .as("spans"))
  }

  /** Decode dim-major point spans to the SAME flat point frame as
    * [[explodePoints]] — layout-transparent consumers. */
  def explodePointsColumnar(docs: DataFrame): DataFrame = {
    val sp = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "points_columnar")
    val dims = split(col("s.text"), ";")
    val sized = sp.select(col("doc_id"),
      split(dims.getItem(0), ",").as("xs"), split(dims.getItem(1), ",").as("ys"),
      split(dims.getItem(2), ",").as("zs"), split(dims.getItem(3), ",").as("is"),
      split(dims.getItem(4), ",").as("ps"), split(dims.getItem(5), ",").as("ss"))
    sized
      .select(col("doc_id"), posexplode(col("xs")).as(Seq("i", "xi")),
        col("ys"), col("zs"), col("is"), col("ps"), col("ss"))
      .select(col("doc_id"),
        element_at(col("ss"), col("i") + 1).cast(IntegerType).as("span_idx"),
        (col("xi").cast(LongType) * Scale).as("x"),
        (element_at(col("ys"), col("i") + 1).cast(LongType) * Scale).as("y"),
        (element_at(col("zs"), col("i") + 1).cast(LongType) * Scale).as("z"),
        element_at(col("is"), col("i") + 1).cast(IntegerType).as("intensity"),
        element_at(col("ps"), col("i") + 1).cast(DoubleType).as("gps_time"))
  }

  /** Third physical layout: BYTE-major (reference BpfReader.cpp:248-253
    * DIM_POINT_MAJOR / POINT_MAJOR / BYTE_MAJOR — this is the third).
    * Each dimension's values are transposed into base-256 byte planes:
    * plane b holds byte b (little-endian) of every value, so a span
    * carries dims x planes comma-lists (';'-separated). The payload ints
    * all fit u32, so 4 planes per dimension. Decodes to the same point
    * frame as the other two layouts (codec-equality spec). */
  private val BytePlanes = 4
  private val ByteMajorDims = Seq("xi", "yi", "zi", "intensity", "pid", "span_idx")

  def toByteMajor(docs: DataFrame): DataFrame = {
    val pts = explodePoints(docs)
    val gathered = pts
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("span_idx"),
        (col("x") / Scale).cast(LongType).as("xi"),
        (col("y") / Scale).cast(LongType).as("yi"),
        (col("z") / Scale).cast(LongType).as("zi"),
        col("intensity").cast(LongType).as("intensity"),
        col("gps_time").cast(LongType).as("pid"),
        col("span_idx").cast(LongType).as("span_idx_v")))).as("ps"))
    // dims x planes lists: value byte b = (v >> 8b) & 255
    val planeLists = ByteMajorDims.flatMap { d =>
      val field = if (d == "span_idx") "span_idx_v" else d
      (0 until BytePlanes).map { b =>
        concat_ws(",", transform(col("ps"), p =>
          shiftright(p.getField(field), 8 * b).bitwiseAND(lit(255L)).cast(StringType)))
      }
    }
    val byteSpans = gathered.select(col("doc_id"), lit("points_bytemajor").as("kind"),
      concat_ws(";", planeLists: _*).as("text"), lit("").as("media_ref"),
      element_at(col("ps"), 1).getField("span_idx").as("offset"))
    val nonPoint = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") =!= "point")
      .select(col("doc_id"), col("s.kind").as("kind"), col("s.text").as("text"),
        col("s.media_ref").as("media_ref"), col("s.offset").as("offset"))
    nonPoint.unionByName(byteSpans)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(
        col("offset"), col("kind"), col("text"), col("media_ref")))).as("ordered"))
      .select(col("doc_id"),
        transform(col("ordered"), s => struct(
          s.getField("kind").as("kind"), s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"), s.getField("offset").as("offset")))
          .as("spans"))
  }

  /** Decode byte-major point spans to the SAME flat point frame. */
  def explodePointsByteMajor(docs: DataFrame): DataFrame = {
    val sp = docs
      .select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "points_bytemajor")
    val lists = split(col("s.text"), ";")
    // reassemble each dim: v = sum_b plane_b << 8b
    def dimCol(dimIdx: Int): Column = {
      val planes = (0 until BytePlanes).map { b =>
        split(lists.getItem(dimIdx * BytePlanes + b), ",")
      }
      // materialized per-row below via element_at over the exploded index
      struct(planes.zipWithIndex.map { case (p, b) => p.as(s"b$b") }: _*)
    }
    val withDims = sp.select(col("doc_id") +:
      ByteMajorDims.zipWithIndex.map { case (d, i) => dimCol(i).as(s"__$d") }: _*)
    def valueAt(d: String, i: Column): Column =
      (0 until BytePlanes).map { b =>
        shiftleft(element_at(col(s"__$d").getField(s"b$b"), i).cast(LongType), 8 * b)
      }.reduce(_ + _)
    withDims
      .withColumn("__i", explode(transform(col("__xi").getField("b0"), (_, idx) => idx)))
      .select(col("doc_id"),
        valueAt("span_idx", col("__i") + 1).cast(IntegerType).as("span_idx"),
        (valueAt("xi", col("__i") + 1) * Scale).as("x"),
        (valueAt("yi", col("__i") + 1) * Scale).as("y"),
        (valueAt("zi", col("__i") + 1) * Scale).as("z"),
        valueAt("intensity", col("__i") + 1).cast(IntegerType).as("intensity"),
        valueAt("pid", col("__i") + 1).cast(DoubleType).as("gps_time"))
  }

  /** Canonical string rendering of a document's span sequence — the
    * comparator used by the span-sequence-equality gate (robust to
    * struct-hashing differences between engines). */
  def spanSignature(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"),
      concat_ws("|", transform(col("spans"), s => concat_ws(":",
        s.getField("kind"),
        coalesce(s.getField("text"), lit("")),
        coalesce(s.getField("media_ref"), lit("")),
        s.getField("offset").cast(StringType)))).as("sig"))
  }
}
