package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{Ply, PointCodec}

/** readers.ply / writers.ply vs the reference's own fixtures
  * (test/data/ply, expectations from PlyReaderTest.cpp:64-110) plus
  * round-trip pinning for both emit formats. */
class PlySpec extends AnyFunSuite {
  import TestSpark._

  private val expected = Seq((-1.0, 0.0, 0.0), (0.0, 1.0, 0.0), (1.0, 0.0, 0.0))

  test("ascii fixture decodes to the reference's three vertices in order") {
    val df = PointCodec.read(spark, s"$RefData/ply/simple_text.ply", Ply.Codec())
    assert(df.schema.fieldNames.toSeq === Seq("doc_id", "span_idx", "x", "y", "z"))
    assert(df.schema("x").dataType === DoubleType)
    val rows = df.orderBy("span_idx").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows === expected)
  }

  test("binary_little_endian fixture decodes bit-equal to the ascii twin") {
    val df = PointCodec.read(spark, s"$RefData/ply/simple_binary.ply", Ply.Codec())
    val rows = df.orderBy("span_idx").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4))).toSeq
    assert(rows === expected)
  }

  test("no_vertex fixture yields zero rows, not an error") {
    assert(PointCodec.read(spark, s"$RefData/ply/no_vertex.ply", Ply.Codec()).count() === 0)
  }

  test("round-trip preserves typed properties through both formats") {
    import spark.implicits._
    val src = Seq(
      (1.25, -3.5, 7.0, 42, 255.toShort, 1.5f),
      (0.0, 2.5, -1.0, -7, 0.toShort, -2.25f))
      .toDF("x", "y", "z", "cls", "inten", "gain")
    val dir = java.nio.file.Files.createTempDirectory("plyrt").toString
    for (fmt <- Seq("ascii", "binary_little_endian")) {
      val p = s"$dir/rt_$fmt.ply"
      Ply.write(p, src, fmt)
      val back = PointCodec.read(spark, p, Ply.Codec()).orderBy("span_idx")
      assert(back.schema("x").dataType === DoubleType)
      assert(back.schema("cls").dataType === IntegerType)
      assert(back.schema("inten").dataType === ShortType, fmt)
      assert(back.schema("gain").dataType === FloatType)
      val got = back.collect().map(r =>
        (r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getInt(5), r.getShort(6), r.getFloat(7))).toSeq
      assert(got === Seq(
        (1.25, -3.5, 7.0, 42, 255.toShort, 1.5f),
        (0.0, 2.5, -1.0, -7, 0.toShort, -2.25f)), fmt)
    }
  }

  test("unsigned widths survive binary round-trip at their extremes") {
    // uint8 -> ShortType and int16 -> ShortType write as int16 on the
    // way out; values beyond 2^15 must come through uint16/uint32 cols
    import spark.implicits._
    val src = Seq((0.5, 0.5, 0.5, 65535, 4294967295L))
      .toDF("x", "y", "z", "u16", "u32")
    val dir = java.nio.file.Files.createTempDirectory("plyun").toString
    val p = s"$dir/u.ply"
    Ply.write(p, src, "binary_little_endian")
    val r = PointCodec.read(spark, p, Ply.Codec()).head()
    // u16 wrote as int32 (IntegerType -> int32), u32 as float64 (LongType)
    assert(r.getAs[Int]("u16") === 65535)
    assert(r.getAs[Double]("u32") === 4294967295.0)
  }

  test("non-vertex elements are skipped (ascii) and rejected only when unskippable") {
    val dir = java.nio.file.Files.createTempDirectory("plyskip").toString
    val withFaces =
      """ply
        |format ascii 1.0
        |element vertex 2
        |property float x
        |property float y
        |property float z
        |element face 1
        |property list uchar int vertex_indices
        |end_header
        |0 0 0
        |1 1 1
        |3 0 1 0
        |""".stripMargin
    val p = s"$dir/faces.ply"
    java.nio.file.Files.write(java.nio.file.Paths.get(p),
      withFaces.getBytes("US-ASCII"))
    val df = PointCodec.read(spark, p, Ply.Codec())
    assert(df.count() === 2)
    // binary with a variable-size element BEFORE vertex must fail loudly
    val badHdr =
      """ply
        |format binary_little_endian 1.0
        |element face 1
        |property list uchar int vertex_indices
        |element vertex 1
        |property float x
        |end_header
        |""".stripMargin
    val bad = badHdr.getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0, 0)
    val e = intercept[IllegalArgumentException](Ply.decode(bad, "bad"))
    assert(e.getMessage.contains("list properties precedes"))
  }

  test("readers.ply and writers.ply are pipeline-reachable") {
    val dir = java.nio.file.Files.createTempDirectory("plypipe").toString
    val json =
      s"""{"pipeline": [
         |  {"type": "readers.ply", "path": "$RefData/ply/simple_text.ply"},
         |  {"type": "filters.range",
         |   "limits": [{"dimension": "x", "min": -0.5}]},
         |  {"type": "writers.ply", "path": "$dir/out.ply",
         |   "format": "binary_little_endian", "order_by": ["span_idx"]}
         |]}""".stripMargin
    graft.plans.Pipeline.run(spark, json)
    val back = PointCodec.read(spark, s"$dir/out.ply", Ply.Codec()).orderBy("span_idx")
    val rows = back.collect().map(r =>
      (r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[Double]("z"))).toSeq
    assert(rows === Seq((0.0, 1.0, 0.0), (1.0, 0.0, 0.0)))
  }

  test("glob read: a file whose property order drifts from the first fails loudly, naming it") {
    val dir = java.nio.file.Files.createTempDirectory("plydrift").toString
    val pts = spark.range(0, 5).select(
      col("id").cast("double").as("x"), (col("id") * 10).cast("double").as("y"),
      lit(1.5).as("z"))
    Ply.write(s"$dir/a.ply", pts, "binary_little_endian")
    // same properties, x and y swapped: read under a's schema they
    // would land as each other's column
    Ply.write(s"$dir/b.ply", pts.select("y", "x", "z"), "binary_little_endian")
    val ex = intercept[Exception] {
      Ply.asDistributedDataFrame(spark, s"$dir/*.ply").collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(messages.exists(m => m.contains("b.ply") && m.contains("schema")),
      messages.mkString(" | "))
  }
}
