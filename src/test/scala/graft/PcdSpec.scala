package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Pcd, PointCodec}
import graft.plans.Pipeline

/** readers.pcd / writers.pcd (plugins/pcl/io/PcdReader.cpp, PcdWriter.cpp
  * — PCL PCDReader/PCDWriter shims). No PCD fixture ships with the
  * reference, so verification is: a hand-written fixture following the
  * public PCD v0.7 spec example (header fields/padding/rgba packing),
  * write->read round-trips across all three DATA modes, a seeded LZF
  * codec round-trip property, and the reference's lossy origin-shift
  * write behavior (PCLConversions.hpp PDALtoPCD bounds-min subtraction).
  */
class PcdSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir = java.nio.file.Files.createTempDirectory("pcd-spec").toString

  // the public spec's canonical example shape: x y z rgba + a padding field
  private val asciiFixture =
    """# .PCD v0.7 - Point Cloud Data file format
      |VERSION 0.7
      |FIELDS x y z rgba _
      |SIZE 4 4 4 4 1
      |TYPE F F F U U
      |COUNT 1 1 1 1 4
      |WIDTH 5
      |HEIGHT 1
      |VIEWPOINT 0 0 0 1 0 0 0
      |POINTS 5
      |DATA ascii
      |0.93773 0.33763 0.5 4.2108e+06 0 0 0 0
      |0.90805 0.35641 0.5 4.2108e+06 0 0 0 0
      |0.81915 0.32 0.5 4.2108e+06 0 0 0 0
      |0.97192 0.278 0.5 4.2108e+06 0 0 0 0
      |0.944 0.29474 0.5 4.2108e+06 0 0 0 0
      |""".stripMargin

  test("ascii fixture: fields, padding skip, rgba as unsigned, x/y/z double") {
    val dir = tmpDir
    val p = s"$dir/spec.pcd"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), asciiFixture.getBytes)
    val df = PointCodec.read(spark, p, Pcd.Codec())
    assert(df.columns.toSeq === Seq("doc_id", "span_idx", "x", "y", "z", "rgba"))
    assert(df.count() === 5)
    val r = df.orderBy("span_idx").collect()
    assert(math.abs(r(0).getAs[Double]("x") - 0.93773f.toDouble) < 1e-6)
    assert(r(0).getAs[Long]("rgba") === 4210800L)
    assert(math.abs(r(4).getAs[Double]("y") - 0.29474f.toDouble) < 1e-6)
  }

  test("LZF codec: seeded buffers round-trip, incompressible data survives") {
    val rnd = new scala.util.Random(20260818L)
    for (trial <- 0 until 40) {
      val n = rnd.nextInt(60000) + 1
      val buf = new Array[Byte](n)
      trial % 4 match {
        case 0 => rnd.nextBytes(buf) // incompressible
        case 1 => // runs
          var i = 0
          while (i < n) { val b = rnd.nextInt(4).toByte
            val m = math.min(n - i, rnd.nextInt(300) + 1)
            java.util.Arrays.fill(buf, i, i + m, b); i += m }
        case 2 => // float-plane-ish periodic data
          (0 until n).foreach(i => buf(i) = ((i / 4) % 7 + (i % 4) * 16).toByte)
        case _ => // text-ish
          (0 until n).foreach(i => buf(i) = ('a' + rnd.nextInt(6)).toByte)
      }
      val rt = Pcd.Lzf.decompress(Pcd.Lzf.compress(buf), n)
      assert(java.util.Arrays.equals(rt, buf), s"trial $trial len $n")
    }
  }

  test("round-trip: ascii / binary / binary_compressed re-read identically") {
    import org.apache.spark.sql.functions._
    val src = graft.sources.Faux.ramp(spark,
        graft.sources.Faux.Box3(0, 0, 0, 10, 100, 1000), 500)
      .withColumn("intensity", (col("span_idx") % 256).cast("float"))
      .withColumn("classification", (col("span_idx") % 32).cast("int"))
    val dir = tmpDir
    val want = src.select("x", "y", "z", "intensity", "classification")
      .orderBy("x").collect().toSeq
      .map(r => (r.getDouble(0).toFloat, r.getDouble(1).toFloat,
        r.getDouble(2).toFloat, r.getFloat(3), r.getInt(4)))
    for (mode <- Seq("ascii", "binary", "binary_compressed")) {
      val p = s"$dir/rt-$mode.pcd"
      Pcd.write(p, src, mode)
      val got = PointCodec.read(spark, p, Pcd.Codec())
        .select("x", "y", "z", "intensity", "classification")
        .orderBy("x").collect().toSeq
        .map(r => (r.getDouble(0).toFloat, r.getDouble(1).toFloat,
          r.getDouble(2).toFloat, r.getFloat(3), r.getInt(4)))
      assert(got === want, s"mode $mode")
    }
  }

  test("shift_origin mirrors the reference's lossy bounds-min subtraction") {
    import org.apache.spark.sql.functions._
    val src = graft.sources.Faux.ramp(spark,
      graft.sources.Faux.Box3(100, 200, 300, 110, 220, 330), 50)
    val dir = tmpDir
    val p = s"$dir/shifted.pcd"
    Pcd.write(p, src, "binary", shiftOrigin = true)
    val back = PointCodec.read(spark, p, Pcd.Codec())
    val mn = back.agg(min("x"), min("y"), min("z")).head()
    assert(math.abs(mn.getDouble(0)) < 1e-5)
    assert(math.abs(mn.getDouble(1)) < 1e-5)
    assert(math.abs(mn.getDouble(2)) < 1e-5)
    val spanX = back.agg(max("x")).head().getDouble(0)
    assert(math.abs(spanX - 10.0) < 1e-3) // extent preserved, origin dropped
  }

  test("empty cloud round-trips in all three DATA modes") {
    val src = graft.sources.Faux.ramp(spark,
      graft.sources.Faux.Box3(0, 0, 0, 1, 1, 1), 5).limit(0)
    val dir = tmpDir
    for (mode <- Seq("ascii", "binary", "binary_compressed")) {
      val p = s"$dir/empty-$mode.pcd"
      Pcd.write(p, src, mode)
      assert(PointCodec.read(spark, p, Pcd.Codec()).count() === 0, mode)
    }
  }

  test("pipeline: readers.pcd -> filters.crop -> writers.pcd (compressed), distributed == driver") {
    val dir = tmpDir
    val seedPath = s"$dir/in.pcd"
    val src = graft.sources.Faux.ramp(spark,
      graft.sources.Faux.Box3(0, 0, 0, 10, 100, 1000), 400)
    Pcd.write(seedPath, src, "binary_compressed")
    val out = s"$dir/out.pcd"
    val spec = s"""{"pipeline":[
      {"type":"readers.pcd","path":"$seedPath"},
      {"type":"filters.crop","bounds":[2.0,20.0,200.0,8.0,80.0,800.0]},
      {"type":"writers.pcd","path":"$out","compression":true,"order_by":["x"]}
    ]}"""
    val n = Pipeline.run(spark, spec).df.count()
    assert(n > 0 && n < 400)
    assert(PointCodec.read(spark, out, Pcd.Codec()).count() === n)
    val driver = PointCodec.read(spark, seedPath, Pcd.Codec()).orderBy("span_idx").collect().toSeq
    val dist = Pcd.asDistributedDataFrame(spark, seedPath).orderBy("span_idx").collect().toSeq
    assert(dist === driver)
  }
}
