package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types._
import graft.sources.{Optech, PointCodec, Qfit, Sbet, Terrasolid}
import graft.plans.Pipeline

/** readers.sbet / readers.qfit / readers.terrasolid (+ writers.sbet) vs the
  * reference's own fixtures and pinned unit-test expectations:
  * test/unit/io/sbet/SbetReaderTest.cpp:62-96,
  * test/unit/io/qfit/QFITReaderTest.cpp:31-82,
  * test/unit/io/terrasolid/TerrasolidReaderTest.cpp:51-96. */
class TrajectorySpec extends AnyFunSuite {
  import TestSpark._

  private def approx(a: Double, b: Double, tol: Double = 1e-6): Boolean =
    math.abs(a - b) <= tol * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("sbet 2-points fixture decodes to the reference's pinned records") {
    val df = PointCodec.read(spark, s"$RefData/sbet/2-points.sbet", Sbet.Codec())
    assert(df.schema.fieldNames.take(3).toSeq === Seq("doc_id", "span_idx", "gpstime"))
    val rows = df.orderBy("span_idx").collect()
    assert(rows.length === 2)
    // SbetReaderTest.cpp:66-79 point 0 (time, lat=y, lon=x, alt=z, ... zangrate)
    val exp0 = Seq(
      1.516310028360710e+05, 5.680211852972264e-01, -2.041654392303940e+00,
      1.077152953296560e+02, -2.332420866600025e+00, -3.335067504871401e-01,
      -3.093961631767838e-02, -2.813407149321339e-02, -2.429905393889139e-02,
      3.046773230278662e+00, -2.198414736922658e-02, 7.859639737752390e-01,
      7.849084719295495e-01, -2.978807916450262e-01, 6.226807982589819e-05,
      9.312162756440178e-03, 7.217812320996525e-02)
    val exp1 = Seq(
      1.516310078318641e+05, 5.680211834722869e-01, -2.041654392034053e+00,
      1.077151424357507e+02, -2.336228229691271e+00, -3.324663118952635e-01,
      -3.022948961008987e-02, -2.813856631423094e-02, -2.425215669392169e-02,
      3.047131105236811e+00, -2.198416007932108e-02, 8.397590491636475e-01,
      3.252165276637165e-01, -1.558883225990844e-01, 8.379685112283802e-04,
      7.372886784718076e-03, 7.179027672314571e-02)
    for ((exp, r) <- Seq(exp0, exp1).zip(rows); j <- exp.indices)
      assert(approx(r.getDouble(2 + j), exp(j)), s"dim $j of span ${r.getInt(1)}")
  }

  test("sbet badfile (size not a record multiple) fails loudly") {
    // twin: the SBET twin plus one trailing byte
    val bad = refOr("sbet/badfile.sbet")(Twins.sbetBad)
    // the file decodes in a task: the first action fails, on the
    // decoder's IllegalArgumentException
    val e = rootCause(intercept[Exception](PointCodec.read(spark, bad, Sbet.Codec()).count()))
    assert(e.isInstanceOf[IllegalArgumentException], e.toString)
    assert(e.getMessage.contains("invalid sbet file size"))
  }

  test("sbet distributed decode equals the driver decode") {
    val drv = PointCodec.read(spark, s"$RefData/sbet/2-points.sbet", Sbet.Codec())
      .orderBy("span_idx").collect().toSeq
    val dist = PointCodec.read(spark, s"$RefData/sbet/2-points*.sbet", Sbet.Codec())
      .orderBy("span_idx").collect().toSeq
    assert(dist === drv)
  }

  test("writers.sbet round-trips the fixture byte-exactly") {
    val src = s"$RefData/sbet/2-points.sbet"
    val out = java.nio.file.Files.createTempDirectory("sbetw").toString + "/rt.sbet"
    Sbet.write(out, PointCodec.read(spark, src, Sbet.Codec()))
    val a = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(src))
    val b = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    assert(java.util.Arrays.equals(a, b))
  }

  test("qfit 10-word big-endian fixture matches the reference's 3 pinned points") {
    // QFITReaderTest.cpp test_10_word (flip_coordinates=false, scale_z=0.001)
    val df = PointCodec.read(spark, s"$RefData/qfit/10-word.qi", Qfit.Codec(flipX = false))
    val rows = df.orderBy("span_idx").limit(3).collect()
    assert(df.schema.fieldNames.toSeq === Seq("doc_id", "span_idx",
      "offset_time", "y", "x", "z", "start_pulse", "reflected_pulse",
      "scan_angle_rank", "pitch", "roll"))
    val exp = Seq(
      (221.826822, 59.205160, 32.0900, 0),
      (221.826740, 59.205161, 32.0190, 0),
      (221.826658, 59.205164, 32.0000, 0))
    for (((ex, ey, ez, et), r) <- exp.zip(rows)) {
      assert(approx(r.getAs[Double]("x"), ex))
      assert(approx(r.getAs[Double]("y"), ey))
      assert(approx(r.getAs[Double]("z"), ez))
      assert(r.getAs[Int]("offset_time") === et)
    }
  }

  test("qfit 14-word fixture matches the reference's 3 pinned points") {
    val df = PointCodec.read(spark, s"$RefData/qfit/14-word.qi", Qfit.Codec(flipX = false))
    assert(df.schema.fieldNames.containsSlice(Seq(
      "passive_signal", "passive_y", "passive_x", "passive_z")))
    val rows = df.orderBy("span_idx").limit(3).collect()
    val exp = Seq(
      (244.306337, 35.623317, 1056.830, 903),
      (244.306260, 35.623280, 1056.409, 903),
      (244.306204, 35.623257, 1056.483, 903))
    for (((ex, ey, ez, et), r) <- exp.zip(rows)) {
      assert(approx(r.getAs[Double]("x"), ex))
      assert(approx(r.getAs[Double]("y"), ey))
      assert(approx(r.getAs[Double]("z"), ez))
      assert(r.getAs[Int]("offset_time") === et)
    }
  }

  test("qfit 12-word little-endian fixture decodes with pdop/pulse_width") {
    // 20100515_152839.atm4bT2.qi is the post-2010 little-endian era file
    val df = PointCodec.read(spark, s"$RefData/qfit/20100515_152839.atm4bT2.qi", Qfit.Codec())
    assert(df.schema.fieldNames.containsSlice(Seq("pdop", "pulse_width")))
    val n = df.count()
    assert(n > 0)
    // flip_coordinates default pulls longitudes into -180..180
    val xs = df.agg(org.apache.spark.sql.functions.max("x")).head().getDouble(0)
    assert(xs <= 180.0)
  }

  test("terrasolid header golden (TerrasolidReaderTest.cpp:51-67)") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$RefData/terrasolid/20020715-time-color.bin"))
    val h = Terrasolid.header(bytes)
    assert(h.hdrSize === 56)
    assert(h.hdrVersion === 20020715)
    assert(h.recogVal === 970401)
    assert(h.recogStr === "CXYZ")
    assert(h.pntCnt === 1000)
    assert(h.units === 100)
    assert(h.orgX === 0.0 && h.orgY === 0.0 && h.orgZ === 0.0)
    assert(h.time === 1 && h.color === 1)
  }

  test("terrasolid point golden (TerrasolidReaderTest.cpp:70-96)") {
    val df = PointCodec.read(spark,
      s"$RefData/terrasolid/20020715-time-color.bin", Terrasolid.Codec())
    assert(df.count() === 1000)
    val r = df.orderBy("span_idx").head()
    assert(r.getAs[Double]("x") === 363127.94)
    assert(r.getAs[Double]("y") === 3437612.33)
    assert(r.getAs[Double]("z") === 55.26)
    assert(r.getAs[Long]("offset_time") === 0L)
    assert(r.getAs[Int]("intensity") === 1840)
    assert(r.getAs[Int]("point_source_id") === 27207)
    assert(r.getAs[Short]("red") === 239)
    assert(r.getAs[Short]("green") === 252)
    assert(r.getAs[Short]("blue") === 95)
    assert(r.getAs[Short]("alpha") === 0)
    assert(r.getAs[Short]("return_number") === 1)
    assert(r.getAs[Short]("number_of_returns") === 1)
    assert(r.getAs[Short]("classification") === 2)
    assert(r.getAs[Short]("flag") === 0)
    assert(r.getAs[Short]("mark") === 0)
  }

  test("terrasolid rejects a non-TerraSolid file loudly") {
    // twin: the SBET twin, as a non-TerraSolid file
    val notBin = refOr("sbet/2-points.sbet")(Twins.sbet)
    val e = rootCause(intercept[Exception](PointCodec.read(spark, notBin, Terrasolid.Codec()).count()))
    assert(e.isInstanceOf[IllegalArgumentException], e.toString)
    assert(e.getMessage.contains("970401"))
  }

  test("optech csd header golden (OptechReaderTest.cpp:52-78)") {
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$RefData/optech/sample.csd"))
    val h = graft.sources.Optech.header(bytes)
    assert(h.signature === "CSD")
    assert(h.vendorId === "Optech Incorporated")
    assert(h.softwareVersion === "DASHMap")
    assert(h.formatVersion === 5.2010002f)
    assert(h.headerSize === 2048)
    assert(h.gpsWeek === 1660)
    assert(h.minTime === 575644.74484563898)
    assert(h.maxTime === 575644.75883187703)
    assert(h.numRecords === 1000L)
    assert(h.numStrips === 1)
    assert(h.misalignmentAngles === Seq(0.028000000000000001, 0.014, 0.002))
    assert(h.imuOffsets === Seq(0.002250602070446688,
      -0.0021128955924643355, 0.0054852207731677788))
    assert(h.temperature === 13.0)
    assert(h.pressure === 1026.75)
  }

  test("optech csd point golden (OptechReaderTest.cpp:81-105)") {
    val df = PointCodec.read(spark, s"$RefData/optech/sample.csd", Optech.Codec())
    assert(df.count() === 1000)
    val r = df.orderBy("span_idx").head()
    assert(approx(r.getAs[Double]("x"), -82.554028877408555, 1e-12))
    assert(approx(r.getAs[Double]("y"), 36.534611447321907, 1e-12))
    assert(approx(r.getAs[Double]("z"), 344.80889224602356, 1e-9))
    assert(r.getAs[Double]("gpstime") === 5.756447448456390e5)
    assert(r.getAs[Short]("return_number") === 1)
    assert(r.getAs[Short]("number_of_returns") === 1)
    assert(approx(r.getAs[Double]("echo_range"), 8.27356689453125e2))
    assert(r.getAs[Int]("intensity") === 384)
    assert(approx(r.getAs[Double]("scan_angle_rank"), -14.55516, 1e-5))
  }

  test("pipeline wiring: readers.sbet|qfit|terrasolid and writers.sbet run") {
    val dir = java.nio.file.Files.createTempDirectory("trajpipe").toString
    val json =
      s"""{"pipeline":[
         |  {"type":"readers.sbet", "path":"$RefData/sbet/2-points.sbet"},
         |  {"type":"writers.sbet", "path":"$dir/out.sbet"}
         |]}""".stripMargin
    val out = Pipeline.run(spark, json).df
    assert(out.count() === 2)
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(s"$dir/out.sbet")) === 272)
    val q = Pipeline.run(spark,
      s"""{"pipeline":[{"type":"readers.qfit",
         |  "path":"$RefData/qfit/10-word.qi",
         |  "flip_coordinates": false}]}""".stripMargin).df
    assert(q.schema.fieldNames.contains("scan_angle_rank"))
    assert(q.count() > 0)
    val t = Pipeline.run(spark,
      s"""{"pipeline":[{"type":"readers.terrasolid",
         |  "path":"$RefData/terrasolid/20020715-time-color.bin"}]}""".stripMargin).df
    assert(t.count() === 1000)
  }

  test("georeferenceWgs84 goldens (GeoreferenceTest.cpp:78-125, EXPECT_DOUBLE_EQ = 4 ulp)") {
    import graft.sources.Optech.georeferenceWgs84
    // gtest's EXPECT_DOUBLE_EQ tolerates 4 ulp; the residual here is
    // libm-vs-JDK sin/cos (the arithmetic mirrors Georeference.cpp
    // token for token) — measured delta is 2 ulp on the one transcendental
    // case, 0 on all exact cases
    def ulps(a: Double, b: Double): Long =
      math.abs(java.lang.Double.doubleToLongBits(a) - java.lang.Double.doubleToLongBits(b))
    def eq4(a: Double, b: Double): Boolean = ulps(a, b) <= 4
    val I = Array(1.0, 0, 0, 0, 1, 0, 0, 0, 1)
    // Zeros
    assert(georeferenceWgs84(0, 0, I, I, 0, 0, 0) === ((0.0, 0.0, 0.0)))
    // LatLonElev: zero range leaves the GPS point untouched
    assert(georeferenceWgs84(0, 0, I, I, 1, 2, 3) === ((1.0, 2.0, 3.0)))
    // Range: straight-down pulse of length 3 from elevation 3
    assert(georeferenceWgs84(3, 0, I, I, 1, 2, 3) === ((1.0, 2.0, 0.0)))
    // RangeAndAngle: pi/2 scan angle moves only the longitude
    val (x1, y1, z1) = georeferenceWgs84(3, math.Pi / 2, I, I, 1, 2, 3)
    assert(eq4(x1, 0.9999988728659957) && y1 === 2.0 && z1 === 3.0, s"x1=$x1")
    // WithImu: the reference test feeds its rotation via the first
    // matrix slot (boresight position)
    val imu = Array(0.0, 1, 0, 0, 0, -1, -1, 0, 0)
    val (x2, y2, z2) = georeferenceWgs84(3, 0, imu, I, 1, 2, 3)
    assert(x2 === 1.0 && eq4(y2, 2.0000004696006983) && z2 === 3.0, s"y2=$y2")
  }
}
