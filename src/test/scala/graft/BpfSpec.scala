package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalactic.Tolerance._
import org.apache.spark.sql.Row
import graft.sources.{Bpf, PointCodec}
import graft.plans.Pipeline

/** readers.bpf / writers.bpf against the reference's own BPF v3
  * fixtures and goldens (test/unit/io/bpf/BPFTest.cpp):
  *  - the 506-cap read of the chipped-25 autzen cloud with pinned first
  *    three points, across all three interleavings, uncompressed and
  *    zlib-deflate (BPFTest.cpp test_file_type / test_*_zlib);
  *  - the FastLZ fixtures decode bit-identically to their uncompressed
  *    twin through the clean-room FastLZ decompressor (external ground
  *    truth — the reference itself never reads these);
  *  - QuickInfo (inspect) golden for autzen-dd.bpf (BPFTest.cpp inspect);
  *  - write->read round-trips for every format x compression and the
  *    scaled/offset variant (BPFTest.cpp roundtrip_*).
  */
class BpfSpec extends AnyFunSuite {
  import TestSpark._

  private val B = s"$RefData/bpf"
  private def tmpDir = java.nio.file.Files.createTempDirectory("bpf-spec").toString

  // BPFTest.cpp test_file_type: first three points of the 506-cap read
  private val golden = Seq(
    (494057.312f, 4877433.5f, 130.630005f),
    (494133.812f, 4877440.0f, 130.440002f),
    (494021.094f, 4877440.0f, 130.460007f))

  private def checkFileType(path: String): Unit = {
    val df = PointCodec.read(spark, path, Bpf.Codec(count = 506))
    assert(df.count() === 506)
    val first = df.orderBy("span_idx").select("x", "y", "z").limit(3).collect()
    first.zip(golden).foreach { case (r, (gx, gy, gz)) =>
      assert(r.getDouble(0).toFloat === gx)
      assert(r.getDouble(1).toFloat === gy)
      assert(r.getDouble(2).toFloat === gz)
    }
  }

  test("point-major / dim-major / byte-major fixtures hit the 506-point golden") {
    checkFileType(s"$B/autzen-utm-chipped-25-v3-interleaved.bpf")
    checkFileType(s"$B/autzen-utm-chipped-25-v3.bpf")
    checkFileType(s"$B/autzen-utm-chipped-25-v3-segregated.bpf")
  }

  test("zlib-deflate variants of all three interleavings hit the same golden") {
    checkFileType(s"$B/autzen-utm-chipped-25-v3-deflate-interleaved.bpf")
    checkFileType(s"$B/autzen-utm-chipped-25-v3-deflate.bpf")
    checkFileType(s"$B/autzen-utm-chipped-25-v3-deflate-segregated.bpf")
  }

  test("fastlz variants decode identically to the uncompressed twin (clean-room FastLZ)") {
    val want = PointCodec.read(spark, s"$B/autzen-utm-chipped-25-v3.bpf", Bpf.Codec())
      .drop("doc_id").orderBy("span_idx").collect().toSeq
    for (f <- Seq("autzen-utm-chipped-25-v3-fastlz.bpf",
                  "autzen-utm-chipped-25-v3-fastlz-interleaved.bpf",
                  "autzen-utm-chipped-25-v3-fastlz-segregated.bpf")) {
      val got = PointCodec.read(spark, s"$B/$f", Bpf.Codec())
        .drop("doc_id").orderBy("span_idx").collect().toSeq
      assert(got === want, s"$f differs from uncompressed twin")
    }
  }

  test("quickInfo golden: autzen-dd.bpf header preview without a data scan") {
    val qi = Bpf.quickInfo(s"$B/autzen-dd.bpf")
    assert(qi.numPts === 1065)
    assert(qi.srs === Some("EPSG:3261")) // coordId 1, string-concat like the reference
    assert(qi.dimNames.sorted === Seq("Blue", "Classification", "GPSTime",
      "Green", "Intensity", "Number of Returns", "Red", "Return Information",
      "Return Number", "X", "Y", "Z"))
    val (minx, maxx) = qi.bounds("X")
    val (miny, maxy) = qi.bounds("Y")
    val (minz, maxz) = qi.bounds("Z")
    assert(minx === -13676090.610841721296 +- 1e-6)
    assert(maxx === -13674705.011110275984 +- 1e-6)
    assert(miny === 4894836.9556098170578 +- 1e-6)
    assert(maxy === 4896224.6888861842453 +- 1e-6)
    assert(minz === 123.93000030517578125 +- 1e-9)
    assert(maxz === 178.7299957275390625 +- 1e-9)
  }

  private def assertClose(a: Seq[Row], b: Seq[Row], tol: Double): Unit = {
    assert(a.size === b.size)
    a.zip(b).foreach { case (ra, rb) =>
      (2 until ra.size).foreach { i =>
        val va = ra.get(i) match { case d: Double => d; case f: Float => f.toDouble }
        val vb = rb.get(i) match { case d: Double => d; case f: Float => f.toDouble }
        val scale = math.max(1.0, math.abs(va))
        assert(math.abs(va - vb) <= tol * scale,
          s"col $i: $va vs $vb (row ${ra.getInt(1)})")
      }
    }
  }

  test("round-trip: every format x compression re-reads within float precision") {
    // twin: the BPF twin
    val src = PointCodec.read(spark,
      refOr("bpf/autzen-utm-chipped-25-v3-interleaved.bpf")(Twins.bpf), Bpf.Codec())
    val want = src.orderBy("span_idx").collect().toSeq
    val dir = tmpDir
    for (fmt <- Seq(Bpf.PointMajor, Bpf.DimMajor, Bpf.ByteMajor);
         comp <- Seq(false, true)) {
      val p = s"$dir/rt-$fmt-$comp.bpf"
      Bpf.write(p, src, Bpf.WriteOpts(format = fmt, compression = comp))
      val got = PointCodec.read(spark, p, Bpf.Codec()).orderBy("span_idx").collect().toSeq
      // one float32 quantization hop per value (the fixture holds exact
      // float32s, so the re-write is in fact exact)
      assertClose(got, want, 1e-6)
    }
  }

  test("round-trip with explicit scale/offset (BPFTest roundtrip_scaling)") {
    // twin: the BPF twin
    val src = PointCodec.read(spark,
      refOr("bpf/autzen-utm-chipped-25-v3-interleaved.bpf")(Twins.bpf), Bpf.Codec())
    val want = src.orderBy("span_idx").collect().toSeq
    val p = s"$tmpDir/rt-scaled.bpf"
    Bpf.write(p, src, Bpf.WriteOpts(format = Bpf.PointMajor,
      offsetX = 494000.0, offsetY = 487000.0, offsetZ = 130.0,
      scaleX = .001, scaleY = .01, scaleZ = 10.0))
    val got = PointCodec.read(spark, p, Bpf.Codec()).orderBy("span_idx").collect().toSeq
    // scaling pushes values through float32 at a different magnitude —
    // EXPECT_FLOAT_EQ-grade tolerance
    assertClose(got, want, 1e-5)
  }

  test("legacy v1 header (BpfHeader readV1): static X/Y/Z dims + aux table, dim-major") {
    // hand-built per BpfHeader.cpp readV1: [i32 len][i32 ver][i32 numPts]
    // [i32 numAux][i32 coordType][i32 coordId][f32 spacing], X/Y/Z
    // offset/min/max triplets, then the aux dim table; v1 => dim-major
    import java.nio.{ByteBuffer, ByteOrder}
    val pts = Seq((1.5f, 2.5f, 3.5f, 10f), (4.5f, 5.5f, 6.5f, 20f),
      (7.5f, 8.5f, 9.5f, 30f))
    val numAux = 1
    val headerLen = 28 + 3 * 24 + numAux * (8 * 3 + 32)
    val bb = ByteBuffer.allocate(headerLen + pts.size * 4 * 4)
      .order(ByteOrder.LITTLE_ENDIAN)
    bb.putInt(headerLen).putInt(1).putInt(pts.size).putInt(numAux)
    bb.putInt(1).putInt(10).putFloat(0f)
    Seq(100.0, 200.0, 300.0).foreach(bb.putDouble) // offsets
    Seq(101.5, 202.5, 303.5).foreach(bb.putDouble) // mins
    Seq(107.5, 208.5, 309.5).foreach(bb.putDouble) // maxs
    bb.putDouble(0.0); bb.putDouble(10.0); bb.putDouble(30.0) // aux off/min/max
    bb.put(java.util.Arrays.copyOf("Intensity".getBytes, 32))
    // dim-major planes: X, Y, Z, Intensity
    pts.foreach(p => bb.putFloat(p._1))
    pts.foreach(p => bb.putFloat(p._2))
    pts.foreach(p => bb.putFloat(p._3))
    pts.foreach(p => bb.putFloat(p._4))
    val dir = tmpDir
    val p = s"$dir/legacy1.bpf"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), bb.array())
    val df = PointCodec.read(spark, p, Bpf.Codec())
    assert(df.columns.toSeq === Seq("doc_id", "span_idx", "x", "y", "z", "intensity"))
    val rows = df.orderBy("span_idx").collect()
    assert(rows.length === 3)
    assert(rows(0).getAs[Double]("x") === 101.5 +- 1e-9) // 1.5 + offset 100
    assert(rows(1).getAs[Double]("y") === 205.5 +- 1e-9)
    assert(rows(2).getAs[Double]("z") === 309.5 +- 1e-9)
    assert(rows(2).getAs[Float]("intensity") === 30f)
    val qi = Bpf.quickInfo(p)
    assert(qi.numPts === 3 && qi.srs === Some("EPSG:32610"))
  }

  test("distributed glob ingest equals driver decode") {
    val driver = PointCodec.read(spark, s"$B/autzen-utm-chipped-25-v3.bpf", Bpf.Codec())
      .orderBy("span_idx").collect().toSeq
    val dist = Bpf.asDistributedDataFrame(spark, s"$B/autzen-utm-chipped-25-v3.bpf")
      .orderBy("span_idx").collect().toSeq
    assert(dist === driver)
  }

  test("executor-sharded write: 4 shards re-decode to the full cloud, file: URI two-phase") {
    import org.apache.spark.sql.functions._
    val src = PointCodec.read(spark, s"$B/autzen-utm-chipped-25-v3.bpf", Bpf.Codec())
      .withColumn("shard", pmod(col("span_idx"), lit(4)))
    // shard files re-index spans per shard, so compare order-free
    // aggregate invariants (one float32 re-quantization hop of slack)
    def sig(d: org.apache.spark.sql.DataFrame) = {
      val r = d.agg(count(lit(1)), sum("x"), sum("z"), min("x"), max("x"),
        min("z"), max("z"), sum("intensity")).head()
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))
    }
    val want = sig(src)
    for (scheme <- Seq(false, true)) {
      val dir0 = tmpDir
      val dir = if (scheme) s"file:$dir0" else dir0
      val names = Bpf.writeSharded(dir, src, "shard",
        Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))
      assert(names.size === 4)
      val back = Bpf.asDistributedDataFrame(spark, s"$dir0/*.bpf")
      val got = sig(back)
      // float32 half-ulp at |x|~5e5 is ~0.016; at |z|~130 it's ~8e-6
      assert(got._1 === want._1)
      assert(got._2 === want._2 +- 0.016 * want._1)
      assert(got._3 === want._3 +- 1e-5 * want._1)
      assert(got._4 === want._4 +- 0.02)
      assert(got._5 === want._5 +- 0.02)
      assert(got._6 === want._6 +- 1e-4)
      assert(got._7 === want._7 +- 1e-4)
      // no .inprogress residue from the two-phase publish
      val residue = new java.io.File(dir0).listFiles()
        .filter(_.getName.endsWith(".inprogress"))
      assert(residue.isEmpty)
    }
  }

  test("selective decode: pruned dimensions' blocks are never decompressed") {
    import org.apache.spark.sql.functions._
    // twin: the BPF twin
    val src = PointCodec.read(spark,
      refOr("bpf/autzen-utm-chipped-25-v3.bpf")(Twins.bpf), Bpf.Codec())
    val dir = tmpDir
    val p = s"$dir/sel.bpf"
    // dim-major + zlib: our writer emits exactly one block per dimension
    Bpf.write(p, src, Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))

    // selective xyz decode equals the full decode's xyz columns
    val full = PointCodec.read(spark, p, Bpf.Codec()).select("span_idx", "x", "y", "z")
      .orderBy("span_idx").collect().toSeq
    val sel = PointCodec.read(spark, p, Bpf.Codec(columns = Seq("x", "y", "z")))
    assert(sel.columns.toSeq === Seq("doc_id", "span_idx", "x", "y", "z"))
    assert(sel.select("span_idx", "x", "y", "z").orderBy("span_idx")
      .collect().toSeq === full)

    // corrupt the 4th dimension's block payload (intensity): the
    // selective path must not notice; the full decode must fail loudly
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
    val h = Bpf.readHeader(bytes)
    val bb = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var pos = h.len
    (0 until 3).foreach { _ => pos += 8 + bb.getInt(pos + 4) }
    val comp = bb.getInt(pos + 4)
    (pos + 8 + comp / 3 until pos + 8 + comp).foreach(i =>
      bytes(i) = (bytes(i) ^ 0x5a).toByte)
    val pc = s"$dir/sel-corrupt.bpf"
    java.nio.file.Files.write(java.nio.file.Paths.get(pc), bytes)
    val selC = PointCodec.read(spark, pc, Bpf.Codec(columns = Seq("x", "y", "z")))
      .select("span_idx", "x", "y", "z").orderBy("span_idx").collect().toSeq
    assert(selC === full, "selective decode touched a pruned block")
    val boom = intercept[Exception] { Bpf.decode(bytes, "c") }
    assert(boom.getMessage != null)
  }

  test("empty cloud round-trips (0-point header, no data blocks)") {
    val dir = tmpDir
    // twin: the BPF twin
    val src = PointCodec.read(spark,
      refOr("bpf/autzen-utm-chipped-25-v3.bpf")(Twins.bpf), Bpf.Codec()).limit(0)
    for (comp <- Seq(false, true)) {
      val p = s"$dir/empty-$comp.bpf"
      Bpf.write(p, src, Bpf.WriteOpts(format = Bpf.DimMajor, compression = comp))
      val back = PointCodec.read(spark, p, Bpf.Codec())
      assert(back.count() === 0)
      assert(Bpf.quickInfo(p).numPts === 0)
    }
  }

  test("pipeline: readers.bpf -> filters.range -> writers.bpf") {
    val dir = tmpDir
    val out = s"$dir/out.bpf"
    val spec = s"""{"pipeline":[
      {"type":"readers.bpf","path":"$B/autzen-utm-chipped-25-v3.bpf"},
      {"type":"filters.range","limits":[{"dimension":"z","min":120.0,"max":131.0}]},
      {"type":"writers.bpf","path":"$out","format":"point","order_by":["span_idx"]}
    ]}"""
    val df = Pipeline.run(spark, spec).df
    val n = df.count()
    assert(n > 0 && n < 1065)
    val back = PointCodec.read(spark, out, Bpf.Codec())
    assert(back.count() === n)
    import org.apache.spark.sql.functions._
    val mx = back.agg(max("z")).head().getDouble(0)
    assert(mx <= 131.0 + 1e-4)
  }
}
