package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Bpf, Pcd, PointCodec}
import graft.plans.{Pipeline, PipelineXml}

/** Regression specs for the round-4 advisor findings:
  *  - BPF writer: zlib worst-case expansion on a large incompressible
  *    dim-major plane must not stall the deflate drain loop;
  *  - PCD header: CRLF-terminated headers must not shift the binary
  *    payload offset;
  *  - filters.splitter: empty input passes through empty (the
  *    reference's SplitterFilter::run returns an empty set);
  *  - XML repeated options resolve to the FIRST occurrence, like the
  *    reference's Options::getValueOrDefault multimap find();
  *  - (the truncated-HDF5-chunk stall guard lives in IcebridgeSpec,
  *    next to the fixture builder.)
  */
class AdviceFixesSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir = java.nio.file.Files.createTempDirectory("advice-spec").toString

  test("BPF dim-major deflate of a large incompressible plane terminates and round-trips") {
    // random float bit patterns (exponent kept finite) are ~8 bits/byte
    // entropy: deflate EXPANDS them, which overflowed the old fixed
    // +64-byte output buffer and spun deflate() at 0 forever
    val n = 250000
    val rnd = new scala.util.Random(0x5ca1eL)
    def randomFloat(): Float = {
      var bits = rnd.nextInt()
      if ((bits & 0x7f800000) == 0x7f800000) bits ^= 0x00800000 // no NaN/Inf
      java.lang.Float.intBitsToFloat(bits)
    }
    val xs = Array.fill(n)(randomFloat())
    val ys = Array.fill(n)(randomFloat())
    val zs = Array.fill(n)(randomFloat())
    val rows = Array.tabulate(n)(i =>
      Array(xs(i).toDouble, ys(i).toDouble, zs(i).toDouble))
    val img = Bpf.imageBytes(Seq("x", "y", "z"), rows,
      Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))
    assert(img.length > n * 12, "plane should have expanded under deflate")
    val p = s"$tmpDir/incompressible.bpf"
    java.nio.file.Files.write(java.nio.file.Paths.get(p), img)
    val got = PointCodec.read(spark, p, Bpf.Codec()).orderBy("span_idx")
      .select("x", "y", "z").collect()
    assert(got.length === n)
    var i = 0
    while (i < n) {
      assert(got(i).getDouble(0).toFloat === xs(i))
      assert(got(i).getDouble(1).toFloat === ys(i))
      assert(got(i).getDouble(2).toFloat === zs(i))
      i += 1
    }
  }

  test("CRLF-terminated PCD header: binary payload offset stays correct") {
    import spark.implicits._
    val df = Seq((1.5, 2.5, 3.5), (-4.25, 5.0, 6.75), (7.0, -8.5, 9.125))
      .toDF("x", "y", "z")
    val dir = tmpDir
    val lf = s"$dir/lf.pcd"
    Pcd.write(lf, df, data = "binary")
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(lf))
    // rewrite only the header's terminators to CRLF (payload untouched)
    val headerEnd = {
      val probe = new String(bytes, java.nio.charset.StandardCharsets.US_ASCII)
      probe.indexOf('\n', probe.indexOf("DATA binary")) + 1
    }
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < headerEnd) {
      if (bytes(i) == '\n') { out.write('\r'); out.write('\n') }
      else out.write(bytes(i))
      i += 1
    }
    out.write(bytes, headerEnd, bytes.length - headerEnd)
    val crlf = s"$dir/crlf.pcd"
    java.nio.file.Files.write(java.nio.file.Paths.get(crlf), out.toByteArray)
    val want = PointCodec.read(spark, lf, Pcd.Codec()).orderBy("span_idx").drop("doc_id").collect().toSeq
    val got = PointCodec.read(spark, crlf, Pcd.Codec()).orderBy("span_idx").drop("doc_id").collect().toSeq
    assert(got === want)
  }

  test("filters.splitter with no origin on an empty input yields an empty frame") {
    val spec = """{"pipeline":[
      {"type": "readers.faux", "mode": "ramp",
       "bounds": [0,0,0,10,100,1000], "count": 100},
      {"type": "filters.range",
       "limits": [{"dimension": "z", "min": 5000, "max": 6000}]},
      {"type": "filters.splitter", "length": 10}
    ]}"""
    assert(Pipeline.run(spark, spec).df.count() === 0L)
  }

  test("stored IVF layout is session-isolated (appId-suffixed store dir)") {
    val out = SparkEntry.queries("q_ann_ivf_stored")(spark, "/root/testdata/sf0.001")
    assert(out.count() === 20)
    val dir = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      s"graft-ivf-store-${spark.sparkContext.applicationId}")
    assert(java.nio.file.Files.isDirectory(dir),
      s"expected per-session store at $dir")
  }

  test("repeated XML option resolves to the first occurrence (multimap find order)") {
    val xml = """<?xml version="1.0"?>
      <Pipeline version="1.0">
        <Filter type="filters.decimation">
          <Option name="step">4</Option>
          <Option name="step">9999</Option>
          <Reader type="readers.faux">
            <Option name="mode">ramp</Option>
            <Option name="count">100</Option>
          </Reader>
        </Filter>
      </Pipeline>"""
    val out = Pipeline.run(spark, PipelineXml.toJsonSpec(xml)).df
    assert(out.count() === 25L) // step=4 of 100; step=9999 would keep 1
  }
}
