package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LasDecode, Nitf, PointCodec}

/** readers.nitf — LAS-in-NITF (plugins/nitf/io/NitfFile.cpp LIDARA DES
  * extraction), pinned to the reference's own fixture pair: the points
  * decoded from nitf/autzen-utm10.ntf must equal the standalone
  * nitf/autzen-utm10.las twin row-for-row (NitfReaderTest.cpp
  * test_one's X/Y/Z equality, strengthened to full-row equality — the
  * embedded DES payload is the same LAS image). */
class NitfSpec extends AnyFunSuite {
  import TestSpark._

  private val N = s"$RefData/nitf"

  test("autzen-utm10.ntf decodes row-identically to its .las twin") {
    val ntf = PointCodec.read(spark, s"$N/autzen-utm10.ntf", Nitf.Codec())
      .drop("doc_id").orderBy("span_idx").collect().toSeq
    val las = LasDecode.asDataFrame(spark, s"$N/autzen-utm10.las")
      .drop("doc_id").orderBy("span_idx").collect().toSeq
    assert(ntf.size === 106)
    assert(ntf === las)
  }

  test("distributed == driver; pipeline readers.nitf -> crop runs") {
    val driver = PointCodec.read(spark, s"$N/autzen-utm10.ntf", Nitf.Codec())
      .orderBy("span_idx").collect().toSeq
    val dist = PointCodec.read(spark, s"$N/autzen-utm10.ntf", Nitf.Codec())
      .orderBy("span_idx").collect().toSeq
    assert(dist === driver)
    val spec = s"""{"pipeline":[
      {"type":"readers.nitf","path":"$N/autzen-utm10.ntf"},
      {"type":"filters.range","limits":[{"dimension":"intensity","min":0,"max":65535}]}
    ]}"""
    assert(graft.plans.Pipeline.run(spark, spec).df.count() === 106)
  }

  test("writers.nitf: wrap -> read back row-identically (and through the pipeline)") {
    val src = PointCodec.read(spark, s"$N/autzen-utm10.ntf", Nitf.Codec())
    val dir = java.nio.file.Files.createTempDirectory("nitf-spec").toString
    val p = s"$dir/rt.ntf"
    // the twin's quantization is 0.01/0 so the re-write is value-exact
    Nitf.write(p, src.orderBy("span_idx"))
    val back = PointCodec.read(spark, p, Nitf.Codec())
      .drop("doc_id").orderBy("span_idx").collect().toSeq
    val want = src.drop("doc_id").orderBy("span_idx").collect().toSeq
    assert(back === want)

    val out = s"$dir/pipe.ntf"
    val spec = s"""{"pipeline":[
      {"type":"readers.nitf","path":"$N/autzen-utm10.ntf"},
      {"type":"writers.nitf","path":"$out","order_by":["span_idx"]}
    ]}"""
    assert(graft.plans.Pipeline.run(spark, spec).df.count() === 106)
    assert(PointCodec.read(spark, out, Nitf.Codec()).count() === 106)
  }

  test("non-LAS NITF and non-NITF inputs fail loudly") {
    // twin: the NITF twin, whose DES subheader follows its 401-byte header
    val path = refOr("nitf/autzen-utm10.ntf")(Twins.nitf)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val noDes = bytes.clone()
    // blank out the DESID so no LIDARA segment is found
    val desSub = if (refPresent) 761687 else Twins.NitfDesAt
    (0 until 10).foreach(i => noDes(desSub + 2 + i) = ' ')
    val boom = intercept[IllegalArgumentException] { Nitf.lasPayload(noDes) }
    assert(boom.getMessage.contains("LIDARA"))
    val bad = bytes.clone(); bad(4) = '9'
    val boom2 = intercept[IllegalArgumentException] { Nitf.lasPayload(bad) }
    assert(boom2.getMessage.contains("unsupported"))
  }
}
