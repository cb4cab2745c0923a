package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{LasDecode, LasWriter}

/** LASzip (.laz) decode: the clean-room decompressor must reproduce the
  * uncompressed ground-truth fixtures BIT-FOR-BIT — every field of every
  * point — for both the point-wise compressor 1 (item versions 1) and
  * the chunked compressor 2 (item versions 2), across files produced by
  * two different encoders (laszip and liblas) plus a padded variant. */
class LazFormatSpec extends AnyFunSuite {
  import TestSpark._

  private def assertBitExact(lazPath: String, lasPath: String): Unit = {
    val (hz, laz) = LasDecode.readPoints(lazPath)
    val (h0, las) = LasDecode.readPoints(lasPath)
    assert(hz.pointCount === h0.pointCount)
    assert(hz.pointFormat === h0.pointFormat)
    assert(laz.size === las.size)
    laz.zip(las).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"point $i differs")
    }
  }

  test("compressor 1 (point-wise, item v1): simple.laz == simple.las bit-for-bit") {
    assertBitExact(s"$RefData/laz/simple.laz", s"$RefData/las/simple.las")
  }

  test("compressor 2 (chunked, item v2): laszip-generated.laz == basefile.las") {
    assertBitExact(s"$RefData/laszip/laszip-generated.laz", s"$RefData/laszip/basefile.las")
  }

  test("compressor 2 from a different encoder: liblas-generated.laz == basefile.las") {
    assertBitExact(s"$RefData/laszip/liblas-generated.laz", s"$RefData/laszip/basefile.las")
  }

  test("padded variant decodes identically") {
    assertBitExact(s"$RefData/laszip/laszip-generated_with2bytespadding.laz",
      s"$RefData/laszip/basefile.las")
  }

  test("distributed ingest decompresses .laz in executors (same rows as .las)") {
    val laz = LasDecode.asDistributedDataFrame(spark, s"$RefData/laz/simple.laz")
      .drop("doc_id")
    val las = LasDecode.asDistributedDataFrame(spark, s"$RefData/las/simple.las")
      .drop("doc_id")
    assert(laz.count() === 1065)
    assert(laz.exceptAll(las).isEmpty && las.exceptAll(laz).isEmpty)
  }

  test("pipeline readers.las reads .laz transparently") {
    val out = graft.plans.Pipeline.run(spark,
      s"""{ "pipeline": [
         |  {"type": "readers.las", "path": "$RefData/laz/simple.laz"},
         |  {"type": "filters.range",
         |   "limits": [{"dimension": "classification", "min": 2, "max": 2}]}
         |]}""".stripMargin).df
    val truth = LasDecode.asDataFrame(spark, s"$RefData/las/simple.las")
      .filter(org.apache.spark.sql.functions.col("classification") === 2)
    assert(out.count() === truth.count() && out.count() > 0)
  }

  test("chunk-table parse: single-chunk fixture starts right after the table offset") {
    import java.nio.{ByteBuffer, ByteOrder}
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$RefData/laszip/laszip-generated.laz"))
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val h = LasDecode.readHeader(bb)
    val starts = graft.sources.laz.LazDecoder.chunkStarts(bytes, h.dataOffset.toInt, 1)
    assert(starts === Seq(h.dataOffset.toInt + 8))
    // the stored table offset itself points inside the file, before EOF
    val tableOff = bb.getLong(h.dataOffset.toInt)
    assert(tableOff > h.dataOffset && tableOff < bytes.length)
  }

  test("laz WRITE round-trip: P1065 encoded as .laz decodes bit-for-bit") {
    val (h0, rows0) = LasDecode.readPoints(P1065)
    val df = LasDecode.asDataFrame(spark, P1065).orderBy("span_idx")
    val out = java.nio.file.Files.createTempFile("graftlazw", ".laz").toString
    LasWriter.writeLaz(out, df, pointFormat = h0.pointFormat,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz))
    val (h1, rows1) = LasDecode.readPoints(out)
    assert(h1.pointFormat === h0.pointFormat && h1.pointCount === 1065)
    rows0.zip(rows1).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"row $i differs after laz round-trip")
    }
    // and it actually compresses
    val rawSize = java.nio.file.Files.size(java.nio.file.Paths.get(P1065))
    val lazSize = java.nio.file.Files.size(java.nio.file.Paths.get(out))
    assert(lazSize < rawSize, s"laz $lazSize not smaller than las $rawSize")
  }

  test("multi-chunk laz: small chunk size exercises the chunk table end-to-end") {
    // no reference fixture is multi-chunk — our own writer provides one:
    // 1065 points at chunkSize 300 = 4 chunks + a real chunk table
    val (h0, rows0) = LasDecode.readPoints(s"$RefData/laszip/basefile.las")
    val df = LasDecode.asDataFrame(spark, s"$RefData/laszip/basefile.las")
      .orderBy("span_idx")
    val out = java.nio.file.Files.createTempFile("graftlazmc", ".laz").toString
    LasWriter.writeLaz(out, df, pointFormat = h0.pointFormat,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz), chunkSize = 300)
    // the table really holds 4 chunks at increasing offsets
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(out))
    val h1 = LasDecode.readHeader(java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN))
    val starts = graft.sources.laz.LazDecoder.chunkStarts(bytes, h1.dataOffset.toInt, 4)
    assert(starts.size === 4 && starts === starts.sorted && starts.distinct.size === 4)
    val (_, rows1) = LasDecode.readPoints(out)
    rows0.zip(rows1).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a === b, s"row $i differs after multi-chunk round-trip")
    }
  }

  test("pipeline writers.las with a .laz path compresses, then reads back") {
    val out = java.nio.file.Files.createTempDirectory("graftlazpipe").toString + "/c.laz"
    graft.plans.Pipeline.run(spark,
      s"""{ "pipeline": [
         |  {"type": "readers.las", "path": "$P1065"},
         |  {"type": "writers.las", "path": "$out", "format": 3,
         |   "scale": [0.01, 0.01, 0.01], "offset": [630000, 848000, 400]}
         |]}""".stripMargin)
    val reread = LasDecode.asDataFrame(spark, out)
    assert(reread.count() === 1065)
    // compressed round trip preserves the quantized grid exactly
    val direct = LasDecode.asDataFrame(spark, P1065)
    val maxErr = reread.orderBy("span_idx").select("x").collect().map(_.getDouble(0))
      .zip(direct.orderBy("span_idx").select("x").collect().map(_.getDouble(0)))
      .map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr <= 0.005 + 1e-9, s"x error $maxErr beyond half a scale step")
  }

  test("chunk-parallel laz ingest: one task per chunk, equal to the driver decode") {
    // our encoder provides the multi-chunk file (4 chunks of <=300)
    val (h0, _) = LasDecode.readPoints(s"$RefData/laszip/basefile.las")
    val df = LasDecode.asDataFrame(spark, s"$RefData/laszip/basefile.las")
      .orderBy("span_idx")
    val out = java.nio.file.Files.createTempFile("graftlazcp", ".laz").toString
    LasWriter.writeLaz(out, df, pointFormat = h0.pointFormat,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz), chunkSize = 300)
    val par = LasDecode.asChunkSplitDataFrame(spark, out)
    assert(par.rdd.getNumPartitions === 4, "expected one partition per chunk")
    val drv = spark.createDataFrame(
      spark.sparkContext.parallelize(LasDecode.readPoints(out)._2, 2), LasDecode.schema)
    assert(par.count() === 1065)
    // span_idx is absolute, so the frames are EQUAL, not just equivalent
    assert(par.exceptAll(drv).isEmpty && drv.exceptAll(par).isEmpty)
    // single-chunk reference fixture degrades to one task, same rows
    val one = LasDecode.asChunkSplitDataFrame(spark, s"$RefData/laszip/laszip-generated.laz")
    assert(one.rdd.getNumPartitions === 1 && one.count() === 1065)
  }

  test("compressed SHARDED export: executor-written .laz shards re-decode row-for-row") {
    import org.apache.spark.sql.functions._
    val (h0, _) = LasDecode.readPoints(P1065)
    val df = LasDecode.asDataFrame(spark, P1065)
      .withColumn("shard", pmod(col("span_idx"), lit(3)))
    val dir = java.nio.file.Files.createTempDirectory("graftlazshard").toString
    val files = LasWriter.writeSharded(dir, df, pointFormat = h0.pointFormat,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz), "shard",
      compress = true)
    assert(files === Seq("shard_0.laz", "shard_1.laz", "shard_2.laz"))
    val redecoded = LasDecode.asDistributedDataFrame(spark, s"$dir/*.laz")
      .drop("doc_id", "span_idx")
    val original = LasDecode.asDataFrame(spark, P1065).drop("doc_id", "span_idx")
    assert(redecoded.count() === 1065)
    assert(redecoded.exceptAll(original).isEmpty && original.exceptAll(redecoded).isEmpty)
    // each shard really is a laszip container, smaller than its raw form
    files.foreach { f =>
      assert(LasDecode.isLaszip(s"$dir/$f"), s"$f lacks the laszip format bit")
    }
  }

  test("degenerate laz writes: empty and single-point clouds round-trip") {
    val xf = LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], LasDecode.schema)
    val p0 = java.nio.file.Files.createTempFile("graftlaz0", ".laz").toString
    val h0 = LasWriter.writeLaz(p0, empty, pointFormat = 0, xf)
    assert(h0.pointCount === 0)
    assert(LasDecode.readPoints(p0)._2.isEmpty)
    val one = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
      org.apache.spark.sql.Row("d", 0, 1.23, -4.56, 7.89, 42, 1.toShort, 1.toShort,
        2.toShort, 3.0f, 9.toShort, 77, 1234.5, 0, 0, 0, 0, 0.toShort))), LasDecode.schema)
    val p1 = java.nio.file.Files.createTempFile("graftlaz1", ".laz").toString
    LasWriter.writeLaz(p1, one, pointFormat = 1, xf)
    val (h1, rows) = LasDecode.readPoints(p1)
    assert(h1.pointCount === 1 && rows.size === 1)
    assert(math.abs(rows.head.getDouble(2) - 1.23) <= 0.005)
    assert(rows.head.getDouble(12) === 1234.5)
  }

  test("offset-split ingest refuses compressed streams loudly") {
    // twin: the LAZ twin
    val laz = refOr("laz/simple.laz")(Twins.laz)
    val ex = intercept[IllegalArgumentException] {
      LasDecode.asSplitDataFrame(spark, laz, 2).count()
    }
    assert(ex.getMessage.contains("uncompressed"))
  }
}
