package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Hdf5Lite, Icebridge, PointCodec}

/** readers.icebridge via the clean-room minimal-HDF5 parser, pinned to
  * the reference's own golden (IcebridgeReaderTest.cpp testRead: both
  * points of icebridge/twoPoints.h5, every dimension). */
class IcebridgeSpec extends AnyFunSuite {
  import TestSpark._

  private val H5 = s"$RefData/icebridge/twoPoints.h5"

  test("twoPoints.h5 golden: both points, all 12 dimensions") {
    val df = PointCodec.read(spark, H5, Icebridge.Codec()).orderBy("span_idx")
    assert(df.count() === 2)
    val r = df.collect()
    def chk(i: Int, time: Float, lat: Float, lon: Float, elev: Float,
            xmt: Int, rcv: Int, az: Float, pitch: Float, roll: Float,
            pdop: Float, pw: Float, rel: Float): Unit = {
      assert(r(i).getAs[Float]("offset_time") === time)
      assert(r(i).getAs[Double]("y").toFloat === lat)
      assert(r(i).getAs[Double]("x").toFloat === lon)
      assert(r(i).getAs[Double]("z").toFloat === elev)
      assert(r(i).getAs[Int]("start_pulse") === xmt)
      assert(r(i).getAs[Int]("reflected_pulse") === rcv)
      assert(r(i).getAs[Float]("scan_angle_rank") === az)
      assert(r(i).getAs[Float]("pitch") === pitch)
      assert(r(i).getAs[Float]("roll") === roll)
      assert(r(i).getAs[Float]("pdop") === pdop)
      assert(r(i).getAs[Float]("pulse_width") === pw)
      assert(r(i).getAs[Float]("gps_time") === rel)
    }
    // IcebridgeReaderTest.cpp:77-103
    chk(0, 141437548f, 82.605319f, 301.406196f, 18.678f, 2408, 181,
      49.91f, -4.376f, 0.608f, 2.9f, 20.0f, 0.0f)
    chk(1, 141437548f, 82.605287f, 301.404862f, 18.688f, 2642, 173,
      52.006f, -4.376f, 0.609f, 2.9f, 17.0f, 0.0f)
  }

  test("distributed ingest equals driver decode; pipeline stage runs") {
    val driver = PointCodec.read(spark, H5, Icebridge.Codec()).orderBy("span_idx").collect().toSeq
    val dist = PointCodec.read(spark, H5, Icebridge.Codec()).orderBy("span_idx").collect().toSeq
    assert(dist === driver)
    val spec = s"""{"pipeline":[
      {"type":"readers.icebridge","path":"$H5"},
      {"type":"filters.range","limits":[{"dimension":"z","min":18.68,"max":19.0}]}
    ]}"""
    assert(graft.plans.Pipeline.run(spark, spec).df.count() === 1)
  }

  // Hand-assembled minimal HDF5 per the public format spec: one rank-1
  // f32 dataset "v" of 7 values in 3-row chunks, shuffle+deflate
  // filtered (the layout real NSIDC ATM1B granules use). The builder
  // doubles as the fixture source — same encoder-first discipline as
  // the LAZ codec (no h5py in-sandbox). corruptChunk truncates the
  // middle chunk's deflate stream (stall-guard fixture).
  private val chunkedValues = Array(1.5f, -2.25f, 3.0f, 4.5f, 5.75f, -6.125f, 7.0f)

  private def chunkedImage(corruptChunk: Boolean): Array[Byte] = {
    import java.nio.{ByteBuffer, ByteOrder}
    val values = chunkedValues
    def chunkBytes(rows: Array[Float]): Array[Byte] = {
      // full 3-row chunk (edge padded with fill), shuffle then deflate
      val full = java.util.Arrays.copyOf(rows, 3)
      val raw = new Array[Byte](12)
      val rb = ByteBuffer.wrap(raw).order(ByteOrder.LITTLE_ENDIAN)
      full.foreach(rb.putFloat)
      val shuffled = new Array[Byte](12)
      for (i <- 0 until 3; b <- 0 until 4) shuffled(b * 3 + i) = raw(i * 4 + b)
      val defl = new java.util.zip.Deflater()
      defl.setInput(shuffled); defl.finish()
      val buf = new Array[Byte](64)
      var m = 0
      while (!defl.finished()) m += defl.deflate(buf, m, buf.length - m)
      defl.end()
      java.util.Arrays.copyOf(buf, m)
    }
    val chunks0 = Seq(values.slice(0, 3), values.slice(3, 6), values.slice(6, 7))
      .map(chunkBytes)
    // truncated deflate stream: inflate() returns 0 with needsInput()
    // and never finishes — must fail loudly, not spin
    val chunks = if (corruptChunk)
      chunks0.updated(1, chunks0(1).take(chunks0(1).length / 2))
    else chunks0

    val img = ByteBuffer.allocate(4096).order(ByteOrder.LITTLE_ENDIAN)
    def at(pos: Int): ByteBuffer = { img.position(pos); img }
    val (heapA, snodA, btA, objA, cbtA) = (96, 256, 400, 512, 768)
    val dataAt = 1024
    // superblock v0
    at(0).put(Array[Byte](0x89.toByte, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n'))
    img.put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte) // versions
    img.put(0.toByte).put(8.toByte).put(8.toByte).put(0.toByte) // sizes
    img.putShort(4).putShort(16).putInt(0)                      // k's, flags
    img.putLong(0).putLong(-1L).putLong(4096L).putLong(-1L)     // base/fs/eof/driver
    img.putLong(0).putLong(-1L).putInt(1).putInt(0)             // root entry (objhdr unused)
    img.putLong(btA.toLong).putLong(heapA.toLong)                               // root scratch
    // local heap: name "v" at data offset 8
    at(heapA).put("HEAP".getBytes).put(0.toByte).put(Array[Byte](0, 0, 0))
    img.putLong(16).putLong(0).putLong(heapA + 32)
    at(heapA + 32).putLong(0).put('v'.toByte).put(0.toByte)
    // group btree (type 0) -> SNOD
    at(btA).put("TREE".getBytes).put(0.toByte).put(0.toByte).putShort(1)
    img.putLong(-1L).putLong(-1L).putLong(0).putLong(snodA.toLong).putLong(0)
    at(snodA).put("SNOD".getBytes).put(1.toByte).put(0.toByte).putShort(1)
    img.putLong(8).putLong(objA.toLong).putInt(0).putInt(0)
    img.putLong(0).putLong(0) // scratch
    // dataset object header v1: dataspace, datatype, filters, layout
    at(objA).put(1.toByte).put(0.toByte).putShort(4).putInt(1).putInt(128)
    img.putInt(0) // alignment pad
    img.putShort(0x0001).putShort(16).putInt(0)
    img.put(1.toByte).put(1.toByte).put(0.toByte)
      .put(Array[Byte](0, 0, 0, 0, 0)).putLong(7L)
    img.putShort(0x0003).putShort(20).putInt(0)
    img.put(0x11.toByte).put(0x20.toByte).put(0.toByte).put(0.toByte)
    img.putInt(4).putShort(0).putShort(32).put(23.toByte).put(8.toByte)
      .put(0.toByte).put(23.toByte).putInt(127)
    img.putShort(0x000B).putShort(40).putInt(0)
    img.put(1.toByte).put(2.toByte).put(Array[Byte](0, 0, 0, 0, 0, 0))
    // odd value counts pad to 8 bytes (filter description alignment)
    img.putShort(2).putShort(0).putShort(0).putShort(1).putInt(4).putInt(0) // shuffle
    img.putShort(1).putShort(0).putShort(0).putShort(1).putInt(6).putInt(0) // deflate
    img.putShort(0x0008).putShort(24).putInt(0)
    img.put(3.toByte).put(2.toByte).put(2.toByte).putLong(cbtA.toLong)
    img.putInt(3).putInt(4) // chunk dims: 3 rows x 4-byte elements
    // raw-data btree (type 1): 3 entries, keyLen = 8 + 2*8 = 24
    at(cbtA).put("TREE".getBytes).put(1.toByte).put(0.toByte).putShort(3)
    img.putLong(-1L).putLong(-1L)
    chunks.zipWithIndex.foreach { case (c, i) =>
      img.putInt(c.length).putInt(0).putLong(3L * i).putLong(0L)
      img.putLong(dataAt + 64 * i)
    }
    img.putInt(0).putInt(0).putLong(21L).putLong(0L) // final key
    chunks.zipWithIndex.foreach { case (c, i) => at(dataAt + 64 * i).put(c) }
    img.array()
  }

  test("chunked + shuffle + deflate dataset decodes (real-granule layout)") {
    val dir = java.nio.file.Files.createTempDirectory("h5chunk")
    val p = dir.resolve("chunked.h5")
    java.nio.file.Files.write(p, chunkedImage(corruptChunk = false))
    val f = new Hdf5Lite.File(java.nio.file.Files.readAllBytes(p))
    val got = f.readVector("v")
    assert(got.toSeq === chunkedValues.map(_.toDouble).toSeq)
  }

  test("truncated deflate chunk fails loudly instead of spinning") {
    val f = new Hdf5Lite.File(chunkedImage(corruptChunk = true))
    val boom = intercept[IllegalArgumentException] { f.readVector("v") }
    assert(boom.getMessage.contains("deflate") || boom.getMessage.contains("zlib"),
      s"unexpected message: ${boom.getMessage}")
  }

  test("chunk-range pruning: an out-of-range corrupt chunk is never touched") {
    // the middle chunk (rows 3-5) is a truncated deflate stream; a range
    // read that excludes it must succeed (pruned before any inflate),
    // one that includes it must fail — the same proof shape as the
    // LAZ/BPF selective-decode specs
    val f = new Hdf5Lite.File(chunkedImage(corruptChunk = true))
    assert(f.readVectorRange("v", 0, 3).toSeq ===
      chunkedValues.take(3).map(_.toDouble).toSeq)
    assert(f.readVectorRange("v", 6, 7).toSeq ===
      chunkedValues.drop(6).map(_.toDouble).toSeq)
    intercept[IllegalArgumentException] { f.readVectorRange("v", 3, 6) }
    intercept[IllegalArgumentException] { f.readVectorRange("v", 0, 7) }
    // range slicing is exact on a healthy image, including mid-chunk cuts
    val ok = new Hdf5Lite.File(chunkedImage(corruptChunk = false))
    assert(ok.rowCount("v") === 7L)
    for (lo <- 0 to 6; hi <- lo to 7)
      assert(ok.readVectorRange("v", lo, hi).toSeq ===
        chunkedValues.slice(lo, hi).map(_.toDouble).toSeq, s"range [$lo,$hi)")
  }

  test("readers.icebridge count option reads only the leading chunks") {
    // decode with a count on the fixture granule: rows and span_idx
    // match the full decode's prefix
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(H5))
    val full = Icebridge.decode(bytes, "g")._2
    val lim = Icebridge.decode(bytes, "g", 0L, 1L)._2
    assert(lim.size === 1 && lim.head === full.head)
    // and through the pipeline option on the chunked fixture shape
    val sliced = Icebridge.decode(bytes, "g", 1L, 2L)._2
    assert(sliced.size === (full.size - 1) &&
      sliced.head === full(1) && sliced.head.getInt(1) === 1)
  }

  test("parser fails loudly outside the supported subset") {
    // twin: this spec's hand-built superblock-v0 image
    val bytes =
      if (refPresent) java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(H5))
      else chunkedImage(corruptChunk = false)
    val f = new Hdf5Lite.File(bytes)
    val boom = intercept[IllegalArgumentException] { f.readVector("no_such_dataset") }
    assert(boom.getMessage.contains("no object"))
    val bad = bytes.clone(); bad(8) = 2 // superblock v2
    val boom2 = intercept[IllegalArgumentException] { new Hdf5Lite.File(bad) }
    assert(boom2.getMessage.contains("superblock"))
  }
}
