package perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.index.CellSpace
import graft.sources.{Bpf, LasDecode, LasWriter, Pcd, Ply}
import graft.sources.laz.{LazDecoder, LazEncoder, LazLayered}

/** Spark-free, single-thread codec and cell-index pass. The engine's
  * writers encode a seeded point set once (untimed); each codec's public
  * decode (and the LAZ encoder) then runs on the calling thread alone,
  * repeated, and reports the median rate in points per second. */
object Codec {
  val Reps = 5
  /** Results land here, so the JIT cannot drop the timed work. */
  @volatile var blackhole = 0L

  def run(spark: SparkSession, seed: Long, dir: Path, m: Metrics): Unit = {
    val nDocs = 25000
    val pts = Gen.points(seed ^ 0xC0DEC, Gen.Uniform, nDocs)
    val rows = (0 until pts.size).map { i =>
      Row(Gen.docId(pts.doc(i)), pts.span(i), pts.xi(i) * 0.5, pts.yi(i) * 0.5,
        pts.zi(i) * 0.5, pts.intensity(i))
    }
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("span_idx", IntegerType),
      StructField("x", DoubleType), StructField("y", DoubleType), StructField("z", DoubleType),
      StructField("intensity", IntegerType)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    Files.createDirectories(dir)
    val xf = LasWriter.XForms(0.5, 0.5, 0.5, 0.0, 0.0, 0.0)
    def path(n: String) = dir.resolve(n).toString
    LasWriter.writeLaz(path("v2.laz"), df, 1, xf)
    LasWriter.writeLaz(path("v14.laz"), df, 6, xf)
    Bpf.write(path("z.bpf"), df, Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))
    Pcd.write(path("b.pcd"), df, "binary_compressed")
    Ply.write(path("b.ply"), df, "binary_little_endian")
    def bytes(n: String) = Files.readAllBytes(dir.resolve(n))
    val n = pts.size.toDouble

    def rate(name: String)(body: => Long): Unit = {
      var sink = 0L
      val times = (0 until Reps).map { _ =>
        val (v, s) = Stats.time(body); sink ^= v; s
      }
      blackhole ^= sink
      m(name, "1/s") = n / Stats.median(times)
    }

    // LAZ v2 (compressor 2): whole stream, and the encoder on its records
    val v2 = bytes("v2.laz")
    val (h2, vlr2) = lasHead(v2)
    rate("sources.laz_decode_pts_per_s") {
      LazDecoder.decompress(v2, h2.dataOffset.toInt, h2.pointCount.toInt, h2.recordLen, vlr2).length
    }
    val raw = LazDecoder.decompress(v2, h2.dataOffset.toInt, h2.pointCount.toInt, h2.recordLen, vlr2)
    rate("sources.laz_encode_pts_per_s") {
      LazEncoder.compress(raw, h2.pointCount.toInt, h2.recordLen, 1, 50000, h2.dataOffset).length
    }
    // LAZ 1.4 layered: every chunk, all layers and x/y/z layers only
    val v14 = bytes("v14.laz")
    val (h14, vlr14) = lasHead(v14)
    val (starts, counts) = LazDecoder.chunkBoundaries(v14, h14.dataOffset.toInt, h14.pointCount.toInt, vlr14)
    def layered(mask: Int): Long = {
      val out = new Array[Byte](counts.max * h14.recordLen)
      var s = 0L
      for (c <- starts.indices) {
        LazLayered.decodeChunk(v14, starts(c), out, 0, counts(c), h14.recordLen, vlr14, mask)
        s += out(h14.recordLen * (counts(c) - 1))
      }
      s
    }
    rate("sources.laz14_decode_pts_per_s")(layered(LazLayered.LayerMask.All))
    rate("sources.laz14_xyz_decode_pts_per_s")(layered(LazLayered.LayerMask.XY | LazLayered.LayerMask.Z))
    val bpf = bytes("z.bpf"); val pcd = bytes("b.pcd"); val ply = bytes("b.ply")
    rate("sources.bpf_decode_pts_per_s")(Bpf.decode(bpf, "b")._2.size.toLong)
    rate("sources.pcd_decode_pts_per_s")(Pcd.decode(pcd, "p")._2.size.toLong)
    rate("sources.ply_decode_pts_per_s")(Ply.decode(ply, "p")._2.size.toLong)

    // cell ids: the index layer's per-point encode
    val space = CellSpace.default
    val xs = pts.xi.map(_ * 0.5); val ys = pts.yi.map(_ * 0.5)
    rate("index.cell_encode_per_s") {
      var acc = 0L; var i = 0
      while (i < xs.length) { acc ^= space.cellAt(xs(i), ys(i), 16); i += 1 }
      acc
    }
  }

  private def lasHead(b: Array[Byte]): (LasDecode.LasHeader, LazDecoder.LazVlr) = {
    val bb = ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
    val h = LasDecode.readHeader(bb)
    (h, LasDecode.lazVlrOf(bb).getOrElse(throw new IllegalStateException("not a LASzip stream")))
  }
}
