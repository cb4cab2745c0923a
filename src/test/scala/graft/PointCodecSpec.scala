package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{Bpf, LasDecode, LasWriter, Nitf, Pcd, Ply, PointCodec, Sbet}

/** The codec seam over every format with a writer, on engine-written
  * files (no reference fixture needed): the glob read of three files
  * equals the union of their single-file reads ("driver reads" in the
  * test names), and the sharded writers re-decode to the cloud they
  * wrote on plain and `file:` (two-phase) destinations. Coordinates sit
  * on a 1/8 grid, so every container (LAS at scale 0.125, float32
  * BPF/PCD, float64 PLY/SBET) stores them exactly. */
class PointCodecSpec extends AnyFunSuite {
  import TestSpark._
  import PointCodecSpec.Fmt

  private val xf = LasWriter.XForms(0.125, 0.125, 0.125, 0, 0, 0)

  private lazy val src = Twins.grid(300, 37, 11, (100.0, 0.0, -1.0), (0.25, 0.5, 0.125))
    .withColumn("shard", col("span_idx") % 3)

  private def xyz(d: DataFrame): Seq[(Double, Double, Double)] =
    d.select("x", "y", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  private lazy val want = xyz(src)

  private val bpfOpts = Bpf.WriteOpts(format = Bpf.DimMajor, compression = true)
  private val formats = Seq(
    Fmt("LAS", "las", LasDecode.Codec(), LasWriter.write(_, _, 1, xf),
      Some(LasWriter.writeSharded(_, _, 1, xf, "shard"))),
    Fmt("LAZ", "laz", LasDecode.Codec(), LasWriter.writeLaz(_, _, 1, xf),
      Some(LasWriter.writeSharded(_, _, 1, xf, "shard", compress = true))),
    Fmt("BPF", "bpf", Bpf.Codec(), Bpf.write(_, _, bpfOpts),
      Some(Bpf.writeSharded(_, _, "shard", bpfOpts))),
    Fmt("PCD", "pcd", Pcd.Codec(), Pcd.write(_, _, "binary_compressed"),
      Some(Pcd.writeSharded(_, _, "shard"))),
    Fmt("PLY", "ply", Ply.Codec(), Ply.write(_, _, "binary_little_endian"),
      Some(Ply.writeSharded(_, _, "shard"))),
    Fmt("NITF", "ntf", Nitf.Codec(), Nitf.write(_, _, 1, xf), None),
    Fmt("SBET", "sbet", Sbet.Codec(), Sbet.write, None))

  private def tmpDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graftcodec-$tag").toString

  for (f <- formats) {
    test(s"${f.name}: glob read of three engine-written files equals the union of driver reads") {
      val dir = tmpDir(f.ext)
      val files = (0 until 3).map { i =>
        val p = s"$dir/part$i.${f.ext}"
        f.write(p, src.filter(col("shard") === i).orderBy("span_idx").drop("shard"))
        p
      }
      val glob = PointCodec.read(spark, s"$dir/*.${f.ext}", f.codec)
      val union = files.map(PointCodec.read(spark, _, f.codec)).reduce(_ union _)
      assert(glob.schema === union.schema)
      assert(glob.count() === 300L)
      assert(glob.exceptAll(union).isEmpty && union.exceptAll(glob).isEmpty)
      assert(glob.select("doc_id").distinct().collect().map(_.getString(0)).sorted.toSeq ===
        (0 until 3).map(i => s"part$i.${f.ext}"))
      assert(xyz(glob) === want)
      // a `readers.*` path takes the same rule: a glob reads per file
      assert(xyz(PointCodec.read(spark, s"$dir/part[0-2].${f.ext}", f.codec)) === want)
    }
  }

  for (f <- formats; shard <- f.sharded) {
    test(s"${f.name}: sharded write re-decodes to the cloud, plain and file: URI two-phase") {
      for (scheme <- Seq(false, true)) {
        val dir0 = tmpDir(s"${f.ext}-shards")
        val names = shard(if (scheme) s"file:$dir0" else dir0, src)
        assert(names === (0 until 3).map(i => s"shard_$i.${f.ext}"))
        val residue = new java.io.File(dir0).list().filter(_.endsWith(".inprogress"))
        assert(residue.isEmpty, residue.mkString(","))
        assert(xyz(PointCodec.read(spark, s"$dir0/*.${f.ext}", f.codec)) === want)
      }
    }
  }

  test("PclBlock.runFile reads its JSON whole through the seam's Hadoop FS read") {
    // padded past one 64 KiB read so a partial read would cut the JSON
    val json = """{"pipeline":{"filters":[""" + " " * 200000 +
      """{"name":"PassThrough","setFilterFieldName":"z",
         "setFilterLimits":{"min":-0.5,"max":0.25}}]}}"""
    val p = java.nio.file.Files.createTempFile("graftpcl", ".json")
    java.nio.file.Files.writeString(p, json)
    val viaFile = graft.plans.PclBlock.runFile(src, s"file:$p").count()
    assert(viaFile === graft.plans.PclBlock.run(src, json).count())
    assert(viaFile === src.filter(col("z") >= -0.5 && col("z") <= 0.25).count())
  }

  test("a file corrupt past its header pins its schema from the header; its task fails naming the file") {
    val dir = tmpDir("corrupt")
    val path = s"$dir/big.pcd"
    Pcd.write(path, Twins.grid(20000, 37, 11, (100.0, 0.0, -1.0), (0.25, 0.5, 0.125)), "ascii")
    val clean = PointCodec.read(spark, path, Pcd.Codec()).schema
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    assert(bytes.length > 4 * PointCodec.HeaderBytes)
    // a record far past the header becomes text no number parses from
    val line = bytes.indexOf('\n'.toByte, 3 * PointCodec.HeaderBytes) + 1
    "corrupt".getBytes("US-ASCII").copyToArray(bytes, line)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), bytes)
    // the driver reads the header only, and pins the same schema
    val conf = spark.sparkContext.hadoopConfiguration
    assert(PointCodec.readBytes(new org.apache.hadoop.fs.Path(path), conf, PointCodec.HeaderBytes).length === PointCodec.HeaderBytes)
    val df = PointCodec.read(spark, path, Pcd.Codec())
    assert(df.schema === clean)
    val ex = intercept[org.apache.spark.SparkException](df.count())
    assert(ex.getMessage.contains(path), ex.getMessage)
  }

  test("landing-dir dispatch: each extension names its codec, unknown ones fail loudly") {
    assert(PointCodec.forPath("a/b.LAZ") === LasDecode.Codec())
    assert(PointCodec.forPath("x.ntf") === Nitf.Codec())
    assert(PointCodec.forPath("x.ply") === Ply.Codec())
    val ex = intercept[IllegalArgumentException](PointCodec.forPath("x.xyz"))
    assert(ex.getMessage.contains(".xyz"))
  }
}

object PointCodecSpec {
  /** One table row: a format's codec, its driver writer and, where it
    * has one, its sharded writer. */
  final case class Fmt(name: String, ext: String, codec: PointCodec,
                       write: (String, DataFrame) => Unit,
                       sharded: Option[(String, DataFrame) => Seq[String]])
}
