package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sources.{Bpf, Faux, LasWriter, Pcd, Ply}
import graft.plans.Pipeline

/** Executor-sharded PLY/PCD export (io/ply/PlyWriter.cpp,
  * plugins/pcl/io/PcdWriter.cpp single-file semantics, sharded per
  * tile like the reference's DB block writers): one file per shard
  * value, built on the executors, two-phase published on scheme'd
  * destinations. Doubles survive both formats exactly (PLY float64,
  * PCD F8), so re-decode equality is exact. */
class ShardedWriterSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpDir = java.nio.file.Files.createTempDirectory("shardw-spec").toString

  private lazy val src = Faux.uniform(spark,
      Faux.Box3(0, 0, 0, 100, 100, 50), 2000, 7L)
    .withColumn("shard", pmod(col("span_idx"), lit(4)))

  // span identity is per-file on re-read; compare the point multiset
  private def points(d: org.apache.spark.sql.DataFrame): Seq[(Double, Double, Double)] =
    d.select("x", "y", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  private lazy val want = points(src)

  private def checkResidue(dir0: String): Unit = {
    val residue = new java.io.File(dir0).listFiles()
      .filter(_.getName.endsWith(".inprogress"))
    assert(residue.isEmpty)
  }

  test("PLY sharded write: 4 shards re-decode to the full cloud, file: URI two-phase") {
    for ((scheme, format) <- Seq((false, "binary_little_endian"), (true, "ascii"))) {
      val dir0 = tmpDir
      val dir = if (scheme) s"file:$dir0" else dir0
      val names = Ply.writeSharded(dir, src, "shard", format)
      assert(names.size === 4)
      assert(names.toSet === (0 until 4).map(i => s"shard_$i.ply").toSet)
      assert(points(Ply.asDistributedDataFrame(spark, s"$dir0/*.ply")) === want)
      checkResidue(dir0)
    }
  }

  test("PCD sharded write: all three DATA modes re-decode exactly (float32 x/y/z)") {
    // PCD stores x/y/z as float32 like PCL's XYZ point types — compare
    // at that precision (one quantization hop, then exact)
    val wantF = want.map(t => (t._1.toFloat, t._2.toFloat, t._3.toFloat)).sorted
    for ((scheme, mode) <- Seq((false, "binary_compressed"), (true, "binary"),
                               (false, "ascii"))) {
      val dir0 = tmpDir
      val dir = if (scheme) s"file:$dir0" else dir0
      val names = Pcd.writeSharded(dir, src, "shard", mode)
      assert(names.size === 4)
      val got = points(Pcd.asDistributedDataFrame(spark, s"$dir0/*.pcd"))
        .map(t => (t._1.toFloat, t._2.toFloat, t._3.toFloat)).sorted
      assert(got === wantF)
      checkResidue(dir0)
    }
  }

  test("PCD sharded shift_origin rebases per shard (per-file reference semantic)") {
    val dir0 = tmpDir
    Pcd.writeSharded(dir0, src, "shard", "binary", shiftOrigin = true)
    val back = Pcd.asDistributedDataFrame(spark, s"$dir0/*.pcd")
    // each shard's min goes to 0; global min of the re-read is 0
    val r = back.agg(min("x"), min("y"), min("z")).head()
    assert(r.getDouble(0) === 0.0)
    assert(r.getDouble(1) === 0.0)
    assert(r.getDouble(2) === 0.0)
  }

  test("writers.ply / writers.pcd pipeline stages route shard_column to the sharded path") {
    val pdir = tmpDir
    val cdir = tmpDir
    val spec = s"""{"pipeline":[
      {"type": "readers.faux", "mode": "uniform",
       "bounds": [0,0,0,100,100,50], "count": 500, "seed": 7},
      {"type": "filters.splitter", "length": 50, "origin_x": 0, "origin_y": 0},
      {"type": "filters.ferry", "dimensions": ["tile_x=>sx"]},
      {"type": "writers.ply", "path": "$pdir", "shard_column": "sx"},
      {"type": "writers.pcd", "path": "$cdir", "shard_column": "sx",
       "data": "binary_compressed"}
    ]}"""
    val out = Pipeline.run(spark, spec).df
    val n = out.count()
    assert(n === 500L)
    assert(Ply.asDistributedDataFrame(spark, s"$pdir/*.ply").count() === n)
    assert(Pcd.asDistributedDataFrame(spark, s"$cdir/*.pcd").count() === n)
  }

  test("null shard values fail loudly instead of silently dropping rows") {
    val withNull = src.withColumn("shard",
      when(col("span_idx") < 3, lit(null)).otherwise(col("shard")))
    val writers: Seq[(String, String => Seq[String])] = Seq(
      "ply" -> (Ply.writeSharded(_, withNull, "shard", "ascii")),
      "bpf" -> (Bpf.writeSharded(_, withNull, "shard")),
      "las" -> (LasWriter.writeSharded(_, withNull, 1,
        LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0), "shard")))
    for ((fmt, write) <- writers) {
      val ex = intercept[Exception](write(tmpDir))
      val messages = Iterator.iterate(ex: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).toSeq
      assert(messages.exists(_.contains("null value in shard column")),
        s"$fmt: ${messages.mkString(" | ")}")
    }
  }
}
