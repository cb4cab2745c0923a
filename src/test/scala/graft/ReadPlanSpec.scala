package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.Pipeline
import graft.sources.{Bpf, LasDecode, LasWriter, PointCodec}

/** The executor-side point-file read, on engine-written files (no
  * reference fixture needed): no `readers.*` read ships decoded rows in
  * its tasks, `readers.las` on one file equals the glob read of that
  * file, an uncompressed file plans Spark-sized record ranges, and a
  * header count past the records present reads exactly those records.
  * Coordinates sit on a 1/8 grid, which LAS at scale 0.125 stores
  * exactly. */
class ReadPlanSpec extends AnyFunSuite {
  import TestSpark._

  private val xf = LasWriter.XForms(0.125, 0.125, 0.125, 0, 0, 0)

  /** `n` points with every field a format 3 or format 8 record carries,
    * arithmetic in the row index. */
  private def cloud(n: Int): DataFrame =
    Twins.grid(n, 97, 13, (100.0, 0.0, -1.0), (0.25, 0.5, 0.125)).select(col("*"),
      (col("span_idx") % 3 + 1).cast("short").as("return_number"),
      lit(3).cast("short").as("number_of_returns"),
      (col("span_idx") % 7).cast("short").as("classification"),
      (col("span_idx") * 0.25 + 1000.0).as("gps_time"),
      (col("span_idx") % 251).as("red"), (col("span_idx") % 83).as("green"),
      (col("span_idx") % 17).as("blue"), (col("span_idx") % 29).as("nir"))

  private def tmp(name: String): String =
    s"${Files.createTempDirectory("graftplan")}/$name"

  private def lasRead(path: String, opts: String = ""): DataFrame =
    Pipeline.run(spark, s"""{"pipeline": [{"type": "readers.las", "path": "$path"$opts}]}""").df

  /** A glob that matches exactly `path`. */
  private def globOf(path: String): String = s"${path.init}[${path.last}]"

  private def rows(d: DataFrame): Seq[Seq[Any]] =
    d.drop("doc_id").orderBy("span_idx").collect().map(_.toSeq).toSeq

  test("no readers.* read ships decoded rows in its tasks: 250k points of BPF, LAS and LAZ") {
    val pts = cloud(250000)
    val bpf = tmp("big.bpf"); Bpf.write(bpf, pts)
    val las = tmp("big.las"); LasWriter.write(las, pts, 3, xf)
    val laz = tmp("big.laz"); LasWriter.writeLaz(laz, pts, 3, xf)
    val (counts, warnings) = warningsDuring(Seq(
      PointCodec.read(spark, bpf, Bpf.Codec()).count(), lasRead(las).count(), lasRead(laz).count()))
    assert(counts === Seq(250000L, 250000L, 250000L))
    val large = warnings.filter(_.contains("task of very large size"))
    assert(large.isEmpty, large.mkString("\n"))
  }

  test("readers.las on one file equals the glob read of that file") {
    val pts = cloud(3500)
    def same(path: String, opts: String = "", chunks: Int = 1): Unit = {
      val one = lasRead(path, opts)
      val glob = PointCodec.read(spark, globOf(path), LasDecode.Codec()).select(one.columns.map(col): _*)
      assert(one.rdd.getNumPartitions === chunks, path)
      assert(one.select("doc_id").distinct().collect().map(_.getString(0)).toSeq === Seq("las"))
      assert(rows(one) === rows(glob), path)
      assert(rows(one).size === 3500, path)
    }
    val las = tmp("f3.las"); LasWriter.write(las, pts, 3, xf)
    same(las)
    // compressor 2, four chunks of at most 1000 points
    val laz = tmp("c2.laz"); LasWriter.writeLaz(laz, pts, 3, xf, chunkSize = 1000)
    same(laz, chunks = 4)
    // layered compressor 3: `columns` prunes layers, the frame is projected
    val v14 = tmp("v14.laz"); LasWriter.writeLaz(v14, pts, 8, xf, chunkSize = 1000)
    same(v14, """, "columns": ["z"]""", chunks = 4)
    assert(lasRead(v14, """, "columns": ["z"]""").columns.toSeq ===
      Seq("doc_id", "span_idx", "x", "y", "z"))
  }

  test("readers.las bounds prunes a tiled archive's chunks; after the exact crop it equals the glob read") {
    val p = tmp("tiled.laz")
    LasWriter.writeLazTiled(p, cloud(3000), 6, xf, tileSize = 4.0)
    val chunks = LasDecode.chunkBoxesOf(Files.readString(Paths.get(p + ".chunks.json"))).size
    val (x0, y0, x1, y1) = (101.0, 1.0, 107.0, 5.0)
    val one = lasRead(p, s""", "bounds": [$x0, $y0, $x1, $y1]""")
    assert(one.rdd.getNumPartitions < chunks, s"bounds kept all $chunks chunks")
    def crop(d: DataFrame) =
      d.filter(col("x").between(x0, x1) && col("y").between(y0, y1))
    val glob = PointCodec.read(spark, globOf(p), LasDecode.Codec())
    val got = rows(crop(one))
    assert(got.nonEmpty && got === rows(crop(glob)))
  }

  test("an uncompressed LAS reads ceil(bytes / split) record ranges, Spark's file-split sizing") {
    val p = tmp("split.las")
    val h = LasWriter.write(p, cloud(20000), 3, xf)
    val bytes = h.pointCount * h.recordLen
    // 680,000 bytes: under openCostInBytes (4 MiB), so one task by default
    val whole = lasRead(p)
    assert(whole.rdd.getNumPartitions === 1)
    val key = "spark.sql.files.maxPartitionBytes"
    spark.conf.set(key, "100000")
    try {
      val split = lasRead(p)
      assert(LasDecode.splitsFor(spark, bytes) === 7)
      assert(split.rdd.getNumPartitions === ((bytes + 99999) / 100000).toInt)
      assert(rows(split) === rows(whole))
    } finally spark.conf.unset(key)
  }

  test("a header count past the records present reads exactly the records present") {
    val p = tmp("over.las")
    val h = LasWriter.write(p, cloud(1000), 3, xf)
    val want = rows(lasRead(p))
    val bytes = Files.readAllBytes(Paths.get(p))
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).putInt(107, 1500) // legacy count
    Files.write(Paths.get(p), bytes)
    assert(LasDecode.headerOf(p).pointCount === 1500L)
    val key = "spark.sql.files.maxPartitionBytes"
    for (split <- Seq(None, Some("10000"))) {
      split.foreach(spark.conf.set(key, _))
      try assert(rows(lasRead(p)) === want, s"maxPartitionBytes $split")
      finally spark.conf.unset(key)
    }
    assert(rows(PointCodec.read(spark, globOf(p), LasDecode.Codec())) === want)
    // the header's 1500 points over zero bytes read as empty
    val empty = tmp("nopoints.las")
    Files.write(Paths.get(empty), bytes.take(h.dataOffset.toInt))
    assert(lasRead(empty).count() === 0L)
    assert(PointCodec.read(spark, globOf(empty), LasDecode.Codec()).count() === 0L)
  }

  test("readers.las ignores splits and distributed with one WARN, and resumes across them") {
    val p = tmp("opts.las")
    LasWriter.write(p, cloud(500), 3, xf)
    val ck = Files.createTempDirectory("graftplanck").toString
    def spec(opts: String) =
      s"""{"pipeline": [{"type": "readers.las", "tag": "in", "path": "$p",
         |  "checkpoint": true$opts}], "checkpoint_root": "$ck"}""".stripMargin
    val (first, warnings) = warningsDuring(Pipeline.run(spark, spec(""", "splits": 4, "distributed": true""")))
    val notices = warnings.filter(_.contains("splits and distributed"))
    assert(notices === Seq("readers.las 'in': splits and distributed are ignored; " +
      "the read is planned from the file header"))
    assert(rows(first.df) === rows(lasRead(p)))
    val again = Pipeline.run(spark, spec(""", "splits": 9"""))
    assert(again.resumedStages === Seq("000_readers_las"))
  }
}
