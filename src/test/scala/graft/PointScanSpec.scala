package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.sources.{Bpf, LasDecode, LasWriter, Pcd, PointCodec}

/** Point files as one DataSource V2 scan, on engine-written files: every
  * read is one `BatchScan` whose ReadSchema holds only the columns the
  * query uses, the scan's custom metrics are filled by one action, a glob
  * runs as many tasks as Spark packs its files into, and tasks resolve a
  * file system registered only on the session's Hadoop configuration.
  * Coordinates sit on a 1/8 grid, which LAS at scale 0.125 stores
  * exactly. */
class PointScanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark._

  private val xf = LasWriter.XForms(0.125, 0.125, 0.125, 0, 0, 0)

  private def cloud(n: Int): DataFrame =
    Twins.grid(n, 97, 13, (100.0, 0.0, -1.0), (0.25, 0.5, 0.125))
      .withColumn("shard", col("span_idx") % 3)

  private def tmp(): String = Files.createTempDirectory("graftscan").toString

  private def xyz(d: DataFrame): Seq[(Double, Double, Double)] =
    d.select("x", "y", "z").collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  private def scans(d: DataFrame): Seq[BatchScanExec] =
    collect(d.queryExecution.executedPlan) { case s: BatchScanExec => s }

  test("EXPLAIN of every read shows one BatchScan with the pruned ReadSchema") {
    val dir = tmp()
    val pts = cloud(3000)
    LasWriter.writeSharded(s"$dir/laz", pts, 1, xf, "shard", compress = true)
    LasWriter.writeLaz(s"$dir/one14.laz", pts.drop("shard"), 6, xf, chunkSize = 1000)
    LasWriter.write(s"$dir/one.las", pts.drop("shard"), 3, xf)
    Bpf.writeSharded(s"$dir/bpf", pts, "shard")
    Pcd.writeSharded(s"$dir/pcd", pts, "shard")
    val reads = Seq(
      LasDecode.asDistributedDataFrame(spark, s"$dir/laz/*.laz"),
      LasDecode.asChunkSplitDataFrame(spark, s"$dir/one14.laz"),
      LasDecode.asDataFrame(spark, s"$dir/one.las"),
      Bpf.asDistributedDataFrame(spark, s"$dir/bpf/*.bpf", Seq("z")),
      Pcd.asDistributedDataFrame(spark, s"$dir/pcd/*.pcd"))
    for (r <- reads) {
      val q = r.filter(col("z") > 0).agg(sum("x"), sum("z"))
      val plan = q.queryExecution.explainString(SimpleMode)
      assert("BatchScan".r.findAllMatchIn(plan).size === 1, plan)
      assert(plan.contains("ReadSchema: struct<x:double,z:double>"), plan)
      assert(!plan.contains("ExistingRDD") && !plan.contains("binaryFile"), plan)
    }
  }

  test("the scan fills files, bytes read, points out and decode ms with one action") {
    val dir = tmp()
    val names = Pcd.writeSharded(dir, cloud(3000), "shard")
    val df = Pcd.asDistributedDataFrame(spark, s"$dir/*.pcd").select("x", "intensity")
    assert(df.agg(sum("intensity")).head().getLong(0) ===
      cloud(3000).agg(sum("intensity")).head().getLong(0))
    val q = df.agg(sum("x"))
    q.collect()
    val Seq(scan) = scans(q)
    def metric(n: String): Long = scan.metrics(n).value
    assert(metric("files") === 3)
    assert(metric("bytesRead") === names.map(n => Files.size(java.nio.file.Paths.get(dir, n))).sum)
    assert(metric("pointsOut") === 3000)
    assert(metric("numOutputRows") === 3000)
    assert(metric("decodeMs") >= 0)
  }

  test("a glob runs as many tasks as Spark packs its files into") {
    val dir = tmp()
    val pts = cloud(4000).withColumn("shard", col("span_idx") % 8)
    LasWriter.writeSharded(dir, pts, 1, xf, "shard", compress = true)
    val glob = s"$dir/*.laz"
    val key = "spark.sql.leafNodeDefaultParallelism"
    for (parallelism <- Seq(None, Some("2"))) {
      parallelism.foreach(spark.conf.set(key, _))
      try {
        val df = PointCodec.read(spark, glob, LasDecode.Codec())
        assert(df.rdd.getNumPartitions ===
          spark.read.format("binaryFile").load(glob).rdd.getNumPartitions, parallelism)
        assert(xyz(df) === xyz(pts))
      } finally spark.conf.unset(key)
    }
  }

  test("tasks resolve a file system registered only on the session's Hadoop configuration") {
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.sessfs.impl", classOf[PointScanSpec.SessionFs].getName)
    // no cached FileSystem may stand in for one a task fails to resolve
    hc.setBoolean("fs.sessfs.impl.disable.cache", true)
    try {
      val dir = tmp()
      val pts = cloud(3000)
      val laz = s"$dir/c2.laz"
      LasWriter.writeLaz(laz, pts.drop("shard"), 3, xf, chunkSize = 1000)
      val viaScheme = LasDecode.asChunkSplitDataFrame(spark, s"sessfs:$laz")
      assert(viaScheme.rdd.getNumPartitions === 3)
      assert(xyz(viaScheme) === xyz(pts))
      val names = LasWriter.writeSharded(s"sessfs:$dir/shards", pts, 1, xf, "shard", compress = true)
      assert(names === Seq("shard_0.laz", "shard_1.laz", "shard_2.laz"))
      assert(xyz(PointCodec.read(spark, s"$dir/shards/*.laz", LasDecode.Codec())) === xyz(pts))
    } finally {
      hc.unset("fs.sessfs.impl")
      hc.unset("fs.sessfs.impl.disable.cache")
    }
  }

  test("a Hadoop setting changed between two reads reaches the second read's tasks") {
    // reads share one broadcast of the session's Hadoop configuration while
    // its entries are unchanged; a changed session or context setting must
    // start a new one
    val hc = spark.sparkContext.hadoopConfiguration
    hc.set("fs.sessfs.impl", classOf[PointScanSpec.SessionFs].getName)
    hc.setBoolean("fs.sessfs.impl.disable.cache", true)
    try {
      val dir = tmp()
      val pts = cloud(3000)
      LasWriter.writeSharded(dir, pts, 1, xf, "shard", compress = true)
      def tagsOfRead(): Set[String] = {
        PointScanSpec.tagsSeen.clear()
        assert(xyz(PointCodec.read(spark, s"sessfs:$dir/*.laz", LasDecode.Codec())) === xyz(pts))
        PointScanSpec.tagsSeen.toArray.map(_.toString).toSet
      }
      spark.conf.set("sessfs.tag", "a")
      assert(tagsOfRead() === Set("a"))
      assert(tagsOfRead() === Set("a"))
      spark.conf.set("sessfs.tag", "b")
      assert(tagsOfRead() === Set("b"))
      spark.conf.unset("sessfs.tag")
      hc.set("sessfs.tag", "c")
      assert(tagsOfRead() === Set("c"))
    } finally {
      spark.conf.unset("sessfs.tag")
      Seq("fs.sessfs.impl", "fs.sessfs.impl.disable.cache", "sessfs.tag").foreach(hc.unset)
    }
  }
}

object PointScanSpec {
  /** Values of the setting `sessfs.tag` that the file systems tasks
    * opened files through were configured with. */
  val tagsSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** The local file system under the scheme `sessfs`, which a default
    * Hadoop configuration does not know. */
  final class SessionFs extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create("sessfs:///")
    override def getScheme: String = "sessfs"
    override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
      if (org.apache.spark.TaskContext.get() != null) tagsSeen.add(getConf.get("sessfs.tag", ""))
      super.open(f, bufferSize)
    }
  }
}
