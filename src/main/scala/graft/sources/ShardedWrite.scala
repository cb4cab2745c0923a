package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{NumericType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The one executor-sharded export harness behind every point-format
  * writer (LAS/LAZ, BPF, PCD, PLY): one output file per distinct value
  * of a shard column, each file encoded ON THE EXECUTOR by its
  * [[PointCodec]] from the shard's rows and published two-phase for
  * object-store destinations (task-local temp -> `.inprogress` upload
  * -> rename), so no points ever funnel through the driver.
  *
  * Buffering discipline: a task buffers ONE shard's records at a time
  * and encodes it whole at the shard boundary. A shard is one tile/chip,
  * so the upstream chipper/splitter capacity bounds that buffer — the
  * discipline the reference's DB block writers prescribe (chip first,
  * then write blocks). A null shard value fails loudly: a null tile/chip
  * id is an upstream bug, not a shard.
  */
object ShardedWrite {

  /** The column set the PLY/PCD writers serialize: every numeric column
    * except the span ordinal (doc_id is string identity and excluded by
    * type; rename upstream to persist it). */
  def numericCols(schema: StructType): Seq[StructField] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] && f.name != "span_idx" => f
    }.toSeq

  /** True for `file:/...`, `hdfs://...`, `s3a://...` destinations. */
  def hasScheme(dir: String): Boolean = dir.matches("[a-zA-Z][a-zA-Z0-9+.-]*:/.*")

  /** The session's Hadoop configuration for the tasks that publish to
    * `dir`: the session's broadcast ([[PointScan.sessionConf]]) for a
    * scheme'd destination, none for a local one. Tasks resolve the
    * destination's file system from it, as Spark's file sources do, so a
    * scheme or credential set on the session holds in tasks too. */
  def confFor(spark: SparkSession, dir: String): Option[Broadcast[SerializableConfiguration]] =
    if (hasScheme(dir)) Some(PointScan.sessionConf(spark)) else None

  /** Publish bytes as `dir/name`: a scheme'd destination (`conf` given)
    * goes two-phase through the file system `conf` resolves, a local one
    * is written directly. */
  def publish(dir: String, name: String, bytes: Array[Byte], conf: Option[Configuration]): Unit =
    conf match {
      case Some(c) =>
        val tmp = java.io.File.createTempFile("graftshard", name)
        java.nio.file.Files.write(tmp.toPath, bytes)
        val destDir = new org.apache.hadoop.fs.Path(dir)
        val fs = destDir.getFileSystem(c)
        val tmpDst = new org.apache.hadoop.fs.Path(destDir, name + ".inprogress")
        val dst = new org.apache.hadoop.fs.Path(destDir, name)
        fs.copyFromLocalFile(false, true,
          new org.apache.hadoop.fs.Path(tmp.toURI), tmpDst)
        if (fs.exists(dst)) fs.delete(dst, false)
        require(fs.rename(tmpDst, dst), s"two-phase rename failed for $name")
        tmp.delete(); ()
      case None => java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/$name"), bytes)
    }

  /** Run the sharded export: partition by `shardCol`, sort each
    * partition by (shard, doc_id, span_idx) for deterministic record
    * order, group consecutive rows per shard on the executor, and emit
    * `codec.encode` of each group as `shard_<value>.<ext>`. Returns the
    * shard file names, sorted. */
  def run(df: DataFrame, dir: String, shardCol: String, codec: PointCodec,
          numTasks: Int = 0): Seq[String] = {
    val conf = confFor(df.sparkSession, dir)
    conf match {
      case Some(c) =>
        val p = new org.apache.hadoop.fs.Path(dir)
        p.getFileSystem(c.value.value).mkdirs(p)
      case None => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    }
    val ext = codec.exts.head
    val valueCols = codec.writeCols(df.schema)
    require(valueCols.nonEmpty, s"no columns to write as .$ext")
    val allCols = df.columns
    require(allCols.contains(shardCol),
      s"shard column $shardCol not in ${allCols.mkString(",")}")
    val tasks = if (numTasks > 0) numTasks
                else df.sparkSession.sparkContext.defaultParallelism
    val idCols = Seq("doc_id", "span_idx").filter(allCols.contains)
    val sortKeys = (Seq(shardCol) ++ idCols).map(col)
    val slim = df
      .select((col(shardCol) +: idCols.map(col)) ++
        valueCols.map(f => col(f.name).as(s"__v_${f.name}")): _*)
      .repartition(tasks, col(shardCol))
      .sortWithinPartitions(sortKeys: _*)
    val base = 1 + idCols.size
    val colMeta = valueCols.map(f => (f.name, f.dataType))
    slim.mapPartitions { it =>
      var cur: Any = null
      var buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      var written = List.empty[String]
      def close(): Unit = if (cur != null && buf.nonEmpty) {
        val name = s"shard_$cur.$ext"
        publish(dir, name, codec.encode(colMeta, buf.toIndexedSeq), conf.map(_.value.value))
        written ::= name
        buf = scala.collection.mutable.ArrayBuffer.empty[Array[Any]]
      }
      it.foreach { r =>
        val shard = r.get(0)
        // a null shard would alias the initial `cur` sentinel and its
        // run would never close() — rows silently dropped or misfiled
        require(shard != null, s"sharded write: null value in shard column $shardCol")
        if (shard != cur) { close(); cur = shard }
        buf += Array.tabulate(colMeta.size)(i => r.get(base + i))
      }
      close()
      written.iterator
    }(Encoders.STRING).collect().toSeq.sorted
  }
}
