package graft.sources

import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader,
  PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.plans.Kernels

/** Point files as one DataSource V2 scan: every `readers.*` read, the
  * per-file glob read and the header-planned LAS/LAZ reads, is a
  * `BatchScan` leaf in the Catalyst plan.
  *
  *  - The scan builder takes the columns the query uses
  *    (`SupportsPushDownRequiredColumns`), so a reader decodes only
  *    those: LAS/LAZ records write only the required fields, a layered
  *    LAZ 1.4 chunk skips the layers no required column lives in, BPF
  *    skips whole dimensions, and the other codecs decode, then project.
  *    A leaf cut to the columns a query reads has the same width for
  *    every codec, so reads of different formats share compiled stages.
  *  - A [[Source]] plans the input partitions: whole files bin-packed by
  *    Spark's file-split rule ([[Files]]), LAZ chunks or LAS record
  *    ranges ([[LasDecode.LasChunks]], [[LasDecode.LasRanges]]).
  *  - Readers open files through the session's Hadoop configuration and
  *    report files, bytes read, points out and decode time as custom
  *    metrics of the scan.
  */
object PointScan {

  /** What one scan reads: its full schema, its input partitions and the
    * decode of one partition to rows of the required fields. */
  trait Source extends Serializable {
    /** Table name shown by EXPLAIN. */
    def name: String
    def schema: StructType
    def partitions(spark: SparkSession): Seq[InputPartition]
    /** The rows of partition `p` as UnsafeRows of `fields` (ordinals of
      * [[schema]], in that order). */
    def read(p: InputPartition, fields: Array[Int], conf: Configuration,
             m: Counters): Iterator[InternalRow]
  }

  /** The scan of `source` as a frame, on a session whose optimizer lifts
    * the constants of filters over the scan ([[graft.plans.Params]]). */
  def frame(spark: SparkSession, source: Source): DataFrame = {
    Kernels.register(spark)
    ColumnBridge.ofPlan(spark, DataSourceV2Relation.create(Points(source), None, None))
  }

  /** True iff `t` is a point scan's table. */
  def isPoints(t: Table): Boolean = t.isInstanceOf[Points]

  /** A task's running totals, reported as the scan's custom metrics. */
  final class Counters {
    var files = 0L
    var bytes = 0L
    var points = 0L
    var decodeNs = 0L
  }

  /** The last broadcast of a session's Hadoop configuration, with the
    * context it lives in and the entries it holds. */
  private var lastConf: (SparkContext, Map[String, String], Broadcast[SerializableConfiguration]) = _

  /** `spark`'s Hadoop configuration, with its `spark.hadoop.*` and session
    * settings, as a broadcast, as in Spark's file sources: each executor
    * deserializes it once, not every task. Broadcasting it (about 110 KB)
    * costs a read several ms of planning, so the last broadcast is
    * reused while the configuration's entries are unchanged. */
  def sessionConf(spark: SparkSession): Broadcast[SerializableConfiguration] = synchronized {
    val conf = ColumnBridge.hadoopConf(spark)
    val entries = conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap
    val sc = spark.sparkContext
    if (lastConf == null || (lastConf._1 ne sc) || lastConf._2 != entries)
      lastConf = (sc, entries, sc.broadcast(new SerializableConfiguration(conf)))
    lastConf._3
  }

  /** `len` bytes of `path` from byte `start`. */
  def readRange(path: String, conf: Configuration, start: Long, len: Int): Array[Byte] = {
    val p = new Path(path)
    val in = p.getFileSystem(conf).open(p)
    val buf = new Array[Byte](len)
    try in.readFully(start, buf, 0, len) finally in.close()
    buf
  }

  // ---- whole files -------------------------------------------------------

  /** Whole files of one codec, pinned to `schema` (the header of the
    * first file by name): doc_id = the file name, span_idx = the record
    * ordinal. Files are packed into tasks by Spark's own rule for
    * unsplittable files (`FilePartition.maxSplitBytes` and
    * `getFilePartitions`, largest file first). Only the driver plans
    * from `files`; a task reads its partition's. A file that fails to
    * decode fails its task naming the file. */
  final case class Files(codec: PointCodec, @transient files: Seq[(String, Long)],
                         schema: StructType) extends Source {
    def name: String = s"${codec.exts.head}[${files.size} files]"

    def partitions(spark: SparkSession): Seq[InputPartition] = {
      val open = ColumnBridge.sqlConf(spark).filesOpenCostInBytes
      FilePartition.getFilePartitions(spark, files.sortBy(-_._2).map { case (p, n) =>
        PartitionedFile(InternalRow.empty, SparkPath.fromUrlString(p), 0, n)
      }, FilePartition.maxSplitBytes(spark, files.map(_._2 + open).sum))
    }

    def read(p: InputPartition, fields: Array[Int], conf: Configuration,
             m: Counters): Iterator[InternalRow] =
      p.asInstanceOf[FilePartition].files.iterator.flatMap { f =>
        val path = f.filePath.toString
        PointCodec.naming(path) {
          require(f.length <= Int.MaxValue, s"$path: ${f.length} bytes exceed one task's buffer")
          val bytes = readRange(path, conf, 0L, f.length.toInt)
          m.files += 1
          m.bytes += bytes.length
          codec.decodeFields(bytes, path, schema, fields)
        }
      }
  }

  // ---- the DataSource V2 table --------------------------------------------

  private final case class Points(source: Source) extends Table with SupportsRead {
    def name: String = source.name
    override def schema: StructType = source.schema
    def capabilities: java.util.Set[TableCapability] = java.util.EnumSet.of(TableCapability.BATCH_READ)
    def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = new Builder(source)
  }

  private final class Builder(source: Source) extends SupportsPushDownRequiredColumns {
    private var required = source.schema
    def pruneColumns(s: StructType): Unit = required = s
    def build(): Scan = {
      val names = required.fieldNames.toSet
      PointBatch(source, source.schema.fields.indices.filter(i => names(source.schema(i).name)).toArray)
    }
  }

  private final case class PointBatch(source: Source, fields: Array[Int]) extends Scan with Batch {
    def readSchema: StructType = StructType(fields.map(source.schema(_)))
    override def description: String = s"${source.name} ReadSchema: ${readSchema.catalogString}"
    override def toBatch: Batch = this
    def planInputPartitions: Array[InputPartition] =
      source.partitions(SparkSession.active).toArray
    /** One factory per scan: Spark asks for it while planning (to learn
      * whether the scan is columnar) and again to execute. */
    @transient private lazy val factory: PartitionReaderFactory =
      Readers(source, fields, sessionConf(SparkSession.active))
    def createReaderFactory: PartitionReaderFactory = factory
    override def supportedCustomMetrics: Array[CustomMetric] = Metrics.all
  }

  private final case class Readers(source: Source, fields: Array[Int],
                                    conf: Broadcast[SerializableConfiguration])
      extends PartitionReaderFactory {
    def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      val m = new Counters
      new Reader(source.read(p, fields, conf.value.value, m), m)
    }
  }

  /** Rows in blocks of [[Reader.Block]], each produced under one clock
    * (the first block's includes the partition's read and any eager
    * decode), so the decode time excludes the consumer's work. */
  private final class Reader(open: => Iterator[InternalRow], m: Counters)
      extends PartitionReader[InternalRow] {
    private lazy val rows = open
    private val buf = new Array[InternalRow](Reader.Block)
    private var n = 0
    private var i = 0
    def next(): Boolean = {
      i += 1
      if (i < n) true
      else {
        val t0 = System.nanoTime()
        n = 0
        val it = rows
        while (n < buf.length && it.hasNext) { buf(n) = it.next(); n += 1 }
        m.decodeNs += System.nanoTime() - t0
        m.points += n
        i = 0
        n > 0
      }
    }
    def get(): InternalRow = buf(i)
    def close(): Unit = ()
    override def currentMetricsValues: Array[CustomTaskMetric] = Array(
      Metrics.task("files", m.files), Metrics.task("bytesRead", m.bytes),
      Metrics.task("pointsOut", m.points), Metrics.task("decodeMs", m.decodeNs / 1000000))
  }
  private object Reader { val Block = 1024 }

  /** The scan's custom metrics, summed over tasks (Spark instantiates
    * each class by name to aggregate it). */
  object Metrics {
    final class Files extends CustomSumMetric { def name = "files"; def description = "files read" }
    final class BytesRead extends CustomSumMetric { def name = "bytesRead"; def description = "bytes read" }
    final class PointsOut extends CustomSumMetric { def name = "pointsOut"; def description = "points out" }
    final class DecodeMs extends CustomSumMetric { def name = "decodeMs"; def description = "decode ms" }
    def all: Array[CustomMetric] = Array(new Files, new BytesRead, new PointsOut, new DecodeMs)
    def task(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
      def name: String = n
      def value: Long = v
    }
  }
}
