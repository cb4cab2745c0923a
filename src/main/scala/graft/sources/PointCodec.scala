package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** One whole-file point format on the engine's single codec seam — the
  * reader/writer registry PDAL keeps over its typed point model.
  *
  * A codec supplies only what is format-specific: the frame schema of a
  * file, the decode of one whole file and, where the format has a
  * writer, the encode of one file from its records. Format parameters
  * (BPF `columns`, QFIT `flip_coordinates`/`scale_z`, a reader's
  * `count`, a writer's layout) are constructor arguments of the codec
  * value. Everything else is written once: the read in the companion
  * (one [[PointScan]]), the landing-dir stream in
  * [[graft.streaming.StreamOps.ingestPointFiles]] and the sharded write
  * in [[ShardedWrite.run]].
  */
trait PointCodec extends Serializable {

  /** Lower-case file extensions the codec reads; a written file takes
    * the first. */
  def exts: Seq[String]

  /** The frame schema of a file from its first bytes (at most
    * [[PointCodec.HeaderBytes]], which hold every header a codec parses).
    * By name: a format with one fixed schema never reads them. */
  def schema(head: => Array[Byte]): StructType

  /** Every point of one whole file, with the schema that file decodes
    * to (doc_id = `docId`, span_idx = the record ordinal). */
  def decode(bytes: Array[Byte], docId: String): (StructType, IterableOnce[Row])

  /** The points of file `path` (its whole bytes) as UnsafeRows of the
    * `pinned` fields `fields`, in that order: a scan's per-file decode.
    * The default decodes every field, fails loudly when the file's
    * schema is not `pinned` ([[PointCodec.decodeChecked]]), then writes
    * the fields; a codec that can skip the fields a read does not use
    * overrides it. */
  def decodeFields(bytes: Array[Byte], path: String, pinned: StructType,
                   fields: Array[Int]): Iterator[InternalRow] =
    PointCodec.decodeChecked(this, pinned, path, bytes).iterator.map(PointCodec.writer(pinned, fields))

  /** The columns a written file serializes, in file order. */
  def writeCols(schema: StructType): Seq[StructField] = ShardedWrite.numericCols(schema)

  /** One complete file from its records (one boxed value per
    * [[writeCols]] column each, in that order). */
  def encode(cols: Seq[(String, DataType)], recs: IndexedSeq[Array[Any]]): Array[Byte] =
    throw new UnsupportedOperationException(s"no .${exts.head} writer")

  /** Driver write of the whole frame as ONE file. Collects: fixture-scale
    * by intent; [[ShardedWrite.run]] is the volume path. */
  def write(path: String, df: DataFrame): Unit = {
    val cols = writeCols(df.schema)
    val recs = df.select(cols.map(f => col(f.name)): _*).collect()
      .map(r => Array.tabulate(cols.size)(r.get)).toIndexedSeq
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      encode(cols.map(f => (f.name, f.dataType)), recs))
  }
}

object PointCodec {

  /** Every codec, for dispatch by file extension. */
  val all: Seq[PointCodec] = Seq(LasDecode.Codec(), Nitf.Codec(), Bpf.Codec(),
    Pcd.Codec(), Ply.Codec(), Icebridge.Codec(), Sbet.Codec(), Qfit.Codec(),
    Terrasolid.Codec(), Optech.Codec())

  /** The codec that reads `path`, by its extension. */
  def forPath(path: String): PointCodec = {
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    all.find(_.exts.contains(ext)).getOrElse(
      throw new IllegalArgumentException(s"no point codec reads .$ext ($path)"))
  }

  def isGlob(path: String): Boolean = path.exists("*?[".contains(_))

  def docIdOf(path: String): String = path.substring(path.lastIndexOf('/') + 1)

  /** The first `limit` bytes of a file (all of a shorter one) through the
    * Hadoop FileSystem, so scheme'd (object-store) paths read the same as
    * local ones. */
  def readBytes(path: Path, conf: Configuration, limit: Int = Int.MaxValue): Array[Byte] = {
    val in = path.getFileSystem(conf).open(path)
    try in.readNBytes(limit) finally in.close()
  }

  /** Bytes of a file the driver reads to pin a schema: PCD and PLY parse
    * their text headers within the first 64 KiB, a BPF header with its
    * dimension table is at most 14,456 bytes, and QFIT and TerraSolid
    * read their first words. */
  val HeaderBytes: Int = 65536

  /** The files `pathGlob` matches, by name (a directory lists its files;
    * hidden `_`/`.` names are skipped, as Spark's file sources skip
    * them). */
  def listFiles(conf: Configuration, pathGlob: String): Seq[FileStatus] = {
    val p = new Path(pathGlob)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(s => if (s.isDirectory) fs.listStatus(s.getPath).toSeq else Seq(s))
      .filter(_.isFile)
      .filterNot(s => s.getPath.getName.startsWith("_") || s.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** The first file by name that `pathGlob` matches: the file a
    * multi-file read pins its schema from. */
  def firstFile(conf: Configuration, pathGlob: String): Path =
    listFiles(conf, pathGlob).headOption.map(_.getPath).getOrElse(
      throw new IllegalArgumentException(s"no file matches $pathGlob to pin the schema"))

  /** Decode one file of a multi-file read and fail loudly, naming the
    * file, when its schema is not the pinned one (a file with its
    * properties in another order would otherwise land under the wrong
    * column names). */
  def decodeChecked(codec: PointCodec, pinned: StructType, path: String,
                    bytes: Array[Byte]): IterableOnce[Row] = {
    val (sch, rows) = codec.decode(bytes, docIdOf(path))
    require(sch == pinned,
      s"$path: schema ${sch.simpleString} differs from the pinned schema ${pinned.simpleString}")
    rows
  }

  /** External Row of `schema` -> UnsafeRow of its fields `fields`, in
    * that order (one reusable writer; each row a fresh copy). One type
    * switch per field, so the loop stays monomorphic. */
  def writer(schema: StructType, fields: Array[Int]): Row => InternalRow = {
    val types = Seq(StringType, DoubleType, FloatType, LongType, IntegerType, ShortType,
      ByteType, BooleanType)
    val codes = fields.map { f =>
      val t = types.indexOf(schema(f).dataType)
      require(t >= 0, s"no point-field writer for ${schema(f).dataType}")
      t
    }
    val w = new UnsafeRowWriter(fields.length)
    r => {
      w.reset()
      w.zeroOutNullBytes()
      var k = 0
      while (k < fields.length) {
        val f = fields(k)
        if (r.isNullAt(f)) w.setNullAt(k)
        else (codes(k): @scala.annotation.switch) match {
          case 0 => w.write(k, UTF8String.fromString(r.getString(f)))
          case 1 => w.write(k, r.getDouble(f))
          case 2 => w.write(k, r.getFloat(f))
          case 3 => w.write(k, r.getLong(f))
          case 4 => w.write(k, r.getInt(f))
          case 5 => w.write(k, r.getShort(f))
          case 6 => w.write(k, r.getByte(f))
          case 7 => w.write(k, r.getBoolean(f))
        }
        k += 1
      }
      w.getRow.copy()
    }
  }

  /** The rows of file `path`; a decode failure, eager or while iterating,
    * is rethrown naming the file unless its message already does. */
  def naming[T](path: String)(rows: => IterableOnce[T]): Iterator[T] = {
    def named[A](a: => A): A = try a catch {
      case NonFatal(e) if !String.valueOf(e.getMessage).contains(path) =>
        throw new IllegalArgumentException(s"$path: $e", e)
    }
    val it = named(rows.iterator)
    new Iterator[T] { def hasNext: Boolean = named(it.hasNext); def next(): T = named(it.next()) }
  }

  /** A `readers.*` path, one file or a glob, as one [[PointScan]] over
    * its files (bin-packed into tasks as Spark packs files), doc_id = the
    * file name, span_idx = the record ordinal. The schema is pinned from
    * the header of the first file by name, the driver's only read; every
    * file must decode to it, and a file that fails to decode fails its
    * task naming the file. No decoded row passes through the driver. */
  def read(spark: SparkSession, pathGlob: String, codec: PointCodec): DataFrame = {
    val conf = ColumnBridge.hadoopConf(spark)
    val files = listFiles(conf, pathGlob)
    require(files.nonEmpty, s"no file matches $pathGlob to pin the schema")
    val schema = codec.schema(readBytes(files.head.getPath, conf, HeaderBytes))
    PointScan.frame(spark, PointScan.Files(codec,
      files.map(f => (f.getPath.toString, f.getLen)), schema))
  }
}
