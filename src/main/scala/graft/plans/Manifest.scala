package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BindReferences, Expression,
  InterpretedUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}

/** Iceberg-style table + lineage layer (no Iceberg jar in this
  * environment, so the manifest/snapshot machinery is built here —
  * which the engine needs anyway for the per-partition lineage records
  * the resume contract requires).
  *
  * Layout per stage:
  * {{{
  *   <root>/<stageId>/data/...          stage output parquet
  *   <root>/<stageId>/schema.json       the data's Spark schema (read
  *                                      without a footer-inference job)
  *   <root>/<stageId>/manifest.json     lineage snapshot:
  *     { stage, inputs: [stageId...], fingerprint,
  *       partitions: [{key, rows, digest}], totalRows }
  * }}}
  *
  * The per-partition digest is bit_xor(xxhash64(all columns)) — order-
  * independent and mergeable, so a resumed run can be validated cheaply
  * partition-by-partition (the reference's Metadata tree per stage,
  * include/pdal/Metadata.hpp:98-407, generalized to distributed
  * partitions). `fingerprint` covers the stage's config + its inputs'
  * fingerprints, so any upstream change invalidates downstream stages
  * (content-addressed resume).
  */
object Manifest {

  final case class PartitionLineage(key: Long, rows: Long, digest: Long)

  /** Header-level preview stats, stored in the manifest so QuickInfo can
    * be served with ZERO jobs (the reference previews a file from its
    * header alone — LasReader.cpp:122-140 inspect / QuickInfo.hpp:45-60;
    * our "header" is the checkpoint manifest). */
  final case class QuickStats(count: Long, minx: Double, maxx: Double,
                              miny: Double, maxy: Double,
                              minz: Double, maxz: Double)

  final case class StageManifest(stage: String, fingerprint: String,
                                 inputs: Seq[String],
                                 partitions: Seq[PartitionLineage],
                                 info: Option[QuickStats] = None) {
    def totalRows: Long = partitions.map(_.rows).sum
  }

  /** Lineage partition key: the doc's spatial tile when x/y exist, else
    * a stable hash bucket of doc_id. Rows with a null x or y have no tile;
    * the fold files them under [[NullCoordKey]]. */
  def lineageKey(df: DataFrame, buckets: Int = 64): org.apache.spark.sql.Column = {
    if (df.columns.contains("x") && df.columns.contains("y"))
      graft.functions.SpatialFunctions.cellId(col("x"), col("y"), 3)
    else pmod(xxhash64(col("doc_id")), lit(buckets)).cast(LongType)
  }

  /** Lineage key of rows whose x or y is null: tile ids and hash buckets
    * are never negative. */
  val NullCoordKey: Long = -1L

  /** The fold's totals over one task's rows, or over many merged: per
    * lineage key the row count and the XOR of the row digests; per axis
    * (x, y, z) the least and greatest non-null value in
    * `java.lang.Double.compare` order (NaN above every number, as in
    * Spark's min/max), `seen(a)` false while axis `a` has none. */
  private final class Totals(@transient inputs: Seq[Expression]) extends RowFold.Partial[Totals] {
    // interpreted: generated code would be one more compiled class per
    // checkpointed schema in every executor's codegen cache
    @transient private lazy val proj = InterpretedUnsafeProjection.createProjection(inputs)
    private val keys = scala.collection.mutable.LongMap.empty[Array[Long]]
    private val lo, hi = new Array[Double](3)
    private val seen = new Array[Boolean](3)
    private def key(k: Long, rows: Long, digest: Long): Unit = {
      val t = keys.getOrElseUpdate(k, new Array[Long](2))
      t(0) += rows; t(1) ^= digest
    }
    private def coord(a: Int, v: Double): Unit =
      if (!seen(a)) { seen(a) = true; lo(a) = v; hi(a) = v }
      else {
        if (java.lang.Double.compare(v, lo(a)) < 0) lo(a) = v
        if (java.lang.Double.compare(v, hi(a)) > 0) hi(a) = v
      }
    def add(row: InternalRow): Unit = {
      val in = proj(row)
      key(if (in.isNullAt(0)) NullCoordKey else in.getLong(0), 1, in.getLong(1))
      for (a <- 2 until in.numFields if !in.isNullAt(a)) coord(a - 2, in.getDouble(a))
    }
    def merge(o: Totals): Unit = {
      o.keys.foreach { case (k, t) => key(k, t(0), t(1)) }
      for (a <- 0 until 3 if o.seen(a)) { coord(a, o.lo(a)); coord(a, o.hi(a)) }
    }
    def lineage: Seq[PartitionLineage] =
      keys.toSeq.sortBy(_._1).map { case (k, t) => PartitionLineage(k, t(0), t(1)) }
    /** Row count and non-null bounds; None unless every axis has a value. */
    def info: Option[QuickStats] =
      if (!seen.forall(identity)) None
      else Some(QuickStats(keys.valuesIterator.map(_(0)).sum, lo(0), hi(0), lo(1), hi(1), lo(2), hi(2)))
  }

  /** New [[Totals]] over `df`'s rows, whose inputs are the lineage key,
    * the row digest xxhash64(cast(col as string), ...) over all columns,
    * and x, y, z as doubles when the frame has all three. */
  private def totals(df: DataFrame): () => Totals = {
    val xyz = Seq("x", "y", "z")
    val coords = if (xyz.forall(df.columns.contains)) xyz.map(col(_).cast(DoubleType)) else Nil
    val digest = expr(s"xxhash64(${df.columns.map(c => s"cast(`$c` as string)").mkString(", ")})")
    val inputs = df.select(Seq(lineageKey(df), digest) ++ coords: _*).queryExecution.analyzed match {
      case Project(list, child) =>
        BindReferences.bindReferences(list.map { case Alias(e, _) => e; case e => e }, AttributeSeq(child.output))
    }
    () => new Totals(inputs)
  }

  /** Per-partition lineage of a DataFrame and, when it has coordinates,
    * its QuickStats: one map-only job, each task returning its totals
    * (at most 64 keys, plus [[NullCoordKey]]) through an accumulator. */
  def lineageOf(df: DataFrame): (Seq[PartitionLineage], Option[QuickStats]) = {
    val t = RowFold.scan(df, totals(df))
    (t.lineage, t.info)
  }

  // ---- JSON (hand-rolled: flat, stable ordering, no extra deps) ----

  // Non-finite bounds (empty-input stages yield Infinity mins) must stay
  // STANDARD JSON — bare Infinity/NaN tokens parse here but are rejected
  // by every off-the-shelf JSON consumer of the manifest file, so they
  // are emitted as quoted strings.
  private def jsonDouble(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "\"" + d.toString + "\""

  def toJson(m: StageManifest): String = {
    val parts = m.partitions.map(p =>
      s"""{"key":${p.key},"rows":${p.rows},"digest":${p.digest}}""").mkString("[", ",", "]")
    val inputs = m.inputs.map(i => "\"" + i + "\"").mkString("[", ",", "]")
    val info = m.info.map(q =>
      s""","info":{"count":${q.count},"minx":${jsonDouble(q.minx)},"maxx":${jsonDouble(q.maxx)},"miny":${jsonDouble(q.miny)},"maxy":${jsonDouble(q.maxy)},"minz":${jsonDouble(q.minz)},"maxz":${jsonDouble(q.maxz)}}""")
      .getOrElse("")
    s"""{"stage":"${m.stage}","fingerprint":"${m.fingerprint}","inputs":$inputs,
       |"totalRows":${m.totalRows}$info,"partitions":$parts}""".stripMargin.replace("\n", "")
  }

  private val KeyRe = """"(stage|fingerprint)":"([^"]*)"""".r
  private val PartRe = """\{"key":(-?\d+),"rows":(\d+),"digest":(-?\d+)\}""".r
  // '-' inside the class too: exponents like 1.0E-7 ("-?" only covers
  // the leading sign); fields are label-delimited so this is unambiguous.
  // Non-finite values arrive as quoted strings (standard-JSON emit).
  // Bare Infinity/NaN alternations kept for READ compatibility with
  // manifests written before the standard-JSON (quoted) emit; we only
  // ever emit the quoted form now.
  private val D = """(-?[\d.eE+-]+|"-?Infinity"|"NaN"|-?Infinity|NaN)"""
  private val InfoRe =
    (""""info":\{"count":(\d+),"minx":""" + D + ""","maxx":""" + D +
      ""","miny":""" + D + ""","maxy":""" + D +
      ""","minz":""" + D + ""","maxz":""" + D + """\}""").r

  def fromJson(s: String): StageManifest = {
    val kv = KeyRe.findAllMatchIn(s).map(m => m.group(1) -> m.group(2)).toMap
    val inputs = """"inputs":\[([^\]]*)\]""".r.findFirstMatchIn(s)
      .map(_.group(1)).getOrElse("")
      .split(",").filter(_.nonEmpty).map(_.stripPrefix("\"").stripSuffix("\"")).toSeq
    val parts = PartRe.findAllMatchIn(s)
      .map(m => PartitionLineage(m.group(1).toLong, m.group(2).toLong, m.group(3).toLong))
      .toSeq
    def d(t: String): Double = t.stripPrefix("\"").stripSuffix("\"").toDouble
    val info = InfoRe.findFirstMatchIn(s).map(m => QuickStats(m.group(1).toLong,
      d(m.group(2)), d(m.group(3)), d(m.group(4)),
      d(m.group(5)), d(m.group(6)), d(m.group(7))))
    StageManifest(kv.getOrElse("stage", ""), kv.getOrElse("fingerprint", ""), inputs, parts, info)
  }

  def write(root: String, m: StageManifest): Unit = {
    val dir = Paths.get(root, m.stage)
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("manifest.json"), toJson(m))
  }

  def read(root: String, stage: String): Option[StageManifest] = {
    val p = Paths.get(root, stage, "manifest.json")
    if (Files.exists(p)) Some(fromJson(Files.readString(p))) else None
  }

  /** Checkpoint a stage: write its data and the manifest of its lineage.
    * One Spark job: the lineage is folded by the parquet write's own
    * tasks ([[RowFold.tap]]), which read the stage's rows directly, with
    * no exchange or sort between the fold and the writer, so each
    * partition's totals reach the manifest exactly once. */
  def checkpoint(root: String, stage: String, fingerprint: String,
                 inputs: Seq[String], df: DataFrame): StageManifest = {
    val (tapped, folded) = RowFold.tap(df, totals(df))
    tapped.write.mode("overwrite").parquet(s"$root/$stage/data")
    Files.createDirectories(Paths.get(root, stage))
    Files.writeString(Paths.get(root, stage, "schema.json"), readBack(df.schema).json)
    val t = folded()
    val m = StageManifest(stage, fingerprint, inputs, t.lineage, t.info)
    write(root, m)
    m
  }

  /** A stage is resumable iff its manifest exists with the expected
    * fingerprint (config + upstream content unchanged). */
  def resumable(root: String, stage: String, fingerprint: String): Boolean =
    read(root, stage).exists(_.fingerprint == fingerprint)

  /** Deep validation: recompute the checkpoint data's per-partition
    * lineage and compare against the manifest — catches bit rot or
    * out-of-band edits the fingerprint (config-level) cannot see. One
    * map-only scan of the checkpoint ([[lineageOf]]); order-independent
    * digests make the compare partition-by-partition exact. */
  def validate(spark: SparkSession, root: String, stage: String): Boolean =
    read(root, stage).exists { m =>
      try lineageOf(readData(spark, root, stage))._1 == m.partitions
      catch { case _: Exception => false } // unreadable data = invalid
    }

  /** The schema a footer-inferring read reports for data written with
    * `t`: parquet files read back with every level nullable. */
  private def readBack(t: DataType): DataType = t match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = readBack(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(readBack(a.elementType), containsNull = true)
    case m: MapType => MapType(readBack(m.keyType), readBack(m.valueType), valueContainsNull = true)
    case other => other
  }

  /** A checkpoint's data, read with its stored schema; checkpoints written
    * before schema.json existed fall back to footer inference. */
  def readData(spark: SparkSession, root: String, stage: String): DataFrame = {
    val schema = Paths.get(root, stage, "schema.json")
    val reader =
      if (Files.exists(schema))
        spark.read.schema(DataType.fromJson(Files.readString(schema)).asInstanceOf[StructType])
      else spark.read
    reader.parquet(s"$root/$stage/data")
  }

  /** `pdal info`-style preview served from the manifest alone — NO Spark
    * job touches the data (the reference's header-only inspect,
    * LasReader.cpp:122-140). Returns None when the stage has no manifest
    * or the manifest predates coordinate stats; callers then fall back to
    * the scan path (InfoOps.quickInfo). */
  def quickInfo(spark: SparkSession, root: String, stage: String): Option[DataFrame] =
    read(root, stage).flatMap(_.info).map { q =>
      import spark.implicits._
      Seq((q.count, q.minx, q.maxx, q.miny, q.maxy, q.minz, q.maxz))
        .toDF("count", "minx", "maxx", "miny", "maxy", "minz", "maxz")
    }
}
