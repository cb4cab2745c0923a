package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.index.{CellSpace, PolygonCover}
import graft.model.Model
import graft.operators.{JoinOps, TileOps}
import graft.plans.{Manifest, Pipeline}
import graft.sources.{Bpf, LasDecode, LasWriter, Pcd, Ply}

/** A pass whose output disagrees with the expectation. */
final class WrongOutput(msg: String) extends RuntimeException(msg)

/** Named metric values in insertion order, each with its unit. */
final class Metrics {
  val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def update(name: String, unit: String, v: Double): Unit = values(name) = (v, unit)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }
  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_)) finally s.close()
  }
}

/** One benchmark workload. A pass runs the engine and returns a check,
  * which is run outside the timed region and throws [[WrongOutput]]. */
trait Workload {
  def name: String
  /** Points the engine consumes in one pass. */
  def pointsPerPass: Long
  /** Warm passes every run makes, however short its time budget. */
  def minWarmPasses: Int = 3
  /** Checked but untimed passes between the cold pass and the timed ones,
    * while the JIT still settles. */
  def warmupPasses: Int = 0
  /** Build the inputs under `dir` (fresh per call). */
  def setup(dir: Path): Unit
  def pass(p: Int): () => Unit
  /** Metrics shown to the reader but not gated (not defined on every workload). */
  def extraMetrics(passS: Double, m: Metrics): Unit
  /** Traced pass(es): fills the workload's own per-layer metrics. */
  def traced(t: Trace, m: Metrics): Unit
  /** Catalyst planning time of the frames of one traced pass. */
  def planSeconds: Double
}

object Workloads {
  val Names: Seq[String] = Seq("pip_tile", "nbr_pipeline", "archive_ingest")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "pip_tile" => new PipTile(spark, seed)
    case "nbr_pipeline" => new NbrPipeline(spark, seed)
    case "archive_ingest" => new ArchiveIngest(spark, seed)
  }

  /** Evaluate every column of `df` into one small aggregate: array
    * columns by their sizes, flat ones through a hash, so the probe adds
    * little beyond the plan it forces. */
  def probe(df: DataFrame): Unit = {
    val parts = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case _: ArrayType => sum(size(col(f.name))).cast(LongType)
        case _ => sum(pmod(xxhash64(col(f.name)), lit(1000000007L)))
      }
    }
    df.agg(count(lit(1)), parts: _*).collect()
  }
}

/** Scan -> explode -> hexagon PIP crop -> splitter tiles -> per-tile
  * count and distinct docs, over a uniform doc table in many files. */
final class PipTile(spark: SparkSession, seed: Long, val nDocs: Int = 200000,
                    val files: Int = 16) extends Workload {
  val name = "pip_tile"
  override def warmupPasses: Int = 2
  val tileLen = 64.0
  private var dir: Path = _
  private var pts: Points = _
  private var plan = 0.0

  def pointsPerPass: Long = pts.size.toLong

  def setup(d: Path): Unit = {
    Gen.writeDocs(spark, d.toString, seed, Gen.Uniform, nDocs, files)
    pts = Gen.points(seed, Gen.Uniform, nDocs)
    dir = d
  }

  private def frames(hex: Expect.Hexagon): Seq[DataFrame] = {
    val docs = spark.read.parquet(dir.toString)
    val exploded = Model.explodePoints(docs)
    val inside = JoinOps.cropPolygon(hex.wkt)(exploded)
    val tiles = TileOps.splitter(tileLen, 0.0, 0.0)(inside)
      .groupBy(col("tile_x"), col("tile_y"))
      .agg(count(lit(1)).as("n"), countDistinct(col("doc_id")).as("docs"))
    Seq(docs, exploded, inside, tiles)
  }

  def pass(p: Int): () => Unit = {
    val hex = Expect.hexagonOfPass(p)
    val tiles = frames(hex).last
    val (_, planS) = Stats.time(tiles.queryExecution.executedPlan)
    plan = planS
    val rows = tiles.collect()
    () => {
      val got = rows.map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
      val want = Expect.pipTiles(pts, hex, tileLen)
      if (got != want) {
        val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
        throw new WrongOutput(s"pip_tile pass $p: ${diff.size}+ tiles differ, e.g. " +
          diff.map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; "))
      }
    }
  }

  def planSeconds: Double = plan

  def extraMetrics(passS: Double, m: Metrics): Unit =
    m("docs_per_s", "1/s") = nDocs / passS

  def traced(t: Trace, m: Metrics): Unit = {
    // successive prefixes of the lazy plan, each run to completion
    val names = Seq("scan", "explode", "pip_crop", "tile_agg")
    val prefix = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    for (rep <- 0 until 3) {
      val fs = frames(Expect.hexagonOfPass(1000 + rep))
      t.span("pip_tile.prefix_pass") {
        names.zip(fs).foreach { case (n, f) =>
          val (_, s) = Stats.time(t.span(s"prefix.$n") {
            if (n == "tile_agg") f.collect() else Workloads.probe(f)
          })
          prefix.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
        }
      }
    }
    val med = names.map(n => n -> Stats.median(prefix(n).toSeq)).toMap
    m("sources.scan_s", "s") = med("scan")
    m("model.explode_s", "s") = med("explode") - med("scan")
    m("model.explode_pts_per_s", "1/s") = pts.size / (med("explode") - med("scan"))
    m("join.pip_s", "s") = med("pip_crop") - med("explode")
    m("tile.splitter_agg_s", "s") = med("tile_agg") - med("pip_crop")

    // index layer, through the same public cover/cell calls the crop makes
    val hex = Expect.hexagonOfPass(0)
    val geom = PolygonCover.fromWkt(hex.wkt)
    val space = CellSpace.default
    val level = PolygonCover.autoLevel(geom, space)
    val covers = (0 until 5).map(_ => Stats.time(PolygonCover.cover(geom, space, level)))
    val cover = covers.head._1
    m("index.cover_s", "s") = Stats.median(covers.map(_._2))
    m("index.cover_cells.interior", "count") = cover.interior.length
    m("index.cover_cells.boundary", "count") = cover.boundary.length
    val interior = cover.interior.groupBy(CellSpace.level).map { case (l, ids) => l -> ids.toSet }
    val boundary = cover.boundary.toSet
    val env = geom.getEnvelopeInternal
    var candidates = 0L; var exact = 0L; var inside = 0L
    for (i <- 0 until pts.size) {
      val x = pts.xi(i) * 0.5; val y = pts.yi(i) * 0.5
      if (x >= env.getMinX && x <= env.getMaxX && y >= env.getMinY && y <= env.getMaxY) {
        val inInterior = interior.exists { case (l, ids) => ids.contains(space.cellAt(x, y, l)) }
        val inBoundary = boundary.contains(space.cellAt(x, y, level))
        if (inInterior || inBoundary) candidates += 1
        if (!inInterior && inBoundary) exact += 1
        if (hex.contains(x, y)) inside += 1
      }
    }
    m("index.exact_test_frac", "ratio") = exact.toDouble / pts.size
    m("index.prefilter_precision", "ratio") = inside.toDouble / candidates
  }
}

/** The declarative pipeline over a clustered doc table: readers.doc ->
  * outlier -> radiusoutlier -> ground -> splitter -> sharded LAZ, with
  * checkpoints, then the same spec again so that it resumes. */
final class NbrPipeline(spark: SparkSession, seed: Long) extends Workload {
  val name = "nbr_pipeline"
  val nDocs = 1500
  val mode: Gen.Mode = Gen.Clustered(hot = 6, share = 0.6, sigma = 15.0, extent = 256)
  override def minWarmPasses: Int = 2
  val rorRadius = 3.0
  val rorMin = 3
  private var dir: Path = _
  private var work: Path = _
  private var nPoints = 0L
  private var plan = 0.0
  private var lastResume = 0.0
  private var lastOutBytes = 0L
  // engine results of the first pass, which every later pass must repeat
  private var sorDigest: Option[Long] = None
  private var pmfDigest: Option[Long] = None

  def pointsPerPass: Long = nPoints

  def setup(d: Path): Unit = {
    Gen.writeDocs(spark, d.resolve("docs").toString, seed, mode, nDocs, 4)
    nPoints = (0 until nDocs).map(i => Gen.doc(seed, mode, i).length.toLong).sum
    dir = d
    work = d.resolve("runs")
  }

  /** The pipeline spec. `length` varies per pass; `ck` None drops the
    * checkpoint root (same stages otherwise). */
  def spec(out: Path, ck: Option[Path], length: Double): String = {
    // the neighbour filters' cell space is the data's square: cells of
    // side 256 / 2^level, 8 units for the outlier filter and 4 (>= the
    // radius) for the radius filter
    val space = "[0, 0, 256, 256]"
    val stages = Seq(
      s"""{"type": "readers.doc", "path": "${dir.resolve("docs")}"}""",
      s"""{"type": "filters.outlier", "mean_k": 8, "multiplier": 2.0, "level": 5, "space": $space,
         |  "checkpoint": true, "validate_resume": true}""".stripMargin,
      s"""{"type": "filters.radiusoutlier", "radius": $rorRadius, "min_neighbors": $rorMin,
         |  "level": 6, "space": $space}""".stripMargin,
      """{"type": "filters.ground", "cell_size": 1.0, "max_window_size": 5.0, "checkpoint": true, "validate_resume": true}""",
      s"""{"type": "filters.splitter", "length": $length, "origin_x": 0, "origin_y": 0}""",
      s"""{"type": "writers.las", "path": "$out", "shard_column": "tile_x", "compression": true,
         |  "format": 1, "scale": [0.5, 0.5, 0.5], "offset": [0, 0, 0]}""".stripMargin)
    s"""{"pipeline": [${stages.mkString(",\n")}]${ck.map(c => s""", "checkpoint_root": "$c"""").getOrElse("")}}"""
  }

  private def lengthOfPass(p: Int): Double = 100.0 + 10.0 * (p % 5)

  /** Order-independent digest of a frame's rows over `cols`. */
  private def digest(df: DataFrame, cols: String*): Long =
    df.select(sum(pmod(xxhash64(cols.map(col): _*), lit(1000000007L)))).head().getLong(0)

  def pass(p: Int): () => Unit = {
    val root = work.resolve(s"pass$p")
    Stats.deleteTree(root)
    val out = root.resolve("out"); val ck = root.resolve("ck")
    val js = spec(out, Some(ck), lengthOfPass(p))
    val cold = Pipeline.run(spark, js)
    val (resumed, resumeS) = Stats.time(Pipeline.run(spark, js))
    lastResume = resumeS
    lastOutBytes = Stats.dirBytes(out)
    () => check(p, root, cold, resumed)
  }

  private def check(p: Int, root: Path, cold: Pipeline.RunResult, resumed: Pipeline.RunResult): Unit = {
    def fail(msg: String) = throw new WrongOutput(s"nbr_pipeline pass $p: $msg")
    val ck = root.resolve("ck").toString
    val checkpointed = Seq("001_filters_outlier", "003_filters_ground", "005_writers_las")
    if (cold.resumedStages.nonEmpty) fail(s"cold run resumed ${cold.resumedStages}")
    if (resumed.resumedStages != checkpointed)
      fail(s"resume resumed ${resumed.resumedStages}, expected ${checkpointed}")
    val sor = Manifest.readData(spark, ck, "001_filters_outlier")
    val final0 = cold.df
    // SOR and PMF: identical across cold run, resumed run and passes
    val sorD = digest(sor, "doc_id", "span_idx", "x", "y", "z")
    val pmfD = digest(final0, "doc_id", "span_idx", "classification")
    if (digest(resumed.df, "doc_id", "span_idx", "classification") != pmfD)
      fail("resumed output differs from the cold run")
    if (sorDigest.exists(_ != sorD)) fail("outlier output differs from pass 0")
    if (pmfDigest.exists(_ != pmfD)) fail("ground classification differs from pass 0")
    sorDigest = Some(sorD); pmfDigest = Some(pmfD)
    // ROR: survivors of the outlier output by a plain grid count
    val s = sor.select("doc_id", "span_idx", "x", "y", "z").collect()
    val want = Expect.rorSurvivors(s.map(r => (r.getString(0), r.getInt(1))),
      s.map(_.getDouble(2)), s.map(_.getDouble(3)), s.map(_.getDouble(4)), rorRadius, rorMin)
    val got = final0.select("doc_id", "span_idx").collect().map(r => (r.getString(0), r.getInt(1)))
    if (got.length != got.toSet.size || got.toSet != want)
      fail(s"radius outlier kept ${got.length} points, expected ${want.size}")
    if (want.size < s.length / 4 || want.size == s.length)
      fail(s"radius outlier kept ${want.size} of ${s.length}: the workload no longer filters")
    // LAZ shards: header point counts add up to the survivors
    val shards = Files.list(root.resolve("out")).toArray.map(_.asInstanceOf[Path])
      .filter(_.toString.endsWith(".laz"))
    val written = shards.map { f =>
      val b = java.nio.ByteBuffer.wrap(readHead(f)).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.getInt(107) & 0xffffffffL
    }.sum
    if (written != want.size) fail(s"LAZ shards hold $written points, expected ${want.size}")
  }

  private def readHead(f: Path): Array[Byte] = {
    val in = Files.newInputStream(f)
    try in.readNBytes(227) finally in.close()
  }

  def planSeconds: Double = plan

  def extraMetrics(passS: Double, m: Metrics): Unit = {
    m("docs_per_s", "1/s") = nDocs / passS
    m("resume_s", "s") = lastResume
    m("out_bytes_per_point", "B") = lastOutBytes.toDouble / nPoints
  }

  def traced(t: Trace, m: Metrics): Unit = {
    val root = work.resolve("traced")
    Stats.deleteTree(root)
    val js = spec(root.resolve("out_ck"), Some(root.resolve("ck")), 100.0)
    val (_, ckS) = Stats.time(t.span("nbr.checkpointed_run")(Pipeline.run(spark, js)))
    val (_, plainS) = Stats.time(t.span("nbr.no_checkpoint_run")(
      Pipeline.run(spark, spec(root.resolve("out_plain"), None, 100.0))))
    m("plans.checkpoint_s", "s") = ckS - plainS
    m("plans.checkpoint_bytes", "B") = Stats.dirBytes(root.resolve("ck")) -
      Stats.dirBytes(root.resolve("ck").resolve("005_writers_las"))
    val (res, _) = Stats.time(t.span("nbr.resume_run")(Pipeline.run(spark, js)))
    m("plans.resume_stages", "count") = res.resumedStages.size
    val (_, validateS) = Stats.time(t.span("nbr.validate") {
      Seq("001_filters_outlier", "003_filters_ground").foreach { st =>
        if (!Manifest.validate(spark, root.resolve("ck").toString, st))
          throw new WrongOutput(s"checkpoint $st failed validation")
      }
    })
    m("plans.validate_s", "s") = validateS

    // per stage: each stage built by the runner's own stage builder on
    // the persisted output of the one before, planned, then run
    val (stages, _) = Pipeline.parse(spec(root.resolve("out_stages"), None, 100.0))
    val ctx = new Pipeline.RunCtx
    var prev: Option[DataFrame] = None
    var planS = 0.0
    val stageS = mutable.LinkedHashMap.empty[String, (Double, Span)]
    var ringRows = 0L
    stages.zipWithIndex.foreach { case (st, i) =>
      val (_, s) = Stats.time(t.span(s"stage.${st.typ}") {
        val out = Pipeline.build(spark, st, ctx)(prev)
        planS += Stats.time(out.queryExecution.executedPlan)._2
        if (!st.typ.startsWith("writers.")) {
          val p = root.resolve(f"stage$i%02d").toString
          val plans = Plans.capture(spark)(out.write.mode("overwrite").parquet(p))
          if (st.typ == "filters.radiusoutlier") ringRows = plans.map(Plans.rowsOut(_, "Generate")).sum
          prev = Some(spark.read.parquet(p))
        }
      })
      stageS(st.typ) = (s, t.last(s"stage.${st.typ}"))
    }
    plan = planS
    m("nbr.sor_s", "s") = stageS("filters.outlier")._1
    m("nbr.ror_s", "s") = stageS("filters.radiusoutlier")._1
    m("nbr.pmf_s", "s") = stageS("filters.ground")._1
    m("sources.writer_s", "s") = stageS("writers.las")._1
    val rorTasks = t.tasks(stageS("filters.radiusoutlier")._2)
    val rorIn = spark.read.parquet(root.resolve("stage01").toString).count()
    // the ring explode's output rows per input point: the replication factor
    m("nbr.ring_rows_per_point", "ratio") = ringRows.toDouble / rorIn
    m("nbr.shuffle_records_per_point", "ratio") = rorTasks.shuffleWriteRecords.toDouble / rorIn
    val nbrTasks = Seq("filters.outlier", "filters.radiusoutlier", "filters.ground")
      .map(n => t.tasks(stageS(n)._2))
    m("nbr.shuffle_write_bytes", "B") = nbrTasks.map(_.shuffleWriteBytes).sum.toDouble
    m("nbr.spill_bytes", "B") = nbrTasks.map(_.spillBytes).sum.toDouble
    val reads = rorTasks.shuffleReadRecords.map(_.toDouble).toSeq
    m("nbr.skew_max_over_median", "ratio") = if (reads.isEmpty) 1.0 else reads.max / Stats.median(reads)
  }
}

/** Distributed decode of one seeded point set archived by the engine's
  * own writers in five containers. */
final class ArchiveIngest(spark: SparkSession, seed: Long, val nDocs: Int = 30000)
    extends Workload {
  val name = "archive_ingest"
  override def warmupPasses: Int = 1
  val shards = 8
  private var dir: Path = _
  private var pts: Points = _
  private var plan = 0.0
  private var archiveBytes = 0L
  val xf = LasWriter.XForms(0.5, 0.5, 0.5, 0.0, 0.0, 0.0)

  /** Every read of a pass: (name, frame). */
  private def reads: Seq[(String, DataFrame)] = {
    def glob(sub: String, ext: String) = s"${dir.resolve(sub)}/*.$ext"
    Seq(
      "laz" -> LasDecode.asDistributedDataFrame(spark, glob("laz", "laz")),
      "laz14" -> LasDecode.asChunkSplitDataFrame(spark, dir.resolve("one14.laz").toString),
      "laz14_z" -> LasDecode.asChunkSplitDataFrame(spark, dir.resolve("one14.laz").toString,
        columns = Seq("z")),
      "bpf" -> Bpf.asDistributedDataFrame(spark, glob("bpf", "bpf")),
      "bpf_z" -> Bpf.asDistributedDataFrame(spark, glob("bpf", "bpf"), Seq("z")),
      "pcd" -> Pcd.asDistributedDataFrame(spark, glob("pcd", "pcd")),
      "ply" -> Ply.asDistributedDataFrame(spark, glob("ply", "ply")))
  }

  def pointsPerPass: Long = pts.size.toLong * 7

  def setup(d: Path): Unit = {
    pts = Gen.points(seed, Gen.Uniform, nDocs)
    val (s, n, k) = (seed, nDocs, shards) // the closure must not capture `this`
    val rows = spark.sparkContext.parallelize(0 until k, k).flatMap { f =>
      val per = (n + k - 1) / k
      (f * per until math.min(n, (f + 1) * per)).iterator.flatMap { doc =>
        Gen.doc(s, Gen.Uniform, doc).zipWithIndex.map { case (p, j) =>
          Row(Gen.docId(doc), 3 * j, p(0) * 0.5, p(1) * 0.5, p(2) * 0.5, p(3), f)
        }
      }
    }
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("span_idx", IntegerType),
      StructField("x", DoubleType), StructField("y", DoubleType), StructField("z", DoubleType),
      StructField("intensity", IntegerType), StructField("shard", IntegerType)))
    val df = spark.createDataFrame(rows, schema).localCheckpoint(eager = true)
    LasWriter.writeSharded(d.resolve("laz").toString, df, 1, xf, "shard", compress = true)
    LasWriter.writeLaz(d.resolve("one14.laz").toString,
      df.orderBy("shard", "doc_id", "span_idx"), 6, xf)
    Bpf.writeSharded(d.resolve("bpf").toString, df, "shard", Bpf.WriteOpts(format = Bpf.DimMajor, compression = true))
    Pcd.writeSharded(d.resolve("pcd").toString, df, "shard")
    Ply.writeSharded(d.resolve("ply").toString, df, "shard")
    archiveBytes = Stats.dirBytes(d)
    dir = d
  }

  /** Points of pass `p` skip one z level, so no pass repeats another. */
  private def skipZ(p: Int): Int = (p * 7) % 400

  private def checksumOf(df: DataFrame, p: Int): DataFrame = {
    val q = df.filter(round(col("z") * 2).cast(LongType) =!= skipZ(p))
    def s(c: String) = if (df.columns.contains(c)) sum(round(col(c) * 2).cast(LongType)) else lit(0L)
    q.agg(count(lit(1)), s("x"), s("y"), s("z"),
      if (df.columns.contains("intensity")) sum(round(col("intensity")).cast(LongType)) else lit(0L))
  }

  private def want(p: Int, cols: Set[String]): Expect.Checksum = {
    var n = 0L; var sx = 0L; var sy = 0L; var sz = 0L; var si = 0L
    for (i <- 0 until pts.size if pts.zi(i) != skipZ(p)) {
      n += 1; sx += pts.xi(i); sy += pts.yi(i); sz += pts.zi(i); si += pts.intensity(i)
    }
    Expect.Checksum(n, if (cols("x")) sx else 0, if (cols("y")) sy else 0, sz,
      if (cols("intensity")) si else 0)
  }

  private def runReads(p: Int, each: (String, () => Row) => Row): Seq[(String, Set[String], Row)] = {
    plan = 0.0
    reads.map { case (n, df) =>
      val c = checksumOf(df, p)
      plan += Stats.time(c.queryExecution.executedPlan)._2
      (n, df.columns.toSet, each(n, () => c.head()))
    }
  }

  def pass(p: Int): () => Unit = {
    val got = runReads(p, (_, r) => r())
    () => got.foreach { case (n, cols, r) =>
      val g = Expect.Checksum(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      val w = want(p, cols)
      if (g != w) throw new WrongOutput(s"archive_ingest pass $p read $n: got $g want $w")
    }
  }

  def planSeconds: Double = plan

  def extraMetrics(passS: Double, m: Metrics): Unit =
    m("out_bytes_per_point", "B") = archiveBytes.toDouble / pts.size

  def traced(t: Trace, m: Metrics): Unit = {
    val byRead = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val spans = mutable.ArrayBuffer.empty[Span]
    for (rep <- 0 until 3) {
      runReads(2000 + rep, (n, r) => {
        val (row, s) = Stats.time(t.span(s"ingest.$n")(r()))
        byRead.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
        spans += t.last(s"ingest.$n")
        row
      })
    }
    byRead.foreach { case (n, s) => m(s"sources.ingest_s.$n", "s") = Stats.median(s.toSeq) }
    val busy = spans.map(s => t.tasks(s).runS).sum / 3
    val wall = spans.map(_.seconds).sum / 3
    m("sources.ingest_busy_s", "s") = busy
    m("sources.ingest_parallel_eff", "ratio") = busy / (wall * Main.Cores)
  }
}
