package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.operators._
import graft.sources.{Bpf, DocSynth, Faux, Icebridge, LasDecode, LasWriter, Nitf, Optech, Pcd, Ply, PointCodec, Qfit, RasterWrite, RialtoWrite, Sbet, ShardedWrite, Terrasolid}
import graft.model.Model
import graft.index.CellSpace

/** Declarative pipeline runner — the engine's PipelineManager analog
  * (reference src/PipelineReader.cpp:495-508 parses a stage tree and
  * src/PipelineManager.cpp executes it; ours folds a JSON stage list
  * over a DataFrame and lets Catalyst plan the whole composition as ONE
  * job, fusing adjacent projections/filters that the reference runs as
  * separate per-view loops).
  *
  * Spec shape (PDAL-style JSON stage list):
  * {{{
  * { "pipeline": [
  *     {"type": "readers.faux", "mode": "ramp",
  *      "bounds": [0,0,0,10,100,1000], "count": 1000},
  *     {"type": "filters.range",
  *      "limits": [{"dimension": "z", "min": 4, "max": 6}]},
  *     {"type": "filters.splitter", "length": 100},
  *     {"type": "writers.parquet", "path": "/tmp/out"}
  * ], "checkpoint_root": "/tmp/ck" }
  * }}}
  *
  * With `checkpoint_root` set, every stage marked `"checkpoint": true`
  * (and every writer) persists its output + per-partition lineage
  * manifest; a re-run resumes mid-pipeline at the last stage whose
  * fingerprint (config + upstream fingerprints) still matches.
  */
object Pipeline {
  private implicit val fmt: Formats = DefaultFormats

  final case class StageSpec(typ: String, config: JObject) {
    def str(k: String): Option[String] = (config \ k).extractOpt[String]
    def dbl(k: String): Option[Double] = (config \ k).extractOpt[Double]
    def int(k: String): Option[Int] = (config \ k).extractOpt[Int]
    def bool(k: String): Option[Boolean] = (config \ k).extractOpt[Boolean]
    // json4s extracts a MISSING field as Some(Nil) for collection types;
    // only a PRESENT array counts (a caller doing .map(a => a(0)) on a
    // defaulted empty Seq would blow up)
    def dbls(k: String): Option[Seq[Double]] = (config \ k) match {
      case JArray(_) => (config \ k).extractOpt[Seq[Double]]
      case _ => None
    }
    def strs(k: String): Option[Seq[String]] = (config \ k) match {
      case JArray(_) => (config \ k).extractOpt[Seq[String]]
      case _ => None
    }
    def sets(k: String): Boolean = config.obj.exists(_._1 == k)
    /** The stage's type and config, without the options it ignores: a
      * change to those alone resumes the stage. */
    def fingerprintSource: String = {
      val ignored = Ignored.get(typ).fold(Seq.empty[String])(_._1)
      typ + JsonMethods.compact(JsonMethods.render(
        JObject(config.obj.filterNot(kv => ignored.contains(kv._1)))))
    }
  }

  /** Options a stage accepts for spec compatibility and ignores, with the
    * WARN it logs when they are set: they feed [[warnIgnored]] and are
    * left out of the stage's fingerprint. */
  private val Ignored: Map[String, (Seq[String], String)] = Map(
    "filters.chipper" -> (Seq("method", "auto_threshold"),
      "method and auto_threshold are ignored; the chipper is always exact"),
    "filters.hexbin" -> (Seq("sample_size"),
      "sample_size is ignored; the edge is estimated over the full frame"),
    "readers.las" -> (Seq("splits", "distributed"),
      "splits and distributed are ignored; the read is planned from the file header"))

  def parse(specJson: String): (Seq[StageSpec], Option[String]) = {
    val j = JsonMethods.parse(specJson)
    val stages = (j \ "pipeline") match {
      case JArray(items) => items.collect { case o: JObject =>
        StageSpec((o \ "type").extract[String], o)
      }
      case _ => throw new IllegalArgumentException("spec needs a 'pipeline' array")
    }
    (stages, (j \ "checkpoint_root").extractOpt[String])
  }

  /** One WARN naming the stage (type and tag) about the options it
    * ignores ([[Ignored]]). */
  private def warnIgnored(st: StageSpec): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      st.typ + st.str("tag").fold("")(t => s" '$t'") + ": " + Ignored(st.typ)._2)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Per-run mutable context: the SRS inferred from the last LAS
    * reader's VLRs, consumed by filters.reprojection when `in_srs` is
    * absent or "auto" (the reference's ReprojectionFilter takes the
    * stage input's spatial reference the same way). */
  final class RunCtx {
    var inferredSrs: Option[String] = None
    /** Side-channel per-stage stats (the reference's filters.stats sends
      * its summary to the METADATA tree and passes points through,
      * StatsFilter.cpp:59-71 — mid-chain XML pipelines rely on that).
      * Keyed by stage tag. */
    var sideStats: List[(String, Array[org.apache.spark.sql.Row])] = Nil
    /** The facts as they stand now, for a stage built later. */
    def snapshot: RunCtx = {
      val c = new RunCtx
      c.inferredSrs = inferredSrs; c.sideStats = sideStats
      c
    }
  }

  /** The codec table of the point-format stages: `readers.<fmt>` and
    * `writers.<fmt>` find their [[PointCodec]] here, built from the
    * stage's own options (and, for LAS auto quantization, from the
    * frame a writer writes). */
  private def codecOf(st: StageSpec): Option[DataFrame => PointCodec] = st.typ match {
    case "readers.ply" | "writers.ply" => Some(_ => Ply.Codec(st.str("format").getOrElse(
      if (st.str("shard_column").isDefined) "binary_little_endian" else "ascii")))
    case "readers.pcd" | "writers.pcd" => Some(_ => Pcd.Codec(
      // compression=true mirrors the reference's binary_compressed path
      st.str("data").getOrElse(
        if (st.bool("compression").getOrElse(false)) "binary_compressed" else "ascii"),
      st.bool("shift_origin").getOrElse(false)))
    case "readers.bpf" | "writers.bpf" => Some(_ => Bpf.Codec(
      st.strs("columns").getOrElse(Nil), st.int("count").getOrElse(Int.MaxValue),
      Bpf.WriteOpts(
        format = st.str("format").getOrElse("dimension").toUpperCase match {
          case f if f.contains("POINT") => Bpf.PointMajor
          case f if f.contains("BYTE")  => Bpf.ByteMajor
          case _                        => Bpf.DimMajor
        },
        compression = st.bool("compression").getOrElse(false),
        coordId = st.int("coord_id").getOrElse(0))))
    case "writers.las" => Some { d =>
      val xf = (st.dbls("scale"), st.dbls("offset")) match {
        case (Some(s), Some(o)) => LasWriter.XForms(s(0), s(1), s(2), o(0), o(1), o(2))
        case _ =>
          // auto mode: offset = data min, scale = range / int32 max
          // (reference src/Writer.cpp:86-148 setAutoXForm)
          val a = Quantize.autoXForm(d, Seq("x", "y", "z"))
          LasWriter.XForms(a("x").scale, a("y").scale, a("z").scale,
            a("x").offset, a("y").offset, a("z").offset)
      }
      // a .laz path (or "compression": true) emits LASzip
      LasDecode.Codec(st.int("format").getOrElse(3), xf,
        st.str("path").get.endsWith(".laz") || st.bool("compression").getOrElse(false))
    }
    case "readers.nitf" => Some(_ => Nitf.Codec())
    // `count` prunes the HDF5 chunk B-tree walk to rows [0, count)
    case "readers.icebridge" => Some(_ => Icebridge.Codec(
      st.int("count").map(_.toLong).getOrElse(Long.MaxValue)))
    case "readers.sbet" => Some(_ => Sbet.Codec())
    case "readers.qfit" => Some(_ => Qfit.Codec(
      st.bool("flip_coordinates").getOrElse(true), st.dbl("scale_z").getOrElse(0.001)))
    case "readers.terrasolid" => Some(_ => Terrasolid.Codec())
    case "readers.optech" => Some(_ => Optech.Codec())
    case _ => None
  }

  /** A codec-table stage. A reader reads `path`, one file or a glob, as one
    * scan of whole files ([[PointCodec.read]]). A writer writes its
    * input, after an optional deterministic `order_by` (a file's byte
    * stream is sequential; unordered writes are iterator-order):
    * `shard_column` routes to the executor-parallel [[ShardedWrite]] (one
    * file per distinct shard value under `path` as a directory),
    * otherwise one file from the driver. */
  private def pointStage(spark: SparkSession, st: StageSpec, in: Option[DataFrame],
                         codec: DataFrame => PointCodec): DataFrame = {
    val path = st.str("path").get
    if (st.typ.startsWith("readers.")) PointCodec.read(spark, path, codec(null)) // no frame: a reader
    else {
      val d = st.strs("order_by").filter(_.nonEmpty)
        .map(cs => in.get.orderBy(cs.map(col): _*)).getOrElse(in.get)
      st.str("shard_column") match {
        case Some(sc) => ShardedWrite.run(d, path, sc, codec(d))
        case None => codec(d).write(path, d)
      }
      d
    }
  }

  /** Build one stage's transformation. Readers ignore their input. */
  def build(spark: SparkSession, st: StageSpec,
            ctx: RunCtx = new RunCtx): Option[DataFrame] => DataFrame = {
    val t = st.typ
    val codec = codecOf(st)
    in => t match {
      // ---- point-format readers and writers: the codec table -----------
      case _ if codec.isDefined => pointStage(spark, st, in, codec.get)
      // ---- readers -----------------------------------------------------
      case "readers.doc" =>
        val docs = st.str("path") match {
          case Some(p) => spark.read.schema(Model.docSchema).parquet(p) // no footer job
          case None => DocSynth.cachedDocs(spark, st.str("sf_dir")
            .getOrElse(throw new IllegalArgumentException("readers.doc needs path or sf_dir")))
        }
        Model.explodePoints(docs)
      case "readers.parquet" =>
        spark.read.parquet(st.str("path").get)
      case "readers.faux" =>
        val b = st.dbls("bounds").map(a => Faux.Box3(a(0), a(1), a(2), a(3), a(4), a(5)))
          .getOrElse(Faux.Box3(0, 0, 0, 1, 1, 1))
        val n = st.int("count").getOrElse(1000).toLong
        st.str("mode").getOrElse("ramp") match {
          case "ramp" => Faux.ramp(spark, b, n)
          case "constant" => Faux.constant(spark, b, n)
          case "uniform" => Faux.uniform(spark, b, n, st.int("seed").getOrElse(42).toLong)
          case "normal" =>
            val mean = st.dbls("mean").getOrElse(Seq(0.0, 0.0, 0.0))
            val stdev = st.dbls("stdev").getOrElse(Seq(1.0, 1.0, 1.0))
            Faux.normal(spark, (mean(0), mean(1), mean(2)),
              (stdev(0), stdev(1), stdev(2)), n, st.int("seed").getOrElse(42).toLong)
          case m => throw new IllegalArgumentException(s"faux mode $m")
        }
      case "readers.las" =>
        // a glob reads whole files in packed tasks; one file is planned from its
        // header (LasDecode.asDataFrame): LAZ chunks, where `columns`
        // prunes entropy layers and `bounds` prunes tiled-archive chunks
        // (exactness still comes from a downstream filters.crop), or
        // record ranges of an uncompressed file
        val path = st.str("path").get
        if (Ignored(st.typ)._1.exists(st.sets)) warnIgnored(st)
        val columns = st.strs("columns").getOrElse(Nil)
        if (PointCodec.isGlob(path))
          LasDecode.project(PointCodec.read(spark, path, LasDecode.Codec()), columns)
        else {
          // the file's SRS, from its VLR GeoTIFF keys / WKT record, for
          // a downstream filters.reprojection in auto mode
          ctx.inferredSrs = LasDecode.srsOf(path)
          LasDecode.asDataFrame(spark, path, columns = columns,
            bounds = st.dbls("bounds").getOrElse(Nil))
        }

      // ---- filters -----------------------------------------------------
      case "filters.range" =>
        val limits = (st.config \ "limits") match {
          case JArray(ls) => ls.map { l =>
            PointOps.DimRange((l \ "dimension").extract[String],
              (l \ "min").extractOpt[Double].getOrElse(Double.NegativeInfinity),
              (l \ "max").extractOpt[Double].getOrElse(Double.PositiveInfinity))
          }
          case _ => throw new IllegalArgumentException("filters.range needs limits")
        }
        PointOps.range(limits)(in.get)
      case "filters.crop" =>
        (st.str("polygon"), st.dbls("bounds")) match {
          case (Some(wkt), _) =>
            JoinOps.cropPolygon(wkt, st.bool("outside").getOrElse(false),
              space(st))(in.get)
          case (_, Some(a)) =>
            val b = if (a.length == 6) PointOps.Box3D(a(0), a(1), a(2), a(3), a(4), a(5))
                    else PointOps.Box3D(a(0), a(1), Double.NegativeInfinity,
                      a(2), a(3), Double.PositiveInfinity)
            PointOps.cropBox(b, st.bool("outside").getOrElse(false))(in.get)
          case _ => throw new IllegalArgumentException("filters.crop needs polygon or bounds")
        }
      case "filters.decimation" =>
        PointOps.decimation(st.int("step").getOrElse(1), st.int("offset").getOrElse(0),
          st.int("limit").map(_.toLong), st.str("ordinal").getOrElse("span_idx"))(in.get)
      case "filters.ferry" =>
        val pairs = st.strs("dimensions").getOrElse(Nil).map { d =>
          val Array(from, to) = d.split("=>").map(_.trim); (from, to)
        }
        PointOps.ferry(pairs)(in.get)
      case "filters.transformation" =>
        val m = st.str("matrix").get.trim.split("\\s+").map(_.toDouble)
        PointOps.transformation(m)(in.get)
      case "filters.assign" =>
        PointOps.assignConstant(st.str("dimension").get, st.dbl("value").get)(in.get)
      case "filters.sort" =>
        PointOps.sortBy(st.str("dimension").getOrElse("x"))(in.get)
      case "filters.mortonorder" =>
        PointOps.mortonOrder(space(st))(in.get)
      case "filters.splitter" =>
        // origin defaults to the FIRST point like the reference
        // (SplitterFilter.cpp:101-106); "first" in a distributed frame =
        // the (doc_id, span_idx)-least row, which for file ingest is the
        // file's first record. One bounded single-row job, only when
        // the origin is left unspecified.
        val (ox, oy) = (st.dbl("origin_x"), st.dbl("origin_y")) match {
          case (Some(a), Some(b)) => (a, b)
          case (optX, optY) =>
            // SplitterFilter::run emits an empty set for empty input —
            // fall back to (0,0) (any origin works for zero points)
            // rather than throwing from head() on an empty frame
            val first = in.get.orderBy(col("doc_id"), col("span_idx"))
              .select(col("x"), col("y")).take(1).headOption
            (optX.getOrElse(first.map(_.getDouble(0)).getOrElse(0.0)),
             optY.getOrElse(first.map(_.getDouble(1)).getOrElse(0.0)))
        }
        TileOps.splitter(st.dbl("length").getOrElse(1000.0), ox, oy)(in.get)
      case "filters.chipper" =>
        // one exact chipper; `method` and `auto_threshold` are accepted for
        // spec compatibility and ignored, with a WARN
        if (st.str("method").exists(_ != "exact") || st.sets("auto_threshold")) warnIgnored(st)
        TileOps.chipper(st.int("capacity").getOrElse(5000).toLong)(in.get)
      case "filters.stats" =>
        AggOps.stats(st.strs("dimensions").getOrElse(Seq("x", "y", "z")),
          st.strs("enumerate").getOrElse(Nil).toSet)(in.get)
      case "filters.stats_passthrough" =>
        // the reference's actual stats-filter contract: points flow
        // through unchanged, the summary goes to the side channel
        val d = in.get
        val dims = st.strs("dimensions").getOrElse(Seq("x", "y", "z"))
          .filter(d.columns.contains)
        ctx.sideStats ::= (st.str("tag").getOrElse("stats"),
          AggOps.stats(dims, st.strs("enumerate").getOrElse(Nil)
            .filter(d.columns.contains).toSet)(d).collect())
        d
      case "filters.voxelgrid" =>
        AggOps.voxelGrid(st.dbl("lx").getOrElse(1.0), st.dbl("ly").getOrElse(1.0),
          st.dbl("lz").getOrElse(1.0))(in.get)
      case "filters.gridmin" =>
        AggOps.gridMinimum(st.dbl("cell").getOrElse(1.0))(in.get)
      case "filters.hexbin" =>
        // reference option surface (HexBin.cpp:54-74): edge_length with
        // edge_size as the legacy alias; edge absent/0 -> estimated.
        // hexer's sample-based sizing lives in the external hexer lib;
        // the engine's documented estimator is density-matched sizing
        // edge = 2*sqrt(bbox_area / n) over the FULL frame (one
        // aggregate) — deterministic and partition-invariant, unlike a
        // limit()-sample; sample_size is accepted for spec compat and
        // ignored, with a WARN
        val edgeOpt = st.dbl("edge_length").orElse(st.dbl("edge_size"))
          .orElse(st.dbl("edge")).filter(_ != 0.0)
        val edge = edgeOpt.getOrElse {
          if (st.sets("sample_size")) warnIgnored(st)
          val s = in.get
            .agg(min("x"), max("x"), min("y"), max("y"), count(lit(1))).head()
          if (s.isNullAt(0)) 10.0 // empty input: any edge yields an empty grid
          else {
            val n = math.max(s.getLong(4), 1L)
            val area = math.max((s.getDouble(1) - s.getDouble(0)) *
              (s.getDouble(3) - s.getDouble(2)), 1e-12)
            2.0 * math.sqrt(area / n.toDouble)
          }
        }
        TileOps.hexDensity(edge)(in.get)
      case "filters.reprojection" =>
        // any registered SRS pair composes through geographic coordinates.
        // in_srs "auto" (or absent, when a LAS reader inferred one) takes
        // the SRS read from the source file's VLRs — the reference takes
        // the stage input's spatial reference the same way
        // (ReprojectionFilter.cpp:131-180).
        val inSrs = st.str("in_srs") match {
          case Some("auto") => ctx.inferredSrs.getOrElse(
            throw new IllegalArgumentException(
              "in_srs=auto but no SRS could be inferred from the source " +
                "(no LASF_Projection VLR, or EPSG code outside the registry)"))
          case Some(s) => s
          case None => ctx.inferredSrs.getOrElse("")
        }
        // optional NTv2 datum grid (.gsb) for nad27:* endpoints — read
        // through the Hadoop FS so object-store paths work; parsed once
        // on the driver, broadcast to executors inside the expression
        val grid = st.str("grid").map { gp =>
          val hp = new org.apache.hadoop.fs.Path(gp)
          val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val in2 = fs.open(hp)
          val bytes = try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in2)
          finally in2.close()
          graft.sources.Ntv2.parse(bytes)
        }
        val outsidePass = st.str("outside").contains("pass")
        Reproject.transform(inSrs, st.str("out_srs").getOrElse("EPSG:4326"),
          grid, outsidePass)(in.get)
      case "filters.ground" =>
        val gp = GroundOps.PmfParams(
          cellSize = st.dbl("cell_size").getOrElse(1.0),
          maxWindowSize = st.dbl("max_window_size").getOrElse(33.0),
          slope = st.dbl("slope").getOrElse(1.0),
          initialDistance = st.dbl("initial_distance").getOrElse(0.15),
          maxDistance = st.dbl("max_distance").getOrElse(2.5))
        val gext = st.bool("extract").getOrElse(false)
        // reference default approximate=false -> the EXACT per-point
        // PMF; approximate=true -> the grid PMF (GroundFilter.cpp:72,119)
        if (st.bool("approximate").getOrElse(false))
          GroundOps.pmf(gp, gext)(in.get)
        else GroundOps.pmfExact(gp, gext)(in.get)
      case "filters.pclblock" =>
        // PCL sub-pipeline (PCLBlock.cpp:58-62: filename or inline json)
        (st.str("filename"), st.str("json")) match {
          case (Some(fn), _) => PclBlock.runFile(in.get, fn)
          case (None, Some(js)) => PclBlock.run(in.get, js)
          case _ => throw new IllegalArgumentException(
            "filters.pclblock needs 'filename' or 'json' (No PCL pipeline specified!)")
        }
      case "filters.outlier" =>
        // level omitted -> density-based auto start (JoinOps.knnAutoLevel)
        JoinOps.statisticalOutlierRemoval(st.int("mean_k").getOrElse(8),
          st.dbl("multiplier").getOrElse(2.0),
          st.int("level").getOrElse(JoinOps.AutoLevel), space(st))(in.get)
      case "filters.smooth" =>
        SmoothOps.mlsSmooth(st.dbl("radius").getOrElse(1.0),
          st.int("level").getOrElse(8),
          st.int("polynomial_order").getOrElse(2), space(st))(in.get)
      case "filters.merge" =>
        in.get // n-ary merge handled by the runner (union of its inputs)
      case "writers.rialto" =>
        val d = in.get
        RialtoWrite.write(st.str("path").get, d,
          st.int("max_level").getOrElse(16),
          st.str("ordinal").getOrElse("span_idx"),
          st.bool("overwrite").getOrElse(false)): Unit
        d
      case "filters.lod" =>
        TileOps.lodPyramid(st.int("max_level").getOrElse(4), space(st),
          st.str("ordinal").getOrElse("span_idx"))(in.get)
      case "filters.radiusoutlier" =>
        InfoOps.radiusOutlierRemoval(st.dbl("radius").getOrElse(1.0),
          st.int("min_neighbors").getOrElse(2), st.int("level").getOrElse(6),
          space(st))(in.get)
      case "filters.adaptivecells" =>
        SkewOps.adaptiveCells(st.int("budget").getOrElse(100000).toLong,
          st.int("base_level").getOrElse(4), st.int("max_level").getOrElse(12),
          space(st))(in.get)
      case "filters.colorization" =>
        // raster from parquet (px, py, band columns) or a .tif written
        // by writers.p2g (single Float32 band named "band1"; the
        // geotransform comes from its ModelPixelScale/ModelTiepoint
        // tags — like the reference's GDALOpen path)
        val rPath = st.str("raster").get
        val (raster, gt) =
          if (rPath.toLowerCase.endsWith(".tif")) {
            val (w, h, (sx, sy), (ox, oy), vals) = RasterWrite.readGeoTiff(
              java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(rPath)))
            val rows = for (r <- 0 until h; c <- 0 until w;
                v = vals(r * w + c); if v != RasterWrite.NoData.toFloat)
              yield (c.toLong, r.toLong, v.toDouble)
            import spark.implicits._
            (spark.createDataset(rows).toDF("px", "py", "band1"),
              Array(ox, sx, 0.0, oy, 0.0, -sy))
          } else (spark.read.parquet(rPath), st.dbls("geotransform").get.toArray)
        val bands = st.strs("bands").getOrElse(Nil).map { b =>
          val Array(rc, dim, sc) = b.split(":"); (rc, dim, sc.toDouble)
        }
        JoinOps.colorize(raster, gt, bands)(in.get)
      case "writers.p2g" =>
        val (dx, dy) = (st.dbl("dx").getOrElse(1.0), st.dbl("dy").getOrElse(1.0))
        val (ox, oy) = (st.dbl("origin_x").getOrElse(0.0), st.dbl("origin_y").getOrElse(0.0))
        val d = AggOps.p2gRaster(dx, dy,
          st.dbl("radius").getOrElse(0.7), ox, oy,
          st.int("fill_window_size").getOrElse(0))(in.get)
        // `path` = the scale path (partitioned cell table); `filename` =
        // the reference's single-file raster emit, one file per
        // output_type x output_format (P2gWriter.cpp options)
        st.str("path").foreach(p => d.write.mode("overwrite").parquet(p))
        st.str("filename").foreach { f =>
          RasterWrite.writeP2g(f, d, dx, dy, ox, oy,
            st.strs("output_type").getOrElse(Nil),
            st.str("output_format").getOrElse("grid")): Unit
        }
        require(st.str("path").isDefined || st.str("filename").isDefined,
          "writers.p2g: need `path` (cell table) or `filename` (raster files)")
        d

      // ---- writers -----------------------------------------------------
      case "writers.parquet" =>
        val d0 = in.get
        val byTile = st.strs("partition_by").getOrElse(Nil)
        // optional deterministic salting: hot tiles write from `salts`
        // tasks instead of one (the db-block writers' chip-then-write
        // discipline, skew-proofed)
        val d = st.int("salts") match {
          case Some(s) if s > 1 && byTile.nonEmpty =>
            SkewOps.saltedRepartition(byTile.map(col), s)(d0).drop("__salt")
          case _ => d0
        }
        val w = d.write.mode("overwrite")
        (if (byTile.nonEmpty) w.partitionBy(byTile: _*) else w).parquet(st.str("path").get)
        d
      case "writers.sbet" =>
        Sbet.write(st.str("path").get, in.get)
        in.get
      case "writers.nitf" =>
        val d = st.strs("order_by").filter(_.nonEmpty)
          .map(cs => in.get.orderBy(cs.map(col): _*)).getOrElse(in.get)
        val xf = (st.dbls("scale"), st.dbls("offset")) match {
          case (Some(s0), Some(o)) =>
            LasWriter.XForms(s0(0), s0(1), s0(2), o(0), o(1), o(2))
          case _ => LasWriter.XForms(0.01, 0.01, 0.01, 0, 0, 0)
        }
        Nitf.write(st.str("path").get, d, st.int("format").getOrElse(1), xf)
        d
      case "writers.csv" =>
        val d = in.get
        d.write.mode("overwrite").option("header", "true").csv(st.str("path").get)
        d
      case "writers.noop" =>
        val d = in.get; d.write.format("noop").mode("overwrite").save(); d
      case "writers.doc" =>
        // re-implode points into the canonical doc table before writing
        val docs = Model.implode(DocSynth.cachedDocs(spark, st.str("sf_dir").get), in.get)
        docs.write.mode("overwrite").parquet(st.str("path").get)
        docs

      case other => throw new IllegalArgumentException(s"unknown stage type $other")
    }
  }

  private def space(st: StageSpec): CellSpace =
    st.dbls("space").map(a => CellSpace(a(0), a(1), a(2), a(3)))
      .getOrElse(CellSpace.default)

  final case class RunResult(df: DataFrame, resumedStages: Seq[String],
                             ranStages: Seq[String])

  /** Stages built as soon as the runner reaches them: external side
    * effects (writers, the stats side channel) and readers, whose build
    * records facts (SRS, point count) for later stages. Every other
    * stage is built only when a stage that runs forces its output. */
  private def eager(typ: String): Boolean =
    typ.startsWith("writers.") || typ == "filters.stats_passthrough" ||
      typ == "readers.las" || typ == "readers.faux"

  /** Execute a pipeline spec — a DAG, not just a chain. Stages may carry
    * a `"tag"` and reference earlier tags via `"inputs": [tag, ...]`
    * (the reference's multi-input stage graph, src/PipelineReader.cpp:
    * 362,440 setInput loops; kernels/merge/MergeKernel.cpp). A stage
    * without explicit inputs consumes the previous stage's output;
    * `filters.merge` unions ALL its inputs (n-ary).
    *
    * Fingerprints are content-addressed per stage: md5(own config +
    * every input's fingerprint) — any upstream edit invalidates exactly
    * the downstream cone. With a checkpoint root, stages marked
    * `"checkpoint": true` (and writers) persist output + lineage; a
    * re-run resumes every stage whose fingerprint still matches. A
    * resumed WRITER additionally re-verifies its external destination
    * and re-runs if the destination has been deleted out from under the
    * checkpoint (the checkpoint proves the work, not the side effect).
    *
    * Building is lazy: a pure stage (not checkpointed, no side effect) is
    * built only when a stage that runs consumes it, with the run facts as
    * they stood at its position — so a resume never rebuilds the pure
    * stages upstream of its checkpoints. The last stage is always built. */
  def run(spark: SparkSession, specJson: String): RunResult = {
    val (stages, ckRoot) = parse(specJson)
    require(stages.nonEmpty, "empty pipeline")
    val ctx = new RunCtx
    var prev: Option[(() => DataFrame, String)] = None
    val byTag = scala.collection.mutable.Map.empty[String, (() => DataFrame, String)]
    var resumed = Vector.empty[String]
    val ran = scala.collection.mutable.SortedSet.empty[String]
    stages.zipWithIndex.foreach { case (st, i) =>
      val stageId = f"$i%03d_${st.typ.replace('.', '_')}"
      // json4s extracts a MISSING array field as Some(Nil) — only a
      // present, non-empty "inputs" array is an explicit input list
      val explicitInputs = (st.config \ "inputs") match {
        case JArray(tags) if tags.nonEmpty => st.strs("inputs")
        case _ => None
      }
      val inputs: Seq[(() => DataFrame, String)] = explicitInputs match {
        case Some(tags) => tags.map(t => byTag.getOrElse(t,
          throw new IllegalArgumentException(s"stage $stageId references unknown tag '$t'")))
        case None => if (st.typ.startsWith("readers.")) Nil else prev.toSeq
      }
      val fingerprint = md5Hex(inputs.map(_._2).mkString("|") + st.fingerprintSource)
      val wantCk = ckRoot.isDefined &&
        (st.bool("checkpoint").getOrElse(false) || st.typ.startsWith("writers."))
      // a resumed writer whose declared output path no longer exists must
      // re-run — resuming would report success with no output materialized.
      // Resolved through the session's Hadoop FileSystem so hdfs://,
      // s3a:// and file:// destinations are all checked (a bare
      // Files.exists would see every remote URI as absent and force a
      // rewrite on every resume).
      val destinationIntact = !st.typ.startsWith("writers.") ||
        st.str("path").forall { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
        }
      // optional deep check: recompute the checkpoint's lineage digests
      // before trusting it (bit rot / out-of-band edits)
      def digestsIntact = !st.bool("validate_resume").getOrElse(false) ||
        Manifest.validate(spark, ckRoot.get, stageId)
      val df: () => DataFrame =
        if (wantCk && Manifest.resumable(ckRoot.get, stageId, fingerprint) &&
            destinationIntact && digestsIntact) {
          resumed :+= stageId
          // a resumed LAS reader still feeds SRS inference downstream
          // (header+VLR read only — no point data)
          if (st.typ == "readers.las")
            st.str("path").filterNot(PointCodec.isGlob)
              .foreach(p => ctx.inferredSrs = LasDecode.srsOf(p))
          memo(Manifest.readData(spark, ckRoot.get, stageId))
        } else {
          val stageCtx = if (eager(st.typ) || wantCk) ctx else ctx.snapshot
          val built = memo {
            var out = st.typ match {
              case "filters.merge" if inputs.size > 1 =>
                inputs.map(_._1()).reduce(_ unionByName _)
              case _ => build(spark, st, stageCtx)(inputs.headOption.map(_._1()))
            }
            if (wantCk) {
              Manifest.checkpoint(ckRoot.get, stageId, fingerprint,
                explicitInputs.getOrElse(if (i > 0) Seq(f"${i - 1}%03d") else Nil), out)
              out = Manifest.readData(spark, ckRoot.get, stageId)
            }
            ran += stageId
            out
          }
          if (eager(st.typ) || wantCk) built()
          built
        }
      st.str("tag").foreach(t => byTag(t) = (df, fingerprint))
      prev = Some((df, fingerprint))
    }
    val last = prev.get._1()
    RunResult(last, resumed, ran.toSeq)
  }

  /** `body`, evaluated once, on first call. */
  private def memo(body: => DataFrame): () => DataFrame = {
    lazy val v = body
    () => v
  }
}
