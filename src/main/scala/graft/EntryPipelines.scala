package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.{DocSynth, Oracle}
import graft.operators._

/** Second query batch: grid-kNN family, raster aggregation, hex density,
  * reprojection, chipper/PMF (rows-only), and the training-data pipeline
  * suite (text analysis, dedup, ANN, multimodal). Merged into
  * SparkEntry.queries/oracleSql. */
object EntryPipelines {

  private def pts(s: SparkSession, dir: String): DataFrame = DocSynth.points(s, dir)
  private def docs(s: SparkSession, dir: String): DataFrame = {
    // the sandbox documents parquet is one file (one scan partition):
    // fan out so per-row text analysis uses every core — but only when
    // the scan actually under-partitions (a real multi-file table is
    // already parallel; don't bake a full shuffle into the helper)
    val df = s.read.parquet(s"$dir/documents.parquet")
    val par = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= par) df else df.repartition(par)
  }
  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** One stable per-SESSION store dir (appId-suffixed) for the stored
    * ANN layouts, reused via overwrite mode — repeated oracle/bench runs
    * in one session do not accrete stores, concurrent sessions on one
    * host cannot interleave overwrites of the same store, and a JVM
    * shutdown hook removes the dir so runs don't accrete ACROSS
    * sessions either (one hook per distinct dir). */
  private val hookedDirs = scala.collection.concurrent.TrieMap.empty[String, Unit]
  private def sessionStoreDir(s: SparkSession, prefix: String): String = {
    val dir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"),
      s"$prefix-${s.sparkContext.applicationId}").toString
    hookedDirs.putIfAbsent(dir, ()) match {
      case None =>
        Runtime.getRuntime.addShutdownHook(new Thread(() => {
          def rm(p: java.io.File): Unit = {
            val kids = p.listFiles()
            if (kids != null) kids.foreach(rm)
            p.delete(): Unit
          }
          rm(new java.io.File(dir))
        }))
      case Some(_) =>
    }
    dir
  }

  /** Query vector for ANN fixtures: a deterministic unit-ish vector. */
  private val queryVec: Array[Double] =
    Array.tabulate(64)(d => math.sin(d + 1.0))
  private def queryVecSql: String =
    queryVec.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")

  // ---------------------------------------------------------------------
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- grid-partitioned kNN family ---------------------------------
    "q_knn_delta" -> ((s, dir) => {
      val p = pts(s, dir)
      val src = p.filter(col("intensity") % 89 === 0)
      val cand = p.filter(col("intensity") % 97 === 0)
      JoinOps.delta(src, cand, level = JoinOps.AutoLevel)
        .select("doc_id", "span_idx", "dx", "dy", "dz")
    }),

    "q_sor" -> ((s, dir) => {
      val sub = pts(s, dir).filter(col("intensity") % 19 === 0)
      JoinOps.statisticalOutlierRemoval(k = 4, multThresh = 1.0,
        level = JoinOps.AutoLevel)(sub)
        .select("doc_id", "span_idx")
    }),

    // ---- raster aggregation / hex density ----------------------------
    "q_p2g" -> ((s, dir) =>
      AggOps.p2gRaster(32, 32, 22.6, 0, 0)(pts(s, dir))
        .select(col("px"), col("py"), col("den"), col("zmin"), col("zmax"),
          col("zmean"), round(col("zidw"), 5).as("zidw5"),
          round(col("zstd"), 5).as("zstd5"))),

    // the reference's default nodata window fill (fill_window_size=3):
    // empty in-grid cells take the 1/d^2-weighted mean of their
    // non-empty (2w+1)^2 neighbors; filled cells carry den=0
    "q_p2g_fill" -> ((s, dir) =>
      AggOps.p2gRaster(32, 32, 22.6, 0, 0, fillWindowSize = 3)(pts(s, dir))
        .select(col("px"), col("py"), col("den"),
          round(col("zmin"), 5).as("zmin5"), round(col("zmax"), 5).as("zmax5"),
          round(col("zmean"), 5).as("zmean5"), round(col("zidw"), 5).as("zidw5"),
          round(col("zstd"), 5).as("zstd5"))),

    "q_hexbin" -> ((s, dir) =>
      TileOps.hexDensity(50.0)(pts(s, dir))
        .select("hex_q", "hex_r", "density")),

    "q_reproject" -> ((s, dir) => {
      val meters = pts(s, dir).withColumns(Map(
        "x" -> ((col("x") - 512) * 50000), "y" -> ((col("y") - 512) * 20000)))
      Reproject.webMercatorToGeo(meters)
        .select(col("doc_id"), col("span_idx"),
          round(col("x"), 9).as("lon9"), round(col("y"), 9).as("lat9"))
    }),

    // NTv2 NAD27->NAD83 datum grid shift (codegen'd GridShift expression
    // over the demo grid, constructed THROUGH the .gsb write->parse
    // codec). The oracle mirrors Ntv2.bilinear/demoLatShift/demoLonShift
    // term for term — any edit there must be mirrored in gridShiftSql.
    "q_grid_shift" -> ((s, dir) => {
      val g = graft.sources.Ntv2.demoGrid()
      val geo = pts(s, dir).withColumns(Map(
        "x" -> (lit(-125.0) + col("x") * lit(9.0 / 1024)),
        "y" -> (lit(40.0) + col("y") * lit(8.0 / 1024))))
      Reproject.gridShiftForward(g)(geo)
        .select(col("doc_id"), col("span_idx"),
          round(col("x"), 9).as("lon9"), round(col("y"), 9).as("lat9"))
    }),

    // ---- rows-only coverage (no ANSI-SQL oracle) ---------------------
    "q_chipper" -> ((s, dir) =>
      // chip sizes follow the cumulate-and-round formula exactly, so the
      // oracle recomputes them from count(*) alone (membership itself is
      // covered by the golden P1065 fixture)
      TileOps.chipper(4096)(pts(s, dir))
        .groupBy(col("chip")).agg(count(lit(1)).as("n"))),

    "q_pmf_ground" -> ((s, dir) =>
      GroundOps.pmf(GroundOps.PmfParams(cellSize = 16, maxWindowSize = 9,
        slope = 1.0, initialDistance = 2.0, maxDistance = 20.0))(pts(s, dir))
        .groupBy(col("classification")).agg(count(lit(1)).as("n"))),

    // EXACT per-point PMF — the reference's DEFAULT filters.ground branch
    // (GroundFilter.cpp:72 approximate=false): per-point classification
    // emitted row-for-row, not just counts. PCL ladder with cellSize=4,
    // maxWindowSize=40 -> windows {12,20,36,68} (the last overshoots max,
    // per the published schedule), half-extents {6,10,18,34}, thresholds
    // {2,20,20,20}. Runs on the intensity%23 subset (the q_ror pattern):
    // the full-density cloud pays ~230M window pairs in round 1 at
    // sf0.1 for no extra signal — the reference-golden PclBlockGoldenSpec
    // exercises the operator on a full cloud.
    "q_pmf_exact" -> ((s, dir) =>
      GroundOps.pmfExact(GroundOps.PmfParams(cellSize = 4, maxWindowSize = 40,
        slope = 1.0, initialDistance = 2.0, maxDistance = 20.0))(
        pts(s, dir).filter(col("intensity") % 23 === 0))
        .select(col("doc_id"), col("span_idx"),
          col("classification").cast("int").as("cls"))),

    "q_ann_lsh" -> ((s, dir) =>
      AnnOps.lshTopK(queryVec, k = 20, planes = 6)(embs(s, dir))
        .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim6"))),

    // the filters.pclblock STAGE itself under the oracle: a PassThrough
    // -> VoxelGrid PCL sub-pipeline, including the reference's
    // min-bounds shift + float32 narrowing (exact here: shifted coords
    // are 0.5-multiples <= 1024, representable in float32, so centroid
    // sums are order-free integers-of-halves on both engines)
    "q_pclblock" -> ((s, dir) =>
      graft.plans.PclBlock.run(pts(s, dir),
        """{"pipeline":{"filters":[
          {"name":"PassThrough","setFilterFieldName":"z",
           "setFilterLimits":{"min":100.0,"max":300.0}},
          {"name":"VoxelGrid","setLeafSize":{"x":64.0,"y":64.0,"z":16.0}}]}}""")
        .select("x", "y", "z")),

    // ---- text analysis ------------------------------------------------
    "q_token_count" -> ((s, dir) =>
      TextOps.tokenCounts(docs(s, dir))),

    // rank-ordered byte-pair-merge tokenizer (real BPE encode over the
    // fixture merge table, codegen'd expression)
    "q_token_bpe" -> ((s, dir) =>
      TextOps.bpeTokenCounts(docs(s, dir))),

    "q_quality" -> ((s, dir) =>
      TextOps.qualityScore(docs(s, dir))
        .select(col("doc_id"), col("len"), col("n_words"), col("n_stop"),
          round(col("alpha_ratio"), 6).as("alpha6"),
          round(col("punct_ratio"), 6).as("punct6"),
          round(col("stop_ratio"), 6).as("stop6"))),

    "q_langid" -> ((s, dir) =>
      TextOps.langId(docs(s, dir))
        .select("doc_id", "en", "de", "fr", "es", "lang_pred")),

    // ---- deduplication ------------------------------------------------
    "q_dedup_exact" -> ((s, dir) =>
      TextOps.dedupExact(docs(s, dir))),

    "q_minhash_dedup" -> ((s, dir) =>
      TextOps.minhashDedup(numPerms = 16, shingleN = 3, bands = 4)(docs(s, dir))),

    "q_dedup_cc" -> ((s, dir) =>
      TextOps.minhashDedupCC(numPerms = 16, shingleN = 3, bands = 4)(docs(s, dir))),

    // substring-level exact dedup (duplicated 6-word spans corpus-wide)
    "q_substring_dup" -> ((s, dir) =>
      TextOps.substringDup(n = 6)(docs(s, dir))),

    // corpus-delta dedup: batch = doc_id % 3 == 0 vs corpus = the rest;
    // Bloom prefilter + exact confirm — output equals a plain anti-join
    "q_bloom_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("doc_id").cast("bigint") % 3 =!= 0)
      val batch = d.filter(col("doc_id").cast("bigint") % 3 === 0)
      TextOps.bloomDeltaDedup(corpus, batch).select("doc_id", "fp")
    }),

    "q_simhash" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        SimHash64.col(TextOps.wordsCol).as("simhash"))),

    "q_fingerprint" -> ((s, dir) =>
      TextOps.rollingFingerprintRows(docs(s, dir))),

    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docs(s, dir)
      val pairs = d.select(col("doc_id").as("a_id"), (col("doc_id") + 1).as("b_id"))
        .join(d.select(col("doc_id").as("b_id")), "b_id")
        .select("a_id", "b_id")
      TextOps.ngramJaccard(d, pairs, shingleN = 2)
        .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
          round(col("jaccard"), 6).as("jaccard6"))
    }),

    // ---- similarity search --------------------------------------------
    "q_ann_cosine" -> ((s, dir) =>
      AnnOps.cosineTopK(queryVec, k = 25)(embs(s, dir))
        .select(col("vec_id"), col("label"), round(col("sim"), 6).as("sim6"))),

    "q_near_dup" -> ((s, dir) =>
      AnnOps.cosineNearDupPairs(planes = 6, dims = 64, threshold = 0.15)(embs(s, dir))
        .select(col("a_id"), col("b_id"), round(col("sim"), 6).as("sim6"))),

    "q_ann_ivf" -> ((s, dir) =>
      AnnOps.ivfTopK(queryVec, k = 20, nLists = 16, nProbe = 4)(embs(s, dir))
        .select(col("vec_id"), col("label"), col("list"),
          round(col("sim"), 6).as("sim6"))),

    // the STORED IVF layout: one deterministic k-means refinement round,
    // list-partitioned parquet write, probe run cold against the stored
    // table (partition pruning — the 100 TB vector-store path)
    "q_ann_ivf_stored" -> ((s, dir) => {
      AnnOps.ivfStoredTopK(queryVec, k = 20, nLists = 16, nProbe = 4,
        kmeansIters = 1, storageDir = sessionStoreDir(s, "graft-ivf-store"))(embs(s, dir))
        .select(col("vec_id"), col("label"), col("list"),
          round(col("sim"), 6).as("sim6"))
    }),

    // IVF-PQ: product-quantized residual codes over the stored layout —
    // the probe scans only the codes column of the pruned partitions,
    // top-60 ADC candidates exact-reranked via one broadcast join
    "q_ann_ivf_pq" -> ((s, dir) => {
      AnnOps.ivfPqStoredTopK(queryVec, k = 20, nLists = 16, nProbe = 4,
        m = 8, codebookK = 16, nCand = 60,
        storageDir = sessionStoreDir(s, "graft-ivfpq-store"))(embs(s, dir))
        .select(col("vec_id"), col("label"), col("list"),
          round(col("sim"), 6).as("sim6"))
    }),

    "q_quantize" -> ((s, dir) => {
      val xf = Map(
        "x" -> Quantize.XForm(0.03, 100.0),
        "y" -> Quantize.XForm(0.07, -50.0),
        "z" -> Quantize.XForm(0.011, 0.0))
      Quantize.quantize(xf)(pts(s, dir))
        .select(col("doc_id"), col("span_idx"), col("x_i"), col("y_i"), col("z_i"))
    }),

    "q_ror" -> ((s, dir) => {
      val sub = pts(s, dir).filter(col("intensity") % 23 === 0)
      InfoOps.radiusOutlierRemoval(radius = 40.0, minNeighbors = 2, level = 4)(sub)
        .select("doc_id", "span_idx")
    }),

    "q_knn_query" -> ((s, dir) =>
      InfoOps.knnQuery(333.3, 444.4, k = 50)(pts(s, dir))
        .select("doc_id", "span_idx", "x", "y", "dist")),

    "q_salted_agg" -> ((s, dir) => {
      val tiled = TileOps.splitter(64.0, 0.0, 0.0)(pts(s, dir))
      SkewOps.saltedAgg(Seq(col("tile_x"), col("tile_y")), salts = 8,
        partialExprs = Seq(count(lit(1)).as("pn"), sum(col("z")).as("ps")),
        finalExprs = Seq(sum(col("pn")).as("n"), sum(col("ps")).as("sum_z")))(tiled)
    }),

    "q_adaptive_cells" -> ((s, dir) =>
      SkewOps.adaptiveCells(budget = 2000, baseLevel = 2, maxLevel = 8)(pts(s, dir))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))),

    // ---- streaming ----------------------------------------------------
    "q_stream_window" -> ((s, dir) => {
      val name = "stream_win_" + java.util.UUID.randomUUID.toString.replace("-", "")
      graft.streaming.StreamOps.runToCompletion(s, s"$dir/events.parquet",
        df => graft.streaming.StreamOps.windowedStats(df), name)
        .select(col("win_start"), col("event_type"), col("n"),
          round(col("sum_value"), 4).as("sum4"))
    }),

    "q_session_window" -> ((s, dir) =>
      graft.streaming.StreamOps.sessionWindowStats(
        s.read.parquet(s"$dir/events.parquet"), gap = "30 minutes")
        .select(col("sess_start"), col("sess_end"), col("user_id"), col("n"),
          round(col("sum_value"), 4).as("sum4"))),

    // ---- multimodal ---------------------------------------------------
    "q_media_meta" -> ((s, dir) => {
      val withBlob = docs(s, dir).withColumn("blob",
        MediaOps.synthBlob(concat(lit("blob://"), col("doc_id").cast(StringType)), 8))
      MediaOps.mediaMeta("blob")(MediaOps.fakeDecode("blob")(withBlob))
        .select(col("doc_id"), col("media_size"), col("media_magic"),
          col("media_hash"), col("decoded.f0").as("f0"), col("decoded.f1").as("f1"))
    }),

    "q_media_frames" -> ((s, dir) => {
      val withBlob = docs(s, dir).withColumn("blob",
        MediaOps.synthBlob(concat(lit("blob://"), col("doc_id").cast(StringType)), 8))
      MediaOps.frameSample("blob", frameBytes = 16, step = 3)(withBlob)
        .select("doc_id", "frame_idx", "frame_hash")
    }),

    "q_media_resize" -> ((s, dir) => {
      val withBlob = docs(s, dir).withColumn("blob",
        MediaOps.synthBlob(concat(lit("blob://"), col("doc_id").cast(StringType)), 8))
      MediaOps.resizeStub("blob", stride = 5)(withBlob)
        .select("doc_id", "resized_size", "resized_hash")
    }),

    "q_media_features" -> ((s, dir) => {
      val withBlob = docs(s, dir).withColumn("blob",
        MediaOps.synthBlob(concat(lit("blob://"), col("doc_id").cast(StringType)), 8))
      MediaOps.featureStub("blob", dims = 8)(withBlob)
        .select(col("doc_id"), col("feat_idx"), round(col("feat"), 6).as("feat6"))
    }),

    // ---- coherent point drift (registration kernel) -------------------
    // The distributed E-step IS the scale-bearing piece of CPD (one pass
    // over the arbitrarily-large fixed cloud per EM iteration; the
    // M-step is a driver-side 3x3 SVD), and it is plain GMM-posterior
    // algebra — exactly SQL-expressible. The EM loop itself is pinned by
    // CpdSpec (exact recovery of known transforms).
    "q_cpd_estep" -> ((s, dir) => {
      val fixed = pts(s, dir)
      val n = fixed.count()
      val st = CpdOps.estepStats(fixed, cpdMoving, cpdSigma2, 0.1, n)
      def r4(v: Double): Double =
        BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      import s.implicits._
      (0 until st.m).map { j =>
        (j, r4(st.p1(j)), r4(st.px(3 * j)), r4(st.px(3 * j + 1)), r4(st.px(3 * j + 2)))
      }.toDF("j", "p1", "px0", "px1", "px2")
    })
  )

  /** Deterministic 20-point moving cloud for the CPD E-step oracle —
    * literal in both the Spark query and the SQL twin. */
  private val cpdMoving: Array[Double] =
    (0 until 20).flatMap(j => Seq(100.0 + 40.0 * j, 200.0 + 30.0 * (j % 5), 50.0 + 10.0 * j)).toArray
  private val cpdSigma2: Double = 40000.0

  // ---------------------------------------------------------------------
  // Oracle SQL twins
  // ---------------------------------------------------------------------

  /** Morton key SQL (shared with SparkEntry.mortonSql — default space,
    * exact 2^20 scale). */
  def mortonSqlShared(xc: String, yc: String): String = {
    def spread(v: String): String = {
      val s1 = s"((($v) | (($v) << 16)) & 281470681808895)"
      val s2 = s"((($s1) | (($s1) << 8)) & 71777214294589695)"
      val s3 = s"((($s2) | (($s2) << 4)) & 1085102592571150095)"
      val s4 = s"((($s3) | (($s3) << 2)) & 3689348814741910323)"
      s"((($s4) | (($s4) << 1)) & 6148914691236517205)"
    }
    val ix = s"CAST(($xc) * 1048576 AS BIGINT)"
    val iy = s"CAST(($yc) * 1048576 AS BIGINT)"
    s"(${spread(ix)} | (${spread(iy)} << 1))"
  }

  private val wordsSql = TextOps.wordsSql
  import TextOps.sqlList

  /** Hex cube-round mirroring HexGrid.hexCell (floor(v+0.5) = Java
    * Math.round, NOT SQL round which is half-away-from-zero). */
  private def hexSql: String = {
    val e = "50.0"
    // KEEP IN SYNC with HexGrid.hexCell: flat-top axial on the hexer
    // lattice (centers shifted by (e/2, sqrt(3)e/2)), cube rounding
    s"""hx AS (
       |  SELECT *,
       |    (2.0 / 3.0 * (x - $e / 2.0)) / $e AS qf,
       |    (-(x - $e / 2.0) / 3.0 + sqrt(3.0) / 3.0 * (y - sqrt(3.0) * $e / 2.0)) / $e AS rf
       |  FROM pts),
       |hx2 AS (
       |  SELECT *, (-qf - rf) AS yf,
       |    floor(qf + 0.5) AS rx0, floor(-qf - rf + 0.5) AS ry0, floor(rf + 0.5) AS rz0
       |  FROM hx),
       |hx3 AS (
       |  SELECT *,
       |    abs(rx0 - qf) AS dx, abs(ry0 - yf) AS dy, abs(rz0 - rf) AS dz
       |  FROM hx2),
       |hex AS (
       |  SELECT *,
       |    CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0 ELSE rx0 END AS hq0,
       |    CASE WHEN dx > dy AND dx > dz THEN rz0
       |         WHEN dy > dz THEN rz0
       |         ELSE -(CASE WHEN dx > dy AND dx > dz THEN -ry0 - rz0 ELSE rx0 END) - ry0 END AS hr0
       |  FROM hx3)""".stripMargin
  }

  val oracleSql: Map[String, String] = {
    val P = Oracle.pointsCte
    Map(
      // EXACT kNN oracle (no grid mirroring): a 64-unit x/y band join is a
      // pure candidate PREFILTER — any neighbor within euclidean 64 of a
      // point satisfies |dx|<=64 and |dy|<=64, so the per-point nearest-1
      // is exact whenever its distance is <= 64. The `cert`/`missing` CTEs
      // verify that IN SQL and emit a loud poison row (breaking the hash
      // compare) if the band were ever too narrow — the oracle can be
      // fast without trusting the engine's grid.
      //
      // DETERMINISM (the r2 recipe, applied to selection rather than
      // aggregation): the winner per point is the MINIMUM of the pair
      // set under the total order (dist, cdoc, cspan) — a pure
      // comparison, never a float SUM, so no partial-aggregation
      // reassociation can flip it between partitionings; the engine's
      // min_by over the identical (d2, id) struct ordering picks the
      // same row bit-for-bit (ties included, because the id tail makes
      // the order total). dx/dy/dz are then single subtractions of
      // stored doubles on the winning row — identical in both systems.
      // The shuffle.partitions 4-vs-32 invariance spec pins the engine
      // side (OperatorBehaviorSpec "delta nearest-1 is bit-identical").
      "q_knn_delta" ->
        s"""WITH $P,
           |src AS (SELECT * FROM pts WHERE intensity % 89 = 0),
           |cand AS (SELECT * FROM pts WHERE intensity % 97 = 0),
           |pairs AS (
           |  SELECT s.doc_id, s.span_idx,
           |         s.x - c.x AS dx, s.y - c.y AS dy, s.z - c.z AS dz,
           |         sqrt((s.x - c.x) * (s.x - c.x) + (s.y - c.y) * (s.y - c.y)) AS dist,
           |         c.doc_id AS cdoc, c.span_idx AS cspan
           |  FROM src s JOIN cand c
           |    ON c.x BETWEEN s.x - 256.0 AND s.x + 256.0
           |   AND c.y BETWEEN s.y - 256.0 AND s.y + 256.0),
           |n1 AS (
           |  SELECT doc_id, span_idx, dx, dy, dz, dist FROM pairs
           |  QUALIFY row_number() OVER (PARTITION BY doc_id, span_idx
           |                             ORDER BY dist, cdoc, cspan) = 1),
           |cert AS (SELECT count(*) AS bad FROM n1 WHERE dist > 256.0),
           |missing AS (
           |  SELECT count(*) AS miss FROM src s
           |  WHERE NOT EXISTS (SELECT 1 FROM n1 n
           |                    WHERE n.doc_id = s.doc_id AND n.span_idx = s.span_idx)
           |    AND (SELECT count(*) FROM cand) > 0)
           |SELECT doc_id, span_idx, dx, dy, dz FROM n1
           |UNION ALL
           |SELECT 'ORACLE_BAND_TOO_NARROW', -1, CAST(NULL AS DOUBLE),
           |       CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE)
           |FROM cert, missing WHERE cert.bad > 0 OR missing.miss > 0""".stripMargin,

      // EXACT SOR oracle: same band-prefilter + in-SQL certificate
      // discipline (kth-nearest distance must stay within the band, and
      // every point must appear) — mirrors nothing about the engine's
      // grid levels. The per-point mean distance is the engine's exact
      // arithmetic (ascending sequential sum / 4), and the global
      // threshold is rebuilt from 1e-6-quantized integer moments with
      // the engine's fixed scalar op sequence, so membership is
      // bit-identical — no accumulation-order exposure anywhere.
      "q_sor" ->
        s"""WITH $P,
           |sub AS (SELECT * FROM pts WHERE intensity % 19 = 0),
           |pairs AS (
           |  SELECT a.doc_id, a.span_idx,
           |         sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           |              + (a.z - b.z) * (a.z - b.z)) AS dist,
           |         b.doc_id AS bdoc, b.span_idx AS bspan
           |  FROM sub a JOIN sub b
           |    ON b.x BETWEEN a.x - 256.0 AND a.x + 256.0
           |   AND b.y BETWEEN a.y - 256.0 AND a.y + 256.0
           |   AND NOT (a.doc_id = b.doc_id AND a.span_idx = b.span_idx)),
           |knn AS (
           |  SELECT doc_id, span_idx, dist,
           |         row_number() OVER (PARTITION BY doc_id, span_idx
           |                            ORDER BY dist, bdoc, bspan) AS rn
           |  FROM pairs),
           |md AS (
           |  SELECT doc_id, span_idx,
           |         list_reduce(list(dist ORDER BY dist), (a, b) -> a + b) / 4 AS md,
           |         max(dist) AS kd, count(*) AS nk
           |  FROM knn WHERE rn <= 4 GROUP BY doc_id, span_idx),
           |cert AS (SELECT count(*) AS bad FROM md WHERE nk < 4 OR kd > 256.0),
           |missing AS (
           |  SELECT count(*) AS miss FROM sub s
           |  WHERE NOT EXISTS (SELECT 1 FROM md m
           |                    WHERE m.doc_id = s.doc_id AND m.span_idx = s.span_idx)
           |    AND (SELECT count(*) FROM sub) > 1),
           |qmd AS (
           |  SELECT doc_id, span_idx,
           |         CAST(floor(md * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
           |  FROM md),
           |mom AS (
           |  SELECT CAST(CAST(sum(q) AS HUGEINT) AS DOUBLE) AS s1,
           |         CAST(sum(CAST(q AS HUGEINT) * CAST(q AS HUGEINT)) AS DOUBLE) AS s2,
           |         count(*) AS n
           |  FROM qmd),
           |th AS (
           |  SELECT s1 / n + CAST(1.0 AS DOUBLE) *
           |         sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), CAST(0 AS DOUBLE))) AS t
           |  FROM mom)
           |SELECT qmd.doc_id, qmd.span_idx FROM qmd, th WHERE qmd.q <= th.t
           |UNION ALL
           |SELECT 'ORACLE_BAND_TOO_NARROW', -1
           |FROM cert, missing WHERE cert.bad > 0 OR missing.miss > 0""".stripMargin,

      "q_p2g" ->
        s"""WITH $P,
           |base AS (
           |  SELECT x, y, z,
           |         CAST(floor(x / 32) AS BIGINT) AS cx0,
           |         CAST(floor(y / 32) AS BIGINT) AS cy0
           |  FROM pts),
           |expanded AS (
           |  SELECT x, y, z, cx0 + ox.o AS px, cy0 + oy.o AS py
           |  FROM base
           |  CROSS JOIN (VALUES (-1), (0), (1)) ox(o)
           |  CROSS JOIN (VALUES (-1), (0), (1)) oy(o)),
           |gated AS (
           |  SELECT *,
           |         sqrt((x - ((px + 0.5) * 32.0)) * (x - ((px + 0.5) * 32.0))
           |            + (y - ((py + 0.5) * 32.0)) * (y - ((py + 0.5) * 32.0))) AS dist
           |  FROM expanded)
           |SELECT px, py, CAST(count(*) AS BIGINT) AS den,
           |       min(z) AS zmin, max(z) AS zmax, sum(z) / count(*) AS zmean,
           |       round(sum(z / greatest(dist, 1e-12)) / sum(1.0 / greatest(dist, 1e-12)), 5) AS zidw5,
           |       round(stddev_pop(z), 5) AS zstd5
           |FROM gated WHERE dist <= 22.6 GROUP BY px, py""".stripMargin,

      "q_p2g_fill" ->
        s"""WITH $P,
           |base AS (
           |  SELECT x, y, z,
           |         CAST(floor(x / 32) AS BIGINT) AS cx0,
           |         CAST(floor(y / 32) AS BIGINT) AS cy0
           |  FROM pts),
           |expanded AS (
           |  SELECT x, y, z, cx0 + ox.o AS px, cy0 + oy.o AS py
           |  FROM base
           |  CROSS JOIN (VALUES (-1), (0), (1)) ox(o)
           |  CROSS JOIN (VALUES (-1), (0), (1)) oy(o)),
           |gated AS (
           |  SELECT *,
           |         sqrt((x - ((px + 0.5) * 32.0)) * (x - ((px + 0.5) * 32.0))
           |            + (y - ((py + 0.5) * 32.0)) * (y - ((py + 0.5) * 32.0))) AS dist
           |  FROM expanded),
           |cells AS (
           |  SELECT px, py, CAST(count(*) AS BIGINT) AS den,
           |         min(z) AS zmin, max(z) AS zmax, sum(z) / count(*) AS zmean,
           |         sum(z / greatest(dist, 1e-12)) / sum(1.0 / greatest(dist, 1e-12)) AS zidw,
           |         stddev_pop(z) AS zstd
           |  FROM gated WHERE dist <= 22.6 GROUP BY px, py),
           |ext AS (
           |  SELECT min(px) AS pxmin, max(px) AS pxmax,
           |         min(py) AS pymin, max(py) AS pymax FROM cells),
           |cand AS (
           |  SELECT c.px + ox.o AS px, c.py + oy.o AS py,
           |         CAST(greatest(abs(ox.o), abs(oy.o)) AS DOUBLE) AS fd,
           |         c.zmin, c.zmax, c.zmean, c.zstd, c.zidw
           |  FROM cells c
           |  CROSS JOIN (VALUES (-1), (0), (1)) ox(o)
           |  CROSS JOIN (VALUES (-1), (0), (1)) oy(o)
           |  WHERE NOT (ox.o = 0 AND oy.o = 0)),
           |filled AS (
           |  SELECT cand.px, cand.py, CAST(0 AS BIGINT) AS den,
           |         sum(zmin / (fd * fd)) / sum(1.0 / (fd * fd)) AS zmin,
           |         sum(zmax / (fd * fd)) / sum(1.0 / (fd * fd)) AS zmax,
           |         sum(zmean / (fd * fd)) / sum(1.0 / (fd * fd)) AS zmean,
           |         sum(zidw / (fd * fd)) / sum(1.0 / (fd * fd)) AS zidw,
           |         sum(zstd / (fd * fd)) / sum(1.0 / (fd * fd)) AS zstd
           |  FROM cand, ext
           |  WHERE cand.px BETWEEN ext.pxmin AND ext.pxmax
           |    AND cand.py BETWEEN ext.pymin AND ext.pymax
           |    AND NOT EXISTS (SELECT 1 FROM cells c2
           |                    WHERE c2.px = cand.px AND c2.py = cand.py)
           |  GROUP BY cand.px, cand.py)
           |SELECT px, py, den,
           |       round(zmin, 5) AS zmin5, round(zmax, 5) AS zmax5,
           |       round(zmean, 5) AS zmean5, round(zidw, 5) AS zidw5,
           |       round(zstd, 5) AS zstd5
           |FROM (SELECT * FROM cells UNION ALL SELECT * FROM filled)""".stripMargin,

      "q_hexbin" ->
        s"""WITH $P, $hexSql
           |SELECT CAST(hq0 AS INT) AS hex_q, CAST(hr0 AS INT) AS hex_r,
           |       CAST(count(*) AS BIGINT) AS density
           |FROM hex GROUP BY 1, 2""".stripMargin,

      "q_reproject" ->
        s"""WITH $P
           |SELECT doc_id, span_idx,
           |       round(((x - 512) * 50000) / 6378137.0 * (180.0 / pi()), 9) AS lon9,
           |       round((2.0 * atan(exp(((y - 512) * 20000) / 6378137.0)) - pi() / 2.0)
           |             * (180.0 / pi()), 9) AS lat9
           |FROM pts""".stripMargin,

      "q_grid_shift" -> gridShiftSql,

      "q_token_count" ->
        """SELECT doc_id,
          |       CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_ws_tokens,
          |       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_subword_units,
          |       CAST(length(text) AS INT) AS len
          |FROM documents""".stripMargin,

      "q_token_bpe" ->
        s"""SELECT doc_id,
           |       CAST(length(s) - length(replace(s, chr(31), '')) - 1 AS INT) AS n_bpe
           |FROM (SELECT doc_id, ${TextOps.Bpe.oracleTokenString("text")} AS s
           |      FROM documents)""".stripMargin,

      "q_quality" ->
        s"""WITH q AS (
           |  SELECT doc_id,
           |         CAST(length(text) AS INT) AS len,
           |         CAST(len($wordsSql) AS INT) AS n_words,
           |         CAST(len(list_filter($wordsSql, w -> list_contains(${sqlList(TextOps.enStop)}, w))) AS INT) AS n_stop,
           |         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha,
           |         len(regexp_extract_all(text, '[.,!?;:]')) AS n_punct
           |  FROM documents)
           |SELECT doc_id, len, n_words, n_stop,
           |       round(CAST(n_alpha AS DOUBLE) / greatest(len, 1), 6) AS alpha6,
           |       round(CAST(n_punct AS DOUBLE) / greatest(len, 1), 6) AS punct6,
           |       round(CAST(n_stop AS DOUBLE) / greatest(n_words, 1), 6) AS stop6
           |FROM q""".stripMargin,

      "q_langid" ->
        s"""WITH s AS (
           |  SELECT doc_id,
           |    CAST(len(list_filter($wordsSql, w -> list_contains(${sqlList(TextOps.enStop)}, w))) AS INT) AS en,
           |    CAST(len(list_filter($wordsSql, w -> list_contains(${sqlList(TextOps.deStop)}, w))) AS INT) AS de,
           |    CAST(len(list_filter($wordsSql, w -> list_contains(${sqlList(TextOps.frStop)}, w))) AS INT) AS fr,
           |    CAST(len(list_filter($wordsSql, w -> list_contains(${sqlList(TextOps.esStop)}, w))) AS INT) AS es
           |  FROM documents)
           |SELECT doc_id, en, de, fr, es,
           |       CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
           |            WHEN de = greatest(en, de, fr, es) THEN 'de'
           |            WHEN en = greatest(en, de, fr, es) THEN 'en'
           |            WHEN es = greatest(en, de, fr, es) THEN 'es'
           |            ELSE 'fr' END AS lang_pred
           |FROM s""".stripMargin,

      "q_dedup_exact" ->
        """SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp,
          |       min(doc_id) AS rep_doc_id, CAST(count(*) AS BIGINT) AS n_dups
          |FROM documents GROUP BY 1""".stripMargin,

      "q_minhash_dedup" -> minhashDedupSql,

      "q_dedup_cc" -> dedupCcSql,

      // mirrors TextOps.substringDup(n=6): md5 over the same 6-word
      // shingle strings, dup = corpus-wide count > 1, zeros kept
      "q_substring_dup" ->
        s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
           |g AS (SELECT doc_id,
           |        UNNEST(list_transform(range(1, len(ws) - 6 + 2),
           |          i -> md5(array_to_string(list_slice(ws, i, i + 5), ' ')))) AS g
           |      FROM w),
           |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
           |per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup_positions,
           |               CAST(count(DISTINCT g) AS BIGINT) AS n_dup_ngrams
           |        FROM g JOIN dup USING (g) GROUP BY 1)
           |SELECT d.doc_id,
           |       coalesce(per.n_dup_positions, 0) AS n_dup_positions,
           |       coalesce(per.n_dup_ngrams, 0) AS n_dup_ngrams
           |FROM documents d LEFT JOIN per USING (doc_id)""".stripMargin,

      // mirrors TextOps.bloomDeltaDedup: the Bloom filter is a pure
      // prefilter, so the oracle is the plain exact anti-join
      "q_bloom_delta" ->
        """WITH f AS (SELECT doc_id,
          |             md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS fp
          |           FROM documents),
          |c AS (SELECT fp FROM f WHERE CAST(doc_id AS BIGINT) % 3 != 0),
          |b AS (SELECT doc_id, fp FROM f WHERE CAST(doc_id AS BIGINT) % 3 = 0)
          |SELECT doc_id, fp FROM b WHERE fp NOT IN (SELECT fp FROM c)""".stripMargin,

      "q_near_dup" -> nearDupSql,

      "q_ann_ivf" -> annIvfSql,
      "q_ann_ivf_stored" -> annIvfStoredSql,
      "q_ann_ivf_pq" -> annIvfPqSql,

      // writers.las quantization grid: sround = round half away from
      // zero (Utils::sround / lround), mirrored exactly; literals CAST
      // to DOUBLE (DuckDB decimals would change the arithmetic type)
      "q_quantize" -> {
        def q(c: String, s: String, o: String) =
          s"""CAST((CASE WHEN (($c - CAST($o AS DOUBLE)) / CAST($s AS DOUBLE)) >= 0
             |THEN floor((($c - CAST($o AS DOUBLE)) / CAST($s AS DOUBLE)) + CAST(0.5 AS DOUBLE))
             |ELSE ceil((($c - CAST($o AS DOUBLE)) / CAST($s AS DOUBLE)) - CAST(0.5 AS DOUBLE)) END) AS INT)"""
            .stripMargin.replace("\n", " ")
        s"""WITH $P
           |SELECT doc_id, span_idx,
           |       ${q("x", "0.03", "100.0")} AS x_i,
           |       ${q("y", "0.07", "-50.0")} AS y_i,
           |       ${q("z", "0.011", "0.0")} AS z_i
           |FROM pts""".stripMargin
      },

      "q_simhash" -> simhashSql,

      // rolling-hash fingerprints: identical integer polynomial per
      // k-gram (base 31, prime modulus < 2^50 — every intermediate fits
      // int64 exactly), mod-17 content-defined selection
      "q_fingerprint" -> {
        val pows = Array.iterate(1L, 8)(_ * 31L).reverse
        val terms = (0 until 8).map(j =>
          s"CAST(unicode(substring(s, CAST(i + $j AS INT), 1)) AS BIGINT) * CAST(${pows(j)} AS BIGINT)")
          .mkString(" + ")
        s"""WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
           |g AS (SELECT doc_id, s, unnest(generate_series(1, len(s) - 7)) AS i FROM t),
           |h AS (SELECT doc_id, ($terms) % 1125899906842597 AS fp FROM g)
           |SELECT DISTINCT doc_id, fp FROM h WHERE fp % 17 = 0""".stripMargin
      },

      "q_ngram_jaccard" ->
        s"""WITH sh AS (
           |  SELECT doc_id,
           |         list_distinct(CASE WHEN len($wordsSql) < 2
           |           THEN [array_to_string($wordsSql, ' ')]
           |           ELSE list_transform(generate_series(1, len($wordsSql) - 1),
           |                i -> array_to_string(($wordsSql)[i:i+1], ' ')) END) AS sh
           |  FROM documents),
           |pairs AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.sh AS sha, b.sh AS shb
           |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1)
           |SELECT a_id, b_id,
           |       CAST(len(list_intersect(sha, shb)) AS INT) AS inter,
           |       CAST(len(sha) + len(shb) - len(list_intersect(sha, shb)) AS INT) AS uni,
           |       round(CAST(len(list_intersect(sha, shb)) AS DOUBLE) /
           |             greatest(len(sha) + len(shb) - len(list_intersect(sha, shb)), 1), 6) AS jaccard6
           |FROM pairs""".stripMargin,

      "q_adaptive_cells" ->
        s"""WITH $P, $adaptiveSql
           |SELECT cell, CAST(count(*) AS BIGINT) AS n
           |FROM assigned GROUP BY cell""".stripMargin,

      "q_pmf_ground" ->
        s"""WITH $P, $pmfSql
           |SELECT classification, CAST(count(*) AS BIGINT) AS n
           |FROM classified GROUP BY classification""".stripMargin,

      "q_pmf_exact" ->
        s"""WITH $P, $pmfExactSql
           |SELECT doc_id, span_idx, cls FROM exact_classified""".stripMargin,

      "q_ann_lsh" -> annLshSql,

      // KEEP IN SYNC with PclBlock.run: min-bounds shift, float32
      // narrowing (CAST AS REAL), PassThrough offset-adjusted limits,
      // VoxelGrid centroids on the shifted lattice, unshift
      "q_pclblock" ->
        s"""WITH $P,
           |m AS (SELECT min(x) AS mx, min(y) AS my, min(z) AS mz FROM pts),
           |sh AS (
           |  SELECT CAST(CAST(p.x - m.mx AS REAL) AS DOUBLE) AS xs,
           |         CAST(CAST(p.y - m.my AS REAL) AS DOUBLE) AS ys,
           |         CAST(CAST(p.z - m.mz AS REAL) AS DOUBLE) AS zs
           |  FROM pts p CROSS JOIN m),
           |pt AS (
           |  SELECT sh.* FROM sh CROSS JOIN m
           |  WHERE zs >= 100.0 - m.mz AND zs <= 300.0 - m.mz),
           |vox AS (
           |  SELECT CAST(floor(xs / 64.0) AS BIGINT) AS vx,
           |         CAST(floor(ys / 64.0) AS BIGINT) AS vy,
           |         CAST(floor(zs / 16.0) AS BIGINT) AS vz,
           |         sum(xs) / count(*) AS cx, sum(ys) / count(*) AS cy,
           |         sum(zs) / count(*) AS cz
           |  FROM pt GROUP BY 1, 2, 3)
           |SELECT cx + m.mx AS x, cy + m.my AS y, cz + m.mz AS z
           |FROM vox CROSS JOIN m""".stripMargin,

      "q_ann_cosine" ->
        s"""WITH q AS (SELECT $queryVecSql AS qv),
           |scored AS (
           |  SELECT vec_id, label,
           |         list_dot_product(embedding::DOUBLE[], qv) /
           |         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
           |          sqrt(list_dot_product(qv, qv))) AS sim
           |  FROM embeddings, q)
           |SELECT vec_id, label, round(sim, 6) AS sim6 FROM scored
           |ORDER BY sim DESC, vec_id LIMIT 25""".stripMargin,

      "q_ror" ->
        s"""WITH $P,
           |sub AS (SELECT * FROM pts WHERE intensity % 23 = 0),
           |nn AS (
           |  SELECT a.doc_id, a.span_idx, count(*) AS c
           |  FROM sub a JOIN sub b
           |    ON NOT (a.doc_id = b.doc_id AND a.span_idx = b.span_idx)
           |   AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
           |            + (a.z - b.z) * (a.z - b.z)) <= 40.0
           |  GROUP BY a.doc_id, a.span_idx)
           |SELECT doc_id, span_idx FROM nn WHERE c >= 2""".stripMargin,

      "q_chipper" ->
        s"""WITH $P,
           |c AS (SELECT CAST(count(*) AS BIGINT) AS total FROM pts),
           |m AS (SELECT total, CAST(ceil(total / 4096.0) AS BIGINT) AS nchips FROM c),
           |idx AS (SELECT unnest(generate_series(0, nchips - 1)) AS chip, total, nchips FROM m)
           |SELECT CAST(chip AS INT) AS chip,
           |       CAST(round((CAST(chip AS DOUBLE) + 1) * total / nchips)
           |            - round(CAST(chip AS DOUBLE) * total / nchips) AS BIGINT) AS n
           |FROM idx""".stripMargin,

      "q_knn_query" ->
        s"""WITH $P
           |SELECT doc_id, span_idx, x, y,
           |       sqrt((x - 333.3) * (x - 333.3) + (y - 444.4) * (y - 444.4)) AS dist
           |FROM pts
           |ORDER BY dist, doc_id, span_idx LIMIT 50""".stripMargin,

      "q_salted_agg" ->
        s"""WITH $P
           |SELECT CAST(trunc(x / 64.0) AS INT) AS tile_x,
           |       CAST(trunc(y / 64.0) AS INT) AS tile_y,
           |       CAST(count(*) AS BIGINT) AS n, sum(z) AS sum_z
           |FROM pts GROUP BY 1, 2""".stripMargin,

      "q_stream_window" ->
        """SELECT CAST(epoch(time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS win_start,
          |       event_type, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(value), 4) AS sum4
          |FROM events GROUP BY 1, 2""".stripMargin,

      // session_window oracle: gaps-and-islands — break when the gap to
      // the previous event is >= 30 min (Spark merges only ts < end);
      // session end = last event + gap
      "q_session_window" ->
        """WITH o AS (
          |  SELECT user_id, ts, value,
          |         CASE WHEN lag(ts) OVER w IS NULL
          |              OR epoch(ts) - epoch(lag(ts) OVER w) >= 1800 THEN 1 ELSE 0 END AS brk
          |  FROM events
          |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
          |g AS (
          |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
          |                           ROWS UNBOUNDED PRECEDING) AS sid
          |  FROM o)
          |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
          |       CAST(floor(epoch(max(ts))) + 1800 AS BIGINT) AS sess_end,
          |       user_id, CAST(count(*) AS BIGINT) AS n,
          |       round(sum(value), 4) AS sum4
          |FROM g GROUP BY user_id, sid""".stripMargin,

      "q_media_meta" ->
        """WITH b AS (
          |  SELECT doc_id, repeat(unhex(md5('blob://' || CAST(doc_id AS VARCHAR))), 8) AS blob
          |  FROM documents)
          |SELECT doc_id,
          |       CAST(octet_length(blob) AS INT) AS media_size,
          |       substring(hex(blob), 1, 8) AS media_magic,
          |       md5(hex(blob)) AS media_hash,
          |       substring(hex(blob), 1, 4) AS f0,
          |       substring(hex(blob), 17, 4) AS f1
          |FROM b""".stripMargin,

      "q_media_frames" ->
        """WITH b AS (
          |  SELECT doc_id, repeat(unhex(md5('blob://' || CAST(doc_id AS VARCHAR))), 8) AS blob
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, blob, unnest(generate_series(0,
          |           CAST(floor((octet_length(blob) - 1) / 16) AS INT))) AS frame_idx
          |  FROM b)
          |SELECT doc_id, CAST(frame_idx AS INT) AS frame_idx,
          |       md5(substring(hex(blob), frame_idx * 32 + 1, 32)) AS frame_hash
          |FROM f WHERE frame_idx % 3 = 0""".stripMargin,

      // resize stub: every 5th byte — hex of the subsampled blob is the
      // concatenation of the kept bytes' hex pairs
      "q_media_resize" ->
        """WITH b AS (
          |  SELECT doc_id, repeat(unhex(md5('blob://' || CAST(doc_id AS VARCHAR))), 8) AS blob
          |  FROM documents),
          |r AS (
          |  SELECT doc_id, octet_length(blob) AS n, hex(blob) AS hx FROM b),
          |s AS (
          |  SELECT doc_id,
          |         CAST((n + 4) // 5 AS INT) AS resized_size,
          |         array_to_string(list_transform(
          |           generate_series(0, CAST((n + 4) // 5 AS INT) - 1),
          |           i -> substring(hx, CAST(i * 10 + 1 AS INT), 2)), '') AS rhx
          |  FROM r)
          |SELECT doc_id, resized_size, md5(rhx) AS resized_hash FROM s""".stripMargin,

      // feature stub: byte i / 255 for the first 8 bytes
      "q_media_features" ->
        """WITH b AS (
          |  SELECT doc_id, repeat(unhex(md5('blob://' || CAST(doc_id AS VARCHAR))), 8) AS blob
          |  FROM documents),
          |f AS (
          |  SELECT doc_id, hex(blob) AS hx,
          |         unnest(generate_series(0, 7)) AS feat_idx
          |  FROM b)
          |SELECT doc_id, CAST(feat_idx AS INT) AS feat_idx,
          |       round(CAST((strpos('0123456789ABCDEF', substring(hx, CAST(feat_idx * 2 + 1 AS INT), 1)) - 1) * 16
          |             + (strpos('0123456789ABCDEF', substring(hx, CAST(feat_idx * 2 + 2 AS INT), 1)) - 1)
          |             AS DOUBLE) / CAST(255.0 AS DOUBLE), 6) AS feat6
          |FROM f""".stripMargin,

      // CPD E-step sufficient statistics: per-moving-point posterior
      // column sums p1 and first moments px against the full fixed
      // cloud, with the paper's uniform-outlier denominator term
      // (Myronenko & Song 2010 eq. 6 / Fig. 2 E-step). Rounded to 4
      // decimals on both sides: the values are O(10^2..10^5) sums of
      // 60k exp() terms, so reassociation noise (~1e-8 absolute) sits
      // four orders below the rounding grid.
      "q_cpd_estep" ->
        s"""WITH $P,
           |mov AS (SELECT CAST(j AS INT) AS j,
           |               100.0 + 40.0 * j AS m0,
           |               200.0 + 30.0 * (j % 5) AS m1,
           |               50.0 + 10.0 * j AS m2
           |        FROM range(0, 20) t(j)),
           |wts AS (SELECT p.doc_id, p.span_idx, p.x, p.y, p.z, m.j,
           |               exp(-((p.x - m.m0) * (p.x - m.m0) + (p.y - m.m1) * (p.y - m.m1)
           |                     + (p.z - m.m2) * (p.z - m.m2)) / 80000.0) AS e
           |        FROM pts p CROSS JOIN mov m),
           |post AS (SELECT j, x, y, z,
           |                e / (pow(2 * pi() * 40000.0, 1.5) * (0.1 / 0.9) * 20.0
           |                       / (SELECT count(*) FROM pts)
           |                     + sum(e) OVER (PARTITION BY doc_id, span_idx)) AS pp
           |         FROM wts)
           |SELECT j, round(sum(pp), 4) AS p1,
           |       round(sum(pp * x), 4) AS px0,
           |       round(sum(pp * y), 4) AS px1,
           |       round(sum(pp * z), 4) AS px2
           |FROM post GROUP BY j""".stripMargin
    )
  }

  /** Adaptive-cells oracle: mirrors SkewOps.adaptiveCells(budget=2000,
    * base=2, max=8) — per-level subtree counts, split set = over-budget
    * cells below max level, final cell = descend while split. The level
    * range is fixed at authoring time so the recursion unrolls into 6
    * CASE steps. */
  private def adaptiveSql: String = {
    val base = 2; val max = 8; val budget = 2000
    def cellAt(l: Int) =
      s"((${mortonSqlShared("x", "y")} >> ${2 * (30 - l)}) << 6) | $l"
    val cellCols = (base to max).map(l => s"(${cellAt(l)}) AS c$l").mkString(",\n      |         ")
    val countCtes = (base until max).map(l =>
      s"cnt$l AS (SELECT c$l AS cell, count(*) AS n FROM cells GROUP BY 1)")
      .mkString(",\n      |")
    val splitsUnion = (base until max).map(l =>
      s"SELECT cell FROM cnt$l WHERE n > $budget").mkString(" UNION ALL ")
    // descent: innermost level first
    var descend = s"c$max"
    ((max - 1) to base by -1).foreach { l =>
      descend = s"CASE WHEN c$l IN (SELECT cell FROM splits) THEN ($descend) ELSE c$l END"
    }
    s"""cells AS (
       |  SELECT $cellCols
       |  FROM pts),
       |$countCtes,
       |splits AS ($splitsUnion),
       |assigned AS (SELECT ($descend) AS cell FROM cells)""".stripMargin
  }

  /** PMF ground-classification oracle: mirrors GroundOps.pmf with
    * cellSize=16, maxWindowSize=9, slope=1, initialDistance=2,
    * maxDistance=20 (window ladder {3,5,9} -> hw {1,2,4}, dh {2,20,20}).
    * Each iteration: erosion at the hw-expanded positions, dilation
    * clipped back to occupied cells, conditional surface replacement.
    * All values are exact 0.5-multiples, so the compare is bit-exact. */
  private def pmfSql: String = {
    val iters = Seq((1, "2.0"), (2, "20.0"), (4, "20.0"))
    val sb = new StringBuilder
    sb.append(
      """occ AS (
        |  SELECT CAST(floor(x / 16) AS BIGINT) AS cx,
        |         CAST(floor(y / 16) AS BIGINT) AS cy, min(z) AS v
        |  FROM pts GROUP BY 1, 2),
        |s0 AS (SELECT cx, cy, v FROM occ)""".stripMargin)
    iters.zipWithIndex.foreach { case ((hw, dh), i) =>
      val prev = s"s$i"; val n = i + 1
      sb.append(s""",
        |pos$n AS (
        |  SELECT DISTINCT a.cx + dx.o AS cx, a.cy + dy.o AS cy
        |  FROM $prev a
        |  CROSS JOIN (SELECT unnest(generate_series(-$hw, $hw)) AS o) dx
        |  CROSS JOIN (SELECT unnest(generate_series(-$hw, $hw)) AS o) dy),
        |e$n AS (
        |  SELECT p.cx, p.cy, min(s.v) AS ev
        |  FROM pos$n p JOIN $prev s
        |    ON abs(p.cx - s.cx) <= $hw AND abs(p.cy - s.cy) <= $hw
        |  GROUP BY p.cx, p.cy),
        |d$n AS (
        |  SELECT a.cx, a.cy, max(e.ev) AS dv
        |  FROM occ a JOIN e$n e
        |    ON abs(a.cx - e.cx) <= $hw AND abs(a.cy - e.cy) <= $hw
        |  GROUP BY a.cx, a.cy),
        |s$n AS (
        |  SELECT s.cx, s.cy,
        |         CASE WHEN s.v - d.dv > $dh THEN d.dv ELSE s.v END AS v
        |  FROM $prev s JOIN d$n d ON s.cx = d.cx AND s.cy = d.cy)""".stripMargin)
    }
    sb.append(s""",
      |classified AS (
      |  SELECT CASE WHEN p.z - s.v <= 20.0 THEN 2 ELSE 0 END AS classification
      |  FROM pts p JOIN s${iters.size} s
      |    ON CAST(floor(p.x / 16) AS BIGINT) = s.cx
      |   AND CAST(floor(p.y / 16) AS BIGINT) = s.cy)""".stripMargin)
    sb.toString
  }

  /** EXACT per-point PMF oracle: mirrors GroundOps.pmfExact term for
    * term — iterative ground-set pruning (Zhang et al. 2003 / the
    * reference's default GroundFilter branch). PCL window schedule with
    * cellSize=4, maxWindowSize=40 -> windows {12,20,36,68}, dh
    * {2,20,20,20}, Chebyshev half-extent r = w/2 measured from each
    * point. The bucketed window
    * join is reproduced EXACTLY (source exploded to its 3x3 neighbor
    * buckets at bucket size r, hash-join on the target's bucket,
    * window filter) so both sides share the same floor() bucketing and
    * the same float arithmetic; all z are exact 0.5-multiples so the
    * keep test z - ov < dh is bit-exact. */
  private def pmfExactSql: String = {
    val iters = Seq((6.0, "2.0"), (10.0, "20.0"), (18.0, "20.0"), (34.0, "20.0"))
    val sb = new StringBuilder
    sb.append("""pmfsub AS (SELECT doc_id, span_idx, x, y, z FROM pts WHERE intensity % 23 = 0),
      |g0 AS (SELECT doc_id, span_idx, x, y, z FROM pmfsub)""".stripMargin)
    iters.zipWithIndex.foreach { case ((r, dh), i) =>
      val prev = s"g$i"; val n = i + 1
      def exploded(src: String, valCol: String) =
        s"""(
           |    SELECT CAST(floor(s.x / $r) AS BIGINT) + dx.o AS cbx,
           |           CAST(floor(s.y / $r) AS BIGINT) + dy.o AS cby,
           |           s.x AS sx, s.y AS sy, $valCol AS sv
           |    FROM $src
           |    CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS o) dx
           |    CROSS JOIN (SELECT unnest(generate_series(-1, 1)) AS o) dy) b
           |    ON CAST(floor(a.x / $r) AS BIGINT) = b.cbx
           |   AND CAST(floor(a.y / $r) AS BIGINT) = b.cby
           |  WHERE abs(b.sx - a.x) <= $r AND abs(b.sy - a.y) <= $r""".stripMargin
      sb.append(s""",
        |e$n AS (
        |  SELECT a.doc_id, a.span_idx, min(b.sv) AS ev
        |  FROM $prev a JOIN ${exploded(s"$prev s", "s.z")}
        |  GROUP BY 1, 2),
        |o$n AS (
        |  SELECT a.doc_id, a.span_idx, max(b.sv) AS ov
        |  FROM $prev a JOIN ${exploded(
             s"e$n e JOIN $prev s ON e.doc_id = s.doc_id AND e.span_idx = s.span_idx",
             "e.ev")}
        |  GROUP BY 1, 2),
        |g$n AS (
        |  SELECT g.doc_id, g.span_idx, g.x, g.y, g.z
        |  FROM $prev g JOIN o$n o
        |    ON g.doc_id = o.doc_id AND g.span_idx = o.span_idx
        |  WHERE g.z - o.ov < $dh)""".stripMargin)
    }
    sb.append(s""",
      |exact_classified AS (
      |  SELECT p.doc_id, p.span_idx,
      |         CASE WHEN g.doc_id IS NOT NULL THEN 2 ELSE 0 END AS cls
      |  FROM pmfsub p LEFT JOIN g${iters.size} g
      |    ON p.doc_id = g.doc_id AND p.span_idx = g.span_idx)""".stripMargin)
    sb.toString
  }

  /** ANN-LSH oracle: re-derives the sign-random-hyperplane weights from
    * their public md5-parity DEFINITION in SQL (weight(p,d) = +1 iff the
    * first byte of md5("p:d") is even — AnnOps.planeWeight), recomputes
    * every row's bucket, the query's bucket and its Hamming-1 probe set,
    * then the exact cosine rerank of the probed buckets. Nothing is
    * inlined from the engine besides the query vector itself. */
  private def annLshSql: String = {
    val planes = 6
    val wv =
      """list_transform(generate_series(0, 63), d ->
        |           CASE WHEN (strpos('0123456789abcdef',
        |                  substring(md5(CAST(w.p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 2, 1)) - 1) % 2 = 0
        |                THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)""".stripMargin
    s"""WITH q AS (SELECT $queryVecSql AS qv),
       |w AS (
       |  SELECT w.p AS p,
       |         $wv AS wv
       |  FROM (SELECT unnest(generate_series(0, ${planes - 1})) AS p) w),
       |qb AS (
       |  SELECT CAST(sum(CASE WHEN list_dot_product(q.qv, w.wv) >= 0
       |                       THEN (1::BIGINT << CAST(w.p AS INT)) ELSE 0 END) AS BIGINT) AS qbits
       |  FROM w, q),
       |probes AS (
       |  SELECT qbits AS probe FROM qb
       |  UNION ALL
       |  SELECT CAST(xor(qbits, 1::BIGINT << CAST(pp.p AS INT)) AS BIGINT)
       |  FROM qb, (SELECT unnest(generate_series(0, ${planes - 1})) AS p) pp),
       |eb AS (
       |  SELECT e.vec_id, e.label, e.embedding,
       |         (SELECT CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], w.wv) >= 0
       |                               THEN (1::BIGINT << CAST(w.p AS INT)) ELSE 0 END) AS BIGINT)
       |          FROM w) AS bucket
       |  FROM embeddings e),
       |cand AS (
       |  SELECT vec_id, label,
       |         list_dot_product(embedding::DOUBLE[], q.qv) /
       |         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
       |          sqrt(list_dot_product(q.qv, q.qv))) AS sim
       |  FROM eb, q WHERE bucket IN (SELECT probe FROM probes))
       |SELECT vec_id, label, round(sim, 6) AS sim6 FROM cand
       |ORDER BY sim DESC, vec_id LIMIT 20""".stripMargin
  }

  /** Connected-components dedup-closure oracle: the SAME band derivation
    * as minhashDedupSql, then TRANSITIVE closure via a recursive CTE —
    * a completely different algorithm from the engine's iterative
    * label propagation, converging to the same per-component minimum. */
  private def dedupCcSql: String = {
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len($wordsSql) < 3
       |           THEN [array_to_string($wordsSql, ' ')]
       |           ELSE list_transform(generate_series(1, len($wordsSql) - 2),
       |                i -> array_to_string(($wordsSql)[i:i+2], ' ')) END AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 15),
       |           p -> list_min(list_transform(sh, s -> md5(CAST(p AS VARCHAR) || ':' || s)))) AS sig
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(0, 3),
       |           b -> md5(CAST(b AS VARCHAR) || '|' ||
       |                    array_to_string(sig[b * 4 + 1:b * 4 + 4], ',')))) AS band
       |  FROM sig),
       |e AS (SELECT DISTINCT a.doc_id AS s, b.doc_id AS t
       |      FROM bands a JOIN bands b USING (band)),
       |reach AS (
       |  SELECT s, t FROM e
       |  UNION
       |  SELECT r.s, e2.t FROM reach r JOIN e e2 ON r.t = e2.s)
       |SELECT s AS doc_id, min(t) AS rep_doc_id FROM reach GROUP BY s""".stripMargin
  }

  /** IVF ANN oracle: the deterministic seed centroids (first nLists
    * vectors by vec_id, L2-normalized), max-cosine list assignment
    * (ties -> lowest index, like the engine's first-wins argmax), query
    * probes the nProbe best lists, exact rerank within them. */
  private def annIvfSql: String = {
    val (nLists, nProbe, k) = (16, 4, 20)
    s"""WITH q AS (SELECT $queryVecSql AS qv),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding::DOUBLE[] AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT $nLists),
       |cent AS (
       |  SELECT ci, list_transform(ce,
       |           x -> x / greatest(sqrt(list_dot_product(ce, ce)), 1e-300)) AS cn
       |  FROM cent0),
       |assign AS (
       |  SELECT e.vec_id, e.label, e.embedding,
       |         (SELECT c.ci FROM cent c
       |          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cn) DESC, c.ci
       |          LIMIT 1) AS list
       |  FROM embeddings e),
       |qd AS (
       |  SELECT ci FROM cent, q
       |  ORDER BY list_dot_product(q.qv, cn) DESC, ci LIMIT $nProbe),
       |cand AS (
       |  SELECT vec_id, label, list,
       |         list_dot_product(embedding::DOUBLE[], q.qv) /
       |         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
       |          sqrt(list_dot_product(q.qv, q.qv))) AS sim
       |  FROM assign, q WHERE list IN (SELECT ci FROM qd))
       |SELECT vec_id, label, list, round(sim, 6) AS sim6 FROM cand
       |ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Stored-IVF oracle: seeds as in [[annIvfSql]], then ONE Lloyd
    * refinement round whose centroid means are computed in EXACT integer
    * space (components quantized to 1e-6, summed as BIGINT — order-free,
    * so Spark's partial aggregation and DuckDB's single-threaded sum
    * agree bit-for-bit), L2-normalized, empty lists keeping their seed;
    * then assignment + probe + exact rerank against the refined
    * centroids. The engine additionally round-trips the assignment
    * through a list-partitioned parquet table — pure storage, invisible
    * to the result, which is exactly why the same SQL oracles it. */
  private def annIvfStoredSql: String = {
    val (nLists, nProbe, k) = (16, 4, 20)
    s"""WITH q AS (SELECT $queryVecSql AS qv),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding::DOUBLE[] AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT $nLists),
       |cent AS (
       |  SELECT ci, list_transform(ce,
       |           x -> x / greatest(sqrt(list_dot_product(ce, ce)), 1e-300)) AS cn
       |  FROM cent0),
       |assign0 AS (
       |  SELECT e.vec_id, e.embedding,
       |         (SELECT c.ci FROM cent c
       |          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cn) DESC, c.ci
       |          LIMIT 1) AS list
       |  FROM embeddings e),
       |updsrc AS (
       |  SELECT a.list AS ci,
       |         unnest(generate_series(1, len(a.embedding))) AS pos,
       |         a.embedding AS emb
       |  FROM assign0 a),
       |upd AS (
       |  SELECT ci, pos,
       |         CAST(sum(CAST(floor(CAST(emb[pos] AS DOUBLE) * CAST(1000000 AS DOUBLE)
       |                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
       |         count(*) AS n
       |  FROM updsrc GROUP BY ci, pos),
       |newc AS (
       |  SELECT ci,
       |         list((CAST(s AS DOUBLE) / n) / CAST(1000000 AS DOUBLE) ORDER BY pos) AS ce2
       |  FROM upd GROUP BY ci),
       |newn AS (
       |  SELECT ci, list_transform(ce2,
       |           x -> x / greatest(sqrt(list_dot_product(ce2, ce2)), 1e-300)) AS cn2
       |  FROM newc),
       |ref AS (
       |  SELECT c.ci, COALESCE(n.cn2, c.cn) AS cn
       |  FROM cent c LEFT JOIN newn n ON c.ci = n.ci),
       |assign2 AS (
       |  SELECT e.vec_id, e.label, e.embedding,
       |         (SELECT r.ci FROM ref r
       |          ORDER BY list_dot_product(e.embedding::DOUBLE[], r.cn) DESC, r.ci
       |          LIMIT 1) AS list
       |  FROM embeddings e),
       |qd AS (
       |  SELECT ci FROM ref, q
       |  ORDER BY list_dot_product(q.qv, cn) DESC, ci LIMIT $nProbe),
       |cand AS (
       |  SELECT vec_id, label, list,
       |         list_dot_product(embedding::DOUBLE[], q.qv) /
       |         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
       |          sqrt(list_dot_product(q.qv, q.qv))) AS sim
       |  FROM assign2, q WHERE list IN (SELECT ci FROM qd))
       |SELECT vec_id, label, list, round(sim, 6) AS sim6 FROM cand
       |ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** IVF-PQ oracle: the full product-quantization pipeline mirrored in
    * SQL — seed coarse centroids and max-cosine assignment as in
    * [[annIvfSql]]; residuals; codebook seeds = the first-16 vectors'
    * residual subvectors; ONE Lloyd round with the integer-exact mean
    * (1e-6 quantization summed as BIGINT, order-free — bit-identical to
    * Spark's partial aggregation); nearest-codeword encode (ties ->
    * lowest index, strict-< like the engine's argmin); per-probed-list
    * ADC LUT; candidate cut = top-60 by ADC (ties -> vec_id) with the
    * per-subspace distances summed IN SUBSPACE ORDER
    * (list_sum(list(dm ORDER BY m)) — double addition is
    * order-sensitive and the engine sums m ascending); exact cosine
    * rerank of the candidates. Lambdas never capture correlated outer
    * columns (DuckDB can't bind them) — differences go through
    * list_zip(a, b) with the outer refs as zip ARGUMENTS. */
  /** DuckDB twin of q_grid_shift: mirrors Ntv2.forward/bilinear over the
    * single demo subgrid (S_LAT=140400", E_LONG=414000", inc=1800",
    * 21x23 nodes -> row clamp 19, col clamp 21) and the
    * demoLatShift/demoLonShift node generators (float32-quantized, like
    * the .gsb file stores them) TERM FOR TERM — double +,-,*,/ and the
    * float32 cast are deterministic IEEE in both engines, so both sides
    * are bit-identical before the round(9). Keep in sync with
    * Ntv2.bilinear/forward and Ntv2.demoLatShift/demoLonShift. */
  private def gridShiftSql: String = {
    val P = Oracle.pointsCte
    s"""WITH $P, geo AS (
       |  SELECT doc_id, span_idx,
       |         (-125.0 + x * (9.0/1024)) AS lon,
       |         (40.0 + y * (8.0/1024)) AS lat
       |  FROM pts
       |), rc AS (
       |  SELECT doc_id, span_idx, lon, lat,
       |         (lat * 3600.0 - 140400.0) / 1800.0 AS rw,
       |         ((-lon) * 3600.0 - 414000.0) / 1800.0 AS cf
       |  FROM geo
       |), cl AS (
       |  SELECT *, GREATEST(0.0, LEAST(floor(rw), 19.0)) AS r0,
       |            GREATEST(0.0, LEAST(floor(cf), 21.0)) AS c0
       |  FROM rc
       |), wt AS (
       |  SELECT *, rw - r0 AS fy, cf - c0 AS fx FROM cl
       |), nd AS (
       |  SELECT *,
       |    CAST(0.8 + 0.01*r0 + 0.002*c0 + 0.0001*(r0*c0) AS REAL) AS a00,
       |    CAST(0.8 + 0.01*r0 + 0.002*(c0+1) + 0.0001*(r0*(c0+1)) AS REAL) AS a10,
       |    CAST(0.8 + 0.01*(r0+1) + 0.002*c0 + 0.0001*((r0+1)*c0) AS REAL) AS a01,
       |    CAST(0.8 + 0.01*(r0+1) + 0.002*(c0+1) + 0.0001*((r0+1)*(c0+1)) AS REAL) AS a11,
       |    CAST(1.5 - 0.004*r0 + 0.03*c0 + 0.0002*(r0*c0) AS REAL) AS b00,
       |    CAST(1.5 - 0.004*r0 + 0.03*(c0+1) + 0.0002*(r0*(c0+1)) AS REAL) AS b10,
       |    CAST(1.5 - 0.004*(r0+1) + 0.03*c0 + 0.0002*((r0+1)*c0) AS REAL) AS b01,
       |    CAST(1.5 - 0.004*(r0+1) + 0.03*(c0+1) + 0.0002*((r0+1)*(c0+1)) AS REAL) AS b11
       |  FROM wt
       |), sh AS (
       |  SELECT doc_id, span_idx, lon, lat,
       |    ((1-fx)*(1-fy))*a00 + (fx*(1-fy))*a10 + ((1-fx)*fy)*a01 + (fx*fy)*a11 AS dlat,
       |    ((1-fx)*(1-fy))*b00 + (fx*(1-fy))*b10 + ((1-fx)*fy)*b01 + (fx*fy)*b11 AS dlonw
       |  FROM nd
       |)
       |SELECT doc_id, span_idx,
       |       round(lon - dlonw/3600.0, 9) AS lon9,
       |       round(lat + dlat/3600.0, 9) AS lat9
       |FROM sh""".stripMargin
  }

  private def annIvfPqSql: String = {
    val (nLists, nProbe, k, m, dsub, ck, nCand) = (16, 4, 20, 8, 8, 16, 60)
    s"""WITH q AS (SELECT $queryVecSql AS qv),
       |cent0 AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, embedding::DOUBLE[] AS ce
       |  FROM embeddings ORDER BY vec_id LIMIT $nLists),
       |cent AS (
       |  SELECT ci, list_transform(ce,
       |           x -> x / greatest(sqrt(list_dot_product(ce, ce)), 1e-300)) AS cn
       |  FROM cent0),
       |assign AS (
       |  SELECT e.vec_id, e.label, e.embedding::DOUBLE[] AS emb,
       |         (SELECT c.ci FROM cent c
       |          ORDER BY list_dot_product(e.embedding::DOUBLE[], c.cn) DESC, c.ci
       |          LIMIT 1) AS list
       |  FROM embeddings e),
       |res AS (
       |  SELECT a.vec_id, a.label, a.emb, a.list,
       |         list_transform(list_zip(a.emb, c.cn), p -> p[1] - p[2]) AS r
       |  FROM assign a JOIN cent c ON a.list = c.ci),
       |ms AS (SELECT unnest(generate_series(0, ${m - 1})) AS m),
       |seedv AS (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ki, r
       |  FROM res ORDER BY vec_id LIMIT $ck),
       |cb0 AS (
       |  SELECT ms.m, s.ki, s.r[ms.m * $dsub + 1 : ms.m * $dsub + $dsub] AS cv
       |  FROM ms, seedv s),
       |sub AS (
       |  SELECT v.vec_id, ms.m, v.r[ms.m * $dsub + 1 : ms.m * $dsub + $dsub] AS sv
       |  FROM res v, ms),
       |code0 AS (
       |  SELECT a.vec_id, a.m, a.sv,
       |         (SELECT c.ki FROM cb0 c WHERE c.m = a.m
       |          ORDER BY list_dot_product(
       |            list_transform(list_zip(a.sv, c.cv), p -> p[1] - p[2]),
       |            list_transform(list_zip(a.sv, c.cv), p -> p[1] - p[2])), c.ki
       |          LIMIT 1) AS ki
       |  FROM sub a),
       |upd AS (
       |  SELECT m, ki, pos.pos AS pos,
       |         CAST(sum(CAST(floor(sv[pos.pos] * CAST(1000000 AS DOUBLE)
       |                  + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS s,
       |         count(*) AS n
       |  FROM code0, (SELECT unnest(generate_series(1, $dsub)) AS pos) pos
       |  GROUP BY m, ki, pos.pos),
       |updl AS (
       |  SELECT m, ki, list((CAST(s AS DOUBLE) / n) / CAST(1000000 AS DOUBLE) ORDER BY pos) AS cv2
       |  FROM upd GROUP BY m, ki),
       |cb AS (
       |  SELECT c0.m, c0.ki, COALESCE(u.cv2, c0.cv) AS cv
       |  FROM cb0 c0 LEFT JOIN updl u ON u.m = c0.m AND u.ki = c0.ki),
       |code AS (
       |  SELECT a.vec_id, a.m,
       |         (SELECT c.ki FROM cb c WHERE c.m = a.m
       |          ORDER BY list_dot_product(
       |            list_transform(list_zip(a.sv, c.cv), p -> p[1] - p[2]),
       |            list_transform(list_zip(a.sv, c.cv), p -> p[1] - p[2])), c.ki
       |          LIMIT 1) AS ki
       |  FROM sub a),
       |qd AS (
       |  SELECT ci, list_transform(list_zip(q.qv, cn), p -> p[1] - p[2]) AS qr
       |  FROM cent, q
       |  ORDER BY list_dot_product(q.qv, cn) DESC, ci LIMIT $nProbe),
       |lutd AS (
       |  SELECT d.ci, b.m, b.ki,
       |         list_dot_product(
       |           list_transform(list_zip(d.qr[b.m * $dsub + 1 : b.m * $dsub + $dsub], b.cv), p -> p[1] - p[2]),
       |           list_transform(list_zip(d.qr[b.m * $dsub + 1 : b.m * $dsub + $dsub], b.cv), p -> p[1] - p[2])) AS dm
       |  FROM qd d, cb b),
       |adc AS (
       |  SELECT v.vec_id, any_value(v.label) AS label, any_value(v.list) AS list,
       |         list_sum(list(l.dm ORDER BY l.m)) AS adist
       |  FROM res v
       |  JOIN code k ON k.vec_id = v.vec_id
       |  JOIN lutd l ON l.ci = v.list AND l.m = k.m AND l.ki = k.ki
       |  GROUP BY v.vec_id),
       |cand AS (
       |  SELECT vec_id, label, list, adist FROM adc
       |  ORDER BY adist, vec_id LIMIT $nCand),
       |rer AS (
       |  SELECT c.vec_id, c.label, c.list,
       |         list_dot_product(v.emb, q.qv) /
       |         greatest(sqrt(list_dot_product(v.emb, v.emb)) * sqrt(list_dot_product(q.qv, q.qv)), 1e-300) AS sim
       |  FROM cand c JOIN res v ON c.vec_id = v.vec_id, q)
       |SELECT vec_id, label, list, round(sim, 6) AS sim6 FROM rer
       |ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }

  /** Embedding near-duplicate pairs oracle: md5-derived hyperplane
    * buckets (as in annLshSql), bucket-local self-join, exact cosine. */
  private def nearDupSql: String = {
    val planes = 6
    val wv =
      """list_transform(generate_series(0, 63), d ->
        |           CASE WHEN (strpos('0123456789abcdef',
        |                  substring(md5(CAST(w.p AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 2, 1)) - 1) % 2 = 0
        |                THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)""".stripMargin
    s"""WITH w AS (
       |  SELECT w.p AS p,
       |         $wv AS wv
       |  FROM (SELECT unnest(generate_series(0, ${planes - 1})) AS p) w),
       |eb AS (
       |  SELECT e.vec_id, e.embedding,
       |         (SELECT CAST(sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], w.wv) >= 0
       |                               THEN (1::BIGINT << CAST(w.p AS INT)) ELSE 0 END) AS BIGINT)
       |          FROM w) AS bucket
       |  FROM embeddings e),
       |pairs AS (
       |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       |         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |         greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |                  sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 1e-300) AS sim
       |  FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |SELECT a_id, b_id, round(sim, 6) AS sim6 FROM pairs
       |WHERE sim >= CAST(0.15 AS DOUBLE)""".stripMargin
  }

  /** MinHash-LSH dedup oracle: same md5-anchored signature, band keys,
    * and single-hop min-rep union as TextOps.minhashDedup. */
  private def minhashDedupSql: String = {
    val n = 2 // shingleN=3 -> slices of 3 words -> indices i..i+2
    s"""WITH sh AS (
       |  SELECT doc_id,
       |         CASE WHEN len($wordsSql) < 3
       |           THEN [array_to_string($wordsSql, ' ')]
       |           ELSE list_transform(generate_series(1, len($wordsSql) - 2),
       |                i -> array_to_string(($wordsSql)[i:i+2], ' ')) END AS sh
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |         list_transform(generate_series(0, 15),
       |           p -> list_min(list_transform(sh, s -> md5(CAST(p AS VARCHAR) || ':' || s)))) AS sig
       |  FROM sh),
       |bands AS (
       |  SELECT doc_id, unnest(list_transform(generate_series(0, 3),
       |           b -> md5(CAST(b AS VARCHAR) || '|' ||
       |                    array_to_string(sig[b * 4 + 1:b * 4 + 4], ',')))) AS band
       |  FROM sig),
       |rep AS (SELECT band, min(doc_id) AS band_rep FROM bands GROUP BY band)
       |SELECT b.doc_id, min(r.band_rep) AS rep_doc_id
       |FROM bands b JOIN rep r USING (band)
       |GROUP BY b.doc_id""".stripMargin
  }

  /** SimHash oracle: md5 hex chars -> 64 bit votes, bit set where the
    * vote sum is positive; identical bit layout to SimHash64 (hex char
    * h covers bits 4h..4h+3, MSB first; result bit b at 1<<(63-b)). */
  private def simhashSql: String =
    s"""WITH w AS (
       |  SELECT doc_id, unnest($wordsSql) AS tok FROM documents),
       |h AS (SELECT doc_id, md5(tok) AS hx FROM w),
       |bits AS (
       |  SELECT doc_id, b.b AS b,
       |         ((strpos('0123456789abcdef', substring(hx, CAST(b.b // 4 AS INT) + 1, 1)) - 1)
       |          >> (3 - (b.b % 4))) & 1 AS bit
       |  FROM h CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) b),
       |votes AS (
       |  SELECT doc_id, b, sum(CASE WHEN bit = 1 THEN 1 ELSE -1 END) AS v
       |  FROM bits GROUP BY doc_id, b),
       |sigs AS (
       |  SELECT doc_id,
       |         sum(CASE WHEN v <= 0 THEN 0
       |                  WHEN b = 0 THEN -9223372036854775808
       |                  ELSE (1::BIGINT << CAST(63 - b AS INT)) END) AS simhash
       |  FROM votes GROUP BY doc_id)
       |SELECT doc_id, CAST(simhash AS BIGINT) AS simhash FROM sigs
       |UNION ALL
       |SELECT doc_id, 0 AS simhash FROM documents
       |WHERE len($wordsSql) = 0""".stripMargin
}
