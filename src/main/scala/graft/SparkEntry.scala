package graft

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window

import graft.model.Model
import graft.sources.{DocSynth, Oracle}
import graft.operators._
import graft.functions.SpatialFunctions

/** Driver contract: one `queries` entry per implemented operator
  * (SURVEY.md §2), each with a DuckDB-runnable oracle twin in
  * [[oracleSql]] where ANSI SQL can express the semantics.
  *
  * All spatial queries run over the deterministic interleaved doc table
  * synthesized from `lineitem` (graft.sources.DocSynth) — the oracle SQL
  * re-derives the identical points from the same parquet (see
  * graft.sources.Oracle.pointsCte), so compares are row-for-row.
  */
object SparkEntry {

  /** Convex test polygon (hexagon) for PIP queries — convex so the oracle
    * can express containment as half-plane tests. Vertices offset by
    * .3/.7 so no synthesized point (0.5-grid) lies exactly on an edge. */
  private val hexVerts: Seq[(Double, Double)] = Seq(
    (800.3, 500.7), (650.3, 760.7), (350.3, 760.7),
    (200.3, 500.7), (350.3, 240.7), (650.3, 240.7))
  private val hexWkt: String =
    "POLYGON ((" + (hexVerts :+ hexVerts.head)
      .map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
  /** SQL half-plane containment for the CCW hexagon (strict interior —
    * matches JTS contains, which excludes the boundary; no grid point
    * lies on an edge so > vs >= is moot). */
  private def hexContainsSql(xc: String, yc: String): String =
    hexVerts.indices.map { i =>
      val (x1, y1) = hexVerts(i)
      val (x2, y2) = hexVerts((i + 1) % hexVerts.size)
      s"(($x2 - $x1) * ($yc - $y1) - ($y2 - $y1) * ($xc - $x1)) > 0"
    }.mkString("(", " AND ", ")")

  /** Attribute-join features: three overlapping convex boxes (as WKT),
    * last matching feature wins. */
  private val attrFeatures: Seq[(String, Double)] = Seq(
    ("POLYGON ((100.3 100.7, 600.3 100.7, 600.3 600.7, 100.3 600.7, 100.3 100.7))", 10.0),
    ("POLYGON ((400.3 400.7, 900.3 400.7, 900.3 900.7, 400.3 900.7, 400.3 400.7))", 20.0),
    ("POLYGON ((300.3 300.7, 700.3 300.7, 700.3 700.7, 300.3 700.7, 300.3 300.7))", 30.0))
  private def boxContainsSql(wktIdx: Int, xc: String, yc: String): String = {
    // box i: (minx miny, maxx maxy) extracted from the fixed WKTs above
    val boxes = Seq((100.3, 100.7, 600.3, 600.7), (400.3, 400.7, 900.3, 900.7),
      (300.3, 300.7, 700.3, 700.7))
    val (mnx, mny, mxx, mxy) = boxes(wktIdx)
    s"($xc > $mnx AND $xc < $mxx AND $yc > $mny AND $yc < $mxy)"
  }

  /** Deterministic synthetic raster for the colorization fixture: band
    * values are pure functions of the pixel coords, so the oracle can
    * inline them. 256x256 pixels of size 4 covering [0,1024). */
  private def synthRaster(spark: SparkSession): DataFrame = {
    spark.range(0, 256L * 256)
      .select((col("id") % 256).as("px"), floor(col("id") / 256).cast(LongType).as("py"))
      .select(col("px"), col("py"),
        ((col("px") * 7 + col("py") * 13) % 256).cast(DoubleType).as("band1"),
        ((col("px") * 3 + col("py") * 5) % 256).cast(DoubleType).as("band2"))
  }

  /** Flagship: the north-star headline end-to-end — interleaved doc
    * table -> explode point spans -> polygon PIP join (cover prefilter +
    * exact prepared-geometry test) -> splitter tile assignment ->
    * per-tile aggregate. */
  def entry(spark: SparkSession): DataFrame = {
    val p = pts(spark, "/root/testdata/sf0.001")
    val inPoly = JoinOps.cropPolygon(hexWkt)(p)
    TileOps.tileCounts(64.0, 0.0, 0.0)(inPoly)
  }

  private def pts(s: SparkSession, dir: String): DataFrame = DocSynth.points(s, dir)

  def queries: Map[String, (SparkSession, String) => DataFrame] = baseQueries ++ EntryPipelines.queries

  private def baseQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- span machinery -------------------------------------------------
    "q_span_identity" -> ((s, dir) => {
      val docs = DocSynth.cachedDocs(s, dir)
      val roundTrip = Model.implode(docs, Model.explodePoints(docs))
      Model.spanSignature(roundTrip)
    }),

    // ---- filters --------------------------------------------------------
    "q_range" -> ((s, dir) =>
      PointOps.range(Seq(PointOps.DimRange("z", 100, 200),
        PointOps.DimRange("intensity", 0, 30000)))(pts(s, dir))
        .select("doc_id", "span_idx", "x", "y", "z", "intensity")),

    "q_crop_box" -> ((s, dir) =>
      PointOps.cropBox(PointOps.Box3D(100, 100, 0, 400, 400, 1000))(pts(s, dir))
        .select("doc_id", "span_idx", "x", "y", "z")),

    "q_crop_box_outside" -> ((s, dir) =>
      PointOps.cropBox(PointOps.Box3D(100, 100, 0, 400, 400, 1000), outside = true)(pts(s, dir))
        .groupBy().agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"))),

    "q_decimation" -> ((s, dir) =>
      PointOps.decimation(step = 7, offset = 2, ordinal = "point_seq")(
        PointOps.withPointSeq(pts(s, dir)))
        .select("doc_id", "span_idx", "point_seq")),

    "q_ferry_transform" -> ((s, dir) => {
      val f = PointOps.ferry(Seq("x" -> "state_plane_x"))(pts(s, dir))
      PointOps.transformation(Array(
        2, 0, 0, 1,
        0, 0.5, 0, -3,
        0, 0, 1, 100,
        0, 0, 0, 1))(f)
        .select("doc_id", "span_idx", "x", "y", "z", "state_plane_x")
    }),

    "q_merge" -> ((s, dir) => {
      val p = pts(s, dir)
      PointOps.merge(Seq(p, p)).groupBy().agg(count(lit(1)).as("n"), sum(col("z")).as("sum_z"))
    }),

    // ---- sorts ----------------------------------------------------------
    "q_sort" -> ((s, dir) => {
      // distributed top-k (TakeOrderedAndProject) first; the rank window
      // then runs over 500 rows, not the whole table
      val top = pts(s, dir).orderBy(col("x"), col("doc_id"), col("span_idx")).limit(500)
      val w = Window.orderBy(col("x"), col("doc_id"), col("span_idx"))
      top.withColumn("rn", row_number().over(w))
        .select("rn", "doc_id", "span_idx", "x")
    }),

    "q_morton_sort" -> ((s, dir) => {
      val mk = SpatialFunctions.mortonKey(col("x"), col("y"))
      val top = pts(s, dir).withColumn("mk", mk)
        .orderBy(col("mk"), col("doc_id"), col("span_idx")).limit(500)
      val w = Window.orderBy(col("mk"), col("doc_id"), col("span_idx"))
      top.withColumn("rn", row_number().over(w))
        .select("rn", "doc_id", "span_idx", "mk")
    }),

    // ---- tiling ---------------------------------------------------------
    "q_splitter" -> ((s, dir) =>
      TileOps.tileCounts(100.0, 500.0, 500.0)(pts(s, dir))),

    "q_lod" -> ((s, dir) =>
      TileOps.lodPyramid(4, ordinal = "point_seq")(PointOps.withPointSeq(pts(s, dir)))
        .groupBy(col("level")).agg(count(lit(1)).as("n"), sum(col("cell")).as("sum_cell"))),

    // ---- aggregates -----------------------------------------------------
    "q_stats" -> ((s, dir) =>
      AggOps.stats(Seq("x", "y", "z", "intensity", "gps_time"))(pts(s, dir))
        .select("dim", "count", "min", "max", "avg")),

    "q_voxel" -> ((s, dir) =>
      AggOps.voxelGrid(8, 8, 4)(pts(s, dir))),

    "q_gridmin" -> ((s, dir) =>
      AggOps.gridMinimum(64)(pts(s, dir))
        .select("gx", "gy", "doc_id", "span_idx", "x", "y", "z")),

    // ---- spatial joins --------------------------------------------------
    "q_crop_polygon" -> ((s, dir) =>
      JoinOps.cropPolygon(hexWkt)(pts(s, dir))
        .select("doc_id", "span_idx", "x", "y")),

    "q_attribute_pip" -> ((s, dir) =>
      JoinOps.attributeJoin(attrFeatures, "attr")(
        pts(s, dir).withColumn("attr", lit(0.0)))
        .filter(col("attr") =!= 0.0)
        .select("doc_id", "span_idx", "attr")),

    "q_colorize" -> ((s, dir) =>
      JoinOps.colorize(synthRaster(s), Array(0, 4, 0, 0, 0, 4),
        Seq(("band1", "red", 1.0), ("band2", "blue", 255.0)))(pts(s, dir))
        .select("doc_id", "span_idx", "red", "blue"))
  )

  def oracleSql: Map[String, String] = baseOracleSql ++ EntryPipelines.oracleSql

  private def baseOracleSql: Map[String, String] = {
    val P = Oracle.pointsCte
    Map(
      "q_span_identity" ->
        s"""WITH ${Oracle.spansCte}
           |SELECT doc_id,
           |       string_agg(kind || ':' || text || ':' || media_ref || ':' ||
           |                  CAST("offset" AS VARCHAR), '|' ORDER BY "offset") AS sig
           |FROM spans GROUP BY doc_id""".stripMargin,

      "q_range" ->
        s"""WITH $P
           |SELECT doc_id, span_idx, x, y, z, intensity FROM pts
           |WHERE z BETWEEN 100 AND 200 AND intensity BETWEEN 0 AND 30000""".stripMargin,

      "q_crop_box" ->
        s"""WITH $P
           |SELECT doc_id, span_idx, x, y, z FROM pts
           |WHERE x BETWEEN 100 AND 400 AND y BETWEEN 100 AND 400 AND z BETWEEN 0 AND 1000""".stripMargin,

      "q_crop_box_outside" ->
        s"""WITH $P
           |SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sum_x FROM pts
           |WHERE NOT (x BETWEEN 100 AND 400 AND y BETWEEN 100 AND 400 AND z BETWEEN 0 AND 1000)""".stripMargin,

      "q_decimation" ->
        s"""WITH $P, seq AS (
           |  SELECT doc_id, span_idx,
           |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_idx) - 1 AS INT) AS point_seq
           |  FROM pts)
           |SELECT doc_id, span_idx, point_seq FROM seq
           |WHERE point_seq >= 2 AND (point_seq - 2) % 7 = 0""".stripMargin,

      "q_ferry_transform" ->
        s"""WITH $P
           |SELECT doc_id, span_idx,
           |       x * 2 + 1 AS x, y * 0.5 - 3 AS y, z + 100 AS z,
           |       x AS state_plane_x
           |FROM pts""".stripMargin,

      "q_merge" ->
        s"""WITH $P
           |SELECT CAST(count(*) AS BIGINT) AS n, sum(z) AS sum_z
           |FROM (SELECT * FROM pts UNION ALL SELECT * FROM pts)""".stripMargin,

      "q_sort" ->
        s"""WITH $P
           |SELECT CAST(row_number() OVER (ORDER BY x, doc_id, span_idx) AS INT) AS rn,
           |       doc_id, span_idx, x
           |FROM pts QUALIFY rn <= 500""".stripMargin,

      "q_morton_sort" ->
        s"""WITH $P, mk AS (
           |  SELECT doc_id, span_idx, ${mortonSql("x", "y")} AS mk FROM pts)
           |SELECT CAST(row_number() OVER (ORDER BY mk, doc_id, span_idx) AS INT) AS rn,
           |       doc_id, span_idx, mk
           |FROM mk QUALIFY rn <= 500""".stripMargin,

      "q_splitter" ->
        s"""WITH $P
           |SELECT CAST(trunc((x - 500.0) / 100.0) AS INT) AS tile_x,
           |       CAST(trunc((y - 500.0) / 100.0) AS INT) AS tile_y,
           |       CAST(count(*) AS BIGINT) AS n,
           |       min(x) AS minx, min(y) AS miny, max(x) AS maxx, max(y) AS maxy
           |FROM pts GROUP BY 1, 2""".stripMargin,

      "q_lod" ->
        s"""WITH $P, seq AS (
           |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY span_idx) - 1 AS INT) AS point_seq
           |  FROM pts),
           |lv AS (SELECT unnest(generate_series(0, 4)) AS level),
           |keep AS (
           |  SELECT s.*, lv.level,
           |         ((${mortonSql("s.x", "s.y")} >> ((30 - lv.level) * 2)) << 6) | lv.level AS cell
           |  FROM seq s CROSS JOIN lv
           |  WHERE s.point_seq % CAST(power(4, 4 - lv.level) AS BIGINT) = 0)
           |SELECT level, CAST(count(*) AS BIGINT) AS n, CAST(sum(cell) AS BIGINT) AS sum_cell
           |FROM keep GROUP BY level""".stripMargin,

      "q_stats" ->
        s"""WITH $P
           |SELECT * FROM (
           |  SELECT 'x' AS dim, CAST(count(x) AS BIGINT) AS count, min(x) AS min, max(x) AS max, avg(x) AS avg FROM pts
           |  UNION ALL
           |  SELECT 'y', count(y), min(y), max(y), avg(y) FROM pts
           |  UNION ALL
           |  SELECT 'z', count(z), min(z), max(z), avg(z) FROM pts
           |  UNION ALL
           |  SELECT 'intensity', count(intensity), CAST(min(intensity) AS DOUBLE), CAST(max(intensity) AS DOUBLE), sum(CAST(intensity AS BIGINT)) / CAST(count(*) AS DOUBLE) FROM pts
           |  UNION ALL
           |  SELECT 'gps_time', count(gps_time), min(gps_time), max(gps_time), avg(gps_time) FROM pts)""".stripMargin,

      "q_voxel" ->
        s"""WITH $P
           |SELECT CAST(floor(x / 8) AS BIGINT) AS vx, CAST(floor(y / 8) AS BIGINT) AS vy, CAST(floor(z / 4) AS BIGINT) AS vz,
           |       sum(x) / count(*) AS x, sum(y) / count(*) AS y, sum(z) / count(*) AS z,
           |       CAST(count(*) AS BIGINT) AS n
           |FROM pts GROUP BY 1, 2, 3""".stripMargin,

      "q_gridmin" ->
        s"""WITH $P
           |SELECT CAST(floor(x / 64) AS BIGINT) AS gx, CAST(floor(y / 64) AS BIGINT) AS gy,
           |       doc_id, span_idx, x, y, z
           |FROM pts
           |QUALIFY row_number() OVER (PARTITION BY gx, gy ORDER BY z, doc_id, span_idx) = 1""".stripMargin,

      "q_crop_polygon" ->
        s"""WITH $P
           |SELECT doc_id, span_idx, x, y FROM pts
           |WHERE ${hexContainsSql("x", "y")}""".stripMargin,

      "q_attribute_pip" ->
        s"""WITH $P
           |SELECT doc_id, span_idx,
           |       CASE WHEN ${boxContainsSql(2, "x", "y")} THEN CAST(30.0 AS DOUBLE)
           |            WHEN ${boxContainsSql(1, "x", "y")} THEN CAST(20.0 AS DOUBLE)
           |            WHEN ${boxContainsSql(0, "x", "y")} THEN CAST(10.0 AS DOUBLE)
           |            ELSE CAST(0.0 AS DOUBLE) END AS attr
           |FROM pts
           |WHERE ${boxContainsSql(0, "x", "y")} OR ${boxContainsSql(1, "x", "y")}
           |   OR ${boxContainsSql(2, "x", "y")}""".stripMargin,

      "q_colorize" ->
        s"""WITH $P
           |SELECT doc_id, span_idx,
           |       CAST((CAST(floor(x / 4) AS BIGINT) * 7 + CAST(floor(y / 4) AS BIGINT) * 13) % 256 AS DOUBLE) AS red,
           |       CAST((CAST(floor(x / 4) AS BIGINT) * 3 + CAST(floor(y / 4) AS BIGINT) * 5) % 256 AS DOUBLE) * 255.0 AS blue
           |FROM pts""".stripMargin
    )
  }

  /** Morton key of (x, y) in CellSpace.default, as pure SQL bit math —
    * the oracle twin of graft.index.Morton.interleave. The default space
    * scale is 2^20 exactly (2^30 cells over [0,1024)), so ix = x * 2^20
    * is an exact integer for the 0.5-grid synthetic points. */
  private def mortonSql(xc: String, yc: String): String = {
    def spread(v: String): String = {
      // progressive magic-mask spreading, mirroring Morton.spread
      val s1 = s"((($v) | (($v) << 16)) & 281470681808895)" // 0x0000ffff0000ffff
      val s2 = s"((($s1) | (($s1) << 8)) & 71777214294589695)" // 0x00ff00ff00ff00ff
      val s3 = s"((($s2) | (($s2) << 4)) & 1085102592571150095)" // 0x0f0f0f0f0f0f0f0f
      val s4 = s"((($s3) | (($s3) << 2)) & 3689348814741910323)" // 0x3333333333333333
      s"((($s4) | (($s4) << 1)) & 6148914691236517205)" // 0x5555555555555555
    }
    val ix = s"CAST(($xc) * 1048576 AS BIGINT)"
    val iy = s"CAST(($yc) * 1048576 AS BIGINT)"
    s"(${spread(ix)} | (${spread(iy)} << 1))"
  }
}
