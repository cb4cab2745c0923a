package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Model

/** Deterministic synthesizer of the canonical interleaved document table
  * (doc_id, spans) from the driver-provided `lineitem` parquet — no
  * external data, fully reproducible in ANSI SQL (the DuckDB oracle
  * recomputes the identical derivation from the same parquet; see
  * [[Oracle]] for the SQL twins of these formulas).
  *
  * Shape: one document per order; each lineitem row contributes a point
  * span (quantized integer payload, kind="point"), odd line numbers also
  * a text span, line numbers ≡ 1 (mod 3) also a media span. Offsets are
  * l_linenumber*3 + {0,1,2} so the interleave order is deterministic.
  *
  * The synthetic point cloud covers [0, 999.5]² in x/y (0.5-step grid,
  * exact in binary floating point) with z derived from quantity — the
  * same ramp/constant/uniform spirit as the reference's FauxReader
  * (io/faux/FauxReader.cpp:132-196) but keyed off the driver tables so
  * scale factors sf0.001/0.01/0.1 give 6k/60k/600k points.
  */
object DocSynth {

  /** Integer payload columns (quantized dims), exactly mirrored in
    * [[Oracle.pointsCte]]. All arithmetic is int64 — bit-exact in any
    * engine. */
  /** Unique per-document span ordinal: (l_orderkey, l_linenumber) is NOT
    * unique in the driver data, so `seq` is a row_number over the full
    * span-content ordering key — rows tied on the whole key produce
    * byte-identical spans, so residual tie order is unobservable. */
  private def quantized(li: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey")).orderBy(
      col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("l_quantity"), col("l_returnflag"), col("l_linestatus"))
    li.withColumn("seq", row_number().over(w)).select(
      // keep the raw long key alongside: grouping the span union by it
      // (not by the derived string) lets Catalyst reuse the window's
      // hash exchange — one shuffle for the whole synthesis
      col("l_orderkey").as("okey"),
      col("l_orderkey").cast(StringType).as("doc_id"),
      col("seq"),
      (col("seq") * 3).cast(IntegerType).as("offset"),
      ((col("l_partkey") * 37 + col("l_orderkey") * 11) % 2000).as("xi"),
      ((col("l_partkey") * 13 + col("l_suppkey") * 7 + col("l_orderkey")) % 2000).as("yi"),
      (col("l_quantity").cast(LongType) * 20 + (col("l_orderkey") % 20)).as("zi"),
      ((col("l_partkey") * 31 + col("l_suppkey")) % 65536).cast(IntegerType).as("intensity"),
      (col("l_orderkey") * 32 + col("seq")).cast(LongType).as("pid"),
      col("l_partkey"), col("l_returnflag"), col("l_linestatus")
    )
  }

  /** The canonical doc table for a testdata dir. One shuffle (groupBy
    * doc_id). At production scale this table would be the stored input
    * (partitioned by cell cover of its points); here it is synthesized. */
  def docTable(spark: SparkSession, sfDir: String): DataFrame =
    docTableFrom(spark.read.parquet(s"$sfDir/lineitem.parquet"))

  def docTableFrom(li: DataFrame): DataFrame = {
    val q = quantized(li)
    // SINGLE-PASS span construction: each lineitem row emits its 1-3
    // spans as one array cell (point always; text iff seq odd; media iff
    // seq ≡ 1 mod 3) instead of a 3-branch union that scans the windowed
    // input three times. Identical rows in identical order — the span
    // structs and the (offset-first) sort key are byte-for-byte the same
    // as the union formulation mirrored in Oracle.spansCte.
    def span(off: Column, kind: String, text: Column, mediaRef: Column): Column =
      struct(off.as("offset"), lit(kind).as("kind"), text.as("text"),
        mediaRef.as("media_ref"))
    val spanArr = filter(array(
      span(col("offset"), "point",
        concat_ws(",", col("xi").cast(StringType), col("yi").cast(StringType),
          col("zi").cast(StringType), col("intensity").cast(StringType),
          col("pid").cast(StringType)), lit("")),
      when(col("seq") % 2 === 1,
        span(col("offset") + 1, "text",
          concat(col("l_returnflag"), col("l_linestatus"), lit(" line "),
            col("seq").cast(StringType)), lit(""))),
      when(col("seq") % 3 === 1,
        span(col("offset") + 2, "media", lit(""),
          concat(lit("blob://"), col("l_partkey").cast(StringType))))),
      x => x.isNotNull)
    q.groupBy(col("okey"))
      .agg(sort_array(flatten(collect_list(spanArr))).as("ordered"))
      .select(col("okey").cast(StringType).as("doc_id"),
        transform(col("ordered"), s => struct(
          s.getField("kind").as("kind"),
          s.getField("text").as("text"),
          s.getField("media_ref").as("media_ref"),
          s.getField("offset").as("offset"))).as("spans"))
  }

  // Session-scoped memo so a Verify/Bench run synthesizes + caches once.
  private val memo = scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Materialized once per sfDir as an eager localCheckpoint, NOT a
    * columnar `.persist()`: building the in-memory columnar cache for
    * the array-of-structs spans column costs 3-10x the synthesis itself
    * and every downstream explode pays a columnar->row conversion; the
    * checkpointed row representation materializes in ~1/10 the time and
    * reads back faster (measured: persist 7.6-49s build + 0.7-1.5s per
    * explode vs checkpoint ~3s build + 0.2-0.5s per explode at sf0.1).
    * Lineage truncation is safe here: the table is a deterministic
    * synthesis re-creatable by re-calling docTable. */
  def cachedDocs(spark: SparkSession, sfDir: String): DataFrame =
    memo.getOrElseUpdate(sfDir, docTable(spark, sfDir).localCheckpoint())

  /** Deterministically replicated doc table for scale benchmarks: R
    * replicas, each with distinct doc ids and shifted coordinates (a
    * pure projection fan-out — rows materialize in the executors, never
    * the driver, exactly like reading an R-times-larger table). */
  def docTableReplicated(spark: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    // the testdata parquet has ONE row group (physically unsplittable):
    // fan the 600k base rows out round-robin BEFORE the R-fold expansion
    // so the expansion runs on all cores. At production scale the source
    // has thousands of row groups and this repartition disappears.
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .repartition(math.max(spark.sparkContext.defaultParallelism * 2, 16))
    val rep = spark.range(replicas).select(col("id").as("__rep"))
    val liR = li.crossJoin(rep)
      .withColumn("l_orderkey", col("l_orderkey") * replicas + col("__rep"))
      .withColumn("l_partkey", col("l_partkey") + col("__rep") * 131)
      .withColumn("l_suppkey", col("l_suppkey") + col("__rep") * 17)
      .drop("__rep")
    docTableFrom(liR)
  }

  /** Attach per-document bounding-box columns (computed from point
    * spans) for storage: parquet then carries doc-level min/max stats so
    * spatial predicates skip whole row groups without decoding spans —
    * the QuickInfo/tindex preview the reference does per file
    * (LasReader.cpp:122-140 inspect; TIndexKernel boundary index),
    * expressed as ordinary column statistics. */
  def withDocBounds(docs: DataFrame): DataFrame = {
    val pts = Model.explodePoints(docs)
    val bounds = pts.groupBy(col("doc_id")).agg(
      min("x").as("minx"), max("x").as("maxx"),
      min("y").as("miny"), max("y").as("maxy"))
    docs.join(bounds, Seq("doc_id"), "left")
  }

  /** The flat point frame for a testdata dir, via the honest path
    * (doc table -> explode -> decode). */
  def points(spark: SparkSession, sfDir: String): DataFrame =
    Model.explodePoints(cachedDocs(spark, sfDir))
}

/** SQL twins of the Spark derivations above, for the DuckDB oracle.
  * Any edit to DocSynth formulas must be mirrored here (and vice versa) —
  * the correctness gate compares the two row-for-row. */
object Oracle {
  /** Points CTE: identical values to DocSynth.points.
    * NOTE DuckDB CAST(double AS INT) rounds (Spark truncates) — all
    * formulas below stay in integer arithmetic until the final exact
    * *0.5 scaling, so no cast-direction trap. */
  /** Shared ordinal CTE: the unique per-doc span ordinal (see
    * DocSynth.quantized — row_number over the full span-content key). */
  private val seqCte: String =
    """li AS (
      |  SELECT *, CAST(row_number() OVER (
      |           PARTITION BY l_orderkey
      |           ORDER BY l_linenumber, l_partkey, l_suppkey, l_quantity,
      |                    l_returnflag, l_linestatus) AS INT) AS seq
      |  FROM lineitem
      |)""".stripMargin

  /** Points CTE: identical values to DocSynth.points.
    * NOTE DuckDB CAST(double AS INT) rounds (Spark truncates) — all
    * formulas below stay in integer arithmetic until the final exact
    * *0.5 scaling, so no cast-direction trap. */
  val pointsCte: String = seqCte + """, pts AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
      |         seq * 3 AS span_idx,
      |         CAST((l_partkey * 37 + l_orderkey * 11) % 2000 AS DOUBLE) * 0.5 AS x,
      |         CAST((l_partkey * 13 + l_suppkey * 7 + l_orderkey) % 2000 AS DOUBLE) * 0.5 AS y,
      |         CAST(CAST(l_quantity AS BIGINT) * 20 + (l_orderkey % 20) AS DOUBLE) * 0.5 AS z,
      |         CAST((l_partkey * 31 + l_suppkey) % 65536 AS INT) AS intensity,
      |         CAST(l_orderkey * 32 + seq AS DOUBLE) AS gps_time
      |  FROM li
      |)""".stripMargin

  /** Span CTE: one row per span (doc_id, kind, text, media_ref, offset) —
    * identical strings to DocSynth.docTable's span structs. */
  val spansCte: String = seqCte + """, spans AS (
      |  SELECT CAST(l_orderkey AS VARCHAR) AS doc_id, 'point' AS kind,
      |         CAST((l_partkey * 37 + l_orderkey * 11) % 2000 AS VARCHAR) || ',' ||
      |         CAST((l_partkey * 13 + l_suppkey * 7 + l_orderkey) % 2000 AS VARCHAR) || ',' ||
      |         CAST(CAST(l_quantity AS BIGINT) * 20 + (l_orderkey % 20) AS VARCHAR) || ',' ||
      |         CAST((l_partkey * 31 + l_suppkey) % 65536 AS VARCHAR) || ',' ||
      |         CAST(l_orderkey * 32 + seq AS VARCHAR) AS text,
      |         '' AS media_ref, seq * 3 AS "offset"
      |  FROM li
      |  UNION ALL
      |  SELECT CAST(l_orderkey AS VARCHAR), 'text',
      |         l_returnflag || l_linestatus || ' line ' || CAST(seq AS VARCHAR),
      |         '', seq * 3 + 1
      |  FROM li WHERE seq % 2 = 1
      |  UNION ALL
      |  SELECT CAST(l_orderkey AS VARCHAR), 'media', '',
      |         'blob://' || CAST(l_partkey AS VARCHAR), seq * 3 + 2
      |  FROM li WHERE seq % 3 = 1
      |)""".stripMargin
}
