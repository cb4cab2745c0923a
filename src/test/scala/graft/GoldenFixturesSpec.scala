package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.{Faux, LasDecode}
import graft.operators._
import graft.model.Model

/** Shared session for all suites (one JVM, reused). */
object TestSpark {
  lazy val spark: SparkSession = Session.local(8, 8, "spark.app.name" -> "graft-test",
    Session.Utc, Session.LateSortFallback)
  val RefData = "/root/reference/test/data"
  val RefRoot = RefData.stripSuffix("/test/data")
  /** Path of the reference fixture `rel` under [[RefData]]. Fails with one
    * clear message when the fixture root itself is absent, instead of a
    * null directory listing or a reader's bare NoSuchFileException. */
  def ref(rel: String): String = {
    if (!refPresent)
      throw new java.io.FileNotFoundException(
        s"reference fixture root $RefData is missing (needed for $rel)")
    s"$RefData/$rel"
  }
  /** Whether the fixture root [[RefData]] is a directory: the one
    * condition on which [[refOr]] (and a spec that picks its input
    * directly) takes the fixture rather than an engine-written twin. */
  def refPresent: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(RefData))
  /** Input path for a spec that uses the reference fixture `rel` only as
    * an arbitrary file of its format (a loud failure on a malformed file,
    * a write->read round trip, a glob-versus-driver equality), never for
    * its content. When the fixture root [[RefData]] is a directory this
    * is `s"$RefData/$rel"`, the fixture itself. Only when the root itself
    * is absent is it `twin`, the path of an engine-written file of the
    * same format ([[Twins]]). The choice is made on the root, not on the
    * file: under a present root a missing or renamed fixture must still
    * fail loudly, never be silently replaced by a twin. */
  def refOr(rel: String)(twin: => String): String =
    if (refPresent) s"$RefData/$rel" else twin
  val P1065 = s"$RefData/las/1.2-with-color.las"

  /** `body` run with generated code only and no interpreted fallback, so
    * an expression whose code fails to compile throws. */
  def codegenOnly[T](body: => T): T = {
    val conf = spark.conf
    val keys = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY", "spark.sql.codegen.fallback" -> "false")
    val prev = keys.map { case (k, _) => k -> conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => conf.set(k, v) }
      body
    } finally prev.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  /** `body`'s result and the WARN messages logged while it ran, through
    * an appender on the root logger. */
  def warningsDuring[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val warnings = java.util.Collections.synchronizedList(new java.util.ArrayList[String])
    val capture = new AbstractAppender("warn-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.WARN) warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, Level.WARN, null)
    ctx.updateLoggers()
    val out = try body
      finally { root.removeAppender("warn-capture"); ctx.updateLoggers(); capture.stop() }
    (out, warnings.toArray.map(_.toString).toSeq)
  }

  /** The name of each job `body` launches, in start order: the
    * description of the SQL execution it serves (the
    * `spark.sql.execution.id` job property, which an adaptive query's
    * shuffle-stage and final-stage jobs carry too), else the call site
    * of its last stage. */
  def jobNames(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val descriptions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => descriptions.put(s.executionId, s.description)
        case _ => ()
      }
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.add((
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
        j.stageInfos.maxBy(_.stageId).name))
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(300) } // drain listener-bus events
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.toArray(Array.empty[(Option[Long], String)]).toSeq.map { case (id, site) =>
      id.flatMap(i => Option(descriptions.get(i))).getOrElse(site)
    }
  }

  /** The innermost cause of `e`: a decode failure inside a task reaches
    * the driver wrapped in a SparkException. */
  @scala.annotation.tailrec
  def rootCause(e: Throwable): Throwable =
    if (e.getCause == null || e.getCause == e) e else rootCause(e.getCause)
}

/** Golden fixtures F1-F15 from FIXTURES.md, reproducing the reference's
  * unit-test counts (test/unit/filters/...) on synthesized equivalents
  * and on the decoded P1065 cloud. */
class GoldenFixturesSpec extends AnyFunSuite {
  import TestSpark._

  // F1: crop-box ramp -> 333 rows (CropFilterTest.cpp:56-114)
  test("F1 crop box on 1000-point ramp keeps 333 points with expected stats") {
    val ramp = Faux.ramp(spark, Faux.Box3(0, 0, 0, 10, 100, 1000), 1000)
    val out = PointOps.cropBox(PointOps.Box3D(
      3.33333, 33.33333, 333.33333, 6.66666, 66.66666, 666.66666))(ramp)
    assert(out.count() === 333)
    val r = out.agg(min("x"), max("x"), avg("x"), avg("z")).head()
    assert(math.abs(r.getDouble(0) - 3.33333) < 10.0 / 999 * 100)
    assert(math.abs(r.getDouble(2) - 5.0) < 10.0 / 999 * 100)
    assert(math.abs(r.getDouble(3) - 500.0) < 1000.0 / 999 * 100)
  }

  // F2: range Z in [4,6] on 10-point ramp -> exactly {4,5,6}
  // (RangeFilterTest.cpp:70-106)
  test("F2 range single dimension keeps exactly Z in {4,5,6}") {
    val ramp = Faux.ramp(spark, Faux.Box3(0, 0, 1, 0, 0, 10), 10)
    val out = PointOps.range(Seq(PointOps.DimRange("z", 4, 6)))(ramp)
      .orderBy("z").select("z").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(4.0, 5.0, 6.0))
  }

  // F3: range Y and Z in [4,6] -> 3 rows (RangeFilterTest.cpp:108-152)
  test("F3 range multiple dimensions conjunct") {
    val ramp = Faux.ramp(spark, Faux.Box3(0, 1, 1, 0, 10, 10), 10)
    val out = PointOps.range(Seq(
      PointOps.DimRange("y", 4, 6), PointOps.DimRange("z", 4, 6)))(ramp)
    assert(out.count() === 3)
  }

  // F4: decimation step=10 of 30 -> OffsetTime {0,10,20}
  // (DecimationFilterTest.cpp:51-83)
  test("F4 decimation keeps every step-th point") {
    val pts = Faux.uniform(spark, Faux.Box3(0, 0, 0, 100, 100, 100), 30, seed = 7)
    val out = PointOps.decimation(step = 10, ordinal = "span_idx")(pts)
      .orderBy("span_idx").select("offset_time").collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(0.0, 10.0, 20.0))
  }

  // F5: stats on constant cloud (StatsFilterTest.cpp:46-88)
  test("F5 stats count/min/max/avg on constant cloud") {
    val pts = Faux.constant(spark, Faux.Box3(1, 2, 3, 1, 2, 3), 1000)
    val st = AggOps.stats(Seq("x", "y", "z"))(pts).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(st("x") === ((1000L, 1.0, 1.0, 1.0)))
    assert(st("y") === ((1000L, 2.0, 2.0, 2.0)))
    assert(st("z") === ((1000L, 3.0, 3.0, 3.0)))
  }

  // F6: sort by X nondecreasing, count preserved (SortFilterTest.cpp:44-111)
  test("F6 sort by X is nondecreasing and count-preserving") {
    val pts = Faux.uniform(spark, Faux.Box3(0, 0, 0, 1000, 1000, 1000), 1000, seed = 11)
    val xs = PointOps.sortBy("x")(pts).select("x").collect().map(_.getDouble(0))
    assert(xs.length === 1000)
    assert(xs.sliding(2).forall(p => p(0) <= p(1)))
  }

  lazy val p1065: DataFrame = LasDecode.asDataFrame(spark, P1065).cache()

  // P1065 header goldens (LasReaderTest.cpp:135-162)
  test("P1065 decodes 1065 points with expected first point") {
    assert(p1065.count() === 1065)
    val first = p1065.orderBy("span_idx").limit(1).head()
    val x = first.getAs[Double]("x")
    assert(math.abs(x - 637012.240) < 1e-6, s"first x was $x")
  }

  // LAS header goldens (LasReaderTest.cpp:134-162) + per-return counts
  test("P1065 header fields and return counts match the reference goldens") {
    val (h, _) = LasDecode.readPoints(P1065)
    assert(h.versionMajor === 1 && h.versionMinor === 2)
    assert(h.pointFormat === 3 && h.pointCount === 1065L)
    assert(h.sx === 0.01 && h.sy === 0.01 && h.sz === 0.01)
    assert(h.ox === 0.0 && h.oy === 0.0 && h.oz === 0.0)
    // EXPECT_DOUBLE_EQ tolerance (the header doubles come from
    // quantized-int * 0.01, a few ulps off the decimal literals)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-6
    assert(near(h.maxx, 638982.55) && near(h.maxy, 853535.43) && near(h.maxz, 586.38))
    assert(near(h.minx, 635619.85) && near(h.miny, 848899.70) && near(h.minz, 406.59))
    // SummaryData-style counts by return number (writer header semantics)
    val byRet = p1065.groupBy("return_number").count().collect()
      .map(r => r.getShort(0).toInt -> r.getLong(1)).toMap
    assert(byRet.getOrElse(1, 0L) === 925L)
    assert(byRet.getOrElse(2, 0L) === 114L)
    assert(byRet.getOrElse(3, 0L) === 21L)
    assert(byRet.getOrElse(4, 0L) === 5L)
  }

  // F7: merge two copies -> 2130 (MergeTest.cpp:55)
  test("F7 merge keeps duplicates (2130 rows)") {
    assert(PointOps.merge(Seq(p1065, p1065)).count() === 2130)
  }

  // F8: ferry copies dims (FerryFilterTest.cpp:46-88)
  test("F8 ferry copies X/Y to new dims") {
    val out = PointOps.ferry(Seq("x" -> "state_plane_x", "y" -> "state_plane_y"))(p1065)
    assert(out.count() === 1065)
    assert(out.filter(col("x") =!= col("state_plane_x") ||
      col("y") =!= col("state_plane_y")).count() === 0)
  }

  // F9: splitter length=1000, origin = first point -> 15 tiles with golden
  // counts (SplitterTest.cpp:92-100; counts sorted by (minx, miny))
  test("F9 splitter reproduces the 15 golden tile counts") {
    val first = p1065.orderBy("span_idx").limit(1).head()
    val ox = first.getAs[Double]("x"); val oy = first.getAs[Double]("y")
    val tiles = TileOps.tileCounts(1000.0, ox, oy)(p1065)
      .orderBy("minx", "miny").select("n").collect().map(_.getLong(0))
    assert(tiles.toSeq === Seq(24L, 27, 26, 27, 10, 166, 142, 76, 141, 132, 63, 70, 67, 34, 60))
  }

  // F10: chipper capacity=15 -> 71 chips of exactly 15; chip bounds golden
  // (ChipperTest.cpp:47-98)
  test("F10 chipper yields 71 chips of exactly 15 points with golden bounds") {
    val chipped = TileOps.chipper(15)(p1065).cache()
    val sizes = chipped.groupBy("chip").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.size === 71)
    assert(sizes.values.forall(_ === 15L))
    // reference asserts bounds of the 3rd chip ordered by (minx, miny)
    // (ChipperTest.cpp:74-93)
    val b = chipped.groupBy("chip")
      .agg(min("x").as("minx"), min("y").as("miny"),
        max("x").as("maxx"), max("y").as("maxy"))
      .orderBy("minx", "miny").collect()(2)
      .toSeq.drop(1) match { case Seq(a: Double, b2: Double, c: Double, d: Double) =>
        org.apache.spark.sql.Row(a, b2, c, d) }
    assert(math.abs(b.getDouble(0) - 635674.05) < 0.05)
    assert(math.abs(b.getDouble(1) - 848992.45) < 0.05)
    assert(math.abs(b.getDouble(2) - 635993.93) < 0.05)
    assert(math.abs(b.getDouble(3) - 849427.07) < 0.05)
  }

  test("F10 golden holds on the sketch-split chipper path (scale strategy)") {
    // task budget 0 splits every node with a distributed sketch round; an
    // unlimited budget finishes the whole tree in one task. Both must give
    // the EXACT same chip assignment on the reference fixture
    val sketch = TileOps.chipper(15, taskRows = 0L)(p1065)
      .select("doc_id", "span_idx", "chip").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val inTask = TileOps.chipper(15, taskRows = Long.MaxValue)(p1065)
      .select("doc_id", "span_idx", "chip").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(sketch.size === 1065)
    assert(sketch === inTask)
  }

  // F11: crop autzen polygon -> 47 (CropFilterTest.cpp:117-153)
  test("F11 polygon crop keeps exactly 47 points") {
    val wkt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$RefData/autzen/autzen-selection.wkt")))
    val space = graft.index.CellSpace(635577.0, 848882.0, 639004.0, 853538.0)
    val out = JoinOps.cropPolygon(wkt, space = space)(p1065)
    assert(out.count() === 47)
  }

  // F12: reproject to EPSG:4326 then crop dd polygon -> 47
  // (CropFilterTest.cpp:156-216; input SRS = NAD83(HARN) Oregon Lambert
  // feet per autzen-srs.wkt, validated against autzen-dd.las ground truth)
  test("F12 LCC->geo reprojection then polygon crop keeps 47 points") {
    val wkt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$RefData/autzen/autzen-selection-dd.wkt")))
    val geo = Reproject.lccToGeo(Proj.OregonLambertFeet)(p1065)
    val space = graft.index.CellSpace(-124.0, 43.0, -122.0, 45.0)
    val out = JoinOps.cropPolygon(wkt, space = space)(geo)
    assert(out.count() === 47)
  }

  // Projection sanity: LCC inverse matches the reference's own
  // reprojected cloud (autzen-dd.las, same points in EPSG:4326).
  test("LCC inverse matches autzen-dd.las within its quantization") {
    val utm = LasDecode.readPoints(P1065)._2
    val dd = LasDecode.readPoints(s"$RefData/autzen/autzen-dd.las")._2
    val worst = utm.take(100).zip(dd.take(100)).map { case (u, d) =>
      val (lon, lat) = Proj.OregonLambertFeet.inverse(
        u.getDouble(2), u.getDouble(3))
      math.max(math.abs(lon - d.getDouble(2)), math.abs(lat - d.getDouble(3)))
    }.max
    assert(worst < 2e-7, s"worst deviation $worst deg")
  }

  // F13: transformation identity / translation
  // (TransformationFilterTest.cpp:67-150)
  test("F13 transformation identity and translation") {
    val pts = Faux.ramp(spark, Faux.Box3(0, 0, 0, 10, 10, 10), 11)
    val id = PointOps.transformation(Array(
      1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1, 0, 0, 0, 0, 1))(pts)
    assert(id.filter(col("x") =!= col("offset_time")).count() ===
      pts.filter(col("x") =!= col("offset_time")).count())
    val tr = PointOps.transformation(Array(
      1, 0, 0, 5, 0, 1, 0, 6, 0, 0, 1, 7, 0, 0, 0, 1))(pts)
    val r = tr.orderBy("span_idx").limit(1).head()
    assert(r.getAs[Double]("x") === 5.0 && r.getAs[Double]("y") === 6.0 &&
      r.getAs[Double]("z") === 7.0)
  }
}
