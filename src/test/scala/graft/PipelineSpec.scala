package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.plans.{Pipeline, Manifest}
import graft.model.Model
import graft.sources.DocSynth

/** Pipeline runner: spec parsing, execution, lineage checkpoints, and
  * mid-pipeline resume (the north rule's resumability contract). */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = java.nio.file.Files
    .createTempDirectory("graftpipe").toString

  test("range fixture pipeline end-to-end (F2 via JSON spec)") {
    val spec =
      """{ "pipeline": [
        |  {"type": "readers.faux", "mode": "ramp",
        |   "bounds": [0, 0, 1, 0, 0, 10], "count": 10},
        |  {"type": "filters.range",
        |   "limits": [{"dimension": "z", "min": 4, "max": 6}]}
        |]}""".stripMargin
    val out = Pipeline.run(spark, spec).df
    assert(out.select("z").collect().map(_.getDouble(0)).sorted.toSeq === Seq(4.0, 5.0, 6.0))
  }

  test("checkpointed pipeline resumes without recomputing unchanged stages") {
    val ck = tmp(); val outP = tmp() + "/out"
    def spec(maxZ: Double) =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "ramp",
         |   "bounds": [0, 0, 0, 100, 100, 100], "count": 1000},
         |  {"type": "filters.range", "checkpoint": true,
         |   "limits": [{"dimension": "z", "min": 10, "max": $maxZ}]},
         |  {"type": "filters.splitter", "length": 25, "checkpoint": true},
         |  {"type": "writers.parquet", "path": "$outP"}
         |], "checkpoint_root": "$ck" }""".stripMargin

    val first = Pipeline.run(spark, spec(60))
    assert(first.resumedStages.isEmpty && first.ranStages.size === 4)
    val rows1 = first.df.count()

    // identical re-run: checkpointed stages resume, nothing recomputed
    val second = Pipeline.run(spark, spec(60))
    assert(second.resumedStages.size === 3, s"resumed ${second.resumedStages}")
    assert(second.df.count() === rows1)

    // config change invalidates downstream fingerprints -> full re-run
    val third = Pipeline.run(spark, spec(80))
    assert(third.resumedStages.isEmpty)
    assert(third.df.count() > rows1)

    // lineage manifest sanity: per-partition rows sum to the total
    val m = Manifest.read(ck, "001_filters_range").get
    assert(m.partitions.nonEmpty)
    assert(m.totalRows === spark.read.parquet(s"$ck/001_filters_range/data").count())
  }

  test("approx chipper is pipeline-reachable and honors the capacity contract through resume") {
    val ck = tmp()
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "uniform",
         |   "bounds": [0, 0, 0, 1000, 1000, 50], "count": 20000, "seed": 11},
         |  {"type": "filters.chipper", "method": "approx", "capacity": 1000,
         |   "checkpoint": true}
         |], "checkpoint_root": "$ck" }""".stripMargin
    def chips(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "span_idx", "chip").collect().map(_.toSeq).toSet
    val first = Pipeline.run(spark, spec)
    val firstChips = chips(first.df)
    val sizes = first.df.groupBy("chip").count()
      .collect().map(_.getLong(1))
    // "approx" runs the one exact chipper: ceil(n / capacity) chips, none over
    assert(sizes.max <= 1000, s"chip ${sizes.max} exceeds capacity")
    assert(sizes.length === 20, s"${sizes.length} chips for 20k pts / 1k capacity")
    // identical re-run resumes from the checkpoint, bit-identical output
    val second = Pipeline.run(spark, spec)
    assert(second.resumedStages.contains("001_filters_chipper"))
    assert(chips(second.df) === firstChips)
    // method is ignored, so it is not part of the stage fingerprint:
    // switching to exact resumes, with the same chips
    val third = Pipeline.run(spark, spec.replace("\"approx\"", "\"exact\""))
    assert(third.resumedStages.contains("001_filters_chipper"))
    assert(chips(third.df) === firstChips)
  }

  test("a stage's fingerprint leaves out exactly the options it ignores") {
    val (Seq(withIgnored, plain, range), _) = Pipeline.parse("""{"pipeline": [
      {"type": "filters.chipper", "capacity": 10, "method": "approx", "auto_threshold": 5},
      {"type": "filters.chipper", "capacity": 10},
      {"type": "filters.range", "method": "x"}]}""")
    assert(withIgnored.fingerprintSource === plain.fingerprintSource)
    assert(plain.fingerprintSource === """filters.chipper{"type":"filters.chipper","capacity":10}""")
    assert(range.fingerprintSource === """filters.range{"type":"filters.range","method":"x"}""")
  }

  test("chipper methods exact|approx|auto: same rows and jobs, and a WARN") {
    def jobsFor(method: String): (Int, Set[Seq[Any]]) = {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      val threshold = if (method == "auto") ", \"auto_threshold\": 100" else ""
      spark.sparkContext.addSparkListener(listener)
      try {
        val rows = Pipeline.run(spark,
          s"""{ "pipeline": [
             |  {"type": "readers.faux", "mode": "uniform",
             |   "bounds": [0, 0, 0, 500, 500, 10], "count": 4000, "seed": 3},
             |  {"type": "filters.chipper", "tag": "ch", "method": "$method",
             |   "capacity": 500$threshold}
             |]}""".stripMargin).df.collect().map(_.toSeq).toSet
        Thread.sleep(300) // drain listener-bus events
        (jobs.get, rows)
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val (runs, warnings) = warningsDuring(Seq("exact", "approx", "auto").map(jobsFor))
    val (exactJobs, exactRows) = runs.head
    assert(exactRows.size === 4000)
    runs.tail.foreach { case (jobs, rows) =>
      assert(rows === exactRows)
      assert(jobs === exactJobs, s"$jobs jobs vs $exactJobs for exact")
    }
    val notices = warnings.filter(_.contains("auto_threshold"))
    assert(notices.size === 2, s"warnings: $warnings")
    assert(notices.forall(_.startsWith("filters.chipper 'ch': ")))
  }

  test("multi-input DAG: two tagged readers merge n-ary through checkpoint and resume") {
    val ck = tmp(); val outP = tmp() + "/out"
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "ramp", "tag": "a",
         |   "bounds": [0, 0, 0, 10, 10, 10], "count": 100},
         |  {"type": "readers.faux", "mode": "ramp", "tag": "b",
         |   "bounds": [20, 20, 20, 30, 30, 30], "count": 50},
         |  {"type": "filters.merge", "inputs": ["a", "b"], "checkpoint": true},
         |  {"type": "writers.parquet", "path": "$outP"}
         |], "checkpoint_root": "$ck" }""".stripMargin
    val first = Pipeline.run(spark, spec)
    assert(first.resumedStages.isEmpty)
    assert(first.df.count() === 150)
    // both branches survive the union (distinct coordinate ranges)
    assert(first.df.filter(col("x") <= 10).count() === 100)
    assert(first.df.filter(col("x") >= 20).count() === 50)
    // resume: merge + writer come back from their checkpoints
    val second = Pipeline.run(spark, spec)
    assert(second.resumedStages === Seq("002_filters_merge", "003_writers_parquet"))
    assert(second.df.count() === 150)
    // editing ONE branch invalidates the downstream cone
    val third = Pipeline.run(spark, spec.replace("\"count\": 50", "\"count\": 60"))
    assert(third.resumedStages.isEmpty)
    assert(third.df.count() === 160)
  }

  test("resumed writer re-runs when its destination was deleted") {
    val ck = tmp(); val outP = tmp() + "/out"
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "ramp",
         |   "bounds": [0, 0, 0, 10, 10, 10], "count": 100},
         |  {"type": "writers.parquet", "path": "$outP"}
         |], "checkpoint_root": "$ck" }""".stripMargin
    Pipeline.run(spark, spec)
    assert(spark.read.parquet(outP).count() === 100)
    // delete the external destination; the checkpoint alone must not
    // count as "done" — the writer re-runs and rematerializes it
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.list(p).forEach(rm)
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(outP))
    val again = Pipeline.run(spark, spec)
    assert(again.ranStages.contains("001_writers_parquet"),
      s"writer should re-run, got resumed=${again.resumedStages}")
    assert(spark.read.parquet(outP).count() === 100)
  }

  test("writer destination check resolves file:-URIs through the Hadoop FS") {
    // a file:// destination must be seen as intact on resume — a bare
    // java.nio Files.exists would treat any URI as absent and force a
    // rewrite on every invocation (the round-2 local-FS-only bug)
    val ck = tmp(); val outDir = tmp() + "/out"
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "ramp",
         |   "bounds": [0, 0, 0, 10, 10, 10], "count": 100},
         |  {"type": "writers.parquet", "path": "file://$outDir"}
         |], "checkpoint_root": "$ck" }""".stripMargin
    Pipeline.run(spark, spec)
    assert(spark.read.parquet(outDir).count() === 100)
    val again = Pipeline.run(spark, spec)
    assert(again.resumedStages.contains("001_writers_parquet"),
      s"file:-URI destination should resume, got ran=${again.ranStages}")
  }

  test("manifest digests detect partition corruption") {
    val ck = tmp()
    val df = sources.Faux.ramp(spark, sources.Faux.Box3(0, 0, 0, 10, 10, 10), 100)
    val m = Manifest.checkpoint(ck, "s0", "fp0", Nil, df)
    val (reread, info) = Manifest.lineageOf(Manifest.readData(spark, ck, "s0"))
    assert(reread === m.partitions)
    assert(info === m.info && info.exists(_.count === 100))
    val json = Manifest.toJson(m)
    assert(Manifest.fromJson(json) === m)
    // negative-exponent doubles (coordinates near zero) survive the
    // hand-rolled JSON round trip
    val tiny = m.copy(info = Some(Manifest.QuickStats(1, -1.5e-7, 2.5e-7,
      -3.25e-9, 4.0e-9, -1.0e300, 1.0e300)))
    assert(Manifest.fromJson(Manifest.toJson(tiny)) === tiny)
    // non-finite bounds (empty-stage degenerate) round-trip AND stay
    // standard JSON (quoted, never a bare Infinity/NaN token)
    val inf = m.copy(info = Some(Manifest.QuickStats(0,
      Double.PositiveInfinity, Double.NegativeInfinity,
      Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN, Double.NaN)))
    val infJson = Manifest.toJson(inf)
    assert(!infJson.matches(""".*[:\[,]\s*-?(Infinity|NaN).*"""),
      s"bare non-finite token in: $infJson")
    val back = Manifest.fromJson(infJson).info.get
    assert(back.minx.isPosInfinity && back.maxx.isNegInfinity && back.minz.isNaN)
  }

  test("validate_resume recomputes a stage whose checkpoint data was tampered with") {
    val ck = tmp()
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "ramp",
         |   "bounds": [0, 0, 0, 10, 10, 10], "count": 200},
         |  {"type": "filters.splitter", "length": 5,
         |   "checkpoint": true, "validate_resume": true}
         |], "checkpoint_root": "$ck" }""".stripMargin
    val first = Pipeline.run(spark, spec)
    assert(first.df.count() === 200)
    // untouched: digest validation passes, stage resumes
    val second = Pipeline.run(spark, spec)
    assert(second.resumedStages === Seq("001_filters_splitter"))
    // tamper: overwrite the checkpoint data with a DIFFERENT row set but
    // keep the manifest — fingerprint still matches, digests don't
    val dataDir = s"$ck/001_filters_splitter/data"
    spark.read.parquet(dataDir).limit(100)
      .write.mode("overwrite").parquet(dataDir + "_tmp")
    def rm(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.list(p).forEach(rm)
      java.nio.file.Files.delete(p)
    }
    rm(java.nio.file.Paths.get(dataDir))
    java.nio.file.Files.move(java.nio.file.Paths.get(dataDir + "_tmp"),
      java.nio.file.Paths.get(dataDir))
    val third = Pipeline.run(spark, spec)
    assert(third.ranStages.contains("001_filters_splitter"),
      s"tampered checkpoint was resumed: ${third.resumedStages}")
    assert(third.df.count() === 200)
  }

  test("quickInfo is served from the manifest with zero Spark jobs") {
    val ck = tmp()
    val df = sources.Faux.ramp(spark, sources.Faux.Box3(1, 2, 3, 11, 12, 13), 500)
    Manifest.checkpoint(ck, "qi", "fp0", Nil, df)
    // the scan-path answer, for value comparison
    val scan = operators.InfoOps.quickInfo(Manifest.readData(spark, ck, "qi")).head()
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val qi = Manifest.quickInfo(spark, ck, "qi").get
      val r = qi.head() // local one-row DataFrame — no job expected
      Thread.sleep(200) // let any (unexpected) job-start event arrive
      assert(jobs === 0, s"quickInfo ran $jobs Spark jobs")
      assert(r.getLong(0) === scan.getLong(0))
      assert(r.getDouble(1) === scan.getDouble(1) && r.getDouble(2) === scan.getDouble(2))
      assert(r.getDouble(3) === scan.getDouble(3) && r.getDouble(4) === scan.getDouble(4))
      assert(r.getDouble(5) === scan.getDouble(5) && r.getDouble(6) === scan.getDouble(6))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("translate-style chain exercises the round-2 stages end-to-end") {
    // distributed LAS read -> composed reprojection (LCC ft -> geo ->
    // web mercator through the SRS registry) -> crop -> LAS 1.2 write,
    // all through the declarative spec
    val out = tmp() + "/rt.las"
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.las", "path": "${TestSpark.P1065}", "distributed": true},
         |  {"type": "filters.reprojection", "in_srs": "lcc:oregon-ft", "out_srs": "EPSG:3857"},
         |  {"type": "filters.crop",
         |   "bounds": [-1.5E7, 0.0, -1.3E7, 7.0E6]},
         |  {"type": "writers.las", "path": "$out", "format": 1,
         |   "scale": [0.001, 0.001, 0.01], "offset": [-13700000.0, 5500000.0, 0.0]}
         |]}""".stripMargin
    val res = Pipeline.run(spark, spec)
    assert(res.df.count() === 1065) // Autzen fits well inside the crop box
    val (h, rows) = graft.sources.LasDecode.readPoints(out)
    assert(h.pointFormat === 1 && h.pointCount === 1065)
    // quantization at mm-scale: decoded coords within half a step of
    // the reprojected originals
    val want = res.df.orderBy("span_idx").select("x", "y").collect()
    val xi = graft.sources.LasDecode.schema.fieldIndex("x")
    want.zip(rows).foreach { case (w, r) =>
      assert(math.abs(w.getDouble(0) - r.getDouble(xi)) <= 0.0005 + 1e-9)
    }
  }

  test("span-sequence invariant holds through a filtering pipeline") {
    val docs = DocSynth.cachedDocs(spark, "/root/testdata/sf0.001")
    val pts = Model.explodePoints(docs)
    // crop away some points, then implode: surviving docs must preserve
    // the order and content of all non-point spans + surviving points
    val cropped = operators.PointOps.cropBox(
      operators.PointOps.Box3D(0, 0, 0, 600, 600, 1000))(pts)
    val result = Model.implode(docs, cropped)
    val sigs = Model.spanSignature(result)
    // every surviving doc's non-point spans appear in original order
    val orig = Model.spanSignature(docs)
    val joined = sigs.as("a").join(orig.as("b"), "doc_id")
      .select(col("a.sig").as("got"), col("b.sig").as("want"))
      .collect()
    joined.foreach { r =>
      val got = r.getString(0).split('|').toSeq
      val want = r.getString(1).split('|').toSeq
      // got must be a subsequence of want (points removed, order kept)
      var i = 0
      got.foreach { g =>
        val j = want.indexOf(g, i)
        assert(j >= 0, s"span $g out of order or missing")
        i = j + 1
      }
      // all non-point spans survive
      val wantNonPoint = want.filterNot(_.startsWith("point:"))
      val gotNonPoint = got.filterNot(_.startsWith("point:"))
      assert(gotNonPoint === wantNonPoint)
    }
  }

  /** Call-site names of the jobs `body` launches. */
  private def jobSites(body: => Unit): Seq[String] = {
    val sites = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        sites.synchronized(sites ++= j.stageInfos.map(_.name))
    }
    spark.sparkContext.addSparkListener(listener)
    try { body; Thread.sleep(300) } // drain listener-bus events
    finally spark.sparkContext.removeSparkListener(listener)
    sites.synchronized(sites.toSeq)
  }

  test("resume never builds a pure stage whose only consumer resumes") {
    // a non-checkpointed outlier filter (eager kNN rounds when built)
    // between a reader and a checkpointed ground filter: the resume reads
    // the ground checkpoint and must launch nothing for the outlier stage
    val ck = tmp()
    val spec =
      s"""{ "pipeline": [
         |  {"type": "readers.faux", "mode": "uniform",
         |   "bounds": [0, 0, 0, 200, 200, 5], "count": 800, "seed": 4},
         |  {"type": "filters.outlier", "mean_k": 4, "multiplier": 2.0, "level": 4},
         |  {"type": "filters.ground", "cell_size": 1.0, "max_window_size": 5.0,
         |   "checkpoint": true}
         |], "checkpoint_root": "$ck" }""".stripMargin
    def knn(s: String) = s.contains("NbrBlocks") || s.contains("JoinOps")
    var cold: Pipeline.RunResult = null
    val coldSites = jobSites { cold = Pipeline.run(spark, spec) }
    assert(coldSites.exists(knn), s"cold run built no kNN round: $coldSites")
    var again: Pipeline.RunResult = null
    val sites = jobSites { again = Pipeline.run(spark, spec) }
    assert(again.resumedStages === Seq("002_filters_ground"))
    assert(!sites.exists(knn), s"resume launched outlier-stage jobs: $sites")
    // the reader still builds (it records run facts), the outlier stage not
    assert(again.ranStages === Seq("000_readers_faux"), s"ran ${again.ranStages}")
    def rows(r: Pipeline.RunResult) =
      r.df.select("doc_id", "span_idx", "classification").collect().map(_.toString).sorted.toSeq
    assert(rows(again) === rows(cold))
  }

  test("checkpoints read back with their stored schema, no inference job") {
    val ck = tmp()
    val df = sources.Faux.ramp(spark, sources.Faux.Box3(0, 0, 0, 10, 10, 10), 300)
      .withColumn("tags", array(col("x"), col("y")))
      .withColumn("nest", struct(col("z").as("zz"), map(lit("k"), col("x")).as("m")))
    Manifest.checkpoint(ck, "st", "fp0", Nil, df)
    val inferred = spark.read.parquet(s"$ck/st/data")
    var stored: org.apache.spark.sql.DataFrame = null
    val sites = jobSites { stored = Manifest.readData(spark, ck, "st") }
    assert(sites.isEmpty, s"schema read launched jobs: $sites")
    assert(stored.schema === inferred.schema)
    assert(Manifest.lineageOf(stored)._1 === Manifest.lineageOf(inferred)._1)
    assert(Manifest.validate(spark, ck, "st"))
    // a checkpoint from before schema.json still resumes, by inference
    java.nio.file.Files.delete(java.nio.file.Paths.get(ck, "st", "schema.json"))
    assert(Manifest.readData(spark, ck, "st").schema === inferred.schema)
    assert(Manifest.validate(spark, ck, "st"))
  }

  test("job-count gate: checkpoint 1 job, validate 1, readers.doc 0, SOR none after its mean distances") {
    val ck = tmp()
    val df = sources.Faux.ramp(spark, sources.Faux.Box3(0, 0, 0, 50, 50, 5), 400)
    var m: Manifest.StageManifest = null
    val ckJobs = jobNames { m = Manifest.checkpoint(ck, "g", "fp0", Nil, df) }
    assert(ckJobs.size === 1, s"checkpoint ran $ckJobs")
    assert(m.totalRows === 400 && m.info.exists(_.count === 400))
    var ok = false
    val valJobs = jobNames { ok = Manifest.validate(spark, ck, "g") }
    assert(ok && valJobs.size === 1, s"validate ran $valJobs")
    // readers.doc with a path reads with the doc schema: no footer job
    val docs = tmp() + "/docs"
    spark.createDataFrame(java.util.Arrays.asList(org.apache.spark.sql.Row("d0",
        Seq(org.apache.spark.sql.Row("point", "2,4,6,10,1", "", 0)))), Model.docSchema)
      .write.parquet(docs)
    var pts: org.apache.spark.sql.DataFrame = null
    val docJobs = jobNames {
      pts = Pipeline.run(spark, s"""{"pipeline": [{"type": "readers.doc", "path": "$docs"}]}""").df
    }
    assert(docJobs.isEmpty, s"readers.doc ran $docJobs")
    assert(pts.select("x", "y", "z").head() === org.apache.spark.sql.Row(1.0, 2.0, 3.0))
    // SOR: the threshold moments come from the mean-distance
    // materialization itself, so it is the last job SOR launches
    val cloud = sources.Faux.uniform(spark, sources.Faux.Box3(0, 0, 0, 100, 100, 5), 600, seed = 3)
    var kept: org.apache.spark.sql.DataFrame = null
    val sorJobs = jobNames { kept = operators.JoinOps.statisticalOutlierRemoval(4, 1.0, level = 4)(cloud) }
    def meanDistances(name: String) = name.startsWith("localCheckpoint at JoinOps")
    assert(sorJobs.count(meanDistances) === 1, s"SOR ran $sorJobs")
    assert(meanDistances(sorJobs.last), s"SOR ran jobs after its mean distances: $sorJobs")
    assert(kept.count() > 0)
  }

  test("null coordinates checkpoint, validate and resume") {
    val base = sources.Faux.ramp(spark, sources.Faux.Box3(0, 0, 0, 10, 10, 10), 100)
    val nullX = base.withColumn("x", when(col("offset_time") === 3, lit(null).cast("double"))
      .otherwise(col("x")))
    val nullZ = base.withColumn("z", lit(null).cast("double"))
    val ck = tmp()
    val mx = Manifest.checkpoint(ck, "nx", "fp0", Nil, nullX)
    assert(mx.partitions.find(_.key == Manifest.NullCoordKey).map(_.rows) === Some(1L))
    assert(mx.totalRows === 100)
    // bounds over the non-null values; the null row still counts
    val want = nullX.agg(min("x"), max("x"), min("y"), max("y"), min("z"), max("z")).head()
    assert(mx.info === Some(Manifest.QuickStats(100, want.getDouble(0), want.getDouble(1),
      want.getDouble(2), want.getDouble(3), want.getDouble(4), want.getDouble(5))))
    assert(Manifest.validate(spark, ck, "nx"))
    val mz = Manifest.checkpoint(ck, "nz", "fp0", Nil, nullZ)
    assert(mz.totalRows === 100 && !mz.partitions.exists(_.key == Manifest.NullCoordKey))
    assert(mz.info.isEmpty, "a stage with no non-null z records no QuickStats")
    assert(Manifest.quickInfo(spark, ck, "nz").isEmpty)
    assert(Manifest.validate(spark, ck, "nz"))
    // through the runner: checkpoint, validate on resume, resume
    for ((name, frame) <- Seq("nx" -> nullX, "nz" -> nullZ)) {
      val in = tmp() + "/in"
      frame.write.parquet(in)
      val pck = tmp()
      val spec =
        s"""{ "pipeline": [
           |  {"type": "readers.parquet", "path": "$in"},
           |  {"type": "filters.range", "checkpoint": true, "validate_resume": true,
           |   "limits": [{"dimension": "offset_time", "min": 0, "max": 1000}]}
           |], "checkpoint_root": "$pck" }""".stripMargin
      val first = Pipeline.run(spark, spec)
      assert(first.df.count() === 100, name)
      val again = Pipeline.run(spark, spec)
      assert(again.resumedStages === Seq("001_filters_range"), name)
      assert(again.df.count() === 100, name)
    }
  }

  test("filters.hexbin warns once, naming the stage, that sample_size is ignored") {
    def run(opts: String): Long = Pipeline.run(spark, s"""{"pipeline": [
      {"type": "readers.faux", "mode": "uniform", "bounds": [0, 0, 0, 10, 10, 1], "count": 200},
      {"type": "filters.hexbin", "tag": "hx"$opts}]}""").df.count()
    val (_, warnings) = warningsDuring {
      assert(run(""", "sample_size": 50""") > 0)
      assert(run(""", "sample_size": 50, "edge_length": 1.0""") > 0) // no estimate, no notice
      assert(run("") > 0)
    }
    val notices = warnings.filter(_.contains("sample_size"))
    assert(notices.size === 1, s"warnings: $warnings")
    assert(notices.head.contains("filters.hexbin 'hx'") && notices.head.contains("full frame"))
  }
}
