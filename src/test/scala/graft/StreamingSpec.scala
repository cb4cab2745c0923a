package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.StreamOps
import graft.sources.DocSynth

/** Structured Streaming: drained stream equals batch; stateful
  * sessionization; streaming doc ingest with per-batch lineage. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("drained windowed stream equals the batch aggregation") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runToCompletion(spark, s"$dir/events.parquet",
      df => StreamOps.windowedStats(df), "t_stream_eq_batch")
      .select("win_start", "event_type", "n")
    val batch = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("streamed session windows equal the batch session windows") {
    val dir = "/root/testdata/sf0.001"
    val streamed = StreamOps.runToCompletion(spark, s"$dir/events.parquet",
      df => StreamOps.sessionWindowStats(df, gap = "30 minutes",
        watermark = Some("0 seconds")), "t_sess_eq_batch")
      .select("sess_start", "sess_end", "user_id", "n")
    val batch = StreamOps.sessionWindowStats(
      spark.read.parquet(s"$dir/events.parquet"), gap = "30 minutes")
      .select("sess_start", "sess_end", "user_id", "n")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
  }

  test("sessionization accumulates per-user state") {
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[StreamOps.Event]
    val out = StreamOps.sessionize(events, gapMs = 60000).cache()
    val perUser = out.groupBy("user_id").agg(max("n_events").as("n"))
    val expect = events.groupBy("user_id").count()
    val joined = perUser.join(expect, "user_id")
      .filter(col("n") =!= col("count"))
    assert(joined.count() === 0, "session counts disagree with batch counts")
  }

  test("GeoJSON writer emits valid features") {
    val pts = graft.sources.Faux.ramp(spark, graft.sources.Faux.Box3(0, 0, 0, 10, 10, 10), 5)
    val rows = graft.operators.Quantize.toGeoJson(Seq("doc_id", "span_idx"))(pts)
      .collect().map(_.getString(0))
    assert(rows.length === 5)
    rows.foreach { j =>
      assert(j.startsWith("""{"type":"Feature","geometry":{"type":"Point","""))
      assert(j.contains(""""properties":{"doc_id":"""))
    }
  }

  test("streaming dedup claims fingerprints incrementally") {
    val docs = spark.createDataset(Seq(
      StreamOps.Doc("d1", "fpA"), StreamOps.Doc("d2", "fpA"),
      StreamOps.Doc("d3", "fpB")))
    val out = StreamOps.streamingDedup(docs).collect()
      .map { case (fp, owner, fresh) => fp -> (owner, fresh) }.toMap
    assert(out("fpA")._1 === "d1" && out("fpB")._1 === "d3")
    assert(out.values.forall(_._2), "all first appearances should be fresh")
  }

  test("streaming doc ingest writes tiles and per-batch lineage manifests") {
    val tmp = java.nio.file.Files.createTempDirectory("graftstream").toString
    val docs = DocSynth.cachedDocs(spark, "/root/testdata/sf0.001")
    docs.write.mode("overwrite").parquet(s"$tmp/docs")
    StreamOps.ingestDocs(spark, s"$tmp/docs", s"$tmp/out", s"$tmp/ck", 128.0)
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === graft.model.Model.explodePoints(docs).count())
    assert(out.columns.contains("tile_x"))
    val manifests = new java.io.File(tmp, "ck").listFiles()
      .filter(_.getName.startsWith("batch_"))
    assert(manifests.nonEmpty, "no lineage manifests written")
  }

  test("streaming LAS landing-dir ingest: mixed .las/.laz, exactly-once per file") {
    import graft.sources.{LasDecode, LasWriter}
    val tmp = java.nio.file.Files.createTempDirectory("graftlasstream").toString
    val landing = s"$tmp/landing"; java.nio.file.Files.createDirectories(java.nio.file.Paths.get(landing))
    // drop one uncompressed and one compressed delivery
    val p1065 = TestSpark.P1065
    java.nio.file.Files.copy(java.nio.file.Paths.get(p1065),
      java.nio.file.Paths.get(s"$landing/a.las"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(ref("laz/simple.laz")),
      java.nio.file.Paths.get(s"$landing/b.laz"))
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.la[sz]")
    val out1 = spark.read.parquet(s"$tmp/out")
    assert(out1.count() === 2130, s"got ${out1.count()}") // 1065 + 1065
    assert(out1.select("doc_id").distinct().count() === 2)
    // drop a THIRD file: re-run ingests ONLY it (file-source checkpoint)
    val (h0, _) = LasDecode.readPoints(p1065)
    val small = LasDecode.asDataFrame(spark, p1065).limit(10)
    LasWriter.writeLaz(s"$landing/c.laz", small, h0.pointFormat,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz))
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.la[sz]")
    val out2 = spark.read.parquet(s"$tmp/out")
    assert(out2.count() === 2140, s"got ${out2.count()} — old files re-ingested?")
    // drop a FOURTH file: a LAS 1.4 LAYERED .laz (compressor 3, fmt 8)
    // — the streaming path decompresses it with the same layered codec
    import org.apache.spark.sql.functions.lit
    val v14 = LasDecode.asDataFrame(spark, p1065).limit(10)
      .withColumn("nir", lit(5)).withColumn("scanner_channel", lit(1).cast("short"))
    LasWriter.writeLaz(s"$landing/d14.laz", v14, pointFormat = 8,
      LasWriter.XForms(h0.sx, h0.sy, h0.sz, h0.ox, h0.oy, h0.oz))
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.la[sz]")
    val out3 = spark.read.parquet(s"$tmp/out")
    assert(out3.count() === 2150, s"got ${out3.count()} — layered delivery missed?")
    assert(out3.filter(org.apache.spark.sql.functions.col("doc_id") === "d14.laz")
      .count() === 10)
    val manifests = new java.io.File(tmp, "ck").listFiles()
      .filter(_.getName.startsWith("ptsbatch_"))
    assert(manifests.nonEmpty, "no lineage manifests written")
  }

  test("streaming LAS landing-dir ingest on engine-written .las/.laz: exactly-once per file") {
    import graft.sources.LasWriter
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftlasstream2").toString
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(landing))
    val pts = spark.range(0, 90).select(lit("src").as("doc_id"),
      col("id").cast("int").as("span_idx"),
      (col("id") * 0.5).as("x"), (col("id") % 9).cast("double").as("y"),
      lit(2.0).as("z"), (col("id") % 50).cast("int").as("intensity"))
    val xf = LasWriter.XForms(0.5, 0.5, 0.5, 0, 0, 0)
    LasWriter.write(s"$landing/a.las", pts.filter(col("span_idx") < 40), 1, xf)
    LasWriter.writeLaz(s"$landing/b.laz", pts.filter(col("span_idx") >= 40), 1, xf)
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.la[sz]")
    val out1 = spark.read.parquet(s"$tmp/out")
    assert(out1.count() === 90)
    assert(out1.select("doc_id").distinct().count() === 2)
    // a third delivery: only IT is ingested (file-source checkpoint)
    LasWriter.writeLaz(s"$landing/c.laz", pts.limit(7), 6, xf)
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.la[sz]")
    val out2 = spark.read.parquet(s"$tmp/out")
    assert(out2.count() === 97, s"got ${out2.count()} — old files re-ingested?")
    assert(out2.agg(sum("x")).head().getDouble(0) ===
      (0 until 90).map(_ * 0.5).sum + (0 until 7).map(_ * 0.5).sum)
    assert(new java.io.File(tmp, "ck").listFiles().exists(_.getName.startsWith("ptsbatch_")))
  }

  test("streaming NITF landing-dir ingest dispatches .ntf through the codec table") {
    import graft.sources.{LasWriter, Nitf}
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftntfstream").toString
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(landing))
    val pts = spark.range(0, 30).select(lit("src").as("doc_id"),
      col("id").cast("int").as("span_idx"), col("id").cast("double").as("x"),
      lit(1.0).as("y"), lit(2.0).as("z"))
    val xf = LasWriter.XForms(0.5, 0.5, 0.5, 0, 0, 0)
    Nitf.write(s"$landing/a.ntf", pts.filter(col("span_idx") < 12), 1, xf)
    Nitf.write(s"$landing/b.ntf", pts.filter(col("span_idx") >= 12), 1, xf)
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.ntf")
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === 30)
    assert(out.agg(sum("x")).head().getDouble(0) === (0 until 30).sum.toDouble)
  }

  test("streaming BPF landing-dir ingest: pinned schema, incremental files, schema drift is loud") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftbpfstream").toString
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(landing))
    val pts = spark.range(0, 200).select(
      (col("id") % 20).cast("double").as("x"),
      (col("id") / 20).cast("double").as("y"),
      col("id").cast("double").as("z"),
      (col("id") % 7).cast("int").as("intensity"))
    graft.sources.Bpf.write(s"$landing/a.bpf", pts.limit(120),
      graft.sources.Bpf.WriteOpts(format = graft.sources.Bpf.DimMajor, compression = true))
    graft.sources.Bpf.write(s"$landing/b.bpf", pts.filter(col("z") >= 120),
      graft.sources.Bpf.WriteOpts(format = graft.sources.Bpf.PointMajor, compression = false))
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.bpf")
    val out1 = spark.read.parquet(s"$tmp/out")
    assert(out1.count() === 200, s"got ${out1.count()}")
    assert(out1.select("doc_id").distinct().count() === 2)
    // drop a third file: only IT is ingested (file-source checkpoint)
    graft.sources.Bpf.write(s"$landing/c.bpf", pts.limit(5),
      graft.sources.Bpf.WriteOpts(format = graft.sources.Bpf.ByteMajor, compression = true))
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.bpf")
    assert(spark.read.parquet(s"$tmp/out").count() === 205)
    // a file with a DIFFERENT dim set must fail the batch loudly
    graft.sources.Bpf.write(s"$landing/drift.bpf",
      pts.limit(3).withColumn("extra_dim", lit(1.5)),
      graft.sources.Bpf.WriteOpts())
    val boom = intercept[Exception] {
      StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.bpf")
    }
    assert(stackMessages(boom).exists(_.contains("schema")),
      s"unexpected failure: ${stackMessages(boom).mkString(" | ")}")
  }

  test("streaming PCD landing-dir ingest end-to-end") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("graftpcdstream").toString
    val landing = s"$tmp/landing"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(landing))
    val pts = spark.range(0, 60).select(
      col("id").cast("double").as("x"), (col("id") * 2).cast("double").as("y"),
      lit(1.25).as("z"))
    graft.sources.Pcd.write(s"$landing/a.pcd", pts.limit(40), "binary_compressed")
    graft.sources.Pcd.write(s"$landing/b.pcd", pts.filter(col("x") >= 40), "ascii")
    StreamOps.ingestPointFiles(spark, landing, s"$tmp/out", s"$tmp/ck", "*.pcd")
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.count() === 60)
    assert(out.agg(sum("x")).head().getDouble(0) === (0 until 60).map(_.toDouble).sum)
  }

  private def stackMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
}
