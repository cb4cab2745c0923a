package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.streaming.{Trigger, OutputMode, GroupState, GroupStateTimeout}

/** Structured Streaming surface. The reference is strictly batch
  * (SURVEY.md §2.7 — its StreamPointTable postdates this fork), so this
  * module is the engine's forward-looking ingest path: the same
  * operators run over an unbounded stream of documents/events, with
  * watermarked event-time windows and checkpointed state. The batch
  * oracle still applies: a stream drained over a static directory must
  * equal the batch aggregation of the same files.
  */
object StreamOps {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Watermarked sliding-window aggregate per event type. */
  def windowedStats(events: DataFrame, window_ : String = "1 hour",
                    watermark: String = "2 hours"): DataFrame = {
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
  }

  /** Event-time SESSION windows (gap-based) per user via Spark's
    * session_window — works over batch and (with the watermark) over
    * streams. Deterministic on event time: a session is the maximal run
    * of a user's events where consecutive gaps stay strictly under
    * `gap`; window end = last event + gap. The batch gaps-and-islands
    * SQL is therefore an exact oracle (q_session_window). */
  def sessionWindowStats(events: DataFrame, gap: String = "30 minutes",
                         watermark: Option[String] = None): DataFrame = {
    val src = watermark.map(events.withWatermark("ts", _)).getOrElse(events)
    src
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("session_window.start")).as("sess_start"),
        unix_timestamp(col("session_window.end")).as("sess_end"),
        col("user_id"), col("n"), col("sum_value"))
  }

  /** Drain a streaming aggregation over a static parquet dir through a
    * memory sink (complete mode) and return the result table — the test
    * and verification entry (one micro-batch per file group). */
  def runToCompletion(spark: SparkSession, parquetPath: String,
                      agg: DataFrame => DataFrame,
                      name: String): DataFrame = {
    // readStream needs a directory; a single-file input streams via its
    // parent dir + a glob filter
    val f = new java.io.File(parquetPath)
    val reader = spark.readStream.schema(eventSchema)
    val stream =
      if (f.isFile) reader.option("pathGlobFilter", f.getName).parquet(f.getParent)
      else reader.parquet(parquetPath)
    val q = agg(stream).writeStream
      .outputMode(OutputMode.Complete())
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  // ---- stateful sessionization -----------------------------------------

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                         event_type: String, value: Double)
  final case class SessionState(count: Long, sum: Double, lastTs: Long)
  final case class SessionOut(user_id: Long, n_events: Long, sum_value: Double)

  /** Per-user session aggregation via mapGroupsWithState — the custom-
    * state shape (KeyValueGroupedDataset) for operators windowing can't
    * express. Sessions time out after `gapMs` of processing-time silence. */
  def sessionize(events: Dataset[Event], gapMs: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.ProcessingTimeTimeout)(
        (user: Long, evs: Iterator[Event], state: GroupState[SessionState]) => {
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            SessionOut(user, s.count, s.sum)
          } else {
            val prev = state.getOption.getOrElse(SessionState(0, 0.0, 0L))
            var c = prev.count; var sm = prev.sum; var last = prev.lastTs
            evs.foreach { e => c += 1; sm += e.value; last = math.max(last, e.ts.getTime) }
            state.update(SessionState(c, sm, last))
            state.setTimeoutDuration(gapMs)
            SessionOut(user, c, sm)
          }
        })
  }

  final case class Doc(doc_id: String, fp: String)

  /** Streaming exact dedup: incremental fingerprint registry via
    * mapGroupsWithState — a document's first appearance claims the
    * fingerprint; replays and duplicates in later micro-batches emit
    * the original owner. The streaming twin of TextOps.dedupExact
    * (state = one row per distinct fingerprint). */
  def streamingDedup(docs: Dataset[Doc]): Dataset[(String, String, Boolean)] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout)(
        (fp: String, ds: Iterator[Doc], state: GroupState[String]) => {
          val first = state.getOption
          val ids = ds.map(_.doc_id).toSeq.sorted
          val owner = first.getOrElse(ids.head)
          if (first.isEmpty) state.update(owner)
          (fp, owner, first.isEmpty)
        })
  }

  /** Streaming document ingest: drain a doc-table stream, explode point
    * spans, assign tiles, and land tile-partitioned parquet per
    * micro-batch via foreachBatch (each batch also lands a lineage
    * manifest — the streaming twin of Pipeline's checkpoints).
    *
    * End-to-end exactly-once: the file source checkpoint never re-lists a
    * committed file, and the sink side is IDEMPOTENT — each micro-batch
    * writes its own `batch_id=<id>` partition directory in overwrite
    * mode, so a batch replayed after a crash-between-write-and-commit
    * overwrites its own output instead of appending duplicates.
    * `spark.read.parquet(outPath)` discovers `batch_id` as a normal
    * partition column. */
  def ingestDocs(spark: SparkSession, docPath: String, outPath: String,
                 ckRoot: String, tileLength: Double): Unit = {
    val docSchema = graft.model.Model.docSchema
    val stream = spark.readStream.schema(docSchema).parquet(docPath)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pts = graft.model.Model.explodePoints(batch)
        val tiled = graft.operators.TileOps.splitter(tileLength, 0, 0)(pts)
        tiled.write.mode("overwrite").partitionBy("tile_x")
          .parquet(s"$outPath/batch_id=$batchId")
        graft.plans.Manifest.checkpoint(ckRoot, f"batch_$batchId%05d",
          s"ingest-$batchId", Nil, tiled)
        ()
      }
      .option("checkpointLocation", s"$ckRoot/_stream_ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming point-archive ingest: watch a landing directory for
    * dropped point files (the standard survey-delivery pattern), decode
    * each in the executors with the [[graft.sources.PointCodec]] its
    * extension names — .las/.laz (LASzip decompression included), .bpf,
    * .pcd, .ply, ... — and append the point frame to parquet with a
    * per-batch lineage manifest.
    *
    * A streaming query needs one pinned schema: it comes from the FIRST
    * file present at stream start (a real delivery feed is one sensor =
    * one schema), and any later file that decodes to a different schema
    * fails the batch loudly rather than silently coercing.
    *
    * Exactly-once end-to-end: the file-source checkpoint never re-lists
    * a committed file, and the sink writes each micro-batch to its own
    * `batch_id=<id>` partition directory in overwrite mode — a batch
    * replayed after a crash between the write and the stream commit
    * overwrites its own directory rather than appending duplicates. */
  def ingestPointFiles(spark: SparkSession, landingDir: String, outPath: String,
                       ckRoot: String, glob: String): Unit = {
    import graft.sources.PointCodec
    val conf = spark.sparkContext.hadoopConfiguration
    val seed = PointCodec.firstFile(conf, s"$landingDir/$glob")
    val schema = PointCodec.forPath(seed.getName).schema(PointCodec.readBytes(seed, conf, PointCodec.HeaderBytes))
    // the binaryFile source's fixed schema, required explicitly for streams
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    val stream = spark.readStream.format("binaryFile")
      .schema(binSchema)
      .option("pathGlobFilter", glob)
      .load(landingDir)
      .select("path", "content")
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val pts = batch.flatMap { r =>
          val path = r.getString(0)
          PointCodec.decodeChecked(PointCodec.forPath(path), schema, path,
            r.getAs[Array[Byte]](1))
        }(Encoders.row(schema))
        pts.write.mode("overwrite").parquet(s"$outPath/batch_id=$batchId")
        graft.plans.Manifest.checkpoint(ckRoot, f"ptsbatch_$batchId%05d",
          s"pts-ingest-$batchId", Nil, pts)
        ()
      }
      .option("checkpointLocation", s"$ckRoot/_pts_stream_ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
