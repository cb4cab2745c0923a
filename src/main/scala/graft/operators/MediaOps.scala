package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SimHash64 of a token array: per token, md5's first 8 bytes vote
  * +1/-1 on each of 64 bits; the result bit is 1 where the vote sum is
  * positive. Standard public algorithm (Charikar 2002). md5-based so a
  * SQL oracle reproduces it bit-for-bit. */
case class SimHash64(child: Expression) extends UnaryExpression with Serializable {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    SimHash64.of((0 until arr.numElements()).map(i => arr.getUTF8String(i).toString))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.operators.SimHash64.ofArrayData($c);")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object SimHash64 {
  def of(tokens: Seq[String]): Long = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    tokens.foreach { t =>
      md.reset()
      val h = md.digest(t.getBytes("UTF-8"))
      var b = 0
      while (b < 64) {
        val bit = (h(b / 8) >> (7 - (b % 8))) & 1
        votes(b) += (if (bit == 1) 1 else -1)
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << (63 - b))
      b += 1
    }
    out
  }
  def ofArrayData(arr: ArrayData): Long =
    of((0 until arr.numElements()).map(i => arr.getUTF8String(i).toString))
  def col(c: Column): Column =
    ExpressionUtils.column(SimHash64(ExpressionUtils.expression(c)))

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}

/** Multimodal (binary) column operators. The container has no image or
  * audio codecs, so the DECODE step is a clearly-marked deterministic
  * stub (features derived from the bytes themselves); everything
  * Spark-side — schema, batching, partitioning, metadata extraction,
  * frame sampling — is real and tested. Swap [[MediaOps.fakeDecode]]
  * for a real codec UDF (or an Arrow-vectorized UDF in PySpark) without
  * touching the plumbing. */
object MediaOps {

  /** Synthesize deterministic media blobs for media spans/refs: blob =
    * N repetitions of md5(media_ref) bytes — opaque, binary, and
    * reproducible in the oracle (unhex + repeat). */
  def synthBlob(mediaRef: Column, repeats: Int): Column =
    unhex(array_join(transform(sequence(lit(1), lit(repeats)),
      _ => md5(mediaRef)), ""))

  /** Typed metadata over an opaque binary column: size, magic prefix,
    * content hash. The real-codec version adds width/height/duration. */
  def mediaMeta(blobCol: String)(df: DataFrame): DataFrame =
    df.withColumn("media_size", octet_length(col(blobCol)))
      .withColumn("media_magic", hex(substring(col(blobCol), 1, 4)))
      .withColumn("media_hash", md5(hex(col(blobCol))))

  /** STUB decode: 4 fake "features" from deterministic byte positions.
    * Marks where a real image/audio decoder would run (???-equivalent);
    * batch shape (one row in, fixed-width feature struct out) matches a
    * vectorized decode UDF's contract. */
  def fakeDecode(blobCol: String)(df: DataFrame): DataFrame =
    df.withColumn("decoded", struct(
      octet_length(col(blobCol)).as("n_bytes"),
      hex(substring(col(blobCol), 1, 2)).as("f0"),
      hex(substring(col(blobCol), 9, 2)).as("f1"),
      md5(hex(col(blobCol))).as("content_id")))

  /** Every `stride`-th byte of a binary value — the deterministic STUB
    * standing in for a real image resize (no codecs in this container);
    * binary-in/binary-out, the vectorized-resize contract shape. */
  case class SubsampleBytes(child: Expression, stride: Int)
      extends UnaryExpression with Serializable {
    require(stride >= 1)
    override def dataType: DataType = BinaryType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "subsample_bytes"
    override protected def nullSafeEval(v: Any): Any = {
      val b = v.asInstanceOf[Array[Byte]]
      MediaOps.subsample(b, stride)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.operators.MediaOps.subsample($c, $stride);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def subsample(b: Array[Byte], stride: Int): Array[Byte] =
    Array.tabulate((b.length + stride - 1) / stride)(i => b(i * stride))

  /** STUB resize: downsample the blob by `stride` and attach the resized
    * size + content hash (a real resize swaps [[SubsampleBytes]] for a
    * codec call; the plumbing — projection shape, hashing, schema — is
    * what the engine owns). */
  def resizeStub(blobCol: String, stride: Int)(df: DataFrame): DataFrame = {
    val resized = ExpressionUtils.column(
      SubsampleBytes(ExpressionUtils.expression(col(blobCol)), stride))
    df.withColumn("resized", resized)
      .withColumn("resized_size", octet_length(col("resized")))
      .withColumn("resized_hash", md5(hex(col("resized"))))
  }

  /** STUB feature extraction: `dims` floats from the blob's leading
    * bytes (byte/255) — the embedding-column bridge a real extractor
    * (CLIP-style) would fill; emitted one row per (doc, dim) so the
    * shape feeds the ANN/near-dup operators directly. */
  def featureStub(blobCol: String, dims: Int)(df: DataFrame): DataFrame =
    df.withColumn("feat_idx", explode(sequence(lit(0), lit(dims - 1))))
      .withColumn("feat",
        expr(s"cast(conv(hex(substring($blobCol, feat_idx + 1, 1)), 16, 10) as double)") / 255.0)

  /** Frame sampling: treat the blob as fixed-width frames, keep every
    * step-th frame's hash — the Spark-side shape of video frame
    * extraction (explode to frames, per-frame op, no driver loop). */
  def frameSample(blobCol: String, frameBytes: Int, step: Int)(df: DataFrame): DataFrame = {
    val nFrames = (floor((octet_length(col(blobCol)) - 1) / frameBytes) + 1).cast(IntegerType)
    df.withColumn("frame_idx",
      explode(filter(sequence(lit(0), nFrames - 1), i => i % step === 0)))
      .withColumn("frame_hash",
        md5(hex(expr(s"substring($blobCol, frame_idx * $frameBytes + 1, $frameBytes)"))))
  }
}
