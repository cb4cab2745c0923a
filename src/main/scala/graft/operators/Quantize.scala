package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.Model

/** writers.las quantization semantics (reference src/Writer.cpp:86-148
  * setAutoXForm + io/las/LasWriter.cpp:603-609): per coordinate,
  * offset = data minimum, scale = range / Int32.max (auto mode),
  * stored value = round((v - offset) / scale) with a checked cast that
  * REJECTS out-of-range results instead of wrapping (the reference's
  * numeric_cast throw). Round-trip dequantization is v' = i * scale +
  * offset, the same XForm the LAS reader applies
  * (io/las/LasReader.cpp:651-720).
  */
object Quantize {

  final case class XForm(scale: Double, offset: Double)

  /** Auto scale/offset from data extents — one tiny aggregate job. */
  def autoXForm(df: DataFrame, dims: Seq[String]): Map[String, XForm] = {
    val aggs = dims.flatMap(d => Seq(min(col(d)).as(s"min_$d"), max(col(d)).as(s"max_$d")))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    dims.map { d =>
      val mn = r.getAs[Double](s"min_$d"); val mx = r.getAs[Double](s"max_$d")
      val range = mx - mn
      val scale = if (range == 0.0) 1.0 else range / Int.MaxValue.toDouble
      d -> XForm(scale, mn)
    }.toMap
  }

  /** Quantize dims to int32 grid columns `<dim>_i` with the checked-cast
    * guard (Model.checkedCast = sround + range check). */
  def quantize(xf: Map[String, XForm])(df: DataFrame): DataFrame =
    xf.foldLeft(df) { case (d, (dim, XForm(s, o))) =>
      d.withColumn(s"${dim}_i",
        Model.checkedCast((col(dim) - lit(o)) / lit(s), IntegerType))
    }

  /** Inverse: v = i * scale + offset. */
  def dequantize(xf: Map[String, XForm])(df: DataFrame): DataFrame =
    xf.foldLeft(df) { case (d, (dim, XForm(s, o))) =>
      d.withColumn(dim, col(s"${dim}_i").cast(DoubleType) * lit(s) + lit(o))
        .drop(s"${dim}_i")
    }

  /** writers.text GeoJSON mode (TextWriter.cpp:102-160): one Feature per
    * point with Point geometry and the remaining dims as properties.
    * A projection producing one JSON string column — written with
    * spark.write.text, no driver-side serialization. */
  def toGeoJson(dims: Seq[String])(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val props = struct(dims.map(col): _*)
    df.select(concat(
      lit("""{"type":"Feature","geometry":{"type":"Point","coordinates":["""),
      col("x").cast(StringType), lit(","), col("y").cast(StringType), lit(","),
      col("z").cast(StringType),
      lit("""]},"properties":"""), to_json(props), lit("}")).as("feature"))
  }
}
