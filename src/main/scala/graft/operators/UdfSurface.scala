package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The user-defined-function surface, mapping the reference's embedded-
  * Python stages (SURVEY.md §2.6) to Spark's native extension points:
  *
  *  - filters.predicate (PredicateFilter.cpp:84-106, vectorized boolean
  *    mask over per-dimension arrays) -> a typed Dataset.filter or a
  *    registered Column predicate; Catalyst pushes and fuses it.
  *  - filters.programmable (ProgrammableFilter.cpp:80-110, arrays in,
  *    named output arrays written back, may add dimensions) -> a UDF
  *    returning a struct, splatted back with select("s.*"), or a typed
  *    Dataset.map.
  *
  * The vectorized-exchange idea (the reference hands NumPy arrays per
  * dimension, src/plang/BufferedInvocation.cpp:55-76) is exactly
  * Spark's Arrow-based Pandas UDF contract; in Scala-only deployments
  * the equivalent hot path is a codegen'd Expression (see
  * graft.functions.SpatialFunctions) and these row-wise UDFs are the
  * cold-path escape hatch.
  */
object UdfSurface {

  final case class Point(doc_id: String, span_idx: Int,
                         x: Double, y: Double, z: Double)

  /** Typed predicate: keep points where `f` is true (the filters.
    * predicate "Mask" semantics). */
  def predicate(f: Point => Boolean)(ds: Dataset[Point]): Dataset[Point] =
    ds.filter(f)

  /** Typed programmable transform: full row in, full row out (may
    * rewrite any dimension). */
  def programmable(f: Point => Point)(ds: Dataset[Point]): Dataset[Point] = {
    import ds.sparkSession.implicits._
    ds.map(f)
  }

  /** Column-level programmable stage that ADDS dimensions: a UDF
    * returning a struct, splatted into new columns — the
    * "outputs matched by name" contract (BufferedInvocation.cpp:78-108). */
  def addDims(df: DataFrame, fn: (Double, Double, Double) => (Double, Double),
              names: (String, String)): DataFrame = {
    val u = udf { (x: Double, y: Double, z: Double) =>
      val (a, b) = fn(x, y, z); (a, b)
    }
    df.withColumn("__out", u(col("x"), col("y"), col("z")))
      .withColumn(names._1, col("__out._1"))
      .withColumn(names._2, col("__out._2"))
      .drop("__out")
  }
}
