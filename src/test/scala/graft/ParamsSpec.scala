package graft

import java.nio.file.Files
import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.SimpleMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.plans.{Param, Params}
import graft.sources.{Pcd, PointCodec}

/** The constants of filters over a point scan ride in [[Param]]s
  * ([[Params]]): a lifted filter keeps the rows the same filter keeps
  * over a `LocalRelation` (where the rule does not fire and Spark
  * evaluates the filter itself), and compiles for every type it lifts;
  * EXPLAIN prints the values, literals outside comparisons stay inlined
  * and parquet reads keep their pushed filters. The rows sit in a binary PCD file, whose doubles round-trip
  * exactly (NaN, -0.0 and the infinities included). */
class ParamsSpec extends AnyFunSuite {
  import TestSpark._

  private val doubles = Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, Double.PositiveInfinity,
    Double.NegativeInfinity, Double.MaxValue)

  private lazy val local: DataFrame = {
    val rows = (0 until 40).map { id =>
      Row(id, (id % 7) - 3, (id % 5).toLong * 1000000000000L - 2000000000000L,
        if (id < doubles.size) doubles(id) else (id % 9) * 0.75 - 3.0, id * 0.5, id * 0.25, 1.0)
    }
    val schema = StructType(Seq(StructField("id", IntegerType, nullable = false),
      StructField("i", IntegerType, nullable = false), StructField("l", LongType, nullable = false),
      StructField("d", DoubleType, nullable = false), StructField("x", DoubleType, nullable = false),
      StructField("y", DoubleType, nullable = false), StructField("z", DoubleType, nullable = false)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private lazy val scan: DataFrame = {
    val path = Files.createTempDirectory("graftparams").resolve("rows.pcd").toString
    Pcd.write(path, local, data = "binary")
    PointCodec.read(spark, path, Pcd.Codec())
  }

  private def ids(df: DataFrame, keep: Column): Seq[Int] =
    df.filter(keep).select("id").collect().map(_.getInt(0)).toSeq.sorted

  private def exprs(df: DataFrame) = df.queryExecution.optimizedPlan.flatMap(_.expressions)

  private def lifted(df: DataFrame): Boolean = exprs(df).exists(_.exists(_.isInstanceOf[Param]))

  private val ops: Seq[(String, (Column, Column) => Column)] = Seq(
    "=" -> (_ === _), "<=>" -> (_ <=> _), "<" -> (_ < _), "<=" -> (_ <= _),
    ">" -> (_ > _), ">=" -> (_ >= _), "!=" -> (_ =!= _))

  test("a lifted filter keeps the rows Spark keeps over a LocalRelation") {
    val date = date_from_unix_date(col("i") + 19000)
    val cases: Seq[(String, Column, Any)] =
      Seq(-3, 0, 2, Int.MaxValue).map(v => ("int", col("i"), v)) ++
      Seq(-2000000000000L, 0L, 1000000000000L).map(v => ("long", col("l"), v)) ++
      doubles.map(v => ("double", col("d"), v)) ++
      Seq(LocalDate.ofEpochDay(18998), LocalDate.ofEpochDay(19000), LocalDate.ofEpochDay(19002))
        .map(v => ("date", date, v)) ++
      // the other lifted types, once each
      Seq(("byte", col("i").cast(ByteType), 2.toByte), ("short", col("i").cast(ShortType), (-3).toShort),
        ("float", col("d").cast(FloatType), Float.NaN), ("float", col("d").cast(FloatType), 1.5f),
        ("timestamp", timestamp_seconds(col("i")), java.time.Instant.ofEpochSecond(1)))
    // generated code only: a Param whose code did not compile would throw
    codegenOnly {
      for ((op, cmp) <- ops; (tpe, c, v) <- cases) {
        val keep = cmp(c, lit(v))
        val clue = s"$tpe $op $v"
        assert(lifted(scan.filter(keep)), clue)
        assert(!lifted(local.filter(keep)), clue)
        assert(ids(scan, keep) === ids(local, keep), clue)
      }
      // the constant on the left of the comparison
      assert(ids(scan, lit(1.5) < col("d")) === ids(local, col("d") > 1.5))
    }
  }

  test("EXPLAIN of a lifted filter prints its values; literals outside comparisons stay inlined") {
    val q = scan.filter(col("d") > 1.5 && col("l") =!= 7L && round(col("x") * 4) === 6.0)
    val plan = q.queryExecution.explainString(SimpleMode)
    assert(plan.contains("> 1.5)") && plan.contains("= 7)") && plan.contains("= 6.0)"), plan)
    val params = exprs(q).flatMap(_.collect { case p: Param => p })
    assert(params.map(_.value).toSet === Set(1.5, 7L, 6.0))
    // round's scale and the factor 4 are function and arithmetic arguments
    val literals = exprs(q).flatMap(_.collect { case Literal(v, _: NumericType) => v })
    assert(literals.toSet === Set(4.0, 0))
  }

  test("after a point scan registered the rule, a parquet filter is still pushed down") {
    scan.count()
    assert(spark.experimental.extraOptimizations.contains(Params))
    val dir = Files.createTempDirectory("graftparamspq").resolve("p").toString
    local.write.parquet(dir)
    val q = spark.read.parquet(dir).filter(col("x") > 2.5)
    val plan = q.queryExecution.explainString(SimpleMode)
    assert(plan.contains("PushedFilters: [IsNotNull(x), GreaterThan(x,2.5)]"), plan)
    assert(!lifted(q))
    assert(q.count() === 34)
  }
}
