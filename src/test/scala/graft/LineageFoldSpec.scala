package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.plans.Manifest
import graft.plans.Manifest.{PartitionLineage, QuickStats}

/** The manifest's per-task lineage fold against the SQL groupBy it
  * replaced, kept here as the reference; and validation's detection of
  * out-of-band edits to a checkpoint's data. */
class LineageFoldSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graftfold").toString

  /** The former `Manifest.lineageOf`: one groupBy on the lineage key with
    * count, bit_xor of the row digest and, on spatial frames, the per-key
    * min/max of x, y and z, rolled up on the driver. A null key is filed
    * under `Manifest.NullCoordKey` and the rollup skips null bounds, so it
    * answers frames with null coordinates too. */
  def reference(df: DataFrame): (Seq[PartitionLineage], Option[QuickStats]) = {
    val spatial = Seq("x", "y", "z").forall(df.columns.contains)
    val baseAggs = Seq(count(lit(1)).as("rows"),
      expr(s"bit_xor(xxhash64(${df.columns.map(c => s"cast(`$c` as string)").mkString(", ")}))")
        .as("digest"))
    val bboxAggs = if (spatial)
      Seq(min("x").as("mnx"), max("x").as("mxx"), min("y").as("mny"),
        max("y").as("mxy"), min("z").as("mnz"), max("z").as("mxz"))
    else Nil
    val aggs = baseAggs ++ bboxAggs
    val rows = df.withColumn("__lk", coalesce(Manifest.lineageKey(df), lit(Manifest.NullCoordKey)))
      .groupBy(col("__lk"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val lineage = rows
      .map(r => PartitionLineage(r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) 0L else r.getLong(2)))
      .sortBy(_.key).toSeq
    val ord = Ordering.Double.TotalOrdering
    def bound(i: Int, least: Boolean): Option[Double] = {
      val v = rows.filterNot(_.isNullAt(i)).map(_.getDouble(i))
      if (v.isEmpty) None else Some(if (least) v.min(ord) else v.max(ord))
    }
    val info =
      if (!spatial) None
      else for {
        mnx <- bound(3, true); mxx <- bound(4, false); mny <- bound(5, true)
        mxy <- bound(6, false); mnz <- bound(7, true); mxz <- bound(8, false)
      } yield QuickStats(rows.map(_.getLong(1)).sum, mnx, mxx, mny, mxy, mnz, mxz)
    (lineage, info)
  }

  /** QuickStats equality with NaN equal to NaN (and -0.0 to 0.0, whose
    * min/max order SQL leaves open). */
  private def sameStats(a: Option[QuickStats], b: Option[QuickStats]): Boolean =
    (a, b) match {
      case (None, None) => true
      case (Some(p), Some(q)) =>
        p.productIterator.zip(q.productIterator).forall {
          case (u: Double, v: Double) => u == v || (u.isNaN && v.isNaN)
          case (u, v) => u == v
        }
      case _ => false
    }

  /** `n` rows in `parts` partitions: doubles with NaN and -0.0, float, int,
    * long, string, decimal, timestamp, array, struct and map columns, some
    * null; x/y/z (z with NaN and -0.0) when `spatial`, else a doc_id. */
  private def frame(n: Int, parts: Int, spatial: Boolean): DataFrame = {
    val keyed =
      if (spatial) Seq("(id * 37 % 1000) * 0.5D as x", "(id * 91 % 800) * 0.5D as y",
        "case when id % 23 = 0 then cast('NaN' as double) " +
          "when id % 29 = 0 then cast('-0.0' as double) else (id % 50) * 0.5D end as z")
      else Seq("concat('doc', id % 97) as doc_id")
    spark.range(0, n, 1, parts).selectExpr(keyed ++ Seq(
      "case when id % 11 = 0 then cast('NaN' as double) when id % 7 = 0 " +
        "then cast('-0.0' as double) when id % 13 = 0 then null else id * 0.25D end as d",
      "cast((id % 17) / 3.0 as float) as f",
      "case when id % 19 = 0 then null else cast(id as int) end as i",
      "id * 1000003 as l",
      "case when id % 5 = 0 then null else concat('s', id) end as s",
      "cast(id / 7.0 as decimal(20, 4)) as dec",
      "timestamp_seconds(id * 3607) as ts",
      "array(id * 0.5D, case when id % 3 = 0 then null else id end) as arr",
      "named_struct('a', id % 4, 'b', concat('b', id)) as st",
      "map('k', id % 9) as m"): _*)
  }

  test("fold lineage and QuickStats equal the SQL groupBy, written or not") {
    for (spatial <- Seq(true, false); parts <- Seq(1, 32); n <- Seq(0, 500)) {
      val clue = s"spatial $spatial, $parts partitions, $n rows"
      val df = frame(n, parts, spatial)
      val want = reference(df)
      val got = Manifest.lineageOf(df)
      assert(got._1 === want._1, clue)
      assert(sameStats(got._2, want._2), s"$clue: ${got._2} vs ${want._2}")
      assert(want._2.isDefined === (spatial && n > 0), clue)
      assert(want._1.map(_.rows).sum === n, clue)
      // the checkpoint folds inside its write; the read-back data agrees
      val ck = tmp()
      val m = Manifest.checkpoint(ck, "s", "fp", Nil, df)
      assert(m.partitions === want._1, clue)
      assert(sameStats(m.info, want._2), s"$clue: ${m.info} vs ${want._2}")
      val back = reference(Manifest.readData(spark, ck, "s"))
      assert(back._1 === m.partitions && sameStats(back._2, m.info), clue)
      assert(Manifest.validate(spark, ck, "s"), clue)
    }
  }

  /** The data files of checkpoint `stage` under `ck`. */
  private def dataFiles(ck: String, stage: String): Seq[Path] =
    Files.list(Paths.get(ck, stage, "data")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.sortBy(_.toString)

  /** Remove `f` and its Hadoop checksum sidecar. */
  private def deleteWithCrc(f: Path): Unit = {
    Files.delete(f)
    Files.deleteIfExists(f.resolveSibling(s".${f.getFileName}.crc"))
  }

  test("validate fails after one value is rewritten out of band") {
    val ck = tmp()
    val m = Manifest.checkpoint(ck, "t", "fp", Nil, frame(500, 8, spatial = true))
    assert(Manifest.validate(spark, ck, "t"))
    // one row of one data file gets l + 1; rows, keys and coordinates stay
    val victim = dataFiles(ck, "t").head
    val rows = spark.read.parquet(victim.toString)
    val target = rows.agg(min("l")).head().getLong(0)
    val out = tmp() + "/one"
    rows.withColumn("l", when(col("l") === target, col("l") + 1).otherwise(col("l")))
      .coalesce(1).write.parquet(out)
    val fresh = Files.list(Paths.get(out)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    deleteWithCrc(victim)
    Files.copy(fresh, victim)
    val (lineage, _) = Manifest.lineageOf(Manifest.readData(spark, ck, "t"))
    assert(lineage.map(p => (p.key, p.rows)) === m.partitions.map(p => (p.key, p.rows)))
    assert(lineage !== m.partitions, "the rewrite changed no digest")
    assert(!Manifest.validate(spark, ck, "t"))
  }

  test("validate fails after a data file is deleted") {
    val ck = tmp()
    val m = Manifest.checkpoint(ck, "t", "fp", Nil, frame(500, 8, spatial = false))
    assert(Manifest.validate(spark, ck, "t"))
    val files = dataFiles(ck, "t")
    assert(files.size > 1)
    deleteWithCrc(files.head)
    assert(Manifest.lineageOf(Manifest.readData(spark, ck, "t"))._1.map(_.rows).sum < m.totalRows)
    assert(!Manifest.validate(spark, ck, "t"))
  }

  test("decimal and float coordinates checkpoint and validate with their doubles' lineage") {
    // k * 0.5 under 1000 prints alike as double, float and decimal(10, 1),
    // so even the row digests of the three frames agree
    val dbl = spark.range(0, 500, 1, 8).selectExpr("(id * 37 % 1000) * 0.5D as x",
      "(id * 91 % 800) * 0.5D as y", "(id % 50) * 0.5D as z", "id")
    def as(t: String) = dbl.selectExpr(s"cast(x as $t) as x", s"cast(y as $t) as y", "z", "id")
    val want = Manifest.lineageOf(dbl)
    def check(df: DataFrame, stage: String): Unit = {
      val ck = tmp()
      val m = Manifest.checkpoint(ck, stage, "fp", Nil, df)
      assert(m.partitions === want._1, stage)
      assert(sameStats(m.info, want._2), stage)
      assert(Manifest.validate(spark, ck, stage), stage)
    }
    check(as("decimal(10, 1)"), "decimal")
    val wholeStage = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try check(as("float"), "float")
    finally spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
    // double coordinates get no cast
    val analyzed = dbl.select(Manifest.lineageKey(dbl)).queryExecution.analyzed
    assert(!analyzed.expressions.exists(_.exists(_.isInstanceOf[
      org.apache.spark.sql.catalyst.expressions.Cast])), analyzed.toString)
  }
}
