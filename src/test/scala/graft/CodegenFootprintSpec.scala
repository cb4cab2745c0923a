package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.model.Model
import graft.plans.Pipeline

/** Codegen footprint gate. Spark keeps compiled classes in one LRU cache
  * (`spark.sql.codegen.cache.maxEntries`, 100 entries in 4 segments of
  * 25), keyed by the generated source AND the class loader that asked, so
  * every whole-stage class is held twice in local mode (driver and task
  * loaders). A pipeline pass whose classes overflow a segment recompiles
  * on every later pass. This gate runs an nbr-shaped pipeline (kNN
  * outlier filter with an escalation round, radius outlier, exact ground,
  * splitter, sharded LAZ; checkpoints with validate_resume; cold and then
  * resumed) once to warm up, empties the cache, runs it again and bounds
  * the entries the second run adds, and the Spark jobs it launches. */
class CodegenFootprintSpec extends AnyFunSuite {
  import TestSpark._

  /** Entries a cold run + resume adds to an empty codegen cache: the
    * engine's one-pass budget, 60% of the 74 this spec added before the
    * halo-block reduce, chip finish and fold tap were planned operators. */
  private val EntryBudget = 44
  /** Spark jobs of a cold run + resume. */
  private val JobBudget = 15

  /** Spark's codegen cache (test-only reflection: the field is private):
    * its size, and a way to empty it. */
  private object CodegenCache {
    private val obj = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    private def cache: AnyRef = {
      val m = obj.getClass.getDeclaredMethod("cache")
      m.setAccessible(true)
      m.invoke(obj)
    }
    private def call(name: String): AnyRef = {
      val c = cache
      c.getClass.getMethod(name).invoke(c)
    }
    def size: Long = call("size").asInstanceOf[java.lang.Long].longValue
    def clear(): Unit = call("invalidateAll")
  }

  /** Documents of 1-7 points on the 0.5 payload grid over [0, 256)²: 60%
    * in six gaussian clusters (one much hotter than the rest), the rest
    * uniform background too sparse for the outlier filter's first level,
    * z on a ground slope with a quarter of the points lifted above it. */
  private def writeDocs(dir: String, nDocs: Int): Unit = {
    val rng = new scala.util.Random(11)
    val centers = (0 until 6).map { c =>
      val a = 2 * math.Pi * c / 6
      (128 + 77 * math.cos(a), 128 + 77 * math.sin(a))
    }
    def grid(v: Double): Int = math.max(0, math.min(511, math.round(v * 2).toInt))
    val docs = (0 until nDocs).map { d =>
      val spans = (0 until 1 + rng.nextInt(7)).map { j =>
        val (xi, yi) =
          if (rng.nextDouble() < 0.6) {
            val u = rng.nextDouble()
            val (cx, cy) = centers(math.min(5, (6 * u * u).toInt))
            (grid(cx + rng.nextGaussian() * 15), grid(cy + rng.nextGaussian() * 15))
          } else (rng.nextInt(512), rng.nextInt(512))
        val ground = 200 + (xi + 2 * yi) / 50
        val zi = if (rng.nextDouble() < 0.25) ground + 8 + rng.nextInt(60) else ground + rng.nextInt(2)
        Row("point", s"$xi,$yi,$zi,${rng.nextInt(65536)},${d * 8 + j}", "", j)
      }
      Row(f"d$d%06d", spans)
    }
    spark.createDataFrame(java.util.Arrays.asList(docs: _*), Model.docSchema)
      .repartition(4).write.parquet(dir)
  }

  private def spec(docs: String, root: Path, length: Double): String =
    s"""{"pipeline": [
       |  {"type": "readers.doc", "path": "$docs"},
       |  {"type": "filters.outlier", "mean_k": 8, "multiplier": 2.0, "level": 5,
       |   "space": [0, 0, 256, 256], "checkpoint": true, "validate_resume": true},
       |  {"type": "filters.radiusoutlier", "radius": 3.0, "min_neighbors": 3, "level": 6,
       |   "space": [0, 0, 256, 256]},
       |  {"type": "filters.ground", "cell_size": 1.0, "max_window_size": 5.0,
       |   "checkpoint": true, "validate_resume": true},
       |  {"type": "filters.splitter", "length": $length, "origin_x": 0, "origin_y": 0},
       |  {"type": "writers.las", "path": "${root.resolve("out")}", "shard_column": "tile_x",
       |   "compression": true, "format": 1, "scale": [0.5, 0.5, 0.5], "offset": [0, 0, 0]}
       |], "checkpoint_root": "${root.resolve("ck")}"}""".stripMargin

  test("an nbr-shaped cold run + resume fits the codegen and job budgets") {
    val base = Files.createTempDirectory("graftfoot")
    val docs = base.resolve("docs").toString
    writeDocs(docs, 1500)
    def pass(p: Int): Unit = {
      val root = base.resolve(s"pass$p")
      val js = spec(docs, root, 100.0 + 10 * p)
      val cold = Pipeline.run(spark, js)
      assert(cold.resumedStages.isEmpty)
      val resumed = Pipeline.run(spark, js)
      assert(resumed.resumedStages ===
        Seq("001_filters_outlier", "003_filters_ground", "005_writers_las"))
    }
    pass(0)
    CodegenCache.clear()
    val jobs = jobNames(pass(1))
    val added = CodegenCache.size
    info(s"codegen cache entries added: $added (budget $EntryBudget)")
    info(s"${jobs.size} jobs: ${jobs.mkString("; ")}")
    // the outlier filter escalated: its sources and two kNN rounds
    // materialized, not one round
    assert(jobs.count(_.startsWith("localCheckpoint at NbrBlocks")) >= 3, jobs.mkString("; "))
    assert(added <= EntryBudget, s"a pass added $added codegen cache entries")
    assert(jobs.size <= JobBudget, s"a pass ran ${jobs.size} jobs: ${jobs.mkString("; ")}")
  }
}
