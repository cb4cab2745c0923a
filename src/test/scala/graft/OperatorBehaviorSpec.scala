package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Faux
import graft.operators._
import graft.model.Model
import graft.index.{CellSpace, PolygonCover, Morton}

/** Behavioral specs for operators whose semantics aren't covered by a
  * SQL oracle: SOR, PMF, MinHash near-dup, ANN recall, quantization
  * round-trip, checked casts, index-layer invariants. */
class OperatorBehaviorSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("Morton interleave round-trips and preserves locality prefixes") {
    val pairs = Seq((0L, 0L), (1L, 0L), (0L, 1L), (12345L, 67890L),
      ((1L << 30) - 1, (1L << 30) - 1))
    pairs.foreach { case (x, y) =>
      val m = Morton.interleave(x, y)
      assert(Morton.deinterleaveX(m) === x)
      assert(Morton.deinterleaveY(m) === y)
    }
    // parent cell id is a prefix: child >> 2 levels == parent morton
    val sp = CellSpace.default
    val id = sp.cellAt(123.4, 567.8, 10)
    val p = sp.parent(id)
    assert(CellSpace.level(p) === 9)
    assert((id >>> 6) >>> 2 === (p >>> 6))
    assert(sp.children(p).contains(id))
  }

  test("polygon cover: interior cells are truly interior, cover is complete") {
    val sp = CellSpace.default
    val geom = PolygonCover.fromWkt(
      "POLYGON ((200.3 200.7, 800.3 200.7, 800.3 800.7, 200.3 800.7, 200.3 200.7))")
    val cover = PolygonCover.cover(geom, sp, 8)
    assert(cover.interior.nonEmpty && cover.boundary.nonEmpty)
    val prep = org.locationtech.jts.geom.prep.PreparedGeometryFactory.prepare(geom)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    cover.interior.take(50).foreach { id =>
      assert(prep.containsProperly(gf.toGeometry(sp.envelope(id))),
        s"interior cell $id not properly contained")
    }
    // completeness: points inside the polygon are always in some cover cell
    val pts = for (i <- 0 to 5; j <- 0 to 6) yield (210.0 + i * 97.0, 210.0 + j * 93.0)
    val all = cover.interior.map(c => (c, CellSpace.level(c))) ++
      cover.boundary.map(c => (c, 8))
    pts.foreach { case (x, y) =>
      val hit = all.exists { case (c, lvl) => sp.cellAt(x, y, lvl) == c }
      assert(hit, s"point ($x,$y) missed by cover")
    }
  }

  test("SOR removes isolated outliers and keeps cluster points") {
    // dense cluster at (100,100,0) + far outliers
    val cluster = Faux.uniform(spark, Faux.Box3(95, 95, 0, 105, 105, 1), 500, seed = 5)
    val outliers = Faux.ramp(spark, Faux.Box3(500, 500, 0, 900, 900, 1), 5, "outlier")
    val all = cluster.unionByName(outliers)
    val kept = JoinOps.statisticalOutlierRemoval(k = 8, multThresh = 2.0, level = 5)(all)
    val keptIds = kept.select("doc_id").distinct().as[String].collect().toSet
    assert(!keptIds.contains("outlier"), "outliers survived SOR")
    assert(kept.count() >= 450, "SOR dropped too many cluster points")
  }

  test("SOR membership is bit-identical across shuffle partitionings (4 vs 32)") {
    // the r2 VERDICT flake risk: a double threshold computed by partial
    // aggregation could flip membership in the last ulp between
    // partitionings. The integer-moment threshold makes the kept set
    // invariant by construction — assert it.
    val pts = Faux.uniform(spark, Faux.Box3(0, 0, 0, 400, 400, 20), 1200, seed = 9)
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    def keptSet(): Set[(String, Int)] =
      try {
        JoinOps.statisticalOutlierRemoval(k = 4, multThresh = 1.0, level = 4)(pts)
          .select("doc_id", "span_idx").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSet
      } finally conf.set("spark.sql.shuffle.partitions", orig)
    conf.set("spark.sql.shuffle.partitions", "4")
    val k4 = keptSet()
    conf.set("spark.sql.shuffle.partitions", "32")
    val k32 = keptSet()
    assert(k4 === k32, s"membership differs: ${(k4 diff k32) ++ (k32 diff k4)}")
    assert(k4.nonEmpty)
  }

  test("delta nearest-1 is bit-identical across shuffle partitionings (4 vs 32)") {
    // same determinism discipline as SOR: nearest-neighbor selection is
    // a min_by over (d2, id) struct ordering — no partial-aggregation
    // float path can flip the winner between partitionings
    val src = Faux.uniform(spark, Faux.Box3(0, 0, 0, 400, 400, 20), 600, seed = 5)
    val cand = Faux.uniform(spark, Faux.Box3(0, 0, 0, 400, 400, 20), 600, seed = 6, "cand")
    val conf = spark.conf
    val orig = conf.get("spark.sql.shuffle.partitions")
    def deltas(): Set[(Int, Double, Double, Double)] =
      try {
        JoinOps.delta(src, cand, level = 4)
          .select("span_idx", "dx", "dy", "dz").collect()
          .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
      } finally conf.set("spark.sql.shuffle.partitions", orig)
    conf.set("spark.sql.shuffle.partitions", "4")
    val d4 = deltas()
    conf.set("spark.sql.shuffle.partitions", "32")
    val d32 = deltas()
    assert(d4 === d32, s"delta differs: ${(d4 diff d32).take(3)} vs ${(d32 diff d4).take(3)}")
    assert(d4.size === 600)
  }

  test("exact kNN escalation finds neighbors beyond the starting ring (sparse regime)") {
    // points spread ~300 units apart: at level 4 (cell side 64) every
    // point's nearest neighbor is OUTSIDE its 3x3 ring, so the result is
    // correct ONLY if the certificate escalates to coarser levels
    val rows = (0 until 9).map { i =>
      (s"p$i", i, 100.0 + (i % 3) * 300.0, 100.0 + (i / 3) * 300.0, 0.0)
    }
    val df = spark.createDataFrame(rows).toDF("doc_id", "span_idx", "x", "y", "z")
    val nn = JoinOps.exactKnnDistances(df, df, k = 1, startLevel = 4,
      dims3 = false, excludeSelf = true)
      .select(col("doc_id"), sqrt(element_at(col("__nnd2"), 1)).as("d1"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(nn.size === 9, s"missing points: $nn")
    // every point's true nearest neighbor is exactly 300 away
    nn.foreach { case (id, d) => assert(d === 300.0, s"$id nearest $d != 300") }
    // nearest-1 payload path agrees
    val near = JoinOps.exactNearest(df, df.filter(col("doc_id") =!= "p0"), startLevel = 4)
      .filter(col("doc_id") === "p0")
      .select(col("__n.nx"), col("__n.ny")).head()
    assert((near.getDouble(0), near.getDouble(1)) === ((400.0, 100.0)))
  }

  test("kNN ring replication stays codegen'd (no Scala UDF in the plan)") {
    val df = Faux.uniform(spark, Faux.Box3(0, 0, 0, 100, 100, 1), 100, seed = 3)
    val plan = JoinOps.knnPairs(df, df, level = 4).queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"ring expansion fell out of codegen:\n$plan")
    assert(plan.contains("neighbor_cells"), "codegen'd ring expression missing from plan")
  }

  test("PMF classifies flat ground and rejects towers") {
    // flat plane z=10 on a grid + a few tall spikes
    val n = 40
    val ground = spark.range(0, n.toLong * n).select(
      lit("g").as("doc_id"), col("id").cast(IntegerType).as("span_idx"),
      (col("id") % n * 10).cast(DoubleType).as("x"),
      (col("id") / n).cast(IntegerType).cast(DoubleType).multiply(10).as("y"),
      lit(10.0).as("z"))
    val towers = spark.range(0, 5).select(
      lit("t").as("doc_id"), (col("id") + 100000).cast(IntegerType).as("span_idx"),
      (col("id") * 83 + 41).cast(DoubleType).as("x"),
      (col("id") * 61 + 37).cast(DoubleType).as("y"),
      lit(90.0).as("z"))
    val df = ground.unionByName(towers)
    val out = GroundOps.pmf(GroundOps.PmfParams(cellSize = 10, maxWindowSize = 9,
      slope = 0.5, initialDistance = 1.0, maxDistance = 5.0))(df)
    val groundClass = out.filter(col("classification") === 2)
    assert(groundClass.filter(col("doc_id") === "t").count() === 0, "towers marked ground")
    val gCount = groundClass.filter(col("doc_id") === "g").count()
    assert(gCount === n.toLong * n, s"only $gCount of ${n * n} plane points marked ground")
  }

  test("exact PMF: hand-computed pruning on a 1D line, towers rejected, extract mode") {
    // 5 points on a line, y=0: z = 10,10,50,10,10 at x = 0,2,4,6,8.
    // Params: cellSize=1, maxWindowSize=5, slope=1, init=2, max=12
    // -> PCL ladder {3,5} (w1=5 >= max is included, then the loop
    // stops), half-extents {1.5, 2.5}, dh {2, min(1*(5-3)*1+2,12)=4}.
    // Round 1 (r=1.5): each point's window holds only itself ->
    //   opened = z, z-opened = 0 < 2, all survive.
    // Round 2 (r=2.5): windows hold the point and its line neighbors.
    //   erosion: e = min z in window -> e(0)=10, e(2)=10, e(4)=10,
    //   e(6)=10, e(8)=10 (the 50 never wins a min).
    //   dilation: o = max e in window = 10 everywhere.
    //   keep iff z - 10 < 4 -> the z=50 tower (and only it) is pruned.
    val df = Seq(
      ("d", 0, 0.0, 0.0, 10.0), ("d", 1, 2.0, 0.0, 10.0),
      ("d", 2, 4.0, 0.0, 50.0), ("d", 3, 6.0, 0.0, 10.0),
      ("d", 4, 8.0, 0.0, 10.0)).toDF("doc_id", "span_idx", "x", "y", "z")
    val p = GroundOps.PmfParams(cellSize = 1, maxWindowSize = 5,
      slope = 1.0, initialDistance = 2.0, maxDistance = 12.0)
    val cls = GroundOps.pmfExact(p)(df)
      .select("span_idx", "classification").collect()
      .map(r => r.getInt(0) -> r.getShort(1)).toMap
    assert(cls === Map(0 -> 2, 1 -> 2, 2 -> 0, 3 -> 2, 4 -> 2))
    val extracted = GroundOps.pmfExact(p, extract = true)(df)
      .select("span_idx").collect().map(_.getInt(0)).sorted
    assert(extracted === Array(0, 1, 3, 4))
  }

  test("exact and approximate PMF are distinct semantics (rasterization changes the verdict)") {
    // Params cellSize=16, maxWindowSize=3:
    //  - exact branch: PCL ladder {w0 = 16*(2*1+1) = 48}, half-extent
    //    24, dh = initialDistance = 2.
    //  - grid branch: cell-unit ladder {3}, hw = 1 CELL (16 units),
    //    lastDh = 2, morphology over occupied cells only.
    // Fixture: low z=10 at x=15.9 (cell 0), high z=40 at x=32.1 (cell
    // 2), dx = 16.2. The exact window (24) CONTAINS the pair -> the
    // high point erodes/opens to 10, 40-10=30 >= 2 -> pruned. The grid
    // sees cells 0 and 2 — NOT neighbors at hw=1 — so cell 2's opened
    // value stays 40 and the high point passes the final cell test
    // (40-40=0 <= 2) -> ground. Same input, opposite verdicts: the
    // rasterization is the only difference.
    val df = Seq(
      ("d", 0, 15.9, 0.5, 10.0),  // low, cell (0,0)
      ("d", 1, 32.1, 0.5, 40.0)   // high, cell (2,0), 16.2 units away
    ).toDF("doc_id", "span_idx", "x", "y", "z")
    val p = GroundOps.PmfParams(cellSize = 16, maxWindowSize = 3,
      slope = 1.0, initialDistance = 2.0, maxDistance = 20.0)
    val grid = GroundOps.pmf(p)(df)
      .select("span_idx", "classification").collect()
      .map(r => r.getInt(0) -> r.getShort(1)).toMap
    assert(grid === Map(0 -> 2, 1 -> 2), s"grid verdict: $grid")
    val exact = GroundOps.pmfExact(p)(df)
      .select("span_idx", "classification").collect()
      .map(r => r.getInt(0) -> r.getShort(1)).toMap
    assert(exact === Map(0 -> 2, 1 -> 0), s"exact verdict: $exact")
  }

  test("pipeline filters.ground: default is the exact branch, approximate=true the grid one") {
    import graft.plans.Pipeline
    val dir = java.nio.file.Files.createTempDirectory("pmfpipe").toString
    Seq(("d", 0, 15.9, 0.5, 10.0), ("d", 1, 32.1, 0.5, 40.0))
      .toDF("doc_id", "span_idx", "x", "y", "z")
      .write.mode("overwrite").parquet(s"$dir/in.parquet")
    def run(extraOpt: String): Map[Int, Int] =
      Pipeline.run(spark, s"""{"pipeline":[
        {"type":"readers.parquet","path":"$dir/in.parquet"},
        {"type":"filters.ground","cell_size":16,"max_window_size":3,
         "slope":1.0,"initial_distance":2.0,"max_distance":20.0$extraOpt}]}""")
        .df.select("span_idx", "classification").collect()
        .map(r => r.getInt(0) -> r.getShort(1).toInt).toMap
    assert(run("") === Map(0 -> 2, 1 -> 0), "default (exact) branch")
    assert(run(""","approximate":true""") === Map(0 -> 2, 1 -> 2), "approximate branch")
  }

  test("MinHash-LSH groups near-duplicates and separates distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today") // 1-word change
    val distinct1 = "completely different content about spark catalyst optimizer internals and query planning"
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinct1))
      .toDF("doc_id", "text")
    val reps = TextOps.minhashDedup(numPerms = 16, shingleN = 3, bands = 8)(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(1L) === reps(2L), "near-duplicates not grouped")
    assert(reps(3L) === 3L, "distinct doc wrongly grouped")
  }

  test("connected-components dedup closes transitive near-dup chains") {
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    val b = a.replace("kappa", "kappax") // near A
    val c = b.replace("alpha", "alphax") // near B, further from A
    val d = "entirely different text talking about streaming watermarks and state stores"
    val docs = Seq((1L, a), (2L, b), (3L, c), (4L, d)).toDF("doc_id", "text")
    val reps = TextOps.minhashDedupCC(numPerms = 16, shingleN = 2, bands = 8)(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(1L) === 1L && reps(2L) === 1L && reps(3L) === 1L,
      s"chain not closed: $reps")
    assert(reps(4L) === 4L)
  }

  test("CC closure converges logarithmically on a planted 150-hop chain") {
    // doc_i ~ doc_{i+1} via band b_i and nothing else: a pure 150-hop
    // transitive chain. Pointer jumping must close it in O(log L) rounds;
    // the pre-fix one-band-hop-per-round propagation needed ~150.
    val chain = 150
    val edges = (0 until chain).flatMap { i =>
      Seq((i.toLong, s"b$i"), ((i + 1).toLong, s"b$i"))
    }.toDF("doc_id", "band")
    val reps = TextOps.ccFromEdges(edges, maxIters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps.size === chain + 1)
    assert(reps.values.forall(_ === 0L), s"chain not fully closed in 12 rounds")
  }

  test("CC closure fails loudly instead of silently truncating long chains") {
    val chain = 150
    val edges = (0 until chain).flatMap { i =>
      Seq((i.toLong, s"b$i"), ((i + 1).toLong, s"b$i"))
    }.toDF("doc_id", "band")
    val ex = intercept[IllegalArgumentException] {
      TextOps.ccFromEdges(edges, maxIters = 3).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("SimHash hamming distance small for near-dups, large for distinct") {
    val a = SimHash64.of("the quick brown fox jumps over the lazy dog every single day".split(" ").toSeq)
    val b = SimHash64.of("the quick brown fox jumps over the lazy cat every single day".split(" ").toSeq)
    val c = SimHash64.of("catalyst plans whole stage codegen for shuffle exchange reuse".split(" ").toSeq)
    assert(java.lang.Long.bitCount(a ^ b) < 16, s"near-dup hamming ${java.lang.Long.bitCount(a ^ b)}")
    assert(java.lang.Long.bitCount(a ^ c) > 16, s"distinct hamming ${java.lang.Long.bitCount(a ^ c)}")
  }

  test("LSH ANN finds most of brute-force top-k") {
    val dims = 16
    val vecs = spark.range(0, 2000).select(col("id").as("vec_id"),
      lit(0).as("label"),
      transform(sequence(lit(1), lit(dims)),
        d => sin(col("id") * d).cast(FloatType)).as("embedding"))
    val q = Array.tabulate(dims)(d => math.sin(500.0 * (d + 1)))
    val exact = AnnOps.cosineTopK(q, 10)(vecs).select("vec_id").as[Long].collect().toSet
    val approx = AnnOps.lshTopK(q, 10, planes = 4)(vecs).select("vec_id").as[Long].collect().toSet
    assert(exact.contains(500L), "query vector itself not in exact top-k")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("IVF ANN finds most of brute-force top-k; self always lands in its own probed list") {
    val dims = 16
    val vecs = spark.range(0, 2000).select(col("id").as("vec_id"),
      lit(0).as("label"),
      transform(sequence(lit(1), lit(dims)),
        d => sin(col("id") * d).cast(FloatType)).as("embedding"))
    val q = Array.tabulate(dims)(d => math.sin(500.0 * (d + 1)))
    val exact = AnnOps.cosineTopK(q, 10)(vecs).select("vec_id").as[Long].collect().toSet
    val approx = AnnOps.ivfTopK(q, 10, nLists = 8, nProbe = 4)(vecs)
      .select("vec_id").as[Long].collect().toSet
    // the query IS vector 500: its list is by construction among the
    // probed ones (argmax centroid of v = best centroid for q)
    assert(approx.contains(500L), "identical vector missed by IVF probing")
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall $recall too low")
  }

  test("embedding-cosine near-dup pairs found within LSH buckets") {
    val dims = 16
    // pairs of near-identical vectors + unrelated ones
    val base = spark.range(0, 500).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(dims)),
        d => sin(col("id") * d).cast(FloatType)).as("embedding"))
    val wiggled = spark.range(0, 500).select((col("id") + 1000).as("vec_id"),
      transform(sequence(lit(1), lit(dims)),
        d => (sin(col("id") * d) + lit(0.001) * d.cast(DoubleType)).cast(FloatType))
        .as("embedding"))
    val pairs = AnnOps.cosineNearDupPairs(planes = 4, dims = dims, threshold = 0.999)(
      base.unionByName(wiggled)).cache()
    val matched = pairs.filter(col("b_id") === col("a_id") + 1000).count()
    assert(matched >= 250, s"only $matched of 500 planted near-dups found")
    // every reported pair is a true near-dup (sim really >= threshold) —
    // sin-derived vectors legitimately contain coincidental near-dups, so
    // the check is on correctness of the reported similarity, not counts
    assert(pairs.filter(col("sim") < 0.999).count() === 0)
  }

  test("quantization round-trip within scale/2 and checked cast rejects overflow") {
    val pts = Faux.uniform(spark, Faux.Box3(-50, 0, 100, 950, 1000, 1100), 1000, seed = 3)
    val xf = Quantize.autoXForm(pts, Seq("x", "y", "z"))
    val rt = Quantize.dequantize(xf)(Quantize.quantize(xf)(pts).drop("x", "y", "z"))
    val err = rt.join(pts.withColumnsRenamed(Map("x" -> "x0", "y" -> "y0", "z" -> "z0")),
      Seq("doc_id", "span_idx"))
      .agg(max(abs(col("x") - col("x0"))), max(abs(col("y") - col("y0")))).head()
    assert(err.getDouble(0) <= xf("x").scale, "x round-trip error exceeds scale")
    // checked cast: value far out of int range must raise (reference
    // getFieldAs lossy-conversion throw, PointView.hpp:372-440)
    val boom = intercept[Exception] {
      Seq(1e15).toDF("v").select(Model.checkedCast(col("v"), IntegerType)).collect()
    }
    assert(boom.getMessage.contains("out of range") ||
      boom.getCause != null && boom.getCause.getMessage.contains("out of range"))
  }

  test("adaptive cell splitting bounds dense cells and keeps sparse cells coarse") {
    // dense blob in one corner + sparse background
    val dense = Faux.uniform(spark, Faux.Box3(0, 0, 0, 50, 50, 1), 20000, seed = 9, "dense")
    val sparse = Faux.uniform(spark, Faux.Box3(0, 0, 0, 1000, 1000, 1), 2000, seed = 10, "sparse")
    val df = dense.unionByName(sparse)
    val out = SkewOps.adaptiveCells(budget = 1000, baseLevel = 2, maxLevel = 10)(df).cache()
    val counts = out.groupBy("cell").count().cache()
    val over = counts.filter(col("count") > 1000)
      .filter((col("cell").bitwiseAND(lit(63L))) < 10) // non-max-level cells must respect budget
    assert(over.count() === 0, "non-max-level cell over budget")
    // mixed resolutions present: the dense corner went finer than base
    val levels = counts.select((col("cell").bitwiseAND(lit(63L))).as("lvl"))
      .distinct().collect().map(_.getLong(0)).toSet
    assert(levels.size > 1, s"no adaptive refinement happened: $levels")
    // determinism: a second run assigns identical cells
    val out2 = SkewOps.adaptiveCells(budget = 1000, baseLevel = 2, maxLevel = 10)(df)
    assert(out.select("doc_id", "span_idx", "cell")
      .exceptAll(out2.select("doc_id", "span_idx", "cell")).isEmpty)
  }

  test("distributed adaptive cells match the driver-histogram path and scale to deep ladders") {
    val dense = Faux.uniform(spark, Faux.Box3(0, 0, 0, 50, 50, 1), 20000, seed = 9, "dense")
    val sparse = Faux.uniform(spark, Faux.Box3(0, 0, 0, 1000, 1000, 1), 2000, seed = 10, "sparse")
    val df = dense.unionByName(sparse)
    // identical assignment to the collect-based path at moderate depth
    val driver = SkewOps.adaptiveCells(budget = 1000, baseLevel = 2, maxLevel = 8)(df)
      .select("doc_id", "span_idx", "cell")
    val dist = SkewOps.adaptiveCellsDistributed(budget = 1000, baseLevel = 2, maxLevel = 8)(df)
      .select("doc_id", "span_idx", "cell")
    assert(driver.exceptAll(dist).isEmpty && dist.exceptAll(driver).isEmpty)
    // deep ladder (maxLevel 14 routes through the distributed path via
    // adaptiveCells itself): budget respected below max level
    val deep = SkewOps.adaptiveCells(budget = 500, baseLevel = 2, maxLevel = 14)(df)
    val counts = deep.groupBy("cell").count()
    val over = counts.filter(col("count") > 500)
      .filter((col("cell").bitwiseAND(lit(63L))) < 14)
    assert(over.count() === 0, "non-max-level cell over budget in deep ladder")
    assert(deep.count() === 22000)
  }

  test("forward reprojections round-trip their inverses (UTM + LCC, via pipeline stages)") {
    // a lon/lat grid over UTM zone 10 / Oregon
    val geo = spark.range(0, 400).selectExpr(
      "cast(id as string) as doc_id", "cast(id as int) as span_idx",
      "cast(-124.0 + (id % 20) * 0.1 as double) as x",
      "cast(42.0 + cast(id / 20 as int) * 0.1 as double) as y",
      "cast(0.0 as double) as z")
    def maxErr(df: org.apache.spark.sql.DataFrame): Double = df
      .join(geo.select(col("span_idx"), col("x").as("x0"), col("y").as("y0")), "span_idx")
      .selectExpr("greatest(abs(x - x0), abs(y - y0)) as e")
      .agg(max("e")).head().getDouble(0)
    // geo -> utm -> geo (through the declarative stage strings)
    val utm = graft.plans.Pipeline.build(spark, graft.plans.Pipeline.parse(
      """{"pipeline":[{"type":"filters.reprojection","in_srs":"EPSG:4326","out_srs":"utm:10"}]}""")
      ._1.head)(Some(geo))
    val backUtm = Reproject.utmToGeo(10)(utm)
    assert(maxErr(backUtm) < 1e-9, s"UTM round trip err ${maxErr(backUtm)} deg")
    // geo -> LCC(ft) -> geo
    val lcc = graft.plans.Pipeline.build(spark, graft.plans.Pipeline.parse(
      """{"pipeline":[{"type":"filters.reprojection","in_srs":"EPSG:4326","out_srs":"lcc:oregon-ft"}]}""")
      ._1.head)(Some(geo))
    val backLcc = Reproject.lccToGeo(Proj.OregonLambertFeet)(lcc)
    assert(maxErr(backLcc) < 1e-9, s"LCC round trip err ${maxErr(backLcc)} deg")
    // any-to-any composition through geographic: utm:10 -> EPSG:3857
    // equals the two-leg composition, and round-trips back
    val composed = Reproject.transform("utm:10", "EPSG:3857")(utm)
    val twoLeg = Reproject.geoToWebMercator(Reproject.utmToGeo(10)(utm))
    assert(composed.select("span_idx", "x", "y")
      .exceptAll(twoLeg.select("span_idx", "x", "y")).isEmpty)
    val back = Reproject.transform("EPSG:3857", "EPSG:4326")(composed)
    assert(maxErr(back) < 1e-9, s"composed round trip err ${maxErr(back)} deg")
  }

  test("unsupported datums fail loudly and NAD27 EPSG codes never map to the registry") {
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Reproject.transform("nad27:utm:15", "EPSG:4326")
    }
    assert(ex.getMessage.contains("datum shifts") && ex.getMessage.contains("known:"))
    // NAD27 UTM zones (267xx) and NAD27 geographic (4267) are not
    // silently approximated — SRS inference returns None for them
    assert(graft.sources.LasDecode.registrySrsForEpsg(26715) === None)
    assert(graft.sources.LasDecode.registrySrsForEpsg(4267) === None)
    // NAD83 (coincident with WGS84 to <2 m) IS mapped
    assert(graft.sources.LasDecode.registrySrsForEpsg(26915) === Some("utm:15"))
    assert(graft.sources.LasDecode.registrySrsForEpsg(4269) === Some("EPSG:4326"))
  }

  test("salted aggregation equals direct aggregation") {
    val df = Faux.uniform(spark, Faux.Box3(0, 0, 0, 100, 100, 100), 5000, seed = 21)
    // double sums are compared rounded: a salted (two-stage) aggregation
    // legitimately adds in a different order than a direct one
    val direct = df.groupBy(floor(col("x") / 10).as("k"))
      .agg(count(lit(1)).as("n"), round(sum("z"), 5).as("s"))
    val salted = SkewOps.saltedAgg(Seq(floor(col("x") / 10).as("k")), 8,
      Seq(count(lit(1)).as("pn"), sum("z").as("ps")),
      Seq(sum("pn").as("n"), round(sum("ps"), 5).as("s")))(df)
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty)
  }

  test("chipper chips stay at or under capacity, ceil(n / cap) of them") {
    val pts = Faux.uniform(spark, Faux.Box3(0, 0, 0, 1000, 1000, 1), 60000, seed = 17)
    val t0 = System.nanoTime()
    val chips = TileOps.chipper(4000)(pts)
      .groupBy("chip").count().collect().map(_.getLong(1))
    val secs = (System.nanoTime() - t0) / 1e9
    assert(chips.sum === 60000L)
    assert(chips.max <= 4000, s"max chip ${chips.max}")
    assert(chips.length === 15, s"${chips.length} chips")
    info(f"chipper: ${chips.length} chips in $secs%.1fs")
  }

  test("hexbin boundary covers the data blob and excludes far space") {
    val blob = Faux.uniform(spark, Faux.Box3(400, 400, 0, 600, 600, 1), 5000, seed = 33)
    val density = TileOps.hexDensity(25.0)(blob)
    val wkt = HexBoundary.boundaryWkt(density, 25.0)
    val geom = graft.index.PolygonCover.fromWkt(wkt)
    assert(geom.isValid && !geom.isEmpty)
    val gf = new org.locationtech.jts.geom.GeometryFactory()
    assert(geom.covers(gf.createPoint(new org.locationtech.jts.geom.Coordinate(500, 500))))
    assert(!geom.covers(gf.createPoint(new org.locationtech.jts.geom.Coordinate(100, 100))))
  }

  test("hexbin boundary reproduces the reference fixture (HexbinFilterTest + hexbin.txt)") {
    // hextest.las (8 points), edge_length 0.666666666, threshold 1 ->
    // the exact MULTIPOLYGON in test/data/filters/hexbin.txt (7 hexes).
    // This pins the hex-grid convention (flat-top, lower-left-vertex
    // lattice at the origin) against the reference's own output.
    val pts = graft.sources.LasDecode.asDataFrame(spark, s"$RefData/las/hextest.las")
    val density = TileOps.hexDensity(0.666666666)(pts)
    assert(density.count() === 7L)
    val ours = graft.index.PolygonCover.fromWkt(
      HexBoundary.boundaryWkt(density, 0.666666666, minDensity = 1)) // fixture threshold 1
    val fixtureWkt = scala.io.Source.fromFile(s"$RefData/filters/hexbin.txt")
      .getLines().next().split(" : ", 2)(1)
    val fixture = graft.index.PolygonCover.fromWkt(fixtureWkt)
    // geometric equality (vertex ORDER/tracing differ; hexer prints 8
    // decimals, so compare by symmetric difference, not text)
    val sym = ours.symDifference(fixture).getArea
    assert(sym < 1e-6, s"boundary mismatch, symmetric-difference area $sym\nours: $ours")
  }

  test("UDF surface: typed predicate and programmable transform") {
    import UdfSurface.Point
    val ds = Faux.ramp(spark, Faux.Box3(0, 0, 0, 10, 10, 10), 11)
      .select(col("doc_id"), col("span_idx"), col("x"), col("y"), col("z"))
      .as[Point]
    val kept = UdfSurface.predicate(p => p.z >= 4 && p.z <= 6)(ds)
    assert(kept.collect().map(_.z).sorted.toSeq === Seq(4.0, 5.0, 6.0))
    val moved = UdfSurface.programmable(p => p.copy(x = p.x + 100))(ds)
    assert(moved.agg(min("x")).head().getDouble(0) === 100.0)
    val extra = UdfSurface.addDims(ds.toDF(),
      (x, y, _) => (x + y, x * y), ("sum_xy", "prod_xy"))
    assert(extra.columns.contains("sum_xy") && extra.columns.contains("prod_xy"))
    assert(extra.filter(col("sum_xy") =!= col("x") + col("y")).count() === 0)
  }

  test("predicate goldens on the 1000-point ramp (PredicateFilterTest.cpp:48-105,246-300)") {
    import UdfSurface.Point
    val ds = Faux.ramp(spark, Faux.Box3(0, 0, 0, 2, 2, 2), 1000)
      .select(col("doc_id"), col("span_idx"), col("x"), col("y"), col("z"))
      .as[Point]
    // test4: Y > 0.5 keeps exactly 750 of 1000
    assert(UdfSurface.predicate(_.y > 0.5)(ds).count() === 750L)
    // test1: X < 1.0 — surviving stats min ~0, max ~1.0 (tol 0.01)
    val s1 = UdfSurface.predicate(_.x < 1.0)(ds)
      .agg(min("x"), max("x"), min("y"), max("y"), min("z"), max("z")).head()
    assert(math.abs(s1.getDouble(0) - 0.0) < 0.01 && math.abs(s1.getDouble(1) - 1.0) < 0.01)
    assert(math.abs(s1.getDouble(3) - 1.0) < 0.01 && math.abs(s1.getDouble(5) - 1.0) < 0.01)
    // test3: chained predicates (X < 1.0 then Y > 0.5) compose like the
    // reference's two-stage pipeline: y in (0.5, 1.0-ish]
    val s3 = UdfSurface.predicate(_.y > 0.5)(UdfSurface.predicate(_.x < 1.0)(ds))
      .agg(min("y"), max("y"), count(lit(1))).head()
    assert(s3.getDouble(0) > 0.5 && math.abs(s3.getDouble(1) - 1.0) < 0.01)
    assert(s3.getLong(2) === 250L) // ramp: quarter of the box survives both
  }

  test("columnar (dim-major) payload encoding decodes to the same point frame") {
    val docs = graft.sources.DocSynth.cachedDocs(spark, "/root/testdata/sf0.001")
    val rowMajor = Model.explodePoints(docs)
    val columnar = Model.toColumnar(docs)
    val decoded = Model.explodePointsColumnar(columnar)
    assert(decoded.exceptAll(rowMajor).isEmpty && rowMajor.exceptAll(decoded).isEmpty)
    // non-point spans survive the re-layout untouched
    val nonPoint = (d: org.apache.spark.sql.DataFrame) => Model.spanSignature(d)
      .select(col("doc_id"), concat_ws("|",
        filter(split(col("sig"), "\\|"),
          s => !s.startsWith("point"))).as("np"))
    assert(nonPoint(columnar).exceptAll(nonPoint(docs)).isEmpty)
  }

  test("byte-major payload encoding (BPF third layout) decodes to the same point frame") {
    val docs = graft.sources.DocSynth.cachedDocs(spark, "/root/testdata/sf0.001")
    val rowMajor = Model.explodePoints(docs)
    val byteMajor = Model.toByteMajor(docs)
    val decoded = Model.explodePointsByteMajor(byteMajor)
    assert(decoded.exceptAll(rowMajor).isEmpty && rowMajor.exceptAll(decoded).isEmpty)
  }

  test("SQL extension functions register and evaluate from SQL text") {
    graft.functions.GraftExtensions.registerTemp(spark)
    val r = spark.sql(
      """SELECT morton_key(1.5D, 2.5D) AS mk,
        |       cell_id(1.5D, 2.5D, 10) AS cid,
        |       st_contains_xy('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', 5.0D, 5.0D) AS inside,
        |       st_contains_xy('POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))', 50.0D, 5.0D) AS outside,
        |       simhash64(array('a', 'b')) AS sh,
        |       neighbor_cells(cell_id(500.0D, 500.0D, 4)) AS nbrs,
        |       dot_self(array(cast(3.0 as float), cast(4.0 as float))) AS d2,
        |       dot_arrays(array(cast(1.0 as float), cast(2.0 as float)),
        |                  array(cast(3.0 as float), cast(4.0 as float))) AS dp""".stripMargin).head()
    val sp = graft.index.CellSpace.default
    assert(r.getAs[Long]("mk") ===
      graft.index.Morton.interleave(sp.ixAt(1.5), sp.iyAt(2.5)))
    assert(r.getAs[Long]("cid") === sp.cellAt(1.5, 2.5, 10))
    assert(r.getAs[Boolean]("inside") && !r.getAs[Boolean]("outside"))
    assert(r.getAs[Long]("sh") === graft.operators.SimHash64.of(Seq("a", "b")))
    assert(r.getSeq[Long](r.fieldIndex("nbrs")).toSet ===
      sp.neighborhood(sp.cellAt(500.0, 500.0, 4)).toSet)
    assert(r.getAs[Double]("d2") === 25.0)
    assert(r.getAs[Double]("dp") === 11.0)
  }

  test("type widening lattice matches the reference resolution rules") {
    assert(Model.widen(ShortType, IntegerType) === IntegerType)
    assert(Model.widen(LongType, FloatType) === DoubleType)
    assert(Model.widen(FloatType, DoubleType) === DoubleType)
    assert(Model.widen(ByteType, ByteType) === ByteType)
  }

  test("knnAutoLevel tracks candidate density and k") {
    // denser candidates -> finer grid; larger k -> coarser grid
    assert(JoinOps.knnAutoLevel(0, 1) === 0)
    assert(JoinOps.knnAutoLevel(100, 4) <= JoinOps.knnAutoLevel(100000, 4))
    assert(JoinOps.knnAutoLevel(100000, 64) <= JoinOps.knnAutoLevel(100000, 4))
    // never beyond the clamp, even at absurd densities
    assert(JoinOps.knnAutoLevel(Long.MaxValue / 4, 1) === 12)
    // the sf0.1 SOR shape (~32k candidates, k=4) picks a usefully finer
    // grid than the old hardcoded level 4
    val l = JoinOps.knnAutoLevel(31500, 4)
    assert(l >= 5 && l <= 8, s"unexpected auto level $l")
  }

  test("AutoLevel start produces the exact same results as a fixed start") {
    // exactness is certificate-guaranteed at ANY start level, so auto
    // level selection must be invisible in the output — only the plan
    // (ring fan-out size, escalation rounds) may differ
    val pts = Faux.uniform(spark, Faux.Box3(0, 0, 0, 600, 600, 30), 900, seed = 17)
    def sorKept(level: Int): Set[(String, Int)] =
      JoinOps.statisticalOutlierRemoval(k = 4, multThresh = 1.0, level = level)(pts)
        .select("doc_id", "span_idx").collect()
        .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(sorKept(JoinOps.AutoLevel) === sorKept(4))
    val cand = Faux.uniform(spark, Faux.Box3(0, 0, 0, 600, 600, 30), 400, seed = 18, "cand")
    def deltas(level: Int): Set[(Int, Double, Double, Double)] =
      JoinOps.delta(pts.limit(200), cand, level = level)
        .select("span_idx", "dx", "dy", "dz").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(deltas(JoinOps.AutoLevel) === deltas(5))
  }
}
