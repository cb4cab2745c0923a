package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`embeddings` table:
  * vec_id, embedding array<float>, label).
  *
  *  - brute-force cosine top-k: the exactness baseline; one scan, one
  *    TakeOrdered — no shuffle of the full table.
  *  - LSH-bucketed variant: sign-random-hyperplane buckets; at scale the
  *    bucket column is the partition key so a query probes one bucket
  *    (plus Hamming-1 neighbors) instead of the full table.
  *
  * Dot products run through a codegen'd expression against a broadcast
  * query vector (no per-row array boxing via higher-order functions on
  * the hot path).
  */
object AnnOps {

  /** Deterministic pseudo-random hyperplane weight for (plane p, dim d):
    * +1 / -1 from one md5 byte — reproducible anywhere md5 exists. */
  def planeWeight(p: Int, d: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"$p:$d".getBytes("UTF-8"))
    if ((h(0) & 1) == 0) 1 else -1
  }

  /** Codegen'd dot product of a float-array column with a constant
    * double vector. */
  case class DotConst(child: Expression, q: Array[Double])
      extends UnaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_const"
    override protected def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      val n = math.min(arr.numElements(), q.length)
      var s = 0.0; var i = 0
      while (i < n) { s += arr.getFloat(i).toDouble * q(i); i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val qv = ctx.addReferenceObj("q", q, "double[]")
      // Locals go through freshName: two dot expressions fused into one
      // generated function would otherwise redefine `n`/`s`/`i` and kill
      // whole-stage codegen (Janino "Redefinition of local variable").
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      nullSafeCodeGen(ctx, ev, c =>
        s"""int $n = Math.min($c.numElements(), $qv.length);
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) $s += ((double) $c.getFloat($i)) * $qv[$i];
           |${ev.value} = $s;""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def dotConst(c: Column, q: Array[Double]): Column =
    ExpressionUtils.column(DotConst(ExpressionUtils.expression(c), q))

  /** Codegen'd sum of squares of a float-array column (norm² without the
    * per-element HOF boxing). Same left-to-right summation order as the
    * HOF fold and a SQL engine's list_dot_product(v, v). */
  case class DotSelf(child: Expression) extends UnaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_self"
    override protected def nullSafeEval(v: Any): Any = {
      val arr = v.asInstanceOf[ArrayData]
      var s = 0.0; var i = 0; val n = arr.numElements()
      while (i < n) { val x = arr.getFloat(i).toDouble; s += x * x; i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val s = ctx.freshName("s"); val i = ctx.freshName("i"); val x = ctx.freshName("x")
      nullSafeCodeGen(ctx, ev, c =>
        s"""double $s = 0.0;
           |for (int $i = 0; $i < $c.numElements(); $i++) {
           |  double $x = (double) $c.getFloat($i); $s += $x * $x;
           |}
           |${ev.value} = $s;""".stripMargin)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Codegen'd dot product of two float-array columns (the bucket-local
    * near-dup pair hot path). */
  case class DotArrays(left: Expression, right: Expression)
      extends BinaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "dot_arrays"
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0.0; var i = 0
      while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
      s
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val n = ctx.freshName("n"); val s = ctx.freshName("s"); val i = ctx.freshName("i")
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"""int $n = Math.min($a.numElements(), $b.numElements());
           |double $s = 0.0;
           |for (int $i = 0; $i < $n; $i++) $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
           |${ev.value} = $s;""".stripMargin)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def norm2(a: Column): Column = ExpressionUtils.column(DotSelf(ExpressionUtils.expression(a)))
  def norm(a: Column): Column = sqrt(norm2(a))
  def dotPair(a: Column, b: Column): Column =
    ExpressionUtils.column(DotArrays(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Brute-force cosine top-k against a constant query vector.
    * Plan: scan -> project sim -> TakeOrderedAndProject(k) — fully
    * distributed partial top-k, no shuffle of the table. All dot products
    * are codegen'd (DotConst/DotSelf). */
  def cosineTopK(query: Array[Double], k: Int)(df: DataFrame): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val dot = dotConst(col("embedding"), query)
    df.select(col("vec_id"), col("label"),
      (dot / greatest(norm(col("embedding")) * lit(qn), lit(java.lang.Double.MIN_VALUE))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** LSH bucket id: `planes` sign bits of hyperplane dot products —
    * codegen'd per-plane dots (bulk bucket assignment is the ingest-time
    * hot path at scale). */
  def lshBucket(planes: Int, dims: Int)(v: Column): Column = {
    val bits = (0 until planes).map { p =>
      val w = Array.tabulate(dims)(d => planeWeight(p, d).toDouble)
      when(dotConst(v, w) >= 0, lit(1L << p)).otherwise(lit(0L))
    }
    bits.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** LSH-bucketed ANN: probe the query's bucket and all Hamming-1
    * neighbor buckets, exact-rerank the candidates. Recall is tunable by
    * planes (fewer planes = bigger buckets); candidates << table size is
    * the scale win. */
  def lshTopK(query: Array[Double], k: Int, planes: Int = 8)
             (df: DataFrame): DataFrame = {
    val dims = query.length
    val qBits = (0 until planes).map { p =>
      val w = Array.tabulate(dims)(d => planeWeight(p, d).toDouble)
      val dot = (0 until dims).map(d => query(d) * w(d)).sum
      if (dot >= 0) 1L << p else 0L
    }.reduce(_ | _)
    val probes = qBits +: (0 until planes).map(p => qBits ^ (1L << p))
    val qn = math.sqrt(query.map(x => x * x).sum)
    df.withColumn("bucket", lshBucket(planes, dims)(col("embedding")))
      .filter(col("bucket").isin(probes: _*))
      .select(col("vec_id"), col("label"), col("bucket"),
        (dotConst(col("embedding"), query) / greatest(norm(col("embedding")) * lit(qn), lit(java.lang.Double.MIN_VALUE))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Codegen'd argmax over dot products with a constant centroid matrix:
    * returns the index (ties -> lowest) of the centroid with the largest
    * dot product — the IVF coarse-quantizer assignment, one pass over
    * the embedding per row. */
  case class ArgMaxDots(child: Expression, cents: Array[Array[Double]])
      extends UnaryExpression with Serializable {
    override def dataType: DataType = IntegerType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "argmax_dots"
    override protected def nullSafeEval(v: Any): Any =
      AnnOps.argMaxDots(v.asInstanceOf[ArrayData], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cs = ctx.addReferenceObj("cents", cents, "double[][]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.operators.AnnOps.argMaxDots($c, $cs);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  def argMaxDots(arr: ArrayData, cents: Array[Array[Double]]): Int = {
    var best = 0; var bestDot = Double.NegativeInfinity
    var ci = 0
    while (ci < cents.length) {
      val c = cents(ci)
      val n = math.min(arr.numElements(), c.length)
      var s = 0.0; var i = 0
      while (i < n) { s += arr.getFloat(i).toDouble * c(i); i += 1 }
      if (s > bestDot) { bestDot = s; best = ci }
      ci += 1
    }
    best
  }

  /** IVF (inverted-file) ANN. Coarse quantizer: the first `nLists`
    * vectors by vec_id, L2-normalized, as deterministic seed centroids
    * (at 100 TB you'd k-means-refine them; the LIST/probe machinery —
    * the scale-bearing part — is identical, and determinism keeps the
    * oracle exact). Every vector joins the list of its max-cosine
    * centroid; `list` is the partition/cluster key at scale, so a query
    * touches nProbe lists instead of the table. */
  def ivfListAssign(nLists: Int)(df: DataFrame): DataFrame =
    ivfAssignWith(ivfCentroids(df, nLists))(df)

  private def ivfAssignWith(cents: Array[Array[Double]])(df: DataFrame): DataFrame =
    df.withColumn("list",
      ExpressionUtils.column(ArgMaxDots(ExpressionUtils.expression(col("embedding")), cents)))

  /** Deterministic seed centroids: first `nLists` embeddings by vec_id,
    * L2-normalized (so argmax dot = argmax cosine). Driver-side — tiny. */
  def ivfCentroids(df: DataFrame, nLists: Int): Array[Array[Double]] =
    df.select(col("vec_id"), col("embedding")).orderBy(col("vec_id")).limit(nLists)
      .collect().map { r =>
        val e = r.getSeq[Float](1).map(_.toDouble).toArray
        val n = math.sqrt(e.map(x => x * x).sum)
        e.map(_ / math.max(n, java.lang.Double.MIN_VALUE))
      }

  /** Deterministic Lloyd refinement of the seed centroids: `iters`
    * rounds of assign -> mean -> L2-normalize, with the mean computed in
    * EXACT integer space — each component quantized to 1e-6
    * (floor(v*1e6 + 0.5)) and summed as BIGINT, which is order-free, so
    * the refined centroids are bit-identical across partitionings AND
    * mirrorable in an independent SQL oracle (the classic
    * floating-point-mean nondeterminism never enters). Per round: one
    * assignment pass + one (list, pos) hash aggregate; the update is
    * nLists x dims rows — driver-tiny at any data scale. Lists that end
    * a round empty keep their previous centroid. */
  def ivfKMeansCentroids(df: DataFrame, nLists: Int, iters: Int): Array[Array[Double]] = {
    val Q = 1000000.0
    var cents = ivfCentroids(df, nLists)
    var it = 0
    while (it < iters) {
      val upd = ivfAssignWith(cents)(df)
        .select(col("list"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("list"), col("pos"))
        .agg(sum(floor(col("v").cast(DoubleType) * Q + lit(0.5)).cast(LongType)).as("s"),
          count(lit(1)).as("n"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, ci) =>
        upd.get(ci) match {
          case Some(rows) =>
            val comp = new Array[Double](old.length)
            rows.foreach { r =>
              comp(r.getInt(1)) = (r.getLong(2).toDouble / r.getLong(3)) / Q
            }
            val nrm = math.sqrt(comp.map(x => x * x).sum)
            comp.map(_ / math.max(nrm, java.lang.Double.MIN_VALUE))
          case None => old
        }
      }
      it += 1
    }
    cents
  }

  /** Probe `nProbe` best lists of an assigned frame with an exact cosine
    * rerank — shared by the in-memory and stored-layout paths. */
  private def ivfProbe(cents: Array[Array[Double]], query: Array[Double],
                       k: Int, nProbe: Int)(assigned: DataFrame): DataFrame = {
    val qDots = cents.map(c => c.zip(query).map { case (a, b) => a * b }.sum)
    val probes = qDots.zipWithIndex.sortBy { case (d, i) => (-d, i) }
      .take(nProbe).map(_._2)
    val qn = math.sqrt(query.map(x => x * x).sum)
    assigned
      .filter(col("list").isin(probes.toSeq: _*))
      .select(col("vec_id"), col("label"), col("list").cast(IntegerType).as("list"),
        (dotConst(col("embedding"), query) /
          greatest(norm(col("embedding")) * lit(qn), lit(java.lang.Double.MIN_VALUE))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** IVF top-k: probe the `nProbe` lists whose centroids best match the
    * query, exact cosine rerank within them. */
  def ivfTopK(query: Array[Double], k: Int, nLists: Int, nProbe: Int)
             (df: DataFrame): DataFrame = {
    val cents = ivfCentroids(df, nLists)
    ivfProbe(cents, query, k, nProbe)(ivfAssignWith(cents)(df))
  }

  /** The IVF STORED layout end-to-end: k-means-refined centroids, the
    * assigned table written partitioned by `list` (each list = one
    * physical partition — the on-disk layout a 100 TB vector store
    * needs), then the probe run COLD against the stored table, where
    * `list IN (probes)` is a partition filter: only nProbe/nLists of the
    * data is read (pruning is plan-gated in PlanQualitySpec). */
  def ivfStoredTopK(query: Array[Double], k: Int, nLists: Int, nProbe: Int,
                    kmeansIters: Int, storageDir: String)(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val cents =
      if (kmeansIters > 0) ivfKMeansCentroids(df, nLists, kmeansIters)
      else ivfCentroids(df, nLists)
    ivfAssignWith(cents)(df)
      .write.mode("overwrite").partitionBy("list").parquet(storageDir)
    ivfProbe(cents, query, k, nProbe)(spark.read.parquet(storageDir))
  }

  // ---- IVF-PQ: product-quantized residual codes over the stored layout --

  /** Residual of an embedding against its list's (normalized) coarse
    * centroid: r[j] = emb[j] - cent[list][j], all in double. */
  def residual(arr: ArrayData, list: Int, cents: Array[Array[Double]]): ArrayData = {
    val c = cents(list)
    val out = new Array[Double](c.length)
    var j = 0
    while (j < c.length) { out(j) = arr.getFloat(j).toDouble - c(j); j += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class ResidualExpr(left: Expression, right: Expression,
                          cents: Array[Array[Double]])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "ivf_residual"
    override protected def nullSafeEval(v: Any, l: Any): Any =
      residual(v.asInstanceOf[ArrayData], l.asInstanceOf[Int], cents)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cs = ctx.addReferenceObj("cents", cents, "double[][]")
      nullSafeCodeGen(ctx, ev, (e, l) =>
        s"${ev.value} = graft.operators.AnnOps.residual($e, $l, $cs);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** PQ encode: per subspace m (dsub dims of the residual), the index of
    * the codebook entry with the smallest L2 distance (strict <, ties ->
    * lowest index — the first-wins argmin the SQL oracle mirrors). */
  def pqEncode(arr: ArrayData, list: Int, cents: Array[Array[Double]],
               cbs: Array[Array[Array[Double]]]): ArrayData = {
    val c = cents(list)
    val m = cbs.length
    val dsub = cbs(0)(0).length
    val out = new Array[Short](m)
    var mi = 0
    while (mi < m) {
      val cb = cbs(mi)
      var best = 0; var bd = Double.PositiveInfinity
      var ki = 0
      while (ki < cb.length) {
        val cv = cb(ki)
        var s = 0.0; var j = 0
        while (j < dsub) {
          val d = (arr.getFloat(mi * dsub + j).toDouble - c(mi * dsub + j)) - cv(j)
          s += d * d; j += 1
        }
        if (s < bd) { bd = s; best = ki }
        ki += 1
      }
      out(mi) = best.toShort
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  case class PqEncodeExpr(left: Expression, right: Expression,
                          cents: Array[Array[Double]],
                          cbs: Array[Array[Array[Double]]])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = ArrayType(ShortType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_encode"
    override protected def nullSafeEval(v: Any, l: Any): Any =
      pqEncode(v.asInstanceOf[ArrayData], l.asInstanceOf[Int], cents, cbs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val cs = ctx.addReferenceObj("cents", cents, "double[][]")
      val bs = ctx.addReferenceObj("cbs", cbs, "double[][][]")
      nullSafeCodeGen(ctx, ev, (e, l) =>
        s"${ev.value} = graft.operators.AnnOps.pqEncode($e, $l, $cs, $bs);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Asymmetric-distance (ADC) score: sum over subspaces, in subspace
    * order, of the precomputed per-list LUT entry for the row's code —
    * the PQ scan touches only the code bytes, never the float vector. */
  def pqAdc(codes: ArrayData, list: Int, lut: Array[Array[Array[Double]]]): Double = {
    val l = lut(list)
    var s = 0.0; var m = 0
    while (m < l.length) { s += l(m)(codes.getShort(m).toInt); m += 1 }
    s
  }

  case class PqAdcExpr(left: Expression, right: Expression,
                       lut: Array[Array[Array[Double]]])
      extends BinaryExpression with Serializable {
    override def dataType: DataType = DoubleType
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "pq_adc"
    override protected def nullSafeEval(c: Any, l: Any): Any =
      pqAdc(c.asInstanceOf[ArrayData], l.asInstanceOf[Int], lut)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lt = ctx.addReferenceObj("lut", lut, "double[][][]")
      nullSafeCodeGen(ctx, ev, (c, l) =>
        s"${ev.value} = graft.operators.AnnOps.pqAdc($c, $l, $lt);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** PQ codebook seeds: the residual subvectors of the first `k` vectors
    * by vec_id (deterministic, like [[ivfCentroids]]) — cbs(m)(ki) is a
    * dsub-dim L2 codeword. Driver-side, k rows. */
  def pqSeedCodebooks(df: DataFrame, cents: Array[Array[Double]],
                      m: Int, k: Int): Array[Array[Array[Double]]] = {
    val dims = cents(0).length
    val dsub = dims / m
    val firsts = df.select(col("vec_id"), col("embedding"))
      .orderBy(col("vec_id")).limit(k).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    Array.tabulate(m) { mi =>
      firsts.map { e =>
        // assign to its coarse list exactly like ArgMaxDots (first-wins)
        var best = 0; var bd = Double.NegativeInfinity
        var ci = 0
        while (ci < cents.length) {
          var s = 0.0; var j = 0
          while (j < dims) { s += e(j) * cents(ci)(j); j += 1 }
          if (s > bd) { bd = s; best = ci }
          ci += 1
        }
        Array.tabulate(dsub)(j => e(mi * dsub + j) - cents(best)(mi * dsub + j))
      }
    }
  }

  /** One integer-exact Lloyd round over the PQ codebooks: every residual
    * subvector is assigned to its nearest seed codeword, then each
    * codeword moves to the member mean computed in EXACT integer space
    * (components quantized to 1e-6, summed as BIGINT — order-free, so
    * Spark's partial aggregation and a single-threaded SQL oracle agree
    * bit-for-bit). Empty codewords keep their seed. The update is
    * m x k x dsub rows — driver-tiny at any scale. */
  def pqTrainCodebooks(assigned: DataFrame, cents: Array[Array[Double]],
                       m: Int, k: Int): Array[Array[Array[Double]]] = {
    val seeds = pqSeedCodebooks(assigned, cents, m, k)
    val dsub = cents(0).length / m
    val Q = 1000000.0
    val res = ExpressionUtils.column(ResidualExpr(
      ExpressionUtils.expression(col("embedding")),
      ExpressionUtils.expression(col("list")), cents))
    val codes0 = ExpressionUtils.column(PqEncodeExpr(
      ExpressionUtils.expression(col("embedding")),
      ExpressionUtils.expression(col("list")), cents, seeds))
    val upd = assigned
      .select(res.as("r"), posexplode(codes0).as(Seq("m", "ki")))
      .select(col("m"), col("ki"),
        posexplode(slice(col("r"), col("m") * lit(dsub) + lit(1), lit(dsub)))
          .as(Seq("j", "v")))
      .groupBy(col("m"), col("ki"), col("j"))
      .agg(sum(floor(col("v") * Q + lit(0.5)).cast(LongType)).as("s"),
        count(lit(1)).as("n"))
      .collect()
    val cbs = seeds.map(_.map(_.clone()))
    upd.foreach { r =>
      // ki comes back SHORT (posexplode of the array<short> codes)
      cbs(r.getInt(0))(r.getAs[Number](1).intValue())(r.getInt(2)) =
        (r.getLong(3).toDouble / r.getLong(4)) / Q
    }
    cbs
  }

  /** IVF-PQ over the STORED layout: coarse seed centroids; PQ codebooks
    * trained with one integer-exact Lloyd round on the residuals; the
    * table written list-partitioned with an `codes` array<short> column;
    * the probe scans ONLY (vec_id, list, codes) of the nProbe pruned
    * partitions — at 100 TB that is m bytes per vector instead of 4*dims
    * (the column-pruned ADC scan is the whole point of PQ); the top
    * `nCand` ADC candidates (ties -> vec_id) are then exact-reranked by
    * one broadcast join back to the store for their float vectors. */
  def ivfPqStoredTopK(query: Array[Double], k: Int, nLists: Int, nProbe: Int,
                      m: Int, codebookK: Int, nCand: Int, storageDir: String)
                     (df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val dims = query.length
    val dsub = dims / m
    val cents = ivfCentroids(df, nLists)
    val assigned = ivfAssignWith(cents)(df)
    val cbs = pqTrainCodebooks(assigned, cents, m, codebookK)
    val codes = ExpressionUtils.column(PqEncodeExpr(
      ExpressionUtils.expression(col("embedding")),
      ExpressionUtils.expression(col("list")), cents, cbs))
    assigned.select(col("vec_id"), col("label"), col("embedding"),
        codes.as("codes"), col("list"))
      .write.mode("overwrite").partitionBy("list").parquet(storageDir)

    val qDots = cents.map(c => c.zip(query).map { case (a, b) => a * b }.sum)
    val probes = qDots.zipWithIndex.sortBy { case (d, i) => (-d, i) }
      .take(nProbe).map(_._2)
    // per-list ADC LUT (unprobed lists left null — filtered before use)
    val lut = new Array[Array[Array[Double]]](nLists)
    probes.foreach { l =>
      val qr = Array.tabulate(dims)(j => query(j) - cents(l)(j))
      lut(l) = Array.tabulate(m) { mi =>
        Array.tabulate(codebookK) { ki =>
          var s = 0.0; var j = 0
          while (j < dsub) {
            val d = qr(mi * dsub + j) - cbs(mi)(ki)(j); s += d * d; j += 1
          }
          s
        }
      }
    }
    val stored = spark.read.parquet(storageDir)
    val probed = stored.filter(col("list").isin(probes.toSeq: _*))
    val adc = ExpressionUtils.column(PqAdcExpr(
      ExpressionUtils.expression(col("codes")),
      ExpressionUtils.expression(col("list").cast(IntegerType)), lut))
    val cand = probed
      .select(col("vec_id"), col("list").cast(IntegerType).as("list"),
        adc.as("adist"))
      .orderBy(col("adist"), col("vec_id"))
      .limit(nCand)
    val qn = math.sqrt(query.map(x => x * x).sum)
    val fetch = probed.select(col("vec_id"), col("label"), col("embedding"))
    broadcast(cand).join(fetch, "vec_id")
      .select(col("vec_id"), col("label"), col("list"),
        (dotConst(col("embedding"), query) /
          greatest(norm(col("embedding")) * lit(qn), lit(java.lang.Double.MIN_VALUE))).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(k)
  }

  /** Embedding-cosine near-duplicate pairs within LSH buckets: self-join
    * each bucket (plus nothing else — the bucket IS the blocking key),
    * keep pairs with cosine above threshold. */
  def cosineNearDupPairs(planes: Int, dims: Int, threshold: Double)
                        (df: DataFrame): DataFrame = {
    val b = df.select(col("vec_id"), col("embedding"))
      .withColumn("bucket", lshBucket(planes, dims)(col("embedding")))
      .withColumn("nrm", norm(col("embedding")))
    val l = b.select(col("bucket"), col("vec_id").as("a_id"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val r = b.select(col("bucket"), col("vec_id").as("b_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    l.join(r, "bucket")
      .filter(col("a_id") < col("b_id"))
      .withColumn("sim",
        dotPair(col("ea"), col("eb")) / greatest(col("na") * col("nb"), lit(java.lang.Double.MIN_VALUE)))
      .filter(col("sim") >= threshold)
      .select(col("a_id"), col("b_id"), col("sim"))
  }
}
