package graft.operators

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis & deduplication operators for the training-data
  * pipeline, over the `documents` table (doc_id, text, lang, source,
  * n_chars). All pure Catalyst (builtins + higher-order functions); the
  * cross-engine determinism anchor is md5 (identical in Spark and any
  * SQL oracle), so every hash-derived result is bit-reproducible.
  *
  * Word extraction is `[a-z]+` over lowercased text everywhere — chosen
  * because its semantics are identical across regex engines (Java, RE2).
  */
object TextOps {

  val wordsCol: Column = expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
  /** SQL twin (DuckDB regexp_extract_all has no group arg default 0). */
  val wordsSql = "regexp_extract_all(lower(text), '[a-z]+')"

  // ---- rolling-hash document fingerprints -------------------------------

  /** Rabin-style content-defined fingerprint parameters: k-gram
    * polynomial hash base/modulus chosen so every intermediate fits an
    * int64 EXACTLY (max codepoint * B^(k-1) * k < 2^63) — plain integer
    * arithmetic, bit-identical in any engine. Selection keeps hashes
    * ≡ 0 (mod SelP): the LBFS/CDC sampling rule — positions are chosen
    * by CONTENT, so insertions shift but don't re-sample the whole doc
    * (the property that makes the fingerprints usable for containment /
    * near-dup detection at scale). */
  val FpK = 8
  val FpB = 31L
  val FpM = 1125899906842597L // prime < 2^50
  val SelP = 17L
  private val FpPows: Array[Long] =
    Array.iterate(1L, FpK)(_ * FpB).reverse // B^(k-1) .. B^0

  def rollingFingerprints(text: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = text.toString.toLowerCase(java.util.Locale.ROOT)
    val cps = s.codePoints().toArray
    val out = scala.collection.mutable.SortedSet.empty[Long]
    var i = 0
    while (i + FpK <= cps.length) {
      var h = 0L
      var j = 0
      while (j < FpK) { h += cps(i + j).toLong * FpPows(j); j += 1 }
      h %= FpM
      if (h % SelP == 0) out += h
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  /** Codegen'd rolling-fingerprint expression: sorted distinct selected
    * k-gram hashes of a text column. */
  case class RollingFingerprintsExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression with Serializable {
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullIntolerant: Boolean = true
    override def prettyName: String = "rolling_fingerprints"
    override protected def nullSafeEval(v: Any): Any =
      rollingFingerprints(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.operators.TextOps.rollingFingerprints($c);")
    override protected def withNewChildInternal(
        c: org.apache.spark.sql.catalyst.expressions.Expression)
        : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
  }

  /** One row per (doc_id, selected k-gram hash). */
  def rollingFingerprintRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"),
      explode(org.apache.spark.sql.graftbridge.ColumnBridge.column(
        RollingFingerprintsExpr(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("text"))))).as("fp"))

  // ---- token counting ---------------------------------------------------

  /** Whitespace-token count + BPE-ish subword estimate (a words +
    * punctuation-runs count, the usual pre-tokenizer unit count). */
  def tokenCounts(df: DataFrame): DataFrame = {
    df.select(col("doc_id"),
      size(expr("regexp_extract_all(text, '\\\\S+', 0)")).as("n_ws_tokens"),
      size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"))
        .as("n_subword_units"),
      length(col("text")).as("len"))
  }

  // ---- byte-pair-merge tokenizer ------------------------------------------

  /** Rank-ordered byte-pair-merge tokenizer (the public BPE encode
    * algorithm, Sennrich et al. 2016). Because each merge's two parts
    * always carry strictly lower ranks than the merge itself (a part is
    * either a single character or the product of an earlier merge),
    * applying the merge list SEQUENTIALLY in rank order with greedy
    * left-to-right non-overlapping replacement is equivalent to the
    * classic lowest-rank-pair-first priority loop — and the sequential
    * form has an exact SQL twin: seed `sep || char` per codepoint, then
    * one replace(sep+a+sep+b -> sep+ab) per merge; the token count is
    * the separator count. The fixture merge table below is shared
    * verbatim with the oracle; swap in a trained merges file for
    * production use. */
  object Bpe {
    import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
    import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.unsafe.types.UTF8String

    /** Fixture merges, rank order; every part is a single char or an
      * earlier merge's product (BPE well-formedness). */
    val merges: Seq[(String, String)] = Seq(
      ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
      ("e", "r"), ("o", "n"), ("r", "e"), ("o", "r"), ("s", "t"),
      ("e", "n"), ("o", "f"), ("in", "g"), ("t", "o"), ("e", "d"),
      ("c", "h"))
    // the SQL oracle's two-pass full-boundary replace is exact only for
    // a != b merges (see oracleTokenString); the encoder itself is fine
    // either way, so gate the table shape loudly
    require(merges.forall { case (a, b) => a != b },
      "oracle scheme requires a != b in every merge")

    /** Encode to the token sequence (codepoint-seeded). */
    def tokens(text: String): IndexedSeq[String] = {
      var toks: Array[String] = {
        val out = new scala.collection.mutable.ArrayBuffer[String](text.length)
        var i = 0
        while (i < text.length) {
          val cp = text.codePointAt(i)
          out += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        out.toArray
      }
      merges.foreach { case (a, b) =>
        if (toks.length >= 2) {
          val out = new scala.collection.mutable.ArrayBuffer[String](toks.length)
          var i = 0
          while (i < toks.length) {
            if (i + 1 < toks.length && toks(i) == a && toks(i + 1) == b) {
              out += a + b; i += 2
            } else { out += toks(i); i += 1 }
          }
          toks = out.toArray
        }
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(toks)
    }

    def evalCount(t: UTF8String): Int = tokens(t.toString).length

    case class CountExpr(child: Expression) extends UnaryExpression {
      override def dataType: DataType = IntegerType
      override def nullIntolerant: Boolean = true
      override def prettyName: String = "bpe_token_count"
      override protected def nullSafeEval(v: Any): Any =
        evalCount(v.asInstanceOf[UTF8String])
      // call the module instance by JVM name (Janino can't resolve a
      // nested Scala object through the outer object's forwarders)
      override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.operators.TextOps$$Bpe$$.MODULE$$.evalCount($c);")
      override protected def withNewChildInternal(c: Expression): Expression =
        copy(child = c)
    }

    def countCol(text: Column): Column = EU.column(CountExpr(EU.expression(text)))

    /** The DuckDB twin of [[evalCount]]'s tokenization, as a SQL string
      * expression over `inner`. Tokens render as `sep+token ... +sep`
      * (a separator at EVERY boundary, including a trailing sentinel),
      * so each merge is `replace(sep+a+sep+b+sep -> sep+ab+sep)` — the
      * full-boundary pattern can never match a proper prefix/suffix of
      * a longer token (a single-boundary `sep+a+sep+b` wrongly merges
      * `t|or` when looking for `t|o`). Each replace runs TWICE: in a
      * chain `a b a b`, consecutive occurrences share a boundary
      * separator, so one leftmost-nonoverlapping pass merges alternating
      * occurrences only; since every merge here has a != b, occurrences
      * are token-disjoint and a second pass merges the skipped remainder
      * exactly (a product `ab` equals neither `a` nor `b`, so no new
      * occurrence arises within a step). `(?s)` seeds newlines too.
      * Token count is then `#separators - 1`. */
    def oracleTokenString(inner: String): String = {
      val seeded = s"regexp_replace($inner, '(?s)(.)', chr(31) || '\\1', 'g') || chr(31)"
      merges.foldLeft(seeded) { case (acc, (a, b)) =>
        val pat = s"chr(31) || '$a' || chr(31) || '$b' || chr(31)"
        val rep = s"chr(31) || '$a$b' || chr(31)"
        s"replace(replace($acc, $pat, $rep), $pat, $rep)"
      }
    }
  }

  /** q_token_bpe surface: doc_id + the BPE token count (codegen'd). */
  def bpeTokenCounts(df: DataFrame): DataFrame =
    df.select(col("doc_id"), Bpe.countCol(col("text")).as("n_bpe"))

  // ---- quality scoring --------------------------------------------------

  /** Common-English stopwords for quality/langid heuristics (tiny fixed
    * list shared verbatim with the SQL oracle). */
  val enStop: Seq[String] = Seq("the", "of", "and", "to", "in", "a", "is",
    "that", "for", "it", "was", "on", "with", "as", "be")
  val deStop: Seq[String] = Seq("der", "die", "und", "das", "ist", "nicht",
    "von", "mit", "den", "ein", "eine", "zu", "auf", "im", "sich")
  val frStop: Seq[String] = Seq("le", "la", "les", "et", "des", "est", "un",
    "une", "du", "dans", "que", "qui", "pour", "pas", "sur")
  val esStop: Seq[String] = Seq("el", "la", "los", "las", "y", "es", "un",
    "una", "del", "en", "que", "por", "con", "para", "se")

  private def arrayLit(ws: Seq[String]): Column = array(ws.map(lit): _*)
  def sqlList(ws: Seq[String]): String = ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Length / punctuation / stopword-ratio quality signals. All ratios
    * are double divisions of exact integers — deterministic. */
  def qualityScore(df: DataFrame): DataFrame = {
    val words = wordsCol
    val nWords = size(words)
    val nStop = size(filter(words, w => array_contains(arrayLit(enStop), w)))
    val nAlpha = size(expr("regexp_extract_all(text, '[A-Za-z]', 0)"))
    val nDigit = size(expr("regexp_extract_all(text, '[0-9]', 0)"))
    val nPunct = size(expr("regexp_extract_all(text, '[.,!?;:]', 0)"))
    val len = length(col("text"))
    df.select(col("doc_id"), len.as("len"),
      nWords.as("n_words"), nStop.as("n_stop"),
      (nAlpha.cast(DoubleType) / greatest(len, lit(1))).as("alpha_ratio"),
      (nDigit.cast(DoubleType) / greatest(len, lit(1))).as("digit_ratio"),
      (nPunct.cast(DoubleType) / greatest(len, lit(1))).as("punct_ratio"),
      (nStop.cast(DoubleType) / greatest(nWords, lit(1))).as("stop_ratio"))
      .withColumn("quality",
        when(col("len") < 20, lit(0.0)).otherwise(
          least(lit(1.0), col("alpha_ratio") * 0.5 + col("stop_ratio") * 0.5
            + lit(0.25) - col("digit_ratio"))))
  }

  // ---- language identification ------------------------------------------

  /** Marker-word voting language ID (n-gram-heuristic class): count hits
    * in each language's stopword list, argmax with deterministic
    * tie-break on language code. */
  def langId(df: DataFrame): DataFrame = {
    val words = wordsCol
    def hits(ws: Seq[String]): Column =
      size(filter(words, w => array_contains(arrayLit(ws), w)))
    val scored = df.select(col("doc_id"),
      hits(enStop).as("en"), hits(deStop).as("de"),
      hits(frStop).as("fr"), hits(esStop).as("es"))
    // argmax over a (score, lang) struct array: max picks highest score,
    // then LOWEST lang code on ties via negated comparison trick
    scored.select(col("doc_id"), col("en"), col("de"), col("fr"), col("es"),
      greatest(col("en"), col("de"), col("fr"), col("es")).as("best"))
      .withColumn("lang_pred",
        when(col("best") === 0, lit("und"))
          .when(col("de") === col("best"), lit("de"))
          .when(col("en") === col("best"), lit("en"))
          .when(col("es") === col("best"), lit("es"))
          .otherwise(lit("fr")))
  }

  // ---- fingerprinting & exact dedup -------------------------------------

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * (The "rolling hash" of the reference class of pipelines — md5 chosen
    * so the oracle reproduces it bit-for-bit.) */
  def fingerprint(df: DataFrame): DataFrame =
    df.withColumn("fp", md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")))

  /** Exact deduplication: one representative (min doc_id) per distinct
    * normalized content; map-side combinable single shuffle. */
  def dedupExact(df: DataFrame): DataFrame =
    fingerprint(df)
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_dups"))

  // ---- exact substring-level dedup (duplicated n-gram spans) ------------

  /** Substring-level exact dedup statistics — the distributed
    * re-expression of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): every
    * word-level n-gram position whose n-gram occurs more than once
    * corpus-wide is a duplicated span. Emits, per document, the count of
    * duplicated positions and of distinct duplicated n-grams (docs with
    * none included with zeros).
    *
    * Scale shape: explode to (doc_id, md5(ngram)) — md5 because the
    * DuckDB oracle mirrors it exactly; at 100 TB swap in xxhash128 —
    * then ONE map-side-combinable count keyed on the gram hash, a
    * key-local join back (both sides hash-partitioned on g, exchange
    * reused), and ONE per-doc aggregate. No suffix array, no global
    * sort, no driver state; a skewed gram (boilerplate) costs a count,
    * never a per-key row collection. */
  def substringDup(n: Int)(df: DataFrame): DataFrame = {
    val words = wordsCol
    val grams = df.select(col("doc_id"),
      explode(when(size(words) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(0), size(words) - n),
          i => md5(concat_ws(" ", slice(words, i + 1, lit(n))))))).as("g"))
    val dupGrams = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("cnt")).filter(col("cnt") > 1)
    val perDoc = grams.join(dupGrams, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_positions"),
        countDistinct(col("g")).as("n_dup_ngrams"))
    df.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_positions"), lit(0L)).as("n_dup_positions"),
        coalesce(col("n_dup_ngrams"), lit(0L)).as("n_dup_ngrams"))
  }

  // ---- Bloom-filter corpus-delta dedup -----------------------------------

  object BloomOps {
    import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
    import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.util.sketch.BloomFilter

    def mightContain(bf: BloomFilter, v: org.apache.spark.unsafe.types.UTF8String): Boolean =
      bf.mightContainBinary(v.getBytes)

    /** Broadcast-Bloom membership probe; the filter rides the plan as a
      * reference object (one deserialize per executor). */
    case class MightContain(child: Expression, bf: BloomFilter)
        extends UnaryExpression with Serializable {
      override def dataType: DataType = BooleanType
      override def nullIntolerant: Boolean = true
      override def prettyName: String = "bloom_might_contain"
      override protected def nullSafeEval(v: Any): Any =
        mightContain(bf, v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
      override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
        val b = ctx.addReferenceObj("bloom", bf, classOf[BloomFilter].getName)
        nullSafeCodeGen(ctx, ev, v =>
          s"${ev.value} = graft.operators.TextOps$$BloomOps$$.MODULE$$.mightContain($b, $v);")
      }
      override protected def withNewChildInternal(c: Expression): Expression =
        copy(child = c)
    }
    def mightContainCol(bf: BloomFilter, c: Column): Column =
      EU.column(MightContain(EU.expression(c), bf))
  }

  /** Corpus-delta dedup: rows of `batch` whose exact fingerprint does
    * not occur in `corpus` — the incremental-ingest dedup a training
    * pipeline runs on every new crawl drop. EXACT result with a Bloom
    * prefilter as the scale lever: a BF over corpus fingerprints (no
    * false negatives) broadcasts; BF-negative batch rows skip the join
    * entirely (at 100 TB the overwhelming majority of genuinely-new
    * docs), and only BF-positive candidates (true dups + fpp) shuffle
    * into the exact anti-join that strips false positives. Output is
    * bit-identical to a plain anti-join — the BF changes cost, never
    * content. */
  def bloomDeltaDedup(corpus: DataFrame, batch: DataFrame,
                      expectedItems: Long = 1000000L,
                      fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.util.sketch.BloomFilter
    val cfp = fingerprint(corpus).select(col("fp"))
    val bfp = fingerprint(batch).select(col("doc_id"), col("fp"))
    // build the sketch with treeAggregate (depth 2: per-partition BFs
    // merge in a tree, not a driver fan-in — at 1000 executors the
    // driver sees sqrt(P) merged filters, not P). Spark 4's
    // df.stat.bloomFilter casts its column to BIGINT, so it no longer
    // accepts string keys — we put the fp bytes directly.
    val bf = cfp.where(col("fp").isNotNull)
      .select(col("fp")).as(org.apache.spark.sql.Encoders.STRING)
      .rdd.treeAggregate(BloomFilter.create(expectedItems, fpp))(
        (b, s) => { b.putBinary(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)); b },
        (a, b) => a.mergeInPlace(b),
        depth = 2)
    val might = BloomOps.mightContainCol(bf, col("fp"))
    val negatives = bfp.filter(!might) // exact: a BF has no false negatives
    val candidates = bfp.filter(might)
      .join(cfp, Seq("fp"), "left_anti") // exact confirm of BF positives
    // using-column joins front the join key — realign before the
    // positional union or fp lands in the doc_id slot
    negatives.select(col("doc_id"), col("fp"))
      .unionAll(candidates.select(col("doc_id"), col("fp")))
  }

  // ---- shingles, MinHash, LSH -------------------------------------------

  /** Word n-gram shingles (space-joined). */
  def shingles(n: Int): Column = {
    val words = wordsCol
    when(size(words) < n, array(concat_ws(" ", words)))
      .otherwise(transform(sequence(lit(0), size(words) - n),
        i => concat_ws(" ", slice(words, i + 1, lit(n)))))
  }

  /** LSH banding: band b's key is md5 of its slice of the signature.
    * numPerms = bands * rowsPerBand. */
  def lshBandKeys(numPerms: Int, shingleN: Int, bands: Int): Column =
    MinHashBands.bandsCol(wordsCol, numPerms, shingleN, bands)

  /** Single-pass MinHash signature + LSH band keys — bit-identical to
    * the md5-anchored SQL oracle formulation (sig element p =
    * min_s md5Hex(p + ":" + s); band b = md5Hex(b + "|" +
    * sig[b*r..b*r+r).mkString(","))). */
  object MinHashBands {
    import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
    import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.unsafe.types.UTF8String

    private val digest = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
    private val HexChars = "0123456789abcdef".toCharArray

    def md5Hex(s: String): String = {
      val md = digest.get(); md.reset()
      val h = md.digest(s.getBytes("UTF-8"))
      val out = new Array[Char](32)
      var i = 0
      while (i < 16) {
        out(i * 2) = HexChars((h(i) >> 4) & 0xf)
        out(i * 2 + 1) = HexChars(h(i) & 0xf)
        i += 1
      }
      new String(out)
    }

    def shinglesOf(words: IndexedSeq[String], n: Int): IndexedSeq[String] =
      if (words.length < n) IndexedSeq(words.mkString(" "))
      else (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" "))

    def signature(words: IndexedSeq[String], numPerms: Int, shingleN: Int): Array[String] = {
      val sh = shinglesOf(words, shingleN)
      Array.tabulate(numPerms) { p =>
        var best: String = null
        sh.foreach { s =>
          val h = md5Hex(p.toString + ":" + s)
          if (best == null || h < best) best = h
        }
        best
      }
    }

    def bandKeys(words: IndexedSeq[String], numPerms: Int, shingleN: Int,
                 bands: Int): Array[String] = {
      val rows = numPerms / bands
      val sig = signature(words, numPerms, shingleN)
      Array.tabulate(bands)(b =>
        md5Hex(b.toString + "|" + sig.slice(b * rows, b * rows + rows).mkString(",")))
    }

    private def toWords(arr: ArrayData): IndexedSeq[String] =
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    def evalBands(arr: ArrayData, p: Int, n: Int, b: Int): ArrayData =
      new GenericArrayData(bandKeys(toWords(arr), p, n, b).map(UTF8String.fromString(_)))

    case class BandsExpr(child: Expression, p: Int, n: Int, b: Int) extends UnaryExpression {
      override def dataType: DataType = ArrayType(StringType, containsNull = false)
      override def nullIntolerant: Boolean = true
      override def prettyName: String = "minhash_bands"
      override protected def nullSafeEval(v: Any): Any =
        evalBands(v.asInstanceOf[ArrayData], p, n, b)
      // Janino can't resolve a nested Scala object through the outer
      // object's forwarders — call the module instance by its JVM name.
      override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
        nullSafeCodeGen(ctx, ev, c =>
          s"${ev.value} = graft.operators.TextOps$$MinHashBands$$.MODULE$$.evalBands($c, $p, $n, $b);")
      override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
    }

    def bandsCol(words: Column, p: Int, n: Int, b: Int): Column =
      EU.column(BandsExpr(EU.expression(words), p, n, b))
  }

  /** MinHash-LSH near-duplicate grouping: documents sharing any band
    * bucket collapse to the bucket's min doc_id; a document's rep is the
    * min over its bands (single-hop union — full connected components
    * would iterate this to fixpoint; one hop is the standard
    * first-pass). Two shuffles (band groupBy + doc groupBy). */
  def minhashDedup(numPerms: Int = 16, shingleN: Int = 3, bands: Int = 4)
                  (df: DataFrame): DataFrame = {
    val withBands = df.select(col("doc_id"),
      explode(lshBandKeys(numPerms, shingleN, bands)).as("band"))
    val bandRep = withBands
      .groupBy(col("band")).agg(min(col("doc_id")).as("band_rep"))
    withBands.join(bandRep, "band")
      .groupBy(col("doc_id")).agg(min(col("band_rep")).as("rep_doc_id"))
  }

  /** Full connected-components closure of the LSH band graph: each round
    * does one band-hop (doc -> min rep over its bands; band -> min rep
    * over its docs) followed by one pointer-jumping step (rep' =
    * rep(rep): labels joined through labels), so the covered chain
    * distance DOUBLES per round — a transitive chain of L docs converges
    * in O(log L) rounds, not L. Throws if `maxIters` rounds do not reach
    * a fixpoint rather than silently returning truncated (under-deduped)
    * labels. Each round is three small shuffles over the (doc, band)
    * edge list plus a self-join on the label table. */
  def minhashDedupCC(numPerms: Int = 16, shingleN: Int = 3, bands: Int = 4,
                     maxIters: Int = 20)(df: DataFrame): DataFrame = {
    val edges = df.select(col("doc_id"),
      explode(lshBandKeys(numPerms, shingleN, bands)).as("band"))
    ccFromEdges(edges, maxIters)
  }

  /** Connected components over an explicit (doc_id, band) bipartite edge
    * list — the engine of [[minhashDedupCC]], exposed so the convergence
    * behavior can be specced on planted long-chain graphs independent of
    * minhash band mechanics. Returns (doc_id, rep_doc_id) with rep the
    * component-wide min doc_id. */
  def ccFromEdges(edgeDf: DataFrame, maxIters: Int = 20): DataFrame = {
    val edges = edgeDf.cache()
    try {
      var labels = edges.groupBy("doc_id")
        .agg(min(col("doc_id")).as("rep")) // initial: self
      var converged = false
      var iter = 0
      while (!converged && iter < maxIters) {
        val bandRep = edges.join(labels, "doc_id")
          .groupBy("band").agg(min("rep").as("band_rep"))
        val hopped = edges.join(bandRep, "band")
          .groupBy("doc_id").agg(min("band_rep").as("rep"))
        // Pointer jumping: route every label through its label's label
        // (rep' = rep(rep)). rep is always a doc_id present in `labels`
        // (it is a min over doc_ids on the edge list), so the lookup is
        // total; the left join + coalesce is belt-and-braces only.
        val jumpTable = labels
          .select(col("doc_id").as("rep"), col("rep").as("rep2"))
        val newLabels = hopped
          .join(jumpTable, Seq("rep"), "left")
          .select(col("doc_id"),
            least(coalesce(col("rep2"), col("rep")), col("rep")).as("rep"))
          .localCheckpoint(eager = true) // truncate the iterative lineage
        val changed = newLabels.as("n").join(labels.as("o"), "doc_id")
          .filter(col("n.rep") =!= col("o.rep")).limit(1).count()
        labels = newLabels
        converged = changed == 0
        iter += 1
      }
      require(converged,
        s"connected-components closure did not converge in $maxIters rounds " +
          "(a transitive near-dup chain longer than ~2^rounds hops); raise maxIters")
      labels.withColumnRenamed("rep", "rep_doc_id")
    } finally edges.unpersist()
  }

  /** n-gram Jaccard similarity of candidate pairs: |A∩B| / |A∪B| on
    * DISTINCT shingle sets. `pairs` must have (a_id, b_id). */
  def ngramJaccard(docs: DataFrame, pairs: DataFrame, shingleN: Int): DataFrame = {
    val sh = docs.select(col("doc_id"), array_distinct(shingles(shingleN)).as("sh"))
    pairs
      .join(sh.select(col("doc_id").as("a_id"), col("sh").as("sha")), "a_id")
      .join(sh.select(col("doc_id").as("b_id"), col("sh").as("shb")), "b_id")
      .withColumn("inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("uni", size(col("sha")) + size(col("shb")) - col("inter"))
      .select(col("a_id"), col("b_id"), col("inter"), col("uni"),
        (col("inter").cast(DoubleType) / greatest(col("uni"), lit(1))).as("jaccard"))
  }
}
