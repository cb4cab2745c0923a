package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.model.Model

/** ScalaCheck property: for ARBITRARY well-formed doc tables (any mix of
  * span kinds, any text/media payloads, any offsets), explode -> identity
  * -> implode reproduces the exact span sequence — the BASELINE.json
  * per-row invariant, quantified instead of fixtured. */
class SpanCodecPropertySpec extends AnyFunSuite {
  import TestSpark._

  private val genText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', ',', '|', ':', 'ü', '句')))
      .map(_.mkString).map(_.take(40))

  private val genPointPayload: Gen[String] = for {
    xi <- Gen.choose(0L, 2047L); yi <- Gen.choose(0L, 2047L)
    zi <- Gen.choose(0L, 4000L); in <- Gen.choose(0, 65535)
    pid <- Gen.choose(0L, 1000000L)
  } yield s"$xi,$yi,$zi,$in,$pid"

  private val genSpan: Gen[(String, String, String)] = Gen.frequency(
    (3, genPointPayload.map(p => ("point", p, ""))),
    (2, genText.map(t => ("text", t, ""))),
    (1, Gen.choose(0, 99999).map(i => ("media", "", s"blob://$i"))))

  private val genDoc: Gen[(String, Seq[(String, String, String, Int)])] = for {
    id <- Gen.choose(0, 100000).map(_.toString)
    n <- Gen.choose(1, 12)
    spans <- Gen.listOfN(n, genSpan)
  } yield (id, spans.zipWithIndex.map { case ((k, t, m), i) => (k, t, m, i) })

  test("explode -> implode is the identity on span sequences (property)") {
    // plain-scalacheck sampling (the scalatest+scalacheck bridge isn't in
    // the offline artifact cache): 8 deterministic seeds, 8 docs each
    (1 to 8).foreach { trial =>
      val docsGen = Gen.listOfN(8, genDoc)
        .apply(Gen.Parameters.default, Seed(42L + trial)).getOrElse(Nil)
      val distinct = docsGen.distinctBy(_._1)
      if (distinct.nonEmpty) {
        val rows = distinct.map { case (id, spans) =>
          Row(id, spans.map { case (k, t, m, o) => Row(k, t, m, o) })
        }
        val docs = spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 2), Model.docSchema)
        val roundTrip = Model.implode(docs, Model.explodePoints(docs))
        val got = Model.spanSignature(roundTrip).orderBy("doc_id").collect()
        val want = Model.spanSignature(docs).orderBy("doc_id").collect()
        assert(got.toSeq === want.toSeq)
      }
    }
  }

  /** The payload contract as the single-pass struct parser that
    * [[graft.functions.PointPayloadField]] replaced defined it: fields
    * split on ',', a '-' anywhere negates its field, any other byte is a
    * digit, fields past the fifth are ignored, missing ones read as 0. */
  private def structParse(text: String): Array[Long] = {
    val bytes = text.getBytes("UTF-8")
    val out = new Array[Long](5)
    var field = 0; var acc = 0L; var neg = false; var i = 0
    while (i < bytes.length && field < 5) {
      val b = bytes(i)
      if (b == ',') { out(field) = if (neg) -acc else acc; field += 1; acc = 0L; neg = false }
      else if (b == '-') neg = true
      else acc = acc * 10 + (b - '0')
      i += 1
    }
    if (field < 5) out(field) = if (neg) -acc else acc
    out
  }

  private val genField: Gen[String] = Gen.frequency(
    (6, Gen.choose(-1000000000000L, 1000000000000L).map(_.toString)),
    (1, Gen.const("")), (1, Gen.const("-0")), (1, Gen.const("-")),
    (1, Gen.listOf(Gen.oneOf('0', '7', '-')).map(_.mkString)))

  // 0 fields is the empty text; under 5 leaves trailing fields missing;
  // over 5 carries extra ones
  private val genPayloadText: Gen[String] =
    Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, genField)).map(_.mkString(","))

  test("payload field reader returns what the struct parse returned (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    val texts = Seq("", ",", "1,2", "-1,-2,-3,-4,-5", "1,2,3,4,5,6,7", "1,,3,", "--5,4-2") ++
      (1 to 400).flatMap(s => genPayloadText(Gen.Parameters.default, Seed(s.toLong)))
    texts.foreach { t =>
      val want = structParse(t)
      (0 until 5).foreach { f =>
        assert(graft.functions.PointPayloadField.read(UTF8String.fromString(t), f) === want(f),
          s"field $f of '$t'")
      }
    }
    // the same through the generated code of explodePoints
    val rows = texts.zipWithIndex.map { case (t, i) => Row(i.toString, Seq(Row("point", t, "", 0))) }
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), Model.docSchema)
    val got = Model.explodePoints(docs).select("doc_id", "x", "y", "z", "gps_time").collect()
      .map(r => r.getString(0).toInt -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.size === texts.size)
    texts.zipWithIndex.foreach { case (t, i) =>
      val p = structParse(t)
      assert(got(i) === Seq(p(0) * Model.Scale, p(1) * Model.Scale, p(2) * Model.Scale, p(4).toDouble),
        s"explodePoints of '$t'")
    }
  }
}
