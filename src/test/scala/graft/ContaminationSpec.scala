package graft

import org.apache.spark.sql.functions._
import graft.ops.Contamination

class ContaminationSpec extends SparkSpec {
  import spark.implicits._

  // train doc 10 fully quotes eval doc 1; train doc 11 shares nothing
  private def trainDf = Seq(
    (10L, "alpha beta gamma delta epsilon zeta"),
    (11L, "one two three four five six seven"),
    (12L, "alpha beta gamma nine ten eleven twelve")
  ).toDF("doc_id", "text")

  private def evalDf = Seq(
    (1L, "alpha beta gamma delta"),   // 2 shingles, both inside doc 10
    (2L, "totally novel words here"), // no overlap
    (3L, "x y")                       // < 3 tokens -> no shingles
  ).toDF("doc_id", "text")

  test("containment is the eval-side shingle coverage fraction") {
    val pairs = Contamination
      .containmentPairs(trainDf, evalDf, "doc_id", "text", 3, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // eval 1 shingles: {abc, bcd}; train 10 contains both -> 1.0;
    // train 12 contains only "alpha beta gamma" -> 0.5
    assert(pairs === Set((1L, 10L, 1.0), (1L, 12L, 0.5)))
  }

  test("evalSummary reports one row per eval doc with worst offender") {
    val pairs = Contamination
      .containmentPairs(trainDf, evalDf, "doc_id", "text", 3, 0.4)
    val sm = Contamination.evalSummary(evalDf, pairs, "doc_id")
      .orderBy("eval_id").collect()
    assert(sm.length === 3)
    val byId = sm.map(r => r.getLong(0) ->
      (r.getDouble(1), Option(r.get(2)), r.getBoolean(3))).toMap
    assert(byId(1L) === ((1.0, Some(10L), true))) // max containment, min id on tie
    assert(byId(2L) === ((0.0, None, false)))
    assert(byId(3L) === ((0.0, None, false)))
  }

  test("bloom-reduced pairs equal the exact pairs even at fpp 0.5") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val eval = docs.filter($"doc_id" % 7 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = key(Contamination
      .containmentPairs(train, eval, "doc_id", "text", 3, 0.5))
    // fpp 0.5 guarantees false positives reach the verify join; the
    // output must not change — fpp tunes shuffle volume, never rows
    val bloom = key(Contamination
      .containmentPairsBloom(train, eval, "doc_id", "text", 3, 0.5, fpp = 0.5))
    assert(exact.nonEmpty)
    assert(bloom == exact)
  }

  test("adaptive bloom engages on fixed-eval geometry, skips it balanced, rows identical") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val train = docs.filter($"doc_id" % 7 =!= 0)
    val eval = docs.filter($"doc_id" % 7 === 0)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = key(Contamination
      .containmentPairs(train, eval, "doc_id", "text", 3, 0.5))
    // balanced 6:1 split, factor 24 -> probe must pick the exact plan
    val balanced = key(Contamination.containmentPairsBloomAdaptive(
      train, eval, "doc_id", "text", 3, 0.5, engageFactor = 24.0))
    assert(balanced == exact && exact.nonEmpty)
    // factor 1 forces the skewed decision -> bloom plan, same rows
    val engaged = key(Contamination.containmentPairsBloomAdaptive(
      train, eval, "doc_id", "text", 3, 0.5, engageFactor = 1.0))
    assert(engaged == exact)
    // a prebuilt sketch always rides (no probe, no build jobs)
    val bytes = Contamination.evalFilterBytes(eval, "doc_id", "text", 3)
    val prebuilt = key(Contamination.containmentPairsBloomAdaptive(
      train, eval, "doc_id", "text", 3, 0.5, engageFactor = 1e18,
      filterBytes = Some(bytes)))
    assert(prebuilt == exact)
  }

  test("ties on containment break to the smaller train id") {
    val train = Seq(
      (20L, "alpha beta gamma delta"),
      (21L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val eval = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val sm = Contamination.evalSummary(eval,
      Contamination.containmentPairs(train, eval, "doc_id", "text", 3, 0.5),
      "doc_id").collect()
    assert(sm.head.getLong(2) === 20L)
  }
}
