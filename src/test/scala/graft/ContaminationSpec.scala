package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.BloomMightContain.mightContain
import graft.functions.ShingleHashes.shingleHashes
import graft.ops.{BloomJoin, Contamination}

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

  private def docSplit = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    (docs.filter($"doc_id" % 7 =!= 0), docs.filter($"doc_id" % 7 === 0))
  }

  private def keyed(df: DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("bloom-reduced pairs equal the exact pairs even at fpp 0.5") {
    val (train, eval) = docSplit
    val exact = keyed(Contamination
      .containmentPairs(train, eval, "doc_id", "text", 3, 0.5))
    // a deliberately loose sketch of the eval shingle set: fpp 0.5 lets
    // false positives reach the exact join, which must drop every one
    val evalSh = eval.select(explode(shingleHashes($"text", 3)).as("shash"))
    val loose = BloomJoin.buildFilter(evalSh, "shash", evalSh.count(), fpp = 0.5)
    val admitted = train.select(explode(shingleHashes($"text", 3)).as("shash"))
      .filter(mightContain($"shash", loose)).join(evalSh, Seq("shash"), "left_anti")
    assert(!admitted.isEmpty, "the loose sketch admits non-member train shingles")
    val bloom = keyed(Contamination.containmentPairs(train, eval, "doc_id", "text", 3, 0.5,
      evalFilter = Some(loose)))
    assert(exact.nonEmpty)
    assert(bloom == exact)
  }

  test("the train side is Bloom-reduced exactly when an evalFilter is passed, " +
       "rows identical") {
    val (train, eval) = docSplit
    def reduced(df: DataFrame) =
      df.queryExecution.optimizedPlan.toString.contains("bloom_might_contain")
    val exactPlan = Contamination.containmentPairs(train, eval, "doc_id", "text", 3, 0.5)
    val filtered = Contamination.containmentPairs(train, eval, "doc_id", "text", 3, 0.5,
      evalFilter = Some(Contamination.evalFilterBytes(eval, "doc_id", "text", 3)))
    assert(!reduced(exactPlan) && reduced(filtered))
    val exact = keyed(exactPlan)
    assert(exact.nonEmpty && keyed(filtered) == exact)
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
