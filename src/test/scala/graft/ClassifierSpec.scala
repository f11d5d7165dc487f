package graft

import org.apache.spark.sql.functions._
import graft.ops.Classifier

/** Naive-Bayes gate: full differential check against an independent
  * plain-Scala reference NB (same half-bit quantization), plus the
  * empty-doc / tie-break / unseen-label contracts. */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private def bits2(x: Long): Long = {
    require(x > 0); 63 - java.lang.Long.numberOfLeadingZeros(x * x)
  }

  /** Independent reference: multinomial NB with add-one smoothing at
    * half-bit resolution, argmax with smallest-class tie-break. */
  private def referenceNb(docs: Seq[(Long, String, String)], mod: Int)
      : Map[Long, (String, Long)] = {
    def toks(t: String) = t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
    val (test, train) = docs.partition(_._1 % mod == 0)
    val trainTok = train.flatMap { case (_, lab, t) => toks(t).map(lab -> _) }
    val ctc = trainTok.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val nc = trainTok.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val v = trainTok.map(_._2).distinct.size.toLong
    val dc = train.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
    val dTrain = train.size.toLong
    val classes = nc.keySet
    test.map { case (id, _, t) =>
      val scores = classes.toSeq.map { c =>
        val prior = bits2(dc(c)) - bits2(dTrain)
        val body = toks(t).map { w =>
          bits2(ctc.getOrElse((c, w), 0L) + 1) - bits2(nc(c) + v)
        }.sum
        (c, prior + body)
      }
      id -> scores.minBy { case (c, s) => (-s, c) }
    }.toMap
  }

  private val fixture: Seq[(Long, String, String)] = Seq(
    (0L, "en", "the cat sat on the mat"),
    (1L, "en", "the dog and the cat"),
    (2L, "en", "it is the house of the king"),
    (3L, "de", "der hund und die katze"),
    (4L, "de", "das haus ist nicht klein"),
    (5L, "de", "die katze und der hund sind da"),
    (6L, "en", "for the win and the glory"),
    (7L, "de", "ich bin mit dem hund"),
    (8L, "de", "der der der die die und"),
    (9L, "en", "on and on with it"),
    (10L, "en", "the the the and and of"),
    (11L, "de", "und die katze ist da"))

  test("nbPredict matches the independent reference NB exactly") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val got = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
      .select("doc_id", "predicted", "score")
      .as[(Long, String, Long)].collect()
      .map { case (id, p, s) => id -> ((p, s)) }.toMap
    val want = referenceNb(fixture, mod = 5)
    assert(got == want)
    assert(got.keySet == Set(0L, 5L, 10L)) // the %5==0 held-out rows
  }

  test("empty test document scores prior-only and ties break to the smallest class") {
    // equal class priors and equal token totals -> exact score tie on an
    // empty doc -> prediction must be the lexicographically smallest class
    val docs = Seq(
      (0L, "zz", ""),
      (1L, "aa", "x y z"),
      (2L, "bb", "p q r"),
      (3L, "aa", "x y z"),
      (4L, "bb", "p q r")).toDF("doc_id", "lang", "text")
    val row = Classifier.nbPredict(docs, "doc_id", "text", "lang", splitMod = 5)
      .collect().head
    assert(row.getAs[String]("predicted") == "aa")
    // prior = bits2(2) - bits2(4): both classes tie there
    assert(row.getAs[Long]("score") == bits2(2) - bits2(4))
    assert(row.getAs[Long]("hit") == 0L) // true label never trained
  }

  test("NULL-text test document scores prior-only, exactly like an empty one") {
    // size(NULL array) is NULL under ANSI (-1 legacy) — either flavor
    // would shift the score off prior-only without the greatest(·,0)
    // clamp in nbScoreWith; the oracle scores NULL-text docs prior-only
    val docs = Seq(
      (0L, "zz", null.asInstanceOf[String]),
      (1L, "aa", "x y z"),
      (2L, "bb", "p q r"),
      (3L, "aa", "x y z"),
      (4L, "bb", "p q r")).toDF("doc_id", "lang", "text")
    val row = Classifier.nbPredict(docs, "doc_id", "text", "lang", splitMod = 5)
      .collect().head
    assert(row.getAs[String]("predicted") == "aa")
    assert(row.getAs[Long]("score") == bits2(2) - bits2(4)) // prior-only
    // and the CV path takes the same clamp: all-fold accuracy frame
    // exists with no NULL-poisoned scores
    val cvDocs = Seq(
      (0L, "aa", null.asInstanceOf[String]), (1L, "aa", "x y"),
      (2L, "bb", "p q"), (3L, "aa", "x y"), (4L, "bb", "p q"),
      (5L, "bb", "p r")).toDF("doc_id", "lang", "text")
    val cv = Classifier.nbCrossValidate(cvDocs, "doc_id", "text", "lang", folds = 3)
    assert(cv.count() == 3)
    assert(!cv.select("accuracy").as[Double].collect().exists(_.isNaN))
  }

  test("hit flag and confusion matrix are consistent") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val pred = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
    val hits = pred.agg(sum("hit")).as[Long].collect().head
    val diag = Classifier.nbConfusion(df, "doc_id", "text", "lang", splitMod = 5)
      .filter(col("label_true") === col("predicted"))
      .agg(coalesce(sum("n"), lit(0L))).as[Long].collect().head
    assert(hits == diag)
    val total = Classifier.nbConfusion(df, "doc_id", "text", "lang", splitMod = 5)
      .agg(sum("n")).as[Long].collect().head
    assert(total == 3L)
  }

  test("nbClassScores emits one row per test doc per trained class") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val sc = Classifier.nbClassScores(df, "doc_id", "text", "lang", splitMod = 5)
    assert(sc.count() == 3 * 2) // 3 test docs x {en, de}
    assert(sc.select("cls").distinct().as[String].collect().toSet == Set("en", "de"))
  }

  test("fixture classifier is actually discriminative on held-out docs") {
    // sanity: the de/en stopword fixtures should classify correctly
    val df = fixture.toDF("doc_id", "lang", "text")
    val rows = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
      .select("label_true", "predicted").as[(String, String)].collect()
    assert(rows.forall { case (t, p) => t == p })
  }

  test("nbMargins: predicted matches nbPredict, margin = top1 - top2, ties -> 0") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val margins = Classifier.nbMargins(df, "doc_id", "text", "lang", splitMod = 5)
      .select("doc_id", "predicted", "score", "margin")
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    val scores = Classifier.nbClassScores(df, "doc_id", "text", "lang", splitMod = 5)
      .select("doc_id", "cls", "score").as[(Long, String, Long)].collect()
      .groupBy(_._1)
    val preds = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
      .select("doc_id", "predicted").as[(Long, String)].collect().toMap
    margins.foreach { case (id, (_, p, s, m)) =>
      assert(p == preds(id))
      val ordered = scores(id).map(x => (-x._3, x._2)).sorted
      assert(s == -ordered.head._1)
      assert(m == -ordered.head._1 - -ordered(1)._1)
    }
    // exact tie: two classes with identical training data -> margin 0
    val tied = Seq((0L, "aa", "x y"), (1L, "aa", "w w"), (2L, "bb", "w w"))
      .toDF("doc_id", "lang", "text")
    val row = Classifier.nbMargins(tied, "doc_id", "text", "lang", splitMod = 3)
      .collect().head
    assert(row.getAs[Long]("margin") == 0L)
    assert(row.getAs[String]("predicted") == "aa")
  }

  test("a class trained only on empty-text docs keeps its prior and stays scoreable") {
    // class "ee" has 2 train docs, both empty: n_ee = 0 tokens, but its
    // prior must survive (dc LEFT JOIN nc) — an inner join would drop it
    val docs = Seq(
      (0L, "aa", "x y"),
      (1L, "ee", ""), (2L, "ee", ""),
      (3L, "aa", "x y z"), (4L, "aa", "x z")).toDF("doc_id", "lang", "text")
    val model = Classifier.nbTrain(docs.filter(col("doc_id") % 5 =!= 0), "text", "lang")
    val classes = model.classes.as[(String, Long, Long)].collect()
      .map { case (c, d, p) => c -> ((d, p)) }.toMap
    assert(classes.keySet == Set("aa", "ee"))
    // den_bits(ee) = bits2(0 + V); V = 3 distinct train tokens (x, y, z)
    assert(classes("ee")._1 == bits2(3))
    val scored = Classifier.nbClassScores(docs, "doc_id", "text", "lang")
    assert(scored.filter(col("cls") === "ee").count() == 1) // doc 0 x ee
  }

  test("save/load round-trips the model and nbPredictWith matches nbPredict") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val isTest = col("doc_id") % 5 === 0
    val model = Classifier.nbTrain(df.filter(!isTest), "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("nbmodel").toString
    Classifier.saveNbModel(model, dir)
    val loaded = Classifier.loadNbModel(spark, dir)
    val viaModel = Classifier.nbPredictWith(loaded, df.filter(isTest), "doc_id", "text")
      .select("doc_id", "predicted", "score")
      .as[(Long, String, Long)].collect().toSet
    val direct = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
      .select("doc_id", "predicted", "score")
      .as[(Long, String, Long)].collect().toSet
    assert(viaModel == direct)
  }

  test("loadNbModel refuses a directory holding both parts but never published") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val model = Classifier.nbTrain(df, "text", "lang")
    val dir = java.nio.file.Files.createTempDirectory("nbmodel-bare").toString
    model.tokenCounts.write.parquet(s"$dir/token_counts")
    model.classes.write.parquet(s"$dir/classes")
    intercept[IllegalStateException](Classifier.loadNbModel(spark, dir))
  }

  test("one-pass k-fold CV equals k independent train/score runs") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val k = 3
    val got = Classifier.nbCrossValidate(df, "doc_id", "text", "lang", folds = k)
      .select("fold", "n_test", "hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = (0 until k).map { f =>
      val train = df.filter(col("doc_id") % k =!= f)
      val test = df.filter(col("doc_id") % k === f)
      val model = Classifier.nbTrain(train, "text", "lang")
      val pred = Classifier.nbPredictWith(model, test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
      val n = pred.count()
      val hits = pred.filter(col("predicted") === col("lang")).count()
      f.toLong -> ((n, hits))
    }.toMap
    assert(got == want)
  }

  test("CV tolerates NULL doc ids: they train globally and are never test docs") {
    // a NULL id has a NULL fold — pmod(null, k) — which must not reach
    // map_from_entries ([NULL_MAP_KEY]) and must not become a fold row.
    // Semantics (the r10 join-form contract): the null-id doc's tokens
    // and doc count join EVERY fold's training statistics (no fold ever
    // subtracts them), and it is scored in no fold.
    val withNull = Seq(
      (null.asInstanceOf[java.lang.Long], "aa", "zzz x"),
      (java.lang.Long.valueOf(0L), "aa", "x y"),
      (java.lang.Long.valueOf(1L), "aa", "x y z"),
      (java.lang.Long.valueOf(2L), "bb", "p q"),
      (java.lang.Long.valueOf(3L), "aa", "x z"),
      (java.lang.Long.valueOf(4L), "bb", "p q r"),
      (java.lang.Long.valueOf(5L), "bb", "p r")).toDF("doc_id", "lang", "text")
    val got = Classifier.nbCrossValidate(withNull, "doc_id", "text", "lang", folds = 3)
      .select("fold", "n_test", "hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(0L, 1L, 2L)) // no NULL fold row
    // independent per-fold runs where the null-id doc ALWAYS trains
    val want = (0 until 3).map { f =>
      val train = withNull.filter(col("doc_id").isNull || col("doc_id") % 3 =!= f)
      val test = withNull.filter(col("doc_id") % 3 === f)
      val pred = Classifier.nbPredictWith(
          Classifier.nbTrain(train, "text", "lang"), test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
      f.toLong -> ((pred.count(), pred.filter(col("predicted") === col("lang")).count()))
    }.toMap
    assert(got == want)
  }

  test("CV exclusive-vocab: a token shared only with a null-fold doc is NOT fold-exclusive") {
    // "zzz" appears in fold-1 docs AND in the null-id doc. Removing fold
    // 1 must keep zzz in V (the null-id doc still trains it): if the
    // exclusive-vocab job read only the fold map's keys, fs = {1} would
    // wrongly shrink fold 1's V by one. The differential check against
    // per-fold independent runs pins the V arithmetic exactly.
    val docs = Seq(
      (null.asInstanceOf[java.lang.Long], "aa", "zzz w"),
      (java.lang.Long.valueOf(1L), "aa", "zzz x y"), // fold 1
      (java.lang.Long.valueOf(0L), "aa", "x y"),
      (java.lang.Long.valueOf(2L), "bb", "p q"),
      (java.lang.Long.valueOf(3L), "bb", "p q w"),
      (java.lang.Long.valueOf(4L), "aa", "x y"),
      (java.lang.Long.valueOf(5L), "bb", "q p")).toDF("doc_id", "lang", "text")
    val got = Classifier.nbCrossValidate(docs, "doc_id", "text", "lang", folds = 3)
      .select("fold", "n_test", "hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = (0 until 3).map { f =>
      val train = docs.filter(col("doc_id").isNull || col("doc_id") % 3 =!= f)
      val test = docs.filter(col("doc_id") % 3 === f)
      val pred = Classifier.nbPredictWith(
          Classifier.nbTrain(train, "text", "lang"), test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
      f.toLong -> ((pred.count(), pred.filter(col("predicted") === col("lang")).count()))
    }.toMap
    assert(got == want)
  }

  test("nbConfusion through the margins frame stays bit-equal to the nbPredict rollup") {
    val df = fixture.toDF("doc_id", "lang", "text")
    val viaMargins = Classifier.nbConfusion(df, "doc_id", "text", "lang", splitMod = 5)
      .as[(String, String, Long)].collect().toSet
    val viaPredict = Classifier.nbPredict(df, "doc_id", "text", "lang", splitMod = 5)
      .groupBy(col("label_true"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(viaMargins == viaPredict)
  }

  test("CV vocabulary subtraction: fold-exclusive tokens leave the other folds' V") {
    // token "qqq" appears ONLY in fold-0 docs; training for fold 0 must
    // therefore use V-1 — cross-check against the independent run above
    val docs = Seq(
      (0L, "aa", "qqq x y"), (3L, "aa", "qqq x"),
      (1L, "aa", "x y z"), (4L, "aa", "x z"),
      (2L, "bb", "p q r"), (5L, "bb", "p q")).toDF("doc_id", "lang", "text")
    val got = Classifier.nbCrossValidate(docs, "doc_id", "text", "lang", folds = 3)
      .select("fold", "n_test", "hits")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val want = (0 until 3).map { f =>
      val train = docs.filter(col("doc_id") % 3 =!= f)
      val test = docs.filter(col("doc_id") % 3 === f)
      val pred = Classifier.nbPredictWith(
          Classifier.nbTrain(train, "text", "lang"), test, "doc_id", "text")
        .join(test.select(col("doc_id"), col("lang")), "doc_id")
      f.toLong -> ((pred.count(), pred.filter(col("predicted") === col("lang")).count()))
    }.toMap
    assert(got == want)
  }
}
