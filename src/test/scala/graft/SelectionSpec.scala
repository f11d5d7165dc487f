package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.ops.Selection

class SelectionSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  // a corpus where the 'en' target speaks tokens {tq,uq,vq} and the
  // raw remainder speaks {xq,yq,zq}: DSIR must pull the target-speaking
  // candidates up and push the off-target ones down
  private def synth = Seq(
    (1L, "tq uq vq tq uq", "en"), (2L, "tq vq uq vq tq", "en"),
    (3L, "uq tq vq uq", "en"),
    (4L, "xq yq zq xq", "xx"), (5L, "yq zq xq yq zq", "xx"),
    (6L, "zq xq yq", "xx"),
    (7L, "tq uq vq", "xx"),   // target-like text, raw label
    (8L, "xq yq zq", "en")    // off-target text, target label
  ).toDF("doc_id", "text", "lang")

  test("dsirWeights pulls target-like text above off-target text") {
    val w = Selection.dsirWeights(synth, "doc_id", "text",
        col("lang") === "en", buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // doc 7 (target-sounding) must outweigh doc 4/5/6 (off-target tokens)
    assert(w(7L) > w(4L) && w(7L) > w(5L) && w(7L) > w(6L),
      s"target-like doc must score higher: $w")
    // and doc 8's off-target text scores below its target-speaking peers
    assert(w(8L) < w(1L), s"off-target text must score lower: $w")
  }

  test("dsirWeights: empty text weighs 0 with 0 grams; all docs present") {
    val withEmpty = synth.union(Seq((9L, "", "xx")).toDF("doc_id", "text", "lang"))
    val w = Selection.dsirWeights(withEmpty, "doc_id", "text",
      col("lang") === "en", buckets = 256).collect()
    assert(w.length == 9, "left-join repair keeps every doc")
    val empty = w.find(_.getLong(0) == 9L).get
    assert(empty.getLong(1) == 0L && empty.getLong(2) == 0L)
  }

  test("dsirSelectTopN returns exactly the n heaviest docs") {
    val all = Selection.dsirWeights(synth, "doc_id", "text",
        col("lang") === "en", buckets = 256)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val expect = all.sortBy { case (id, bits) => (-bits, id) }.take(3)
      .map(_._1).toSet
    val got = Selection.dsirSelectTopN(synth, "doc_id", "text",
        col("lang") === "en", n = 3, buckets = 256)
      .collect().map(_.getLong(0)).toSet
    assert(got == expect)
  }

  test("dsirGate against a persisted feature table matches dsirWeights") {
    val table = Selection.dsirFeatureTable(synth, "doc_id", "text",
      col("lang") === "en", buckets = 256)
    val w = Selection.dsirWeights(synth, "doc_id", "text",
        col("lang") === "en", buckets = 256)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val cut = w(7L) // everything weighing >= doc 7 passes
    val gated = Selection.dsirGate(synth, "doc_id", "text", table, cut)
      .collect().map(_.getLong(0)).toSet
    val expect = w.filter(_._2 >= cut).keySet
    assert(gated == expect, s"gate=$gated expect=$expect weights=$w")
  }

  test("dsirGate scores unseen-bucket grams through smoothing (no crash)") {
    val table = Selection.dsirFeatureTable(synth, "doc_id", "text",
      col("lang") === "en", buckets = 256)
    // entirely new vocabulary: every gram may miss the table
    val fresh = Seq((100L, "wq oq pq")).toDF("doc_id", "text")
    val out = Selection.dsirGate(fresh, "doc_id", "text", table,
      minBits = Long.MinValue)
    assert(out.count() == 1)
  }

  test("dsirIndexFrame + dsirWeightsFromIndex == dsirWeights, bit for bit " +
    "(the persisted-index equivalence, r17)") {
    val direct = Selection.dsirWeights(synth, "doc_id", "text",
      col("lang") === "en", buckets = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // round-trip through parquet like a real deployment would
    val path = java.nio.file.Files.createTempDirectory("dsir-idx").toString
    Selection.dsirIndexFrame(synth, "doc_id", "text",
      col("lang") === "en", buckets = 64).write.mode("overwrite").parquet(path)
    val reloaded = spark.read.parquet(path)
    val indexed = Selection.dsirWeightsFromIndex(reloaded,
      synth.select("doc_id"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(indexed == direct)
    // zero-gram repair still rides docIds, not the index: a doc id absent
    // from the index (no grams) must still report (0, 0)
    val extra = Selection.dsirWeightsFromIndex(reloaded,
      Seq(1L, 99L).toDF("doc_id"), "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(extra.exists(_ == (99L, 0L, 0L)))
  }

  test("dsirSelectTopNFromIndex == dsirSelectTopN through a parquet " +
    "round-trip (the last DSIR family member indexed, r18)") {
    val direct = Selection.dsirSelectTopN(synth, "doc_id", "text",
      col("lang") === "en", n = 3, buckets = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("dsir-idx-topn").toString
    Selection.dsirIndexFrame(synth, "doc_id", "text",
      col("lang") === "en", buckets = 64).write.mode("overwrite").parquet(path)
    val indexed = Selection.dsirSelectTopNFromIndex(
      spark.read.parquet(path), synth.select("doc_id"), "doc_id", n = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(indexed == direct)
    assert(indexed.size == 3)
  }

  test("dsirWeightsFromIndex fails loudly on an empty/NULL-arity index") {
    val empty = spark.emptyDataFrame
      .withColumn("doc_id", lit(0L)).withColumn("is_target", lit(true))
      .withColumn("f", lit(0L)).withColumn("c", lit(0L))
      .withColumn("n_buckets", lit(0L)).filter(lit(false))
    val nullArity = Seq((1L, true, 0L, 1L, Option.empty[Long]))
      .toDF("doc_id", "is_target", "f", "c", "n_buckets")
    for (index <- Seq(empty, nullArity)) {
      // the arity is read inside the plan: the build succeeds, the action fails
      val df = Selection.dsirWeightsFromIndex(index, synth.select("doc_id"), "doc_id")
      val ex = intercept[Exception](df.collect())
      val messages = Iterator.iterate[Throwable](ex)(_.getCause)
        .takeWhile(_ != null).map(e => String.valueOf(e.getMessage))
      assert(messages.exists(_.contains("dsirIndexFrame")), ex)
    }
  }

  // the edges the builders must agree on: zero-gram, null-text,
  // whitespace-only and single-token docs, a null lang (counted as raw),
  // a null id and a duplicated id
  private def edges = Seq[(Option[Long], Option[String], Option[String])](
    (Some(1L), Some("tq uq vq tq"), Some("en")),
    (Some(2L), Some(""), Some("en")),
    (Some(3L), None, Some("xx")),
    (Some(4L), Some("   "), Some("en")),
    (Some(5L), Some("solo"), Some("en")),
    (Some(6L), Some("xq yq zq xq"), None),
    (None, Some("tq xq"), Some("en")),
    (Some(7L), Some("yq tq"), Some("xx")),
    (Some(7L), Some("uq  uq vq"), Some("en")),
    (Some(8L), Some("zq yq xq"), Some("xx"))
  ).toDF("doc_id", "text", "lang")

  private val tgt = col("lang") === "en"

  /** Each DSIR builder and its [[SelectionReference]] form agree on
    * `corpus`, schema and rows; with `indexed`, so do the two index-path
    * builders over a parquet-reloaded index. */
  private def assertSameAsReference(corpus: DataFrame, buckets: Int,
                                    indexed: Boolean = true): Unit = {
    import SelectionReference.contents
    val pairs = Seq(
      Selection.dsirWeights(corpus, "doc_id", "text", tgt, buckets) ->
        SelectionReference.dsirWeights(corpus, "doc_id", "text", tgt, buckets),
      Selection.dsirSelectTopN(corpus, "doc_id", "text", tgt, 3, buckets) ->
        SelectionReference.dsirSelectTopN(corpus, "doc_id", "text", tgt, 3, buckets),
      Selection.dsirFeatureTable(corpus, "doc_id", "text", tgt, buckets) ->
        SelectionReference.dsirFeatureTable(corpus, "doc_id", "text", tgt, buckets))
    val indexPairs = if (!indexed) Nil else {
      val path = java.nio.file.Files.createTempDirectory("dsir-ref").toString
      Selection.dsirIndexFrame(corpus, "doc_id", "text", tgt, buckets)
        .write.mode("overwrite").parquet(path)
      val index = spark.read.parquet(path)
      val ids = corpus.select("doc_id")
      Seq(
        Selection.dsirWeightsFromIndex(index, ids, "doc_id") ->
          SelectionReference.dsirWeightsFromIndex(index, ids, "doc_id"),
        Selection.dsirSelectTopNFromIndex(index, ids, "doc_id", 3) ->
          SelectionReference.dsirSelectTopNFromIndex(index, ids, "doc_id", 3))
    }
    for (((got, want), i) <- (pairs ++ indexPairs).zipWithIndex)
      assert(contents(got) == contents(want), s"builder $i")
  }

  test("every DSIR builder equals its reference form: fixture, edges, " +
       "empty corpus, one bucket") {
    assertSameAsReference(docs, 1024)
    assertSameAsReference(synth, 64)
    assertSameAsReference(edges, 256)
    assertSameAsReference(edges, 1)
    assertSameAsReference(edges.where(lit(false)), 256, indexed = false)
  }

  /** Jobs this thread launches inside `f`. A marker job after `f`
    * flushes the listener queue, so no job of `f` is missed. */
  private def jobsOf(f: => Unit): Int = {
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("graft.test.probe")) match {
          case Some(`tag`) => jobs.incrementAndGet()
          case Some(m) if m == s"$tag-marker" => flushed.countDown()
          case _ => ()
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.test.probe", tag)
      try f finally sc.setLocalProperty("graft.test.probe", s"$tag-marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.probe", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("every DSIR builder launches no job") {
    val path = java.nio.file.Files.createTempDirectory("dsir-lazy").toString
    Selection.dsirIndexFrame(docs, "doc_id", "text", tgt, 1024)
      .write.mode("overwrite").parquet(path)
    val index = spark.read.parquet(path)
    val ids = docs.select("doc_id")
    // the probe sees the reference's eager first()
    assert(jobsOf(SelectionReference.dsirWeightsFromIndex(index, ids, "doc_id")) > 0)
    val builders = Seq[(String, () => DataFrame)](
      "dsirWeights" -> (() => Selection.dsirWeights(docs, "doc_id", "text", tgt)),
      "dsirSelectTopN" -> (() => Selection.dsirSelectTopN(docs, "doc_id", "text", tgt, 50)),
      "dsirFeatureTable" -> (() => Selection.dsirFeatureTable(docs, "doc_id", "text", tgt)),
      "dsirIndexFrame" -> (() => Selection.dsirIndexFrame(docs, "doc_id", "text", tgt)),
      "dsirWeightsFromIndex" -> (() => Selection.dsirWeightsFromIndex(index, ids, "doc_id")),
      "dsirSelectTopNFromIndex" ->
        (() => Selection.dsirSelectTopNFromIndex(index, ids, "doc_id", 50)))
    for ((name, build) <- builders)
      assert(jobsOf(build()) == 0, s"$name launched a job while building")
  }

  test("dsirWeights explodes the text once and persists nothing") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = Selection.dsirWeights(docs, "doc_id", "text", tgt)
    df.collect()
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    assert(helper.collectWithSubqueries(plan) { case g: GenerateExec => g }.size == 1, plan)
    assert(helper.collectWithSubqueries(plan) { case s: InMemoryTableScanExec => s }.isEmpty, plan)
    assert(df.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("gramCount equals the exploded gram count on edge texts, ANSI on and off") {
    val texts = Seq[Option[String]](Some(""), None, Some("   "), Some("one"),
        Some("two words"), Some("  lead and trail  "), Some("a  b   c"),
        Some("x x x x"), Some("tab\tis not a break"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    try for (ansi <- Seq("true", "false")) {
      spark.conf.set(key, ansi)
      val exploded = SelectionReference.grams(texts, "doc_id", "text", 64)
        .groupBy("doc_id").agg(count(lit(1)).as("exploded"))
      val rows = texts.join(exploded, Seq("doc_id"), "left")
        .select(col("doc_id"), Selection.gramCount(col("text")).cast("long"),
          coalesce(col("exploded"), lit(0L)))
        .collect()
      assert(rows.length == 9)
      rows.foreach(r => assert(r.getLong(1) == r.getLong(2), s"ansi=$ansi: $r"))
    } finally spark.conf.set(key, prev)
  }

  test("buckets bound is enforced") {
    val ex = intercept[IllegalArgumentException] {
      Selection.dsirWeights(synth, "doc_id", "text",
        col("lang") === "en", buckets = 0)
    }
    assert(ex.getMessage.contains("buckets"))
  }

  test("fixture run is deterministic and fully integer-typed") {
    def run() = Selection.dsirWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 1024)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val a = run()
    assert(a == run())
    assert(a.nonEmpty && a.exists(_._3 != 0L), "weights must discriminate")
  }
}
