package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Approximation-quality evaluation — the tuning instrument for the
  * sketch-backed families (LSH/IVF ANN, SimHash/MinHash near-dup):
  * every approximate operator here trades recall for scale through a
  * config knob (planes × tables, bands × rows, cells probed, hamming
  * radius), and choosing the knob for a corpus means MEASURING the
  * approximation against the exact form on a sample. These operators
  * make that measurement a first-class, engine-exact report instead of
  * a notebook one-off.
  *
  * Everything is counting — outputs are BIGINT counts and integer
  * basis points (`x · 10⁴ div denom`), NULL where the denominator is
  * empty; no doubles cross the edge.
  */
object Eval {

  /** Per-query recall of an approximate top-k against the exact top-k:
    * (query_id, n_exact, n_hits, recall_bp) with recall_bp =
    * n_hits·10⁴ div n_exact. Frames are (query, neighbor) shaped —
    * [[Similarity.bruteForceTopK]] vs [[Similarity.lshTopK]] /
    * [[Similarity.ivfTopK]] outputs, or any ranked retrieval pair.
    *
    * Scale posture: one equi-join + one keyed aggregation on frames
    * already bounded by queries·k rows — the cost lives in producing
    * the inputs, not here. Queries the approximate side missed
    * entirely still report (n_hits = 0) because the exact side drives
    * the join. */
  def recallAtK(exact: DataFrame, approx: DataFrame,
                queryCol: String, nnCol: String): DataFrame = {
    val e = exact.select(col(queryCol).as("query_id"), col(nnCol).as("nn_id"))
    val a = approx.select(col(queryCol).as("query_id"), col(nnCol).as("nn_id"))
      .withColumn("__hit", lit(1L))
    e.join(a, Seq("query_id", "nn_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"),
        coalesce(sum("__hit"), lit(0L)).as("n_hits"))
      .withColumn("recall_bp", expr("n_hits * 10000L div n_exact"))
  }

  /** Recall@k decay under frozen-codebook append — the index-maintenance
    * instrument for [[Similarity.appendToIvfPqIndex]] (VERDICT r16
    * item 4): production IVF-PQ deployments carry a retrain trigger
    * because FAISS-`add()` appends never move centroids or codebooks, so
    * an appended batch drawn from a DRIFTED distribution lands in stale
    * cells and ADC distances quantize against codewords trained on data
    * that no longer looks like the corpus.
    *
    * Protocol: build the index on `build`, then append `batches` one at
    * a time; after the build and after every append, measure mean
    * recall@k of (a) the indexed ADC ranking and (b) the indexed+refined
    * ranking against the exact-cosine top-k over everything indexed so
    * far. Output one row per step:
    *
    *   (step INT — 0 = build-only, i = after batch i;
    *    n_indexed BIGINT; recall_indexed_bp BIGINT;
    *    recall_refined_bp BIGINT)
    *
    * recall bp = Σ hits · 10⁴ div Σ exact over the query set (the
    * [[recallAtK]] integer contract).
    *
    * Retrain rule this measures (documented, SimilaritySpec pins the
    * curve): an IID append holds recall ≈ flat — appends are free; a
    * drifted append shows monotone decay in recall_indexed_bp, and the
    * index owner retrains when the refined recall falls below the
    * build-time value by more than their recall budget. Note this
    * engine's build seeds centroids/codebooks deterministically from the
    * id-prefix (no Lloyd pass), so "retrain on the grown corpus" with
    * unchanged seed ids yields the SAME index as append — the decay
    * reference is the exact ground truth, not a retrained twin.
    *
    * Driver-side loop bounded by |batches| (an eval instrument over a
    * bounded query set, like the recall queries — each step is two
    * bounded ANN evals, not a corpus sweep). Append uses
    * `checkFreshIds = false`: the caller constructs disjoint batches by
    * contract, and the guard would add one code-table scan per step. */
  def ivfPqAppendDrift(build: DataFrame, batches: Seq[DataFrame],
                       queries: DataFrame, idCol: String, vecCol: String,
                       k: Int = 5, kPrime: Int = 40, nCentroids: Int = 16,
                       nProbe: Int = 4, m: Int = 4, codebookSize: Int = 16,
                       dims: Int = 64): DataFrame = {
    val spark = build.sparkSession
    var idx = Similarity.buildIvfPqIndex(build, idCol, vecCol,
      nCentroids, m, codebookSize, dims)
    var corpus = build.select(col(idCol), col(vecCol))
    def meanBp(exact: DataFrame, approx: DataFrame): Long =
      meanRecallBp(exact, approx)
    def stepRow(step: Int): org.apache.spark.sql.Row = {
      val exact = Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, k)
      val adc = Similarity.ivfPqTopKIndexed(idx, queries, idCol, vecCol,
        k, nProbe = nProbe)
      val refined = Similarity.ivfPqTopKIndexedRefined(idx, corpus, queries,
        idCol, vecCol, k, kPrime = kPrime, nProbe = nProbe)
      org.apache.spark.sql.Row(step, corpus.count(),
        meanBp(exact, adc), meanBp(exact, refined))
    }
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    rows.add(stepRow(0))
    batches.zipWithIndex.foreach { case (b, i) =>
      idx = Similarity.appendToIvfPqIndex(idx, b, idCol, vecCol,
        checkFreshIds = false)
      corpus = corpus.unionByName(b.select(col(idCol), col(vecCol)))
      rows.add(stepRow(i + 1))
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("n_indexed", LongType, nullable = false),
      StructField("recall_indexed_bp", LongType, nullable = false),
      StructField("recall_refined_bp", LongType, nullable = false))))
  }

  /** [[ivfPqAppendDrift]] extended with the retrain RESPONSE (VERDICT
    * r17 item 2 — the loop detect→decide→retrain→verify, closed): run
    * the frozen-codebook append protocol, then REBUILD via
    * [[Similarity.retrainIvfPqIndex]] over everything indexed — spread
    * seeds, possibly re-sized config (`retrain*` params; they default to
    * the build config so the two effects, re-seeding and re-sizing, can
    * be measured separately) — and measure the retrained index against
    * the same exact ground truth as the last append step.
    *
    * Output: the [[ivfPqAppendDrift]] row shape plus a leading `phase`
    * column — 'build' (step 0), 'append' (steps 1..|batches|), 'retrain'
    * (step |batches|+1, same n_indexed as the last append step: retrain
    * changes the INDEX, not the corpus). Recovery = the retrain row's
    * recall_indexed_bp rising back toward (or past) the build row's
    * after the append rows decayed — pinned exactly in SimilaritySpec on
    * the drifted arm, and measured at the 100× replica on the
    * saturated-config arm (16-bit codes → 48-bit retrain), recorded in
    * SCALE.md's Round-18 retrain-response entry. */
  def ivfPqRetrainRecovery(build: DataFrame, batches: Seq[DataFrame],
                           queries: DataFrame, idCol: String, vecCol: String,
                           k: Int = 5, kPrime: Int = 40, nCentroids: Int = 16,
                           nProbe: Int = 4, m: Int = 4, codebookSize: Int = 16,
                           dims: Int = 64,
                           retrainNCentroids: Int = -1, retrainM: Int = -1,
                           retrainCodebookSize: Int = -1,
                           retrainNProbe: Int = -1,
                           retrainKPrime: Int = -1): DataFrame = {
    val spark = build.sparkSession
    val rnc = if (retrainNCentroids > 0) retrainNCentroids else nCentroids
    val rm = if (retrainM > 0) retrainM else m
    val rcb = if (retrainCodebookSize > 0) retrainCodebookSize else codebookSize
    val rnp = if (retrainNProbe > 0) retrainNProbe else nProbe
    val rkp = if (retrainKPrime > 0) retrainKPrime else kPrime
    var idx = Similarity.buildIvfPqIndex(build, idCol, vecCol,
      nCentroids, m, codebookSize, dims)
    var corpus = build.select(col(idCol), col(vecCol))
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    def addRow(step: Int, phase: String, theIdx: Similarity.IvfPqIndex,
               probeN: Int, kP: Int): Unit = {
      val exact = Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, k)
      val adc = Similarity.ivfPqTopKIndexed(theIdx, queries, idCol, vecCol,
        k, nProbe = probeN)
      val refined = Similarity.ivfPqTopKIndexedRefined(theIdx, corpus, queries,
        idCol, vecCol, k, kPrime = kP, nProbe = probeN)
      rows.add(org.apache.spark.sql.Row(step, phase, corpus.count(),
        meanRecallBp(exact, adc), meanRecallBp(exact, refined)))
    }
    addRow(0, "build", idx, nProbe, kPrime)
    batches.zipWithIndex.foreach { case (b, i) =>
      idx = Similarity.appendToIvfPqIndex(idx, b, idCol, vecCol,
        checkFreshIds = false)
      corpus = corpus.unionByName(b.select(col(idCol), col(vecCol)))
      addRow(i + 1, "append", idx, nProbe, kPrime)
    }
    val retrained = Similarity.retrainIvfPqIndex(corpus, idCol, vecCol,
      rnc, rm, rcb, dims)
    addRow(batches.size + 1, "retrain", retrained, rnp, rkp)
    import org.apache.spark.sql.types._
    spark.createDataFrame(rows, StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("phase", StringType, nullable = false),
      StructField("n_indexed", LongType, nullable = false),
      StructField("recall_indexed_bp", LongType, nullable = false),
      StructField("recall_refined_bp", LongType, nullable = false))))
  }

  /** Corpus-level mean recall in bp (Σ hits · 10⁴ div Σ exact — the
    * [[recallAtK]] integer contract), −1 on an empty exact set. Shared
    * by the drift and retrain-recovery instruments. */
  private def meanRecallBp(exact: DataFrame, approx: DataFrame): Long = {
    val r = recallAtK(exact, approx, "query_id", "nn_id")
      .agg(sum("n_hits").as("h"), sum("n_exact").as("e"))
      .select(expr("h * 10000L div e")).collect()(0)
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  /** One-row precision/recall/F1 of a predicted pair set against a
    * truth pair set (canonical `i < j` orientation on both sides, as
    * every `*Pairs` operator in [[Dedup]] emits): (n_truth, n_pred,
    * tp, fp, fn, precision_bp, recall_bp, f1_bp), the bp columns NULL
    * when their denominator is zero (no predictions / no truth).
    *
    * Scale posture: ONE full-outer join on the 8-byte pair keys + one
    * global aggregation of the marker columns — pair frames are the
    * small output of the dedup sweeps, and the single-partition
    * exchange above the global agg carries one partial row per task. */
  def pairConfusion(truth: DataFrame, predicted: DataFrame,
                    iCol: String, jCol: String): DataFrame = {
    val t = truth.select(col(iCol).as("i"), col(jCol).as("j"))
      .withColumn("__t", lit(1L))
    val p = predicted.select(col(iCol).as("i"), col(jCol).as("j"))
      .withColumn("__p", lit(1L))
    t.join(p, Seq("i", "j"), "full_outer")
      .agg(
        coalesce(sum(when(col("__t").isNotNull && col("__p").isNotNull, 1L)),
          lit(0L)).as("tp"),
        coalesce(sum(when(col("__t").isNull && col("__p").isNotNull, 1L)),
          lit(0L)).as("fp"),
        coalesce(sum(when(col("__t").isNotNull && col("__p").isNull, 1L)),
          lit(0L)).as("fn"))
      .select(
        (col("tp") + col("fn")).as("n_truth"),
        (col("tp") + col("fp")).as("n_pred"),
        col("tp"), col("fp"), col("fn"),
        when(col("tp") + col("fp") === 0L, lit(null).cast("long"))
          .otherwise(expr("tp * 10000L div (tp + fp)")).as("precision_bp"),
        when(col("tp") + col("fn") === 0L, lit(null).cast("long"))
          .otherwise(expr("tp * 10000L div (tp + fn)")).as("recall_bp"),
        when(lit(2L) * col("tp") + col("fp") + col("fn") === 0L,
          lit(null).cast("long"))
          .otherwise(expr("2L * tp * 10000L div (2L * tp + fp + fn)"))
          .as("f1_bp"))
  }
}
