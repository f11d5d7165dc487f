package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Train/eval contamination detection — the decontamination sweep every
  * serious training corpus runs before a model sees it: find training
  * documents whose word n-grams cover a large fraction of some eval
  * document's n-grams.
  *
  * The score is *containment* — |S(eval) ∩ S(train)| / |S(eval)| — not
  * symmetric Jaccard: a short eval prompt fully quoted inside a long
  * training page is 100% contaminated even though the pair's Jaccard is
  * tiny. (Same shape as the n-gram-overlap decontamination described in
  * the GPT-3/PaLM appendices — public methodology.)
  *
  * Scale posture: a *bipartite* inverted shingle-hash index join — never
  * an |eval| × |train| cross join. Cost is Σ_shingle df_eval · df_train,
  * and the eval side is tiny relative to the corpus (benchmarks, not the
  * 100 TB crawl), so candidate generation is bounded by the eval side's
  * index. A caller holding a once-built eval sketch ([[evalFilterBytes]])
  * also drops definite non-member train shingles before the exchange.
  */
object Contamination {

  // both sides pay a per-character shingle-hash pass — widen a
  // single-split scan to session parallelism first (Par.widen: no-op on
  // a well-split corpus; the passageWins parallelism fix)
  private def index(docs: DataFrame, side: String, idCol: String,
                    textCol: String, n: Int) = Par.widen(docs, col(idCol)).select(
    col(idCol).as(s"${side}_id"),
    explode(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
      .as("shash"))

  private def sizes(eval: DataFrame, idCol: String, textCol: String, n: Int) =
    Par.widen(eval, col(idCol)).select(col(idCol).as("eval_id"),
      size(graft.functions.ShingleHashes.shingleHashes(col(textCol), n))
        .as("n_eval"))

  private def score(common: DataFrame, evalSizes: DataFrame,
                    threshold: Double) =
    common.join(evalSizes, "eval_id")
      .withColumn("containment", col("common") * lit(1.0) / col("n_eval"))
      .filter(col("containment") >= threshold)
      .select("eval_id", "train_id", "containment")

  /** False-positive rate of [[evalFilterBytes]]'s sketch: it tunes the
    * train-side shuffle volume, never the rows. */
  private val Fpp = 0.01

  /** (eval_id, train_id, containment) for every cross pair with
    * containment ≥ threshold. Shingle hashing/distinctness matches
    * [[Dedup.jaccardPairs]] (xxhash64'd word n-grams — 8-byte shuffle
    * keys). Eval docs with fewer than `n` tokens have no shingles and
    * produce no pairs. LAZY: no Spark job runs until the caller's action.
    *
    * With `evalFilter` (a sketch from [[evalFilterBytes]]) the train-side
    * index is BLOOM-REDUCED at the scan — the decontamination shape that
    * fits a 100 TB corpus. The exact form shuffles EVERY training shingle
    * into the bipartite join even though almost none match (eval sets are
    * benchmarks — a few million shingles against trillions); with the
    * sketch riding into the train-side scan via
    * [[graft.functions.BloomMightContain]], definite non-members — the
    * overwhelming majority — drop BEFORE the exchange, so train-side
    * shuffle volume falls from |corpus shingles| to
    * |true matches| + fpp·|corpus shingles|.
    *
    * The rows are the same with or without the filter: a Bloom filter has
    * no false negatives, and a false positive's shingle hash does not
    * exist on the eval side of the equi-join, so every FP dies in the
    * exact join it was admitted to. The sketch is built once per eval
    * suite, not per call: its two eval walks (sizing + build) amortize
    * only across many train sides or batches against one fixed suite
    * (SCALE.md: 2× win at x30/x100 fixed-eval, a measured LOSS when built
    * per call at the balanced sf0.1 split). */
  def containmentPairs(train: DataFrame, eval: DataFrame, idCol: String,
                       textCol: String, n: Int = 3,
                       threshold: Double = 0.5,
                       evalFilter: Option[Array[Byte]] = None): DataFrame = {
    val evalIdx = index(eval, "eval", idCol, textCol, n)
    val trainIdx0 = index(train, "train", idCol, textCol, n)
    val trainIdx = evalFilter.fold(trainIdx0)(bytes => trainIdx0.filter(
      graft.functions.BloomMightContain.mightContain(col("shash"), bytes)))
    val common = evalIdx.join(trainIdx, "shash")
      .groupBy("eval_id", "train_id").agg(count(lit(1)).as("common"))
    score(common, sizes(eval, idCol, textCol, n), threshold)
  }

  /** Serialized Bloom sketch of `eval`'s shingle hashes — the
    * `evalFilter` of [[containmentPairs]], built once per fixed eval suite
    * (the streaming gate's shape: build at stream start, probe every
    * micro-batch). EAGER, two jobs: one approx_count_distinct (±2%,
    * padded 1.25×) sizes the filter, then one treeAggregate builds it over
    * the RAW eval index (duplicate inserts are idempotent, and a distinct()
    * would cost the very shuffle the sketch exists to avoid). Undersizing
    * degrades fpp, never rows. */
  def evalFilterBytes(eval: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): Array[Byte] = {
    val evalIdx = index(eval, "eval", idCol, textCol, n)
    val expected = math.max((evalIdx.agg(approx_count_distinct(col("shash")))
      .head.getLong(0) * 1.25).toLong, 1L)
    BloomJoin.buildFilter(evalIdx.select("shash"), "shash", expected, Fpp)
  }

  /** Per-eval-document verdict: the worst (max-containment) offending
    * train doc, ties broken by min train id; eval docs with no pair over
    * the threshold report containment 0.0 and a NULL offender — so the
    * output is a complete audit table over the eval set, one row each. */
  def evalSummary(eval: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    // rank-based worst-offender pick: orders by (containment desc, id asc)
    // without negating the id, so string doc ids (the common corpus case)
    // work as well as numeric ones. The window partitions by eval_id —
    // per-group, never global, and bounded by that doc's candidate count.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("eval_id")
      .orderBy(col("containment").desc, col("train_id").asc)
    val worst = pairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eval_id"), col("containment").as("max_containment"),
        col("train_id").as("worst_train_id"))
    eval.select(col(idCol).as("eval_id"))
      .join(worst, Seq("eval_id"), "left")
      .select(col("eval_id"),
        coalesce(col("max_containment"), lit(0.0)).as("max_containment"),
        col("worst_train_id"),
        col("max_containment").isNotNull.as("contaminated"))
  }
}
