package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-trained n-gram language-model scoring — the perplexity-style
  * quality signal of CCNet-like pipelines, re-expressed so the score is
  * BIT-EXACT across engines: the per-bigram log-likelihood log2
  * P(w2|w1) = log2 c(w1 w2) − log2 c(w1) is floored to integer BITS via
  * binary-string length (`length(bin(c)) − 1` = floor(log2 c) — exact
  * integer arithmetic in any engine, no libm, no float summation
  * order), and a document's score is the SUM of those integer bits.
  * Monotone-equivalent to a coarsely-quantized mean log-likelihood:
  * rank documents by `ll_bits / n_bigrams` and the low tail is exactly
  * the "surprising under the corpus LM" tail perplexity filtering
  * drops. `uniq_bigrams` (corpus-singleton bigrams) is the companion
  * novelty count.
  *
  * The model is trained ON the scored corpus itself (the CCNet
  * self-scoring shape), so every document bigram has count ≥ 1 and no
  * smoothing constant enters the contract. To score against a foreign
  * reference corpus, train counts there and left-join with a floor
  * count — the unseen-bigram penalty becomes `-bits(c(w1))`.
  *
  * Scale: two corpus-bounded count aggregations (vocabulary and bigram
  * vocabulary — df-bounded, far smaller than the corpus) and two
  * equi-joins that hash-partition on the token/bigram string. No
  * window, no driver-side state, no forced broadcast (the planner
  * broadcasts the count sides when they measure small — cf. the
  * tfidfTopTerms lesson: a forced hint is a hard failure on a
  * billion-row vocabulary). For 100 TB corpora the join keys can be
  * xxhash64-compressed to 8 bytes under the jaccard family's
  * collision contract; the string form keeps the oracle byte-exact.
  */
object LanguageModel {

  /** Bounded cache window for tokenized-corpus frames: the self-scoring
    * plan consumes its token arrays from THREE branches (unigram counts,
    * bigram counts, the per-doc scoring fan-out) and AQE's runtime stage
    * cache does not reuse their exchanges (the tfidf/bm25 r13 finding) —
    * without the cache the corpus is tokenized three times per run. */
  private val tokCacheWindow = new CacheWindows(4)

  /** Unpersist every tokenized frame this module holds (all sessions). */
  def releaseCaches(): Unit = tokCacheWindow.releaseAll()

  /** Per-document integer-bit bigram LM scores. Output columns:
    * `idCol`, `n_bigrams`, `ll_bits` (Σ floor(log2 c(w1w2)) −
    * floor(log2 c(w1)), ≤ 0), `uniq_bigrams` (corpus-singleton
    * bigram instances). Documents with < 2 tokens score (0, 0, 0). */
  def bigramBitScores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // persisted + eagerly materialized (the bm25/tfidf contract): one
    // tokenize scan feeds all three consumers below
    // widen a single-split scan before tokenizing: the cache (and every
    // exploding consumer below reading it) otherwise inherits one task
    // (Par.widen: no-op on a well-split corpus)
    val toks = tokCacheWindow.add(Par.widen(docs, col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk")))
    toks.count()

    // (doc, first token, bigram string) — one row per consecutive pair
    val bi = toks
      .select(col(idCol), explode(
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => struct(
              element_at(col("__tk"), i + 1).as("w1"),
              concat_ws(" ", element_at(col("__tk"), i + 1),
                element_at(col("__tk"), i + 2)).as("bg"))))
          .otherwise(array().cast("array<struct<w1:string,bg:string>>"))).as("__e"))
      .select(col(idCol), col("__e.w1").as("w1"), col("__e.bg").as("bg"))

    val uni = toks.select(explode(col("__tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val big = bi.groupBy("bg").agg(count(lit(1)).as("cb"))

    val bits = (c: org.apache.spark.sql.Column) => length(bin(c)) - 1
    val scored = bi
      .join(uni, bi("w1") === uni("tok"))
      .join(big, "bg")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((bits(col("cb")) - bits(col("cu"))).cast("long")).as("ll_bits"),
        sum(when(col("cb") === 1, 1L).otherwise(0L)).as("uniq_bigrams"))

    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("ll_bits"), lit(0L)).as("ll_bits"),
        coalesce(col("uniq_bigrams"), lit(0L)).as("uniq_bigrams"))
  }

  /** Score documents against a FOREIGN reference corpus — the header's
    * documented extension made concrete: counts are trained on `ref`,
    * scored docs LEFT-join them, and both counts floor at 1, so an
    * unseen bigram under a seen head costs exactly −bits(c(w1)) (the
    * stated penalty), an unseen head contributes 0, and the integer-bit
    * determinism contract is unchanged. `unseen_bigrams` /`oov_heads`
    * count those two miss classes per document — the domain-shift
    * signal next to the score itself.
    *
    * Same shape as [[bigramBitScores]]: two reference-bounded count
    * aggregations, two token-keyed equi-joins; the scored corpus never
    * shuffles more than its own bigrams. */
  def bigramBitScoresAgainst(ref: DataFrame, docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val toks = Par.widen(docs, col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__tk"))
    val bi = toks
      .select(col(idCol), explode(
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => struct(
              element_at(col("__tk"), i + 1).as("w1"),
              concat_ws(" ", element_at(col("__tk"), i + 1),
                element_at(col("__tk"), i + 2)).as("bg"))))
          .otherwise(array().cast("array<struct<w1:string,bg:string>>"))).as("__e"))
      .select(col(idCol), col("__e.w1").as("w1"), col("__e.bg").as("bg"))

    // widen on textCol — the ONLY column this function reads from ref
    // (keying on idCol silently required ref to carry it; ADVICE r18).
    // Persisted because the unigram and bigram count branches BOTH
    // consume the reference token arrays, and AQE's runtime stage cache
    // does not reuse their exchanges (the r13 tfidf finding) — uncached,
    // the reference corpus was tokenized TWICE per call. The persist is
    // lazy: the first action on the returned frame materializes it, and
    // the other branch reads the cached blocks. No eager count(): this
    // stays a plan builder, and a materializing action here would add a
    // whole reference tokenize job ahead of the query's own.
    val refToks = tokCacheWindow.add(Par.widen(ref, col(textCol))
      .select(TextAnalysis.tokens(col(textCol)).as("__tk")))
    val uni = refToks.select(explode(col("__tk")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cu"))
    val big = refToks
      .select(explode(
        when(size(col("__tk")) >= 2,
          transform(sequence(lit(0), size(col("__tk")) - 2),
            i => concat_ws(" ", element_at(col("__tk"), i + 1),
              element_at(col("__tk"), i + 2))))
          .otherwise(array().cast("array<string>"))).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("cb"))

    val bits = (c: org.apache.spark.sql.Column) => length(bin(c)) - 1
    val scored = bi
      .join(uni, bi("w1") === uni("tok"), "left")
      .join(big, Seq("bg"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sum((bits(coalesce(col("cb"), lit(1L))) -
          bits(coalesce(col("cu"), lit(1L)))).cast("long")).as("ll_bits"),
        sum(when(col("cb").isNull, 1L).otherwise(0L)).as("unseen_bigrams"),
        sum(when(col("cu").isNull, 1L).otherwise(0L)).as("oov_heads"))

    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("ll_bits"), lit(0L)).as("ll_bits"),
        coalesce(col("unseen_bigrams"), lit(0L)).as("unseen_bigrams"),
        coalesce(col("oov_heads"), lit(0L)).as("oov_heads"))
  }
}
