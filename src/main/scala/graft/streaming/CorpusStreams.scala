package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.TextAnalysis

/** Streaming ingestion against a STATIC corpus — the stream-static join
  * family (the third join mode next to batch and stream-stream): a
  * landing stream of documents is filtered against the existing corpus
  * without any stream-side state beyond the running micro-batch, because
  * the static side is just a DataFrame Spark re-plans per batch.
  *
  * Scale posture: the corpus side reduces to a distinct fingerprint
  * column (8 bytes/doc, prunable scan); the join is stream-static
  * left-anti, so each micro-batch shuffles only its own rows. The
  * fingerprint is the codegen'd polynomial hash — stateless per row. */
object CorpusStreams {

  /** Drop stream documents whose exact text fingerprint already appears
    * in the static corpus (exact-dup ingestion gate). Identical plan on
    * batch input — the batch result is the contract the streaming spec
    * asserts against. */
  def dedupAgainstCorpus(stream: DataFrame, corpus: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val known = corpus
      .select(TextAnalysis.fingerprint(col(textCol)).as("__fp")).distinct()
    stream
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .join(known, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Drop documents whose embedding is a cosine near-dup of the static
    * corpus — the SEMANTIC ingestion gate next to [[dedupAgainstCorpus]]'s
    * exact one, and the streaming face of
    * [[graft.ops.Dedup.cosineCrossPairsIndexed]]: the corpus side is a
    * prebuilt [[graft.ops.Dedup.EmbeddingIndex]] (bucketed once,
    * persisted, appended per accepted batch — never re-bucketed per
    * micro-batch), the incoming rows bucket themselves statelessly, and
    * a left-anti join removes rows sharing a (table, bucket) with a
    * corpus vector whose true cosine clears the threshold.
    *
    * Streaming contract: apply INSIDE `foreachBatch` (the
    * [[EventStreams.sinkBatches]] bridge) — the micro-batch arrives as a
    * plain batch frame, so the candidate `distinct` and the final anti
    * join are ordinary batch operators there. A direct streaming plan is
    * impossible by construction: the anti join's right side derives from
    * the stream itself, and Structured Streaming supports no stream-stream
    * anti join — which is fine, because per-micro-batch batch semantics
    * is exactly how incremental ingest runs in production (gate the
    * batch, append survivors to the index, repeat). Shuffled volume per
    * batch is the batch's own buckets plus candidate verifies —
    * |batch|-proportional, like every gate in this file. */
  def dedupAgainstEmbeddings(stream: DataFrame, corpus: graft.ops.Dedup.EmbeddingIndex,
                             idCol: String, vecCol: String,
                             threshold: Double = 0.95): DataFrame = {
    val dupIds = graft.ops.Dedup
      .cosineCrossPairsIndexed(corpus, stream, idCol, vecCol, threshold)
      .select(col("vec_j").as(idCol)).distinct()
    stream.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[dedupAgainstEmbeddings]] with the corpus side held as a
    * [[graft.ops.Similarity.PqIndex]] instead of raw bucketed vectors —
    * the gate for corpora where even the bucketed embedding index is too
    * large to keep resident. Memory math at 100 TB of raw embeddings
    * (64-dim float ≈ 256 B/vector): the PQ code table carries m=4 small
    * ints ≈ 4–8 B/vector — a 32–64× reduction — so the per-batch scan
    * side is ~1.6–3 TB of codes streamed map-side against a BROADCAST
    * per-batch LUT (|batch|·m·codebookSize tiny rows), with no raw-vector
    * pass at gate time at all (the one raw pass happened at
    * `buildPqIndex` encode time).
    *
    * A stream row is dropped when its nearest ADC neighbor sits within
    * `maxAdcDist` (L2² in codebook space — calibrate against
    * `q_eval_pq_recall`-style replays; ADC distances are approximations,
    * so this gate trades the exact-cosine semantics of
    * [[dedupAgainstEmbeddings]] for the 64× memory cut). Stream ids must
    * be FRESH (not present in the index): the ADC ranker excludes
    * self-id matches, so re-ingesting an id already encoded in the index
    * would mask its own duplicate.
    *
    * Same `foreachBatch` contract as every gate here; the gate is
    * stateless given a fixed index, so two micro-batches ≡ the one-shot
    * batch gate (StreamingSpec pins it). */
  def dedupAgainstPqIndex(stream: DataFrame,
                          index: graft.ops.Similarity.PqIndex,
                          idCol: String, vecCol: String,
                          maxAdcDist: Double,
                          maxQueries: Long = 10000L): DataFrame = {
    val dupIds = graft.ops.Similarity
      .pqTopKIndexed(index, stream, idCol, vecCol, k = 1,
        maxQueries = maxQueries)
      .filter(col("adist") <= maxAdcDist)
      .select(col("query_id").as(idCol)).distinct()
    stream.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[dedupAgainstPqIndex]] over the IVF-PQ composite: each batch row
    * probes only its `nProbe` nearest cells, so the per-batch ADC join
    * touches ~nProbe/nCentroids of the code table instead of all of it
    * — the gate for corpora where even a full code-table scan per
    * micro-batch is too much. Recall caveat ON TOP of the ADC
    * approximation: a duplicate whose code rows live outside the probed
    * cells is missed (same trade as any IVF query; size nProbe against
    * `q_eval_*` replays). Composes with
    * [[graft.ops.Similarity.appendToIvfPqIndex]] for the
    * gate → append → gate ingest loop. */
  def dedupAgainstIvfPqIndex(stream: DataFrame,
                             index: graft.ops.Similarity.IvfPqIndex,
                             idCol: String, vecCol: String,
                             maxAdcDist: Double, nProbe: Int = 4,
                             maxQueries: Long = 10000L): DataFrame = {
    val dupIds = graft.ops.Similarity
      .ivfPqTopKIndexed(index, stream, idCol, vecCol, k = 1,
        nProbe = nProbe, maxQueries = maxQueries)
      .filter(col("adist") <= maxAdcDist)
      .select(col("query_id").as(idCol)).distinct()
    stream.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Drop stream documents CONTAMINATED by a fixed eval suite — the
    * "never train on the benchmark" ingestion gate, the streaming face of
    * [[graft.ops.Contamination.containmentPairs]]: a document is dropped
    * when its shingles cover ≥ `threshold` of ANY eval doc's shingles.
    *
    * Same `foreachBatch` contract as [[dedupAgainstEmbeddings]] (the
    * containment groupBy and the anti join's stream-derived right side
    * rule out a direct streaming plan; per-micro-batch batch semantics is
    * how ingest gates run anyway). Per-batch cost is |batch|-proportional:
    * the eval side is a fixed artifact, and with `evalFilter` (prebuild
    * ONCE at stream start via
    * [[graft.ops.Contamination.evalFilterBytes]]) each batch's
    * non-matching shingles — the overwhelming majority — drop at the scan
    * with zero per-batch build jobs. Filter or not, the surviving rows are
    * identical (FPs die in the exact containment join). */
  def contaminationGate(stream: DataFrame, eval: DataFrame, idCol: String,
                        textCol: String = "text", n: Int = 3,
                        threshold: Double = 0.5,
                        evalFilter: Option[Array[Byte]] = None): DataFrame = {
    val pairs = graft.ops.Contamination.containmentPairs(
      stream, eval, idCol, textCol, n, threshold, evalFilter)
    stream.join(pairs.select(col("train_id").as(idCol)).distinct(),
      Seq(idCol), "left_anti")
  }

  /** Drop stream documents sharing at least `minShared` anchored passage
    * windows with the static corpus — the streaming face of
    * [[graft.ops.Dedup.passageCrossPairsIndexed]], catching the long
    * verbatim quote / boilerplate reuse that the fingerprint gate
    * ([[dedupAgainstCorpus]], whole-text only) and the semantic gate miss.
    *
    * Same `foreachBatch` contract as the other index-backed gates: the
    * corpus side is a [[graft.ops.Dedup.PassageIndex]] built once,
    * persisted, appended per accepted batch; each micro-batch extracts
    * its own window hashes statelessly and anti-joins away the flagged
    * ids — |batch|-proportional work. `maxDf` prunes corpus-boilerplate
    * windows exactly as in the batch form. */
  def passageGate(stream: DataFrame, corpus: graft.ops.Dedup.PassageIndex,
                  idCol: String, textCol: String = "text",
                  minShared: Long = 1L,
                  maxDf: Option[Int] = None): DataFrame = {
    val flagged = graft.ops.Dedup
      .passageCrossPairsIndexed(corpus, stream, idCol, textCol, maxDf)
      .filter(col("shared_passages") >= minShared)
      .select(col("doc_j").as(idCol)).distinct()
    stream.join(flagged, Seq(idCol), "left_anti")
  }

  /** Stateless streaming quality gate: the same fused corpus-filter
    * predicates (length floor, quality score, repetition cap, PII-free)
    * applied per micro-batch row — no state, no watermark needed. */
  def qualityGate(stream: DataFrame, textCol: String = "text",
                  minTokens: Int = 20, minQuality: Double = 0.2,
                  maxDup3: Double = 0.1): DataFrame = {
    val t = col(textCol)
    val flags = TextAnalysis.contentFlags(t).toMap
    stream.filter(size(TextAnalysis.tokens(t)) >= minTokens &&
      TextAnalysis.qualityScore(t) > minQuality &&
      TextAnalysis.dupGramFraction(t, 3) <= maxDup3 &&
      !flags("has_url") && !flags("has_email"))
  }

  /** Attach the pre-trained NB classifier's prediction to each stream
    * document — the model-based routing/labeling stage of a streaming
    * ingest (language routing, quality-tier tagging). The model is a
    * FIXED [[graft.ops.Classifier.NbModel]] (train once on the curated
    * corpus; [[graft.ops.Classifier.loadNbModel]] opens the published model
    * artifact at stream start); scoring is [[graft.ops.Classifier.nbPredictWith]]'s
    * exact plan, so batch and per-micro-batch results are identical by construction.
    *
    * Same `foreachBatch` contract as the index-backed gates: the
    * per-document argmax aggregation groups on a stream-derived key and
    * the prediction joins back to the stream side, so a direct streaming
    * plan can't exist — and per-micro-batch batch semantics is how a
    * labeling stage runs anyway. Per-batch cost: one token-level inner
    * join against the model's (cls, tok) table, |batch|-proportional. */
  def classifyBatch(stream: DataFrame, model: graft.ops.Classifier.NbModel,
                    idCol: String, textCol: String = "text"): DataFrame =
    stream.join(
      graft.ops.Classifier.nbPredictWith(model, stream, idCol, textCol),
      Seq(idCol))

  /** Per-micro-batch token-distribution drift vs a FIXED reference
    * ([[graft.ops.Drift.tokenDistribution]] built once at stream
    * start): one (n_tokens, kl_bits, kl_per_token, unseen_tokens,
    * unseen_frac) row per batch — the ingest tripwire that catches a
    * scraper feeding the pipeline the wrong language/domain before it
    * lands. Same `foreachBatch` contract as the other gates (the batch
    * aggregation + the 1-row cross joins derive from the stream);
    * per-batch cost is one |batch|-bounded count aggregation + one
    * token-keyed join. */
  def driftMonitor(batch: DataFrame, reference: DataFrame,
                   textCol: String = "text"): DataFrame =
    graft.ops.Drift.tokenKlAgainst(reference, batch, textCol)

  /** Mask quasi-identifier metadata of an arriving batch against
    * corpus-level k-anonymity — the streaming face of
    * [[graft.ops.Privacy.kAnonymizeAgainst]] over a persisted quasi
    * index (one keyed count on the BATCH, a null-safe join against the
    * key-cardinality index; the corpus is never rescanned). Apply
    * inside `foreachBatch` like [[dedupAgainstEmbeddings]] (the gate
    * aggregates the batch), and append each accepted batch's counts to
    * the index so later batches see the grown corpus.
    *
    * Group size = index + THIS batch only, so a combination split
    * across micro-batches is gated MORE conservatively than the union
    * recompute (3 corpus rows + 1-per-batch never reaches what
    * 3 + 2-at-once would) — masking errs toward suppression, never
    * toward exposure. */
  def privacyGate(batch: DataFrame, quasiIndex: DataFrame, idCol: String,
                  quasi: Seq[String], k: Long): DataFrame =
    graft.ops.Privacy.kAnonymizeAgainst(batch, quasiIndex, idCol, quasi, k)

  /** Keep only stream documents the classifier routes to `keep` classes
    * (e.g. the target languages) — [[classifyBatch]] plus the filter,
    * with the scoring columns dropped so the gate is shape-preserving. */
  def classifierGate(stream: DataFrame, model: graft.ops.Classifier.NbModel,
                     keep: Seq[String], idCol: String,
                     textCol: String = "text"): DataFrame =
    classifyBatch(stream, model, idCol, textCol)
      .filter(col("predicted").isin(keep: _*))
      .drop("predicted", "score")

  /** Keep only stream documents whose DSIR importance weight against a
    * PRE-TRAINED feature table clears `minBits` — the streaming face of
    * [[graft.ops.Selection.dsirGate]]: "only ingest what moves the
    * corpus toward the target distribution". The feature table
    * ([[graft.ops.Selection.dsirFeatureTable]], built once from the
    * target/raw corpora and typically read back from parquet) is a
    * ≤ buckets-row broadcast; per-batch work is one |batch|-bounded
    * explode + aggregation + broadcast join — the corpus that trained
    * the table is never rescanned. Same `foreachBatch` contract as the
    * other aggregate-shaped gates (the per-doc weight groupBy and the
    * join-back derive from the stream). Verdicts are identical to the
    * batch call over the union — the weight is per-row decidable given
    * the fixed table (spec-pinned). */
  def dsirGate(stream: DataFrame, featureTable: DataFrame, idCol: String,
               textCol: String = "text", minBits: Long = 0L): DataFrame =
    graft.ops.Selection.dsirGate(stream, idCol, textCol, featureTable, minBits)
}
