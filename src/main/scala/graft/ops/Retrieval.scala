package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval: a lexical (sparse, idf-weighted token overlap) arm
  * and a vector (dense, cosine ANN) arm fused by Reciprocal Rank Fusion
  * (Cormack/Clarke/Buettcher, SIGIR'09). This is the standard curation
  * triage for a training corpus — "find everything that looks like this
  * query document" — where neither arm alone recalls both paraphrases
  * (vector) and exact-term matches (lexical).
  *
  * Determinism contract (driver hash-compare): the lexical score is an
  * integer bit-idf sum (`floor(log2 N) − floor(log2 df)` per shared
  * distinct token — the [[LanguageModel]] `length(bin(c)) − 1` trick),
  * ranks are total-ordered with id tie-breaks, and the fused score is an
  * exact integer `Σ 10¹² div (k0 + rank)` — no doubles anywhere on the
  * fused edge, so engine and oracle agree bit-for-bit.
  *
  * Scale posture (100 TB): the lexical arm is the inverted-index join
  * shape shared with [[Contamination]] — postings are (token, doc) rows,
  * `maxDf` caps boilerplate-token posting lists BEFORE the query join
  * (a df-capped stop-set, the [[Dedup.jaccardPairsAdaptive]] argument: a
  * token in every document contributes ~0 idf bits but would quadratically
  * dominate the join), and the only wide shuffle carries
  * (query_id, nn_id, int) rows. The vector arm is pluggable: the bundled
  * convenience uses [[Similarity.bruteForceTopK]] (exact, bounded-query
  * contract) — swap [[Similarity.lshTopK]] / [[Similarity.ivfTopK]] at
  * corpus scale; [[rrfFuse]] only sees (query_id, nn_id, rk) rows either
  * way.
  */
object Retrieval {

  private val postCacheWindow = new CacheWindows(2)

  /** Release Retrieval's persisted posting frames (test hygiene). */
  def releaseCaches(): Unit = postCacheWindow.releaseAll()

  private val bits = (c: org.apache.spark.sql.Column) => length(bin(c)) - 1

  /** Lexical top-k: rank corpus docs per query doc by the summed
    * integer idf-bits of their shared DISTINCT tokens.
    *
    * Plan — query-driven inverted-index probe: the bounded query-token
    * set broadcasts, so corpus postings not matching ANY query token die
    * MAP-SIDE at the explode (no corpus-wide shuffle anywhere; the first
    * shape shuffled every posting into a df join and benched 2.9× DuckDB
    * at the 500k-doc replica — this one probes it). df counts come from
    * the pruned postings and are IDENTICAL for surviving tokens (df is
    * the per-token corpus-wide count; pruning keeps every row of a
    * surviving token), so the df cap and the weights match the full-scan
    * definition bit-for-bit and the oracle replays the unpruned form.
    * Everything downstream of the prune is bounded by the postings of
    * the query vocabulary. `n_docs` enters as a broadcast literal frame;
    * like [[Similarity.bruteForceTopK]], the query frame is counted and
    * bounded (`maxQueries` — the broadcast-side contract).
    *
    * Output: query_id, nn_id, lex_bits (BIGINT), n_shared (BIGINT),
    * rk_lex (INT ≤ k) — ties broken by nn_id ascending.
    */
  def lexicalTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                  textCol: String, k: Int = 5, maxDf: Long = Long.MaxValue,
                  maxQueries: Long = 10000L): DataFrame = {
    // Par.widen: the corpus-side tokenize+explode otherwise inherits a
    // single-split scan's one task (no-op on a well-split corpus)
    val cTok = Par.widen(corpus, col(idCol)).select(col(idCol).as("nn_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))
    val nDocs = corpus.agg(count(lit(1)).as("n_docs"))
    lexicalTopKFromPostings(cTok, nDocs, queries, idCol, textCol, k,
      maxDf, maxQueries)
  }

  /** The persistable lexical-arm index: one (nn_id, tok) row per DISTINCT
    * token per document — the full inverted index a 100 TB deployment
    * writes once (ideally bucketed by `tok` so the query probe is a
    * co-located join) and queries for months. Build cost is the
    * token-explode scan over raw text that [[lexicalTopK]] otherwise pays
    * per call; [[lexicalTopKFromPostings]] is the read side. */
  def postingsIndex(corpus: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.widen(corpus, col(idCol)).select(col(idCol).as("nn_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))

  /** [[lexicalTopK]] against a PRECOMPUTED postings frame (the output of
    * [[postingsIndex]], typically parquet-reloaded): identical output,
    * zero corpus-text scans. `nDocs` is a 1-row (n_docs BIGINT) frame —
    * the corpus cardinality the idf needs, which the postings alone
    * cannot recover (zero-token docs have no postings); callers keep it
    * next to the index or count the corpus ids (a metadata-only parquet
    * count). df still comes from the QUERY-PRUNED postings — pruning
    * keeps every row of a surviving token, so df ≡ the corpus-wide count
    * and the maxDf cap matches the full-scan definition bit-for-bit. */
  def lexicalTopKFromPostings(postings: DataFrame, nDocs: DataFrame,
                              queries: DataFrame, idCol: String,
                              textCol: String, k: Int = 5,
                              maxDf: Long = Long.MaxValue,
                              maxQueries: Long = 10000L): DataFrame = {
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"lexicalTopK broadcasts the query token set: $nQ query docs > " +
        s"maxQueries=$maxQueries; batch the queries or raise it explicitly")
    val qTok = queries.select(col(idCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(textCol)))).as("tok"))

    // broadcast prune: only postings of query tokens survive the scan;
    // persisted + eagerly materialized (two consumers — the df count and
    // the scoring join — must not each rescan the postings)
    val post = postCacheWindow.add(
      postings.join(broadcast(qTok.select("tok").distinct()), "tok"))
    post.count()
    // df over the pruned postings ≡ corpus-wide df for those tokens;
    // ≤ |query vocabulary| rows → broadcast back
    val dfreq = post.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .crossJoin(broadcast(nDocs))
      .select(col("tok"), (bits(col("n_docs")) - bits(col("df"))).cast("long").as("idf_bits"))

    val scored = post.join(broadcast(dfreq), "tok")
      .join(broadcast(qTok), Seq("tok"))
      .filter(col("nn_id") =!= col("query_id"))
      .groupBy("query_id", "nn_id")
      .agg(sum(col("idf_bits")).as("lex_bits"), count(lit(1)).as("n_shared"))

    val w = Window.partitionBy("query_id")
      .orderBy(col("lex_bits").desc, col("nn_id").asc)
    scored.withColumn("rk_lex", row_number().over(w)).filter(col("rk_lex") <= k)
      .select("query_id", "nn_id", "lex_bits", "n_shared", "rk_lex")
  }

  /** Reciprocal Rank Fusion of two ranked arms. Both inputs carry
    * (query_id, nn_id, <rankCol>); a candidate absent from one arm
    * contributes 0 from it (standard RRF over the union). The fused
    * score is the exact integer `Σ 10¹² div (k0 + rank)` — monotone in
    * the real-valued RRF at these rank magnitudes and hash-stable across
    * engines (no floating division).
    *
    * Output: query_id, nn_id, rk_lex / rk_vec (nullable INT — the arm
    * ranks), rrf_score (BIGINT), rk (INT ≤ k, ties by nn_id). */
  def rrfFuse(lexArm: DataFrame, vecArm: DataFrame, lexRankCol: String = "rk_lex",
              vecRankCol: String = "rk", k: Int = 5, k0: Int = 60): DataFrame = {
    val a = lexArm.select(col("query_id"), col("nn_id"), col(lexRankCol).as("rk_lex"))
    val b = vecArm.select(col("query_id"), col("nn_id"), col(vecRankCol).as("rk_vec"))
    // `div` is SQL-surface integral division (no floating quotient on
    // the hash-compared edge); DuckDB mirrors it with `//`
    val fused = a.join(b, Seq("query_id", "nn_id"), "full_outer")
      .select(col("query_id"), col("nn_id"), col("rk_lex"), col("rk_vec"),
        (coalesce(expr(s"1000000000000L div ($k0 + rk_lex)"), lit(0L)) +
         coalesce(expr(s"1000000000000L div ($k0 + rk_vec)"), lit(0L)))
          .cast("long").as("rrf_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("nn_id").asc)
    fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "rk_lex", "rk_vec", "rrf_score", "rk")
  }

  /** Convenience composition over parallel document/embedding tables
    * (ids aligned): lexical arm over `docs`, exact-cosine vector arm
    * over `emb` (the oracle baseline — swap an LSH/IVF frame into
    * [[rrfFuse]] directly at corpus scale), queries = ids < `queryMaxId`.
    */
  def hybridTopK(docs: DataFrame, emb: DataFrame, docIdCol: String,
                 textCol: String, vecIdCol: String, vecCol: String,
                 queryMaxId: Long, kArm: Int = 10, k: Int = 5,
                 maxDf: Long = Long.MaxValue, k0: Int = 60): DataFrame = {
    val lex = lexicalTopK(docs, docs.filter(col(docIdCol) < queryMaxId),
      docIdCol, textCol, kArm, maxDf)
    val vec = Similarity.bruteForceTopK(emb,
      emb.filter(col(vecIdCol) < queryMaxId), vecIdCol, vecCol, kArm)
    rrfFuse(lex, vec, k = k, k0 = k0)
  }
}
