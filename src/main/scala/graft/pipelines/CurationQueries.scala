package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.IndexStore
import graft.model.Entities
import graft.ops.{Retrieval, Selection, Similarity}

/** Corpus-curation queries round 15 added beyond the r14 surface:
  * hybrid lexical+vector retrieval (RRF), DSIR importance selection,
  * and product-quantization ANN. Every row keeps the repo's exactness
  * contract — integer bits / integer-rational scores on the hash-
  * compared edge, sequential IEEE folds for the doubles that remain —
  * so all four are full DuckDB hash rows, not rows-only checks.
  */
object CurationQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Entities.read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Entities.read(s, dir, "embeddings")

  // stored corpus indexes: built once per fixture dir, then read back
  private def dsirIndex(s: SparkSession, dir: String) =
    IndexStore.getOrBuild(s, s"dsir-b$DsirBuckets-v2-${IndexStore.keyOf(dir)}",
      IndexStore.dirFingerprint(s, dir)) {
      Selection.dsirIndexFrame(docs(s, dir), "doc_id", "text",
        col("lang") === "en", buckets = DsirBuckets)
    }
  private def postings(s: SparkSession, dir: String) =
    IndexStore.getOrBuild(s, s"postings-v2-${IndexStore.keyOf(dir)}",
      IndexStore.dirFingerprint(s, dir)) {
      Retrieval.postingsIndex(docs(s, dir), "doc_id", "text")
    }

  // hybrid-RRF operating point: 8 query docs (the ANN SimQueryIds
  // convention), 10-deep arms fused to top-5, boilerplate tokens capped
  // at the measured df the segment-prune row also uses
  val HybridQueryIds = 8
  val HybridArmK = 10
  val HybridK = 5
  val HybridMaxDf = 395L
  val RrfK0 = 60

  // DSIR operating point: target = English documents, 2^10 hash buckets
  val DsirBuckets = 1024
  val DsirTopN = 50

  // PQ operating point: 64 dims → 4×16-wide subspaces, 16 codewords
  // seeded from the first corpus vectors, 8 queries, top-5
  val PqM = 4
  val PqCodebook = 16
  val PqDims = 64

  // IVF-PQ composite: 16 L2-Voronoi cells, 4 probed per query
  val IvfPqCells = 16
  val IvfPqProbe = 4

  // refine stage (r16): ADC shortlist depth, exact-cosine re-rank.
  // The fixture's embeddings are ISOTROPIC RANDOM unit vectors — the
  // PQ worst case: at the m=4/16 config a code carries 16 bits, ADC
  // distances concentrate, and the shortlist needs unusual depth
  // (measured at sf0.01, recall@5 of the refined top-5 vs exact:
  // k′=40 → 0.625, 160 → 0.925, 250 → 1.000; clustered real-world
  // embeddings sit near the operator's 8×k default). k′ prices recall
  // against ONE broadcast equi-join of |Q|·k′ candidate ids — at a
  // 100 TB corpus 250 ids/query is noise, so depth is the cheap knob.
  val PqRefineK = 250
  // IVF-PQ refined: nProbe=4/16 bounds candidates to ~25% of the
  // corpus, so the probe miss dominates and the 8×k shortlist keeps
  // the ADC ranking doing real selection inside the probed cells
  val IvfPqRefineK = 40

  val queries: Map[String, Q] = Map(
    // ── hybrid retrieval ─────────────────────────────────────────────
    // lexical idf-bits arm ∪ exact-cosine arm → reciprocal-rank fusion;
    // integer fused scores, nullable INT arm ranks on the edge
    "q_hybrid_rrf" -> ((s, dir) =>
      Retrieval.hybridTopK(docs(s, dir), emb(s, dir), "doc_id", "text",
          "vec_id", "embedding", queryMaxId = HybridQueryIds,
          kArm = HybridArmK, k = HybridK, maxDf = HybridMaxDf, k0 = RrfK0)
        ),

    // ── DSIR importance selection ────────────────────────────────────
    // per-doc hashed-bigram importance weight against the lang='en'
    // target — pure BIGINT bits arithmetic end to end
    "q_select_dsir" -> ((s, dir) =>
      Selection.dsirWeights(docs(s, dir), "doc_id", "text",
          col("lang") === "en", buckets = DsirBuckets)
        ),

    // the actual selection: 50 most target-like docs (sort-limit —
    // TakeOrderedAndProject per-partition heaps, nothing global sorts)
    "q_select_dsir_topn" -> ((s, dir) =>
      Selection.dsirSelectTopN(docs(s, dir), "doc_id", "text",
          col("lang") === "en", n = DsirTopN, buckets = DsirBuckets)
        ),

    // the same weights through the persisted-index path (r17): the
    // token-explode + md5 build runs ONCE into the IndexStore; this
    // query pays only the integer-index read — the steady-state cost of
    // a deployed DSIR selection, vs q_select_dsir's build-included cell.
    // Semantically identical, proven by sharing its oracle (the
    // q_sim_pq_indexed convention).
    "q_select_dsir_indexed" -> ((s, dir) =>
      Selection.dsirWeightsFromIndex(dsirIndex(s, dir),
          docs(s, dir).select("doc_id"), "doc_id")
        ),

    // the selection-from-index composition (r18, VERDICT r17 item 3):
    // same survivors as q_select_dsir_topn, but the expensive token
    // explode ran once at index-build time — removes the last
    // first-in-pass build-attribution cell of the DSIR family. Shares
    // q_select_dsir_topn's oracle (semantically identical by the
    // spec-pinned index equivalence).
    "q_select_dsir_topn_indexed" -> ((s, dir) =>
      Selection.dsirSelectTopNFromIndex(dsirIndex(s, dir),
          docs(s, dir).select("doc_id"), "doc_id", n = DsirTopN)
        ),

    // hybrid retrieval through the persisted postings index (r17): the
    // corpus token-explode runs once into the IndexStore; the query pays
    // the probe (broadcast query tokens against reloaded postings), the
    // vector arm, and the fusion. Same oracle as q_hybrid_rrf.
    "q_hybrid_rrf_indexed" -> ((s, dir) => {
      val d = docs(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val lex = Retrieval.lexicalTopKFromPostings(postings(s, dir), nDocs,
        d.filter(col("doc_id") < HybridQueryIds), "doc_id", "text",
        k = HybridArmK, maxDf = HybridMaxDf)
      val e = emb(s, dir)
      val vec = Similarity.bruteForceTopK(e,
        e.filter(col("vec_id") < HybridQueryIds), "vec_id", "embedding",
        HybridArmK)
      Retrieval.rrfFuse(lex, vec, k = HybridK, k0 = RrfK0)

    }),

    // hybrid retrieval at FULL index steady state (r18, VERDICT r17
    // item 7): BOTH arms read persisted indexes — postings for the
    // lexical arm, the four-part IVF-PQ artifact for the vector arm (ADC
    // shortlist from persisted codes, exact re-rank against the raw
    // corpus) — the real deployment shape, where q_hybrid_rrf_indexed
    // still brute-forced the vector arm. Oracle replays both arms.
    "q_hybrid_rrf_ann" -> ((s, dir) => {
      val d = docs(s, dir)
      val e = emb(s, dir)
      val nDocs = d.agg(count(lit(1)).as("n_docs"))
      val lex = Retrieval.lexicalTopKFromPostings(postings(s, dir), nDocs,
        d.filter(col("doc_id") < HybridQueryIds), "doc_id", "text",
        k = HybridArmK, maxDf = HybridMaxDf)
      // the IvfPqIndex's four frames publish as ONE four-part artifact
      val ivf = IndexStore.getOrBuildAll(s,
        s"ivfpq-c$IvfPqCells-m$PqM-cb$PqCodebook-v2-${IndexStore.keyOf(dir)}",
        IndexStore.dirFingerprint(s, dir)) {
        val b = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
          nCentroids = IvfPqCells, m = PqM, codebookSize = PqCodebook,
          dims = PqDims)
        Seq("cents" -> b.cents, "assigned" -> b.assigned,
          "codebooks" -> b.codebooks, "codes" -> b.codes)
      }
      val idx = Similarity.IvfPqIndex(ivf("cents"), ivf("assigned"),
        ivf("codebooks"), ivf("codes"), IvfPqCells, PqM, PqCodebook, PqDims)
      val vec = Similarity.ivfPqTopKIndexedRefined(idx, e,
        e.filter(col("vec_id") < HybridQueryIds), "vec_id", "embedding",
        k = HybridArmK, kPrime = IvfPqRefineK, nProbe = IvfPqProbe)
      Retrieval.rrfFuse(lex, vec, k = HybridK, k0 = RrfK0)

    }),

    // ── product-quantization ANN ─────────────────────────────────────
    // ADC top-5 over 4-byte PQ codes; adist doubles are fixed-order
    // sums of sequential L2 folds, so the hash-compare is exact
    "q_sim_pq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopK(e, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK, m = PqM,
          codebookSize = PqCodebook, dims = PqDims)

    }),

    // same ranking through the persistable index path (encode once,
    // query from the code table) — semantically identical to the direct
    // call, proven by sharing its oracle (the q_join_salted convention)
    "q_sim_pq_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.buildPqIndex(e, "vec_id", "embedding",
        m = PqM, codebookSize = PqCodebook, dims = PqDims)
      Similarity.pqTopKIndexed(idx, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK)

    }),

    // the FAISS-style composite: probe 4 of 16 L2 cells, rank members by
    // ADC over 4-byte codes — candidates bounded AND payload compressed
    "q_sim_ivfpq_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK, nCentroids = IvfPqCells,
          nProbe = IvfPqProbe, m = PqM, codebookSize = PqCodebook,
          dims = PqDims)

    }),

    // PQ quality, measured not asserted: per-query recall@5 of the ADC
    // ranking against the exact-cosine top-5 — the compression-vs-recall
    // report a 100 TB owner reads before switching the scan to codes
    "q_eval_pq_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < HybridQueryIds)
      graft.ops.Eval.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", HybridK),
        Similarity.pqTopK(e, q, "vec_id", "embedding", k = HybridK,
          m = PqM, codebookSize = PqCodebook, dims = PqDims),
        "query_id", "nn_id")
    }),

    // ── refine stage (r16) ───────────────────────────────────────────
    // ADC shortlist (depth per the PqRefineK note) → exact-cosine
    // re-rank of the candidates via one broadcast-shortlist equi-join —
    // the recall repair every production PQ deployment runs
    "q_sim_pq_refined" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.pqTopKRefined(e, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK, kPrime = PqRefineK, m = PqM,
          codebookSize = PqCodebook, dims = PqDims)

    }),

    // the composite with the same refine tail — probe miss and
    // quantization miss sized independently (nProbe vs kPrime)
    "q_sim_ivfpq_refined" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfPqTopKRefined(e, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK, kPrime = IvfPqRefineK,
          nCentroids = IvfPqCells, nProbe = IvfPqProbe, m = PqM,
          codebookSize = PqCodebook, dims = PqDims)

    }),

    // the composite through the persistable index path (encode once,
    // probe the tiny centroid frame, rank from the code table) —
    // semantically identical to the direct call, proven by sharing its
    // oracle (the q_sim_pq_indexed convention)
    "q_sim_ivfpq_indexed" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        nCentroids = IvfPqCells, m = PqM, codebookSize = PqCodebook,
        dims = PqDims)
      Similarity.ivfPqTopKIndexed(idx, e.filter(col("vec_id") < HybridQueryIds),
          "vec_id", "embedding", k = HybridK, nProbe = IvfPqProbe)

    }),

    // indexed+refined compositions — the full production query shape
    // (shortlist from persisted codes, exact re-rank against the raw
    // corpus); ≡ the direct refined calls, proven by sharing their
    // oracles (the q_sim_pq_indexed convention)
    "q_sim_pq_indexed_refined" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.buildPqIndex(e, "vec_id", "embedding",
        m = PqM, codebookSize = PqCodebook, dims = PqDims)
      Similarity.pqTopKIndexedRefined(idx, e,
          e.filter(col("vec_id") < HybridQueryIds), "vec_id", "embedding",
          k = HybridK, kPrime = PqRefineK)

    }),

    "q_sim_ivfpq_indexed_refined" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        nCentroids = IvfPqCells, m = PqM, codebookSize = PqCodebook,
        dims = PqDims)
      Similarity.ivfPqTopKIndexedRefined(idx, e,
          e.filter(col("vec_id") < HybridQueryIds), "vec_id", "embedding",
          k = HybridK, kPrime = IvfPqRefineK, nProbe = IvfPqProbe)

    }),

    // cell-occupancy report (r17): the operational retrain-trigger input
    // — frozen-centroid appends show drift as occupancy skew and empty
    // cells; pure-integer shares so the row is hash-compared exactly
    "q_sim_ivfpq_cellstats" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = Similarity.buildIvfPqIndex(e, "vec_id", "embedding",
        nCentroids = IvfPqCells, m = PqM, codebookSize = PqCodebook,
        dims = PqDims)
      Similarity.ivfPqCellStats(idx)
    }),

    // refined-path recall — the number that justifies the refine stage:
    // unrefined ADC reads 2000–8000 bp here, the refined path must read
    // production-grade (>=9000 bp, asserted in SimilaritySpec)
    "q_eval_pq_refined_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < HybridQueryIds)
      graft.ops.Eval.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", HybridK),
        Similarity.pqTopKRefined(e, q, "vec_id", "embedding", k = HybridK,
          kPrime = PqRefineK, m = PqM, codebookSize = PqCodebook,
          dims = PqDims),
        "query_id", "nn_id")
    }),
  )

  /** DuckDB sequential-fold dot product (mirrors [[graft.ops.Dedup.dot]]). */
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  [CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) FOR x IN list_zip($a, $b)]),
       |  (acc, v) -> acc + v)""".stripMargin

  /** DuckDB sequential-fold squared L2 distance (mirrors
    * [[graft.functions.L2Sq]] bit-for-bit: float→double widening,
    * in-order subtract-square-accumulate). */
  private def sqlL2(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  [(CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |   * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |   FOR x IN list_zip($a, $b)]),
       |  (acc, v) -> acc + v)""".stripMargin

  /** Shared DSIR weight CTEs ending in a `weights` relation
    * (doc_id, n_grams, dsir_bits) — the md5-bucket + bin-length-bits
    * replay of [[graft.ops.Selection.dsirWeights]]. */
  private def dsirCtes: String =
    s"""toks AS (
       |  SELECT doc_id, lang,
       |         [t FOR t IN string_split(text, ' ') IF t <> ''] AS tk
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, lang, unnest(tk) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, lang, unnest(CASE WHEN len(tk) >= 2
       |    THEN [concat_ws(' ', tk[i], tk[i+1]) FOR i IN generate_series(1, len(tk)-1)]
       |    ELSE [] END) AS g FROM toks),
       |hb AS (
       |  SELECT doc_id, lang,
       |         CAST(CAST(('0x' || substr(md5(g), 1, 8)) AS UBIGINT) % $DsirBuckets AS BIGINT) AS f
       |  FROM grams),
       |feat AS (
       |  SELECT f, CAST(COUNT(*) AS BIGINT) AS r_f,
       |         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS t_f
       |  FROM hb GROUP BY 1),
       |tot AS (
       |  SELECT (length(bin(CAST(SUM(r_f) AS BIGINT) + $DsirBuckets)) - 1)
       |       - (length(bin(CAST(SUM(t_f) AS BIGINT) + $DsirBuckets)) - 1) AS norm_bits
       |  FROM feat),
       |docf AS (SELECT doc_id, f, CAST(COUNT(*) AS BIGINT) AS c FROM hb GROUP BY 1, 2),
       |agg AS (
       |  SELECT d.doc_id, SUM(d.c) AS n_grams,
       |         SUM(d.c * ((length(bin(ft.t_f + 1)) - 1)
       |                  - (length(bin(ft.r_f + 1)) - 1))) AS num_bits
       |  FROM docf d JOIN feat ft USING (f) GROUP BY 1),
       |weights AS (
       |  SELECT dd.doc_id,
       |         CAST(COALESCE(a.n_grams, 0) AS BIGINT) AS n_grams,
       |         CAST(COALESCE(a.num_bits + a.n_grams * t.norm_bits, 0) AS BIGINT) AS dsir_bits
       |  FROM documents dd LEFT JOIN agg a ON a.doc_id = dd.doc_id CROSS JOIN tot t)""".stripMargin

  /** The lexical arm's CTE chain ending in `lex` (query_id, nn_id,
    * rk_lex) — shared by every hybrid-retrieval oracle. */
  private def lexArmCtes: String =
    s"""ctoks AS (
         |  SELECT doc_id,
         |         unnest(list_distinct([t FOR t IN string_split(text, ' ') IF t <> ''])) AS tok
         |  FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |dfreq AS (
         |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
         |  FROM ctoks GROUP BY 1 HAVING COUNT(*) <= $HybridMaxDf),
         |post AS (
         |  SELECT c.doc_id, c.tok,
         |         (length(bin(n.n_docs)) - 1) - (length(bin(d.df)) - 1) AS idf_bits
         |  FROM ctoks c JOIN dfreq d USING (tok) CROSS JOIN n),
         |lexs AS (
         |  SELECT q.doc_id AS query_id, p.doc_id AS nn_id,
         |         CAST(SUM(p.idf_bits) AS BIGINT) AS lex_bits
         |  FROM ctoks q JOIN post p ON p.tok = q.tok AND p.doc_id <> q.doc_id
         |  WHERE q.doc_id < $HybridQueryIds GROUP BY 1, 2),
         |lex AS (
         |  SELECT query_id, nn_id, rk_lex FROM (
         |    SELECT query_id, nn_id,
         |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY lex_bits DESC, nn_id) AS INT) AS rk_lex
         |    FROM lexs) WHERE rk_lex <= $HybridArmK)""".stripMargin

  /** One definition, two rows: q_hybrid_rrf and its indexed variant are
    * semantically identical by construction (q_sim_pq_indexed convention). */
  private def hybridRrfOracle: String =
    s"""WITH $lexArmCtes,
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |vscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM norms q CROSS JOIN norms c
         |  WHERE q.vec_id < $HybridQueryIds AND c.vec_id <> q.vec_id),
         |vec AS (
         |  SELECT query_id, nn_id, rk_vec FROM (
         |    SELECT query_id, nn_id,
         |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, nn_id) AS INT) AS rk_vec
         |    FROM vscored) WHERE rk_vec <= $HybridArmK),
         |fused AS (
         |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
         |         COALESCE(l.nn_id, v.nn_id) AS nn_id, l.rk_lex, v.rk_vec,
         |         CAST(COALESCE(1000000000000 // ($RrfK0 + l.rk_lex), 0)
         |            + COALESCE(1000000000000 // ($RrfK0 + v.rk_vec), 0) AS BIGINT) AS rrf_score
         |  FROM lex l FULL OUTER JOIN vec v
         |    ON l.query_id = v.query_id AND l.nn_id = v.nn_id)
         |SELECT query_id, nn_id, rk_lex, rk_vec, rrf_score, rk FROM (
         |  SELECT query_id, nn_id, rk_lex, rk_vec, rrf_score,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
         |           ORDER BY rrf_score DESC, nn_id) AS INT) AS rk
         |  FROM fused) WHERE rk <= $HybridK
         |ORDER BY query_id, rk""".stripMargin

  val oracles: Map[String, String] = Map(
    "q_hybrid_rrf" -> hybridRrfOracle,

    // indexed path ≡ direct fusion — same oracle
    "q_hybrid_rrf_indexed" -> hybridRrfOracle,

    "q_select_dsir" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_grams, dsir_bits FROM weights
         |ORDER BY doc_id""".stripMargin,

    "q_select_dsir_topn" ->
      s"""WITH $dsirCtes,
         |top AS (SELECT doc_id, n_grams, dsir_bits FROM weights
         |        ORDER BY dsir_bits DESC, doc_id LIMIT $DsirTopN)
         |SELECT doc_id, n_grams, dsir_bits FROM top ORDER BY doc_id""".stripMargin,

    // indexed path ≡ direct weights — same oracle (q_sim_pq_indexed convention)
    "q_select_dsir_indexed" ->
      s"""WITH $dsirCtes
         |SELECT doc_id, n_grams, dsir_bits FROM weights
         |ORDER BY doc_id""".stripMargin,

    // selection-from-index ≡ direct top-n — same oracle (r18)
    "q_select_dsir_topn_indexed" ->
      s"""WITH $dsirCtes,
         |top AS (SELECT doc_id, n_grams, dsir_bits FROM weights
         |        ORDER BY dsir_bits DESC, doc_id LIMIT $DsirTopN)
         |SELECT doc_id, n_grams, dsir_bits FROM top ORDER BY doc_id""".stripMargin,

    // full steady-state hybrid: lexical arm + IVF-PQ refined vector arm
    "q_hybrid_rrf_ann" -> hybridRrfAnnOracle,

    "q_sim_pq_topk" ->
      s"""WITH ${pqCtes()}
         |SELECT query_id, nn_id, adist, rk FROM pqtop
         |ORDER BY query_id, rk""".stripMargin,

    "q_sim_ivfpq_topk" ->
      s"""WITH ${ivfPqCtes()}
         |SELECT query_id, nn_id, adist, rk FROM pqtop
         |ORDER BY query_id, rk""".stripMargin,

    // indexed path ≡ direct PQ ranking — same oracle
    "q_sim_pq_indexed" ->
      s"""WITH ${pqCtes()}
         |SELECT query_id, nn_id, adist, rk FROM pqtop
         |ORDER BY query_id, rk""".stripMargin,

    // indexed composite ≡ direct IVF-PQ ranking — same oracle
    "q_sim_ivfpq_indexed" ->
      s"""WITH ${ivfPqCtes()}
         |SELECT query_id, nn_id, adist, rk FROM pqtop
         |ORDER BY query_id, rk""".stripMargin,

    // ADC shortlist at depth $PqRefineK, exact-cosine re-rank to top-k
    "q_sim_pq_refined" ->
      s"""WITH ${pqCtes(PqRefineK)},
         |${refineTail()}
         |SELECT query_id, nn_id, cos, rk FROM refined
         |ORDER BY query_id, rk""".stripMargin,

    "q_sim_ivfpq_refined" ->
      s"""WITH ${ivfPqCtes(IvfPqRefineK)},
         |${refineTail()}
         |SELECT query_id, nn_id, cos, rk FROM refined
         |ORDER BY query_id, rk""".stripMargin,

    // indexed+refined ≡ direct refined — same oracles
    "q_sim_pq_indexed_refined" ->
      s"""WITH ${pqCtes(PqRefineK)},
         |${refineTail()}
         |SELECT query_id, nn_id, cos, rk FROM refined
         |ORDER BY query_id, rk""".stripMargin,

    "q_sim_ivfpq_indexed_refined" ->
      s"""WITH ${ivfPqCtes(IvfPqRefineK)},
         |${refineTail()}
         |SELECT query_id, nn_id, cos, rk FROM refined
         |ORDER BY query_id, rk""".stripMargin,

    // assignment replay (the ivfPqCtes `assigned` convention) + left join
    // so empty cells report 0; integer share division mirrors `div`
    "q_sim_ivfpq_cellstats" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS ccid, embedding AS c_vec
         |  FROM embeddings WHERE vec_id < $IvfPqCells),
         |assigned AS (
         |  SELECT nn_id, ccid FROM (
         |    SELECT e.vec_id AS nn_id, t.ccid,
         |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${sqlL2("e.embedding", "t.c_vec")} ASC, t.ccid ASC) AS rn
         |    FROM embeddings e CROSS JOIN cents t) WHERE rn = 1),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM assigned),
         |occ AS (
         |  SELECT ccid, CAST(COUNT(*) AS BIGINT) AS n_members
         |  FROM assigned GROUP BY 1)
         |SELECT c.ccid, CAST(COALESCE(o.n_members, 0) AS BIGINT) AS n_members,
         |       CAST(COALESCE(o.n_members, 0) * 10000 // t.n AS BIGINT) AS share_bp
         |FROM cents c LEFT JOIN occ o ON o.ccid = c.ccid CROSS JOIN tot t
         |ORDER BY c.ccid""".stripMargin,

    // exact brute-force chain + the PQ chain, recall counted per query
    // (mirrors q_eval_ann_recall's structure with the ADC ranking)
    "q_eval_pq_recall" ->
      s"""WITH ${pqCtes()},
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM norms q CROSS JOIN norms c
         |  WHERE q.vec_id < $HybridQueryIds AND c.vec_id <> q.vec_id),
         |exact AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, nn_id) AS rk
         |    FROM bscored) WHERE rk <= $HybridK)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |       CAST(COUNT(a.query_id) AS BIGINT) AS n_hits,
         |       CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN pqtop a
         |  ON e.query_id = a.query_id AND e.nn_id = a.nn_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // same recall report over the REFINED ranking — the before/after
    // pair that prices the refine stage
    "q_eval_pq_refined_recall" ->
      s"""WITH ${pqCtes(PqRefineK)},
         |${refineTail()},
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM norms q CROSS JOIN norms c
         |  WHERE q.vec_id < $HybridQueryIds AND c.vec_id <> q.vec_id),
         |exact AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, nn_id) AS rk
         |    FROM bscored) WHERE rk <= $HybridK)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |       CAST(COUNT(a.query_id) AS BIGINT) AS n_hits,
         |       CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN refined a
         |  ON e.query_id = a.query_id AND e.nn_id = a.nn_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )

  /** Shared PQ encode CTEs (subspaces, codebooks, corpus codes, query
    * LUT) — the common prefix of the pqTopK and ivfPqTopK replays. */
  private def pqEncCtes: String =
    s"""sub AS (SELECT unnest(generate_series(0, ${PqM - 1})) AS j),
       |parts AS (
       |  SELECT vec_id, j,
       |         embedding[j * ${PqDims / PqM} + 1 : j * ${PqDims / PqM} + ${PqDims / PqM}] AS sv
       |  FROM embeddings CROSS JOIN sub),
       |cb AS (SELECT j, vec_id AS cid, sv AS cv FROM parts WHERE vec_id < $PqCodebook),
       |enc AS (
       |  SELECT vec_id AS nn_id, j, cid FROM (
       |    SELECT p.vec_id, p.j, c.cid,
       |           ROW_NUMBER() OVER (PARTITION BY p.vec_id, p.j
       |             ORDER BY ${sqlL2("p.sv", "c.cv")} ASC, c.cid ASC) AS rn
       |    FROM parts p JOIN cb c ON c.j = p.j) WHERE rn = 1),
       |lut AS (
       |  SELECT q.vec_id AS query_id, c.j, c.cid, ${sqlL2("q.sv", "c.cv")} AS d
       |  FROM parts q JOIN cb c ON c.j = q.j WHERE q.vec_id < $HybridQueryIds)""".stripMargin

  /** The pivoted fixed-order ADC sum + rank tail shared by both PQ
    * replays; `src` must expose (query_id, nn_id, j-matched lut rows)
    * as FROM-able join text producing l.query_id, nn_id, e.j, l.d.
    * `kTop` is the ranking depth — k for direct rankings, the
    * $PqRefineK shortlist for the refined paths. */
  private def adcTail(fromSql: String, kTop: Int): String =
    s"""piv AS (
       |  SELECT $fromSql GROUP BY 1, 2),
       |adc AS (SELECT query_id, nn_id, ((d0 + d1) + d2) + d3 AS adist FROM piv),
       |pqtop AS (
       |  SELECT query_id, nn_id, adist, rk FROM (
       |    SELECT query_id, nn_id, adist,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY adist ASC, nn_id) AS INT) AS rk
       |    FROM adc) WHERE rk <= $kTop)""".stripMargin

  /** Exact-cosine re-rank of the `pqtop` shortlist — the replay of
    * [[graft.ops.Similarity.refineExact]]: true vectors fetched by id,
    * sequential-fold cosine, rank desc with the nn_id tie-break.
    * `kOut` is the refined depth — top-k for the direct refined
    * rankings, the arm depth for the hybrid fusion. */
  private def refineTail(kOut: Int = HybridK): String =
    s"""rnorms AS (
       |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings),
       |rscored AS (
       |  SELECT p.query_id, p.nn_id,
       |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
       |  FROM pqtop p
       |  JOIN rnorms c ON c.vec_id = p.nn_id
       |  JOIN rnorms q ON q.vec_id = p.query_id),
       |refined AS (
       |  SELECT query_id, nn_id, cos, rk FROM (
       |    SELECT query_id, nn_id, cos,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cos DESC, nn_id) AS INT) AS rk
       |    FROM rscored) WHERE rk <= $kOut)""".stripMargin

  /** The r18 full-steady-state hybrid: lexical arm ∪ IVF-PQ
    * indexed+refined vector arm (shortlist depth $IvfPqRefineK, refined
    * to the $HybridArmK arm depth), RRF-fused — the replay of
    * q_hybrid_rrf_ann's dataflow. */
  private def hybridRrfAnnOracle: String =
    s"""WITH $lexArmCtes,
       |${ivfPqCtes(IvfPqRefineK)},
       |${refineTail(HybridArmK)},
       |fused AS (
       |  SELECT COALESCE(l.query_id, v.query_id) AS query_id,
       |         COALESCE(l.nn_id, v.nn_id) AS nn_id, l.rk_lex, v.rk AS rk_vec,
       |         CAST(COALESCE(1000000000000 // ($RrfK0 + l.rk_lex), 0)
       |            + COALESCE(1000000000000 // ($RrfK0 + v.rk), 0) AS BIGINT) AS rrf_score
       |  FROM lex l FULL OUTER JOIN refined v
       |    ON l.query_id = v.query_id AND l.nn_id = v.nn_id)
       |SELECT query_id, nn_id, rk_lex, rk_vec, rrf_score, rk FROM (
       |  SELECT query_id, nn_id, rk_lex, rk_vec, rrf_score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY rrf_score DESC, nn_id) AS INT) AS rk
       |  FROM fused) WHERE rk <= $HybridK
       |ORDER BY query_id, rk""".stripMargin

  private def pivCols: String =
    s"""MAX(CASE WHEN e.j = 0 THEN l.d END) AS d0,
       |         MAX(CASE WHEN e.j = 1 THEN l.d END) AS d1,
       |         MAX(CASE WHEN e.j = 2 THEN l.d END) AS d2,
       |         MAX(CASE WHEN e.j = 3 THEN l.d END) AS d3""".stripMargin

  /** Full-corpus PQ/ADC chain ending in the ranked `pqtop` relation —
    * the DuckDB replay of [[graft.ops.Similarity.pqTopK]]. */
  private def pqCtes(kTop: Int = HybridK): String =
    s"""$pqEncCtes,
       |${adcTail(
      s"""l.query_id, e.nn_id,
         |         $pivCols
         |  FROM enc e JOIN lut l ON l.j = e.j AND l.cid = e.cid
         |  WHERE e.nn_id <> l.query_id""".stripMargin, kTop)}""".stripMargin

  /** IVF-PQ chain — [[graft.ops.Similarity.ivfPqTopK]]'s replay: L2
    * cell assignment (min-(d, cell) total order), nProbe probed cells,
    * then the ADC tail restricted to the probed cells' members. */
  private def ivfPqCtes(kTop: Int = HybridK): String =
    s"""$pqEncCtes,
       |cents AS (SELECT vec_id AS ccid, embedding AS c_vec
       |          FROM embeddings WHERE vec_id < $IvfPqCells),
       |assigned AS (
       |  SELECT nn_id, ccid FROM (
       |    SELECT e.vec_id AS nn_id, t.ccid,
       |           ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |             ORDER BY ${sqlL2("e.embedding", "t.c_vec")} ASC, t.ccid ASC) AS rn
       |    FROM embeddings e CROSS JOIN cents t) WHERE rn = 1),
       |probed AS (
       |  SELECT query_id, ccid FROM (
       |    SELECT q.vec_id AS query_id, t.ccid,
       |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |             ORDER BY ${sqlL2("q.embedding", "t.c_vec")} ASC, t.ccid ASC) AS rn
       |    FROM embeddings q CROSS JOIN cents t
       |    WHERE q.vec_id < $HybridQueryIds) WHERE rn <= $IvfPqProbe),
       |cand AS (
       |  SELECT p.query_id, a.nn_id FROM probed p
       |  JOIN assigned a ON a.ccid = p.ccid WHERE a.nn_id <> p.query_id),
       |${adcTail(
      s"""c.query_id, c.nn_id,
         |         $pivCols
         |  FROM cand c JOIN enc e ON e.nn_id = c.nn_id
         |  JOIN lut l ON l.query_id = c.query_id AND l.j = e.j AND l.cid = e.cid""".stripMargin, kTop)}""".stripMargin
}
