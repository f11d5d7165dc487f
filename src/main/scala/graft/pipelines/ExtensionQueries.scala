package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Entities
import graft.ops.{Contamination, Dedup, Multimodal, Packing, SemanticDedup, Similarity, TextAnalysis}
import graft.streaming.EventStreams

/** Training-data-pipeline extension queries (BASELINE.json north star,
  * beyond the reference's own surface): deduplication (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, embedding-cosine), similarity search
  * (brute-force + LSH ANN), and text analysis (language-ID, quality,
  * token counts, fingerprints) over the `documents` / `embeddings`
  * fixtures.
  *
  * Oracle notes: every numeric output is either integer or a
  * bit-deterministic double (sequential folds, single IEEE ops — see
  * [[Dedup.dot]] / [[TextAnalysis]]), so DuckDB hash-compare is exact.
  * This includes both ANN paths: IVF with `iters=0` is a deterministic
  * dataflow (seeded centroids, total-order tie-breaks) and LSH's
  * hyperplanes are deterministic splitmix64 signs which the oracle
  * re-emits as literal SQL weight arrays — no rows-only checks left.
  */
object ExtensionQueries {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String) = Entities.read(s, dir, "documents")
  private def emb(s: SparkSession, dir: String) = Entities.read(s, dir, "embeddings")

  /** The embeddings corpus plus [[PlantedDups]] half-scaled companions —
    * deterministic near-identical pairs (cos ~1.0) that make the
    * production-point LSH sweep return real rows. See the constant's doc
    * for why 0.5-scaling is the bit-safe plant. */
  private def embWithPlanted(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select("vec_id", "embedding")
    val planted = emb(s, dir).filter(col("vec_id") < PlantedDups)
      .select((col("vec_id") + PlantedIdOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
    e.unionByName(planted)
  }
  /** [[embWithPlanted]] variant for the INCREMENTAL (90/10 split) row:
    * companion ids are `PlantedIdOffset + 10·src + 1` — ≡ 1 (mod 10), so
    * every companion lands on the BATCH side while its source (src ≢ 1
    * mod 10, so src=1 is excluded) stays on the corpus side: one real
    * cross pair per plant at cos ~1.0. */
  private def embWithPlantedCross(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select("vec_id", "embedding")
    val planted = emb(s, dir)
      .filter(col("vec_id") < PlantedDups && col("vec_id") % 10 =!= 1)
      .select((col("vec_id") * 10 + PlantedIdOffset + 1).as("vec_id"),
        transform(col("embedding"), x => x * lit(0.5f)).as("embedding"))
    e.unionByName(planted)
  }
  private def li(s: SparkSession, dir: String) = Entities.read(s, dir, "lineitem")
  private def events(s: SparkSession, dir: String) =
    EventStreams.normalizeTs(Entities.read(s, dir, "events"))

  /** DuckDB sequential-fold dot product of two list columns (mirrors
    * [[Dedup.dot]] bit-for-bit: float→double widening, in-order sum). */
  private def sqlDot(a: String, b: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  [CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) FOR x IN list_zip($a, $b)]),
       |  (acc, v) -> acc + v)""".stripMargin

  /** DuckDB mirror of [[Dedup.shingles]] + inverted-index Jaccard pairs,
    * as a CTE list ending in `jpairs` so derived oracles (clusters) can
    * extend the same pipeline. */
  private[pipelines] def jaccardCtes(threshold: Double): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(t) >= 3
       |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
       |                           FOR i IN generate_series(1, len(t)-2)])
       |       ELSE [] END AS s FROM toks),
       |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
       |idx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
       |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS common
       |           FROM idx a JOIN idx b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |           GROUP BY 1, 2),
       |jpairs AS (
       |  SELECT doc_i, doc_j, jaccard FROM (
       |    SELECT doc_i, doc_j, common * 1.0 / (ni.n_sh + nj.n_sh - common) AS jaccard
       |    FROM common JOIN sz ni ON ni.doc_id = doc_i JOIN sz nj ON nj.doc_id = doc_j)
       |  WHERE jaccard >= $threshold)""".stripMargin

  private def jaccardOracle(threshold: Double): String =
    s"""WITH ${jaccardCtes(threshold)}
       |SELECT doc_i, doc_j, jaccard FROM jpairs ORDER BY doc_i, doc_j""".stripMargin

  /** Bipartite containment CTEs ending in `cpairs` — mirrors
    * [[Contamination.containmentPairs]] on the doc_id%mod eval split. */
  private def contamCtes(mod: Int, threshold: Double): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
       |sh AS (SELECT doc_id,
       |  CASE WHEN len(t) >= 3
       |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
       |                           FOR i IN generate_series(1, len(t)-2)])
       |       ELSE [] END AS s FROM toks),
       |ei AS (SELECT doc_id AS eval_id, unnest(s) AS shingle FROM sh
       |       WHERE doc_id % $mod = 0),
       |ti AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM sh
       |       WHERE doc_id % $mod <> 0),
       |esz AS (SELECT doc_id AS eval_id, len(s) AS n_eval FROM sh
       |        WHERE doc_id % $mod = 0),
       |ccom AS (SELECT eval_id, train_id, COUNT(*) AS c
       |         FROM ei JOIN ti USING (shingle) GROUP BY 1, 2),
       |cpairs AS (
       |  SELECT eval_id, train_id, containment FROM (
       |    SELECT eval_id, train_id, c * 1.0 / n_eval AS containment
       |    FROM ccom JOIN esz USING (eval_id))
       |  WHERE containment >= $threshold)""".stripMargin

  /** Recursive next-fit packing CTEs ending in `pack` — replays
    * [[graft.ops.Packing.nextFitPack]]'s per-group sequential walk. */
  // t is MATERIALIZED — see the q_pack_bpe_budget oracle note: DuckDB
  // re-evaluates the recursion's source CTE per iteration without it
  private def packCtes(budget: Int, groups: Int): String =
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, CAST(doc_id % $groups AS INT) AS pack_group,
       |         CAST(len([x FOR x IN string_split(text, ' ') IF x <> '']) AS INT) AS n_tokens,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % $groups
       |                                 ORDER BY doc_id) AS INT) AS rn
       |  FROM documents),
       |pack(pack_group, rn, doc_id, n_tokens, bin_id, fill) AS (
       |  SELECT pack_group, rn, doc_id, n_tokens, 0, n_tokens FROM t WHERE rn = 1
       |  UNION ALL
       |  SELECT t.pack_group, t.rn, t.doc_id, t.n_tokens,
       |         CASE WHEN p.fill + t.n_tokens <= $budget
       |              THEN p.bin_id ELSE p.bin_id + 1 END,
       |         CASE WHEN p.fill + t.n_tokens <= $budget
       |              THEN p.fill + t.n_tokens ELSE t.n_tokens END
       |  FROM pack p JOIN t ON t.pack_group = p.pack_group AND t.rn = p.rn + 1)""".stripMargin

  /** BPE replay CTEs (consumed inside a WITH RECURSIVE): the merge
    * table is GENERATED from [[graft.functions.Bpe.DefaultMerges]], so
    * engine and oracle can never drift; `st` applies one
    * lowest-rank-pair simultaneous rewrite per recursion step (equal to
    * the GPT-2 sequential scan because the table has no self-pairs —
    * see BpeTokens scaladoc); ends with `bpe_cnt(doc_id, n_bpe,
    * n_uniq_bpe)` over every document (zero-word docs included). */
  private def bpeCtes: String = {
    val values = graft.functions.Bpe.DefaultMerges.zipWithIndex
      .map { case ((x, y), r) => s"('$x','$y',$r)" }.mkString(",")
    val pat = TextAnalysis.BpeishPattern
    s"""merges(x, y, r) AS (VALUES $values),
       |bpe_words AS (
       |  SELECT DISTINCT w FROM (
       |    SELECT unnest(regexp_extract_all(text, '$pat')) AS w FROM documents)),
       |st AS (
       |  SELECT w, list_transform(range(1, length(w)+1), i -> w[i:i]) AS toks,
       |         0 AS it
       |  FROM bpe_words
       |  UNION ALL
       |  SELECT w,
       |    list_filter(list_transform(range(1, len(toks)+1), i ->
       |      CASE WHEN i < len(toks) AND toks[i] = bx AND toks[i+1] = by
       |             THEN bx || by
       |           WHEN i > 1 AND toks[i] = by AND toks[i-1] = bx THEN NULL
       |           ELSE toks[i] END), t -> t IS NOT NULL) AS toks,
       |    it + 1
       |  FROM (
       |    SELECT w, toks, it,
       |      (SELECT arg_min(m.x, m.r) FROM merges m
       |        WHERE list_contains(prs, m.x || chr(1) || m.y)) AS bx,
       |      (SELECT arg_min(m.y, m.r) FROM merges m
       |        WHERE list_contains(prs, m.x || chr(1) || m.y)) AS by
       |    FROM (SELECT w, toks, it,
       |            list_transform(range(1, len(toks)),
       |              i -> toks[i] || chr(1) || toks[i+1]) AS prs
       |          FROM st) z) zz
       |  WHERE bx IS NOT NULL),
       |bpe_final AS (SELECT w, arg_max(toks, it) AS toks FROM st GROUP BY w),
       |bpe_dt AS (
       |  SELECT d.doc_id, unnest(f.toks) AS tok
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$pat')) AS w
       |        FROM documents) d
       |  JOIN bpe_final f ON d.w = f.w),
       |bpe_cnt AS (
       |  SELECT doc.doc_id,
       |         COALESCE(c.n_bpe, 0) AS n_bpe,
       |         COALESCE(c.n_uniq_bpe, 0) AS n_uniq_bpe
       |  FROM documents doc LEFT JOIN (
       |    SELECT doc_id, CAST(COUNT(*) AS INT) AS n_bpe,
       |           CAST(COUNT(DISTINCT tok) AS INT) AS n_uniq_bpe
       |    FROM bpe_dt GROUP BY 1) c ON doc.doc_id = c.doc_id)""".stripMargin
  }

  private val stopLists = Map(
    "en" -> TextAnalysis.StopEn, "de" -> TextAnalysis.StopDe,
    "es" -> TextAnalysis.StopEs, "fr" -> TextAnalysis.StopFr)

  private def sqlStopList(lang: String): String =
    stopLists(lang).map(w => s"'$w'").mkString("[", ", ", "]")

  private def sqlStopScore(lang: String): String =
    s"""CASE WHEN len(tk) > 0
       |  THEN len([x FOR x IN tk IF list_contains(${sqlStopList(lang)}, x)]) * 1.0 / len(tk)
       |  ELSE 0.0 END""".stripMargin

  private def sqlPolyFold(codes: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), (a, b) -> (a * 31 + b) % 1000000007)"

  val JaccardThreshold = 0.8
  val CosineThreshold = 0.4
  // the production near-dup operating point: tight threshold, 16 tables
  // × 8 planes. The bench's LSH row runs HERE — the loose 0.4 threshold
  // with barely-pruning 2-plane buckets is a recall demo, kept as a
  // spec-only test (DedupSpec), not a suite cost.
  // production LSH rows auto-size their (tables, planes) recall config
  // from the corpus count (Dedup.lshConfigFor — resolves to ≈27×8 at the
  // sf0.1 fixture, the neighborhood of the old hand-tuned 16×8 point)
  val CosineThresholdProd = 0.9
  // planted near-identical companions for the production-point LSH row:
  // the fixture corpus is CLEAN at cos >= 0.9 (max pair cosine ~0.51), so
  // without them the oracle row is vacuously empty — any implementation
  // matches at 0 rows. The first PlantedDups vectors get a HALF-SCALED
  // copy (id + PlantedIdOffset): same direction, so every hyperplane sign
  // agrees (bucket collision in ALL tables by construction) and the
  // verified cosine is ~1.0 >= 0.9 on any fixture; 0.5-scaling is exact
  // in IEEE float, so engine and oracle fold bit-identical values.
  val PlantedDups = 8
  val PlantedIdOffset = 100000L
  val ContamThreshold = 0.5
  val HeavyHitterK = 40
  // 90/5/5 split; the oracle embeds the SAME hex boundaries via
  // Composition.splitBounds, so both engines compare identical literals
  val CorpusSplits = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Target language mix for the reweighting query: en-heavy corpus
    * rebalanced to 40/15/15/15/15 (weights sum to 100 = the rational
    * denominator shared with the oracle). */
  val ReweightTarget = Seq("en" -> 40L, "de" -> 15L, "es" -> 15L,
    "fr" -> 15L, "zh" -> 15L)

  // the corpus-quality metric CTEs + predicate, shared by the filter
  // oracle and the end-to-end curated oracle (one source of truth for
  // the DuckDB replay of CorpusStreams.qualityGate)
  private def qualityCtes: String =
    s"""t AS (SELECT doc_id, lang, source, n_chars, text,
       |  string_split(text, ' ') AS tku,
       |  [x FOR x IN string_split(text, ' ') IF x <> ''] AS tk FROM documents),
       |m AS (SELECT doc_id, lang, source, n_chars, text,
       |  len(tk) AS ntok,
       |  CASE WHEN length(text) > 0
       |    THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g'))) * 1.0
       |         / length(text)
       |    ELSE 0.0 END AS punct,
       |  CASE WHEN len(tk) > 0
       |    THEN len([x FOR x IN tk IF list_contains(['the','and','of','to','in','is','it','for','on','with'], x)]) * 1.0 / len(tk)
       |    ELSE 0.0 END AS stopr,
       |  CASE WHEN len(tku) >= 3
       |    THEN (len(tku) - 2 - len(list_distinct(
       |           [concat_ws(' ', tku[i], tku[i+1], tku[i+2])
       |            FOR i IN generate_series(1, len(tku)-2)]))) * 1.0 / (len(tku) - 2)
       |    ELSE 0.0 END AS dup3
       |FROM t)""".stripMargin

  private def qualityCond: String =
    s"""ntok >= 20
       |  AND stopr * 2.0 - punct + (CASE WHEN ntok >= 20 THEN 0.1 ELSE 0.0 END) > 0.2
       |  AND dup3 <= 0.1
       |  AND len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}')) = 0
       |  AND len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) = 0""".stripMargin
  val ContamEvalMod = 7
  val PackBudget = 256
  val PackGroups = 8
  val SimQueryIds = 8
  val SimK = 5
  val IvfCentroids = 16
  val IvfProbe = 4
  val LshTables = 8
  val LshPlanes = 8
  val EmbDims = 64

  /** Exact all-pairs cosine oracle at `threshold` — shared by the exact
    * mode (at [[CosineThreshold]]) and the LSH mode (at
    * [[CosineThresholdProd]], where 16×8 recall on the fixture's planted
    * near-identical dups makes the outputs identical — asserted by the
    * oracle row itself and by DedupSpec at both operating points). */
  private def cosineOracleAt(threshold: Double): String =
    s"""WITH norms AS (
       |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM embeddings)
       |SELECT vec_i, vec_j, cos FROM (
       |  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |         ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
       |  FROM norms a JOIN norms b ON a.vec_id < b.vec_id)
       |WHERE cos >= $threshold ORDER BY vec_i, vec_j""".stripMargin

  /** [[cosineOracleAt]] over the corpus + planted half-scaled companions
    * (the DuckDB replay of [[embWithPlanted]]). */
  private def cosineOraclePlanted(threshold: Double): String =
    s"""WITH emb2 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantedIdOffset AS vec_id,
       |         [CAST(x * 0.5 AS FLOAT) FOR x IN embedding] AS embedding
       |  FROM embeddings WHERE vec_id < $PlantedDups),
       |norms AS (
       |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM emb2)
       |SELECT vec_i, vec_j, cos FROM (
       |  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |         ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
       |  FROM norms a JOIN norms b ON a.vec_id < b.vec_id)
       |WHERE cos >= $threshold ORDER BY vec_i, vec_j""".stripMargin

  /** SemDeDup replay CTEs ending in `assigned` (argmax cell per vector,
    * tie-break cid DESC mirroring Spark's `max(struct(cos, cid))`) and
    * `spairs` (within-cell pairs at ≥ `threshold`) — the DuckDB mirror of
    * [[SemanticDedup.assignClusters]]/[[SemanticDedup.semanticPairs]]
    * with `iters = 0` over [[embWithPlanted]]. */
  private def semanticCtes(threshold: Double, k: Int): String =
    s"""emb2 AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + $PlantedIdOffset AS vec_id,
       |         [CAST(x * 0.5 AS FLOAT) FOR x IN embedding] AS embedding
       |  FROM embeddings WHERE vec_id < $PlantedDups),
       |norms AS (
       |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
       |  FROM emb2),
       |cents AS (SELECT vec_id AS cid, embedding AS c_vec, nrm AS c_nrm
       |          FROM norms WHERE vec_id < $k),
       |assigned AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT n.vec_id, t.cid,
       |           ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |             ORDER BY ${sqlDot("n.embedding", "t.c_vec")} / (n.nrm * t.c_nrm) DESC,
       |                      t.cid DESC) AS rn
       |    FROM norms n CROSS JOIN cents t)
       |  WHERE rn = 1),
       |spairs AS (
       |  SELECT cid, vec_i, vec_j, cos FROM (
       |    SELECT a.cid, a.vec_id AS vec_i, b.vec_id AS vec_j,
       |           ${sqlDot("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
       |    FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |    JOIN norms x ON x.vec_id = a.vec_id
       |    JOIN norms y ON y.vec_id = b.vec_id)
       |  WHERE cos >= $threshold)""".stripMargin

  /** The LSH hyperplane signs as literal VALUES rows `(tbl, pl, [±1.0…])`
    * — the exact same deterministic splitmix64 signs
    * [[Similarity.lshBuckets]] folds against, re-emitted for DuckDB. */
  private def lshWeightValues: String =
    (for { t <- 0 until LshTables; p <- 0 until LshPlanes } yield {
      val arr = Similarity.planeSigns(t, p, EmbDims)
        .map(s => s"$s.0").mkString("[", ",", "]")
      s"($t,$p,$arr)"
    }).mkString(",\n")

  val queries: Map[String, Q] = Map(
    // ── per-group feature scaling ────────────────────────────────────
    // robust z = (v − median)/IQR from EXACT grouped quantiles (no
    // per-group window sort; mean/stddev z is deliberately absent —
    // float sums are accumulation-order-dependent at 1000 executors)
    "q_scale_robust" -> ((s, dir) =>
      graft.ops.Scaling.robustScale(docs(s, dir), "lang", "n_chars")
        .select("doc_id", "lang", "n_chars", "robust_z")
        ),

    "q_scale_minmax" -> ((s, dir) =>
      graft.ops.Scaling.minMaxScale(events(s, dir), "event_type", "value")
        .select("event_id", "event_type", "value", "minmax")
        ),

    // winsorization: clip per-lang lengths into the exact [p05, p95]
    // band — order statistics + comparisons only, no arithmetic
    "q_scale_winsorized" -> ((s, dir) =>
      graft.ops.Scaling.winsorize(docs(s, dir), "lang", "n_chars", 0.05, 0.95)
        .select("doc_id", "lang", "n_chars", "clipped", "was_clipped")
        ),

    // ── behavioral analytics over the event stream ───────────────────
    // ordered funnel: min step-k time strictly after the user's step-k−1
    // time; one filtered aggregate + user-key join per step, no per-user
    // window sort
    "q_funnel_users" -> ((s, dir) =>
      graft.ops.Funnel.funnelTimes(events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
        ),

    "q_funnel_summary" -> ((s, dir) =>
      graft.ops.Funnel.funnelSummary(events(s, dir), "user_id", "event_type",
        "ts", Seq("view", "click", "purchase"))
        ),

    "q_cohort_retention" -> ((s, dir) =>
      graft.ops.Cohort.retention(events(s, dir), "user_id", "ts")
        ),

    // ── dataset profiling ────────────────────────────────────────────
    "q_profile_documents" -> ((s, dir) =>
      graft.ops.Profile.profile(docs(s, dir),
        Seq("doc_id", "lang", "source", "n_chars"))
        ),

    // per-group (per-language) profile: |groups| × |cols| stats rows
    // from ONE keyed aggregation + post-agg explode
    "q_profile_by_lang" -> ((s, dir) =>
      graft.ops.Profile.profileBy(docs(s, dir), "lang",
        Seq("doc_id", "source", "n_chars"))
        ),

    "q_histogram_chars" -> ((s, dir) =>
      graft.ops.Histogram.histogram(docs(s, dir), "n_chars", 0L, 1023L, 16)
        ),

    // ── deduplication ────────────────────────────────────────────────
    "q_dedup_exact_rows" -> ((s, dir) =>
      Dedup.exactRows(li(s, dir).select("l_returnflag", "l_linestatus"))
        ),

    "q_dedup_exact_key" -> ((s, dir) =>
      Dedup.exactByKey(docs(s, dir), Seq("text"), "doc_id")),

    // the lazy exact form — the one every composing cell uses
    "q_dedup_jaccard" -> ((s, dir) =>
      (Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", 3, JaccardThreshold))),

    // the eager scale-insured form: a one-job probe over the shingle index
    // projects the candidate-join volume and engages its df cap (50) only
    // when the exact uncapped volume Σdf²/2 exceeds 4× the exact capped
    // volume Σ_{df≤50}df²/2 — on this benign fixture it stays uncapped
    // (no insurance premium), on a common-shingle corpus it pays the cap
    // and keeps the measured 19× win; either branch shares this oracle
    // (DedupSpec forces the capped branch on this corpus)
    "q_dedup_jaccard_adaptive" -> ((s, dir) =>
      (Dedup.jaccardPairsAdaptive(docs(s, dir), "doc_id", "text", 3,
          JaccardThreshold))),

    // exact shared-passage detection via content-defined anchoring: a
    // window is an anchor iff md5 of its leading 8 chars starts with '0'
    // (a predicate of content, not offset — the same passage anchors
    // identically wherever it sits), and candidates join on the full
    // window string so every reported pair is exact with no verify pass
    "q_dedup_passages" -> ((s, dir) =>
      (Dedup.passagePairs(docs(s, dir), "doc_id", "text", window = 50))),

    // incremental passage detection: the even-id "corpus" never re-pairs
    // against itself — only corpus × batch window-hash candidates
    "q_dedup_passages_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      (Dedup.passageCrossPairs(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", window = 50))
    }),

    "q_dedup_survivors" -> ((s, dir) =>
      Dedup.exactSurvivors(docs(s, dir), Seq("text"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")),

    // cluster-size distribution of the near-dup graph: how much of the
    // corpus sits in dup groups of each size — the dedup-audit view
    // (aggregation over the cluster assignment, key-cardinality frames)
    "q_dedup_cluster_sizes" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.nearDupClusters(d,
          Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold), "doc_id")
        .groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size")
        .agg(count(lit(1)).as("n_clusters"),
          sum("cluster_size").as("n_docs"))

    }),

    "q_dedup_filtered" -> ((s, dir) => {
      val d = docs(s, dir)
      (Dedup.removeNearDups(d,
          Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold), "doc_id")
          .select("doc_id", "lang", "source", "n_chars"))
    }),

    // transitive clustering of the near-dup graph (connected components):
    // deterministic unique fixpoint, so the SQL oracle replays it as a
    // recursive transitive closure
    "q_dedup_clusters" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.nearDupClusters(d,
        Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold), "doc_id")

    }),

    "q_dedup_minhash_lsh" -> ((s, dir) =>
      (Dedup.minhashLshPairs(docs(s, dir), "doc_id", "text", 3,
          JaccardThreshold))),

    // incremental ingestion dedup: the odd-id "new batch" checked against
    // the even-id "existing corpus" with a bipartite banded join — the
    // |batch|-proportional form that replaces corpus re-pairing at 100 TB
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      (Dedup.minhashLshCrossPairs(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", 3, JaccardThreshold))
    }),

    // the embedding-side incremental form: a 10% "new batch"
    // (vec_id % 10 == 1) checked against the 90% "existing corpus" with a
    // bipartite (table, bucket) join + exact verify — the realistic
    // incremental shape (small batch vs large standing corpus), so the
    // join cost is |batch|-proportional rather than half×half. Runs at
    // the PRODUCTION threshold with auto-sized recall config (the former
    // loose 0.4/32×2 demo point barely pruned by construction and went
    // 253× at the 30× replica — SCALE.md round 4; it survives as a
    // DedupSpec recall case). The fixture is clean at cos >= 0.9, so
    // planted companions land on the BATCH side of the split
    // (ids ≡ 1 mod 10) with their sources on the corpus side — the
    // oracle row returns one real cross pair per plant.
    "q_dedup_cosine_incremental" -> ((s, dir) => {
      val e = embWithPlantedCross(s, dir)
      (Dedup.cosineCrossPairsLshAuto(
        e.filter(col("vec_id") % 10 =!= 1), e.filter(col("vec_id") % 10 === 1),
        "vec_id", "embedding", CosineThresholdProd))
    }),

    "q_dedup_simhash" -> ((s, dir) =>
      (Dedup.simhashPairs(docs(s, dir), "doc_id", "text", 3))),

    "q_dedup_cosine" -> ((s, dir) =>
      (Dedup.cosinePairs(emb(s, dir), "vec_id", "embedding", CosineThreshold))),

    // the bucketed scale path at its PRODUCTION operating point: tight
    // threshold (0.9), 16 tables × 8 planes — buckets actually prune, so
    // the bench row measures the real config instead of the loose-
    // threshold recall demo (that one lives on as a DedupSpec test).
    // The fixture corpus is CLEAN at this threshold (max pair cosine
    // ≈ 0.51), so [[embWithPlanted]] unions deterministic near-identical
    // companions — the oracle row returns REAL pairs (one per plant)
    // instead of a vacuous empty sweep; perturbation-recall is
    // additionally spec-proven (DedupSpec).
    // Auto-sized recall config (Dedup.lshConfigFor): planes grow with
    // log₂|corpus| (constant bucket occupancy ⇒ near-linear candidates),
    // tables with the recall target. At the sf0.1 fixture size this
    // resolves to the neighborhood of the hand-tuned 16×8 point; at the
    // 30× replica it is what keeps the sweep linear instead of the
    // measured 102× fixed-config blow-up (SCALE.md round 4).
    "q_dedup_cosine_lsh" -> ((s, dir) =>
      (Dedup.cosinePairsLshAuto(embWithPlanted(s, dir), "vec_id", "embedding",
          CosineThresholdProd))),

    // the LINEAR-at-decaying-recall pinned-tables mode (VERDICT r14 item
    // 4): planes stay occupancy-sized, tables pinned at 32 — cost
    // O(tables·n·occ) instead of the auto mode's recall-constant
    // super-linear tables growth. Same planted oracle: companions are
    // exact 0.5× scalings of their source (identical direction ⇒
    // identical sign bits ⇒ same bucket in EVERY table), so recall on
    // the planted pairs is structural at any pinned table count — the
    // mode's recall decay only bites threshold-EDGE pairs, quantified by
    // Dedup.lshMissProbability and spec-pinned in DedupSpec.
    "q_dedup_cosine_lsh_pinned" -> ((s, dir) =>
      (Dedup.cosinePairsLshPinned(embWithPlanted(s, dir), "vec_id",
          "embedding", CosineThresholdProd, tables = 32))),

    // SemDeDup (cluster-then-dedup): k-means cells bound the pair sweep
    // to cluster-mates — Σ n_c² instead of n². iters=0 keeps the whole
    // dataflow (seeded centroids, argmax assignment, within-cell cosine)
    // SQL-replayable; k-means refinement is spec-verified determinism.
    // Planted half-scaled companions share their source's direction ⇒
    // identical centroid cosines ⇒ same argmax cell: every planted pair
    // is structurally recalled, so the oracle rows are real pairs.
    "q_dedup_semantic" -> ((s, dir) =>
      (SemanticDedup.semanticPairs(embWithPlanted(s, dir), "vec_id",
          "embedding", CosineThresholdProd, IvfCentroids))),

    // greedy keep-lowest-id survivors under the within-cell neighbor
    // relation (dominated-by-any-smaller-id — order-free, one anti-join)
    "q_dedup_semantic_survivors" -> ((s, dir) =>
      (SemanticDedup.semanticSurvivors(embWithPlanted(s, dir), "vec_id",
          "embedding", CosineThresholdProd, IvfCentroids))),

    // ── similarity search ────────────────────────────────────────────
    "q_sim_bruteforce_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < SimQueryIds),
        "vec_id", "embedding", SimK)
    }),

    "q_sim_lsh_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.lshTopK(e, e.filter(col("vec_id") < SimQueryIds),
        "vec_id", "embedding", SimK)
    }),

    // approximation-quality eval: per-query recall of the LSH ANN
    // against the exact brute-force top-k — the report that tunes the
    // planes×tables knob; counting only, integer basis points
    "q_eval_ann_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < SimQueryIds)
      graft.ops.Eval.recallAtK(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", SimK),
        Similarity.lshTopK(e, q, "vec_id", "embedding", SimK),
        "query_id", "nn_id")
    }),

    // pair-set confusion of SimHash (hamming <= 3) against exact
    // 0.8-Jaccard truth — DIFFERENT semantics by design, so the one-row
    // report is informative (precision/recall/F1 in basis points)
    "q_eval_dedup_confusion" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Eval.pairConfusion(
        Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold),
        Dedup.simhashPairs(d, "doc_id", "text", 3),
        "doc_i", "doc_j")
    }),

    // deterministic with iters=0: centroids = first-N corpus vectors,
    // total-order tie-breaks — the oracle replays the same dataflow in SQL
    "q_sim_ivf_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      Similarity.ivfTopK(e, e.filter(col("vec_id") < SimQueryIds),
        "vec_id", "embedding", SimK)
    }),

    // skew-salted join — semantically identical to the plain inner join,
    // proven by sharing its oracle
    "q_join_salted" -> ((s, dir) => {
      val l = li(s, dir).select("l_orderkey", "l_partkey", "l_quantity")
      val p = Entities.read(s, dir, "part").select("p_partkey", "p_name")
        .withColumnRenamed("p_partkey", "l_partkey")
      graft.ops.Skew.saltedJoin(l, p, Seq("l_partkey"), 8)

    }),

    // bloom-reduced anti join — semantically identical to the plain
    // left-anti join (a bloom filter has no false negatives; every
    // "maybe" is verified by a real join), proven by sharing its
    // NOT EXISTS oracle. The sketch prunes the probe side BEFORE the
    // shuffle: customers without an 'F'-status order bypass the join
    // entirely (see ops/BloomJoin for the 100 TB rationale).
    "q_join_bloom_anti" -> ((s, dir) => {
      val c = Entities.read(s, dir, "customer").select("c_custkey", "c_name")
      val o = Entities.read(s, dir, "orders")
        .filter(col("o_orderstatus") === "F").select("o_custkey")
      graft.ops.BloomJoin.bloomAntiJoin(c, o, "c_custkey", "o_custkey",
        expectedItems = 200000L, fpp = 0.01)

    }),

    // Scalable variant of the customer report's global percent_rank
    // tiering (SURVEY.md §4 anti-pattern 3): aggregate per customer
    // FIRST (|customers| rows, not |sales|), then band with the rank
    // protocol's broadcast-boundary form
    // ([[graft.ops.Ranks.tiersByPercentRank]], bit-identical to tiering
    // on `percent_rank() OVER (ORDER BY …)`) — no single-partition
    // window and no row-data shuffle anywhere in the plan, at any
    // cardinality.
    "q_customer_tier_scalable" -> ((s, dir) => {
      import graft.model.Entities.{dec, decD, decQ}
      val sales = Entities.sales(s, dir)
        .filter(col("ORDER_STATUS").isin("Delivered", "Shipped"))
      val products = Entities.products(s, dir).select("PRODUCT_ID", "SELLING_PRICE")
      val amounts = sales.join(broadcast(products), Seq("PRODUCT_ID"), "left")
        .select(col("CUSTOMER_ID"),
          round(decQ(col("QUANTITY")) * dec(col("SELLING_PRICE")) *
            (lit(100).cast(Entities.DiscDec) - decD(col("DISCOUNT"))) *
            lit(new java.math.BigDecimal("0.01")), 2).as("amt"))
      // persisted in the ResultSort window: the rank protocol's compact
      // side and the row side both consume this |customers|-sized frame,
      // and its lineage is the full sales scan+agg — same diamond-persist
      // rationale as the mart's metrics cache (one entry per plan across
      // calls, evictable, released with every window)
      // decimal(18,2): same values (a per-customer total overflowing 16
      // integer digits would throw loudly under ANSI, not mis-tier), and
      // the tightened precision lets the EAGER tiering's exact-long
      // selection engage instead of the in-plan rank machinery
      val perCustomer = ResultSort.window.add(amounts.groupBy("CUSTOMER_ID")
        .agg(sum("amt").cast(org.apache.spark.sql.types.DecimalType(18, 2))
          .as("total_dec"))
        .join(Entities.customers(s, dir), Seq("CUSTOMER_ID"), "inner"))
      (graft.ops.Ranks.tiersByPercentRankEager(perCustomer, "total_dec",
            thresholds = Seq(0.2, 0.5), labels = Seq("Gold", "Silver", "Bronze"),
            descending = true, outCol = "LOYALTY_TIER")
          .select(col("CUSTOMER_ID"), col("NAME").as("CUSTOMER_NAME"),
            col("total_dec").cast("double").as("TOTAL_SALES"),
            col("LOYALTY_TIER")))
    }),

    // Deterministic sampling (reproducible corpus subsetting)
    "q_sample_systematic" -> ((s, dir) =>
      graft.ops.Sampling.systematicSample(
        docs(s, dir).select("doc_id", "lang", "n_chars"), "doc_id", 10L, 3L)
        ),

    // balanced per-language eval panel: exactly 12 docs per lang, chosen
    // by md5-key order — deterministic in (doc_id, seed)
    "q_sample_stratum_topk" -> ((s, dir) =>
      graft.ops.Sampling.stratumTopK(
        docs(s, dir).select("doc_id", "lang", "n_chars"), "lang", "doc_id", 12)
        ),

    // deterministic up-sampling corpus mix: src0 ×3 epochs, src1 ×2,
    // the rest ×1 — the per-source repetition weighting of data recipes
    "q_sample_mix" -> ((s, dir) =>
      graft.ops.Sampling.repeatByStratum(
        docs(s, dir).select("doc_id", "source"), "source",
        Map("src0" -> 3, "src1" -> 2))
        ),

    // weighted sampling without replacement (Efraimidis–Spirakis race):
    // 120 docs ∝ n_chars, deterministic in (doc_id, seed) — the
    // quality-weighted subsetting primitive; oracle replays the exact
    // priority formula (md5-derived exact uniform, one ln, one divide)
    "q_sample_weighted" -> ((s, dir) =>
      graft.ops.Sampling.weightedSample(
        docs(s, dir).select("doc_id", "lang", "n_chars"), "doc_id",
        "n_chars", 120, 42L)
        ),

    // ── corpus composition (training-order prep; ops/Composition) ────
    // reproducible pseudorandom training order: every doc tagged with its
    // engine-portable md5 order key; a writer realizes the total order
    // with repartitionByRange + sortWithinPartitions, never a global sort
    "q_corpus_shuffle" -> ((s, dir) =>
      graft.ops.Composition.shuffled(docs(s, dir), "doc_id", 42L)
        .select("doc_id", "shuffle_key")),

    // per-source token budget: sources capped at 5000 chars, taken in
    // per-source pseudorandom order — deterministic in (doc_id, seed)
    "q_corpus_token_budget" -> ((s, dir) =>
      graft.ops.Composition.tokenBudgetPerSource(
        docs(s, dir), "doc_id", "source", "n_chars", 5000L, 42L)
        .select("doc_id", "source", "n_chars")),

    // round-robin source interleave: rank pseudorandomly within source;
    // global order (rank, source) mixes sources in every training window
    "q_corpus_interleave" -> ((s, dir) =>
      graft.ops.Composition.interleaved(docs(s, dir), "doc_id", "source", 42L)
        .select("doc_id", "source", "interleave_rank")
        ),

    // deterministic 90/5/5 train/val/test assignment: membership is a
    // per-row function of (doc_id, seed) against fixed hex boundaries —
    // stable under re-runs, repartitioning, and corpus growth
    "q_corpus_split" -> ((s, dir) =>
      graft.ops.Composition.splitAssign(docs(s, dir), "doc_id",
        CorpusSplits, 42L)
        .select("doc_id", "split")),

    // domain reweighting: deterministic downsample to the target language
    // mix — kept total is the max achievable under the proportions, and
    // membership is a per-row integer-threshold function of (id, seed)
    "q_corpus_reweight" -> ((s, dir) =>
      graft.ops.Composition.reweightToTarget(docs(s, dir), "doc_id", "lang",
        ReweightTarget, 42L)
        .select("doc_id", "lang")),

    // ── text analysis ────────────────────────────────────────────────
    "q_text_tokens" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(TextAnalysis.tokens(col("text"))).as("n_ws_tokens"),
        size(TextAnalysis.bpeishTokens(col("text"))).as("n_bpe_tokens"))
        ),

    // real merge-table BPE (graft.functions.Bpe) — subword token and
    // unique-subword counts per doc; the oracle replays the identical
    // merge loop as a recursive CTE over DISTINCT words
    "q_text_bpe" -> ((s, dir) => {
      val tk = graft.functions.Bpe.tokens(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        size(tk).as("n_bpe"),
        size(array_distinct(tk)).as("n_uniq_bpe"))

    }),

    // the packing family re-based on REAL subword counts: budget bins
    // sized in model tokens instead of word-ish regex counts
    "q_pack_bpe_budget" -> ((s, dir) =>
      Packing.nextFitPack(docs(s, dir), "doc_id",
        size(graft.functions.Bpe.tokens(col("text"))), PackBudget, PackGroups)
        ),

    "q_text_langid" -> ((s, dir) => {
      val scores = TextAnalysis.langScores(col("text"))
      docs(s, dir).select(
        col("doc_id") +:
          scores.map { case (l, c) => c.as(s"score_$l") } :+
          TextAnalysis.langId(scores).as("lang_pred"): _*)

    }),

    "q_text_quality" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.avgTokenLen(toks).as("avg_token_len"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopRatio(toks, TextAnalysis.StopEn).as("stop_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))

    }),

    "q_text_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.minGramFingerprint(col("text"), 8).as("min_gram8"))
        ),

    "q_text_normalize" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        TextAnalysis.normalizeText(col("text")).as("text_norm"),
        length(TextAnalysis.normalizeText(col("text"))).as("n_chars_norm"))
        ),

    "q_text_flags" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id") +:
          TextAnalysis.contentFlags(col("text")).map { case (n, c) => c.as(n) }: _*)
        ),

    // corpus vocabulary: df/tf per token (the TF-IDF ingredients), top-100
    // by (tf, token) — a total order, so the limit is deterministic
    "q_text_vocab" -> ((s, dir) =>
      TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text")
        .orderBy(col("tf").desc, col("token")).limit(100)),

    "q_text_doc_topterms" -> ((s, dir) =>
      TextAnalysis.docTopTerms(docs(s, dir), "doc_id", "text", 3)
        ),

    // exact frequent tokens over the n/k threshold via two-pass
    // Misra–Gries (bounded-memory candidates, exact rescan) — the sketch
    // path whose output is still exactly SQL-checkable because false
    // positives are culled and false negatives are impossible
    "q_text_heavy_hitters" -> ((s, dir) =>
      graft.ops.HeavyHitters.frequentTokens(docs(s, dir), "text", HeavyHitterK)
        ),

    // TF-IDF-style keyword extraction with the rational idf N/df (log-free
    // for bit-reproducibility — any monotone idf ranks identically per doc)
    "q_text_tfidf" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(docs(s, dir), "doc_id", "text", 3)
        ),

    // Gopher-style repetition quality signals: duplicate token / 2-gram /
    // 3-gram occurrence fractions per document
    "q_text_repetition" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.dupGramFraction(col("text"), 1).as("dup_tok_frac"),
        TextAnalysis.dupGramFraction(col("text"), 2).as("dup_2gram_frac"),
        TextAnalysis.dupGramFraction(col("text"), 3).as("dup_3gram_frac"))
        ),

    // PII-style redaction pass (URL → email → digit-run, order matters)
    "q_text_redact" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.redactPii(col("text")).as("text_redacted"),
        length(TextAnalysis.redactPii(col("text"))).as("n_chars_redacted"))
        ),

    // corpus-LM perplexity-style scoring, bit-exact across engines: the
    // per-bigram log-likelihood is floored to integer BITS (binary-string
    // length, no libm) and summed — rank by ll_bits/n_bigrams and the low
    // tail is the "surprising under the corpus LM" tail CCNet-style
    // filters drop
    "q_text_lm_score" -> ((s, dir) =>
      graft.ops.LanguageModel.bigramBitScores(docs(s, dir), "doc_id", "text")
        ),

    // ── train/eval contamination (decontamination sweep) ─────────────
    // eval slice = doc_id % 7 == 0, train = the rest; containment =
    // shared-shingle fraction of the EVAL doc's shingles
    "q_contam_pairs" -> ((s, dir) => {
      val d = docs(s, dir)
      (Contamination.containmentPairs(
        d.filter(col("doc_id") % ContamEvalMod =!= 0),
        d.filter(col("doc_id") % ContamEvalMod === 0),
        "doc_id", "text", 3, ContamThreshold))
    }),

    // the 100 TB decontamination shape: a Bloom sketch of the eval
    // shingle set, built once (two eager jobs), drops definite non-member
    // train shingles BEFORE the exchange; FPs die in the exact join, so
    // the rows equal q_contam_pairs exactly and the two share one oracle
    "q_contam_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      val eval = d.filter(col("doc_id") % ContamEvalMod === 0)
      (Contamination.containmentPairs(
        d.filter(col("doc_id") % ContamEvalMod =!= 0), eval,
        "doc_id", "text", 3, ContamThreshold,
        evalFilter = Some(Contamination.evalFilterBytes(eval, "doc_id", "text", 3))))
    }),

    "q_contam_summary" -> ((s, dir) => {
      val d = docs(s, dir)
      val eval = d.filter(col("doc_id") % ContamEvalMod === 0)
      (Contamination.evalSummary(eval,
        Contamination.containmentPairs(
          d.filter(col("doc_id") % ContamEvalMod =!= 0), eval,
          "doc_id", "text", 3, ContamThreshold),
        "doc_id"))
    }),

    // ── token-budget sequence packing ────────────────────────────────
    "q_pack_nextfit" -> ((s, dir) =>
      Packing.nextFitPack(docs(s, dir), "doc_id",
        size(TextAnalysis.tokens(col("text"))), PackBudget, PackGroups)
        ),

    "q_pack_bins" -> ((s, dir) =>
      Packing.binStats(
        Packing.nextFitPack(docs(s, dir), "doc_id",
          size(TextAnalysis.tokens(col("text"))), PackBudget, PackGroups),
        PackBudget)
        ),

    // bins materialized as actual training sequences (doc_id-ordered
    // concatenation); md5 at the edge keeps the row narrow for the driver
    "q_pack_sequences" -> ((s, dir) => {
      val d = docs(s, dir)
      Packing.materializeBins(
        Packing.nextFitPack(d, "doc_id",
          size(TextAnalysis.tokens(col("text"))), PackBudget, PackGroups),
        d, "doc_id", "text")
        .select(col("pack_group"), col("bin_id"), col("n_docs"), col("fill"),
          md5(col("seq_text")).as("seq_md5"))

    }),

    // sliding token-window chunking (64-token windows, stride 48)
    "q_text_chunks" -> ((s, dir) =>
      TextAnalysis.chunkTokens(docs(s, dir), "doc_id", "text", 64, 48)
        ),

    // the composed quality sweep every corpus runs before training:
    // length floor + quality score + repetition cap + PII-free, all
    // predicates fused into ONE codegen'd scan (no joins, no shuffle
    // before the harness sort). The predicate set is THE quality gate —
    // shared with the streaming form (CorpusStreams.qualityGate), so the
    // batch oracle here also pins the stream's semantics.
    "q_corpus_filter" -> ((s, dir) =>
      graft.streaming.CorpusStreams.qualityGate(docs(s, dir))
        .select("doc_id", "lang", "n_chars")
        ),

    // the FLAGSHIP curation sweep — the whole pre-training pipeline as
    // one composed declarative plan Catalyst optimizes end to end:
    // quality gates (fused codegen scan) → exact-dedup survivors within
    // the passing set (hash shuffle on text) → stable split assignment
    // (per-row hex-boundary compare). One statement, one oracle.
    "q_corpus_curated" -> ((s, dir) => {
      val quality = graft.streaming.CorpusStreams.qualityGate(docs(s, dir))
      val unique = Dedup.exactSurvivors(quality, Seq("text"), "doc_id")
      graft.ops.Composition.splitAssign(unique, "doc_id", CorpusSplits, 42L)
        .select("doc_id", "lang", "source", "n_chars", "split")

    }),

    // exact corpus quantiles by distributed selection (no sort, no
    // single-partition window, no approx sketch): ranks ⌈q·n⌉ over n_chars
    "q_text_length_quantiles" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Quantiles
        .exactQuantiles(docs(s, dir), "n_chars", Seq(0.50, 0.90, 0.99))
        .map { case (q, v) => (f"p${(q * 100).toInt}%02d", v) }
        .toDF("metric", "value")

    }),

    // quantile-threshold sweep: keep docs at or above the corpus median
    // length — the Quantiles selection composed as a filter cutoff (the
    // scalar is computed by distributed selection, never a global sort)
    "q_corpus_filter_quantile" -> ((s, dir) => {
      val d = docs(s, dir)
      val p50 = graft.ops.Quantiles.exactQuantiles(d, "n_chars", Seq(0.5)).head._2
      d.filter(col("n_chars") >= p50)
        .select("doc_id", "lang", "n_chars")
    }),

    // per-group exact median: a (lang)-partitioned window — parallel
    // across groups, each group's rank scan local to its partition
    "q_text_lang_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
      val wc = Window.partitionBy("lang")
      docs(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("cnt", count(lit(1)).over(wc))
        .filter(col("rn") === ceil(col("cnt") * 0.5).cast("int"))
        .select(col("lang"), col("n_chars").as("median_n_chars"))

    }),

    // the SCALABLE form of the same median: per-group distributed
    // selection (histogram keyed by (group, bucket), ≤7 shared passes)
    // instead of a partitioned window that funnels each whole group into
    // one task. Shares q_text_lang_median's oracle — the point is that
    // both roads give the identical exact answer.
    "q_lang_median_scalable" -> ((s, dir) => {
      val d = docs(s, dir)
      val t = d.schema("n_chars").dataType
      graft.ops.Quantiles.groupedExactQuantiles(d, "lang", "n_chars",
          Seq("value" -> 0.5))
        .select(col("lang"), col("value").cast(t).as("median_n_chars"))

    }),

    // the DOUBLE variant: exact value quantiles via the order-preserving
    // IEEE-bits mapping (codegen'd SortableDoubleBits) + the same
    // distributed selection — the k-th smallest double is directly
    // SQL-checkable, so the internal mapping needs no oracle mirror
    "q_events_value_quantiles" -> ((s, dir) => {
      import s.implicits._
      graft.ops.Quantiles
        .exactQuantilesDouble(Entities.read(s, dir, "events"), "value",
          Seq(0.50, 0.90, 0.99))
        .map { case (q, v) => (f"p${(q * 100).toInt}%02d", v) }
        .toDF("metric", "value")

    }),

    // ── embedding preprocessing ──────────────────────────────────────
    // float arrays quantized (floor(f·1e6)) + serialized at the edge,
    // same discipline as q_multimodal_features
    "q_emb_normalize" -> ((s, dir) =>
      emb(s, dir).select(col("vec_id"),
        concat_ws(" ", transform(
          graft.ops.Embeddings.l2Normalize(col("embedding")),
          f => floor(f.cast("double") * lit(1000000.0)).cast("string")))
          .as("norm_q6"))
        ),

    "q_emb_quantize" -> ((s, dir) =>
      // materialize the quantizer struct in its own projection so the
      // abs-max/scale chain is computed once, not once per output field
      emb(s, dir)
        .select(col("vec_id"),
          graft.ops.Embeddings.quantizeInt8(col("embedding")).as("qz"))
        .select(col("vec_id"),
          concat_ws(" ", transform(col("qz.q"), x => x.cast("string")))
            .as("q_str"),
          col("qz.scale").as("scale"))
        ),

    // ── streaming transforms, run in batch mode (same plan runs under
    //    readStream + watermark — see EventStreams / StreamingSpec) ────
    // total_value is summed in DECIMAL (exact, order-independent) and cast
    // to double only at the query edge: values are 2-decimal so the double
    // is exact, and the driver's hasher representation of Spark vs DuckDB
    // DECIMAL types differs even when values are identical (VERDICT r1 §1).
    "q_events_windowed" -> ((s, dir) =>
      EventStreams.tumblingStats(events(s, dir))
        .withColumn("total_value", col("total_value").cast("double"))
        ),

    "q_events_sliding" -> ((s, dir) =>
      EventStreams.slidingStats(events(s, dir))
        .withColumn("total_value", col("total_value").cast("double"))
        ),

    "q_events_sessionize" -> ((s, dir) =>
      EventStreams.sessionStats(events(s, dir))
        .withColumn("total_value", col("total_value").cast("double"))
        ),

    "q_events_props" -> ((s, dir) =>
      EventStreams.propsK(events(s, dir))),

    // the mapGroupsWithState operator run in batch mode (one state pass
    // per group): integer-cents accumulation is order-independent, so the
    // batch result is SQL-expressible and equals the stream's final state
    "q_events_running_totals" -> ((s, dir) => {
      import s.implicits._
      EventStreams.runningTotals(events(s, dir).as[EventStreams.Event])
        .toDF()
    }),

    // regular-grid resample + LOCF gap fill: dense per-user hour grid
    // over each user's observed span, empty buckets flagged and carried
    // forward. Decimal bucket sums (exact) surface as doubles only at
    // the query edge, same discipline as q_events_windowed.
    // the Shared form: the presentational orderBy's range exchange
    // samples its child (executing it once more), and the gap-summary
    // query consumes the same grid — one plan-keyed cache entry serves
    // the sampling pass, the sort and the sibling query. Re-measured in
    // isolation (r13, advisor request): shared = 1.35 s + 0.59 s for
    // the pair vs lazy = 2.48 s + 1.38 s — the r12 +32% single-cell
    // regression does not reproduce; shared wins both cells.
    "q_events_gapfill_locf" -> ((s, dir) =>
      graft.ops.TimeSeries
        .resampleLocfShared(events(s, dir), "user_id", "ts", "value", "hour")
        .withColumn("bucket_value", col("bucket_value").cast("double"))
        .withColumn("locf_value", col("locf_value").cast("double"))
        ),

    // per-key freshness report off the same grid: bucket counts, gap
    // counts and the longest consecutive empty run (gaps-and-islands)
    "q_events_gap_summary" -> ((s, dir) =>
      graft.ops.TimeSeries
        .gapSummary(events(s, dir), "user_id", "ts", "value", "hour")
        ),

    // As-of join (union-window form; DuckDB's native ASOF JOIN is the
    // oracle): each event joined to the user's latest strictly-earlier
    // event.
    "q_join_asof" -> ((s, dir) => {
      val e = events(s, dir).select("event_id", "ts", "user_id", "value")
      graft.ops.AsOf.asOfJoin(e, e, Seq("user_id"), "ts", "ts", strict = true)
        .select(col("event_id"), col("user_id"), col("ts"), col("value"),
          col("asof_ts"), col("asof_value"))

    }),

    // Range join (bin-bucketed equi-join + exact filter): events landing
    // within the hour after another event of the same user.
    "q_join_range" -> ((s, dir) => {
      val e = events(s, dir).select("event_id", "ts", "user_id")
      val intervals = e
        .withColumnRenamed("event_id", "interval_id")
        .withColumn("end_ts", expr("ts + INTERVAL 1 HOUR"))
        .select(col("user_id"), col("interval_id"), col("ts").as("start_ts"), col("end_ts"))
      graft.ops.RangeJoin.binnedRangeJoin(
        e, intervals, Seq("user_id"), "ts", "start_ts", "end_ts", 3600L)
        .filter(col("ts") > col("range_start_ts")) // strictly after, excludes self
        .select(col("event_id"), col("range_interval_id").as("interval_id"),
          col("user_id"))

    }),

    // two-sided CUSUM drift over per-type hourly value sums: the
    // control-chart recursion rewritten as cumsum − running-min (exact
    // decimal windows over bucket-cardinality frames). Edge columns are
    // quantized to cents-BIGINT (exact: DECIMAL(22,2)×100 is integral) —
    // the driver's hash canonicalization of DECIMAL output diverged from
    // the repr-exact local mirror in r8, and integral longs are the one
    // type both compare paths agree on (q_multimodal_features precedent).
    "q_events_cusum" -> ((s, dir) =>
      graft.ops.TimeSeries.cusum(events(s, dir), "event_type", "ts", "value",
          "hour", BigDecimal(147), BigDecimal(56), BigDecimal(565))
        .select(col("event_type"), col("bucket"),
          (col("bucket_value") * 100).cast("long").as("bucket_value_c"),
          (col("cusum_hi") * 100).cast("long").as("cusum_hi_c"),
          (col("cusum_lo") * 100).cast("long").as("cusum_lo_c"),
          col("is_drift"))
        ),

    // per-hour value percentile bands (p50/p95) — the SLO-monitoring
    // shape: ~720 hour-groups through ONE multi-rank grouped selection
    // (no per-hour window sort), exact data values out
    "q_events_hourly_bands" -> ((s, dir) => {
      val e = events(s, dir)
        .withColumn("hour", date_trunc("hour", col("ts")))
      graft.ops.Quantiles
        .groupedExactQuantilesDouble(e, "hour", "value",
          Seq("p50" -> 0.5, "p95" -> 0.95))

    }),

    // Interval-overlap join (bin-bucketed, exactly-once by the
    // intersection-first-bin rule — no distinct pass): pairs of events
    // whose 30-minute activity windows overlap for the same user
    "q_join_overlap" -> ((s, dir) => {
      val e = events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts").as("start_ts"))
        .withColumn("end_ts", expr("start_ts + INTERVAL 30 MINUTES"))
      graft.ops.RangeJoin.overlapJoin(e, e, Seq("user_id"),
          "start_ts", "end_ts", "start_ts", "end_ts", 1800L)
        .filter(col("event_id") < col("r_event_id"))
        .select("event_id", "r_event_id", "user_id")

    }),

    // ── multimodal binary-column plumbing ────────────────────────────
    "q_multimodal_meta" -> ((s, dir) => {
      val m = Multimodal.mediaFromDocuments(docs(s, dir))
      m.select(col("media_id"), col("modality"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"),
        col("meta.width").as("width"), col("meta.height").as("height"),
        col("meta.sample_rate").as("sample_rate"),
        col("meta.duration_ms").as("duration_ms"))

    }),

    "q_multimodal_frames" -> ((s, dir) =>
      Multimodal.frameSample(Multimodal.mediaFromDocuments(docs(s, dir)), 32)
        .select(col("media_id"), col("frame_idx"),
          md5(col("frame_bytes")).as("frame_md5"))
        ),

    // nearest-neighbor byte resize to a 64-byte budget; md5 at the edge
    // (binary columns don't survive the driver's pandas sort)
    "q_multimodal_resize" -> ((s, dir) =>
      Multimodal.resizeStub(Multimodal.mediaFromDocuments(docs(s, dir)), 64)
        .select(col("media_id"), col("modality"),
          length(col("resized")).as("n_bytes"),
          md5(col("resized")).as("resized_md5"))
        ),

    // features quantized (floor(f·1e6), exact: the stub's double math and
    // float rounding are IEEE-identical in DuckDB) and serialized at the
    // edge — the driver's pandas sort can't hash array cells (VERDICT r1 §2)
    "q_multimodal_features" -> ((s, dir) =>
      Multimodal.decodeFeatures(
        Multimodal.partitionByModality(Multimodal.mediaFromDocuments(docs(s, dir))), 8)
        .select(col("media_id"), col("modality"),
          concat_ws(" ", transform(col("features"),
            f => floor(f.cast("double") * lit(1000000.0)).cast("string")))
            .as("features_q6"))
        ),

    // ── the end-to-end curation pipeline (composition flagship) ──────
    // length gate → quality gate → jaccard near-dedup → decontamination
    // vs the eval split, reported as a per-stage survivor funnel; every
    // stage is an existing operator, every count a lazy aggregate
    "q_corpus_pipeline" -> ((s, dir) => {
      val d0 = docs(s, dir)
      val lenGate = length(col("text")) >= 100
      val qualGate = TextAnalysis.qualityScore(col("text")) >= 0.12
      val d2 = d0.filter(lenGate && qualGate)
      val pairs = Dedup.jaccardPairs(d2, "doc_id", "text", 3, 0.8)
      // The near-dedup survivor set feeds THREE consumers below — the
      // stage-3 count, the contamination index build, and the stage-4
      // anti join — and AQE's stage cache reuses none of them, so the
      // anti-join + verify lineage executed 3× per call (39 driver jobs
      // / 979 tasks at sf0.1). Persist the survivors PRUNED to the two
      // columns those consumers read (id + text) + eager count (the
      // NOTES_r5 anti-convoy contract): one materialization — 10 jobs /
      // 269 tasks, wall 2.8-3.0 → 1.9 s steady. An ids-only cache with a
      // text re-attach join was probed and is WORSE (26 jobs / 643
      // tasks, 3.2-3.9 s: the corpus-side equi-join costs more than the
      // cache it saves). This is the checkpoint-between-stages shape a
      // real curation pipeline runs at 100 TB — one survivor
      // materialization instead of three anti-join + verify sweeps.
      // Rides the ResultSort window so each bench pass starts cold (a
      // raw persist would be plan-keyed in the CacheManager and serve
      // pass 1's answer to pass 2).
      val d3 = ResultSort.window.add(
        Dedup.removeNearDups(d2.select("doc_id", "text"), pairs, "doc_id"))
      d3.count()
      val ev = d0.filter(col("doc_id") % 7 === 0)
      val tr = d3.filter(col("doc_id") % 7 =!= 0)
      val contaminated = Contamination
        .containmentPairs(tr, ev, "doc_id", "text", 3, 0.5)
        .select(col("train_id").as("doc_id")).distinct()
      val d4 = tr.join(contaminated, Seq("doc_id"), "left_anti")
      // the three row-local gates fuse into ONE corpus scan (conditional
      // sums exploded to stage rows, Profile-style) — the naive form
      // scanned the corpus once per stage count
      val gates = d0.agg(
        count(lit(1)).as("__n0"),
        sum(when(lenGate, 1L).otherwise(0L)).as("__n1"),
        sum(when(lenGate && qualGate, 1L).otherwise(0L)).as("__n2"))
        .select(explode(array(
          struct(lit("0_raw").as("stage"), col("__n0").as("n_docs")),
          struct(lit("1_length").as("stage"), col("__n1").as("n_docs")),
          struct(lit("2_quality").as("stage"), col("__n2").as("n_docs"))))
          .as("p"))
        .select(col("p.stage"), col("p.n_docs"))
      def stage(n: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs")).select(lit(n).as("stage"), col("n_docs"))
      gates
        .unionByName(stage("3_near_dedup", d3))
        .unionByName(stage("4_decontaminated", d4))

    }),

    // pre-flight join cardinality audit: predicted output rows and the
    // worst single-key fanout BEFORE running the join — key-cardinality
    // count frames only, exact DECIMAL(38) products. The operator's
    // DOUBLE skew_ratio is re-expressed at the edge as an exact integral
    // ppm (max·keys·10⁶ div Σ — both engines truncate positive integral
    // division). Guards, not assumptions: the numerator stays in
    // DECIMAL(38,0) through the div, and past-fixture-scale inputs
    // raise the SAME explicit error on both engines (max·keys ≤ 10³²
    // keeps ·10⁶ inside DECIMAL(38)/HUGEINT; the BIGINT output casts
    // themselves throw on overflow under ANSI rather than wrapping).
    "q_join_fanout" -> ((s, dir) =>
      graft.ops.JoinAudit.joinFanout(
        Entities.read(s, dir, "orders"),
        li(s, dir).withColumnRenamed("l_orderkey", "o_orderkey"),
        Seq("o_orderkey"))
        .select(col("matched_keys"),
          col("predicted_rows").cast("long").as("predicted_rows"),
          col("max_key_fanout").cast("long").as("max_key_fanout"),
          expr("CAST(CASE WHEN max_key_fanout * matched_keys <= " +
            "CAST('100000000000000000000000000000000' AS DECIMAL(38,0)) " +
            "THEN (max_key_fanout * matched_keys * 1000000) div " +
            "predicted_rows ELSE raise_error(" +
            "'joinFanout skew_x1e6 overflow: max_key_fanout*matched_keys " +
            "exceeds 1e32') END AS BIGINT)").as("skew_x1e6"))),

    // bit-deterministic correlation + OLS per group: five DECIMAL(38)
    // integer moment sums (order-independent), one fixed IEEE tail —
    // reproducible where float-accumulated corr() is not
    "q_stats_corr" -> ((s, dir) =>
      graft.ops.Stats.groupedCorrSlope(li(s, dir), Seq("l_returnflag"),
        "l_quantity", "l_extendedprice", scale = 100L)
        ),

    // per-doc novelty: fraction of distinct 3-gram shingles unique to
    // the doc corpus-wide (df = 1) — the inverse-contamination
    // curation signal; all shuffles carry 8-byte hashes
    "q_text_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(docs(s, dir), "doc_id", "text", 3)
        .withColumnRenamed("id", "doc_id")
        ),

    // language-ID evaluation: confusion matrix of actual vs predicted
    // language with per-actual-language fractions — the eval-table
    // shape; normalization on the ≤ |langs|² aggregated matrix
    "q_text_langid_confusion" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val scores = TextAnalysis.langScores(col("text"))
      docs(s, dir)
        .select(col("lang"), TextAnalysis.langId(scores).as("lang_pred"))
        .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
        .withColumn("frac", col("n").cast("double") /
          sum("n").over(Window.partitionBy("lang")).cast("double"))

    }),

    // tokenizer-planning metric: what fraction of token occurrences
    // does the top-100 vocabulary cover? (top-k via TakeOrdered, both
    // branches share the token aggregation exchange)
    "q_text_vocab_coverage" -> ((s, dir) => {
      val vocab = TextAnalysis.vocabulary(docs(s, dir), "doc_id", "text")
      val top = vocab.orderBy(col("tf").desc, col("token")).limit(100)
        .agg(sum("tf").as("top_tf"))
      val tot = vocab.agg(sum("tf").as("total_tf"))
      tot.crossJoin(broadcast(top)).select(col("total_tf"), col("top_tf"),
        (col("top_tf").cast("double") / col("total_tf").cast("double"))
          .as("coverage"))
    }),

    // ── behavioral path analysis ─────────────────────────────────────
    // first-order Markov transition matrix over each user's ordered
    // event stream: pair counts + row-normalized probabilities
    "q_events_transitions" -> ((s, dir) =>
      graft.ops.Transitions
        .transitionMatrix(events(s, dir), "user_id", "ts", "event_type", "event_id")
        ),

    // ── nucleus-style corpus selection ───────────────────────────────
    // per source, keep the docs carrying the top half of character
    // mass: threshold via the distributed mass-refinement protocol
    // (no per-source cumsum window), map-only fact filter
    "q_corpus_top_mass" -> ((s, dir) =>
      graft.ops.Composition
        .selectTopMass(docs(s, dir), "source", "n_chars", 1L, 2L)
        .select("doc_id", "source", "n_chars", "threshold")
        ),

    // session path histogram: ordered action strings per gap-session,
    // top-50 by frequency (sorted-struct collect — deterministic)
    "q_events_paths" -> ((s, dir) =>
      graft.ops.Transitions
        .sessionPaths(events(s, dir), "user_id", "ts", "event_type", "event_id")
        .orderBy(col("n_sessions").desc, col("path")).limit(50)),

    // ── distribution drift between corpus slices ─────────────────────
    // even vs odd doc_id halves compared on a shared 16-bin integer
    // grid over document length; per-bin mass + fraction gaps
    "q_drift_bins" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Drift.driftBins(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0),
        "n_chars", 0L, 1023L, 16)

    }),

    // one-row TVD + max-gap summary; numerator in exact integer
    // cross-products, one double division at the end
    "q_drift_summary" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Drift.driftSummary(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 =!= 0),
        "n_chars", 0L, 1023L, 16)
    }),

    // ── retrieval-grade term weighting ───────────────────────────────
    // Okapi BM25 top-3 terms per doc (rational idf, saturation + length
    // norm; monotone-equivalent to the log form so ranks are exact).
    // No doubles on the oracle edge: weight_q = wNum·10¹² div wDen is an
    // exact integer-rational quantization computed in DECIMAL(38,0) on
    // both engines (the r8/r9 hash-red was cross-engine double drift —
    // flooring a double is unstable at 1-ulp gaps near integer
    // boundaries), and rk ranks by (weight_q DESC, token).
    // bare orderBy is fine here: the sort's child ends at the top-k
    // aggregate's exchange, so under AQE the range sampling reads that
    // MATERIALIZED stage's output — no double evaluation (a ResultSort
    // persist was measured 0.35 s slower at sf0.1)
    "q_text_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopTerms(docs(s, dir), "doc_id", "text", 3)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          col("dl"), col("weight_q"), col("rk"))
        ),

    // C4-style segment pruning: drop every token whose corpus document
    // frequency exceeds 395 (measured boilerplate, not a fixed lexicon);
    // the hot set is df-pigeonhole-bounded and broadcasts, so the
    // rewrite is per-row array surgery — no explode-rejoin shuffle
    "q_text_segment_prune" -> ((s, dir) =>
      TextAnalysis.segmentPrune(docs(s, dir), "doc_id", "text",
          sep = " ", maxDf = 395L)
        ),

    // Gopher-rule quality flags (word count, mean word length, symbol
    // ratio, alphabetic-word fraction, stopword presence) — integer
    // cross-multiplied ratios, BOOLEAN edges only
    "q_text_gopher" -> ((s, dir) =>
      TextAnalysis.gopherQualityFlags(docs(s, dir), "doc_id", "text",
          minWords = 20L, maxWords = 100000L)
        ),

    // corpus collocations: top-100 bigrams by PMI-monotone lift,
    // min-count 5 — shuffle-free pair construction, two aggregations
    "q_text_pmi" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(docs(s, dir), "text", minCount = 5L)
        .orderBy(col("lift").desc, col("w1"), col("w2")).limit(100)),

    // ── robust anomaly detection ─────────────────────────────────────
    // per-type MAD outliers over event values: med and mad are exact
    // type-1 selections (distributed protocol, no per-group window),
    // the 3×MAD flag is a codegen'd per-row comparison
    "q_outlier_mad" -> ((s, dir) =>
      graft.ops.Outliers
        .madOutliers(events(s, dir), "event_type", "value", k = 3.0)
        .filter(col("is_outlier"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("med"), col("mad"), col("dev"))
        ),

    // ── equi-depth histogram ─────────────────────────────────────────
    // 8 near-equal-count buckets of document lengths; edges are exact
    // type-1 quantiles from the distributed selection protocol
    "q_histogram_equidepth" -> ((s, dir) =>
      graft.ops.Histogram.equiDepth(docs(s, dir), "n_chars", 8)
        ),

    // ── corpus governance ────────────────────────────────────────────
    // k-anonymity release gate on (lang, source, 200-char length band)
    // quasi-identifiers at k=4: rows in smaller groups ship with masked
    // metadata. One keyed count + one null-safe keyed join;
    // BIGINT/VARCHAR/BOOLEAN edges only.
    "q_privacy_kanon" -> ((s, dir) =>
      graft.ops.Privacy.kAnonymize(
        docs(s, dir).select(col("doc_id"), col("lang"), col("source"),
          expr("n_chars div 200").as("band")),
        "doc_id", Seq("lang", "source", "band"), k = 4L)
        ),

    // l-diversity audit on the same release shape: every (lang, length
    // band) group sized and checked for >= 3 distinct sources — one
    // keyed aggregation, one row per quasi combination
    "q_privacy_ldiversity" -> ((s, dir) =>
      graft.ops.Privacy.lDiversity(
        docs(s, dir).select(col("lang"), col("source"),
          expr("n_chars div 200").as("band")),
        Seq("lang", "band"), "source", l = 3L)
        ),

    // incremental k-anonymity: the doc_id%10==1 batch gated against the
    // persisted quasi index of the other 90% — group size = corpus
    // index + batch count, corpus never rescanned; identical verdicts
    // to running kAnonymize over the union (spec-pinned)
    "q_privacy_kanon_incremental" -> ((s, dir) => {
      val shaped = docs(s, dir).select(col("doc_id"), col("lang"),
        col("source"), expr("n_chars div 200").as("band"))
      val corpus = shaped.filter(col("doc_id") % 10 =!= 1)
      val batch = shaped.filter(col("doc_id") % 10 === 1)
      graft.ops.Privacy.kAnonymizeAgainst(batch,
        graft.ops.Privacy.buildQuasiIndex(corpus, Seq("lang", "source", "band")),
        "doc_id", Seq("lang", "source", "band"), k = 4L)

    }),

    // t-closeness: every (lang, length band) group's source distribution
    // within 20% TVD of the corpus mix — exact integer-rational TVD in
    // basis points (absent categories folded closed-form), BIGINT edges
    "q_privacy_tcloseness" -> ((s, dir) =>
      graft.ops.Privacy.tCloseness(
        docs(s, dir).select(col("lang"), col("source"),
          expr("n_chars div 200").as("band")),
        Seq("lang", "band"), "source", tBp = 2000L)
        ),

    // cross-source near-dup containment matrix over the exact Jaccard
    // pair sweep: which sources duplicate into which (diagonal = within-
    // source redundancy); output bounded by (#sources)² rows
    "q_dedup_source_matrix" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.sourceOverlapMatrix(
        Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold),
        d, "doc_id", "source")

    }),

    // duplication-aware loss weights: keep every copy, downweight by
    // inverse cluster size (weight_bp = 1e4 div size) — the
    // data-constrained alternative to dropping near-dups
    "q_dedup_weights" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.duplicationWeights(d,
          Dedup.jaccardPairs(d, "doc_id", "text", 3, JaccardThreshold), "doc_id")

    }),

    // filter-funnel attrition: the Gopher-rule chain as CUMULATIVE
    // stages, docs + token weight surviving each — one aggregation pass
    // over one scan, integer edges (shares in basis points, integer div)
    "q_corpus_attrition" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(coalesce(col("text"), lit(""))))
      val nW = size(toks).cast("long")
      val totC = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      val alphaC = aggregate(toks, lit(0L), (acc, t) =>
        acc + when(t.rlike("[a-z]"), 1L).otherwise(0L))
      val stopHits = TextAnalysis.StopEn.map(w =>
        when(array_contains(toks, w), 1L).otherwise(0L)).reduce(_ + _)
      graft.ops.Quality.filterFunnel(docs(s, dir), Seq(
        "nonempty" -> (nW > 0L),
        "min_words_20" -> (nW >= 20L),
        "mean_word_len_3_10" -> (totC >= lit(3L) * nW && totC <= lit(10L) * nW),
        "alpha_words_80pct" -> (lit(5L) * alphaC >= lit(4L) * nW),
        "stopwords_1" -> (stopHits >= 1L)), nW)

    }),

    // per-source attrition: the same Gopher chain keyed by source —
    // still ONE map-side-combining aggregation; the shuffle carries
    // 2·(stages+1) counters per source per task
    "q_corpus_attrition_by_source" -> ((s, dir) => {
      val toks = TextAnalysis.tokens(lower(coalesce(col("text"), lit(""))))
      val nW = size(toks).cast("long")
      val totC = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
      val alphaC = aggregate(toks, lit(0L), (acc, t) =>
        acc + when(t.rlike("[a-z]"), 1L).otherwise(0L))
      val stopHits = TextAnalysis.StopEn.map(w =>
        when(array_contains(toks, w), 1L).otherwise(0L)).reduce(_ + _)
      graft.ops.Quality.filterFunnelBy(docs(s, dir), "source", Seq(
        "nonempty" -> (nW > 0L),
        "min_words_20" -> (nW >= 20L),
        "mean_word_len_3_10" -> (totC >= lit(3L) * nW && totC <= lit(10L) * nW),
        "alpha_words_80pct" -> (lit(5L) * alphaC >= lit(4L) * nW),
        "stopwords_1" -> (stopHits >= 1L)), nW)

    }),
  )

  val oracles: Map[String, String] = Map(
    // rank definition mirrors Quantiles.groupedExactQuantiles:
    // k = GREATEST(1, ceil(q·n_g)), lower value on ties
    "q_scale_robust" ->
      """WITH s AS (SELECT lang, n_chars,
        |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |                  COUNT(*) OVER (PARTITION BY lang) AS n
        |           FROM documents),
        |q AS (SELECT lang,
        |             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.25 * n) AS BIGINT))
        |                      THEN n_chars END) AS p25,
        |             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.50 * n) AS BIGINT))
        |                      THEN n_chars END) AS p50,
        |             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.75 * n) AS BIGINT))
        |                      THEN n_chars END) AS p75
        |      FROM s GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |       CASE WHEN q.p75 - q.p25 = 0 THEN NULL
        |            ELSE CAST(d.n_chars - q.p50 AS DOUBLE)
        |                 / CAST(q.p75 - q.p25 AS DOUBLE) END AS robust_z
        |FROM documents d JOIN q ON d.lang = q.lang
        |ORDER BY d.doc_id""".stripMargin,

    "q_scale_winsorized" ->
      """WITH s AS (SELECT lang, n_chars,
        |                  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
        |                  COUNT(*) OVER (PARTITION BY lang) AS n
        |           FROM documents),
        |q AS (SELECT lang,
        |             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
        |                      THEN n_chars END) AS lo,
        |             MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
        |                      THEN n_chars END) AS hi
        |      FROM s GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |       LEAST(GREATEST(d.n_chars, q.lo), q.hi) AS clipped,
        |       CASE WHEN LEAST(GREATEST(d.n_chars, q.lo), q.hi) = d.n_chars
        |            THEN 0 ELSE 1 END AS was_clipped
        |FROM documents d JOIN q ON d.lang = q.lang
        |ORDER BY d.doc_id""".stripMargin,

    "q_scale_minmax" ->
      """WITH m AS (SELECT event_type, MIN(value) AS lo, MAX(value) AS hi
        |           FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |       CASE WHEN m.hi = m.lo THEN NULL
        |            ELSE (e.value - m.lo) / (m.hi - m.lo) END AS minmax
        |FROM events e JOIN m ON e.event_type = m.event_type
        |ORDER BY e.event_id""".stripMargin,

    "q_profile_documents" -> graft.ops.Profile.oracleSql("documents",
      Seq("doc_id", "lang", "source", "n_chars")),

    "q_profile_by_lang" -> graft.ops.Profile.oracleSqlBy("documents", "lang",
      Seq("doc_id", "source", "n_chars")),

    "q_histogram_chars" -> graft.ops.Histogram.oracleSql(
      "documents", "n_chars", 0L, 1023L, 16),

    "q_funnel_users" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1)
        |SELECT s1.user_id, s1.t_1, s2.t_2, s3.t_3
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |ORDER BY s1.user_id""".stripMargin,

    "q_funnel_summary" ->
      """WITH s1 AS (SELECT user_id, MIN(ts) AS t_1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, MIN(e.ts) AS t_2 FROM events e
        |       JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, MIN(e.ts) AS t_3 FROM events e
        |       JOIN s2 ON e.user_id = s2.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1)
        |SELECT 1 AS stage, 'view' AS step, (SELECT COUNT(*) FROM s1) AS n_users
        |UNION ALL
        |SELECT 2, 'click', (SELECT COUNT(*) FROM s2)
        |UNION ALL
        |SELECT 3, 'purchase', (SELECT COUNT(*) FROM s3)
        |ORDER BY stage""".stripMargin,

    "q_cohort_retention" ->
      """WITH f AS (SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day
        |           FROM events GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |             CAST(CAST(e.ts AS DATE) - f.cohort_day AS BIGINT) AS day_offset
        |      FROM events e JOIN f ON e.user_id = f.user_id)
        |SELECT cohort_day, day_offset, COUNT(*) AS n_users
        |FROM a GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact_rows" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact_key" ->
      """SELECT text, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,

    "q_join_salted" ->
      """SELECT l.l_orderkey, l.l_partkey, l.l_quantity, p.p_name
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_partkey, l.l_quantity""".stripMargin,

    // the plain anti-join semantics the bloom reduction must reproduce
    "q_join_bloom_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,

    "q_dedup_jaccard" -> jaccardOracle(JaccardThreshold),

    // either branch of the adaptive cap (capped candidates + exact verify)
    // ⇒ exact pair set; the oracle is the uncapped exact computation
    "q_dedup_jaccard_adaptive" -> jaccardOracle(JaccardThreshold),

    // both engines compute md5 as lowercase hex and 1-based substring,
    // so the content-defined anchor predicate is cross-engine identical
    "q_dedup_passages" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) - 50 + 2))::INT AS i
        |  FROM documents WHERE length(text) >= 50),
        |wins AS (
        |  SELECT DISTINCT doc_id, substring(text, i, 50) AS win
        |  FROM pos
        |  WHERE substring(md5(substring(text, i, 8)), 1, 1) = '0')
        |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |       count(*) AS shared_passages
        |FROM wins a JOIN wins b ON a.win = b.win AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // bipartite form of the q_dedup_passages oracle on the %2 split
    "q_dedup_passages_incremental" ->
      """WITH pos AS (
        |  SELECT doc_id, text, unnest(range(1, length(text) - 50 + 2))::INT AS i
        |  FROM documents WHERE length(text) >= 50),
        |wins AS (
        |  SELECT DISTINCT doc_id, substring(text, i, 50) AS win
        |  FROM pos
        |  WHERE substring(md5(substring(text, i, 8)), 1, 1) = '0')
        |SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |       count(*) AS shared_passages
        |FROM wins a JOIN wins b ON a.win = b.win
        |WHERE a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_survivors" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_filtered" ->
      s"""WITH pairs AS (${jaccardOracle(JaccardThreshold)})
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_j FROM pairs)
         |ORDER BY doc_id""".stripMargin,

    // LSH candidates + exact verification ⇒ output equals the exact pair
    // set whenever LSH recall holds (P[miss] < 1e-7 at s ≥ 0.8 with
    // 32 bands × 4 rows — Dedup.scala header).
    "q_dedup_minhash_lsh" -> jaccardOracle(JaccardThreshold),

    // bipartite LSH candidates + exact verify ⇒ the exact cross-pair set
    // (same recall bound as q_dedup_minhash_lsh); the oracle is the exact
    // bipartite inverted-index jaccard over the even/odd split
    "q_dedup_incremental" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sh AS (SELECT doc_id,
         |  CASE WHEN len(t) >= 3
         |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
         |                           FOR i IN generate_series(1, len(t)-2)])
         |       ELSE [] END AS s FROM toks),
         |sz AS (SELECT doc_id, len(s) AS n_sh FROM sh),
         |ci AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 2 = 0),
         |bi AS (SELECT doc_id, unnest(s) AS shingle FROM sh WHERE doc_id % 2 = 1),
         |common AS (SELECT ci.doc_id AS doc_i, bi.doc_id AS doc_j, COUNT(*) AS c
         |           FROM ci JOIN bi USING (shingle) GROUP BY 1, 2)
         |SELECT doc_i, doc_j, jaccard FROM (
         |  SELECT doc_i, doc_j, c * 1.0 / (na.n_sh + nb.n_sh - c) AS jaccard
         |  FROM common JOIN sz na ON na.doc_id = doc_i
         |              JOIN sz nb ON nb.doc_id = doc_j)
         |WHERE jaccard >= $JaccardThreshold ORDER BY doc_i, doc_j""".stripMargin,

    // min-label fixpoint == min reachable id == recursive closure min
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE ${jaccardCtes(JaccardThreshold)},
         |edges AS (SELECT doc_i AS src, doc_j AS dst FROM jpairs
         |          UNION ALL SELECT doc_j, doc_i FROM jpairs),
         |reach(node, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src)
         |SELECT node AS doc_id, min(r) AS cluster_id FROM reach
         |GROUP BY node ORDER BY doc_id""".stripMargin,

    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${jaccardCtes(JaccardThreshold)},
         |edges AS (SELECT doc_i AS src, doc_j AS dst FROM jpairs
         |          UNION ALL SELECT doc_j, doc_i FROM jpairs),
         |reach(node, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         |assign AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach
         |           GROUP BY node),
         |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM assign
         |       GROUP BY 1)
         |SELECT cluster_size, COUNT(*) AS n_clusters,
         |       CAST(SUM(cluster_size) AS BIGINT) AS n_docs
         |FROM cs GROUP BY 1 ORDER BY 1""".stripMargin,

    // SimHash: 4-chunk banding is recall-exact for hamming ≤ 3 (pigeonhole),
    // so the oracle recomputes signatures from scratch: per-token MD5-top-8-
    // byte hashes vote per bit; two docs differ in bit b iff their vote
    // signs differ; hamming = count of differing bits.
    "q_dedup_simhash" ->
      """WITH toks AS (SELECT doc_id, [t FOR t IN string_split(text, ' ') IF t <> ''] AS tk
        |              FROM documents),
        |th AS (SELECT doc_id, unnest(tk) AS tok FROM toks),
        |hh AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h FROM th),
        |votes AS (SELECT doc_id, bits.bp AS bp,
        |                 SUM(CASE WHEN ((h >> bits.bp) & 1) = 1 THEN 1 ELSE -1 END) AS v
        |          FROM hh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bp) bits
        |          GROUP BY 1, 2),
        |ham AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
        |               SUM(CASE WHEN (a.v > 0) <> (b.v > 0) THEN 1 ELSE 0 END) AS hamming
        |        FROM votes a JOIN votes b ON a.bp = b.bp AND a.doc_id < b.doc_id
        |        GROUP BY 1, 2)
        |SELECT doc_i, doc_j, CAST(hamming AS INT) AS hamming FROM ham
        |WHERE hamming <= 3 ORDER BY doc_i, doc_j""".stripMargin,

    "q_dedup_cosine" -> cosineOracleAt(CosineThreshold),

    // exact bipartite cosine over the 90/10 corpus/batch split (corpus +
    // batch-side planted companions) at the production threshold —
    // bucketed candidates + exact verify reproduce it; planted pairs sit
    // at cos ~1.0 (θ=0 ⇒ bucket agreement in every table by construction)
    "q_dedup_cosine_incremental" ->
      s"""WITH emb2 AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id * 10 + $PlantedIdOffset + 1 AS vec_id,
         |         [CAST(x * 0.5 AS FLOAT) FOR x IN embedding] AS embedding
         |  FROM embeddings WHERE vec_id < $PlantedDups AND vec_id % 10 <> 1),
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM emb2)
         |SELECT vec_i, vec_j, cos FROM (
         |  SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
         |         ${sqlDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |  FROM norms a JOIN norms b ON a.vec_id % 10 <> 1 AND b.vec_id % 10 = 1)
         |WHERE cos >= $CosineThresholdProd ORDER BY vec_i, vec_j""".stripMargin,

    // LSH candidates + exact verify at the production operating point ⇒
    // equals the exact pair set at cos ≥ 0.9 on corpus + planted
    // companions (bucket agreement is exact for same-direction vectors)
    "q_dedup_cosine_lsh" -> cosineOraclePlanted(CosineThresholdProd),
    "q_dedup_cosine_lsh_pinned" -> cosineOraclePlanted(CosineThresholdProd),

    "q_dedup_semantic" ->
      s"""WITH ${semanticCtes(CosineThresholdProd, IvfCentroids)}
         |SELECT cid, vec_i, vec_j, cos FROM spairs
         |ORDER BY vec_i, vec_j""".stripMargin,

    "q_dedup_semantic_survivors" ->
      s"""WITH ${semanticCtes(CosineThresholdProd, IvfCentroids)}
         |SELECT a.vec_id, a.cid FROM assigned a
         |WHERE NOT EXISTS (SELECT 1 FROM spairs p WHERE p.vec_j = a.vec_id)
         |ORDER BY a.vec_id""".stripMargin,

    "q_sim_bruteforce_topk" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM norms q CROSS JOIN norms c
         |  WHERE q.vec_id < $SimQueryIds AND c.vec_id <> q.vec_id),
         |ranked AS (
         |  SELECT query_id, nn_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, nn_id, cos, rk FROM ranked WHERE rk <= $SimK
         |ORDER BY query_id, rk""".stripMargin,

    // both retrieval chains replayed (brute ranked + LSH ranked), then
    // exact-side-driven left join counts the hits per query
    "q_eval_ann_recall" ->
      s"""WITH w(tbl, pl, wv) AS (VALUES
         |$lshWeightValues),
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |bscored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM norms q CROSS JOIN norms c
         |  WHERE q.vec_id < $SimQueryIds AND c.vec_id <> q.vec_id),
         |exact AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, nn_id) AS rk
         |    FROM bscored) WHERE rk <= $SimK),
         |bk AS (
         |  SELECT e.vec_id, w.tbl,
         |         SUM(CASE WHEN ${sqlDot("e.embedding", "w.wv")} >= 0
         |                  THEN (1 << w.pl) ELSE 0 END) AS bucket
         |  FROM embeddings e CROSS JOIN w GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id
         |  FROM bk c JOIN bk q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |  WHERE q.vec_id < $SimQueryIds AND c.vec_id <> q.vec_id),
         |lscored AS (
         |  SELECT d.query_id, d.nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM cand d JOIN norms q ON q.vec_id = d.query_id
         |  JOIN norms c ON c.vec_id = d.nn_id),
         |approx AS (
         |  SELECT query_id, nn_id FROM (
         |    SELECT query_id, nn_id,
         |           ROW_NUMBER() OVER (PARTITION BY query_id
         |             ORDER BY cos DESC, nn_id) AS rk
         |    FROM lscored) WHERE rk <= $SimK)
         |SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
         |       CAST(COUNT(a.query_id) AS BIGINT) AS n_hits,
         |       CAST(COUNT(a.query_id) * 10000 // COUNT(*) AS BIGINT) AS recall_bp
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.nn_id = a.nn_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // jaccard truth CTEs + the simhash vote replay (renamed s*). The
    // multiply-referenced chains are MATERIALIZED (DuckDB re-evaluates
    // inlined CTEs per reference — without the hint the vote replay ran
    // 3x and the baseline read 30 s for a 0.8 s comparison) and the
    // confusion row uses difference arithmetic (fp = pred − tp,
    // fn = truth − tp on distinct pair sets) so each side is counted
    // from one evaluation
    "q_eval_dedup_confusion" ->
      s"""WITH ${jaccardCtes(JaccardThreshold)},
         |jp AS MATERIALIZED (SELECT doc_i, doc_j FROM jpairs),
         |stoks AS (SELECT doc_id, [t FOR t IN string_split(text, ' ') IF t <> ''] AS tk
         |          FROM documents),
         |sth AS (SELECT doc_id, unnest(tk) AS tok FROM stoks),
         |shh AS (SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 16)) AS UBIGINT) AS h
         |        FROM sth),
         |svotes AS (SELECT doc_id, bits.bp AS bp,
         |                  SUM(CASE WHEN ((h >> bits.bp) & 1) = 1 THEN 1 ELSE -1 END) AS v
         |           FROM shh CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bp) bits
         |           GROUP BY 1, 2),
         |sham AS MATERIALIZED (
         |         SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
         |         FROM svotes a JOIN svotes b ON a.bp = b.bp AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2
         |         HAVING SUM(CASE WHEN (a.v > 0) <> (b.v > 0) THEN 1 ELSE 0 END) <= 3),
         |sel AS (SELECT
         |  (SELECT COUNT(*) FROM jp j JOIN sham s2
         |     ON j.doc_i = s2.doc_i AND j.doc_j = s2.doc_j) AS tp,
         |  (SELECT COUNT(*) FROM sham) AS np,
         |  (SELECT COUNT(*) FROM jp) AS nt)
         |SELECT CAST(nt AS BIGINT) AS n_truth,
         |       CAST(np AS BIGINT) AS n_pred,
         |       CAST(tp AS BIGINT) AS tp, CAST(np - tp AS BIGINT) AS fp,
         |       CAST(nt - tp AS BIGINT) AS fn,
         |       CASE WHEN np = 0 THEN CAST(NULL AS BIGINT)
         |            ELSE CAST(tp * 10000 // np AS BIGINT) END AS precision_bp,
         |       CASE WHEN nt = 0 THEN CAST(NULL AS BIGINT)
         |            ELSE CAST(tp * 10000 // nt AS BIGINT) END AS recall_bp,
         |       CASE WHEN np + nt = 0 THEN CAST(NULL AS BIGINT)
         |            ELSE CAST(2 * tp * 10000 // (np + nt) AS BIGINT) END AS f1_bp
         |FROM sel""".stripMargin,

    // replays ivfTopK(iters=0) exactly: centroids = vec_id < IvfCentroids,
    // cell assignment tie-break (cos DESC, cid DESC) mirrors Spark's
    // max(struct(cos, cid)); probe tie-break (cos DESC, cid ASC) mirrors
    // the probe window. All cosines are the same sequential fold.
    "q_sim_ivf_topk" ->
      s"""WITH norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |cents AS (SELECT vec_id AS cid, embedding AS c_vec, nrm AS c_nrm
         |          FROM norms WHERE vec_id < $IvfCentroids),
         |assigned AS (
         |  SELECT nn_id, cid FROM (
         |    SELECT c.vec_id AS nn_id, t.cid,
         |           ROW_NUMBER() OVER (PARTITION BY c.vec_id
         |             ORDER BY ${sqlDot("c.embedding", "t.c_vec")} / (c.nrm * t.c_nrm) DESC,
         |                      t.cid DESC) AS rn
         |    FROM norms c CROSS JOIN cents t)
         |  WHERE rn = 1),
         |probed AS (
         |  SELECT query_id, cid FROM (
         |    SELECT q.vec_id AS query_id, t.cid,
         |           ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |             ORDER BY ${sqlDot("q.embedding", "t.c_vec")} / (q.nrm * t.c_nrm) DESC,
         |                      t.cid ASC) AS rn
         |    FROM norms q CROSS JOIN cents t
         |    WHERE q.vec_id < $SimQueryIds)
         |  WHERE rn <= $IvfProbe),
         |scored AS (
         |  SELECT p.query_id, a.nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM probed p JOIN assigned a ON a.cid = p.cid
         |  JOIN norms q ON q.vec_id = p.query_id
         |  JOIN norms c ON c.vec_id = a.nn_id
         |  WHERE a.nn_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, nn_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, nn_id, cos, rk FROM ranked WHERE rk <= $SimK
         |ORDER BY query_id, rk""".stripMargin,

    // replays lshTopK with the SAME hyperplanes (literal sign arrays from
    // the splitmix64 generator): bucket = packed sign bits per table,
    // candidates share any (table, bucket), exact-cosine rerank.
    "q_sim_lsh_topk" ->
      s"""WITH w(tbl, pl, wv) AS (VALUES
         |$lshWeightValues),
         |bk AS (
         |  SELECT e.vec_id, w.tbl,
         |         SUM(CASE WHEN ${sqlDot("e.embedding", "w.wv")} >= 0
         |                  THEN (1 << w.pl) ELSE 0 END) AS bucket
         |  FROM embeddings e CROSS JOIN w GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS nn_id
         |  FROM bk c JOIN bk q ON c.tbl = q.tbl AND c.bucket = q.bucket
         |  WHERE q.vec_id < $SimQueryIds AND c.vec_id <> q.vec_id),
         |norms AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings),
         |scored AS (
         |  SELECT d.query_id, d.nn_id,
         |         ${sqlDot("q.embedding", "c.embedding")} / (q.nrm * c.nrm) AS cos
         |  FROM cand d JOIN norms q ON q.vec_id = d.query_id
         |  JOIN norms c ON c.vec_id = d.nn_id),
         |ranked AS (
         |  SELECT query_id, nn_id, cos,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, nn_id) AS INT) AS rk
         |  FROM scored)
         |SELECT query_id, nn_id, cos, rk FROM ranked WHERE rk <= $SimK
         |ORDER BY query_id, rk""".stripMargin,

    "q_customer_tier_scalable" -> (Entities.sqlCtes + """
      |, fil AS (SELECT * FROM sales WHERE ORDER_STATUS IN ('Delivered','Shipped'))
      |, amounts AS (
      |  SELECT f.CUSTOMER_ID,
      |         ROUND(CAST(f.QUANTITY AS DECIMAL(8,2)) * CAST(p.SELLING_PRICE AS DECIMAL(12,4)) *
      |               (CAST(100 AS DECIMAL(8,4)) - CAST(f.DISCOUNT AS DECIMAL(8,4))) *
      |               CAST(0.01 AS DECIMAL(3,2)), 2) AS amt
      |  FROM fil f LEFT JOIN products p ON f.PRODUCT_ID = p.PRODUCT_ID
      |), per_cust AS (
      |  SELECT a.CUSTOMER_ID, c.NAME AS CUSTOMER_NAME, a.total_dec
      |  FROM (SELECT CUSTOMER_ID, SUM(amt) AS total_dec FROM amounts GROUP BY 1) a
      |  JOIN customers c ON a.CUSTOMER_ID = c.CUSTOMER_ID
      |)
      |SELECT CUSTOMER_ID, CUSTOMER_NAME, CAST(total_dec AS DOUBLE) AS TOTAL_SALES,
      |       CASE WHEN pr <= 0.2 THEN 'Gold'
      |            WHEN pr > 0.2 AND pr <= 0.5 THEN 'Silver'
      |            ELSE 'Bronze' END AS LOYALTY_TIER
      |FROM (SELECT *, PERCENT_RANK() OVER (ORDER BY total_dec DESC) AS pr FROM per_cust)
      |ORDER BY CUSTOMER_ID""".stripMargin),

    "q_text_tokens" ->
      s"""SELECT doc_id, length(text) AS n_chars,
         |  CAST(len([t FOR t IN string_split(text, ' ') IF t <> '']) AS INT) AS n_ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.BpeishPattern}')) AS INT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    // integer-bit LM score: floor(log2 c) = length(bin(c)) - 1 in both
    // engines — exact integer arithmetic, so the sums are order-free
    "q_text_lm_score" ->
      """WITH toks AS (SELECT doc_id,
        |  [t FOR t IN string_split(text, ' ') IF t <> ''] AS tk FROM documents),
        |bi AS (SELECT doc_id, tk[i] AS w1, tk[i] || ' ' || tk[i+1] AS bg
        |       FROM (SELECT doc_id, tk,
        |             unnest(generate_series(1, len(tk)-1)) AS i FROM toks)),
        |uni AS (SELECT tok, COUNT(*) AS cu
        |        FROM (SELECT unnest(tk) AS tok FROM toks) GROUP BY 1),
        |bc AS (SELECT bg, COUNT(*) AS cb FROM bi GROUP BY 1),
        |sc AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |          CAST(SUM((length(bin(cb)) - 1) - (length(bin(cu)) - 1)) AS BIGINT) AS ll_bits,
        |          CAST(SUM(CASE WHEN cb = 1 THEN 1 ELSE 0 END) AS BIGINT) AS uniq_bigrams
        |       FROM bi JOIN uni ON bi.w1 = uni.tok JOIN bc USING (bg) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
        |       COALESCE(ll_bits, 0) AS ll_bits,
        |       COALESCE(uniq_bigrams, 0) AS uniq_bigrams
        |FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      s"""WITH toks AS (SELECT doc_id,
         |  [t FOR t IN string_split(lower(text), ' ') IF t <> ''] AS tk FROM documents),
         |sc AS (SELECT doc_id,
         |  ${sqlStopScore("en")} AS score_en,
         |  ${sqlStopScore("de")} AS score_de,
         |  ${sqlStopScore("es")} AS score_es,
         |  ${sqlStopScore("fr")} AS score_fr
         |FROM toks)
         |SELECT doc_id, score_en, score_de, score_es, score_fr,
         |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
         |       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
         |       WHEN score_es >= score_fr THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |  [x FOR x IN string_split(text, ' ') IF x <> ''] AS tk FROM documents),
        |m AS (SELECT doc_id, text, tk,
        |  CASE WHEN len(tk) > 0
        |    THEN list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           [CAST(length(x) AS BIGINT) FOR x IN tk]), (a, b) -> a + b) * 1.0 / len(tk)
        |    ELSE 0.0 END AS avg_token_len,
        |  CASE WHEN length(text) > 0
        |    THEN (length(text) - length(regexp_replace(text, '[.,;:!?''"]', '', 'g'))) * 1.0
        |         / length(text)
        |    ELSE 0.0 END AS punct_ratio,
        |  CASE WHEN len(tk) > 0
        |    THEN len([x FOR x IN tk IF list_contains(['the','and','of','to','in','is','it','for','on','with'], x)]) * 1.0 / len(tk)
        |    ELSE 0.0 END AS stop_ratio
        |FROM t)
        |SELECT doc_id, avg_token_len, punct_ratio, stop_ratio,
        |  stop_ratio * 2.0 - punct_ratio +
        |    CASE WHEN len(tk) >= 20 THEN 0.1 ELSE 0.0 END AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      s"""WITH c AS (SELECT doc_id,
         |  [CAST(ord(ch) AS BIGINT) FOR ch IN string_split(text, '')] AS codes FROM documents)
         |SELECT doc_id,
         |  ${sqlPolyFold("codes")} AS fp,
         |  CASE WHEN len(codes) >= 8 THEN
         |    list_min([${sqlPolyFold("codes[i:i+7]")}
         |              FOR i IN generate_series(1, len(codes)-7)])
         |  ELSE ${sqlPolyFold("codes")} END AS min_gram8
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_sample_systematic" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 10 < 3 ORDER BY doc_id""".stripMargin,

    "q_sample_stratum_topk" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS rn
        |  FROM documents)
        |WHERE rn <= 12 ORDER BY doc_id""".stripMargin,

    "q_sample_mix" ->
      """SELECT doc_id, source,
        |       CAST(unnest(generate_series(1, r)) AS INT) AS copy_idx
        |FROM (SELECT doc_id, source,
        |        CASE WHEN source = 'src0' THEN 3
        |             WHEN source = 'src1' THEN 2 ELSE 1 END AS r
        |      FROM documents)
        |ORDER BY doc_id, copy_idx""".stripMargin,

    "q_sample_weighted" ->
      """SELECT doc_id, lang, n_chars FROM (
        |  SELECT doc_id, lang, n_chars,
        |         -ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 13)) AS BIGINT) + 0.5)
        |             / 4503599627370496.0) / CAST(n_chars AS DOUBLE) AS pri
        |  FROM documents WHERE n_chars > 0
        |  ORDER BY pri LIMIT 120)
        |ORDER BY doc_id""".stripMargin,

    // corpus composition: the md5("<id>:<seed>") order key is computed
    // identically on both engines — the whole point of choosing it
    "q_corpus_shuffle" ->
      """SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key
        |FROM documents ORDER BY shuffle_key""".stripMargin,

    "q_corpus_token_budget" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |         sum(n_chars) OVER (PARTITION BY source
        |           ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')
        |           ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM documents)
        |WHERE cum <= 5000 ORDER BY doc_id""".stripMargin,

    "q_corpus_interleave" ->
      """SELECT doc_id, source,
        |       CAST(row_number() OVER (PARTITION BY source
        |         ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42')) AS INT)
        |         AS interleave_rank
        |FROM documents ORDER BY interleave_rank, source""".stripMargin,

    "q_corpus_split" -> {
      val bounds = graft.ops.Composition.splitBounds(CorpusSplits)
      s"""SELECT doc_id,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < '${bounds(0)}' THEN 'train'
         |       WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < '${bounds(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // the engine's integer-threshold chain replayed literally: den = 100,
    // m_total = min floor(n·den/w), m = floor(w·m_total/den), keep iff
    // h32·n < m·2^32 — `div`/`//` agree on positive integers
    "q_corpus_reweight" -> {
      val vals = ReweightTarget.map { case (c, w) => s"('$c', $w)" }.mkString(", ")
      val den = ReweightTarget.map(_._2).sum
      s"""WITH w AS (SELECT * FROM (VALUES $vals) AS t(cls, wt)),
         |cnt AS (SELECT lang AS cls, COUNT(*) AS n FROM documents GROUP BY 1),
         |j AS (SELECT cls, wt, n FROM cnt JOIN w USING (cls)),
         |mt AS (SELECT MIN(n * $den // wt) AS m_total FROM j),
         |th AS (SELECT cls, n, wt * m_total // $den AS m FROM j CROSS JOIN mt)
         |SELECT doc_id, lang FROM documents d JOIN th ON d.lang = th.cls
         |WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8)) AS BIGINT) * n
         |      < m * 4294967296
         |ORDER BY doc_id""".stripMargin
    },

    "q_text_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS text_norm,
        |  length(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_flags" ->
      s"""SELECT doc_id,
         |  len(regexp_extract_all(text, '${TextAnalysis.UrlPattern}')) > 0 AS has_url,
         |  len(regexp_extract_all(text, '${TextAnalysis.EmailPattern}')) > 0 AS has_email,
         |  CAST(len(regexp_extract_all(text, '${TextAnalysis.DigitRunPattern}')) AS INT) AS n_digit_runs
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_vocab" ->
      """WITH tk AS (SELECT doc_id, unnest([t FOR t IN string_split(text, ' ') IF t <> '']) AS token
        |            FROM documents)
        |SELECT token, COUNT(DISTINCT doc_id) AS df, COUNT(*) AS tf
        |FROM tk GROUP BY token ORDER BY tf DESC, token LIMIT 100""".stripMargin,

    // the HAVING replays the engine's exact integer threshold cnt·k > n
    "q_text_heavy_hitters" ->
      s"""WITH tk AS (SELECT unnest([t FOR t IN string_split(text, ' ') IF t <> '']) AS token
         |            FROM documents),
         |n AS (SELECT COUNT(*) AS total FROM tk)
         |SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token
         |HAVING COUNT(*) * $HeavyHitterK > (SELECT total FROM n)
         |ORDER BY cnt DESC, token""".stripMargin,

    "q_text_doc_topterms" ->
      """WITH tk AS (SELECT doc_id, unnest([t FOR t IN string_split(text, ' ') IF t <> '']) AS token
        |            FROM documents),
        |cnt AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |rk AS (SELECT doc_id, token, tf,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS INT) AS rk
        |       FROM cnt)
        |SELECT doc_id, token, tf, rk FROM rk WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    "q_text_tfidf" ->
      """WITH tk AS (SELECT doc_id, unnest([t FOR t IN string_split(text, ' ') IF t <> '']) AS token
        |            FROM documents),
        |cnt AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |dfc AS (SELECT token, COUNT(*) AS df FROM cnt GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |j AS (SELECT c.doc_id, c.token, c.tf, d.df,
        |        CAST(c.tf * n.n_docs AS DOUBLE) / d.df AS weight
        |      FROM cnt c JOIN dfc d USING (token) CROSS JOIN n),
        |rk AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |                        ORDER BY weight DESC, token) AS INT) AS rk FROM j)
        |SELECT doc_id, token, tf, df, weight, rk FROM rk WHERE rk <= 3
        |ORDER BY doc_id, rk""".stripMargin,

    // mirrors dupGramFraction: space-split tokens (empties kept, the
    // shingle-family tokenization), NON-distinct grams,
    // (total - distinct) / total per n
    "q_text_repetition" ->
      """WITH t AS (SELECT doc_id,
        |  string_split(text, ' ') AS tk FROM documents),
        |g AS (SELECT doc_id, tk,
        |  CASE WHEN len(tk) >= 2
        |       THEN [concat_ws(' ', tk[i], tk[i+1]) FOR i IN generate_series(1, len(tk)-1)]
        |       ELSE [] END AS g2,
        |  CASE WHEN len(tk) >= 3
        |       THEN [concat_ws(' ', tk[i], tk[i+1], tk[i+2]) FOR i IN generate_series(1, len(tk)-2)]
        |       ELSE [] END AS g3
        |FROM t)
        |SELECT doc_id,
        |  CASE WHEN len(tk) > 0
        |       THEN (len(tk) - len(list_distinct(tk))) * 1.0 / len(tk) ELSE 0.0 END AS dup_tok_frac,
        |  CASE WHEN len(g2) > 0
        |       THEN (len(g2) - len(list_distinct(g2))) * 1.0 / len(g2) ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN len(g3) > 0
        |       THEN (len(g3) - len(list_distinct(g3))) * 1.0 / len(g3) ELSE 0.0 END AS dup_3gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      s"""WITH r AS (SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      regexp_replace(text, '${TextAnalysis.UrlPattern}', '[URL]', 'g'),
         |      '${TextAnalysis.EmailPattern}', '[EMAIL]', 'g'),
         |    '${TextAnalysis.DigitRunPattern}', '[NUM]', 'g') AS text_redacted
         |FROM documents)
         |SELECT doc_id, text_redacted, length(text_redacted) AS n_chars_redacted
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_contam_pairs" ->
      s"""WITH ${contamCtes(ContamEvalMod, ContamThreshold)}
         |SELECT eval_id, train_id, containment FROM cpairs
         |ORDER BY eval_id, train_id""".stripMargin,

    // bloom reduction is invisible in the output by construction
    "q_contam_bloom" ->
      s"""WITH ${contamCtes(ContamEvalMod, ContamThreshold)}
         |SELECT eval_id, train_id, containment FROM cpairs
         |ORDER BY eval_id, train_id""".stripMargin,

    "q_contam_summary" ->
      s"""WITH ${contamCtes(ContamEvalMod, ContamThreshold)},
         |worst AS (
         |  SELECT eval_id, containment AS max_containment, train_id AS worst_train_id
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY eval_id
         |          ORDER BY containment DESC, train_id ASC) AS rn FROM cpairs)
         |  WHERE rn = 1)
         |SELECT e.doc_id AS eval_id,
         |       coalesce(w.max_containment, 0.0) AS max_containment,
         |       w.worst_train_id,
         |       w.max_containment IS NOT NULL AS contaminated
         |FROM (SELECT doc_id FROM documents WHERE doc_id % $ContamEvalMod = 0) e
         |LEFT JOIN worst w ON w.eval_id = e.doc_id
         |ORDER BY eval_id""".stripMargin,

    "q_pack_nextfit" ->
      s"""WITH RECURSIVE ${packCtes(PackBudget, PackGroups)}
         |SELECT doc_id, pack_group, n_tokens, bin_id FROM pack
         |ORDER BY doc_id""".stripMargin,

    "q_text_bpe" ->
      s"""WITH RECURSIVE $bpeCtes
         |SELECT doc_id, n_bpe, n_uniq_bpe FROM bpe_cnt
         |ORDER BY doc_id""".stripMargin,

    // next-fit packing over the REAL subword counts: same pack
    // recursion as q_pack_nextfit, sourced from bpe_cnt
    // t is MATERIALIZED: DuckDB otherwise re-evaluates the working-table
    // source — including the whole BPE recursion — once per pack
    // iteration (~|docs|/groups times): measured 366.9 s -> 2.6 s at
    // sf0.1 with the hint. Pure execution hint, identical values.
    "q_pack_bpe_budget" ->
      s"""WITH RECURSIVE $bpeCtes,
         |t AS MATERIALIZED (
         |  SELECT doc_id, CAST(doc_id % $PackGroups AS INT) AS pack_group,
         |         n_bpe AS n_tokens,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id % $PackGroups
         |                                 ORDER BY doc_id) AS INT) AS rn
         |  FROM bpe_cnt),
         |pack(pack_group, rn, doc_id, n_tokens, bin_id, fill) AS (
         |  SELECT pack_group, rn, doc_id, n_tokens, 0, n_tokens FROM t WHERE rn = 1
         |  UNION ALL
         |  SELECT t.pack_group, t.rn, t.doc_id, t.n_tokens,
         |         CASE WHEN p.fill + t.n_tokens <= $PackBudget
         |              THEN p.bin_id ELSE p.bin_id + 1 END,
         |         CASE WHEN p.fill + t.n_tokens <= $PackBudget
         |              THEN p.fill + t.n_tokens ELSE t.n_tokens END
         |  FROM pack p JOIN t ON t.pack_group = p.pack_group AND t.rn = p.rn + 1)
         |SELECT doc_id, pack_group, n_tokens, bin_id FROM pack
         |ORDER BY doc_id""".stripMargin,

    "q_pack_bins" ->
      s"""WITH RECURSIVE ${packCtes(PackBudget, PackGroups)}
         |SELECT pack_group, bin_id, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS fill,
         |       CAST(GREATEST($PackBudget - SUM(n_tokens), 0) AS BIGINT) AS waste
         |FROM pack GROUP BY 1, 2 ORDER BY pack_group, bin_id""".stripMargin,

    "q_pack_sequences" ->
      s"""WITH RECURSIVE ${packCtes(PackBudget, PackGroups)}
         |SELECT p.pack_group, p.bin_id, COUNT(*) AS n_docs,
         |       CAST(SUM(p.n_tokens) AS BIGINT) AS fill,
         |       md5(string_agg(d.text, ' ' ORDER BY p.doc_id)) AS seq_md5
         |FROM pack p JOIN documents d ON d.doc_id = p.doc_id
         |GROUP BY 1, 2 ORDER BY pack_group, bin_id""".stripMargin,

    // NULL/empty-text semantics pinned on both sides: one ('', 0) chunk
    // (coalesce at the tokenizer; coalesce/greatest at the outputs —
    // DuckDB's slice of an empty list is NULL, not '')
    "q_text_chunks" ->
      """WITH t AS (SELECT doc_id,
        |  [x FOR x IN string_split(coalesce(text, ''), ' ') IF x <> ''] AS tk
        |FROM documents),
        |c AS (SELECT doc_id, tk,
        |  CASE WHEN len(tk) <= 64 THEN 1
        |       ELSE CAST(ceil((len(tk) - 64) / 48.0) AS INT) + 1 END AS n_chunks
        |FROM t),
        |e AS (SELECT doc_id, tk,
        |        CAST(unnest(generate_series(0, n_chunks - 1)) AS INT) AS chunk_idx
        |      FROM c)
        |SELECT doc_id, chunk_idx,
        |  coalesce(array_to_string(tk[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' '), '')
        |    AS chunk_text,
        |  CAST(GREATEST(LEAST(64, len(tk) - chunk_idx * 48), 0) AS INT) AS n_chunk_tokens
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_corpus_filter" ->
      s"""WITH $qualityCtes
         |SELECT doc_id, lang, n_chars FROM m
         |WHERE $qualityCond
         |ORDER BY doc_id""".stripMargin,

    // the full pre-training sweep as ONE statement: quality gates →
    // exact-dedup survivors WITHIN the passing set → split assignment
    "q_corpus_curated" -> {
      val bounds = graft.ops.Composition.splitBounds(CorpusSplits)
      s"""WITH $qualityCtes,
         |q AS (SELECT doc_id, lang, source, n_chars, text FROM m
         |      WHERE $qualityCond),
         |kept AS (SELECT doc_id, lang, source, n_chars FROM q
         |         WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text))
         |SELECT doc_id, lang, source, n_chars,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < '${bounds(0)}' THEN 'train'
         |       WHEN md5(CAST(doc_id AS VARCHAR) || ':42') < '${bounds(1)}' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM kept ORDER BY doc_id""".stripMargin
    },

    "q_corpus_filter_quantile" ->
      """WITH s AS (SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars) AS rn
        |           FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |p AS (SELECT s.n_chars AS p50 FROM s, n
        |      WHERE rn = GREATEST(1, CAST(ceil(0.5 * n) AS BIGINT)))
        |SELECT doc_id, lang, n_chars FROM documents, p
        |WHERE n_chars >= p50 ORDER BY doc_id""".stripMargin,

    "q_text_lang_median" ->
      """WITH r AS (SELECT lang, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY n_chars, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY lang) AS cnt
        |           FROM documents)
        |SELECT lang, n_chars AS median_n_chars FROM r
        |WHERE rn = CAST(ceil(cnt * 0.5) AS INT) ORDER BY lang""".stripMargin,

    // identical oracle as q_text_lang_median: the scalable selection path
    // must reproduce the window median bit-for-bit
    "q_lang_median_scalable" ->
      """WITH r AS (SELECT lang, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY lang
        |                                ORDER BY n_chars, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY lang) AS cnt
        |           FROM documents)
        |SELECT lang, n_chars AS median_n_chars FROM r
        |WHERE rn = CAST(ceil(cnt * 0.5) AS INT) ORDER BY lang""".stripMargin,

    "q_events_value_quantiles" ->
      """WITH s AS (SELECT value, ROW_NUMBER() OVER (ORDER BY value) AS rn
        |           FROM events),
        |n AS (SELECT COUNT(*) AS n FROM events)
        |SELECT * FROM (
        |  SELECT 'p50' AS metric, s.value AS value FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.50 * n) AS BIGINT))
        |  UNION ALL
        |  SELECT 'p90', s.value FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.90 * n) AS BIGINT))
        |  UNION ALL
        |  SELECT 'p99', s.value FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.99 * n) AS BIGINT)))
        |ORDER BY metric""".stripMargin,

    // the TimeSeries grid CTE (shared by both gap queries): hour buckets,
    // exact decimal sums, dense per-user generate_series scaffold
    "q_events_gapfill_locf" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |         COUNT(*) AS n_events,
        |         SUM(CAST(value AS DECIMAL(12,2))) AS bucket_value
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1
        |), scaffold AS (
        |  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM span
        |), grid AS (
        |  SELECT s.user_id, s.bucket,
        |         CASE WHEN b.n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
        |         COALESCE(b.n_events, 0) AS n_events,
        |         b.bucket_value
        |  FROM scaffold s LEFT JOIN b
        |    ON s.user_id = b.user_id AND s.bucket = b.bucket
        |)
        |SELECT user_id, bucket, is_gap, n_events,
        |       CAST(bucket_value AS DOUBLE) AS bucket_value,
        |       CAST(LAST_VALUE(bucket_value IGNORE NULLS) OVER (
        |            PARTITION BY user_id ORDER BY bucket
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |         AS locf_value
        |FROM grid ORDER BY user_id, bucket""".stripMargin,

    "q_events_gap_summary" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |         COUNT(*) AS n_events
        |  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
        |), span AS (
        |  SELECT user_id, MIN(bucket) AS lo, MAX(bucket) AS hi FROM b GROUP BY 1
        |), scaffold AS (
        |  SELECT user_id, UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM span
        |), grid AS (
        |  SELECT s.user_id, s.bucket,
        |         CASE WHEN b.n_events IS NULL THEN 1 ELSE 0 END AS is_gap
        |  FROM scaffold s LEFT JOIN b
        |    ON s.user_id = b.user_id AND s.bucket = b.bucket
        |), idx AS (
        |  SELECT user_id, bucket, is_gap,
        |         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY bucket) AS rn,
        |         SUM(is_gap) OVER (PARTITION BY user_id ORDER BY bucket
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gaps_so_far
        |  FROM grid
        |), runs AS (
        |  SELECT user_id, rn - gaps_so_far AS gap_run, COUNT(*) AS run_len
        |  FROM idx WHERE is_gap = 1 GROUP BY 1, 2
        |), per_key AS (
        |  SELECT user_id, COUNT(*) AS n_buckets,
        |         CAST(SUM(is_gap) AS BIGINT) AS n_gaps,
        |         MIN(bucket) AS first_bucket, MAX(bucket) AS last_bucket
        |  FROM grid GROUP BY 1
        |)
        |SELECT p.user_id, p.n_buckets, p.n_gaps, p.first_bucket, p.last_bucket,
        |       COALESCE(r.longest, 0) AS longest_gap_run
        |FROM per_key p
        |LEFT JOIN (SELECT user_id, MAX(run_len) AS longest FROM runs GROUP BY 1) r
        |  ON p.user_id = r.user_id
        |ORDER BY p.user_id""".stripMargin,

    // percentile-disc semantics at rank ⌈q·n⌉ — both engines evaluate the
    // same IEEE ceil(q*n), so the rank is identical
    "q_text_length_quantiles" ->
      """WITH s AS (SELECT n_chars, ROW_NUMBER() OVER (ORDER BY n_chars) AS rn
        |           FROM documents),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT * FROM (
        |  SELECT 'p50' AS metric, s.n_chars AS value FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.50 * n) AS BIGINT))
        |  UNION ALL
        |  SELECT 'p90', s.n_chars FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.90 * n) AS BIGINT))
        |  UNION ALL
        |  SELECT 'p99', s.n_chars FROM s, n
        |  WHERE rn = GREATEST(1, CAST(ceil(0.99 * n) AS BIGINT)))
        |ORDER BY metric""".stripMargin,

    "q_emb_normalize" ->
      s"""WITH n AS (
         |  SELECT vec_id, embedding, sqrt(${sqlDot("embedding", "embedding")}) AS nrm
         |  FROM embeddings)
         |SELECT vec_id,
         |  array_to_string([
         |    CAST(CAST(floor(CAST(
         |      CASE WHEN nrm = 0 THEN x
         |           ELSE CAST(CAST(x AS DOUBLE) / nrm AS REAL) END
         |      AS DOUBLE) * 1000000.0) AS BIGINT) AS VARCHAR)
         |    FOR x IN embedding], ' ') AS norm_q6
         |FROM n ORDER BY vec_id""".stripMargin,

    "q_emb_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |         list_max([abs(CAST(x AS DOUBLE)) FOR x IN embedding]) AS am
        |  FROM embeddings),
        |s AS (SELECT vec_id, embedding,
        |        CASE WHEN am = 0 THEN 0.0 ELSE 127.0 / am END AS scale
        |      FROM m)
        |SELECT vec_id,
        |  array_to_string([CAST(CAST(floor(CAST(x AS DOUBLE) * scale + 0.5) AS INT) AS VARCHAR)
        |                   FOR x IN embedding], ' ') AS q_str,
        |  scale
        |FROM s ORDER BY vec_id""".stripMargin,

    "q_events_windowed" ->
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |       MIN(value) AS min_value, MAX(value) AS max_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // sliding windows: each event replicated into its len/slide = 2
    // covering hour-aligned starts (same epoch alignment as Spark's
    // window(ts, len, slide))
    "q_events_sliding" ->
      """WITH e AS (
        |  SELECT event_type, value,
        |         UNNEST(generate_series(date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |                                date_trunc('hour', ts), INTERVAL 1 HOUR))
        |           AS window_start
        |  FROM events
        |)
        |SELECT window_start, window_start + INTERVAL 2 HOUR AS window_end,
        |       event_type, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM e GROUP BY 1, 2, 3 ORDER BY 1, 3""".stripMargin,

    // gaps-and-islands mirror of session_window: a session breaks only
    // when the gap to the previous event EXCEEDS 30 min (Spark merges an
    // event landing exactly at last+gap — inclusive boundary, verified in
    // StreamingSpec).
    "q_events_sessionize" ->
      """WITH o AS (SELECT user_id, event_id, ts, value,
        |             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |           FROM events),
        |m AS (SELECT user_id, event_id, ts, value,
        |        CASE WHEN prev_ts IS NULL
        |               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM o),
        |s AS (SELECT user_id, ts, value,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m)
        |SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "q_events_props" ->
      """SELECT event_id, event_type,
        |       CAST(json_extract_string(props, '$.k') AS INT) AS props_k
        |FROM events ORDER BY event_id""".stripMargin,

    // fixture values are 2-decimal, so value*100 is never near a .5
    // boundary and JVM math.round == DuckDB round here
    "q_events_running_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_join_asof" ->
      """SELECT l.event_id, l.user_id, l.ts, l.value,
        |       r.ts AS asof_ts, r.value AS asof_value
        |FROM events l ASOF LEFT JOIN events r
        |  ON l.user_id = r.user_id AND r.ts < l.ts
        |ORDER BY l.event_id""".stripMargin,

    "q_join_range" ->
      """SELECT p.event_id, i.event_id AS interval_id, p.user_id
        |FROM events p JOIN events i
        |  ON p.user_id = i.user_id
        | AND p.ts > i.ts AND p.ts <= i.ts + INTERVAL 1 HOUR
        |ORDER BY p.event_id, interval_id""".stripMargin,

    // documents are pure-ASCII (verified), so varchar-side length/
    // substring/md5 equal Spark's byte-side ops on the UTF-8 payload.
    "q_multimodal_meta" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS payload_md5,
        |  CAST(64 + (doc_id % 16) * 16 AS INT) AS width,
        |  CAST(64 + (doc_id % 8) * 32 AS INT) AS height,
        |  CAST(8000 + (doc_id % 4) * 8000 AS INT) AS sample_rate,
        |  CAST(n_chars * 10 AS INT) AS duration_ms
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_multimodal_frames" ->
      """WITH f AS (SELECT doc_id AS media_id, text,
        |             unnest(generate_series(0,
        |               CAST(ceil(length(text) / 32.0) AS INT) - 1)) AS frame_idx
        |           FROM documents)
        |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
        |       md5(substring(text, frame_idx * 32 + 1, 32)) AS frame_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // same byte indexing as resizeStub over the ASCII payload (varchar
    // substr == byte substr for pure-ASCII documents)
    "q_multimodal_resize" -> {
      val pieces = (0 until 64).map(k =>
        s"substr(text, CAST(floor($k * length(text) / 64.0) AS INT) + 1, 1)")
        .mkString(",\n        ")
      // n_bytes measured from the concat, not hardcoded 64: an empty
      // payload resizes to an empty blob on the Spark side too
      s"""WITH r AS (SELECT doc_id, concat(${pieces}) AS resized FROM documents)
         |SELECT doc_id AS media_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'image'
         |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
         |  CAST(length(resized) AS INT) AS n_bytes,
         |  md5(resized) AS resized_md5
         |FROM r ORDER BY media_id""".stripMargin
    },

    // recomputes the decode stub from scratch (per-chunk mean byte value /
    // 255 → float): docs are pure ASCII so ord(ch) = payload byte; the
    // double divisions, float rounding, and floor quantization are
    // IEEE-identical between DuckDB and the JVM.
    "q_multimodal_features" ->
      """WITH c AS (
        |  SELECT doc_id AS media_id,
        |         CASE WHEN doc_id % 3 = 0 THEN 'image'
        |              WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
        |         [CAST(ord(ch) AS BIGINT) FOR ch IN string_split(text, '')] AS codes,
        |         CAST(length(text) AS BIGINT) AS n
        |  FROM documents),
        |k AS (SELECT media_id, modality, codes, n, greatest(1, n // 8) AS chunk FROM c)
        |SELECT media_id, modality,
        |  array_to_string([
        |    CASE WHEN least(n, d * chunk + chunk) > d * chunk
        |         THEN CAST(CAST(floor(CAST(CAST(
        |                CAST(list_sum(codes[d * chunk + 1 : least(n, d * chunk + chunk)]) AS DOUBLE)
        |                / (least(n, d * chunk + chunk) - d * chunk) / 255.0 AS REAL) AS DOUBLE)
        |              * 1000000.0) AS BIGINT) AS VARCHAR)
        |         ELSE '0' END
        |    FOR d IN generate_series(0, 7)], ' ') AS features_q6
        |FROM k ORDER BY media_id""".stripMargin,

    // lead over the same (ts, event_id) total order; prob is one double
    // division of exact long counts — bit-equal across engines
    "q_events_transitions" ->
      """WITH p AS (
        |  SELECT event_type AS from_action,
        |         LEAD(struct_pack(a := event_type))
        |           OVER (PARTITION BY user_id
        |                 ORDER BY ts, event_id) AS nxt
        |  FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT from_action, nxt.a AS to_action, COUNT(*) AS n FROM p
        |      WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT from_action, to_action, n,
        |       CAST(n AS DOUBLE) /
        |         CAST(SUM(n) OVER (PARTITION BY from_action) AS DOUBLE) AS prob
        |FROM c ORDER BY from_action, to_action""".stripMargin,

    "q_histogram_equidepth" ->
      graft.ops.Histogram.equiDepthOracleSql("documents", "n_chars", 8),

    // full SQL replay of the staged pipeline: the quality formula from
    // q_text_quality, the jaccard CTEs on the gated subset, the
    // containment CTEs train=survivors / eval=raw-split
    "q_corpus_pipeline" ->
      """WITH d1 AS (SELECT * FROM documents WHERE length(text) >= 100),
        |tq AS (SELECT d1.*, [x FOR x IN string_split(text, ' ') IF x <> ''] AS tk
        |       FROM d1),
        |d2 AS (SELECT doc_id, text FROM tq
        |  WHERE (CASE WHEN len(tk) > 0
        |           THEN len([x FOR x IN tk IF list_contains(
        |                ['the','and','of','to','in','is','it','for','on','with'], x)])
        |                * 1.0 / len(tk) ELSE 0.0 END * 2.0
        |         - CASE WHEN length(text) > 0
        |             THEN (length(text) -
        |                   length(regexp_replace(text, '[.,;:!?''"]', '', 'g')))
        |                  * 1.0 / length(text) ELSE 0.0 END
        |         + CASE WHEN len(tk) >= 20 THEN 0.1 ELSE 0.0 END) >= 0.12),
        |toks2 AS (SELECT doc_id, string_split(text, ' ') AS t FROM d2),
        |sh2 AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                           FOR i IN generate_series(1, len(t)-2)])
        |       ELSE [] END AS s FROM toks2),
        |sz2 AS (SELECT doc_id, len(s) AS n_sh FROM sh2),
        |idx2 AS (SELECT doc_id, unnest(s) AS shingle FROM sh2),
        |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j, COUNT(*) AS c
        |           FROM idx2 a JOIN idx2 b
        |             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2),
        |jp AS (SELECT doc_j FROM (
        |    SELECT doc_j, c * 1.0 / (ni.n_sh + nj.n_sh - c) AS j
        |    FROM common JOIN sz2 ni ON ni.doc_id = doc_i
        |                JOIN sz2 nj ON nj.doc_id = doc_j)
        |  WHERE j >= 0.8),
        |d3 AS (SELECT doc_id, text FROM d2
        |       WHERE doc_id NOT IN (SELECT doc_j FROM jp)),
        |ev AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
        |tr AS (SELECT doc_id, text FROM d3 WHERE doc_id % 7 <> 0),
        |toksev AS (SELECT doc_id, string_split(text, ' ') AS t FROM ev),
        |shev AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                           FOR i IN generate_series(1, len(t)-2)])
        |       ELSE [] END AS s FROM toksev),
        |esz AS (SELECT doc_id AS eval_id, len(s) AS n_eval FROM shev),
        |ei AS (SELECT doc_id AS eval_id, unnest(s) AS shingle FROM shev),
        |tokstr AS (SELECT doc_id, string_split(text, ' ') AS t FROM tr),
        |shtr AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                           FOR i IN generate_series(1, len(t)-2)])
        |       ELSE [] END AS s FROM tokstr),
        |ti AS (SELECT doc_id AS train_id, unnest(s) AS shingle FROM shtr),
        |ccom AS (SELECT eval_id, train_id, COUNT(*) AS c
        |         FROM ei JOIN ti USING (shingle) GROUP BY 1, 2),
        |cpairs AS (SELECT train_id FROM (
        |    SELECT train_id, c * 1.0 / n_eval AS containment
        |    FROM ccom JOIN esz USING (eval_id))
        |  WHERE containment >= 0.5),
        |d4 AS (SELECT doc_id FROM tr
        |       WHERE doc_id NOT IN (SELECT DISTINCT train_id FROM cpairs))
        |SELECT '0_raw' AS stage, COUNT(*) AS n_docs FROM documents
        |UNION ALL SELECT '1_length', COUNT(*) FROM d1
        |UNION ALL SELECT '2_quality', COUNT(*) FROM d2
        |UNION ALL SELECT '3_near_dedup', COUNT(*) FROM d3
        |UNION ALL SELECT '4_decontaminated', COUNT(*) FROM d4
        |ORDER BY stage""".stripMargin,

    // count-join replay; HUGEINT products mirror Spark's exact DECIMAL(38)
    // and the SAME max·keys ≤ 1e32 guard raises the same explicit error
    // past fixture scale instead of the engines failing differently
    "q_join_fanout" ->
      """WITH lc AS (SELECT o_orderkey AS k, COUNT(*) AS ln FROM orders
        |            WHERE o_orderkey IS NOT NULL GROUP BY 1),
        |rc AS (SELECT l_orderkey AS k, COUNT(*) AS rn FROM lineitem
        |       WHERE l_orderkey IS NOT NULL GROUP BY 1),
        |j AS (SELECT ln, rn, CAST(ln AS HUGEINT) * rn AS p
        |      FROM lc JOIN rc USING (k))
        |SELECT CAST(COUNT(*) AS BIGINT) AS matched_keys,
        |       CAST(SUM(p) AS BIGINT) AS predicted_rows,
        |       CAST(MAX(p) AS BIGINT) AS max_key_fanout,
        |       CAST(CASE WHEN CAST(MAX(p) AS HUGEINT) * COUNT(*) <=
        |              CAST('100000000000000000000000000000000' AS HUGEINT)
        |            THEN (CAST(MAX(p) AS HUGEINT) * COUNT(*) * 1000000)
        |              // CAST(SUM(p) AS HUGEINT)
        |            ELSE error('joinFanout skew_x1e6 overflow: ' ||
        |                       'max_key_fanout*matched_keys exceeds 1e32')
        |            END AS BIGINT) AS skew_x1e6
        |FROM j""".stripMargin,

    // HUGEINT moment sums mirror Spark's DECIMAL(38); the double tail
    // (casts, sqrt, divisions) applies in the same order
    "q_stats_corr" ->
      """WITH b AS (SELECT l_returnflag,
        |             CAST(round(l_quantity * 100) AS HUGEINT) AS x,
        |             CAST(round(l_extendedprice * 100) AS HUGEINT) AS y
        |           FROM lineitem
        |           WHERE l_quantity IS NOT NULL AND isfinite(l_quantity)
        |             AND l_extendedprice IS NOT NULL
        |             AND isfinite(l_extendedprice)),
        |m AS (SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
        |        SUM(x) AS sx, SUM(y) AS sy,
        |        SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
        |      FROM b GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |        AND CAST(n * syy - sy * sy AS DOUBLE) > 0
        |       THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |            (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
        |             sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
        |       END AS corr,
        |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |       THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |            CAST(n * sxx - sx * sx AS DOUBLE) END AS slope,
        |  ((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) / 100) -
        |    (CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) > 0
        |          THEN CAST(n * sxy - sx * sy AS DOUBLE) /
        |               CAST(n * sxx - sx * sx AS DOUBLE) END) *
        |    ((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / 100) AS intercept
        |FROM m ORDER BY l_returnflag""".stripMargin,

    // same shingle definition as the jaccard family (string 3-grams in
    // the oracle vs 64-bit hashes in the engine — the standard bet)
    "q_text_novelty" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |  CASE WHEN len(t) >= 3
        |       THEN list_distinct([concat_ws(' ', t[i], t[i+1], t[i+2])
        |                           FOR i IN generate_series(1, len(t)-2)])
        |       ELSE [] END AS s FROM toks),
        |idx AS (SELECT doc_id, unnest(s) AS shingle FROM sh),
        |dfc AS (SELECT shingle, COUNT(*) AS df FROM idx GROUP BY 1),
        |per AS (SELECT doc_id, COUNT(*) AS n_shingles,
        |          CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |            AS n_novel
        |        FROM idx JOIN dfc USING (shingle) GROUP BY 1)
        |SELECT d.doc_id, COALESCE(per.n_shingles, 0) AS n_shingles,
        |       COALESCE(per.n_novel, 0) AS n_novel,
        |       CASE WHEN COALESCE(per.n_shingles, 0) > 0
        |            THEN CAST(per.n_novel AS DOUBLE) / per.n_shingles
        |            ELSE 0.0 END AS novelty
        |FROM documents d LEFT JOIN per USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    // wraps the langid CTEs; frac = one double division of exact counts
    "q_text_langid_confusion" ->
      s"""WITH toks AS (SELECT doc_id,
         |  [t FOR t IN string_split(lower(text), ' ') IF t <> ''] AS tk FROM documents),
         |sc AS (SELECT doc_id,
         |  ${sqlStopScore("en")} AS score_en,
         |  ${sqlStopScore("de")} AS score_de,
         |  ${sqlStopScore("es")} AS score_es,
         |  ${sqlStopScore("fr")} AS score_fr
         |FROM toks),
         |p AS (SELECT d.lang,
         |  CASE WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr THEN 'en'
         |       WHEN score_de >= score_es AND score_de >= score_fr THEN 'de'
         |       WHEN score_es >= score_fr THEN 'es'
         |       ELSE 'fr' END AS lang_pred
         |FROM sc JOIN documents d USING (doc_id)),
         |c AS (SELECT lang, lang_pred, COUNT(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  CAST(n AS DOUBLE) /
         |    CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE) AS frac
         |FROM c ORDER BY lang, lang_pred""".stripMargin,

    "q_text_vocab_coverage" ->
      """WITH u AS (SELECT unnest([x FOR x IN string_split(text, ' ')
        |                          IF x <> '']) AS token FROM documents),
        |c AS (SELECT token, COUNT(*) AS tf FROM u GROUP BY 1),
        |top AS (SELECT tf FROM c ORDER BY tf DESC, token LIMIT 100),
        |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS total_tf FROM c),
        |tt AS (SELECT CAST(SUM(tf) AS BIGINT) AS top_tf FROM top)
        |SELECT total_tf, top_tf,
        |       CAST(top_tf AS DOUBLE) / CAST(total_tf AS DOUBLE) AS coverage
        |FROM t, tt""".stripMargin,

    // same windows, same exact decimal arithmetic, same literals
    "q_events_cusum" ->
      """WITH b AS (SELECT event_type, date_trunc('hour', ts) AS bucket,
        |             CAST(SUM(CAST(value AS DECIMAL(12,2)))
        |                  AS DECIMAL(22,2)) AS bucket_value
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT event_type, bucket, bucket_value,
        |        CAST(SUM(bucket_value - 203.00) OVER w
        |             AS DECIMAL(22,2)) AS c_hi,
        |        CAST(SUM(bucket_value - 91.00) OVER w
        |             AS DECIMAL(22,2)) AS c_lo
        |      FROM b WINDOW w AS (PARTITION BY event_type ORDER BY bucket
        |                          ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, bucket,
        |       CAST(bucket_value * 100 AS BIGINT) AS bucket_value_c,
        |       CAST(CAST(c_hi - LEAST(MIN(c_hi) OVER w2, 0) AS DECIMAL(22,2))
        |            * 100 AS BIGINT) AS cusum_hi_c,
        |       CAST(CAST(GREATEST(MAX(c_lo) OVER w2, 0) - c_lo
        |                 AS DECIMAL(22,2)) * 100 AS BIGINT) AS cusum_lo_c,
        |       (CAST(c_hi - LEAST(MIN(c_hi) OVER w2, 0) AS DECIMAL(22,2)) > 565
        |        OR CAST(GREATEST(MAX(c_lo) OVER w2, 0) - c_lo
        |                AS DECIMAL(22,2)) > 565)
        |         AS is_drift
        |FROM c WINDOW w2 AS (PARTITION BY event_type ORDER BY bucket
        |                     ROWS UNBOUNDED PRECEDING)
        |ORDER BY event_type, bucket""".stripMargin,

    // same type-1 rank definition per hour group for both ranks
    "q_events_hourly_bands" ->
      """WITH s AS (SELECT date_trunc('hour', ts) AS hour, value,
        |             ROW_NUMBER() OVER (PARTITION BY date_trunc('hour', ts)
        |                                ORDER BY value) AS rn,
        |             COUNT(*) OVER (PARTITION BY date_trunc('hour', ts)) AS cnt
        |           FROM events WHERE value IS NOT NULL)
        |SELECT h1.hour, h1.value AS p50, h2.value AS p95
        |FROM (SELECT hour, value FROM s
        |      WHERE rn = GREATEST(1, CAST(ceil(cnt * 0.5) AS BIGINT))) h1
        |JOIN (SELECT hour, value FROM s
        |      WHERE rn = GREATEST(1, CAST(ceil(cnt * 0.95) AS BIGINT))) h2
        |  USING (hour)
        |ORDER BY hour""".stripMargin,

    // DuckDB plans the inclusive-overlap theta join directly; row set
    // must equal the binned exactly-once form
    "q_join_overlap" ->
      """SELECT a.event_id, b.event_id AS r_event_id, a.user_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id AND a.event_id < b.event_id
        | AND a.ts <= b.ts + INTERVAL 30 MINUTE
        | AND b.ts <= a.ts + INTERVAL 30 MINUTE
        |ORDER BY 1, 2""".stripMargin,

    // threshold = largest w with mass-at-or-above >= need, need =
    // ceil(total/2) in exact integer arithmetic — mirrors the protocol's
    // value-based (honest-ties) contract via a per-source cumsum
    "q_corpus_top_mass" ->
      """WITH t AS (SELECT source, SUM(CAST(n_chars AS BIGINT)) AS total
        |           FROM documents GROUP BY 1),
        |nd AS (SELECT source, (total * 1 + 2 - 1) // 2 AS need FROM t),
        |vals AS (SELECT source, CAST(n_chars AS BIGINT) AS w,
        |                SUM(CAST(n_chars AS BIGINT)) AS m
        |         FROM documents GROUP BY 1, 2),
        |cum AS (SELECT source, w,
        |          SUM(m) OVER (PARTITION BY source ORDER BY w DESC) AS above
        |        FROM vals),
        |thr AS (SELECT source, MAX(w) AS threshold
        |        FROM cum JOIN nd USING (source)
        |        WHERE above >= need GROUP BY source)
        |SELECT d.doc_id, d.source, d.n_chars, th.threshold
        |FROM documents d JOIN thr th USING (source)
        |WHERE CAST(d.n_chars AS BIGINT) >= th.threshold
        |ORDER BY d.doc_id""".stripMargin,

    // same gap rule as the sessionize oracle (new session iff the µs
    // delta exceeds 1800000000); path order = (ts, event_id) total order
    "q_events_paths" ->
      """WITH o AS (SELECT user_id, event_id, ts, event_type,
        |             lag(ts) OVER (PARTITION BY user_id
        |                           ORDER BY ts, event_id) AS prev_ts
        |           FROM events WHERE user_id IS NOT NULL),
        |m AS (SELECT user_id, event_id, ts, event_type,
        |        CASE WHEN prev_ts IS NULL
        |               OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
        |             THEN 1 ELSE 0 END AS new_s
        |      FROM o),
        |s AS (SELECT user_id, ts, event_id, event_type,
        |        SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                         ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM m),
        |p AS (SELECT user_id, sid,
        |        string_agg(COALESCE(event_type, 'null'), '>'
        |                   ORDER BY ts, event_id) AS path
        |      FROM s GROUP BY 1, 2)
        |SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY 1
        |ORDER BY n_sessions DESC, path LIMIT 50""".stripMargin,

    // same integer grid as Histogram.histogram (width 64 over [0,1023]):
    // LEAST((v - lo) // width, bins-1), empty bins from a range scaffold
    "q_drift_bins" ->
      """WITH bsa AS (SELECT LEAST((CAST(n_chars AS BIGINT) - 0) // 64, 15) AS bin,
        |                    COUNT(*) AS n
        |             FROM documents WHERE doc_id % 2 = 0
        |               AND CAST(n_chars AS BIGINT) BETWEEN 0 AND 1023 GROUP BY 1),
        |bsb AS (SELECT LEAST((CAST(n_chars AS BIGINT) - 0) // 64, 15) AS bin,
        |               COUNT(*) AS n
        |        FROM documents WHERE doc_id % 2 <> 0
        |          AND CAST(n_chars AS BIGINT) BETWEEN 0 AND 1023 GROUP BY 1),
        |k AS (SELECT UNNEST(range(0, 16)) AS bin),
        |j AS (SELECT k.bin, 0 + k.bin * 64 AS bin_lo,
        |             LEAST(1023, 0 + (k.bin + 1) * 64 - 1) AS bin_hi,
        |             COALESCE(a.n, 0) AS a_n, COALESCE(b.n, 0) AS b_n
        |      FROM k LEFT JOIN bsa a ON k.bin = a.bin
        |             LEFT JOIN bsb b ON k.bin = b.bin),
        |t AS (SELECT CAST(SUM(a_n) AS BIGINT) AS a_total,
        |             CAST(SUM(b_n) AS BIGINT) AS b_total FROM j)
        |SELECT j.bin, j.bin_lo, j.bin_hi, j.a_n, j.b_n,
        |       CAST(a_n AS DOUBLE) / a_total AS a_frac,
        |       CAST(b_n AS DOUBLE) / b_total AS b_frac,
        |       abs(CAST(a_n AS DOUBLE) / a_total -
        |           CAST(b_n AS DOUBLE) / b_total) AS gap
        |FROM j, t ORDER BY j.bin""".stripMargin,

    // TVD numerator in exact HUGEINT cross-products (mirrors Spark's
    // DECIMAL(38)), one double division; max_gap over per-bin doubles
    "q_drift_summary" ->
      """WITH bsa AS (SELECT LEAST((CAST(n_chars AS BIGINT) - 0) // 64, 15) AS bin,
        |                    COUNT(*) AS n
        |             FROM documents WHERE doc_id % 2 = 0
        |               AND CAST(n_chars AS BIGINT) BETWEEN 0 AND 1023 GROUP BY 1),
        |bsb AS (SELECT LEAST((CAST(n_chars AS BIGINT) - 0) // 64, 15) AS bin,
        |               COUNT(*) AS n
        |        FROM documents WHERE doc_id % 2 <> 0
        |          AND CAST(n_chars AS BIGINT) BETWEEN 0 AND 1023 GROUP BY 1),
        |k AS (SELECT UNNEST(range(0, 16)) AS bin),
        |j AS (SELECT k.bin, COALESCE(a.n, 0) AS a_n, COALESCE(b.n, 0) AS b_n
        |      FROM k LEFT JOIN bsa a ON k.bin = a.bin
        |             LEFT JOIN bsb b ON k.bin = b.bin),
        |t AS (SELECT CAST(SUM(a_n) AS BIGINT) AS a_total,
        |             CAST(SUM(b_n) AS BIGINT) AS b_total FROM j),
        |x AS (SELECT abs(CAST(a_n AS HUGEINT) * b_total -
        |                 CAST(b_n AS HUGEINT) * a_total) AS d,
        |             abs(CAST(a_n AS DOUBLE) / a_total -
        |                 CAST(b_n AS DOUBLE) / b_total) AS gap
        |      FROM j, t)
        |SELECT t.a_total, t.b_total,
        |       CAST((SELECT SUM(d) FROM x) AS DOUBLE) /
        |         CAST(2 * CAST(t.a_total AS HUGEINT) * t.b_total AS DOUBLE) AS tvd,
        |       (SELECT MAX(gap) FROM x) AS max_gap
        |FROM t""".stripMargin,

    // mirrors bm25TopTerms' exact integer-rational form: with T = Σtf,
    // weight = (2N−2df+1)·22·tf·T / ((2df+1)·(10·tf·T+3·T+9·dl·N)) and
    // weight_q = wNum·10¹² // wDen in HUGEINT — no doubles anywhere on
    // the rank path, bit-identical across engines by construction
    "q_text_bm25" ->
      """WITH toks AS (SELECT doc_id,
        |  [x FOR x IN string_split(text, ' ') IF x <> ''] AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        |tfdl AS (SELECT doc_id, token, tf,
        |           SUM(tf) OVER (PARTITION BY doc_id) AS dl FROM tf),
        |dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
        |tt AS (SELECT SUM(tf) AS total_tokens FROM tf),
        |w AS (SELECT doc_id, tfdl.token, tf, df, dl,
        |        (CAST(2*n_docs - 2*df + 1 AS HUGEINT) *
        |           CAST(22*tf AS HUGEINT) * CAST(total_tokens AS HUGEINT) *
        |           CAST(1000000000000 AS HUGEINT)) //
        |        (CAST(2*df + 1 AS HUGEINT) *
        |           (CAST(10*tf AS HUGEINT) * CAST(total_tokens AS HUGEINT) +
        |            CAST(3 AS HUGEINT) * CAST(total_tokens AS HUGEINT) +
        |            CAST(9*dl AS HUGEINT) * CAST(n_docs AS HUGEINT)))
        |          AS weight_q
        |      FROM tfdl JOIN dfx ON tfdl.token = dfx.token, nd, tt),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
        |                ORDER BY weight_q DESC, token) AS rk FROM w)
        |SELECT doc_id, token, tf, df, CAST(dl AS BIGINT) AS dl,
        |       CAST(weight_q AS BIGINT) AS weight_q, CAST(rk AS INT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,

    // mirrors segmentPrune's hot-set shape: distinct (doc, seg) for df,
    // the hot list joined in as ONE collected row, list_filter rewrite
    "q_text_segment_prune" ->
      """WITH ex AS (SELECT DISTINCT doc_id,
        |  unnest([x FOR x IN string_split(coalesce(text, ''), ' ')
        |          IF x <> '']) AS seg FROM documents),
        |hot AS (SELECT seg FROM ex GROUP BY seg HAVING COUNT(*) > 395),
        |hotl AS (SELECT coalesce(list(seg), CAST([] AS VARCHAR[])) AS hl
        |         FROM hot),
        |base AS (SELECT doc_id,
        |    [x FOR x IN string_split(coalesce(text, ''), ' ') IF x <> '']
        |      AS segs FROM documents)
        |SELECT b.doc_id,
        |  coalesce(array_to_string(
        |    [x FOR x IN segs IF NOT list_contains(hl, x)], ' '), '')
        |    AS text_clean,
        |  CAST(len(segs) AS BIGINT) AS n_segments,
        |  CAST(len(segs) -
        |    len([x FOR x IN segs IF NOT list_contains(hl, x)]) AS BIGINT)
        |    AS n_dropped
        |FROM base b, hotl ORDER BY doc_id""".stripMargin,

    // integer cross-multiplied ratio rules, identical boolean edges
    "q_text_gopher" ->
      """WITH t AS (SELECT doc_id,
        |    [x FOR x IN string_split(lower(coalesce(text, '')), ' ')
        |     IF x <> ''] AS tk FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(tk) AS BIGINT) AS nw,
        |    CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
        |      AS BIGINT) AS totc,
        |    CAST(coalesce(list_sum(list_transform(tk, x ->
        |      CASE WHEN contains(x, '#') OR contains(x, '...')
        |           THEN 1 ELSE 0 END)), 0) AS BIGINT) AS symc,
        |    CAST(coalesce(list_sum(list_transform(tk, x ->
        |      CASE WHEN regexp_matches(x, '[a-z]') THEN 1 ELSE 0 END)), 0)
        |      AS BIGINT) AS alphac,
        |    (CAST(list_contains(tk, 'the') AS BIGINT) +
        |     CAST(list_contains(tk, 'and') AS BIGINT) +
        |     CAST(list_contains(tk, 'of') AS BIGINT) +
        |     CAST(list_contains(tk, 'to') AS BIGINT) +
        |     CAST(list_contains(tk, 'in') AS BIGINT) +
        |     CAST(list_contains(tk, 'is') AS BIGINT) +
        |     CAST(list_contains(tk, 'it') AS BIGINT) +
        |     CAST(list_contains(tk, 'for') AS BIGINT) +
        |     CAST(list_contains(tk, 'on') AS BIGINT) +
        |     CAST(list_contains(tk, 'with') AS BIGINT)) AS stoph
        |  FROM t)
        |SELECT doc_id, nw AS n_words,
        |  (nw >= 20 AND nw <= 100000) AS flag_word_count,
        |  (nw > 0 AND totc >= 3 * nw AND totc <= 10 * nw)
        |    AS flag_mean_word_len,
        |  (10 * symc <= nw) AS flag_symbol_ratio,
        |  (nw > 0 AND 5 * alphac >= 4 * nw) AS flag_alpha_words,
        |  (stoph >= 2) AS flag_stopwords,
        |  (nw >= 20 AND nw <= 100000 AND nw > 0 AND totc >= 3 * nw AND
        |   totc <= 10 * nw AND 10 * symc <= nw AND 5 * alphac >= 4 * nw
        |   AND stoph >= 2) AS gopher_keep
        |FROM m ORDER BY doc_id""".stripMargin,

    // pair construction from the same single-space tokenization; lift's
    // three divisions and one product in the same order as pmiBigrams
    "q_text_pmi" ->
      """WITH toks AS (SELECT
        |  [x FOR x IN string_split(text, ' ') IF x <> ''] AS t FROM documents),
        |pr0 AS (SELECT [{'w1': t[i], 'w2': t[i+1]}
        |                FOR i IN generate_series(1, len(t)-1)] AS ps
        |        FROM toks WHERE len(t) >= 2),
        |pr AS (SELECT unnest(ps, recursive := true) FROM pr0),
        |pc AS (SELECT w1, w2, COUNT(*) AS n FROM pr GROUP BY 1, 2
        |       HAVING COUNT(*) >= 5),
        |uc AS (SELECT unnest(t) AS token FROM toks),
        |u AS (SELECT token, COUNT(*) AS c FROM uc GROUP BY 1),
        |nu AS (SELECT SUM(c) AS n_uni FROM u),
        |nb AS (SELECT COUNT(*) AS n_big FROM pr)
        |SELECT w1, w2, n,
        |       (CAST(n AS DOUBLE) / n_big) /
        |         ((CAST(u1.c AS DOUBLE) / n_uni) *
        |          (CAST(u2.c AS DOUBLE) / n_uni)) AS lift
        |FROM pc JOIN u u1 ON pc.w1 = u1.token
        |        JOIN u u2 ON pc.w2 = u2.token, nu, nb
        |ORDER BY lift DESC, w1, w2 LIMIT 100""".stripMargin,

    // rank definition mirrors Quantiles.groupedExactQuantilesDouble:
    // k = GREATEST(1, ceil(0.5·n_g)) over non-null values, lower on ties;
    // dev and the 3×MAD threshold are single IEEE double ops
    "q_outlier_mad" ->
      """WITH s AS (SELECT event_type, value,
        |             ROW_NUMBER() OVER (PARTITION BY event_type
        |                                ORDER BY value) AS rn,
        |             COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |           FROM events WHERE value IS NOT NULL),
        |med AS (SELECT event_type, value AS med FROM s
        |        WHERE rn = GREATEST(1, CAST(ceil(cnt * 0.5) AS BIGINT))),
        |d AS (SELECT e.event_id, e.event_type, e.value, m.med,
        |             abs(CAST(e.value AS DOUBLE) - m.med) AS dev
        |      FROM events e JOIN med m USING (event_type)),
        |s2 AS (SELECT event_type, dev,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY dev) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |       FROM d WHERE dev IS NOT NULL),
        |mad AS (SELECT event_type, dev AS mad FROM s2
        |        WHERE rn = GREATEST(1, CAST(ceil(cnt * 0.5) AS BIGINT)))
        |SELECT event_id, event_type, value, med, mad.mad, dev
        |FROM d JOIN mad USING (event_type)
        |WHERE dev > 3.0 * mad ORDER BY event_id""".stripMargin,

    // null-safe group join mirrors kAnonymize's <=> quasi equality
    "q_privacy_kanon" ->
      """WITH b AS (SELECT doc_id, lang, source, n_chars // 200 AS band
        |           FROM documents),
        |g AS (SELECT lang, source, band, COUNT(*) AS group_n
        |      FROM b GROUP BY 1, 2, 3)
        |SELECT b.doc_id,
        |  CASE WHEN group_n >= 4 THEN CAST(b.lang AS VARCHAR)
        |       ELSE '*' END AS lang_g,
        |  CASE WHEN group_n >= 4 THEN CAST(b.source AS VARCHAR)
        |       ELSE '*' END AS source_g,
        |  CASE WHEN group_n >= 4 THEN CAST(b.band AS VARCHAR)
        |       ELSE '*' END AS band_g,
        |  group_n, group_n >= 4 AS kept
        |FROM b JOIN g ON b.lang IS NOT DISTINCT FROM g.lang
        |             AND b.source IS NOT DISTINCT FROM g.source
        |             AND b.band IS NOT DISTINCT FROM g.band
        |ORDER BY doc_id""".stripMargin,

    // COUNT(DISTINCT) skips NULL sensitive values on both engines
    "q_privacy_ldiversity" ->
      """SELECT lang, n_chars // 200 AS band, COUNT(*) AS group_n,
        |       COUNT(DISTINCT source) AS n_sensitive,
        |       COUNT(DISTINCT source) >= 3 AS diverse
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // corpus counts + batch counts = union counts restricted to the
    // batch — the oracle replays the combined-size contract directly
    "q_privacy_kanon_incremental" ->
      """WITH b AS (SELECT doc_id, lang, source, n_chars // 200 AS band
        |           FROM documents),
        |batch AS (SELECT * FROM b WHERE doc_id % 10 = 1),
        |g AS (SELECT lang, source, band, COUNT(*) AS group_n
        |      FROM b GROUP BY 1, 2, 3),
        |gb AS (SELECT g.lang, g.source, g.band, g.group_n FROM g
        |       WHERE EXISTS (SELECT 1 FROM batch t
        |         WHERE t.lang IS NOT DISTINCT FROM g.lang
        |           AND t.source IS NOT DISTINCT FROM g.source
        |           AND t.band IS NOT DISTINCT FROM g.band))
        |SELECT t.doc_id,
        |  CASE WHEN group_n >= 4 THEN CAST(t.lang AS VARCHAR)
        |       ELSE '*' END AS lang_g,
        |  CASE WHEN group_n >= 4 THEN CAST(t.source AS VARCHAR)
        |       ELSE '*' END AS source_g,
        |  CASE WHEN group_n >= 4 THEN CAST(t.band AS VARCHAR)
        |       ELSE '*' END AS band_g,
        |  group_n, group_n >= 4 AS kept
        |FROM batch t JOIN gb ON t.lang IS NOT DISTINCT FROM gb.lang
        |              AND t.source IS NOT DISTINCT FROM gb.source
        |              AND t.band IS NOT DISTINCT FROM gb.band
        |ORDER BY doc_id""".stripMargin,

    // exact integer-rational TVD in HUGEINT; absent categories folded
    // via Σ_all = Σ_present(|c_gs·N − c_s·n_g| − c_s·n_g) + n_g·N —
    // the same closed form the engine uses
    "q_privacy_tcloseness" ->
      """WITH b AS (SELECT lang, n_chars // 200 AS band, source
        |           FROM documents),
        |cell AS (SELECT lang, band, source,
        |                CAST(COUNT(*) AS HUGEINT) AS c_gs
        |         FROM b GROUP BY 1, 2, 3),
        |g AS (SELECT lang, band, SUM(c_gs) AS group_n FROM cell
        |      GROUP BY 1, 2),
        |s AS (SELECT source, SUM(c_gs) AS c_s FROM cell GROUP BY 1),
        |n AS (SELECT SUM(c_gs) AS n_total FROM cell),
        |j AS (SELECT cell.lang, cell.band, g.group_n, s.c_s, cell.c_gs,
        |             n.n_total
        |      FROM cell
        |      JOIN g ON cell.lang IS NOT DISTINCT FROM g.lang
        |            AND cell.band IS NOT DISTINCT FROM g.band
        |      JOIN s ON cell.source IS NOT DISTINCT FROM s.source
        |      CROSS JOIN n),
        |a AS (SELECT lang, band, MAX(group_n) AS group_n,
        |             MAX(n_total) AS n_total,
        |             SUM(ABS(c_gs * n_total - c_s * group_n)
        |                 - c_s * group_n) AS adj
        |      FROM j GROUP BY 1, 2)
        |SELECT lang, band, CAST(group_n AS BIGINT) AS group_n,
        |  CAST((adj + group_n * n_total) * 10000
        |       // (2 * group_n * n_total) AS BIGINT) AS tvd_bp,
        |  ((adj + group_n * n_total) * 10000
        |       // (2 * group_n * n_total)) <= 2000 AS close
        |FROM a ORDER BY lang, band""".stripMargin,

    // recursive-closure cluster replay (q_dedup_clusters' oracle) +
    // size window; 10000 // size replays the engine's integer div
    "q_dedup_weights" ->
      s"""WITH RECURSIVE ${jaccardCtes(JaccardThreshold)},
         |edges AS (SELECT doc_i AS src, doc_j AS dst FROM jpairs
         |          UNION ALL SELECT doc_j, doc_i FROM jpairs),
         |reach(node, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON reach.r = e.src),
         |assign AS (SELECT node AS doc_id, min(r) AS cluster_id FROM reach
         |           GROUP BY node),
         |cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |       FROM assign GROUP BY 1)
         |SELECT a.doc_id, a.cluster_id, cs.cluster_size,
         |       CAST(10000 // cluster_size AS BIGINT) AS weight_bp
         |FROM assign a JOIN cs USING (cluster_id)
         |ORDER BY a.doc_id""".stripMargin,

    // same exact-Jaccard pair set as the dedup family, folded to the
    // unordered source matrix with per-side distinct-doc counts
    "q_dedup_source_matrix" ->
      s"""WITH ${jaccardCtes(JaccardThreshold)},
        |sp AS (SELECT p.doc_i, p.doc_j, si.source AS src_i, sj.source AS src_j
        |       FROM jpairs p JOIN documents si ON p.doc_i = si.doc_id
        |                     JOIN documents sj ON p.doc_j = sj.doc_id
        |       WHERE si.source IS NOT NULL AND sj.source IS NOT NULL),
        |m AS (SELECT least(src_i, src_j) AS src_a,
        |             greatest(src_i, src_j) AS src_b,
        |             CASE WHEN src_i <= src_j THEN doc_i ELSE doc_j END AS da,
        |             CASE WHEN src_i <= src_j THEN doc_j ELSE doc_i END AS db
        |      FROM sp)
        |SELECT src_a, src_b, COUNT(*) AS n_pairs,
        |       COUNT(DISTINCT da) AS n_docs_a, COUNT(DISTINCT db) AS n_docs_b
        |FROM m GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the grouped replay: same cumulative conjunctions, counters and
    // shares computed per source
    "q_corpus_attrition_by_source" ->
      """WITH t AS (SELECT source, [x FOR x IN
        |    string_split(lower(coalesce(text, '')), ' ') IF x <> ''] AS tk
        |  FROM documents),
        |m AS (SELECT source, CAST(len(tk) AS BIGINT) AS nw,
        |  CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
        |    AS BIGINT) AS totc,
        |  CAST(coalesce(list_sum(list_transform(tk, x ->
        |    CASE WHEN regexp_matches(x, '[a-z]') THEN 1 ELSE 0 END)), 0)
        |    AS BIGINT) AS alphac,
        |  (CAST(list_contains(tk, 'the') AS BIGINT) +
        |   CAST(list_contains(tk, 'and') AS BIGINT) +
        |   CAST(list_contains(tk, 'of') AS BIGINT) +
        |   CAST(list_contains(tk, 'to') AS BIGINT) +
        |   CAST(list_contains(tk, 'in') AS BIGINT) +
        |   CAST(list_contains(tk, 'is') AS BIGINT) +
        |   CAST(list_contains(tk, 'it') AS BIGINT) +
        |   CAST(list_contains(tk, 'for') AS BIGINT) +
        |   CAST(list_contains(tk, 'on') AS BIGINT) +
        |   CAST(list_contains(tk, 'with') AS BIGINT)) AS stoph
        |  FROM t),
        |c AS (SELECT source, nw,
        |  (nw > 0) AS c1,
        |  (nw > 0 AND nw >= 20) AS c2,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw) AS c3,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw
        |   AND 5 * alphac >= 4 * nw) AS c4,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw
        |   AND 5 * alphac >= 4 * nw AND stoph >= 1) AS c5
        |  FROM m),
        |s AS (SELECT source,
        |  COUNT(*) AS d0, CAST(coalesce(SUM(nw), 0) AS BIGINT) AS w0,
        |  COUNT(*) FILTER (WHERE c1) AS d1,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c1), 0) AS BIGINT) AS w1,
        |  COUNT(*) FILTER (WHERE c2) AS d2,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c2), 0) AS BIGINT) AS w2,
        |  COUNT(*) FILTER (WHERE c3) AS d3,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c3), 0) AS BIGINT) AS w3,
        |  COUNT(*) FILTER (WHERE c4) AS d4,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c4), 0) AS BIGINT) AS w4,
        |  COUNT(*) FILTER (WHERE c5) AS d5,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c5), 0) AS BIGINT) AS w5
        |  FROM c GROUP BY source)
        |SELECT * FROM (
        |  SELECT source, CAST(0 AS BIGINT) AS stage_idx, 'all_rows' AS stage,
        |    d0 AS n_rows, w0 AS total_weight,
        |    CASE WHEN d0 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE CAST(d0 * 10000 // d0 AS BIGINT) END AS rows_bp FROM s
        |  UNION ALL SELECT source, 1, 'nonempty', d1, w1,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d1 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT source, 2, 'min_words_20', d2, w2,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d2 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT source, 3, 'mean_word_len_3_10', d3, w3,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d3 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT source, 4, 'alpha_words_80pct', d4, w4,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d4 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT source, 5, 'stopwords_1', d5, w5,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d5 * 10000 // d0 AS BIGINT) END FROM s)
        |ORDER BY source, stage_idx""".stripMargin,

    // cumulative conjunctions replay filterFunnel's scanLeft; sums cast
    // back to BIGINT (DuckDB promotes integer SUM to HUGEINT)
    "q_corpus_attrition" ->
      """WITH t AS (SELECT [x FOR x IN
        |    string_split(lower(coalesce(text, '')), ' ') IF x <> ''] AS tk
        |  FROM documents),
        |m AS (SELECT CAST(len(tk) AS BIGINT) AS nw,
        |  CAST(coalesce(list_sum(list_transform(tk, x -> len(x))), 0)
        |    AS BIGINT) AS totc,
        |  CAST(coalesce(list_sum(list_transform(tk, x ->
        |    CASE WHEN regexp_matches(x, '[a-z]') THEN 1 ELSE 0 END)), 0)
        |    AS BIGINT) AS alphac,
        |  (CAST(list_contains(tk, 'the') AS BIGINT) +
        |   CAST(list_contains(tk, 'and') AS BIGINT) +
        |   CAST(list_contains(tk, 'of') AS BIGINT) +
        |   CAST(list_contains(tk, 'to') AS BIGINT) +
        |   CAST(list_contains(tk, 'in') AS BIGINT) +
        |   CAST(list_contains(tk, 'is') AS BIGINT) +
        |   CAST(list_contains(tk, 'it') AS BIGINT) +
        |   CAST(list_contains(tk, 'for') AS BIGINT) +
        |   CAST(list_contains(tk, 'on') AS BIGINT) +
        |   CAST(list_contains(tk, 'with') AS BIGINT)) AS stoph
        |  FROM t),
        |c AS (SELECT nw,
        |  (nw > 0) AS c1,
        |  (nw > 0 AND nw >= 20) AS c2,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw) AS c3,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw
        |   AND 5 * alphac >= 4 * nw) AS c4,
        |  (nw > 0 AND nw >= 20 AND totc >= 3 * nw AND totc <= 10 * nw
        |   AND 5 * alphac >= 4 * nw AND stoph >= 1) AS c5
        |  FROM m),
        |s AS (SELECT
        |  COUNT(*) AS d0, CAST(coalesce(SUM(nw), 0) AS BIGINT) AS w0,
        |  COUNT(*) FILTER (WHERE c1) AS d1,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c1), 0) AS BIGINT) AS w1,
        |  COUNT(*) FILTER (WHERE c2) AS d2,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c2), 0) AS BIGINT) AS w2,
        |  COUNT(*) FILTER (WHERE c3) AS d3,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c3), 0) AS BIGINT) AS w3,
        |  COUNT(*) FILTER (WHERE c4) AS d4,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c4), 0) AS BIGINT) AS w4,
        |  COUNT(*) FILTER (WHERE c5) AS d5,
        |  CAST(coalesce(SUM(nw) FILTER (WHERE c5), 0) AS BIGINT) AS w5
        |  FROM c)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'all_rows' AS stage,
        |    d0 AS n_rows, w0 AS total_weight,
        |    CASE WHEN d0 = 0 THEN CAST(NULL AS BIGINT)
        |         ELSE CAST(d0 * 10000 // d0 AS BIGINT) END AS rows_bp FROM s
        |  UNION ALL SELECT 1, 'nonempty', d1, w1,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d1 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT 2, 'min_words_20', d2, w2,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d2 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT 3, 'mean_word_len_3_10', d3, w3,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d3 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT 4, 'alpha_words_80pct', d4, w4,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d4 * 10000 // d0 AS BIGINT) END FROM s
        |  UNION ALL SELECT 5, 'stopwords_1', d5, w5,
        |    CASE WHEN d0 = 0 THEN NULL
        |         ELSE CAST(d5 * 10000 // d0 AS BIGINT) END FROM s)
        |ORDER BY stage_idx""".stripMargin,
  )
}
