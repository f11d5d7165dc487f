package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ConfScope

/** Model-based document classification — the trained quality/language
  * filter stage of large-corpus pipelines (a fastText-class classifier
  * gates web corpora in every published LLM data recipe; the reference
  * engine ships only lexicon heuristics). This is multinomial Naive
  * Bayes with add-one smoothing, re-expressed so training AND scoring
  * are pure dataflow and the scores are BIT-EXACT across engines:
  * every log-probability is quantized to HALF-BIT resolution via
  * `floor(log2 x²) = length(bin(x·x)) − 1` — exact integer arithmetic,
  * no libm, no float summation order (the [[LanguageModel]] contract,
  * at 2× the resolution).
  *
  * Per test document d and class c the score is
  * {{{
  *   score(d,c) = prior(c) + Σ_{t ∈ d} [ bits2(c_tc + 1) − bits2(n_c + V) ]
  * }}}
  * with bits2(x) = floor(2·log2 x), c_tc the training count of token t
  * in class c, n_c the class token total, V the training vocabulary
  * size, and prior(c) = bits2(d_c) − bits2(d_train). The argmax is
  * deterministic: ties resolve to the lexicographically smallest class.
  *
  * Scale shape: the per-token sum is decomposed as
  * `−n_tokens(d) · bits2(n_c + V) + Σ_{t ∈ d, c_tc > 0} bits2(c_tc + 1)`
  * so the ONLY token-level join is the inner equi-join of test tokens
  * against the (class, token) count table, hash-partitioned on the
  * token — the absent-(token,class) zero terms never materialize. The
  * class constant table (one row per class) rides a broadcast cross
  * join at DOC granularity. Cost is therefore corpus-linear regardless
  * of the number of classes; nothing is ever fanned out |classes|-fold
  * at token level. Training is two count aggregations over the train
  * split (map-side combined), both bounded by vocabulary × classes —
  * far smaller than the corpus.
  *
  * Determinism/overflow contract: bits2 squares its argument in LONG,
  * so every counted quantity must stay ≤ 3.0e9 (n_c + V is the largest
  * — ~3 billion training tokens per class). Beyond that, drop to the
  * 1-bit [[LanguageModel]] resolution (bounds then ~9.2e18) — the
  * quantization doc-contract changes, nothing else.
  */
object Classifier {

  /** floor(2·log2 x) for a positive integral column — exact via binary
    * string length of x², no floating point anywhere. */
  private[ops] def bits2(x: Column): Column =
    (length(bin(x.cast("long") * x.cast("long"))) - 1).cast("long")

  /** Training-count frames persist for the fit's consumers (the class
    * constants and every scoring join re-read them; without the persist
    * each re-aggregation replays the corpus-scale tokenize+explode+agg).
    * Vocabulary-scale blocks only — released by [[releaseCaches]] /
    * the bench harness between passes. */
  private val cacheWindow = new CacheWindows(4)
  def releaseCaches(): Unit = cacheWindow.releaseAll()

  /** A trained NB model as two frames — the persistable/broadcastable
    * artifact the score path consumes.
    *   - `tokenCounts`: (cls, tok, c_tc) — vocabulary × classes rows.
    *   - `classes`: one row per class — (cls, den_bits = bits2(n_c + V),
    *     prior_bits = bits2(d_c) − bits2(d_train)).
    * Save/load with [[saveNbModel]]/[[loadNbModel]] to amortize training
    * across sessions (a two-part [[graft.io.IndexStore]] artifact). */
  final case class NbModel(tokenCounts: DataFrame, classes: DataFrame)

  /** Fit the model on EVERY row of `docs` (the caller owns the split —
    * [[nbClassScores]] does the held-out split, streaming gates train on
    * the full curated corpus). Two map-side-combined count aggregations,
    * both vocabulary-bounded; the global constants (V, d_train) ride
    * 1-row broadcast cross joins — no collect, no driver round-trip. */
  def nbTrain(docs: DataFrame, textCol: String, labelCol: String): NbModel = {
    // NO Par.widen here (probed r18): the NB cells are job-floor-bound
    // (25-27 protocol jobs), and widening the tokenize map side tripled
    // task counts (908-1173/cell) for zero wall win — the exchange cost
    // what the parallelism saved
    val trainTok = docs.select(col(labelCol).as("__label"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("tok"))

    // the ONE corpus-scale aggregation; every other statistic is a
    // re-aggregation of this vocabulary-bounded frame (persisted so the
    // consumers don't replay the corpus scan)
    val ctc = cacheWindow.add(
      trainTok.groupBy(col("__label").as("cls"), col("tok"))
        .agg(count(lit(1)).as("c_tc")))
    val nc = ctc.groupBy("cls").agg(sum("c_tc").as("n_c"))
    val vocab = ctc.select("tok").distinct().agg(count(lit(1)).as("v"))
    val dc = docs.groupBy(col(labelCol).as("cls")).agg(count(lit(1)).as("d_c"))
    val dTrain = docs.agg(count(lit(1)).as("d_train"))

    // dc LEFT JOIN nc, not inner: a class whose training docs are all
    // empty-text still has a prior and must stay scoreable (its token
    // total is 0, so den_bits = bits2(V))
    val classes = dc.join(nc, Seq("cls"), "left")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(dTrain))
      .select(col("cls"),
        bits2(coalesce(col("n_c"), lit(0L)) + col("v")).as("den_bits"),
        (bits2(col("d_c")) - bits2(col("d_train"))).as("prior_bits"))
    NbModel(ctc, classes)
  }

  /** Publish a trained model at `dir` as one two-part artifact. */
  def saveNbModel(model: NbModel, dir: String): Unit =
    graft.io.IndexStore.publish(model.tokenCounts.sparkSession, dir,
      Seq("token_counts" -> model.tokenCounts, "classes" -> model.classes))

  /** Reopen a [[saveNbModel]] artifact; throws if none is published. */
  def loadNbModel(spark: org.apache.spark.sql.SparkSession, dir: String): NbModel = {
    val parts = graft.io.IndexStore.open(spark, dir)
    NbModel(parts("token_counts"), parts("classes"))
  }

  /** Score arbitrary documents against a trained model: one row per
    * document × class — (`idCol`, cls, score). Empty documents score
    * prior-only. The ONLY token-level join is the inner equi-join
    * against `tokenCounts` on the token (absent (token, class) pairs
    * contribute bits2(0+1) = 0 and never materialize — see the header
    * decomposition); the per-class constants cross-join at DOC
    * granularity via broadcast. Batch and per-micro-batch streaming
    * scoring share this exact plan. */
  def nbScoreWith(model: NbModel, docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val base = docs.select(col(idCol).as("__id"),
      TextAnalysis.tokens(lower(col(textCol))).as("__tk"))
    val present = base.select(col("__id"), explode(col("__tk")).as("tok"))
      .join(model.tokenCounts, "tok")
      .groupBy(col("__id"), col("cls"))
      .agg(sum(bits2(col("c_tc") + 1)).as("pos_bits"))

    // n_tokens is ROW-LOCAL (array size) — no aggregation, no join.
    // greatest(·, 0) clamps NULL-text docs (size(NULL) is NULL under
    // ANSI, -1 legacy) to 0 so they score prior-only like empty docs —
    // greatest skips NULL operands, so both flavors land on 0
    base.select(col("__id"),
        greatest(size(col("__tk")), lit(0)).cast("long").as("n_tok"))
      .crossJoin(broadcast(model.classes))
      .join(present, Seq("__id", "cls"), "left")
      .select(col("__id").as(idCol), col("cls"),
        (col("prior_bits") + coalesce(col("pos_bits"), lit(0L))
          - col("n_tok") * col("den_bits")).as("score"))
  }

  /** Per-test-document class scores from a held-out multinomial NB fit.
    *
    * Rows where `pmod(idCol, splitMod) != 0` train the model; rows
    * where it `== 0` are scored. Output: one row per test document ×
    * class — (`idCol`, labelCol-as-`label_true`, `cls`, `score`).
    * Empty documents score prior-only. Classes are the distinct train
    * labels (a test label never seen in training is still scored
    * against the trained classes — the honest deployment shape). */
  def nbClassScores(docs: DataFrame, idCol: String, textCol: String,
                    labelCol: String, splitMod: Int = 5): DataFrame = {
    val isTest = pmod(col(idCol), lit(splitMod)) === 0
    val model = nbTrain(docs.filter(!isTest), textCol, labelCol)
    val test = docs.filter(isTest)
    nbScoreWith(model, test, idCol, textCol)
      .join(test.select(col(idCol), col(labelCol).as("label_true")), idCol)
      .select(col(idCol), col("label_true"), col("cls"), col("score"))
  }

  /** Argmax prediction against a pre-trained model (no labels needed on
    * the scored side — the deployment shape, batch or per-micro-batch):
    * (`idCol`, predicted, score), ties to the smallest class name. */
  def nbPredictWith(model: NbModel, docs: DataFrame, idCol: String,
                    textCol: String): DataFrame =
    nbScoreWith(model, docs, idCol, textCol)
      .groupBy(col(idCol))
      .agg(min(struct((-col("score")).as("neg"), col("cls").as("cls"))).as("best"))
      .select(col(idCol), col("best.cls").as("predicted"),
        (-col("best.neg")).as("score"))

  /** Argmax prediction per test document: (`idCol`, label_true,
    * predicted, score, hit) — ties go to the smallest class name via a
    * single min-of-struct aggregation (no window). */
  def nbPredict(docs: DataFrame, idCol: String, textCol: String,
                labelCol: String, splitMod: Int = 5): DataFrame =
    nbClassScores(docs, idCol, textCol, labelCol, splitMod)
      .groupBy(col(idCol), col("label_true"))
      .agg(min(struct((-col("score")).as("neg"), col("cls").as("cls"))).as("best"))
      .select(col(idCol), col("label_true"),
        col("best.cls").as("predicted"),
        (-col("best.neg")).as("score"),
        when(col("best.cls") === col("label_true"), 1L).otherwise(0L).as("hit"))

  /** floor(2·log2 x) on the driver — the exact Scala mirror of [[bits2]].
    * x² must fit a Long, so arguments are capped at floor(√(2⁶³−1)) =
    * 3037000499 — the same documented ceiling as the distributed bits2,
    * but enforced: past it the square wraps SILENTLY and every constant
    * derived from it is garbage, so the headroom contract fails loudly
    * here instead (the bm25TopTerms overflow-guard philosophy). */
  private def bits2L(x: Long): Long = {
    // x = 0 is reachable (a CV fold whose training split has an empty
    // vocabulary: V^(f) = 0 and n_c^(f) = 0) and must mirror the
    // distributed bits2's value there — toBinaryString(0) = "0" gives
    // length 1 → 0, exactly bits2(0). Only the overflow ceiling is
    // enforced: past it x² wraps silently.
    require(x >= 0 && x <= 3037000499L,
      s"bits2 exact-Long ceiling exceeded: $x not in [0, 3037000499]")
    java.lang.Long.toBinaryString(x * x).length.toLong - 1L
  }

  /** K-fold cross-validated NB accuracy in ONE dataflow pass — no
    * per-fold retraining. NB sufficient statistics are ADDITIVE, so
    * fold f's training counts are global counts minus fold-f counts:
    * {{{
    *   c_tc^(f) = c_tc − c_tc[fold f]      n_c^(f) = n_c − n_c[fold f]
    *   V^(f)    = V − |{tokens exclusive to fold f}|
    * }}}
    * One (cls, tok) aggregation carrying a per-row FOLD-COUNT MAP
    * (≤ `folds` entries), and the same single token-level inner join as
    * [[nbScoreWith]] (the doc's own-fold count subtracts via
    * `element_at` on the map — no second corpus-scale join) — total
    * cost is ~2× a single fit REGARDLESS of k, where the naive k-loop
    * pays k× and k separate jobs. Tokens whose train count drops to 0
    * contribute bits2(0+1) = 0, identical to absence, so the
    * subtraction needs no filter. Per fold, scored classes are those
    * with at least one training document (same contract as
    * [[nbClassScores]]).
    *
    * The (fold × class) constant grid is assembled ON THE DRIVER from
    * three bounded actions (doc counts by (fold, label); per-(fold,
    * cls) token totals; per-fold exclusive-vocab counts — the first a
    * count-only corpus scan, the other two re-aggregations of the
    * persisted vocabulary frame), replacing the r10 8-join tiny-frame
    * tree that AQE split into ~20 scheduler jobs (probe-measured; the
    * joins moved no more data than the collects do — every input is
    * folds- or classes-bounded, which the plan already asserted by
    * broadcasting the grid). NULL labels keep the dataflow form's
    * null-UNSAFE join semantics: a null class matches no per-fold/
    * per-class lookup, so its n/dc subtrahends read 0 exactly as the
    * left joins produced.
    *
    * Output: one row per fold — (fold, n_test, hits, accuracy), the
    * model-selection report for a classifier gate. */
  def nbCrossValidate(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, folds: Int = 5): DataFrame = {
    val spark = docs.sparkSession
    // NOT cached: a base-corpus cache was probed (r13) — neutral at
    // sf0.1 and within noise at the 10× replica (the tokenize scans it
    // saves cost about what the corpus-scale cache write adds), and a
    // corpus-sized entry in the shared bounded window could evict the
    // vocabulary frames the margins/calibration family reuses.
    val base = docs.select(col(idCol).as("__id"), col(labelCol).as("__label"),
      pmod(col(idCol), lit(folds)).cast("long").as("fold"),
      TextAnalysis.tokens(lower(col(textCol))).as("__tk"))

    // the ONE corpus-scale aggregation — (fold, cls, tok) grain rolled
    // into vocabulary×classes rows with a ≤`folds`-entry count map;
    // persisted, so the grid collects below and the scoring join all
    // reuse one materialization and the corpus is tokenized exactly
    // twice in the whole CV (here and in the scoring join's probe side).
    // A NULL doc id yields a NULL fold; map keys can't be null
    // (map_from_entries throws [NULL_MAP_KEY]), so null-fold counts stay
    // OUT of the map — collect_list drops the null the un-otherwise'd
    // `when` produces — and ride only `c_all` + the `has_null_fold`
    // flag. That is exactly the r10 join-form semantics: null-id docs
    // train GLOBALLY (they're test docs in no fold, so no fold ever
    // subtracts them) and their counts appear in every fold's model.
    val enriched = cacheWindow.add(
      base.select(col("fold"), col("__label"), explode(col("__tk")).as("tok"))
        .groupBy(col("fold"), col("__label").as("cls"), col("tok"))
        .agg(count(lit(1)).as("c_f"))
        .groupBy(col("cls"), col("tok"))
        .agg(sum("c_f").as("c_all"),
          map_from_entries(collect_list(
            when(col("fold").isNotNull, struct(col("fold"), col("c_f")))))
            .as("f_map"),
          max(col("fold").isNull).as("has_null_fold")))

    // two bounded driver actions, launched CONCURRENTLY (wall = the
    // slowest, not the sum; the persisted vocabulary frame computes
    // once — BlockManager's per-partition get-or-compute lock makes
    // the union's three branches share one materialization):
    //   1. doc counts at (fold, label) grain — folds×classes rows from
    //      a count-only scan (columns pruned to id+label)
    //   2. per-(fold, cls) token totals off the vocabulary frame
    //   3. GLOBAL per-class token totals off `c_all` (NOT a sum of #2:
    //      the fold map excludes null-fold counts, but globally-training
    //      null-id docs must stay in every fold's n_c)
    //   4. V and per-fold exclusive-token counts — a token is exclusive
    //      to fold f iff every (cls, ·) row's fold keys are {f} AND it
    //      never appears in a null-fold doc (null-fold docs train in
    //      EVERY fold, so removing fold f can't drop a token they carry)
    // AQE is pinned OFF (reduce width untouched — that stays the
    // session's configured shuffle.partitions) for this window: AQE's
    // only contribution to these folds-/vocab-bounded aggregations is
    // coalescing already-tiny reduce stages, and it pays a scheduler
    // job per exchange to do it (probe-measured: 11 jobs → 3 for the
    // collects). The corpus-scale scoring DAG below runs OUTSIDE the
    // window with AQE intact. The window is a cloned session
    // ([[ConfScope]]): both actions run on frames re-bound to it (the
    // persisted vocabulary frame is read from the shared cache there),
    // and no query planned on `spark` meanwhile loses AQE.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // the three vocabulary-frame re-aggregations ride ONE union and ONE
    // collect (their branches scan the persisted frame in parallel
    // inside a single job), disambiguated by a `kind` tag; the doc-count
    // scan reads a different source (the corpus, pruned to id+label)
    // and stays a concurrent second action — 4 scheduler jobs → 2.
    // NEGATIVE PROBE (r14, measured): folding the doc-count scan into
    // the union as a fourth kind-tagged branch (2 jobs → 1) LOSES —
    // same-window best-of-5 at sf0.1: 2.41 s (this form) vs 2.97 s
    // (merged). Two independent jobs overlap their stages strictly
    // better than one union job whose final stage barriers on all four
    // branches; the saved scheduler action doesn't cover that.
    val labelT = base.schema("__label").dataType
    val (dcRows, gridRaw) =
      ConfScope.run(spark, Seq("spark.sql.adaptive.enabled" -> "false")) { s =>
        val docsS = ConfScope.rebind(s, docs)
        val enrichedS = ConfScope.rebind(s, enriched)
        val dcJob = Future(docsS
          .groupBy(pmod(col(idCol), lit(folds)).cast("long").as("fold"),
            col(labelCol).as("cls"))
          .agg(count(lit(1)).as("dc_f")).collect())
        val nfAgg = enrichedS
          .select(col("cls"), explode(col("f_map")).as(Seq("fold", "c")))
          .groupBy("fold", "cls").agg(sum("c").as("n"))
          .select(lit("nf").as("kind"), col("fold"), col("cls"), col("n"))
        val naAgg = enrichedS
          .groupBy("cls").agg(sum("c_all").as("n"))
          .select(lit("na").as("kind"), lit(null).cast("long").as("fold"),
            col("cls"), col("n"))
        val exAgg = enrichedS
          .select(col("tok"), map_keys(col("f_map")).as("fs"),
            col("has_null_fold"))
          .groupBy("tok")
          .agg(array_distinct(flatten(collect_list(col("fs")))).as("fs"),
            max(col("has_null_fold")).as("hn"))
          .select(when(size(col("fs")) === 1 && !col("hn"),
            element_at(col("fs"), 1)).as("xf"))
          .groupBy("xf").agg(count(lit(1)).as("n"))
          .select(lit("ex").as("kind"), col("xf").as("fold"),
            lit(null).cast(labelT).as("cls"), col("n"))
        val gridJob = Future(
          nfAgg.unionByName(naAgg).unionByName(exAgg).collect())
        (Await.result(dcJob, Duration.Inf),
          Await.result(gridJob, Duration.Inf))
      }
    val nfRows = gridRaw.filter(_.getString(0) == "nf")
    val naRows = gridRaw.filter(_.getString(0) == "na")
    val exRows = gridRaw.filter(_.getString(0) == "ex")

    val dcF: Map[(Any, Any), Long] =
      dcRows.map(r => (r.get(0), r.get(1)) -> r.getLong(2)).toMap
    val dcAll: Map[Any, Long] = dcRows.groupBy(_.get(1))
      .map { case (cls, rs) => cls -> rs.map(_.getLong(2)).sum }
    val dF: Map[Any, Long] = dcRows.groupBy(_.get(0))
      .map { case (f, rs) => f -> rs.map(_.getLong(2)).sum }
    val dAll: Long = dcRows.map(_.getLong(2)).sum
    // null fold = null doc id: those docs are global trainers, not a fold
    val foldsDomain: Seq[Any] = dcRows.map(_.get(0)).filter(_ != null).distinct.toSeq
    val nF: Map[(Any, Any), Long] =
      nfRows.map(r => (r.get(1), r.get(2)) -> r.getLong(3)).toMap
    val nAll: Map[Any, Long] =
      naRows.map(r => (r.get(2): Any) -> r.getLong(3)).toMap
    val vAll: Long = exRows.map(_.getLong(3)).sum
    val excl: Map[Any, Long] = exRows.filter(!_.isNullAt(1))
      .map(r => (r.get(1): Any) -> r.getLong(3)).toMap

    // (fold × class) training constants, bit-identical to the r10 join
    // tree (null-cls lookups read 0 — the null-unsafe join contract)
    val gridRows = for {
      f <- foldsDomain
      (cls, dcAllC) <- dcAll.toSeq
      dcTrain = dcAllC - (if (cls == null) 0L else dcF.getOrElse((f, cls), 0L))
      if dcTrain > 0
    } yield {
      val nTrain =
        if (cls == null) 0L
        else nAll.getOrElse(cls, 0L) - nF.getOrElse((f, cls), 0L)
      org.apache.spark.sql.Row(f, cls,
        bits2L(nTrain + vAll - excl.getOrElse(f, 0L)),
        bits2L(dcTrain) - bits2L(dAll - dF(f)))
    }
    val gridSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("fold",
        org.apache.spark.sql.types.LongType),
      base.schema("__label").copy(name = "cls"),
      org.apache.spark.sql.types.StructField("den_bits",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("prior_bits",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val grid = spark.createDataFrame(
      spark.sparkContext.parallelize(gridRows, 1), gridSchema)

    // token-level: ONE corpus-scale join on the token; the doc's
    // own-fold count subtracts via the row-local map lookup. Null-fold
    // (null-id) docs are train-only — the grid join below drops them
    // null-unsafely — so they're filtered BEFORE the token fan-out
    // rather than carried through the join and dropped at the end.
    // Null-CLASS rows are dropped pre-aggregation: the 3-key null-
    // UNSAFE join below never matches them, so carrying them through
    // the groupBy was dead work.
    //
    // NEGATIVE PROBES (r14, measured — keep this shape): two rewrites
    // of the tail were built and benched isolated at sf0.1 (best-of-4,
    // same host window; this form = 2.40 s):
    //   (a) pivot pos_bits into a per-(doc, fold) MAP so the argmin
    //       groups on the row-side join keys exchange-free → 2.74 s:
    //       at this scale AQE BROADCASTS the per-doc frame, so the
    //       partitioning-reuse never engages and the pivot's
    //       collect_list aggregation is pure added cost;
    //   (b) (a) plus n_tok routed through the probe side so the row
    //       side is a text-free (id, label) projection — two corpus
    //       text scans instead of three → 2.94 s: the saved scan is
    //       smaller than the pivot overhead at sf0.1.
    // At true corpus scale (b) wins on I/O (the text column dominates
    // and the pivot frame is doc-grain), so revisit the pivot form IF
    // the corpus outgrows the broadcast threshold — the crossover is
    // precisely the point where AQE stops broadcasting presentMap.
    //   (c) r15 closes the job-count hypothesis: running THIS scoring
    //       action inside an AQE-off window (NOTES_r15 q_nb_cv entry,
    //       alternating best-of-4, idle host) reaches the ≤8-job form the r14
    //       verdict asked about — 4 build + 4 action jobs instead of
    //       4 + 10 — and the wall does NOT improve (action 1.86–2.53 s
    //       AQE-off vs 1.79–2.01 s AQE-on at sf0.1): AQE's runtime
    //       broadcast of `present` buys back more than its per-stage
    //       scheduler jobs cost. The sf0.1 residue is therefore the
    //       corpus dataflow itself (two text-bearing scans + the
    //       (id,fold,cls) aggregation exchange), not scheduler floor —
    //       structural for the subtraction contract, which needs the
    //       probe side and the row side to see every test doc.
    val present = base.filter(col("fold").isNotNull)
      .select(col("__id"), col("fold"), explode(col("__tk")).as("tok"))
      .join(enriched, "tok")
      .filter(col("cls").isNotNull)
      .groupBy(col("__id"), col("fold"), col("cls"))
      .agg(sum(bits2(col("c_all")
        - coalesce(element_at(col("f_map"), col("fold")), lit(0L))
        + 1)).as("pos_bits"))

    // n_tokens is ROW-LOCAL (array size) — no aggregation, no join.
    // Same NULL-text clamp as nbScoreWith: prior-only, never ±den_bits
    val scored = base.select(col("__id"), col("__label"), col("fold"),
        greatest(size(col("__tk")), lit(0)).cast("long").as("n_tok"))
      .join(broadcast(grid), Seq("fold"))
      .join(present, Seq("__id", "fold", "cls"), "left")
      .select(col("__id"), col("__label"), col("fold"),
        col("cls"),
        (col("prior_bits") + coalesce(col("pos_bits"), lit(0L))
          - col("n_tok") * col("den_bits")).as("score"))

    scored.groupBy(col("__id"), col("__label"), col("fold"))
      .agg(min(struct((-col("score")).as("neg"), col("cls").as("cls"))).as("best"))
      .select(col("fold"),
        when(col("best.cls") === col("__label"), 1L).otherwise(0L).as("hit"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"), sum("hit").as("hits"))
      .select(col("fold"), col("n_test"), col("hits"),
        (col("hits").cast("double") / col("n_test")).as("accuracy"))
  }

  /** Per-test-document prediction MARGIN (top-1 minus top-2 class
    * score) — the active-learning / human-review routing signal: the
    * smallest margins are the docs the classifier is least sure about.
    * One bounded collect per document (|classes| structs, class-count
    * bounded by contract — never corpus-bounded), sorted on
    * (−score, cls) so `predicted` ties break exactly like [[nbPredict]].
    * Output: (`idCol`, label_true, predicted, score, margin); margin is
    * NULL when only one class was trained.
    *
    * The result registers in the plan-keyed cache window: margins feed
    * both the routing report and [[nbCalibration]]'s banding in the
    * same session (the suite does exactly this), and without the
    * registration the second consumer replays the whole held-out
    * scoring lineage. Test-split cardinality, MEMORY_AND_DISK. */
  def nbMargins(docs: DataFrame, idCol: String, textCol: String,
                labelCol: String, splitMod: Int = 5): DataFrame =
    cacheWindow.add(nbClassScores(docs, idCol, textCol, labelCol, splitMod)
      .groupBy(col(idCol), col("label_true"))
      .agg(array_sort(collect_list(
        struct((-col("score")).as("neg"), col("cls").as("cls")))).as("ranked"))
      .select(col(idCol), col("label_true"),
        col("ranked")(0).getField("cls").as("predicted"),
        (-col("ranked")(0).getField("neg")).as("score"),
        (element_at(col("ranked"), 2).getField("neg")
          - col("ranked")(0).getField("neg")).as("margin")))

  /** Class-indicative vocabulary — per-label top-k tokens by quantized
    * pointwise mutual information, the feature-selection / "what makes
    * this class this class" report:
    * {{{
    *   pmi_bits(c, t) = bits(c_tc · N) − bits(n_c · C_t)   ≈ log2 P(t|c)/P(t)
    * }}}
    * with bits(x) = floor(log2 x) ([[Drift.tokenKlBySlice]]'s term shape
    * — engine-exact, N ≤ 3·10⁹ for exact LONG products). `minCount`
    * floors c_tc so rare-token noise can't top the list. The ranking
    * window runs over the VOCABULARY-bounded (cls, tok) frame — never
    * the corpus — ordered (pmi DESC, token ASC) for a total order.
    * Output: (cls, rk, tok, c_tc, pmi_bits). */
  def classIndicativeTerms(docs: DataFrame, textCol: String, labelCol: String,
                           k: Int = 20, minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bits = (c: Column) => length(bin(c)) - 1
    val tok = docs.select(col(labelCol).as("cls"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
    val ctc = cacheWindow.add(
      tok.groupBy("cls", "tok").agg(count(lit(1)).as("c_tc")))
    val nc = ctc.groupBy("cls").agg(sum("c_tc").as("n_c"))
    val ct = ctc.groupBy("tok").agg(sum("c_tc").as("c_t"))
    val nTotal = nc.agg(sum("n_c").as("n_total"))
    val w = Window.partitionBy("cls")
      .orderBy(col("pmi_bits").desc, col("tok").asc)
    ctc.filter(col("c_tc") >= minCount)
      .join(ct, "tok").join(nc, "cls").crossJoin(broadcast(nTotal))
      .select(col("cls"), col("tok"), col("c_tc"),
        (bits(col("c_tc") * col("n_total")) - bits(col("n_c") * col("c_t")))
          .cast("long").as("pmi_bits"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("cls", "rk", "tok", "c_tc", "pmi_bits")
  }

  /** Calibration / reliability table for the held-out fit: test docs
    * banded by margin percent-rank ([[Ranks.tiersByPercentRankEager]] —
    * bit-equal to row-level percent_rank banding; the boundary values
    * come from one exact selection over the PERSISTED margins frame and
    * the bands compile to literal comparisons, so the whole NB scoring
    * lineage is evaluated once, not once per in-plan boundary subplan),
    * with per-band accuracy. The report is ≤ `buckets` rows: low-margin
    * bands under-performing high-margin bands is the evidence the
    * margin is a usable routing signal. Equal margins share a band
    * (value-based boundaries), so a heavily-tied fixture can leave some
    * bands empty — determinism over cosmetic evenness. */
  def nbCalibration(docs: DataFrame, idCol: String, textCol: String,
                    labelCol: String, splitMod: Int = 5,
                    buckets: Int = 10): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val thresholds = (1 until buckets).map(_.toDouble / buckets)
    val labels = (1 to buckets).map(i => f"d$i%02d")
    val margins = cacheWindow.add(
      nbMargins(docs, idCol, textCol, labelCol, splitMod))
    Ranks.tiersByPercentRankEager(margins,
        "margin", thresholds, labels, descending = false, outCol = "bucket")
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min("margin").as("min_margin"), max("margin").as("max_margin"),
        sum(when(col("predicted") === col("label_true"), 1L).otherwise(0L))
          .as("hits"))
      .select(col("bucket"), col("n"), col("min_margin"), col("max_margin"),
        col("hits"),
        (col("hits").cast("double") / col("n")).as("accuracy"))
  }

  /** Confusion matrix of [[nbPredict]]: (label_true, predicted, n) —
    * the held-out quality report a classifier gate ships with.
    *
    * Routed through [[nbMargins]], whose `predicted` is defined by the
    * same (−score, cls) total order as [[nbPredict]]'s min-of-struct —
    * identical argmax and tie-break, so the matrix is bit-equal
    * (ClassifierSpec pins the consistency). The point is cost
    * placement: margins/calibration/confusion all consume the ONE
    * plan-keyed cached scoring frame nbMargins registers, so the
    * held-out scoring pass is paid once per session regardless of
    * which family member runs first — via nbPredict, confusion built
    * its own scoring lineage and replayed the corpus even when the
    * margins frame was already hot. */
  def nbConfusion(docs: DataFrame, idCol: String, textCol: String,
                  labelCol: String, splitMod: Int = 5): DataFrame =
    nbMargins(docs, idCol, textCol, labelCol, splitMod)
      .groupBy(col("label_true"), col("predicted"))
      .agg(count(lit(1)).as("n"))
}
