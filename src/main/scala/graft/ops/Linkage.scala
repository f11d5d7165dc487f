package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Fuzzy record linkage at scale — approximate key matching for the
  * reconciliation surface (the reference's Raptor diff engine assumes
  * exact keys; real migrations also need "the same supplier, misspelled").
  *
  * Two blocking strategies, one contract (candidates → exact
  * levenshtein verify → optional best-match selection):
  *
  *   - [[blockedBestMatch]]: equi-join on a caller-supplied block key
  *     (nation, region, …). Right when the key's cardinality GROWS with
  *     the data; wrong when it is fixed — 30× the rows in 25 nations is
  *     ~900× the within-block comparisons (measured: SCALE.md round 4,
  *     q_fuzzy_match 11× wall at 30×).
  *   - [[qgramPairs]]: inverted-index blocking on character q-grams —
  *     the block universe is the q-gram space itself, so block count
  *     scales with the corpus and no fixed-cardinality cliff exists.
  *     Recall is a pigeonhole GUARANTEE, not a heuristic: one edit
  *     destroys at most q of a string's (len−q+1) q-grams, so a pair at
  *     edit distance ≤ k shares ≥ minLen−q+1−k·q grams — ≥ 1 whenever
  *     minLen ≥ q·(k+1), i.e. every candidate at distance ≤ k lands in
  *     some shared q-gram block. GRAMLESS strings (length < q) are
  *     routed through an exact length-banded pass inside [[qgramPairs]],
  *     so they pair correctly; lengths in [q, q·(k+1)) keep their grams
  *     but not the full pigeonhole guarantee.
  *
  * Like the shingle index (Dedup), grams are xxhash64'd so the self-join
  * shuffles 8-byte keys, and a df cap bounds the Σdf² of pathological
  * grams where it pays (same contract as the capped branch of
  * [[Dedup.jaccardPairsAdaptive]]: a pair is missed only if EVERY shared
  * gram exceeds the cap — at distance ≤ k a pair shares
  * ≥ minLen−q+1−k·q grams, so a cap ≥ that margin per-pair cannot
  * destroy recall unless all its grams are corpus-common).
  */
object Linkage {

  /** Recently-persisted gram-index frames, bounded and session-keyed
    * ([[CacheWindows]]: oldest unpersisted on overflow — worst case a
    * recompute, never a wrong result; concurrent pipelines in separate
    * sessions keep separate eviction budgets). The capped right index is
    * consumed by THREE plan branches (candidate join, kept-gram
    * universe, per-record kept counts) and the left by two; without the
    * persist each branch recomputes the gram explosion + df aggregation
    * from the source. */
  private val cacheWindow = new CacheWindows(4)

  private def cached(df: DataFrame): DataFrame = cacheWindow.add(df)

  /** Drop every frame this module still has persisted (all sessions). */
  def releaseCaches(): Unit = cacheWindow.releaseAll()

  /** Distinct hashed character q-grams of `s` (length < q ⇒ empty). */
  private def gramHashes(s: Column, q: Int): Column =
    array_distinct(
      when(length(s) >= q,
        transform(sequence(lit(1), length(s) - (q - 1)),
          i => xxhash64(s.substr(i, lit(q)))))
        .otherwise(array()))

  /** (id, name) projection with side-prefixed column names. The inverted
    * index carries ONLY (id, gram-hash) — 16-byte rows; the candidate
    * distinct runs over id pairs, and names are re-attached from the
    * compact (id, name) frames afterwards (distinct-ing rows that carry
    * both name strings shuffled ~10× the bytes). */
  private def sideNames(df: DataFrame, side: String,
                        idCol: String, nameCol: String): DataFrame =
    df.select(col(idCol).as(s"${side}_id"), col(nameCol).as(s"${side}_name"))

  private def sideIndex(df: DataFrame, side: String,
                        idCol: String, nameCol: String, q: Int): DataFrame =
    sideNames(df, side, idCol, nameCol).select(col(s"${side}_id"),
      explode(gramHashes(col(s"${side}_name"), q)).as("gh"))

  /** A gram is pathological when it occurs in more than this share of
    * the right side's records. A RATIO, not an absolute df: record
    * frequency scales with the corpus, so a fixed cap that prunes
    * correctly at one scale silently destroys recall at 10× (measured on
    * the documents fixture: worst per-record min-gram-df is ~4–6% of the
    * corpus at both sf0.01 and sf0.1, so 0.1 keeps every record's
    * discriminative grams at any scale while an absolute cap tuned at
    * sf0.01 missed half the sf0.1 matches). */
  private val MaxDfRatio = 0.1

  /** The smallest df a gram shared by two records of a self-linkage can
    * have. A ratio cap below it (⌈0.1·|right|⌉ = 1 for a right side of
    * at most 10 records) would drop every such pair, so the probe never
    * engages one: small right sides run the exact uncapped branch. */
  private val MinCap = 2

  /** All (left_id, right_id, dist) pairs with levenshtein ≤ maxDist,
    * via q-gram inverted-index blocking + exact verify. Both inputs are
    * (id, name) projections; ids must be disjoint across sides only if
    * the caller treats output sides as distinct (no self-pair filtering
    * is applied — pass the same frame twice for self-linkage and filter
    * `left_id < right_id` downstream).
    *
    * The df cap ([[MaxDfRatio]]) is engaged ADAPTIVELY, by the same rule
    * as [[Dedup.jaccardPairsAdaptive]] ([[Dedup.capPays]]): one probe
    * job computes the EXACT candidate volumes with and without the cap,
    * and the cap machinery (df filter join + the capped-index cache) is
    * paid only when it deletes at least 3/4 of the volume and is at
    * least [[MinCap]]. The round-6
    * measurement that forced this criterion: an absolute small-volume
    * threshold is wrong in BOTH directions — on the tiny-vocab documents
    * fixture the cap wins at every scale (sf0.01: capped 0.9 s vs
    * uncapped 1.9 s; sf0.1: 3.6 s vs 4.7 s, cap deletes ~90% of the
    * volume), while on a diverse-vocabulary corpus the cap deletes
    * ~nothing at ANY volume and its stages are pure tax. Savings, not
    * size, is the signal. The ratio cap's `|right|` count rides the probe
    * job itself, and the probe's side effect of materializing both index
    * caches before the candidate join is itself the measured engaged-path
    * win (0.88 s vs 1.14 s direct-capped at sf0.01).
    *
    * EAGER — the probe runs one Spark job at call time (a data-dependent
    * plan choice). Recall: the uncapped branch is the FULL pigeonhole
    * contract — a superset of the capped branch's recall, so flipping
    * branches can only add true pairs, never lose one. */
  def qgramPairs(left: DataFrame, right: DataFrame,
                 idCol: String, nameCol: String,
                 maxDist: Int = 2, q: Int = 3): DataFrame =
    qgramPairsWith(left, right, idCol, nameCol, maxDist, q, engage = None)._1

  /** [[qgramPairs]] with its cap decision exposed: `engage` = None lets
    * the probe decide, `Some(b)` forces the branch (specs pin both
    * through here). Returns the pairs and whether the cap was applied —
    * never on an empty gram join, which has no cap to apply. */
  private[graft] def qgramPairsWith(left: DataFrame, right: DataFrame,
                                    idCol: String, nameCol: String,
                                    maxDist: Int, q: Int,
                                    engage: Option[Boolean]): (DataFrame, Boolean) = {
    // ONE index build per side, shared by the probe and the chosen branch
    val li = cached(sideIndex(left, "left", idCol, nameCol, q))
    val ri0 = cached(sideIndex(right, "right", idCol, nameCol, q))
    val (vol, volCapped, cap) = qgramVolumes(li, ri0, right)
    val engaged = cap.filter(c =>
      engage.getOrElse(c >= MinCap && Dedup.capPays(vol, volCapped)))
    // engaged: the capped index is a THIRD window entry (raw right +
    // capped right) — the raw cache feeds the cap's own df aggregation
    // and filter join, which the probe already materialized it for
    val ri = engaged.fold(ri0)(c => cached(cappedRight(ri0, c)))
    (pairsFromIndexes(li, ri, left, right, idCol, nameCol, maxDist, q),
      engaged.isDefined)
  }

  /** The right index restricted to grams with df ≤ cap: candidate cost
    * per gram is df_l·df_r, so bounding ONE side bounds the product;
    * recall contract as in the object scaladoc. */
  private def cappedRight(ri0: DataFrame, cap: Int): DataFrame =
    ri0.join(ri0.groupBy("gh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= cap).select("gh"), "gh")

  /** Candidate generation + exact verify over already-built gram
    * indexes — the tail of both [[qgramPairs]] branches. BOTH `li` and
    * `ri` (already capped on the engaged branch) must be cache-registered
    * by the caller, exactly once each — registering an alias of an
    * already-registered plan burns a window slot and lets one alias's
    * eviction unpersist the entry the other relies on. */
  private def pairsFromIndexes(li: DataFrame, ri: DataFrame,
                               left: DataFrame, right: DataFrame,
                               idCol: String, nameCol: String,
                               maxDist: Int, q: Int): DataFrame = {
    def names(df: DataFrame, side: String): DataFrame =
      sideNames(df, side, idCol, nameCol)
    // candidate pairs: every (left, right) sharing a kept gram
    val cands = li.join(ri, "gh")
      .groupBy("left_id", "right_id")
      .agg(count(lit(1)).as("c"))
    val gramPairs = cands
      .join(names(left, "left"), "left_id")
      .join(names(right, "right"), "right_id")
      .withColumn("dist", graft.functions.BandedLevenshtein
        .bandedLevenshtein(col("left_name"), col("right_name"), maxDist))
      .filter(col("dist") <= maxDist)
      .select("left_id", "right_id", "dist")
    // exact pass for GRAMLESS strings (length < q ⇒ zero q-grams ⇒
    // invisible to the inverted index — two identical 2-char names would
    // otherwise never pair). Any partner of a gramless string has length
    // ≤ len + maxDist, so both sides filter to that sliver and equi-join
    // on a length band (left explodes its ±maxDist lengths — no
    // nested-loop join); requiring one gramless side keeps this disjoint
    // from the gram path, so the union never double-counts. Cost on a
    // corpus with no short strings: two empty-after-filter scans.
    // Lengths in [q, q·(maxDist+1)) keep their grams but not the full
    // pigeonhole guarantee — that documented soft zone is unchanged.
    val shortLeft = names(left, "left")
      .filter(length(col("left_name")) < q + maxDist)
    val shortRight = names(right, "right")
      .filter(length(col("right_name")) < q + maxDist)
    val shortPairs = shortLeft
      .withColumn("__lb", explode(sequence(
        greatest(length(col("left_name")) - maxDist, lit(0)),
        length(col("left_name")) + maxDist)))
      .join(shortRight.withColumn("__lb", length(col("right_name"))), "__lb")
      .filter(length(col("left_name")) < q || length(col("right_name")) < q)
      .withColumn("dist", graft.functions.BandedLevenshtein
        .bandedLevenshtein(col("left_name"), col("right_name"), maxDist))
      .filter(col("dist") <= maxDist)
      .select("left_id", "right_id", "dist")
    gramPairs.unionByName(shortPairs)
  }

  /** Exact candidate volumes, uncapped and capped: Σ_g df_l(g)·df_r(g)
    * and Σ_{g: df_r(g) ≤ cap} df_l(g)·df_r(g) — the number of
    * (left, right) gram co-occurrences the candidate join would generate
    * without / with the df cap. One Spark job over the two vocab-sized
    * df aggregates (the indexes are already cache-registered, so the
    * probe doubles as the eager pre-materialization that spares the
    * candidate join from racing a cold cache — the same measured win as
    * [[Dedup.jaccardPairsAdaptive]]'s probe). Doubles: the volumes are a
    * branch decision, and Σdf_l·df_r can overflow a long exactly on the
    * corpora where the decision matters. An empty gram join (no shared
    * q-gram) has no cap: both volumes are 0, which never engages it. */
  private def qgramVolumes(li: DataFrame, ri0: DataFrame,
                           right: DataFrame): (Double, Double, Option[Int]) = {
    val dfl = li.groupBy("gh").agg(count(lit(1)).cast("double").as("df_l"))
    val dfr = ri0.groupBy("gh").agg(count(lit(1)).cast("double").as("df_r"))
    // the ratio cap's |right| count rides the SAME job as the volumes
    // (broadcast 1-row cross join) instead of its own driver action —
    // the cap expression is the identical IEEE `ceil(ratio · n)` the
    // old separate `right.count()` computed (r19, guide §1.2: one fused
    // probe job). max(__cap) just carries the scalar back out.
    val nr = right.agg(count(lit(1)).as("__nr"))
    val capCol = greatest(lit(1L), ceil(lit(MaxDfRatio) * col("__nr")))
    val row = dfl.join(dfr, "gh")
      .crossJoin(broadcast(nr))
      .agg(sum(col("df_l") * col("df_r")).as("vol"),
        sum(when(col("df_r") <= capCol, col("df_l") * col("df_r"))
          .otherwise(0.0)).as("vol_capped"),
        max(capCol).as("cap"))
      .head()
    if (row.isNullAt(0)) (0.0, 0.0, None)
    else (row.getDouble(0), row.getDouble(1), Some(row.getLong(2).toInt))
  }

  /** Best clean match per dirty record (min distance, then min clean id)
    * over [[qgramPairs]] candidates — the scale-safe composition of the
    * classic best-match shape: blocking cardinality grows with the
    * corpus, so no fixed-cardinality cliff, and the cap is paid exactly
    * when the probe measures it deleting candidate volume (the benched
    * linkage entry; [[blockedBestMatch]] keeps the equi-block form for
    * callers whose key genuinely grows with the data). */
  def qgramBestMatch(dirty: DataFrame, clean: DataFrame,
                     idCol: String, nameCol: String,
                     maxDist: Int = 2, q: Int = 3): DataFrame =
    bestOf(qgramPairs(dirty, clean, idCol, nameCol, maxDist, q),
      dirty, clean, idCol, nameCol)

  /** Shared best-match selection: min (dist, clean id) per dirty record,
    * names re-attached from the compact (id, name) frames. */
  private def bestOf(pairs: DataFrame, dirty: DataFrame, clean: DataFrame,
                     idCol: String, nameCol: String): DataFrame = {
    val w = Window.partitionBy("left_id").orderBy(col("dist"), col("right_id"))
    pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(dirty.select(col(idCol).as("left_id"), col(nameCol).as("dirty_name")),
        "left_id")
      .join(clean.select(col(idCol).as("right_id"), col(nameCol).as("matched_name")),
        "right_id")
      .select(col("left_id").as("dirty_id"), col("dirty_name"),
        col("right_id").as("matched_id"), col("matched_name"), col("dist"))
  }

  /** The classic linkage shape: for every dirty record, the best clean
    * match (min distance, then min clean id) within an equi-join block.
    * `dirty` must carry (idCol → dirty_id rename applied here) and the
    * block column; candidates never exceed the block join.
    *
    * SCALE WARNING (measured, SCALE.md round 4): with a FIXED-cardinality
    * block key (nation: 25 values) within-block candidates grow
    * quadratically — 11× wall at 30× the rows. Use only when the key's
    * cardinality grows with the data; otherwise [[qgramBestMatch]]. */
  def blockedBestMatch(dirty: DataFrame, clean: DataFrame,
                       blockCol: String, idCol: String, nameCol: String,
                       maxDist: Int = 2): DataFrame = {
    val d = dirty.select(col(idCol).as("dirty_id"),
      col(nameCol).as("dirty_name"), col(blockCol).as("__blk"))
    val c = clean.select(col(idCol).as("clean_id"),
      col(nameCol).as("clean_name"), col(blockCol).as("__blk"))
    val cand = d.join(c, "__blk")
      .withColumn("dist", graft.functions.BandedLevenshtein
        .bandedLevenshtein(col("dirty_name"), col("clean_name"), maxDist))
      .filter(col("dist") <= maxDist)
    val w = Window.partitionBy("dirty_id").orderBy(col("dist"), col("clean_id"))
    cand.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("dirty_id", "dirty_name", "clean_id", "clean_name", "dist")
  }
}
