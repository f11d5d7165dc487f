package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines: exact,
  * n-gram Jaccard (inverted index), MinHash+LSH, and embedding-cosine
  * near-dup. SimHash lives in [[graft.functions.SimHash64]].
  *
  * Scale posture (the whole point of these):
  *   - Exact dedup is a hash shuffle on the dedup key — embarrassingly
  *     scalable; at 100 TB shuffle by md5(text) rather than raw text to
  *     bound key width.
  *   - Jaccard pairs use the *inverted shingle index* join (explode →
  *     join on shingle → count per pair), never a cross join. Cost is
  *     Σ df(shingle)² — at 100 TB add document-frequency pruning (drop
  *     shingles with df above a cap: they generate quadratic pair noise
  *     and contribute nothing to high-Jaccard pairs).
  *   - MinHash+LSH replaces the full index join with banded signature
  *     buckets: candidate generation touches only same-bucket pairs,
  *     then candidates are verified with exact Jaccard. Parameters
  *     (128 hashes, 32 bands × 4 rows) put the S-curve threshold at
  *     ~(1/32)^(1/4) ≈ 0.42 — recall at s ≥ 0.8 is 1-(1-0.8⁴)³² ≈ 1-5e-8.
  *   - Cosine near-dup ships both modes: [[cosinePairs]] (exact
  *     small-side self-join) and hyperplane-bucketed candidates + exact
  *     verify ([[cosinePairsLshAuto]], [[cosinePairsLshPinned]] — the
  *     100 TB path).
  */
object Dedup {

  /** Distinct word n-gram shingles of a whitespace-tokenized text column.
    * Empty array when the text has fewer than `n` tokens. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(text, " ")
    val grams = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      k => concat_ws(" ", (0 until n).map(o => element_at(toks, k + o)): _*))
    array_distinct(when(size(toks) >= n, grams).otherwise(array()))
  }

  /** Exact full-row dedup — plain `distinct()` (hash aggregate on all
    * columns; Catalyst plans it as a shuffle by row hash). */
  def exactRows(df: DataFrame): DataFrame = df.distinct()

  /** Exact dedup by key with a deterministic survivor (min of `idCol`) and
    * the duplicate count per group — the hash-groupBy dedup gate. */
  def exactByKey(df: DataFrame, key: Seq[String], idCol: String): DataFrame =
    df.groupBy(key.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus: one surviving row per key group (the row
    * whose `idCol` is the group minimum). Left-semi against the survivor
    * set — no payload shuffle beyond the key columns. */
  def exactSurvivors(df: DataFrame, key: Seq[String], idCol: String): DataFrame = {
    val keep = exactByKey(df, key, idCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Exact SHARED-PASSAGE detection — pairs of documents containing an
    * identical character run of at least `window` chars, with the count
    * of shared anchored windows (the "repeated passage / boilerplate"
    * dedup signal from training-data practice, where near-dup metrics
    * like Jaccard miss a long quote embedded in otherwise-different
    * documents).
    *
    * The scale problem is alignment: hashing windows at a fixed stride
    * compares offset-dependent positions, so the same passage at
    * different offsets in two documents never lines up (and stride 1 is
    * |text| rows per doc — not shippable). Content-defined anchoring
    * fixes it: a window starting at position i is an ANCHOR iff
    * `md5(text[i, i+anchorGram))` starts with `anchorSel` — a predicate
    * of the CONTENT, not the offset, so a passage produces the same
    * anchors wherever it sits. Expected anchor density is
    * 16^-|anchorSel| per position (1/16 at the default); a shared
    * passage of length L ≥ window is detected unless NONE of its
    * L − window + 1 window starts anchors — probability (15/16)^(L−w+1),
    * i.e. ~0.1% missed at L = window + 100. Exact-duplicate documents
    * always share all anchors. (The winnowing scheme would make the
    * guarantee deterministic at ≥ window + 15 — this CDC form is the
    * standard simpler trade and keeps the operator one expression.)
    *
    * Candidates join on the window's xxhash64 — the [[jaccardPairs]]
    * family's posture: 8-byte shuffle keys instead of 50-char strings
    * (1.7× wall at the 100× corpus replica from key width alone), exact
    * modulo the same 2^-64 collision contract as every hashed-shingle
    * operator here (the DuckDB oracle joins the full window STRINGS, so
    * the correctness gate itself certifies collision-freedom on the
    * fixtures). 100 TB posture: windows anchor at ~1/16 density, so the
    * exploded index is ~0.5 longs per character; a boilerplate window
    * shared by millions of docs is the same quadratic df magnet as a hot
    * shingle — `maxDf` caps it with the jaccard family's contract (a
    * pair is missed only if EVERY shared window exceeds the cap; for
    * passage detection rare windows are the signal, so the cap is
    * near-lossless). Output: (doc_i, doc_j, shared_passages), doc_i <
    * doc_j. */
  def passagePairs(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 50, anchorGram: Int = 8,
                   anchorSel: String = "0",
                   maxDf: Option[Int] = None): DataFrame = {
    val wins0 = passageWins(docs, idCol, textCol, window, anchorGram, anchorSel)
    val wins = maxDf match {
      case None => wins0
      case Some(cap) =>
        wins0.join(wins0.groupBy("win").agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap).select("win"), "win")
    }
    wins.as("a")
      .join(wins.as("b"),
        col("a.win") === col("b.win") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
      .agg(count(lit(1)).as("shared_passages"))
  }

  /** The anchored-window-hash index (id, win) shared by [[passagePairs]]
    * and the cross-batch forms — all extraction mechanics live here. */
  private def passageWins(docs: DataFrame, idCol: String, textCol: String,
                          window: Int, anchorGram: Int,
                          anchorSel: String): DataFrame = {
    require(window >= anchorGram, "window must cover the anchor gram")
    val t = col(textCol)
    // anchor POSITIONS first, then materialize windows only there: the
    // predicate reads just the leading anchorGram chars, so filtering the
    // position sequence before the transform builds 16^|anchorSel|-times
    // fewer window strings than filter-after-transform, selecting the
    // identical window set (the md5-per-position cost dominates either
    // way — the big win is the parallelism fix below)
    val anchored = filter(sequence(lit(1), length(t) - window + 1),
      i => substring(md5(t.substr(i, lit(anchorGram))), 1, anchorSel.length)
        === anchorSel)
    val winArr = when(length(t) >= window,
      array_distinct(transform(anchored,
        i => xxhash64(t.substr(i, lit(window))))))
      .otherwise(array().cast("array<bigint>"))
    // the anchor scan is CPU-bound (one md5 per character position), so its
    // parallelism must not be pinned to the input-split layout — a small or
    // consolidated parquet file scans as ONE split and serializes the whole
    // pass (measured 4.6 s → 1.4 s at sf0.1 from this alone). Hash-
    // repartition on the id: deterministic (round-robin would insert a
    // sort-before-repartition of corpus bytes), balanced, and `max` with
    // the current layout so a well-split 100 TB scan is never coarsened.
    val parts = math.max(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      docs.rdd.getNumPartitions)
    docs.repartition(parts, col(idCol))
      .select(col(idCol).as("id"), explode(winArr).as("win"))
  }

  /** Prebuilt passage window index — the corpus side of the incremental
    * form, built once ([[buildPassageIndex]]), persisted by the caller,
    * appended per accepted batch. Carries its anchoring parameters so a
    * batch can never be extracted with mismatched ones. */
  final case class PassageIndex(wins: DataFrame, window: Int,
                                anchorGram: Int, anchorSel: String)

  def buildPassageIndex(docs: DataFrame, idCol: String, textCol: String,
                        window: Int = 50, anchorGram: Int = 8,
                        anchorSel: String = "0"): PassageIndex =
    PassageIndex(passageWins(docs, idCol, textCol, window, anchorGram,
      anchorSel), window, anchorGram, anchorSel)

  /** Incremental (cross-batch) shared-passage detection — a new ingestion
    * batch checked against the existing corpus WITHOUT re-pairing the
    * corpus against itself, the same bipartite posture as
    * [[minhashLshCrossPairs]]: candidates join corpus windows × batch
    * windows on the 8-byte window hash, so per-batch work is
    * |batch|-proportional plus the corpus index scan (which the
    * production path persists via [[buildPassageIndex]] /
    * [[passageCrossPairsIndexed]]). `maxDf` caps the CORPUS-side window
    * frequency — the growing side, where boilerplate df explodes; a pair
    * is missed only if every shared window is corpus-boilerplate above
    * the cap. Output (doc_i = corpus id, doc_j = batch id,
    * shared_passages); id sets disjoint by contract. */
  def passageCrossPairs(corpus: DataFrame, batch: DataFrame, idCol: String,
                        textCol: String, window: Int = 50,
                        anchorGram: Int = 8, anchorSel: String = "0",
                        maxDf: Option[Int] = None): DataFrame =
    passageCrossPairsIndexed(
      buildPassageIndex(corpus, idCol, textCol, window, anchorGram, anchorSel),
      batch, idCol, textCol, maxDf)

  /** [[passageCrossPairs]] against a prebuilt (typically persisted)
    * [[PassageIndex]] — the per-batch incremental form. The batch is
    * extracted with the INDEX's anchoring (mismatched windows can't
    * happen by construction). */
  def passageCrossPairsIndexed(corpus: PassageIndex, batch: DataFrame,
                               idCol: String, textCol: String,
                               maxDf: Option[Int] = None): DataFrame = {
    val corpusWins = maxDf match {
      case None => corpus.wins
      case Some(cap) =>
        corpus.wins.join(
          corpus.wins.groupBy("win").agg(count(lit(1)).as("df"))
            .filter(col("df") <= cap).select("win"), "win")
    }
    val batchWins = passageWins(batch, idCol, textCol, corpus.window,
      corpus.anchorGram, corpus.anchorSel)
    corpusWins.as("a").join(batchWins.as("b"), col("a.win") === col("b.win"))
      .groupBy(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
      .agg(count(lit(1)).as("shared_passages"))
  }

  /** Greedy near-dup removal: given (doc_i, doc_j, …) near-dup pairs
    * (any of [[jaccardPairs]] / [[minhashLshPairs]] / [[simhashPairs]] /
    * [[cosinePairs]] with ids ordered doc_i < doc_j), drop every row that
    * appears as the GREATER id of some pair. One anti-join pass; each
    * near-dup cluster keeps at least its minimum id (the canonical
    * training-data dedup sweep; full transitive clustering would need
    * iterative connected components). */
  def removeNearDups(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    docs.join(pairs.select(col("doc_j").as(idCol)).distinct(),
      Seq(idCol), "left_anti")

  /** Full transitive near-dup clustering — the connected components of
    * the pair graph: every document gets `cluster_id` = the minimum doc
    * id reachable through near-dup pairs (singletons cluster to
    * themselves). This is what [[removeNearDups]]'s greedy sweep
    * approximates; cluster ids let a pipeline pick one survivor per
    * component, weight clusters, or audit chain merges.
    *
    * Implementation is iterative min-label propagation with pointer
    * jumping (the alternating-star family): each round takes the min
    * label over neighbors, then short-circuits label → label-of-label, so
    * label paths halve per round and convergence needs O(log n) rounds
    * even on chain-shaped components, not O(diameter). Each round is two
    * shuffle joins over the previous generation, and each generation is
    * checkpointed at the RDD level: the lineage is TRUNCATED every
    * round (plan size stays constant — a persist-only loop would embed
    * the prior plan twice per round and grow the tree 2^rounds, stalling
    * the driver's analyzer on deep components), while the RDD handle lets
    * the superseded generation's blocks be explicitly `unpersist`ed, so
    * block-manager residency is still bounded at TWO label generations +
    * the edge set for the whole run.
    *
    * Checkpoint durability — pick by deployment:
    *   - `checkpointDir = None` (default): `localCheckpoint`, executor
    *     storage only. Fastest, right for local mode and short loops;
    *     losing an executor mid-loop loses non-replicated generation
    *     blocks WITH their truncated lineage, failing the job (rerun it).
    *   - `checkpointDir = Some(dir)`: reliable `RDD.checkpoint` into
    *     `dir` (HDFS/object store via the Hadoop FS API). Each
    *     generation is persisted, then written to `dir` at its
    *     materializing action (the persist keeps that from recomputing
    *     the generation); an executor loss now recovers from the
    *     checkpoint files, the 100 TB posture. Files for this run stay
    *     under `dir` until the caller removes them (Spark only
    *     self-cleans with `spark.cleaner.referenceTracking.cleanCheckpoints`).
    *
    * The fixpoint is unique (elementwise
    * min over a lattice), so the result is deterministic regardless of
    * execution order — which is what lets a SQL oracle replay it with a
    * recursive transitive closure.
    *
    * Only vertices TOUCHED by a pair iterate: a doc in no near-dup pair
    * can never change label, so the loop runs over the pair graph's
    * vertex set (≤ 2·|pairs| ids) and singletons are attached by one
    * final left join — at a realistic dup rate the per-round volume is
    * |near-dup docs|, orders of magnitude below |corpus|. */
  def nearDupClusters(docs: DataFrame, pairs: DataFrame, idCol: String,
                      maxIters: Int = 25,
                      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val spark = docs.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    // both orientations from ONE evaluation of the pairs plan: a union of
    // two selects would evaluate the (potentially expensive — a whole
    // jaccard/LSH sweep) pairs lineage once per branch inside the same
    // materialization job; exploding a 2-element struct array scans it once
    val edges = pairs.select(explode(array(
        struct(col("doc_i").as("src"), col("doc_j").as("dst")),
        struct(col("doc_j").as("src"), col("doc_i").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Small-pair-graph driver path (the [[Graph]] gate): when the pair
    // graph holds ≤ cap edge rows of LONG ids, component minima come
    // from a driver union-find (attach-smaller-root, so every root IS
    // its component min — the exact fixpoint the distributed rounds
    // converge to) and attach to the corpus through a BROADCAST join:
    // `docs` itself can be 100 TB, only the pair graph is bounded. The
    // limit probe reads the persisted edge frame, so an oversized sweep
    // is not evaluated twice. Null or non-long ids keep the loop.
    if (edges.schema.fields.forall(_.dataType ==
        org.apache.spark.sql.types.LongType)) {
      val cap = Graph.smallGraphCap
      val probe = edges.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt)
        .collect()
      if (probe.length <= cap && !probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val parent = scala.collection.mutable.HashMap.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent(r) != r) r = parent(r)
          var c = x
          while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        probe.foreach { e =>
          val (a, b) = (e.getLong(0), e.getLong(1))
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) {
            if (ra < rb) parent(rb) = ra else parent(ra) = rb
          }
        }
        edges.unpersist(blocking = false)
        import org.apache.spark.sql.Row
        import org.apache.spark.sql.types.{LongType, StructField, StructType}
        val labelRows = parent.keysIterator.toSeq.sorted
          .map(id => Row(id, find(id)))
        val labelFrame = spark.createDataFrame(
          spark.sparkContext.parallelize(labelRows, 1),
          StructType(Seq(StructField("id", LongType, nullable = false),
            StructField("label", LongType, nullable = false))))
        return docs.select(col(idCol).as("id"))
          .join(broadcast(labelFrame), Seq("id"), "left")
          .select(col("id").as(idCol),
            coalesce(col("label"), col("id")).as("cluster_id"))
      }
    }
    // generation 0 — checkpointed like every later generation so the
    // loop body never references a deep upstream plan; both directions
    // are in `edges`, so src alone covers every touched id
    var (labels, prevRdd) = Graph.checkpointGen(edges.select("src").distinct()
      .select(col("src").as("id"), col("src").as("label")), checkpointDir)
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIters) {
      val nbrMin = edges
        .join(labels.select(col("id").as("dst"), col("label").as("dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min("dlabel").as("nmin"))
      // carry the pre-step label through the pass: change detection then
      // filters the already-materialized frame instead of re-joining the
      // previous labels (one shuffle join fewer per iteration)
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // pointer jumping: follow one hop of the label forest (labels always
      // point at existing ids, so the lookup join always hits)
      val (next, nextRdd) = Graph.checkpointGen(stepped
        .join(stepped.select(col("id").as("label"), col("label").as("ll")),
          Seq("label"), "left")
        .select(col("id"), col("old"), coalesce(col("ll"), col("label")).as("label")),
        checkpointDir)
      changed = next.filter(col("label") =!= col("old")).count() // materializes next
      prevRdd.unpersist(blocking = false) // old generation is dead: free its blocks
      prevRdd = nextRdd
      labels = next.select("id", "label")
      iter += 1
    }
    edges.unpersist()
    Graph.releaseLastGen(prevRdd, checkpointDir)
    // attach the untouched majority: no pair ⇒ the doc is its own cluster
    docs.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("label"), col("id")).as("cluster_id"))
  }

  /** Exploded (id, shingle-hash) inverted index with per-doc shingle
    * counts. Shingles are xxhash64'd to longs before the index leaves this
    * function: every downstream self-join shuffles 8-byte keys instead of
    * ~20-byte strings, and distinctness per doc is preserved (collision
    * odds across a corpus's ~10⁵ distinct shingles are ~10⁻⁹ — and a
    * collision must co-occur in one pair to perturb a count). */
  /** Recently-persisted compact shingle frames, bounded: a long-lived
    * session issuing many dedup calls over different corpora would
    * otherwise accumulate cached blocks forever (evictable, but
    * block-manager residency grew unbounded). The window keeps the last
    * [[MaxCachedShingleFrames]] frames hot — every consumer of one
    * query's index runs while its frame is in the window — and
    * unpersists the oldest beyond that (worst case: a recomputation on
    * miss, never a wrong result). [[releaseCaches]] drops them all.
    * Composition limit, for the same never-wrong reason: a SINGLE lazy
    * plan composing more than [[MaxCachedShingleFrames]] distinct shingle
    * indexes before its one action will have its earliest indexes evicted
    * at build time and recomputed per consumer — widen the window (or
    * materialize intermediate results) if you genuinely compose 5+ corpora
    * in one plan. */
  private val MaxCachedShingleFrames = 4
  private[graft] val shingleCacheWindow = new CacheWindows(MaxCachedShingleFrames)

  private def registerShingleCache(df: DataFrame): DataFrame =
    shingleCacheWindow.add(df)

  /** Separate bounded window for SMALL derived frames (bound-pruned
    * candidate sets) so they never evict a corpus-scale shingle cache:
    * the shingle window holds 4 big entries by design, and registering
    * a tiny candidate frame there was measured to thrash the tokenize
    * caches of sibling dedup queries in a shared pass at 10× data. */
  private val smallCacheWindow = new CacheWindows(8)

  private def registerSmallCache(df: DataFrame): DataFrame =
    smallCacheWindow.add(df)

  /** Unpersist every shingle frame this object still holds (all
    * sessions) — call when a long-lived JVM is done with dedup work. */
  def releaseCaches(): Unit = {
    shingleCacheWindow.releaseAll()
    smallCacheWindow.releaseAll()
  }

  /** Per-document novelty scoring — the inverse of contamination: what
    * fraction of a document's distinct n-gram shingles appear NOWHERE
    * else in the corpus (corpus df = 1)? High novelty marks genuinely
    * fresh content; low novelty marks boilerplate and templated text —
    * a standard curation signal next to the repetition and quality
    * scores.
    *
    * Shape at 100 TB: the shared [[shingleIndex]] (one tokenize+hash
    * scan, cached 8-byte-hash frame), one `groupBy(shash)` df count
    * (map-side partials absorb hot-shingle skew), one join back keyed
    * by shash, one `groupBy(id)` — all shuffles carry 8-byte hashes,
    * never text. Zero-shingle docs (< n tokens) are preserved with
    * novelty 0.0 via the left join, not silently dropped.
    *
    * Determinism: counts are exact longs over 64-bit shingle hashes
    * (the family's standard ~|grams|²/2⁶⁴ collision bet); novelty is
    * one IEEE division. Returns (id, n_shingles, n_novel, novelty). */
  def noveltyScores(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3): DataFrame = {
    val (index, _) = shingleIndex(docs, idCol, textCol, n)
    val dfc = index.groupBy("shash").agg(count(lit(1)).as("df"))
    val per = index.join(dfc, "shash")
      .groupBy("id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
    docs.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        when(coalesce(col("n_shingles"), lit(0L)) > 0L,
          col("n_novel").cast("double") / col("n_shingles"))
          .otherwise(lit(0.0)).as("novelty"))
  }

  private def shingleIndex(docs: DataFrame, idCol: String, textCol: String,
                           n: Int): (DataFrame, DataFrame) = {
    // Persisted: every consumer walks the index ≥2× (self-join sides,
    // sizes, verify) and the capped-jaccard path up to 9× — without the
    // cache each walk re-tokenizes and re-hashes the corpus text, which
    // dominates the whole query. The cached form is the COMPACT one
    // (id + 8-byte hash array, no text), MEMORY_AND_DISK so blocks are
    // evictable/spillable under pressure and recomputed on miss — the
    // same posture as [[Reconcile.diff]]'s source/target cache.
    // Residency across calls is bounded by [[registerShingleCache]].
    // shingle hashing is a per-character CPU pass (the passageWins
    // pathology): widen a single-split scan so the hash — and every
    // downstream explode map side reading this cache — runs at session
    // parallelism instead of one task (Par.widen: no-op at real scale)
    val withSh = registerShingleCache(Par.widen(docs, col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.ShingleHashes.shingleHashes(col(textCol), n).as("sh")))
    val sizes = withSh.select(col("id"), size(col("sh")).as("n_sh"))
    val index = withSh.select(col("id"), explode(col("sh")).as("shash"))
    (index, sizes)
  }

  /** Exact jaccard over a candidate pair set: common counts from the
    * FULL indexes restricted to candidates, sizes joined, thresholded.
    * Shared verify tail of [[jaccardPairs]] (capped mode),
    * [[minhashLshPairs]], and the cross-batch [[minhashLshCrossPairs]]
    * (which passes a distinct index per side). */
  private def verifyJaccard(cands: DataFrame, indexI: DataFrame, indexJ: DataFrame,
                            sizesI: DataFrame, sizesJ: DataFrame,
                            threshold: Double): DataFrame = {
    val common = cands
      .join(indexI.as("ia"), col("doc_i") === col("ia.id"))
      .join(indexJ.as("ib"),
        col("doc_j") === col("ib.id") && col("ia.shash") === col("ib.shash"))
      .groupBy("doc_i", "doc_j").agg(count(lit(1)).as("common"))
    common
      .join(sizesI.withColumnRenamed("id", "doc_i").withColumnRenamed("n_sh", "n_i"), "doc_i")
      .join(sizesJ.withColumnRenamed("id", "doc_j").withColumnRenamed("n_sh", "n_j"), "doc_j")
      .withColumn("jaccard",
        col("common") * lit(1.0) / (col("n_i") + col("n_j") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_i", "doc_j", "jaccard")
  }

  /** Exact n-gram Jaccard near-dup pairs via the inverted-index join:
    * (doc_i, doc_j, jaccard) for all pairs with similarity ≥ threshold.
    * Never materializes the full pair matrix — only pairs sharing ≥1
    * shingle are generated. LAZY: no Spark job runs until the caller's
    * action — the form to compose into larger plans; a corpus whose
    * common shingles make Σdf² explode wants [[jaccardPairsAdaptive]]. */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8): DataFrame = {
    val (index, sizes) = shingleIndex(docs, idCol, textCol, n)
    jaccardPairsFromIndex(index, sizes, threshold, maxDf = None)
  }

  /** Pair generation + verify over an already-built (index, sizes) pair —
    * the shared tail of [[jaccardPairs]] and [[jaccardPairsAdaptive]], so
    * the adaptive path builds (and registers in the cache window) its
    * shingle index exactly ONCE for both the probe and the chosen branch.
    *
    * `maxDf` = None is fully exact. With a cap, CANDIDATE GENERATION only
    * joins on shingles appearing in ≤ maxDf docs — pair-join work is
    * Σ df(shingle)², quadratic in shingle document frequency (measured
    * 19× cost at a 10× corpus whose common grams are shared), and the cap
    * bounds it at ~|docs|·avgSh·maxDf. Candidates are then verified with
    * exact Jaccard over the FULL index, so reported similarities are
    * always exact (an upper-bound prune — shared-rare count plus the
    * smaller side's non-rare budget — drops provably-below-threshold
    * pairs first, so the exact verify only touches plausible candidates).
    * A pair is missed only if every one of its shared shingles exceeds
    * the cap — for threshold ≥ 0.8 a pair shares most of its (mostly
    * rare) shingles, so recall loss is negligible on natural corpora.
    *
    * WHY THE SELF-JOIN'S EXCHANGE IS NOT REUSED (the executed plan shows
    * two `Generate` nodes over the same shingle lineage): a Spark 4.1
    * limitation, root-caused in round 6. Under AQE each scan of a cached
    * relation becomes a `TableCacheQueryStageExec`, and unlike
    * `ExchangeQueryStageExec` that class does NOT override
    * `doCanonicalize()` — it canonicalizes with its stage id and raw plan
    * reference intact, so two cache-scan stages over the SAME
    * `InMemoryRelation` never compare canonically equal and every
    * exchange above a cached subtree misses AQE's stage cache. Minimal
    * bisect in NOTES_r6 and SCALE.md's "exchange reuse" entry: reuse
    * fires in the AQE-off and uncached combos, never in AQE+cache — no
    * plan shape on our side can change it. The formalized mitigation is the adaptive probe's EAGER
    * PRE-MATERIALIZATION of the compact cache before the self-join
    * (NOTES_r5: without it the join's two sides race the cold cache and
    * each computes the index — the BlockManager lock convoy): both
    * Generate instances then read warm cached blocks, which costs far
    * less than either exchange. The obvious alternative — cache the
    * index REPARTITIONED by `shash` so every consumer reads it
    * pre-partitioned and no exchange is planned at all — was built and
    * REJECTED on a pinned same-window A/B: the extra shuffle + columnar
    * cache build of the full exploded index costs more than the planned
    * exchanges save wherever the cap actually engages (v10 verbatim
    * capped: 6.4 s plain vs 10.8 s partitioned, min of 3 each; x100
    * disjoint FORCED-capped: 114 s vs 104 s, but adaptive never chooses
    * capped there; x100 uncapped regressed 30 s → 94 s). Numbers in
    * NOTES_r6.md. */
  private def jaccardPairsFromIndex(index: DataFrame, sizes: DataFrame,
                                    threshold: Double,
                                    maxDf: Option[Int]): DataFrame = {
    maxDf match {
      case None =>
        val common = index.as("a")
          .join(index.as("b"),
            col("a.shash") === col("b.shash") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
          .agg(count(lit(1)).as("common"))
        common
          .join(sizes.withColumnRenamed("id", "doc_i").withColumnRenamed("n_sh", "n_i"), "doc_i")
          .join(sizes.withColumnRenamed("id", "doc_j").withColumnRenamed("n_sh", "n_j"), "doc_j")
          .withColumn("jaccard",
            col("common") * lit(1.0) / (col("n_i") + col("n_j") - col("common")))
          .filter(col("jaccard") >= threshold)
          .select("doc_i", "doc_j", "jaccard")
      case Some(cap) =>
        // Cap application is a BROADCAST STOP-SET, not a df join: the
        // over-cap shingles are the boilerplate head of the frequency
        // distribution — few distinct keys by definition (≤ |index|/cap,
        // in practice orders of magnitude fewer) — so collect them
        // (bounded) and drop them with a broadcast left-anti join that
        // keeps the full index scan MAP-SIDE. The previous inner join
        // against the rare set (≈ all distinct shingles) shuffled the
        // whole index a second time and was the sweep's only
        // superlinear cell (3.4× at 10× data). The driver pull is hard-
        // bounded: past the guard (2²⁰ keys ≈ 8 MB) fall back to the
        // shuffle join — the stop-set assumption has failed, and at
        // that point the join IS the scale-safe form.
        val overCap = index.groupBy("shash").agg(count(lit(1)).as("df"))
          .filter(col("df") > cap).select("shash")
        val stopGuard = 1 << 20
        val stop = overCap.limit(stopGuard + 1).collect().map(_.getLong(0))
        val (cappedRaw, fellBack) =
          if (stop.length <= stopGuard) {
            val spark = index.sparkSession
            import spark.implicits._
            (index.join(broadcast(stop.toSeq.toDF("shash")),
              Seq("shash"), "left_anti"), false)
          } else (index.join(
            overCap.select("shash"), Seq("shash"), "left_anti"), true)
        // Broadcast branch: NOT persisted — each of the three consumers
        // (both self-join sides + the per-doc rare counts) re-derives
        // via a WARM compact-cache read + codegen explode + map-side
        // anti filter — no shuffle, no re-tokenization (the stop-set
        // collect above already materialized the underlying shingle
        // cache, so the NOTES_r5 cold-cache race can't happen). The old
        // second persist wrote the whole EXPLODED index to cache a
        // second time — the dominant data-proportional cost at 10× data.
        // Fallback branch: the anti-join is a SHUFFLE (overCap past the
        // broadcast guard), so re-derivation per consumer would re-run
        // the df aggregation + join 3× — persist + materialize exactly
        // as the pre-r13 form did.
        val capped =
          if (!fellBack) cappedRaw
          else { val c = registerShingleCache(cappedRaw); c.count(); c }
        // count shared RARE shingles per pair directly (map-side-combined
        // aggregation, like the uncapped path — no distinct-then-rejoin:
        // materializing every co-occurring pair for the full verify made
        // verify cost |pairs sharing any rare shingle| × avgSh)
        val cRare = capped.as("a")
          .join(capped.as("b"),
            col("a.shash") === col("b.shash") && col("a.id") < col("b.id"))
          .groupBy(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
          .agg(count(lit(1)).as("c_r"))
        // one per-doc stats frame (total + rare shingle counts) joined
        // twice, instead of four separate joins of the PAIR frame — the
        // pair frame is the big side, so halving its shuffle joins is the
        // bulk of the cap's fixed premium. Every doc in cRare has ≥ 1
        // rare shingle, so the inner join never drops a pair.
        val docStats = sizes
          .join(capped.groupBy("id").agg(count(lit(1)).as("n_rare")), "id")
        // exact upper bound on the TRUE common count: shared rare + at
        // most every non-rare shingle of the smaller side. J is monotone
        // in common, so filtering on J(upper) keeps every pair the capped
        // contract can report — only provably-below-threshold pairs skip
        // the exact verify.
        val withBounds = cRare
          .join(docStats.select(col("id").as("doc_i"),
            col("n_sh").as("n_i"), col("n_rare").as("r_i")), "doc_i")
          .join(docStats.select(col("id").as("doc_j"),
            col("n_sh").as("n_j"), col("n_rare").as("r_j")), "doc_j")
        val ubCommon = col("c_r") +
          least(col("n_i") - col("r_i"), col("n_j") - col("r_j"))
        // PERSISTED + eagerly materialized: the exact-now/residue split
        // below consumes `plausible` in BOTH branches of a union, and
        // without the cache each branch re-runs the whole candidate
        // generation (self-join + pair agg — the dominant cost of the
        // capped path; measured ~2× at 10× data). The frame is small by
        // construction — only pairs whose Jaccard UPPER BOUND clears the
        // threshold survive the prune. The eager count keeps the two
        // branches from racing the cold cache (NOTES_r5 convoy).
        val plausible = registerSmallCache(withBounds
          .filter(ubCommon / (col("n_i") + col("n_j") - ubCommon) >= threshold))
        plausible.count()
        // when BOTH docs are all-rare (r = n_sh), every shared shingle is
        // rare, so c_r IS the exact common count — emit the exact Jaccard
        // directly and verify only the residue. On a benign corpus (caps
        // prune nothing) this skips the whole verify pass losslessly.
        val allRare = col("r_i") === col("n_i") && col("r_j") === col("n_j")
        val exactNow = plausible.filter(allRare)
          .withColumn("jaccard",
            col("c_r") * lit(1.0) / (col("n_i") + col("n_j") - col("c_r")))
          .filter(col("jaccard") >= threshold)
          .select("doc_i", "doc_j", "jaccard")
        val residue = plausible.filter(!allRare).select("doc_i", "doc_j")
        exactNow.unionByName(
          verifyJaccard(residue, index, index, sizes, sizes, threshold))
    }
  }

  /** Document-frequency cap of [[jaccardPairsAdaptive]]'s capped branch. */
  private val JaccardMaxDf = 50

  /** The engage rule every adaptive df cap here shares (Jaccard and
    * [[Linkage.qgramPairs]]): the cap is insurance — measured ~2× fixed
    * premium on a benign disjoint-vocabulary corpus vs a 6–19× payback
    * when common keys make the candidate volume explode — so it is paid
    * only when it deletes at least 3/4 of the EXACT candidate volume
    * (`vol` uncapped, `volCapped` under the cap). Measured on the verbatim
    * ×10 corpus the Jaccard ratio is 58, on disjoint-vocabulary replicas
    * exactly 1.0, so the decision is not borderline. */
  private[ops] def capPays(vol: Double, volCapped: Double): Boolean =
    vol > 4.0 * math.max(volCapped, 1.0)

  /** [[jaccardPairs]] with the df cap engaged ADAPTIVELY — the
    * scale-insured form: one cheap probe aggregation over the (persisted)
    * shingle index projects the candidate-join volume, and the cap +
    * bound-prune machinery is paid only when that volume actually
    * threatens. Candidate generation produces Σ df·(df−1)/2 ≈ Σdf²/2 rows
    * uncapped; under the cap exactly the shingles with df ≤ 50 contribute,
    * i.e. Σ_{df≤50} df²/2 — the probe computes BOTH volumes exactly from
    * one df aggregation and engages by [[capPays]]. A loose bound like
    * cap·Σdf is NOT used: it over-estimates the capped cost by orders of
    * magnitude precisely on the corpora where the cap wins. Sums are
    * taken as doubles: they are projections for a branch decision, and
    * Σdf² can overflow a long on a corpus where the decision is most
    * needed.
    *
    * EAGER — the probe runs one Spark job at call time (the same contract
    * as [[lshConfigFor]]-driven auto-sizing: a data-dependent plan CHOICE
    * cannot be made lazily). The probe walks the compact persisted index
    * (id + 8-byte hashes), not the corpus text; the chosen branch then
    * reuses that same cached index frame. */
  def jaccardPairsAdaptive(docs: DataFrame, idCol: String, textCol: String,
                           n: Int = 3, threshold: Double = 0.8): DataFrame =
    jaccardPairsWith(docs, idCol, textCol, n, threshold, engage = None)._1

  /** [[jaccardPairsAdaptive]] with its cap decision exposed: `engage` =
    * None runs the probe, `Some(b)` forces the branch without it (specs
    * pin both through here). Returns the pairs and whether the cap was
    * applied. */
  private[graft] def jaccardPairsWith(docs: DataFrame, idCol: String,
                                      textCol: String, n: Int,
                                      threshold: Double,
                                      engage: Option[Boolean]): (DataFrame, Boolean) = {
    // ONE index build shared by the probe and the chosen branch: building
    // it per-step registered two aliases of the same plan-keyed cache
    // entry in the window (burning 2 of the session's slots, and evicting
    // either alias unpersisted the entry the other relied on). The probe
    // aggregates the compact cache, which doubles as the eager
    // pre-materialization the uncapped self-join needs (NOTES_r5).
    val (index, sizes) = shingleIndex(docs, idCol, textCol, n)
    val engaged = engage.getOrElse(capEngagesOnIndex(index))
    (jaccardPairsFromIndex(index, sizes, threshold,
      maxDf = if (engaged) Some(JaccardMaxDf) else None), engaged)
  }

  /** True when the exact uncapped candidate volume Σdf²/2 exceeds the
    * exact capped volume Σ_{df≤50} df²/2 by [[capPays]]. One Spark job
    * over the compact index. */
  private def capEngagesOnIndex(index: DataFrame): Boolean = {
    // plain aggregation, deliberately NOT persisted: only the engaged
    // (rare) branch could reuse the df frame, and paying a cache write on
    // the common benign path costs more than the engaged branch's one
    // re-aggregation of the already-cached index saves. The probe's side
    // effect of materializing the shingle cache BEFORE the self-join is
    // itself a measured win (the join's two sides otherwise race the
    // cold cache and compute the index twice).
    val stats = index.groupBy("shash").agg(count(lit(1)).as("df"))
      .agg(sum((col("df") * col("df")).cast("double")).as("sum_df2"),
        sum(when(col("df") <= JaccardMaxDf, (col("df") * col("df")).cast("double"))
          .otherwise(0.0)).as("sum_df2_capped"))
      .head()
    // empty corpus: nothing to cap
    !stats.isNullAt(0) && capPays(stats.getDouble(0), stats.getDouble(1))
  }

  /** Number of minhash functions / LSH bands (rows per band = hashes/bands). */
  val NumHashes = 128
  val NumBands = 32
  private val RowsPerBand = NumHashes / NumBands
  private val Prime = 2038074743L // < 2^31, keeps a*h+b within long exactly

  /** Deterministic affine hash coefficients (seeded — reproducible runs). */
  private[graft] val coeffs: IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(42)
    IndexedSeq.fill(NumHashes)((rnd.nextInt(Int.MaxValue - 1).toLong + 1,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** MinHash signatures: one row per doc, `sig` = array of NumHashes
    * minima. One custom [[graft.functions.MinHashSketch]] imperative
    * aggregate (partial+final, elementwise-min merge) instead of 128
    * separate `min()` columns — the wide formulation cost ~2s of
    * whole-stage codegen per JVM before any row moved. */
  private def minhashSignaturesFromIndex(index: DataFrame): DataFrame =
    index.groupBy(col("id")).agg(
      graft.functions.MinHashSketch
        .minhashSketch(col("shash"), coeffs, Prime).as("sig"))

  /** LSH candidate pairs: band the signature array, bucket-join within
    * bands. Returns distinct (doc_i, doc_j) candidates. */
  def lshCandidates(signatures: DataFrame): DataFrame = {
    // persisted (bounded window) AND eagerly materialized: the self-join
    // evaluates its child once per side, and the child embeds the
    // 128-hash MinHashSketch aggregation over the exploded index — the
    // expensive stage of the whole sweep. Without the eager action the
    // join's two sides race the COLD cache under AQE and each computes
    // the aggregation (the BlockManager convoy the capped-jaccard path
    // documents); count() pays one bounded pass to fill the cache first.
    val banded = registerShingleCache(bandedBuckets(signatures))
    banded.count()
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
      .distinct()
  }

  /** (id, band, bucket) rows from minhash signatures — the shared banding
    * of [[lshCandidates]] (self-join) and [[minhashLshCrossPairs]]
    * (bipartite join). */
  private def bandedBuckets(signatures: DataFrame): DataFrame = {
    val bandStructs = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * RowsPerBand + 1, RowsPerBand)).as("bucket"))
    }
    signatures
      .select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash+LSH near-dup pairs, exact-verified: candidates from banded
    * signatures, then true Jaccard computed *only for candidates* and
    * thresholded. Output is exact on any corpus where LSH recall holds
    * (by parameter choice, misses need P < 1e-7 at s ≥ 0.8). */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, threshold: Double = 0.8): DataFrame = {
    // the index feeds signatures and both verify sides; shingleIndex
    // caches the COMPACT pre-explode (id, hash array) frame, so each walk
    // re-explodes cheap cached arrays instead of re-tokenizing text
    // (caching the ~|docs|·avgSh EXPLODED rows measured worse than
    // rescanning — the compact form is what makes the cache pay)
    val (index, sizes) = shingleIndex(docs, idCol, textCol, n)
    val cands = lshCandidates(minhashSignaturesFromIndex(index))
    verifyJaccard(cands, index, index, sizes, sizes, threshold)
  }

  /** The persisted side of incremental dedup: the corpus's shingle
    * index, per-doc sizes, and banded LSH buckets, each a plain
    * DataFrame a production pipeline writes to parquet ONCE (and appends
    * per accepted batch) instead of recomputing per ingestion batch.
    * `n` records the shingle width the index was built with — the batch
    * side MUST shingle identically or every cross-Jaccard is silently
    * ~0, so [[minhashLshCrossPairsIndexed]] takes it from here, not
    * from a caller parameter. Build with [[buildCorpusIndex]]. */
  final case class CorpusIndex(index: DataFrame, sizes: DataFrame,
                               banded: DataFrame, n: Int)

  /** Compute a corpus's reusable dedup index (one corpus scan).
    *
    * The banded frame is cached in its own right (same rationale as
    * [[lshCandidates]]): it embeds the 128-hash MinHashSketch
    * aggregation over the exploded index — the expensive stage — and
    * caching only the base shingle frame would re-run that aggregation
    * on EVERY per-batch probe join. Measured at a 30× corpus (150k
    * docs): the uncached-banded form degraded to inline-rebuild speed
    * (~8.7 s/batch, the minhash recompute dominating), where the disk
    * (bucketed) index ran 3.0 s — the in-memory form exists precisely
    * to beat that. */
  def buildCorpusIndex(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3): CorpusIndex = {
    val (index, sizes) = shingleIndex(docs, idCol, textCol, n)
    val banded = registerShingleCache(bandedBuckets(minhashSignaturesFromIndex(index)))
    CorpusIndex(index, sizes, banded, n)
  }

  /** Incremental (cross-batch) MinHash+LSH dedup — how near-dup removal
    * actually runs on a growing 100 TB corpus: a new ingestion batch is
    * checked against the existing corpus WITHOUT re-pairing the corpus
    * against itself. Candidate generation is a *bipartite* banded join
    * (corpus signatures × batch signatures on (band, bucket)), followed
    * by the same exact-Jaccard verify as [[minhashLshPairs]]. Output is
    * (doc_i = corpus id, doc_j = batch id, jaccard ≥ threshold); id sets
    * are assumed disjoint (they're different batches by contract).
    *
    * This convenience form recomputes the corpus index inline; the
    * production path builds [[CorpusIndex]] once, persists it, and calls
    * [[minhashLshCrossPairsIndexed]] per batch — |batch|-proportional
    * work, never |corpus|². */
  def minhashLshCrossPairs(corpus: DataFrame, batch: DataFrame, idCol: String,
                           textCol: String, n: Int = 3,
                           threshold: Double = 0.8): DataFrame =
    minhashLshCrossPairsIndexed(buildCorpusIndex(corpus, idCol, textCol, n),
      batch, idCol, textCol, threshold)

  /** Persist a [[CorpusIndex]] as BUCKETED parquet tables (SMB layout,
    * [[graft.io.Sinks.bucketed]]): `<prefix>_index` and `<prefix>_sizes`
    * bucket+sort by `id`, `<prefix>_banded` by `(band, bucket)` — each
    * table pre-partitioned by exactly the key its per-batch join probes,
    * plus a one-row `<prefix>_meta` carrying the shingle width.
    *
    * Why disk, not cache: the in-session [[CorpusIndex]] already avoids
    * recompute, but (a) it dies with the session while a production
    * corpus index is probed by MANY ingestion runs, and (b) Spark 4.1
    * AQE never reuses exchanges above cached subtrees
    * ([[jaccardPairsFromIndex]] scaladoc), so every batch re-shuffles
    * the corpus side of each join. A bucketed table sidesteps both: the
    * corpus side is born partitioned on disk — scans carry bucket
    * metadata, so the banded join and both verify joins plan NO corpus-
    * side exchange (only the |batch|-sized side shuffles, which is the
    * whole point of incremental dedup). Choose `buckets` ≈ the corpus's
    * healthy partition count at target scale; A/B at sf0.1 in SCALE.md. */
  def persistCorpusIndex(ci: CorpusIndex, prefix: String,
                         buckets: Int = 32): Unit = {
    val spark = ci.index.sparkSession
    graft.io.Sinks.bucketed(ci.index, s"${prefix}_index", buckets, Seq("id"))
    graft.io.Sinks.bucketed(ci.sizes, s"${prefix}_sizes", buckets, Seq("id"))
    graft.io.Sinks.bucketed(ci.banded, s"${prefix}_banded", buckets,
      Seq("band", "bucket"))
    import spark.implicits._
    Seq(ci.n).toDF("n").write.mode("overwrite")
      .format("parquet").saveAsTable(s"${prefix}_meta")
  }

  /** Reopen a [[persistCorpusIndex]] layout. The returned frames are
    * catalog tables, so joins against them see the bucket spec. */
  def loadCorpusIndex(spark: org.apache.spark.sql.SparkSession,
                      prefix: String): CorpusIndex =
    CorpusIndex(
      spark.table(s"${prefix}_index"),
      spark.table(s"${prefix}_sizes"),
      spark.table(s"${prefix}_banded"),
      spark.table(s"${prefix}_meta").head().getInt(0))

  /** [[minhashLshCrossPairs]] against a prebuilt (typically persisted)
    * [[CorpusIndex]] — the per-batch incremental form. The batch is
    * shingled with the INDEX's `n` (mismatched widths can't happen by
    * construction). */
  def minhashLshCrossPairsIndexed(corpus: CorpusIndex, batch: DataFrame,
                                  idCol: String, textCol: String,
                                  threshold: Double = 0.8): DataFrame = {
    val (batchIdx, batchSizes) = shingleIndex(batch, idCol, textCol, corpus.n)
    val cands = corpus.banded.as("a")
      .join(bandedBuckets(minhashSignaturesFromIndex(batchIdx)).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("doc_i"), col("b.id").as("doc_j"))
      .distinct()
    verifyJaccard(cands, corpus.index, batchIdx, corpus.sizes, batchSizes, threshold)
  }

  /** Sequential-fold dot product — a native codegen'd Catalyst expression
    * ([[graft.functions.DotProduct]]); left-to-right IEEE fold, the same
    * order as DuckDB's `list_reduce`, so results are bit-deterministic. */
  def dot(a: Column, b: Column): Column = graft.functions.VectorOps.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** SimHash near-dup pairs within a hamming-distance budget. Banding by
    * pigeonhole: any pair with hamming ≤ 3 agrees exactly on at least one
    * of the 4 16-bit chunks, so candidates come from a bucket join on
    * (chunk_index, chunk_value) — no cross join — then verify with
    * bit_count(xor). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for hamming <= 3")
    // persisted (bounded window): the banded self-join broadcasts one side,
    // so without the persist the 64-bit token-vote signature is computed
    // over the corpus once per join side
    val sigs = registerShingleCache(docs.select(col(idCol).as("id"),
      graft.functions.SimHash64.simhash64(col(textCol)).as("sig")))
    // NO eager-materialization guard here, on measurement (r15): the
    // cosinePairsLsh/semanticPairs convoy does not manifest on this
    // shape — A/B at the 500k-doc replica, best-of-3: 3.09 s without
    // the count vs 3.17 s with it (the extra job is pure cost). The
    // banded self-join's two sides end up sharing the one simhash64
    // materialization through the BlockManager's per-partition
    // get-or-compute lock; don't re-add the count without a replica A/B.
    val chunks = (0 until 4).map { c =>
      struct(lit(c).as("c"),
        shiftrightunsigned(col("sig"), 16 * c).bitwiseAND(lit(0xffffL)).as("v"))
    }
    val banded = sigs.select(col("id"), col("sig"), explode(array(chunks: _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.c").as("c"), col("ck.v").as("v"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.c") === col("b.c") && col("a.v") === col("b.v") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("doc_i"), col("b.id").as("doc_j"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // distinct is output-identical and strictly shrinks its shuffle:
      // multi-chunk collisions emit up to 4 copies per pair, and pairs
      // past the threshold needn't ride the exchange at all
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Embedding-cosine near-dup pairs (exact, self-join). Norms are
    * computed once per vector BEFORE the pair join (N folds instead of
    * 2·N² — the division `dot/(nrm_a·nrm_b)` is bit-identical to folding
    * per pair). This is the small-side exact mode — the oracle anchor
    * that [[cosinePairsLsh]]/[[cosinePairsLshAuto]] are verified against;
    * its plan is an all-pairs broadcast nested loop, O(n²) by contract.
    *
    * `maxRows` guards against shipping the anchor by accident: the call
    * COUNTS the input (one eager job — the same eager-probe contract as
    * [[jaccardPairsAdaptive]]) and refuses corpora beyond the cap, where
    * n² pair folds stop being a "small side" by any definition. Raise it
    * explicitly if you truly want a bigger exact sweep; use
    * [[cosinePairsLshAuto]] for anything production-sized. */
  def cosinePairs(embeddings: DataFrame, idCol: String, vecCol: String,
                  threshold: Double = 0.95,
                  maxRows: Long = 65536L): DataFrame = {
    val n = embeddings.count()
    require(n <= maxRows,
      s"cosinePairs is the O(n^2) exact anchor: corpus has $n vectors > " +
        s"maxRows=$maxRows; use cosinePairsLshAuto (same exact similarities, " +
        "bucketed candidates) or raise maxRows explicitly")
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    e.as("a").join(e.as("b"), col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_i"), col("b.id").as("vec_j"),
        (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** (tables, planes) for a corpus of `n` vectors at `threshold`, sized so
    * the candidate join stays NEAR-LINEAR as the corpus grows. A fixed
    * configuration is quadratic at scale: candidates per table ≈
    * n²/2^planes, so 30× the corpus in the same 2^8 buckets costs ~900× —
    * measured on the 30× replica (SCALE.md round 4: 1.8 s → 187 s). The
    * scale-correct sizing is
    *
    *   planes  = ⌈log₂(n / targetOccupancy)⌉   (constant bucket occupancy
    *             ⇒ per-table candidates ≈ n·occ/2, linear in n), and
    *   tables  = ⌈ln pMiss / ln(1 − p₁^planes)⌉ with p₁ = 1 − θ/π
    *             (restores the recall the deeper buckets cost),
    *
    * giving total cost O(tables·n·occ) — the classic n^(1+ρ) LSH law with
    * the occupancy knob explicit. Planes are capped at 30 (bucket ids are
    * sign bits packed in an Int) and tables at 512 (beyond that the
    * threshold is too loose for hyperplane LSH to prune — use the exact
    * mode or raise the threshold). */
  def lshConfigFor(n: Long, threshold: Double, targetOccupancy: Long = 8L,
                   pMiss: Double = 1e-4): (Int, Int) = {
    require(threshold > -1.0 && threshold < 1.0, s"cos threshold in (-1,1): $threshold")
    require(n > 0 && targetOccupancy > 0 && pMiss > 0 && pMiss < 1)
    val planes = lshPlanesFor(n, targetOccupancy)
    val p1 = math.pow(1.0 - math.acos(threshold) / math.Pi, planes)
    val tables =
      if (p1 >= 1.0) 1
      else math.max(1, math.min(512,
        math.ceil(math.log(pMiss) / math.log1p(-p1)).toInt))
    (tables, planes)
  }

  /** The planes half of [[lshConfigFor]] alone: ⌈log₂(n/occupancy)⌉,
    * clamped to [2, 30] (bucket ids are sign bits packed in an Int).
    * Constant bucket occupancy ⇒ per-table candidates ≈ n·occ/2, LINEAR
    * in n — the knob both the recall-constant auto mode and the
    * pinned-tables linear mode share. */
  def lshPlanesFor(n: Long, targetOccupancy: Long = 8L): Int = {
    require(n > 0 && targetOccupancy > 0)
    math.max(2, math.min(30,
      math.ceil(math.log(n.toDouble / targetOccupancy) / math.log(2.0)).toInt))
  }

  /** P[a true pair at `threshold` collides in NO table] for a hyperplane
    * LSH configuration: (1 − p₁^planes)^tables with p₁ = 1 − θ/π. The
    * recall a [[cosinePairsLshPinned]] caller is buying at a given
    * corpus size — evaluate it at `lshPlanesFor(n)` BEFORE pinning, and
    * re-evaluate as n (and thus planes) grows to see the decay. */
  def lshMissProbability(threshold: Double, tables: Int, planes: Int): Double = {
    require(threshold > -1.0 && threshold < 1.0, s"cos threshold in (-1,1): $threshold")
    require(tables > 0 && planes > 0)
    val p1 = math.pow(1.0 - math.acos(threshold) / math.Pi, planes)
    math.pow(1.0 - p1, tables)
  }

  /** [[cosinePairsLsh]] with the (tables, planes) sized by [[lshConfigFor]]
    * from the corpus's actual row count — the form that stays near-linear
    * as the corpus grows. The sizing pass is ONE count() (a metadata-cheap
    * aggregate, not a collect of rows). */
  def cosinePairsLshAuto(embeddings: DataFrame, idCol: String, vecCol: String,
                         threshold: Double = 0.95, targetOccupancy: Long = 8L,
                         pMiss: Double = 1e-4, dims: Int = 64): DataFrame = {
    val n = embeddings.count()
    val (tables, planes) = lshConfigFor(n, threshold, targetOccupancy, pMiss)
    // vectors-fit-broadcast heuristic: id + norm + dims floats per row,
    // capped at 128 MB (a comfortable executor broadcast; beyond it the
    // shuffled verify join is the right plan)
    val bcast = n * (dims * 4L + 24L) <= (128L << 20)
    cosinePairsLsh(embeddings, idCol, vecCol, threshold, tables, planes, dims,
      broadcastVerify = bcast)
  }

  /** The LINEAR-at-decaying-recall scaling mode (VERDICT r14 item 4 —
    * first-class API, not a SCALE.md footnote): planes stay
    * occupancy-sized from the corpus count ([[lshPlanesFor]] — constant
    * bucket occupancy keeps per-table candidates linear in n) but TABLES
    * are pinned by the caller, so total cost is O(tables·n·occ) — truly
    * linear in corpus size — while P[miss] RISES as the growing planes
    * depth prunes harder without compensating tables
    * ([[lshMissProbability]] quantifies the decay; at threshold 0.9,
    * 32 pinned tables read P[miss] ≈ 4e-3 at n = 20k (12 planes) and
    * ≈ 0.13 at n = 2M (18 planes)). This is the budget-capped 100 TB
    * choice: a recall-constant sweep ([[cosinePairsLshAuto]]) grows
    * tables ≈ n^0.2 and its wall super-linearly by design, which a
    * production owner may refuse — the two modes are the two ends of
    * the n^(1+ρ) trade and both deserve a name.
    *
    * Do NOT confuse with pinning (tables, planes) BOTH — at fixed planes
    * the candidate join is QUADRATIC in n (the measured 102×-for-30×
    * cliff, SCALE.md round 4). Pinned-tables + auto-planes is the only
    * pinning that scales. */
  def cosinePairsLshPinned(embeddings: DataFrame, idCol: String, vecCol: String,
                           threshold: Double = 0.95, tables: Int = 32,
                           targetOccupancy: Long = 8L,
                           dims: Int = 64): DataFrame = {
    require(tables > 0 && tables <= 512, s"tables in [1, 512]: $tables")
    val n = embeddings.count()
    val planes = lshPlanesFor(n, targetOccupancy)
    // same vectors-fit-broadcast heuristic as the auto mode
    val bcast = n * (dims * 4L + 24L) <= (128L << 20)
    cosinePairsLsh(embeddings, idCol, vecCol, threshold, tables, planes, dims,
      broadcastVerify = bcast)
  }

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH candidate
    * generation + exact verify — the scale path that replaces
    * [[cosinePairs]]'s all-pairs join: candidates come from an equi-join
    * on (table, bucket) (shuffle-partitioned, never a nested loop), and
    * every candidate's TRUE cosine is computed and thresholded, so
    * reported similarities are always exact and false positives cost only
    * one verify fold.
    *
    * Recall: a pair at angle θ collides on one b-plane table with
    * p₁ = (1 − θ/π)ᵇ, so P[miss] = (1 − p₁)^tables. Tune (tables, planes)
    * to the threshold: production near-dup sweeps (cos ≥ 0.9, θ ≤ 26°)
    * take planes 6-8 with tables 16-32 (deep buckets, strong pruning);
    * looser thresholds need shallower tables — at cos 0.4, 32 tables × 2
    * planes gives P[miss] ≈ 9e-8 (the oracle-shared configuration; at such
    * low thresholds the candidate set approaches all-pairs, which is
    * intrinsic to the operating point, not the algorithm — the join is
    * still hash-partitioned, not a broadcast nested loop).
    *
    * (tables, planes) BOTH pinned is quadratic at scale (see
    * [[cosinePairsLshPinned]]), so callers outside this package size
    * them through [[cosinePairsLshAuto]] or [[cosinePairsLshPinned]]. */
  private[graft] def cosinePairsLsh(embeddings: DataFrame, idCol: String,
                                    vecCol: String, threshold: Double = 0.95,
                                    tables: Int = 16, planes: Int = 8,
                                    dims: Int = 64,
                                    broadcastVerify: Boolean = false): DataFrame = {
    val e = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    // persisted (bounded window) and eagerly materialized: the bucket
    // self-join evaluates its child once per side (no ReusedExchange
    // across a broadcast build), the hyperplane projection is
    // tables·planes·dims work per vector, and without the eager action
    // the join's two sides race the cold cache and each re-projects
    // (same convoy as lshCandidates)
    val banded = registerShingleCache(Similarity
      .lshBuckets(e.select("id", "v"), "v", tables, planes, dims)
      .select("id", "table", "bucket"))
    banded.count()
    val cands = banded.as("a")
      .join(banded.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("vec_i"), col("b.id").as("vec_j"))
      .distinct()
    // The candidate frame is the BIG side (≈ tables·n·occ/2 pairs); the
    // vector frame is n rows. When the caller knows the vectors fit a
    // broadcast (the auto path checks bytes), hinting them broadcast
    // turns both verify joins into map-side hash joins — the candidate
    // pairs are never shuffled. At corpus sizes beyond broadcast, the
    // default shuffled hash join on the 8-byte id is the right plan.
    def side(cn: String) = {
      val f = e.select(col("id").as(cn), col("v").as(s"v_$cn"),
        col("nrm").as(s"nrm_$cn"))
      if (broadcastVerify) broadcast(f) else f
    }
    cands
      .join(side("vec_i"), "vec_i")
      .join(side("vec_j"), "vec_j")
      .select(col("vec_i"), col("vec_j"),
        (dot(col("v_vec_i"), col("v_vec_j")) /
          (col("nrm_vec_i") * col("nrm_vec_j"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** [[cosineCrossPairsIndexed]] over an inline index with (tables,
    * planes) sized by [[lshConfigFor]] from the CORPUS row count (the big
    * side — batch occupancy follows it): the bipartite candidate join stays
    * |batch|-proportional as the corpus grows instead of quadratic in
    * occupancy. Production pipelines that persist an [[EmbeddingIndex]]
    * size it once at build time the same way. */
  def cosineCrossPairsLshAuto(corpus: DataFrame, batch: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double = 0.95,
                              targetOccupancy: Long = 8L,
                              pMiss: Double = 1e-4,
                              dims: Int = 64): DataFrame = {
    val (tables, planes) = lshConfigFor(corpus.count(), threshold,
      targetOccupancy, pMiss)
    // same fits-broadcast heuristic as cosinePairsLshAuto, on the batch
    // (its bucket frame is tables x bigger than the vector frame — the
    // cap keeps BOTH comfortably under executor broadcast budgets)
    val bcast = batch.count() * (dims * 4L + 24L) * (tables + 1L) <= (128L << 20)
    cosineCrossPairsIndexed(
      buildEmbeddingIndex(corpus, idCol, vecCol, tables, planes, dims),
      batch, idCol, vecCol, threshold, broadcastBatch = bcast)
  }

  /** The persisted side of incremental EMBEDDING dedup — the analog of
    * [[CorpusIndex]] for the cosine family: the corpus's (id, table,
    * bucket) LSH assignments plus its normed vectors, each a plain
    * DataFrame a production pipeline writes to parquet ONCE (and appends
    * per accepted batch) instead of re-bucketing the corpus per batch.
    * The recall configuration (tables, planes, dims) is RECORDED here —
    * the batch side must bucket against identical hyperplanes or the
    * (table, bucket) join silently finds nothing, so
    * [[cosineCrossPairsIndexed]] takes it from the index, never from a
    * caller parameter. Build with [[buildEmbeddingIndex]]. */
  final case class EmbeddingIndex(buckets: DataFrame, vectors: DataFrame,
                                  tables: Int, planes: Int, dims: Int)

  /** Compute a corpus's reusable embedding-dedup index (one corpus
    * scan: norms + all hyperplane buckets). */
  def buildEmbeddingIndex(embeddings: DataFrame, idCol: String, vecCol: String,
                          tables: Int = 16, planes: Int = 8,
                          dims: Int = 64): EmbeddingIndex = {
    val v = embeddings.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    val buckets = Similarity.lshBuckets(v.select("id", "v"), "v", tables, planes, dims)
      .select("id", "table", "bucket")
    EmbeddingIndex(buckets, v, tables, planes, dims)
  }

  /** Incremental embedding dedup — cosine near-dup pairs between an
    * existing corpus and a NEW batch, the embedding-side analog of
    * [[minhashLshCrossPairs]]: a *bipartite* (table, bucket) join
    * (corpus buckets × batch buckets — the corpus is never self-paired),
    * then the exact verify fold. Per-batch cost is |batch|-proportional
    * against the corpus bucket index; at 100 TB the corpus side's
    * buckets are computed once and persisted, exactly like
    * [[CorpusIndex]] for shingles. Output is (vec_i = corpus id,
    * vec_j = batch id, cos ≥ threshold); id sets are assumed disjoint
    * (different batches by contract). Same (tables, planes) recall
    * tuning as [[cosinePairsLsh]].
    *
    * This is the per-batch form against a prebuilt (typically persisted)
    * [[EmbeddingIndex]]. The batch is bucketed with the INDEX's (tables,
    * planes, dims), so hyperplane mismatch can't happen by construction.
    * The linear-at-decaying-recall budget of [[cosinePairsLshPinned]]
    * carries over by building the index with
    * `(tables, lshPlanesFor(nCorpus))`. */
  def cosineCrossPairsIndexed(corpus: EmbeddingIndex, batch: DataFrame,
                              idCol: String, vecCol: String,
                              threshold: Double = 0.95,
                              broadcastBatch: Boolean = false): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(vecCol).as("v"),
      l2norm(col(vecCol)).as("nrm"))
    val bBuckets0 = Similarity
      .lshBuckets(b.select("id", "v"), "v", corpus.tables, corpus.planes, corpus.dims)
      .select("id", "table", "bucket")
    // batch side is the small one by contract; when the caller confirms it
    // fits a broadcast, both the bucket probe and its verify join become
    // map-side — the corpus index is never shuffled for the probe
    val bBuckets = if (broadcastBatch) broadcast(bBuckets0) else bBuckets0
    val cands = corpus.buckets.as("a")
      .join(bBuckets.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket"))
      .select(col("a.id").as("vec_i"), col("b.id").as("vec_j"))
      .distinct()
    val bVerify0 = b.select(col("id").as("vec_j"), col("v").as("v_j"),
      col("nrm").as("nrm_j"))
    val bVerify = if (broadcastBatch) broadcast(bVerify0) else bVerify0
    cands
      .join(corpus.vectors
        .select(col("id").as("vec_i"), col("v").as("v_i"), col("nrm").as("nrm_i")), "vec_i")
      .join(bVerify, "vec_j")
      .select(col("vec_i"), col("vec_j"),
        (dot(col("v_i"), col("v_j")) / (col("nrm_i") * col("nrm_j"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Cross-source duplicate containment matrix — the corpus-governance
    * report behind "how much of source A is already in source B": folds a
    * near-dup pair frame (any of this family's `*Pairs` outputs, columns
    * `doc_i < doc_j`) against the doc→source map and counts, per
    * unordered source pair, the duplicate pairs crossing them plus the
    * distinct documents involved on each side. The diagonal (src_a =
    * src_b) reports within-source redundancy with the same columns.
    *
    * `src_a <= src_b` lexicographically; `n_docs_a`/`n_docs_b` count
    * distinct docs on the `src_a`/`src_b` side of the pairs. Rows with a
    * NULL source on either end are dropped (a NULL source has no
    * containment direction).
    *
    * Scale posture: the pair frame is the small side by construction
    * (near-dup pairs ≪ corpus); two shuffle joins on the 8-byte doc ids
    * attach sources, then one keyed aggregation whose output is bounded
    * by (#sources)² rows — no shuffle ever carries document text. */
  def sourceOverlapMatrix(pairs: DataFrame, docs: DataFrame,
                          idCol: String, srcCol: String): DataFrame = {
    val s = docs.select(col(idCol).as("__d"), col(srcCol).as("__s"))
    val withSrc = pairs.select("doc_i", "doc_j")
      .join(s.withColumnRenamed("__d", "doc_i").withColumnRenamed("__s", "src_i"),
        Seq("doc_i"))
      .join(s.withColumnRenamed("__d", "doc_j").withColumnRenamed("__s", "src_j"),
        Seq("doc_j"))
      .where(col("src_i").isNotNull && col("src_j").isNotNull)
    val aFirst = col("src_i") <= col("src_j")
    val sym = withSrc.select(
      least(col("src_i"), col("src_j")).as("src_a"),
      greatest(col("src_i"), col("src_j")).as("src_b"),
      when(aFirst, col("doc_i")).otherwise(col("doc_j")).as("__da"),
      when(aFirst, col("doc_j")).otherwise(col("doc_i")).as("__db"))
    sym.groupBy("src_a", "src_b").agg(
      count(lit(1)).as("n_pairs"),
      countDistinct(col("__da")).as("n_docs_a"),
      countDistinct(col("__db")).as("n_docs_b"))
  }

  /** Duplication-aware loss weights — the DOWNWEIGHT alternative to
    * dropping near-dups (the data-constrained regime keeps every copy
    * but scales each document's training contribution by the inverse of
    * its duplication count, so a 5-way near-dup cluster contributes one
    * document's worth of gradient in total). Published practice for
    * corpora too small to discard from; the survivor-keep policy
    * ([[exactSurvivors]], the canonical-member queries) remains the
    * web-scale default.
    *
    * Every document gets its near-dup cluster assignment
    * ([[nearDupClusters]] — singletons are their own cluster), the
    * cluster sizes come from one key-cardinality aggregation, and the
    * weight ships as exact basis points `weight_bp = 10⁴ div size`
    * (BIGINT — a trainer divides by 10⁴; no doubles cross the edge).
    *
    * Scale posture: inherits the clustering's machinery (pair-graph
    * bounded rounds / driver union-find gate). Sizes come from a window
    * keyed BY CLUSTER over the assignment frame — deliberately, against
    * this file's usual groupBy+join preference: the assignment's lineage
    * holds the whole pair sweep, and a second consumer would evaluate it
    * twice (its internal persists are released on completion); the keyed
    * window resolves sizes in the SAME pass, one exchange on cluster_id,
    * per-partition state bounded by the largest dup cluster. */
  def duplicationWeights(docs: DataFrame, pairs: DataFrame,
                         idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    nearDupClusters(docs, pairs, idCol)
      .withColumn("cluster_size", count(lit(1)).over(w))
      .select(col(idCol), col("cluster_id"), col("cluster_size"),
        expr("10000L div cluster_size").as("weight_bp"))
  }
}
