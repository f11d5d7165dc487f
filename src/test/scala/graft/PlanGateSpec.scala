package graft

/** Automated plan-regression gate: runs `PlanGate.violations` over the
  * static physical plan of EVERY `SparkEntry.queries` entry against the
  * sf0.01 fixtures (the correctness-gate scale, so join-strategy
  * size thresholds match what the driver runs).
  *
  * This replaces the manual per-round plan audit: a change that
  * reintroduces a single-partition funnel (e.g. an unpartitioned window),
  * degenerates a join to a cartesian/nested-loop, or stops a filter from
  * reaching a parquet scan fails HERE, named per query, instead of
  * surviving until a human reads 110 plans.
  *
  * The allowlist is exact (violation multiset per query) so an
  * allowlisted query acquiring a SECOND violation still fails.
  */
class PlanGateSpec extends SparkSpec {
  private val gateSf = "/root/testdata/sf0.01"

  /** Deliberate, documented exceptions — each is a broadcast nested loop
    * whose broadcast side is a small frame by CONTRACT (not provable from
    * the plan): ANN query sets, IVF/SemDeDup centroid lists (k rows by
    * construction — the argmax assignment fans every vector out against
    * the broadcast centroids, counted once per scan of the cached
    * assignment: twice for the pair self-join, thrice for survivors'
    * extra anti-join probe), and the exact cosine all-pairs oracle
    * anchor (guarded by a row-count cap at construction;
    * `cosinePairsLshAuto` is the scale path). */
  private val allow: Map[String, Seq[String]] = Map(
    "q_dedup_cosine"       -> Seq("broadcast-nested-loop"),
    "q_sim_bruteforce_topk" -> Seq("broadcast-nested-loop"),
    // hybrid RRF's vector arm is the same bounded-query brute-force
    // crossJoin (counted query frame, maxQueries guard); the lexical arm
    // is all equi-joins and the fusion is a keyed full-outer (r15)
    "q_hybrid_rrf"         -> Seq("broadcast-nested-loop"),
    // indexed variant keeps the same bounded-query brute-force vector arm;
    // the postings probe it adds is a broadcast EQUI-join (r17)
    "q_hybrid_rrf_indexed" -> Seq("broadcast-nested-loop"),
    // full-steady-state hybrid (r18): the vector arm probes the PERSISTED
    // IVF-PQ index, so the ONE remaining BNLJ is the documented
    // query-centroid probe fan-out (|Q| x nCentroids rows, both sides
    // bounded — same as its q_sim_ivfpq_* siblings); cell assignment
    // happened at index-build time, its fan-out is not in this plan, and
    // the lexical arm + fusion are all equi-joins
    "q_hybrid_rrf_ann"     -> Seq("broadcast-nested-loop"),
    // PQ recall eval embeds the brute-force exact side, like
    // q_eval_ann_recall; the PQ chain itself is all broadcast equi-joins
    "q_eval_pq_recall"     -> Seq("broadcast-nested-loop"),
    // recall eval embeds the brute-force exact side (its ANN-query-set
    // broadcast crossJoin) — the LSH side is all equi-joins
    "q_eval_ann_recall"    -> Seq("broadcast-nested-loop"),
    "q_sim_ivf_topk"       -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    // IVF-PQ: the same two centroid-broadcast fan-outs as q_sim_ivf_topk
    // (cell assignment + query probe); codes/LUT are broadcast equi-joins
    "q_sim_ivfpq_topk"     -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    // indexed/refined IVF-PQ variants build the index in-query, so the
    // same two centroid fan-outs appear; the refine stage itself is a
    // broadcast-shortlist EQUI-join (no new BNLJ)
    "q_sim_ivfpq_indexed"  -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    // cell stats build the index in-query, so the documented centroid
    // fan-out appears TWICE: once under the occupancy rollup and once
    // under the 1-row total, which derives from the same assignment
    // lineage (two consumers, nothing persisted — a parquet-reloaded
    // index pays two narrow scans instead; see ivfPqCellStats scaladoc).
    // The total's own crossJoin is a compact global-agg broadcast (r17)
    "q_sim_ivfpq_cellstats" -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    "q_sim_ivfpq_refined"  -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    "q_sim_ivfpq_indexed_refined" -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    // refined-PQ recall eval embeds the brute-force exact side, same as
    // q_eval_pq_recall; the refined chain adds only equi-joins
    "q_eval_pq_refined_recall" -> Seq("broadcast-nested-loop"),
    "q_dedup_semantic"     -> Seq("broadcast-nested-loop", "broadcast-nested-loop"),
    "q_dedup_semantic_survivors" -> Seq("broadcast-nested-loop",
      "broadcast-nested-loop", "broadcast-nested-loop"),
    // NB classifier family: the doc-level crossJoin(broadcast(classes))
    // fan-out — |classes| rows by contract (label cardinality: languages
    // or quality tiers), joined at DOC granularity only; the token-level
    // work is an equi-join (see Classifier scaladoc decomposition)
    // (q_nb_cv left this list in r11: its constant grid is assembled on
    // the driver and broadcast-hash-joined on the fold key — no BNLJ)
    "q_nb_predict"         -> Seq("broadcast-nested-loop"),
    "q_nb_confusion"       -> Seq("broadcast-nested-loop"),
    "q_nb_margin"          -> Seq("broadcast-nested-loop"),
    // ONE margins subtree (its classes-broadcast BNLJ): the r10 eager
    // tiering replaced the in-plan boundary machinery — which replicated
    // the margins lineage once per boundary/row subplan (5 BNLJs) —
    // with literal band comparisons over the persisted margins frame
    "q_nb_calibration"     -> Seq("broadcast-nested-loop")
  )

  for (name <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"plan gate: $name") {
      val df = SparkEntry.queries(name)(spark, gateSf)
      val vs = PlanGate.violations(df).sorted
      assert(vs == allow.getOrElse(name, Nil).sorted,
        s"plan violations for $name: ${vs.mkString(", ")} " +
          s"(allowed: ${allow.getOrElse(name, Nil).mkString(", ")})\n" +
          PlanGate.staticPlan(df).toString.linesIterator.take(60).mkString("\n"))
    }
  }

  test("plan gate: frames REGISTERED in module cache windows are gate-clean") {
    // The per-query gate recurses into InMemoryRelations it can reach from
    // the query's own plan — but a module can also persist intermediate
    // frames whose build plan is only reachable through its cache-window
    // handle (e.g. an index registered, consumed, and later evicted). Run
    // one representative pipeline per module, then gate EVERY frame that
    // ANY registered window currently holds for this session.
    import org.apache.spark.sql.functions._
    graft.ops.CacheWindows.releaseAll()
    val docs = spark.read.parquet(s"$gateSf/documents.parquet")
    graft.ops.Dedup.jaccardPairsAdaptive(docs, "doc_id", "text", 3, 0.8).count()
    val corpus = docs.select(col("doc_id"),
      substring(col("text"), 1, 40).as("name"))
    val dirty = docs.filter(col("doc_id") < 50).select(col("doc_id"),
      concat(substring(col("text"), 1, 6),
        substring(col("text"), 8, 33)).as("name"))
    graft.ops.Linkage.qgramBestMatch(dirty, corpus, "doc_id", "name").count()
    graft.ops.Ranks.globalPercentRank(docs, "n_chars").count()
    // the query layer's window, through the supplier mart's diamond
    graft.pipelines.SupplierPerformance(spark, gateSf).count()
    // populate the retrieval postings + selection feature windows
    // (ADVICE r15: these persisted frames were only gated when reachable
    // from a query's own plan)
    graft.ops.Retrieval.lexicalTopK(docs,
      docs.filter(col("doc_id") < 20), "doc_id", "text", k = 3).count()
    graft.ops.Selection.dsirWeights(docs, "doc_id", "text",
      col("doc_id") % 2 === 0, buckets = 64).count()
    var checked = 0
    for ((w, wi) <- graft.ops.CacheWindows.all.zipWithIndex;
         (df, i) <- w.registered(spark).zipWithIndex) {
      val vs = PlanGate.violations(df)
      assert(vs.isEmpty,
        s"window $wi frame $i violations: ${vs.mkString(", ")}\n" +
          PlanGate.staticPlan(df).toString.linesIterator.take(40).mkString("\n"))
      checked += 1
    }
    assert(checked >= 6, s"expected every module window populated, gated $checked")
    graft.ops.CacheWindows.release(spark)
  }
}
