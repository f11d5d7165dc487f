package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two paths:
  *
  *   - [[bruteForceTopK]] — exact cosine top-k per query via a
  *     broadcast-query join. The baseline: correct at any recall, cost is
  *     |queries| × |corpus| dot products. Fine when the query set is small
  *     (broadcast) even if the corpus is 100 TB — the corpus is scanned
  *     once, partition-parallel, with a per-partition top-k
  *     (window row_number ≤ k after a repartition-free aggregation).
  *
  *   - [[lshTopK]] — random-hyperplane LSH: deterministic signed
  *     projections bucket the corpus; candidates share a bucket in ≥ 1
  *     table; exact cosine reranks candidates. The scale path — corpus
  *     touched per-bucket rather than per-query-pair.
  *
  * Dot products fold sequentially (zip_with + aggregate), so scores are
  * bit-deterministic ([[Dedup.dot]]).
  */
object Similarity {

  /** All signs of one plane — exposed so the differential oracle can emit
    * the SAME deterministic hyperplanes as literal SQL weight arrays
    * (the LSH path is then fully SQL-checkable, not rows-only). The sign
    * function itself lives with the bucketing expression
    * ([[graft.functions.HyperplaneBuckets.planeSign]]) — one source of
    * truth for engine and oracle. */
  private[graft] def planeSigns(table: Int, plane: Int, dims: Int): IndexedSeq[Int] =
    (0 until dims).map(d => graft.functions.HyperplaneBuckets.planeSign(table, plane, d))

  /** LSH bucket id per (table, vector): the sign bits of `planes`
    * projections packed into an int. One
    * [[graft.functions.HyperplaneBuckets]] node + posexplode — the
    * compositional form (tables×planes literal-weight dot folds) cost
    * ~1.4 s of whole-stage codegen per JVM at the 16×8 production config
    * and its plan grew with the recall configuration. */
  def lshBuckets(df: DataFrame, vecCol: String, tables: Int = 8,
                 planes: Int = 8, dims: Int = 64): DataFrame =
    df.select(col("*"),
        posexplode(graft.functions.HyperplaneBuckets
          .hyperplaneBuckets(col(vecCol), tables, planes, dims))
          .as(Seq("table", "bucket")))

  /** Exact cosine top-k neighbors for each query vector (self excluded).
    * Queries are expected to be a small frame → broadcast.
    *
    * CONTRACT (eval/oracle path, not a production sweep): the plan is
    * `corpus.crossJoin(broadcast(queries))` — |corpus| × |queries| dot
    * products BY DEFINITION. That is the right baseline exactly because
    * the broadcast side is a bounded query set; it is the wrong tool the
    * moment |queries| stops being bounded. The call therefore COUNTS the
    * query frame (one eager job — the [[Dedup.cosinePairs]] probe
    * contract) and refuses more than `maxQueries` (default 10⁴: at 10⁴
    * queries × a 10⁹-vector corpus the sweep is already 10¹³ folds).
    * Raise it explicitly if you accept the arithmetic; use [[lshTopK]] /
    * [[ivfTopK]] for anything query-heavy — recall measured against THIS
    * baseline in SimilaritySpec. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                     vecCol: String, k: Int = 5,
                     maxQueries: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"bruteForceTopK is the O(|corpus|x|queries|) exact baseline: " +
        s"$nQ query vectors > maxQueries=$maxQueries; use lshTopK/ivfTopK " +
        "for query-heavy sweeps or raise maxQueries explicitly")
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      Dedup.l2norm(col(vecCol)).as("nn_nrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Dedup.l2norm(col(vecCol)).as("q_nrm"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        (Dedup.dot(col("q_vec"), col("nn_vec")) / (col("q_nrm") * col("nn_nrm")))
          .as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id").asc)
    scored.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "cos", "rk")
  }

  /** LSH-bucketed ANN top-k: candidates = corpus rows sharing any
    * (table, bucket) with the query, exact-cosine reranked. Recall is
    * probabilistic — measured against [[bruteForceTopK]] in the spec.
    *
    * The exact cosine is computed per bucket collision, BEFORE the
    * candidate-dedup exchange: a pair colliding in several tables scores
    * bit-identically each time (the dot folds sequentially), so
    * `max(cos)` over `(query_id, nn_id)` is deterministic and the dedup
    * shuffle carries two ids and a double (~24 B/row) instead of the
    * 512+ B embedding payloads a `distinct()` over vectors would hash,
    * compare, and move. At a 100 TB corpus that exchange is the dominant
    * shuffle of the ANN path — its width is the whole game. The map-side
    * partial of the aggregate also collapses same-partition duplicates
    * before anything hits the wire. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, tables: Int = 8, planes: Int = 8,
              dims: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb = lshBuckets(corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      Dedup.l2norm(col(vecCol)).as("nn_nrm")), "nn_vec", tables, planes, dims)
    val qb = lshBuckets(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Dedup.l2norm(col(vecCol)).as("q_nrm")), "q_vec", tables, planes, dims)
    val scored = cb.join(qb, Seq("table", "bucket"))
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        (Dedup.dot(col("q_vec"), col("nn_vec")) /
          (col("q_nrm") * col("nn_nrm"))).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id").asc)
    scored.groupBy("query_id", "nn_id").agg(max(col("cos")).as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "cos", "rk")
  }

  /** Nearest cell per corpus vector — one broadcast pass. The
    * `max(struct(cos, cid))` aggregate has a map-side partial, so the
    * crossJoin's |corpus|·k intermediate rows combine back to |corpus|
    * rows inside their input partitions before anything shuffles.
    * Shared with [[SemanticDedup]] (same assignment, different tail).
    *
    * NEGATIVE PROBE (r15, measured — keep this shape): the struct
    * aggregation buffer forces SortAggregate, and a rewrite through the
    * hash-aggregable [[graft.functions.ArgMaxLong]] over
    * `(sortableDoubleBits(cos), cid)` (+ a vector join-back by id) was
    * built expecting to delete a 312M-row map-side sort at the
    * 200k-vector replica. It LOST: isolated best-of-3 at 100×,
    * 32.5 s (this form) vs 41–45 s (ArgMaxLong form). The crossJoin
    * emits each vector's k cells CONSECUTIVELY, so SortAggregate's sort
    * runs on already-sorted runs (~linear) and the wall is the 312M
    * exact dot FOLDS — which no aggregate shape changes — while the
    * rewrite added hash probes per cross row plus the join-back
    * exchange. ArgMaxLong survives in functions/ for genuinely
    * SHUFFLE-FED argmax shapes, where pre-agg rows arrive unsorted and
    * SortAggregate would pay a real sort. */
  private[graft] def assignCells(c: DataFrame, cents: DataFrame): DataFrame = {
    val cellCos = Dedup.dot(col("nn_vec"), col("c_vec")) /
      (col("nn_nrm") * col("c_nrm"))
    c.crossJoin(broadcast(cents))
      .groupBy(col("nn_id"))
      .agg(
        max(struct(cellCos.as("cos"), col("cid").as("cid"))).as("best"),
        first(col("nn_vec")).as("nn_vec"),
        first(col("nn_nrm")).as("nn_nrm"))
      .select(col("best.cid").as("cid"), col("nn_id"), col("nn_vec"), col("nn_nrm"))
  }

  /** One k-means step: element-wise mean of each cell's members. Means
    * are computed in DECIMAL (exact, aggregation-order-independent) then
    * cast to double, so refinement is bit-deterministic across runs and
    * cluster layouts. Empty cells drop out naturally. */
  private[graft] def refineCentroids(assigned: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    assigned
      .select(col("cid"), posexplode(col("nn_vec")).as(Seq("pos", "v")))
      .groupBy("cid", "pos")
      .agg((sum(col("v").cast(DecimalType(24, 10))) / count(lit(1)))
        .cast("double").as("m"))
      .groupBy("cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cid"), transform(col("pm"), x => x.getField("m")).as("c_vec"))
      .withColumn("c_nrm", Dedup.l2norm(col("c_vec")))
  }

  /** IVF (inverted-file) ANN top-k: the corpus is partitioned into the
    * Voronoi cells of `nCentroids` centroids; each query probes its
    * `nProbe` nearest cells and exact-cosine reranks the members.
    *
    * Centroids seed from the first `nCentroids` corpus vectors by id and
    * are optionally refined with `iters` k-means passes (one
    * `groupBy(cell)` element-wise decimal mean per pass — deterministic,
    * see [[refineCentroids]]). The dataflow is the 100 TB path: one
    * broadcast pass to assign, shuffles keyed by cell id, candidates
    * bounded by probed cells instead of the corpus.
    *
    * Tie-handling is deterministic: cells are picked via max(struct(cos,
    * cid)) — a total order. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int = 5, nCentroids: Int = 16,
              nProbe: Int = 4, iters: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val c = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      Dedup.l2norm(col(vecCol)).as("nn_nrm"))
    var cents = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("c_vec"),
        Dedup.l2norm(col(vecCol)).as("c_nrm"))
    for (_ <- 0 until iters)
      cents = refineCentroids(assignCells(c, cents))

    def cosTo(vec: Column, nrm: Column) =
      Dedup.dot(vec, col("c_vec")) / (nrm * col("c_nrm"))

    val assigned = assignCells(c, cents)

    // nProbe nearest cells per query
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Dedup.l2norm(col(vecCol)).as("q_nrm"))
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("p_cos").desc, col("cid").asc)
    val probed = q.crossJoin(broadcast(cents))
      .select(col("query_id"), col("q_vec"), col("q_nrm"), col("cid"),
        cosTo(col("q_vec"), col("q_nrm")).as("p_cos"))
      .withColumn("p_rk", row_number().over(probeW)).filter(col("p_rk") <= nProbe)
      .select("query_id", "q_vec", "q_nrm", "cid")

    // candidates = probed cells' members, exact-reranked
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id").asc)
    probed.join(assigned, "cid")
      .filter(col("nn_id") =!= col("query_id"))
      .select(col("query_id"), col("nn_id"),
        (Dedup.dot(col("q_vec"), col("nn_vec")) / (col("q_nrm") * col("nn_nrm")))
          .as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "cos", "rk")
  }

  /** (id, j, sv): the m `dims/m`-wide subvectors of each vector. */
  private def subvectors(df: DataFrame, idName: String, vecCol: String,
                         m: Int, sub: Int): DataFrame =
    df.select(col(idName), col(vecCol),
        explode(sequence(lit(0), lit(m - 1))).as("j"))
      .select(col(idName), col("j"),
        slice(col(vecCol), col("j") * sub + 1, lit(sub)).as("sv"))

  /** Per-subspace codebooks seeded from the first `codebookSize` corpus
    * vectors by id (the [[ivfTopK]] `iters=0` deterministic-seed
    * convention): (j, cid, cv). */
  private[graft] def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                                 m: Int, codebookSize: Int, sub: Int): DataFrame =
    subvectors(corpus.filter(col(idCol) < codebookSize)
        .select(col(idCol).cast("long").as("cid"), col(vecCol)),
      "cid", vecCol, m, sub)
      .select(col("j"), col("cid"), col("sv").as("cv"))

  /** PQ codes: each corpus vector's nearest codeword per subspace by
    * squared L2, ties to the lower cid — `min(struct(d, cid))` is the
    * total order. Output (nn_id, j, cid): the m-small-ints-per-vector
    * compressed representation that makes PQ the 100 TB scan format. */
  private[graft] def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
                              m: Int, codebookSize: Int, sub: Int): DataFrame =
    encodeWithCodebooks(pqCodebooks(corpus, idCol, vecCol, m, codebookSize, sub),
      corpus, idCol, vecCol, m, sub)

  /** Nearest-codeword assignment of `frame`'s vectors against FIXED
    * codebooks — the shared core of [[pqEncode]] (train + encode) and
    * [[pqEncodeBatch]] (encode-only append path). */
  private def encodeWithCodebooks(cb: DataFrame, frame: DataFrame,
                                  idCol: String, vecCol: String,
                                  m: Int, sub: Int): DataFrame =
    subvectors(frame.select(col(idCol).as("nn_id"), col(vecCol)),
        "nn_id", vecCol, m, sub)
      .join(broadcast(cb), "j")
      .groupBy(col("nn_id"), col("j"))
      .agg(min(struct(graft.functions.VectorOps.l2sq(col("sv"), col("cv")).as("d"),
        col("cid").as("cid"))).as("best"))
      .select(col("nn_id"), col("j"), col("best.cid").as("cid"))

  /** Encode a NEW batch with an existing index's codebooks — NO
    * re-training, no pass over the original corpus: the append path of
    * the encode-once contract (ingest loop: gate the batch against the
    * index, encode the survivors, append their codes). Returns rows in
    * the index's `codes` schema; compose with [[appendToPqIndex]] for
    * the in-session form or `write.mode("append")` against the
    * persisted code table. Batch ids must be fresh — codes are keyed by
    * nn_id and a duplicate id would double-count in the ADC pivot. */
  def pqEncodeBatch(index: PqIndex, batch: DataFrame,
                    idCol: String, vecCol: String): DataFrame = {
    require(index.m > 0 && index.dims % index.m == 0,
      s"PqIndex metadata invalid: dims=${index.dims} must split into " +
        s"m=${index.m} subspaces")
    encodeWithCodebooks(index.codebooks, batch, idCol, vecCol,
      index.m, index.dims / index.m)
  }

  /** Fail-fast fresh-id guard for the append path (ADVICE r16): a
    * re-appended (or within-batch duplicate) nn_id yields two code rows
    * per (nn_id, j), and the ADC pivot's `max(when(...))` then silently
    * returns a WRONG distance for that id — which also masks real
    * duplicates in the dedupAgainst*Index gates. The check is one
    * batch-sized distinct-count plus one broadcast semi-join probe of
    * the code table with an early-exit take(1) — O(scan of codes) worst
    * case, so callers that guarantee freshness upstream (monotone ingest
    * ids) may pass `checkFreshIds = false` to skip it per batch. */
  private def requireFreshIds(codes: DataFrame, batch: DataFrame,
                              idCol: String, enabled: Boolean): Unit =
    if (enabled) {
      val ids = batch.select(col(idCol).as("nn_id"))
      val Array(n, nd) = ids.agg(count(lit(1)), countDistinct(col("nn_id")))
        .collect()(0) match { case r => Array(r.getLong(0), r.getLong(1)) }
      require(n == nd,
        s"append batch has duplicate $idCol values ($n rows, $nd distinct) — " +
          "codes are keyed by nn_id and duplicates corrupt the ADC pivot")
      val clash = codes.select(col("nn_id"))
        .join(broadcast(ids.distinct()), Seq("nn_id"), "left_semi")
        .take(1)
      require(clash.isEmpty,
        s"append batch re-uses indexed $idCol=${clash.headOption.map(_.get(0))} — " +
          "appended ids must be fresh (pass checkFreshIds=false only when " +
          "freshness is guaranteed upstream)")
    }

  /** [[pqEncodeBatch]] + union: the in-session index after accepting a
    * batch. Codebooks are untouched (they are the trained artifact;
    * re-training on every batch would re-encode the world). */
  def appendToPqIndex(index: PqIndex, batch: DataFrame,
                      idCol: String, vecCol: String,
                      checkFreshIds: Boolean = true): PqIndex = {
    requireFreshIds(index.codes, batch, idCol, checkFreshIds)
    index.copy(codes = index.codes.unionByName(
      pqEncodeBatch(index, batch, idCol, vecCol)))
  }

  /** The [[appendToPqIndex]] path for the composite: assign the batch
    * to its nearest EXISTING cells (one broadcast pass over the tiny
    * centroid frame) and encode against the EXISTING codebooks — the
    * FAISS `add()` semantics: neither centroids nor codebooks move, so
    * nothing already in the index is re-touched. Batch ids must be
    * fresh (the [[pqEncodeBatch]] contract — guarded fail-fast here,
    * opt out via `checkFreshIds` when freshness is upstream-guaranteed). */
  def appendToIvfPqIndex(index: IvfPqIndex, batch: DataFrame,
                         idCol: String, vecCol: String,
                         checkFreshIds: Boolean = true): IvfPqIndex = {
    require(index.m > 0 && index.dims % index.m == 0,
      s"IvfPqIndex metadata invalid: dims=${index.dims} must split into " +
        s"m=${index.m} subspaces")
    requireFreshIds(index.codes, batch, idCol, checkFreshIds)
    val l2 = graft.functions.VectorOps.l2sq _
    val newAssigned = batch.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .crossJoin(broadcast(index.cents))
      .groupBy(col("nn_id"))
      .agg(min(struct(l2(col("nn_vec"), col("c_vec")).as("d"),
        col("ccid").as("ccid"))).as("best"))
      .select(col("nn_id"), col("best.ccid").as("ccid"))
    val newCodes = encodeWithCodebooks(
      index.codebooks.withColumnRenamed("code", "cid"),
      batch, idCol, vecCol, index.m, index.dims / index.m)
      .withColumnRenamed("cid", "code")
    index.copy(
      assigned = index.assigned.unionByName(newAssigned),
      codes = index.codes.unionByName(newCodes))
  }

  /** Product-quantization ANN top-k (Jégou/Douze/Schmid, PAMI'11):
    * vectors compress to `m` codeword ids (one per `dims/m`-wide
    * subspace, `codebookSize` codewords each — seeded from the first
    * corpus vectors by id, the deterministic-dataflow convention shared
    * with [[ivfTopK]]), and each query ranks the corpus by the
    * asymmetric (ADC) distance — the sum of its per-subspace
    * query-to-codeword lookup-table entries — WITHOUT touching raw
    * corpus vectors.
    *
    * Why this is the 100 TB shape: the scanned side is m small ints per
    * vector (64-dim float → 4 bytes at the defaults, a 64× cut); the
    * per-query work is a `m × codebookSize` LUT (here built once for the
    * whole bounded query set and broadcast) plus one integer join
    * against the code table; raw embeddings are only needed at encode
    * time. Like [[bruteForceTopK]], the query frame is counted and
    * bounded (`maxQueries`) — the LUT broadcast is |Q|·m·codebookSize
    * rows; stream query batches through repeated calls past that.
    *
    * Determinism (oracle hash-compare): every distance is one
    * sequential [[graft.functions.L2Sq]] fold; the ADC sum is a FIXED
    * left-to-right add over the m pivoted subspace distances (a
    * `groupBy.sum` over doubles would re-associate across partitions and
    * lose run-to-run bit equality — same reason [[assignCells]] pins its
    * tie order); ranks tie-break on nn_id.
    *
    * Output: query_id, nn_id, adist (DOUBLE — smaller is nearer), rk. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int = 5, m: Int = 4, codebookSize: Int = 16,
             dims: Int = 64, maxQueries: Long = 10000L): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"pqTopK broadcasts a per-query LUT: $nQ query vectors > " +
        s"maxQueries=$maxQueries; stream query batches or raise it explicitly")

    adcRank(pqCodebooks(corpus, idCol, vecCol, m, codebookSize, sub),
      pqEncode(corpus, idCol, vecCol, m, codebookSize, sub),
      queries, idCol, vecCol, k, m, sub)
  }

  /** The shared ADC tail of [[pqTopK]] / [[pqTopKIndexed]]: LUT from the
    * query subvectors × codebooks, one integer join against the code
    * table, pivoted fixed-order distance sum, (adist, nn_id) rank. */
  private def adcRank(codebooks: DataFrame, codes: DataFrame,
                      queries: DataFrame, idCol: String, vecCol: String,
                      k: Int, m: Int, sub: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lut = subvectors(queries.select(col(idCol).as("query_id"), col(vecCol)),
        "query_id", vecCol, m, sub)
      .join(broadcast(codebooks), "j")
      .select(col("query_id"), col("j"), col("cid"),
        graft.functions.VectorOps.l2sq(col("sv"), col("cv")).as("d"))

    val dcols = (0 until m).map(j =>
      max(when(col("j") === j, col("d"))).as(s"__d$j"))
    val adist = (0 until m).map(j => col(s"__d$j")).reduceLeft(_ + _)

    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("nn_id").asc)
    codes.join(broadcast(lut), Seq("j", "cid"))
      .filter(col("nn_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("nn_id"))
      .agg(dcols.head, dcols.tail: _*)
      .select(col("query_id"), col("nn_id"), adist.as("adist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "adist", "rk")
  }

  /** Persistable PQ index — the two frames [[pqTopK]] derives from the
    * raw vectors, reified so a 100 TB corpus is ENCODED ONCE (the only
    * pass that touches raw embeddings) and then queried forever from
    * parquet: `codebooks` is m·codebookSize tiny rows, `codes` is m
    * small ints per vector. Build with [[buildPqIndex]], persist both
    * frames with any sink, reload, and [[pqTopKIndexed]] returns
    * bit-identical rankings to the direct call (spec-pinned) — the
    * [[graft.ops.Dedup.EmbeddingIndex]] convention for the ADC path. */
  final case class PqIndex(codebooks: DataFrame, codes: DataFrame,
                           m: Int, codebookSize: Int, dims: Int)

  /** One encode pass over the corpus → [[PqIndex]]. */
  def buildPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int = 4, codebookSize: Int = 16, dims: Int = 64): PqIndex = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    PqIndex(pqCodebooks(corpus, idCol, vecCol, m, codebookSize, sub),
      pqEncode(corpus, idCol, vecCol, m, codebookSize, sub),
      m, codebookSize, dims)
  }

  /** ADC top-k against a prebuilt (typically parquet-reloaded)
    * [[PqIndex]] — the per-query-batch cost is the LUT broadcast plus
    * one integer join against the code table; raw corpus vectors are
    * never touched. Same contract and output as [[pqTopK]]. */
  def pqTopKIndexed(index: PqIndex, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int = 5,
                    maxQueries: Long = 10000L): DataFrame = {
    // metadata-drift guard (ADVICE r15): a hand-built or mis-reloaded
    // index whose m/dims disagree would silently mis-slice the query
    // subvectors below — fail fast like pqTopK/buildPqIndex do
    require(index.m > 0 && index.dims % index.m == 0,
      s"PqIndex metadata invalid: dims=${index.dims} must split into " +
        s"m=${index.m} subspaces")
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"pqTopKIndexed broadcasts a per-query LUT: $nQ query vectors > " +
        s"maxQueries=$maxQueries; stream query batches or raise it explicitly")
    adcRank(index.codebooks, index.codes, queries, idCol, vecCol, k,
      index.m, index.dims / index.m)
  }

  /** Exact re-rank of an ANN shortlist — the refine stage every
    * production PQ deployment runs, because ADC distances are codebook
    * approximations (recall@5 measured at 2000–8000 bp unrefined at the
    * m=4/16 config). `shortlist` is any (query_id, nn_id) candidate
    * frame; the true vectors are fetched by ONE equi-join of the
    * BROADCAST shortlist against the raw-vector frame — |Q|·k′ rows on
    * the build side, so the 100 TB corpus is streamed map-side once and
    * only candidate rows survive; no corpus shuffle, no full rescan per
    * query. Scores are exact sequential-fold cosines (bit-identical to
    * [[bruteForceTopK]]'s for the same pair), ranked desc with the
    * nn_id tie-break.
    *
    * Output: query_id, nn_id, cos (DOUBLE), rk — the [[bruteForceTopK]]
    * shape, so recall evals swap rankings without adapters. */
  private[graft] def refineExact(shortlist: DataFrame, corpus: DataFrame,
                                 queries: DataFrame, idCol: String,
                                 vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
        Dedup.l2norm(col(vecCol)).as("nn_nrm"))
      .join(broadcast(shortlist.select("query_id", "nn_id")), "nn_id")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Dedup.l2norm(col(vecCol)).as("q_nrm"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("nn_id").asc)
    cand.join(broadcast(q), "query_id")
      .select(col("query_id"), col("nn_id"),
        (Dedup.dot(col("q_vec"), col("nn_vec")) / (col("q_nrm") * col("nn_nrm")))
          .as("cos"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "cos", "rk")
  }

  /** [[pqTopK]] with an exact refine tail: ADC ranks a shortlist of
    * `kPrime` (default 8×k) candidates per query from the code table
    * alone, then [[refineExact]] re-ranks the shortlist by true cosine
    * and keeps k. The corpus pays one extra map-side candidate fetch
    * (the broadcast-shortlist equi-join) on top of [[pqTopK]]'s cost —
    * the standard recall-repair trade: quantization error only matters
    * if the true neighbor fell OUT of the top-k′, and k′ a small
    * multiple of k already makes that rare (measured in
    * `q_eval_pq_refined_recall`). Output: the [[bruteForceTopK]] shape
    * (query_id, nn_id, cos, rk). */
  def pqTopKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int = 5, kPrime: Int = 40,
                    m: Int = 4, codebookSize: Int = 16, dims: Int = 64,
                    maxQueries: Long = 10000L): DataFrame = {
    require(kPrime >= k, s"shortlist kPrime=$kPrime must be >= k=$k")
    refineExact(
      pqTopK(corpus, queries, idCol, vecCol, kPrime, m, codebookSize,
        dims, maxQueries),
      corpus, queries, idCol, vecCol, k)
  }

  /** IVF-PQ ANN top-k (the FAISS `IVFx,PQy` composite, L2 metric
    * throughout): the corpus partitions into the L2-Voronoi cells of
    * `nCentroids` seeded centroids; each query probes its `nProbe`
    * nearest cells and ranks ONLY their members, by the PQ asymmetric
    * distance over `m`-byte codes — so a scan touches neither the whole
    * corpus (IVF bounds candidates) nor any raw vector (PQ compresses
    * the payload). This is the composition actually deployed at
    * billion-vector scale; [[ivfTopK]] (exact rerank, cosine) and
    * [[pqTopK]] (full-corpus ADC) are its two halves measured alone.
    *
    * Determinism: centroids and codebooks seed from the first corpus
    * vectors by id (the iters=0 replay convention), every distance is a
    * sequential [[graft.functions.L2Sq]] fold, cell assignment is
    * `min(struct(d, cid))`, the ADC sum is the pivoted fixed-order
    * addition from [[pqTopK]] — the oracle replays the whole dataflow.
    *
    * Scale posture: two broadcast passes (cells, codebooks) build the
    * index frames; the query side is a bounded LUT broadcast
    * (`maxQueries` — counted, like [[pqTopK]]); the one data-sized
    * shuffle keys candidate cells' members by id. Recall compounds the
    * IVF probe miss and the PQ quantization miss — measured against the
    * exact L2 top-k in SimilaritySpec.
    *
    * Output: query_id, nn_id, adist (DOUBLE — smaller is nearer), rk. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int = 5, nCentroids: Int = 16,
                nProbe: Int = 4, m: Int = 4, codebookSize: Int = 16,
                dims: Int = 64, maxQueries: Long = 10000L): DataFrame =
    ivfPqTopKIndexed(
      buildIvfPqIndex(corpus, idCol, vecCol, nCentroids, m, codebookSize, dims),
      queries, idCol, vecCol, k, nProbe, maxQueries)

  /** Persistable IVF-PQ index — the four frames [[ivfPqTopK]] derives
    * from the raw vectors, reified so the composite gets the same
    * encode-once contract as the flat [[PqIndex]]: `cents` is
    * nCentroids tiny rows (the only frame carrying raw vectors — the
    * probe stage needs them, and it is centroid-sized, not
    * corpus-sized), `assigned` is (nn_id, ccid) cell membership,
    * `codebooks`/`codes` are the PQ halves. Persist all four to
    * parquet, reload, and [[ivfPqTopKIndexed]] replays the direct
    * ranking bit-for-bit (spec-pinned). At 100 TB the index build is
    * the ONLY pass over raw embeddings; every query batch afterwards
    * touches nCentroids vectors + integer tables. */
  final case class IvfPqIndex(cents: DataFrame, assigned: DataFrame,
                              codebooks: DataFrame, codes: DataFrame,
                              nCentroids: Int, m: Int, codebookSize: Int,
                              dims: Int)

  /** Two broadcast passes over the corpus (cell assignment, PQ encode)
    * → [[IvfPqIndex]]. Centroids and codebooks seed from the first
    * corpus vectors by id — the deterministic replay convention. */
  def buildIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      nCentroids: Int = 16, m: Int = 4,
                      codebookSize: Int = 16, dims: Int = 64): IvfPqIndex = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    val l2 = graft.functions.VectorOps.l2sq _
    val cents = corpus.filter(col(idCol) < nCentroids)
      .select(col(idCol).cast("long").as("ccid"), col(vecCol).as("c_vec"))

    // one broadcast pass: nearest cell per corpus vector by L2
    val assigned = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .crossJoin(broadcast(cents))
      .groupBy(col("nn_id"))
      .agg(min(struct(l2(col("nn_vec"), col("c_vec")).as("d"),
        col("ccid").as("ccid"))).as("best"))
      .select(col("nn_id"), col("best.ccid").as("ccid"))

    // PQ codes for every corpus vector (codeword id renamed: `code` —
    // `cid` is the CELL id in this operator)
    val coded = pqEncode(corpus, idCol, vecCol, m, codebookSize, sub)
      .withColumnRenamed("cid", "code")
    val cb = pqCodebooks(corpus, idCol, vecCol, m, codebookSize, sub)
      .withColumnRenamed("cid", "code")
    IvfPqIndex(cents, assigned, cb, coded, nCentroids, m, codebookSize, dims)
  }

  /** Deterministic evenly-SPREAD seed rows — the retrain seeding policy:
    * bucket the corpus's id RANGE into `nSeeds` equal spans and take the
    * min-id row of each non-empty span (one broadcast-bounds pass + one
    * keyed aggregation; `min(struct(id, vec))` is total-ordered because
    * ids are unique). Unlike the build's id-PREFIX convention, appended
    * mass — which lives at HIGH ids — contributes seeds, which is what
    * makes a retrain recover from distribution drift. Output:
    * (sid BIGINT ∈ [0, nSeeds), seed_id, seed_vec); empty spans drop out
    * (fewer seeds than requested on a sparse id space — still valid,
    * just a smaller codebook/cell set). Deterministic and replayable:
    * the oracle recomputes span = (id−lo)·nSeeds div (hi−lo+1) digit for
    * digit. */
  private[graft] def spreadSeedRows(corpus: DataFrame, idCol: String,
                                    vecCol: String, nSeeds: Int): DataFrame = {
    require(nSeeds > 0, s"nSeeds=$nSeeds must be positive")
    val bounds = corpus.agg(min(col(idCol).cast("long")).as("lo"),
      max(col(idCol).cast("long")).as("hi"))
    corpus.select(col(idCol).cast("long").as("__id"), col(vecCol).as("__vec"))
      .crossJoin(broadcast(bounds))
      .withColumn("sid",
        expr(s"least(${nSeeds - 1}L, (__id - lo) * $nSeeds div (hi - lo + 1))"))
      .groupBy("sid")
      .agg(min(struct(col("__id").as("seed_id"), col("__vec").as("seed_vec")))
        .as("m"))
      .select(col("sid"), col("m.seed_id").as("seed_id"),
        col("m.seed_vec").as("seed_vec"))
  }

  /** The retrain RESPONSE to the trigger [[ivfPqCellStats]] (occupancy
    * skew) and [[graft.ops.Eval.ivfPqAppendDrift]] (recall decay)
    * measure: rebuild the index over the CURRENT corpus — original plus
    * every appended batch — at a possibly RE-SIZED config. Two things
    * distinguish this from re-running [[buildIvfPqIndex]]:
    *
    *   1. Seeds come from [[spreadSeedRows]] (evenly spaced across the
    *      id range), not the id prefix. Under the prefix convention a
    *      "retrain" after appends reproduces the appended index exactly
    *      (the [[graft.ops.Eval.ivfPqAppendDrift]] scaladoc's
    *      observation) because appended ids sit past the seed prefix;
    *      spread seeds give drifted appended mass its share of centroids
    *      and codewords — the recovery [[graft.ops.Eval.ivfPqRetrainRecovery]]
    *      pins.
    *   2. m / codebookSize / nCentroids may GROW with the corpus — the
    *      measured 100× lesson (SCALE.md Round-17 append-drift entry) is
    *      that a 16-bit code config saturates at 200k vectors REGARDLESS
    *      of appends:
    *      recall at scale is a config property, and re-sizing IS the
    *      retrain.
    *
    * Cost: the same two broadcast passes as [[buildIvfPqIndex]] plus two
    * seed aggregations — one full re-encode of the corpus, the price the
    * trigger exists to schedule rather than pay per batch. Queries and
    * appends continue against the old index until the swap (the frames
    * are immutable). */
  def retrainIvfPqIndex(corpus: DataFrame, idCol: String, vecCol: String,
                        nCentroids: Int = 16, m: Int = 4,
                        codebookSize: Int = 16, dims: Int = 64): IvfPqIndex = {
    require(m > 0 && dims % m == 0, s"dims=$dims must split into m=$m subspaces")
    val sub = dims / m
    val l2 = graft.functions.VectorOps.l2sq _
    val cents = spreadSeedRows(corpus, idCol, vecCol, nCentroids)
      .select(col("sid").as("ccid"), col("seed_vec").as("c_vec"))
    val assigned = corpus.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"))
      .crossJoin(broadcast(cents))
      .groupBy(col("nn_id"))
      .agg(min(struct(l2(col("nn_vec"), col("c_vec")).as("d"),
        col("ccid").as("ccid"))).as("best"))
      .select(col("nn_id"), col("best.ccid").as("ccid"))
    val cb = subvectors(
      spreadSeedRows(corpus, idCol, vecCol, codebookSize)
        .select(col("sid").as("cid"), col("seed_vec").as("__v")),
      "cid", "__v", m, sub)
      .select(col("j"), col("cid").as("code"), col("sv").as("cv"))
    val codes = encodeWithCodebooks(cb.withColumnRenamed("code", "cid"),
      corpus, idCol, vecCol, m, sub)
      .withColumnRenamed("cid", "code")
    IvfPqIndex(cents, assigned, cb, codes, nCentroids, m, codebookSize, dims)
  }

  /** IVF-PQ ADC top-k against a prebuilt (typically parquet-reloaded)
    * [[IvfPqIndex]]: probe `nProbe` nearest cells against the tiny
    * centroid frame, rank their members by the pivoted fixed-order ADC
    * sum over the code table. Same contract, determinism, and output
    * as [[ivfPqTopK]] — which is now literally this call over a fresh
    * [[buildIvfPqIndex]]. */
  def ivfPqTopKIndexed(index: IvfPqIndex, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int = 5, nProbe: Int = 4,
                       maxQueries: Long = 10000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // metadata-drift guard (the pqTopKIndexed convention): mismatched
    // m/dims would mis-slice query subvectors, not error
    require(index.m > 0 && index.dims % index.m == 0,
      s"IvfPqIndex metadata invalid: dims=${index.dims} must split into " +
        s"m=${index.m} subspaces")
    val sub = index.dims / index.m
    val nQ = queries.count()
    require(nQ <= maxQueries,
      s"ivfPqTopKIndexed broadcasts a per-query LUT: $nQ query vectors > " +
        s"maxQueries=$maxQueries; stream query batches or raise it explicitly")
    val l2 = graft.functions.VectorOps.l2sq _

    // nProbe nearest cells per query, L2 ascending, cell-id tie-break
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("p_d").asc, col("ccid").asc)
    val probed = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
      .crossJoin(broadcast(index.cents))
      .select(col("query_id"), col("ccid"),
        l2(col("q_vec"), col("c_vec")).as("p_d"))
      .withColumn("p_rk", row_number().over(probeW)).filter(col("p_rk") <= nProbe)
      .select("query_id", "ccid")

    val lut = subvectors(queries.select(col(idCol).as("query_id"), col(vecCol)),
        "query_id", vecCol, index.m, sub)
      .join(broadcast(index.codebooks), "j")
      .select(col("query_id"), col("j"), col("code"),
        l2(col("sv"), col("cv")).as("d"))

    val dcols = (0 until index.m).map(j =>
      max(when(col("j") === j, col("d"))).as(s"__d$j"))
    val adist = (0 until index.m).map(j => col(s"__d$j")).reduceLeft(_ + _)

    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("nn_id").asc)
    probed.join(index.assigned, "ccid")
      .filter(col("nn_id") =!= col("query_id"))
      .join(index.codes, "nn_id")
      .join(broadcast(lut), Seq("query_id", "j", "code"))
      .groupBy(col("query_id"), col("nn_id"))
      .agg(dcols.head, dcols.tail: _*)
      .select(col("query_id"), col("nn_id"), adist.as("adist"))
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select("query_id", "nn_id", "adist", "rk")
  }

  /** Cell-occupancy report for an [[IvfPqIndex]] — the OPERATIONAL input
    * to the retrain decision whose recall side
    * [[graft.ops.Eval.ivfPqAppendDrift]] measures: frozen-centroid
    * appends ([[appendToIvfPqIndex]]) can only land in existing cells,
    * so distribution drift shows up as occupancy skew (a few cells
    * absorbing the appended mass) and empty cells (trained structure the
    * corpus no longer uses). FAISS deployments watch exactly this
    * imbalance to schedule retrains; probing cost is also proportional
    * to probed-cell size, so a skewed index loses the nProbe/nCentroids
    * cost bound that makes IVF worth having.
    *
    * One row per TRAINED cell (empty cells included — they are the
    * staleness signal): (ccid, n_members BIGINT, share_bp BIGINT =
    * members·10⁴ div total). Pure integers on the edge — the DuckDB
    * oracle replays the assignment and the division digit for digit.
    *
    * Scale: one keyed count over the assignment frame (map-side
    * combined), a broadcast-back join against the ≤ nCentroids cell
    * list, and a 1-row global-agg broadcast for the total — no raw
    * vectors touched, no corpus-width shuffle. The total and the
    * occupancy rollup each consume `assigned` (two consumers, nothing
    * persisted): against a parquet-RELOADED index — the production
    * shape — that is two scans of the narrow (nn_id, ccid) table; an
    * in-query build replays the centroid fan-out twice, which only the
    * toy/oracle path does. */
  def ivfPqCellStats(index: IvfPqIndex): DataFrame = {
    val occ = index.assigned.groupBy("ccid").agg(count(lit(1)).as("n_members"))
    val tot = index.assigned.agg(count(lit(1)).as("__n"))
    index.cents.select(col("ccid"))
      .join(occ, Seq("ccid"), "left")
      .select(col("ccid"), coalesce(col("n_members"), lit(0L)).as("n_members"))
      .crossJoin(broadcast(tot))
      .select(col("ccid"), col("n_members"),
        expr("n_members * 10000L div __n").as("share_bp"))
  }

  /** [[ivfPqTopK]] with the exact refine tail ([[pqTopKRefined]]'s
    * rationale): the composite's recall compounds the probe miss and
    * the quantization miss, and the refine repairs only the latter —
    * candidates outside the probed cells stay unseen, so size `nProbe`
    * for the probe miss and `kPrime` for the ADC miss independently.
    * Output: (query_id, nn_id, cos, rk). */
  def ivfPqTopKRefined(corpus: DataFrame, queries: DataFrame, idCol: String,
                       vecCol: String, k: Int = 5, kPrime: Int = 40,
                       nCentroids: Int = 16, nProbe: Int = 4, m: Int = 4,
                       codebookSize: Int = 16, dims: Int = 64,
                       maxQueries: Long = 10000L): DataFrame = {
    require(kPrime >= k, s"shortlist kPrime=$kPrime must be >= k=$k")
    refineExact(
      ivfPqTopK(corpus, queries, idCol, vecCol, kPrime, nCentroids, nProbe,
        m, codebookSize, dims, maxQueries),
      corpus, queries, idCol, vecCol, k)
  }

  /** Refined query against a PREBUILT index — the full production
    * shape: shortlist from the persisted codes (no raw-vector scan),
    * exact re-rank via one broadcast-shortlist equi-join against the
    * raw corpus (only candidate rows survive the probe). `corpus` must
    * be the frame the index was built from — the refine stage needs the
    * true vectors, which the index deliberately does not carry. Output
    * is bit-identical to the direct refined call (spec-pinned). */
  def pqTopKIndexedRefined(index: PqIndex, corpus: DataFrame,
                           queries: DataFrame, idCol: String, vecCol: String,
                           k: Int = 5, kPrime: Int = 40,
                           maxQueries: Long = 10000L): DataFrame = {
    require(kPrime >= k, s"shortlist kPrime=$kPrime must be >= k=$k")
    refineExact(
      pqTopKIndexed(index, queries, idCol, vecCol, kPrime, maxQueries),
      corpus, queries, idCol, vecCol, k)
  }

  /** [[pqTopKIndexedRefined]] for the IVF-PQ composite index. */
  def ivfPqTopKIndexedRefined(index: IvfPqIndex, corpus: DataFrame,
                              queries: DataFrame, idCol: String,
                              vecCol: String, k: Int = 5, kPrime: Int = 40,
                              nProbe: Int = 4,
                              maxQueries: Long = 10000L): DataFrame = {
    require(kPrime >= k, s"shortlist kPrime=$kPrime must be >= k=$k")
    refineExact(
      ivfPqTopKIndexed(index, queries, idCol, vecCol, kPrime, nProbe,
        maxQueries),
      corpus, queries, idCol, vecCol, k)
  }
}
