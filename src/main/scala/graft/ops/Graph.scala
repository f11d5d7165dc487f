package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Graph centrality as pure dataflow — fixed-iteration PageRank with
  * the whole recursion in SCALED INTEGER arithmetic, so every rank is
  * bit-exact across engines (a SQL oracle replays the iterations as
  * unrolled aggregate-join CTEs with `//` division; nothing depends on
  * float summation order or libm). The training-data uses: TextRank
  * keyword extraction over the word co-occurrence graph (see
  * [[graft.pipelines.ModelQueries]]), canonical-representative
  * selection inside near-dup clusters, and domain-authority weighting
  * when a crawl's host-link graph is available.
  *
  * Recursion (damping d = dampNum/dampDen, mass scale S):
  * {{{
  *   r⁰(v)   = S div n
  *   rᵏ⁺¹(v) = (S·(dampDen−dampNum)) div (dampDen·n)
  *           + (dampNum · Σ_{u→v} (rᵏ(u) div deg⁺(u))) div dampDen
  * }}}
  * All quantities are nonnegative longs, so `div` (truncating) and
  * floor division agree and DuckDB `//` replays it exactly. Dangling
  * mass (nodes with no out-edges) is dropped, the common practical
  * variant — ranks still order identically for connected graphs and
  * the contract is stated rather than hidden.
  *
  * Scale shape: each iteration is ONE equi-join of the edge list
  * against the current rank vector (hash-partitioned on the node key)
  * plus a map-side-combined sum per destination — the canonical
  * message-passing round. The edge list is persisted once; each rank
  * generation is localCheckpoint'd (or reliably checkpointed under
  * `checkpointDir`, [[Dedup.nearDupClusters]]'s executor-loss posture)
  * so the loop body never re-executes upstream lineage and the logical
  * plan stays O(1) deep per round. Iteration count is a fixed small
  * constant (centrality needs ~5–20 rounds), so total cost is
  * iters × |E| shuffle — no driver-side state beyond loop control.
  */
object Graph {

  /** Small-graph gate: when the (projected) edge list — and, where one
    * exists, the seed list — holds ≤ this many rows, the fixed-iteration
    * loop runs DRIVER-side over the collected arrays instead of as
    * per-round join+aggregate jobs. The iterative shape is pure fixed
    * overhead at that size (measured: 26 jobs / ~2.5 s for 4 rounds over
    * a 930-edge word graph — vs milliseconds of actual arithmetic), and
    * a ≤ 2¹⁷-row collect is a few MB. The recursion is replicated in the
    * SAME nonnegative-long truncating arithmetic, so the result is
    * bit-identical to the distributed loop (pinned by GraphSpec under a
    * forced cap). Bigger graphs — the 100 TB regime — run the
    * distributed message-passing rounds exactly as before. Sys-prop
    * override (`graft.graph.smallGraphCap`) lets tests force either
    * path. */
  private[ops] def smallGraphCap: Long =
    sys.props.get("graft.graph.smallGraphCap").map(_.toLong)
      .getOrElse(1L << 17)

  /** All rows when the frame holds ≤ cap of them, else None (the limit
    * means an oversized frame never ships more than cap+1 rows). */
  private def collectSmall(df: DataFrame, cap: Long)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.limit(math.min(cap + 1, Int.MaxValue.toLong).toInt).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** Driver replica of [[prLoop]] over collected edges: same nonneg-long
    * truncating ops in the same recursion, so `div` == `/`. `baseR0`
    * carries each node's (teleport term, starting rank). Sources whose
    * out-weight is 0 contribute nothing (the distributed `div` nulls
    * them out of the sum). */
  private def drivePrLoop(edges: Array[(String, String, Long)],
                          baseR0: scala.collection.Map[String, (Long, Long)],
                          iters: Int, dampNum: Int,
                          dampDen: Int): Seq[(String, Long)] = {
    val wsum = scala.collection.mutable.HashMap.empty[String, Long]
    edges.foreach { case (s, _, w) =>
      wsum.update(s, wsum.getOrElse(s, 0L) + w)
    }
    var rank: scala.collection.Map[String, Long] =
      baseR0.map { case (n, (_, r0)) => n -> r0 }
    var iter = 0
    while (iter < iters) {
      val cs = scala.collection.mutable.HashMap.empty[String, Long]
      edges.foreach { case (s, d, w) =>
        val ws = wsum(s)
        if (ws != 0L)
          cs.update(d, cs.getOrElse(d, 0L) + (rank(s) * w) / ws)
      }
      rank = baseR0.map { case (n, (b, _)) =>
        n -> (b + (dampNum.toLong * cs.getOrElse(n, 0L)) / dampDen) }
      iter += 1
    }
    baseR0.keysIterator.toSeq.sorted.map(n => n -> rank(n))
  }

  private def smallRankFrame(spark: org.apache.spark.sql.SparkSession,
                             result: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        result.map { case (n, r) => Row(n, r) }, 1),
      StructType(Seq(StructField("node", StringType),
        StructField("rank_scaled", LongType, nullable = false))))
  }

  /** Collected edge triples from the ALREADY-PERSISTED projection, or
    * None when oversized / null-keyed (null endpoints have engine join
    * semantics the driver replica does not reproduce — let the
    * distributed path own them). Probing the persisted frame matters:
    * the limit rows it reads land in the cache, so an over-cap graph's
    * (possibly expensive) edge-build lineage is NOT evaluated a second
    * time when the distributed loop materializes the rest. */
  private def smallEdges(persistedE: DataFrame)
      : Option[Array[(String, String, Long)]] =
    collectSmall(persistedE, smallGraphCap).flatMap { rows =>
      if (rows.exists(r => r.isNullAt(0) || r.isNullAt(1) ||
          (rows.head.size > 2 && r.isNullAt(2))))
        None
      else Some(rows.map(r => (r.getString(0), r.getString(1),
        if (r.size > 2) r.getLong(2) else 1L)))
    }

  /** Integer PageRank over a directed edge list (`srcCol`, `dstCol`).
    * The caller supplies the exact edge multiset — pre-`distinct` it
    * for an unweighted graph (parallel edges otherwise count as
    * multi-edges, which is also a valid weighting). Returns one row
    * per node: (`node`, `rank_scaled`) with Σ rank ≤ `scale`. */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, scale: Long = 1000000000000L,
               dampNum: Int = 85, dampDen: Int = 100,
               checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0,1]")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), lit(1L).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    smallEdges(e).foreach { es =>
      e.unpersist(blocking = false)
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toSet
      if (ns.isEmpty) return smallRankFrame(spark, Seq.empty)
      val n = ns.size.toLong
      val base = (scale * (dampDen - dampNum)) / (dampDen.toLong * n)
      val r0 = scale / n
      return smallRankFrame(spark,
        drivePrLoop(es, ns.iterator.map(v => v -> ((base, r0))).toMap,
          iters, dampNum, dampDen))
    }

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy("src").agg(sum("w").as("wsum"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // node count rides the 1-row-broadcast compact-producer protocol —
    // the loop below needs it in every generation's teleport term
    val nTotal = nodes.agg(count(lit(1)).as("n"))

    val base = nodes.crossJoin(broadcast(nTotal))
      .select(col("node"),
        expr(s"(${scale}L * ${dampDen - dampNum}) div (${dampDen}L * n)").as("base"),
        expr(s"${scale}L div n").as("r0"))
    val ranks = prLoop(e, outdeg, base, iters, dampNum, dampDen, checkpointDir)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outdeg.unpersist(blocking = false)
    ranks
  }

  /** WEIGHTED PageRank: each node splits its rank among out-edges in
    * proportion to integer edge weights (co-occurrence counts, link
    * multiplicities) — `rᵏ(u)·w(u→v) div Σw(u→·)` replaces the uniform
    * split; with all weights 1 the recursion is bit-identical to
    * [[pageRank]]. Same determinism/checkpoint contract. Weights must
    * be ≥ 1: a node whose out-weights sum to 0 divides by zero, which
    * Spark's `div` nulls but a SQL `//` replay rejects — the contract
    * is integer COUNTS. Overflow bound: rank·weight must fit LONG, so
    * per-edge weights must stay ≤ ~9·10⁶ at the default scale —
    * pre-divide heavier weights by a common factor (the split is
    * ratio-invariant only up to integer truncation, so state the
    * factor where it matters). */
  def pageRankWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, iters: Int,
                       scale: Long = 1000000000000L,
                       dampNum: Int = 85, dampDen: Int = 100,
                       checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0,1]")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("long").as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    smallEdges(e).foreach { es =>
      e.unpersist(blocking = false)
      val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toSet
      if (ns.isEmpty) return smallRankFrame(spark, Seq.empty)
      val n = ns.size.toLong
      val base = (scale * (dampDen - dampNum)) / (dampDen.toLong * n)
      val r0 = scale / n
      return smallRankFrame(spark,
        drivePrLoop(es, ns.iterator.map(v => v -> ((base, r0))).toMap,
          iters, dampNum, dampDen))
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy("src").agg(sum("w").as("wsum"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nTotal = nodes.agg(count(lit(1)).as("n"))

    val base = nodes.crossJoin(broadcast(nTotal))
      .select(col("node"),
        expr(s"(${scale}L * ${dampDen - dampNum}) div (${dampDen}L * n)").as("base"),
        expr(s"${scale}L div n").as("r0"))
    val ranks = prLoop(e, outdeg, base, iters, dampNum, dampDen, checkpointDir)
    e.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outdeg.unpersist(blocking = false)
    ranks
  }

  /** PERSONALIZED PageRank: teleport mass restricted to a seed node set
    * — "what is structurally close to THESE documents" (related-item
    * expansion from a labeled subset, contamination-neighborhood
    * spreading). Recursion and determinism contract as [[pageRank]],
    * except r⁰ and the teleport term put `S div |seeds|` /
    * `(S·(1−d)) div |seeds|` on seed nodes and 0 elsewhere — so all
    * rank mass is reachable-from-seeds by construction. Seeds not in
    * the edge list still rank (their teleport never leaves them). */
  def pageRankPersonalized(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, scale: Long = 1000000000000L,
                           dampNum: Int = 85, dampDen: Int = 100,
                           checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampNum >= 0 && dampNum <= dampDen && dampDen > 0,
      s"damping $dampNum/$dampDen outside [0,1]")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"), lit(1L).as("w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s = seeds.select(col(seedCol).cast("string").as("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    smallEdges(e).foreach { es =>
      collectSmall(s, smallGraphCap).foreach { seedRows =>
        if (!seedRows.exists(_.isNullAt(0))) {
          e.unpersist(blocking = false)
          s.unpersist(blocking = false)
          val seedSet = seedRows.map(_.getString(0)).toSet
          val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2))
            .toSet ++ seedSet
          if (ns.isEmpty) return smallRankFrame(spark, Seq.empty)
          val nSeeds = math.max(1L, seedSet.size.toLong)
          val seedBase = (scale * (dampDen - dampNum)) / (dampDen.toLong * nSeeds)
          val seedR0 = scale / nSeeds
          return smallRankFrame(spark,
            drivePrLoop(es, ns.iterator.map { v =>
              if (seedSet(v)) v -> ((seedBase, seedR0)) else v -> ((0L, 0L))
            }.toMap, iters, dampNum, dampDen))
        }
      }
    }
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(s.select("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val outdeg = e.groupBy("src").agg(sum("w").as("wsum"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nSeeds = s.agg(count(lit(1)).as("ns"))

    val base = nodes.join(s.withColumn("__seed", lit(1L)), Seq("node"), "left")
      .crossJoin(broadcast(nSeeds))
      .select(col("node"),
        when(col("__seed").isNotNull,
          expr(s"(${scale}L * ${dampDen - dampNum}) div (${dampDen}L * ns)"))
          .otherwise(lit(0L)).as("base"),
        when(col("__seed").isNotNull, expr(s"${scale}L div ns"))
          .otherwise(lit(0L)).as("r0"))
    val ranks = prLoop(e, outdeg, base, iters, dampNum, dampDen, checkpointDir)
    e.unpersist(blocking = false)
    s.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    outdeg.unpersist(blocking = false)
    ranks
  }

  /** One generation of an iterative loop, checkpointed so the loop body
    * never references a deep upstream plan. With `checkpointDir` it is a
    * reliable checkpoint, persisted first: the checkpoint write re-reads
    * the RDD at the materializing action, and without the persist that
    * re-read recomputes the whole generation. Without it, a local
    * checkpoint. Returns the frame and the RDD whose blocks the loop frees
    * once the next generation is materialized. */
  private[graft] def checkpointGen(df: DataFrame, checkpointDir: Option[String])
      : (DataFrame, org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]) = {
    val rdd = df.rdd
    if (checkpointDir.isDefined) {
      rdd.persist(StorageLevel.MEMORY_AND_DISK)
      rdd.checkpoint()
    } else rdd.localCheckpoint()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Free the final generation's persist when the loop ends: a reliable
    * checkpoint serves later reads from its files (an unwritten one
    * recomputes, never a wrong result). A local checkpoint's blocks ARE
    * its data, so they stay with the returned frame. */
  private[graft] def releaseLastGen(rdd: org.apache.spark.rdd.RDD[_],
                                    checkpointDir: Option[String]): Unit =
    if (checkpointDir.isDefined) rdd.unpersist(blocking = false)

  /** The shared damped message-passing loop: `base` carries each node's
    * per-round teleport term and starting rank. */
  private def prLoop(e: DataFrame, outdeg: DataFrame, base: DataFrame,
                     iters: Int, dampNum: Int, dampDen: Int,
                     checkpointDir: Option[String]): DataFrame = {
    val b = base.persist(StorageLevel.MEMORY_AND_DISK)

    var (ranks, prevRdd) = checkpointGen(
      b.select(col("node"), col("r0").as("rank_scaled")), checkpointDir)
    var iter = 0
    while (iter < iters) {
      val contrib = e
        .join(ranks.select(col("node").as("src"), col("rank_scaled").as("r")), "src")
        .join(outdeg, "src")
        .select(col("dst"), expr("(r * w) div wsum").as("c"))
        .groupBy("dst").agg(sum("c").as("cs"))
      val (next, nextRdd) = checkpointGen(
        b.join(contrib, col("node") === col("dst"), "left")
          .select(col("node"),
            (col("base") +
              expr(s"(${dampNum}L * coalesce(cs, 0L)) div ${dampDen}L")
            ).as("rank_scaled")), checkpointDir)
      next.count() // materialize this generation, then free the previous
      prevRdd.unpersist(blocking = false)
      prevRdd = nextRdd
      ranks = next
      iter += 1
    }
    b.unpersist(blocking = false)
    releaseLastGen(prevRdd, checkpointDir)
    ranks
  }

  /** Semi-supervised LABEL PROPAGATION: spread known labels through a
    * graph by iterated neighbor majority vote — the "label the unlabeled
    * duplicates/near-dups from their labeled cluster-mates" stage of a
    * partially-annotated corpus. Fully deterministic: per round, each
    * non-seed node takes the most common label among its in-neighbors'
    * current labels (count ties → lexicographically smallest label);
    * SEED nodes are clamped to their seed label forever; a node with no
    * labeled neighbor keeps its previous label (null until first
    * reached). Fixed `iters` rounds — a SQL oracle replays them as
    * unrolled aggregate-join CTEs, no float anywhere.
    *
    * Scale shape: per round, one edge⋈labels equi-join, one
    * (dst, label) count aggregation (map-side combined), one argmin-of
    * -struct per node — all hash-partitioned on node keys; generations
    * are checkpointed like [[pageRank]]'s so lineage stays O(1) deep.
    * Node set = edge endpoints ∪ seeds; pass the symmetrized edge list
    * for undirected propagation.
    *
    * `seeds`: (`nodeCol`, `labelCol`) — at most one row per node.
    * Returns (`node`, `label`), label null where propagation never
    * reached. */
  def labelPropagate(edges: DataFrame, srcCol: String, dstCol: String,
                     seeds: DataFrame, nodeCol: String, labelCol: String,
                     iters: Int,
                     checkpointDir: Option[String] = None): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = edges.sparkSession
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)

    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val s = seeds.select(col(nodeCol).cast("string").as("node"),
        col(labelCol).cast("string").as("seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // small-graph driver path: same per-round majority/tie/clamp rules
    // over the collected arrays — bit-identical (GraphSpec forces both
    // paths), zero per-round jobs. Null-keyed rows keep the distributed
    // path, whose join semantics the replica does not reproduce. Probes
    // read the PERSISTED frames so an over-cap graph's lineage is not
    // evaluated twice.
    smallEdges(e).foreach { es =>
      collectSmall(s, smallGraphCap).foreach { seedRows =>
        if (!seedRows.exists(_.isNullAt(0))) {
          e.unpersist(blocking = false)
          s.unpersist(blocking = false)
          // a NULL seed label never clamps: the distributed coalesce
          // (seed, maj, label) skips it — keep such seeds only in the
          // node set
          val seedNodes = seedRows.map(_.getString(0)).toSet
          val seedMap = seedRows.filterNot(_.isNullAt(1))
            .map(r => r.getString(0) -> r.getString(1)).toMap
          val ns = (es.iterator.map(_._1) ++ es.iterator.map(_._2)).toSet ++
            seedNodes
          var labels: Map[String, String] =
            ns.iterator.map(v => v -> seedMap.getOrElse(v, null)).toMap
          var iter = 0
          while (iter < iters) {
            val cnt = scala.collection.mutable.HashMap.empty[(String, String), Long]
            es.foreach { case (src, dst, _) =>
              val l = labels(src)
              if (l != null)
                cnt.update((dst, l), cnt.getOrElse((dst, l), 0L) + 1L)
            }
            val maj = cnt.toSeq.groupBy(_._1._1).map { case (dst, ls) =>
              dst -> ls.map { case ((_, l), c) => (-c, l) }.min._2
            }
            labels = labels.map { case (v, prev) =>
              v -> seedMap.getOrElse(v, maj.getOrElse(v, prev))
            }
            iter += 1
          }
          import org.apache.spark.sql.Row
          import org.apache.spark.sql.types.{StringType, StructField, StructType}
          return spark.createDataFrame(
            spark.sparkContext.parallelize(
              ns.toSeq.sorted.map(v => Row(v, labels(v))), 1),
            StructType(Seq(StructField("node", StringType),
              StructField("label", StringType))))
        }
      }
    }

    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .union(s.select("node")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var (labels, prevRdd) = checkpointGen(
      nodes.join(s, Seq("node"), "left")
        .select(col("node"), col("seed").as("label")), checkpointDir)
    var iter = 0
    while (iter < iters) {
      val maj = e
        .join(labels.filter(col("label").isNotNull)
          .select(col("node").as("src"), col("label").as("nl")), "src")
        .groupBy(col("dst"), col("nl")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("cnt")).as("neg"), col("nl").as("l"))).as("best"))
        .select(col("dst").as("node"), col("best.l").as("maj"))
      val (next, nextRdd) = checkpointGen(
        labels.join(s, Seq("node"), "left")
          .join(maj, Seq("node"), "left")
          .select(col("node"),
            coalesce(col("seed"), col("maj"), col("label")).as("label")),
        checkpointDir)
      next.count()
      prevRdd.unpersist(blocking = false)
      prevRdd = nextRdd
      labels = next
      iter += 1
    }
    e.unpersist(blocking = false)
    s.unpersist(blocking = false)
    nodes.unpersist(blocking = false)
    releaseLastGen(prevRdd, checkpointDir)
    labels
  }
}
