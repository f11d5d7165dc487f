package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style semantic deduplication (public method: Abbas et al.,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv 2303.09540): cluster the embedding space with
  * k-means, then look for near-duplicates ONLY among cluster-mates.
  * The clustering turns the O(n²) all-pairs cosine sweep into
  * Σ_c n_c² work — with k chosen so cells stay ~constant-sized
  * (k ∝ n/targetCellSize), the sweep is linear in the corpus.
  *
  * Relationship to the other embedding-dedup paths in [[Dedup]]:
  *   - [[Dedup.cosinePairs]] — exact all-pairs, guarded oracle anchor;
  *   - [[Dedup.cosinePairsLshAuto]] — hyperplane-bucketed candidates,
  *     recall is probabilistic per pair (tunable miss probability);
  *   - this — partition-by-clustering: recall is structural (a pair is
  *     found iff both land in the same cell, which near-identical
  *     vectors do: identical directions have identical centroid
  *     cosines, so they argmax to the same cell under the total-order
  *     tie-break). Chance same-direction collisions aside, a pair at
  *     cos ≥ threshold split across two cells is missed — the standard
  *     SemDeDup trade, measured in [[SemanticDedupSpec]] against the
  *     exact sweep.
  *
  * 100 TB posture: centroids are a k-row broadcast; assignment is one
  * narrow pass over the corpus with a map-side-combined argmax (the
  * |corpus|·k crossJoin rows never shuffle — see
  * [[Similarity.assignCells]]); the pair sweep shuffles the assigned
  * frame by cell id only. Cell-size skew is the failure mode to watch:
  * a degenerate clustering (one giant cell) re-creates the quadratic
  * sweep, so k-means refinement (`iters` > 0) is the mitigation, plus
  * AQE's skew-join splitting on the cid shuffle. Determinism: centroid
  * seeding is by id (first `nCentroids`), refinement means are exact
  * decimal sums, all tie-breaks total orders — byte-identical replans.
  */
object SemanticDedup {

  /** Bounded persisted-frame window: the assigned-clusters frame feeds
    * both sides of the pair self-join (and the survivors anti-join), and
    * recomputing it means re-running the argmax assignment per consumer. */
  private val cacheWindow = new CacheWindows(2)

  def releaseCaches(): Unit = cacheWindow.releaseAll()

  /** Cluster assignment `(cid, id, v, nrm)`: centroids seeded from the
    * first `nCentroids` ids, optionally refined with `iters` k-means
    * passes (deterministic decimal means — [[Similarity.refineCentroids]]).
    * `iters = 0` keeps the whole dataflow SQL-replayable for the
    * differential oracle; refinement is spec-verified for determinism.
    *
    * Seeding: `seedByHash = false` (default) takes ids `< nCentroids` —
    * the IVF convention, fine when ids are dense from 0. On a corpus
    * whose ids cluster by ingestion batch (every replica/shard offset by
    * a constant), that draws ALL seeds from one corner of the data;
    * `seedByHash = true` instead takes the `nCentroids` smallest
    * `(xxhash64(id), id)` — a deterministic uniform sample that plans as
    * a distributed top-k (`TakeOrderedAndProject`: per-partition heads +
    * a k-row driver merge, no global sort, no single-partition window). */
  def assignClusters(emb: DataFrame, idCol: String, vecCol: String,
                     nCentroids: Int = 16, iters: Int = 0,
                     seedByHash: Boolean = false): DataFrame = {
    require(nCentroids > 0, s"nCentroids must be positive: $nCentroids")
    val c = emb.select(col(idCol).as("nn_id"), col(vecCol).as("nn_vec"),
      Dedup.l2norm(col(vecCol)).as("nn_nrm"))
    val seeds =
      if (seedByHash)
        emb.select(col(idCol), col(vecCol))
          .orderBy(xxhash64(col(idCol)), col(idCol)).limit(nCentroids)
      else emb.filter(col(idCol) < nCentroids).select(col(idCol), col(vecCol))
    var cents = seeds
      .select(col(idCol).cast("long").as("cid"), col(vecCol).as("c_vec"),
        Dedup.l2norm(col(vecCol)).as("c_nrm"))
    for (_ <- 0 until iters)
      cents = Similarity.refineCentroids(Similarity.assignCells(c, cents))
    Similarity.assignCells(c, cents)
      .select(col("cid"), col("nn_id").as("id"), col("nn_vec").as("v"),
        col("nn_nrm").as("nrm"))
  }

  /** Within-cell near-duplicate pairs `(cid, vec_i, vec_j, cos)` at
    * `cos ≥ threshold`, `vec_i < vec_j`. Exact cosine (sequential fold,
    * bit-deterministic) over cluster-mates only — the SemDeDup candidate
    * structure. The assigned frame is persisted (bounded window) so the
    * self-join's two sides read one materialization of the assignment
    * instead of running the argmax pass twice. */
  def semanticPairs(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double = 0.9, nCentroids: Int = 16,
                    iters: Int = 0, seedByHash: Boolean = false): DataFrame = {
    val a = cacheWindow.add(
      assignClusters(emb, idCol, vecCol, nCentroids, iters, seedByHash))
    // eager materialization (the cosinePairsLsh/bm25 convoy guard): the
    // cell self-join below scans `a` once per side — and semanticSurvivors
    // adds an anti-join third scan — so without this action the cold
    // cache is raced and the centroid-assignment pass (the dominant
    // |corpus|×k dot-fold cost) can evaluate per consumer. Measured at
    // the 200k-vector replica (r15): survivors 92 s → see SCALE.md.
    a.count()
    val l = a.select(col("cid"), col("id").as("vec_i"), col("v").as("v_i"),
      col("nrm").as("n_i"))
    val r = a.select(col("cid"), col("id").as("vec_j"), col("v").as("v_j"),
      col("nrm").as("n_j"))
    l.join(r, "cid")
      .filter(col("vec_i") < col("vec_j"))
      .select(col("cid"), col("vec_i"), col("vec_j"),
        (Dedup.dot(col("v_i"), col("v_j")) / (col("n_i") * col("n_j")))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup survivors `(idCol, cid)`: a vector is DROPPED iff some
    * smaller-id cluster-mate sits at `cos ≥ threshold` — the greedy
    * keep-lowest-id rule, evaluated against the full neighbor relation
    * (dominated-by-ANY-smaller-id, independent of whether the dominator
    * itself survives: deterministic, order-free, one anti-join — no
    * sequential scan over the corpus). */
  def semanticSurvivors(emb: DataFrame, idCol: String, vecCol: String,
                        threshold: Double = 0.9, nCentroids: Int = 16,
                        iters: Int = 0, seedByHash: Boolean = false): DataFrame = {
    val a = cacheWindow.add(
      assignClusters(emb, idCol, vecCol, nCentroids, iters, seedByHash))
    val dropped = semanticPairs(emb, idCol, vecCol, threshold, nCentroids,
      iters, seedByHash).select(col("vec_j").as("id")).distinct()
    a.join(dropped, Seq("id"), "left_anti")
      .select(col("id").as(idCol), col("cid"))
  }
}
