package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  test("shingles: distinct word 3-grams; empty below n tokens") {
    val df = Seq((1L, "a b c d"), (2L, "a b"), (3L, "x x x x x"))
      .toDF("doc_id", "text")
      .select($"doc_id", Dedup.shingles($"text", 3).as("sh"))
    val m = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(m(1L).toSet == Set("a b c", "b c d"))
    assert(m(2L).isEmpty)
    assert(m(3L) == Seq("x x x")) // distinct collapses repeats
  }

  test("exactByKey keeps min id and counts copies") {
    val df = Seq((1L, "dup"), (2L, "dup"), (3L, "solo")).toDF("id", "t")
    val out = Dedup.exactByKey(df, Seq("t"), "id").orderBy("keep_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(("dup", 1L, 2L), ("solo", 3L, 1L)))
  }

  test("jaccardPairs finds planted near-dups, never self-pairs") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8).collect()
    assert(pairs.nonEmpty, "fixture plants near-duplicate documents")
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(r => r.getDouble(2) >= 0.8 && r.getDouble(2) <= 1.0))
  }

  test("jaccardPairs on a hand-checked micro corpus") {
    // doc1/doc2 share 3 of 4 distinct shingles (J=3/5=0.6); doc3 disjoint
    val df = Seq(
      (1L, "a b c d e"), // shingles: abc bcd cde
      (2L, "a b c d x"), // shingles: abc bcd cdx
      (3L, "p q r s t")
    ).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(df, "doc_id", "text", 3, 0.4).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(math.abs(out.head.getDouble(2) - 0.5) < 1e-15) // 2 common / 4 union
  }

  /** (doc_i, doc_j) → jaccard of a pair frame. */
  private def jaccardKeyed(pairs: org.apache.spark.sql.DataFrame) =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  test("df-capped jaccardPairs reports exact similarities with full recall here") {
    val exact = jaccardKeyed(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8))
    val (capped, engaged) = Dedup.jaccardPairsWith(docs, "doc_id", "text", 3, 0.8,
      engage = Some(true))
    assert(engaged && exact.nonEmpty)
    assert(jaccardKeyed(capped) == exact,
      "cap=50 on the fixture corpus must not lose pairs, and verify is exact")
  }

  test("adaptive df-cap: stays uncapped on the diverse fixture, engages " +
    "on a common-shingle corpus, same pairs either way") {
    // fixture corpus: diverse vocabulary → Σdf²/2 < 4·Σ_{df≤50}df²/2 → no cap
    val (adaptive, engaged) = Dedup.jaccardPairsWith(docs, "doc_id", "text", 3, 0.8,
      engage = None)
    val exact = jaccardKeyed(Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8))
    assert(!engaged && exact.nonEmpty)
    assert(jaccardKeyed(adaptive) == exact)
    assert(jaccardKeyed(Dedup.jaccardPairsAdaptive(docs, "doc_id", "text", 3, 0.8)) == exact)
    // pathological corpus: every doc opens with one hot prefix (6 shingles
    // of df 440, over the cap of 50), so Σdf² dwarfs the capped volume;
    // every 10th doc has a copy with its last token changed (17 of 19
    // shingles shared, J ≈ 0.89) — pairs the capped branch can only find
    // through their rare tail shingles
    val prefix = "zz yy xx ww vv uu tt ss"
    def tail(i: Int) = (0 until 12).map(k => s"t${i}x$k")
    val hotRows = (0 until 400).map(i => (i.toLong, s"$prefix ${tail(i).mkString(" ")}")) ++
      (0 until 400 by 10).map(i =>
        (1000L + i, s"$prefix ${tail(i).init.mkString(" ")} t${i}y11"))
    val hot = hotRows.toDF("doc_id", "text")
    val (hotAdaptive, hotEngaged) = Dedup.jaccardPairsWith(hot, "doc_id", "text", 3, 0.8,
      engage = None)
    val hotExact = jaccardKeyed(Dedup.jaccardPairs(hot, "doc_id", "text", 3, 0.8))
    assert(hotEngaged, "the hot prefix's volume must engage the cap")
    assert(hotExact.keySet == (0 until 400 by 10).map(i => (i.toLong, 1000L + i)).toSet)
    assert(jaccardKeyed(hotAdaptive) == hotExact)
  }

  test("cosinePairs refuses corpora beyond maxRows (anchor guard)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      Dedup.cosinePairs(e, "vec_id", "embedding", 0.95, maxRows = 10L)
    }
    assert(ex.getMessage.contains("cosinePairsLshAuto"))
    // raising the cap explicitly still works
    assert(Dedup.cosinePairs(e.limit(20), "vec_id", "embedding", -0.99,
      maxRows = 20L).count() === 20L * 19 / 2)
  }

  test("minhashLshPairs equals exact jaccardPairs on the fixture corpus") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"LSH-verified pairs must equal exact pairs; " +
      s"missing=${exact -- lsh}, extra=${lsh -- exact}")
  }

  test("simhashPairs: identical docs at hamming 0; bounded by maxHamming") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", 3).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getInt(2) <= 3))
    // exact text duplicates must appear with hamming 0
    val dupPair = docs.as("a").join(docs.as("b"),
        $"a.text" === $"b.text" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id", $"b.doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    dupPair.foreach(p => assert(got.contains(p), s"exact dup $p missed"))
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, "doc_id", "text", 9)
    }
  }

  test("exactSurvivors keeps one row per text, the min doc_id") {
    val surv = Dedup.exactSurvivors(docs, Seq("text"), "doc_id")
    val expected = Dedup.exactByKey(docs, Seq("text"), "doc_id").count()
    assert(surv.count() == expected)
    assert(surv.select("doc_id").distinct().count() == expected)
  }

  test("removeNearDups drops the greater id of every near-dup pair") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val kept = Dedup.removeNearDups(docs, pairs, "doc_id")
    val dropped = pairs.select("doc_j").distinct().count()
    assert(kept.count() == docs.count() - dropped)
    // no kept doc may appear as doc_j of any pair
    assert(kept.join(pairs, kept("doc_id") === pairs("doc_j")).isEmpty)
  }

  test("nearDupClusters: transitive components, chains, singletons") {
    // chain 1-2-3-4-5 (forces propagation across hops), pair 10-11,
    // singletons 20, 21; cluster_id must be the component minimum
    val d = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L, 21L)).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_i", "doc_j")
    val out = Dedup.nearDupClusters(d, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 21L))
  }

  test("nearDupClusters: forced distributed loop (smallGraphCap=0) is " +
    "bit-identical to the driver union-find") {
    val rng = new scala.util.Random(17)
    val ids = (1L to 120L)
    val pairs = (1 to 150).map(_ =>
      (1L + rng.nextInt(120), 1L + rng.nextInt(120)))
      .filter { case (a, b) => a != b }.map { case (a, b) => (a, b) }
      .toDF("doc_i", "doc_j")
    val d = ids.toDF("doc_id")
    def run() = Dedup.nearDupClusters(d, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fast = run()
    System.setProperty("graft.graph.smallGraphCap", "0")
    try assert(run() == fast)
    finally System.clearProperty("graft.graph.smallGraphCap")
  }

  test("nearDupClusters reliable-checkpoint mode (checkpointDir set) " +
       "matches the localCheckpoint default") {
    // the 100 TB posture: RDD.checkpoint into a real directory, so an
    // executor loss mid-loop recovers from files instead of failing the
    // job (the localCheckpoint default documents that failure mode)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    // the checkpoint machinery lives in the DISTRIBUTED loop — force it
    // (the small-graph driver path has no executor state to lose and
    // would not write generation files)
    System.setProperty("graft.graph.smallGraphCap", "0")
    try {
      val d = (Seq(1L, 2L, 3L, 4L, 5L, 10L, 11L, 20L)).toDF("doc_id")
      val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
        .toDF("doc_i", "doc_j")
      val out = Dedup.nearDupClusters(d, pairs, "doc_id",
          checkpointDir = Some(dir))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
        10L -> 10L, 11L -> 10L, 20L -> 20L))
      // the loop really checkpointed reliably: generation files exist
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .anyMatch(p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no rdd-* checkpoint dirs under $dir")
    } finally {
      System.clearProperty("graft.graph.smallGraphCap")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("nearDupClusters converges on a 300-node chain in logarithmic " +
       "rounds with constant-size plans (lineage truncated per round)") {
    // a worst-case diameter component: pointer jumping needs ~log2(300)≈9
    // rounds; before the per-round localCheckpoint the logical plan
    // doubled every round (2^9 joins by convergence) and analysis cost
    // exploded — this test is the regression guard for that discipline
    val n = 300L
    val d = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("doc_i", "doc_j")
    val out = Dedup.nearDupClusters(d, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.size == n)
    assert(out.values.forall(_ == 1L), "one component, min label everywhere")
  }

  test("nearDupClusters agrees with a driver-side closure on the fixture") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
    val got = Dedup.nearDupClusters(docs, pairs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: union-find over the collected pair list
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.collect().foreach { r =>
      val (a, b) = (find(r.getLong(0)), find(r.getLong(1)))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val ids = docs.select("doc_id").collect().map(_.getLong(0))
    val want = ids.map(i => i -> find(i)).toMap
    assert(got == want)
  }

  test("cosinePairsLsh equals exact cosinePairs on the fixture corpus " +
       "(loose recall demo: cos >= 0.4, 32 tables x 2 planes)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.cosinePairsLsh(e, "vec_id", "embedding", 0.4,
        tables = 32, planes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.nonEmpty, "fixture plants cosine near-dups")
    assert(lsh == exact, s"LSH-verified pairs must equal exact pairs " +
      s"(and cosines must be bit-identical); missing=${exact.keySet -- lsh.keySet}, " +
      s"extra=${lsh.keySet -- exact.keySet}")
  }

  test("cosinePairsLsh production operating point (cos >= 0.9, 16x8) " +
       "keeps full recall on planted near-identical dups") {
    // The parquet fixture's max pair cosine is ~0.51 — a clean corpus, on
    // which the production sweep correctly returns empty (that case is
    // oracle-checked by q_dedup_cosine_lsh). Recall at the tight
    // threshold needs actual near-identical dups, so plant them: 60 base
    // vectors, every third duplicated with a tiny perturbation
    // (cos > 0.98, where 16x8 recall is ~1 - 6e-7 per pair).
    val rng = new scala.util.Random(7)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
    val base = (0L until 60L).map(i => (i, vec()))
    val dups = base.filter(_._1 % 3 == 0).map { case (i, v) => (1000L + i, perturb(v)) }
    val e = spark.createDataFrame(base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Dedup.cosinePairsLsh(e, "vec_id", "embedding", 0.9,
        tables = 16, planes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size == 20, s"all 20 planted dup pairs qualify, got ${exact.size}")
    assert(lsh == exact,
      s"missing=${exact.keySet -- lsh.keySet}, extra=${lsh.keySet -- exact.keySet}")
    // and the buckets genuinely prune: no pair below threshold survives
    assert(lsh.values.forall(_ >= 0.9))
  }

  test("cosineCrossPairsLsh equals the exact bipartite cosine restriction") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.filter($"vec_id" % 2 === 0)
    val batch = e.filter($"vec_id" % 2 === 1)
    val got = Dedup.cosineCrossPairsIndexed(
        Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding", tables = 32, planes = 2),
        batch, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // exact reference: all cross pairs over the threshold
    val want = Dedup.cosinePairs(e, "vec_id", "embedding", 0.4)
      .collect().flatMap { r =>
        val (i, j, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        // normalize to (corpus, batch) orientation; drop same-side pairs
        if (i % 2 == 0 && j % 2 == 1) Some((i, j) -> c)
        else if (i % 2 == 1 && j % 2 == 0) Some((j, i) -> c)
        else None
      }.toMap
    assert(want.nonEmpty, "fixture has cross-side pairs over 0.4")
    assert(got == want,
      s"missing=${want.keySet -- got.keySet}, extra=${got.keySet -- want.keySet}")
  }

  test("minhashLshCrossPairs equals exact jaccard restricted to cross pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    // exact jaccardPairs orients doc_i < doc_j; normalize to unordered keys
    val exactCross = Dedup.jaccardPairs(docs, "doc_id", "text", 3, 0.8)
      .filter(($"doc_i" % 2) =!= ($"doc_j" % 2))
      .collect()
      .map(r => Set(r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cross = Dedup.minhashLshCrossPairs(corpus, batch, "doc_id", "text", 3, 0.8)
      .collect()
      .map(r => Set(r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cross == exactCross)
    // orientation contract: doc_i from the corpus (even), doc_j from the batch
    Dedup.minhashLshCrossPairs(corpus, batch, "doc_id", "text", 3, 0.8)
      .collect().foreach { r =>
        assert(r.getLong(0) % 2 == 0 && r.getLong(1) % 2 == 1)
      }
  }

  test("a parquet-persisted CorpusIndex reproduces the inline cross pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpus = docs.filter($"doc_id" % 2 === 0)
    val batch = docs.filter($"doc_id" % 2 === 1)
    val inline = Dedup.minhashLshCrossPairs(corpus, batch, "doc_id", "text", 3, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // persist the index the way a production pipeline would, read it back
    val d = java.nio.file.Files.createTempDirectory("graft_cidx_").toString
    val built = Dedup.buildCorpusIndex(corpus, "doc_id", "text", 3)
    built.index.write.parquet(s"$d/index")
    built.sizes.write.parquet(s"$d/sizes")
    built.banded.write.parquet(s"$d/banded")
    val persisted = Dedup.CorpusIndex(
      spark.read.parquet(s"$d/index"),
      spark.read.parquet(s"$d/sizes"),
      spark.read.parquet(s"$d/banded"), n = 3)
    val indexed = Dedup
      .minhashLshCrossPairsIndexed(persisted, batch, "doc_id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(indexed == inline)
  }

  test("a parquet-persisted EmbeddingIndex reproduces the inline cosine cross pairs") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpus = e.filter($"vec_id" % 2 === 0)
    val batch = e.filter($"vec_id" % 2 === 1)
    val inline = Dedup.cosineCrossPairsIndexed(
        Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding", tables = 32, planes = 2),
        batch, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val d = java.nio.file.Files.createTempDirectory("graft_eidx_").toString
    val built = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      tables = 32, planes = 2)
    built.buckets.write.parquet(s"$d/buckets")
    built.vectors.write.parquet(s"$d/vectors")
    val persisted = Dedup.EmbeddingIndex(
      spark.read.parquet(s"$d/buckets"),
      spark.read.parquet(s"$d/vectors"),
      tables = 32, planes = 2, dims = 64)
    val indexed = Dedup
      .cosineCrossPairsIndexed(persisted, batch, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inline.nonEmpty)
    assert(indexed == inline)
  }

  test("cosine is 1.0 on identical vectors, bit-deterministic") {
    val df = Seq((1L, Array(1.0f, 2.0f, 3.0f)), (2L, Array(1.0f, 2.0f, 3.0f)),
      (3L, Array(-3.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Dedup.cosinePairs(df, "vec_id", "embedding", 0.99).collect()
    assert(out.length == 1)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("lshConfigFor: planes track log2(n) at constant occupancy, tables " +
       "meet the recall target, and bounds hold") {
    // occupancy invariant: n / 2^planes stays within [occ/2, occ]
    for (n <- Seq(100L, 2000L, 60000L, 2000000L, 100000000L)) {
      val (tables, planes) = Dedup.lshConfigFor(n, 0.9, targetOccupancy = 8L)
      assert(planes >= 2 && planes <= 30)
      assert(tables >= 1 && tables <= 512)
      if (n > 32 && planes < 30)
        assert(n.toDouble / math.pow(2, planes) <= 8.0 + 1e-9,
          s"occupancy exceeded at n=$n: planes=$planes")
      // recall: P[miss] = (1 - p1)^tables <= pMiss (up to the tables cap)
      val p1 = math.pow(1.0 - math.acos(0.9) / math.Pi, planes)
      if (tables < 512)
        assert(math.pow(1.0 - p1, tables) <= 1e-4 * (1 + 1e-9),
          s"recall target missed at n=$n: tables=$tables planes=$planes")
    }
    // deeper corpus => never fewer planes (monotone occupancy control)
    val deeper = Seq(1000L, 10000L, 100000L, 1000000L)
      .map(n => Dedup.lshConfigFor(n, 0.9)._2)
    assert(deeper == deeper.sorted)
  }

  test("cosinePairsLshAuto keeps full recall on planted near-identical " +
       "dups (auto-sized config)") {
    val rng = new scala.util.Random(11)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
    val base = (0L until 60L).map(i => (i, vec()))
    val dups = base.filter(_._1 % 3 == 0).map { case (i, v) => (1000L + i, perturb(v)) }
    val e = spark.createDataFrame(base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val auto = Dedup.cosinePairsLshAuto(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size == 20)
    assert(auto == exact,
      s"missing=${exact.keySet -- auto.keySet}, extra=${auto.keySet -- exact.keySet}")
  }

  test("cosinePairsLshPinned: full recall on planted near-identical dups " +
       "(pinned-tables linear mode)") {
    val rng = new scala.util.Random(17)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
    val base = (0L until 60L).map(i => (i, vec()))
    val dups = base.filter(_._1 % 3 == 0).map { case (i, v) => (1000L + i, perturb(v)) }
    val e = spark.createDataFrame(base ++ dups).toDF("vec_id", "embedding")
    val exact = Dedup.cosinePairs(e, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val pinned = Dedup.cosinePairsLshPinned(e, "vec_id", "embedding", 0.9,
        tables = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(exact.size == 20)
    assert(pinned == exact,
      s"missing=${exact.keySet -- pinned.keySet}, extra=${pinned.keySet -- exact.keySet}")
  }

  test("pinned-tables mode scales LINEARLY: candidate volume ~n at 10x " +
       "the vectors, recall decay quantified, auto mode grows tables") {
    // the 10x linear-scaling pin (VERDICT r14 item 4): measure the
    // CANDIDATE volume (the cost driver — SCALE.md's 414x lesson) of the
    // pinned config on synthetic Gaussian corpora at n and 10n. Pinned
    // tables + occupancy-sized planes must stay ~linear; a quadratic
    // candidate law (the fixed-planes cliff) would read ~100x here.
    import org.apache.spark.sql.DataFrame
    val tables = 4
    def corpus(n: Int, seed: Int): DataFrame = {
      val rng = new scala.util.Random(seed)
      spark.createDataFrame(
        (0L until n.toLong).map(i => (i, Array.fill(16)(rng.nextGaussian().toFloat))))
        .toDF("vec_id", "embedding").repartition(8)
    }
    def candidates(e: DataFrame, n: Long): Long = {
      val planes = Dedup.lshPlanesFor(n)
      val b = graft.ops.Similarity
        .lshBuckets(e.select(col("vec_id").as("id"), col("embedding").as("v")),
          "v", tables, planes, 16)
        .select("id", "table", "bucket")
      b.as("a").join(b.as("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id")).count()
    }
    val n1 = 2000L
    val n10 = 20000L
    val c1 = candidates(corpus(n1.toInt, 21), n1)
    val c10 = candidates(corpus(n10.toInt, 22), n10)
    assert(c1 > 0 && c10 > 0)
    val ratio = c10.toDouble / c1
    assert(ratio <= 20.0,
      s"pinned-tables candidates must stay ~linear for 10x vectors: " +
        s"$c1 -> $c10 (${ratio}x; quadratic would read ~100x)")
    // the trade made explicit: planes deepen with n, pinned tables keep
    // cost linear, so P[miss] at the threshold RISES (recall decays) —
    // while the auto mode grows tables to hold P[miss] at the target
    val p1 = Dedup.lshPlanesFor(n1)
    val p10 = Dedup.lshPlanesFor(n10)
    assert(p10 > p1)
    assert(Dedup.lshMissProbability(0.9, tables, p10)
      > Dedup.lshMissProbability(0.9, tables, p1))
    assert(Dedup.lshConfigFor(n10, 0.9)._1 >= Dedup.lshConfigFor(n1, 0.9)._1)
  }

  test("cosineCrossPairsLshPinned: bipartite pinned-tables mode keeps " +
       "planted cross-side recall") {
    val rng = new scala.util.Random(19)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    val corpusRows = (0L until 50L).map(i => (2 * i, vec())) // even ids
    // batch = odd-id near-copies of every 5th corpus vector (exact 0.5x
    // scalings: identical direction => structural bucket agreement)
    val batchRows = corpusRows.filter(_._1 % 10 == 0)
      .map { case (i, v) => (i + 1, v.map(_ * 0.5f)) }
    val corpus = spark.createDataFrame(corpusRows).toDF("vec_id", "embedding")
    val batch = spark.createDataFrame(batchRows).toDF("vec_id", "embedding")
    // pinned tables, planes occupancy-sized from the corpus count
    val index = Dedup.buildEmbeddingIndex(corpus, "vec_id", "embedding",
      tables = 8, planes = Dedup.lshPlanesFor(corpus.count()))
    val out = Dedup.cosineCrossPairsIndexed(index, batch, "vec_id", "embedding", 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == corpusRows.filter(_._1 % 10 == 0)
      .map { case (i, _) => (i, i + 1) }.toSet)
  }

  test("cosineCrossPairsLshAuto equals the exact bipartite restriction " +
       "on planted cross-side dups") {
    val rng = new scala.util.Random(13)
    def vec() = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]) = v.map(x => x + 0.02f * rng.nextGaussian().toFloat)
    val corpusRows = (0L until 50L).map(i => (2 * i, vec())) // even ids
    val batchRows = corpusRows.take(15).map { case (i, v) => (i + 1, perturb(v)) }
    val corpus = spark.createDataFrame(corpusRows).toDF("vec_id", "embedding")
    val batch = spark.createDataFrame(batchRows).toDF("vec_id", "embedding")
    val got = Dedup
      .cosineCrossPairsLshAuto(corpus, batch, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val all = spark.createDataFrame(corpusRows ++ batchRows).toDF("vec_id", "embedding")
    val want = Dedup.cosinePairs(all, "vec_id", "embedding", 0.9)
      .collect().flatMap { r =>
        val (i, j, c) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        if (i % 2 == 0 && j % 2 == 1) Some((i, j) -> c)
        else if (i % 2 == 1 && j % 2 == 0) Some((j, i) -> c)
        else None
      }.toMap
    assert(want.size == 15, s"every planted cross pair qualifies, got ${want.size}")
    assert(got == want,
      s"missing=${want.keySet -- got.keySet}, extra=${got.keySet -- want.keySet}")
  }

  test("passagePairs finds offset-shifted passages; df cap drops boilerplate") {
    import java.security.MessageDigest
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // deterministically-ANCHORED passages: search for an 8-char leading
    // gram whose md5 starts with '0' (the anchor predicate), so the test
    // never depends on the 1/16 anchor density being lucky
    def anchoredGram(prefix: String): String =
      Iterator.from(0).map(i => f"$prefix$i%06d8".take(8))
        .find(g => md5hex(g).startsWith("0")).get
    val passage = anchoredGram("P") + ("shared-passage-content-" * 5).take(112)
    val boiler = anchoredGram("B") + ("boilerplate-footer-text-" * 5).take(112)
    val docs = (Seq(
      1L -> (s"first-document-unique-lead-in $passage"),
      2L -> (s"a second very different beginning here $passage and a tail")) ++
      (3L to 6L).map(i => i -> s"doc-number-$i-own-intro $boiler"))
      .toDF("doc_id", "text")
    // uncapped: the planted pair AND all boilerplate pairs
    val all = graft.ops.Dedup.passagePairs(docs, "doc_id", "text", window = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(all.contains((1L, 2L)), s"planted pair missing from $all")
    assert((3L to 6L).combinations(2).forall(p => all.contains((p(0), p(1)))),
      s"boilerplate pairs missing from $all")
    // df cap 3: the boilerplate windows (df = 4) are pruned, the planted
    // passage (df = 2) survives — rare windows are the signal
    val capped = graft.ops.Dedup.passagePairs(docs, "doc_id", "text",
      window = 50, maxDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)), s"expected only the planted pair, got $capped")

    // cross-batch form: corpus (1,3,4) × batch (2,5,6) — only the planted
    // corpus×batch pair and boilerplate pairs crossing the split appear,
    // never corpus-internal ones; indexed ≡ inline
    val corpus = docs.filter(col("doc_id").isin(1L, 3L, 4L))
    val batch = docs.filter(col("doc_id").isin(2L, 5L, 6L))
    val cross = graft.ops.Dedup.passageCrossPairs(corpus, batch,
      "doc_id", "text", window = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cross == Set((1L, 2L), (3L, 5L), (3L, 6L), (4L, 5L), (4L, 6L)),
      s"bipartite pairs only, got $cross")
    val idx = graft.ops.Dedup.buildPassageIndex(corpus, "doc_id", "text",
      window = 50)
    val viaIndex = graft.ops.Dedup
      .passageCrossPairsIndexed(idx, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == cross)
    // corpus-side df cap 1: boilerplate (corpus df = 2 via docs 3,4) is
    // pruned, the planted passage (corpus df = 1) survives
    val crossCapped = graft.ops.Dedup.passageCrossPairsIndexed(idx, batch,
      "doc_id", "text", maxDf = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(crossCapped == Set((1L, 2L)), s"expected planted only, got $crossCapped")
  }

  test("sourceOverlapMatrix folds pairs to an unordered source matrix") {
    val docs = Seq(
      (1L, "A"), (2L, "B"), (3L, "A"), (4L, "B"), (5L, "A"),
      (6L, Option.empty[String].orNull)
    ).toDF("doc_id", "source")
    // pairs: A↔B twice (1-2, 4-5 reversed sources), A↔A once (1-3),
    // one pair touching a NULL source (5-6) must drop
    val pairs = Seq((1L, 2L), (4L, 5L), (1L, 3L), (5L, 6L))
      .toDF("doc_i", "doc_j")
    val m = Dedup.sourceOverlapMatrix(pairs, docs, "doc_id", "source")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs_a"),
          r.getAs[Long]("n_docs_b"))).toMap
    assert(m.keySet == Set(("A", "A"), ("A", "B")))
    // A-B pairs: (1→2) and (5→4): src_a side docs {1,5}, src_b side {2,4}
    assert(m(("A", "B")) == ((2L, 2L, 2L)))
    // diagonal: within-A pair (1,3)
    assert(m(("A", "A")) == ((1L, 1L, 1L)))
  }

  test("duplicationWeights downweights by inverse cluster size") {
    val docs = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    // clusters: {1,2,3} via chain, {5,6}, singleton {4}
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_i", "doc_j")
    val w = Dedup.duplicationWeights(docs, pairs, "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("weight_bp"))).toMap
    assert(w.size == 6)
    Seq(1L, 2L, 3L).foreach(d => assert(w(d) == ((3L, 3333L))))
    Seq(5L, 6L).foreach(d => assert(w(d) == ((2L, 5000L))))
    assert(w(4L) == ((1L, 10000L)))
    // total contributed weight of a cluster ≈ one doc (floor rounding)
    assert(Seq(1L, 2L, 3L).map(w(_)._2).sum == 9999L)
  }
}
