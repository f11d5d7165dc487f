package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ConfScope

/** Distributed global ranking — the scalable form of
  * `percent_rank() OVER (ORDER BY v)` (no partition clause), which Spark
  * plans as a SINGLE-partition window: every row funnels through one task,
  * the classic 100 TB scale-killer (SURVEY.md §4 anti-pattern 3, mandated
  * by the reference's customer mart
  * `m_customer_sales_report_task.py:106-122`).
  *
  * The key observation: RANK (and therefore percent_rank = (rank-1)/(n-1))
  * depends only on the row's VALUE — every tie shares the rank of the
  * first row of its run. So rank the DISTINCT values instead of the rows,
  * entirely IN-PLAN (building this DataFrame runs zero Spark jobs — it is
  * a free plan transform like any other operator; everything below
  * executes lazily at action time):
  *
  *   1. `groupBy(value).count()` — one map-side-combined shuffle; output
  *      is (value, cnt), two columns regardless of input width.
  *   2. Split the compact frame into `parts` ORDER-CONTIGUOUS buckets by
  *      a DETERMINISTIC boundary array computed in-plan: the sample is
  *      the `32 × parts` distinct values with the smallest
  *      `(xxhash64(v), v)` — a total, data-independent order, so the
  *      sampled SET is a pure function of the value set (a distributed
  *      top-k, single-partition merge bounded by k — a compact protocol,
  *      not row data). Evenly-strided elements of the sorted sample are
  *      the boundaries; `bucket(v)` = number of boundaries before `v` in
  *      sort order. Because the bucket id is a deterministic expression
  *      over (v, boundaries) — not `spark_partition_id()` over a range
  *      exchange, whose every physical instance SAMPLES its own
  *      boundaries — the two consumers below agree on the bucketing EVEN
  *      IF the frame is recomputed: cache eviction or release can cost a
  *      recompute, never a wrong result (the round-5 form persisted a
  *      range exchange precisely because its partition ids were not
  *      recompute-stable; the persist below is purely a performance
  *      choice and its eviction is safe). Equal values collapsed in
  *      step 1, so a tie run can never straddle a bucket boundary.
  *   3. Per-bucket totals collapse into ONE row carrying the sorted
  *      (pid, tot) array — a global aggregate, so its single-partition
  *      exchange moves at most `parts` compact rows (a bounded protocol,
  *      not row data; `PlanGate` distinguishes exactly this shape).
  *      Broadcast-cross-joining that row back gives every bucket its
  *      offset (array-HOF prefix sum over pids strictly before) and the
  *      global n — no driver action, no collected offsets.
  *   4. rank(v) = bucket offset + within-bucket running sum of counts
  *      strictly before v (a window PARTITIONED by bucket — distributed).
  *   5. Equi-join (null-safe) the (value, percent_rank) frame back.
  *
  * Shuffled volume is a few × |distinct values| compact rows plus the
  * join — never a single-partition exchange over row data. The computed
  * value is BIT-IDENTICAL to Spark's `percent_rank` window: same rank
  * definition, same `(rank-1)/(n-1)` double division (0.0 when n ≤ 1),
  * same null ordering (nulls last under DESC, first under ASC — Spark's
  * window defaults; nulls share the edge bucket and the in-bucket sort
  * places them).
  *
  * Bucket balance: the hash-min sample is uniform over distinct values
  * (xxhash64 is effectively a random permutation), so expected bucket
  * width is |distinct|/parts with the usual sample-quantile variance —
  * the same guarantee class as Spark's own RangePartitioner sample. A
  * skewed bucket degrades parallelism of one window partition, never
  * correctness.
  *
  * The input is scanned twice (once feeding the count shuffle, once as
  * the join probe) — callers ranking an expensive lineage should persist
  * it first, exactly like any multi-consumer diamond. Unlike the previous
  * eager-offset formulation there is no construction-time snapshot: both
  * sides evaluate at action time, so a retry loop or lazily-assembled DAG
  * can hold this frame for free.
  */
object Ranks {

  /** Recently-persisted bucketed rank frames, bounded and session-keyed
    * ([[CacheWindows]]: oldest unpersisted on overflow). Since round 6 the
    * bucket ids are deterministic expressions (scaladoc step 2), so
    * eviction or release here is never a wrong result — worst case the
    * compact frame and its boundary sample are recomputed, bit-identically. */
  private val cacheWindow = new CacheWindows(4)

  private def cached(df: DataFrame): DataFrame = cacheWindow.add(df)

  /** Drop every frame this module still has persisted (all sessions). */
  def releaseCaches(): Unit = cacheWindow.releaseAll()

  /** Boundary sample size multiplier: 32 sampled values per target bucket
    * (the same magnitude RangePartitioner uses per partition). */
  private val SamplePerBucket = 32

  /** The compact (distinct value → percent_rank) frame the protocol
    * computes before anything touches row data: columns `__rank_v`,
    * `__rank_pr`. Both public forms are tails over this — the join-back
    * ([[globalPercentRank]]) when every row needs its rank, the
    * broadcast-boundary form ([[tiersByPercentRank]]) when only
    * threshold-crossing matters. */
  private def distinctValueRanks(df: DataFrame, valueCol: String,
                                 descending: Boolean): DataFrame = {
    val spark = df.sparkSession
    val parts = math.max(
      spark.conf.get("spark.sql.shuffle.partitions", "32").toInt, 1)
    val compact = df.groupBy(col(valueCol).as("__rank_v"))
      .agg(count(lit(1)).as("__rank_cnt"))
    val sortKey = if (descending) col("__rank_v").desc else col("__rank_v").asc

    // Deterministic boundary array (scaladoc step 2): hash-min top-k
    // sample of the distinct non-null values, sorted, strided down to
    // ≤ parts-1 boundaries. Every operator here is a pure function of
    // the value SET (sort_array canonicalizes collect_list's order; the
    // top-k order (xxhash64(v), v) is total, so ties cannot flip the
    // sampled set) — a recompute reproduces it bit-identically.
    val sampled = compact.select(col("__rank_v"))
      .where(col("__rank_v").isNotNull)
      .orderBy(xxhash64(col("__rank_v")).asc, col("__rank_v").asc)
      .limit(SamplePerBucket * parts)
    val bnds = sampled
      .agg(sort_array(collect_list(col("__rank_v"))).as("__rank_s"))
      .select(
        when(size(col("__rank_s")) === 0, slice(col("__rank_s"), 1, 0))
          .otherwise(array_distinct(transform(
            sequence(lit(1), lit(math.max(parts - 1, 1))),
            i => element_at(col("__rank_s"),
              greatest(lit(1L),
                floor(i * size(col("__rank_s")) / lit(parts))).cast("int")))))
          .as("__rank_bnds"))

    // bucket(v): count of boundaries strictly before v in sort order.
    // Monotone non-decreasing along sortKey, deterministic. Nulls take
    // the edge bucket their ordering demands (desc → last, asc → first);
    // sharing it with extreme values is fine — the in-bucket window sort
    // separates them.
    val bucket =
      if (descending)
        when(col("__rank_v").isNull, size(col("__rank_bnds")))
          .otherwise(size(filter(col("__rank_bnds"), b => b > col("__rank_v"))))
      else
        when(col("__rank_v").isNull, lit(0))
          .otherwise(size(filter(col("__rank_bnds"), b => b < col("__rank_v"))))

    // persisted for PERFORMANCE only (one evaluation of the count shuffle
    // + boundary sample feeds both consumers); a recompute after eviction
    // re-derives identical bucket ids — see scaladoc step 2.
    val bucketed = cached(compact
      .crossJoin(broadcast(bnds))
      .withColumn("__rank_pid", bucket)
      .drop("__rank_bnds")
      .repartition(parts, col("__rank_pid")))

    // one row: the sorted (pid, tot) array — ≤ `parts` structs
    val totals = bucketed.groupBy("__rank_pid")
      .agg(sum("__rank_cnt").as("__rank_tot"))
      .agg(sort_array(collect_list(struct(
        col("__rank_pid").as("pid"), col("__rank_tot").as("tot")))).as("__rank_arr"))

    // counts strictly before the current value within its bucket
    val w = Window.partitionBy("__rank_pid").orderBy(sortKey)
      .rowsBetween(Window.unboundedPreceding, -1)

    bucketed
      .withColumn("__rank_in", coalesce(sum("__rank_cnt").over(w), lit(0L)))
      .crossJoin(broadcast(totals))
      .withColumn("__rank_off", aggregate(
        filter(col("__rank_arr"), x => x("pid") < col("__rank_pid")),
        lit(0L), (acc, x) => acc + x("tot")))
      .withColumn("__rank_n", aggregate(
        col("__rank_arr"), lit(0L), (acc, x) => acc + x("tot")))
      .withColumn("__rank_pr",
        when(col("__rank_n") <= 1L, lit(0.0)).otherwise(
          (col("__rank_off") + col("__rank_in")).cast("double") /
            (col("__rank_n") - 1L).cast("double")))
      .select(col("__rank_v"), col("__rank_pr"))
  }

  /** Append `outCol` = global percent_rank of `valueCol` (descending by
    * default, matching "top fraction" tiering semantics). */
  def globalPercentRank(df: DataFrame, valueCol: String,
                        descending: Boolean = true,
                        outCol: String = "percent_rank"): DataFrame = {
    val ranks = distinctValueRanks(df, valueCol, descending)
      .withColumnRenamed("__rank_pr", outCol)
    df.join(ranks, col(valueCol) <=> col("__rank_v"), "left").drop("__rank_v")
  }

  /** Label every row by which percent-rank threshold band its `valueCol`
    * falls in — `labels(i)` for the FIRST `thresholds(i)` with
    * `percent_rank(value) <= thresholds(i)`, else `labels.last`
    * (`labels.size == thresholds.size + 1`; thresholds ascending).
    * Bit-identical to tiering on [[globalPercentRank]]'s output, but the
    * execution never joins ranks back to rows: percent_rank is monotone
    * in the value, so band membership collapses to comparing the value
    * against ONE BOUNDARY VALUE per threshold — the most extreme value
    * (min under descending, max under ascending) whose rank clears the
    * threshold, aggregated off the compact distinct-value frame and
    * broadcast as a single row. Row-side cost is a broadcast cross join
    * plus a when-chain: ZERO row-data shuffle, where the join-back form
    * re-keys the whole input on the value column. At 100 TB that makes
    * tiering as cheap as any map-side projection. Nulls (which the value
    * comparisons would mislabel as the `otherwise` band) get their band
    * from the null run's own percent_rank, carried alongside the
    * boundaries — under DESC nulls rank last (Bronze-ish), under ASC
    * first, exactly the window convention. */
  def tiersByPercentRank(df: DataFrame, valueCol: String,
                         thresholds: Seq[Double], labels: Seq[String],
                         descending: Boolean = true,
                         outCol: String = "tier"): DataFrame = {
    require(thresholds.nonEmpty && labels.size == thresholds.size + 1,
      s"need labels.size == thresholds.size + 1, got ${thresholds.size} " +
        s"thresholds / ${labels.size} labels")
    require(thresholds == thresholds.sorted,
      s"thresholds must ascend, got $thresholds")
    val ranks = distinctValueRanks(df, valueCol, descending)
    val boundaryAggs = thresholds.zipWithIndex.map { case (t, i) =>
      val eligible = when(col("__rank_pr") <= t, col("__rank_v"))
      (if (descending) min(eligible) else max(eligible)).as(s"__tier_b$i")
    }
    val nullPr = max(when(col("__rank_v").isNull, col("__rank_pr")))
      .as("__tier_null_pr")
    val bounds = ranks.agg(boundaryAggs.head, (boundaryAggs.tail :+ nullPr): _*)

    val valueBand = thresholds.indices.tail.foldLeft {
      val c0 = if (descending) col(valueCol) >= col("__tier_b0")
               else col(valueCol) <= col("__tier_b0")
      when(c0, labels(0))
    } { (chain, i) =>
      val ci = if (descending) col(valueCol) >= col(s"__tier_b$i")
               else col(valueCol) <= col(s"__tier_b$i")
      chain.when(ci, labels(i))
    }.otherwise(labels.last)
    val nullBand = thresholds.indices.tail.foldLeft(
      when(col("__tier_null_pr") <= thresholds(0), labels(0))
    ) { (chain, i) =>
      chain.when(col("__tier_null_pr") <= thresholds(i), labels(i))
    }.otherwise(labels.last)

    df.crossJoin(broadcast(bounds))
      .withColumn(outCol,
        when(col(valueCol).isNull, nullBand).otherwise(valueBand))
      .drop(thresholds.indices.map(i => s"__tier_b$i") :+ "__tier_null_pr": _*)
  }

  /** [[tiersByPercentRank]] with EAGER boundary computation — for
    * action-oriented pipelines (the customer mart, tier reports) where
    * the few driver-side jobs are cheaper than executing the in-plan
    * boundary machinery: band membership is monotone in the value, so
    * each threshold's boundary is the value at ONE exact rank —
    * `min{v : percent_rank(v) ≤ t}` under DESC is the (n_nonnull − m)-th
    * smallest row value with m the largest strict-predecessor count
    * whose IEEE `count/(n−1) ≤ t` holds (computed driver-side with the
    * SAME double division the window form and the SQL replay evaluate,
    * so ties and boundary rounding agree bit-for-bit). The ranks ride
    * [[Quantiles]]' exact selection — ONE fused job on small columns,
    * the scale-safe protocol past its gates — and the bands compile to
    * literal comparisons: no crossJoin, no broadcast, no rank machinery
    * in the returned plan at all. Supported value types map
    * order-preservingly onto longs (integrals; double/float via the
    * IEEE-bits transform; decimals of ≤ 18 digits via exact scaling);
    * anything else falls back to the lazy broadcast-boundary form.
    * Output is bit-identical to [[tiersByPercentRank]] (RanksSpec pins
    * both on ties, nulls, and both directions). */
  def tiersByPercentRankEager(df: DataFrame, valueCol: String,
                              thresholds: Seq[Double], labels: Seq[String],
                              descending: Boolean = true,
                              outCol: String = "tier"): DataFrame =
    percentRankTierColumn(df, valueCol, thresholds, labels, descending) match {
      case Some(tier) => df.withColumn(outCol, tier)
      case None => tiersByPercentRank(df, valueCol, thresholds, labels,
        descending, outCol)
    }

  /** The eager protocol decomposed (r16, mart persist A/B): run the
    * boundary computation against `df` — which may be a PRUNED persisted
    * projection of the real row side — and return the compiled
    * literal-comparison tier Column to apply to ANY frame carrying
    * `valueCol`. None when the value type has no order-preserving long
    * mapping (callers fall back to [[tiersByPercentRank]]). */
  private[graft] def percentRankTierColumn(df: DataFrame, valueCol: String,
      thresholds: Seq[Double], labels: Seq[String],
      descending: Boolean): Option[org.apache.spark.sql.Column] = {
    require(thresholds.nonEmpty && labels.size == thresholds.size + 1,
      s"need labels.size == thresholds.size + 1, got ${thresholds.size} " +
        s"thresholds / ${labels.size} labels")
    require(thresholds == thresholds.sorted,
      s"thresholds must ascend, got $thresholds")
    import org.apache.spark.sql.types._
    val dt = df.schema(valueCol).dataType
    // order-preserving long mapping: (selection column, long → literal)
    val mapping: Option[(org.apache.spark.sql.Column,
        Long => org.apache.spark.sql.Column)] = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((col(valueCol).cast("long"), (b: Long) => lit(b)))
      case DoubleType | FloatType =>
        Some((graft.functions.SortableDoubleBits
          .sortableDoubleBits(col(valueCol).cast("double")),
          (b: Long) => lit(graft.functions.SortableDoubleBits.fromSortable(b))))
      case d: DecimalType if d.precision <= 18 =>
        val scaleFactor = java.math.BigDecimal.TEN.pow(d.scale)
        Some(((col(valueCol) * lit(scaleFactor)).cast("long"),
          (b: Long) => lit(java.math.BigDecimal.valueOf(b, d.scale))))
      case _ => None
    }
    if (mapping.isEmpty) return None
    val (selCol, toLit) = mapping.get

    // The count agg is the FIRST action over `df` — when the caller
    // hands in a persist()ed-but-unmaterialized frame, THIS job builds
    // the cache, so it must run at the session's normal conf (an
    // AQE-off/narrow-width window here was measured to materialize the
    // customer mart's cache with 8 partitions, slowing every later
    // cache scan in the query). min/max of the mapped column ride the
    // same job: past the small-column gate they let the selection skip
    // its own bounds scan entirely (exactQuantilesKnownBounds). A
    // percentile_approx sketch rides it too, with probes CENTERED ON
    // THE THRESHOLDS (the exact target rank fraction isn't known until
    // n/nn return — circular — but under DESC it is ≈ 1−t, under ASC
    // ≈ t, within ~nullFraction + 1/nn): ±2% probe margin plus the
    // sketch's own ≤0.5% rank accuracy covers the approximation, and a
    // miss only costs speed — the selection's exact bracket-verify
    // count demotes a disproved bracket to the full range.
    val probeCenters = thresholds.map(t => if (descending) 1.0 - t else t)
    val probeFracs = probeCenters.flatMap(c =>
      Seq(math.max(0.0, c - 0.02), math.min(1.0, c + 0.02)))
    val cnts = df.agg(count(lit(1)).as("n"), count(col(valueCol)).as("nn"),
      min(selCol).as("lo"), max(selCol).as("hi"),
      percentile_approx(selCol, lit(probeFracs.toArray), lit(200)).as("ps"))
      .head()
    val n = cnts.getLong(0)
    val nn = cnts.getLong(1)
    val (selLo, selHi) =
      if (cnts.isNullAt(2)) (0L, 0L) else (cnts.getLong(2), cnts.getLong(3))
    val sketchByThreshold: Option[Seq[Long]] =
      if (cnts.isNullAt(4)) None else Some(cnts.getSeq[Long](4))
    def bandOf(pr: Double): String = {
      val i = thresholds.indexWhere(pr <= _)
      if (i == -1) labels.last else labels(i)
    }
    // the null run's own percent_rank: under DESC nulls sort last (rank
    // of the first null = nn), under ASC first (rank 0) — the window
    // convention, evaluated with the same IEEE division
    val nullLabel = bandOf(
      if (n <= 1L || !descending) 0.0 else nn.toDouble / (n - 1).toDouble)
    if (nn == 0L)
      return Some(lit(nullLabel))

    // largest strict-predecessor count whose pr clears t, by the SAME
    // IEEE comparison `cnt/(n−1) <= t` both engines evaluate — the
    // floor seed is exact-arithmetic, the two loops absorb any rounding
    // of the double division at the boundary (≤ 1 step in practice)
    def maxCnt(t: Double): Long = {
      if (n <= 1L) return 0L
      var m = math.min(n - 1, math.max(0L, math.floor(t * (n - 1)).toLong))
      while (m + 1 <= n - 1 && (m + 1).toDouble / (n - 1).toDouble <= t) m += 1
      while (m >= 0 && m.toDouble / (n - 1).toDouble > t) m -= 1
      m
    }
    // per threshold: the boundary's rank among the non-null rows
    // (ascending), or None when no value clears the threshold (only
    // possible under ASC, where the null run precedes every value)
    val ks: Seq[Option[Long]] = thresholds.map { t =>
      val m = maxCnt(t)
      if (descending) Some(math.max(1L, nn - m))
      else {
        val mp = m - (n - nn)
        if (mp < 0) None else Some(math.min(nn, mp + 1))
      }
    }
    val defined = ks.flatten.distinct
    // The selection runs ungrouped (one group) so every reduce input is
    // bounded by construction: AQE's only contribution would be 2-3
    // stage-materialization jobs per action to coalesce already-tiny
    // exchanges — plan it in the protocol's own AQE-off, narrow-width
    // scope, AFTER the materializing count above. The protocol's inner
    // scopes then find their overrides in place and open no clone.
    val selected: Map[Long, Long] =
      if (defined.isEmpty) Map.empty
      else Quantiles.withProtocolConf(df.sparkSession) { s =>
        val sel = ConfScope.rebind(s, df).select(selCol.as("__sel"))
        val qsFrac = defined.map(k => (k - 0.5) / nn)
        // Re-key the agg-ridden per-threshold sketch pairs onto the
        // defined ranks — and only hand a pair over when its probe
        // center provably covers the rank's true fraction (±0.02 probe
        // margin − 0.005 sketch rank error − slack ⇒ |q − c| ≤ 0.012;
        // a null-heavy column shifts q past that, in which case the
        // protocol runs its own exactly-centered sketch job instead).
        val sketchSeq: Option[Seq[Long]] = sketchByThreshold.flatMap { ps =>
          val pairs: Seq[Option[(Long, Long)]] = defined.map { k =>
            val q = (k - 0.5) / nn
            val cands = thresholds.indices.filter(i => ks(i).contains(k))
            cands.minByOption(i => math.abs(probeCenters(i) - q))
              .filter(i => math.abs(probeCenters(i) - q) <= 0.012)
              .map(i => (ps(2 * i), ps(2 * i + 1)))
          }
          if (pairs.forall(_.isDefined))
            Some(pairs.flatMap(p => Seq(p.get._1, p.get._2)))
          else None
        }
        // the count agg above already carried exact min/max (and usually
        // the sketch): a big column skips the selection's bounds scan —
        // and with a covering sketch, its percentile job too — while a
        // small one resolves in the selection's one fused job
        val got = graft.ops.Quantiles.exactQuantilesKnownBounds(
          sel, "__sel", qsFrac, nn, selLo, selHi, sketch = sketchSeq)
        got.zip(defined).map { case ((_, v), k) => k -> v }.toMap
      }

    val v = col(valueCol)
    val chain = thresholds.indices.foldLeft(
      Option.empty[org.apache.spark.sql.Column]) { (acc, i) =>
      ks(i) match {
        case Some(k) =>
          val b = toLit(selected(k))
          val cond = if (descending) v >= b else v <= b
          Some(acc.fold(when(cond, labels(i)))(_.when(cond, labels(i))))
        case None => acc
      }
    }.fold(lit(labels.last))(_.otherwise(labels.last))
    Some(when(v.isNull, lit(nullLabel)).otherwise(chain))
  }
}
