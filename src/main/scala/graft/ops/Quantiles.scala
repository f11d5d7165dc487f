package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ConfScope

/** Exact distributed quantiles at ranks ⌈q·n⌉ — the corpus-audit
  * primitive behind "filter docs below the p10 quality length" style
  * sweeps, per group or over a whole column, for integral columns and
  * (through the order-preserving IEEE-bits mapping) doubles.
  *
  * The usual exact route (global sort, or a single-partition window) is
  * a 100 TB scale-killer, and `approx_percentile` is neither exact nor
  * engine-reproducible. Every entry runs ONE selection protocol
  * ([[groupedExactQuantilesImpl]]; ungrouped = one constant group):
  *
  *  1. one fused bounds job: per group (min, max, count) and, for a
  *     group of ≤ [[smallGroupCap]] values, its sorted values — such a
  *     group resolves right there (the monitoring regime: one job);
  *  2. for each still-unresolved group whose range plain refinement
  *     could not finish in two rounds ([[seedPays]]), one grouped
  *     `percentile_approx` job brackets every rank and one exact count
  *     job verifies each bracket (gathering a small one's values in the
  *     same job); a disproved bracket keeps the full range;
  *  3. refinement rounds: each histograms every still-active range into
  *     equal-width buckets with ONE map-side-combined aggregation, keeps
  *     the bucket holding the rank, and gathers any range whose measured
  *     count fits the gather caps.
  *
  * The sketch only brackets; exact counts decide every rank, so seeding
  * changes the job count, never a bit of the output. No sort, no
  * repartition-to-1; the driver sees counters and bounded gathers only.
  */
object Quantiles {

  /** Histogram width of the grouped protocol (auto-shrunk so a round
    * ships ≤ ~2²⁰ counters across all active (group, rank) ranges). */
  private val GroupedBins = 1024

  /** Ungrouped = ONE group, so the whole ≤2²⁰-counters-per-round reduce
    * budget belongs to it. Only non-empty buckets ship, so a round's
    * reduce input never exceeds min(2²⁰, rows-in-range) counters, while
    * a wide bracket (IEEE-bits doubles span ~2⁴⁰ after verify) resolves
    * in 1-2 rounds instead of the ~4 that 1024 bins pay (measured on
    * the customer mart at 10×: the per-round full-column scans were the
    * cell's whole superlinear residue). */
  private val UngroupedBins = 1 << 20

  /** Rank error of the seeding `percentile_approx` sketch: brackets sit
    * at q ∓ 2ε with accuracy 1/ε. */
  private val SketchRelError = 0.01

  /** Gather fast-path caps: a (group, rank) whose VERIFIED in-bracket
    * count is ≤ per-key cap may collect its bracket values in one job
    * (driver indexes the k-th directly — zero refinement rounds); the
    * total pull across keys is bounded by the global cap (2²⁰ longs =
    * 8 MB). Everything past the caps refines as usual, so the fast path
    * never weakens the 100-TB posture — it only deletes the fixed
    * per-round job overhead that dominates at monitoring scale. */
  // defs with sys-prop overrides (`graft.quantiles.gatherCapPerKey` /
  // `.gatherCapTotal`) so tests can force the over-cap branch — a
  // verified bracket whose count exceeds the per-key cap must refine
  // and re-enter the gather only once a round's measured bucket count
  // fits — on fixture-sized data
  private def GatherCapPerKey: Long =
    sys.props.get("graft.quantiles.gatherCapPerKey").map(_.toLong)
      .getOrElse(1L << 16)
  private def GatherCapTotal: Long =
    sys.props.get("graft.quantiles.gatherCapTotal").map(_.toLong)
      .getOrElse(1L << 20)

  /** Small-group gate for the grouped protocol: a group whose PROVEN
    * value count (from the bounds job) is ≤ this sorts in-executor via
    * one collect_list aggregation instead of running selection rounds.
    * A sys-prop override (`graft.quantiles.smallGroupCap`) exists so
    * tests can force the selection protocol on small fixtures. */
  private def smallGroupCap: Long =
    sys.props.get("graft.quantiles.smallGroupCap").map(_.toLong)
      .getOrElse(1L << 17)

  /** Run the protocol's driver-coordinated rounds with AQE off and a
    * small reduce-side width. Every action INSIDE this wrapper has a
    * REDUCE input bounded by construction (≤ groups·bins counters, ≤
    * 2²⁰ gathered values) regardless of input size — map-side
    * parallelism is untouched — so 32+ reduce tasks are pure scheduler
    * overhead, and AQE (whose whole contribution here would be
    * coalescing those partitions) splits each action into 2-3 jobs to
    * do it. Pinning both for the protocol window measured 12 → 4 jobs
    * on the hourly-bands shape.
    *
    * Scope discipline: the wrapper must NOT cover aggregations whose
    * reduce state scales with group count × per-group buffer — the
    * fused bounds+capped-sort job (up to ~1 MB of longs per over-cap
    * group) and the percentile_approx sketch job run OUTSIDE it at the
    * session's normal width, where high group cardinality spreads those
    * buffers over the full reduce fan-out (and AQE can split a skewed
    * one). The overrides hold only for the plans `body` builds from the
    * session it is given ([[ConfScope]]: a cloned session), so queries
    * that other threads plan on `spark` meanwhile keep AQE and their
    * width. A call nested in a scope with the same overrides (Ranks'
    * tier selection) runs on that scope's session without a new clone. */
  private[ops] def withProtocolConf[T](spark: org.apache.spark.sql.SparkSession)(
      body: org.apache.spark.sql.SparkSession => T): T = {
    val shufKey = "spark.sql.shuffle.partitions"
    val smallShuf = math.min(8, spark.conf.get(shufKey, "200").toInt).toString
    ConfScope.run(spark, Seq(
      "spark.sql.adaptive.enabled" -> "false",
      shufKey -> smallShuf))(body)
  }

  /** A Seq[Row] as a genuine LocalRelation DataFrame. The obvious
    * `createDataFrame(rows.asJava, schema)` parallelizes into
    * defaultParallelism partitions, so every broadcast build of a tiny
    * range/bracket frame pays a 32-task job; a LocalRelation broadcasts
    * driver-side with ZERO jobs — half this protocol's job count at
    * monitoring scale. */
  private def localRows(spark: org.apache.spark.sql.SparkSession,
                        rows: Seq[org.apache.spark.sql.Row],
                        schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataset(rows)(
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
        org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)))
      .toDF()

  /** Saturating `a + b` for the refinement upper bound: when the
    * surviving range abuts Long.MaxValue (a column containing it),
    * `newLo + width - 1` would wrap negative and silently return a wrong
    * quantile — saturate to MaxValue instead (the outer `min(hi, _)`
    * then restores the true bound). */
  private def satAdd(a: Long, b: Long): Long = {
    val s = a + b
    if (((a ^ s) & (b ^ s)) < 0L) { if (a >= 0) Long.MaxValue else Long.MinValue }
    else s
  }

  /** Exact quantiles at ranks ⌈q·n⌉ (percentile-disc style, lower
    * rounding via ⌈⌉ on the 1-based rank) of integral column
    * `valueCol`; NULLs are ignored. Returns (q, value) pairs. A column
    * of ≤ [[smallGroupCap]] values resolves in ONE fused job; larger
    * columns run the protocol (object scaladoc). */
  def exactQuantiles(df: DataFrame, valueCol: String,
                     qs: Seq[Double]): Seq[(Double, Long)] =
    exactQuantilesVia(df, valueCol, qs)

  /** Ungrouped quantiles = the grouped protocol over `lit(1)`: one code
    * path to test and tune, and the constant group costs nothing (the
    * fused aggregation's single hash bucket). */
  private def exactQuantilesVia(df: DataFrame, valueCol: String,
                                qs: Seq[Double],
                                known: Option[(Long, Long, Long)] = None,
                                knownSketch: Option[Seq[Long]] = None
                               ): Seq[(Double, Long)] = {
    qs.foreach(q => require(q > 0.0 && q <= 1.0, s"quantile out of (0,1]: $q"))
    val names = qs.indices.map(i => s"__q$i")
    val out = groupedExactQuantilesImpl(df.withColumn("__cg", lit(1)),
      "__cg", valueCol, names.zip(qs), UngroupedBins, known, knownSketch)
    val rows = out.collect()
    require(rows.nonEmpty, "column has no non-null values")
    val r = rows.head
    qs.zipWithIndex.map { case (q, i) => q -> r.getLong(i + 1) }
  }

  /** [[exactQuantiles]] for a caller that ALREADY KNOWS the column's
    * non-null count and exact min/max (typically folded into a count
    * aggregation it runs anyway). Past the small-column gate the
    * protocol skips its fused bounds job and seeds straight from the
    * supplied bounds — and, with a caller `sketch` ((lo, hi) per rank),
    * skips its percentile job too; at or under the gate the fused job
    * resolves the column in one pass, which no seeding can beat.
    * Bit-identical output either way. Wrong (non-superset) bounds would
    * silently select wrong values — `nn`/`lo`/`hi` must be the exact
    * aggregates; a wrong sketch only costs speed. */
  private[graft] def exactQuantilesKnownBounds(
      df: DataFrame, valueCol: String, qs: Seq[Double],
      nn: Long, lo: Long, hi: Long,
      sketch: Option[Seq[Long]] = None): Seq[(Double, Long)] = {
    require(nn > 0, s"need a positive non-null count, got $nn")
    require(lo <= hi, s"lo > hi: $lo > $hi")
    sketch.foreach(ps => require(ps.size == 2 * qs.size,
      s"sketch must carry (lo, hi) per rank: ${ps.size} values for ${qs.size} ranks"))
    exactQuantilesVia(df, valueCol, qs,
      Some((nn, lo, hi)).filter(_ => nn > smallGroupCap), sketch)
  }

  /** Seeding pays for a range exactly when plain refinement at `bins`
    * buckets could need more than two rounds: round r leaves a span of
    * ⌊span/binsʳ⌋, so two rounds always finish a span < bins². That
    * separates the two regimes the protocol sees — bits-mapped doubles
    * (~2⁶²: ~4-7 rounds plain, ~3 jobs seeded) from document-length
    * style ranges (≤ 2 rounds plain, where the sketch job would cost
    * more than it saves). */
  private def seedPays(range: (Long, Long), bins: Int): Boolean =
    BigInt(range._2) - BigInt(range._1) >= BigInt(bins) * bins

  /** Clamp a sketch double to a widened long bound inside [lo, hi]:
    * ±one ulp of padding absorbs the double's representation error (a
    * long above 2⁵³ rounds by up to 1024 when cast), then floor/ceil
    * keeps the bracket a superset. NaN (all-null projection) falls to
    * the exact global bound. */
  private def bracketLong(d: Double, lo: Long, hi: Long, up: Boolean): Long = {
    if (d.isNaN) { if (up) hi else lo }
    else {
      val pad = math.max(1.0, math.ulp(d))
      val x = if (up) d + pad else d - pad
      if (x >= hi.toDouble) hi
      else if (x <= lo.toDouble) lo
      else if (up) math.ceil(x).toLong
      else math.floor(x).toLong
    }
  }

  /** Exact per-group quantiles at ranks ⌈q·n_g⌉ in ONE shared protocol —
    * the scalable form of a `row_number() over (partition by g)` median:
    * a partitioned window puts each whole group in ONE task (fine for 5
    * languages at sf0.1, a straggler/OOM once a group holds billions of
    * rows), while here every job covers ALL still-active (group, rank)
    * pairs: the same bounds job, one sketch and verify job, one sign-split
    * job, and refinement rounds keyed by (group, rank, bucket). Several
    * ranks cost one protocol with a slightly wider histogram key — the
    * [[Scaling.robustScale]] shape (p25/p50/p75) at a third of the passes
    * of three one-rank calls.
    *
    * Driver state is O(groups · ranks) and each round ships ≤ ~2²⁰
    * counters. Meant for categorical group domains (languages, sources,
    * shards — up to ~10⁵ groups), not high-cardinality keys. Rows with a
    * NULL group key form their own group (SQL GROUP BY semantics); NULL
    * values are ignored (not counted in n_g); a group with no non-null
    * value has no row.
    *
    * `rankSpecs` maps output column name → quantile in (0, 1]. Returns
    * one row per group: (groupCol [original type], <name> LONG per
    * rank). */
  def groupedExactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
                            rankSpecs: Seq[(String, Double)]): DataFrame =
    groupedExactQuantilesImpl(df, groupCol, valueCol, rankSpecs, GroupedBins)

  private def groupedExactQuantilesImpl(
      df: DataFrame, groupCol: String, valueCol: String,
      rankSpecs: Seq[(String, Double)], bins: Int,
      // (nn, lo, hi) for the single-constant-group caller that already
      // counted/bounded the column: skips the fused bounds job (and with
      // it the capped-sort small-column gate)
      ungroupedKnown: Option[(Long, Long, Long)] = None,
      // caller-supplied percentile sketch for the single group, laid
      // out (bracket_lo, bracket_hi) per rank in rankSpecs order: always
      // used when the group is unresolved (it costs no job), in place
      // of the percentile_approx job. The exact bracket-verify
      // count still runs, so a stale/loose sketch only costs speed
      // (disproved brackets fall back to the full range), never
      // correctness.
      ungroupedSketch: Option[Seq[Long]] = None): DataFrame = {
    require(rankSpecs.nonEmpty, "need at least one rank")
    rankSpecs.foreach { case (name, q) =>
      require(q > 0.0 && q <= 1.0, s"quantile out of (0,1]: $name=$q") }
    require(rankSpecs.map(_._1).distinct.size == rankSpecs.size,
      s"duplicate rank names in ${rankSpecs.map(_._1)}")
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val v = col(valueCol).cast("long")
    val g = col(groupCol)
    // the (group, value) scan every protocol-scope action starts from,
    // bound to the scope's session
    def valuesIn(s: org.apache.spark.sql.SparkSession): DataFrame =
      ConfScope.rebind(s, df).select(g.as("__gv"), v.as("__v"))

    // ── fused bounds + small-group resolution: ONE job ───────────────
    // [[graft.functions.CappedSortedLongs]] rides the bounds aggregation:
    // each group yields min/max/count AND — when the group holds ≤ cap
    // values (buffer hard-bounded at cap longs regardless of true group
    // size) — its complete sorted value list, from which element_at picks
    // every rank EXECUTOR-side (only ≤|groups| result rows reach the
    // driver). Small groups (the monitoring regime: hours, languages,
    // event types) finish right here with zero further jobs; a big
    // group's NULL overflow marker routes it to the selection
    // protocol below. Results are bit-identical on both paths — the same
    // GREATEST(1, ceil(q·n)) rank definition, exact selection.
    val rankCols = rankSpecs.map { case (name, q) =>
      when(col("n") > 0 && col("vs").isNotNull,
        element_at(col("vs"),
          greatest(lit(1), ceil(lit(q) * col("n")).cast("int")))).as(name)
    }
    val boundsRows = ungroupedKnown match {
      case Some((nn, lo, hi)) =>
        // caller-supplied single-group bounds: synthesize the one bounds
        // row (group value matches exactQuantilesVia's `lit(1)`) with a
        // NULL capped-sort marker so the rank columns stay unresolved
        // and the protocol below does the selection
        // Seq[Any] guards the Int group value against Scala's literal
        // widening (Seq(1, lo: Long, ...) would unify to Seq[Long] and
        // box the group as a Long where the schema says IntegerType)
        Array(Row.fromSeq(Seq[Any](1, lo, hi, nn) ++ rankSpecs.map(_ => null)))
      case None => df.select(g.as("__g"), v.as("__v"))
        .groupBy(col("__g"))
        .agg(min(col("__v")).as("lo"), max(col("__v")).as("hi"),
          count(col("__v")).as("n"),
          graft.functions.CappedSortedLongs
            .cappedSortedLongs(col("__v"),
              math.max(1L, smallGroupCap).toInt).as("vs"))
        .select(Seq(col("__g"), col("lo"), col("hi"), col("n")) ++ rankCols: _*)
        .collect()
    }
    // groups with only NULL values have no quantile; drop them (per
    // group, non-fatal — exactQuantiles turns an empty result into a
    // require failure). State is keyed by
    // (group value, rank name) — resolved ranks enter converged, big
    // groups enter with their full range for the protocol to refine.
    var state: Map[(Any, String), (Long, Long, Long)] = boundsRows.iterator
      .filter(r => !r.isNullAt(1) && r.getLong(3) > 0)
      .flatMap { r =>
        rankSpecs.zipWithIndex.map { case ((name, q), i) =>
          if (!r.isNullAt(4 + i)) {
            val x = r.getLong(4 + i)
            (r.get(0), name) -> ((x, x, 1L))
          } else {
            val k = math.max(1L, math.ceil(q * r.getLong(3)).toLong)
            (r.get(0), name) -> ((r.getLong(1), r.getLong(2), k))
          }
        }
      }.toMap
    val effBins = math.max(16, math.min(bins, (1 << 20) / math.max(1, state.size)))
    val groupField = df.select(g).schema.head.copy(name = "__g")
    val nByG: Map[Any, Long] = boundsRows.iterator
      .filter(r => !r.isNullAt(1) && r.getLong(3) > 0)
      .map(r => r.get(0) -> r.getLong(3)).toMap
    val groupBounds: Map[Any, (Long, Long)] = boundsRows.iterator
      .filter(r => !r.isNullAt(1))
      .map(r => r.get(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // only big groups reach the multi-pass protocol — cache the source
    // for its rounds (the all-small case never pays the cache write).
    // Guarded on storageLevel so an already-persisted caller frame is
    // neither re-persisted nor evicted by the finally.
    val needProtocol = state.exists { case (_, (lo, hi, _)) => lo < hi }
    val ownCache = needProtocol &&
      df.storageLevel == org.apache.spark.storage.StorageLevel.NONE
    if (ownCache)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {

    // sketch-seeded bracketing, for the groups the small-group gate did
    // NOT resolve and whose range is too wide for two plain refinement
    // rounds (seedPays — the protocol decides, never the caller; a
    // caller-supplied sketch costs no job and always rides): one grouped
    // percentile_approx job (semi-joined down to the seeded groups when
    // others exist) brackets every (group, rank) at φ = q ∓ 2ε, one
    // exact count job verifies all brackets, disproved brackets keep the
    // full range — output identical either way. Bracket endpoints widen
    // by one ulp (bracketLong) so the long→double conversion of wide
    // bits-values can't shave the target.
    // EXACT in-range row counts per still-active (group, rank), kept
    // only where a job measured them (bracket verify, zero-split
    // arithmetic, a refinement round's selected bucket): any active key
    // whose CURRENT range provably holds ≤ GatherCapPerKey values
    // resolves by direct gather inside the refinement loop instead of
    // refining the range to width 1. Never estimated — an optimistic
    // count would un-bound the gather's executor buffer.
    var exactCnt = Map.empty[(Any, String), Long]
    val seedGs: Set[Any] = state.collect {
      case ((gv, _), (lo, hi, _)) if lo < hi && (ungroupedSketch.isDefined ||
          seedPays(groupBounds(gv), effBins)) => gv
    }.toSet
    if (seedGs.nonEmpty) {
      val sk: Map[Any, Seq[Long]] =
        if (ungroupedSketch.isDefined)
          seedGs.iterator.map(gv => gv -> ungroupedSketch.get).toMap
        else {
        val re = SketchRelError
        val probes = rankSpecs.flatMap { case (_, q) =>
          Seq(math.max(0.0, q - 2 * re), math.min(1.0, q + 2 * re)) }
        val acc = math.ceil(1.0 / re).toInt
        val probesSql = probes.mkString("array(", ",", ")")
        val base = df.select(g.as("__gv"), v.as("__v"))
        val src =
          if (seedGs.size == nByG.size) base
          else base.join(
            broadcast(localRows(spark, seedGs.toSeq.map(Row(_)),
              StructType(Seq(groupField)))),
            col("__gv") <=> col("__g"), "leftsemi")
        src.groupBy(col("__gv"))
          .agg(expr(s"percentile_approx(__v, $probesSql, $acc)").as("__ps"))
          .collect().iterator.filter(!_.isNullAt(1))
          .map(r => r.get(0) -> r.getSeq[Long](1)).toMap
      }
      // bracket verify + gather: reduce input ≤ 2 counters per (group,
      // rank) / ≤ 2²⁰ gathered longs — the bounded-round regime
      withProtocolConf(spark) { s =>
      val brackets: Map[(Any, String), (Long, Long)] = state.collect {
        case (key @ (gv, name), (lo, hi, _)) if lo < hi && sk.contains(gv) =>
          val ps = sk(gv)
          val idx = rankSpecs.indexWhere(_._1 == name)
          val (glo, ghi) = groupBounds(gv)
          key -> ((bracketLong(ps(2 * idx).toDouble, glo, ghi, up = false),
            bracketLong(ps(2 * idx + 1).toDouble, glo, ghi, up = true)))
      }.toMap
      if (brackets.nonEmpty) {
        val vSchema = StructType(Seq(groupField,
          StructField("__rank", StringType),
          StructField("__blo", LongType), StructField("__bhi", LongType)))
        val vRows = brackets.toSeq.map { case ((gv, name), (blo, bhi)) =>
          Row(gv, name, blo, bhi) }
        // FUSED verify+gather: the capped-sort aggregate rides the verify
        // job, so a bracket that verifies AND holds ≤ cap values resolves
        // in this ONE job (the separate gather below then has nothing to
        // do). The cap keeps the executor buffer hard-bounded: a loose
        // bracket overflows to NULL and falls through to the classic
        // gather/refinement path — same 100-TB degradation story as the
        // gather cap. Budget split across keys so total ≤ GatherCapTotal.
        val fusedCap = math.max(1L, math.min(GatherCapPerKey,
          GatherCapTotal / brackets.size)).toInt
        val cntsQ = valuesIn(s)
          .join(broadcast(localRows(s, vRows, vSchema)),
            col("__gv") <=> col("__g") && col("__v") <= col("__bhi"))
          .groupBy("__g", "__rank")
          .agg(sum(when(col("__v") < col("__blo"), 1L).otherwise(0L)).as("below"),
            sum(when(col("__v") >= col("__blo"), 1L).otherwise(0L)).as("inR"),
            graft.functions.CappedSortedLongs.cappedSortedLongs(
              when(col("__v") >= col("__blo"), col("__v")), fusedCap).as("vs"))
        val rawCnts = cntsQ.collect()
        val cnts = rawCnts
          .map(r => (r.get(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
          .toMap
        val fusedVals: Map[(Any, String), Seq[Long]] = rawCnts.iterator
          .filter(!_.isNullAt(4))
          .map(r => (r.get(0), r.getString(1)) -> r.getSeq[Long](4)).toMap
        state = state.map { case (key, full @ (_, _, k)) =>
          brackets.get(key) match {
            case Some((blo, bhi)) =>
              val (below, inRange) = cnts.getOrElse(key, (0L, 0L))
              val kk = k - below
              if (kk >= 1 && kk <= inRange) {
                fusedVals.get(key) match {
                  case Some(vs) => // fused gather resolved it in-job
                    val x = vs((kk - 1).toInt)
                    key -> ((x, x, 1L))
                  case None =>
                    // verified but past the fused cap: the refinement
                    // loop's gather phase picks it up the moment its
                    // exact count fits (often immediately — one gather
                    // job where the pre-r14 shape refined to width 1)
                    exactCnt += key -> inRange
                    key -> ((blo, bhi, kk))
                }
              } else key -> full // bracket disproved: exact fallback
            case None => key -> full
          }
        }
      }
      }
    }

    // zero-split + refinement rounds: every action below ships ≤
    // groups·bins counters — the bounded-round regime. A call that the
    // bounds or verify job fully resolved opens no scope (no clone).
    if (state.exists { case (_, (lo, hi, _)) => lo < hi })
    withProtocolConf(spark) { s =>
    // a range spanning both signs can overflow (hi-lo) and (v-lo): split
    // the affected (group, rank) ranges at zero with ONE shared count job.
    // Range-aware (counts negatives WITHIN each state's [lo, 0) — a seeded
    // bracket's rank is relative to the bracket, not the group).
    if (state.values.exists { case (lo, hi, _) => lo < 0 && hi > 0 }) {
      val straddling = state.filter { case (_, (lo, hi, _)) => lo < 0 && hi > 0 }
      val nSchema = StructType(Seq(groupField,
        StructField("__rank", StringType), StructField("__nlo", LongType)))
      val nRows = straddling.map { case ((gv, name), (lo, _, _)) =>
        Row(gv, name, lo) }.toSeq
      val negCounts = valuesIn(s)
        .filter(col("__v") < 0)
        .join(broadcast(localRows(s, nRows, nSchema)),
          col("__gv") <=> col("__g") && col("__v") >= col("__nlo"))
        .groupBy("__g", "__rank").agg(count(lit(1)).as("c"))
        .collect().map(r => (r.get(0), r.getString(1)) -> r.getLong(2)).toMap
      state = state.map {
        case (key, (lo, hi, kk)) if lo < 0 && hi > 0 =>
          val nNeg = negCounts.getOrElse(key, 0L)
          // keep the exact-count ledger consistent with the halved
          // range: the negative half's count was just measured; the
          // non-negative half is old − nNeg only if old was exact
          if (kk <= nNeg) exactCnt += key -> nNeg
          else exactCnt.get(key) match {
            case Some(c) => exactCnt += key -> (c - nNeg)
            case None => ()
          }
          key -> (if (kk <= nNeg) (lo, -1L, kk) else (0L, hi, kk - nNeg))
        case other => other
      }
    }

    val rangeSchema = StructType(Seq(groupField,
      StructField("__rank", StringType),
      StructField("__lo", LongType), StructField("__hi", LongType),
      StructField("__width", LongType)))
    val gatherSchema = StructType(Seq(groupField,
      StructField("__rank", StringType),
      StructField("__blo", LongType), StructField("__bhi", LongType)))
    while (state.exists { case (_, (lo, hi, _)) => lo < hi }) {
      // gather phase: any active key whose EXACT in-range count fits the
      // caps resolves in one bounded job — one collect of the in-range
      // values, driver indexes the kk-th. Airtight against
      // skew/duplicates because the cap tests a MEASURED count (never
      // the sketch's promise): ≤ 2¹⁶ values per key, ≤ 2²⁰ total (8 MB
      // of longs) per pass; everything else refines. A verified sketch
      // bracket enters here directly (collapsing refinement entirely at
      // monitoring scale), and a bracket whose count only drops under
      // the cap after a round enters then — at 10-100× that saves the
      // deep tail of rounds, at 100 TB (ε·n_g ≫ cap for several rounds)
      // it degrades to the bounded-round protocol unchanged.
      val gatherOrder = state.toSeq
        .collect { case (key, (lo, hi, _)) if lo < hi &&
            exactCnt.get(key).exists(c => c >= 1 && c <= GatherCapPerKey) =>
          key -> exactCnt(key) }
        .sortBy { case ((gv, name), _) => (String.valueOf(gv), name) }
      var budget = GatherCapTotal
      val gatherKeys = gatherOrder.takeWhile { case (_, inR) =>
        val ok = inR <= budget; if (ok) budget -= inR; ok }.map(_._1)
      if (gatherKeys.nonEmpty) {
        val gRows = gatherKeys.map { key =>
          val (blo, bhi, _) = state(key)
          Row(key._1, key._2, blo, bhi)
        }
        val vals = valuesIn(s)
          .join(broadcast(localRows(s, gRows, gatherSchema)),
            col("__gv") <=> col("__g") &&
              col("__v") >= col("__blo") && col("__v") <= col("__bhi"))
          .groupBy("__g", "__rank")
          .agg(sort_array(collect_list(col("__v"))).as("vs"))
          .collect()
          .map(r => (r.get(0), r.getString(1)) -> r.getSeq[Long](2)).toMap
        state = state.map {
          case (key, (_, _, kk)) if vals.contains(key) =>
            val x = vals(key)((kk - 1).toInt)
            key -> ((x, x, 1L))
          case other => other
        }
      }
      val active = state.filter { case (_, (lo, hi, _)) => lo < hi }
      if (active.isEmpty) () else {
      val rangeRows = active.map { case ((gv, name), (lo, hi, _)) =>
        Row(gv, name, lo, hi, math.max(1L, (hi - lo) / effBins + 1L))
      }.toSeq
      val ranges = localRows(s, rangeRows, rangeSchema)
      // null-safe group equi-join keeps the NULL-key group refining too;
      // a row lands in every rank's still-active range it intersects
      // (ranks of one group overlap early and diverge as they converge)
      val hists = valuesIn(s)
        .join(broadcast(ranges), col("__gv") <=> col("__g") &&
          col("__v") >= col("__lo") && col("__v") <= col("__hi"))
        .groupBy(col("__g"), col("__rank"), expr("(__v - __lo) div __width").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .groupBy(r => (r.get(0), r.getString(1)))
        .view.mapValues(_.map(r => r.getLong(2) -> r.getLong(3)).sortBy(_._1))
        .toMap
      state = state.map {
        case (key, s @ (lo, hi, _)) if lo >= hi => key -> s
        case (key, (lo, hi, kk)) =>
          val width = math.max(1L, (hi - lo) / effBins + 1L)
          val hist = hists(key)
          var cum = 0L
          var i = 0
          while (cum + hist(i)._2 < kk) { cum += hist(i)._2; i += 1 }
          val newLo = lo + hist(i)._1 * width
          // the selected bucket's count is exact — next iteration's
          // gather phase fires as soon as it fits the cap
          exactCnt += key -> hist(i)._2
          key -> ((newLo, math.min(hi, satAdd(newLo, width - 1)), kk - cum))
      }
      }
    }
    } // withProtocolConf (zero-split + refinement)

    val outSchema = StructType(groupField.copy(name = groupCol) +:
      rankSpecs.map { case (name, _) =>
        StructField(name, LongType, nullable = false) })
    val outRows = state.keys.map(_._1).toSeq.distinct.map { gv =>
      Row.fromSeq(gv +: rankSpecs.map { case (name, _) => state((gv, name))._1 })
    }
    // returned (not protocol-internal) frame: a 1-partition RDD beats a
    // LocalRelation here because every caller applies a presentational
    // sort, and sorting a LocalTableScan re-parallelizes it into
    // defaultParallelism partitions (32 tasks + AQE stages for ≤|groups|
    // rows); a single-partition frame sorts in one tiny task
    spark.createDataFrame(spark.sparkContext.parallelize(outRows, 1), outSchema)
    } finally if (ownCache) df.unpersist(blocking = false)
  }

  /** [[groupedExactQuantiles]] for DOUBLE columns: values ride the
    * order-preserving IEEE-bits mapping ([[graft.functions.SortableDoubleBits]],
    * codegen'd; ±0.0 compare equal, NaN sorts last as in SQL ORDER BY)
    * through ONE grouped selection and map back on the driver — the
    * result frame is per-group (tiny) either way. Bits-mapped ranges
    * are wide (~2⁶²), so an unresolved group is seeded. One row per
    * group: (groupCol, <name> DOUBLE per rank). */
  def groupedExactQuantilesDouble(df: DataFrame, groupCol: String,
                                  valueCol: String,
                                  rankSpecs: Seq[(String, Double)]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
    val spark = df.sparkSession
    // no persist here: the impl caches the projection itself, and only
    // when big groups actually send it into multi-pass refinement — the
    // common all-small case is ONE job and caching would be pure overhead
    val mapped = df.select(col(groupCol), graft.functions.SortableDoubleBits
      .sortableDoubleBits(col(valueCol).cast("double")).as("__s"))
    val sel = groupedExactQuantiles(mapped, groupCol, "__s", rankSpecs)
    val rows = sel.collect().map { r =>
      Row.fromSeq(r.get(0) +: rankSpecs.indices.map(i =>
        graft.functions.SortableDoubleBits.fromSortable(r.getLong(i + 1))))
    }.toSeq
    // 1-partition RDD, not LocalRelation: see groupedExactQuantilesImpl's
    // output note — callers sort this ≤|groups|-row frame
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(sel.schema.head +: rankSpecs.map { case (name, _) =>
        StructField(name, DoubleType, nullable = false) }))
  }

  /** [[exactQuantiles]] for DOUBLE columns (ranks ⌈q·n⌉), through the
    * same IEEE-bits mapping as [[groupedExactQuantilesDouble]]. */
  def exactQuantilesDouble(df: DataFrame, valueCol: String,
                           qs: Seq[Double]): Seq[(Double, Double)] = {
    val mapped = df.select(graft.functions.SortableDoubleBits
      .sortableDoubleBits(col(valueCol).cast("double")).as("__s"))
    exactQuantiles(mapped, "__s", qs).map { case (q, s) =>
      q -> graft.functions.SortableDoubleBits.fromSortable(s)
    }
  }
}
