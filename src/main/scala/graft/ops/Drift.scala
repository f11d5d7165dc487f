package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Distribution-drift monitoring between two dataset slices — the
  * guardrail a training-data pipeline runs between corpus versions,
  * train/validation splits, or yesterday's and today's ingest: bin both
  * sides on a SHARED integer grid, compare per-bin mass, and summarize
  * as total variation distance. The usual PSI/KL forms need logarithms
  * (not bit-reproducible across engines) and explode on empty bins; TVD
  * = ½·Σ|p_i − q_i| is bounded, symmetric, defined everywhere, and —
  * computed here over exact integer cross-products — engine-exact.
  *
  * Shape at 100 TB: one map-side-combined histogram aggregation per
  * side (shuffle carries ≤ `bins` rows per partition — [[Histogram]]),
  * then all comparison arithmetic runs on the joined bins frame, whose
  * cardinality is `bins` regardless of input size; totals ride the
  * compact-producer 1-row broadcast protocol (gate-clean — no
  * single-partition exchange anywhere).
  *
  * Determinism contract: counts are exact longs; fractions are single
  * IEEE divisions; the TVD numerator Σ|a_n·b_total − b_n·a_total| is
  * exact DECIMAL(38) integer arithmetic (order-independent), divided
  * once at the end — bit-equal across engines.
  */
object Drift {

  private def joinedBins(a: DataFrame, b: DataFrame, valueCol: String,
                         lo: Long, hi: Long, bins: Int): DataFrame = {
    val ha = Histogram.histogram(a, valueCol, lo, hi, bins)
      .select(col("bin"), col("bin_lo"), col("bin_hi"), col("n").as("a_n"))
    val hb = Histogram.histogram(b, valueCol, lo, hi, bins)
      .select(col("bin"), col("n").as("b_n"))
    // totals ride the compact-producer broadcast protocol (global-agg
    // partial → 1-row cross join), NOT a whole-frame window — the window
    // form inserts an Exchange SinglePartition that the plan gate
    // rightly flags; the duplicated join subtree re-plans over REUSED
    // histogram exchanges, so the input is still scanned once per side
    val j = ha.join(hb, "bin")
    val totals = j.agg(sum("a_n").as("a_total"), sum("b_n").as("b_total"))
    j.crossJoin(broadcast(totals))
  }

  /** Per-bin comparison of the two sides over `bins` equal integer-width
    * bins spanning [lo, hi] (values outside are dropped from BOTH sides
    * — same grid, same rule). Returns (bin, bin_lo, bin_hi, a_n, b_n,
    * a_frac, b_frac, gap) with gap = |a_frac − b_frac|; empty bins
    * present with zero counts. */
  def driftBins(a: DataFrame, b: DataFrame, valueCol: String,
                lo: Long, hi: Long, bins: Int): DataFrame =
    joinedBins(a, b, valueCol, lo, hi, bins)
      .withColumn("a_frac", col("a_n").cast("double") / col("a_total"))
      .withColumn("b_frac", col("b_n").cast("double") / col("b_total"))
      .withColumn("gap", abs(col("a_frac") - col("b_frac")))
      .select("bin", "bin_lo", "bin_hi", "a_n", "b_n",
        "a_frac", "b_frac", "gap")

  /** One-row drift summary: (a_total, b_total, tvd, max_gap).
    * tvd = Σ|a_n·b_total − b_n·a_total| / (2·a_total·b_total) with the
    * numerator in exact DECIMAL(38) integer arithmetic (sound beyond
    * 10¹⁸-row sides), one double division at the end; max_gap is the
    * largest per-bin fraction gap (max of deterministic doubles —
    * order-independent). */
  def driftSummary(a: DataFrame, b: DataFrame, valueCol: String,
                   lo: Long, hi: Long, bins: Int): DataFrame = {
    val dec = DecimalType(38, 0)
    joinedBins(a, b, valueCol, lo, hi, bins)
      .withColumn("a_frac", col("a_n").cast("double") / col("a_total"))
      .withColumn("b_frac", col("b_n").cast("double") / col("b_total"))
      // exact long×long products ride the codegen'd Mul128 primitive
      // (identical integers; the decimal path paid a serialized-
      // BigDecimal multiply per bin)
      .withColumn("__d",
        abs(graft.functions.Mul128.mul128(col("a_n"), col("b_total")) -
          graft.functions.Mul128.mul128(col("b_n"), col("a_total"))))
      .agg(max("a_total").as("a_total"), max("b_total").as("b_total"),
        sum("__d").as("__sum_d"),
        max(abs(col("a_frac") - col("b_frac"))).as("max_gap"))
      .select(col("a_total"), col("b_total"),
        (col("__sum_d").cast("double") /
          (graft.functions.Mul128.mul128(col("a_total"), col("b_total"))
            * lit(2)).cast("double")).as("tvd"),
        col("max_gap"))
  }

  /** Quantized KL divergence of each slice's TOKEN distribution against
    * the whole corpus — the "how far has this source/shard drifted from
    * the mix" companion to [[driftSummary]]'s numeric TVD. The header's
    * objection to KL is about *floating* logs; this form quantizes each
    * log-ratio to INTEGER BITS (`floor(log2 x) = length(bin(x)) − 1` —
    * the [[LanguageModel]] contract), so the statistic is engine-exact:
    * {{{
    *   kl_bits(s) = Σ_t c_st · ( bits(c_st · N) − bits(n_s · C_t) )
    *              ≈ n_s · KL(P_s ‖ Q) in bits
    * }}}
    * with c_st the token count in slice s, n_s the slice total, C_t the
    * corpus count, N the corpus total. Every slice token exists in the
    * corpus (the slices partition it), so no smoothing constant enters
    * the contract. Per-term quantization error is < 2 bits and signed,
    * so small true divergences can read slightly negative — the
    * reported `kl_per_token` is a RANKING signal, exact by construction.
    *
    * Scale: two token-count aggregations (slice × token, token) — both
    * vocabulary-bounded — joined on the token key, one corpus-total
    * 1-row broadcast; output is one row per slice. Overflow bound: the
    * bits() arguments are ≤ n_s·C_t ≤ N², so the corpus must stay under
    * ~3·10⁹ tokens for exact LONG products; past that, pre-scale both
    * products by a common power of two (ranks shift equally) or move
    * the products to DECIMAL(38) with a comparison-chain bits().
    */
  def tokenKlBySlice(docs: DataFrame, sliceCol: String,
                     textCol: String): DataFrame = {
    val bits = (c: org.apache.spark.sql.Column) => length(bin(c)) - 1
    val tok = docs.select(col(sliceCol).as("slice"),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
    val cst = tok.groupBy("slice", "tok").agg(count(lit(1)).as("c_st"))
    val ns = cst.groupBy("slice").agg(sum("c_st").as("n_s"))
    val ct = tok.groupBy("tok").agg(count(lit(1)).as("c_t"))
    val nTotal = ct.agg(sum("c_t").as("n_total"))
    cst.join(ct, "tok").join(ns, "slice").crossJoin(broadcast(nTotal))
      .select(col("slice"), col("n_s"),
        (col("c_st") *
          (bits(col("c_st") * col("n_total")) - bits(col("n_s") * col("c_t")))
            .cast("long")).as("__term"))
      .groupBy("slice").agg(max("n_s").as("n_tokens"),
        sum("__term").as("kl_bits"))
      .select(col("slice"), col("n_tokens"), col("kl_bits"),
        (col("kl_bits").cast("double") / col("n_tokens")).as("kl_per_token"))
  }

  /** Token-count table of a corpus — the persistable REFERENCE side of
    * [[tokenKlAgainst]] (build once on the curated corpus, reuse per
    * batch/session). Columns: (tok, c_ref). */
  def tokenDistribution(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_ref"))

  /** Quantized KL of `docs`' token distribution against a FIXED
    * reference ([[tokenDistribution]]) — the ingest-batch drift
    * tripwire: unlike [[tokenKlBySlice]] the scored side need not be a
    * slice of the reference, so unseen tokens floor the reference count
    * at 1 (the [[graft.ops.LanguageModel]] convention) and are counted
    * separately. ONE row out: (n_tokens, kl_bits, kl_per_token,
    * unseen_tokens, unseen_frac). Shape: one batch-bounded token count
    * aggregation + one token-keyed left join against the reference;
    * totals ride 1-row broadcasts. Engine-exact (integer bits, single
    * IEEE divisions); overflow bound: reference total ≤ ~3·10⁹ tokens
    * for exact LONG products. */
  def tokenKlAgainst(reference: DataFrame, docs: DataFrame,
                     textCol: String): DataFrame = {
    val bits = (c: org.apache.spark.sql.Column) => length(bin(c)) - 1
    val bt = docs.select(explode(TextAnalysis.tokens(lower(col(textCol)))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c_b"))
    val nb = bt.agg(coalesce(sum("c_b"), lit(0L)).as("n_b"))
    val nr = reference.agg(sum("c_ref").as("n_ref"))
    bt.join(reference, Seq("tok"), "left")
      .crossJoin(broadcast(nb)).crossJoin(broadcast(nr))
      .select(col("c_b"), col("n_b"),
        (col("c_b") * (bits(col("c_b") * col("n_ref")) -
          bits(col("n_b") * coalesce(col("c_ref"), lit(1L)))).cast("long"))
          .as("__term"),
        when(col("c_ref").isNull, col("c_b")).otherwise(lit(0L)).as("__unseen"))
      .agg(max("n_b").as("n_tokens"), sum("__term").as("kl_bits"),
        sum("__unseen").as("unseen_tokens"))
      .select(
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("kl_bits"), lit(0L)).as("kl_bits"),
        when(col("n_tokens") > 0,
          col("kl_bits").cast("double") / col("n_tokens")).as("kl_per_token"),
        coalesce(col("unseen_tokens"), lit(0L)).as("unseen_tokens"),
        when(col("n_tokens") > 0,
          col("unseen_tokens").cast("double") / col("n_tokens")).as("unseen_frac"))
  }
}
