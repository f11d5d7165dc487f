package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** One-pass approximate companions to the exact audit primitives — the
  * 100 TB default when a bounded error is acceptable and the exact
  * multi-pass protocols ([[Quantiles]], `countDistinct`) are not worth
  * their extra full scans.
  *
  * Error contracts (what "approximate" means, precisely):
  *
  *  - [[approxQuantiles]] — Greenwald–Khanna sketch (Spark's
  *    `approxQuantile`). DETERMINISTIC guarantee, not probabilistic: the
  *    value returned for quantile q has exact rank r with
  *    |r − q·n| ≤ ε·n. One full scan for any number of quantiles;
  *    sketch memory O(1/ε · log(ε·n)) per partition. The returned value
  *    is always a VALUE PRESENT in the column (no interpolation), so a
  *    downstream `filter(col >= p50)` keeps exact-filter semantics.
  *  - [[approxCountDistinct]] — HyperLogLog++. PROBABILISTIC guarantee:
  *    `rsd` is the relative standard deviation of the estimate (default
  *    0.05 ⇒ ~95% of estimates within ±2·rsd = ±10%). The sketch is
  *    deterministic for a given dataset (same input ⇒ same estimate —
  *    the error is across hypothetical datasets, so a regression test
  *    can pin the exact output). One scan, O(1/rsd²) bytes of state.
  *
  * Choosing (see SCALE.md "exact vs approximate"): exact selection costs
  * up to 7 full scans on a 64-bit range and is reproducible to the bit —
  * right for gates and contracts. The sketches cost ONE scan — right for
  * interactive profiling and monitoring. [[Quantiles]] splits the
  * difference on wide-range columns: it seeds its exact selection with
  * a sketch that only brackets each rank, so the output stays
  * bit-identical in ~4 scans. */
object Approx {

  /** (q, value) pairs from one GK pass; rank error ≤ `relativeError`·n
    * per the contract above. Nulls are ignored (not counted in n);
    * returns NaN values if the column has no non-null rows. Integral
    * columns ride through double: values above 2⁵³ may round by up to
    * one ulp (≤ 1024 at the 2⁶³ extreme) — use [[Quantiles]]
    * when bit-exactness matters there. */
  def approxQuantiles(df: DataFrame, valueCol: String, qs: Seq[Double],
                      relativeError: Double = 0.01): Seq[(Double, Double)] = {
    require(relativeError >= 0, s"relativeError must be >= 0: $relativeError")
    qs.foreach(q => require(q >= 0.0 && q <= 1.0, s"quantile out of [0,1]: $q"))
    val res = df.select(col(valueCol).cast("double").as("__v"))
      .stat.approxQuantile("__v", qs.toArray, relativeError)
    qs.zip(res.toSeq)
  }

  /** HLL++ distinct estimate of the tuple (`cols`*); `rsd` per the
    * contract above. Null components participate like in `countDistinct`
    * over a struct (an all-null tuple still counts — callers matching
    * `countDistinct(c)` single-column semantics should pre-filter
    * nulls). */
  def approxCountDistinct(df: DataFrame, rsd: Double, cols: String*): Long = {
    require(cols.nonEmpty, "at least one column required")
    val e = if (cols.length == 1) col(cols.head)
      else struct(cols.map(col): _*)
    df.select(approx_count_distinct(e, rsd).as("__c")).head().getLong(0)
  }
}
