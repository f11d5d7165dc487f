package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Robust per-group outlier detection via median absolute deviation —
  * the anomaly gate a training-data pipeline runs over quality scores,
  * event values, or per-shard metrics before they poison downstream
  * statistics. Mean/stddev z-scores break twice at corpus scale: the
  * outliers themselves inflate the stddev (masking), and a
  * floating-point variance over doubles is partition-order dependent —
  * not reproducible run to run. The median/MAD pair is immune to both:
  * breakdown point 50%, and both statistics are exact SELECTIONS of
  * actual data values via the [[Quantiles]] distributed protocol.
  *
  * Shape at 100 TB: two grouped-selection protocols (≤ ~7 histogram
  * passes each, one map-side-combined aggregation per pass, driver state
  * = O(groups) counters — never rows), then one broadcast join of the
  * group-statistics frame (bounded by the categorical group domain) and
  * a codegen'd per-row flag. No window over the data, no global sort,
  * no collect of row-scale data.
  *
  * Determinism contract: med and mad are data values selected at rank
  * ⌈n/2⌉ (type-1); dev = |v − med| and the k·mad threshold are single
  * IEEE ops — bit-equal across engines, so the flag itself is exact.
  */
object Outliers {

  /** Flags rows whose |value − group-median| exceeds `k` × the group's
    * median absolute deviation. Returns the input columns plus
    * (med, mad, dev, is_outlier). Rows with NULL `valueCol` get NULL
    * dev and false is_outlier; NULL group keys form their own group.
    * For all-equal groups mad = 0 and every deviating row flags —
    * the conventional MAD semantics. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    // LEFT null-safe joins (<=>): a NULL group KEY keeps its statistics
    // (plain equi-join drops the group), and a group whose values are
    // ALL null — absent from the stats frames entirely — keeps its rows
    // with NULL med/mad and false is_outlier instead of vanishing
    val med = Quantiles.groupedExactQuantilesDouble(df, groupCol, valueCol,
        Seq("value" -> 0.5))
      .withColumnRenamed("value", "med").withColumnRenamed(groupCol, "__g")
    val withMed = df.join(broadcast(med), col(groupCol) <=> col("__g"), "left")
      .drop("__g")
      .withColumn("dev", abs(col(valueCol).cast("double") - col("med")))
    val mad = Quantiles.groupedExactQuantilesDouble(withMed, groupCol, "dev",
        Seq("value" -> 0.5))
      .withColumnRenamed("value", "mad").withColumnRenamed(groupCol, "__g")
    withMed.join(broadcast(mad), col(groupCol) <=> col("__g"), "left")
      .drop("__g")
      .withColumn("is_outlier",
        coalesce(col("dev") > lit(k) * col("mad"), lit(false)))
  }
}
