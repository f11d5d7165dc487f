package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Typed failure raised by the duplicate gate — mirrors the reference's
  * `DuplicateException` (reference: `ETL_Airflow/dags/utils.py:73-76`). */
class DuplicateException(message: String) extends Exception(message)

/** Data-quality gates — re-expression of the reference's `Duplicate_check`
  * (reference: `ETL_Airflow/dags/utils.py:78-86`), which groups by the
  * primary-key list, counts, and raises if any group exceeds 1. The gate
  * runs before every load in the reference (gate-then-write ordering,
  * SURVEY.md §7.5 item 5).
  *
  * Scale posture: the check is a keyed aggregation (map-side partial
  * count → shuffle by key) followed by `isEmpty`, which only has to find
  * one offending group — Spark stops at the first non-empty partition
  * rather than materializing all counts.
  */
object Quality {

  /** Groups with more than one row per primary key (empty ⇒ clean). */
  def duplicates(df: DataFrame, primaryKey: Seq[String]): DataFrame =
    df.groupBy(primaryKey.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)

  /** Throws [[DuplicateException]] when `df` has duplicate primary keys;
    * otherwise returns `df` unchanged so the gate composes with a write,
    * e.g. as the check of a snapshot load:
    * `Sinks.snapshot(df, raw, legacy, Quality.gate(_, keys))`. */
  def gate(df: DataFrame, primaryKey: Seq[String]): DataFrame = {
    if (!duplicates(df, primaryKey).isEmpty)
      throw new DuplicateException(
        s"Found duplicates in columns: ${primaryKey.mkString(", ")}")
    df
  }

  /** Filter-funnel attrition report — the accounting every corpus filter
    * chain ships with: stages applied IN ORDER, row i reporting how many
    * rows (and how much `weight` — typically tokens) survive stages
    * 1..i cumulatively, plus the surviving-row share of the baseline in
    * basis points. Row 0 is the unfiltered baseline.
    *
    * At 100 TB this is how a pipeline answers "which gate costs the
    * tokens": the whole report is ONE map-side-combining aggregation over
    * a single scan — every cumulative conjunction is evaluated per row in
    * the same codegen'd projection, the shuffle carries one partial-sum
    * row per task, and the stage table is unpivoted from the single
    * result row (`stack`), so cost is independent of stage count beyond
    * the per-row predicate arithmetic.
    *
    * `weight` must be integral (token counts); sums stay exact BIGINT so
    * the output carries only BIGINT/VARCHAR edges. Stage names are code
    * literals (they are spliced into a `stack` expression — keep them to
    * identifier-ish strings without quotes).
    *
    * Output: (stage_idx, stage, n_rows, total_weight, rows_bp), one row
    * per stage plus the baseline, rows_bp = n_rows·10⁴ div baseline
    * (NULL on an empty input rather than a division error). */
  def filterFunnel(df: DataFrame, stages: Seq[(String, Column)],
                   weight: Column): DataFrame = {
    require(stages.nonEmpty, "filterFunnel needs at least one stage")
    val cum = cumulativeStages(stages)
    val aggs = funnelAggs(cum, weight)
    val one = df.agg(aggs.head, aggs.tail: _*)
    one.selectExpr(s"stack(${cum.size}, ${stackArgs(cum)}) AS " +
      "(stage_idx, stage, n_rows, total_weight, rows_bp)")
  }

  /** Per-GROUP [[filterFunnel]] — the same one-pass cumulative
    * accounting keyed by `groupCol` (per-source attrition: which gate
    * costs which source its tokens). Still ONE map-side-combining
    * aggregation over one scan — the shuffle carries 2·(stages+1)
    * partial counters per group per task, the stage table is unpivoted
    * per group row, and shares are within-group basis points. Output:
    * (`groupCol`, stage_idx, stage, n_rows, total_weight, rows_bp);
    * every group reports every stage (zero rows where nothing
    * survives). NULL group values form their own group. */
  def filterFunnelBy(df: DataFrame, groupCol: String,
                     stages: Seq[(String, Column)],
                     weight: Column): DataFrame = {
    require(stages.nonEmpty, "filterFunnelBy needs at least one stage")
    val cum = cumulativeStages(stages)
    val aggs = funnelAggs(cum, weight)
    val one = df.groupBy(col(groupCol)).agg(aggs.head, aggs.tail: _*)
    one.selectExpr(groupCol,
      s"stack(${cum.size}, ${stackArgs(cum)}) AS " +
        "(stage_idx, stage, n_rows, total_weight, rows_bp)")
  }

  private def cumulativeStages(
      stages: Seq[(String, Column)]): Seq[(String, Column)] = {
    // stage names are spliced into a selectExpr stack() literal, so an
    // embedded quote/backslash would be SQL injection into the plan —
    // enforce the identifier-only contract instead of documenting it
    stages.foreach { case (name, _) =>
      require(name.matches("[A-Za-z0-9_]+"),
        s"stage name must match [A-Za-z0-9_]+ (it is spliced into a " +
          s"SQL stack() literal), got: '$name'")
    }
    stages.scanLeft(("all_rows", lit(true))) {
      case ((_, acc), (name, c)) => (name, acc && c)
    }
  }

  private def funnelAggs(cum: Seq[(String, Column)],
                         weight: Column): Seq[Column] =
    cum.zipWithIndex.flatMap { case ((_, c), i) => Seq(
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L)).as(s"d$i"),
      coalesce(sum(when(c, weight).otherwise(0L)).cast("long"), lit(0L))
        .as(s"w$i"))
    }

  private def stackArgs(cum: Seq[(String, Column)]): String =
    cum.zipWithIndex.map { case ((name, _), i) =>
      s"CAST($i AS BIGINT), '$name', d$i, w$i, " +
        s"CASE WHEN d0 = 0 THEN CAST(NULL AS BIGINT) ELSE d$i * 10000L div d0 END"
    }.mkString(", ")
}
