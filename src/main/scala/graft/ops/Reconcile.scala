package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Raptor-semantics data reconciliation — re-expression of the reference's
  * comparison engine (reference: `Raptor/Raptor.py:536-655` inside the
  * shipped wheel) as one composable operator.
  *
  * Semantics preserved from the reference:
  *   - Record canonicalization erases types: every column cast to string,
  *     nulls to '' (null and "" indistinguishable *by design*,
  *     `Raptor.py:552-558`), concat_ws over a SOH (U+0001) separator into one
  *     Source_Record/Target_Record (`:560-569`).
  *   - Row diff = inner join on the key list where records differ (`:571-579`).
  *   - Column diff = positional zip of the split records, exploded, filtered
  *     to differing positions, position mapped back to a column name
  *     (`:581-606`). Expressed natively as arrays_zip + posexplode +
  *     element_at instead of the reference's expr() string.
  *   - Extra rows = outer join + null-side filter both directions (`:619-645`).
  *
  * Better physics than the reference, same results (SURVEY.md §4
  * anti-pattern 4): the summary is ONE aggregation over ONE full-outer
  * join instead of the reference's six separate join+count actions, and it
  * stays a lazy DataFrame (no driver-side count storm). At 100 TB that is
  * one shuffle by the key columns instead of six.
  *
  * Assumes keys are unique per side (the reference's dup gate runs
  * upstream); with duplicate keys the inner joins would fan out in both
  * engines identically, but summary counts lose their plain-English meaning.
  */
object Reconcile {

  /** [[diff]]'s persisted sides, bounded per session (two diffs' worth)
    * and released with every other window by [[CacheWindows.releaseAll]]. */
  private val cacheWindow = new CacheWindows(4)

  /** The reference's record separator (`Raptor.py:561`). */
  val Sep = "\u0001"

  /** Cast every column to string, null→'', and append a concatenated
    * record column — the reference's canonicalization (`Raptor.py:550-569`). */
  def canonicalize(df: DataFrame, keys: Seq[String], recordCol: String): DataFrame = {
    val cols = df.columns.toSeq
    df.select(cols.map(c => col(c).cast("string").as(c)): _*)
      .na.fill("")
      .withColumn(recordCol, concat_ws(Sep, cols.map(col): _*))
      .select((keys.map(col) :+ col(recordCol)): _*)
  }

  /** Type-erased frame: every column cast to string, null→''. */
  private def erased(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*).na.fill("")

  /** Target-side erased frame with every column prefixed `__t_`. */
  private def erasedT(df: DataFrame): DataFrame = {
    val e = erased(df)
    e.select(df.columns.map(c => col(c).as(s"__t_$c")).toSeq: _*)
  }

  private def record(cols: Seq[String], side: Seq[String] => Seq[org.apache.spark.sql.Column]) =
    concat_ws(Sep, side(cols): _*)

  /** Rows present on both sides (by key) whose canonical records differ:
    * keys..., Source_Record, Target_Record.
    *
    * Record equality over the SOH concat is equivalent to column-wise
    * equality of the erased tuples (the separator never collides as long
    * as data carries no SOH — the reference's own assumption), so the
    * implementation compares columns first and builds the concatenated
    * record strings ONLY for the mismatching rows. At 100 TB that skips
    * string materialization for the overwhelmingly matching majority. */
  def rowDiff(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = source.columns.toSeq
    val s = erased(source)
    val t = erasedT(target)
    val joinCond = keys.map(k => s(k) === t(s"__t_$k")).reduce(_ && _)
    val anyNeq = cols.map(c => s(c) =!= t(s"__t_$c")).reduce(_ || _)
    s.join(t, joinCond, "inner")
      .where(anyNeq)
      .select(keys.map(k => s(k).as(k)) :+
        record(cols, _.map(s(_))).as("Source_Record") :+
        record(cols, _.map(c => t(s"__t_$c"))).as("Target_Record"): _*)
  }

  /** Column-level mismatch explosion: keys..., source_value, target_value,
    * mismatch_column_name — one row per differing cell. */
  def colMismatch(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val colNames = source.columns.toSeq
    rowDiff(source, target, keys)
      .select((keys.map(col) :+
        split(col("Source_Record"), Sep).as("_2") :+
        split(col("Target_Record"), Sep).as("_3")): _*)
      .select((keys.map(col) :+ posexplode(arrays_zip(col("_2"), col("_3")))): _*)
      .withColumn("source_value", col("col._2"))
      .withColumn("target_value", col("col._3"))
      .filter(col("source_value") =!= col("target_value"))
      .select((keys.map(col) :+ col("source_value") :+ col("target_value") :+
        element_at(
          array(colNames.map(lit): _*), col("pos").cast("int") + 1
        ).as("mismatch_column_name")): _*)
  }

  /** Rows whose key exists only in source (reference's left join + null
    * filter, `Raptor.py:619-631`; semantically a left_anti join). The
    * record string is built only for the surviving extra rows. */
  def srcExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = source.columns.toSeq
    val s = erased(source)
    val tKeys = erasedT(target.select(keys.map(col): _*))
    val joinCond = keys.map(k => s(k) === tKeys(s"__t_$k")).reduce(_ && _)
    s.join(tKeys, joinCond, "left")
      .filter(tKeys(s"__t_${keys.head}").isNull)
      .select(keys.map(k => s(k).as(k)) :+
        record(cols, _.map(s(_))).as("Source_Record"): _*)
  }

  /** Rows whose key exists only in target (`Raptor.py:633-645`). */
  def tgtExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = target.columns.toSeq
    val sKeys = erased(source.select(keys.map(col): _*))
    val t = erasedT(target)
    val joinCond = keys.map(k => sKeys(k) === t(s"__t_$k")).reduce(_ && _)
    sKeys.join(t, joinCond, "right")
      .filter(sKeys(keys.head).isNull)
      .select(keys.map(k => t(s"__t_$k").as(k)) :+
        record(cols, _.map(c => t(s"__t_$c"))).as("Target_Record"): _*)
  }

  /** Reconciliation summary (Description, Value) — the reference's
    * `_raptor_result_summary` counts (`Raptor.py:271-437`) computed in a
    * single pass over one full-outer join. Presentation-layer decoration
    * (thousands separators, system labels) is left to report renderers;
    * the Values carry the plain counts. */
  def summary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val cols = source.columns.toSeq
    val s = erased(source)
    val t = erasedT(target)
    val joinCond = keys.map(k => s(k) === t(s"__t_$k")).reduce(_ && _)
    // post-erasure keys are never null, so a null key column marks the
    // absent side of the full-outer join; no record strings needed at all
    val src = s(keys.head)
    val tgt = t(s"__t_${keys.head}")
    val anyNeq = cols.map(c => s(c) =!= t(s"__t_$c")).reduce(_ || _)
    s.join(t, joinCond, "full_outer")
      .agg(
        count(src).as("src_cnt"),
        count(tgt).as("tgt_cnt"),
        count(when(src.isNotNull && tgt.isNotNull, 1)).as("common_cnt"),
        count(when(src.isNotNull && tgt.isNotNull && anyNeq, 1)).as("mismatch_cnt"),
        count(when(tgt.isNull, 1)).as("src_extra_cnt"),
        count(when(src.isNull, 1)).as("tgt_extra_cnt"))
      .withColumn("pct",
        when(col("common_cnt") > 0,
          concat((col("mismatch_cnt") * lit(100.0) / col("common_cnt"))
            .cast("decimal(10,2)").cast("string"), lit("%")))
          .otherwise(lit(null).cast("string")))
      .selectExpr(
        """stack(7,
          |  'Number of rows in Source', cast(src_cnt as string),
          |  'Number of rows in Target', cast(tgt_cnt as string),
          |  'Number of rows in common', cast(common_cnt as string),
          |  'Number of rows mismatch', cast(mismatch_cnt as string),
          |  'Row Mismatch Percentage', pct,
          |  'Number of rows in Source but not in Target', cast(src_extra_cnt as string),
          |  'Number of rows in Target but not in Source', cast(tgt_extra_cnt as string)
          |) as (Description, Value)""".stripMargin)
  }

  /** Column-level mismatch percentage summary — the reference's
    * `_raptor_column_summary` (`Raptor.py:441-474`): per-column mismatch
    * count and its percentage of compared rows, ordered worst-first. The
    * compared-row count rides along as a broadcastable one-row aggregate
    * instead of the reference's eager `.count()`. */
  def colSummary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    // keys-only inner join for the compared-row count: prunes the scan to
    // the key columns instead of canonicalizing every column twice
    val sk = source.select(keys.map(c => col(c).cast("string").as(c)): _*)
    val tk = target.select(keys.map(c => col(c).cast("string").as(c)): _*)
    val compared = sk.na.fill("").join(tk.na.fill(""), keys)
      .agg(count(lit(1)).as("compared_cnt"))
    colMismatch(source, target, keys)
      .groupBy("mismatch_column_name")
      .agg(count(lit(1)).as("Mismatch_Record_Count_Column_Level"))
      .crossJoin(broadcast(compared))
      .withColumn("Percentage_Of_Mismatch",
        concat((col("Mismatch_Record_Count_Column_Level") * lit(100.0) /
          col("compared_cnt")).cast("decimal(10,2)").cast("string"), lit("%")))
      // worst-first by the NUMERIC ratio — sorting the formatted string
      // would be lexicographic ('9.09%' above '33.33%')
      .orderBy((col("Mismatch_Record_Count_Column_Level") /
          col("compared_cnt")).desc, col("mismatch_column_name"))
      .drop("compared_cnt")
  }

  /** All diff artifacts of one reconciliation run, lazily (nothing
    * executes until a sink or action touches a member). */
  final case class DiffResult(rowDiff: DataFrame, colMismatch: DataFrame,
                              srcExtra: DataFrame, tgtExtra: DataFrame,
                              summary: DataFrame, colSummary: DataFrame)

  /** The composed operator — the Scala face of the reference's
    * `submit_raptor_request` compare stage (`Raptor.py:536-655`). Both
    * sides are persisted in this module's window before fan-out: six
    * artifacts read them (the reference caches them too,
    * `Raptor.py:545-546`). A side the caller already persisted is used
    * as is, so a release never drops the caller's own cache. */
  def diff(source: DataFrame, target: DataFrame, keys: Seq[String]): DiffResult = {
    def cached(df: DataFrame): DataFrame =
      if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
      else cacheWindow.add(df)
    val s = cached(source)
    val t = cached(target)
    DiffResult(
      rowDiff(s, t, keys), colMismatch(s, t, keys),
      srcExtra(s, t, keys), tgtExtra(s, t, keys),
      summary(s, t, keys), colSummary(s, t, keys))
  }

  /** Q8 — delta-table persistence under the reference's naming convention
    * `work.{col_,col_lvl_,src_,tgt_}{name}_{runstamp}` (`Raptor.py:
    * 608-645,464-472`), here as parquet paths under `baseDir` (the JDBC
    * variant is [[graft.io.Sinks.jdbc]] with the same table names). */
  def persist(result: DiffResult, name: String, runstamp: String,
              baseDir: String): Map[String, String] = {
    val artifacts = Map(
      s"col_${name}_$runstamp" -> result.colMismatch,
      s"col_lvl_${name}_$runstamp" -> result.colSummary,
      s"src_${name}_$runstamp" -> result.srcExtra,
      s"tgt_${name}_$runstamp" -> result.tgtExtra)
    artifacts.map { case (table, df) =>
      val path = s"$baseDir/$table"
      graft.io.Sinks.parquet(df, path)
      table -> path
    }
  }
}
