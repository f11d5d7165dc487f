package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

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
  * One comparison, six artifacts, as in the reference's compare stage,
  * which caches both sides once (`Raptor.py:545-546`): [[compared]] is ONE
  * full-outer join of the erased sides, and every artifact of a
  * [[DiffResult]] is a filter, a projection or one aggregation over it,
  * with no further join. [[diff]] persists that core, so a run shuffles
  * by the key columns once instead of once per artifact. Over an
  * unpersisted core each artifact plans on its own; Catalyst's outer-join
  * elimination turns the row diff's filter back into an inner join.
  *
  * Assumes keys are unique per side (the reference's dup gate runs
  * upstream); with duplicate keys the joins fan out in both engines
  * identically, but summary counts lose their plain-English meaning.
  */
object Reconcile {

  /** [[diff]]'s persisted cores, bounded per session (two diffs' worth)
    * and released with every other window by [[CacheWindows.releaseAll]]. */
  private val cacheWindow = new CacheWindows(2)

  /** The reference's record separator (`Raptor.py:561`). */
  val Sep = "\u0001"

  /** Type-erased frame: every column cast to string, null→''. */
  private def erased(df: DataFrame, prefix: String): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*).na.fill("")
      .toDF(df.columns.map(prefix + _): _*)

  /** The comparison core: the erased source columns and the erased,
    * `__t_`-prefixed target columns, full-outer joined on the keys.
    * Erased values are never null, so a null key column marks the side a
    * row lacks. */
  def compared(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val s = erased(source, "")
    val t = erased(target, "__t_")
    s.join(t, keys.map(k => s(k) === t(s"__t_$k")).reduce(_ && _), "full_outer")
  }

  /** All diff artifacts of one comparison core, lazily (nothing executes
    * until a sink or action touches a member). Records are built only
    * for the rows an artifact keeps. Record equality over the SOH concat
    * is taken as column-wise equality of the erased tuples (the two agree
    * as long as data carries no SOH — the reference's own assumption). */
  final case class DiffResult(compared: DataFrame, keys: Seq[String]) {
    private val (tCols, sCols) = compared.columns.toSeq.partition(_.startsWith("__t_"))
    private val inS = col(keys.head).isNotNull
    private val inT = col(s"__t_${keys.head}").isNotNull
    private val anyNeq = sCols.map(c => col(c) =!= col(s"__t_$c")).reduce(_ || _)
    private def record(cols: Seq[String]) = concat_ws(Sep, cols.map(col): _*)
    /** Key columns of a side every kept row holds: non-null, as after a join. */
    private def held(cols: Seq[String]) = keys.zip(cols).map { case (k, c) =>
      ColumnBridge.column(KnownNotNull(ColumnBridge.expression(col(c)))).as(k)
    }
    private val srcRecord = record(sCols)
    private val tgtRecord = record(sCols.map("__t_" + _))

    /** Rows present on both sides (by key) whose canonical records
      * differ: keys..., Source_Record, Target_Record. */
    lazy val rowDiff: DataFrame = compared.where(inS && inT && anyNeq)
      .select(held(keys) :+ srcRecord.as("Source_Record") :+
        tgtRecord.as("Target_Record"): _*)

    /** Column-level mismatch explosion: keys..., source_value,
      * target_value, mismatch_column_name — one row per differing cell. */
    lazy val colMismatch: DataFrame = rowDiff
      .select((keys.map(col) :+
        split(col("Source_Record"), Sep).as("_2") :+
        split(col("Target_Record"), Sep).as("_3")): _*)
      .select((keys.map(col) :+ posexplode(arrays_zip(col("_2"), col("_3")))): _*)
      .withColumn("source_value", col("col._2"))
      .withColumn("target_value", col("col._3"))
      .filter(col("source_value") =!= col("target_value"))
      .select((keys.map(col) :+ col("source_value") :+ col("target_value") :+
        columnName(col("pos")).as("mismatch_column_name")): _*)

    /** Rows whose key exists only in source (the reference's left join +
      * null filter, `Raptor.py:619-631`). */
    lazy val srcExtra: DataFrame = compared.where(inS && !inT)
      .select(held(keys) :+ srcRecord.as("Source_Record"): _*)

    /** Rows whose key exists only in target (`Raptor.py:633-645`). */
    lazy val tgtExtra: DataFrame = compared.where(inT && !inS)
      .select(held(keys.map("__t_" + _)) :+ record(tCols).as("Target_Record"): _*)

    /** Reconciliation summary (Description, Value) — the reference's
      * `_raptor_result_summary` counts (`Raptor.py:271-437`) as one
      * aggregation, not the reference's six join+count actions.
      * Presentation-layer decoration (thousands separators, system
      * labels) is left to report renderers; the Values carry the plain
      * counts. */
    lazy val summary: DataFrame = compared
      .agg(
        count(when(inS, 1)).as("src_cnt"),
        count(when(inT, 1)).as("tgt_cnt"),
        count(when(inS && inT, 1)).as("common_cnt"),
        count(when(inS && inT && anyNeq, 1)).as("mismatch_cnt"),
        count(when(!inT, 1)).as("src_extra_cnt"),
        count(when(!inS, 1)).as("tgt_extra_cnt"))
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

    /** Column-level mismatch percentage summary — the reference's
      * `_raptor_column_summary` (`Raptor.py:441-474`): per-column mismatch
      * count and its percentage of compared rows, ordered worst-first.
      * One aggregation over the compared rows carries both counts: a
      * differing row explodes to its split positions and a matching one
      * to a single equal position, so position 0 counts each compared row
      * once. A one-row aggregation over the per-column groups then sums
      * those, instead of the reference's eager `.count()`. */
    lazy val colSummary: DataFrame = {
      val pos = col("pos")
      val differs = coalesce(col("col._2") =!= col("col._3"), lit(false))
      val same = array(lit(""))
      compared.where(inS && inT)
        .select(when(anyNeq, split(srcRecord, Sep)).otherwise(same).as("_2"),
          when(anyNeq, split(tgtRecord, Sep)).otherwise(same).as("_3"))
        .select(posexplode(arrays_zip(col("_2"), col("_3"))))
        .groupBy(differs.as("differs"),
          when(differs, columnName(pos)).otherwise("").as("mismatch_column_name"))
        .agg(count(lit(1)).as("Mismatch_Record_Count_Column_Level"),
          count(when(pos === 0, 1)).as("rows"))
        .agg(sum("rows").as("compared_cnt"), collect_list(when(col("differs"),
          struct("mismatch_column_name", "Mismatch_Record_Count_Column_Level"))).as("m"))
        .select(col("compared_cnt"), inline(col("m")))
        .withColumn("Percentage_Of_Mismatch",
          concat((col("Mismatch_Record_Count_Column_Level") * lit(100.0) /
            col("compared_cnt")).cast("decimal(10,2)").cast("string"), lit("%")))
        // worst-first by the NUMERIC ratio — sorting the formatted string
        // would be lexicographic ('9.09%' above '33.33%')
        .orderBy((col("Mismatch_Record_Count_Column_Level") /
            col("compared_cnt")).desc, col("mismatch_column_name"))
        .select("mismatch_column_name", "Mismatch_Record_Count_Column_Level",
          "Percentage_Of_Mismatch")
    }

    /** The source column at a 0-based position of the split record. */
    private def columnName(pos: org.apache.spark.sql.Column) =
      element_at(array(sCols.map(lit): _*), pos.cast("int") + 1)
  }

  /** The per-artifact forms: each plans one artifact over its own,
    * unpersisted core. */
  def rowDiff(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).rowDiff
  def colMismatch(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).colMismatch
  def srcExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).srcExtra
  def tgtExtra(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).tgtExtra
  def summary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).summary
  def colSummary(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame =
    DiffResult(compared(source, target, keys), keys).colSummary

  /** The composed operator — the Scala face of the reference's
    * `submit_raptor_request` compare stage (`Raptor.py:536-655`). The
    * comparison core is persisted in this module's window before fan-out,
    * so the six artifacts share one join. */
  def diff(source: DataFrame, target: DataFrame, keys: Seq[String]): DiffResult =
    DiffResult(cacheWindow.add(compared(source, target, keys)), keys)

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
