package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Reconcile

/** The per-artifact reconciliation forms as they stood before the shared
  * comparison core: one join per artifact, each over freshly erased
  * sides. Kept as the specs' reference, so the core's derivations are
  * pinned to the same rows, schemas and failures. */
object ReconcileReference {

  private def erased(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => col(c).cast("string").as(c)): _*).na.fill("")

  private def erasedT(df: DataFrame): DataFrame = {
    val e = erased(df)
    e.select(df.columns.map(c => col(c).as(s"__t_$c")).toSeq: _*)
  }

  private def record(cols: Seq[String], side: Seq[String] => Seq[org.apache.spark.sql.Column]) =
    concat_ws(Reconcile.Sep, side(cols): _*)

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

  def colMismatch(source: DataFrame, target: DataFrame, keys: Seq[String]): DataFrame = {
    val colNames = source.columns.toSeq
    rowDiff(source, target, keys)
      .select((keys.map(col) :+
        split(col("Source_Record"), Reconcile.Sep).as("_2") :+
        split(col("Target_Record"), Reconcile.Sep).as("_3")): _*)
      .select((keys.map(col) :+ posexplode(arrays_zip(col("_2"), col("_3")))): _*)
      .withColumn("source_value", col("col._2"))
      .withColumn("target_value", col("col._3"))
      .filter(col("source_value") =!= col("target_value"))
      .select((keys.map(col) :+ col("source_value") :+ col("target_value") :+
        element_at(
          array(colNames.map(lit): _*), col("pos").cast("int") + 1
        ).as("mismatch_column_name")): _*)
  }

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

  /** The six artifacts by name, built as above. */
  def artifacts(source: DataFrame, target: DataFrame,
                keys: Seq[String]): Seq[(String, DataFrame)] = Seq(
    "rowDiff" -> rowDiff(source, target, keys),
    "colMismatch" -> colMismatch(source, target, keys),
    "srcExtra" -> srcExtra(source, target, keys),
    "tgtExtra" -> tgtExtra(source, target, keys),
    "summary" -> summary(source, target, keys),
    "colSummary" -> colSummary(source, target, keys))

  /** The six per-artifact entries, each over its own unpersisted core. */
  def perArtifact(source: DataFrame, target: DataFrame,
                  keys: Seq[String]): Seq[(String, DataFrame)] = Seq(
    "rowDiff" -> Reconcile.rowDiff(source, target, keys),
    "colMismatch" -> Reconcile.colMismatch(source, target, keys),
    "srcExtra" -> Reconcile.srcExtra(source, target, keys),
    "tgtExtra" -> Reconcile.tgtExtra(source, target, keys),
    "summary" -> Reconcile.summary(source, target, keys),
    "colSummary" -> Reconcile.colSummary(source, target, keys))

  /** The six members of one [[Reconcile.DiffResult]]. */
  def of(d: Reconcile.DiffResult): Seq[(String, DataFrame)] = Seq(
    "rowDiff" -> d.rowDiff, "colMismatch" -> d.colMismatch,
    "srcExtra" -> d.srcExtra, "tgtExtra" -> d.tgtExtra,
    "summary" -> d.summary, "colSummary" -> d.colSummary)

  /** Each artifact's schema and rows: in order for `colSummary`, whose
    * worst-first order is part of its contract, sorted for the rest. */
  def contents(forms: Seq[(String, DataFrame)]): Seq[(String, String, Seq[String])] =
    forms.map { case (name, df) =>
      val rows = df.collect().toSeq.map(_.toString)
      (name, df.schema.treeString, if (name == "colSummary") rows else rows.sorted)
    }
}
