package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Par, TextAnalysis}

/** The DSIR builders as they stood before the one-plan form: the
  * per-(doc, bucket) count frame feeds a per-bucket rollup that is
  * broadcast-joined back to it, the totals come from that rollup, and the
  * index path reads its bucket arity with an eager `first()` probe. Kept
  * as the specs' reference, so the lazy plans are pinned to the same rows,
  * schemas and failures. The count frame is left unpersisted here; the
  * persist and its eager count changed no result. */
object SelectionReference {

  private val bits = (c: Column) => (length(bin(c)) - 1).cast("long")

  private def gramFeatures(docs: DataFrame, idCol: String, textCol: String,
                           buckets: Int, carry: Seq[String]): DataFrame = {
    val wide = Par.widen(docs, col(idCol))
    val tk = TextAnalysis.tokens(col(textCol))
    val bigrams = filter(
      zip_with(tk, slice(tk, lit(2), greatest(size(tk) - 1, lit(0))),
        (x, y) => when(y.isNotNull, concat_ws(" ", x, y))),
      g => g.isNotNull)
    val grams = wide.select(col(idCol) +: carry.map(col) :+
      explode(concat(tk, bigrams)).as("g"): _*)
    grams.select(col(idCol) +: carry.map(col) :+
      (conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long") % buckets).as("f"): _*)
  }

  /** One row per gram occurrence: (idCol, f). */
  def grams(docs: DataFrame, idCol: String, textCol: String, buckets: Int): DataFrame =
    gramFeatures(docs, idCol, textCol, buckets, Nil)

  private def docFeatureCounts(docs: DataFrame, idCol: String, textCol: String,
                               isTarget: Column, buckets: Int): DataFrame =
    gramFeatures(docs.select(col(idCol), col(textCol),
        isTarget.cast("boolean").as("__tgt")), idCol, textCol, buckets, Seq("__tgt"))
      .groupBy(col(idCol), col("__tgt"), col("f"))
      .agg(count(lit(1)).as("c"))

  private def featureCounts(docf: DataFrame): DataFrame =
    docf.groupBy("f").agg(
      sum(col("c")).as("r_f"),
      sum(when(col("__tgt"), col("c")).otherwise(0L)).as("t_f"))

  private def weightsFromDocf(docf: DataFrame, docIds: DataFrame,
                              idCol: String, buckets: Int): DataFrame = {
    val feat = featureCounts(docf)
    val tot = feat.agg(
      (bits(sum(col("r_f")) + buckets) - bits(sum(col("t_f")) + buckets))
        .as("norm_bits"))
    val perDoc = docf
      .join(broadcast(feat), "f")
      .groupBy(idCol).agg(
        sum(col("c")).as("n_grams"),
        sum(col("c") * (bits(col("t_f") + 1) - bits(col("r_f") + 1))).as("num_bits"))
    docIds.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .crossJoin(broadcast(tot))
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("num_bits") + col("n_grams") * col("norm_bits"), lit(0L))
          .as("dsir_bits"))
  }

  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  isTarget: Column, buckets: Int): DataFrame =
    weightsFromDocf(docFeatureCounts(docs, idCol, textCol, isTarget, buckets),
      docs, idCol, buckets)

  def dsirWeightsFromIndex(index: DataFrame, docIds: DataFrame,
                           idCol: String): DataFrame = {
    val nbRow = index.select(first(col("n_buckets")).as("nb")).collect()(0)
    require(!nbRow.isNullAt(0),
      "dsirWeightsFromIndex: index is empty or has NULL n_buckets — " +
        "rebuild it with dsirIndexFrame or check the reload path")
    weightsFromDocf(index.withColumnRenamed("is_target", "__tgt"),
      docIds, idCol, nbRow.getLong(0).toInt)
  }

  def dsirSelectTopN(docs: DataFrame, idCol: String, textCol: String,
                     isTarget: Column, n: Int, buckets: Int): DataFrame =
    dsirWeights(docs, idCol, textCol, isTarget, buckets)
      .orderBy(col("dsir_bits").desc, col(idCol).asc)
      .limit(n)

  def dsirSelectTopNFromIndex(index: DataFrame, docIds: DataFrame,
                              idCol: String, n: Int): DataFrame =
    dsirWeightsFromIndex(index, docIds, idCol)
      .orderBy(col("dsir_bits").desc, col(idCol).asc)
      .limit(n)

  def dsirFeatureTable(docs: DataFrame, idCol: String, textCol: String,
                       isTarget: Column, buckets: Int): DataFrame = {
    val feat = featureCounts(
      docFeatureCounts(docs, idCol, textCol, isTarget, buckets))
    val tot = feat.agg(
      (bits(sum(col("r_f")) + buckets) - bits(sum(col("t_f")) + buckets))
        .as("norm_bits"))
    feat.crossJoin(broadcast(tot)).select(col("f"), col("t_f"), col("r_f"),
      col("norm_bits"), lit(buckets.toLong).as("n_buckets"))
  }

  /** A frame's schema and its rows, sorted. */
  def contents(df: DataFrame): (String, Seq[String]) =
    (df.schema.treeString, df.collect().toSeq.map(_.toString).sorted)
}
