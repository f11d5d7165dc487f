package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{SortableDoubleBits, TopKRows}

/** Exact top-k per group WITHOUT a window: groupBy + the bounded-heap
  * [[graft.functions.TopKRows]] aggregate, then one posexplode. Same
  * rows as `row_number().over(partitionBy(group).orderBy(ord)) <= k`
  * under a total order, but the shuffle after partial aggregation
  * carries at most k rows per group per map partition — the window form
  * shuffles the whole input and sorts full reducer partitions first.
  * Use the window form when you need ALL rows ranked (running sums,
  * rank gaps); use this when you only keep the top k.
  *
  * Order keys are sortable longs, lexicographic, largest first:
  * [[ordDesc]]/[[ordAsc]] encode long/int/date columns, Spark-first via
  * the codegen'd [[SortableDoubleBits]] for doubles. Ascending
  * components ride through bitwise NOT (an exact total-order reversal
  * on the full long range). Make the combined key total (tiebreak on a
  * unique id) for deterministic output.
  */
object TopK {

  /** Descending contribution of an integral column (long/int/short/date). */
  def ordDesc(c: Column): Column = c.cast("long")

  /** Ascending contribution of an integral column. */
  def ordAsc(c: Column): Column = c.cast("long").bitwiseXOR(lit(-1L))

  /** Descending contribution of a double column (order-preserving bits). */
  def ordDescDouble(c: Column): Column = SortableDoubleBits.sortableDoubleBits(c)

  /** Top-k rows per group. Output: groupCols, `rk` (1-based, best first),
    * then payloadCols. */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String], ordKeys: Seq[Column],
                   payloadCols: Seq[String], k: Int): DataFrame = {
    val agg = df.groupBy(groupCols.map(col): _*)
      .agg(TopKRows.topKRows(array(ordKeys: _*),
        struct(payloadCols.map(col): _*), k).as("__topk"))
    agg.select(groupCols.map(col) :+ posexplode(col("__topk")).as(Seq("__pos", "__e")): _*)
      .withColumn("rk", col("__pos") + 1)
      .select(groupCols.map(col) ++ (col("rk") +: payloadCols.map(c => col(s"__e.$c"))): _*)
  }
}
