package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.InterleaveBits

/** Multi-dimensional data layout for scan-heavy tables — the write-side
  * half of data skipping. Parquet readers prune files/row-groups whose
  * column (min, max) ranges cannot satisfy a predicate; how much that
  * prunes is entirely a property of HOW THE ROWS WERE LAID OUT when
  * written. This module produces z-ordered (Morton-curve) layouts so
  * box predicates over two dimensions prune effectively, plus the
  * partition-range report that makes the effect measurable.
  *
  * Scale posture: one range exchange on the z-key (sampled boundaries,
  * balanced output files), sort WITHIN partitions only — no global sort
  * barrier — then a plain parquet write. At 100 TB this is the same
  * cost shape as any repartition+write; the skipping payoff on every
  * subsequent read is where the win compounds.
  */
object Layout {

  /** The 62-bit z-key of two non-negative long dimensions (low 31 bits
    * each — see [[graft.functions.InterleaveBits]]). */
  def zkey(x: Column, y: Column): Column =
    InterleaveBits.interleaveBits(x.cast("long"), y.cast("long"))

  /** Cluster `df` on the z-curve over (`xCol`, `yCol`): range-partition
    * by z-key into `partitions` output splits and sort within each, so
    * every split covers one compact z-range = a bounded box in BOTH
    * dimensions. Row content is unchanged (the key is dropped). */
  def zorder(df: DataFrame, xCol: String, yCol: String,
             partitions: Int): DataFrame = {
    require(partitions > 0, "partition count must be positive")
    df.withColumn("__z", zkey(col(xCol), col(yCol)))
      .repartitionByRange(partitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Result of a [[compactFiles]] rewrite: what was on disk before and
    * the file count the rewrite targeted. */
  final case class CompactionStats(filesBefore: Int, bytesBefore: Long,
                                   filesAfter: Int)

  /** Rewrite a parquet directory into ~`targetBytes`-sized files — the
    * small-files compaction every long-lived 100 TB table eventually
    * needs (streaming sinks and fine-grained partition writes leave
    * thousands of KB-scale files; each costs an open/footer-read per
    * scan task and a NameNode/object-store listing entry).
    *
    * File count is sized from the INPUT's on-disk bytes (footer-cheap
    * FileSystem listing — no data pass): same codec in and out, so
    * input bytes approximate output bytes. The rewrite is one
    * round-robin `repartition(n)` — even file sizes, no key skew by
    * construction — and content is preserved row-for-row (order is
    * not, which parquet does not promise anyway). Write the output of
    * [[zorder]] instead when the rewrite should ALSO cluster for data
    * skipping; this op is the layout-neutral form.
    */
  def compactFiles(spark: org.apache.spark.sql.SparkSession, inPath: String,
                   outPath: String,
                   targetBytes: Long = 128L << 20): CompactionStats = {
    require(targetBytes > 0, "targetBytes must be positive")
    require(new org.apache.hadoop.fs.Path(inPath).toUri.getPath !=
      new org.apache.hadoop.fs.Path(outPath).toUri.getPath,
      "in-place compaction is not atomic — write to a new path, then swap")
    val p = new org.apache.hadoop.fs.Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = files.map(_.getLen).sum
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    spark.read.parquet(inPath).repartition(n)
      .write.mode("overwrite").parquet(outPath)
    CompactionStats(files.length, bytes, n)
  }

  /** Per-partition (min, max) ranges of `cols` — the in-plan analog of
    * parquet footer stats, used to MEASURE a layout's skipping power:
    * a box predicate can skip every partition whose ranges don't
    * intersect the box. One row per partition. */
  def partitionRanges(df: DataFrame, cols: Seq[String]): DataFrame =
    df.withColumn("__pid", spark_partition_id())
      .groupBy("__pid")
      .agg(count(lit(1)).as("n_rows"),
        cols.flatMap(c => Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))): _*)

  /** How many partitions a 2-d box predicate must read under this
    * layout (the rest are skippable by min/max stats alone). */
  def candidatePartitions(df: DataFrame, xCol: String, yCol: String,
                          xLo: Long, xHi: Long, yLo: Long, yHi: Long): Long =
    partitionRanges(df, Seq(xCol, yCol))
      .filter(col(s"min_$xCol") <= xHi && col(s"max_$xCol") >= xLo &&
        col(s"min_$yCol") <= yHi && col(s"max_$yCol") >= yLo)
      .count()
}
