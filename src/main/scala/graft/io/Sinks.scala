package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, Observation, SaveMode}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.util.SerializableConfiguration

/** Sink connectors — reference §2.1 S7, S8, S10.
  *
  * Scale posture: parquet writes inherit the frame's partitioning — callers
  * control file count via the upstream plan (repartition by the write key),
  * never via driver-side collects. `snapshot` applies the reference's
  * raw-overwrite + legacy-append convention in one call; `stage` splits it
  * into a staged write and a rename-only publish.
  */
object Sinks {

  /** S8 — parquet sink, overwrite mode, optional dated path layout
    * (reference `Raptor.py:104-109` writes `{bucket}/{yyyymmdd}/{name}`). */
  def parquet(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).parquet(path)

  /** S7 — JDBC sink with save mode (reference `dags/utils.py:90-105`). */
  def jdbc(df: DataFrame, url: String, table: String, mode: SaveMode,
           props: Map[String, String]): Unit = {
    val w = df.write.format("jdbc").option("url", url).option("dbtable", table)
    props.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.mode(mode).save()
  }

  /** S10 — DDL side-channel executed before a JDBC load (the reference
    * creates the `work` schema via psycopg2, `Raptor.py:41-57`). Runs an
    * arbitrary pre-statement on a plain java.sql connection. */
  def jdbcWithPreDdl(df: DataFrame, url: String, table: String, mode: SaveMode,
                     props: Map[String, String], preDdl: String): Unit = {
    val info = new java.util.Properties()
    props.foreach { case (k, v) => info.setProperty(k, v) }
    val conn = java.sql.DriverManager.getConnection(url, info)
    try { val st = conn.createStatement(); try st.execute(preDdl) finally st.close() }
    finally conn.close()
    jdbc(df, url, table, mode, props)
  }

  /** Bucketed parquet table: rows pre-hashed into `buckets` files per
    * partition by the bucket columns and sorted within. Two tables
    * bucketed the same way join WITHOUT a shuffle exchange (verified in
    * `BucketingSpec`) — the 100 TB answer to the fact⋈fact join, e.g.
    * lineitem⋈orders on the order key (`graft.model.Entities.sales`).
    * Requires the table catalog (`saveAsTable`); plain `save` cannot
    * carry bucket metadata. */
  def bucketed(df: DataFrame, table: String, buckets: Int,
               bucketCols: Seq[String],
               mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Hive-style partitioned parquet layout (`path/col=value/...`) — the
    * 100 TB landing pattern: downstream scans with a partition-column
    * predicate prune whole directories before reading a byte. */
  def partitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                         mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** JSONL (newline-delimited JSON) sink — the interchange format corpus
    * releases ship in. One JSON object per line; compression via the
    * standard `compression` option (e.g. "gzip") when the consumer
    * expects `.jsonl.gz`. */
  def jsonl(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
            compression: Option[String] = None): Unit = {
    val w = df.write.mode(mode)
    compression.fold(w)(c => w.option("compression", c)).json(path)
  }

  /** CSV sink — the interchange edge for spreadsheet/warehouse-import
    * consumers. Header on by default; compression and quoting via the
    * standard writer options. Completes the format matrix with
    * [[graft.io.Sources.csv]] on the read side. */
  def csv(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite,
          options: Map[String, String] = Map.empty): Unit = {
    val w = df.write.mode(mode).option("header", "true")
    options.foldLeft(w) { case (b, (k, v)) => b.option(k, v) }.csv(path)
  }

  /** ORC sink — Spark's other native columnar format; same lazy,
    * partitioning-inheriting posture as [[parquet]]. Useful when the
    * downstream warehouse is ORC-native (Hive/Trino deployments). */
  def orc(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).orc(path)

  /** The reference's snapshot-ledger convention (`ingestion_task.py:66-69`
    * and parallels): the current frame overwrites `raw`, and the same frame
    * appends to the `legacy` history — a hand-rolled SCD-0 daily ledger.
    * `check` runs on the staged output before anything lands (the
    * gate-then-write ordering: pass `Quality.gate(_, keys)`). Returns the
    * landed row count. */
  def snapshot(df: DataFrame, rawPath: String, legacyPath: String,
               check: DataFrame => Unit = _ => ()): Long = {
    val s = stage(df, rawPath, legacyPath, check)
    try s.publish() finally s.discard()
    s.rows
  }

  /** A snapshot written but not yet landed: `rows` is the frame's row
    * count, `publish()` lands it by renames alone (no Spark job) and
    * `discard()` deletes whatever of its stage dirs remain — a no-op
    * after `publish()`. */
  final class Staged private[Sinks] (val rows: Long, val path: String,
                                     publishFn: () => Unit, discardFn: () => Unit) {
    def publish(): Unit = publishFn()
    def discard(): Unit = discardFn()
  }

  /** Stage a [[snapshot]] without landing it. `df` is evaluated ONCE: it is
    * written to `<raw>.stage-<nonce>` with its row count taken by a
    * `Dataset.observe` on that write; `check` then runs on the staged
    * parquet read with the frame's schema (a gate reads the small written
    * output, not the lineage); and one task per part file copies the raw
    * stage's part files, byte for byte and by name, into `<legacy>.stage-<nonce>`
    * (made even when empty). Nothing under `raw`/`legacy` changes until
    * `publish()`, which replaces `raw` with its stage dir, then renames each
    * legacy part file into `legacy` (part names carry the raw write job's
    * UUID, so nights never collide).
    * Raw lands first, so a retry after a failed publish re-overwrites raw
    * harmlessly. Any failure while staging deletes both stage dirs.
    * Every step uses the Hadoop `FileSystem` of its path. */
  def stage(df: DataFrame, rawPath: String, legacyPath: String,
            check: DataFrame => Unit = _ => ()): Staged = {
    val spark = df.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val raw = new Path(rawPath)
    val legacy = new Path(legacyPath)
    val rawFs = raw.getFileSystem(conf)
    val legacyFs = legacy.getFileSystem(conf)
    val nonce = s"${ProcessHandle.current().pid()}-${System.nanoTime()}"
    val rawStage = new Path(s"$raw.stage-$nonce")
    val legacyStage = new Path(s"$legacy.stage-$nonce")
    def discard(): Unit = { rawFs.delete(rawStage, true); legacyFs.delete(legacyStage, true): Unit }
    try {
      val obs = Observation()
      df.observe(obs, count(lit(1)).as("rows")).write.parquet(rawStage.toString)
      val rows = obs.get("rows").asInstanceOf[Long]
      check(spark.read.schema(df.schema).parquet(rawStage.toString))
      val parts = rawFs.listStatus(rawStage).map(_.getPath).filter(_.getName.startsWith("part-"))
      legacyFs.mkdirs(legacyStage)
      if (parts.nonEmpty) {
        val hadoopConf = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
        try spark.sparkContext.parallelize(parts.toSeq, parts.length)
          .foreach(copyPart(_, legacyStage, hadoopConf.value.value))
        finally hadoopConf.destroy()
      }
      new Staged(rows, rawPath, () => {
        rawFs.delete(raw, true)
        if (!rawFs.rename(rawStage, raw))
          throw new java.io.IOException(s"could not publish $raw")
        legacyFs.mkdirs(legacy)
        legacyFs.listStatus(legacyStage).foreach { st =>
          if (!legacyFs.rename(st.getPath, new Path(legacy, st.getPath.getName)))
            throw new java.io.IOException(s"could not publish ${st.getPath} into $legacy")
        }
        legacyFs.delete(legacyStage, true): Unit
      }, () => discard())
    } catch {
      case e: Throwable => discard(); throw e
    }
  }

  /** Copy one part file, byte for byte and by name, into `dstDir`. The
    * destination is opened with `createNonRecursive`: Spark does not stop
    * the running tasks of a failed job, so a copy task can outlive
    * `discard()`, and a plain `create` would make the deleted stage dir
    * again. This one fails on the missing parent instead. (The flag-set
    * overload: `RawLocalFileSystem`'s boolean one makes the parent.) */
  private[graft] def copyPart(src: Path, dstDir: Path, conf: Configuration): Unit = {
    val dst = new Path(dstDir, src.getName)
    val dstFs = dst.getFileSystem(conf)
    val in = src.getFileSystem(conf).open(src)
    try {
      val out = dstFs.createNonRecursive(dst,
        FsPermission.getFileDefault.applyUMask(FsPermission.getUMask(conf)),
        java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
        conf.getInt("io.file.buffer.size", 4096), dstFs.getDefaultReplication(dst),
        dstFs.getDefaultBlockSize(dst), null)
      try IOUtils.copyBytes(in, out, conf, false) finally out.close()
    } finally in.close()
  }
}
