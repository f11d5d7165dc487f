package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Conf overrides scoped to the plans one body builds. `run` hands the
  * body a clone of `spark` (`cloneSession`: the same SparkContext and
  * SharedState, hence the same CacheManager, plus copies of the conf,
  * functions and temp views) with `overrides` set on the clone alone. The
  * parent's conf is never written, so queries planned on it meanwhile,
  * from any thread, keep its settings, and nothing needs restoring when
  * the body returns or throws.
  *
  * The body builds every frame it runs from the session it is given; an
  * outside frame enters through [[rebind]]. A frame persisted on the
  * parent is read from the shared cache, and a persist made in the scope
  * unpersists through the same plan-keyed entry. Nothing built in a scope
  * escapes it: bodies return driver values (rows, maps), never a frame.
  *
  * When every override already holds in `spark`'s conf (a scope nested in
  * one that set the same values), the body runs on `spark` itself. Each
  * other entry clones afresh, so it always sees the parent's current conf.
  *
  * A clone costs more than `cloneSession()` itself: it builds its session
  * state on first use (about 40-50 ms on local[4]), and it has its own
  * session classloader. Spark caches generated classes by (classloader,
  * code), so a clone's plans compile afresh at any cache size (about 16
  * compiles per clone per benchmark pass, also with 4000 entries). A
  * clone kept across entries did not shorten the nightly DAG or a
  * benchmark pass, so none is kept. */
object ConfScope {
  def run[T](spark: SparkSession, overrides: Seq[(String, String)])(
      body: SparkSession => T): T =
    if (overrides.forall { case (k, v) => spark.conf.getOption(k).contains(v) })
      body(spark)
    else {
      val s = spark.asInstanceOf[classic.SparkSession].cloneSession()
      overrides.foreach { case (k, v) => s.conf.set(k, v) }
      body(s)
    }

  /** `df` as a frame of `s`, planned under `s`'s conf. It carries the
    * analyzed plan: re-analyzing the logical one would resolve a file
    * source again, and a parquet read's schema inference is a job. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    if (df.sparkSession eq s) df
    else classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
