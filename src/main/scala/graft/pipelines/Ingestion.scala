package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.model.Entities
import graft.ops.Quality

/** Ingestion/snapshot pipeline — re-expression of the reference's four
  * ingestion tasks (reference `ETL_Airflow/dags/tasks/ingestion_task.py`):
  *
  *   extract → positional rename to canonical UPPER_SNAKE → project →
  *   DAY_DT audit column → duplicate gate → raw overwrite + legacy append.
  *
  * The fragile positional rename (`withColumnRenamed(df.columns[i], ...)`,
  * `ingestion_task.py:32-36`) becomes an explicit `toDF(names)` contract:
  * same observable result, declared instead of accidental.
  */
object Ingestion {

  /** Positional rename + projection + audit column (P1, P2, P8). */
  def canonicalize(df: DataFrame, names: Seq[String],
                   dayDt: java.sql.Date = java.sql.Date.valueOf(Entities.DayDtLit)): DataFrame = {
    require(df.columns.length == names.length,
      s"positional rename arity mismatch: ${df.columns.length} cols vs ${names.length} names")
    df.toDF(names: _*).withColumn("DAY_DT", lit(dayDt))
  }

  /** Full snapshot ingest: gate-then-write ordering preserved from the
    * reference (failure ⇒ no partial load; SURVEY.md §7.5 item 5). The
    * frame is evaluated once: the gate runs on the staged output and
    * nothing lands unless it passes ([[Sinks.snapshot]]). */
  def snapshotIngest(df: DataFrame, names: Seq[String], primaryKey: Seq[String],
                     rawPath: String, legacyPath: String): DataFrame = {
    val canonical = canonicalize(df, names)
    Sinks.snapshot(canonical, rawPath, legacyPath, Quality.gate(_, primaryKey))
    canonical
  }

  /** S1/P3/Q1 — the USA-population ingestion flow (reference
    * `dags/tasks/usa_population_ingestion.py:20-56`, wired as its own DAG
    * in `dags/usa_etl_dag.py:6-10`): records arriving with the API's
    * space-bearing column names are canonicalized with a backticked
    * `selectExpr` rename, then gated on the (nation, year) grain. The
    * reference's REST fetch and JDBC write are the I/O edges
    * ([[graft.io.Rest]] / [[graft.io.Sinks]]); this is the engine middle
    * they sandwich. */
  def usaPopulation(raw: DataFrame): DataFrame = {
    val canonical = raw.selectExpr(
      "`ID Nation` as ID_NATION",
      "`Nation` as NATION",
      "`ID Year` as ID_YEAR",
      "`Year` as YEAR",
      "`Population` as POPULATION",
      "`Slug Nation` as SLUG_NATION")
    Quality.gate(canonical, Seq("ID_NATION", "ID_YEAR"))
  }

  /** Driver-facing query: the API payload shape derived deterministically
    * from the `nation` fixture (the sandbox has no egress), pushed through
    * the same canonicalize-and-gate flow. */
  def usaPopulationSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val n = Entities.read(spark, dir, "nation")
    val raw = n.select(
      col("n_nationkey").as("ID Nation"),
      col("n_name").as("Nation"),
      (lit(2020) + col("n_nationkey") % 3).cast("int").as("ID Year"),
      (lit(2020) + col("n_nationkey") % 3).cast("string").as("Year"),
      (lit(1000000L) + col("n_nationkey").cast("long") * 12345L).as("Population"),
      lower(col("n_name")).as("Slug Nation"))
    usaPopulation(raw)
  }

  val usaPopulationOracle: String =
    """SELECT n_nationkey AS ID_NATION, n_name AS NATION,
      |       CAST(2020 + n_nationkey % 3 AS INT) AS ID_YEAR,
      |       CAST(CAST(2020 + n_nationkey % 3 AS INT) AS VARCHAR) AS YEAR,
      |       CAST(1000000 + n_nationkey * 12345 AS BIGINT) AS POPULATION,
      |       lower(n_name) AS SLUG_NATION
      |FROM nation ORDER BY n_nationkey""".stripMargin

  /** Driver-facing query: the suppliers entity canonicalized with its
    * audit column, as the ingestion tasks produce it. */
  def suppliersSnapshot(spark: SparkSession, dir: String): DataFrame =
    canonicalize(
      Entities.read(spark, dir, "supplier"),
      Seq("SUPPLIER_ID", "SUPPLIER_NAME", "S_NATIONKEY", "S_ACCTBAL"))
      .select("DAY_DT", "SUPPLIER_ID", "SUPPLIER_NAME", "S_NATIONKEY")

  val suppliersSnapshotOracle: String =
    """SELECT DATE '2025-01-01' AS DAY_DT, s_suppkey AS SUPPLIER_ID,
      |       s_name AS SUPPLIER_NAME, s_nationkey AS S_NATIONKEY
      |FROM supplier ORDER BY s_suppkey""".stripMargin
}
