package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.Sinks
import graft.ops.Quality

/** The reference's production DAG as plain call sequencing — SURVEY.md
  * §2.13: Airflow's task graph
  * (`dags/metamorph_etl_dag.py:28`:
  * `[suppliers, products, customers] >> sales >> supplier_performance >>
  * product_performance >> customer_sales_report`)
  * reduces to ordinary function composition once every task is a pure
  * `(SparkSession, dir) => DataFrame`. Each mart load preserves the
  * reference's gate-then-write ordering (a duplicate-key failure means
  * no partial load).
  *
  * Every mart reads the source fixture, not another task's output, so
  * the chain fixes only the order in which results LAND. Each load is
  * therefore computed once and staged ahead, all seven concurrently
  * ([[Sinks.stage]]: one write, an observed row count, the gate on the
  * staged output), and published by renames in the reference's group
  * order ([[runStagedGroups]]); after any failure `raw/` and `legacy/`
  * hold exactly what the sequential chain would have left.
  *
  * Scheduling and alerting stay with whatever runs the driver (cron,
  * Airflow's SparkSubmitOperator, …), but the RETRY/FAILURE contract the
  * reference pins — every task body wrapped in a typed failure
  * (`ingestion_task.py:73-78` wraps in `AirflowException`) with bounded
  * retries ≥ 2 (asserted by the reference's only test,
  * `tests/dags/test_dag_example.py:74-83`) and downstream tasks aborted
  * on upstream failure — IS engine surface, carried by [[runTasks]].
  */
object Dag {

  final case class StageResult(name: String, rows: Long, path: String)

  /** Typed failure wrapping a task body's exception after all attempts —
    * the analog of the reference's `AirflowException` wrap. */
  final case class DagTaskException(task: String, attempts: Int, cause: Throwable)
    extends RuntimeException(s"task '$task' failed after $attempts attempt(s)", cause)

  /** Bounded-retry policy: `retries` RE-attempts after the first failure
    * (so retries=2 ⇒ up to 3 attempts — the reference's floor). */
  final case class RetryPolicy(retries: Int = 2, delayMillis: Long = 0L) {
    require(retries >= 0, "retries must be >= 0")
  }

  sealed trait TaskOutcome { def name: String }
  final case class TaskSucceeded(name: String, result: StageResult, attempts: Int)
    extends TaskOutcome
  final case class TaskFailed(name: String, attempts: Int, cause: Throwable)
    extends TaskOutcome
  /** Downstream of a failure: never attempted (Airflow `upstream_failed`). */
  final case class TaskSkipped(name: String, failedUpstream: String) extends TaskOutcome

  /** One task body through its bounded retry budget → a typed outcome.
    * Total attempts ≤ 1 + policy.retries. */
  private def runOne(name: String, body: () => StageResult,
                     policy: RetryPolicy): TaskOutcome = {
    var attempt = 0
    var done: Option[TaskOutcome] = None
    while (done.isEmpty) {
      attempt += 1
      try done = Some(TaskSucceeded(name, body(), attempt))
      catch {
        case scala.util.control.NonFatal(_) if attempt <= policy.retries =>
          if (policy.delayMillis > 0) Thread.sleep(policy.delayMillis)
        case scala.util.control.NonFatal(e) =>
          done = Some(TaskFailed(name, attempt, e))
      }
    }
    done.get
  }

  /** Sequence task thunks with bounded per-task retries. The first task
    * still failing after its attempt budget marks every remaining task
    * skipped — the linear-chain analog of Airflow's all-success trigger
    * rule (the reference's DAG is a linear chain after the ingest fan-in,
    * `dags/metamorph_etl_dag.py:28`). A gate failure (e.g.
    * [[Quality.gate]]'s DuplicateException) is deterministic, so it burns
    * its budget and aborts — exactly the no-partial-load behavior the
    * reference relies on. */
  def runTasks(tasks: Seq[(String, () => StageResult)],
               policy: RetryPolicy = RetryPolicy()): Seq[TaskOutcome] =
    runTaskGroups(tasks.map(Seq(_)), policy)

  /** Stage-grouped execution with PARALLEL fan-in: tasks inside one group
    * run concurrently (the reference's `[suppliers, products, customers]`
    * ingest fan-in — independent Spark jobs the scheduler interleaves, so
    * their scans and writes overlap instead of serializing); groups run
    * in declaration order. A failure inside a group lets its SIBLINGS run
    * to completion (Airflow semantics: parallel tasks already running
    * aren't killed) but skips every LATER group. Outcomes preserve
    * declaration order regardless of completion order. */
  def runTaskGroups(groups: Seq[Seq[(String, () => StageResult)]],
                    policy: RetryPolicy = RetryPolicy()): Seq[TaskOutcome] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val out = Seq.newBuilder[TaskOutcome]
    var failed: Option[String] = None
    groups.foreach { group =>
      failed match {
        case Some(up) => group.foreach { case (name, _) => out += TaskSkipped(name, up) }
        // an EMPTY group is legal — Airflow's .expand over an empty runtime
        // list yields zero task instances and the DAG proceeds (a
        // zero-thread pool would throw instead)
        case None if group.isEmpty => ()
        case None if group.sizeIs == 1 =>
          val (name, body) = group.head
          val r = runOne(name, body, policy)
          out += r
          r match { case TaskFailed(n, _, _) => failed = Some(n); case _ => }
        case None =>
          val pool = java.util.concurrent.Executors.newFixedThreadPool(group.size)
          implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
          try {
            val results = Await.result(
              Future.sequence(group.map { case (name, body) =>
                Future(runOne(name, body, policy))
              }), Duration.Inf)
            out ++= results
            if (failed.isEmpty)
              failed = results.collectFirst { case TaskFailed(n, _, _) => n }
          } finally pool.shutdown()
      }
    }
    out.result()
  }

  /** Dynamic task mapping — the analog of Airflow's `.expand` over a
    * RUNTIME collection (reference `dags/exampledag.py:92-96`: one task
    * instance per element of a list computed by an upstream task, not
    * known at DAG-authoring time). Each item becomes its own named task
    * instance `name[i]` (Airflow's map-index convention) with the full
    * bounded-retry budget, and instances are ISOLATED: one item's failure
    * never prevents its siblings from running (Airflow mapped-task
    * semantics — parallel instances of one logical task). Compose with
    * [[runTaskGroups]] to get downstream-abort: a later group is skipped
    * if ANY mapped instance failed. */
  def expand[A](name: String, items: Seq[A])
               (body: A => StageResult): Seq[(String, () => StageResult)] =
    items.zipWithIndex.map { case (item, i) =>
      s"$name[$i]" -> (() => body(item))
    }

  /** Run a dynamically-mapped task now: expand `items`, execute all
    * instances concurrently under `policy`, outcomes in item order. */
  def mapTasks[A](name: String, items: Seq[A],
                  policy: RetryPolicy = RetryPolicy())
                 (body: A => StageResult): Seq[TaskOutcome] =
    runTaskGroups(Seq(expand(name, items)(body)), policy)

  /** Stage-ahead, publish-in-order execution of staged loads. Every task
    * is a [[Sinks.stage]] thunk; the first stage attempt of ALL of them
    * starts at once on one pool, because a stage has no visible effect
    * (it writes only `*.stage-*` dirs and runs gates). [[runTaskGroups]]
    * then runs publish thunks in declaration order: a
    * task's first attempt waits for its speculative stage and publishes
    * it, a retry re-stages synchronously. On return every speculative
    * stage has finished and each one not published (failed, skipped or
    * replaced by a retry) is discarded, so `raw/` and `legacy/` hold
    * exactly what the sequential DAG would have left, and no stage dir
    * outlives the call. */
  private[graft] def runStagedGroups(groups: Seq[Seq[(String, () => Sinks.Staged)]],
                                     policy: RetryPolicy = RetryPolicy()): Seq[TaskOutcome] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, groups.map(_.size).sum))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val ahead = groups.map(_.map { case (name, stage) => (name, stage, Future(stage())) })
    try {
      runTaskGroups(ahead.map(_.map { case (name, stage, speculative) =>
        var first = true
        name -> { () =>
          val s = if (first) { first = false; Await.result(speculative, Duration.Inf) }
                  else stage()
          try s.publish() finally s.discard()
          StageResult(name, s.rows, s.path)
        }
      }), policy)
    } finally {
      ahead.flatten.foreach { case (_, _, f) =>
        Await.ready(f, Duration.Inf).value.foreach(_.foreach(_.discard()))
      }
      pool.shutdown()
    }
  }

  /** The production pipeline's stage groups as named stage thunks —
    * shared by the fail-fast [[runAll]] and the policy-driven
    * [[runAllWithRetries]]. Group structure mirrors the reference DAG
    * exactly (`dags/metamorph_etl_dag.py:28`): the three ingests fan IN
    * (parallel group), then sales and the marts chain sequentially. Each
    * load gates its primary key on the staged output. */
  private def stages(spark: SparkSession, sfDir: String,
                     outDir: String): Seq[Seq[(String, () => Sinks.Staged)]] = {

    def load(name: String, df: => DataFrame,
             pk: Option[Seq[String]]): (String, () => Sinks.Staged) =
      name -> { () =>
        Sinks.stage(df, s"$outDir/raw/$name", s"$outDir/legacy/$name",
          staged => pk.foreach(Quality.gate(staged, _)))
      }

    // ingestion fan-in (the reference's three parallel ingests + sales).
    // The sale grain is UNGATED by design: the driver fixture plants
    // duplicate (orderkey, linenumber) pairs, so a SALE_ID gate correctly
    // throws (QualitySpec/DagSpec assert that) — the reference would fail
    // this load too; the dirty grain is the fixture's dup-detection bait.
    Seq(
      Seq(
        load("suppliers", Ingestion.suppliersSnapshot(spark, sfDir), Some(Seq("SUPPLIER_ID"))),
        load("products", graft.model.Entities.products(spark, sfDir), Some(Seq("PRODUCT_ID"))),
        load("customers", graft.model.Entities.customers(spark, sfDir), Some(Seq("CUSTOMER_ID")))),
      Seq(load("sales", graft.model.Entities.sales(spark, sfDir), None)),
      // marts, in the reference's dependency order
      Seq(load("supplier_performance", SupplierPerformance(spark, sfDir),
        Some(Seq("SUPPLIER_ID", "DAY_DT")))),
      Seq(load("product_performance", ProductPerformance(spark, sfDir),
        Some(Seq("PRODUCT_ID", "DAY_DT")))),
      Seq(load("customer_sales_report", CustomerSalesReport(spark, sfDir), None)))
  }

  /** Run the full pipeline against `sfDir`, landing every output under
    * `outDir` with the raw/legacy snapshot convention. Returns per-stage
    * row counts in execution order; fail-fast (first failure throws
    * [[DagTaskException]] — no retries, no downstream execution). */
  def runAll(spark: SparkSession, sfDir: String, outDir: String): Seq[StageResult] =
    runAllWithRetries(spark, sfDir, outDir, RetryPolicy(retries = 0)).map {
      case TaskSucceeded(_, r, _) => r
      case TaskFailed(name, attempts, cause) => throw DagTaskException(name, attempts, cause)
      case TaskSkipped(name, up) =>
        throw new IllegalStateException(s"task '$name' skipped after '$up' failed")
    }

  /** Policy-driven run: per-task bounded retries, typed outcomes,
    * parallel ingest fan-in, and downstream abort on failure — the
    * reference's operational contract without an orchestrator
    * dependency. Every load is staged ahead and published in the
    * reference's order ([[runStagedGroups]]). */
  def runAllWithRetries(spark: SparkSession, sfDir: String, outDir: String,
                        policy: RetryPolicy = RetryPolicy()): Seq[TaskOutcome] =
    runStagedGroups(stages(spark, sfDir, outDir), policy)

  /** The reference's SECOND production DAG (`dags/usa_etl_dag.py:6-10`,
    * one task: `usa_population_ingestion.py:20-56`) — canonicalize + gate
    * via [[Ingestion.usaPopulation]], landed with the same raw/legacy
    * snapshot convention as [[runAll]]'s stages. */
  def runUsaEtl(spark: SparkSession, sfDir: String, outDir: String): StageResult = {
    val raw = s"$outDir/raw/usa_population"
    val rows = Sinks.snapshot(Ingestion.usaPopulationSnapshot(spark, sfDir), raw,
      s"$outDir/legacy/usa_population")
    StageResult("usa_population", rows, raw)
  }
}
