package graft

import java.nio.file.{Files, Path}
import graft.io.Sinks
import graft.pipelines.Dag

class DagSpec extends SparkSpec {

  test("runAll lands every stage with raw+legacy snapshots, in order") {
    val out = java.nio.file.Files.createTempDirectory("graft_dag_").toString
    val results = Dag.runAll(spark, sf, out)
    assert(results.map(_.name) == Seq("suppliers", "products", "customers",
      "sales", "supplier_performance", "product_performance",
      "customer_sales_report"))
    results.foreach { r =>
      assert(r.rows > 0, s"${r.name} landed no rows")
      assert(spark.read.parquet(r.path).count() == r.rows)
      val legacy = r.path.replace("/raw/", "/legacy/")
      assert(spark.read.parquet(legacy).count() == r.rows)
    }
    // running again: raw unchanged, legacy doubles (the snapshot ledger)
    val again = Dag.runAll(spark, sf, out)
    again.foreach { r =>
      assert(spark.read.parquet(r.path).count() == r.rows)
      val legacy = r.path.replace("/raw/", "/legacy/")
      assert(spark.read.parquet(legacy).count() == 2 * r.rows)
    }
  }

  test("runUsaEtl lands the second DAG's single stage, gated and snapshotted") {
    val out = java.nio.file.Files.createTempDirectory("graft_usa_").toString
    val r = Dag.runUsaEtl(spark, sf, out)
    assert(r.name == "usa_population")
    assert(r.rows > 0)
    assert(spark.read.parquet(r.path).count() == r.rows)
    assert(spark.read.parquet(r.path.replace("/raw/", "/legacy/")).count() == r.rows)
    assert(spark.read.parquet(r.path).columns.toSeq == Seq("ID_NATION",
      "NATION", "ID_YEAR", "YEAR", "POPULATION", "SLUG_NATION"))
  }

  test("the sale grain would fail a SALE_ID gate (fixture plants dups)") {
    intercept[graft.ops.DuplicateException] {
      graft.ops.Quality.gate(
        graft.model.Entities.sales(spark, sf), Seq("SALE_ID")).count()
    }
  }

  test("a flaky task succeeds on retry under the default policy") {
    var calls = 0
    val flaky = "flaky" -> { () =>
      calls += 1
      if (calls < 3) sys.error(s"transient failure $calls")
      Dag.StageResult("flaky", 1L, "mem")
    }
    val after = "downstream" -> (() => Dag.StageResult("downstream", 2L, "mem"))
    val out = Dag.runTasks(Seq(flaky, after)) // retries=2 -> 3 attempts
    assert(out == Seq(
      Dag.TaskSucceeded("flaky", Dag.StageResult("flaky", 1L, "mem"), attempts = 3),
      Dag.TaskSucceeded("downstream", Dag.StageResult("downstream", 2L, "mem"), 1)))
    assert(calls == 3)
  }

  test("a task failing past its budget aborts every downstream task") {
    var downstreamRan = false
    val gate = "gate" -> { () =>
      // a deterministic dup-gate failure: same exception every attempt
      throw new graft.ops.DuplicateException("SALE_ID grain has duplicates")
    }
    val after = "mart" -> { () =>
      downstreamRan = true
      Dag.StageResult("mart", 1L, "mem")
    }
    val out = Dag.runTasks(Seq(gate, after), Dag.RetryPolicy(retries = 2))
    assert(!downstreamRan, "downstream must never start after a failure")
    out match {
      case Seq(Dag.TaskFailed("gate", 3, cause), Dag.TaskSkipped("mart", "gate")) =>
        assert(cause.isInstanceOf[graft.ops.DuplicateException])
      case other => fail(s"unexpected outcomes: $other")
    }
  }

  test("a fan-in group genuinely runs its tasks concurrently") {
    // each task blocks until the OTHER has started: only passes if the
    // group overlaps in time (a sequential runner would deadlock — the
    // await timeout turns that into a clean failure)
    val latchA = new java.util.concurrent.CountDownLatch(1)
    val latchB = new java.util.concurrent.CountDownLatch(1)
    def task(mine: java.util.concurrent.CountDownLatch,
             other: java.util.concurrent.CountDownLatch, name: String) =
      name -> { () =>
        mine.countDown()
        if (!other.await(10, java.util.concurrent.TimeUnit.SECONDS))
          sys.error(s"$name never saw its sibling start: group not parallel")
        Dag.StageResult(name, 1L, "mem")
      }
    val out = Dag.runTaskGroups(
      Seq(Seq(task(latchA, latchB, "a"), task(latchB, latchA, "b"))),
      Dag.RetryPolicy(retries = 0))
    assert(out.forall(_.isInstanceOf[Dag.TaskSucceeded]), s"got $out")
    assert(out.map(_.name) == Seq("a", "b"), "declaration order preserved")
  }

  test("a failure inside a group lets siblings finish but skips later groups") {
    var siblingRan = false
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Seq(
        "boom" -> (() => sys.error("nope")),
        "sibling" -> { () => siblingRan = true; Dag.StageResult("sibling", 1L, "mem") }),
      Seq("later" -> { () => laterRan = true; Dag.StageResult("later", 1L, "mem") })),
      Dag.RetryPolicy(retries = 0))
    assert(siblingRan, "siblings already running are not killed")
    assert(!laterRan, "downstream groups never start")
    assert(out.map(_.getClass.getSimpleName) ==
      Seq("TaskFailed", "TaskSucceeded", "TaskSkipped"))
    assert(out.last == Dag.TaskSkipped("later", "boom"))
  }

  test("mapTasks expands a runtime list with per-item isolation + retries") {
    val attempts = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    val out = Dag.mapTasks("load_shard", Seq(10, 20, 30, 40),
      Dag.RetryPolicy(retries = 1)) { item =>
      val n = attempts.merge(item, 1, (a, b) => a + b)
      // item 20 fails EVERY attempt; item 30 is flaky (succeeds on retry)
      if (item == 20) sys.error(s"shard $item broken")
      if (item == 30 && n == 1) sys.error(s"shard $item flaky")
      Dag.StageResult(s"shard-$item", item.toLong, "mem")
    }
    // instance naming follows Airflow's map-index convention, item order kept
    assert(out.map(_.name) ==
      Seq("load_shard[0]", "load_shard[1]", "load_shard[2]", "load_shard[3]"))
    // isolation: the broken item fails after its full budget; every
    // sibling still ran to completion
    assert(out(1).isInstanceOf[Dag.TaskFailed])
    assert(out(1).asInstanceOf[Dag.TaskFailed].attempts == 2)
    assert(out.patch(1, Nil, 1).forall(_.isInstanceOf[Dag.TaskSucceeded]), s"got $out")
    assert(out(2).asInstanceOf[Dag.TaskSucceeded].attempts == 2, "flaky retried")
    assert(attempts.get(20) == 2 && attempts.get(10) == 1)
  }

  test("mapTasks over an EMPTY runtime list yields zero instances and " +
       "downstream groups still run (Airflow .expand semantics)") {
    assert(Dag.mapTasks("load_shard", Seq.empty[Int]) { _ =>
      sys.error("never called")
    } == Seq.empty)
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Dag.expand("shard", Seq.empty[Int]) { _ => sys.error("never") },
      Seq("publish" -> { () => laterRan = true; Dag.StageResult("publish", 1L, "mem") })))
    assert(laterRan, "empty mapped group must not block downstream")
    assert(out.map(_.name) == Seq("publish"))
    assert(out.head.isInstanceOf[Dag.TaskSucceeded])
  }

  test("a failed mapped instance skips downstream groups via runTaskGroups") {
    var laterRan = false
    val out = Dag.runTaskGroups(Seq(
      Dag.expand("shard", Seq(1, 2)) { i =>
        if (i == 2) sys.error("bad shard")
        Dag.StageResult(s"s$i", 1L, "mem")
      },
      Seq("publish" -> { () => laterRan = true; Dag.StageResult("publish", 1L, "mem") })),
      Dag.RetryPolicy(retries = 0))
    assert(!laterRan, "publish must not run after a mapped-instance failure")
    assert(out.last == Dag.TaskSkipped("publish", "shard[1]"))
  }

  test("DagTaskException carries task name, attempts, and the real cause") {
    val boom = Dag.runTasks(
      Seq("only" -> (() => sys.error("nope"))), Dag.RetryPolicy(retries = 0))
    val failed = boom.head.asInstanceOf[Dag.TaskFailed]
    assert(failed.attempts == 1)
    val ex = Dag.DagTaskException("only", failed.attempts, failed.cause)
    assert(ex.getMessage == "task 'only' failed after 1 attempt(s)")
    assert(ex.getCause.getMessage == "nope")
  }

  /** Every `*.stage-*` entry at any depth under `root`. */
  private def stageEntries(root: String): Seq[Path] = {
    val walk = Files.walk(java.nio.file.Paths.get(root))
    try walk.filter(_.getFileName.toString.contains(".stage-")).toArray.toSeq
      .map(_.asInstanceOf[Path])
    finally walk.close()
  }

  private def exists(p: String): Boolean = Files.exists(java.nio.file.Paths.get(p))

  test("a duplicate supplier key fails suppliers, lands its group siblings, " +
       "skips every later task and leaves no stage dir") {
    val dirty = Files.createTempDirectory("graft_dag_dirty_").toString
    Files.list(java.nio.file.Paths.get(sf)).forEach { f =>
      if (f.getFileName.toString != "supplier.parquet")
        Files.copy(f, java.nio.file.Paths.get(dirty, f.getFileName.toString))
    }
    val supplier = spark.read.parquet(s"$sf/supplier.parquet")
    supplier.union(supplier.limit(1)).write.parquet(s"$dirty/supplier.parquet")
    val out = Files.createTempDirectory("graft_dag_fail_").toString
    val outcomes = Dag.runAllWithRetries(spark, dirty, out)
    val later = Seq("sales", "supplier_performance", "product_performance",
      "customer_sales_report")
    outcomes match {
      case Seq(Dag.TaskFailed("suppliers", 3, cause),
               Dag.TaskSucceeded("products", _, 1),
               Dag.TaskSucceeded("customers", _, 1), rest @ _*) =>
        assert(cause.isInstanceOf[graft.ops.DuplicateException])
        assert(rest == later.map(Dag.TaskSkipped(_, "suppliers")))
      case other => fail(s"unexpected outcomes: $other")
    }
    Seq("products", "customers").foreach { t =>
      val rows = spark.read.parquet(s"$out/raw/$t").count()
      assert(rows > 0 && spark.read.parquet(s"$out/legacy/$t").count() == rows)
    }
    ("suppliers" +: later).foreach { t =>
      assert(!exists(s"$out/raw/$t") && !exists(s"$out/legacy/$t"), s"$t landed")
    }
    assert(stageEntries(out).isEmpty, s"stage dirs left: ${stageEntries(out)}")
  }

  test("a staged task whose first stage attempt fails succeeds on the retry " +
       "and lands legacy exactly once") {
    val out = Files.createTempDirectory("graft_dag_retry_").toString
    val checks = new java.util.concurrent.atomic.AtomicInteger()
    val df = spark.range(0, 7).toDF("id")
    val outcomes = Dag.runStagedGroups(Seq(Seq("flaky" -> { () =>
      Sinks.stage(df, s"$out/raw/flaky", s"$out/legacy/flaky", { _ =>
        if (checks.incrementAndGet() == 1) sys.error("transient gate failure")
      })
    })))
    outcomes match {
      case Seq(Dag.TaskSucceeded("flaky", r, 2)) => assert(r.rows == 7)
      case other => fail(s"unexpected outcomes: $other")
    }
    assert(spark.read.parquet(s"$out/raw/flaky").count() == 7)
    assert(spark.read.parquet(s"$out/legacy/flaky").count() == 7)
    assert(stageEntries(out).isEmpty, s"stage dirs left: ${stageEntries(out)}")
  }

  test("a downstream stage finished before its upstream failed leaves nothing") {
    val out = Files.createTempDirectory("graft_dag_ahead_").toString
    val staged = new java.util.concurrent.CountDownLatch(1)
    val outcomes = Dag.runStagedGroups(Seq(
      Seq("upstream" -> { () =>
        if (!staged.await(60, java.util.concurrent.TimeUnit.SECONDS))
          sys.error("downstream was not staged ahead")
        throw new graft.ops.DuplicateException("upstream gate failed")
      }),
      Seq("downstream" -> { () =>
        val s = Sinks.stage(spark.range(0, 3).toDF("id"),
          s"$out/raw/downstream", s"$out/legacy/downstream")
        staged.countDown()
        s
      })), Dag.RetryPolicy(retries = 0))
    outcomes match {
      case Seq(Dag.TaskFailed("upstream", 1, cause), Dag.TaskSkipped("downstream", "upstream")) =>
        assert(cause.isInstanceOf[graft.ops.DuplicateException])
      case other => fail(s"unexpected outcomes: $other")
    }
    assert(!exists(s"$out/raw/downstream") && !exists(s"$out/legacy/downstream"))
    assert(stageEntries(out).isEmpty, s"stage dirs left: ${stageEntries(out)}")
  }
}
