package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.graftbridge.ConfScope
import org.apache.spark.storage.StorageLevel

/** Plan-scoped conf overrides: a scope's overrides reach only the plans
  * its body builds, the parent session's conf is never written (on a
  * throwing body, a refused key or a nested scope alike), and a scope
  * reads the parent's cache and functions. */
class ConfScopeSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Shuf = "spark.sql.shuffle.partitions"

  private def grouped(s: SparkSession): DataFrame =
    s.range(0, 100).selectExpr("id % 3 AS k").groupBy("k").count()

  private def shuffleWidths(df: DataFrame): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec => e.numPartitions }

  test("a scope is plan-local: a query planned on the parent from another " +
       "thread keeps AQE while the scope's own plan has none") {
    val p = spark.newSession()
    p.conf.set(Shuf, "200")
    assert(p.conf.get(Aqe) == "true")
    def parentAdaptive(): Boolean = Await.result(Future {
      grouped(p).queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    }(ExecutionContext.global), 60.seconds)
    ConfScope.run(p, Seq(Aqe -> "false", Shuf -> "8")) { s =>
      val own = ConfScope.rebind(s, grouped(p))
      assert(!own.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
      val widths = shuffleWidths(own)
      assert(widths.nonEmpty && widths.forall(_ <= 8), s"widths $widths")
      assert(own.collect().map(_.getLong(1)).sum == 100L)
      assert(parentAdaptive(), "a concurrent parent query planned inside the scope")
    }
    assert(p.conf.get(Aqe) == "true" && p.conf.get(Shuf) == "200")
  }

  test("the parent's conf is unchanged after a body that throws") {
    val p = spark.newSession()
    val before = p.conf.getAll
    intercept[IllegalStateException] {
      ConfScope.run(p, Seq(Aqe -> "false", Shuf -> "3")) { s =>
        assert(s.conf.get(Aqe) == "false" && s.conf.get(Shuf) == "3")
        throw new IllegalStateException("body failed")
      }
    }
    assert(p.conf.getAll == before)
  }

  test("nested scopes with different values each see their own value") {
    val p = spark.newSession()
    val orig = p.conf.get(Shuf)
    ConfScope.run(p, Seq(Shuf -> "7")) { outer =>
      ConfScope.run(outer, Seq(Shuf -> "3")) { inner =>
        assert(inner.conf.get(Shuf) == "3" && outer.conf.get(Shuf) == "7")
        assert(shuffleWidths(grouped(inner)).forall(_ == 3))
        assert(shuffleWidths(grouped(outer)).forall(_ == 7))
      }
      assert(outer.conf.get(Shuf) == "7")
      // an override that already holds runs on the enclosing session
      ConfScope.run(outer, Seq(Shuf -> "7")) { same => assert(same eq outer) }
    }
    assert(p.conf.get(Shuf) == orig)
  }

  test("a static key among the overrides fails and leaves the parent untouched") {
    val p = spark.newSession()
    val before = p.conf.getAll
    var ran = false
    intercept[AnalysisException] {
      ConfScope.run(p, Seq(Aqe -> "false",
        "spark.sql.warehouse.dir" -> "elsewhere")) { _ => ran = true }
    }
    assert(!ran && p.conf.getAll == before)
  }

  test("a frame persisted on the parent plans as InMemoryTableScanExec in a " +
       "scope, and a persist made in a scope unpersists through the shared entry") {
    val p = spark.newSession()
    val cached = p.range(0, 1000).selectExpr("id % 7 AS k", "id AS v").persist()
    try {
      cached.count()
      ConfScope.run(p, Seq(Aqe -> "false")) { s =>
        val plan = ConfScope.rebind(s, cached).groupBy("k").count()
          .queryExecution.executedPlan
        assert(!plan.isInstanceOf[AdaptiveSparkPlanExec])
        assert(plan.collect { case m: InMemoryTableScanExec => m }.nonEmpty, plan)
      }
    } finally cached.unpersist(blocking = true)

    def fresh = p.range(0, 50).toDF("x")
    ConfScope.run(p, Seq(Aqe -> "false")) { s =>
      val f = ConfScope.rebind(s, fresh).persist()
      f.count()
      assert(fresh.storageLevel != StorageLevel.NONE, "the parent sees the scope's persist")
      f.unpersist(blocking = true)
    }
    assert(fresh.storageLevel == StorageLevel.NONE)
  }

  test("a function registered on the parent by GraftExtensions resolves in a scope") {
    val p = spark.newSession()
    GraftExtensions.register(p)
    val q = "SELECT sortable_double_bits(CAST(-2.5 AS DOUBLE)) AS b"
    val want = p.sql(q).head().getLong(0)
    val got = ConfScope.run(p, Seq(Aqe -> "false")) { s => s.sql(q).head().getLong(0) }
    assert(got == want)
  }
}
