package graft

import graft.ops.ConfWindows

/** The refcounted conf-override bookkeeper's two failure-path contracts
  * (r13 verdict item 6 + r13 advice): a nested window that disagrees on
  * the pinned value fails LOUDLY (not a silent flip inside every open
  * outer window), and a failure mid-apply — whether the agreement check
  * or a throwing `conf.set` — leaves NO depth leak or pinned value
  * behind: the session must return to its pre-window conf once the
  * outer windows unwind. */
class ConfWindowsSpec extends SparkSpec {

  private val Key = "spark.sql.adaptive.enabled"

  test("mismatched nested window fails loudly and leaks nothing") {
    val s = spark.newSession()
    val orig = s.conf.get(Key)
    ConfWindows.withOverrides(s, Seq(Key -> "false")) {
      assert(s.conf.get(Key) == "false")
      val e = intercept[IllegalArgumentException] {
        ConfWindows.withOverrides(s, Seq(Key -> "true")) { fail("must not run") }
      }
      assert(e.getMessage.contains("overlapping windows must"))
      // the failed window must not have flipped the pinned value...
      assert(s.conf.get(Key) == "false")
    }
    // ...nor leaked a depth bump: the outer exit restores the original
    assert(s.conf.get(Key) == orig)
    // and a FRESH window with the formerly-conflicting value now works
    // (a leaked depth from the failed window would make this require-fail)
    ConfWindows.withOverrides(s, Seq(Key -> "true")) {
      assert(s.conf.get(Key) == "true")
    }
    assert(s.conf.get(Key) == orig)
  }

  test("mismatch on the Nth key rolls back keys 1..N-1 (validate-then-mutate)") {
    val s = spark.newSession()
    val other = "spark.sql.shuffle.partitions"
    val origOther = s.conf.get(other)
    ConfWindows.withOverrides(s, Seq(Key -> "false")) {
      // first key (`other`) is fresh, second key conflicts: with the old
      // mutate-as-you-validate loop, `other` kept depth 1 + the override
      // forever; validate-first must leave it untouched
      intercept[IllegalArgumentException] {
        ConfWindows.withOverrides(s, Seq(other -> "7", Key -> "true")) {
          fail("must not run")
        }
      }
      assert(s.conf.get(other) == origOther,
        "key preceding the conflicting key must not stay overridden")
    }
    // no leaked depth on `other`: a fresh window with a DIFFERENT value
    // succeeds (a leak would pin value "7" and require-fail here)
    ConfWindows.withOverrides(s, Seq(other -> "9")) {
      assert(s.conf.get(other) == "9")
    }
    assert(s.conf.get(other) == origOther)
  }

  test("duplicate key in ONE overrides seq with disagreeing values is refused") {
    val s = spark.newSession()
    val orig = s.conf.get(Key)
    // the old intra-call agreement check was lost in the validate/apply
    // split (ADVICE r14): a same-call duplicate passed validation (which
    // only consulted open windows), double-bumped depth, ran the body on
    // the SECOND value and restored the FIRST on exit
    intercept[IllegalArgumentException] {
      ConfWindows.withOverrides(s, Seq(Key -> "false", Key -> "true")) {
        fail("must not run")
      }
    }
    assert(s.conf.get(Key) == orig, "refused window must leave conf untouched")
    // no depth leak: a fresh window with a different value still works
    ConfWindows.withOverrides(s, Seq(Key -> "false")) {
      assert(s.conf.get(Key) == "false")
    }
    assert(s.conf.get(Key) == orig)
    // a duplicate with AGREEING values is fine (idempotent) and unwinds
    ConfWindows.withOverrides(s, Seq(Key -> "false", Key -> "false")) {
      assert(s.conf.get(Key) == "false")
    }
    assert(s.conf.get(Key) == orig)
  }

  test("throwing conf.set (static key) rolls back keys applied in this call") {
    val s = spark.newSession()
    val staticKey = "spark.sql.warehouse.dir" // immutable at runtime → set throws
    intercept[Throwable] {
      ConfWindows.withOverrides(s, Seq(Key -> "false", staticKey -> "/nope")) {
        fail("must not run")
      }
    }
    // the successfully-applied first key was rolled back and unpinned
    ConfWindows.withOverrides(s, Seq(Key -> "true")) {
      assert(s.conf.get(Key) == "true")
    }
  }

  test("a window is session-wide: a query planned on another thread sees the " +
       "override while it is open and the original after it closes") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val s = spark.newSession()
    val orig = s.conf.get(Key)
    assert(orig == "true")
    def plannedAdaptive(): Boolean = Await.result(Future {
      s.range(0, 100).selectExpr("id % 3 AS k").groupBy("k").count()
        .queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec]
    }(ExecutionContext.global), 60.seconds)
    ConfWindows.withOverrides(s, Seq(Key -> "false")) {
      assert(!plannedAdaptive(), "a concurrent query planned outside the open window")
    }
    assert(s.conf.get(Key) == orig)
    assert(plannedAdaptive(), "the conf was not restored after the window")
  }
}
