package graft

import org.apache.spark.sql.functions._
import graft.ops.Skew

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin equals the plain inner join") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = spark.read.parquet(s"$sf/part.parquet")
      .select($"p_partkey".as("l_partkey"), $"p_name")
    val plain = li.join(part, Seq("l_partkey"))
      .select("l_orderkey", "l_partkey", "l_quantity", "p_name")
      .collect().map(_.toSeq).sortBy(_.toString)
    val salted = Skew.saltedJoin(li, part, Seq("l_partkey"), 8)
      .select("l_orderkey", "l_partkey", "l_quantity", "p_name")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(salted.length == plain.length)
    assert(salted.sameElements(plain))
  }

  test("salt spreads a hot key over the fan-out") {
    // one key, many distinct rows -> salts must not collapse to one value
    val hot = (1 to 1000).map(i => (42L, i)).toDF("k", "payload")
    val salts = hot.select(Skew.rowSalt(hot, 8)).distinct().count()
    assert(salts == 8, s"expected all 8 salt buckets used, got $salts")
  }

  test("replicated small side covers every salt so no row is lost") {
    val big = Seq((1L, "x"), (1L, "y"), (2L, "z")).toDF("k", "v")
    val small = Seq((1L, "dim1"), (2L, "dim2")).toDF("k", "d")
    val out = Skew.saltedJoin(big, small, Seq("k"), 16)
    assert(out.count() == 3)
  }

  test("AQE splits a skewed bare join but not one feeding a same-stage agg") {
    // The measured boundary between "AQE makes salting unnecessary" and
    // "AQE cannot help" (SCALE.md round 6). A dedicated session so the
    // skew thresholds can be forced low enough for a local fixture; both
    // branches of the claim are asserted against the EXECUTED plan.
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    import s.implicits._
    // one hot key carrying ~100× the bytes of any other shuffle partition;
    // md5 payloads so shuffle compression can't shrink the hot partition
    // below the skew threshold
    val big = s.range(0, 62000).select(
      when($"id" < 60000, 42L).otherwise($"id" % 2000 + 1).as("k"),
      md5(concat_ws("-", $"id", lit("x"))).as("v"))
    val small = s.range(1, 2001).select($"id".as("k"),
      concat(lit("dim"), $"id").as("d"))

    def executedSmjSkewFlags(df: org.apache.spark.sql.DataFrame): Seq[Boolean] = {
      // collect(), not write/count: those build their OWN query execution,
      // leaving df's adaptive plan un-executed (its executedPlan would be
      // the initial, never-optimized shape — the NOTES_r6 reuse-bisect lesson)
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      // query stages (incl. the ResultQueryStage root) are collect-LEAVES;
      // descend through .plan or the join is invisible (the same wrapper
      // lesson PlanGate learned for InMemoryRelation/AQE)
      import org.apache.spark.sql.execution.adaptive.QueryStageExec
      def flags(p: org.apache.spark.sql.execution.SparkPlan): Seq[Boolean] =
        p.collect {
          case j: SortMergeJoinExec => Seq(j.isSkewJoin)
          case q: QueryStageExec => flags(q.plan)
        }.flatten
      flags(p)
    }

    // bare join: OptimizeSkewedJoin can split the hot partition because
    // nothing downstream needs the join's hash partitioning
    val bare = big.join(small, "k")
    assert(executedSmjSkewFlags(bare).contains(true),
      "expected AQE to mark the bare skewed join skew=true")

    // same join feeding a groupBy on the join key IN THE SAME STAGE: the
    // agg requires the very hash partitioning the split would break, so
    // AQE must leave the skewed partition whole — the case where manual
    // salting (or a two-phase agg) is still on the caller
    val fed = big.join(small, "k").groupBy("k").agg(count(lit(1)).as("c"))
    assert(!executedSmjSkewFlags(fed).contains(true),
      "expected AQE to be unable to split a skewed join feeding a same-stage agg")

    // and the salted form stays semantically identical on this fixture
    val salted = Skew.saltedJoin(big, small, Seq("k"), 8)
    assert(salted.count() === bare.count())
  }
}
