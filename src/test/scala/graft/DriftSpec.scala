package graft

import org.apache.spark.sql.functions._
import graft.ops.Drift

class DriftSpec extends SparkSpec {
  import spark.implicits._

  test("identical slices: tvd = 0, max_gap = 0") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val s = Drift.driftSummary(d, d, "n_chars", 0L, 1023L, 16).head()
    assert(s.getAs[Double]("tvd") == 0.0)
    assert(s.getAs[Double]("max_gap") == 0.0)
    assert(s.getAs[Long]("a_total") == s.getAs[Long]("b_total"))
  }

  test("disjoint masses: tvd = 1") {
    val a = Seq(1L, 2L, 3L).toDF("v")
    val b = Seq(100L, 101L).toDF("v")
    val s = Drift.driftSummary(a, b, "v", 0L, 127L, 8).head()
    assert(s.getAs[Double]("tvd") == 1.0)
  }

  test("bins share one grid; fractions sum to 1 per side") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val a = d.filter(col("doc_id") % 2 === 0)
    val b = d.filter(col("doc_id") % 2 =!= 0)
    val bins = Drift.driftBins(a, b, "n_chars", 0L, 1023L, 16)
      .orderBy("bin").collect()
    assert(bins.length == 16)
    assert(math.abs(bins.map(_.getAs[Double]("a_frac")).sum - 1.0) < 1e-12)
    assert(math.abs(bins.map(_.getAs[Double]("b_frac")).sum - 1.0) < 1e-12)
    // gap is |a_frac − b_frac| per bin
    bins.foreach { r =>
      assert(r.getAs[Double]("gap") ==
        math.abs(r.getAs[Double]("a_frac") - r.getAs[Double]("b_frac")))
    }
    // summary max_gap equals the bins' largest gap; tvd = Σgap/2 (up to
    // the exact-integer vs float-sum formulation)
    val s = Drift.driftSummary(a, b, "n_chars", 0L, 1023L, 16).head()
    assert(s.getAs[Double]("max_gap") == bins.map(_.getAs[Double]("gap")).max)
    assert(math.abs(s.getAs[Double]("tvd") -
      bins.map(_.getAs[Double]("gap")).sum / 2.0) < 1e-9)
  }

  test("tokenKlBySlice: identical slice distributions score exactly zero") {
    // two slices with the SAME token multiset: c_st·N = c_st·2n_s and
    // n_s·C_t = n_s·2c_st are equal term-by-term, so kl_bits = 0 exactly
    val docs = Seq(
      ("a", "x x y z"), ("a", "y z z"),
      ("b", "x x y z"), ("b", "y z z")).toDF("source", "text")
    val r = Drift.tokenKlBySlice(docs, "source", "text")
      .orderBy("slice").collect()
    assert(r.map(_.getAs[String]("slice")).toSeq == Seq("a", "b"))
    r.foreach { row =>
      assert(row.getAs[Long]("n_tokens") == 7L)
      assert(row.getAs[Long]("kl_bits") == 0L)
      assert(row.getAs[Double]("kl_per_token") == 0.0)
    }
  }

  test("tokenKlBySlice: fully disjoint slices score the hand-computed positive bits") {
    // slice a = 4×"x", slice b = 4×"y": for each, c_st=4, n_s=4, C_t=4,
    // N=8 -> term = 4·(bits(32) − bits(16)) = 4·(5 − 4) = 4
    val docs = Seq(("a", "x x x x"), ("b", "y y y y")).toDF("source", "text")
    val r = Drift.tokenKlBySlice(docs, "source", "text")
      .orderBy("slice").collect()
    r.foreach { row =>
      assert(row.getAs[Long]("kl_bits") == 4L)
      assert(row.getAs[Double]("kl_per_token") == 1.0)
    }
  }

  test("tokenKlAgainst: same distribution scores 0; disjoint is all-unseen positive") {
    val ref = Drift.tokenDistribution(
      Seq(("x x y z"), ("y z z")).toDF("text"), "text")
    val same = Drift.tokenKlAgainst(ref,
      Seq(("x x y z y z z")).toDF("text"), "text").collect().head
    assert(same.getAs[Long]("kl_bits") == 0L)
    assert(same.getAs[Long]("unseen_tokens") == 0L)
    val alien = Drift.tokenKlAgainst(ref,
      Seq(("q q q q")).toDF("text"), "text").collect().head
    // c_b=4, n_b=4, n_ref=7, c_ref floor 1: 4*(bits(28) - bits(4)) = 4*2
    assert(alien.getAs[Long]("kl_bits") == 8L)
    assert(alien.getAs[Double]("unseen_frac") == 1.0)
    // empty scored side: a zero row, not an empty frame or nulls
    val empty = Drift.tokenKlAgainst(ref,
      Seq.empty[String].toDF("text"), "text").collect()
    assert(empty.length == 1 && empty.head.getAs[Long]("n_tokens") == 0L)
  }

  test("tokenKlBySlice: the drifted slice ranks above the conforming one") {
    val docs = Seq(
      ("bulk", "a b c d e f g h"), ("bulk", "a b c d e f g h"),
      ("bulk", "a b c d e f g h"), ("bulk", "a b c d e f g h"),
      ("conform", "a b c d e f g h"),
      ("weird", "z z z z z z z z")).toDF("source", "text")
    val r = Drift.tokenKlBySlice(docs, "source", "text").collect()
      .map(x => x.getAs[String]("slice") -> x.getAs[Double]("kl_per_token"))
      .toMap
    assert(r("weird") > r("conform"))
    assert(r("weird") > r("bulk"))
  }
}
