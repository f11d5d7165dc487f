package graft

import org.apache.spark.sql.functions.col
import graft.ops.{Approx, Quantiles}

/** The approximate companions' error CONTRACTS, asserted against the
  * exact forms — the tolerance check the driver's hash-match oracle
  * cannot express (an approximate result hash-matches nothing). The
  * exact protocol's sketch seeding only brackets ranks, so its output
  * is checked bit-exactly here and in `QuantilesSpec`. */
class ApproxSpec extends SparkSpec {
  import spark.implicits._

  test("approxQuantiles honors the GK rank-error bound vs the exact form") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sorted = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    val n = sorted.length
    val eps = 0.01
    Approx.approxQuantiles(docs, "n_chars", Seq(0.5, 0.9, 0.99), eps)
      .foreach { case (q, v) =>
        // exact rank interval occupied by the returned value
        val rLo = sorted.indexWhere(_ >= v.toLong) + 1 // first occurrence, 1-based
        val rHi = sorted.lastIndexWhere(_ <= v.toLong) + 1
        val target = q * n
        // contract: SOME rank of the returned value within ±eps·n of q·n
        assert(rLo - eps * n <= target && target <= rHi + eps * n,
          s"q=$q v=$v rank∈[$rLo,$rHi] n=$n")
      }
  }

  test("approxQuantiles returns values present in the column") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val present = docs.select("n_chars").collect().map(_.getLong(0)).toSet
    Approx.approxQuantiles(docs, "n_chars", Seq(0.25, 0.5, 0.75), 0.01)
      .foreach { case (q, v) =>
        assert(present.contains(v.toLong), s"q=$q returned absent value $v")
      }
  }

  test("approxCountDistinct lands within a generous HLL++ tolerance") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = docs.select("doc_id").distinct().count()
    val rsd = 0.05
    val est = Approx.approxCountDistinct(docs, rsd, "doc_id")
    // rsd is a standard deviation, not a bound — 4σ is a practically-never
    // threshold and HLL++ is deterministic per dataset, so this is stable
    assert(math.abs(est - exact) <= math.max(4 * rsd * exact, 4.0),
      s"est=$est exact=$exact")
  }

  test("approxCountDistinct over multiple columns estimates tuple cardinality") {
    val df = Seq((1, "a"), (1, "b"), (2, "a"), (2, "a"), (1, "a"))
      .toDF("x", "y")
    val est = Approx.approxCountDistinct(df, 0.05, "x", "y")
    assert(est === 3L) // tiny cardinalities are exact in HLL++
  }

  test("seeded exact quantiles match grouped/batched exact selection paths") {
    // cross-check the exact routes against each other on doubles-free
    // integral data: plain batched, seeded by a GK sketch from
    // Approx.approxQuantiles (gate off, so the sketch brackets seed the
    // protocol), and rank-by-rank
    val vals = Seq.tabulate(997)(i => ((i * 7919) % 1000).toLong)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = Seq(0.1, 0.5, 0.9)
    val sketch = Approx.approxQuantiles(df, "v",
      qs.flatMap(q => Seq(q - 0.02, q + 0.02)), 0.01).map(_._2.toLong)
    System.setProperty("graft.quantiles.smallGroupCap", "0")
    val seeded = try Quantiles.exactQuantilesKnownBounds(df, "v", qs,
        vals.length, sorted.head, sorted.last, sketch = Some(sketch))
      finally System.clearProperty("graft.quantiles.smallGroupCap")
    val plain = Quantiles.exactQuantiles(df, "v", qs)
    assert(seeded === plain)
    seeded.foreach { case (q, v) =>
      val k = math.max(1L, math.ceil(q * vals.length).toLong)
      assert(v === sorted((k - 1).toInt), s"q=$q")
      assert(v === Quantiles.exactQuantiles(df, "v", Seq(q)).head._2, s"q=$q single")
    }
  }
}
