package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Linkage

/** Fuzzy record linkage: q-gram blocking recall (pigeonhole guarantee),
  * the adaptive df cap's decision and contract, and the blocked
  * best-match shape. */
class LinkageSpec extends SparkSpec {
  import spark.implicits._

  private def clean = Seq(
    (1L, "Acme Industrial Supply"),
    (2L, "Borealis Metalworks Ltd"),
    (3L, "Cascade Timber Holdings"),
    (4L, "Dynamo Precision Tools"),
    (5L, "Evergreen Freight Lines")).toDF("id", "name")

  // one deletion, one substitution, one double-edit, one unrelated
  private def dirty = Seq(
    (101L, "Acme Industril Supply"),     // 1 deletion  -> id 1, dist 1
    (102L, "Borealis Metalworks Ltd"),   // exact       -> id 2, dist 0
    (103L, "Cascade Timbre Holdingz"),   // 2 edits     -> id 3, dist 2... actually check
    (104L, "Zenith Unrelated Name")      // no match within 2
  ).toDF("id", "name")

  /** (left_id, right_id) → dist of a pair frame. */
  private def keyed(pairs: DataFrame): Map[(Long, Long), Int] =
    pairs.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

  /** The exact all-pairs restriction: every cross pair within `maxDist`. */
  private def exactPairs(l: DataFrame, r: DataFrame, maxDist: Int) =
    keyed(l.select(col("id").as("l"), col("name").as("ln"))
      .crossJoin(r.select(col("id").as("r"), col("name").as("rn")))
      .withColumn("d", levenshtein(col("ln"), col("rn")))
      .filter(col("d") <= maxDist).select("l", "r", "d"))

  test("qgramPairs equals the exact all-pairs restriction (recall holds)") {
    val got = keyed(Linkage.qgramPairs(dirty, clean, "id", "name", maxDist = 2))
    val want = exactPairs(dirty, clean, 2)
    assert(want.nonEmpty, "fixture plants matches")
    assert(got == want,
      s"missing=${want.keySet -- got.keySet}, extra=${got.keySet -- want.keySet}")
  }

  test("qgramPairs self-linkage finds planted near-identical names once") {
    val names = clean.unionByName(
      clean.filter($"id" === 1).select(($"id" + 100).as("id"),
        concat(substring($"name", 1, 5), expr("substring(name, 7)")).as("name")))
    val pairs = Linkage.qgramPairs(names, names, "id", "name", maxDist = 2)
      .filter($"left_id" < $"right_id").collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 101L)))
  }

  test("a two-record self-linkage pairs its near-duplicates (no cap below df 2)") {
    // ⌈0.1·2⌉ = 1 would keep only grams no two records share
    val names = Seq((1L, "Acme Industrial Supply Co"),
      (2L, "Acme Industrial Suply Co")).toDF("id", "name")
    val got = Linkage.qgramPairs(names, names, "id", "name", maxDist = 2)
      .filter($"left_id" < $"right_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == Seq((1L, 2L, 1)))
  }

  test("a small self-linkage's own decision equals the uncapped branch") {
    val names = Seq((1L, "Northwind Trading Company"),
      (2L, "Northwind Tradng Company"),
      (3L, "Nortwind Trading Compny")).toDF("id", "name")
    val own = keyed(Linkage.qgramPairs(names, names, "id", "name", maxDist = 2))
    val (off, _) = Linkage.qgramPairsWith(names, names, "id", "name", 2, 3, Some(false))
    assert(own == keyed(off))
    assert(own.keySet.filter { case (l, r) => l < r } == Set((1L, 2L), (1L, 3L)))
  }

  test("df-cap drops only common-gram candidates; rare-gram matches survive") {
    // 26 decoys share the gram space of a common prefix (df 26, over the
    // ratio cap of ⌈0.1·27⌉ = 3); 10 probes are one-edit copies of decoys
    // and one is a typo of a rare-gram name. The prefix grams make up
    // almost all of the candidate volume, so qgramPairs' own probe
    // engages the cap — and every true pair still shares a rare gram.
    val decoys = ('a' to 'z').zipWithIndex.map { case (c, i) =>
      (200L + i, s"Common Widget Co ${c.toString * 6}") }
    val base = (decoys :+ ((301L, "Quixotic Vellum Traders"))).toDF("id", "name")
    val probe = (decoys.take(10).map { case (id, nm) => (id + 1000L, nm.updated(19, '9')) } :+
      ((401L, "Quixotic Velum Traders"))).toDF("id", "name")
    val (pairs, engaged) = Linkage.qgramPairsWith(probe, base, "id", "name", 2, 3, None)
    assert(engaged, "the prefix grams' volume must engage the cap")
    val got = keyed(pairs)
    assert(got == exactPairs(probe, base, 2))
    assert(got == (decoys.take(10).map { case (id, _) => (id + 1000L, id) -> 1 } :+
      ((401L, 301L) -> 1)).toMap)
  }

  test("qgramPairsAdaptive: both branches equal the exact all-pairs " +
       "restriction on the fixture") {
    val want = exactPairs(dirty, clean, 2)
    // the fixture's matches share their grams with no one else: the
    // probe keeps the cap off
    val (own, ownEngaged) = Linkage.qgramPairsWith(dirty, clean, "id", "name", 2, 3, None)
    val (fast, offEngaged) = Linkage.qgramPairsWith(dirty, clean, "id", "name", 2, 3, Some(false))
    // forced engage: cap ⌈0.1·5⌉ = 1 drops every gram two clean names share
    val (capped, onEngaged) = Linkage.qgramPairsWith(dirty, clean, "id", "name", 2, 3, Some(true))
    assert(!ownEngaged && !offEngaged && onEngaged)
    assert(want.nonEmpty && keyed(own) == want && keyed(fast) == want && keyed(capped) == want)
  }

  test("adaptive linkage over disjoint vocabularies (zero shared q-grams) " +
       "is empty and never engages a cap") {
    val left = Seq((1L, "aaaaaa"), (2L, "abababab")).toDF("id", "name")
    val right = Seq((11L, "zzzzzz"), (12L, "zyzyzyzy")).toDF("id", "name")
    // even a forced engage finds no cap on an empty gram join
    Seq(None, Some(true)).foreach { engage =>
      val (pairs, engaged) = Linkage.qgramPairsWith(left, right, "id", "name", 2, 3, engage)
      assert(!engaged && pairs.collect().isEmpty, s"engage = $engage")
    }
    assert(Linkage.qgramBestMatch(left, right, "id", "name").collect().isEmpty)
  }

  test("gramless short strings pair via the exact length-banded pass") {
    // strings below q=3 chars have zero q-grams; the inverted index is
    // blind to them — the advice case: two identical 2-char names must
    // pair at distance 0
    val l = Seq((1L, "ab"), (2L, "x"), (3L, "abc")).toDF("id", "name")
    val r = Seq((10L, "ab"), (11L, "abc"), (12L, "abcd"), (13L, "xz"),
      (14L, "zzzzzz")).toDF("id", "name")
    val got = keyed(Linkage.qgramPairs(l, r, "id", "name", maxDist = 2))
    val want = exactPairs(l, r, 2)
    assert(got((1L, 10L)) == 0, "identical 2-char names pair at distance 0")
    assert(got == want,
      s"missing=${want.keySet -- got.keySet}, extra=${got.keySet -- want.keySet}")
  }

  test("qgramBestMatch resolves each dirty record to min-(dist, id)") {
    // two clean rows tie at dist 1 from the probe: the lower id wins
    val c = Seq((1L, "alpha corporation"), (2L, "alpho corporation"),
      (7L, "alphaa corporation")).toDF("id", "name")
    val d = Seq((9L, "alpha corporationn")).toDF("id", "name")
    val out = Linkage.qgramBestMatch(d, c, "id", "name", maxDist = 2).collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 9L && out.head.getLong(2) == 1L
      && out.head.getInt(4) == 1)
    // unmatched dirty records produce no row (same contract as the
    // blocked form): probe beyond maxDist everywhere
    val none = Linkage.qgramBestMatch(
      Seq((10L, "zzz qqq vvv")).toDF("id", "name"), c, "id", "name").collect()
    assert(none.isEmpty)
  }

  test("blockedBestMatch picks min-(dist, id) per dirty record inside blocks") {
    val c = Seq((1L, "alpha corp", "E"), (2L, "alpha  corp", "E"),
      (3L, "alpha corp", "W")).toDF("id", "name", "region")
    val d = Seq((9L, "alpha corp", "E")).toDF("id", "name", "region")
    val out = Linkage.blockedBestMatch(d, c, "region", "id", "name", maxDist = 2)
      .collect()
    assert(out.length == 1)
    // ids 1 and 2 both match within the E block; dist 0 beats dist 1,
    // and the W-block exact copy is never a candidate
    assert(out.head.getLong(0) == 9L && out.head.getLong(2) == 1L
      && out.head.getInt(4) == 0)
  }
}
