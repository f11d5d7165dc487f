package graft

import org.apache.spark.sql.functions._
import graft.ops.Linkage

/** Fuzzy record linkage: q-gram blocking recall (pigeonhole guarantee),
  * df-cap contract, and the blocked best-match shape. */
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

  test("qgramPairs equals the exact all-pairs restriction (recall holds)") {
    val got = Linkage.qgramPairs(dirty, clean, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = dirty.select(col("id").as("l"), col("name").as("ln"))
      .crossJoin(clean.select(col("id").as("r"), col("name").as("rn")))
      .withColumn("d", levenshtein(col("ln"), col("rn")))
      .filter(col("d") <= 2)
      .select("l", "r", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
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

  test("df-cap drops only common-gram candidates; rare-gram matches survive") {
    // 60 decoys sharing the gram-space of a common prefix + 1 real typo
    // pair with rare grams: cap at 10 kills the decoy grams ("Common
    // Widget ..." prefix grams have df ~ 61) but every distinctive gram
    // of the real pair has df 2 — the pair survives, decoy self-matches
    // (dist 0, shared rare suffix grams) also survive by the same rule.
    val decoys = (0 until 60).map(i => (200L + i, f"Common Widget Co $i%02d"))
    val real = Seq((301L, "Quixotic Vellum Traders"))
    val base = (decoys ++ real).toDF("id", "name")
    val probe = Seq((401L, "Quixotic Velum Traders")).toDF("id", "name") // 1 del
    val got = Linkage.qgramPairs(probe, base, "id", "name",
      maxDist = 2, maxDf = Some(10)).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq ==
      Seq((401L, 301L, 1)))
  }

  test("maxDfRatio leaves the pair set unchanged") {
    val base = Linkage.qgramPairs(dirty, clean, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val ratio = Linkage.qgramPairs(dirty, clean, "id", "name", maxDist = 2,
        maxDfRatio = Some(0.9)) // cap 5 of 5 records: prunes nothing
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(base.nonEmpty && ratio == base)
    intercept[IllegalArgumentException] {
      Linkage.qgramPairs(dirty, clean, "id", "name",
        maxDf = Some(3), maxDfRatio = Some(0.5))
    }
  }

  test("qgramPairsAdaptive: both branches equal the exact all-pairs " +
       "restriction on the fixture") {
    val want = dirty.select(col("id").as("l"), col("name").as("ln"))
      .crossJoin(clean.select(col("id").as("r"), col("name").as("rn")))
      .withColumn("d", levenshtein(col("ln"), col("rn")))
      .filter(col("d") <= 2).select("l", "r", "d")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // forced fast path: an astronomically-high engage factor keeps the
    // cap off regardless of measured savings
    val fast = Linkage.qgramPairsAdaptive(dirty, clean, "id", "name",
        maxDist = 2, engageFactor = 1e18)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // forced engage: engageFactor = 0 sends even this fixture down the
    // ratio-capped path (cap 0.9·5 ⇒ prunes nothing here)
    val engaged = Linkage.qgramPairsAdaptive(dirty, clean, "id", "name",
        maxDist = 2, maxDfRatio = 0.9, engageFactor = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(want.nonEmpty && fast == want && engaged == want)
  }

  test("adaptive linkage over disjoint vocabularies (zero shared q-grams) " +
       "is empty and never engages a cap") {
    val left = Seq((1L, "aaaaaa"), (2L, "abababab")).toDF("id", "name")
    val right = Seq((11L, "zzzzzz"), (12L, "zyzyzyzy")).toDF("id", "name")
    // engageFactor < 0 would engage on ANY measured volume, so only the
    // absent cap of the empty gram join keeps the cap machinery off
    Seq(4.0, -1.0).foreach { f =>
      assert(Linkage.qgramPairsAdaptive(left, right, "id", "name",
        engageFactor = f).collect().isEmpty)
      assert(Linkage.qgramBestMatchAdaptive(left, right, "id", "name",
        engageFactor = f).collect().isEmpty)
    }
  }

  test("qgramBestMatchAdaptive matches qgramBestMatch on the fixture") {
    val base = Linkage.qgramBestMatch(dirty, clean, "id", "name", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(4))).toSet
    val adaptive = Linkage.qgramBestMatchAdaptive(dirty, clean, "id", "name",
        maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(4))).toSet
    assert(base.nonEmpty && adaptive == base)
  }

  test("gramless short strings pair via the exact length-banded pass") {
    // strings below q=3 chars have zero q-grams; the inverted index is
    // blind to them — the advice case: two identical 2-char names must
    // pair at distance 0
    val l = Seq((1L, "ab"), (2L, "x"), (3L, "abc")).toDF("id", "name")
    val r = Seq((10L, "ab"), (11L, "abc"), (12L, "abcd"), (13L, "xz"),
      (14L, "zzzzzz")).toDF("id", "name")
    val got = Linkage.qgramPairs(l, r, "id", "name", maxDist = 2)
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
    val want = l.select(col("id").as("li"), col("name").as("ln"))
      .crossJoin(r.select(col("id").as("ri"), col("name").as("rn")))
      .withColumn("d", levenshtein(col("ln"), col("rn")))
      .filter(col("d") <= 2).select("li", "ri", "d")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> x.getInt(2)).toMap
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
