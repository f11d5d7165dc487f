package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions.{col, lit}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.Quantiles

class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  /** The in-memory-sort reference: the value at rank max(1, ⌈q·n⌉). */
  private def atRank[T](sorted: Seq[T], q: Double): T =
    sorted(math.max(1L, math.ceil(q * sorted.length).toLong).toInt - 1)

  /** One quantile per rank 1..n: q = (k − ½)/n has ⌈q·n⌉ = k. */
  private def everyRank(n: Int): Seq[Double] = (1 to n).map(k => (k - 0.5) / n)

  /** Runs `f` under the given `graft.quantiles.*` test properties. */
  private def withProps[T](props: (String, String)*)(f: => T): T = {
    props.foreach { case (k, v) => System.setProperty(k, v) }
    try f finally props.foreach { case (k, _) => System.clearProperty(k) }
  }

  /** Small-group gate off: fixture-sized data runs the full selection
    * protocol (seeding decision, verify, sign split, refinement). */
  private def forcedProtocol[T](f: => T): T =
    withProps("graft.quantiles.smallGroupCap" -> "0")(f)

  /** Physical plans of every SQL execution `f` runs. A marker job after
    * `f` flushes the listener queue, so no plan of `f` is missed. */
  private def plansOf(f: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val marker = java.util.UUID.randomUUID().toString
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ => ()
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null &&
            js.properties.getProperty("graft.test.marker") == marker)
          flushed.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setLocalProperty("graft.test.marker", marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.marker", null)
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    plans.toArray(Array.empty[String]).toSeq
  }

  test("exactKth selects the k-th smallest with duplicates and negatives") {
    val vals = Seq(5L, -3L, 5L, 0L, 9L, -3L, 2L)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    def check(): Unit =
      Quantiles.exactQuantiles(df, "v", everyRank(vals.length))
        .foreach { case (q, v) => assert(v === atRank(sorted, q), s"q=$q") }
    check()
    forcedProtocol(check())
  }

  test("exactKth rejects out-of-range ranks") {
    val df = Seq(1L, 2L).toDF("v")
    intercept[IllegalArgumentException](Quantiles.exactQuantiles(df, "v", Seq(0.0)))
    intercept[IllegalArgumentException](Quantiles.exactQuantiles(df, "v", Seq(1.5)))
  }

  test("exactQuantiles matches the rank definition on the fixture") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sorted = docs.select("n_chars").collect().map(_.getLong(0)).sorted
    val n = sorted.length
    Quantiles.exactQuantiles(docs, "n_chars", Seq(0.5, 0.9, 0.99))
      .foreach { case (q, v) =>
        val k = math.max(1L, math.ceil(q * n).toLong).toInt
        assert(v === sorted(k - 1), s"q=$q")
      }
  }

  test("seeded selection is bit-identical to exact on the fixture") {
    // the Ranks shape: exact bounds plus a percentile sketch at q ∓ 0.02
    // from one aggregation, handed to the protocol (gate off, so the
    // sketch seeds verify + gather instead of the fused job)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val qs = Seq(0.5, 0.9, 0.99)
    val probes = qs.flatMap(q => Seq(q - 0.02, math.min(1.0, q + 0.02)))
    val b = docs.select(col("n_chars").cast("long").as("v")).selectExpr(
      "count(v)", "min(v)", "max(v)",
      s"percentile_approx(v, array(${probes.mkString(",")}), 200)").head()
    val seeded = forcedProtocol(Quantiles.exactQuantilesKnownBounds(docs,
      "n_chars", qs, b.getLong(0), b.getLong(1), b.getLong(2),
      sketch = Some(b.getSeq[Long](3))))
    assert(seeded === Quantiles.exactQuantiles(docs, "n_chars", qs))
  }

  test("seeded selection survives pathological data: signs, dups, extremes") {
    // values straddling zero (the overflow split), heavy duplicates, and
    // both 64-bit extremes — the bracket-widening and saturation paths.
    // Run with the small-group gate OFF too, so the tiny fixture actually
    // exercises the protocol (sign split, satAdd, refinement) and not
    // just the fused capped-sort path.
    val vals = Seq(Long.MinValue, -7L, -7L, -7L, 0L, 0L, 3L, 3L, 3L, 3L,
      999999999999L, Long.MaxValue, Long.MaxValue)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = Seq(0.05, 0.25, 0.5, 0.75, 1.0)
    def check(): Unit =
      Quantiles.exactQuantiles(df, "v", qs)
        .foreach { case (q, v) =>
          val k = math.max(1L, math.ceil(q * vals.length).toLong).toInt
          assert(v === sorted(k - 1), s"q=$q")
        }
    check()
    forcedProtocol(check()) // a 2⁶⁴ range: the protocol seeds it
  }

  test("seeded selection stays exact at clamped extremes and coarse sketch error") {
    // caller sketches that clamp at both 64-bit extremes and brackets
    // that are loose or plain wrong — exactness must not depend on the
    // sketch being any good (the bracket-verify job re-anchors every
    // rank; a disproved bracket refines its full range)
    val vals = (1L to 50L) ++ Seq(-1000000L, 1000000L)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = Seq(0.02, 0.5, 0.98)
    val loose = Seq(Long.MinValue, 5L, 20L, 30L, 45L, Long.MaxValue)
    val wrong = Seq(Long.MinValue, Long.MinValue, 40L, 45L,
      Long.MaxValue, Long.MaxValue)
    def check(sketch: Seq[Long]): Unit =
      Quantiles.exactQuantilesKnownBounds(df, "v", qs, vals.length,
          sorted.head, sorted.last, sketch = Some(sketch))
        .foreach { case (q, v) =>
          val k = math.max(1L, math.ceil(q * vals.length).toLong).toInt
          assert(v === sorted(k - 1), s"q=$q")
        }
    check(loose)
    forcedProtocol { check(loose); check(wrong) }
  }

  test("groupedExactQuantile reproduces per-group rank medians exactly") {
    // groups of very different sizes, duplicates, negatives, and a NULL
    // group key; compare against a driver-side rank computation
    val rng = new scala.util.Random(42)
    val rows = (1 to 2000).map { i =>
      val g = i % 7 match {
        case 0 => null
        case 1 | 2 => "big"
        case 3 => "neg"
        case k => s"g$k"
      }
      val v = g match {
        case "neg" => rng.nextLong() % 1000L - 500L // spans both signs
        case _ => math.abs(rng.nextLong() % 5000L)
      }
      (g, v)
    }
    val df = rows.toDF("grp", "v")
    def got() = Quantiles.groupedExactQuantiles(df, "grp", "v", Seq("value" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val k = math.max(1L, math.ceil(0.5 * sorted.length).toLong).toInt
      g -> sorted(k - 1)
    }
    assert(got() == expected)
    assert(forcedProtocol(got()) == expected)
  }

  test("groupedExactQuantiles: one shared protocol equals three separate calls") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 2000).map { i =>
      val g = if (i % 5 == 0) null else s"g${i % 5}"
      val v = if (g == "g1") rng.nextLong() % 900L - 450L
              else math.abs(rng.nextLong() % 4000L)
      (g, v)
    }
    val df = rows.toDF("grp", "v")
    // the multi-rank protocol runs the selection rounds (gate off)
    val multi = forcedProtocol(Quantiles.groupedExactQuantiles(df, "grp", "v",
        Seq("p25" -> 0.25, "p50" -> 0.50, "p75" -> 0.75)).collect())
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    def single(q: Double) =
      Quantiles.groupedExactQuantiles(df, "grp", "v", Seq("value" -> q))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val (s25, s50, s75) = (single(0.25), single(0.50), single(0.75))
    assert(multi.keySet == s50.keySet)
    multi.foreach { case (g, (p25, p50, p75)) =>
      assert((p25, p50, p75) === ((s25(g), s50(g), s75(g))), s"group $g")
    }
    // and against a driver-side rank computation
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      def at(q: Double) =
        sorted(math.max(1L, math.ceil(q * sorted.length).toLong).toInt - 1)
      g -> ((at(0.25), at(0.5), at(0.75)))
    }
    assert(multi == want)
  }

  test("groupedExactQuantileDouble reproduces per-group double medians") {
    val rng = new scala.util.Random(5)
    val rows = (1 to 1500).map { i =>
      (s"g${i % 4}", rng.nextGaussian() * (if (i % 4 == 0) -10 else 100))
    }
    val df = rows.toDF("grp", "v")
    def got() = Quantiles.groupedExactQuantilesDouble(df, "grp", "v",
        Seq("value" -> 0.5))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val want = rows.groupBy(_._1).map { case (g, vs) =>
      val sorted = vs.map(_._2).sorted
      val k = math.max(1L, math.ceil(0.5 * sorted.length).toLong).toInt
      g -> sorted(k - 1)
    }
    assert(got() == want) // bit-exact: selection returns an actual data value
    assert(forcedProtocol(got()) == want)
  }

  test("grouped seeded selection is bit-identical to unseeded, even with a coarse sketch") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 800).map(i => (s"g${i % 3}", rng.nextGaussian() * 50 - 20))
    val df = rows.toDF("grp", "v")
    val mapped = df.select(col("grp"), graft.functions.SortableDoubleBits
      .sortableDoubleBits(col("v")).as("__s"))
    val specs = Seq("p01" -> 0.01, "p50" -> 0.5, "p99" -> 0.99, "top" -> 1.0)
    def rowsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).sortBy(_._1).toSeq
    def run() = rowsOf(Quantiles.groupedExactQuantiles(mapped, "grp", "__s", specs))
    // the fused path sorts each small group; with the gate off every
    // group is unresolved and its bits range is wide, so the protocol
    // seeds it — and with gather caps of one value, every verified
    // bracket must refine before it resolves: the answer must not move
    // a bit (disproved brackets: the wrong-sketch case above)
    val plain = run()
    val fine = forcedProtocol(run())
    val coarse = withProps("graft.quantiles.smallGroupCap" -> "0",
      "graft.quantiles.gatherCapPerKey" -> "1",
      "graft.quantiles.gatherCapTotal" -> "1")(run())
    assert(fine == plain)
    assert(coarse == plain)
  }

  test("forced selection protocol (smallGroupCap=0) is bit-identical to " +
    "the fused capped-sort fast path") {
    // test fixtures are all below the small-group gate, so without this
    // toggle the sketch/verify/gather/refinement protocol would be dead
    // code in the suite: force it and pin both paths to the same bits
    val rng = new scala.util.Random(7)
    val rows = (1 to 600).map(i => (s"g${i % 4}", rng.nextGaussian() * 1e9))
    val df = rows.toDF("grp", "v")
    val specs = Seq("p10" -> 0.1, "p50" -> 0.5, "p95" -> 0.95)
    def run() = Quantiles
      .groupedExactQuantilesDouble(df, "grp", "v", specs)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3))).sortBy(_._1).toSeq
    val fast = run()
    val qs = Seq(0.25, 0.5, 0.99)
    val fastUngrouped = Quantiles.exactQuantiles(
      df.select((col("v") * 100).cast("long").as("lv")), "lv", qs)
    forcedProtocol {
      assert(run() == fast)
      assert(Quantiles.exactQuantiles(
        df.select((col("v") * 100).cast("long").as("lv")), "lv", qs)
        == fastUngrouped)
    }
  }

  test("over-cap brackets refine then gather: tiny gather caps are " +
    "bit-identical to the fast path") {
    // r14 branch coverage: a VERIFIED sketch bracket whose exact count
    // exceeds GatherCapPerKey may not gather immediately — it must run
    // refinement rounds and re-enter the gather only once a round's
    // measured bucket count fits the cap (duplicate-heavy values keep
    // counts high across rounds, exercising the deep path). Caps of
    // 4/8 force that on 600 rows; output must match the unforced run
    // exactly, per the protocol's bit-identical contract. The narrow
    // values refine unseeded; the same values spread over a 2⁴² range
    // are seeded, so verified brackets take the over-cap path.
    val rng = new scala.util.Random(41)
    // heavy duplication: 40 distinct values, 15 copies each
    val rows = (1 to 600).map(i => (s"g${i % 3}", (rng.nextInt(40) * 97).toLong))
    val specs = Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)
    val qs = Seq(0.25, 0.5, 0.99)
    Seq(1L, 1L << 30).foreach { scale =>
      val df = rows.map { case (g, v) => (g, v * scale) }.toDF("grp", "v")
      def run() = Quantiles.groupedExactQuantiles(df, "grp", "v", specs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      val fast = run()
      val fastUngrouped = Quantiles.exactQuantiles(df, "v", qs)
      withProps("graft.quantiles.smallGroupCap" -> "0",
          "graft.quantiles.gatherCapPerKey" -> "4",
          "graft.quantiles.gatherCapTotal" -> "8") {
        assert(run() == fast, s"scale=$scale")
        assert(Quantiles.exactQuantiles(df, "v", qs) == fastUngrouped,
          s"scale=$scale")
      }
    }
  }

  test("groupedExactQuantile agrees with exactQuantiles on one group") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val single = docs.select(lit("all").as("grp"), col("n_chars"))
    val grouped = Quantiles.groupedExactQuantiles(single, "grp", "n_chars",
        Seq("value" -> 0.9))
      .collect().head.getLong(1)
    val global = Quantiles.exactQuantiles(docs, "n_chars", Seq(0.9)).head._2
    assert(grouped === global)
  }

  test("sortable double bits: order-preserving bijection incl. signs and zeros") {
    import graft.functions.SortableDoubleBits._
    val vals = Seq(Double.NegativeInfinity, -1e300, -2.5, -1e-300, -0.0,
      0.0, 1e-300, 2.5, 1e300, Double.PositiveInfinity)
    val mapped = vals.map(toSortable)
    assert(mapped == mapped.sorted, "mapping must preserve order")
    vals.filterNot(_ == 0.0).foreach { d =>
      assert(fromSortable(toSortable(d)) == d, s"roundtrip $d")
    }
    assert(toSortable(0.0) == toSortable(-0.0), "signed zeros compare equal")
  }

  test("exactKthDouble selects the k-th smallest double with negatives") {
    val vals = Seq(3.5, -2.25, 0.0, -2.25, 7.125, -0.5)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    def check(): Unit =
      Quantiles.exactQuantilesDouble(df, "v", everyRank(vals.length))
        .foreach { case (q, v) => assert(v == atRank(sorted, q), s"q=$q") }
    check()
    forcedProtocol(check())
  }

  test("wide long ranges spanning both signs select without overflow") {
    val vals = Seq(Long.MinValue / 2, -17L, 0L, 42L, Long.MaxValue / 2)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val qs = everyRank(vals.length)
    def check(got: => Seq[(Double, Long)]): Unit =
      got.foreach { case (q, v) => assert(v == atRank(sorted, q), s"q=$q") }
    check(Quantiles.exactQuantiles(df, "v", qs))
    forcedProtocol(check(Quantiles.exactQuantiles(df, "v", qs)))
    // a disproved sketch and no gather: the sign split and the 2⁶²-wide
    // refinement rounds alone must select exactly
    withProps("graft.quantiles.smallGroupCap" -> "0",
        "graft.quantiles.gatherCapPerKey" -> "0") {
      check(Quantiles.exactQuantilesKnownBounds(df, "v", qs, vals.length,
        sorted.head, sorted.last, sketch = Some(qs.flatMap(_ => Seq(0L, 0L)))))
    }
  }

  test("batched multi-rank selection matches per-rank sorts across signs") {
    val vals = Seq(-900L, -5L, -5L, 0L, 3L, 3L, 77L, 1000L, 12L)
    val df = vals.toDF("v")
    val sorted = vals.sorted
    val n = vals.length
    val qs = Seq(0.1, 0.5, 0.9, 1.0)
    val got = Quantiles.exactQuantiles(df, "v", qs).toMap
    qs.foreach { q =>
      val k = math.max(1L, math.ceil(q * n).toLong).toInt
      assert(got(q) == sorted(k - 1), s"q=$q")
    }
  }

  test("property: exactKth equals in-memory sort for random data") {
    val params = SCTest.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(org.scalacheck.rng.Seed(7L))
    val gen = for {
      n <- Gen.choose(1, 30)
      vs <- Gen.listOfN(n, Gen.choose(-1000L, 1000L))
      k <- Gen.choose(1, n)
    } yield (vs, k)
    val r = forcedProtocol(SCTest.check(params, Prop.forAll(gen) { case (vs, k) =>
      val q = (k - 0.5) / vs.length
      Quantiles.exactQuantiles(vs.toDF("v"), "v", Seq(q)).head._2 ==
        atRank(vs.sorted, q)
    }))
    assert(r.passed, s"property failed: ${r.status}")
  }

  test("the protocol seeds a wide range and refines a narrow one unseeded") {
    // gate off: both columns are unresolved after the bounds job. A
    // document-length range refines in ≤ 2 rounds, so no sketch job
    // runs; a bits-mapped double range (~2⁶²) is seeded by one
    // percentile_approx job. Both equal the in-memory sort.
    val rng = new scala.util.Random(3)
    val narrow = Seq.fill(300)(rng.nextInt(5000).toLong)
    val wide = Seq.fill(300)(rng.nextGaussian() * 1e3)
    val qs = Seq(0.1, 0.5, 0.9)
    def sketchJobs(f: => Unit): Int =
      plansOf(forcedProtocol(f)).count(_.contains("percentile_approx"))
    assert(sketchJobs {
      Quantiles.exactQuantiles(narrow.toDF("v"), "v", qs).foreach {
        case (q, v) => assert(v == atRank(narrow.sorted, q), s"q=$q") }
    } == 0)
    assert(sketchJobs {
      Quantiles.exactQuantilesDouble(wide.toDF("v"), "v", qs).foreach {
        case (q, v) => assert(v == atRank(wide.sorted, q), s"q=$q") }
    } == 1)
  }
}
