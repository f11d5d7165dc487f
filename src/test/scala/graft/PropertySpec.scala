package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.ops.{Dedup, Quality, Reconcile, Skew}

/** Property-based invariants (SURVEY.md §5: the guarantees the reference
  * never tested). Case counts are small — every case spins Spark jobs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(10).withInitialSeed(org.scalacheck.rng.Seed(42L))

  private def check(name: String, p: Prop): Unit = {
    val r = SCTest.check(params, p)
    assert(r.passed, s"$name failed: ${r.status}")
  }

  private val rowsGen: Gen[List[(Int, String, Double)]] = for {
    n <- Gen.choose(1, 12)
    rows <- Gen.listOfN(n, for {
      name <- Gen.oneOf("a", "b", "c", "d", "")
      amt <- Gen.oneOf(0.0, 1.5, -2.25, 10.0)
    } yield (name, amt))
  } yield rows.zipWithIndex.map { case ((nm, a), i) => (i, nm, a) }

  test("property: dup gate passes unique keys, throws on any injected duplicate") {
    check("dup-gate", Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "name", "amt")
      val clean = Quality.gate(df, Seq("id")).count() == rows.length
      val dup = rows.head.copy(_2 = "dup") :: rows // same id twice
      val thrown =
        try { Quality.gate(dup.toDF("id", "name", "amt"), Seq("id")).count(); false }
        catch { case _: graft.ops.DuplicateException => true }
      clean && thrown
    })
  }

  test("property: reconcile diff of a frame with itself is empty") {
    check("diff-self", Prop.forAll(rowsGen) { rows =>
      val df = rows.toDF("id", "name", "amt")
      Reconcile.rowDiff(df, df, Seq("id")).isEmpty &&
        Reconcile.colMismatch(df, df, Seq("id")).isEmpty &&
        Reconcile.srcExtra(df, df, Seq("id")).isEmpty
    })
  }

  test("property: a single perturbed cell yields exactly one column mismatch") {
    val gen = for { rows <- rowsGen; idx <- Gen.choose(0, 100) } yield (rows, idx)
    check("one-cell", Prop.forAll(gen) { case (rows, idx) =>
      val i = idx % rows.length
      val perturbed = rows.updated(i, rows(i).copy(_2 = rows(i)._2 + "~X"))
      val m = Reconcile.colMismatch(
        rows.toDF("id", "name", "amt"),
        perturbed.toDF("id", "name", "amt"), Seq("id")).collect()
      m.length == 1 &&
        m.head.getAs[String]("mismatch_column_name") == "name" &&
        m.head.getAs[String]("id") == rows(i)._1.toString
    })
  }

  test("property: the shared core's artifacts equal the per-artifact forms") {
    // a generated pair: target drops, edits (either value column) and adds rows
    val gen = for {
      rows <- rowsGen
      fate <- Gen.listOfN(rows.length, Gen.oneOf("keep", "drop", "name", "amt"))
      extra <- Gen.choose(0, 3)
    } yield (rows, fate, extra)
    check("core-derivations", Prop.forAll(gen) { case (rows, fate, extra) =>
      val target = rows.zip(fate).collect {
        case (r, "keep") => r
        case ((id, nm, a), "name") => (id, nm + "~", a)
        case ((id, nm, a), "amt") => (id, nm, a + 1)
      } ++ (0 until extra).map(j => (100 + j, "x", 0.0))
      val s = rows.toDF("id", "name", "amt")
      val t = target.toDF("id", "name", "amt")
      val keys = Seq("id")
      val expected = ReconcileReference.contents(
        ReconcileReference.perArtifact(s, t, keys))
      ReconcileReference.contents(ReconcileReference.of(Reconcile.diff(s, t, keys))) ==
        expected &&
        ReconcileReference.contents(ReconcileReference.artifacts(s, t, keys)) == expected
    })
  }

  test("property: saltedJoin is the plain inner join for any salt fan-out") {
    val gen = for {
      rows <- rowsGen
      dims <- Gen.someOf(0 to 11)
      n <- Gen.oneOf(1, 3, 8)
    } yield (rows, dims.toList, n)
    check("salted-join", Prop.forAll(gen) { case (rows, dims, n) =>
      val big = rows.map { case (id, nm, amt) => (id % 4, nm, amt) }
        .toDF("k", "name", "amt")
      val small = dims.map(d => (d % 4, s"dim$d")).distinct.toDF("k", "d")
      val plain = big.join(small, Seq("k")).collect()
        .map(_.toSeq.toString).sorted.toSeq
      val salted = Skew.saltedJoin(big, small, Seq("k"), n).collect()
        .map(_.toSeq.toString).sorted.toSeq
      plain == salted
    })
  }

  test("property: DotProduct equals the local sequential fold bit-for-bit") {
    val vecGen = Gen.listOfN(16, Gen.chooseNum(-10.0f, 10.0f))
    check("dot", Prop.forAll(vecGen, vecGen) { (a, b) =>
      val expected = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) =>
        acc + x.toDouble * y.toDouble
      }
      val got = Seq((a.toArray, b.toArray)).toDF("a", "b")
        .select(graft.functions.VectorOps.dot($"a", $"b")).first().getDouble(0)
      got == expected
    })
  }

  test("property: hashed shingle count equals distinct string-shingle count") {
    val textGen = for {
      n <- Gen.choose(0, 12)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "dd", "ee"))
    } yield toks.mkString(" ")
    check("shingles", Prop.forAll(textGen) { text =>
      val df = Seq(Tuple1(text)).toDF("text")
      val hashed = df.select(
        size(graft.functions.ShingleHashes.shingleHashes($"text", 3))).first().getInt(0)
      val strings = df.select(size(Dedup.shingles($"text", 3))).first().getInt(0)
      hashed == strings
    })
  }

  test("property: next-fit packing is a partition and respects the budget") {
    val docsGen = for {
      n <- Gen.choose(1, 20)
      toks <- Gen.listOfN(n, Gen.choose(1, 120))
    } yield toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    check("packing", Prop.forAll(docsGen) { docs =>
      val budget = 100
      val out = graft.ops.Packing
        .nextFitPack(docs.toDF("doc_id", "n_tokens"), "doc_id", $"n_tokens",
          budget, 3)
        .collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("pack_group"),
          r.getAs[Int]("n_tokens"), r.getAs[Int]("bin_id")))
      // every doc assigned exactly once
      val partition = out.map(_._1).sorted.toSeq == docs.map(_._1).sorted
      // a bin only exceeds the budget when it holds a single oversized doc
      val binsOk = out.groupBy(o => (o._2, o._4)).values.forall { bin =>
        bin.map(_._3).sum <= budget || bin.length == 1
      }
      // bins are numbered contiguously from 0 within each group
      val contiguous = out.groupBy(_._2).values.forall { g =>
        val ids = g.map(_._4).distinct.sorted.toSeq
        ids == (0 until ids.length)
      }
      partition && binsOk && contiguous
    })
  }

  test("property: containment is within (0,1] and 1.0 iff self-contained") {
    val textGen = for {
      n <- Gen.choose(3, 10)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d", "e"))
    } yield toks.mkString(" ")
    check("containment", Prop.forAll(Gen.listOfN(4, textGen)) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val train = docs.filter(_._1 % 2 == 0).toDF("doc_id", "text")
      val eval = docs.filter(_._1 % 2 == 1).toDF("doc_id", "text")
      val pairs = graft.ops.Contamination
        .containmentPairs(train, eval, "doc_id", "text", 3, 0.0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // containment of an eval doc against a train doc with identical
      // text must be exactly 1.0; all scores in (0, 1]
      val byText = docs.toMap
      pairs.forall { case (e, t, c) =>
        c > 0.0 && c <= 1.0 && (byText(e) != byText(t) || c == 1.0)
      }
    })
  }

  test("property: tiersByPercentRank equals window-percent_rank banding") {
    // random values with deliberate tie mass and occasional nulls, both
    // directions — the boundary form must match the window form row-for-row
    val gen = for {
      n <- Gen.choose(1, 30)
      vs <- Gen.listOfN(n, Gen.frequency(
        8 -> Gen.choose(-5, 5).map(v => Option(v.toDouble)),
        1 -> Gen.const(Option.empty[Double])))
      desc <- Gen.oneOf(true, false)
    } yield (vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }, desc)
    check("tiers", Prop.forAll(gen) { case (rows, desc) =>
      val df = rows.toDF("id", "v")
      val got = graft.ops.Ranks.tiersByPercentRank(df, "v", Seq(0.2, 0.5),
          Seq("Gold", "Silver", "Bronze"), desc)
        .select("id", "tier").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(if (desc) col("v").desc else col("v").asc)
      val want = df.withColumn("pr", percent_rank().over(w))
        .withColumn("t", when(col("pr") <= 0.2, "Gold")
          .when(col("pr") <= 0.5, "Silver").otherwise("Bronze"))
        .select("id", "t").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      got == want
    })
  }

  test("property: equiDepth partitions all rows; buckets ordered and disjoint") {
    val gen = for {
      n <- Gen.choose(2, 25)
      vs <- Gen.listOfN(n, Gen.choose(-50L, 50L))
      k <- Gen.choose(2, 5)
    } yield (vs, k)
    check("equi-depth", Prop.forAll(gen) { case (vs, k) =>
      val h = graft.ops.Histogram.equiDepth(vs.toDF("v"), "v", k)
        .orderBy("bucket").collect()
      val nonEmpty = h.filter(_.getAs[Long]("n") > 0)
      h.map(_.getAs[Long]("n")).sum == vs.length &&
        nonEmpty.sliding(2).forall {
          case Array(a, b) => a.getAs[Long]("hi") < b.getAs[Long]("lo")
          case _ => true
        }
    })
  }

  test("property: topMass threshold matches the cumsum definition") {
    val gen = for {
      n <- Gen.choose(1, 20)
      ws <- Gen.listOfN(n, Gen.choose(0L, 30L))
      pn <- Gen.choose(1L, 4L)
    } yield (ws, pn)
    check("top-mass", Prop.forAll(gen) { case (ws, pn) =>
      val total = ws.sum
      // all-zero mass has no meaningful threshold contract; skip
      total == 0L || {
        val thr = graft.ops.Composition
          .topMassThresholds(ws.map(("g", _)).toDF("k", "w"), "k", "w", pn, 4L)
          .head().getAs[Long]("threshold")
        val need = (total * pn + 3L) / 4L
        val sorted = ws.sorted(Ordering[Long].reverse)
        val want = sorted.distinct
          .find(w => ws.filter(_ >= w).sum >= need).get
        thr == want
      }
    })
  }

  test("property: drift TVD is symmetric and within [0, 1]") {
    val gen = for {
      na <- Gen.choose(1, 15); nb <- Gen.choose(1, 15)
      as <- Gen.listOfN(na, Gen.choose(0L, 63L))
      bs <- Gen.listOfN(nb, Gen.choose(0L, 63L))
    } yield (as, bs)
    check("drift-tvd", Prop.forAll(gen) { case (as, bs) =>
      val a = as.toDF("v"); val b = bs.toDF("v")
      val ab = graft.ops.Drift.driftSummary(a, b, "v", 0L, 63L, 8).head()
      val ba = graft.ops.Drift.driftSummary(b, a, "v", 0L, 63L, 8).head()
      val tvd = ab.getAs[Double]("tvd")
      tvd >= 0.0 && tvd <= 1.0 && tvd == ba.getAs[Double]("tvd") &&
        ab.getAs[Double]("max_gap") == ba.getAs[Double]("max_gap")
    })
  }

  test("property: transition pair count is rows minus keys (non-null)") {
    val gen = for {
      n <- Gen.choose(1, 20)
      rows <- Gen.listOfN(n, for {
        u <- Gen.choose(1L, 4L)
        a <- Gen.oneOf("x", "y", "z")
      } yield (u, a))
    } yield rows.zipWithIndex.map { case ((u, a), i) => (i.toLong, i.toLong, u, a) }
    check("transitions", Prop.forAll(gen) { rows =>
      val df = rows.toDF("event_id", "tsv", "user_id", "event_type")
        .withColumn("ts", timestamp_seconds(col("tsv"))).drop("tsv")
      val m = graft.ops.Transitions
        .transitionMatrix(df, "user_id", "ts", "event_type", "event_id")
      val users = rows.map(_._3).distinct.size
      m.agg(coalesce(sum("n"), lit(0L))).head().getLong(0) ==
        (rows.length - users).toLong
    })
  }
}
