package graft

import org.apache.spark.sql.{functions => F}

import graft.analysis.DriftExact

/** Exact drift statistics: every case cross-checks the distributed
  * prefix-sum / binned implementation against a brute-force local ECDF or
  * a hand-derived value, across multiple partitions so the per-partition
  * offset arithmetic is actually exercised. The KS cases run on both
  * sides of the driver-finish size gate. */
class DriftExactSpec extends SparkSpec {

  /** The default bound takes the driver finish on every fixture here;
    * 0 forces the distributed prefix sums. */
  private val ksBounds = Seq(DriftExact.LocalPairBound.default, 0L)

  /** `body` with the KS gate's bound set to `bound`. */
  private def at[T](bound: Long)(body: => T): T =
    DriftExact.LocalPairBound.withBound(bound)(body)

  private def ksStat(df: org.apache.spark.sql.DataFrame, bound: Long) =
    at(bound)(DriftExact.ksStats(df, Seq("v"), F.col("is_t")))("v")

  private def localKs(a: Seq[Double], b: Seq[Double]): Double = {
    val grid = (a ++ b).distinct.sorted
    grid.map { v =>
      math.abs(a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)
    }.max
  }

  test("ksStat: hand-computed tiny case") {
    import spark.implicits._
    // A = {1,2,3}, B = {2,3,4}: ECDFs diverge most at v=1 and v=3 (D = 1/3)
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (2.0, false), (3.0, false), (4.0, false)).toDF("v", "is_t")
    ksBounds.foreach { bound =>
      assert(ksStat(df, bound) == ((1.0 / 3.0, 3L, 3L)), s"bound $bound")
    }
  }

  test("ksStat: matches brute-force ECDF on a multi-partition sample with ties") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    // integer-valued doubles force heavy ties; shifted distributions
    val a = Seq.fill(400)(rng.nextInt(50).toDouble)
    val b = Seq.fill(300)(rng.nextInt(50).toDouble + 5.0)
    val df = (a.map((_, true)) ++ b.map((_, false))).toDF("v", "is_t")
      .repartition(7)
    ksBounds.foreach { bound =>
      val (d, na, nb) = ksStat(df, bound)
      assert((na, nb) == (400L, 300L), s"bound $bound")
      assert(math.abs(d - localKs(a, b)) < 1e-15, s"bound $bound")
    }
  }

  test("ksStat: identical samples give D = 0; empty side guards") {
    import spark.implicits._
    // both halves see the same multiset of values by construction
    val same = (0 until 100).flatMap(i =>
      Seq((i.toDouble % 13, true), (i.toDouble % 13, false))).toDF("v", "is_t")
    val oneSided = Seq((1.0, true), (2.0, true)).toDF("v", "is_t")
    ksBounds.foreach { bound =>
      assert(ksStat(same, bound)._1 == 0.0, s"bound $bound")
      assert(ksStat(oneSided, bound) == ((0.0, 2L, 0L)), s"bound $bound")
    }
  }

  test("ksStat: nulls are excluded, not counted") {
    import spark.implicits._
    val df = Seq((Some(1.0), true), (None, true), (Some(1.0), false),
      (None, false)).toDF("v", "is_t")
    ksBounds.foreach { bound =>
      assert(ksStat(df, bound) == ((0.0, 1L, 1L)), s"bound $bound")
    }
  }

  test("hellingerStat: disjoint extreme bins give H = 1, identical give 0") {
    import spark.implicits._
    // all target mass in bin 0, all ref mass in bin 29
    val df = (Seq.fill(50)((0.0, true)) ++ Seq.fill(70)((30.0, false)))
      .toDF("v", "is_t").repartition(5)
    val (h, na, nb) = DriftExact.hellingerStat(df, "v", F.col("is_t"))
    assert((na, nb) == (50L, 70L))
    assert(math.abs(h - 1.0) < 1e-15)
    val same = Seq.tabulate(80)(i => (i.toDouble, i % 2 == 0)).toDF("v", "is_t")
    // equal per-bin proportions: each consecutive (even, odd) pair shares a bin
    assert(DriftExact.hellingerStat(same, "v", F.col("is_t"), nBins = 40)._1 < 1e-15)
  }

  test("hellingerStat: hand-computed two-bin split") {
    import spark.implicits._
    // nBins=2 over [0,2): target 3:1 low/high, ref 1:3
    val df = (Seq.fill(3)((0.5, true)) ++ Seq((1.5, true)) ++
      Seq((0.5, false)) ++ Seq.fill(3)((1.5, false)) ++
      Seq((0.0, true), (2.0, false))).toDF("v", "is_t")
    val (h, na, nb) = DriftExact.hellingerStat(df, "v", F.col("is_t"), nBins = 2)
    assert((na, nb) == (5L, 5L))
    // p = (4/5, 1/5), q = (1/5, 4/5): H = sqrt(((√.8−√.2)² + (√.2−√.8)²)/2)
    val expected = math.sqrt(math.pow(math.sqrt(0.8) - math.sqrt(0.2), 2))
    assert(math.abs(h - expected) < 1e-15)
  }

  test("hellingerStat: degenerate single-value column gives 0") {
    import spark.implicits._
    val df = Seq((5.0, true), (5.0, false), (5.0, true)).toDF("v", "is_t")
    assert(DriftExact.hellingerStat(df, "v", F.col("is_t")) == ((0.0, 2L, 1L)))
  }

  test("multi-column ksStats/hellingerStats equal independent per-column runs") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val df = Seq.fill(300)((rng.nextInt(40).toDouble, rng.nextGaussian() * 3 + 10,
      rng.nextBoolean())).toDF("x", "y", "is_t").repartition(6)
    ksBounds.foreach { bound =>
      val ks = at(bound)(DriftExact.ksStats(df, Seq("x", "y"), F.col("is_t")))
      Seq("x", "y").foreach { c =>
        assert(ks(c) == at(bound)(DriftExact.ksStats(df.select(c, "is_t"), Seq(c),
          F.col("is_t")))(c), s"$c, bound $bound")
      }
    }
    val hl = DriftExact.hellingerStats(df, Seq("x", "y"), F.col("is_t"))
    assert(hl("x") == DriftExact.hellingerStat(df.select("x", "is_t"), "x", F.col("is_t")))
    assert(hl("y") == DriftExact.hellingerStat(df.select("y", "is_t"), "y", F.col("is_t")))
  }

  test("property: ksStat equals local brute force on arbitrary samples") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import spark.implicits._
    // mixed magnitudes, negatives, heavy ties, tiny and lopsided sizes
    val value = Gen.oneOf(
      Gen.choose(-5, 5).map(_.toDouble),
      Gen.choose(-1e6, 1e6),
      Gen.oneOf(0.0, -0.0, 1e-300, 1e300))
    val sample = Gen.choose(1, 60).flatMap(n => Gen.listOfN(n, value))
    (0 until 25).foreach { i =>
      val res = for {
        a <- sample(Gen.Parameters.default, Seed(i.toLong))
        b <- sample(Gen.Parameters.default, Seed((i + 500).toLong))
      } yield {
        val df = (a.map((_, true)) ++ b.map((_, false))).toDF("v", "is_t")
          .repartition(3)
        // 0.0 == -0.0 for grouping AND ordering in both paths
        val norm = (x: Double) => if (x == 0.0) 0.0 else x
        val want = localKs(a.map(norm), b.map(norm))
        val got = ksBounds.map(bound => ksStat(df, bound))
        got.foreach { case (d, na, nb) =>
          assert((na, nb) == (a.size.toLong, b.size.toLong))
          assert(math.abs(d - want) < 1e-12, s"seed $i: a=$a b=$b")
        }
        assert(got.distinct.size == 1, s"seed $i: the two finishes differ: $got")
      }
      assert(res.isDefined, s"generator failed at seed $i")
    }
  }

  test("chi2Stats equals the FI-sketch chiSquare where the sketch is exact") {
    val li = table("lineitem")
    val isT = F.col("l_orderkey") % 3 === 0
    val exact = graft.analysis.DriftExact.chi2Stats(
      li, Seq("l_returnflag", "l_linestatus"), isT)
    val p = new graft.api.Profiler()
    val cols = Some(Seq("l_returnflag", "l_linestatus"))
    val t = p.profile(li.filter(isT), cols)
    val r = p.profile(li.filter(!isT), cols)
    Seq("l_returnflag", "l_linestatus").foreach { c =>
      // low cardinality ⇒ unpurged FI map ⇒ sketch counts are exact ⇒
      // the two paths must agree bit-for-bit (same sorted-key sum)
      val sketch = graft.analysis.Drift.chiSquare(
        t.columns(c).frequentItems.get, r.columns(c).frequentItems.get)
      assert(exact(c) == sketch, s"$c: ${exact(c)} vs $sketch")
    }
  }

  test("chi2Stats refuses high-cardinality pseudo-categorical columns") {
    val li = table("lineitem")
    intercept[IllegalArgumentException] {
      DriftExact.chi2Stats(li, Seq("l_orderkey"), F.col("l_linenumber") === 1,
        maxCategories = 10)
    }
  }

  test("scores: reference-shaped rows with consistent categories") {
    val li = table("lineitem")
    val rows = DriftExact.scores(li, F.col("l_orderkey") % 3 === 0,
      numericCols = Seq("l_quantity"), categoricalCols = Seq("l_returnflag"))
    assert(rows.map(r => (r.column, r.algorithm)) ==
      Seq(("l_quantity", "ks"), ("l_quantity", "hellinger"), ("l_returnflag", "chi2")))
    // the mod-3 split is distribution-preserving: nothing should drift
    assert(rows.forall(_.category == graft.analysis.Drift.NoDrift), rows.toString)
    val ksRow = rows.find(_.algorithm == "ks").get
    assert(ksRow.statistic ==
      DriftExact.ksStat(li, "l_quantity", F.col("l_orderkey") % 3 === 0)._1)
    assert(ksRow.pValue.exists(p => p > 0 && p <= 1))
  }

  test("ksTimeline equals per-pair ksStat on every consecutive window pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // four integer buckets with different distributions; bucket 2 empty
    // to check that pairs (2,1)->skipped-side and (3,2) vanish
    val rows = Seq.tabulate(400) { i =>
      val b = Seq(0, 1, 3, 3)(i % 4)
      (b, rnd.nextGaussian() * (b + 1) + b)
    }
    val df = rows.toDF("b", "v")
    val tl = DriftExact.ksTimeline(df, F.col("b"), F.col("v"), _ + F.lit(1))
      .collect().map(r => r.getInt(0) ->
        (r.getDouble(1), r.getLong(2), r.getLong(3))).toMap
    // pairs with both sides non-empty: (1, prev 0) and (4?) no — buckets
    // are 0,1,3; consecutive pairs present: 1 (0→1) only, since 2 and 4
    // are empty on one side
    assert(tl.keySet == Set(1))
    val pair = df.filter(F.col("b").isin(0, 1))
    val (d, na, nb) = DriftExact.ksStat(pair, "v", F.col("b") === 1)
    assert(tl(1) == ((d, na, nb)))
  }

  test("ksTimeline is exact vs a local ECDF computation") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = Seq.tabulate(300)(i => (i % 3, rnd.nextInt(40).toDouble))
    val df = rows.toDF("b", "v")
    val tl = DriftExact.ksTimeline(df, F.col("b"), F.col("v"), _ + F.lit(1))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(tl.keySet == Set(1, 2))
    (1 to 2).foreach { p =>
      val cur = rows.filter(_._1 == p).map(_._2)
      val prev = rows.filter(_._1 == p - 1).map(_._2)
      // localKs divides per-ECDF (two roundings); ksTimeline divides once
      assert(math.abs(tl(p) - localKs(cur, prev)) < 1e-12, s"pair $p")
    }
  }

  test("psiStats: hand-computed two-bin split") {
    import spark.implicits._
    // same fixture as the Hellinger two-bin test: p = (.8,.2), q = (.2,.8)
    val df = (Seq.fill(3)((0.5, true)) ++ Seq((1.5, true)) ++
      Seq((0.5, false)) ++ Seq.fill(3)((1.5, false)) ++
      Seq((0.0, true), (2.0, false))).toDF("v", "is_t")
    val got = DriftExact.psiStats(df, Seq("v"), F.col("is_t"), nBins = 2)("v")
    assert((got._2, got._3) == (5L, 5L))
    // PSI = (.8−.2)ln(.8/.2) + (.2−.8)ln(.2/.8) = 1.2·ln 4
    assert(math.abs(got._1 - 1.2 * math.log(4.0)) < 1e-15)
  }

  test("psiStats: identical distributions give 0; eps floors empty bins") {
    import spark.implicits._
    val same = Seq.tabulate(80)(i => (i.toDouble, i % 2 == 0)).toDF("v", "is_t")
    assert(DriftExact.psiStats(same, Seq("v"), F.col("is_t"), nBins = 40)("v")._1 < 1e-15)
    // all target mass in the low bin, all ref in the high bin: each bin has
    // (p, q) = (1, ε) one way round; PSI = 2·(1−ε)·ln(1/ε) exactly
    val df = (Seq.fill(40)((0.0, true)) ++ Seq.fill(40)((10.0, false)))
      .toDF("v", "is_t").repartition(3)
    val eps = 1e-4
    val (psi, na, nb) = DriftExact.psiStats(df, Seq("v"), F.col("is_t"), nBins = 2)("v")
    assert((na, nb) == (40L, 40L))
    val expected = 2.0 * (1.0 - eps) * math.log(1.0 / eps)
    assert(math.abs(psi - expected) < 1e-12)
  }

  test("psiStats: multi-column run equals independent per-column runs") {
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val df = Seq.fill(250)((rng.nextInt(30).toDouble,
      rng.nextGaussian() * 2 + 5, rng.nextBoolean()))
      .toDF("x", "y", "is_t").repartition(6)
    val multi = DriftExact.psiStats(df, Seq("x", "y"), F.col("is_t"))
    assert(multi("x") == DriftExact.psiStats(df.select("x", "is_t"), Seq("x"), F.col("is_t"))("x"))
    assert(multi("y") == DriftExact.psiStats(df.select("y", "is_t"), Seq("y"), F.col("is_t"))("y"))
  }

  test("ksStatsByKey equals independent per-segment ksStat runs; NULL keys dropped") {
    import spark.implicits._
    val rng = new scala.util.Random(17)
    val rows = Seq.fill(600)((
      Seq("a", "b", "c")(rng.nextInt(3)),
      rng.nextInt(40).toDouble + (if (rng.nextBoolean()) 3.0 else 0.0),
      rng.nextBoolean())) ++ Seq((null, 1.0, true), (null, 2.0, false))
    val df = rows.toDF("seg", "v", "is_t").repartition(7)
    ksBounds.foreach { bound =>
      val byKey = at(bound)(DriftExact.ksStatsByKey(df, F.col("seg"), "v", F.col("is_t")))
      assert(byKey.keySet == Set("a", "b", "c"))
      Seq("a", "b", "c").foreach { s =>
        val single = ksStat(df.filter(F.col("seg") === s), bound)
        assert(byKey(s) == single, s"segment $s, bound $bound")
      }
    }
  }

  test("ksStats: NaN sorts last, -0.0 folds into 0.0, an all-NULL column is empty") {
    import spark.implicits._
    // a = {NaN, -0.0, 1}, b = {0, 0, 2, NaN}; in Spark's double order
    // (0 < 1 < 2 < NaN) the numerator |cumA·4 − cumB·3| peaks at 2 on
    // values 0 and 1. NaN sorted first would give 3, an unfolded -0.0 4.
    val df = (Seq(Double.NaN, -0.0, 1.0).map((_, true)) ++
      Seq(0.0, 0.0, 2.0, Double.NaN).map((_, false)))
      .map { case (v, t) => (v, Option.empty[Double], t) }
      .toDF("v", "n", "is_t").repartition(3)
    val got = ksBounds.map(bound =>
      at(bound)(DriftExact.ksStats(df, Seq("v", "n"), F.col("is_t"))))
    assert(got.head("v") == ((2.0 / 12.0, 3L, 4L)))
    assert(got.head("n") == ((0.0, 0L, 0L)))
    assert(got.distinct.size == 1, s"the two finishes differ: $got")
  }

  test("ksStats and ksStatsByKey release every checkpoint they pin") {
    import spark.implicits._
    val df = Seq.tabulate(300)(i => (Seq("a", "b")(i % 2), (i % 17).toDouble, i % 3 == 0))
      .toDF("seg", "v", "is_t").repartition(4)
    val sc = spark.sparkContext
    ksBounds.foreach { bound =>
      val before = sc.getPersistentRDDs.keySet
      ksStat(df, bound)
      at(bound)(DriftExact.ksStatsByKey(df, F.col("seg"), "v", F.col("is_t")))
      assert(sc.getPersistentRDDs.keySet == before, s"bound $bound")
    }
  }

  test("psiStatsByKey equals independent per-segment psiStats runs; id-like key refused") {
    import spark.implicits._
    val rng = new scala.util.Random(29)
    val rows = Seq.fill(500)((
      Seq("a", "b")(rng.nextInt(2)),
      rng.nextGaussian() * 10 + (if (rng.nextBoolean()) 5 else 0),
      rng.nextBoolean()))
    val df = rows.toDF("seg", "v", "is_t").repartition(5)
    val byKey = DriftExact.psiStatsByKey(df, F.col("seg"), "v", F.col("is_t"))
    assert(byKey.keySet == Set("a", "b"))
    Seq("a", "b").foreach { s =>
      val single = DriftExact.psiStats(
        df.filter(F.col("seg") === s), Seq("v"), F.col("is_t"))("v")
      assert(byKey(s) == single, s"segment $s")
    }
    val idLike = rows.zipWithIndex.map { case ((_, v, t), i) => (s"id$i", v, t) }
      .toDF("seg", "v", "is_t")
    val e = intercept[IllegalArgumentException] {
      DriftExact.psiStatsByKey(idLike, F.col("seg"), "v", F.col("is_t"),
        maxSegments = 50)
    }
    assert(e.getMessage.contains("segment"))
  }

  test("psiQuantileStats: hand-computed two-bin split on reference-median edge") {
    import spark.implicits._
    // ref = {1,2,3,4} (median edge 2.5), target = {3,3,4,4}: all target
    // mass lands in the upper bin ⇒ pa=(eps,1), pb=(.5,.5)
    val df = (Seq(3.0, 3.0, 4.0, 4.0).map((_, true)) ++
      Seq(1.0, 2.0, 3.0, 4.0).map((_, false))).toDF("v", "is_t").repartition(3)
    val (psi, na, nb) = DriftExact.psiQuantileStats(
      df, Seq("v"), F.col("is_t"), nBins = 2)("v")
    assert((na, nb) == (4L, 4L))
    val eps = 1e-4
    val expected = (eps - 0.5) * math.log(eps / 0.5) +
      (1.0 - 0.5) * math.log(1.0 / 0.5)
    assert(math.abs(psi - expected) < 1e-15)
  }

  test("psiQuantileStats: identical slices give ~0; skew does not mute the score") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    // heavily skewed: 95% of mass at small values, a long tail
    val base = Seq.fill(950)(rng.nextDouble()) ++ Seq.fill(50)(rng.nextDouble() * 1e6)
    val same = base.zipWithIndex.map { case (v, i) => (v, i % 2 == 0) }.toDF("v", "is_t")
    val (p0, _, _) = DriftExact.psiQuantileStats(same, Seq("v"), F.col("is_t"))("v")
    // two 500-sample halves: sampling noise alone keeps PSI under the
    // 0.1 "stable" boundary (Siddiqi), far from the 0.25 alert level
    assert(p0 < 0.1, s"same-distribution slices should be stable: $p0")
    // shift the target above the ref's body: the 1e6 tail stretches the
    // fixed-width grid so ~all mass (ref AND shifted target) shares bin 0
    // and the score is muted; decile bins resolve the body and flag it
    val shifted = (base.map((_, false)) ++
      base.take(500).map(v => (v + 2.0, true))).toDF("v", "is_t")
    val (p1, _, _) = DriftExact.psiQuantileStats(shifted, Seq("v"), F.col("is_t"))("v")
    val (pf, _, _) = DriftExact.psiStats(shifted, Seq("v"), F.col("is_t"), nBins = 10)("v")
    assert(p1 > 0.25, s"decile PSI should flag the shift: $p1")
    assert(p1 > pf, s"decile PSI ($p1) should out-signal fixed-width PSI ($pf) on skew")
  }

  test("ksStat agrees with the sketch-based Drift.ks within rank error on real data") {
    val li = table("lineitem")
    val isT = F.col("l_orderkey") % 3 === 0
    val (exact, _, _) = DriftExact.ksStat(li, "l_extendedprice", isT)
    val p = new graft.api.Profiler()
    val target = p.profile(li.filter(isT), Some(Seq("l_extendedprice")))
    val ref = p.profile(li.filter(!isT), Some(Seq("l_extendedprice")))
    val (sketch, _) = graft.analysis.Drift.ks(
      target.columns("l_extendedprice").distribution.get,
      ref.columns("l_extendedprice").distribution.get)
    // KLL k=1024 normalized rank error ≈ 1.3%; two sketches + grid ⇒ 3x slack
    assert(math.abs(exact - sketch) < 0.04, s"exact=$exact sketch=$sketch")
  }

  test("jsdStats: zero on identical split, ln2 on disjoint, symmetric, bounded") {
    import spark.implicits._
    // identical distributions on both sides of the split -> JSD = 0
    val same = (1 to 200).flatMap(i => Seq((i % 10).toDouble, (i % 10).toDouble))
      .zipWithIndex.map { case (v, i) => (v, i % 2 == 0) }.toDF("x", "t")
    val j0 = graft.analysis.DriftExact.jsdStats(same, Seq("x"), F.col("t"))("x")._1
    assert(math.abs(j0) < 1e-9, s"identical slices must give ~0, got $j0")
    // disjoint supports -> every bin one-sided -> JSD = ln 2 (up to the 1e-9 ln floor)
    val disj = ((1 to 100).map(i => (i.toDouble, true)) ++
      (1 to 100).map(i => (1000.0 + i, false))).toDF("x", "t")
    val jd = graft.analysis.DriftExact.jsdStats(disj, Seq("x"), F.col("t"))("x")._1
    assert(math.abs(jd - math.log(2.0)) < 1e-6, s"disjoint must give ln2, got $jd")
    // symmetry: swapping target and reference leaves the score unchanged
    val mixed = ((1 to 150).map(i => ((i % 13).toDouble, true)) ++
      (1 to 120).map(i => ((i % 7).toDouble, false))).toDF("x", "t")
    val a = graft.analysis.DriftExact.jsdStats(mixed, Seq("x"), F.col("t"))("x")._1
    val b = graft.analysis.DriftExact.jsdStats(mixed, Seq("x"), !F.col("t"))("x")._1
    assert(math.abs(a - b) < 1e-12, s"JSD must be symmetric: $a vs $b")
    assert(a >= 0.0 && a <= math.log(2.0) + 1e-12, s"out of [0, ln2]: $a")
  }

  test("emdStats: zero on identical, max on opposite ends, mass-weighted, hand case") {
    import spark.implicits._
    val same = (1 to 200).flatMap(i => Seq(((i % 10).toDouble, true), ((i % 10).toDouble, false)))
      .toDF("x", "t")
    assert(graft.analysis.DriftExact.emdStats(same, Seq("x"), F.col("t"))("x")._1 === 0.0)
    // all target mass in bin 0, all ref mass in bin 29 -> |cdf gap| = 1 for
    // bins 0..28, 0 at 29 -> 29/30
    val ends = ((1 to 50).map(_ => (0.0, true)) ++ (1 to 50).map(_ => (30.0, false)))
      .toDF("x", "t")
    val e = graft.analysis.DriftExact.emdStats(ends, Seq("x"), F.col("t"))("x")._1
    assert(e === 29.0 / 30.0, s"opposite-end mass must give 29/30, got $e")
    // hand case: target uniform on {lo, hi}, ref all at lo
    // target: 10 at 0.0, 10 at 30.0; ref: 20 at 0.0... hi==lo on ref alone is
    // fine (envelope spans both slices). cdf gap = 1/2 for bins 0..28.
    val half = ((1 to 10).map(_ => (0.0, true)) ++ (1 to 10).map(_ => (30.0, true)) ++
      (1 to 20).map(_ => (0.0, false))).toDF("x", "t")
    val h = graft.analysis.DriftExact.emdStats(half, Seq("x"), F.col("t"))("x")._1
    assert(h === 29.0 / 60.0, s"half mass at the far end must give 29/60, got $h")
    // a small shift of much mass vs a large shift of little mass differ
    // (KS would see only the max gap; EMD weights by distance)
    assert(h < e)
  }

  test("jsdStatsByKey: per-segment scores equal independent per-segment runs") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      val seg = if (i % 2 == 0) "a" else "b"
      // segment b drifts: target values shifted
      val t = i % 3 == 0
      val v = if (seg == "b" && t) (i % 11) + 5.0 else (i % 11).toDouble
      (seg, v, t)
    }.toDF("seg", "x", "t")
    val byKey = graft.analysis.DriftExact.jsdStatsByKey(
      rows, F.col("seg"), "x", F.col("t"))
    Seq("a", "b").foreach { seg =>
      val solo = graft.analysis.DriftExact.jsdStats(
        rows.filter(F.col("seg") === seg), Seq("x"), F.col("t"))("x")
      assert(byKey(seg) === solo, seg)
    }
    assert(byKey("b")._1 > byKey("a")._1, "the drifted segment must score higher")
  }

  test("sketch-path Drift.jsd agrees with exact jsdStats within rank error") {
    val li = table("lineitem")
    val isT = F.col("l_orderkey") % 3 === 0
    val exact = graft.analysis.DriftExact.jsdStats(
      li, Seq("l_extendedprice"), isT)("l_extendedprice")._1
    val p = new graft.api.Profiler()
    val target = p.profile(li.filter(isT), Some(Seq("l_extendedprice")))
    val ref = p.profile(li.filter(!isT), Some(Seq("l_extendedprice")))
    val td = target.columns("l_extendedprice").distribution.get
    val rd = ref.columns("l_extendedprice").distribution.get
    val sketch = graft.analysis.Drift.jsd(td, rd)
    // KLL PMFs carry ~1.3% rank error per sketch; JSD amplifies small-p
    // wobble, so allow a loose absolute band — the pin is agreement in
    // magnitude, not bit equality (that is the exact path's job)
    assert(math.abs(exact - sketch) < 0.05, s"exact=$exact sketch=$sketch")
    // and the scores() override path routes to it
    val sc = graft.analysis.Drift.scores(target, ref,
      overrides = Map("l_extendedprice" -> "jsd"))
    assert(sc.map(_.algorithm) === Seq("jsd"))
    assert(sc.head.statistic === sketch)
  }

  test("emdStatsByKey: per-segment scores equal independent per-segment runs") {
    import spark.implicits._
    val rows = (1 to 400).map { i =>
      val seg = if (i % 2 == 0) "a" else "b"
      val t = i % 3 == 0
      val v = if (seg == "b" && t) (i % 11) + 5.0 else (i % 11).toDouble
      (seg, v, t)
    }.toDF("seg", "x", "t")
    val byKey = graft.analysis.DriftExact.emdStatsByKey(
      rows, F.col("seg"), "x", F.col("t"))
    Seq("a", "b").foreach { seg =>
      val solo = graft.analysis.DriftExact.emdStats(
        rows.filter(F.col("seg") === seg), Seq("x"), F.col("t"))("x")
      assert(byKey(seg) === solo, seg)
    }
    assert(byKey("b")._1 > byKey("a")._1, "the drifted segment must score higher")
  }

  test("rankSumStats: hand case — exact 2U, no ties, textbook z") {
    import spark.implicits._
    // ref {1,2}, cur {3,4}: U = 4 (complete separation), mean 2,
    // var = PN(n+1)/12 = 5/3, z = 2/sqrt(5/3)
    val d = Seq((1.0, false), (2.0, false), (3.0, true), (4.0, true))
      .toDF("x", "t")
    val r = graft.analysis.DriftExact.rankSumStats(d, Seq("x"), F.col("t"))
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 2L, 8L, 0L)))
    assert(r.getDouble(5) == 1.0) // auc: complete separation
    val varU = 4.0 / 12.0 * (5.0 - 0.0 / 12.0)
    assert(r.getDouble(6) == (8.0 - 4.0) / (2.0 * math.sqrt(varU)))
  }

  test("rankSumStats: full ties give auc 1/2 and NULL z; flag swap negates z exactly") {
    import spark.implicits._
    val tied = Seq((5.0, false), (5.0, false), (5.0, true), (5.0, true))
      .toDF("x", "t")
    val tr = graft.analysis.DriftExact.rankSumStats(tied, Seq("x"), F.col("t"))
      .collect().head
    assert(tr.getDouble(5) == 0.5 && tr.isNullAt(6))
    // antisymmetry on real data: exact integers make z' = -z bit-for-bit
    val li = table("lineitem")
    val a = graft.analysis.DriftExact.rankSumStats(li,
      Seq("l_quantity", "l_discount"), F.col("l_linestatus") === "O").collect()
    val b = graft.analysis.DriftExact.rankSumStats(li,
      Seq("l_quantity", "l_discount"), F.col("l_linestatus") =!= "O").collect()
    a.zip(b).foreach { case (x, y) =>
      assert(x.getDouble(6) == -y.getDouble(6))
      assert(x.getDouble(5) == 1.0 - y.getDouble(5) ||
        math.abs(x.getDouble(5) + y.getDouble(5) - 1.0) < 1e-15)
    }
    // batched multi-column equals the single-column run
    val solo = graft.analysis.DriftExact.rankSumStats(li,
      Seq("l_quantity"), F.col("l_linestatus") === "O").collect().head
    assert(a.find(_.getString(0) == "l_quantity").get.toSeq == solo.toSeq)
  }

  test("cliffsDelta: full separation gives |delta| = 1; identical gives 0; labels") {
    import spark.implicits._
    // cur = {10, 11}, ref = {1, 2}: every cur beats every ref -> delta = 1
    val sep = Seq((10.0, true), (11.0, true), (1.0, false), (2.0, false))
      .toDF("v", "t")
    val r = DriftExact.cliffsDelta(sep, Seq("v"), F.col("t")).collect().head
    assert(r.getDouble(3) == 1.0 && r.getString(4) == "large")
    // identical multisets -> delta exactly 0
    val same = Seq((1.0, true), (2.0, true), (1.0, false), (2.0, false))
      .toDF("v", "t")
    val z = DriftExact.cliffsDelta(same, Seq("v"), F.col("t")).collect().head
    assert(z.getDouble(3) == 0.0 && z.getString(4) == "negligible")
    // inverted separation -> -1, still large by |delta|
    val inv = DriftExact.cliffsDelta(sep, Seq("v"), !F.col("t")).collect().head
    assert(inv.getDouble(3) == -1.0 && inv.getString(4) == "large")
  }
}
