package graft

import org.apache.spark.sql.{functions => F}
import graft.api.Profiler
import graft.core.{MetricConfig, ResolverSpec}

class ProfilerSpec extends SparkSpec {

  lazy val li = table("lineitem")
  lazy val profiler = new Profiler()

  test("profile lineitem: counts/min/max/cardinality agree with exact queries") {
    val view = profiler.profile(li)
    val n = li.count()
    assert(view.columns.keySet == li.schema.fieldNames.toSet)

    val qty = view.columns("l_quantity")
    assert(qty.counts.get.n == n)
    assert(qty.counts.get.nulls == li.filter(F.col("l_quantity").isNull).count())
    val exactMin = li.agg(F.min("l_quantity")).collect()(0).getDouble(0)
    val exactMax = li.agg(F.max("l_quantity")).collect()(0).getDouble(0)
    assert(qty.distribution.get.min.get == exactMin)
    assert(qty.distribution.get.max.get == exactMax)

    val rf = view.columns("l_returnflag")
    val exactDistinct = li.select(F.countDistinct("l_returnflag")).collect()(0).getLong(0)
    assert(math.round(rf.cardinality.get.estimate) == exactDistinct)
    val fi = rf.frequentItems.get.items
    val exactCounts = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    fi.foreach(it => assert(it.estimate == exactCounts(it.value)))
  }

  test("merge law: profile(halfA) ++ profile(halfB) == profile(whole)") {
    val a = li.filter(F.col("l_orderkey") % 2 === 0)
    val b = li.filter(F.col("l_orderkey") % 2 =!= 0)
    val merged = profiler.profile(a).merge(profiler.profile(b))
    val whole = profiler.profile(li)

    for (c <- whole.columns.keys) {
      val m = merged.columns(c); val w = whole.columns(c)
      assert(m.counts.get == w.counts.get, s"counts $c")
      assert(m.types.get == w.types.get, s"types $c")
      (m.distribution, w.distribution) match {
        case (Some(md), Some(wd)) =>
          assert(md.n == wd.n, s"dist n $c")
          assert(math.abs(md.mean - wd.mean) < 1e-9 * math.max(1.0, math.abs(wd.mean)), s"mean $c")
          assert(md.min == wd.min && md.max == wd.max, s"minmax $c")
          assert(math.abs(md.stddev - wd.stddev) < 1e-6 * math.max(1.0, wd.stddev), s"stddev $c")
        case _ =>
      }
      (m.cardinality, w.cardinality) match {
        case (Some(mc), Some(wc)) =>
          // HLL slot state is order-independent, but the HIP estimator is
          // path-dependent above coupon mode: merged-vs-whole may differ
          // within the sketch's error bound (lgK=12 ⇒ ~1.6% stderr).
          assert(math.abs(mc.estimate - wc.estimate) <= 0.05 * math.max(1.0, wc.estimate),
            s"card $c: ${mc.estimate} vs ${wc.estimate}")
        case _ =>
      }
      (m.frequentItems, w.frequentItems) match {
        case (Some(mf), Some(wf)) =>
          val exactDistinct = li.select(F.countDistinct(c)).collect()(0).getLong(0)
          if (exactDistinct <= 96) // sketch map never purged ⇒ exact counts
            assert(mf.items == wf.items, s"fi $c")
          else // overflowed sketch: error depends on merge structure; check bound overlap
            mf.items.take(3).foreach { it =>
              assert(it.lower <= it.upper && it.estimate >= it.lower, s"fi bounds $c")
            }
        case _ =>
      }
    }
  }

  test("segmented profiling matches per-segment filters") {
    val seg = profiler.profileSegmented(li, Seq("l_returnflag"))
    val flags = li.select("l_returnflag").distinct().collect().map(_.getString(0))
    assert(seg.keySet == flags.map(Seq(_)).toSet)
    for (f <- flags) {
      val expect = li.filter(F.col("l_returnflag") === f).count()
      assert(seg(Seq(f)).columns("l_quantity").counts.get.n == expect)
    }
  }

  test("segmented collect path widened above the size gate stays exact") {
    // Force the widened collect branch: single-partition input whose
    // optimizer size estimate clears Par.widenIfAtLeast's 4 MB floor and
    // whose resolver plans heavy per-row metrics (HLL/FI on the string
    // column). Every exact field must match per-segment SQL regardless
    // of the round-robin repartition the collect path inserts.
    val big = spark.range(300000).select(
      (F.col("id") % 4).cast("string").as("seg"),
      F.col("id").as("v"),
      F.concat(F.lit("val_"), (F.col("id") % 7).cast("string"),
        F.lit("_padding_padding_padding")).as("s"))
      .repartition(1)
    val seg = profiler.profileSegmented(big, Seq("seg"))
    assert(seg.keySet == (0 until 4).map(i => Seq(i.toString)).toSet)
    for (k <- 0 until 4) {
      val part = big.filter(F.col("seg") === k.toString)
      val v = seg(Seq(k.toString)).columns("v")
      assert(v.counts.get.n == part.count())
      assert(v.ints.get.min.get == part.agg(F.min("v")).head.getLong(0))
      assert(v.ints.get.max.get == part.agg(F.max("v")).head.getLong(0))
      val s = seg(Seq(k.toString)).columns("s")
      // 7 distinct strings — FI sketch never purges, counts are exact
      val exact = part.groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      s.frequentItems.get.items.foreach(it => assert(it.estimate == exact(it.value)))
    }
  }

  /** The most tasks one stage ran while `body` ran. A one-partition input
    * that is not widened runs each stage of its aggregate as one task (a
    * one-partition child needs no exchange); a widened one runs the
    * partial aggregation on `defaultParallelism` tasks. */
  private def maxStageTasks(body: => Any): Int = {
    val tasks = scala.collection.concurrent.TrieMap.empty[Int, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        tasks(e.stageId) = tasks.getOrElse(e.stageId, 0) + 1
    }
    spark.sparkContext.addSparkListener(listener)
    try withJobCount(body) finally spark.sparkContext.removeSparkListener(listener)
    tasks.values.max
  }

  test("heavy-widen gate: a collected one-partition input widens from 4 MB, " +
      "the lazy segmented frame never") {
    val cores = spark.sparkContext.defaultParallelism
    // one partition; HLL and frequent items on the strings are heavy per row
    def heavy(rows: Long) = spark.range(0, rows, 1, 1).select(
      (F.col("id") % 4).cast("string").as("seg"), F.col("id").as("v"),
      F.concat(F.lit("val_"), (F.col("id") % 7).cast("string"),
        F.lit("_padding_padding_padding")).as("s"))
    val (big, small) = (heavy(300000), heavy(30000))
    def estimate(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(cores > 1)
    assert(estimate(big) >= (4L << 20) && estimate(small) < (4L << 20))
    Profiler.LocalCellBound.withBound(0L) {
      assert(maxStageTasks(profiler.profileSegmented(big, Seq("seg"))) === cores)
      assert(maxStageTasks(profiler.profileSegmented(small, Seq("seg"))) === 1)
    }
    assert(maxStageTasks(profiler.profileDF(big).collect()) === cores)
    assert(maxStageTasks(profiler.profileDF(small).collect()) === 1)
    assert(maxStageTasks(profiler.profileSegmentedDF(big, Seq("seg")).collect()) === 1)
  }

  test("limited resolver only attaches counts/types/distribution") {
    val p = new Profiler(MetricConfig(), ResolverSpec.limitedTracking)
    val view = p.profile(li, Some(Seq("l_quantity")))
    val v = view.columns("l_quantity")
    assert(v.counts.nonEmpty && v.types.nonEmpty && v.distribution.nonEmpty)
    assert(v.cardinality.isEmpty && v.frequentItems.isEmpty && v.ints.isEmpty)
  }

  test("wide-table column batching produces the same view") {
    val p = new Profiler(MetricConfig(columnBatchSize = 2))
    val v1 = p.profile(li)
    val v2 = profiler.profile(li)
    assert(v1.columns.keySet == v2.columns.keySet)
    assert(v1.columns("l_quantity").counts == v2.columns("l_quantity").counts)
  }

  test("1000-column frame batched at 64 equals the whole-profile view") {
    import org.apache.spark.sql.{functions => F}
    val n = 1000
    val wide = spark.range(500).select(
      F.col("id") +: (0 until n).map(i => (F.col("id") * i % 101).as(s"c$i")): _*)
    val batched = new Profiler(MetricConfig(columnBatchSize = 64)).profile(wide)
    val whole = new Profiler().profile(wide)
    assert(batched.columns.keySet == whole.columns.keySet)
    assert(batched.columns.size == n + 1)
    // batching must be invisible: every column's exact metrics agree
    batched.columns.keySet.foreach { c =>
      assert(batched.columns(c).counts == whole.columns(c).counts, c)
      assert(batched.columns(c).ints == whole.columns(c).ints, c)
      assert(batched.columns(c).types == whole.columns(c).types, c)
    }
    assert(batched.columns("c999").ints.get.max.contains(100L))
  }

  test("single-pass profile survives a 300-column schema") {
    import org.apache.spark.sql.{functions => F}
    val n = 300
    val wide = spark.range(2000).select(
      F.col("id") +: (0 until n).map(i => (F.col("id") * i % 97).as(s"c$i")): _*)
    val view = new Profiler().profile(wide)
    assert(view.columns.size == n + 1)
    assert(view.columns("c7").counts.get.n == 2000)
    assert(view.columns("c7").ints.get.max.contains(96L))
    assert(view.columns("c0").distribution.get.n == 2000)
  }
}
