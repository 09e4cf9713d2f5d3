package graft

import org.apache.spark.sql.{functions => F}

import graft.api.Graft

/** The why.*-style facade + drift overrides. */
class GraftApiSpec extends SparkSpec {

  test("log / logMultiple / logSegmented / write+read") {
    val li = table("lineitem")
    val r = Graft.log(li)
    assert(r.view.columns("l_quantity").counts.get.n == li.count())

    val multi = Graft.logMultiple(Map("nation" -> table("nation"), "region" -> table("region")))
    assert(multi("nation").view.columns.contains("n_name"))
    assert(multi("region").view.columns.contains("r_name"))

    val seg = Graft.logSegmented(li, Seq("l_returnflag"))
    assert(seg.merged.columns("l_quantity").counts.get.n == li.count())

    val path = targetTempDir("graft-api-") + "/p.bin"
    Graft.write(r, path)
    assert(Graft.read(path).view.summaryRows == r.view.summaryRows)
  }

  test("logClassificationMetrics / logRegressionMetrics attach model perf") {
    import spark.implicits._
    val preds = Seq(("cat", "cat", 0.9, 1.0, 1.2), ("cat", "dog", 0.4, 2.0, 1.5),
      ("dog", "dog", 0.8, 3.0, 3.25)).toDF("t", "p", "s", "y", "yhat")
    val cls = Graft.logClassificationMetrics(preds,
      org.apache.spark.sql.functions.col("t"), org.apache.spark.sql.functions.col("p"),
      logFullData = true)
    val cm = cls.view.modelPerformance.get.confusion.get
    assert(cm.count("cat", "cat") == 1 && cm.count("cat", "dog") == 1 && cm.count("dog", "dog") == 1)
    assert(cls.view.columns("s").counts.get.n == 3) // logFullData profiles columns too
    val reg = Graft.logRegressionMetrics(preds,
      org.apache.spark.sql.functions.col("y"), org.apache.spark.sql.functions.col("yhat"))
    val r = reg.view.modelPerformance.get.regression.get
    assert(r.n == 3 && math.abs(r.absErrorSum - (0.2 + 0.5 + 0.25)) < 1e-9)
    assert(reg.view.columns.isEmpty) // metrics-only log
  }

  test("segmented model metrics: per-segment matrices merge to the whole") {
    import spark.implicits._
    val preds = Seq(
      ("a", "cat", "cat", 1.0, 1.2), ("a", "cat", "dog", 2.0, 1.5),
      ("b", "dog", "dog", 3.0, 3.25), ("b", "cat", "cat", 4.0, 4.5))
      .toDF("seg", "t", "p", "y", "yhat")
    val cls = Graft.logSegmentedClassificationMetrics(
      preds, Seq("seg"), F.col("t"), F.col("p"), logFullData = true)
    assert(cls.segments.keySet == Set(Seq("a"), Seq("b")))
    val a = cls.segments(Seq("a")).modelPerformance.get.confusion.get
    assert(a.count("cat", "cat") == 1 && a.count("cat", "dog") == 1)
    // logFullData: each segment also profiles its columns
    assert(cls.segments(Seq("a")).columns("y").counts.get.n == 2)
    // merging segments reproduces the dataset-level matrix
    val whole = Graft.logClassificationMetrics(preds, F.col("t"), F.col("p"))
      .view.modelPerformance.get.confusion.get
    assert(cls.merged.modelPerformance.get.confusion.get.cells == whole.cells)

    val reg = Graft.logSegmentedRegressionMetrics(
      preds, Seq("seg"), F.col("y"), F.col("yhat"))
    val rb = reg.segments(Seq("b")).modelPerformance.get.regression.get
    assert(rb.n == 2 && math.abs(rb.absErrorSum - (0.25 + 0.5)) < 1e-9)
    val wholeReg = Graft.logRegressionMetrics(preds, F.col("y"), F.col("yhat"))
      .view.modelPerformance.get.regression.get
    val mergedReg = reg.merged.modelPerformance.get.regression.get
    assert(mergedReg.n == wholeReg.n &&
      math.abs(mergedReg.absErrorSum - wholeReg.absErrorSum) < 1e-9)
  }

  test("logBatchRankingMetrics profiles the metric columns, segmented variant segments them") {
    import spark.implicits._
    val df = Seq(
      ("us", Seq(1.0, 0.0, 1.0), Seq(2L, 3L, 1L)),
      ("us", Seq(0.0, 0.0, 0.0), Seq(1L, 2L, 3L)),
      ("eu", Seq(1.0, 1.0, 0.0), Seq(3L, 1L, 2L)))
      .toDF("region", "targets", "predictions")
    val r = Graft.logBatchRankingMetrics(df,
      predictionCol = Some("predictions"), targetCol = Some("targets"),
      k = Some(3))
    // only the 7 metric columns are profiled, not the inputs
    assert(r.view.columns.keySet == Set("recall_k_3", "precision_k_3",
      "top_rank", "average_precision_k_3", "norm_dis_cumul_gain_k_3",
      "sum_gain_k_3", "reciprocal_rank"))
    assert(r.view.columns("reciprocal_rank").counts.get.n == 3)
    // all-irrelevant row: top_rank null -> 2 non-null entries
    assert(r.view.columns("top_rank").counts.get.nulls == 1)
    val seg = Graft.logSegmentedBatchRankingMetrics(df, Seq("region"),
      predictionCol = Some("predictions"), targetCol = Some("targets"),
      k = Some(3))
    assert(seg.segments.keySet == Set(Seq("us"), Seq("eu")))
    assert(seg.segments(Seq("us")).columns("reciprocal_rank").counts.get.n == 2)
    assert(!seg.segments(Seq("eu")).columns.keySet.contains("predictions"))
    // merged segments equal the unsegmented profile on exact counters
    assert(seg.merged.columns("top_rank").counts.get.nulls == 1)
  }

  test("drift overrides force the chosen algorithm per column") {
    import graft.analysis.Drift
    val li = table("lineitem")
    val p = new graft.api.Profiler()
    val a = p.profile(li.filter(F.col("l_orderkey") % 2 === 0))
    val b = p.profile(li.filter(F.col("l_orderkey") % 2 =!= 0))
    val defaults = Drift.scores(a, b)
    assert(defaults.filter(_.column == "l_quantity").map(_.algorithm).toSet ==
      Set("ks", "hellinger"))
    val forced = Drift.scores(a, b, overrides = Map("l_quantity" -> "hellinger"))
    assert(forced.filter(_.column == "l_quantity").map(_.algorithm) == Seq("hellinger"))
  }
}
