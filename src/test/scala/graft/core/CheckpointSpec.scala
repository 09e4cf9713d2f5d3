package graft.core

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}

import graft.{SparkEntry, SparkSpec}
import graft.analysis.{Boost, Conformal, DataAudit, ExactQuantiles, Outliers, TreeSplit}
import graft.pipeline.{Dedup, TextAnalysis}

/** [[Checkpoint.scoped]] frees what it pins, and the exact-statistics
  * calls built on it leave no local checkpoint registered once their
  * result is on the driver. A lazy result that reads its own checkpoint
  * must keep working after the call returns. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  /** RDDs registered since `before`. The registry holds its RDDs weakly,
    * so an older entry can vanish under GC; only new keys are a leak. */
  private def newlyPinned(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Name → RDDs newly pinned after the call, for each call that left any. */
  private def leaks(calls: Seq[(String, () => Any)]): Map[String, Int] =
    calls.flatMap { case (name, call) =>
      val before = pinned()
      call()
      val left = newlyPinned(before).size
      if (left == 0) None else Some(name -> left)
    }.toMap

  private lazy val data: DataFrame = {
    val rng = new scala.util.Random(11)
    val words = Seq("low", "lower", "newest", "widest", "new", "wide")
    Seq.tabulate(2000) { i =>
      val a = rng.nextInt(50).toDouble
      val b = a * 2 + rng.nextInt(7)
      val c = rng.nextGaussian() * 3
      (i.toLong, Seq("s1", "s2", "s3")(i % 3), a, b, c, (a + b).toLong + rng.nextInt(5),
        Seq.fill(3)(words(rng.nextInt(words.size))).mkString(" "))
    }.toDF("id", "seg", "a", "b", "c", "y", "text").repartition(4)
  }

  test("scoped returns use's value and frees its blocks on return and on failure") {
    val df = spark.range(100).toDF("x")
    val before = pinned()
    var pinnedInside = Set.empty[Int]
    val got = Checkpoint.scoped(df) { p =>
      val n = p.count()
      pinnedInside = newlyPinned(before)
      (n, p.agg(F.sum("x")).head.getLong(0))
    }
    assert(got === ((100L, 4950L)))
    assert(pinnedInside.size === 1)
    assert(newlyPinned(before).isEmpty)

    val e = intercept[IllegalStateException] {
      Checkpoint.scoped(df) { p =>
        p.count()
        throw new IllegalStateException("use failed")
      }
    }
    assert(e.getMessage === "use failed")
    assert(newlyPinned(before).isEmpty)
  }

  test("exact-statistics calls leave no checkpoint pinned once their result is on the driver") {
    val features = Seq(TreeSplit.FeatureSpec("a", F.col("a")),
      TreeSplit.FeatureSpec("c", F.floor(F.col("c"))))
    val calls: Seq[(String, () => Any)] = Seq(
      "quantiles" -> (() => ExactQuantiles.quantiles(data, Seq("a", "c"), Seq(0.25, 0.5))),
      "quantilesByKey" -> (() => ExactQuantiles.quantilesByKey(data, F.col("seg"), "c", Seq(0.5))),
      "iqrOutliers" -> (() => Outliers.iqrOutliers(data, Seq("a", "c")).collect()),
      "madOutliers" -> (() => Outliers.madOutliers(data, Seq("a", "c")).collect()),
      "winsorize" -> (() => Outliers.winsorize(data, "c").collect()),
      "Conformal.fit" -> (() => Conformal.fit(data, "id", "y", "a", "c")),
      "spearmanMatrix" -> (() => DataAudit.spearmanMatrix(data, Seq("a", "b", "c")).collect()),
      "lsBoostModel" -> (() => Boost.lsBoostModel(data, "y", features, rounds = 3)),
      "bpeTrainMerges" -> (() => TextAnalysis.bpeTrainMerges(data, "text", rounds = 3).collect()),
      "minHashNearDups" -> (() => Dedup.minHashNearDups(data, "text", "id").collect()),
      "nearDupClusters" -> (() => Dedup.nearDupClusters(data, "text", "id").collect()))
    data.count()
    assert(leaks(calls) === Map.empty[String, Int])
  }

  test("registry queries at sf0.01 return the pinned-RDD set to its baseline") {
    val dir = new File(new File(sfDir).getParentFile, "sf0.01").getPath
    val names = Seq("iqr_outliers", "mad_outliers", "winsorize_summary",
      "spearman_matrix", "conformal_coverage", "ls_boost", "bpe_train_merges")
    val runs = names.map(name =>
      name -> (() => assert(SparkEntry.queries(name)(spark, dir).collect().nonEmpty, name)))
    assert(leaks(runs) === Map.empty[String, Int])
  }

  test("lazy results that read their own checkpoints still run after the call returns") {
    def sorted(df: DataFrame): Seq[Row] =
      df.orderBy(df.columns.map(F.col).toSeq: _*).collect().toSeq

    val ranks = ExactQuantiles.percentRanks(data, "a")
    val first = sorted(ranks)
    assert(sorted(ranks) === first)
    val as = data.select("a").as[Double].collect()
    val expected = as.distinct.sorted.map { v =>
      val below = as.count(_ < v).toLong
      Row(v, below, below.toDouble / (as.length - 1))
    }.toSeq
    assert(first === expected)

    val corr = DataAudit.spearmanCorr(data, "a", "b")
    val once = corr.collect().toSeq
    assert(corr.collect().toSeq === once)
    val rho = DataAudit.spearmanMatrix(data, Seq("a", "b")).head().getAs[Double]("rho")
    assert(once.map(_.getAs[Double]("rho")) === Seq(rho))
  }
}
