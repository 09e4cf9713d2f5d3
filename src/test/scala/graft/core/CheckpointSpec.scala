package graft.core

import java.io.File

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.{functions => F}

import graft.{SparkEntry, SparkSpec}
import graft.analysis.{Boost, Conformal, DataAudit, ExactQuantiles, Monitor, Outliers, Roc,
  TreeSplit}
import graft.pipeline.{Dedup, Dsir, Graph, Markov, NaiveBayes, NlpSvd, Packing,
  QualityClassifier, Similarity, TextAnalysis, Urls}

/** [[Checkpoint.scoped]] frees what it pins, and the exact-statistics
  * and pipeline calls and the registry queries built on [[Checkpoint]]
  * leave no local checkpoint registered once the [[Owner.scope]] that
  * consumed their result has closed, at either side of every [[Gate]].
  * A lazy result that reads its own checkpoint must keep working after
  * the call returns. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  /** RDDs registered since `before`. The registry holds its RDDs weakly,
    * so an older entry can vanish under GC; only new keys are a leak. */
  private def newlyPinned(before: Set[Int]): Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet -- before

  private def pinned(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Name → RDDs newly pinned once the call's [[Owner.scope]] has closed,
    * for each call that left any, with every gate at 0 and at
    * `Long.MaxValue`. */
  private def leaks(calls: Seq[(String, () => Any)]): Map[String, Int] =
    (for {
      bound <- Seq(0L, Long.MaxValue)
      (name, call) <- calls
      before = pinned()
      _ = Gate.withBound(bound)(Owner.scope(call()))
      left = newlyPinned(before).size
      if left > 0
    } yield s"$name at $bound" -> left).toMap

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
    val labeled = data.select(F.col("id"), F.col("text"), F.col("seg"),
      (F.col("y") % 2).as("label"))
    val index = Dedup.minHashIndex(data.filter(F.col("id") % 2 === 0), "text", "id")
    val newDocs = data.filter(F.col("id") % 2 === 1)
    val vectors = data.select(F.col("id"), F.array(F.col("a"), F.col("b"), F.col("c")).as("v"))
    val urls = data.select(F.col("id"),
      F.concat(F.lit("https://"), F.col("seg"), F.lit(".example/"), F.col("id")).as("url"))
    val blocklist = Seq(Tuple1("S1.example")).toDF("domain")
    val robots = Seq(("s2.example", "User-agent: *\nDisallow: /1\n")).toDF("host", "txt")
    val embeddings = table("embeddings")
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
      // function-local materializations
      "trainModel" -> (() => NaiveBayes.trainModel(labeled, "text", "seg")),
      "QualityClassifier.train" ->
        (() => QualityClassifier.train(labeled, "text", "label", dim = 64, iters = 2)),
      "filterBlockedDomains" ->
        (() => Urls.filterBlockedDomains(urls, "url", blocklist, "domain").collect()),
      "filterRobotsDisallowed" ->
        (() => Urls.filterRobotsDisallowed(urls, "url", robots, "host", "txt").collect()),
      // results that read a pin: freed when the consuming scope closes
      "trainScore" -> (() => NaiveBayes.trainScore(labeled, labeled, "text", "seg", "id").collect()),
      "residualsFromVectors" ->
        (() => NlpSvd.residualsFromVectors(vectors, "id", "v", dim = 3, k = 2).collect()),
      "minHashNearDups" -> (() => Dedup.minHashNearDups(data, "text", "id").collect()),
      "nearDupsAgainstIndex" ->
        (() => Dedup.nearDupsAgainstIndex(newDocs, index, "text", "id").collect()),
      "cosineNearDupLsh" -> (() => Similarity.cosineNearDupLsh(vectors, "id", "v", tau = 0.99).collect()),
      "pageRank" ->
        (() => Graph.pageRank(data.select(F.col("id"), F.col("y")), "id", "y", iters = 3).collect()),
      "nearDupClusters" -> (() => Dedup.nearDupClusters(data, "text", "id").collect()),
      "percentRanksMulti" -> (() => ExactQuantiles.percentRanksMulti(data, Seq("a", "c")).collect()),
      "spearmanCorr" -> (() => DataAudit.spearmanCorr(data, "a", "b").collect()),
      "tCloseness" -> (() => DataAudit.tCloseness(data, Seq("seg"), "y").collect()),
      "keyConcentration" -> (() => DataAudit.keyConcentration(data, "y").collect()),
      "mutualInformation" ->
        (() => DataAudit.mutualInformation(data, F.col("seg"), F.col("y") % 3).collect()),
      "cramersV" -> (() => DataAudit.cramersV(data, F.col("seg"), F.col("y") % 3).collect()),
      "theilsU" -> (() => DataAudit.theilsU(data, F.col("seg"), F.col("y") % 3).collect()),
      "trendTest" -> (() => Monitor.trendTest(
        data.withColumn("ts", F.timestamp_seconds(F.col("id") * 3600L)), "seg", "ts").collect()),
      "rocCurve" -> (() => Roc.rocCurve(data, F.col("a"), F.col("y") % 2 === 0).collect()),
      "ivfPqBuild" -> (() => Similarity.ivfPqSearch(
        Similarity.ivfPqBuild(embeddings, numCentroids = 4, m = 16, ksub = 8),
        embeddings.filter(F.col("vec_id") < 5), nprobe = 2, k = 3).collect()),
      "winnowMatches" -> (() => Dedup.winnowMatches(data, "text", "id").collect()),
      "hashNearDups" -> (() => Dedup.hashNearDups(data, "id", "y", maxHamming = 2).collect()),
      "importanceWeights" ->
        (() => Dsir.importanceWeights(data, newDocs, "text", "id").collect()),
      "transitions" -> (() => Markov.transitions(data, "seg", "id", "text", "id").collect()),
      "withOffsets" ->
        (() => Packing.withOffsets(data, "id", F.col("y"), capacity = 100L).collect()),
      "classTfidf" -> (() => TextAnalysis.classTfidf(data, "seg", "text").collect()),
      "termCooccurrence" -> (() => TextAnalysis.termCooccurrence(data, "text").collect()),
      "classChi2Keywords" -> (() => TextAnalysis.classChi2Keywords(data, "seg", "text").collect()))
    data.count()
    assert(leaks(calls) === Map.empty[String, Int])
  }

  test("registry queries at sf0.01 return the pinned-RDD set to its baseline") {
    val dir = new File(new File(sfDir).getParentFile, "sf0.01").getPath
    val names = Seq("iqr_outliers", "mad_outliers", "winsorize_summary",
      "spearman_matrix", "conformal_coverage", "ls_boost", "bpe_train_merges",
      "streaming_dedup_images",
      // queries whose result reads a pin
      "dedup_embedding_lsh_recall", "corpus_pipeline", "dedup_clusters", "pagerank_neardups",
      "trend_test", "roc_curve", "percent_ranks", "nlp_svd_residual", "embedding_ivfpq",
      "ivfpq_persisted_search")
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
