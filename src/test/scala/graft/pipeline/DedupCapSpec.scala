package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec

/** Adversarial bucket-cap coverage: every assertion here drives a bucket
  * OVER `maxBucketSize` (the sf fixtures never do naturally), pinning the
  * star-edge (`Dedup.lshPairs`) and hash-thinning (`Dedup.capBuckets`)
  * branches plus their recall claims end-to-end. Lives in graft.pipeline
  * to reach the private[pipeline] mechanisms directly. */
class DedupCapSpec extends SparkSpec {

  private def components(pairs: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    ConnectedComponents.components(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** `Dedup.minHashNearDups`' driver finish (default bound) and its
    * distributed plan (the gate's bound set to 0); every minHash case runs
    * on both. */
  private val bounds = Seq(Dedup.LocalShingleBound.default, 0L)

  /** `body` with the MinHash gate's bound set to `bound`. */
  private def at[T](bound: Long)(body: => T): T = Dedup.LocalShingleBound.withBound(bound)(body)

  /** Which finish built a `minHashNearDups` result: driver rows or the
    * distributed plan's checkpoint. */
  private def finish(pairs: DataFrame): String = {
    val plan = pairs.queryExecution.analyzed
    if (plan.collectFirst { case r: LogicalRDD => r }.nonEmpty) "distributed"
    else if (plan.collectFirst { case r: LocalRelation => r }.nonEmpty) "driver"
    else "unknown"
  }

  private def multiset(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** Runs `pairsAt` at both bounds, checks each took the intended finish
    * and that both give the same schema and the same multiset of rows;
    * returns the rows. */
  private def sameOnBothFinishes(pairsAt: => DataFrame): Seq[String] = {
    val Seq(local, dist) = bounds.map(bound => at(bound)(pairsAt))
    assert(finish(local) == "driver")
    assert(finish(dist) == "distributed")
    assert(local.schema == dist.schema)
    val rows = multiset(local)
    assert(rows == multiset(dist))
    rows
  }

  test("lshPairs: over-cap bucket emits star edges to the min-id rep; under-cap all pairs") {
    import spark.implicits._
    // bucket (0, 7): ids 1..50 (over cap 10); bucket (1, 9): ids 100, 101.
    val banded = ((1L to 50L).map(i => (0, 7L, i)) ++ Seq((1, 9L, 100L), (1, 9L, 101L)))
      .toDF("band", "bh", "doc_id").repartition(5)
    val got = Dedup.lshPairs(banded, Seq("band", "bh"), "doc_id", maxBucketSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val star = (2L to 50L).map(x => (1L, x)).toSet // rep = min(id) = 1, rep < member
    assert(got == star + ((100L, 101L)))
    // closure over star edges recovers the full mega-cluster as ONE component
    val uncapped = Dedup.lshPairs(banded, Seq("band", "bh"), "doc_id", maxBucketSize = 0)
    assert(uncapped.count() == 50L * 49 / 2 + 1)
    assert(components(Dedup.lshPairs(banded, Seq("band", "bh"), "doc_id", 10).toDF()) ==
      components(uncapped))
  }

  test("lshPairs: duplicate pairs across buckets are emitted once") {
    import spark.implicits._
    // same pair {1,2} in two buckets; one bucket over-cap with {1,2,3,4}
    val banded = (Seq((0, 1L, 1L), (0, 1L, 2L)) ++
      Seq(1L, 2L, 3L, 4L).map(i => (1, 2L, i))).toDF("band", "bh", "doc_id")
    val got = Dedup.lshPairs(banded, Seq("band", "bh"), "doc_id", maxBucketSize = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.size == got.toSet.size, "dropDuplicates must collapse cross-bucket repeats")
    assert(got.toSet == Set((1L, 2L), (1L, 3L), (1L, 4L))) // star edges from rep=1
  }

  test("capBuckets: under-cap untouched, over-cap thinned to ~cap, deterministic") {
    import spark.implicits._
    val banded = ((1L to 500L).map(i => (0, 7L, i)) ++ (1L to 20L).map(i => (1, 9L, i)))
      .toDF("band", "bh", "b").repartition(5)
    def run() = Dedup.capBuckets(banded, Seq("band", "bh"), "b", maxBucketSize = 50)
      .collect().map(r => (r.getInt(0), r.getLong(2))).toSet
    val got = run()
    val under = got.filter(_._1 == 1)
    assert(under.size == 20, "under-cap bucket must pass through unchanged")
    val over = got.filter(_._1 == 0)
    // hash threshold keeps Binomial(500, 0.1): mean 50, sd ~6.7 — 5 sd bounds
    assert(over.size > 15 && over.size < 85, s"thinned to ${over.size}, expected ~50")
    assert(run() == got, "hash-chosen representatives must be deterministic")
  }

  test("minHash mega-cluster over cap: one component, full membership, exact sims") {
    import spark.implicits._
    val boiler = "the quick brown fox jumps over the lazy dog while seventeen " +
      "astronauts deliberate about sandwich toppings in low earth orbit today"
    val docs = ((1L to 40L).map(i => (i, boiler)) ++ Seq(
      (900L, "completely unrelated text about compiler construction and parsing"),
      (901L, "another standalone document describing volcano geology fieldwork")))
      .toDF("doc_id", "text").repartition(7)
    val rows = sameOnBothFinishes(Dedup.minHashNearDups(docs, "text", "doc_id",
      numPerm = 16, bands = 8, threshold = 0.5, maxBucketSize = 8))
    // every bucket of the 40 copies over-caps in EVERY band -> star edges
    // only; identical copies have jaccard 1.0
    assert(rows == (2 to 40).map(x => s"[1,$x,1.0]").sorted)
    for (bound <- bounds) {
      val clusters = at(bound)(Dedup.nearDupClusters(docs, "text", "doc_id",
        numPerm = 16, bands = 8, threshold = 0.5, maxBucketSize = 8))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(clusters.length == 40, "all 40 copies clustered; singletons absent")
      assert(clusters.forall(c => c._2 == 1L && c._3 == 40L))
      assert(clusters.filter(_._4).map(_._1).toSeq == Seq(1L), "keep = min-id canonical only")
    }
  }

  test("lshPairs: the wide banded relation is exchanged on (band,bh) exactly once") {
    // The scale claim at Dedup.scala: the three references to the tagged
    // banded relation (self-join l/r + star branch) must share ONE shuffle
    // via ReuseExchange — re-shuffling the corpus-scale banding per branch
    // would triple the dominant exchange. Pin it under the sort-merge plan
    // (broadcast off = the 100 TB shape): the doc_id-carrying (band,bh)
    // exchange is computed once and appears as ReusedExchange at the other
    // two references. (The stats agg's 8-byte-key exchange is separate and
    // cheap; it is allowed to duplicate.)
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val banded = ((1L to 50L).map(i => (0, 7L, i)) ++ (1L to 5L).map(i => (1, 9L, i)))
        .toDF("band", "bh", "doc_id")
      val pairs = Dedup.lshPairs(banded, Seq("band", "bh"), "doc_id", 10)
      pairs.collect() // materialize so AQE settles on the final plan
      val finalPlan = pairs.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val wideReuses = finalPlan.linesIterator.count(l =>
        l.matches(""".*ReusedExchange \[[^\]]*doc_id[^\]]*\], Exchange hashpartitioning\(band.*"""))
      assert(wideReuses == 2,
        s"expected the banded (band,bh) exchange reused at both other references:\n$finalPlan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("under-cap corpus: capped pair set is identical to uncapped") {
    val docs = table("documents")
    def pairs(cap: Int) = sameOnBothFinishes(Dedup.minHashNearDups(docs, "text",
      "doc_id", numPerm = 64, bands = 32, threshold = 0.5, maxBucketSize = cap))
    assert(pairs(1000) == pairs(0), "no natural bucket over-caps at sf0.001")
  }

  test("minHashNearDups edge cases: both finishes give the same rows and schema") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val other = "completely different text about spark catalyst optimizers rules"
    val docs = Seq[(Option[Long], Option[String])](
      (Some(1L), Some(base)), (Some(2L), Some(base + " extended")),
      (None, Some(base)),                              // NULL id: bucketed, never paired
      (Some(3L), None), (Some(4L), Some("")), (Some(5L), Some("word")), // NULL bands
      (Some(6L), Some(other)), (Some(6L), Some(other + " y")),          // repeated id
      (Some(6L), None), (Some(7L), Some(other)),
      // 3-shingles {abc, bcd, cde} vs {abc, bcd, cdf}: Jaccard exactly 2/4
      (Some(8L), Some("a b c d e")), (Some(9L), Some("a b c d f")))
      .toDF("doc_id", "text").repartition(3)
    // outside ANSI, size(NULL) is -1 and jaccard() reads 1.0 for a NULL side
    for (ansi <- Seq(true, false); cap <- Seq(1000, 2, 0, -1)) {
      val prev = spark.conf.get("spark.sql.ansi.enabled")
      val rows = try {
        spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
        sameOnBothFinishes(Dedup.minHashNearDups(docs, "text", "doc_id",
          numPerm = 64, bands = 64, threshold = 0.5, maxBucketSize = cap))
      } finally spark.conf.set("spark.sql.ansi.enabled", prev)
      assert(!rows.exists(_.contains("null")), s"cap $cap: a NULL id or jaccard paired")
      if (cap != 2) {
        assert(rows.contains("[8,9,0.5]"), s"cap $cap: the pair at the threshold is kept")
        // doc 6's two non-NULL rows each pair with 7; its NULL-text row only
        // outside ANSI
        assert(rows.count(_.startsWith("[6,7,")) == (if (ansi) 2 else 3), s"cap $cap: $rows")
      }
    }
    val clusters = bounds.map(bound => multiset(at(bound)(Dedup.nearDupClusters(docs, "text",
      "doc_id", numPerm = 64, bands = 64, threshold = 0.5, maxBucketSize = 2))))
    assert(clusters(0) == clusters(1))
  }

  test("minHashNearDups: too many candidates for the driver falls back to the distributed plan") {
    import spark.implicits._
    // 180 copies, 64 single-row bands, no cap: 64 * C(180, 2) = 1,031,040 candidates
    val n = 180
    val docs = (1L to n.toLong).map(i => (i, "one shared boilerplate sentence for every copy"))
      .toDF("doc_id", "text").repartition(4)
    val pairs = Dedup.minHashNearDups(docs, "text", "doc_id",
      numPerm = 64, bands = 64, threshold = 0.5, maxBucketSize = 0)
    assert(64L * n * (n - 1) / 2 > Dedup.LocalCandidateBound.default)
    assert(finish(pairs) == "distributed")
    val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == n * (n - 1) / 2)
    assert(got.toSet == (for (a <- 1L to n; b <- a + 1 to n) yield (a, b, 1.0)).toSet)
  }

  test("minHashNearDups: the driver finish starts at most 2 Spark jobs") {
    val docs = table("documents")
    val (pairs, jobs) = withJobCount(Dedup.minHashNearDups(docs, "text", "doc_id"))
    assert(finish(pairs) == "driver")
    assert(jobs <= 2, s"$jobs jobs")
    assert(pairs.collect().nonEmpty)
  }

  test("nearDupsAgainstIndex: batch doc matching an over-cap index bucket is still flagged") {
    import spark.implicits._
    val boiler = "standard license header text granted free of charge to any " +
      "person obtaining a copy of this software and associated documentation files"
    val corpus = ((1L to 40L).map(i => (i, boiler)) :+
      (500L, "an ordinary corpus document about tidal patterns near estuaries"))
      .toDF("doc_id", "text")
    val index = Dedup.minHashIndex(corpus, "text", "doc_id", numPerm = 16, bands = 8)
    val batch = Seq((9001L, boiler),
      (9002L, "novel unseen report on alpine butterfly migration routes"))
      .toDF("doc_id", "text")
    val got = Dedup.nearDupsAgainstIndex(batch, index, "text", "doc_id",
      numPerm = 16, bands = 8, threshold = 0.5, maxBucketSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty && got.forall(_._1 == 9001L), "only the boilerplate doc is flagged")
    assert(got.forall(_._3 == 1.0))
    // thinning caps WHICH index docs it links to, not WHETHER it is flagged:
    // <= cap representatives per band survive, and all 8 bands share one bucket
    val links = got.map(_._2).toSet
    assert(links.nonEmpty && links.size <= 8 * 8, s"${links.size} links")
    assert(links.subsetOf((1L to 40L).toSet))
  }

  test("cosineNearDupLsh mega-cluster over cap: closure recovers all members") {
    import spark.implicits._
    val copies = (1L to 30L).map(i => (i, Array(0.6f, 0.8f, 0.0f)))
    val others = Seq((800L, Array(-1.0f, 0.05f, 0.0f)), (801L, Array(0.0f, 0.0f, 1.0f)))
    val df = (copies ++ others).toDF("vec_id", "embedding").repartition(6)
    val pairs = Similarity.cosineNearDupLsh(df, tau = 0.99, bitsPerBand = 4,
      bands = 8, maxBucketSize = 5)
    val rows = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.map(r => (r._1, r._2)).toSet == (2L to 30L).map(x => (1L, x)).toSet,
      "identical embeddings over-cap every band -> star edges from rep 1")
    assert(rows.forall(r => math.abs(r._3 - 1.0) < 1e-12))
    val comp = components(pairs.select("a", "b"))
    assert(comp.keySet == (1L to 30L).toSet && comp.values.toSet == Set(1L))
  }

  test("nearDupClustersKeepBest: quality argmax keeps, ties break to smallest id") {
    import spark.implicits._
    // two near-dup families; family 1 (ids 1-3) has one longer member
    // (id 2), family 2 (ids 10-11) ties on score -> keeper is id 10
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base, 10.0), (2L, base + " extended", 99.0), (3L, base + " x", 10.0),
      (10L, "completely different text about spark catalyst optimizers rules",
        7.0),
      (11L, "completely different text about spark catalyst optimizers rules y",
        7.0),
      (50L, "a singleton unrelated document mentioning nothing shared at all",
        1.0)).toDF("doc_id", "text", "quality").repartition(4)
    val got = Dedup.nearDupClustersKeepBest(df, "text", "doc_id", "quality",
      numPerm = 64, bands = 32, threshold = 0.4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L), "singleton must not appear")
    // family 1: keeper is the high-quality member, NOT the min id
    assert(got(2L)._4 && !got(1L)._4 && !got(3L)._4)
    // family 2: score tie -> smallest id
    assert(got(10L)._4 && !got(11L)._4)
    // clustering identical to nearDupClusters (components + sizes agree),
    // whichever finish pairs the documents
    for (bound <- bounds) {
      val plain = at(bound)(Dedup.nearDupClusters(df, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.4, maxBucketSize = 1000))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(plain.keySet == got.keySet)
      plain.foreach { case (id, (comp2, size)) =>
        assert(got(id)._1 == comp2 && got(id)._2 == size)
      }
    }
    // exactly one keeper per component
    got.values.groupBy(_._1).foreach { case (_, members) =>
      assert(members.count(_._4) == 1)
    }
  }

  test("dropNearDups applies the keep verdicts as a corpus anti-join") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base, 10.0), (2L, base + " extended", 99.0), (3L, base + " x", 10.0),
      (10L, "completely different text about spark catalyst optimizers rules", 7.0),
      (11L, "completely different text about spark catalyst optimizers rules y", 7.0),
      (50L, "a singleton unrelated document mentioning nothing shared at all", 1.0)
    ).toDF("doc_id", "text", "quality").repartition(4)
    // keep-best policy: survivors = best per family + the singleton
    val best = Dedup.dropNearDups(df, "text", "doc_id",
        scoreCol = Some("quality"), numPerm = 64, bands = 32, threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(best === Set(2L, 10L, 50L))
    // min-id policy: survivors = min id per family + the singleton
    val minId = Dedup.dropNearDups(df, "text", "doc_id",
        scoreCol = None, numPerm = 64, bands = 32, threshold = 0.4)
      .select("doc_id").as[Long].collect().toSet
    assert(minId === Set(1L, 10L, 50L))
    // all input columns pass through untouched
    val cols = Dedup.dropNearDups(df, "text", "doc_id").columns.toSeq
    assert(cols === Seq("doc_id", "text", "quality"))
  }

  test("clusterSafeSplit: near-dup clusters never straddle splits; singletons = plain hashSplit") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = Seq(
      (1L, base), (2L, base + " extended"), (3L, base + " x"),
      (10L, "completely different text about spark catalyst optimizers rules"),
      (11L, "completely different text about spark catalyst optimizers rules y"),
      (50L, "a singleton unrelated document mentioning nothing shared at all")
    ).toDF("doc_id", "text").repartition(4)
    val splits = Seq("train" -> 0.5, "test" -> 0.5)
    val got = Dedup.clusterSafeSplit(df, "text", "doc_id", splits,
        numPerm = 64, bands = 32, threshold = 0.4)
      .select("doc_id", "split_key", "split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // the leakage-impossibility property: one split per cluster
    assert(got(1L) == got(2L) && got(2L) == got(3L))
    assert(got(10L) == got(11L))
    // cluster key = min member id; singleton key = own id
    assert(got(1L)._1 == 1L && got(10L)._1 == 10L && got(50L)._1 == 50L)
    // singleton's split is exactly plain hashSplit of its own id
    val plain = df.filter($"doc_id" === 50L)
      .select(Sampling.hashSplit(F.col("doc_id"), "split", splits))
      .as[String].collect()(0)
    assert(got(50L)._2 == plain)
    // every doc present exactly once, with a legal label
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 50L))
    assert(got.values.map(_._2).forall(Set("train", "test")))
  }
}
