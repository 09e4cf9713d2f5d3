package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}

import graft.api.Profiler

/** Physical-plan pins for the scale-critical properties the library's
  * scaladocs claim: these are the invariants that decide whether a query
  * that passes at sf0.01 still works at 100 TB. Assertions are on the
  * executed plan AFTER an action so AQE has settled. */
class PlanSpec extends SparkSpec {

  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
  }

  /** Shuffle exchanges only — broadcast exchanges are the cheap kind the
    * plans are SUPPOSED to choose, reuse is the optimization we pin. */
  private def shuffles(plan: String): Int =
    plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))

  /** Every node of the executed plan, descending through AQE wrappers
    * (AdaptiveSparkPlanExec / query stages), which TreeNode.children
    * does not traverse. */
  private def flattenPlan(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      a +: flattenPlan(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      s +: flattenPlan(s.plan)
    case other => other +: other.children.flatMap(flattenPlan)
  }

  /** The attribute names each shuffle exchange's child emits — i.e. the
    * columns that actually ride each shuffle's wire format. */
  private def shuffledColumns(df: DataFrame): Seq[Seq[String]] = {
    df.collect()
    flattenPlan(df.queryExecution.executedPlan).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        e.child.output.map(_.name)
    }
  }

  private def readSchemas(plan: String): Seq[Set[String]] =
    "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
      .map(_.group(1).split(",").map(_.trim.takeWhile(_ != ':')).filter(_.nonEmpty).toSet)
      .toSeq

  test("profileDF prunes the parquet scan to the requested columns") {
    val agg = new Profiler().profileDF(
      table("lineitem"), Some(Seq("l_quantity", "l_returnflag")))
    val plan = planOf(agg)
    val schemas = readSchemas(plan)
    assert(schemas.nonEmpty, s"no parquet scan found:\n$plan")
    assert(schemas.forall(_ == Set("l_quantity", "l_returnflag")),
      s"scan reads more than the profiled columns: $schemas")
  }

  test("profile aggregation is partial/final around at most one exchange") {
    val agg = new Profiler().profileDF(table("lineitem"), Some(Seq("l_quantity")))
    val plan = planOf(agg)
    // global agg: partial on the scan side, final after a SinglePartition
    // exchange — never a pre-shuffle of raw rows
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"),
      s"row-level shuffle before profile agg:\n$plan")
  }

  test("segmented profiling shuffles once, on the segment key") {
    val agg = new Profiler().profileSegmentedDF(
      table("lineitem"), Seq("l_returnflag"), columns = Some(Seq("l_quantity")))
    val plan = planOf(agg)
    assert(shuffles(plan) == 1, s"expected exactly 1 exchange:\n$plan")
  }

  test("filters reach the parquet scan as pushed filters") {
    val li = table("lineitem").filter(F.col("l_returnflag") === "A")
      .select("l_orderkey", "l_returnflag")
    val plan = planOf(li)
    assert(plan.contains("PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,A)]"),
      s"filter not pushed to scan:\n$plan")
  }

  test("decontamination joins broadcast the small n-gram side") {
    val docs = table("documents")
    val hits = graft.pipeline.Decontaminate.overlaps(
      docs, docs.limit(20), "text", "doc_id", n = 3)
    val plan = planOf(hits)
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"benchmark side not broadcast:\n$plan")
  }

  test("profile store reads prune to the queried (dataset_id, date) partitions") {
    val dir = targetTempDir("plan_store")
    val store = new graft.api.ProfileStore(spark, dir)
    val view = new Profiler().profile(table("lineitem"), Some(Seq("l_quantity")))
    val day = 86400000L
    store.writeAll(Seq((view, 0L), (view, day), (view, 2 * day)), "ds_a")
    store.writeAll(Seq((view, 0L)), "ds_b")
    // read one dataset, one day, out of 4 partitions on disk
    val one = spark.read.parquet(dir)
      .filter(F.col("dataset_id") === "ds_a" && F.col("date") === "1970-01-02")
    one.collect()
    val plan = one.queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[([^\\]]*)\\]".r.findFirstMatchIn(plan).map(_.group(1))
    assert(pf.exists(f => f.contains("dataset_id") && f.contains("date")),
      s"partition filters not applied at the scan:\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(dataset_id)"),
      "partition columns must prune directories, not filter rows")
  }

  test("bucketed tables join with zero exchanges; unbucketed join shuffles both sides") {
    val spark2 = spark
    import spark2.implicits._
    val docs = table("documents").select("doc_id", "text")
    val meta = docs.select(F.col("doc_id"), F.length(F.col("text")).as("n"))
    try {
      graft.sources.Bucketed.write(docs, "bk_docs", 8, Seq("doc_id"))
      graft.sources.Bucketed.write(meta, "bk_meta", 8, Seq("doc_id"))
      val joined = graft.sources.Bucketed.join(spark, "bk_docs", "bk_meta", Seq("doc_id"))
      val plan = planOf(joined)
      assert(shuffles(plan) == 0, s"bucketed join must not exchange:\n$plan")
      assert(joined.count() == docs.count())
      // control: the same join off bare parquet shuffles (or broadcasts) —
      // bucketing is what removed the exchange, not the data size
      val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      try {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        val control = planOf(docs.join(meta, Seq("doc_id")))
        assert(shuffles(control) == 2, s"control join should shuffle both sides:\n$control")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bk_docs")
      spark.sql("DROP TABLE IF EXISTS bk_meta")
    }
  }

  test("AQE splits a skewed sort-merge join at runtime (skew=true)") {
    import spark.implicits._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.get(k))
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // one mega-key (boilerplate-style skew) among uniform keys. NOTE:
      // no user repartition() on the inputs — AQE only splits skewed
      // partitions of ENSURE_REQUIREMENTS exchanges, which is exactly the
      // production shape (the join plans its own shuffle).
      val left = ((1 to 200000).map(i => (0L, s"payload_left_padding_$i")) ++
        (1 to 2000).map(i => ((i % 50 + 1).toLong, s"payload_left_$i")))
        .toDF("k", "l")
      val right = (0L to 50L).flatMap(k => (1 to 40).map(i => (k, s"r_$i")))
        .toDF("k", "r")
      val joined = left.join(right, "k")
      // collect() executes THIS queryExecution (count() would plan a new
      // one and leave this plan isFinalPlan=false)
      val plan = planOf(joined)
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not split the skewed partition:\n${plan.take(4000)}")
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
  }

  test("exact dedup keeps one hash exchange and prunes to (id, text)") {
    val out = graft.pipeline.Dedup.exact(table("documents"), "text", "doc_id")
    val plan = planOf(out)
    val schemas = readSchemas(plan)
    assert(schemas.forall(s => s.subsetOf(Set("doc_id", "text"))),
      s"dedup scan reads unused columns: $schemas")
  }

  test("ksTimeline: one scan, pair-partitioned windows, totals reuse the window exchange") {
    import spark.implicits._
    val df = (0 until 600).map(i => (i % 3, (i * 37 % 101).toDouble)).toDF("b", "v")
    val out = graft.analysis.DriftExact.ksTimeline(
      df, F.col("b"), F.col("v"), _ + F.lit(1))
    val plan = planOf(out)
    // one scan of the input (totals derived from running sums, not a
    // second aggregation over a re-scan)
    assert(plan.linesIterator.count(_.contains("LocalTableScan")) +
      plan.linesIterator.count(_.contains("Scan parquet")) == 1, plan.take(3000))
    // both Window ops partition by pair — never a global
    // Window.orderBy (empty partition spec = single-partition collapse)
    assert(!plan.contains("SinglePartition"), "global window collapse:\n" + plan.take(3000))
    assert(plan.linesIterator.count(_.contains("Window")) >= 2)
    assert(!plan.contains("Join"), "totals must not need a join:\n" + plan.take(3000))
  }

  test("embedding centroid drift: one exchange, pruned scan, no collect-side matrix") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = graft.pipeline.Embeddings.centroidDrift(
      emb, "embedding", F.col("vec_id") % 3 === 0)
    val plan = planOf(out)
    // posexplode fans out map-side; the dim groupBy is the only exchange,
    // carrying <= dim rows per upstream partition (map-side partials)
    assert(shuffles(plan) == 1, s"expected 1 exchange:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("embedding", "vec_id"))),
      s"scan reads unused columns: $schemas")
  }

  test("streaming-drift PSI composition: two bounded exchanges, no driver fold") {
    val ev = eventsDF
    val env = graft.streaming.DriftStream.referenceEnvelope(ev, "value", 30)
    val out = graft.streaming.DriftStream.monitor(ev, "ts", "1 day", "value", env)
    val plan = planOf(out)
    // (window, bin) count exchange + window PSI-fold exchange; both carry
    // <= nBins rows per window — never raw events
    assert(shuffles(plan) == 2, s"expected 2 exchanges:\n${plan.take(3000)}")
    // the PSI fold is an expression over the collected bin map, not a join
    // against a reference table
    assert(!plan.contains("Join"), s"envelope must ride as literals:\n${plan.take(3000)}")
  }

  test("funnel and retention: two exchanges each (user fold + tiny rollup), no join") {
    val ev = eventsDF
    for ((name, df) <- Seq(
      "retention" -> graft.pipeline.Retention.cohortRetention(ev, "user_id", "ts"),
      "funnel" -> graft.pipeline.Funnel.funnel(
        ev, "user_id", "ts", "event_type", Seq("signup", "click", "purchase")))) {
      val plan = planOf(df)
      assert(shuffles(plan) == 2, s"$name expected 2 exchanges:\n${plan.take(3000)}")
      assert(!plan.contains("Join"), s"$name must not join:\n${plan.take(3000)}")
    }
  }

  test("tfIdfTopTerms: one scan, df via term window — no join, no vocab broadcast") {
    val out = graft.pipeline.TextAnalysis.tfIdfTopTerms(
      table("documents"), "doc_id", "text", 3)
    val plan = planOf(out)
    assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"tf-idf re-scans the corpus:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"df should come from a window, not a join:\n${plan.take(3000)}")
    assert(!plan.contains("BroadcastExchange"),
      s"nothing to broadcast in the no-join formulation:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("doc_id", "text"))),
      s"tf-idf scan reads unused columns: $schemas")
  }

  test("nearDupClustersKeepBest: election is groupBy + join-back, never a window") {
    val docs = table("documents")
    val plain = planOf(graft.pipeline.Dedup.nearDupClusters(
      docs, "text", "doc_id", numPerm = 16, bands = 8, threshold = 0.5))
    val best = planOf(graft.pipeline.Dedup.nearDupClustersKeepBest(
      docs, "text", "doc_id", "n_chars", numPerm = 16, bands = 8, threshold = 0.5))
    // a window over `component` would funnel a mega-cluster (the
    // star-edge path's design case: every member of a boilerplate
    // family reaches ONE component) into a single task's sort; the
    // groupBy's map-side partials collapse members per partition and
    // AQE skew-splits the join-back — so the election must show up as
    // an aggregate + join, with NO window added over the plain plan
    assert(plain.linesIterator.count(_.contains("Window")) ==
      best.linesIterator.count(_.contains("Window")),
      "keeper election added a window over component")
    // the struct is projected before the aggregate; pin the max agg itself
    // (struct-max plans as SortAggregate/ObjectHashAggregate, not the
    // unsafe-row HashAggregate)
    assert(best.linesIterator.exists(l =>
      l.contains("Aggregate") && l.contains("max(")),
      s"election must be a struct-max aggregate:\n${best.take(3000)}")
    // bounded delta: score attach join + election agg + join-back
    assert(shuffles(best) <= shuffles(plain) + 4,
      s"keeper election added ${shuffles(best) - shuffles(plain)} exchanges")
  }

  test("paragraphDedup: election is groupBy + join-back, counts variant hash-only") {
    import graft.pipeline.Dedup
    val docs = table("documents")
    val full = planOf(Dedup.paragraphDedup(docs, "text", "doc_id"))
    // same mega-key argument as the keep-best pin: a window over
    // para_hash would land every copy of a corpus-wide boilerplate
    // paragraph in one task
    assert(!full.contains("Window"),
      s"paragraph election must not window over para_hash:\n${full.take(3000)}")
    assert(full.contains("partial_count") || full.contains("partial_min") ||
      full.contains("HashAggregate"),
      s"occurrence counts must map-side combine:\n${full.take(3000)}")
    // stats agg + both join sides: never more than 3 exchanges
    assert(shuffles(full) <= 3, s"expected <= 3 exchanges:\n${full.take(3000)}")
    val countsDf = Dedup.paragraphDedupCounts(docs, "text", "doc_id")
    val counts = planOf(countsDf)
    assert(!counts.contains("Window") && shuffles(counts) <= 3)
    // the count-only variant must not carry the paragraph string into
    // any exchange: walk every ShuffleExchange's CHILD output (the
    // columns that actually ride the wire — the exchange's own plan
    // line only prints partitioning expressions, so a string grep
    // there would pass vacuously)
    val wires = shuffledColumns(countsDf)
    assert(wires.nonEmpty, s"expected at least one exchange:\n${counts.take(3000)}")
    assert(wires.forall(!_.contains("para")),
      s"counts variant shuffles the paragraph string: $wires")
  }

  test("sharded bloom: build groups bitsets; probe is a shuffle join, no broadcast") {
    import graft.pipeline.Dedup
    val docs = table("documents")
    val key = F.md5(F.col("text"))
    val bloom = Dedup.bloomBuildSharded(docs,
      Dedup.bloomShardMd5(key, 4), Dedup.bloomPositionsXx(key, 4, 65536), 65536)
    val buildPlan = planOf(bloom)
    // one groupBy(shard) exchange whose payload is numShards bitsets per
    // partition (map-side partials), never rows
    assert(shuffles(buildPlan) == 1,
      s"sharded build must shuffle only partial bitsets:\n${buildPlan.take(3000)}")
    assert(buildPlan.contains("partial_graft_bloom_build"),
      s"bloom partials must combine map-side:\n${buildPlan.take(3000)}")
    val probed = Dedup.bloomProbeSharded(
      docs.select(F.col("doc_id"), F.md5(F.col("text")).as("ck")),
      Dedup.bloomShardMd5(F.col("ck"), 4),
      Dedup.bloomPositionsXx(F.col("ck"), 4, 65536), bloom)
    val probePlan = planOf(probed)
    // the sharded path exists because the combined bitsets exceed
    // broadcast budget: the bloom table must arrive by shuffle
    assert(!probePlan.contains("BroadcastExchange") &&
      !probePlan.contains("BroadcastHashJoin"),
      s"sharded bloom must not broadcast:\n${probePlan.take(3000)}")
    assert(probePlan.contains("ShuffledHashJoin") || probePlan.contains("SortMergeJoin"),
      s"probe must co-partition with the bloom rows:\n${probePlan.take(3000)}")
  }

  test("capPerKey: one key exchange, pruned scan, no join") {
    val docs = table("documents")
    val out = graft.pipeline.Sampling.capPerKey(
      docs, F.col("source"), F.col("doc_id"), 3).select("doc_id", "source")
    val plan = planOf(out)
    assert(shuffles(plan) == 1, s"expected 1 exchange:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"cap is a window, not a join:\n${plan.take(3000)}")
    // scan reads only the key, row id, and selected columns
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("doc_id", "source"))),
      s"scan reads unused columns: $schemas")
  }

  test("ranking metrics: one user-keyed exchange, map-only metrics, no join") {
    val ev = eventsDF
    val byUser = ev.select(F.col("user_id"),
        (F.col("event_id") % 97).cast("double").as("score"),
        F.when(F.col("event_type") === "purchase", 2.0).otherwise(0.0).as("rel"))
      .groupBy("user_id")
      .agg(F.collect_list(F.col("score")).as("scores"),
        F.collect_list(F.col("rel")).as("rels"))
    val out = graft.analysis.Ranking.logBatchRankingMetrics(byUser,
      targetCol = Some("rels"), scoreCol = Some("scores"), k = Some(10),
      clampK = false)
    val plan = planOf(out)
    // the metric computation itself adds NOTHING to the fixture's one
    // groupBy exchange: every metric is a per-row array expression
    assert(shuffles(plan) == 1, s"expected 1 exchange (fixture groupBy):\n$plan")
    assert(!plan.contains("Join"), s"ranking metrics must not join:\n$plan")
    // clampK=false: no extra job scanned the arrays for max length
  }

  test("applyMixture is map-only: no exchange, no join, pruned scan") {
    val out = graft.pipeline.Sampling.applyMixture(
      table("documents"), F.col("source"), F.col("doc_id"),
      rates = Map("src0" -> 2.0, "src1" -> 0.4))
      .select("doc_id", "source", "epoch")
    val plan = planOf(out)
    assert(shuffles(plan) == 0, s"mixture application must not shuffle:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"mixture application must not join:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("doc_id", "source"))),
      s"scan reads unused columns: $schemas")
  }

  test("semDeDup: cluster-keyed pairwise, pruned scan, no cross-cluster cartesian") {
    val out = graft.pipeline.Similarity.semDeDup(
      table("embeddings"), "vec_id", "embedding", numClusters = 4, tau = 0.4)
    val plan = planOf(out)
    // the pairwise stage must stay keyed on cluster_id — an unkeyed
    // cross product over the corpus is exactly what clustering avoids
    assert(!plan.contains("CartesianProduct"),
      s"semDeDup must not cross-join across clusters:\n${plan.take(3000)}")
    // bounded composition: anchor window + cluster join + per-id verdict
    assert(shuffles(plan) <= 4, s"expected <= 4 exchanges:\n${plan.take(3000)}")
    // codebook training samples (vec_id, embedding); the plan reads the same
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("vec_id", "embedding"))),
      s"scan reads unused columns: $schemas")
  }

  test("deterministicShuffle: one shard exchange, no join, pruned scan") {
    val out = graft.pipeline.Sampling.deterministicShuffle(
      table("documents"), F.col("doc_id"), numShards = 8)
      .select("doc_id", "shard", "pos")
    val plan = planOf(out)
    // one hash exchange on shard + a within-partition window sort — the
    // property that keeps each shard's sort executor-local at scale
    assert(shuffles(plan) == 1, s"expected exactly one shard exchange:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"shuffle assignment must not join:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("doc_id"))),
      s"scan reads unused columns: $schemas")
  }

  test("curation tail composes with bounded exchanges and no join") {
    import graft.pipeline.{Packing, Sampling}
    val kept = Sampling.capPerKey(table("documents"),
      F.col("source"), F.col("doc_id"), cap = 100)
    val sharded = Sampling.deterministicShuffle(kept, F.col("doc_id"), 4)
    val out = Packing.chunkTokens(sharded, "text", 24, 16)
      .groupBy("shard").agg(F.count(F.lit(1)).as("n_chunks"))
    val plan = planOf(out)
    // cap (source key) + shuffle (shard key) + rollup: chunking itself
    // must add NO exchange — it rides map-only between the two keyed ones
    assert(shuffles(plan) <= 3, s"expected <= 3 exchanges:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"the composed tail must not join:\n${plan.take(3000)}")
  }

  test("bloom build has no row shuffle; probe is broadcast + map-only") {
    import graft.pipeline.Dedup
    val docs = table("documents")
    val pos = Dedup.bloomPositionsXx(F.md5(F.col("text")), 4, 65536)
    val bloom = Dedup.bloomBuild(docs, pos, 65536)
    val buildPlan = planOf(bloom)
    // partial bitsets merge through a SinglePartition exchange — never a
    // row-level hash shuffle (that's the whole point of the OR-merge)
    assert(shuffles(buildPlan) == 0,
      s"bloom build must not shuffle rows:\n${buildPlan.take(3000)}")
    val probed = Dedup.bloomProbe(
      docs.select(F.col("doc_id"), F.md5(F.col("text")).as("ck")),
      Dedup.bloomPositionsXx(F.col("ck"), 4, 65536), bloom)
    val probePlan = planOf(probed)
    assert(shuffles(probePlan) == 0,
      s"bloom probe must be map-only over the probe side:\n${probePlan.take(3000)}")
    assert(probePlan.contains("BroadcastNestedLoopJoin") ||
      probePlan.contains("BroadcastExchange"),
      s"single-row bloom must arrive by broadcast:\n${probePlan.take(3000)}")
  }

  test("quality classifier scoring is map-only: no exchange, no join, pruned scan") {
    import graft.pipeline.QualityClassifier
    val docs = table("documents")
    val scored = QualityClassifier.scoreDocs(docs, "text", "doc_id",
      QualityClassifier.md5Weights(1024).toSeq, bias = 0.0, dim = 1024,
      md5Mode = true)
    val plan = planOf(scored)
    assert(shuffles(plan) == 0, s"scoring must be map-only:\n${plan.take(3000)}")
    assert(!plan.contains("Join"), s"scoring must not join:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.nonEmpty && schemas.forall(_ == Set("doc_id", "text")),
      s"scan reads more than (doc_id, text): $schemas")
  }

  test("ngram LM (hashed mode): keyed exchanges only, no cartesian, no gram string on any wire") {
    val docs = table("documents")
    val scored = graft.pipeline.TextAnalysis.ngramLmScore(
      docs, docs, "text", "doc_id", hashGrams = true)
    val plan = planOf(scored)
    assert(!plan.contains("Cartesian"), s"no cartesian:\n${plan.take(3000)}")
    assert(shuffles(plan) <= 8, s"expected <= 8 exchanges:\n${plan.take(3000)}")
    // hashGrams is the 100 TB path BECAUSE the gram string never rides
    // a shuffle: every exchange input carries 8-byte ids, counts, or
    // the bounded per-doc struct array — never the __g string column
    val wires = shuffledColumns(scored)
    assert(wires.nonEmpty)
    assert(wires.forall(!_.contains("__g")),
      s"gram string shuffled in hashed mode: $wires")
  }

  test("bm25: tiny df/stats broadcast back, bounded heap top-N, pruned scan") {
    val out = graft.pipeline.TextAnalysis.bm25TopDocs(
      table("documents"), "doc_id", "text", Seq("join", "vector", "window"))
    val plan = planOf(out)
    // (doc, term) tf + per-doc fold: TWO keyed exchanges, both
    // downstream of the query-term filter; df rides the one-row stats
    // broadcast (a term-partitioned window here would funnel every
    // posting of a term into one task at corpus scale)
    assert(shuffles(plan) <= 2, s"expected <= 2 keyed exchanges:\n${plan.take(3000)}")
    // the only window is the post-limit row_number over <= topN rows;
    // a count-over-term window (df) must not appear
    val windows = plan.linesIterator.filter(_.trim.startsWith("Window ")).toSeq
    assert(windows.size <= 1 && windows.forall(_.contains("row_number")),
      s"unexpected window (a term-keyed df window?):\n${windows.mkString("\n")}")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastNestedLoopJoin"),
      s"df/stats must broadcast:\n${plan.take(3000)}")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-N must be a bounded per-partition heap, not a global sort:\n${plan.take(3000)}")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffled join belongs here:\n${plan.take(3000)}")
    val schemas = readSchemas(plan)
    assert(schemas.forall(_.subsetOf(Set("doc_id", "text"))),
      s"scan reads unused columns: $schemas")
  }

  test("hashNearDups: band-keyed join only — no cartesian, no broadcast of the corpus") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, i * 0x9e3779b97f4a7c15L)).toDF("id", "h")
    val out = graft.pipeline.Dedup.hashNearDups(df, "id", "h",
      maxHamming = 7, bands = 8)
    val plan = planOf(out)
    // candidates come from the (band, value) equi-join; an all-pairs
    // plan (cartesian / nested-loop) would be quadratic in the corpus
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded join degenerated to all-pairs:\n${plan.take(3000)}")
    // every shuffle wire carries only ids/hashes/band keys — 8-byte
    // columns, never a payload
    val wires = shuffledColumns(out).flatten.toSet
    assert(wires.subsetOf(Set("a", "b", "ha", "hb", "band", "bv", "hamming")),
      s"unexpected columns on a shuffle wire: $wires")
  }

  test("cutDuplicateSpans: gram strings never ride a wire; one doc-keyed rebuild join") {
    val out = graft.pipeline.Dedup.cutDuplicateSpans(
      table("documents"), "text", "doc_id", n = 5)
    val plan = planOf(out)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"cartesian:\n${plan.take(3000)}")
    // the gram-frequency exchanges must carry the 8-byte __g hash, never
    // the token array or raw text; the doc payload may ride only the
    // final doc-keyed reconstruction join
    val gramWires = shuffledColumns(out).filter(_.contains("__g"))
    assert(gramWires.nonEmpty, "expected gram-hash keyed exchanges")
    assert(gramWires.forall(w => !w.contains("__toks") && !w.contains("text")),
      s"token payload rides a gram exchange: $gramWires")
  }

  test("balancedShards: data-scale windows are group-partitioned; top-k broadcasts back") {
    val docs = table("documents")
      .select(F.col("doc_id"),
        graft.pipeline.TextAnalysis.tokenCount(F.col("text")).cast("long").as("tokens"))
    val out = graft.pipeline.Sampling.balancedShards(
      docs, F.col("doc_id"), F.col("tokens"), numShards = 8, saltGroups = 4)
    out.collect()
    val nodes = flattenPlan(out.queryExecution.executedPlan)
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the tail rank window")
    // an UNPARTITIONED window is legal only above the bounded top-k
    // (limit) — over the corpus it would funnel everything into one task
    windows.foreach { w =>
      val bounded = flattenPlan(w).exists {
        case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
        case _: org.apache.spark.sql.execution.GlobalLimitExec => true
        case _ => false
      }
      assert(w.partitionSpec.nonEmpty || bounded,
        s"unpartitioned window over unbounded input:\n$w")
    }
    // the top-k assignments come back as a broadcast, never a shuffle join
    val plan = planOf(out)
    assert(plan.contains("BroadcastExchange"),
      s"top-k join must broadcast:\n${plan.take(3000)}")
  }

  test("corpusDiff: no text payload on any wire — only (id, group, 16-byte hash)") {
    val docs = table("documents")
    val out = graft.pipeline.CorpusCompare.diff(
      docs, docs.withColumn("text", F.concat(F.col("text"), F.lit("!"))),
      "doc_id", "source", "text")
    out.collect()
    val wires = shuffledColumns(out)
    assert(wires.nonEmpty, "expected the id-keyed diff exchange")
    wires.foreach(w => assert(!w.contains("text"),
      s"text crossed a shuffle: $w"))
  }

  test("referentialIntegrity: dim parents broadcast; child pre-aggregates before the orphan join") {
    import graft.analysis.DataAudit.{FkRelation, referentialIntegrity}
    val out = referentialIntegrity(Seq(FkRelation(
      "orders->customer", table("orders"), "o_custkey",
      table("customer"), "c_custkey", broadcastParent = true)))
    val plan = planOf(out)
    assert(plan.contains("BroadcastExchange"),
      s"dimension parent must broadcast:\n${plan.take(3000)}")
    // the anti-join's left side must be the (key, mult) aggregate, not raw
    // child rows: every shuffle wire here is key+counters, never a payload
    val wires = shuffledColumns(out)
    wires.foreach(w => assert(
      !w.exists(c => c.startsWith("o_") && c != "o_custkey"),
      s"child payload column crossed a shuffle: $w"))
  }

  test("containmentBottomK: probes explode to k rows; train side distinct before the hash join") {
    val docs = table("documents")
    val out = graft.pipeline.CorpusCompare.containmentBottomK(
      docs.where(F.col("source") === "src9"),
      docs.where(F.col("source") =!= "src9"),
      "doc_id", "text", k = 16)
    out.collect()
    val plan = planOf(out)
    // the probe-vs-train join keys on the hash; neither side may carry text
    val wires = shuffledColumns(out)
    assert(wires.nonEmpty)
    wires.foreach(w => assert(!w.contains("text") && !w.contains("g"),
      s"payload crossed the containment shuffle: $w"))
    // distinct train set: a hash-keyed aggregate below the join
    assert(plan.contains("HashAggregate"),
      s"train shingle set must deduplicate via aggregate:\n${plan.take(2000)}")
  }

  test("classTfidf: heap top-k (no window over the class key); rejoin broadcasts the cut") {
    val docs = table("documents")
    val out = graft.pipeline.TextAnalysis.classTfidf(docs, "source", "text", 10)
    val plan = planOf(out)
    // the per-class cut must be the bounded-heap aggregate, never a
    // window partitioned by class (one class's whole vocab in one task)
    assert(!plan.contains("Window"),
      s"class top-k must not window over class:\n${plan.take(3000)}")
    assert(plan.contains("top_k_agg") || plan.contains("ObjectHashAggregate") ||
      plan.contains("SortAggregate"),
      s"expected the bounded-heap aggregate:\n${plan.take(3000)}")
    // the classes x k cut joins back by broadcast, not a shuffle
    assert(plan.contains("BroadcastHashJoin"),
      s"tf/class_df rejoin must broadcast the top-k side:\n${plan.take(3000)}")
  }

  test("keySkewReport / bpePairCounts: top-k is a bounded heap, never a global key sort") {
    val skew = graft.analysis.DataAudit.keySkewReport(eventsDF, "user_id", 20)
    val p1 = planOf(skew)
    assert(p1.contains("TakeOrderedAndProject"),
      s"top-k keys must TakeOrdered, not globally sort the key table:\n${p1.take(3000)}")
    // the only full sort allowed is inside TakeOrdered's bounded heap;
    // the cum-share window runs over the k collected rows
    val windows1 = p1.linesIterator.filter(_.trim.startsWith("Window ")).size
    assert(windows1 <= 1, s"unexpected windows:\n${p1.take(3000)}")
    val pairs = graft.pipeline.TextAnalysis.bpePairCounts(table("documents"), "text", 50)
    val p2 = planOf(pairs)
    assert(p2.contains("TakeOrderedAndProject"),
      s"pair top-k must TakeOrdered:\n${p2.take(3000)}")
    assert(shuffles(p2) <= 1, s"one pair-keyed exchange expected:\n${p2.take(3000)}")
  }

  test("naive bayes scoring: no window; one doc-keyed aggregate; model joins by token") {
    val docs = table("documents")
    val out = graft.pipeline.NaiveBayes.trainScore(docs, docs, "text", "lang", "doc_id")
    val plan = planOf(out)
    assert(!plan.contains("Window"),
      s"NB scoring must not window:\n${plan.take(3000)}")
    // scoring path: explode -> token join -> ONE groupBy(doc) with
    // map-side partials; no text payload on the scoring exchanges
    val wires = shuffledColumns(out)
    wires.foreach(w => assert(!w.contains("text"),
      s"text crossed a shuffle: $w"))
  }

  test("html blocks: window partitioned by document, one exchange, no join") {
    import spark.implicits._
    val df = (1 to 50).map(i =>
      (i.toLong, s"<p>block $i one two three four five six seven eight nine</p>" +
        "<nav><a href='/'>Home</a></nav>")).toDF("doc_id", "html")
    val out = graft.pipeline.HtmlExtract.blocks(df, "html", Seq("doc_id"))
    val plan = planOf(out)
    assert(shuffles(plan) == 1, s"expected one block-index exchange:\n$plan")
    assert(!plan.contains("Exchange SinglePartition"),
      s"global single-partition stage — the window lost its partition spec:\n$plan")
    // the one Window must be doc-partitioned, never a global sort
    assert(plan.contains("Window"), s"expected the block-index window:\n$plan")
    assert(plan.contains("hashpartitioning(doc_id"),
      s"window exchange must partition by document:\n$plan")
    assert(!plan.contains("Join"), s"map-only, no join:\n$plan")
  }

  test("inline html extraction is a zero-exchange map-only scan") {
    import spark.implicits._
    val df = (1 to 20).map(i =>
      (i.toLong, s"<p>page $i body words enough to pass the content cut here</p>"))
      .toDF("doc_id", "html")
    val out = df.select(F.col("doc_id"),
      graft.pipeline.HtmlExtract.extractTextColumn(F.col("html")).as("x"))
    val plan = planOf(out)
    assert(shuffles(plan) == 0 && !plan.contains("Join") && !plan.contains("Window"),
      s"inline extraction must be map-only:\n$plan")
  }

  test("kmeans iteration: centroids are plan literals; ONE histogram exchange, no join") {
    val base = graft.pipeline.KMeansFixed.quantized(
      table("embeddings"), "embedding", "vec_id", 1000L)
    val cents = Array.fill(4)(Array.fill(64)(0L))
    val out = graft.pipeline.KMeansFixed.iterStats(base, cents)
    val plan = planOf(out)
    assert(shuffles(plan) == 1,
      s"one map-side-combined update exchange expected:\n$plan")
    assert(!plan.contains("Join"),
      s"centroids must ride the plan, not a join:\n$plan")
    // only k*dim partial rows cross the wire — never the vectors
    val wires = shuffledColumns(out)
    wires.foreach(w => assert(!w.contains("__q") && !w.contains("embedding"),
      s"vector payload crossed the update shuffle: $w"))
  }

  test("tree stump histogram: one exchange, no join, scan pruned to features+label") {
    val out = graft.analysis.TreeSplit.histogram(
      table("lineitem"), "l_returnflag",
      Seq(graft.analysis.TreeSplit.FeatureSpec("q", F.col("l_quantity")),
        graft.analysis.TreeSplit.FeatureSpec("d", F.round(F.col("l_discount") * 100))))
    val plan = planOf(out)
    assert(shuffles(plan) == 1, s"one histogram exchange expected:\n$plan")
    assert(!plan.contains("Join"), s"no join in the histogram pass:\n$plan")
    val schemas = readSchemas(plan)
    assert(schemas.nonEmpty && schemas.forall(
      _ == Set("l_quantity", "l_discount", "l_returnflag")),
      s"scan must read only the stump columns: $schemas")
  }

  test("native bpe encode: one expression node, zero regex-chain nodes, map-only") {
    val merges = (0 until 200).map(i => (s"s$i", s"t$i")) :+ (("a", "b"))
    val out = table("documents").select(F.explode(
      graft.pipeline.TextAnalysis.bpeSegmentNative(F.col("text"), merges)).as("sym"))
    val plan = planOf(out)
    assert(plan.contains("bpe_encode_tokens"),
      s"native encoder expression missing:\n${plan.take(2000)}")
    assert(!plan.contains("regexp_replace"),
      s"a 201-merge table must not plan as a regex chain:\n${plan.take(2000)}")
    assert(shuffles(plan) == 0 && !plan.contains("Join"),
      s"encoding must be map-only:\n$plan")
  }

  test("roc auc: ONE histogram exchange, no join, scan pruned to score+label") {
    val out = graft.analysis.Roc.rocAuc(table("lineitem"),
      F.round(F.col("l_discount") * 100), F.col("l_returnflag") === "R")
    val plan = planOf(out)
    // groupBy(score) is the only exchange keyed on data; the cumulative
    // window and final agg run over the bounded histogram (their
    // single-partition exchanges carry histogram rows, never the corpus)
    assert(plan.linesIterator.count(l =>
      l.contains("hashpartitioning(score")) == 1,
      s"one score-histogram exchange expected:\n$plan")
    assert(!plan.contains("Join"), s"no join in the AUC pass:\n$plan")
    val schemas = readSchemas(plan)
    assert(schemas.nonEmpty && schemas.forall(
      _ == Set("l_discount", "l_returnflag")),
      s"scan must read only score+label columns: $schemas")
  }

  test("term cooccurrence: map-only pair extraction (no self-join, no window over the corpus)") {
    val out = graft.pipeline.TextAnalysis.termCooccurrence(
      table("documents"), "text", window = 2, topK = 10)
    out.collect() // materialize the checkpointed pair table
    val plan = planOf(out)
    // after the checkpoint, everything operates on pair rows: the plan
    // must not re-read the corpus (marginals join the PAIR table) and
    // must not contain a window function anywhere
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
    assert(readSchemas(plan).isEmpty,
      s"marginals must consume the checkpointed pair table, not rescan parquet:\n$plan")
  }

  test("markov transitions: the ordering window is USER-partitioned; scan pruned") {
    // the transition table checkpoints (bounded |types|^2 rows), which
    // hides the lag stage from the final plan — pin the lag stage by
    // reconstructing it exactly as Markov.transitions builds it
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(F.col("user_id")).orderBy(F.col("ts"), F.col("event_id"))
    val steps = eventsDF
      .filter(F.col("user_id").isNotNull && F.col("event_type").isNotNull)
      .select(F.col("event_type").as("next"),
        F.lag(F.col("event_type"), 1).over(w).as("prev"))
      .filter(F.col("prev").isNotNull)
      .groupBy("prev", "next").agg(F.count(F.lit(1)).as("cnt"))
    steps.collect()
    val windows = flattenPlan(steps.queryExecution.executedPlan).collect {
      case wx: org.apache.spark.sql.execution.window.WindowExec => wx
    }
    assert(windows.nonEmpty, "expected the per-user lag window")
    windows.foreach(wx => assert(wx.partitionSpec.nonEmpty,
      s"unpartitioned window over the event stream:\n$wx"))
    // the scan must not drag value/props payloads through the window
    val plan = planOf(steps)
    readSchemas(plan).foreach(s =>
      assert(!s.contains("props") && !s.contains("value"),
        s"payload columns reached the scan: $s"))
  }

  test("bootstrap meanCI: arithmetic uniforms (no digest), scan pruned, bounded shuffles") {
    val df = table("lineitem")
      .select((F.col("l_orderkey") * 10 + F.col("l_linenumber")).as("id"),
        F.col("l_quantity"))
    val out = graft.analysis.Bootstrap.meanCI(df, "id", "l_quantity")
    val plan = planOf(out)
    // the MINSTD recurrence is pure multiply/mod — a digest in the plan
    // would mean the 33x-slower per-draw hash crept back in ("sha"
    // alone would false-match haSHAggregate)
    val lower = plan.toLowerCase
    assert(!lower.contains("md5(") && !lower.contains("sha1(") &&
      !lower.contains("sha2("),
      s"cryptographic digest in the bootstrap plan:\n${plan.take(2000)}")
    readSchemas(plan).foreach(s =>
      assert(s.subsetOf(Set("l_orderkey", "l_linenumber", "l_quantity")),
        s"unpruned scan: $s"))
    assert(shuffles(plan) <= 2, s"expected <= 2 shuffles:\n${plan.take(2000)}")
  }

  test("mondrian conformal: every window is GROUP-partitioned (never global)") {
    val feats = table("documents").select(
      F.col("doc_id"), F.col("lang"), F.col("n_chars").as("y"),
      graft.pipeline.TextAnalysis.tokenCount(F.col("text")).as("x1"),
      graft.pipeline.TextAnalysis.alphaCount(F.col("text")).as("x2"))
    val out = graft.analysis.Conformal.mondrianCoverage(
      feats, "lang", "doc_id", "y", "x1", "x2")
    out.collect()
    val windows = flattenPlan(out.queryExecution.executedPlan).collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty, "expected the per-group prefix-sum window")
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      s"unpartitioned window in the per-group radius path:\n$w"))
  }

  test("fuzzy pairs: block-keyed join; only slim columns reach the scan") {
    val pairs = graft.SparkEntry.queries("fuzzy_pairs")(spark, sfDir)
    val plan = planOf(pairs)
    readSchemas(plan).foreach(s =>
      assert(s.subsetOf(Set("p_partkey", "p_name")), s"unpruned scan: $s"))
    // the quadratic must stay inside a block: the join key is the block
    // prefix (either a broadcast of one side or a __blk-keyed shuffle),
    // never a cross join
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      s"unkeyed join in the fuzzy pair path:\n${plan.take(2000)}")
  }

  test("warc parse: map-only record walk — zero shuffles before the output sort") {
    val docs = table("documents")
    val out = docs.select(F.col("doc_id"),
      F.explode(graft.sources.Warc.warc_records(F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <x>\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n")))).as("r"))
    val plan = planOf(out)
    assert(shuffles(plan) == 0, s"WARC ingestion must be a pure scan:\n$plan")
    // scan pruned to what the fixture uses
    readSchemas(plan).foreach(s =>
      assert(s.subsetOf(Set("doc_id")), s"unpruned scan: $s"))
  }

  test("warc FILE ingestion chain: record-streaming walk + split + extract is map-only") {
    val dir = targetTempDir("warcplan")
    val payload = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>hi</p>"
    val rec = "WARC/1.0\r\nWARC-Type: response\r\nWARC-Record-ID: <x>\r\n" +
      s"Content-Length: ${payload.getBytes("UTF-8").length}\r\n\r\n$payload\r\n\r\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/a.warc"),
      rec.getBytes("UTF-8"))
    val out = graft.sources.WarcFiles.readCrawlText(spark, dir)
    val plan = planOf(out)
    // file walk → HTTP split → extraction: a pure scan end to end —
    // the shuffle belongs to whatever quality/dedup stage follows
    assert(shuffles(plan) == 0, s"crawl front door must be a pure scan:\n$plan")
  }

  test("url_domain_filter: pruned scan; suffix EQUALITY joins, no per-entry patterns") {
    val out = graft.SparkEntry.queries("url_domain_filter")(spark, sfDir)
    val plan = planOf(out)
    readSchemas(plan).foreach(s =>
      assert(s.subsetOf(Set("doc_id", "source")), s"unpruned scan: $s"))
    // blocklist matching is a hash join on the exploded suffixes —
    // never a nested-loop LIKE cascade over the blocklist
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoop") && !plan.contains("Like("),
      s"pattern-per-entry matching leaked into the plan:\n${plan.take(2000)}")
  }

  test("corpus sink: ONE shard exchange to write; manifest verify is one agg exchange per side") {
    val dir = targetTempDir("sinkplan")
    val docs = table("documents").select(F.col("doc_id"),
      F.concat(F.col("doc_id").cast("string"), F.lit("\t"),
        F.col("text")).as("line"))
    // the pre-write lineage: deterministicShuffle's one hash exchange
    // on shard + the executor-local window sort + repartition(shard) —
    // pin that NO global sort and no extra exchanges sneak in
    val staged = graft.pipeline.Sampling
      .deterministicShuffle(docs.select(F.col("line"), F.col("doc_id").as("__k")),
        F.col("__k"), 4)
      .repartition(4, F.col("shard"))
      .sortWithinPartitions("shard", "pos")
      .select("line", "shard")
    val plan = planOf(staged)
    assert(shuffles(plan) <= 2, s"sink staging grew extra exchanges:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort leaked into the sink path:\n$plan")
    // the verify side: read-back digest is one hash aggregate exchange
    graft.pipeline.CorpusSink.writeCorpusShards(
      docs, F.col("line"), F.col("doc_id"), dir, 4)
    val verify = graft.pipeline.CorpusSink.verifyShards(spark, dir)
    val vplan = planOf(verify)
    assert(!vplan.contains("CartesianProduct") &&
      !vplan.contains("BroadcastNestedLoop"),
      s"manifest join degenerated:\n$vplan")
  }

  test("ivfPqSearch: code arrays ride only the broadcast; shuffles carry bounded top-k rows") {
    val emb = table("embeddings")
    val ix = graft.pipeline.Similarity.ivfPqBuild(emb, numCentroids = 4, m = 16, ksub = 8)
    val out = graft.pipeline.Similarity.ivfPqSearch(ix,
      emb.filter(F.col("vec_id") < 5), nprobe = 2, k = 3, rerank = 10)
    // every shuffle wire carries group/id/score/top-k buffer columns,
    // never the per-vector code arrays or LUTs (those stay map-side /
    // broadcast-side) — the bounded-aggregate shape of the scaladoc
    val wires = shuffledColumns(out).flatten.toSet
    assert(!wires.contains("__codes") && !wires.contains("__lut"),
      s"code/LUT arrays on a shuffle wire: $wires")
  }
}
