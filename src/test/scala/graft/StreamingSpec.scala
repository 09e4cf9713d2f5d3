package graft

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}

import graft.api.{Profiler, ProfileStore}
import graft.core.{MetricConfig, Namespace, ResolverSpec}
import graft.pipeline.Dedup
import graft.streaming.ProfileStream

/** Structured Streaming rolling profiles. */
class StreamingSpec extends SparkSpec {

  private def eventsStream = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.api.StandardQueries.rebuildTs(
      spark.readStream.schema(table("events").schema)
        .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/events.parquet")))
  }

  private def eventsBatch = eventsDF

  test("streamed hourly window profiles equal the batch answer") {
    val profiler = new Profiler(MetricConfig(),
      ResolverSpec(byKind = _ => Seq(Namespace.Counts, Namespace.Distribution)))
    val win = ProfileStream.windowedProfileDF(
      eventsStream, "ts", "1 hour", watermark = Some("1 hour"),
      profiler = profiler, columns = Some(Seq("value")),
      segmentColumns = Seq("event_type"))
    val qn = "swp_test"
    val q = win.writeStream.format("memory").queryName(qn)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table(qn)
      .select(F.col("window.start").as("w"), F.col("segment_event_type").as("et"),
        F.col("value.counts.n").as("n"),
        F.col("value.distribution.min").as("mn"), F.col("value.distribution.max").as("mx"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.get(3), r.get(4))).toSet
    val exp = eventsBatch
      .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n"), F.min("value").as("mn"), F.max("value").as("mx"))
      .select(F.col("window.start"), F.col("event_type"), F.col("n"), F.col("mn"), F.col("mx"))
      .collect().map(r => (r.get(0).toString, r.getString(1), r.getLong(2),
        r.get(3), r.get(4))).toSet
    assert(got == exp)
  }

  test("streaming near-dup flags match the batch path against a static index") {
    import spark.implicits._
    val docs = table("documents")
    val index = Dedup.minHashIndex(docs, "text", "doc_id", numPerm = 16, bands = 8)
      .persist()
    try {
      // stream: two docs lifted straight from the corpus (guaranteed
      // near-dups of themselves) + one novel doc that matches nothing
      val seeded = docs.orderBy("doc_id").limit(2)
        .select(F.col("doc_id") + 1000000L, F.col("text"))
        .toDF("doc_id", "text")
      val novel = Seq((2000000L,
        "flamingo orchestra rehearses nocturnal arithmetic beneath the viaduct"))
        .toDF("doc_id", "text")
      val batchDf = seeded.unionByName(novel)
      val srcDir = Files.createTempDirectory("dedup_stream_src").toString
      val outDir = Files.createTempDirectory("dedup_stream_out").toString + "/flags"
      batchDf.coalesce(1).write.mode("overwrite").parquet(srcDir)
      val stream = spark.readStream.schema(batchDf.schema).parquet(srcDir)
      val q = graft.streaming.DedupStream.flagAgainstIndex(
        stream, index, "text", "doc_id", outDir, numPerm = 16, bands = 8)
      q.awaitTermination()
      val got = spark.read.parquet(outDir)
        .select("a", "b", "jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val exp = Dedup.nearDupsAgainstIndex(
        batchDf, index, "text", "doc_id", numPerm = 16, bands = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got == exp)
      assert(got.map(_._1).intersect(Set(2000000L)).isEmpty, "novel doc must not flag")
      // each seeded copy must at least match its own source doc exactly
      assert(got.exists(t => t._1 == 1000000L && t._3 == 1.0))
      assert(got.exists(t => t._1 == 1000001L && t._3 == 1.0))
    } finally index.unpersist(blocking = false)
  }

  test("map-only pipeline ops (PII scan) run unchanged on a stream") {
    import spark.implicits._
    val batch = Seq(
      (1L, "contact a@b.io or 10.0.0.1"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val srcDir = Files.createTempDirectory("pii_stream_src").toString
    batch.coalesce(1).write.mode("overwrite").parquet(srcDir)
    val stream = spark.readStream.schema(batch.schema).parquet(srcDir)
    // scan is codegen'd map-only expressions — legal in a streaming plan
    // with no foreachBatch wrapper, watermark, or output-mode caveats
    val q = graft.pipeline.Pii.scan(stream, "text")
      .select("doc_id", "pii_email", "pii_ipv4", "pii_total")
      .writeStream.format("memory").queryName("pii_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.table("pii_stream").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    assert(got == Map(1L -> ((1, 1, 2)), 2L -> ((0, 0, 0))))
  }

  test("toStore counts every row exactly once across multiple micro-batches") {
    // split events into two files; maxFilesPerTrigger=1 forces windows to
    // span batches — the update-mode cumulative re-emission bug would
    // double-count here
    val srcDir = targetTempDir("stream-2batch-")
    val ev = eventsBatch
    ev.filter(F.col("event_id") % 2 === 0).write.parquet(srcDir + "/f0")
    ev.filter(F.col("event_id") % 2 =!= 0).write.parquet(srcDir + "/f1")
    val flat = targetTempDir("stream-2batch-flat-")
    spark.read.parquet(srcDir + "/f0").write.mode("append").parquet(flat)
    spark.read.parquet(srcDir + "/f1").write.mode("append").parquet(flat)
    val sdf = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(flat)
    val storeDir = targetTempDir("stream-2batch-store-")
    val q = ProfileStream.toStore(sdf, "ts", "1 hour", watermark = "1 hour",
      storePath = storeDir, datasetId = "ev2",
      profiler = new Profiler(MetricConfig(),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts))),
      columns = Some(Seq("value")))
    q.awaitTermination()
    val store = new ProfileStore(spark, storeDir)
    val all = store.read("ev2", 0L, Long.MaxValue)
    assert(all.size > all.map(_._1).distinct.size, "windows should span batches")
    val merged = all.map(_._2).reduce(_ merge _)
    assert(merged.columns("value").counts.get.n == ev.count())
  }

  test("frequent-items sketch state merges across micro-batches (heavy hitters)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:00:00")
    val win = in.toDF().toDF("ts", "et")
      .groupBy(F.window(F.col("ts"), "1 day"))
      .agg(graft.functions.frequent_items_agg(F.col("et"), limit = 4)
        .getField("items").as("items"))
    val qn = "fihh_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = win.writeStream.format("memory").queryName(qn).outputMode("complete").start()
    try {
      in.addData((ts(1), "a"), (ts(2), "a"), (ts(3), "b"))
      q.processAllAvailable()
      // second micro-batch adds to the SAME day window: the sketch
      // buffer in the state store must merge, not reset
      in.addData((ts(4), "b"), (ts(5), "b"), (ts(6), "c"))
      q.processAllAvailable()
      val items = spark.table(qn)
        .select(F.explode(F.col("items")).as("i"))
        .select("i.value", "i.estimate")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(items === Map("a" -> 2L, "b" -> 3L, "c" -> 1L))
    } finally q.stop()
  }

  test("toStore with segment columns streams segmented profiles, executor-side") {
    val storeDir = targetTempDir("stream-seg-store-")
    val q = ProfileStream.toStore(
      eventsStream, "ts", "1 hour", watermark = "1 hour",
      storePath = storeDir, datasetId = "events_seg",
      profiler = new Profiler(MetricConfig(),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts, Namespace.Distribution))),
      columns = Some(Seq("value")),
      segmentColumns = Seq("event_type"))
    q.awaitTermination()
    val store = new ProfileStore(spark, storeDir)
    // merged segments across every window account for every row per type
    val segs = store.readSegments("events_seg", 0L, Long.MaxValue)
    val expected = eventsBatch.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(segs.keySet == expected.keySet)
    expected.foreach { case (et, n) =>
      assert(segs(et).columns("value").counts.get.n == n, s"segment $et")
    }
  }

  test("toStore streams window profiles into the profile store") {
    val storeDir = targetTempDir("stream-store-")
    val q = ProfileStream.toStore(
      eventsStream, "ts", "1 hour", watermark = "1 hour",
      storePath = storeDir, datasetId = "events",
      profiler = new Profiler(MetricConfig(),
        ResolverSpec(byKind = _ => Seq(Namespace.Counts, Namespace.Distribution))),
      columns = Some(Seq("value")))
    q.awaitTermination()
    val store = new ProfileStore(spark, storeDir)
    val all = store.read("events", 0L, Long.MaxValue)
    assert(all.nonEmpty)
    // merged profile over all windows must account for every event row
    val merged = all.map(_._2).reduce(_ merge _)
    assert(merged.columns("value").counts.get.n == eventsBatch.count())
  }

  test("streaming ANN (ivfTopK on a stream) equals the batch path exactly") {
    import graft.pipeline.Similarity
    val emb = table("embeddings")
    val srcDir = graft.api.StandardQueries.streamableDir(s"$sfDir/embeddings.parquet")
    val stream = spark.readStream.schema(emb.schema).parquet(srcDir)
      .filter(F.col("vec_id") < 10)
    val qn = "annspec_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Similarity.ivfTopK(emb, stream, numCentroids = 4, nprobe = 4, k = 3)
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(qn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val batch = Similarity.ivfTopK(emb, emb.filter(F.col("vec_id") < 10),
        numCentroids = 4, nprobe = 4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }
}
