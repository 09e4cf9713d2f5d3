package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{functions => F}

import graft.SparkSpec
import graft.pipeline.Dedup

/** Streaming dedup: the stateful keeper election must commute across
  * micro-batch boundaries, and the stream-static near-dup join must
  * emit exactly the batch operator's pairs. */
class DedupStreamSpec extends SparkSpec {

  test("exactKeepers: keeper election updates across micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val qn = "dsk_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = DedupStream.exactKeepers(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id")
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .start()
    try {
      in.addData((5L, "aaa"), (7L, "bbb"))
      q.processAllAvailable()
      val s1 = spark.table(qn).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(s1.values.toSet === Set((5L, 1L), (7L, 1L)))
      // a smaller id for "aaa" arrives later: the keeper moves, the count grows
      in.addData((2L, "aaa"), (9L, "aaa"), (8L, "ccc"))
      q.processAllAvailable()
      val s2 = spark.table(qn).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expected = Map(
        "aaa" -> (2L, 3L), "bbb" -> (7L, 1L), "ccc" -> (8L, 1L))
      assert(s2.map { case (h, v) => h.take(4) -> v }.values.toSet === expected.values.toSet)
      // and the final state equals the batch group-by on the union
      val batch = Dedup.exact(
        Seq((5L, "aaa"), (7L, "bbb"), (2L, "aaa"), (9L, "aaa"), (8L, "ccc"))
          .toDF("doc_id", "text"), "text", "doc_id")
        .select("text_hash", "dup_count").distinct().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(s2.map { case (h, (_, n)) => h -> n } === batch)
    } finally q.stop()
  }

  test("exactKeepersToStore: upsert sink converges to batch keepers across boundaries") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val rows = Seq(
      (5L, "aaa"), (7L, "bbb"),               // batch 1
      (2L, "aaa"), (9L, "aaa"), (8L, "ccc"))  // batch 2: smaller "aaa" id
    def runWith(batches: Seq[Seq[(Long, String)]]): Map[String, (Long, Long)] = {
      val path = targetTempDir("keeper_store")
      val in = MemoryStream[(Long, String)]
      val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
      val q = DedupStream.exactKeepersToStore(
        in.toDF().toDF("doc_id", "text"), "text", "doc_id", path,
        numBuckets = 4, trigger = Trigger.ProcessingTime(0))
      try batches.foreach { b => in.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      // every micro-batch freed the checkpoint it wrote from
      assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- pinnedBefore).isEmpty)
      val out = spark.read.parquet(s"$path/state")
      // the bucket partition column rides along; verdict columns only
      out.select("text_hash", "keeper_id", "dup_count").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    }
    val twoBatches = runWith(Seq(rows.take(2), rows.drop(2)))
    val oneBatch = runWith(Seq(rows))
    val perRow = runWith(rows.map(Seq(_)))
    // batch-boundary independence: same keepers however the stream batched
    assert(twoBatches === oneBatch)
    assert(perRow === oneBatch)
    // and the state equals the batch groupBy over the union — including
    // the keeper moving to the LATER-arriving smaller id
    val expected = Dedup.exact(rows.toDF("doc_id", "text"), "text", "doc_id")
      .groupBy("text_hash").agg(
        F.min(F.when(F.col("keep"), F.col("doc_id"))).as("keeper_id"),
        F.first("dup_count").as("dup_count"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(oneBatch === expected)
    assert(oneBatch.values.map(_._1).toSet.contains(2L), "keeper must move to id 2")
  }

  test("upsertKeepers rewrites only touched buckets and replaces by hash") {
    import spark.implicits._
    val path = targetTempDir("keeper_upsert") + "/state"
    def df(rows: (String, Long, Long)*) =
      rows.toDF("text_hash", "keeper_id", "dup_count")
    DedupStream.upsertKeepers(df(("h1", 5L, 1L), ("h2", 7L, 2L)), path, 4)
    val before = spark.read.parquet(path)
      .select("text_hash", "bucket").collect()
      .map(r => r.getString(0) -> String.valueOf(r.get(1))).toMap
    // an update touching ONLY h1's bucket: h2's row must survive verbatim,
    // h1's must be replaced (not duplicated)
    DedupStream.upsertKeepers(df(("h1", 2L, 3L)), path, 4)
    val after = spark.read.parquet(path)
      .select("text_hash", "keeper_id", "dup_count").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(after === Map("h1" -> (2L, 3L), "h2" -> (7L, 2L)))
    // a fresh hash in a previously untouched bucket appends cleanly
    DedupStream.upsertKeepers(df(("h3", 1L, 1L)), path, 4)
    assert(spark.read.parquet(path).count() === 3L)
    assert(before.keySet === Set("h1", "h2"))
  }

  test("carried-state read touches ONLY the batch's buckets, and corrupt state fails the batch") {
    import spark.implicits._
    val path = targetTempDir("keeper_prune") + "/state"
    def df(rows: (String, Long, Long)*) =
      rows.toDF("text_hash", "keeper_id", "dup_count")
    // pick two hashes that land in DIFFERENT buckets (bucket is
    // pmod(xxhash64(hash), 4) — derive it with the same expression)
    val buckets = (1 to 50).map(i => s"h$i").toDF("text_hash")
      .withColumn("bucket", F.pmod(F.xxhash64(F.col("text_hash")), F.lit(4L)))
      .collect().map(r => r.getString(0) -> r.getLong(1))
    val (hA, bA) = buckets.head
    val (hB, bB) = buckets.find(_._2 != bA).get
    DedupStream.upsertKeepers(df((hA, 1L, 1L), (hB, 2L, 1L)), path, 4)
    // poison the UNTOUCHED bucket's directory with a non-parquet file:
    // any read of that directory throws, so a successful upsert that
    // touches only hA's bucket PROVES the carried-state read opened
    // only the touched bucket dirs (explicit paths — not planner
    // pruning that could silently degrade to a full scan)
    val junk = java.nio.file.Paths.get(path, s"bucket=$bB", "junk.parquet")
    java.nio.file.Files.write(junk, "not a parquet file".getBytes)
    DedupStream.upsertKeepers(df((hA, 0L, 2L)), path, 4)
    // a batch that DOES touch the poisoned bucket must fail the
    // micro-batch (checkpoint retry) — unreadable state is an error,
    // never "no state yet": the old catch-all here turned a transient
    // read failure into a lossy overwrite of every carried hash
    intercept[Exception] {
      DedupStream.upsertKeepers(df((hB, 0L, 9L)), path, 4)
    }
    java.nio.file.Files.delete(junk)
    val out = spark.read.parquet(path)
      .select("text_hash", "keeper_id", "dup_count").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // hA replaced by its second upsert; hB untouched by the failed batch
    assert(out === Map(hA -> (0L, 2L), hB -> (2L, 1L)))
  }

  test("streamed near-dup pairs equal the batch nearDupsAgainstIndex") {
    val docs = table("documents")
    val index = Dedup.minHashIndex(
      docs.filter(F.col("source") =!= "src1"), "text", "doc_id")
    val batchPairs = Dedup.nearDupsAgainstIndex(
        docs.filter(F.col("source") === "src1"), index, "text", "doc_id",
        numPerm = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val sdf = spark.readStream.schema(docs.schema)
      .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/documents.parquet"))
      .filter(F.col("source") === "src1")
    val qn = "dsn_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = DedupStream.nearDupsAgainstIndex(
        sdf, index, "text", "doc_id", numPerm = 64, bands = 32, threshold = 0.5)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val streamed = spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(streamed === batchPairs)
      assert(streamed.nonEmpty) // the fixture must actually exercise the path
    } finally q.stop()
  }

  test("bloom probe runs STATELESS on a stream and matches the batch verdicts") {
    val docs = table("documents")
    val key = F.md5(F.col("text"))
    val pos = Dedup.bloomPositionsXx(key, 4, 65536)
    val bloom = Dedup.bloomBuild(docs.filter(F.col("doc_id") % 2 === 0), pos, 65536)
    val batch = Dedup.bloomProbe(docs.select(F.col("doc_id"), key.as("ck")),
        Dedup.bloomPositionsXx(F.col("ck"), 4, 65536), bloom)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // the stream side is a stream-static broadcast of the one-row bitset:
    // no watermark, no state store — arriving docs filter map-only
    val sdf = spark.readStream.schema(docs.schema)
      .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/documents.parquet"))
      .select(F.col("doc_id"), F.md5(F.col("text")).as("ck"))
    val qn = "dsb_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = Dedup.bloomProbe(sdf, Dedup.bloomPositionsXx(F.col("ck"), 4, 65536), bloom)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val streamed = spark.table(qn).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed === batch)
      assert(streamed.values.exists(identity) && streamed.values.exists(!_),
        "fixture must exercise both verdicts")
    } finally q.stop()
  }

  test("sharded bloom probe runs STATELESS on a stream (stream-static shuffle join)") {
    val docs = table("documents")
    val key = F.md5(F.col("text"))
    val shard = Dedup.bloomShardMd5(key, 4)
    val pos = Dedup.bloomPositionsXx(key, 4, 65536)
    val bloom = Dedup.bloomBuildSharded(
      docs.filter(F.col("doc_id") % 2 === 0), shard, pos, 65536)
    def probeShape(df: org.apache.spark.sql.DataFrame) =
      Dedup.bloomProbeSharded(df.select(F.col("doc_id"), key.as("ck")),
        Dedup.bloomShardMd5(F.col("ck"), 4),
        Dedup.bloomPositionsXx(F.col("ck"), 4, 65536), bloom)
    val batch = probeShape(docs).collect()
      .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val sdf = spark.readStream.schema(docs.schema)
      .parquet(graft.api.StandardQueries.streamableDir(s"$sfDir/documents.parquet"))
    val qn = "dss_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = probeShape(sdf)
      .writeStream.format("memory").queryName(qn).outputMode("append")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val streamed = spark.table(qn).collect()
        .map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(streamed === batch)
      assert(streamed.values.exists(identity) && streamed.values.exists(!_))
    } finally q.stop()
  }

  test("streamableDir streams every row of a DIRECTORY-shaped (multi-split) table") {
    import spark.implicits._
    // regression pin: the file source does not descend into a symlinked
    // subdirectory — before the directory passthrough, a multi-split
    // table streamed as ZERO rows (single-file fixtures masked it)
    val dir = targetTempDir("dedup_dir_src") + "/docs.parquet"
    (1L to 100L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
      .repartition(8).write.mode("overwrite").parquet(dir)
    val sdf = spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .parquet(graft.api.StandardQueries.streamableDir(dir))
    val qn = "dsd_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = DedupStream.exactKeepers(sdf, "text", "doc_id")
      .writeStream.format("memory").queryName(qn).outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      assert(spark.table(qn).count() === 100L)
    } finally q.stop()
  }
}
