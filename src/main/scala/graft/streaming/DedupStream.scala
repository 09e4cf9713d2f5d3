package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{Checkpoint, Owner}
import graft.pipeline.Dedup

/** Streaming deduplication: the ingestion-time face of
  * [[graft.pipeline.Dedup]]. Exact dedup becomes a stateful keeper
  * election over content hashes; near-dup flagging joins the arriving
  * micro-batch against a STATIC corpus index built once in batch
  * ([[Dedup.minHashIndex]]) — either per-batch inside `foreachBatch`
  * ([[flagAgainstIndex]], parquet audit sink) or as a plain
  * stream-static plan ([[nearDupsAgainstIndex]], any streaming sink).
  *
  * (Reference analog: whylogs' rolling loggers profile arriving data
  * incrementally — python/whylogs/api/logger/rolling.py — but the
  * reference has no streaming dedup; this extends the same
  * arriving-batch model to the training-data dedup operators.)
  */
object DedupStream {

  /** Streaming exact dedup: a running keeper election per content hash —
    * `(text_hash, keeper_id = min id seen, dup_count = copies seen)`.
    *
    * A streaming groupBy-aggregate: state is one (hash, min, count) row
    * per DISTINCT document ever seen — the canonical streaming-dedup
    * state, sharded by the state store on the hash. Use `update` output
    * with a foreachBatch upsert into a store at scale —
    * [[exactKeepersToStore]] is that sink (`complete` is for bounded
    * sinks like the test harness's memory table). min(id) as the
    * keeper makes re-runs deterministic regardless of batch boundaries —
    * the election commutes, so replaying the stream in any batching
    * yields the same keepers. */
  def exactKeepers(stream: DataFrame, textCol: String, idCol: String): DataFrame =
    stream
      .withColumn("text_hash", F.md5(F.col(textCol)))
      .groupBy("text_hash")
      .agg(F.min(F.col(idCol)).as("keeper_id"), F.count(F.lit(1)).as("dup_count"))

  /** The production sink for [[exactKeepers]]: `update`-mode output +
    * a foreachBatch upsert into a bucket-partitioned parquet state
    * table at `path/state` (checkpoint at `path/_checkpoint`). Each
    * micro-batch emits only the hashes it CHANGED, each row carrying
    * the full recomputed (keeper_id, dup_count) from the state store —
    * so the upsert is a pure replace-by-hash, and the table converges
    * to the same keepers whatever the batch boundaries were (the
    * min-id election commutes).
    *
    * Scale shape: rows partition by `bucket = xxhash64(text_hash) mod
    * numBuckets`; an upsert rewrites ONLY the buckets its batch
    * touched (dynamic partition overwrite, per-write option), merging
    * the batch's rows with the touched buckets' untouched hashes via
    * one semi + one anti join — per-batch cost is O(touched buckets),
    * never O(table). Size `numBuckets` so one bucket ≈ one comfortable
    * task. Same non-atomic-commit caveat as any dynamic overwrite of
    * the only copy: retries are idempotent (replays rewrite the same
    * buckets with the same rows), but a mid-commit crash should be
    * restored from the checkpoint by re-running the batch — or use a
    * transactional table format. */
  def exactKeepersToStore(
      stream: DataFrame, textCol: String, idCol: String, path: String,
      numBuckets: Int = 64,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    exactKeepers(stream, textCol, idCol)
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", s"$path/_checkpoint")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertKeepers(batch, s"$path/state", numBuckets)
      }
      .start()
  }

  /** Replace-by-hash upsert of one update-mode batch into the bucketed
    * parquet state table (see [[exactKeepersToStore]]).
    *
    * The carried-state read lists and reads ONLY the touched buckets'
    * directories — an explicit path list, not a partition filter the
    * planner must prune — so the O(touched buckets) per-batch cost
    * holds by construction, with no dependence on dynamic partition
    * pruning firing. The touched-bucket set is collected on the driver
    * but is bounded by `numBuckets`, never by data volume. Any
    * filesystem error while probing or reading state propagates and
    * fails the micro-batch (retried from the checkpoint) — a transient
    * read failure must never be mistaken for "no state yet", or the
    * dynamic overwrite would silently drop every carried hash in the
    * touched buckets. */
  private[streaming] def upsertKeepers(
      batch: DataFrame, statePath: String, numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val bucketed = batch.withColumn("bucket",
      F.pmod(F.xxhash64(F.col("text_hash")), F.lit(numBuckets.toLong)))
    val touched = touchedBuckets(bucketed)
    val touchedDirs = existingBucketDirs(spark, touched, statePath)
    val merged =
      if (touchedDirs.isEmpty) bucketed
      else {
        val existing = spark.read
          .option("basePath", statePath)
          .parquet(touchedDirs: _*)
        // the touched buckets' untouched hashes, minus the hashes this
        // batch re-emitted (those rows carry the fresher state values)
        val carried = existing
          .join(bucketed.select("text_hash"), Seq("text_hash"), "left_anti")
          .select(bucketed.columns.map(F.col): _*)
        bucketed.unionByName(carried)
      }
    // Bound the store exchange to the batch's ACTUAL bucket count: the
    // update-mode batch arrives at the session's shuffle partitioning
    // (= core count), so writing it as-is pays a cores-wide exchange
    // over what is usually a small batch and emits up to
    // partitions × touched-buckets files per micro-batch (r20 driver
    // evidence: 2.85 s @32c vs 1.29 s @8c — pure exchange/small-file
    // overhead, guide §2.2/§6). Hash-repartitioning on `bucket` into
    // exactly |touched| partitions writes at most one file per bucket
    // and scales with the DATA (buckets touched), never the session
    // width. Hash collisions may fold two buckets into one task —
    // bounded skew of 2-3 buckets/task, still O(touched).
    val sized = merged.repartition(math.max(touched.size, 1), F.col("bucket"))
    // materialize before writing: the plan reads the same directory the
    // write overwrites, so break the lineage first; freed once written
    Owner.using(_.own(sized.localCheckpoint(true))(Checkpoint.release)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(statePath))
  }

  /** The bucket ids this batch touches — collected on the driver but
    * bounded by `numBuckets`, never by data volume. */
  private[streaming] def touchedBuckets(bucketed: DataFrame): Seq[Long] =
    bucketed.select("bucket").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq

  /** The state directories of `touched` buckets that already exist on
    * disk (first batch: none). `exists` on a bucket directory
    * distinguishes genuinely-absent (false) from a failing filesystem
    * (throws) — a transient error fails the batch rather than reading
    * partial state. */
  private[streaming] def existingBucketDirs(
      spark: org.apache.spark.sql.SparkSession, touched: Seq[Long],
      statePath: String): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(statePath)
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    touched
      .map(b => new org.apache.hadoop.fs.Path(base, s"bucket=$b"))
      .filter(fs.exists(_))
      .map(_.toString)
  }

  /** Streaming near-dup against a static [[Dedup.minHashIndex]] as ONE
    * declarative streaming plan: each arriving document is
    * shingled/banded map-side, band-joined against the index
    * (stream-static joins are STATELESS — no watermark, no join state),
    * and every surviving candidate is verified with the exact
    * shingle-set Jaccard. Emits `(a = stream doc, b = index doc,
    * jaccard >= threshold)` in append mode to any sink — use
    * [[flagAgainstIndex]] instead when you want the per-batch audit
    * parquet layout.
    *
    * Scale shape mirrors the batch [[Dedup.nearDupsAgainstIndex]] with
    * one deliberate difference: the arriving doc's shingle-id array
    * rides its own band rows (`bands` copies) instead of being
    * re-fetched, because a second join back to the stream would be a
    * stream-stream join (stateful, watermark-bound). The stream side is
    * an ingestion micro-batch — bands × |batch| array copies — while the
    * corpus-scale side stays lean: only (doc_id, band, hash) enters the
    * band join, index arrays are re-fetched by the static candidate
    * join, and `maxBucketSize` thins boilerplate mega-buckets
    * ([[Dedup.capBuckets]]).
    *
    * The trailing `dropDuplicates` collapses multi-band hits of the same
    * pair. Docs arrive in exactly one micro-batch, so its state only
    * ever holds pairs of that batch's docs; with re-delivery (at-least-
    * once sources) bound it with `withWatermark` +
    * `dropDuplicatesWithinWatermark` upstream. `numPerm`/`bands` must
    * match the index's. */
  def nearDupsAgainstIndex(
      stream: DataFrame, index: DataFrame, textCol: String, idCol: String,
      numPerm: Int = 64, bands: Int = 32, threshold: Double = 0.5,
      maxBucketSize: Int = 1000): DataFrame = {
    val sig = stream.select(F.col(idCol).as("a"),
        Dedup.shingleIds(F.col(textCol)).as("ia"))
      .withColumn("bhs", Dedup.bandHashes(F.col("ia"), numPerm, bands))
    val sBand = sig.select(F.col("a"), F.col("ia"),
      F.posexplode(F.col("bhs")).as(Seq("band", "bh")))
    val iBand = Dedup.capBuckets(
      index.select(F.col("doc_id").as("b"),
        F.posexplode(F.col("bhs")).as(Seq("band", "bh"))),
      Seq("band", "bh"), "b", maxBucketSize)
    sBand.join(iBand, Seq("band", "bh"))
      .join(index.select(F.col("doc_id").as("b"), F.col("ids").as("ib")), Seq("b"))
      .withColumn("jaccard", Dedup.jaccard(F.col("ia"), F.col("ib")))
      .filter(F.col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .dropDuplicates("a", "b")
  }

  /** Per-batch near-dup flagging inside `foreachBatch`: runs the BATCH
    * candidate-join + exact-Jaccard verification
    * ([[Dedup.nearDupsAgainstIndex]]) on each arriving micro-batch — a
    * stream-STATIC join per batch, no streaming state, no watermark:
    * dedup-against-index is per-document, so batch boundaries cannot
    * change results. Output appends one parquet row per flagged
    * (doc, index-doc) pair with the batch id for audit. Sink is
    * at-least-once on retries (idempotent readers dedupe on
    * (a, b, batch_id)); the flag decision itself is deterministic. */
  def flagAgainstIndex(
      stream: DataFrame,
      index: DataFrame,
      textCol: String,
      idCol: String,
      outPath: String,
      numPerm: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5,
      maxBucketSize: Int = 1000,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Owner.scope(Dedup.nearDupsAgainstIndex(
            batch, index, textCol, idCol, numPerm, bands, threshold, maxBucketSize)
          .withColumn("batch_id", F.lit(batchId))
          .write.mode("append").parquet(outPath))
      }
      .start()
}
