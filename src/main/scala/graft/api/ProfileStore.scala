package graft.api

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.sql.{functions => F}

import graft.profile.{DatasetProfileView, ProfileSerde}

/** Parquet-backed profile store — the analog of the reference's
  * ProfileStore / DateQuery (`api/store/profile_store.py:9-40`,
  * `api/store/query.py:7-26`), re-expressed as a partitioned parquet
  * table so reads prune by (dataset_id, date) at the source.
  *
  * Layout: parquet files under `path/dataset_id=<id>/date=<yyyy-MM-dd>/`, rows
  * `(dataset_ts long, profile binary)` where `profile` is a GRFT1 blob
  * (KB-scale per profile). Range queries read only matching partitions;
  * the merge of the returned profiles is driver-side monoid algebra over
  * KBs — the profiled datasets are never rescanned.
  *
  * Keyed profiles share one store-row shape ([[writeWindowed]]: timestamp,
  * segment keys, metric structs), written distributed: each row is
  * serialized on the executors, so a million-segment profile run streams
  * straight from the aggregation into the store without a driver collect
  * (SURVEY §4 partitioning note).
  */
class ProfileStore(spark: SparkSession, path: String) {

  import ProfileStore._

  private val schema = StructType(Seq(
    StructField("dataset_ts", LongType, nullable = false),
    StructField("segment", StringType, nullable = true),
    StructField("profile", BinaryType, nullable = false),
    StructField("dataset_id", StringType, nullable = false),
    StructField("date", StringType, nullable = false)))

  /** Append one profile for (datasetId, tsMs). */
  def write(view: DatasetProfileView, datasetId: String, tsMs: Long): Unit =
    writeAll(Seq(view -> tsMs), datasetId)

  /** Append a batch of profiles in one parquet job. */
  def writeAll(profiles: Seq[(DatasetProfileView, Long)], datasetId: String): Unit = {
    if (profiles.isEmpty) return
    append(profiles.map { case (view, tsMs) =>
      val stamped = view.copy(datasetTimestampMs = view.datasetTimestampMs.orElse(Some(tsMs)))
      Row(tsMs, null, ProfileSerde.toBytes(stamped), datasetId, dateOf(tsMs))
    })
  }

  /** Distributed write of a segmented profiling result: one store row per
    * segment, serialized on executors (no driver collect). `segDF` must be
    * the output of `Profiler.profileSegmentedDF` with `nSegCols` leading
    * segment-key columns; every row is stamped `tsMs`. */
  def writeSegmented(
      segDF: DataFrame, nSegCols: Int, datasetId: String, tsMs: Long,
      quantiles: Seq[Double] = graft.metrics.DistributionAgg.DefaultQuantiles): Unit =
    writeWindowed(segDF.select(F.lit(tsMs).as("__ts"), F.col("*")), nSegCols, datasetId, quantiles)

  /** Distributed write of a WINDOWED (and optionally segmented) profiling
    * result -- the streaming sink path, and the one store-row shape: `df`'s
    * FIRST column is the per-row dataset timestamp (window start, epoch
    * ms), then `nSegCols` segment-key columns, then the metric structs.
    * Serialization happens on executors, so a high-cardinality segmented
    * stream never funnels through the driver; the sink sends only
    * micro-batches above `Profiler.LocalCellBound` cells here and
    * serializes smaller ones on the driver (the `Seq[Row]` overload). */
  def writeWindowed(
      df: DataFrame, nSegCols: Int, datasetId: String,
      quantiles: Seq[Double] = graft.metrics.DistributionAgg.DefaultQuantiles): Unit = {
    import org.apache.spark.sql.Encoders
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.STRING,
      Encoders.BINARY, Encoders.STRING, Encoders.STRING)
    write(df.map(row => storeRow(row, nSegCols, datasetId, quantiles))(enc)
      .toDF("dataset_ts", "segment", "profile", "dataset_id", "date"))
  }

  /** [[writeWindowed]] for rows already on the driver (the streaming
    * sink's driver-side finish): the same store rows, serialized here. */
  private[graft] def writeWindowed(
      rows: Seq[Row], nSegCols: Int, datasetId: String, quantiles: Seq[Double]): Unit =
    append(rows.map(r => Row.fromTuple(storeRow(r, nSegCols, datasetId, quantiles))))

  /** Driver rows are KB-scale profiles: one task writes them, one file
    * per (dataset_id, date) partition. */
  private def append(rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    write(spark.createDataFrame(rows.asJava, schema).coalesce(1))
  }

  private def write(df: DataFrame): Unit =
    df.write.mode("append").partitionBy("dataset_id", "date").parquet(path)

  /** All profiles for datasetId in [fromMs, toMs], with partition pruning
    * on (dataset_id, date). */
  def read(datasetId: String, fromMs: Long, toMs: Long): Seq[(Long, DatasetProfileView)] = {
    df(datasetId, fromMs, toMs)
      .select("dataset_ts", "profile")
      .collect()
      .map(r => r.getLong(0) -> ProfileSerde.fromBytes(r.getAs[Array[Byte]]("profile")))
      .toSeq.sortBy(_._1)
  }

  /** Merged view of a date range (the reference's DateQuery.get). */
  def readMerged(datasetId: String, fromMs: Long, toMs: Long): DatasetProfileView =
    read(datasetId, fromMs, toMs)
      .map(_._2)
      .foldLeft(DatasetProfileView.empty)(_ merge _)

  /** Segmented profiles of a range: segment key → merged view. */
  def readSegments(datasetId: String, fromMs: Long, toMs: Long): Map[String, DatasetProfileView] = {
    df(datasetId, fromMs, toMs)
      .filter(F.col("segment").isNotNull)
      .select("segment", "profile")
      .collect()
      .groupBy(_.getString(0))
      .map { case (seg, rows) =>
        seg -> rows.map(r => ProfileSerde.fromBytes(r.getAs[Array[Byte]]("profile")))
          .foldLeft(DatasetProfileView.empty)(_ merge _)
      }
  }

  private def df(datasetId: String, fromMs: Long, toMs: Long): DataFrame =
    spark.read.schema(schema).parquet(path)
      .filter(F.col("dataset_id") === datasetId)
      .filter(F.col("date") >= dateOf(fromMs) && F.col("date") <= dateOf(toMs))
      .filter(F.col("dataset_ts") >= fromMs && F.col("dataset_ts") <= toMs)

  /** Compact the store: collapse every (date, segment) group of the
    * datasetId's partitions in [fromMs, toMs] into ONE merged profile
    * row, rewriting only the touched (dataset_id, date) partitions
    * (dynamic partition overwrite — other datasets and dates are never
    * read or written). A store appended per-batch grows one small file
    * per write; compaction restores O(1) rows and files per day.
    *
    * Date-granular by design: the whole date partition is rewritten, so
    * `fromMs`/`toMs` are widened to full days (a mid-day boundary would
    * silently drop the partition's out-of-range rows on overwrite).
    *
    * Distributed: profiles merge in `mapGroups` on the executors (the
    * monoid algebra readMerged uses, keyed by (date, segment)), so a
    * million-segment store compacts without a driver collect. Merged
    * rows keep the group's EARLIEST dataset_ts. Reads are
    * merge-equivalent before and after (profile merge is associative);
    * per-day readMerged results are unchanged.
    *
    * Durability caveat: the dynamic-overwrite commit (delete old
    * partition dir, move staged files in) is not atomic per partition —
    * a crash mid-commit can leave a partition with neither old nor new
    * rows. Compaction rewrites the ONLY copy, so run it when the window
    * is re-derivable (the source batches still exist) or snapshot the
    * touched partitions first; a transactional table format lifts the
    * caveat entirely. */
  def compact(datasetId: String, fromMs: Long, toMs: Long): Unit = {
    import spark.implicits._
    val id = datasetId
    val merged = spark.read.schema(schema).parquet(path)
      .filter(F.col("dataset_id") === id)
      .filter(F.col("date") >= dateOf(fromMs) && F.col("date") <= dateOf(toMs))
      .select("date", "segment", "dataset_ts", "profile")
      .as[(String, String, Long, Array[Byte])]
      .groupByKey { r: (String, String, Long, Array[Byte]) => (r._1, Option(r._2)) }
      .mapGroups { (key: (String, Option[String]),
          it: Iterator[(String, String, Long, Array[Byte])]) =>
        var ts = Long.MaxValue
        var acc = DatasetProfileView.empty
        it.foreach { r =>
          ts = math.min(ts, r._3)
          acc = acc.merge(ProfileSerde.fromBytes(r._4))
        }
        (ts, key._2.orNull,
          ProfileSerde.toBytes(acc.copy(datasetTimestampMs = Some(ts))), id, key._1)
      }
      .toDF("dataset_ts", "segment", "profile", "dataset_id", "date")
    // per-write option, NOT spark.conf.set: mutating the session-wide
    // partitionOverwriteMode would leak dynamic-overwrite semantics into
    // any concurrent write on the same SparkSession (or lose ours if a
    // concurrent thread restored the conf mid-write)
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("dataset_id", "date").parquet(path)
  }
}

object ProfileStore {

  /** Read a reference `SQLiteStore` database
    * (`api/store/sqlite_store.py:41-42`: table
    * `profile_store(id string, date datetime, profile blob)`, blob =
    * serialized `WHY1` profile) into graft profile views — the drop-in
    * migration path for a user with an existing sqlite store. Driver-side
    * by design: such a store is one small file of KB-scale blobs; rows
    * with NULL blobs are skipped like the reference's empty-get. */
  def readSqlite(path: String): Seq[(String, String, DatasetProfileView)] =
    graft.sources.Sqlite.readTable(path, "profile_store").flatMap { r =>
      r.get("profile").collect { case b: Array[Byte] =>
        (String.valueOf(r.getOrElse("id", null)),
          String.valueOf(r.getOrElse("date", null)),
          graft.profile.Why1.fromBytes(b))
      }
    }

  /** One store row `(dataset_ts, segment, profile, dataset_id, date)`
    * from an aggregated profile row: the dataset timestamp (epoch ms),
    * then `nSegCols` segment-key columns, then the metric structs. */
  private def storeRow(
      row: Row, nSegCols: Int, datasetId: String,
      quantiles: Seq[Double]): (Long, String, Array[Byte], String, String) = {
    val tsMs = row.getLong(0)
    val segKey =
      if (nSegCols == 0) null
      else (1 to nSegCols).map(i => segValue(row.get(i))).mkString(SegSep.toString)
    val view = Profiler.parseRow(row, 1 + nSegCols, quantiles)
      .copy(datasetTimestampMs = Some(tsMs))
    (tsMs, segKey, ProfileSerde.toBytes(view), datasetId, dateOf(tsMs))
  }

  /** Multi-column segment keys join on \u0001; NULL segment values encode
    * as \u0002 so they stay distinct from the literal string "null".
    * Values containing either control char are rejected rather than
    * escaped -- ambiguity here silently merges different segments. */
  private[api] final val SegSep = '\u0001'
  private[api] final val SegNull = "\u0002"
  private[api] def segValue(v: Any): String =
    if (v == null) SegNull
    else {
      val s = String.valueOf(v)
      require(s.indexOf(SegSep) < 0 && s.indexOf('\u0002') < 0,
        "segment value contains a reserved control character (\\u0001/\\u0002)")
      s
    }

  private val DateFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val MaxTs = 253402300799999L // 9999-12-31: keeps dates 4-digit,
  // so lexicographic date-range filters stay correct for open-ended reads
  def dateOf(tsMs: Long): String =
    DateFmt.format(Instant.ofEpochMilli(math.max(0L, math.min(tsMs, MaxTs))))
}
